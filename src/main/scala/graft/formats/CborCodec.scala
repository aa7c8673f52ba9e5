package graft.formats

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** CBOR codec (reference: src/value/cbor.rs; format per RFC 8949).
  * Back-to-back item framing with clean EOF stop (cbor.rs:37-51).
  * Decode handles all major types incl. f16, indefinite lengths, and
  * tags (tag skipped, inner value kept — serde_cbor behavior); encode
  * writes canonical minimal-length arguments.
  */
object CborCodec {

  // ---- encode ----

  def encode(v: Value): Array[Byte] = {
    val out = ByteOut()
    write(v, out)
    out.toByteArray
  }

  def encodeStream(vs: Iterable[Value]): Array[Byte] = {
    val out = ByteOut()
    vs.foreach(write(_, out))
    out.toByteArray
  }

  /** Append one encoded item to `out` (incremental sink). */
  def encodeTo(v: Value, out: ByteOut): Unit = write(v, out)

  private def head(major: Int, arg: Long, out: ByteOut): Unit = {
    val m = major << 5
    if (arg < 24) out.write(m | arg.toInt)
    else if (arg < 256) { out.write(m | 24); out.write(arg.toInt) }
    else if (arg < 65536) { out.write(m | 25); out.writeShort(arg.toInt) }
    else if (arg < 4294967296L) { out.write(m | 26); out.writeInt(arg.toInt) }
    else { out.write(m | 27); out.writeLong(arg) }
  }

  private def write(v: Value, out: ByteOut): Unit = v match {
    case Value.Unit => out.write(0xf6)
    case Value.Bool(b) => out.write(if (b) 0xf5 else 0xf4)
    case Value.I64(n) =>
      if (n >= 0) head(0, n, out) else head(1, -1 - n, out)
    case Value.U64(bits) =>
      if (bits >= 0) head(0, bits, out)
      else { out.write(0x1b); out.writeLong(bits) } // full u64 arg
    case Value.F64(d) => out.write(0xfb); out.writeDouble(d)
    // tagged scalars (typed mode): integers re-encode minimal-width
    // (serde_cbor's Serializer::serialize_i*/u* all re-minimalize),
    // so minimal-wire round-trips stay byte-identical. F32 keeps its
    // 0xfa marker (serde_cbor writes f32 as f32) — the width the
    // DEFAULT mode widens to 0xfb.
    case Value.I8(x) => write(Value.I64(x.toLong), out)
    case Value.I16(x) => write(Value.I64(x.toLong), out)
    case Value.I32(x) => write(Value.I64(x.toLong), out)
    case Value.U8(x) => head(0, x.toLong, out)
    case Value.U16(x) => head(0, x.toLong, out)
    case Value.U32(x) => head(0, x, out)
    case Value.F32(f) => out.write(0xfa); out.writeFloat(f)
    case Value.Chr(c) => write(Value.Str(c.toString), out) // serde char
    case Value.Str(s) =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      head(3, b.length, out); out.write(b)
    case Value.Bytes(b) => head(2, b.length, out); out.write(b)
    case Value.Seq(vs) => head(4, vs.length, out); vs.foreach(write(_, out))
    case Value.Map(kvs) =>
      head(5, kvs.length, out)
      kvs.foreach { case (k, e) => write(k, out); write(e, out) }
  }

  // ---- decode ----

  /** `typed = true` tags scalars the way serde_cbor hands them to the
    * reference's ValueVisitor: unsigned by WIRE width (inline/1-byte
    * arg → U8 … 8-byte arg → U64), negatives by WIRE width widened one
    * signed step (serde_cbor 0.11.2 de.rs computes -1-n at the next
    * signed width: inline → visit_i8, 1-byte arg → visit_i16, 2-byte →
    * visit_i32, 4/8-byte → visit_i64), f16/f32 → F32 (serde_cbor
    * converts half to f32), f64 → F64. Default false: the proven
    * minimal-width collapse, unchanged.
    */
  def decode(buf: ByteBuffer, typed: Boolean = false): Value =
    decode(ByteIn(buf), typed)

  private[formats] def decode(in: ByteIn, typed: Boolean): Value = {
    val ib = in.u8()
    val major = ib >> 5
    val info = ib & 0x1f
    major match {
      case 0 =>
        val n = arg(in, info)
        if (!typed) { if (n >= 0) Value.I64(n) else Value.U64(n) }
        else if (info <= 24) Value.U8(n.toInt) // inline or 1-byte arg
        else if (info == 25) Value.U16(n.toInt)
        else if (info == 26) Value.U32(n)
        else Value.U64(n)
      case 1 =>
        val n = arg(in, info)
        if (n >= 0) {
          val v = -1 - n
          if (!typed) Value.I64(v)
          // wire width + one signed step, NOT value-minimal: serde_cbor
          // widens because -1-n at u8 width can reach -256 (> i8), so
          // 38 18 (-25) arrives as I16 even though it fits i8
          else if (info < 24) Value.I8(v.toByte)
          else if (info == 24) Value.I16(v.toShort)
          else if (info == 25) Value.I32(v.toInt)
          else Value.I64(v)
        }
        else throw new IllegalArgumentException("cbor: negint overflow")
      case 2 =>
        if (info == 31) indefBytes(in)
        else Value.Bytes(in.bytes(len(in, info)))
      case 3 =>
        if (info == 31) indefText(in)
        else Value.Str(in.utf8(len(in, info)))
      case 4 =>
        if (info == 31) {
          var items = Vector.empty[Value]
          while (in.peek() != 0xff) items :+= decode(in, typed)
          in.u8() // break
          Value.Seq(items)
        } else Value.Seq(Vector.fill(len(in, info))(decode(in, typed)))
      case 5 =>
        if (info == 31) {
          var items = Vector.empty[(Value, Value)]
          while (in.peek() != 0xff)
            items :+= ((decode(in, typed), decode(in, typed)))
          in.u8()
          Value.Map(items)
        } else Value.Map(Vector.fill(len(in, info))(
          (decode(in, typed), decode(in, typed))))
      case 6 => // tag: skip, keep inner (serde_cbor drops unknown tags)
        arg(in, info)
        decode(in, typed)
      case 7 =>
        info match {
          case 20 => Value.Bool(false)
          case 21 => Value.Bool(true)
          case 22 => Value.Unit
          case 23 => Value.Unit // undefined → Unit (serde none/unit)
          case 25 =>
            val d = halfToDouble(in.s16() & 0xffff)
            if (typed) Value.F32(d.toFloat) else Value.F64(d)
          case 26 =>
            val f = in.f32()
            if (typed) Value.F32(f) else Value.F64(f.toDouble)
          case 27 => Value.F64(in.f64())
          case n if n < 20 => Value.I64(n.toLong) // simple values
          case 24 => Value.I64(in.u8().toLong)
          case other =>
            throw new IllegalArgumentException(s"cbor: bad simple $other")
        }
    }
  }

  def decodeStream(bytes: Array[Byte], typed: Boolean = false): Vector[Value] =
    decodeIterator(ByteIn(bytes), typed).toVector

  /** Incremental decode from an open stream: one item in flight,
    * constant memory regardless of input size (cbor.rs:18-25).
    */
  def decodeIterator(in: java.io.InputStream,
      typed: Boolean = false): Iterator[Value] =
    decodeIterator(ByteIn(in), typed)

  private def decodeIterator(bi: ByteIn, typed: Boolean): Iterator[Value] =
    new Iterator[Value] {
      def hasNext: Boolean = !bi.atEnd()
      def next(): Value = decode(bi, typed)
    }

  private def arg(in: ByteIn, info: Int): Long = info match {
    case n if n < 24 => n.toLong
    case 24 => in.u8() & 0xffL
    case 25 => in.s16() & 0xffffL
    case 26 => in.i32() & 0xffffffffL
    case 27 => in.i64()
    case other =>
      throw new IllegalArgumentException(s"cbor: bad additional info $other")
  }

  /** A definite length or count: the header argument may claim up to
    * 2⁶⁴−1, so narrow it checked instead of wrapping with `.toInt`.
    */
  private def len(in: ByteIn, info: Int): Int = {
    val n = arg(in, info)
    if (n < 0 || n > Int.MaxValue) throw new IllegalArgumentException(
      s"cbor: length ${java.lang.Long.toUnsignedString(n)} exceeds " +
        Int.MaxValue)
    n.toInt
  }

  private def indefBytes(in: ByteIn): Value = {
    val bos = ByteOut()
    while (in.peek() != 0xff) {
      decode(in, typed = false) match {
        case Value.Bytes(b) => bos.write(b)
        case _ => throw new IllegalArgumentException("cbor: bad indef bytes")
      }
    }
    in.u8()
    Value.Bytes(bos.toByteArray)
  }

  private def indefText(in: ByteIn): Value = {
    val sb = new StringBuilder
    while (in.peek() != 0xff) {
      decode(in, typed = false) match {
        case Value.Str(s) => sb.append(s)
        case _ => throw new IllegalArgumentException("cbor: bad indef text")
      }
    }
    in.u8()
    Value.Str(sb.toString)
  }

  private def halfToDouble(h: Int): Double = {
    val exp = (h >> 10) & 0x1f
    val mant = h & 0x3ff
    val sign = if ((h & 0x8000) != 0) -1.0 else 1.0
    val v =
      if (exp == 0) mant * math.pow(2, -24)
      else if (exp != 31) (mant + 1024) * math.pow(2, exp - 25)
      else if (mant == 0) Double.PositiveInfinity
      else Double.NaN
    sign * v
  }
}
