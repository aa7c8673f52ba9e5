package graft.formats

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** MessagePack codec (reference: src/value/messagepack.rs; format per
  * the public msgpack spec). Semantics mirrored:
  *  - decode prefers the unsigned reading and widens to I64/U64
  *    (messagepack.rs:68-70; graft canonicalizes non-negative to I64,
  *    U64 only above Long.MaxValue — print-identical to the reference);
  *  - Ext and Binary both decode to Bytes, ext type tag dropped
  *    (messagepack.rs:82);
  *  - encode writes minimal-width markers (rmp behavior).
  * Stream framing: back-to-back values, EOF-classified stop
  * (messagepack.rs:35-51).
  */
object MsgPackCodec {

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

  /** Append one encoded value to `out` (incremental sink). */
  def encodeTo(v: Value, out: ByteOut): Unit = write(v, out)

  private def write(v: Value, out: ByteOut): Unit = v match {
    case Value.Unit => out.write(0xc0)
    case Value.Bool(b) => out.write(if (b) 0xc3 else 0xc2)
    case Value.I64(n) =>
      if (n >= 0) writeUnsigned(n, out)
      else if (n >= -32) out.write((n & 0xff).toInt)
      else if (n >= Byte.MinValue) { out.write(0xd0); out.write(n.toInt) }
      else if (n >= Short.MinValue) { out.write(0xd1); out.writeShort(n.toInt) }
      else if (n >= Int.MinValue) { out.write(0xd2); out.writeInt(n.toInt) }
      else { out.write(0xd3); out.writeLong(n) }
    case Value.U64(bits) =>
      if (bits >= 0) writeUnsigned(bits, out) // fits in signed range
      else { out.write(0xcf); out.writeLong(bits) }
    case Value.F64(d) => out.write(0xcb); out.writeDouble(d)
    // tagged scalars (typed mode): integers re-encode minimal-width
    // exactly like rmp's write_sint/write_uint does for the
    // reference's I8..U32 (rmp re-minimalizes; messagepack.rs:96-128),
    // so minimal-wire round-trips stay byte-identical. F32 keeps its
    // 0xca marker — the one width the DEFAULT mode cannot reproduce
    // (it widens to F64 and re-emits 0xcb).
    case Value.I8(x) => write(Value.I64(x.toLong), out)
    case Value.I16(x) => write(Value.I64(x.toLong), out)
    case Value.I32(x) => write(Value.I64(x.toLong), out)
    case Value.U8(x) => writeUnsigned(x.toLong, out)
    case Value.U16(x) => writeUnsigned(x.toLong, out)
    case Value.U32(x) => writeUnsigned(x, out)
    case Value.F32(f) => out.write(0xca); out.writeFloat(f)
    case Value.Chr(c) => write(Value.Str(c.toString), out) // serde char
    case Value.Str(s) =>
      val b = s.getBytes(StandardCharsets.UTF_8)
      if (b.length < 32) out.write(0xa0 | b.length)
      else if (b.length < 256) { out.write(0xd9); out.write(b.length) }
      else if (b.length < 65536) { out.write(0xda); out.writeShort(b.length) }
      else { out.write(0xdb); out.writeInt(b.length) }
      out.write(b)
    case Value.Bytes(b) =>
      if (b.length < 256) { out.write(0xc4); out.write(b.length) }
      else if (b.length < 65536) { out.write(0xc5); out.writeShort(b.length) }
      else { out.write(0xc6); out.writeInt(b.length) }
      out.write(b)
    case Value.Seq(vs) =>
      if (vs.length < 16) out.write(0x90 | vs.length)
      else if (vs.length < 65536) { out.write(0xdc); out.writeShort(vs.length) }
      else { out.write(0xdd); out.writeInt(vs.length) }
      vs.foreach(write(_, out))
    case Value.Map(kvs) =>
      if (kvs.length < 16) out.write(0x80 | kvs.length)
      else if (kvs.length < 65536) { out.write(0xde); out.writeShort(kvs.length) }
      else { out.write(0xdf); out.writeInt(kvs.length) }
      kvs.foreach { case (k, e) => write(k, out); write(e, out) }
  }

  private def writeUnsigned(n: Long, out: ByteOut): Unit = {
    if (n < 128) out.write(n.toInt)
    else if (n < 256) { out.write(0xcc); out.write(n.toInt) }
    else if (n < 65536) { out.write(0xcd); out.writeShort(n.toInt) }
    else if (n < 4294967296L) { out.write(0xce); out.writeInt(n.toInt) }
    else { out.write(0xcf); out.writeLong(n) }
  }

  // ---- decode ----

  /** Decode one value from buf; ByteBuffer position advances.
    * `typed = true` tags scalars by the WIRE width seen — the same
    * tag rmp's deserializer hands the reference's ValueVisitor
    * (fixpos→U8 via visit_u8, 0xd1→I16 via visit_i16, 0xca→F32, …;
    * mod.rs:185-372). Default false: the proven minimal-width
    * collapse, byte-for-byte unchanged.
    */
  def decode(buf: ByteBuffer, typed: Boolean = false): Value =
    decode(ByteIn(buf), typed)

  private[formats] def decode(in: ByteIn, typed: Boolean): Value = {
    val m = in.u8()
    m match {
      case 0xc0 => Value.Unit
      case 0xc2 => Value.Bool(false)
      case 0xc3 => Value.Bool(true)
      case b if b < 0x80 => // positive fixint → visit_u8
        if (typed) Value.U8(b) else Value.I64(b)
      case b if b >= 0xe0 => // negative fixint → visit_i8
        if (typed) Value.I8((b - 256).toByte) else Value.I64((b - 256).toLong)
      case 0xcc =>
        val n = in.u8() & 0xff
        if (typed) Value.U8(n) else Value.I64(n.toLong)
      case 0xcd =>
        val n = in.s16() & 0xffff
        if (typed) Value.U16(n) else Value.I64(n.toLong)
      case 0xce =>
        val n = in.i32() & 0xffffffffL
        if (typed) Value.U32(n) else Value.I64(n)
      case 0xcf =>
        val bits = in.i64()
        if (typed) Value.U64(bits)
        else if (bits >= 0) Value.I64(bits)
        else Value.U64(bits)
      case 0xd0 =>
        val n = in.s8()
        if (typed) Value.I8(n) else Value.I64(n.toLong)
      case 0xd1 =>
        val n = in.s16()
        if (typed) Value.I16(n) else Value.I64(n.toLong)
      case 0xd2 =>
        val n = in.i32()
        if (typed) Value.I32(n) else Value.I64(n.toLong)
      case 0xd3 => Value.I64(in.i64())
      case 0xca =>
        val f = in.f32()
        if (typed) Value.F32(f) else Value.F64(f.toDouble)
      case 0xcb => Value.F64(in.f64())
      case b if b >= 0xa0 && b < 0xc0 => str(in, b & 0x1f)
      case 0xd9 => str(in, in.u8())
      case 0xda => str(in, in.s16() & 0xffff)
      case 0xdb => str(in, len32(in))
      case 0xc4 => bin(in, in.u8())
      case 0xc5 => bin(in, in.s16() & 0xffff)
      case 0xc6 => bin(in, len32(in))
      case b if b >= 0x90 && b < 0xa0 => arr(in, b & 0x0f, typed)
      case 0xdc => arr(in, in.s16() & 0xffff, typed)
      case 0xdd => arr(in, len32(in), typed)
      case b if b >= 0x80 && b < 0x90 => map(in, b & 0x0f, typed)
      case 0xde => map(in, in.s16() & 0xffff, typed)
      case 0xdf => map(in, len32(in), typed)
      // ext → Bytes, type tag dropped (messagepack.rs:82)
      case 0xd4 => extBytes(in, 1)
      case 0xd5 => extBytes(in, 2)
      case 0xd6 => extBytes(in, 4)
      case 0xd7 => extBytes(in, 8)
      case 0xd8 => extBytes(in, 16)
      case 0xc7 => extBytes(in, in.u8())
      case 0xc8 => extBytes(in, in.s16() & 0xffff)
      case 0xc9 => extBytes(in, len32(in))
      case other =>
        throw new IllegalArgumentException(
          f"msgpack: invalid marker 0x$other%02x")
    }
  }

  /** Back-to-back value stream; stops cleanly at end of buffer
    * (reference EOF classification, messagepack.rs:45-47).
    */
  def decodeStream(bytes: Array[Byte], typed: Boolean = false): Vector[Value] =
    decodeIterator(ByteIn(ByteBuffer.wrap(bytes)), typed).toVector

  /** Incremental decode from an open stream: one record in flight,
    * constant memory regardless of input size (messagepack.rs:40-51).
    */
  def decodeIterator(in: java.io.InputStream,
      typed: Boolean = false): Iterator[Value] =
    decodeIterator(ByteIn(in), typed)

  private def decodeIterator(bi: ByteIn, typed: Boolean): Iterator[Value] =
    new Iterator[Value] {
      def hasNext: Boolean = !bi.atEnd()
      def next(): Value = decode(bi, typed)
    }

  /** A 32-bit length or count header, which msgpack defines as
    * unsigned: one no JVM array or Vector can hold fails here instead of
    * wrapping to a negative count.
    */
  private def len32(in: ByteIn): Int = {
    val n = in.i32() & 0xffffffffL
    if (n > Int.MaxValue) throw new IllegalArgumentException(
      s"msgpack: length $n exceeds ${Int.MaxValue}")
    n.toInt
  }

  /** True iff `row` holds exactly one msgpack value and nothing after
    * it, in the form `encode(JsonCodec.normalize(v))` gives (the binary
    * record row): no bin, ext or f32 marker; integer, length and count
    * headers of minimal width; well-formed UTF-8 strings; f64 finite
    * and not −0.0. So `encode(decode(row))` is `row` itself for every
    * row it accepts. Map keys may be of any type: those pass
    * `encode ∘ decode` unchanged too. Walks the bytes without decoding
    * or allocating.
    */
  def isRowValue(row: Array[Byte]): Boolean = {
    val end = row.length
    var pos = 0
    var pending = 1L // values still to walk
    while (pending > 0 && pos < end) {
      val m = row(pos) & 0xff
      pos += 1
      pending -= 1
      if (m >= 0xa0 && m < 0xc0) { // fixstr
        val n = m & 0x1f
        if (n > end - pos || !isUtf8(row, pos, n)) return false
        pos += n
      } else if (m >= 0x90 && m < 0xa0) pending += m & 0x0f // fixarray
      else if (m >= 0x80 && m < 0x90) pending += 2 * (m & 0x0f) // fixmap
      else if (m >= 0xc0 && m < 0xe0 && m != 0xc0 && m != 0xc2 &&
          m != 0xc3) {
        val width = m match {
          case 0xcc | 0xd0 | 0xd9 => 1
          case 0xcd | 0xd1 | 0xda | 0xdc | 0xde => 2
          case 0xce | 0xd2 | 0xdb | 0xdd | 0xdf => 4
          case 0xcf | 0xd3 | 0xcb => 8
          case _ => return false // 0xc1, bin, ext, f32
        }
        if (end - pos < width) return false
        var n = 0L // the header's argument, big-endian
        var i = 0
        while (i < width) { n = (n << 8) | (row(pos + i) & 0xff); i += 1 }
        pos += width
        // each marker only where encode's minimal width picks it
        val minimal = m match {
          case 0xcc => n >= 0x80
          case 0xcd => n >= 0x100
          case 0xce => n >= 0x10000
          case 0xcf => n < 0 || n >= 0x100000000L // unsigned ≥ 2^32
          case 0xd0 => n.toByte < -32
          case 0xd1 => n.toShort < Byte.MinValue
          case 0xd2 => n.toInt < Short.MinValue
          case 0xd3 => n < Int.MinValue
          case 0xcb =>
            val d = java.lang.Double.longBitsToDouble(n)
            !d.isNaN && !d.isInfinite && n != Long.MinValue // −0.0
          case 0xd9 => n >= 32
          case 0xda => n >= 0x100
          case 0xdb | 0xdd | 0xdf => n >= 0x10000
          case _ => n >= 16 // array16, map16
        }
        if (!minimal) return false
        if (m >= 0xd9 && m <= 0xdb) { // str8/16/32 payload
          if (n > end - pos || !isUtf8(row, pos, n.toInt)) return false
          pos += n.toInt
        } else if (m >= 0xdc) pending += (if (m >= 0xde) 2 * n else n)
      }
      // else: nil, bool, positive or negative fixint
    }
    pending == 0 && pos == end
  }

  /** Whether `n` bytes of `b` from `from` are well-formed UTF-8: no
    * overlong form, surrogate or code point above U+10FFFF, the bytes a
    * String decodes and re-encodes unchanged.
    */
  private def isUtf8(b: Array[Byte], from: Int, n: Int): Boolean = {
    val end = from + n
    var i = from
    while (i < end) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else {
        val k = // continuation bytes
          if (c >= 0xc2 && c < 0xe0) 1
          else if (c >= 0xe0 && c < 0xf0) 2
          else if (c >= 0xf0 && c < 0xf5) 3
          else return false
        if (end - i <= k) return false
        var cp = c & (0x3f >> k)
        var j = 1
        while (j <= k) {
          val d = b(i + j) & 0xff
          if ((d & 0xc0) != 0x80) return false
          cp = (cp << 6) | (d & 0x3f)
          j += 1
        }
        if (k == 2 && (cp < 0x800 || (cp >= 0xd800 && cp < 0xe000)))
          return false
        if (k == 3 && (cp < 0x10000 || cp > 0x10ffff)) return false
        i += k + 1
      }
    }
    true
  }

  private def str(in: ByteIn, n: Int): Value =
    Value.Str(new String(in.bytes(n), StandardCharsets.UTF_8))
  private def bin(in: ByteIn, n: Int): Value = Value.Bytes(in.bytes(n))
  private def extBytes(in: ByteIn, n: Int): Value = {
    in.u8() // ext type tag, dropped
    bin(in, n)
  }
  private def arr(in: ByteIn, n: Int, typed: Boolean): Value =
    Value.Seq(Vector.fill(n)(decode(in, typed)))
  private def map(in: ByteIn, n: Int, typed: Boolean): Value =
    Value.Map(Vector.fill(n)((decode(in, typed), decode(in, typed))))
}
