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

  import AvroCodec.MaxDepth

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
    case Value.Str(s) => writeStr(s, out)
    case Value.Bytes(b) =>
      if (b.length < 256) { out.write(0xc4); out.write(b.length) }
      else if (b.length < 65536) { out.write(0xc5); out.writeShort(b.length) }
      else { out.write(0xc6); out.writeInt(b.length) }
      out.write(b)
    case Value.Seq(vs) =>
      arrayHeader(vs.length, out)
      vs.foreach(write(_, out))
    case Value.Map(kvs) =>
      mapHeader(kvs.length, out)
      kvs.foreach { case (k, e) => write(k, out); write(e, out) }
  }

  private def writeStr(s: String, out: ByteOut): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    strHeader(b.length, out)
    out.write(b)
  }

  private def strHeader(n: Int, out: ByteOut): Unit =
    if (n < 32) out.write(0xa0 | n)
    else if (n < 256) { out.write(0xd9); out.write(n) }
    else if (n < 65536) { out.write(0xda); out.writeShort(n) }
    else { out.write(0xdb); out.writeInt(n) }

  private def arrayHeader(n: Int, out: ByteOut): Unit =
    if (n < 16) out.write(0x90 | n)
    else if (n < 65536) { out.write(0xdc); out.writeShort(n) }
    else { out.write(0xdd); out.writeInt(n) }

  private def mapHeader(n: Int, out: ByteOut): Unit =
    if (n < 16) out.write(0x80 | n)
    else if (n < 65536) { out.write(0xde); out.writeShort(n) }
    else { out.write(0xdf); out.writeInt(n) }

  /** Writes `encode(JsonCodec.normalize(v))` to `out` without building
    * `normalize(v)`: the binary record row ([[isRowValue]]) in one pass
    * over `v`. Fails past [[AvroCodec.MaxDepth]] nesting levels.
    */
  def encodeNormalized(v: Value, out: ByteOut): Unit =
    writeNormalized(v, out, 0)

  private def writeNormalized(v: Value, out: ByteOut, depth: Int): Unit =
    v match {
      case Value.F64(d) =>
        if (d.isNaN || d.isInfinite) out.write(0xc0)
        else { out.write(0xcb); out.writeDouble(d + 0.0) } // −0.0 → 0.0
      case _: Value.F32 => write(JsonCodec.normalize(v), out)
      case Value.Bytes(b) => // a sequence of numbers, one level deeper
        if (depth >= MaxDepth) throw tooDeep(s"output byte ${out.position}")
        arrayHeader(b.length, out)
        var i = 0
        while (i < b.length) { writeUnsigned(b(i) & 0xffL, out); i += 1 }
      case Value.Seq(vs) =>
        if (depth >= MaxDepth) throw tooDeep(s"output byte ${out.position}")
        arrayHeader(vs.length, out)
        val it = vs.iterator
        while (it.hasNext) writeNormalized(it.next(), out, depth + 1)
      case Value.Map(kvs) =>
        if (depth >= MaxDepth) throw tooDeep(s"output byte ${out.position}")
        mapHeader(kvs.length, out)
        val it = kvs.iterator
        while (it.hasNext) {
          val (k, e) = it.next()
          k match {
            case Value.Str(s) => writeStr(s, out)
            case other =>
              val text = ByteOut()
              JsonCodec.emitTo(other, text, depth + 1)
              val b = text.toByteArray
              strHeader(b.length, out)
              out.write(b)
          }
          writeNormalized(e, out, depth + 1)
        }
      // the rest encode as their normalized form does: tagged integers
      // and U64 below 2⁶³ minimal-width like I64, Chr as its string,
      // strings with `?` for a lone surrogate
      case _ => write(v, out)
    }

  private def tooDeep(where: String) = new IllegalArgumentException(
    s"msgpack: nested deeper than $MaxDepth levels at $where")

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
  def decode(buf: ByteBuffer, typed: Boolean = false): Value = {
    val in = ByteIn(buf)
    val v = decode(in, typed, 0)
    buf.position(buf.position() + in.position.toInt)
    v
  }

  /** One value whose containers sit `depth` levels deep; a container
    * past [[AvroCodec.MaxDepth]] levels fails typed, naming its offset.
    */
  private def decode(in: ByteIn, typed: Boolean, depth: Int): Value = {
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
      case b if b >= 0x90 && b < 0xa0 => arr(in, b & 0x0f, typed, depth)
      case 0xdc => arr(in, in.s16() & 0xffff, typed, depth)
      case 0xdd => arr(in, len32(in), typed, depth)
      case b if b >= 0x80 && b < 0x90 => map(in, b & 0x0f, typed, depth)
      case 0xde => map(in, in.s16() & 0xffff, typed, depth)
      case 0xdf => map(in, len32(in), typed, depth)
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
    decodeIterator(ByteIn(bytes), typed).toVector

  /** Incremental decode from an open stream: one record in flight,
    * constant memory regardless of input size (messagepack.rs:40-51).
    */
  def decodeIterator(in: java.io.InputStream,
      typed: Boolean = false): Iterator[Value] =
    decodeIterator(ByteIn(in), typed)

  private def decodeIterator(bi: ByteIn, typed: Boolean): Iterator[Value] =
    new Iterator[Value] {
      def hasNext: Boolean = !bi.atEnd()
      def next(): Value = decode(bi, typed, 0)
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

  private def str(in: ByteIn, n: Int): Value = Value.Str(in.utf8(n))
  private def bin(in: ByteIn, n: Int): Value = Value.Bytes(in.bytes(n))
  private def extBytes(in: ByteIn, n: Int): Value = {
    in.u8() // ext type tag, dropped
    bin(in, n)
  }
  private def nested(in: ByteIn, depth: Int): Unit =
    if (depth >= MaxDepth) throw tooDeep(s"byte ${in.position - 1}")
  private def arr(in: ByteIn, n: Int, typed: Boolean, depth: Int): Value = {
    nested(in, depth)
    val b = Vector.newBuilder[Value]
    var k = 0
    while (k < n) { b += decode(in, typed, depth + 1); k += 1 }
    Value.Seq(b.result())
  }
  private def map(in: ByteIn, n: Int, typed: Boolean, depth: Int): Value = {
    nested(in, depth)
    val b = Vector.newBuilder[(Value, Value)]
    var k = 0
    while (k < n) {
      val key = decode(in, typed, depth + 1)
      b += ((key, decode(in, typed, depth + 1)))
      k += 1
    }
    Value.Map(b.result())
  }

  /** Writes the compact JSON of the value a binary row holds,
    * `JsonCodec.emitTo(decode(row), out)`, straight from the row bytes.
    * The row must pass [[isRowValue]]. Fails past [[AvroCodec.MaxDepth]]
    * nesting levels.
    */
  def rowToJson(row: Array[Byte], out: ByteOut): Unit = rowJson(row, 0, out, 0)

  /** Big-endian unsigned `width` bytes of `r` from `at`. */
  private def be(r: Array[Byte], at: Int, width: Int): Long = {
    var v = 0L
    var k = 0
    while (k < width) { v = v << 8 | (r(at + k) & 0xff); k += 1 }
    v
  }

  /** The JSON of the row value at `at`, its containers `depth` levels
    * deep; returns the offset after it.
    */
  private def rowJson(r: Array[Byte], at: Int, out: ByteOut,
      depth: Int): Int = {
    val m = r(at) & 0xff
    val p = at + 1
    if (m < 0x80) { out.writeDecimal(m); p }
    else if (m >= 0xe0) { out.writeDecimal(m - 256); p }
    else if (m >= 0xa0 && m < 0xc0) rowStr(r, p, m & 0x1f, out) // fixstr
    else if (m < 0x90) rowMap(r, p, m & 0x0f, out, depth) // fixmap
    else if (m < 0xa0) rowArr(r, p, m & 0x0f, out, depth) // fixarray
    else m match {
      case 0xc0 => out.write(JsonCodec.Null); p
      case 0xc2 => out.write(JsonCodec.False); p
      case 0xc3 => out.write(JsonCodec.True); p
      case 0xcc | 0xcd | 0xce =>
        val w = 1 << (m - 0xcc)
        out.writeDecimal(be(r, p, w)); p + w
      case 0xcf =>
        val v = be(r, p, 8)
        if (v >= 0) out.writeDecimal(v)
        else out.write(java.lang.Long.toUnsignedString(v)
          .getBytes(StandardCharsets.UTF_8))
        p + 8
      case 0xd0 => out.writeDecimal(r(p).toLong); p + 1
      case 0xd1 => out.writeDecimal(be(r, p, 2).toShort.toLong); p + 2
      case 0xd2 => out.writeDecimal(be(r, p, 4).toInt.toLong); p + 4
      case 0xd3 => out.writeDecimal(be(r, p, 8)); p + 8
      case 0xcb =>
        JsonCodec.emitDouble(java.lang.Double.longBitsToDouble(be(r, p, 8)), out)
        p + 8
      case 0xd9 => rowStr(r, p + 1, be(r, p, 1).toInt, out)
      case 0xda => rowStr(r, p + 2, be(r, p, 2).toInt, out)
      case 0xdb => rowStr(r, p + 4, be(r, p, 4).toInt, out)
      case 0xdc => rowArr(r, p + 2, be(r, p, 2).toInt, out, depth)
      case 0xdd => rowArr(r, p + 4, be(r, p, 4).toInt, out, depth)
      case 0xde => rowMap(r, p + 2, be(r, p, 2).toInt, out, depth)
      case 0xdf => rowMap(r, p + 4, be(r, p, 4).toInt, out, depth)
      case other => throw new IllegalArgumentException(
        f"msgpack: marker 0x$other%02x at byte $at is not in the row form")
    }
  }

  private def rowStr(r: Array[Byte], at: Int, n: Int, out: ByteOut): Int = {
    JsonCodec.emitUtf8String(r, at, n, out)
    at + n
  }

  private def rowNested(at: Int, depth: Int): Unit =
    if (depth >= MaxDepth) throw tooDeep(s"byte ${at - 1} of the row")

  private def rowArr(r: Array[Byte], at: Int, n: Int, out: ByteOut,
      depth: Int): Int = {
    rowNested(at, depth)
    out.write('[')
    var p = at
    var k = 0
    while (k < n) {
      if (k > 0) out.write(',')
      p = rowJson(r, p, out, depth + 1)
      k += 1
    }
    out.write(']')
    p
  }

  private def rowMap(r: Array[Byte], at: Int, n: Int, out: ByteOut,
      depth: Int): Int = {
    rowNested(at, depth)
    out.write('{')
    var p = at
    var k = 0
    while (k < n) {
      if (k > 0) out.write(',')
      val m = r(p) & 0xff
      if ((m >= 0xa0 && m < 0xc0) || (m >= 0xd9 && m <= 0xdb))
        p = rowJson(r, p, out, depth + 1)
      else { // a non-string key prints as the string of its JSON
        val text = ByteOut()
        p = rowJson(r, p, text, depth + 1)
        val b = text.toByteArray
        JsonCodec.emitUtf8String(b, 0, b.length, out)
      }
      out.write(':')
      p = rowJson(r, p, out, depth + 1)
      k += 1
    }
    out.write('}')
    p
  }
}
