package graft.formats

import java.io.{EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{CRC32, DataFormatException, Deflater, Inflater}

import scala.util.control.NonFatal

import io.airlift.compress.snappy.{SnappyCompressor, SnappyDecompressor}

/** Avro Object Container File codec (reference: src/value/avro.rs),
  * written to the Avro 1.12 specification with no Avro library: the
  * schema is parsed with [[JsonCodec]], each datum is decoded straight
  * into a [[Value]] and encoded straight from one. Reader schema comes
  * from the OCF header (avro.rs:17-24); writer requires a caller schema
  * + codec null/deflate/snappy (rq.rs:241-259). Deflate is raw deflate
  * (`java.util.zip`); snappy is a snappy block (aircompressor, pure
  * Java) followed by the big-endian CRC32 of the uncompressed block, as
  * Avro's snappy codec writes it.
  *
  * Coercions mirrored from the reference:
  *  - in: Null→Unit, Int/Long→I64, Float/Double→F64, Bytes/Fixed→Bytes,
  *    String/Enum→Str, Union unwrapped, Record→Map(Str→v) in field
  *    order, Map→Map in wire order (avro.rs:48-72); logical types read
  *    as their underlying type;
  *  - out: u64 → Long iff it fits, else error (avro.rs:102-113);
  *    non-string map keys → error (avro.rs:138-146).
  *
  * Hostile input: every length and count is checked against the bytes
  * the block holds before anything is allocated, block bytes grow as
  * they arrive, a varint is at most 10 bytes, an inflated block is at
  * most `maxBlock` bytes and nesting at most [[MaxDepth]] levels. A bad
  * file fails with an `IllegalArgumentException` or `EOFException`
  * naming avro and the header or the block (index and byte offset).
  */
object AvroCodec {

  // ---- schema ----

  /** One node of a parsed schema. Named types are shared by reference,
    * so a recursive record points back at itself.
    */
  sealed abstract class Type(val name: String) {
    override def toString: String = name
  }

  object Type {
    case object Null extends Type("null")
    case object Bool extends Type("boolean")
    case object I32 extends Type("int")
    case object I64 extends Type("long")
    case object F32 extends Type("float")
    case object F64 extends Type("double")
    case object Bytes extends Type("bytes")
    case object Str extends Type("string")
    final class Record(name: String) extends Type(name) {
      private[AvroCodec] var fields: Array[Field] = Array.empty
    }
    final class Field(val name: String, val tpe: Type) {
      private[AvroCodec] val key: Value = Value.Str(name)
    }
    final class Enum(name: String, symbols: Vector[String])
        extends Type(name) {
      private[AvroCodec] val values: Array[Value] =
        symbols.map(s => Value.Str(s): Value).toArray
      private[AvroCodec] val index: Map[String, Int] = symbols.zipWithIndex.toMap
    }
    final class Fixed(name: String, val size: Int) extends Type(name)
    final case class ArrayOf(items: Type) extends Type("array") {
      private[AvroCodec] lazy val itemMin: Int = minSize(items)
    }
    final case class MapOf(values: Type) extends Type("map") {
      private[AvroCodec] lazy val entryMin: Int = 1 + minSize(values)
    }
    final case class Union(branches: Vector[Type]) extends Type("union")
  }

  /** A parsed schema: its root type and the JSON text it came from
    * (written into the OCF header as it was given).
    */
  final class Schema private[AvroCodec] (val root: Type, val json: String)

  private val Primitives: Map[String, Type] = Seq(Type.Null, Type.Bool,
    Type.I32, Type.I64, Type.F32, Type.F64, Type.Bytes, Type.Str)
    .map(t => t.name -> t).toMap

  /** Parses a schema as Avro's `Schema.Parser` does, failing with an
    * `IllegalArgumentException` where it fails: an unknown type or
    * undefined name, a missing `name`/`fields`/`symbols`/`size`/
    * `items`/`values`, a duplicate field, symbol or definition, an
    * invalid name, a nested or duplicate union branch.
    */
  def parseSchema(json: String): Schema = {
    val doc =
      try JsonCodec.parse(json)
      catch { case NonFatal(e) => throw schemaError(e.getMessage) }
    new Schema(new SchemaParser().parse(doc, ""), JsonCodec.emit(doc))
  }

  private def schemaError(msg: String) =
    new IllegalArgumentException(s"avro schema: $msg")

  private final class SchemaParser {
    private val names = scala.collection.mutable.HashMap[String, Type]()

    def parse(j: Value, ns: String): Type = j match {
      case Value.Str(t) => lookup(t, ns)
      case Value.Seq(bs) => union(bs.map(parse(_, ns)))
      case Value.Map(kvs) =>
        val a = kvs.collect { case (Value.Str(k), v) => k -> v }.toMap
        text(a, "type", "no type") match {
          case "record" | "error" => record(a, ns)
          case "enum" =>
            val (full, _) = define(a, ns)
            val syms = a.get("symbols") match {
              case Some(Value.Seq(ss)) => ss.map {
                case Value.Str(s) => checkName(s); s
                case s => throw schemaError(s"enum symbol $s is not a string")
              }
              case _ => throw schemaError(s"enum $full has no symbols")
            }
            if (syms.distinct.size != syms.size)
              throw schemaError(s"duplicate enum symbol in $full")
            register(full, new Type.Enum(full, syms))
          case "fixed" =>
            val (full, _) = define(a, ns)
            val size = a.get("size") match {
              case Some(Value.I64(n)) if n >= 0 && n <= Int.MaxValue => n.toInt
              case _ => throw schemaError(s"fixed $full has an invalid or no size")
            }
            register(full, new Type.Fixed(full, size))
          case "array" =>
            Type.ArrayOf(parse(a.getOrElse("items",
              throw schemaError("array has no items")), ns))
          case "map" =>
            Type.MapOf(parse(a.getOrElse("values",
              throw schemaError("map has no values")), ns))
          case t => lookup(t, ns) // a primitive with attributes, or a name
        }
      case other => throw schemaError(s"not a schema: ${JsonCodec.emit(other)}")
    }

    private def record(a: Map[String, Value], ns: String): Type = {
      val (full, space) = define(a, ns)
      val r = register(full, new Type.Record(full))
      val fields = a.get("fields") match {
        case Some(Value.Seq(fs)) => fs.map {
          case Value.Map(kvs) =>
            val f = kvs.collect { case (Value.Str(k), v) => k -> v }.toMap
            val name = text(f, "name", s"a field of $full has no name")
            checkName(name)
            new Type.Field(name, parse(f.getOrElse("type",
              throw schemaError(s"field $name of $full has no type")), space))
          case f => throw schemaError(s"field $f of $full is not an object")
        }
        case _ => throw schemaError(s"record $full has no fields")
      }
      fields.groupBy(_.name).collectFirst { case (n, fs) if fs.size > 1 =>
        throw schemaError(s"duplicate field $n in record $full")
      }
      r.fields = fields.toArray
      r
    }

    private def union(bs: Vector[Type]): Type = {
      bs.foreach { case _: Type.Union => throw schemaError("nested union")
        case _ => () }
      if (bs.map(_.name).distinct.size != bs.size)
        throw schemaError(s"duplicate in union ${bs.mkString("[", ",", "]")}")
      Type.Union(bs)
    }

    private def text(a: Map[String, Value], key: String, missing: String) =
      a.get(key) match {
        case Some(Value.Str(s)) => s
        case _ => throw schemaError(missing)
      }

    /** The full name and namespace of a named type's definition. */
    private def define(a: Map[String, Value], ns: String): (String, String) = {
      val name = text(a, "name", s"a named type (${a.get("type")
        .fold("")(JsonCodec.emit)}) has no name")
      val space = a.get("namespace") match {
        case Some(Value.Str(s)) => s
        case _ => ns
      }
      val full = fullName(name, space)
      full.split('.').foreach(checkName)
      if (names.contains(full)) throw schemaError(s"can't redefine: $full")
      (full, full.lastIndexOf('.') match { case -1 => ""
        case i => full.substring(0, i) })
    }

    private def register[T <: Type](full: String, t: T): T = {
      names(full) = t; t
    }

    private def fullName(name: String, space: String): String =
      if (name.contains('.') || space.isEmpty) name else s"$space.$name"

    private def lookup(t: String, ns: String): Type =
      Primitives.get(t)
        .orElse(names.get(fullName(t, ns)))
        .orElse(names.get(t))
        .getOrElse(throw schemaError(s"undefined name: $t"))

    private def checkName(n: String): Unit =
      if (n.isEmpty || !(n.head.isLetter || n.head == '_') ||
          !n.forall(c => c.isLetterOrDigit || c == '_'))
        throw schemaError(s"illegal name: $n")
  }

  /** A lower bound on the encoded size of a datum of `t` (a record
    * met again inside itself counts 0), which bounds how many datums a
    * count may claim for the bytes left.
    */
  private def minSize(t: Type, seen: Set[Type.Record] = Set.empty): Int =
    t match {
      case Type.Null => 0
      case Type.F32 => 4
      case Type.F64 => 8
      case f: Type.Fixed => f.size
      case r: Type.Record =>
        if (seen(r)) 0
        else math.min(r.fields.iterator.map(f =>
          minSize(f.tpe, seen + r).toLong).sum, Int.MaxValue).toInt
      case _ => 1 // a one-byte varint: a length, count, index or bool
    }

  /** Deepest nesting of records, arrays, maps and unions a datum may
    * have; a deeper one (a hostile recursive record) fails typed
    * instead of overflowing the stack.
    */
  final val MaxDepth = 1000

  /** Largest block, compressed or inflated, the reader accepts. */
  final val MaxBlock: Int = 1 << 30

  /** Most zero-width items (nulls, empty records) one array may hold:
    * their count cannot be checked against bytes, and each costs a
    * reference. A block of zero-width records allocates nothing per
    * record, so its count is only bounded by `Int.MaxValue`.
    */
  private final val MaxZeroWidth = 1 << 16

  private val Magic = Array[Byte]('O', 'b', 'j', 1)
  private val Codecs = Set("null", "deflate", "snappy")

  // ---- read ----

  def readStream(bytes: Array[Byte]): Vector[Value] =
    readIterator(new java.io.ByteArrayInputStream(bytes)).toVector

  /** Incremental OCF read from an open stream: the header is read at
    * once, then one block at a time, decoding one record per `next`.
    * The caller owns and closes the stream after exhausting the
    * iterator.
    */
  def readIterator(in: InputStream): Iterator[Value] = new Reader(in, MaxBlock)

  private[graft] def readIterator(in: InputStream,
      maxBlock: Int): Iterator[Value] = new Reader(in, maxBlock)

  private final class Reader(in: InputStream, maxBlock: Int)
      extends Iterator[Value] {
    private val src = ByteIn(in)
    private var at = 0L // bytes read from `in`
    private var block = -1L // index of the current block
    private var blockAt = 0L // its offset
    private var dec: Decoder = _
    private var left = 0L // records left in it

    private def where = if (block < 0) "header" else s"block $block at byte $blockAt"
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"avro: $where: $msg")

    private def u8(): Int = { val b = src.u8(); at += 1; b }
    private def bytes(n: Long): Array[Byte] = {
      if (n < 0 || n > maxBlock) fail(s"length $n out of range")
      val a = src.bytes(n.toInt); at += n; a
    }
    private def varLong(): Long = {
      var v = 0L
      var shift = 0
      var b = 0x80
      while ((b & 0x80) != 0) {
        if (shift > 63) fail("varint longer than 10 bytes")
        b = u8()
        v |= (b & 0x7fL) << shift
        shift += 7
      }
      (v >>> 1) ^ -(v & 1)
    }

    private def truncated(body: => Unit): Unit =
      try body
      catch { case _: EOFException =>
        throw new EOFException(s"avro: $where: truncated at byte $at")
      }

    private var schema: Type = _
    private var codec = "null"
    private var sync: Array[Byte] = _
    truncated {
      if (!java.util.Arrays.equals(bytes(4), Magic))
        fail("not an object container file (bad magic)")
      val meta = scala.collection.mutable.HashMap[String, Array[Byte]]()
      var n = varLong()
      while (n != 0) {
        if (n < 0) { n = -n; varLong() }
        if (n < 0) fail("negative metadata count")
        while (n > 0) {
          meta(new String(bytes(varLong()), UTF_8)) = bytes(varLong())
          n -= 1
        }
        n = varLong()
      }
      sync = bytes(16)
      schema = try parseSchema(new String(meta.getOrElse("avro.schema",
        fail("no avro.schema")), UTF_8)).root
      catch { case e: IllegalArgumentException => fail(e.getMessage) }
      codec = meta.get("avro.codec").map(new String(_, UTF_8)).getOrElse("null")
      if (!Codecs(codec)) fail(s"unsupported codec $codec (null|deflate|snappy)")
    }
    private val rootMin = minSize(schema)
    private lazy val inflater = new Inflater(true)

    def hasNext: Boolean = {
      while (left == 0 && nextBlock()) ()
      left > 0
    }

    def next(): Value = {
      if (!hasNext) throw new NoSuchElementException("avro: no more records")
      val v = dec.read(schema, 0)
      left -= 1
      if (left == 0 && dec.pos != dec.end)
        dec.fail(s"${dec.end - dec.pos} bytes left after the block's records")
      v
    }

    /** Reads the next block, or returns false at a clean end of input. */
    private def nextBlock(): Boolean =
      if (src.atEnd()) false
      else {
        block += 1
        blockAt = at
        truncated {
          val count = varLong()
          val data = decompress(bytes(varLong()))
          if (!java.util.Arrays.equals(bytes(16), sync))
            fail("sync marker does not match the header's")
          val bound = if (rootMin == 0) Int.MaxValue.toLong
            else data.length.toLong / rootMin
          if (count < 0 || count > bound)
            fail(s"record count $count out of range for ${data.length} bytes")
          dec = new Decoder(where, data, data.length)
          left = count
          if (count == 0 && data.nonEmpty)
            fail(s"${data.length} bytes in a block of no records")
        }
        true
      }

    private def decompress(raw: Array[Byte]): Array[Byte] = codec match {
      case "null" => raw
      case "deflate" =>
        inflater.reset()
        inflater.setInput(raw)
        var out = new Array[Byte](
          math.min(math.max(raw.length * 2L, 1024L), maxBlock).toInt)
        var n = 0
        while (!inflater.finished()) {
          if (n == out.length) {
            if (n >= maxBlock) fail(s"inflates past $maxBlock bytes")
            out = java.util.Arrays.copyOf(out, math.min(2L * n, maxBlock).toInt)
          }
          val k =
            try inflater.inflate(out, n, out.length - n)
            catch { case e: DataFormatException =>
              fail(s"corrupt deflate data: ${e.getMessage}") }
          n += k
          if (k == 0 && (inflater.needsInput() || inflater.needsDictionary()))
            fail("deflate data ends before its end marker")
        }
        java.util.Arrays.copyOf(out, n)
      case "snappy" =>
        val clen = raw.length - 4
        if (clen < 1) fail("snappy block shorter than its checksum")
        var ulen = 0L
        var i = 0
        var b = 0x80
        while ((b & 0x80) != 0) {
          if (i == 5 || i == clen) fail("bad snappy length header")
          b = raw(i) & 0xff
          ulen |= (b & 0x7fL) << (7 * i)
          i += 1
        }
        // a snappy op expands at most 3 bytes into 64
        if (ulen > 22L * clen || ulen > maxBlock)
          fail(s"snappy length $ulen out of range for $clen bytes")
        val out = new Array[Byte](ulen.toInt)
        val got =
          try new SnappyDecompressor().decompress(raw, 0, clen, out, 0, out.length)
          catch { case NonFatal(e) => fail(s"corrupt snappy data: ${e.getMessage}") }
        if (got != ulen) fail(s"snappy data holds $got of $ulen bytes")
        val crc = new CRC32()
        crc.update(out)
        val want = (raw(clen) & 0xff) << 24 | (raw(clen + 1) & 0xff) << 16 |
          (raw(clen + 2) & 0xff) << 8 | (raw(clen + 3) & 0xff)
        if (crc.getValue.toInt != want) fail("snappy checksum mismatch")
        out
    }
  }

  /** Decodes the datums of one (uncompressed) block. */
  private final class Decoder(where: String, buf: Array[Byte], val end: Int) {
    var pos = 0

    def fail(msg: String): Nothing = throw new IllegalArgumentException(
      s"avro: $where: $msg (at byte $pos of the block)")

    private def need(n: Int): Unit =
      if (end - pos < n) fail("datum runs past the end of the block")

    def long(): Long = {
      var v = 0L
      var shift = 0
      var b = 0x80
      while ((b & 0x80) != 0) {
        if (shift > 63) fail("varint longer than 10 bytes")
        need(1)
        b = buf(pos)
        pos += 1
        v |= (b & 0x7fL) << shift
        shift += 7
      }
      (v >>> 1) ^ -(v & 1)
    }

    def int(): Int = {
      val v = long()
      if (v.toInt != v) fail(s"int $v out of range")
      v.toInt
    }

    private def le32(): Int = {
      need(4)
      val v = (buf(pos) & 0xff) | (buf(pos + 1) & 0xff) << 8 |
        (buf(pos + 2) & 0xff) << 16 | (buf(pos + 3) & 0xff) << 24
      pos += 4
      v
    }

    /** A length or count `n` of items at least `min` bytes each, checked
      * against the bytes left.
      */
    private def count(n: Long, min: Int): Int = {
      val bound = if (min == 0) MaxZeroWidth.toLong else (end - pos).toLong / min
      if (n < 0 || n > bound)
        fail(s"length or count $n out of range for ${end - pos} bytes left")
      n.toInt
    }

    private def copy(n: Int): Array[Byte] = {
      val a = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      a
    }

    /** Runs a block-encoded array or map, `body` once per item. */
    private def blocks(min: Int)(body: => Unit): Unit = {
      var total = 0L
      var n = long()
      while (n != 0) {
        if (n < 0) {
          n = -n
          count(long(), 1) // the block's byte size
        }
        var k = count(n, min)
        total += k
        if (min == 0 && total > MaxZeroWidth)
          fail(s"more than $MaxZeroWidth zero-width items")
        while (k > 0) { body; k -= 1 }
        n = long()
      }
    }

    def read(t: Type, depth: Int): Value = t match {
      case Type.I64 => Value.I64(long())
      case Type.Str =>
        val n = count(long(), 1)
        val s = new String(buf, pos, n, UTF_8)
        pos += n
        Value.Str(s)
      case Type.F64 =>
        val lo = le32() & 0xffffffffL
        Value.F64(java.lang.Double.longBitsToDouble(lo | le32().toLong << 32))
      case u: Type.Union =>
        val i = long()
        if (i < 0 || i >= u.branches.size)
          fail(s"union index $i out of range for ${u.branches.size} branches")
        nested(depth)
        read(u.branches(i.toInt), depth + 1)
      case r: Type.Record =>
        nested(depth)
        val fs = r.fields
        val b = Vector.newBuilder[(Value, Value)]
        var i = 0
        while (i < fs.length) {
          b += ((fs(i).key, read(fs(i).tpe, depth + 1)))
          i += 1
        }
        Value.Map(b.result())
      case Type.Null => Value.Unit
      case Type.Bool =>
        need(1)
        pos += 1
        Value.Bool(buf(pos - 1) == 1)
      case Type.I32 => Value.I64(int().toLong)
      case Type.F32 =>
        Value.F64(java.lang.Float.intBitsToFloat(le32()).toDouble)
      case Type.Bytes => Value.Bytes(copy(count(long(), 1)))
      case f: Type.Fixed => need(f.size); Value.Bytes(copy(f.size))
      case e: Type.Enum =>
        val i = int()
        if (i < 0 || i >= e.values.length)
          fail(s"enum index $i out of range for ${e.values.length} symbols")
        e.values(i)
      case a: Type.ArrayOf =>
        nested(depth)
        val b = Vector.newBuilder[Value]
        blocks(a.itemMin)(b += read(a.items, depth + 1))
        Value.Seq(b.result())
      case m: Type.MapOf =>
        nested(depth)
        val b = Vector.newBuilder[(Value, Value)]
        blocks(m.entryMin) {
          val k = read(Type.Str, depth + 1)
          b += ((k, read(m.values, depth + 1)))
        }
        Value.Map(b.result())
    }

    private def nested(depth: Int): Unit =
      if (depth >= MaxDepth) fail(s"datum nested deeper than $MaxDepth levels")
  }

  // ---- write ----

  /** Write records as one OCF byte blob. codec ∈ null/deflate/snappy
    * (rq.rs:245-257; default "null", rq.rs:245-249).
    */
  def writeStream(values: Iterable[Value], schema: Schema,
      codec: String = "null"): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val writer = openWriter(bos, schema, codec)
    values.foreach(writer.write)
    writer.flush()
    bos.toByteArray
  }

  /** Open an OCF writer over a caller-owned stream for incremental
    * appends: the header goes out at once, each block once it holds
    * 64 000 bytes (Avro's default sync interval), the last one on
    * `flush`.
    */
  def openWriter(out: OutputStream, schema: Schema,
      codec: String = "null"): Writer = new Writer(out, schema, codec)

  private final val SyncInterval = 64000

  final class Writer private[AvroCodec] (out: OutputStream, schema: Schema,
      codec: String) {
    if (!Codecs(codec))
      throw new IllegalArgumentException(s"avro: unsupported codec $codec")
    private val sync = new Array[Byte](16)
    java.util.concurrent.ThreadLocalRandom.current().nextBytes(sync)
    private val block = ByteOut()
    private var count = 0L
    private lazy val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    private lazy val snappy = new SnappyCompressor()

    locally {
      val h = ByteOut()
      h.write(Magic)
      writeLong(h, 2)
      for ((k, v) <- Seq("avro.schema" -> schema.json, "avro.codec" -> codec)) {
        writeBytes(h, k.getBytes(UTF_8))
        writeBytes(h, v.getBytes(UTF_8))
      }
      writeLong(h, 0)
      h.write(sync)
      out.write(h.toByteArray)
    }

    /** Appends one record; a record that fails to encode leaves the
      * block as it was.
      */
    def write(v: Value): Unit = {
      block.record(encode(v, schema.root, block, 0))
      count += 1
      if (block.position >= SyncInterval) writeBlock()
    }

    /** Writes the open block, if any, and flushes the stream. */
    def flush(): Unit = {
      if (count > 0) writeBlock()
      out.flush()
    }

    private def writeBlock(): Unit = {
      val raw = block.toByteArray
      val data = codec match {
        case "null" => raw
        case "deflate" =>
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          val o = ByteOut()
          val chunk = new Array[Byte](1 << 16)
          while (!deflater.finished())
            o.write(chunk, 0, deflater.deflate(chunk))
          o.toByteArray
        case "snappy" =>
          val o = new Array[Byte](snappy.maxCompressedLength(raw.length) + 4)
          val n = snappy.compress(raw, 0, raw.length, o, 0, o.length - 4)
          val crc = new CRC32()
          crc.update(raw)
          val c = crc.getValue.toInt
          o(n) = (c >>> 24).toByte
          o(n + 1) = (c >>> 16).toByte
          o(n + 2) = (c >>> 8).toByte
          o(n + 3) = c.toByte
          java.util.Arrays.copyOf(o, n + 4)
      }
      val h = ByteOut()
      writeLong(h, count)
      writeLong(h, data.length.toLong)
      out.write(h.toByteArray)
      out.write(data)
      out.write(sync)
      block.reset()
      count = 0
    }
  }

  private def writeLong(o: ByteOut, n: Long): Unit = {
    var v = (n << 1) ^ (n >> 63)
    while ((v & ~0x7fL) != 0) {
      o.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    o.write(v.toInt)
  }

  private def writeBytes(o: ByteOut, b: Array[Byte]): Unit = {
    writeLong(o, b.length.toLong)
    o.write(b)
  }

  private def le32(o: ByteOut, bits: Int): Unit = {
    o.write(bits)
    o.write(bits >>> 8)
    o.write(bits >>> 16)
    o.write(bits >>> 24)
  }

  private def f64(o: ByteOut, d: Double): Unit = {
    val bits = java.lang.Double.doubleToRawLongBits(d)
    le32(o, bits.toInt)
    le32(o, (bits >>> 32).toInt)
  }

  /** Value → Avro binary guided by the writer schema, with the
    * reference's guards. widenShallow per node: the schema (not the
    * in-flight tag) dictates avro widths — the reference's avro sink
    * likewise widens its I8..I32 to the schema type (avro.rs:99-113).
    * Shallow (not deep) because this function already recurses
    * node-by-node.
    */
  private def encode(v0: Value, t: Type, o: ByteOut, depth: Int): Unit = {
    val v = Value.widenShallow(v0)
    if (depth >= MaxDepth) throw new IllegalArgumentException(
      s"avro: value nested deeper than $MaxDepth levels")
    (t, v) match {
      case (u: Type.Union, _) =>
        val i = v match {
          case Value.Unit => u.branches.indexOf(Type.Null)
          case _ => u.branches.indexWhere(b => b != Type.Null && fits(v, b))
        }
        if (i < 0)
          throw new IllegalArgumentException(s"avro: no union branch for $v")
        writeLong(o, i.toLong)
        encode(v, u.branches(i), o, depth + 1)
      case (Type.Null, Value.Unit) => ()
      case (Type.Bool, Value.Bool(b)) => o.write(if (b) 1 else 0)
      case (Type.I32, Value.I64(n)) =>
        if (n < Int.MinValue || n > Int.MaxValue)
          throw new IllegalArgumentException(s"avro: $n does not fit int")
        writeLong(o, n)
      case (Type.I64, Value.I64(n)) => writeLong(o, n)
      case (Type.I64, Value.U64(bits)) =>
        // u64 → long iff representable, else error (avro.rs:102-113);
        // widenShallow already made every representable one an I64
        throw new IllegalArgumentException(
          s"avro: u64 ${java.lang.Long.toUnsignedString(bits)} does not fit long")
      case (Type.F32, Value.F64(d)) =>
        le32(o, java.lang.Float.floatToRawIntBits(d.toFloat))
      case (Type.F64, Value.F64(d)) => f64(o, d)
      case (Type.F64, Value.I64(n)) => f64(o, n.toDouble)
      case (Type.Str, Value.Str(s)) => writeBytes(o, s.getBytes(UTF_8))
      case (Type.Bytes, Value.Bytes(b)) => writeBytes(o, b)
      case (f: Type.Fixed, Value.Bytes(b)) =>
        if (b.length != f.size) throw new IllegalArgumentException(
          s"avro: fixed ${f.name} holds ${f.size} bytes, got ${b.length}")
        o.write(b)
      case (e: Type.Enum, Value.Str(s)) =>
        writeLong(o, e.index.getOrElse(s, throw new IllegalArgumentException(
          s"avro: $s is not a symbol of enum ${e.name}")).toLong)
      case (a: Type.ArrayOf, Value.Seq(vs)) =>
        if (vs.nonEmpty) {
          writeLong(o, vs.size.toLong)
          vs.foreach(encode(_, a.items, o, depth + 1))
        }
        writeLong(o, 0)
      case (m: Type.MapOf, Value.Map(kvs)) =>
        // a repeated key keeps its first place and its last value
        val byKey = new java.util.LinkedHashMap[String, Value]()
        kvs.foreach { kv =>
          Value.widenShallow(kv._1) match { // Chr key → Str
            case Value.Str(k) => byKey.put(k, kv._2)
            case k =>
              // non-string map key → error (avro.rs:138-146)
              throw new IllegalArgumentException(s"avro: non-string map key $k")
          }
        }
        if (!byKey.isEmpty) {
          writeLong(o, byKey.size.toLong)
          byKey.forEach { (k, e) =>
            writeBytes(o, k.getBytes(UTF_8))
            encode(e, m.values, o, depth + 1)
          }
        }
        writeLong(o, 0)
      case (r: Type.Record, Value.Map(kvs)) =>
        r.fields.foreach { f =>
          // a repeated key: its last value
          val i = kvs.lastIndexWhere(kv => Value.widenShallow(kv._1) match {
            case Value.Str(k) => k == f.name
            case _ => false
          })
          if (i >= 0) encode(kvs(i)._2, f.tpe, o, depth + 1)
          else f.tpe match {
            case u: Type.Union if u.branches.contains(Type.Null) =>
              encode(Value.Unit, u, o, depth + 1)
            case _ =>
              throw new IllegalArgumentException(s"avro: missing field ${f.name}")
          }
        }
      case _ =>
        throw new IllegalArgumentException(s"avro: cannot write $v as $t")
    }
  }

  private def fits(v: Value, t: Type): Boolean = (t, v) match {
    case (Type.Bool, _: Value.Bool) => true
    case (Type.I32 | Type.I64, _: Value.I64 | _: Value.U64) => true
    case (Type.F32 | Type.F64, _: Value.F64) => true
    case (Type.Str | _: Type.Enum, _: Value.Str) => true
    case (Type.Bytes | _: Type.Fixed, _: Value.Bytes) => true
    case (_: Type.ArrayOf, _: Value.Seq) => true
    case (_: Type.MapOf | _: Type.Record, _: Value.Map) => true
    case _ => false
  }
}
