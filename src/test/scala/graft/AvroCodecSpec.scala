package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.formats.{AvroCodec, JsonCodec, Value}
import graft.sources.RqFormat

/** The Avro OCF codec against the Apache Avro library, which is on the
  * test classpath only, as the oracle: files it writes decode to the
  * Values its datums map to, files the codec writes read back through
  * it, and schemas its parser rejects are rejected. Then map order,
  * and hostile input: truncation, bit flips and inflated headers fail
  * typed, naming avro and the header or block, without allocating
  * what a header claims.
  */
class AvroCodecSpec extends AnyFunSuite {

  /** Every schema type: a recursive named record, namespaces, enum,
    * fixed, bytes, float, int, unions and a logical-type annotation.
    */
  private val schemaJson =
    """{"type":"record","name":"Rec","namespace":"org.ex","fields":[
      |{"name":"i","type":"int"},
      |{"name":"l","type":{"type":"long","logicalType":"timestamp-millis"}},
      |{"name":"f","type":"float"},
      |{"name":"d","type":"double"},
      |{"name":"b","type":"boolean"},
      |{"name":"s","type":"string"},
      |{"name":"by","type":"bytes"},
      |{"name":"fx","type":{"type":"fixed","name":"Md5","namespace":"other.ns","size":4}},
      |{"name":"e","type":{"type":"enum","name":"Color","symbols":["RED","GREEN","BLUE"]}},
      |{"name":"u","type":["null","string","long","other.ns.Md5"]},
      |{"name":"xs","type":{"type":"array","items":"int"}},
      |{"name":"m","type":{"type":"map","values":["null","double"]}},
      |{"name":"next","type":["null","Rec"]},
      |{"name":"c2","type":"Color"},
      |{"name":"n","type":"null"}]}""".stripMargin

  private val schema = new Schema.Parser().parse(schemaJson)

  /** The mapping of the Avro-library reader this codec replaced. */
  private def fromAvro(o: AnyRef): Value = o match {
    case null => Value.Unit
    case b: java.lang.Boolean => Value.Bool(b)
    case i: java.lang.Integer => Value.I64(i.longValue)
    case l: java.lang.Long => Value.I64(l)
    case f: java.lang.Float => Value.F64(f.doubleValue)
    case d: java.lang.Double => Value.F64(d)
    case s: CharSequence => Value.Str(s.toString)
    case b: ByteBuffer =>
      val arr = new Array[Byte](b.remaining())
      b.duplicate().get(arr)
      Value.Bytes(arr)
    case f: GenericData.Fixed => Value.Bytes(f.bytes.clone)
    case e: GenericData.EnumSymbol => Value.Str(e.toString)
    case r: GenericRecord =>
      Value.Map(r.getSchema.getFields.asScala.toVector.map { f =>
        (Value.Str(f.name): Value, fromAvro(r.get(f.pos)))
      })
    case m: java.util.Map[_, _] =>
      Value.Map(m.asScala.toVector.map { case (k, v) =>
        (Value.Str(k.toString): Value, fromAvro(v.asInstanceOf[AnyRef]))
      })
    case a: java.util.Collection[_] =>
      Value.Seq(a.asScala.toVector.map(x => fromAvro(x.asInstanceOf[AnyRef])))
  }

  /** Every map's entries sorted by key: Avro maps are unordered. */
  private def sorted(v: Value): Value = v match {
    case Value.Map(kvs) => Value.Map(kvs.map { case (k, e) => (k, sorted(e)) }
      .sortBy(kv => JsonCodec.emit(kv._1)))
    case Value.Seq(vs) => Value.Seq(vs.map(sorted))
    case other => other
  }

  /** A seeded datum of `s`; maps are LinkedHashMaps, so their wire
    * order is their insertion order.
    */
  private def gen(s: Schema, depth: Int): Gen[AnyRef] = s.getType match {
    case Schema.Type.NULL => Gen.const(null)
    case Schema.Type.BOOLEAN => Gen.oneOf(true, false).map(Boolean.box)
    case Schema.Type.INT => Gen.chooseNum(Int.MinValue, Int.MaxValue).map(Int.box)
    case Schema.Type.LONG => Gen.chooseNum(Long.MinValue, Long.MaxValue).map(Long.box)
    case Schema.Type.FLOAT => Gen.chooseNum(-1e6f, 1e6f).map(Float.box)
    case Schema.Type.DOUBLE => Gen.chooseNum(-1e300, 1e300).map(Double.box)
    case Schema.Type.STRING => Gen.oneOf(Gen.alphaNumStr, Gen.const("žluťoučký ✓"))
    case Schema.Type.BYTES =>
      Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
        .map(bs => ByteBuffer.wrap(bs.toArray))
    case Schema.Type.FIXED =>
      Gen.listOfN(s.getFixedSize, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
        .map(bs => new GenericData.Fixed(s, bs.toArray))
    case Schema.Type.ENUM =>
      Gen.oneOf(s.getEnumSymbols.asScala.toSeq)
        .map(new GenericData.EnumSymbol(s, _))
    case Schema.Type.ARRAY =>
      Gen.choose(0, 40).flatMap(Gen.listOfN(_, gen(s.getElementType, depth)))
        .map(_.asJava)
    case Schema.Type.MAP =>
      Gen.listOf(Gen.zip(Gen.identifier, gen(s.getValueType, depth))).map { kvs =>
        val m = new java.util.LinkedHashMap[String, AnyRef]()
        kvs.foreach { case (k, v) => m.put(k, v) }
        m
      }
    case Schema.Type.UNION =>
      val bs = s.getTypes.asScala.toSeq.filter(b =>
        depth > 0 || b.getType != Schema.Type.RECORD)
      Gen.oneOf(bs).flatMap(gen(_, depth - 1))
    case Schema.Type.RECORD =>
      val fields = s.getFields.asScala.toSeq
      Gen.sequence[Seq[AnyRef], AnyRef](fields.map(f => gen(f.schema, depth)))
        .map { vs =>
          val r = new GenericData.Record(s)
          fields.zip(vs).foreach { case (f, v) => r.put(f.pos, v) }
          r
        }
    case t => throw new IllegalArgumentException(s"no generator for $t")
  }

  /** `n` seeded datums of `schema`. */
  private def datums(n: Int, seed: Long): Seq[GenericData.Record] = {
    var s = org.scalacheck.rng.Seed(seed)
    val out = Seq.newBuilder[GenericData.Record]
    var k = 0
    while (k < n) {
      gen(schema, 3).apply(Gen.Parameters.default, s).foreach { d =>
        out += d.asInstanceOf[GenericData.Record]
        k += 1
      }
      s = s.next
    }
    out.result()
  }

  private def libraryCodec(name: String): CodecFactory = name match {
    case "null" => CodecFactory.nullCodec()
    case "deflate" => CodecFactory.deflateCodec(CodecFactory.DEFAULT_DEFLATE_LEVEL)
    case "snappy" => CodecFactory.snappyCodec()
  }

  /** An OCF of `ds` written by the library; `blocking` encodes each
    * datum with BlockingBinaryEncoder, whose arrays and maps carry
    * negative block counts followed by byte sizes.
    */
  private def libraryOcf(ds: Seq[GenericData.Record], codec: String,
      blocking: Boolean): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val datumWriter = new GenericDatumWriter[AnyRef](schema)
    val w = new DataFileWriter[AnyRef](datumWriter)
    w.setCodec(libraryCodec(codec))
    w.setSyncInterval(2048) // several blocks per file
    w.create(schema, bos)
    ds.foreach { d =>
      if (blocking) {
        val one = new ByteArrayOutputStream()
        val enc = new EncoderFactory().configureBlockSize(64)
          .blockingBinaryEncoder(one, null)
        datumWriter.write(d, enc)
        enc.flush()
        w.appendEncoded(ByteBuffer.wrap(one.toByteArray))
      } else w.append(d)
    }
    w.close()
    bos.toByteArray
  }

  private def libraryRead(bytes: Array[Byte]): Vector[Value] = {
    val r = new DataFileStream[AnyRef](new ByteArrayInputStream(bytes),
      new GenericDatumReader[AnyRef]())
    try r.iterator.asScala.map(fromAvro).toVector finally r.close()
  }

  test("library-written OCFs decode to the old mapping's Values, maps " +
      "in wire order (null/deflate/snappy, negative block counts)") {
    val ds = datums(200, 9101)
    val want = ds.map(fromAvro).toVector
    for (codec <- Seq("null", "deflate", "snappy"); blocking <- Seq(false, true)) {
      val ocf = libraryOcf(ds, codec, blocking)
      val got = AvroCodec.readStream(ocf)
      assert(got == want, s"codec=$codec blocking=$blocking")
      // the library's own reader agrees up to map order
      assert(libraryRead(ocf).map(sorted) == got.map(sorted))
    }
    // blocking really wrote negative counts: the encodings differ
    assert(!libraryOcf(ds.take(5), "null", blocking = true).sameElements(
      libraryOcf(ds.take(5), "null", blocking = false)))
  }

  test("OCFs the codec writes read back equal through DataFileStream") {
    val values = datums(200, 9102).map(fromAvro)
    val ours = AvroCodec.parseSchema(schemaJson)
    for (codec <- Seq("null", "deflate", "snappy")) {
      val ocf = AvroCodec.writeStream(values, ours, codec)
      assert(libraryRead(ocf).map(sorted) == values.map(sorted), s"codec=$codec")
      assert(AvroCodec.readStream(ocf) == values.toVector, s"codec=$codec")
    }
  }

  test("schemas the library rejects are rejected, with a message") {
    def rec(fields: String) =
      s"""{"type":"record","name":"R","fields":[$fields]}"""
    val bad = Seq(
      "unknown type" -> rec("""{"name":"a","type":"integer"}"""),
      "undefined reference" -> rec("""{"name":"a","type":"Nope"}"""),
      "missing name" -> """{"type":"record","fields":[]}""",
      "missing fields" -> """{"type":"record","name":"R"}""",
      "missing symbols" -> rec("""{"name":"e","type":{"type":"enum","name":"E"}}"""),
      "missing size" -> rec("""{"name":"f","type":{"type":"fixed","name":"F"}}"""),
      "duplicate field" -> rec("""{"name":"a","type":"int"},{"name":"a","type":"long"}"""),
      "missing field type" -> rec("""{"name":"a"}"""),
      "redefined name" -> rec(
        """{"name":"a","type":{"type":"fixed","name":"R","size":1}}"""),
      "nested union" -> rec("""{"name":"a","type":["null",["int","long"]]}"""),
      "duplicate union branch" -> rec("""{"name":"a","type":["int","int"]}"""),
      "bad name" -> rec("""{"name":"1a","type":"int"}"""),
      "not json" -> "{\"type\":")
    for ((what, s) <- bad) {
      intercept[Exception](new Schema.Parser().parse(s))
      val e = intercept[IllegalArgumentException](AvroCodec.parseSchema(s))
      assert(e.getMessage.startsWith("avro schema: ") &&
        e.getMessage.length > "avro schema: ".length, what)
    }
    // and what it accepts, the codec accepts
    AvroCodec.parseSchema(schemaJson)
    AvroCodec.parseSchema(rec(
      """{"name":"a","type":{"type":"enum","name":"x.E","symbols":["A"]}},
        |{"name":"b","type":"x.E"},{"name":"c","type":["null","R"]}""".stripMargin))
  }

  test("a 20-key map survives avro→avro and avro→json in wire order") {
    val mapSchema = """{"type":"record","name":"M","fields":[
      {"name":"m","type":{"type":"map","values":"long"}}]}"""
    val keys = (1 to 20).map(i => s"k${(i * 7919) % 101}")
    val rec = Value.obj("m" -> Value.Map(keys.zipWithIndex.map {
      case (k, i) => (Value.Str(k): Value, Value.I64(i.toLong)) }.toVector))
    val ocf = AvroCodec.writeStream(Seq(rec), AvroCodec.parseSchema(mapSchema))
    val opts = Map("avroSchema" -> mapSchema)
    val again = new ByteArrayOutputStream()
    RqFormat.pipe("avro", new ByteArrayInputStream(ocf), Map.empty,
      "avro", again, opts)
    assert(AvroCodec.readStream(again.toByteArray) == Vector(rec))
    val json = new ByteArrayOutputStream()
    RqFormat.pipe("avro", new ByteArrayInputStream(again.toByteArray),
      Map.empty, "json", json, Map.empty)
    assert(new String(json.toByteArray, UTF_8) == JsonCodec.emit(rec) + "\n")
    assert(keys.distinct.size == 20 && keys != keys.sorted)
  }

  // ---- hostile input ----

  private val allocated = java.lang.management.ManagementFactory
    .getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** Decodes `bytes` and returns the records, or the typed failure;
    * any other failure, a JVM Error included, fails the test, as does
    * allocating more than `budget` bytes.
    */
  private def attempt(bytes: Array[Byte], what: String,
      maxBlock: Int = AvroCodec.MaxBlock,
      budget: Long = 32L << 20): Either[Exception, Vector[Value]] = {
    val tid = Thread.currentThread().getId
    val before = allocated.getThreadAllocatedBytes(tid)
    val res =
      try Right(AvroCodec.readIterator(new ByteArrayInputStream(bytes), maxBlock).toVector)
      catch {
        case e @ (_: IllegalArgumentException | _: EOFException) =>
          val m = e.getMessage
          assert(m.startsWith("avro: ") &&
            (m.contains("header") || m.contains("block ")), s"$what: $m")
          Left(e.asInstanceOf[Exception])
        case t: Throwable => fail(s"$what: untyped failure $t", t)
      }
    val used = allocated.getThreadAllocatedBytes(tid) - before
    assert(used < budget, s"$what allocated $used bytes")
    res
  }

  private val smallSchema = AvroCodec.parseSchema(
    """{"type":"record","name":"S","fields":[
      |{"name":"s","type":"string"},{"name":"n","type":["null","long"]},
      |{"name":"xs","type":{"type":"array","items":"double"}},
      |{"name":"m","type":{"type":"map","values":"bytes"}}]}""".stripMargin)

  private val smallRecords = (0 until 6).map(i => Value.obj(
    "s" -> Value.Str("r" * i), "n" -> (if (i % 2 == 0) Value.Unit else Value.I64(i)),
    "xs" -> Value.Seq(Vector.fill(i)(Value.F64(i * 0.5))),
    "m" -> Value.obj("a" -> Value.Bytes(Array.fill(i)(i.toByte)))))

  /** A small OCF of two blocks. */
  private def smallOcf(codec: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val w = AvroCodec.openWriter(bos, smallSchema, codec)
    smallRecords.take(3).foreach(w.write)
    w.flush()
    smallRecords.drop(3).foreach(w.write)
    w.flush()
    bos.toByteArray
  }

  test("truncation at every offset of a small OCF fails typed") {
    for (codec <- Seq("null", "deflate", "snappy")) {
      val ocf = smallOcf(codec)
      assert(attempt(ocf, codec) == Right(smallRecords.toVector))
      for (cut <- 0 until ocf.length)
        attempt(java.util.Arrays.copyOf(ocf, cut), s"$codec cut at $cut") match {
          case Right(got) =>
            // only a cut at a block boundary reads cleanly: a prefix
            assert(smallRecords.startsWith(got), s"$codec cut at $cut")
          case Left(_) => ()
        }
    }
  }

  test("seeded bit flips fail typed or decode, never anything else") {
    val rnd = new scala.util.Random(9103)
    for (codec <- Seq("null", "deflate", "snappy")) {
      val ocf = smallOcf(codec)
      for (k <- 0 until 1500) {
        val b = ocf.clone()
        for (_ <- 0 to k % 3) {
          val i = rnd.nextInt(b.length)
          b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
        }
        attempt(b, s"$codec flip $k")
      }
    }
  }

  private def varint(n: Long): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    var v = (n << 1) ^ (n >> 63)
    while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    o.write(v.toInt)
    o.toByteArray
  }

  /** A null-codec OCF of `schema` whose one block holds `count` and
    * `body` as its data.
    */
  private def handOcf(schema: String, count: Long, body: Array[Byte],
      size: Option[Long] = None): Array[Byte] = {
    val header = AvroCodec.writeStream(Nil, AvroCodec.parseSchema(schema))
    val sync = header.takeRight(16)
    header ++ varint(count) ++ varint(size.getOrElse(body.length.toLong)) ++
      body ++ sync
  }

  test("inflated headers fail typed without allocating the claim") {
    val str = """{"type":"record","name":"S","fields":[{"name":"s","type":"string"}]}"""
    val arr = """{"type":"record","name":"A","fields":[
      {"name":"xs","type":{"type":"array","items":"long"}}]}"""
    val nulls = """{"type":"array","items":"null"}"""
    val cases = Seq(
      "record count" -> handOcf(str, 1L << 40, Array[Byte](2, 'x')),
      "block size" -> handOcf(str, 1, Array[Byte](2, 'x'), Some(Int.MaxValue.toLong * 4)),
      "block size past the input" -> handOcf(str, 1, Array[Byte](2, 'x'), Some((1L << 30) - 1)),
      "string length" -> handOcf(str, 1, varint(1L << 40) ++ Array[Byte]('x')),
      "array count" -> handOcf(arr, 1, varint(1L << 35) ++ Array[Byte](2, 0)),
      "negative array count" -> handOcf(arr, 1, varint(-(1L << 35)) ++ varint(2) ++ Array[Byte](2, 0)),
      "zero-width items" -> handOcf(nulls, 1, varint(1L << 40) ++ Array[Byte](0)),
      "long varint" -> handOcf(str, 1, Array.fill[Byte](11)(0x80.toByte) ++ Array[Byte](1)),
      "metadata length" -> ("Obj\u0001".getBytes(UTF_8) ++ varint(1) ++ varint(1L << 40)),
      "schema nesting" -> {
        val deep = ("[" * 100000 + "]" * 100000).getBytes(UTF_8)
        "Obj\u0001".getBytes(UTF_8) ++ varint(1) ++ varint(11) ++
          "avro.schema".getBytes(UTF_8) ++ varint(deep.length.toLong) ++ deep ++
          varint(0) ++ new Array[Byte](16)
      },
      "snappy length" -> {
        val ocf = AvroCodec.writeStream(Seq(Value.obj("s" -> Value.Str("x"))),
          AvroCodec.parseSchema(str), "snappy")
        val header = AvroCodec.writeStream(Nil, AvroCodec.parseSchema(str), "snappy")
        val body = Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte, 0xff.toByte, 0x0f,
          0, 0, 0, 0, 0)
        header ++ varint(1) ++ varint(body.length.toLong) ++ body ++ ocf.takeRight(16)
      })
    for ((what, bytes) <- cases)
      assert(attempt(bytes, what).isLeft, what)
  }

  test("a deeply nested recursive record fails typed; a deep block " +
      "inflating past the bound fails typed") {
    val listJson = """{"type":"record","name":"L","fields":[
      {"name":"next","type":["null","L"]}]}"""
    val list = AvroCodec.parseSchema(listJson)
    def nest(d: Int): Value =
      (1 to d).foldLeft(Value.obj("next" -> Value.Unit): Value)((v, _) =>
        Value.obj("next" -> v))
    assert(attempt(AvroCodec.writeStream(Seq(nest(100)), list), "depth 100") ==
      Right(Vector(nest(100))))
    // 1500 levels: a union index 1 per level, then the null branch
    val deep = attempt(handOcf(listJson, 1, Array.fill[Byte](1500)(2) :+ 0.toByte),
      "depth 1500")
    assert(deep.left.exists(_.getMessage.contains("nested deeper")))
    intercept[IllegalArgumentException](AvroCodec.writeStream(Seq(nest(600)), list))

    val big = AvroCodec.writeStream(Seq(Value.obj("s" -> Value.Str("a" * 200000))),
      AvroCodec.parseSchema(
        """{"type":"record","name":"S","fields":[{"name":"s","type":"string"}]}"""),
      "deflate")
    assert(big.length < 4096)
    assert(attempt(big, "deflate bomb", maxBlock = 1 << 16)
      .left.exists(_.getMessage.contains("inflates past")))
  }
}
