package graft

import java.io.{ByteArrayOutputStream, InputStream}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.formats._
import graft.sources.RqFormat

/** Constant-memory streaming I/O guarantees (VERDICT round-1 items
  * #2/#3; reference property: json.rs:53-58, messagepack.rs:40-51,
  * cbor.rs:18-25 — one record in flight, never the whole file).
  * These are structural proofs: the decode side consumes records from
  * an input orders of magnitude larger than the heap could slurp; the
  * encode side shows bytes reaching the sink while records are still
  * being written, i.e. no partition-sized buffer.
  */
class StreamIOSpec extends AnyFunSuite {

  /** ~1 TB virtual input of repeating `pattern` bytes — readAllBytes()
    * on this would OOM instantly; incremental decode must not care.
    */
  private final class RepeatingStream(pattern: Array[Byte]) extends InputStream {
    private val total = 1L << 40
    private var pos = 0L
    override def read(): Int =
      if (pos >= total) -1
      else { val b = pattern((pos % pattern.length).toInt); pos += 1; b & 0xff }
    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (pos >= total) return -1
      var i = 0
      while (i < len && pos < total) {
        b(off + i) = pattern((pos % pattern.length).toInt); pos += 1; i += 1
      }
      i
    }
  }

  test("json decode is incremental: first records of a ~1TB stream") {
    val in = new RepeatingStream(
      """{"a":1,"b":[true,null,"x"]} """.getBytes("UTF-8"))
    val it = RqFormat.decodeStream("json", in)
    val first = it.take(3).toVector
    assert(first.size == 3)
    assert(first.forall(_ == Value.obj(
      "a" -> Value.I64(1),
      "b" -> Value.seq(Value.Bool(true), Value.Unit, Value.Str("x")))))
  }

  test("msgpack decode is incremental: first records of a ~1TB stream") {
    val one = MsgPackCodec.encode(
      Value.obj("k" -> Value.Str("v"), "n" -> Value.I64(-7)))
    val it = RqFormat.decodeStream("msgpack", new RepeatingStream(one))
    assert(it.take(5).toVector.size == 5)
  }

  test("cbor decode is incremental: first records of a ~1TB stream") {
    val one = CborCodec.encode(Value.seq(Value.I64(1), Value.Str("x")))
    val it = RqFormat.decodeStream("cbor", new RepeatingStream(one))
    assert(it.take(5).toVector ==
      Vector.fill(5)(Value.seq(Value.I64(1), Value.Str("x"))))
  }

  test("csv decode is incremental: first records of a ~1TB stream") {
    val it = RqFormat.decodeStream("csv",
      new RepeatingStream("a,b,\"c,d\"\n".getBytes("UTF-8")))
    assert(it.take(4).toVector == Vector.fill(4)(
      Value.seq(Value.Str("a"), Value.Str("b"), Value.Str("c,d"))))
  }

  test("raw decode is incremental: first records of a ~1TB stream") {
    val it = RqFormat.decodeStream("raw",
      new RepeatingStream("line one\r\n".getBytes("UTF-8")))
    assert(it.take(4).toVector == Vector.fill(4)(Value.Str("line one")))
  }

  /** Hands out one byte per `read`, whatever the caller asks for. */
  private final class OneByteStream(bytes: Array[Byte]) extends InputStream {
    private var pos = 0
    override def read(): Int =
      if (pos < bytes.length) { pos += 1; bytes(pos - 1) & 0xff } else -1
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0
      else { val c = read(); if (c < 0) -1 else { b(off) = c.toByte; 1 } }
  }

  test("decode through a one-byte-per-read stream equals the in-memory " +
      "decode, with values straddling the read windows") {
    // odd-sized records put every field width across the 64 KiB byte
    // window and the 8 KiB char window; the long values span several
    val small = (0 until 12000).map { i =>
      Value.obj("i" -> Value.I64(i * 7919L - 40000000L),
        "d" -> Value.F64(i / 3.0), "s" -> Value.Str("é中" * (i % 5)),
        "u" -> Value.U64(-1L - i))
    }
    val records = Vector[Value](
      Value.Str("x" * 70000), Value.Str("中" * 30000),
      Value.Bytes(Array.tabulate(100000)(_.toByte))) ++ small ++
      Vector(Value.seq(Value.Str("é" * 40000), Value.F64(-0.5)))
    def viaStream(fmt: String, bytes: Array[Byte]): Vector[Value] =
      RqFormat.decodeStream(fmt, new OneByteStream(bytes)).toVector
    val mp = MsgPackCodec.encodeStream(records)
    assert(mp.length > 3 * 65536)
    assert(viaStream("msgpack", mp) == MsgPackCodec.decodeStream(mp))
    val cb = CborCodec.encodeStream(records)
    assert(viaStream("cbor", cb) == CborCodec.decodeStream(cb))
    val text = records.map(JsonCodec.emit).mkString(" \n")
    val fromText = JsonCodec.parseStream(text)
    assert(fromText.size == records.size)
    assert(viaStream("json", text.getBytes("UTF-8")) == fromText)
  }

  test("record encoders stream bytes out before finish (no partition buffer)") {
    for (fmt <- Seq("json", "csv", "raw", "msgpack", "cbor")) {
      val bos = new ByteArrayOutputStream()
      val enc = RqFormat.encoder(fmt, bos)
      val rec = fmt match {
        case "csv" => Value.seq(Value.Str("x" * 1000))
        case "raw" => Value.Str("x" * 1000)
        case _ => Value.obj("payload" -> Value.Str("x" * 1000))
      }
      // 1000 × ~1KB records ≫ any internal encoder buffer (64 KiB)
      (1 to 1000).foreach(_ => enc.write(rec))
      assert(bos.size() > 100000,
        s"$fmt encoder buffered the partition: only ${bos.size()} bytes " +
          "reached the sink before finish()")
      enc.finish()
    }
  }

  test("avro encoder streams blocks out before finish") {
    val schema = """{"type":"record","name":"R","fields":[
      {"name":"s","type":"string"}]}"""
    val bos = new ByteArrayOutputStream()
    val enc = RqFormat.encoder("avro", bos, Map("avroschema" -> schema))
    // DataFileWriter's block buffer defaults to 64000 bytes — 10k×100B
    // records must spill multiple blocks to the sink before finish()
    (1 to 10000).foreach(_ =>
      enc.write(Value.obj("s" -> Value.Str("y" * 100))))
    assert(bos.size() > 100000,
      s"avro encoder buffered the partition: ${bos.size()} bytes")
    enc.finish()
    // and the result is a valid OCF stream
    val back = AvroCodec.readStream(bos.toByteArray)
    assert(back.size == 10000)
    assert(back.head == Value.obj("s" -> Value.Str("y" * 100)))
  }

  test("rq reader skips dot-prefixed temps and underscore files") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("rq_list")
    Files.writeString(dir.resolve("a.json"), "{\"k\":1}\n")
    Files.writeString(dir.resolve(".b-attempt-7.json.tmp"), "{\"k\":99}\n")
    Files.writeString(dir.resolve("_SUCCESS"), "")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").getOrCreate()
    val got = new graft.RqEngine(spark).read("json", dir.toString)
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("{\"k\":1}"),
      "in-flight attempt temps and markers must be invisible to reads")
  }

  test("rq source reads gzipped inputs transparently; sink writes them") {
    import java.nio.file.Files
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").getOrCreate()
    val engine = new graft.RqEngine(spark)
    // externally-gzipped input (a crawl dump): auto-detected by .gz
    val inDir = Files.createTempDirectory("rq_gz_in")
    val gz = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(inDir.resolve("a.json.gz")))
    gz.write("""{"k":1} {"k":2}""".getBytes("UTF-8"))
    gz.close()
    val got = engine.read("json", inDir.toString)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("""{"k":1}""", """{"k":2}"""))
    // engine-written gzip round-trips through the same reader
    val outDir = Files.createTempDirectory("rq_gz_out").toString
    engine.write("json", engine.read("json", inDir.toString), outDir,
      Map("compression" -> "gzip"))
    val files = new java.io.File(outDir).listFiles().map(_.getName)
      .filterNot(_.startsWith("."))
    assert(files.nonEmpty && files.forall(_.endsWith(".json.gz")), files.toSeq)
    val back = engine.read("json", outDir)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(back == got)
  }

  test("frame-indexed binary shard splits into many partitions and " +
      "reads identically to the whole-file read") {
    import java.nio.file.Files
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").getOrCreate()
    val engine = new graft.RqEngine(spark)
    val dir = Files.createTempDirectory("rq_frames").toString
    // ONE big msgpack shard (coalesce(1)) with a small frame period
    val df = spark.range(0, 20000).selectExpr(
      """concat('{"k":', id, ',"s":"', repeat('x', CAST(id % 37 AS INT)),
        |'"}') AS value""".stripMargin.replace("\n", ""))
      .coalesce(1)
    engine.write("msgpack", df, dir, Map("frameEvery" -> "16384"))
    val files = new java.io.File(dir).listFiles()
    assert(files.count(f => f.getName.endsWith(".mp") &&
      !f.getName.startsWith(".")) == 1, files.map(_.getName).toSeq)
    assert(files.exists(_.getName.endsWith(".rqx")),
      "sidecar frame index missing")
    val split = engine.read("msgpack", dir)
    val nParts = split.rdd.getNumPartitions
    assert(nParts > 4, s"one big file must split (got $nParts partitions)")
    val got = split.collect().map(_.getString(0)).sorted.toSeq
    assert(got.size == 20000)
    // same file WITHOUT the sidecar = the proven one-partition path;
    // the split read must be record-identical to it
    files.filter(_.getName.endsWith(".rqx")).foreach(f =>
      assert(f.delete()))
    val whole = engine.read("msgpack", dir)
    assert(whole.rdd.getNumPartitions == 1)
    assert(whole.collect().map(_.getString(0)).sorted.toSeq == got,
      "split read diverged from the unsplit read")
  }

  test("framed json/csv/raw shards mark record starts, and the split " +
      "read equals the unsplit read") {
    import java.nio.file.Files
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").getOrCreate()
    val engine = new graft.RqEngine(spark)
    // JSON text rows, one record shape per sink, of varying length
    val rows = Map(
      "json" -> """concat('{"k":', id, ',"s":"',
        |repeat('é', CAST(id % 23 AS INT)), '"}')""",
      "csv" -> """concat('["', id, '","a,b","',
        |repeat('q', CAST(id % 17 AS INT)), '"]')""",
      "raw" -> """concat('"line ', id, ' ',
        |repeat('z', CAST(id % 29 AS INT)), '"')""")
      .map { case (f, e) => f -> e.stripMargin.replace("\n", "") }
    for ((fmt, expr) <- rows) {
      val dir = Files.createTempDirectory(s"rq_fr_$fmt").toString
      val df = spark.range(0, 3000).selectExpr(s"$expr AS value").coalesce(1)
      engine.write(fmt, df, dir, Map("frameEvery" -> "1024"))
      val files = new java.io.File(dir).listFiles()
      val data = files.filter(f => !f.getName.startsWith(".")).head
      val bytes = Files.readAllBytes(data.toPath)
      val sc = files.find(_.getName.endsWith(".rqx")).get
      val offs = Files.readAllLines(sc.toPath).asScala.toSeq.tail
        .filter(_.nonEmpty).map(_.toLong)
      assert(offs.size > 4, s"$fmt: ${offs.size} marks")
      // a mark is the end of the record where the period ran out
      offs.foldLeft(0L) { (prev, o) =>
        assert(o - prev >= 1024 && o <= bytes.length, s"$fmt: mark $o")
        assert(bytes((o - 1).toInt) == '\n', s"$fmt: $o is no record start")
        o
      }
      val split = engine.read(fmt, dir)
      assert(split.rdd.getNumPartitions ==
        offs.count(_ < bytes.length) + 1, fmt)
      val got = split.collect().map(_.getString(0)).sorted.toSeq
      assert(got.size == 3000, fmt)
      sc.delete()
      val whole = engine.read(fmt, dir)
      assert(whole.rdd.getNumPartitions == 1, fmt)
      assert(whole.collect().map(_.getString(0)).sorted.toSeq == got,
        s"$fmt: split read diverged from the unsplit read")
    }
  }

  test("frame index is not written for gzip or whole-doc formats, " +
      "and a corrupt sidecar degrades to the unsplit read") {
    import java.nio.file.Files
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").getOrCreate()
    val engine = new graft.RqEngine(spark)
    val df = spark.range(0, 2000)
      .selectExpr("""concat('{"k":', id, '}') AS value""").coalesce(1)
    val gzDir = Files.createTempDirectory("rq_fr_gz").toString
    engine.write("json", df, gzDir,
      Map("frameEvery" -> "1024", "compression" -> "gzip"))
    assert(!new java.io.File(gzDir).listFiles()
      .exists(_.getName.endsWith(".rqx")),
      "gzip shards must not carry a frame index")
    val dir = Files.createTempDirectory("rq_fr_bad").toString
    engine.write("json", df, dir, Map("frameEvery" -> "1024"))
    val sc = new java.io.File(dir).listFiles()
      .find(_.getName.endsWith(".rqx")).get
    Files.writeString(sc.toPath, "rqx1\n999999999\n5\n") // non-monotone
    val read = engine.read("json", dir)
    assert(read.rdd.getNumPartitions == 1,
      "corrupt sidecar must fall back to the whole-file read")
    assert(read.count() == 2000)
  }

  test("overwrite truncates stale shards even when extensions change") {
    import java.nio.file.Files
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").getOrCreate()
    val engine = new graft.RqEngine(spark)
    val inDir = Files.createTempDirectory("rq_tr_in")
    Files.writeString(inDir.resolve("a.json"), """{"k":1} {"k":2}""")
    val outDir = Files.createTempDirectory("rq_tr_out").toString
    engine.write("json", engine.read("json", inDir.toString), outDir)
    // second overwrite writes .json.gz shards — run 1's .json shards
    // must be truncated, not left to double-read
    engine.write("json", engine.read("json", inDir.toString), outDir,
      Map("compression" -> "GZIP")) // value is case-insensitive
    val back = engine.read("json", outDir)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(back == Seq("""{"k":1}""", """{"k":2}"""),
      "stale uncompressed shards must not survive an overwrite")
  }

  test("stale frame sidecars do not survive an unframed overwrite") {
    import java.nio.file.Files
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").getOrCreate()
    val engine = new graft.RqEngine(spark)
    val dir = Files.createTempDirectory("rq_fr_stale").toString
    val big = spark.range(0, 5000)
      .selectExpr("""concat('{"k":', id, '}') AS value""").coalesce(1)
    // run 1: framed — sidecar written for part-00000.json
    engine.write("json", big, dir, Map("frameEvery" -> "1024"))
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.endsWith(".rqx")))
    // run 2: same shard name, NO framing, different (shorter) bytes.
    // A surviving run-1 sidecar would split the new file at the old
    // offsets — mid-record for json — silently corrupting the read.
    val small = spark.range(0, 7)
      .selectExpr("""concat('{"j":', id, '}') AS value""").coalesce(1)
    engine.write("json", small, dir)
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.endsWith(".rqx")),
      "stale .rqx sidecar survived the unframed overwrite")
    val read = engine.read("json", dir)
    assert(read.rdd.getNumPartitions == 1)
    assert(read.collect().map(_.getString(0)).sorted.toSeq ==
      (0 until 7).map(i => s"""{"j":$i}""").sorted)
  }

  test("limit pushdown stops decoding: head of a file with a poisoned tail") {
    import java.nio.file.Files
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").getOrCreate()
    val dir = Files.createTempDirectory("rq_limit")
    // 3 good records, then garbage that would throw if decoded — a
    // pushed limit of 2 must return before reaching it
    Files.writeString(dir.resolve("a.json"),
      """{"k":1} {"k":2} {"k":3} THIS-IS-NOT-JSON""")
    val df = spark.read
      .format(classOf[graft.sources.RqTableProvider].getName)
      .option("recordFormat", "json").load(dir.toString)
    val got = df.limit(2).collect().map(_.getString(0)).toSeq
    assert(got == Seq("""{"k":1}""", """{"k":2}"""))
    // the scan advertises the pushed limit
    val plan = df.limit(2).queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 2"), plan)
    // without a limit the garbage tail correctly errors
    intercept[Exception] { df.collect() }
  }

  test("streamed encode output round-trips for every record format") {
    val records = Vector(
      Value.obj("a" -> Value.I64(1), "b" -> Value.Str("x")),
      Value.obj("a" -> Value.I64(2), "b" -> Value.Str("y")))
    for (fmt <- Seq("json", "msgpack", "cbor")) {
      val bos = new ByteArrayOutputStream()
      RqFormat.encode(fmt, records.iterator, bos)
      val back = RqFormat.decode(fmt, bos.toByteArray).toVector
      assert(back == records, fmt)
    }
  }
}
