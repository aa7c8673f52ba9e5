package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.CodecFns

/** End-to-end rq engine tests: DSv2 source/sink round-trips across the
  * codec matrix (the reference's identity pipeline, §2.3), typed reads
  * via schema inference, and the codec Catalyst expressions.
  */
class RqEngineSpec extends SparkSpec {

  private lazy val engine = new RqEngine(spark)
  private def tmp(): String =
    Files.createTempDirectory("rqspec").toString

  private val ndjson =
    """{"id":1,"name":"a","vals":[1,2]}
      |{"id":2,"name":"b","vals":[3]}
      |{"id":3,"name":"c","vals":[]}
      |""".stripMargin

  private def writeInput(): String = {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(dir, "in.json"), ndjson)
    dir
  }

  test("identity pipeline json→json (rq default path, §2.3)") {
    val in = writeInput()
    val out = tmp()
    engine.run("json", in, "json", out)
    val got = engine.read("json", out).orderBy("value").collect()
      .map(_.getString(0)).toSeq
    assert(got == Seq(
      """{"id":1,"name":"a","vals":[1,2]}""",
      """{"id":2,"name":"b","vals":[3]}""",
      """{"id":3,"name":"c","vals":[]}"""))
  }

  test("format matrix round-trips: json → {msgpack,cbor} → json") {
    for (mid <- Seq("msgpack", "cbor")) {
      val in = writeInput()
      val midDir = tmp()
      val out = tmp()
      engine.run("json", in, mid, midDir)
      engine.run(mid, midDir, "json", out)
      val got = engine.read("json", out).collect()
        .map(_.getString(0)).sorted.toSeq
      assert(got == Seq(
        """{"id":1,"name":"a","vals":[1,2]}""",
        """{"id":2,"name":"b","vals":[3]}""",
        """{"id":3,"name":"c","vals":[]}"""), s"via $mid")
    }
    // yaml: the sink writes one doc per record but the SOURCE reads the
    // whole input as ONE document (reference asymmetry, SURVEY S8) — so
    // round-trip only a single record through yaml.
    val in = tmp()
    Files.writeString(java.nio.file.Paths.get(in, "one.json"),
      """{"id":1,"name":"a","vals":[1,2]}""" + "\n")
    val midDir = tmp()
    val out = tmp()
    engine.run("json", in, "yaml", midDir)
    engine.run("yaml", midDir, "json", out)
    assert(engine.read("json", out).collect().map(_.getString(0)).toSeq ==
      Seq("""{"id":1,"name":"a","vals":[1,2]}"""))
  }

  test("raw source: line → string record; raw sink type guard") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(dir, "in.txt"),
      "hello\n\nwörld\n")
    val got = engine.read("raw", dir).collect().map(_.getString(0)).toSeq
    assert(got == Seq("\"hello\"", "\"\"", "\"wörld\""))
    // raw out: strings verbatim
    val out = tmp()
    engine.run("raw", dir, "raw", out)
    val files = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".txt"))
    val content = files.map(f =>
      Files.readString(f.toPath)).mkString
    assert(content.split("\n", -1).sorted.mkString == Seq("hello", "", "wörld", "").sorted.mkString)
    // non-string record → error (raw.rs:68-71)
    val objIn = writeInput()
    intercept[Exception] {
      engine.run("json", objIn, "raw", tmp())
    }
  }

  test("csv round-trip with reference semantics (all-string cells)") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(dir, "in.csv"),
      "a,1,true\n\"x,y\",2,false\n")
    val got = engine.read("csv", dir).collect().map(_.getString(0)).toSeq
    assert(got == Seq("""["a","1","true"]""", """["x,y","2","false"]"""))
    val out = tmp()
    engine.run("csv", dir, "csv", out)
    val back = engine.read("csv", out).collect().map(_.getString(0)).toSeq
    assert(back.sorted == got.sorted)
  }

  test("toml/yaml whole-document single-record semantics") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(dir, "cfg.toml"),
      "title = \"t\"\n[a]\nb = 1\n")
    val got = engine.read("toml", dir).collect().map(_.getString(0))
    assert(got.toSeq == Seq("""{"title":"t","a":{"b":1}}"""))
  }

  test("avro sink requires writer schema; round-trips with codec") {
    val in = writeInput()
    val avroDir = tmp()
    val schema =
      """{"type":"record","name":"R","fields":[
        |{"name":"id","type":"long"},{"name":"name","type":"string"},
        |{"name":"vals","type":{"type":"array","items":"long"}}]}"""
        .stripMargin
    intercept[Exception] { engine.run("json", in, "avro", tmp()) }
    engine.write("avro", engine.read("json", in), avroDir,
      Map("avroSchema" -> schema, "codec" -> "deflate"))
    val back = engine.read("avro", avroDir).collect()
      .map(_.getString(0)).sorted.toSeq
    assert(back == Seq(
      """{"id":1,"name":"a","vals":[1,2]}""",
      """{"id":2,"name":"b","vals":[3]}""",
      """{"id":3,"name":"c","vals":[]}"""))
  }

  test("typed read infers schema (ValueVisitor analog)") {
    val in = writeInput()
    val df = engine.readTyped("json", in)
    assert(df.schema.fieldNames.sorted.toSeq == Seq("id", "name", "vals"))
    assert(df.where(col("id") === 2).select("name")
      .collect()(0).getString(0) == "b")
  }

  test("protobuf one-shot source via expression + registry") {
    val proto =
      """syntax = "proto3";
        |package example;
        |message Person { string name = 1; int32 age = 2; }
        |""".stripMargin
    // via expression (schema in plan)
    import spark.implicits._
    val bytes = Array[Byte](0x0a, 3, 'A', 'd', 'a', 0x10, 36)
    val df = Seq(bytes).toDF("payload")
      .select(CodecFns.from_protobuf(col("payload"), proto,
        ".example.Person").as("v"))
    assert(df.collect()(0).getString(0) == """{"name":"Ada","age":36}""")

    // via registry + DSv2 one-shot source
    val regDir = Files.createTempDirectory("registry")
    val protoFile = Files.writeString(
      Files.createTempDirectory("p").resolve("person.proto"), proto)
    val reg = new graft.formats.ProtoRegistry(regDir)
    reg.add(protoFile)
    assert(reg.descriptors().messages.contains("example.Person"))
    // mtime cache: second call hits cache (no recompile observable →
    // just assert stability)
    assert(reg.decodeMessage(bytes, ".example.Person") ==
      graft.formats.Value.obj(
        "name" -> graft.formats.Value.Str("Ada"),
        "age" -> graft.formats.Value.I64(36)))

    val dataDir = tmp()
    Files.write(java.nio.file.Paths.get(dataDir, "person.pb"), bytes)
    val oneShot = engine.read("protobuf", dataDir,
      Map("message" -> ".example.Person", "protoSchema" -> proto))
    assert(oneShot.collect().map(_.getString(0)).toSeq ==
      Seq("""{"name":"Ada","age":36}"""))
  }

  test("codec expressions: msgpack/cbor/toml/yaml round-trip in SQL") {
    CodecFns.registerAll(spark)
    val r = spark.sql(
      """SELECT from_msgpack(to_msgpack(j)) AS mp,
        |       from_cbor(to_cbor(j)) AS cb,
        |       from_yaml(to_yaml(j)) AS ym,
        |       from_toml(to_toml(t)) AS tm
        |FROM (SELECT '{"a":1,"b":[true,null,"x"]}' AS j,
        |             '{"a":1,"b":[true,2.5,"x"]}' AS t)""".stripMargin)
      .collect()(0)
    val expected = """{"a":1,"b":[true,null,"x"]}"""
    assert(r.getString(0) == expected)
    assert(r.getString(1) == expected)
    assert(r.getString(2) == expected)
    // toml has no null → the toml branch uses a null-free record
    assert(r.getString(3) == """{"a":1,"b":[true,2.5,"x"]}""")
  }

  test("variant read carries heterogeneous streams (tutorial input)") {
    val dir = tmp()
    Files.writeString(java.nio.file.Paths.get(dir, "het.json"),
      "null\ntrue\n{\"a\": 2.5}\n")
    val df = engine.readVariant("json", dir)
    assert(df.schema.fields(0).dataType.typeName == "variant")
    // shred the object record; scalar records pass through as variant
    val objs = df.selectExpr(
      "variant_get(value, '$.a', 'double') AS a")
      .where(col("a").isNotNull).collect()
    assert(objs.map(_.getDouble(0)).toSeq == Seq(2.5))
    assert(df.count() == 3)
  }

  test("GraftExtensions registers functions at session build time") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // force-init shared session before detaching it
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = s2.sql(
        """SELECT from_cbor(to_cbor('{"x":7}')) AS j,
          |       dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp,
          |       size(word_shingles('a b c d')) AS ns
          |FROM (SELECT 1)""".stripMargin).collect()(0)
      assert(r.getString(0) == """{"x":7}""")
      assert(r.getDouble(1) == 11.0)
      assert(r.getInt(2) == 2)
      // aggregate+scalar sketch pair through pure SQL
      val b = s2.sql(
        """WITH bf AS (SELECT graft_bloom(s) AS bf FROM (
          |  SELECT explode(array('x', 'y')) AS s))
          |SELECT bloom_might_contain(bf, 'x') AS hit,
          |       bloom_might_contain(bf, 'zebra') AS miss FROM bf"""
          .stripMargin).collect()(0)
      assert(b.getBoolean(0) && !b.getBoolean(1))
    } finally { // restore the shared session (same SparkContext)
      org.apache.spark.sql.SparkSession.setDefaultSession(prev)
      org.apache.spark.sql.SparkSession.setActiveSession(prev)
    }
  }

  // ---- binary row form: engine.run against the JSON text row ----

  private val provider = classOf[graft.sources.RqTableProvider].getName

  /** Every file of an output directory, sidecars and checksums included;
    * avro shards as their records, since each OCF file carries a random
    * sync marker.
    */
  private def tree(dir: String): Map[String, Any] =
    new java.io.File(dir).listFiles().filter(_.isFile).collect {
      case f if f.getName.endsWith(".avro") => f.getName ->
        graft.formats.AvroCodec.readStream(Files.readAllBytes(f.toPath))
      case f if !f.getName.endsWith(".avro.crc") =>
        f.getName -> Files.readAllBytes(f.toPath).toSeq
    }.toMap

  private def chain(t: Throwable): List[Throwable] =
    if (t == null) Nil else t :: chain(t.getCause)

  /** Runs `in → out` through `engine.run` (binary rows) and through
    * `write(read(...))` (JSON text rows): both must write the same
    * bytes or fail with the same root cause. Returns whether they
    * wrote.
    */
  private def sameAsTextPath(in: String, inDir: String, out: String,
      opts: Map[String, String]): Boolean = {
    import scala.util.{Failure, Success, Try}
    val refDir = tmp()
    val gotDir = tmp()
    val ref = Try(engine.write(out, engine.read(in, inDir, opts), refDir, opts))
    val got = Try(engine.run(in, inDir, out, gotDir, opts))
    (ref, got) match {
      case (Success(_), Success(_)) =>
        assert(tree(gotDir) == tree(refDir), s"$in -> $out $opts")
        true
      case (Failure(a), Failure(b)) =>
        val (ra, rb) = (chain(a).last, chain(b).last)
        assert(ra.getClass == rb.getClass && ra.getMessage == rb.getMessage,
          s"$in -> $out: text path failed with $ra, run with $rb")
        false
      case _ => fail(s"$in -> $out $opts: text path $ref, run $got")
    }
  }

  private val avroSchema =
    """{"type":"record","name":"R","fields":[{"name":"id","type":"long"},
      |{"name":"name","type":"string"},
      |{"name":"vals","type":{"type":"array","items":"long"}}]}"""
      .stripMargin
  private val personProto =
    """syntax = "proto3";
      |package example;
      |message Person { string name = 1; int32 age = 2; }
      |""".stripMargin
  private val matrixOpts = Map("avroSchema" -> avroSchema,
    "message" -> ".example.Person", "protoSchema" -> personProto)

  /** Records with every value the JSON text hop changes: tagged widths
    * (typed reads), f32, NaN/±Inf, −0.0, doubles ≥ 1e15, u64, bytes,
    * non-string and nested keys, duplicate keys, lone surrogates.
    */
  private lazy val edgeRecords: Seq[graft.formats.Value] = {
    import graft.formats.Value._
    Vector(
      obj("id" -> I64(1), "name" -> Str("a"), "vals" -> seq(I64(1), I64(2))),
      obj("id" -> I64(2), "name" -> Str("b\uD800"), "vals" -> seq()),
      obj("f32" -> F32(1.1f), "max" -> F32(3.4028235e38f), "nz" -> F64(-0.0),
        "nan" -> F64(Double.NaN), "inf" -> F64(Double.NegativeInfinity),
        "big" -> F64(1e15), "bigger" -> F64(123456789012345678.0),
        "u" -> U64(-1L), "u8" -> I64(200), "neg" -> I64(-70000)),
      Map(Vector(I64(7) -> Bytes(Array[Byte](0, -1, 7)),
        seq(Str("k"), F64(0.5)) -> Unit,
        obj("n" -> Str("\"q\"")) -> Bool(true),
        Str("dup") -> I64(1), Str("dup") -> I64(2))),
      seq(Str("x\uDC00y"), F64(Double.PositiveInfinity), Bytes(Array[Byte](9))))
  }

  /** What a binary row holds for each record of `inputs("msgpack")`. */
  private lazy val edgeRows = {
    import graft.formats._
    MsgPackCodec.decodeStream(MsgPackCodec.encodeStream(edgeRecords))
      .map(JsonCodec.normalize)
  }

  /** One input directory per readable format. */
  private lazy val inputs: Map[String, String] = {
    import graft.formats._
    def put(name: String, bytes: Array[Byte]): String = {
      val dir = tmp()
      Files.write(java.nio.file.Paths.get(dir, name), bytes)
      dir
    }
    def text(name: String, s: String) = put(name, s.getBytes("UTF-8"))
    Map(
      "json" -> text("in.json", ndjson +
        "{\"s\":\"lone \\ud800\",\"z\":-0.0,\"e\":1e15," +
        "\"u\":18446744073709551615,\"d\":{\"k\":1,\"k\":2}," +
        "\"f\":[1.5e300,-2.5,0.1]}\n7 \"x\" null\n"),
      "csv" -> text("in.csv", "a,1,true\n\"x,y\",2,false\n\n,\n"),
      "raw" -> text("in.txt", "hello\n\nw\u00f6rld\n"),
      "toml" -> text("in.toml", "title = \"t\"\nf = 1.5\n[a]\nb = 1\n"),
      "yaml" -> text("in.yaml", "a: 1\nb: [x, 2.5, -0.0]\nc: null\n"),
      "msgpack" -> put("in.mp", MsgPackCodec.encodeStream(edgeRecords)),
      "cbor" -> put("in.cbor", CborCodec.encodeStream(edgeRecords)),
      "avro" -> put("in.avro", AvroCodec.writeStream(Seq(
        Value.obj("id" -> Value.I64(1), "name" -> Value.Str("a"),
          "vals" -> Value.seq(Value.I64(1), Value.I64(-2))),
        Value.obj("id" -> Value.I64(2), "name" -> Value.Str("\u00e9"),
          "vals" -> Value.seq())),
        AvroCodec.parseSchema(avroSchema), "deflate")),
      "protobuf" -> put("in.pb",
        Array[Byte](0x0a, 3, 'A', 'd', 'a', 0x10, 36)))
  }

  private val writable =
    Seq("json", "csv", "msgpack", "cbor", "toml", "yaml", "raw", "avro")

  test("engine.run writes the same bytes as write(read(...)) for every " +
      "readable x writable pair") {
    val wrote = for {
      in <- graft.sources.RqFormat.names
      out <- writable
      if sameAsTextPath(in, inputs(in), out, matrixOpts)
    } yield in -> out
    // the sinks every input can reach must have written, not only agreed
    for (in <- graft.sources.RqFormat.names; out <- Seq("json", "msgpack",
        "cbor", "yaml"))
      assert(wrote.contains(in -> out), s"$in -> $out did not write")
    for (pair <- Seq("csv" -> "csv", "raw" -> "raw", "avro" -> "avro",
        "avro" -> "toml", "toml" -> "toml"))
      assert(wrote.contains(pair), s"$pair did not write")
  }

  test("engine.run byte identity holds for typed reads, framed and " +
      "gzip outputs") {
    for (in <- Seq("msgpack", "cbor"); out <- writable)
      sameAsTextPath(in, inputs(in), out, matrixOpts + ("typed" -> "true"))
    for (in <- Seq("json", "msgpack"); out <- Seq("json", "msgpack", "cbor"))
      assert(sameAsTextPath(in, inputs(in), out,
        Map("compression" -> "gzip")), s"$in -> $out gzip")
    // framed: large enough that the msgpack sink's 64 KiB buffer drains
    // several times between marks, so the sidecar offsets are exercised
    import graft.formats._
    val big = (0 until 4000).map(i => Value.obj("k" -> Value.I64(i),
      "s" -> Value.Str("x" * (i % 97)), "f" -> Value.F64(i / 7.0),
      "t" -> Value.F32(i / 3.0f)))
    val bigDir = tmp()
    Files.write(java.nio.file.Paths.get(bigDir, "big.mp"),
      MsgPackCodec.encodeStream(big))
    for (out <- Seq("json", "msgpack", "cbor");
        typed <- Seq("false", "true")) {
      val opts = Map("frameEvery" -> "4096", "typed" -> typed)
      assert(sameAsTextPath("msgpack", bigDir, out, opts), s"-> $out $opts")
    }
    val framed = tmp()
    engine.run("msgpack", bigDir, "msgpack", framed,
      Map("frameEvery" -> "4096"))
    assert(new java.io.File(framed).list().exists(_.endsWith(".rqx")))
  }

  test("row forms: read stays STRING, the schema selects the form, " +
      "others are rejected") {
    val dir = inputs("msgpack")
    assert(engine.read("msgpack", dir).schema ==
      graft.sources.RqTableProvider.schema)
    val rows = spark.read.format(provider).option("recordFormat", "msgpack")
      .schema("value BINARY").load(dir)
    assert(rows.schema.fields.map(_.dataType).toSeq ==
      Seq(org.apache.spark.sql.types.BinaryType))
    assert(rows.collect().map(r => graft.formats.MsgPackCodec.decodeStream(
      r.getAs[Array[Byte]](0)).head).toSeq == edgeRows)
    for (bad <- Seq("value INT", "value STRING, other STRING", "v STRING")) {
      val ex = intercept[Exception] {
        spark.read.format(provider).option("recordFormat", "msgpack")
          .schema(bad).load(dir).collect()
      }
      assert(chain(ex).exists(_.getMessage.contains("`value BINARY`")), bad)
    }
  }

  test("a malformed binary row fails the sink with a typed error and " +
      "commits no shard") {
    import spark.implicits._
    import graft.formats.{MsgPackCodec, Value}
    val good = MsgPackCodec.encode(Value.obj("k" -> Value.I64(1)))
    val bad = Seq(
      "msgpack" -> good.init, // truncated
      "msgpack" -> (good ++ good), // two values
      "msgpack" -> MsgPackCodec.encode(Value.Bytes(Array[Byte](1))), // bin
      "msgpack" -> Array(0xcc, 5).map(_.toByte), // non-minimal uint8
      "json" -> (good :+ 0xc0.toByte)) // trailing byte, decoding sink
    for ((fmt, row) <- bad) {
      val out = tmp()
      val ex = intercept[Exception] {
        Seq(good, row).toDF("value").coalesce(1).write.format(provider)
          .option("recordFormat", fmt).mode("overwrite").save(out)
      }
      assert(chain(ex).exists(
        _.isInstanceOf[graft.sources.InvalidRowException]), s"$fmt: $ex")
      assert(new java.io.File(out).list().forall(n =>
        n.startsWith(".") || n.startsWith("_")), s"$fmt committed a shard")
    }
  }

  test("a null value row fails the sink with a typed error, both row " +
      "forms") {
    import spark.implicits._
    val good = graft.formats.MsgPackCodec.encode(graft.formats.Value.I64(1))
    val frames = Seq(
      Seq(Some("1"), None).toDF("value"),
      Seq(Some(good), None).toDF("value"))
    for (df <- frames; fmt <- Seq("msgpack", "json")) {
      val out = tmp()
      val ex = intercept[Exception] {
        df.coalesce(1).write.format(provider).option("recordFormat", fmt)
          .mode("overwrite").save(out)
      }
      assert(chain(ex).exists(e =>
        e.isInstanceOf[graft.sources.InvalidRowException] &&
          e.getMessage.contains("null")), s"$fmt: $ex")
      assert(new java.io.File(out).list().forall(n =>
        n.startsWith(".") || n.startsWith("_")), s"$fmt committed a shard")
    }
  }

  test("streaming: readStream with value BINARY -> writeStream rq " +
      "round-trips") {
    val outDir = tmp()
    val q = spark.readStream.format(provider)
      .option("recordFormat", "msgpack").schema("value BINARY")
      .load(inputs("msgpack"))
      .writeStream.format(provider)
      .option("recordFormat", "msgpack").option("path", outDir)
      .option("checkpointLocation", tmp())
      .start()
    try q.processAllAvailable() finally q.stop()
    val shards = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".mp"))
    assert(shards.length == 1)
    assert(graft.formats.MsgPackCodec.decodeStream(
      Files.readAllBytes(shards(0).toPath)) == edgeRows)
  }

  test("protobuf sink unimplemented (K11 parity)") {
    val in = writeInput()
    val ex = intercept[Exception] {
      engine.run("json", in, "protobuf", tmp())
    }
    assert(chain(ex).exists(_.isInstanceOf[UnsupportedOperationException]))
  }
}
