package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.Cli.{CliError, Options, ProtobufAdd}

/** CLI parity tests: a direct port of the reference's ~27 clap parse
  * tests (rq.rs:465-652) onto [[Cli.parse]] (argv without the binary
  * name), plus end-to-end pipe tests over the identity pipeline.
  */
class CliSpec extends AnyFunSuite {

  private def parse(args: String*): Options = Cli.parse(args)

  // ------------------------- ported parse tests (rq.rs:476-652)

  test("docopt kitchen sink (rq.rs:477)") {
    val a = parse("-l", "info", "-jP", ".foo.Bar", "select x")
    assert(a.inputJson)
    assert(a.outputProtobuf.contains(".foo.Bar"))
    assert(a.log.contains("info"))
    assert(a.query.contains("select x"))
  }

  test("no args (rq.rs:486)") { assert(parse() == Options()) }

  test("--help recognized (rq.rs:496)") { assert(parse("--help").help) }

  test("input json short/long (rq.rs:501,507)") {
    assert(parse("-j").inputJson)
    assert(parse("--input-json").inputJson)
  }

  test("output json short/long (rq.rs:513,519)") {
    assert(parse("-J").outputJson)
    assert(parse("--output-json").outputJson)
  }

  test("input raw short/long (rq.rs:525,531)") {
    assert(parse("-r").inputRaw)
    assert(parse("--input-raw").inputRaw)
  }

  test("output raw short/long (rq.rs:537,543)") {
    assert(parse("-R").outputRaw)
    assert(parse("--output-raw").outputRaw)
  }

  test("input csv short/long (rq.rs:549,555)") {
    assert(parse("-v").inputCsv)
    assert(parse("--input-csv").inputCsv)
  }

  test("output csv short/long (rq.rs:561,567)") {
    assert(parse("-V").outputCsv)
    assert(parse("--output-csv").outputCsv)
  }

  test("input cbor short/long (rq.rs:573,579)") {
    assert(parse("-c").inputCbor)
    assert(parse("--input-cbor").inputCbor)
  }

  test("output cbor short/long (rq.rs:585,591)") {
    assert(parse("-C").outputCbor)
    assert(parse("--output-cbor").outputCbor)
  }

  test("input protobuf short/long (rq.rs:597,603)") {
    assert(parse("-p", ".foo.Bar").inputProtobuf.contains(".foo.Bar"))
    assert(parse("--input-protobuf", ".foo.Bar")
      .inputProtobuf.contains(".foo.Bar"))
  }

  test("output protobuf short/long (rq.rs:609,615)") {
    assert(parse("-P", ".foo.Bar").outputProtobuf.contains(".foo.Bar"))
    assert(parse("--output-protobuf", ".foo.Bar")
      .outputProtobuf.contains(".foo.Bar"))
  }

  test("protobuf add schema subcommand (rq.rs:621)") {
    val a = parse("-l", "info", "protobuf", "add", "schema.proto")
    assert(a.log.contains("info"))
    assert(a.subcmd.contains(ProtobufAdd("schema.proto", None)))
  }

  test("--format compact/readable/indented (rq.rs:636,642,648)") {
    assert(parse("--format", "compact").format.contains("compact"))
    assert(parse("--format", "readable").format.contains("readable"))
    assert(parse("--format", "indented").format.contains("indented"))
  }

  // ------------------------- graft-added parse coverage

  test("remaining format flags: -a -m -t -y, -A with value") {
    assert(parse("-a").inputAvro && parse("--input-avro").inputAvro)
    assert(parse("-m").inputMsgPack &&
      parse("--input-message-pack").inputMsgPack)
    assert(parse("-t").inputToml && parse("--input-toml").inputToml)
    assert(parse("-y").inputYaml && parse("--input-yaml").inputYaml)
    assert(parse("-M").outputMsgPack && parse("-T").outputToml &&
      parse("-Y").outputYaml)
    assert(parse("-A", "s.avsc").outputAvro.contains("s.avsc"))
    assert(parse("--output-avro", "s.avsc", "--codec", "deflate")
      .codec.contains("deflate"))
  }

  test("clap argument forms: --long=value, attached short value, " +
      "bundles, -- terminator") {
    assert(parse("--format=indented").format.contains("indented"))
    assert(parse("-p.foo.Bar").inputProtobuf.contains(".foo.Bar"))
    val a = parse("-jC", "-q")
    assert(a.inputJson && a.outputCbor && a.quiet)
    assert(parse("--", "-j").query.contains("-j")) // positional, not flag
  }

  test("parse errors: unknown flag, bad format, missing value, " +
      "stray subcommand args") {
    intercept[CliError](parse("--frobnicate"))
    intercept[CliError](parse("-Z"))
    intercept[CliError](parse("--format", "sideways"))
    intercept[CliError](parse("-p"))
    intercept[CliError](parse("protobuf", "add"))
    intercept[CliError](parse("protobuf", "launch", "x.proto"))
    // clap parity: inline value on a no-value flag is a usage error
    // (--quiet=false must not silently mean --quiet) …
    intercept[CliError](parse("--quiet=false"))
    intercept[CliError](parse("--input-json=yes"))
    // … and -b/--base outside `protobuf add` errors instead of being
    // silently discarded
    intercept[CliError](parse("-b", "/tmp/protos"))
    intercept[CliError](parse("--base", "/tmp/protos", ".q"))
    assert(parse("protobuf", "add", "x.proto", "-b", "/tmp/protos")
      .subcmd.contains(ProtobufAdd("x.proto", Some("/tmp/protos"))))
  }

  test("protobuf add with -b/--base (rq.rs:108-112)") {
    assert(parse("protobuf", "add", "x.proto", "-b", "/tmp/protos")
      .subcmd.contains(ProtobufAdd("x.proto", Some("/tmp/protos"))))
    assert(parse("protobuf", "add", "x.proto", "--base", "/tmp/protos")
      .subcmd.contains(ProtobufAdd("x.proto", Some("/tmp/protos"))))
  }

  // ------------------------- end-to-end pipes (rq.rs:157-312)

  private def pipe(o: Options, in: Array[Byte],
      ttyOut: Boolean = false): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    Cli.run(o.copy(quiet = true), new ByteArrayInputStream(in), out,
      ttyOut)
    out.toByteArray
  }

  test("default pipe is whitespace-JSON in, compact NDJSON out") {
    val got = new String(pipe(Options(),
      """{"b":2,"a":1} 3 "x"""".getBytes(UTF_8)), UTF_8)
    assert(got == "{\"b\":2,\"a\":1}\n3\n\"x\"\n")
  }

  test("tty output defaults to readable; --format overrides (rq.rs:216)") {
    val tty = new String(pipe(Options(), "1".getBytes(UTF_8),
      ttyOut = true), UTF_8)
    assert(tty.contains("[")) // ANSI-styled readable
    val indented = new String(pipe(
      Options(format = Some("indented")),
      """{"a":[1,2]}""".getBytes(UTF_8)), UTF_8)
    assert(indented == "{\n  \"a\": [\n    1,\n    2\n  ]\n}\n")
  }

  test("--typed: -m -M pipe is byte-identical on a width-mixed " +
      "stream incl. f32; the default pipe is not (mod.rs:24-37)") {
    // minimal encodings of every msgpack integer family + f32 + f64
    val mixed = Array[Byte](
      0x05, 0xcc.toByte, 0xc8.toByte, 0xcd.toByte, 0x01, 0x00,
      0xce.toByte, 0x00, 0x01, 0x00, 0x00,
      0xcf.toByte, 0x80.toByte, 0, 0, 0, 0, 0, 0, 0,
      0xf4.toByte, 0xd0.toByte, 0x85.toByte,
      0xd1.toByte, 0x80.toByte, 0x00,
      0xca.toByte, 0x3f, 0xc0.toByte, 0, 0, // f32 1.5
      0xcb.toByte, 0x3f, 0xf8.toByte, 0, 0, 0, 0, 0, 0)
    val o = Options(inputMsgPack = true, outputMsgPack = true)
    assert(pipe(o.copy(typed = true), mixed).toSeq == mixed.toSeq)
    assert(pipe(o, mixed).toSeq != mixed.toSeq) // f32 widened to f64
    // --typed parses as a long flag and composes with bundled shorts
    assert(Cli.parse(Array("-mM", "--typed")).typed)
    assert(!Cli.parse(Array("-mM")).typed)
  }

  test("a decode error mid-stream keeps the records before it on out, " +
      "and the run still fails") {
    val in = """{"a":1} {"b":""".getBytes(UTF_8)
    for (o <- Seq(Options(inputJson = true, outputJson = true),
        Options(inputJson = true, outputMsgPack = true))) {
      val out = new ByteArrayOutputStream()
      val e = intercept[IllegalArgumentException] {
        Cli.run(o.copy(quiet = true), new ByteArrayInputStream(in), out)
      }
      assert(e.getMessage.startsWith("json:"), e.getMessage)
      val first = graft.formats.Value.obj("a" -> graft.formats.Value.I64(1))
      val expected =
        if (o.outputMsgPack) graft.formats.MsgPackCodec.encode(first)
        else "{\"a\":1}\n".getBytes(UTF_8)
      assert(out.toByteArray.toSeq == expected.toSeq, o)
    }
  }

  test("a record reaches out before the input after it arrives") {
    // a pipe whose second chunk comes later, as at a terminal or from
    // `tail -f`: the first record must not wait in the output window
    val one = graft.formats.Value.obj("a" -> graft.formats.Value.I64(1))
    val json = "{\"a\":1}\n".getBytes(UTF_8)
    val msgpack = graft.formats.MsgPackCodec.encode(one)
    val cases = Seq(
      (Options(inputJson = true, outputJson = true), json, json),
      (Options(inputJson = true, outputMsgPack = true), json, msgpack),
      (Options(inputMsgPack = true, outputJson = true), msgpack, json),
      (Options(inputRaw = true, outputRaw = true), "x\n".getBytes(UTF_8),
        "x\n".getBytes(UTF_8)))
    for ((o, record, expected) <- cases) {
      val out = new ByteArrayOutputStream()
      var seen: Array[Byte] = null // out when the second chunk arrives
      val in = new java.io.InputStream {
        private var chunks = List(record, record)
        private var pos = 0
        override def available(): Int =
          if (chunks.isEmpty) 0 else chunks.head.length - pos
        def read(): Int = {
          val b = new Array[Byte](1)
          if (read(b, 0, 1) < 0) -1 else b(0) & 0xff
        }
        override def read(b: Array[Byte], off: Int, len: Int): Int = {
          if (chunks.nonEmpty && pos == chunks.head.length) {
            chunks = chunks.tail
            pos = 0
            if (chunks.nonEmpty) seen = out.toByteArray
          }
          if (chunks.isEmpty) -1
          else {
            val k = math.min(len, chunks.head.length - pos)
            System.arraycopy(chunks.head, pos, b, off, k)
            pos += k
            k
          }
        }
      }
      Cli.run(o.copy(quiet = true), in, out)
      assert(seen != null && seen.toSeq == expected.toSeq, o)
      assert(out.toByteArray.toSeq == (expected ++ expected).toSeq, o)
    }
  }

  test("json -> cbor -> json roundtrip preserves records") {
    val src = "{\"a\":1} [1,2,3] \"s\" true null".getBytes(UTF_8)
    val cbor = pipe(Options(outputCbor = true), src)
    val back = new String(pipe(Options(inputCbor = true), cbor), UTF_8)
    assert(back == "{\"a\":1}\n[1,2,3]\n\"s\"\ntrue\nnull\n")
  }

  test("csv in / csv out and raw in / raw out") {
    val csv = "a,1,x\nb,2,y\n".getBytes(UTF_8)
    assert(new String(pipe(Options(inputCsv = true, outputCsv = true),
      csv), UTF_8) == "a,1,x\nb,2,y\n")
    val raw = "line one\nline two\n".getBytes(UTF_8)
    assert(new String(pipe(Options(inputRaw = true, outputRaw = true),
      raw), UTF_8) == "line one\nline two\n")
  }

  test("protobuf add + -p one-shot end-to-end through a populated " +
      "registry with a nested package (tutorial.md:44-47, " +
      "protobuf.md:36-44)") {
    val dir = Files.createTempDirectory("graft-proto-e2e")
    System.setProperty("graft.system.dir", dir.toString)
    try {
      // registry gets TWO schemas — resolution must pick the right
      // message by fully-qualified name, not file order
      val person = dir.resolve("person.proto")
      Files.writeString(person,
        """syntax = "proto2";
          |package example.nested;
          |message Person {
          |  optional string name = 1;
          |  optional int32 age = 2;
          |}
          |""".stripMargin)
      val decoy = dir.resolve("decoy.proto")
      Files.writeString(decoy,
        """syntax = "proto2";
          |package other;
          |message Person {
          |  optional string nom = 1;
          |}
          |""".stripMargin)
      Cli.run(Cli.parse(Seq("protobuf", "add", person.toString)),
        new ByteArrayInputStream(Array.emptyByteArray),
        new ByteArrayOutputStream())
      Cli.run(Cli.parse(Seq("protobuf", "add", decoy.toString)),
        new ByteArrayInputStream(Array.emptyByteArray),
        new ByteArrayOutputStream())
      // person.pb wire bytes for {name:"John", age:34}:
      // field 1 LEN "John" (0x0A 0x04 J o h n), field 2 VARINT 34
      val wire = Array[Byte](0x0a, 0x04, 'J', 'o', 'h', 'n', 0x10, 34)
      val got = new String(pipe(
        Cli.parse(Seq("-p", ".example.nested.Person")), wire), UTF_8)
      // the tutorial's exact output shape (tutorial.md:47)
      assert(got == "{\"name\":\"John\",\"age\":34}\n")
      // unknown message name errors instead of guessing (the leading
      // dot is the full-qualification contract, protobuf.md:36-44)
      intercept[Exception] {
        pipe(Cli.parse(Seq("-p", ".example.Person")), wire)
      }
    } finally System.clearProperty("graft.system.dir")
  }

  test("-P output-protobuf fails unimplemented (K11, rq.rs:237-240)") {
    val e = intercept[Exception] {
      pipe(Options(outputProtobuf = Some(".foo.Bar")), "1".getBytes(UTF_8))
    }
    assert(e.getMessage.toLowerCase.contains("unimplemented") ||
      e.getMessage.toLowerCase.contains("protobuf"))
  }

  test("avro output: schema file honored, illegal codec rejected " +
      "(rq.rs:241-259)") {
    val schema = Files.createTempFile("cli", ".avsc")
    Files.writeString(schema,
      """{"type":"record","name":"R","fields":[
        |{"name":"a","type":"long"}]}""".stripMargin)
    val avro = pipe(Options(outputAvro = Some(schema.toString)),
      "{\"a\":7}".getBytes(UTF_8))
    assert(avro.take(4).sameElements("Obj".getBytes(UTF_8)))
    val back = new String(pipe(Options(inputAvro = true), avro), UTF_8)
    assert(back == "{\"a\":7}\n")
    intercept[CliError] {
      pipe(Options(outputAvro = Some(schema.toString),
        codec = Some("zstd")), "{\"a\":7}".getBytes(UTF_8))
    }
  }

  test("first-run warning fires once, silenced by has-ran-help and -q " +
      "(rq.rs:186-204,331-357)") {
    val dir = Files.createTempDirectory("graft-cli")
    System.setProperty("graft.system.dir", dir.toString)
    try {
      def capturedErr(o: Options): String = {
        val err = new ByteArrayOutputStream()
        Console.withErr(new java.io.PrintStream(err)) {
          val old = System.err
          System.setErr(new java.io.PrintStream(err))
          try Cli.run(o, new ByteArrayInputStream("1".getBytes(UTF_8)),
            new ByteArrayOutputStream())
          finally System.setErr(old)
        }
        err.toString("UTF-8")
      }
      assert(capturedErr(Options()).contains("JSON input mode"))
      // the CSV warning keys on the literal "-v" in argv (rq.rs:186):
      // explicit --input-csv is flagged intent and must stay silent
      assert(capturedErr(Options(inputCsv = true, sawDashV = true))
        .contains("CSV input mode"))
      assert(capturedErr(Options(inputCsv = true)).isEmpty)
      assert(Cli.parse(Seq("-v")).sawDashV)
      assert(!Cli.parse(Seq("--input-csv")).sawDashV)
      assert(capturedErr(Options(quiet = true)).isEmpty)
      assert(!Cli.hasRanCmd("help"))
      Cli.setRanCmd("help")
      assert(Cli.hasRanCmd("help"))
      assert(capturedErr(Options()).isEmpty) // suppressed after --help
    } finally System.clearProperty("graft.system.dir")
  }

  test("dispatch order matches rq.rs:157-292 when multiple flags set") {
    // input: protobuf beats avro beats cbor ... ; output: avro beats cbor
    assert(Cli.inputFormat(Options(inputAvro = true, inputCbor = true))
      ._1 == "avro")
    assert(Cli.inputFormat(Options(inputCbor = true, inputCsv = true))
      ._1 == "cbor")
    assert(Cli.inputFormat(
      Options(inputProtobuf = Some(".a.B"), inputAvro = true))._1 ==
      "protobuf")
    assert(Cli.outputFormat(Options(outputCbor = true,
      outputCsv = true), ttyOut = false)._1 == "cbor")
  }
}
