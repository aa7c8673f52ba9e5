package graft

import java.io.{InputStream, OutputStream}
import java.nio.file.{Files, Path, Paths}

import graft.formats.ProtoRegistry
import graft.sources.RqFormat

/** rq-parity command-line entry point (reference: src/bin/rq.rs).
  *
  * Mirrors the reference CLI exactly: records are read from stdin,
  * piped through the identity pipeline, and written to stdout; flags
  * select the input/output codec (`rq.rs:27-94`), `--format` the JSON
  * styling (`rq.rs:216,323-329`), and the `protobuf add` subcommand
  * maintains the schema registry (`rq.rs:96-113,142-155`). The v1
  * reference parses but does not execute a query argument
  * (`rq.rs:31-33` — `arg_query` never reaches `run`), so the pipe is
  * the whole batch surface; graft's query layer lives in the Spark API
  * ([[RqEngine]] / [[SparkEntry]]).
  *
  * The codec work delegates to the SAME [[RqFormat]] layer that backs
  * the Spark DataSource ([[graft.sources.RqTableProvider]]) — the CLI
  * is a thin stdin→stdout adapter over it, one record in flight
  * (constant memory), no cluster needed for a shell pipe.
  */
object Cli {

  sealed trait Subcmd
  final case class ProtobufAdd(schema: String, base: Option[String])
    extends Subcmd

  /** Parsed options — field-for-field the reference's `Options`
    * struct (rq.rs:27-94).
    */
  final case class Options(
      subcmd: Option[Subcmd] = None,
      query: Option[String] = None,
      format: Option[String] = None, // compact | readable | indented
      codec: Option[String] = None,
      inputAvro: Boolean = false,
      inputCbor: Boolean = false,
      inputJson: Boolean = false,
      inputCsv: Boolean = false,
      inputMsgPack: Boolean = false,
      inputProtobuf: Option[String] = None,
      inputRaw: Boolean = false,
      inputToml: Boolean = false,
      inputYaml: Boolean = false,
      outputAvro: Option[String] = None,
      outputCbor: Boolean = false,
      outputJson: Boolean = false,
      outputRaw: Boolean = false,
      outputCsv: Boolean = false,
      outputMsgPack: Boolean = false,
      outputProtobuf: Option[String] = None,
      outputToml: Boolean = false,
      outputYaml: Boolean = false,
      log: Option[String] = None,
      quiet: Boolean = false,
      trace: Boolean = false,
      // graft extension (no rq analog): width-tagged decode for the
      // binary formats — Value.I8..U32/F32 carried through the pipe
      // (reference mod.rs:24-37 in-flight fidelity)
      typed: Boolean = false,
      help: Boolean = false,
      version: Boolean = false,
      // true iff argv contained the LITERAL token "-v": the reference's
      // CSV first-run warning keys on exactly that (rq.rs:186 scans raw
      // env::args() for "-v"), so --input-csv / bundled -vq never warn
      sawDashV: Boolean = false)

  final case class CliError(message: String)
    extends IllegalArgumentException(message)

  private val formats = Set("compact", "readable", "indented")

  /** Parse argv (binary name NOT included, like a JVM main). Supports
    * clap's surface as the reference exercises it: bundled short flags
    * (`-jP .foo.Bar`), attached short values (`-p.foo.Bar`),
    * `--long value` and `--long=value`, `--` to end flag parsing, and
    * the `protobuf add <schema> [-b|--base <dir>]` subcommand.
    */
  def parse(args: Seq[String]): Options = {
    var o = Options(sawDashV = args.contains("-v"))
    var positionals = Vector.empty[String]
    var protoAddBase: Option[String] = None
    var noMoreFlags = false
    val it = args.iterator.buffered

    def value(flag: String): String =
      if (it.hasNext) it.next()
      else throw CliError(s"the argument '$flag' requires a value")

    def longFlag(raw: String): Unit = {
      val (name, inline) = raw.indexOf('=') match {
        case -1 => (raw, None)
        case i => (raw.substring(0, i), Some(raw.substring(i + 1)))
      }
      def v: String = inline.getOrElse(value(name))
      // clap parity: a no-value flag given an inline value is a usage
      // error (`--quiet=false` must not silently mean --quiet)
      def set(update: => Options): Unit = {
        inline.foreach(x =>
          throw CliError(s"unexpected value '$x' for '$name'"))
        o = update
      }
      name match {
        case "--format" =>
          val f = v
          if (!formats(f)) throw CliError(s"unrecognized format: $f")
          o = o.copy(format = Some(f))
        case "--codec" => o = o.copy(codec = Some(v))
        case "--input-avro" => set(o.copy(inputAvro = true))
        case "--input-cbor" => set(o.copy(inputCbor = true))
        case "--input-json" => set(o.copy(inputJson = true))
        case "--input-csv" => set(o.copy(inputCsv = true))
        case "--input-message-pack" => set(o.copy(inputMsgPack = true))
        case "--input-protobuf" => o = o.copy(inputProtobuf = Some(v))
        case "--input-raw" => set(o.copy(inputRaw = true))
        case "--input-toml" => set(o.copy(inputToml = true))
        case "--input-yaml" => set(o.copy(inputYaml = true))
        case "--output-avro" => o = o.copy(outputAvro = Some(v))
        case "--output-cbor" => set(o.copy(outputCbor = true))
        case "--output-json" => set(o.copy(outputJson = true))
        case "--output-raw" => set(o.copy(outputRaw = true))
        case "--output-csv" => set(o.copy(outputCsv = true))
        case "--output-message-pack" => set(o.copy(outputMsgPack = true))
        case "--output-protobuf" => o = o.copy(outputProtobuf = Some(v))
        case "--output-toml" => set(o.copy(outputToml = true))
        case "--output-yaml" => set(o.copy(outputYaml = true))
        case "--log" => o = o.copy(log = Some(v))
        case "--quiet" => set(o.copy(quiet = true))
        case "--trace" => set(o.copy(trace = true))
        case "--typed" => set(o.copy(typed = true))
        case "--base" => protoAddBase = Some(v)
        case "--help" => set(o.copy(help = true))
        case "--version" => set(o.copy(version = true))
        case other => throw CliError(s"unknown flag: $other")
      }
    }

    def shortCluster(cluster: String): Unit = {
      var i = 0
      while (i < cluster.length) {
        val c = cluster.charAt(i)
        // a value-taking short flag consumes the rest of the cluster
        // (attached form) or, if last, the next argument
        def v(flag: String): String =
          if (i < cluster.length - 1) {
            val rest = cluster.substring(i + 1); i = cluster.length; rest
          } else value(flag)
        c match {
          case 'a' => o = o.copy(inputAvro = true)
          case 'c' => o = o.copy(inputCbor = true)
          case 'j' => o = o.copy(inputJson = true)
          case 'v' => o = o.copy(inputCsv = true)
          case 'm' => o = o.copy(inputMsgPack = true)
          case 'p' => o = o.copy(inputProtobuf = Some(v("-p")))
          case 'r' => o = o.copy(inputRaw = true)
          case 't' => o = o.copy(inputToml = true)
          case 'y' => o = o.copy(inputYaml = true)
          case 'A' => o = o.copy(outputAvro = Some(v("-A")))
          case 'C' => o = o.copy(outputCbor = true)
          case 'J' => o = o.copy(outputJson = true)
          case 'R' => o = o.copy(outputRaw = true)
          case 'V' => o = o.copy(outputCsv = true)
          case 'M' => o = o.copy(outputMsgPack = true)
          case 'P' => o = o.copy(outputProtobuf = Some(v("-P")))
          case 'T' => o = o.copy(outputToml = true)
          case 'Y' => o = o.copy(outputYaml = true)
          case 'l' => o = o.copy(log = Some(v("-l")))
          case 'q' => o = o.copy(quiet = true)
          case 'b' => protoAddBase = Some(v("-b"))
          case 'h' => o = o.copy(help = true)
          case other => throw CliError(s"unknown flag: -$other")
        }
        i += 1
      }
    }

    while (it.hasNext) {
      val arg = it.next()
      if (noMoreFlags) positionals :+= arg
      else if (arg == "--") noMoreFlags = true
      else if (arg.startsWith("--")) longFlag(arg)
      else if (arg.startsWith("-") && arg.length > 1)
        shortCluster(arg.substring(1))
      else positionals :+= arg
    }

    // clap parity: -b/--base exists only on `protobuf add`; anywhere
    // else it must be a usage error, not silently dropped
    def requireNoBase(): Unit = protoAddBase.foreach(_ =>
      throw CliError(
        "'-b/--base' is only valid with the 'protobuf add' subcommand"))

    positionals match {
      case Vector() => requireNoBase(); o
      case ps if ps.head == "protobuf" =>
        // subcommand grammar: protobuf add <schema> (rq.rs:96-113)
        ps.drop(1) match {
          case Vector("add", schema) =>
            o.copy(subcmd = Some(ProtobufAdd(schema, protoAddBase)))
          case Vector("add") =>
            throw CliError("protobuf add requires a schema path")
          case other => throw CliError(
            s"unknown protobuf subcommand: ${other.mkString(" ")}")
        }
      case Vector(q) => requireNoBase(); o.copy(query = Some(q))
      case ps => throw CliError(
        s"unexpected extra arguments: ${ps.tail.mkString(" ")}")
    }
  }

  // -------------------------------------------------------------- config

  /** Config dir (reference: config.rs:14-36) — the single resolution
    * lives in [[ProtoRegistry.defaultDir]] so the `protobuf add`
    * writer and the `-p` decode path can never resolve differently.
    */
  private def configDir: Path = ProtoRegistry.defaultDir

  /** First-run marker (reference: rq.rs:331-357 has_ran/set_ran). */
  def hasRanCmd(cmd: String): Boolean =
    Files.exists(configDir.resolve(s"has-ran-$cmd"))

  def setRanCmd(cmd: String): Unit = {
    Files.createDirectories(configDir)
    val marker = configDir.resolve(s"has-ran-$cmd")
    if (!Files.exists(marker)) Files.createFile(marker)
  }

  // ----------------------------------------------------------------- run

  /** Select the input format by the reference's exact dispatch order
    * (rq.rs:157-207): protobuf, avro, cbor, msgpack, toml, yaml, raw,
    * csv, else json.
    */
  def inputFormat(o: Options): (String, Map[String, String]) =
    o.inputProtobuf match {
      case Some(msg) => ("protobuf", Map("message" -> msg))
      case None =>
        if (o.inputAvro) ("avro", Map.empty)
        else if (o.inputCbor) ("cbor", Map.empty)
        else if (o.inputMsgPack) ("msgpack", Map.empty)
        else if (o.inputToml) ("toml", Map.empty)
        else if (o.inputYaml) ("yaml", Map.empty)
        else if (o.inputRaw) ("raw", Map.empty)
        else if (o.inputCsv) ("csv", Map.empty)
        else ("json", Map.empty)
    }

  /** Select the output format by the reference's dispatch order
    * (rq.rs:237-292): protobuf (unimplemented, K11 parity), avro
    * (schema file + codec), cbor, msgpack, toml, yaml, raw, csv, else
    * json styled by `--format` / tty inference.
    */
  def outputFormat(o: Options, ttyOut: Boolean)
      : (String, Map[String, String]) =
    if (o.outputProtobuf.isDefined)
      ("protobuf", Map.empty) // encoder throws unimplemented (K11)
    else o.outputAvro match {
      case Some(schemaFile) =>
        val codec = o.codec.getOrElse("null")
        if (!Set("null", "deflate", "snappy")(codec))
          throw CliError(s"illegal Avro codec: $codec")
        ("avro", Map(
          "avroSchema" -> Files.readString(Paths.get(schemaFile)),
          "codec" -> codec))
      case None =>
        if (o.outputCbor) ("cbor", Map.empty)
        else if (o.outputMsgPack) ("msgpack", Map.empty)
        else if (o.outputToml) ("toml", Map.empty)
        else if (o.outputYaml) ("yaml", Map.empty)
        else if (o.outputRaw) ("raw", Map.empty)
        else if (o.outputCsv) ("csv", Map.empty)
        else {
          // JSON styled per --format, tty-inferred default
          // (rq.rs:216,323-329)
          val style = o.format.getOrElse(
            if (ttyOut) "readable" else "compact")
          ("json", Map("jsonFormat" -> style))
        }
    }

  /** The identity record pipe (rq.rs:303-312), parameterized over the
    * streams for testability. One record in flight end to end.
    */
  def run(o: Options, in: InputStream, out: OutputStream,
      ttyOut: Boolean = false): Unit = {
    o.subcmd match {
      case Some(ProtobufAdd(schema, base)) =>
        new ProtoRegistry(configDir).add(
          Paths.get(schema), base.map(Paths.get(_)))
        ()
      case None =>
        val (inFmt, inOpts) = inputFormat(o)
        if (!o.quiet && !hasRanCmd("help")) {
          // first-run footguns (rq.rs:186-204)
          if (inFmt == "json" && !o.inputJson)
            System.err.println(
              "[WARN] [rq] You started rq without any input flags, " +
                "which puts it in JSON input mode.\n" +
                "[WARN] [rq] It's now waiting for JSON input, which " +
                "might not be what you wanted.\n" +
                "[WARN] [rq] Specify (-j|--input-json) explicitly or " +
                "run rq --help once to suppress this warning.")
          else if (inFmt == "csv" && o.sawDashV)
            System.err.println(
              "[WARN] [rq] You started rq -v, which puts it in CSV " +
                "input mode.\n" +
                "[WARN] [rq] It's now waiting for CSV input, which " +
                "might not be what you wanted.\n" +
                "[WARN] [rq] Specify --input-csv explicitly or run " +
                "rq --help once to suppress this warning.")
        }
        val (outFmt, outOpts) = outputFormat(o, ttyOut)
        val inOptsT =
          if (o.typed) inOpts + ("typed" -> "true") else inOpts
        RqFormat.pipe(inFmt, in, inOptsT, outFmt, out, outOpts)
        out.flush()
    }
  }

  val usage: String =
    """rq — a tool for manipulating data records (graft Spark engine CLI)
      |
      |Records are read from stdin, processed, and written to stdout.
      |
      |USAGE: rq [FLAGS] [query] | rq protobuf add <schema> [-b <base>]
      |
      |INPUT:  -j/--input-json (default)  -c/--input-cbor  -a/--input-avro
      |        -m/--input-message-pack    -v/--input-csv   -r/--input-raw
      |        -t/--input-toml            -y/--input-yaml
      |        -p/--input-protobuf <.pkg.Msg>
      |OUTPUT: -J/--output-json (default) -C/--output-cbor
      |        -A/--output-avro <schema.avsc> [--codec null|deflate|snappy]
      |        -M/--output-message-pack   -V/--output-csv  -R/--output-raw
      |        -T/--output-toml           -Y/--output-yaml
      |        -P/--output-protobuf <.pkg.Msg> (unimplemented, rq parity)
      |OTHER:  --format compact|readable|indented   -l/--log <spec>
      |        -q/--quiet   --trace   --help   --version
      |        --typed  (graft extension: width-tagged binary decode —
      |                  preserves i8..u32/f32 wire widths in flight)
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val o =
      try parse(args.toIndexedSeq)
      catch {
        case CliError(msg) =>
          System.err.println(s"error: $msg"); sys.exit(2)
      }
    if (o.help) {
      println(usage); setRanCmd("help"); return
    }
    if (o.version) {
      println("rq (graft) 1.0.4-parity"); setRanCmd("version"); return
    }
    try run(o, System.in, System.out, ttyOut = System.console() != null)
    catch {
      case e: Exception =>
        System.err.println(s"[ERROR] [rq] Encountered: ${e.getMessage}")
        if (o.trace) e.printStackTrace()
        else System.err.println(
          "[ERROR] [rq] (Re-run with --trace for a backtrace)")
        sys.exit(1)
    }
  }
}
