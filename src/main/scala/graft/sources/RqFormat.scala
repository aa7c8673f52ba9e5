package graft.sources

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import graft.formats._

/** The rq codec matrix as pluggable format handlers (SURVEY §2.1/§2.2):
  * bytes → record stream (Value iterator) and record stream → bytes.
  * Framing rules per format follow the reference:
  *  - json: whitespace-separated values in, NDJSON out (S1/K1)
  *  - csv: headerless, every record a Sequence of Strings (S2/K4)
  *  - msgpack/cbor: back-to-back values, EOF stop (S4/S5/K6/K7)
  *  - toml/yaml: whole input = ONE record (S7/S8); one doc per record
  *    out, `\n` separated (K8/K9)
  *  - raw: line → Str in; Str/Bytes verbatim + `\n` out, other types
  *    error (S9/K10, raw.rs:68-71)
  *  - avro: OCF with embedded reader schema in; writer schema required
  *    out (S3/K5)
  *  - protobuf: single message in (S6); OUT IS UNIMPLEMENTED (K11).
  *
  * Every sink is buffered: it encodes into a 64 KiB window
  * ([[ByteOut]]) and passes the window to the output stream when it
  * fills, on drain() and on finish(). [[encode]] and [[pipe]] finish it
  * when a run fails and then report the error, so `rq` still prints
  * every record before a bad one; [[pipe]] drains it before the decoder
  * waits for input, so `rq` at a terminal or on a slow pipe prints each
  * record as soon as it is complete.
  */
object RqFormat {

  val names: Seq[String] = Seq("json", "csv", "msgpack", "cbor", "toml",
    "yaml", "raw", "avro", "protobuf")

  /** Case-insensitive option lookup (DSv2 lowercases option keys). */
  private def opt(options: Map[String, String], key: String): Option[String] =
    options.get(key).orElse(options.get(key.toLowerCase))

  /** Decode a whole in-memory input into its record stream. */
  def decode(format: String, bytes: Array[Byte],
      options: Map[String, String] = Map.empty): Iterator[Value] =
    decodeStream(format, new java.io.ByteArrayInputStream(bytes), options)

  /** Incremental decode from an OPEN stream — the reference's defining
    * perf property (constant-memory streaming decode, json.rs:53-58,
    * messagepack.rs:40-51, cbor.rs:18-25): json/csv/msgpack/cbor/raw/
    * avro keep ONE record in flight regardless of file size. Only the
    * whole-document formats (toml/yaml: whole input = one record) and
    * the one-shot protobuf source must slurp, by their own semantics.
    * Options carry format-specific settings (protobuf: message +
    * schema source). The caller owns and closes `in`.
    */
  def decodeStream(format: String, in: InputStream,
      options: Map[String, String] = Map.empty): Iterator[Value] =
    format match {
      case "json" =>
        JsonCodec.parseIterator(new java.io.InputStreamReader(
          new java.io.BufferedInputStream(in, 1 << 16),
          StandardCharsets.UTF_8))
      case "csv" =>
        // headerless; every cell a string; record = Sequence (csv.rs:41-52)
        CsvCodec.parseIterator(new java.io.InputStreamReader(
          in, StandardCharsets.UTF_8))
      // typed=true: width-tagged decode (Value.I8..U32/F32 carried
      // in-flight — reference mod.rs:24-37 fidelity; opt-in)
      case "msgpack" => MsgPackCodec.decodeIterator(in,
        opt(options, "typed").contains("true"))
      case "cbor" => CborCodec.decodeIterator(in,
        opt(options, "typed").contains("true"))
      case "toml" =>
        Iterator.single(TomlCodec.parse(
          new String(in.readAllBytes(), StandardCharsets.UTF_8)))
      case "yaml" =>
        Iterator.single(YamlCodec.parse(
          new String(in.readAllBytes(), StandardCharsets.UTF_8)))
      case "raw" =>
        // each '\n'-terminated line → Str (raw.rs:32-44); trailing
        // newline yields no empty final record; lone '\r' is content
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, StandardCharsets.UTF_8), 1 << 16)
        new Iterator[Value] {
          private var nextLine: String = _
          private var eof = false
          private def fetch(): Unit = {
            if (nextLine != null || eof) return
            var c = br.read()
            if (c < 0) { eof = true; return }
            val sb = new StringBuilder
            while (c >= 0 && c != '\n') { sb.append(c.toChar); c = br.read() }
            nextLine = sb.toString.stripSuffix("\r")
          }
          def hasNext: Boolean = { fetch(); nextLine != null }
          def next(): Value = {
            fetch()
            if (nextLine == null) throw new NoSuchElementException("raw")
            val l = nextLine; nextLine = null; Value.Str(l)
          }
        }
      case "avro" => AvroCodec.readIterator(in)
      case "protobuf" =>
        val msg = opt(options, "message").getOrElse(
          throw new IllegalArgumentException(
            "protobuf read requires option 'message' (.pkg.Msg)"))
        val schema = opt(options, "protoSchema") match {
          case Some(src) => ProtoSchema.parse(src)
          case None => new ProtoRegistry().descriptors()
        }
        // one-shot source: at most one record (protobuf.rs:20,26-38)
        Iterator.single(ProtoWire.decode(in.readAllBytes(), msg, schema))
      case other =>
        throw new IllegalArgumentException(s"unknown rq format: $other")
    }

  /** Encode a record stream into `out` (incremental — see [[encoder]]).
    * If decoding or encoding fails, the encoder still finishes, so every
    * record before the failure reaches `out`, and the failure stands (a
    * failure to finish rides along as suppressed).
    */
  def encode(format: String, values: Iterator[Value], out: OutputStream,
      options: Map[String, String] = Map.empty): Unit =
    encodeAll(encoder(format, out, options), values)

  /** The identity pipe: decodes `in` as `inFormat` and encodes every
    * record into `out` as `outFormat`, as [[encode]] does. Before the
    * decoder waits on `in` (nothing more is ready), the records encoded
    * so far go down to `out`: a terminal or a slow pipe sees each record
    * once its input is complete, while a file still gets whole windows.
    */
  def pipe(inFormat: String, in: InputStream, inOptions: Map[String, String],
      outFormat: String, out: OutputStream,
      outOptions: Map[String, String]): Unit = {
    val enc = encoder(outFormat, out, outOptions)
    val src = new java.io.FilterInputStream(in) {
      private def drainIfIdle(): Unit = if (in.available() == 0) enc.drain()
      override def read(): Int = { drainIfIdle(); in.read() }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        drainIfIdle(); in.read(b, off, len)
      }
    }
    encodeAll(enc, decodeStream(inFormat, src, inOptions))
  }

  private def encodeAll(enc: RecordEncoder, values: Iterator[Value]): Unit = {
    try values.foreach(enc.write)
    catch {
      case NonFatal(e) =>
        try enc.finish() catch { case NonFatal(f) => e.addSuppressed(f) }
        throw e
    }
    enc.finish()
  }

  /** Incremental per-record sink over one 64 KiB [[ByteOut]] in front
    * of `out`: records stream to `out` a window at a time, never a
    * partition at a time (a 100 GB partition needs one record and one
    * window of memory). finish() writes format trailers (avro's last
    * block) and passes the window on; the caller owns and closes `out`.
    */
  abstract class RecordEncoder(out: OutputStream) {
    protected val buf: ByteOut = ByteOut(out)
    def write(v: Value): Unit
    /** Write the record a binary row holds (msgpack of a normalized
      * value, see [[RqTableProvider]]).
      */
    def writeMsgPack(row: Array[Byte]): Unit = {
      checkRow(row)
      write(MsgPackCodec.decode(java.nio.ByteBuffer.wrap(row)))
    }
    /** Bytes encoded so far. Right after a write it is a record boundary
      * of the record-stream formats ([[RqFrameIndex.Splittable]]).
      */
    final def position: Long = buf.position
    /** Passes the records encoded so far to the stream without ending
      * the output (avro keeps its open block).
      */
    final def drain(): Unit = buf.flush()
    def finish(): Unit = buf.flush()
  }

  /** Fails with [[InvalidRowException]] unless `row` has the binary
    * row's shape ([[MsgPackCodec.isRowValue]]).
    */
  private[sources] def checkRow(row: Array[Byte]): Unit =
    if (!MsgPackCodec.isRowValue(row)) throw new InvalidRowException(
      s"rq sink: a binary row must hold exactly one msgpack value in " +
        s"encode's canonical form, with no bin, ext or f32 marker " +
        s"(got ${row.length} bytes)")

  /** A sink writing each record with `enc`. */
  private def encoderOf(out: OutputStream)(
      enc: (Value, ByteOut) => Unit): RecordEncoder =
    new RecordEncoder(out) { def write(v: Value): Unit = enc(v, buf) }

  /** A sink writing each record as `emit`'s text and a newline. */
  private def textEncoder(out: OutputStream)(
      emit: Value => String): RecordEncoder =
    encoderOf(out) { (v, o) =>
      o.write(emit(v).getBytes(StandardCharsets.UTF_8))
      o.write('\n')
    }

  def encoder(format: String, out: OutputStream,
      options: Map[String, String] = Map.empty): RecordEncoder =
    format match {
      case "json" =>
        // formatter selection mirrors --format compact/indented/readable
        // (rq.rs:216, 323-329; compact is the pipe default); one record
        // per doc + newline (json.rs:110)
        opt(options, "jsonFormat").getOrElse("compact") match {
          case "compact" => textEncoder(out)(JsonCodec.emit)
          case "indented" => textEncoder(out)(JsonCodec.emitIndented)
          case "readable" => textEncoder(out)(JsonCodec.emitReadable)
          case other => throw new IllegalArgumentException(
            s"unknown jsonFormat: $other (compact|indented|readable)")
        }
      case "csv" => textEncoder(out)(CsvCodec.emitRecord)
      case "msgpack" =>
        new RecordEncoder(out) {
          def write(v: Value): Unit = MsgPackCodec.encodeTo(v, buf)
          // a valid row is `encode`'s canonical output for its value:
          // the copy is the bytes `write(decode(row))` would give
          override def writeMsgPack(row: Array[Byte]): Unit = {
            checkRow(row)
            buf.write(row)
          }
        }
      case "cbor" => encoderOf(out)((v, o) => CborCodec.encodeTo(v, o))
      // doc + newline (toml.rs:62, yaml.rs:54)
      case "toml" => textEncoder(out)(TomlCodec.emit)
      case "yaml" => textEncoder(out)(YamlCodec.emit)
      case "raw" =>
        // Str/Bytes verbatim + newline; anything else is a hard error
        // (raw.rs:46-73)
        encoderOf(out) { (v, o) =>
          v match {
            case Value.Str(s) => o.write(s.getBytes(StandardCharsets.UTF_8))
            case Value.Bytes(b) => o.write(b)
            case other => throw new IllegalArgumentException(
              s"rq raw sink: cannot write $other (only strings/bytes)")
          }
          o.write('\n')
        }
      case "avro" =>
        val schemaJson = opt(options, "avroSchema").getOrElse(
          throw new IllegalArgumentException(
            "avro write requires option 'avroSchema' (writer schema JSON, " +
              "reference: -A schema.avsc, rq.rs:241-259)"))
        val schema = AvroCodec.parseSchema(schemaJson)
        val codec = opt(options, "codec").getOrElse("null")
        new RecordEncoder(out) {
          // OCF appends records block-by-block — inherently streaming
          private val writer = AvroCodec.openWriter(buf, schema, codec)
          def write(v: Value): Unit = writer.append(AvroCodec.toAvro(v, schema))
          override def finish(): Unit = { writer.flush(); super.finish() }
        }
      case "protobuf" => ProtoWire.serializeUnsupported() // K11 parity
      case other =>
        throw new IllegalArgumentException(s"unknown rq format: $other")
    }
}

/** A binary record row that is not one msgpack value of the row form. */
final class InvalidRowException(msg: String)
    extends IllegalArgumentException(msg)

/** CSV record semantics (reference: src/value/csv.rs): headerless,
  * no inference — every cell is a String, a record is a Sequence of
  * Strings (csv.rs:41-52). The sink accepts ONLY Sequence records and
  * only scalar cells (csv.rs:60-110).
  */
object CsvCodec {

  def parse(input: String): Vector[Value] =
    parseIterator(new java.io.StringReader(input)).toVector

  /** Incremental record-at-a-time parse from an open reader: one CSV
    * record in flight, constant memory regardless of input size.
    * Quoted cells may span newlines, so this is a char-level state
    * machine, not a line splitter.
    */
  def parseIterator(r0: java.io.Reader): Iterator[Value] = {
    val r = new java.io.PushbackReader(
      new java.io.BufferedReader(r0, 1 << 16), 1)
    new Iterator[Value] {
      private var nextRec: Value = _
      private var eof = false

      private def fetch(): Unit = {
        if (nextRec != null || eof) return
        val cells = Vector.newBuilder[Value]
        val cell = new StringBuilder
        var inQuotes = false
        var sawAny = false
        var c = r.read()
        while (c >= 0) {
          if (inQuotes) {
            if (c == '"') {
              val n = r.read()
              if (n == '"') cell.append('"')
              else { inQuotes = false; if (n >= 0) r.unread(n) }
            } else cell.append(c.toChar)
          } else if (c == '"') { inQuotes = true; sawAny = true }
          else if (c == ',') {
            cells += Value.Str(cell.toString); cell.clear(); sawAny = true
          } else if (c == '\r') ()
          else if (c == '\n') {
            if (sawAny || cell.nonEmpty) {
              cells += Value.Str(cell.toString)
              nextRec = Value.Seq(cells.result())
              return
            } // else: blank line, keep scanning
          } else { cell.append(c.toChar); sawAny = true }
          c = r.read()
        }
        eof = true
        if (sawAny || cell.nonEmpty) {
          cells += Value.Str(cell.toString)
          nextRec = Value.Seq(cells.result())
        }
      }

      def hasNext: Boolean = { fetch(); nextRec != null }
      def next(): Value = {
        fetch()
        if (nextRec == null) throw new NoSuchElementException("csv")
        val v = nextRec; nextRec = null; v
      }
    }
  }

  /** One CSV line per Sequence record; scalars stringified, nested
    * values and Unit/Bytes are hard errors (value_to_csv,
    * csv.rs:77-110; sequence-only check csv.rs:60-75).
    */
  // widen: CSV cells are untyped text; typed-mode tags emit as values
  def emitRecord(v: Value): String = graft.formats.Value.widen(v) match {
    case Value.Seq(cells) =>
      cells.map {
        case Value.Bool(b) => quote(b.toString)
        case Value.I64(n) => quote(n.toString)
        case Value.U64(bits) => quote(java.lang.Long.toUnsignedString(bits))
        case Value.F64(d) => quote(formatDouble(d))
        case Value.Str(s) => quote(s)
        case bad => throw new IllegalArgumentException(
          s"rq csv sink: cannot stringify $bad (csv.rs:79-108)")
      }.mkString(",")
    case other => throw new IllegalArgumentException(
      s"rq csv sink: can only output sequences, got $other (csv.rs:70-74)")
  }

  private def formatDouble(d: Double): String =
    if (d == Math.floor(d) && Math.abs(d) < 1e15) s"${d.toLong}.0"
    else d.toString

  private def quote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
}
