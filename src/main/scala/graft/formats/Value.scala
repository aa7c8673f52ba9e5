package graft.formats

import java.nio.charset.StandardCharsets.UTF_8

/** The rq record data model (reference: src/value/mod.rs:19-46): a
  * dynamically-typed, self-describing record. This AST is the codec
  * interchange inside graft — every format codec maps bytes ⇄ Value;
  * the engine surfaces records to Spark as JSON text / typed columns.
  *
  * Width-preservation notes (SURVEY §1.2): all signed ints collapse to
  * I64 and unsigned to U64 here — the reference itself only
  * distinguishes widths to re-emit them, and every sink it ships
  * widens (avro.rs:99-113, messagepack.rs:96-128). U64 keeps full
  * 64-bit unsigned range (reference: msgpack prefers unsigned,
  * messagepack.rs:68-70).
  */
sealed trait Value

object Value {
  case object Unit extends Value
  final case class Bool(v: Boolean) extends Value
  final case class I64(v: Long) extends Value
  /** Unsigned 64-bit, stored in a Long bit pattern. */
  final case class U64(bits: Long) extends Value
  final case class F64(v: Double) extends Value
  final case class Str(v: String) extends Value
  final case class Bytes(v: Array[Byte]) extends Value {
    override def equals(o: Any): Boolean = o match {
      case Bytes(w) => java.util.Arrays.equals(v, w)
      case _ => false
    }
    override def hashCode(): Int = java.util.Arrays.hashCode(v)
  }
  /** Ordered heterogeneous list (mod.rs:41). */
  final case class Seq(v: Vector[Value]) extends Value
  /** Ordered key→value pairs, duplicate keys allowed, order preserved
    * (mod.rs:43-45 states both properties are deliberate).
    */
  final case class Map(v: Vector[(Value, Value)]) extends Value

  // ---- opt-in width/char-tagged scalars (typed mode) ----
  //
  // The reference's Value enum carries I8..I64 / U8..U64 / F32/F64 /
  // Char end to end (mod.rs:24-37); its deserializers tag by the WIRE
  // width they saw (rmp/serde_cbor call the width-matched visit_*).
  // graft's default mode collapses these to I64/U64/F64 under the
  // minimal-width re-encode contract; typed-mode decodes
  // (MsgPackCodec/CborCodec `typed = true`) produce the tagged
  // variants below instead, so the in-flight tag survives the
  // identity pipeline. Every sink accepts them: msgpack/cbor/json
  // natively, the rest after [[Value.widen]] — the same widening the
  // reference's own sinks perform (avro.rs:99-113,
  // messagepack.rs:96-128).
  final case class I8(v: Byte) extends Value
  final case class I16(v: Short) extends Value
  final case class I32(v: Int) extends Value
  /** 0..255, stored widened. */
  final case class U8(v: Int) extends Value
  /** 0..65535, stored widened. */
  final case class U16(v: Int) extends Value
  /** 0..2³²-1, stored widened. */
  final case class U32(v: Long) extends Value
  final case class F32(v: Float) extends Value
  /** mod.rs:26 — present for API parity; unreachable from the binary
    * formats (msgpack/cbor have no char wire type; serde encodes char
    * as a 1-char string), exactly as in the reference.
    */
  final case class Chr(v: scala.Char) extends Value

  def obj(kvs: (String, Value)*): Map =
    Map(kvs.toVector.map { case (k, v) => (Str(k): Value, v) })
  def seq(vs: Value*): Seq = Seq(vs.toVector)

  /** Scalar-level widening (no recursion): the tagged variants to
    * their untagged core form, everything else unchanged. Sinks that
    * already recurse node-by-node (avro) use this per node instead of
    * paying the deep rebuild at every recursion level.
    */
  def widenShallow(v: Value): Value = v match {
    case I8(x) => I64(x.toLong)
    case I16(x) => I64(x.toLong)
    case I32(x) => I64(x.toLong)
    case U8(x) => I64(x.toLong)
    case U16(x) => I64(x.toLong)
    case U32(x) => I64(x)
    case F32(x) => F64(x.toDouble)
    case Chr(c) => Str(c.toString)
    // typed decodes tag 0xcf/u64 as U64 even when the value fits a
    // Long; default-mode canonicalization makes that I64 — widening
    // must land on the same canonical form
    case U64(bits) if bits >= 0 => I64(bits)
    case other => other
  }

  /** Deep re-widening of tagged scalars to the untagged core model —
    * what width-oblivious sinks consume. Invariant (CodecSpec):
    * `widen(decode(bytes, typed = true)) == decode(bytes)` for every
    * msgpack/cbor input, so typed mode can never change VALUES, only
    * carry the extra tag.
    */
  def widen(v: Value): Value = v match {
    case Seq(vs) => Seq(vs.map(widen))
    case Map(kvs) => Map(kvs.map { case (k, e) => (widen(k), widen(e)) })
    case scalar => widenShallow(scalar)
  }
}

/** JSON parse/emit for Value — the engine's canonical text form
  * (reference: JSON is the default source and sink, rq.rs:196-207,216).
  *
  * Both directions work on UTF-8 bytes, as serde_json's
  * `StreamDeserializer` and `CompactFormatter` do (json.rs:53-66): the
  * parser scans the [[ByteIn]] window, decoding each string once from
  * its UTF-8 run and building integers digit by digit; the emitter
  * writes straight into a [[ByteOut]]. `parse(String)` and `emit` are
  * the same codec over a String's bytes.
  *
  * Emit matches serde_json compact formatting (json.rs:60-66): no
  * whitespace, `Bytes` as array of numbers (serde serializes Vec<u8>
  * that way), Unit as null. Parse accepts any standard JSON; numbers
  * become I64 when integral and in range, U64 for (2^63, 2^64), F64
  * otherwise (ValueVisitor precedence, mod.rs:185-372). Bytes that are
  * not UTF-8 read as U+FFFD, as a UTF-8 `Reader` decodes them.
  *
  * Both directions stop at [[AvroCodec.MaxDepth]] nesting levels with an
  * `IllegalArgumentException` naming json and the byte offset, instead
  * of overflowing the stack on hostile input.
  */
object JsonCodec {

  import AvroCodec.MaxDepth

  /** `v`'s compact JSON: the bytes of [[emitTo]] as a String. */
  def emit(v: Value): String = {
    val out = ByteOut()
    emitTo(v, out)
    new String(out.toByteArray, UTF_8)
  }

  /** Writes `v`'s compact JSON to `out` as UTF-8 (a lone surrogate in a
    * string becomes `?`, as `String.getBytes` writes it).
    */
  def emitTo(v: Value, out: ByteOut): scala.Unit = emitTo(v, out, 0)

  /** `parse(emit(v))` computed without the text, UTF-8 hop included:
    * tagged scalars widen, `U64` that fits a Long becomes `I64`,
    * `Bytes` become a sequence of numbers, non-string map keys become
    * the string `emit` prints, NaN/±Inf become `Unit`, −0.0 becomes
    * 0.0, `F32` becomes the `F64` of its f32 decimal form, and lone
    * surrogates become `?` (as in the UTF-8 bytes of the text). These
    * are the values the JSON text row delivers, so a binary row holding
    * msgpack of `normalize(v)` ([[MsgPackCodec.encodeNormalized]])
    * yields the same output bytes.
    */
  def normalize(v: Value): Value = v match {
    case Value.Str(s) => val t = utf8Safe(s); if (t eq s) v else Value.Str(t)
    case Value.Unit | _: Value.Bool | _: Value.I64 => v
    case Value.F64(d) =>
      if (d.isNaN || d.isInfinite) Value.Unit
      else if (java.lang.Double.doubleToRawLongBits(d) == Long.MinValue)
        Value.F64(0.0) // −0.0 prints as "0.0"
      else v
    case Value.U64(bits) => if (bits >= 0) Value.I64(bits) else v
    case Value.F32(f) => // mirrors emitTo's F32 case
      if (f.isNaN || f.isInfinite) Value.Unit
      else if (f == Math.floor(f) && Math.abs(f) < 1e15f)
        Value.F64(f.toLong.toDouble)
      else Value.F64(java.lang.Float.toString(f).toDouble)
    case Value.Chr(c) => Value.Str(utf8Safe(c.toString))
    case Value.Bytes(b) =>
      Value.Seq(b.iterator.map(x => Value.I64(x & 0xff): Value).toVector)
    case Value.Seq(vs) => Value.Seq(vs.map(normalize))
    case Value.Map(kvs) => Value.Map(kvs.map { case (k, e) =>
      val key = k match {
        case Value.Str(_) => normalize(k)
        case other => Value.Str(emit(other))
      }
      (key, normalize(e))
    })
    case tagged => Value.widenShallow(tagged) // I8..U32
  }

  /** `s` as it comes back from its UTF-8 bytes (lone surrogates → `?`). */
  private def utf8Safe(s: String): String = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) i += 2
      else if (Character.isSurrogate(c))
        return new String(s.getBytes(UTF_8), UTF_8)
      else i += 1
    }
    s
  }

  private[formats] val Null = "null".getBytes(UTF_8)
  private[formats] val True = "true".getBytes(UTF_8)
  private[formats] val False = "false".getBytes(UTF_8)
  private val PointZero = ".0".getBytes(UTF_8)
  private val Hex = "0123456789abcdef".getBytes(UTF_8)

  private[formats] def emitTo(v: Value, out: ByteOut, depth: Int): scala.Unit =
    v match {
      case Value.Unit => out.write(Null)
      case Value.Bool(b) => out.write(if (b) True else False)
      case Value.I64(n) => out.writeDecimal(n)
      case Value.U64(bits) =>
        if (bits >= 0) out.writeDecimal(bits)
        else ascii(java.lang.Long.toUnsignedString(bits), out)
      case Value.F64(d) => emitDouble(d, out)
      // tagged scalars print exactly as their widened value would —
      // except F32, whose shortest-roundtrip repr is the f32 one
      // (serde_json prints Value::F32(1.1) as "1.1", not the widened
      // double 1.100000023841858)
      case Value.I8(n) => out.writeDecimal(n)
      case Value.I16(n) => out.writeDecimal(n)
      case Value.I32(n) => out.writeDecimal(n)
      case Value.U8(n) => out.writeDecimal(n)
      case Value.U16(n) => out.writeDecimal(n)
      case Value.U32(n) => out.writeDecimal(n)
      case Value.F32(f) =>
        if (f.isNaN || f.isInfinite) out.write(Null)
        else if (f == Math.floor(f) && Math.abs(f) < 1e15f) {
          out.writeDecimal(f.toLong)
          out.write(PointZero)
        } else ascii(java.lang.Float.toString(f), out)
      case Value.Chr(c) => emitString(c.toString, out)
      case Value.Str(s) => emitString(s, out)
      case Value.Bytes(b) => // a sequence of numbers, one level deeper
        nested(depth, out)
        out.write('[')
        var i = 0
        while (i < b.length) {
          if (i > 0) out.write(',')
          out.writeDecimal(b(i) & 0xff)
          i += 1
        }
        out.write(']')
      case Value.Seq(vs) =>
        nested(depth, out)
        out.write('[')
        val it = vs.iterator
        var first = true
        while (it.hasNext) {
          if (!first) out.write(',')
          first = false
          emitTo(it.next(), out, depth + 1)
        }
        out.write(']')
      case Value.Map(kvs) =>
        nested(depth, out)
        out.write('{')
        val it = kvs.iterator
        var first = true
        while (it.hasNext) {
          val (k, e) = it.next()
          if (!first) out.write(',')
          first = false
          k match {
            case Value.Str(s) => emitString(s, out)
            case other => emitString(keyText(other, depth + 1), out)
          }
          out.write(':')
          emitTo(e, out, depth + 1)
        }
        out.write('}')
    }

  private def nested(depth: Int, out: ByteOut): scala.Unit =
    if (depth >= MaxDepth) throw new IllegalArgumentException(
      s"json: nested deeper than $MaxDepth levels at output byte " +
        out.position)

  /** The text a non-string map key prints as: its own JSON. */
  private def keyText(k: Value, depth: Int): String = {
    val o = ByteOut()
    emitTo(k, o, depth)
    new String(o.toByteArray, UTF_8)
  }

  /** `d` as serde_json prints an f64: integral values below 1e15 as
    * `n.0`, NaN and ±Inf as null.
    */
  private[formats] def emitDouble(d: Double, out: ByteOut): scala.Unit =
    if (d.isNaN || d.isInfinite) out.write(Null)
    else if (d == Math.floor(d) && Math.abs(d) < 1e15) {
      out.writeDecimal(d.toLong)
      out.write(PointZero)
    } else ascii(java.lang.Double.toString(d), out)

  private def ascii(s: String, out: ByteOut): scala.Unit =
    out.write(s.getBytes(UTF_8))

  /** The JSON string of `s`'s UTF-8 bytes (a lone surrogate becomes
    * `?`, as `getBytes` writes it).
    */
  private def emitString(s: String, out: ByteOut): scala.Unit = {
    val b = s.getBytes(UTF_8)
    emitUtf8String(b, 0, b.length, out)
  }

  /** The JSON string of `len` UTF-8 bytes of `b` from `from`: `"`, `\\`
    * and control chars escaped, the rest copied (no byte of a multi-byte
    * sequence is ASCII).
    */
  private[formats] def emitUtf8String(b: Array[Byte], from: Int, len: Int,
      out: ByteOut): scala.Unit = {
    out.write('"')
    val end = from + len
    var run = from
    var i = from
    while (i < end) {
      val c = b(i)
      if (c >= 0 && (c < ' ' || c == '"' || c == '\\')) {
        out.write(b, run, i - run)
        escape(c, out)
        run = i + 1
      }
      i += 1
    }
    out.write(b, run, end - run)
    out.write('"')
  }

  private def escape(c: Int, out: ByteOut): scala.Unit = {
    out.write('\\')
    c match {
      case '"' => out.write('"')
      case '\\' => out.write('\\')
      case '\n' => out.write('n')
      case '\r' => out.write('r')
      case '\t' => out.write('t')
      case _ => // other control chars as \u00xx
        out.write('u'); out.write('0'); out.write('0')
        out.write(Hex(c >> 4)); out.write(Hex(c & 0xf))
    }
  }

  /** 2-space-indented pretty form (reference K3, `--format indented`:
    * serde_json PrettyFormatter, json.rs:76-82).
    */
  def emitIndented(v: Value): String = {
    val sb = new StringBuilder
    emitPretty(v, sb, 0, color = false)
    sb.toString
  }

  /** ANSI-colored indented form (reference K2, `--format readable`:
    * the custom colorizing formatter, json.rs:115-520 — keys cyan,
    * strings green, numbers yellow, bool/null magenta).
    */
  def emitReadable(v: Value): String = {
    val sb = new StringBuilder
    emitPretty(v, sb, 0, color = true)
    sb.toString
  }

  /** ANSI styles mirroring ReadableFormatter::new (json.rs:115-143);
    * ansi_term emits bold=1, dimmed=2, italic=3, then the colour.
    */
  private object Ansi {
    val Null = "1;2;3;30" // Black dimmed bold italic
    val True = "1;3;32" // Green bold italic
    val False = "1;3;31" // Red bold italic
    val Num = "34" // Blue
    val StrChar = "32" // Green
    val StrQuote = "2;32" // Green dimmed (quotes + escapes)
    val KeyChar = "34" // Blue
    val KeyQuote = "2;34" // Blue dimmed (quotes + escapes)
    val Punct = "1" // bold brackets / comma / colon
  }

  private def paint(sb: StringBuilder, style: String, s: String,
      on: Boolean): scala.Unit =
    if (on) sb.append('').append('[').append(style).append('m')
      .append(s).append('').append("[0m")
    else sb.append(s)

  /** Styled string literal: quotes and escape sequences dimmed, plain
    * fragments in the content colour (json.rs:276-372).
    */
  private def emitStringStyled(s: String, sb: StringBuilder,
      quoteStyle: String, charStyle: String, color: Boolean): scala.Unit = {
    paint(sb, quoteStyle, "\"", color)
    val plain = new StringBuilder
    def flush(): scala.Unit =
      if (plain.nonEmpty) {
        paint(sb, charStyle, plain.toString, color); plain.clear()
      }
    def esc(e: String): scala.Unit = { flush(); paint(sb, quoteStyle, e, color) }
    s.foreach {
      case '"' => esc("\\\"")
      case '\\' => esc("\\\\")
      case '\n' => esc("\\n")
      case '\r' => esc("\\r")
      case '\t' => esc("\\t")
      case c if c < ' ' => esc(f"\\u${c.toInt}%04x")
      case c => plain.append(c)
    }
    flush()
    paint(sb, quoteStyle, "\"", color)
  }

  /** Pretty form shared by K3 (color=false: serde PrettyFormatter
    * shape — 2-space indent, `: ` separator, empty containers inline)
    * and K2 (color=true: the ReadableFormatter styles above).
    */
  private def emitPretty(v: Value, sb: StringBuilder, indent: Int,
      color: Boolean): scala.Unit = {
    val pad = "  " * indent
    val padIn = "  " * (indent + 1)
    v match {
      case Value.Unit => paint(sb, Ansi.Null, "null", color)
      case Value.Bool(true) => paint(sb, Ansi.True, "true", color)
      case Value.Bool(false) => paint(sb, Ansi.False, "false", color)
      case n @ (_: Value.I64 | _: Value.U64 | _: Value.F64 | _: Value.I8 |
          _: Value.I16 | _: Value.I32 | _: Value.U8 | _: Value.U16 |
          _: Value.U32 | _: Value.F32) =>
        paint(sb, Ansi.Num, emit(n), color)
      case Value.Chr(c) =>
        emitStringStyled(c.toString, sb, Ansi.StrQuote, Ansi.StrChar, color)
      case Value.Str(s) =>
        emitStringStyled(s, sb, Ansi.StrQuote, Ansi.StrChar, color)
      case Value.Bytes(b) =>
        // serde serializes byte blobs as number arrays — same layout
        emitPretty(Value.Seq(b.toVector.map(x => Value.I64(x & 0xff))),
          sb, indent, color)
      case Value.Seq(vs) if vs.isEmpty => paint(sb, Ansi.Punct, "[]", color)
      case Value.Map(kvs) if kvs.isEmpty => paint(sb, Ansi.Punct, "{}", color)
      case Value.Seq(vs) =>
        paint(sb, Ansi.Punct, "[", color)
        vs.zipWithIndex.foreach { case (e, i) =>
          if (i > 0) paint(sb, Ansi.Punct, ",", color)
          sb.append('\n').append(padIn)
          emitPretty(e, sb, indent + 1, color)
        }
        sb.append('\n').append(pad)
        paint(sb, Ansi.Punct, "]", color)
      case Value.Map(kvs) =>
        paint(sb, Ansi.Punct, "{", color)
        kvs.zipWithIndex.foreach { case ((k, e), i) =>
          if (i > 0) paint(sb, Ansi.Punct, ",", color)
          sb.append('\n').append(padIn)
          val keyText = k match {
            case Value.Str(s) => s
            case other => emit(other) // non-string key → stringify
          }
          emitStringStyled(keyText, sb, Ansi.KeyQuote, Ansi.KeyChar, color)
          paint(sb, Ansi.Punct, ": ", color)
          emitPretty(e, sb, indent + 1, color)
        }
        sb.append('\n').append(pad)
        paint(sb, Ansi.Punct, "}", color)
    }
  }


  def parse(s: String): Value = parse(s.getBytes(UTF_8))

  /** The one JSON value `bytes` hold, with nothing but whitespace after
    * it.
    */
  def parse(bytes: Array[Byte]): Value = {
    val p = new Parser(ByteIn(bytes))
    val v = p.value(0)
    if (p.skipWs() >= 0) throw p.err("trailing content")
    v
  }

  /** Whitespace-separated stream of JSON values (the reference's S1
    * framing: serde_json StreamDeserializer, json.rs:53-58).
    */
  def parseStream(s: String): Vector[Value] =
    iterator(ByteIn(s.getBytes(UTF_8))).toVector

  /** Incremental whitespace-separated value stream from an open stream:
    * one value in flight, constant memory regardless of input size.
    */
  def parseIterator(in: java.io.InputStream): Iterator[Value] =
    iterator(ByteIn(in))

  private def iterator(in: ByteIn): Iterator[Value] = {
    val p = new Parser(in)
    new Iterator[Value] {
      def hasNext: Boolean = p.skipWs() >= 0
      def next(): Value = p.value(0)
    }
  }

  /** Recursive descent over the window of `in`: `value(depth)` reads
    * one value whose containers sit `depth` levels deep.
    */
  private final class Parser(in: ByteIn) {
    private val sb = new java.lang.StringBuilder

    def err(msg: String) =
      new IllegalArgumentException(s"json: $msg at byte ${in.position}")

    /** Skips whitespace: the next byte, not consumed, or -1 at the end. */
    def skipWs(): Int = in.peekNonSpace()

    def value(depth: Int): Value = {
      val c = skipWs()
      if (c == '"') { in.skip(); Value.Str(string()) }
      else if (c == '{') obj(depth)
      else if (c == '[') arr(depth)
      else if (c == '-' || (c >= '0' && c <= '9')) number()
      else if (c == 'n') { literal(Null); Value.Unit }
      else if (c == 't') { literal(True); Value.Bool(true) }
      else if (c == 'f') { literal(False); Value.Bool(false) }
      else if (c < 0) throw err("unexpected end of input")
      else throw err(s"unexpected ${show(c)}")
    }

    private def show(c: Int): String =
      if (c >= ' ' && c < 0x7f) s"char ${c.toChar}"
      else f"byte 0x$c%02x"

    private def nested(depth: Int): scala.Unit =
      if (depth >= MaxDepth)
        throw err(s"nested deeper than $MaxDepth levels")

    /** The byte after a container's item: `,` or `close`, consumed. */
    private def separator(close: Char, what: String): Boolean = {
      val d = skipWs()
      if (d < 0) throw err(s"unterminated $what")
      in.skip()
      if (d == close) false
      else if (d == ',') true
      else throw err(s"expected , or $close got ${show(d)}")
    }

    private def arr(depth: Int): Value = {
      nested(depth)
      in.skip()
      if (skipWs() == ']') { in.skip(); return Value.Seq(Vector.empty) }
      val items = Vector.newBuilder[Value]
      var more = true
      while (more) {
        items += value(depth + 1)
        more = separator(']', "array")
      }
      Value.Seq(items.result())
    }

    private def obj(depth: Int): Value = {
      nested(depth)
      in.skip()
      if (skipWs() == '}') { in.skip(); return Value.Map(Vector.empty) }
      val items = Vector.newBuilder[(Value, Value)]
      var more = true
      while (more) {
        if (skipWs() != '"') throw err("expected string")
        in.skip()
        val k = string()
        if (skipWs() != ':') throw err("expected :")
        in.skip()
        items += ((Value.Str(k), value(depth + 1)))
        more = separator('}', "object")
      }
      Value.Map(items.result())
    }

    private def literal(lit: Array[Byte]): scala.Unit = {
      var k = 0
      while (k < lit.length) {
        if (in.peek() != lit(k))
          throw err(s"expected ${new String(lit, UTF_8)}")
        in.skip()
        k += 1
      }
    }

    /** The rest of a string whose opening quote is consumed. Each run
      * between escapes decodes once from the window ([[ByteIn.textRun]]).
      */
    private def string(): String = {
      val run = in.textRun()
      if (in.peek() == '"') { in.skip(); return run }
      sb.setLength(0)
      sb.append(run)
      while (true) {
        val c = in.peek()
        if (c == '"') { in.skip(); return sb.toString }
        if (c < 0) throw err("unterminated string")
        if (c == '\\') { in.skip(); unescape() }
        sb.append(in.textRun())
      }
      throw new IllegalStateException // unreachable
    }

    /** One escape, its backslash consumed, appended to `sb`. */
    private def unescape(): scala.Unit = {
      val e = in.peek()
      if (e < 0) throw err("bad escape")
      in.skip()
      e match {
        case '"' => sb.append('"')
        case '\\' => sb.append('\\')
        case '/' => sb.append('/')
        case 'n' => sb.append('\n')
        case 't' => sb.append('\t')
        case 'r' => sb.append('\r')
        case 'b' => sb.append('\b')
        case 'f' => sb.append('\f')
        case 'u' =>
          var cp = 0
          var k = 0
          while (k < 4) {
            val d = Character.digit(in.peek(), 16)
            if (d < 0) throw err("bad \\u escape")
            in.skip()
            cp = cp << 4 | d
            k += 1
          }
          sb.append(cp.toChar)
        case _ => throw err(s"bad escape \\${show(e)}")
      }
    }

    /** A number, its digits accumulated without a text copy; only a
      * fraction, an exponent or an integer past 2⁶⁴−1 goes through the
      * text `Double.parseDouble` reads.
      */
    private def number(): Value = {
      val neg = in.peek() == '-'
      if (neg) in.skip()
      var acc = 0L // the integer digits, unsigned
      var digits = 0
      var text: java.lang.StringBuilder = null // once a double
      def toText(): scala.Unit = if (text == null) {
        text = new java.lang.StringBuilder(24)
        if (neg) text.append('-')
        if (digits > 0) text.append(java.lang.Long.toUnsignedString(acc))
      }
      def run(): scala.Unit = {
        var c = in.peek()
        while (c >= '0' && c <= '9') {
          text.append(c.toChar)
          in.skip()
          c = in.peek()
        }
      }
      var c = in.peek()
      while (c >= '0' && c <= '9') {
        val d = c - '0'
        if (text != null) text.append(c.toChar)
        else if (java.lang.Long.compareUnsigned(acc, 0x1999999999999999L) > 0 ||
            (acc == 0x1999999999999999L && d > 5)) { // past 2⁶⁴−1
          toText()
          text.append(c.toChar)
        } else acc = acc * 10 + d
        digits += 1
        in.skip()
        c = in.peek()
      }
      if (c == '.') {
        toText(); text.append('.'); in.skip(); run()
        c = in.peek()
      }
      if (c == 'e' || c == 'E') {
        toText(); text.append(c.toChar); in.skip()
        c = in.peek()
        if (c == '+' || c == '-') { text.append(c.toChar); in.skip() }
        run()
      }
      if (text != null) {
        try Value.F64(java.lang.Double.parseDouble(text.toString))
        catch { case _: NumberFormatException => throw err(s"bad number $text") }
      } else if (digits == 0) throw err("bad number -")
      else if (!neg) if (acc >= 0) Value.I64(acc) else Value.U64(acc)
      else if (acc >= 0 || acc == Long.MinValue) Value.I64(-acc)
      else Value.F64(-java.lang.Double.parseDouble(
        java.lang.Long.toUnsignedString(acc)))
    }
  }
}
