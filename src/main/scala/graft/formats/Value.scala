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
  * Emit matches serde_json compact formatting (json.rs:60-66): no
  * whitespace, `Bytes` as array of numbers (serde serializes Vec<u8>
  * that way), Unit as null. Parse accepts any standard JSON; numbers
  * become I64 when integral and in range, U64 for (2^63, 2^64), F64
  * otherwise (ValueVisitor precedence, mod.rs:185-372).
  */
object JsonCodec {

  def emit(v: Value): String = {
    val sb = new StringBuilder
    emitTo(v, sb)
    sb.toString
  }

  /** `parse(emit(v))` computed without the text, UTF-8 hop included:
    * tagged scalars widen, `U64` that fits a Long becomes `I64`,
    * `Bytes` become a sequence of numbers, non-string map keys become
    * the string `emit` prints, NaN/±Inf become `Unit`, −0.0 becomes
    * 0.0, `F32` becomes the `F64` of its f32 decimal form, and lone
    * surrogates become `?` (as in the UTF-8 bytes of the text). These
    * are the values the JSON text row delivers, so a binary row holding
    * msgpack of `normalize(v)` yields the same output bytes.
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
        case other => Value.Str(utf8Safe(emit(other)))
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

  private def emitTo(v: Value, sb: StringBuilder): scala.Unit = v match {
    case Value.Unit => sb.append("null")
    case Value.Bool(b) => sb.append(if (b) "true" else "false")
    case Value.I64(n) => sb.append(n)
    case Value.U64(bits) => sb.append(java.lang.Long.toUnsignedString(bits))
    case Value.F64(d) =>
      if (d.isNaN || d.isInfinite) sb.append("null") // serde_json behavior
      else if (d == Math.floor(d) && !d.isInfinite && Math.abs(d) < 1e15)
        sb.append(d.toLong).append(".0")
      else sb.append(d)
    // tagged scalars print exactly as their widened value would —
    // except F32, whose shortest-roundtrip repr is the f32 one
    // (serde_json prints Value::F32(1.1) as "1.1", not the widened
    // double 1.100000023841858)
    case Value.I8(n) => sb.append(n.toInt)
    case Value.I16(n) => sb.append(n.toInt)
    case Value.I32(n) => sb.append(n)
    case Value.U8(n) => sb.append(n)
    case Value.U16(n) => sb.append(n)
    case Value.U32(n) => sb.append(n)
    case Value.F32(f) =>
      if (f.isNaN || f.isInfinite) sb.append("null")
      else if (f == Math.floor(f) && Math.abs(f) < 1e15f)
        sb.append(f.toLong).append(".0")
      else sb.append(f)
    case Value.Chr(c) => emitString(c.toString, sb)
    case Value.Str(s) => emitString(s, sb)
    case Value.Bytes(b) =>
      sb.append('[')
      var i = 0
      while (i < b.length) {
        if (i > 0) sb.append(',')
        sb.append(b(i) & 0xff)
        i += 1
      }
      sb.append(']')
    case Value.Seq(vs) =>
      sb.append('[')
      var first = true
      vs.foreach { e =>
        if (!first) sb.append(',')
        first = false
        emitTo(e, sb)
      }
      sb.append(']')
    case Value.Map(kvs) =>
      sb.append('{')
      var first = true
      kvs.foreach { case (k, e) =>
        if (!first) sb.append(',')
        first = false
        k match {
          case Value.Str(s) => emitString(s, sb)
          case other => emitString(emit(other), sb) // non-string key → stringify
        }
        sb.append(':')
        emitTo(e, sb)
      }
      sb.append('}')
  }

  private def emitString(s: String, sb: StringBuilder): scala.Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
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

  /** Single-char-pushback cursor over a Reader — the parser below works
    * identically over an in-memory String and an open multi-GB stream
    * (the reference's constant-memory StreamDeserializer property,
    * json.rs:53-58): one value in flight, never the whole input.
    */
  private sealed abstract class Cursor {
    def read(): Int
    def unread(c: Int): scala.Unit
    def peek(): Int
    def offset: Int
  }

  /** Reads `r` through an 8 KiB char window: one bulk `read` (one run
    * of the charset decoder) per window instead of one per char.
    */
  private final class ReaderCursor(r: java.io.Reader) extends Cursor {
    private val buf = new Array[Char](1 << 13)
    private var i = 0 // next unread char
    private var n = 0 // end of the chars held
    private var pos = 0
    def read(): Int =
      if (i < n || fill()) {
        val c = buf(i)
        i += 1
        pos += 1
        c
      } else -1
    // `c` is the char read() just returned, so it is still at buf(i - 1)
    def unread(c: Int): scala.Unit = if (c >= 0) { i -= 1; pos -= 1 }
    def peek(): Int = if (i < n || fill()) buf(i) else -1
    def offset: Int = pos
    private def fill(): Boolean = {
      var k = r.read(buf, 0, buf.length)
      while (k == 0) k = r.read(buf, 0, buf.length)
      i = 0
      n = math.max(k, 0)
      k > 0
    }
  }

  /** Offset cursor over an in-memory String — the per-row hot path of
    * the codec expressions (to_/from_ × 100k+ rows): no Reader lock,
    * no pushback indirection.
    */
  private final class StringCursor(s: String) extends Cursor {
    private var pos: Int = 0
    def read(): Int =
      if (pos < s.length) { val c = s.charAt(pos); pos += 1; c } else -1
    def unread(c: Int): scala.Unit = if (c >= 0) pos -= 1
    def peek(): Int = if (pos < s.length) s.charAt(pos) else -1
    def offset: Int = pos
  }

  def parse(s: String): Value = {
    val cur = new StringCursor(s)
    val v = parseValue(cur)
    skipWs(cur)
    if (cur.peek() >= 0) throw err("trailing content", cur.offset)
    v
  }

  /** Whitespace-separated stream of JSON values (the reference's S1
    * framing: serde_json StreamDeserializer, json.rs:53-58).
    */
  def parseStream(s: String): Vector[Value] =
    parseIterator(new StringCursor(s)).toVector

  /** Incremental whitespace-separated value stream from an open reader:
    * one value in flight, constant memory regardless of input size.
    */
  def parseIterator(r: java.io.Reader): Iterator[Value] =
    parseIterator(new ReaderCursor(r))

  private def parseIterator(cur: Cursor): Iterator[Value] = {
    new Iterator[Value] {
      def hasNext: Boolean = { skipWs(cur); cur.peek() >= 0 }
      def next(): Value = parseValue(cur)
    }
  }

  private def parseValue(cur: Cursor): Value = {
    skipWs(cur)
    val c = cur.peek()
    if (c < 0) throw err("unexpected end of input", cur.offset)
    c.toChar match {
      case 'n' => expect(cur, "null"); Value.Unit
      case 't' => expect(cur, "true"); Value.Bool(true)
      case 'f' => expect(cur, "false"); Value.Bool(false)
      case '"' => Value.Str(parseString(cur))
      case '[' =>
        cur.read()
        skipWs(cur)
        if (cur.peek() == ']') { cur.read(); Value.Seq(Vector.empty) }
        else {
          var items = Vector.empty[Value]
          var done = false
          while (!done) {
            items :+= parseValue(cur)
            skipWs(cur)
            val d = cur.read()
            if (d == ',') ()
            else if (d == ']') done = true
            else if (d < 0) throw err("unterminated array", cur.offset)
            else throw err(s"expected , or ] got ${d.toChar}", cur.offset)
          }
          Value.Seq(items)
        }
      case '{' =>
        cur.read()
        skipWs(cur)
        if (cur.peek() == '}') { cur.read(); Value.Map(Vector.empty) }
        else {
          var items = Vector.empty[(Value, Value)]
          var done = false
          while (!done) {
            skipWs(cur)
            val k = parseString(cur)
            skipWs(cur)
            if (cur.read() != ':') throw err("expected :", cur.offset)
            val v = parseValue(cur)
            items :+= ((Value.Str(k): Value, v))
            skipWs(cur)
            val d = cur.read()
            if (d == ',') ()
            else if (d == '}') done = true
            else if (d < 0) throw err("unterminated object", cur.offset)
            else throw err(s"expected , or } got ${d.toChar}", cur.offset)
          }
          Value.Map(items)
        }
      case ch if ch == '-' || (ch >= '0' && ch <= '9') => parseNumber(cur)
      case ch => throw err(s"unexpected char $ch", cur.offset)
    }
  }

  private def skipWs(cur: Cursor): scala.Unit = {
    var c = cur.read()
    while (c == ' ' || c == '\n' || c == '\t' || c == '\r') c = cur.read()
    cur.unread(c)
  }

  private def expect(cur: Cursor, lit: String): scala.Unit = {
    var i = 0
    while (i < lit.length) {
      if (cur.read() != lit.charAt(i)) throw err(s"expected $lit", cur.offset)
      i += 1
    }
  }

  private def parseString(cur: Cursor): String = {
    if (cur.read() != '"') throw err("expected string", cur.offset)
    val sb = new StringBuilder
    var c = cur.read()
    while (c >= 0 && c != '"') {
      if (c == '\\') {
        val e = cur.read()
        if (e < 0) throw err("bad escape", cur.offset)
        e.toChar match {
          case '"' => sb.append('"')
          case '\\' => sb.append('\\')
          case '/' => sb.append('/')
          case 'n' => sb.append('\n')
          case 't' => sb.append('\t')
          case 'r' => sb.append('\r')
          case 'b' => sb.append('\b')
          case 'f' => sb.append('\f')
          case 'u' =>
            val hex = new Array[Char](4)
            var i = 0
            while (i < 4) {
              val h = cur.read()
              if (h < 0) throw err("bad \\u escape", cur.offset)
              hex(i) = h.toChar
              i += 1
            }
            sb.append(Integer.parseInt(new String(hex), 16).toChar)
          case c2 => throw err(s"bad escape \\$c2", cur.offset)
        }
      } else sb.append(c.toChar)
      c = cur.read()
    }
    if (c < 0) throw err("unterminated string", cur.offset)
    sb.toString
  }

  private def parseNumber(cur: Cursor): Value = {
    val text = new StringBuilder
    var isFloat = false
    def digits(): scala.Unit = {
      var c = cur.read()
      while (c >= '0' && c <= '9') { text.append(c.toChar); c = cur.read() }
      cur.unread(c)
    }
    if (cur.peek() == '-') text.append(cur.read().toChar)
    digits()
    if (cur.peek() == '.') {
      isFloat = true
      text.append(cur.read().toChar)
      digits()
    }
    if (cur.peek() == 'e' || cur.peek() == 'E') {
      isFloat = true
      text.append(cur.read().toChar)
      if (cur.peek() == '+' || cur.peek() == '-') text.append(cur.read().toChar)
      digits()
    }
    val t = text.toString
    if (isFloat) Value.F64(t.toDouble)
    else {
      try Value.I64(t.toLong)
      catch {
        case _: NumberFormatException =>
          if (!t.startsWith("-")) {
            try Value.U64(java.lang.Long.parseUnsignedLong(t))
            catch { case _: NumberFormatException => Value.F64(t.toDouble) }
          } else Value.F64(t.toDouble)
      }
    }
  }

  private def err(msg: String, at: Int) =
    new IllegalArgumentException(s"json: $msg at offset $at")
}
