package graft

import graft.formats.Value

/** The char-level JSON parser and compact emitter `JsonCodec` had
  * before it read and wrote UTF-8 bytes, kept as the reference the
  * byte codec is checked against (JsonByteCodecSpec): `emit` builds a
  * String, `parseIterator` reads chars from a `Reader`, recursing
  * without a depth bound.
  */
object JsonReference {

  def emit(v: Value): String = {
    val sb = new StringBuilder
    emitTo(v, sb)
    sb.toString
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

