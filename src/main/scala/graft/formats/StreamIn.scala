package graft.formats

import java.io.{EOFException, InputStream}
import java.nio.{BufferUnderflowException, ByteBuffer}
import java.nio.charset.StandardCharsets.UTF_8

/** Sequential byte cursor over one window of bytes, so every decoder
  * reads an in-memory slice and an open stream the same way — the
  * constant-memory streaming property of the reference decoders
  * (messagepack.rs:40-51, cbor.rs:18-25, json.rs:53-58): one record in
  * flight, never the whole file.
  *
  * Over a stream the window holds 64 KiB, refilled by one bulk `read`
  * and indexed directly: no per-byte call into a (locked) JDK stream.
  * Over an array the window is the array itself and never refills; a
  * read past its end throws `BufferUnderflowException`, as a
  * `ByteBuffer` does, where a stream throws `EOFException`.
  *
  * The text decoder ([[JsonCodec]]) scans the window in place through
  * `peekNonSpace`, `skip` and `textRun`.
  */
private[formats] final class ByteIn private (in: InputStream,
    buf: Array[Byte], private var i: Int, private var n: Int) {
  // the window: buf holds the bytes i until n unread

  /** Input offset of `buf(0)`. */
  private var base: Long = -i

  /** Bytes consumed since the start of the input. */
  def position: Long = base + i

  /** Whether `k` (≤ 64 KiB) bytes are held from `i` on, after moving the
    * unread tail to the front of the window and reading until they are.
    * An array window holds all it ever will.
    */
  private def fill(k: Int): Boolean = {
    if (in == null) return false
    System.arraycopy(buf, i, buf, 0, n - i)
    n -= i
    base += i
    i = 0
    while (n < k) {
      val r = in.read(buf, n, buf.length - n)
      if (r < 0) return false
      n += r
    }
    true
  }

  private def need(k: Int): Unit =
    if (n - i < k && !fill(k))
      throw (if (in == null) new BufferUnderflowException
        else new EOFException("unexpected end of input"))

  /** Next byte as 0..255; throws at the end of the input. */
  def u8(): Int = {
    need(1)
    val b = buf(i) & 0xff
    i += 1
    b
  }
  /** Next byte, signed. */
  def s8(): Byte = u8().toByte
  def s16(): Short = {
    need(2)
    val v = (buf(i) & 0xff) << 8 | (buf(i + 1) & 0xff)
    i += 2
    v.toShort
  }
  def i32(): Int = {
    need(4)
    val v = (buf(i) & 0xff) << 24 | (buf(i + 1) & 0xff) << 16 |
      (buf(i + 2) & 0xff) << 8 | (buf(i + 3) & 0xff)
    i += 4
    v
  }
  def i64(): Long = (i32().toLong << 32) | (i32() & 0xffffffffL)
  def f32(): Float = java.lang.Float.intBitsToFloat(i32())
  def f64(): Double = java.lang.Double.longBitsToDouble(i64())

  /** The next `len` bytes. Allocates at most a window up front and grows
    * only as bytes arrive, so a length header claiming more than the
    * input holds ends at the end of the input, not in allocating the
    * claim.
    */
  def bytes(len: Int): Array[Byte] = {
    var a = new Array[Byte](math.min(len, ByteIn.Window))
    var got = 0
    while (got < len) {
      if (i == n) need(1)
      val k = math.min(len - got, n - i)
      if (got + k > a.length)
        a = java.util.Arrays.copyOf(a,
          math.min(len.toLong, math.max(2L * a.length, got + k)).toInt)
      System.arraycopy(buf, i, a, got, k)
      i += k
      got += k
    }
    a
  }

  /** The next `len` bytes decoded as UTF-8, straight from the window
    * when they fit in it.
    */
  def utf8(len: Int): String =
    if (len > ByteIn.Window) new String(bytes(len), UTF_8)
    else {
      need(len)
      val s = new String(buf, i, len, UTF_8)
      i += len
      s
    }

  /** Next byte as 0..255 without consuming, or -1 at end of input. */
  def peek(): Int = if (i < n || fill(1)) buf(i) & 0xff else -1

  /** Consumes the byte `peek` or `peekNonSpace` just returned. */
  def skip(): Unit = i += 1

  /** Skips JSON whitespace (space, tab, CR, LF): the next other byte as
    * 0..255, not consumed, or -1 at end of input.
    */
  def peekNonSpace(): Int = {
    while (i < n || fill(1)) {
      val b = buf(i)
      if (b == ' ' || b == '\n' || b == '\t' || b == '\r') i += 1
      else return b & 0xff
    }
    -1
  }

  /** The UTF-8 text from here up to the next `"` or `\` (not consumed)
    * or the end of the window, decoded once. A run the window cuts
    * stops before the UTF-8 sequence the cut splits, which the next
    * call decodes after the refill; at the end of the input the call
    * decodes what is left (an incomplete sequence as U+FFFD), or
    * returns "" when nothing is.
    */
  def textRun(): String = {
    var j = i
    while (true) {
      while (j < n && buf(j) != '"' && buf(j) != '\\') j += 1
      if (j < n) return take(j)
      val cut = wholeUtf8(n)
      if (cut > i) return take(cut)
      val held = n - i // at most a cut sequence: read on
      if (!fill(held + 1)) return take(n)
      j = held
    }
    throw new IllegalStateException // unreachable
  }

  private def take(end: Int): String = {
    val s = new String(buf, i, end - i, UTF_8)
    i = end
    s
  }

  /** `end`, or the start of the UTF-8 sequence the bytes from `i` to
    * `end` leave incomplete.
    */
  private def wholeUtf8(end: Int): Int = {
    var k = end - 1
    while (k > i && k > end - 4 && (buf(k) & 0xc0) == 0x80) k -= 1
    if (k < i) return end
    val lead = buf(k) & 0xff
    val len =
      if (lead >= 0xf0) 4 else if (lead >= 0xe0) 3
      else if (lead >= 0xc0) 2 else 1
    if (end - k < len) k else end
  }

  /** True iff positioned at a clean end-of-input (record boundary). */
  def atEnd(): Boolean = peek() < 0
}

private[formats] object ByteIn {

  final val Window = 1 << 16

  def apply(in: InputStream): ByteIn =
    new ByteIn(in, new Array[Byte](Window), 0, 0)

  def apply(bytes: Array[Byte]): ByteIn = new ByteIn(null, bytes, 0, bytes.length)

  /** The bytes from `b`'s position to its limit, read in place from
    * its backing array; `b` itself is left as it is.
    */
  def apply(b: ByteBuffer): ByteIn =
    new ByteIn(null, b.array, b.arrayOffset + b.position(),
      b.arrayOffset + b.limit())
}
