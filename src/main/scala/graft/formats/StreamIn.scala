package graft.formats

import java.io.{EOFException, InputStream}
import java.nio.{BufferUnderflowException, ByteBuffer}

/** Sequential byte cursor abstracting an in-memory slice vs an open
  * stream, so the binary codecs (msgpack/cbor) decode identically from
  * either — the constant-memory streaming property of the reference
  * decoders (messagepack.rs:40-51, cbor.rs:18-25): one record in
  * flight, never the whole file.
  */
private[formats] trait ByteIn {
  /** Next byte as 0..255; throws EOFException mid-value. */
  def u8(): Int
  /** Next byte, signed. */
  def s8(): Byte
  def s16(): Short
  def i32(): Int
  def i64(): Long
  def f32(): Float
  def f64(): Double
  def bytes(n: Int): Array[Byte]
  /** Next byte as 0..255 without consuming, or -1 at end of input. */
  def peek(): Int
  /** True iff positioned at a clean end-of-input (record boundary). */
  def atEnd(): Boolean = peek() < 0
}

private[formats] object ByteIn {

  def apply(buf: ByteBuffer): ByteIn = new OfBuffer(buf)
  def apply(in: InputStream): ByteIn = new OfStream(in)

  private final class OfBuffer(buf: ByteBuffer) extends ByteIn {
    def u8(): Int = buf.get() & 0xff
    def s8(): Byte = buf.get()
    def s16(): Short = buf.getShort()
    def i32(): Int = buf.getInt()
    def i64(): Long = buf.getLong()
    def f32(): Float = buf.getFloat()
    def f64(): Double = buf.getDouble()
    /** Checks `n` against the bytes left before allocating, so a length
      * header claiming more than the input holds cannot allocate it.
      */
    def bytes(n: Int): Array[Byte] = {
      if (n > buf.remaining) throw new BufferUnderflowException
      val a = new Array[Byte](n); buf.get(a); a
    }
    def peek(): Int =
      if (buf.hasRemaining) buf.get(buf.position()) & 0xff else -1
  }

  private final val Window = 1 << 16

  /** Reads `in` through a 64 KiB window indexed directly: one bulk
    * `read` per window, no per-byte call into a (locked) JDK stream.
    */
  private final class OfStream(in: InputStream) extends ByteIn {
    private val buf = new Array[Byte](Window)
    private var i = 0 // next unread byte
    private var n = 0 // end of the bytes held

    /** Whether `k` (≤ Window) bytes are held from `i` on, after moving
      * the unread tail to the front and reading until they are.
      */
    private def fill(k: Int): Boolean = {
      System.arraycopy(buf, i, buf, 0, n - i)
      n -= i
      i = 0
      while (n < k) {
        val r = in.read(buf, n, Window - n)
        if (r < 0) return false
        n += r
      }
      true
    }

    private def need(k: Int): Unit =
      if (n - i < k && !fill(k))
        throw new EOFException("unexpected end of input")

    def u8(): Int = {
      need(1)
      val b = buf(i) & 0xff
      i += 1
      b
    }
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

    /** Allocates at most a window up front and grows only as bytes
      * arrive, so a length header claiming more than the input holds
      * ends in EOFException, not in allocating the claim.
      */
    def bytes(len: Int): Array[Byte] = {
      var a = new Array[Byte](math.min(len, Window))
      var got = 0
      while (got < len) {
        if (i == n) need(1)
        val k = math.min(len - got, n - i)
        if (got + k > a.length)
          a = java.util.Arrays.copyOf(a,
            math.min(len.toLong, 2L * a.length).toInt)
        System.arraycopy(buf, i, a, got, k)
        i += k
        got += k
      }
      a
    }

    def peek(): Int = if (i < n || fill(1)) buf(i) & 0xff else -1
  }
}
