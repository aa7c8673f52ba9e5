package graft.formats

import java.io.OutputStream

/** Big-endian byte sink without locks, the write-side twin of
  * [[ByteIn]]: the codecs write single bytes and fixed-width numbers
  * into a plain array instead of through the synchronized JDK streams.
  *
  *  - `ByteOut()` grows as needed: a reusable record buffer
  *    (`reset`, `toByteArray`), and the buffer behind `encode`.
  *  - `ByteOut(sink)` holds 64 KiB and passes it to `sink` when full
  *    and on `flush`.
  *
  * `position` counts every byte written since creation (or the last
  * `reset`), passed down or not, so an encoder reads its record
  * boundaries off it, and `record` writes one record whole or not at
  * all. Numbers are written as `DataOutputStream` writes them
  * (`floatToIntBits`, `doubleToLongBits`), so the bytes match.
  */
final class ByteOut private (sink: OutputStream, size: Int)
    extends OutputStream {
  private var buf = new Array[Byte](size)
  private var n = 0 // bytes held in buf
  private var passed = 0L // bytes handed to sink
  private var held = -1 // start in buf of the record `record` writes

  def position: Long = passed + n

  /** Writes one record with `body`, whole or not at all: while `body`
    * runs the window passes down only the bytes before the record and
    * grows to hold it, and if `body` throws, the bytes it wrote are
    * dropped before the failure goes on.
    */
  def record(body: => Unit): Unit = {
    held = n
    try body
    catch { case e: Throwable => n = held; throw e }
    finally held = -1
  }

  override def write(b: Int): Unit = {
    if (n == buf.length) room(1)
    buf(n) = b.toByte
    n += 1
  }

  def writeShort(v: Int): Unit = {
    if (buf.length - n < 2) room(2)
    buf(n) = (v >>> 8).toByte
    buf(n + 1) = v.toByte
    n += 2
  }

  def writeInt(v: Int): Unit = {
    if (buf.length - n < 4) room(4)
    buf(n) = (v >>> 24).toByte
    buf(n + 1) = (v >>> 16).toByte
    buf(n + 2) = (v >>> 8).toByte
    buf(n + 3) = v.toByte
    n += 4
  }

  def writeLong(v: Long): Unit = {
    writeInt((v >>> 32).toInt)
    writeInt(v.toInt)
  }

  def writeFloat(f: Float): Unit = writeInt(java.lang.Float.floatToIntBits(f))
  def writeDouble(d: Double): Unit =
    writeLong(java.lang.Double.doubleToLongBits(d))

  /** `v` in decimal ASCII, as `Long.toString` prints it. */
  def writeDecimal(v: Long): Unit =
    if (v == Long.MinValue) write(ByteOut.MinLong)
    else {
      if (buf.length - n < 20) room(20)
      var x = v
      if (x < 0) { buf(n) = '-'.toByte; n += 1; x = -x }
      var digits = 1
      var t = x / 10
      while (t != 0) { digits += 1; t /= 10 }
      var p = n + digits - 1
      while (p >= n) { buf(p) = ('0' + x % 10).toByte; x /= 10; p -= 1 }
      n += digits
    }

  override def write(b: Array[Byte], off: Int, len: Int): Unit =
    if (len <= buf.length - n) {
      System.arraycopy(b, off, buf, n, len)
      n += len
    } else if (sink == null || held >= 0) {
      room(len)
      System.arraycopy(b, off, buf, n, len)
      n += len
    } else { // larger than the room left: pass it straight down
      drain()
      sink.write(b, off, len)
      passed += len
    }

  /** The bytes held, for a sink-less buffer (all bytes since `reset`). */
  def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)

  /** Empties a sink-less buffer for reuse, keeping its capacity. */
  def reset(): Unit = { n = 0; passed = 0L }

  override def flush(): Unit = if (sink != null) { drain(); sink.flush() }

  /** Makes room for `k` more bytes: drains to the sink, and grows if
    * that leaves too little.
    */
  private def room(k: Int): Unit = {
    if (sink != null) drain()
    if (buf.length - n < k)
      buf = java.util.Arrays.copyOf(buf, math.min(
        math.max(buf.length * 2L, n.toLong + k), Int.MaxValue - 8L).toInt)
  }

  /** Passes down the bytes held, up to the record `record` writes. */
  private def drain(): Unit = {
    val end = if (held < 0) n else held
    if (end > 0) {
      sink.write(buf, 0, end)
      passed += end
      System.arraycopy(buf, end, buf, 0, n - end)
      n -= end
      if (held > 0) held = 0
    }
  }
}

object ByteOut {
  private val MinLong = Long.MinValue.toString.getBytes(
    java.nio.charset.StandardCharsets.US_ASCII)

  /** A growable buffer with no sink. */
  def apply(): ByteOut = new ByteOut(null, 256)
  /** A 64 KiB window in front of `sink`; the caller closes `sink`. */
  def apply(sink: OutputStream): ByteOut = new ByteOut(sink, 1 << 16)
}
