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
  * boundaries off it. Numbers are written as `DataOutputStream` writes
  * them (`floatToIntBits`, `doubleToLongBits`), so the bytes match.
  */
final class ByteOut private (sink: OutputStream, size: Int)
    extends OutputStream {
  private var buf = new Array[Byte](size)
  private var n = 0 // bytes held in buf
  private var passed = 0L // bytes handed to sink

  def position: Long = passed + n

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

  override def write(b: Array[Byte], off: Int, len: Int): Unit =
    if (len <= buf.length - n) {
      System.arraycopy(b, off, buf, n, len)
      n += len
    } else if (sink == null) {
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

  /** Makes room for `k` more bytes: drains to the sink, or grows. */
  private def room(k: Int): Unit =
    if (sink != null) drain()
    else buf = java.util.Arrays.copyOf(buf, math.min(
      math.max(buf.length * 2L, n.toLong + k), Int.MaxValue - 8L).toInt)

  private def drain(): Unit = if (n > 0) {
    sink.write(buf, 0, n)
    passed += n
    n = 0
  }
}

object ByteOut {
  /** A growable buffer with no sink. */
  def apply(): ByteOut = new ByteOut(null, 256)
  /** A 64 KiB window in front of `sink`; the caller closes `sink`. */
  def apply(sink: OutputStream): ByteOut = new ByteOut(sink, 1 << 16)
}
