package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Result digest of a query entry, computed exactly as `digest` in
  * `perfbench/tables.py` computes it for the DuckDB oracle result:
  * columns sorted by name, each cell rendered to a type-tagged string
  * (integral numbers of any type render alike, other doubles by their
  * bits), rows sorted by their UTF-8 bytes, then SHA-256.
  */
object Canon {

  def cell(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('N')
    case b: Boolean => sb.append(if (b) 'T' else 'F')
    case n: Byte => sb.append('i').append(n.toLong)
    case n: Short => sb.append('i').append(n.toLong)
    case n: Int => sb.append('i').append(n.toLong)
    case n: Long => sb.append('i').append(n)
    case f: Float => double(f.toDouble, sb)
    case d: Double => double(d, sb)
    case d: java.math.BigDecimal =>
      if (d.signum == 0 || d.stripTrailingZeros.scale <= 0)
        sb.append('i').append(d.toBigInteger)
      else double(d.doubleValue, sb)
    case s: String =>
      sb.append('s').append(s.codePointCount(0, s.length)).append(':').append(s)
    case t: java.sql.Timestamp =>
      sb.append('t').append(Math.floorDiv(t.getTime, 1000L) * 1000000L +
        t.getNanos / 1000)
    case t: java.time.Instant =>
      sb.append('t').append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      sb.append('t').append(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date => sb.append('D').append(d.toLocalDate.toString)
    case d: java.time.LocalDate => sb.append('D').append(d.toString)
    case b: Array[Byte] =>
      sb.append('b'); b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    case r: Row =>
      sb.append('{')
      (0 until r.length).foreach { i => if (i > 0) sb.append(','); cell(r.get(i), sb) }
      sb.append('}')
    case xs: scala.collection.Seq[_] =>
      sb.append('[')
      xs.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); cell(x, sb) }
      sb.append(']')
    case other =>
      throw new IllegalArgumentException(
        s"no canonical form for ${other.getClass.getName}")
  }

  private def double(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d.isNaN) sb.append("nan")
    else if (d == Math.floor(d) && Math.abs(d) < 1e15) sb.append('i').append(d.toLong)
    else {
      val hex = java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
      sb.append('d').append("0" * (16 - hex.length)).append(hex)
    }

  /** (hex digest, row count) of a collected result. */
  def digest(columns: Seq[String], rows: Array[Row]): (String, Long) = {
    val order = columns.indices.sortBy(columns(_))
    val rendered = rows.map { r =>
      val sb = new java.lang.StringBuilder
      order.zipWithIndex.foreach { case (c, i) =>
        if (i > 0) sb.append('|'); cell(r.get(c), sb)
      }
      sb.toString.getBytes(UTF_8)
    }
    java.util.Arrays.sort(rendered, (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b))
    val md = MessageDigest.getInstance("SHA-256")
    md.update(("cols:" + order.map(columns(_)).mkString(",") + "\n").getBytes(UTF_8))
    rendered.foreach { r => md.update(r); md.update('\n'.toByte) }
    (md.digest().map(b => f"${b & 0xff}%02x").mkString, rows.length.toLong)
  }
}
