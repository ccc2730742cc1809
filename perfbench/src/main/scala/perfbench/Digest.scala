package perfbench

import org.apache.spark.sql.Row

/** Order-insensitive result digest, identical to `perfbench/digest.py`'s
  * over DuckDB rows: every number is rendered exactly, rounded half-even
  * to 6 decimals (so an integer and a double of equal value agree, and
  * a last-ulp difference in a summed double does not count), dates in
  * ISO form, NULL as `\N`; cells joined by U+001F, rows sorted, and the
  * SHA-256 of the newline-joined rows prefixed by the row count. */
object Digest {
  private def num(b: java.math.BigDecimal): String =
    b.setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString

  private val tsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def cell(v: Any): String = v match {
    case null                     => "\\N"
    case d: Double                => num(new java.math.BigDecimal(d + 0.0))
    case f: Float                 => num(new java.math.BigDecimal(f.toDouble + 0.0))
    case b: java.math.BigDecimal  => num(b)
    case b: scala.math.BigDecimal => num(b.bigDecimal)
    case n: Long                  => num(java.math.BigDecimal.valueOf(n))
    case n: Int                   => num(java.math.BigDecimal.valueOf(n.toLong))
    case n: Short                 => num(java.math.BigDecimal.valueOf(n.toLong))
    case n: Byte                  => num(java.math.BigDecimal.valueOf(n.toLong))
    case b: Boolean               => b.toString
    case d: java.sql.Date         => d.toLocalDate.toString
    case d: java.time.LocalDate   => d.toString
    case t: java.sql.Timestamp    => tsFormat.format(t.toLocalDateTime)
    case t: java.time.Instant     =>
      tsFormat.format(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => tsFormat.format(t)
    case other                    => other.toString
  }

  def of(rows: Array[Row]): String = {
    val lines = rows.map(r => (0 until r.length).map(i => cell(r.get(i))).mkString("\u001f"))
    java.util.Arrays.sort(lines.asInstanceOf[Array[Object]])
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    s"${rows.length}:" + md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
