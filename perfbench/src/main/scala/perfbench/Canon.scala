package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.Row

/** Order-insensitive content hash of a query result. Each value has one
  * canonical text form (numbers rounded to 12 significant digits, so an
  * engine and an oracle that differ in the last bits of a double agree),
  * each row is its values in column-name order, and the table hash is the
  * sum mod 2^64 of the rows' MD5 prefixes. pb/canon.py implements the same
  * rules for DuckDB results; the two must stay in step.
  */
object Canon {
  private val Digits = new MathContext(12, RoundingMode.HALF_EVEN)
  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def number(b: JBigDecimal): String =
    if (b.signum == 0) "0"
    else {
      val r = b.round(Digits).stripTrailingZeros
      val unscaled = r.unscaledValue.toString
      if (r.scale <= 0 && r.unscaledValue.abs.toString.length - r.scale <= 15)
        unscaled + "0" * (-r.scale)
      else s"${unscaled}e${-r.scale}"
    }

  def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else number(new JBigDecimal(d))

  def value(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: JBigDecimal => number(b)
    case b: BigDecimal => number(b.bigDecimal)
    case s: String => s
    case t: java.sql.Timestamp =>
      LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC).format(TsFormat)
    case t: java.time.Instant => LocalDateTime.ofInstant(t, ZoneOffset.UTC).format(TsFormat)
    case t: LocalDateTime => t.format(TsFormat)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + ":" + value(x) }.sorted.mkString("{", ",", "}")
    case bs: Array[Byte] => bs.map(b => f"${b & 0xff}%02x").mkString
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (row count, hash) of rows whose columns are named `cols`. */
  def hash(cols: Seq[String], rows: Array[Row]): (Long, String) = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val line = order.map(i => value(r.get(i))).mkString("\u001f")
      val d = md.digest(line.getBytes("UTF-8"))
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      sum += h
    }
    (rows.length.toLong, java.lang.Long.toUnsignedString(sum, 16))
  }
}
