package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive answer fingerprint: `"<rows>:<hash>"`, where hash is
  * the 64-bit wrapping sum of each row's SHA-256 prefix. A row is its
  * values in column-name order; non-integral numbers are rounded to 9
  * significant digits so summation order cannot flip the result.
  * `oracle_check.py` implements the same canonical form over DuckDB
  * results. */
object Fingerprint {

  private val digits = new MathContext(9, RoundingMode.HALF_EVEN)
  private val tsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else new java.math.BigDecimal(d).round(digits).stripTrailingZeros.toPlainString

  def canon(v: Any): String = v match {
    case null => "∅"
    case b: Boolean => b.toString
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case i: Long => i.toString
    case d: java.math.BigDecimal =>
      if (d.stripTrailingZeros.scale <= 0 && d.abs.compareTo(new java.math.BigDecimal("1e15")) < 0)
        d.toBigInteger.toString
      else num(d.doubleValue)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case s: String => s
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp =>
      java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC).format(tsFormat)
    case t: java.time.Instant =>
      java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).format(tsFormat)
    case t: java.time.LocalDateTime => t.format(tsFormat)
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Array[Row]): String = {
    var sum = 0L
    if (rows.nonEmpty) {
      val names = rows.head.schema.fieldNames
      val order = names.indices.sortBy(names(_))
      val md = MessageDigest.getInstance("SHA-256")
      rows.foreach { r =>
        val line = order.map(i => canon(r.get(i))).mkString("\u0001")
        val h = md.digest(line.getBytes(StandardCharsets.UTF_8))
        sum += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      }
    }
    f"${rows.length}:${sum}%016x"
  }
}
