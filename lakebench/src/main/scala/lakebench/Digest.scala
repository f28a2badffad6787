package lakebench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** An order-insensitive digest of collected rows, computed the same way by
  * `oracle.py` over DuckDB results, so an engine result can be compared
  * with its SQL oracle. Cells are rendered type-insensitively (an integral
  * double and a BIGINT render alike; floating values keep 12 significant
  * digits; timestamps are epoch microseconds), each row hashes with MD5 and
  * the digest is the row count plus the sum of row hashes.
  */
object Digest {

  private val Sig12 = new MathContext(12, RoundingMode.HALF_EVEN)

  private def number(v: JBigDecimal): String = {
    val r = v.round(Sig12)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  private def floating(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else number(new JBigDecimal(d))

  /** The result types of the benchmark's queries; anything else renders
    * with `toString` (and would then not match its oracle's digest). */
  def cell(v: Any): String = v match {
    case null                  => "\\N"
    case x: Float              => floating(x.toDouble)
    case x: Double             => floating(x)
    case x: JBigDecimal        => number(x)
    case t: java.sql.Timestamp =>
      Math.addExact(Math.multiplyExact(t.toInstant.getEpochSecond, 1000000L),
        t.toInstant.getNano / 1000L).toString
    case d: java.sql.Date      => d.toLocalDate.toString
    case other                 => other.toString // strings, booleans, integers
  }

  private def rowHash(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    (0 until 8).foldLeft(0L)((h, i) => (h << 8) | (d(i) & 0xffL))
  }

  /** `rows:hex` where hex is the 64-bit wrapping sum of per-row hashes over
    * columns taken in name order. */
  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val sum = rows.foldLeft(0L) { (acc, r) =>
      acc + rowHash(order.map(i => cell(r.get(i))).mkString("\u001f"))
    }
    f"${rows.length}:$sum%016x"
  }
}
