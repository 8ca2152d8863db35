package perfbench

import java.math.{MathContext, RoundingMode}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame

/** Order-preserving digest of a query result, computed the same way by
  * `expected/make_expected.py` over the DuckDB oracle's result.
  *
  * The comparison rules follow `tools/t2check.py`: columns are taken in
  * name order, rows in result order, NaN reads as null, and a float is
  * rounded to nine significant digits from its exact binary value, so two
  * engines that agree to 1e-9 relative digest the same. */
object Digest {
  private val Sig9 = new MathContext(9, RoundingMode.HALF_EVEN)

  def decimal(b: java.math.BigDecimal): String = {
    val r = b.round(Sig9)
    if (r.signum == 0) "0" else r.stripTrailingZeros.toPlainString
  }

  def number(d: Double): String =
    if (d.isNaN) "\\N"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) "0"
    else decimal(new java.math.BigDecimal(d))

  def cell(v: Any): String = v match {
    case null => "\\N"
    case d: Double => number(d)
    case other => other.toString // strings, integers, booleans
  }

  /** (row count, sha256 hex) of `rows` under `columns`. */
  def of(columns: Seq[String], rows: Iterator[Seq[Any]]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns).mkString("\u001f").getBytes(StandardCharsets.UTF_8))
    var n = 0L
    rows.foreach { r =>
      md.update(("\n" + order.map(i => cell(r(i))).mkString("\u001f"))
        .getBytes(StandardCharsets.UTF_8))
      n += 1
    }
    (n, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  def of(df: DataFrame): (Long, String) =
    of(df.columns.toSeq, df.collect().iterator.map(_.toSeq))
}
