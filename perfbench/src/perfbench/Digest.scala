package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Order-insensitive content digest of a DataFrame.
 *
 * Columns are taken in name order and every value is cast to its string
 * form (nulls to a marker no string value takes), so the digest ignores row
 * order, partitioning and column order, and does not change when a column
 * is widened (INT to BIGINT) with equal values. Each row hashes with
 * xxhash64; the digest is the row count, the exact decimal sum and the XOR
 * of the row hashes. The sum keeps duplicate rows visible, which XOR
 * alone would cancel. The whole digest is one aggregate job. */
object Digest {

  def frame(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.columns.toSeq.sorted.map(c =>
      coalesce(df.col(s"`$c`").cast("string"), lit("\u0000null")))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.agg(count(lit(1)).as("n"), sum(h.cast("decimal(38,0)")).as("s"), bit_xor(h).as("x"))
  }

  /** Reads the single row of [[frame]]. */
  def read(row: org.apache.spark.sql.Row): String = {
    val n = row.getLong(0)
    val s = Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val x = if (row.isNullAt(2)) 0L else row.getLong(2)
    s"$n:$s:${java.lang.Long.toHexString(x)}"
  }

  def of(df: DataFrame): String = read(frame(df).head())
}
