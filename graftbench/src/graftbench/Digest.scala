package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-independent reduction of a row-scale output: row count plus the
  * exact sum of a 64-bit hash over ALL columns. A bare `count()` would let
  * Catalyst prune count-invariant work; the hash forces every column to
  * be computed.
  */
final case class Digest(rows: Long, hash: java.math.BigDecimal) {
  override def toString: String = s"Digest($rows, ${hash.toPlainString})"
}

object Digest {
  /** Lazy one-row aggregate; collect it with [[collect]]. */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.columns.map(c => col(s"`$c`"))
    df.agg(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(cols.toSeq: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).as("h"))
  }

  def collect(reduced: DataFrame): Digest = {
    val r = reduced.head()
    Digest(r.getLong(0), r.getDecimal(1))
  }

  def of(df: DataFrame): Digest = collect(frame(df))
}
