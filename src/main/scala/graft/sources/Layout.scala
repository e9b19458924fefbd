package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout helpers.
  *
  * CPU-heavy NARROW stages (fingerprinting, signature computation) run at
  * the scan's split count: Spark never re-splits a stage that has no
  * exchange. A low-split input — few files, single-row-group parquet, a
  * small union — therefore serializes the expensive pass onto a handful of
  * cores while the rest of the cluster idles.
  */
object Layout {

  /** Round-robin repartition to the cluster's parallelism, ONLY when the
    * input has fewer splits — on a healthy many-split source this is a
    * plan no-op (no exchange added). Use directly upstream of a
    * CPU-dominated narrow stage whose per-row cost dwarfs one row copy
    * (minhash signatures: ~10⁴ hash ops/row vs one ~KB shuffle write).
    *
    * Runs no Spark job: the split count is read from the physical plan
    * without executing it. A plan fed by an exchange, a subquery or an
    * in-memory cache fixes its split count only when those run (AQE
    * coalesces shuffle partitions after the map stage), and reading it
    * there would run that work once here and again in the real query —
    * such a frame is spread unconditionally, at the cost of one row copy.
    */
  def ensureParallelism(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (splitCount(df).forall(_ < par)) df.repartition(par) else df
  }

  /** The frame's split count when its plan fixes it without running any
    * job, else None.
    */
  private def splitCount(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = df.queryExecution.executedPlan
    val runsJobs = plan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange | _: InMemoryTableScanExec => true
      case p => p.subqueries.nonEmpty
    }
    if (runsJobs) None else Some(plan.execute().getNumPartitions)
  }

  /** Z-order (Morton) clustering — write-time layout so that parquet
    * row-group min/max statistics prune scans on ANY of the clustered
    * columns, not just the leading sort key. A linear sort gives perfect
    * skipping on column 1 and none on column 2; the z-curve trades a
    * little of column 1's locality for locality on every dimension.
    *
    * Mechanics: each column is linearly scaled to a `bits`-bit integer
    * rank using its own min/max (ONE tiny agg job — the normalization a
    * layout job pays once at write time), ranks are bit-interleaved into
    * the Morton code, and the frame is range-partitioned + sorted by it.
    * NULLs rank 0, keeping them clustered together at the curve origin.
    */
  def zorderBy(
      df: DataFrame,
      cols: Seq[String],
      outPartitions: Int,
      bits: Int = 16
  ): DataFrame = {
    require(cols.size >= 2, "z-ordering needs at least two columns")
    require(bits * cols.size <= 62, s"${cols.size} cols × $bits bits exceeds a long")
    val z = zValue(df, cols, bits)
    df.withColumn("__z", z)
      .repartitionByRange(outPartitions, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** The Morton code column for [[zorderBy]] (exposed for specs/layout
    * introspection). Runs one min/max agg job over `df` to normalize.
    */
  def zValue(df: DataFrame, cols: Seq[String], bits: Int = 16): Column = {
    val maxRank = (1L << bits) - 1
    val stats = df.agg(
      cols.flatMap(c => Seq(min(col(c).cast("double")).as(s"mn_$c"),
        max(col(c).cast("double")).as(s"mx_$c"))).head,
      cols.flatMap(c => Seq(min(col(c).cast("double")).as(s"mn_$c"),
        max(col(c).cast("double")).as(s"mx_$c"))).tail: _*
    ).head()
    val ranks = cols.map { c =>
      // empty frame / all-NULL column -> null stats; degrade that dimension
      // to constant rank 0 instead of NPEing (empty input is not an error)
      val mn = Option(stats.getAs[java.lang.Double](s"mn_$c")).fold(0.0)(_.doubleValue())
      val mx = Option(stats.getAs[java.lang.Double](s"mx_$c")).fold(0.0)(_.doubleValue())
      val span = if (mx > mn) mx - mn else 1.0
      least(lit(maxRank), greatest(lit(0L),
        floor((coalesce(col(c).cast("double"), lit(mn)) - lit(mn)) / lit(span) * lit(maxRank.toDouble)).cast("long")))
    }
    val n = cols.size
    val interleave = udf { (rs: Seq[Long]) =>
      var out = 0L
      var b = 0
      while (b < bits) {
        var d = 0
        while (d < rs.length) {
          out |= ((rs(d) >>> b) & 1L) << (b * rs.length + d)
          d += 1
        }
        b += 1
      }
      out
    }
    interleave(array(ranks: _*)).as(s"z_${cols.mkString("_")}_$n")
  }
}
