package graft.operators

import graft.sources.Layout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Primary-key candidate validation.
  * (reference: bdq/dataframe.py:184 validate_primary_key_candidate,
  *  :197 validate_primary_key_candidate_combinations)
  *
  * Scale design: uniqueness of a candidate is one hash aggregation on the
  * candidate columns with map-side partial aggregation; the driver sees
  * aggregate rows only, never per-key rows. Many candidates share one scan
  * through [[combinationStats]]'s grouping sets, and
  * [[validateCombinations]] runs its level-by-level search on that.
  */
object PrimaryKey {

  final case class Validation(recordCount: Long, failedRecords: Long) {
    def isValid: Boolean = failedRecords == 0
  }

  /** Grouping sets fused into one job by [[validateCombinations]]. */
  private val MaxExpandPerJob = 8

  /** Total records and records participating in duplicate key groups, both
    * from one `groupBy(keys).count()` and one global aggregate over its
    * groups. NULL keys group together, as in any groupBy.
    */
  def validateCandidate(df: DataFrame, keyColumns: Seq[String]): Validation = {
    val row = df.groupBy(keyColumns.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .agg(
        coalesce(sum("cnt"), lit(0L)),
        coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L)))
      .head()
    Validation(row.getLong(0), row.getLong(1))
  }

  /** One-pass stats per candidate combination as a DataFrame:
    * (combination, duplicate_groups, duplicate_records).
    *
    * All combinations are fused into a single GROUPING SETS aggregation —
    * ONE scan of the fact table and one shuffle regardless of how many
    * candidates are checked (a union of per-candidate groupBys would scan
    * the table N times; at 100 TB the scan dominates, so this is the
    * difference between 1× and N× I/O). Map-side partial aggregation
    * absorbs the grouping-set row expansion before the exchange.
    * `grouping_id()` identifies which combination each group row belongs
    * to; combinations with zero duplicates are restored by a left join
    * from the (tiny) combination list.
    */
  def combinationStats(df: DataFrame, combinations: Seq[Seq[String]]): DataFrame = {
    val (gids, dupStats) = duplicateStats(df, combinations)
    import df.sparkSession.implicits._
    combinations.map(_.mkString(",")).zip(gids).toDF("combination", "gid")
      .join(dupStats, Seq("gid"), "left")
      .select(
        col("combination"),
        coalesce(col("dg"), lit(0L)).as("duplicate_groups"),
        coalesce(col("dr"), lit(0L)).as("duplicate_records"))
  }

  /** Each combination's `grouping_id()`, and (gid, dg, dr): duplicate
    * groups and the records in them, one row per gid that HAS duplicates
    * (at most one per grouping set), from one grouping-sets pass.
    */
  private def duplicateStats(
      df: DataFrame,
      combinations: Seq[Seq[String]]
  ): (Seq[Long], DataFrame) = {
    require(combinations.nonEmpty, "combinations must not be empty")
    val allCols = combinations.flatten.distinct
    // The Expand multiplies every input row |combinations|-fold BEFORE the
    // first exchange, so the whole expansion+partial-agg runs at the
    // SCAN's parallelism: a low-split input is spread first.
    val input = Layout.ensureParallelism(df.select(allCols.map(col): _*))
    // Spark grouping_id(): one bit per groupBy column in declaration order,
    // leftmost = most significant; bit set = column aggregated away (NOT in
    // the grouping set). Pinned by CoreOperatorsSpec "combinationStats
    // fuses all candidates into one grouping-sets pass".
    def gidOf(combo: Seq[String]): Long =
      allCols.zipWithIndex.map { case (c, i) =>
        if (combo.contains(c)) 0L else 1L << (allCols.length - 1 - i)
      }.sum
    val grouped = input
      .groupingSets(combinations.map(_.map(col)), allCols.map(col): _*)
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"))
    val dupStats = grouped
      .filter(col("cnt") > 1)
      .groupBy("gid")
      .agg(count(lit(1)).as("dg"), sum("cnt").as("dr"))
    (combinations.map(gidOf), dupStats)
  }

  /** The minimal valid PKs among `combinations`: every combination that is
    * unique over `df` (NULL keys group together) and has no unique strict
    * subset among the candidates — a superset of a unique key is trivially
    * unique, which is the pruning the reference gets from DAG.BREAK
    * (bdq/dataframe.py:197).
    *
    * Combinations are checked level by level (ascending size) through
    * the grouping sets of [[combinationStats]], reading only the ids of
    * the duplicated sets back to the driver. Each level is cut into chunks of
    * at most 8 combinations, and consecutive chunks are FUSED into one job
    * while their grouping sets fit that budget. Fusing computes prunable
    * supersets speculatively, but the waste is bounded (≤ 8 × one pass)
    * while each avoided job saves a full scan and a scheduling round trip:
    * a small candidate set is ONE job. Between jobs, candidates with a
    * solution as a strict subset are pruned, and solutions within one job
    * are kept only when no other solution of that job is a strict subset.
    *
    * The result lists solutions in ascending size, then input order.
    * `maxWorkers` has no effect; it is kept for call parity with the
    * reference, whose DAG ran one check per worker thread.
    */
  def validateCombinations(
      df: DataFrame,
      combinations: Seq[Seq[String]],
      maxWorkers: Int
  ): Seq[Seq[String]] = levelSearch(df, combinations, MaxExpandPerJob)

  /** [[validateCombinations]] with an explicit per-job grouping-set budget
    * (specs force chunking with a small one).
    */
  private[graft] def levelSearch(
      df: DataFrame,
      combinations: Seq[Seq[String]],
      maxExpandPerJob: Int
  ): Seq[Seq[String]] = {
    def strictSubset(a: Seq[String], b: Seq[String]) =
      a.toSet != b.toSet && a.toSet.subsetOf(b.toSet)
    var solutions = Vector.empty[Seq[String]]
    // Same-size combinations cannot prune each other (equal-size distinct
    // sets are never strict subsets), so splitting a wide level loses nothing.
    var queue = combinations.groupBy(_.size).toSeq.sortBy(_._1)
      .flatMap { case (_, lvl) => lvl.grouped(maxExpandPerJob).toSeq }
    while (queue.nonEmpty) {
      var take = 1
      var n = queue.head.size
      while (take < queue.size && n + queue(take).size <= maxExpandPerJob) {
        n += queue(take).size; take += 1
      }
      val batch = queue.take(take).flatten
        .filter(c => !solutions.exists(strictSubset(_, c)))
      queue = queue.drop(take)
      if (batch.nonEmpty) {
        // The duplicated gids (at most one per grouping set) are read on
        // the driver and matched to the batch by position, never by
        // parsing a comma-joined label (column names may contain commas);
        // a set listed twice shares one gid and keeps both entries.
        val (gids, dupStats) = duplicateStats(df, batch)
        val duplicated = dupStats.select("gid").collect().map(_.getLong(0)).toSet
        val valid = batch.zip(gids).collect { case (c, g) if !duplicated(g) => c }
        solutions ++= valid.filter(c => !valid.exists(strictSubset(_, c)))
      }
    }
    solutions
  }
}
