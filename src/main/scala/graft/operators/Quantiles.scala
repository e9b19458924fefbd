package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact rank-selection quantiles per group: lower median and p90 by
  * integer rank arithmetic — no interpolation, so any ANSI engine computes
  * the identical value (interpolating medians differ across engines).
  *
  * One shuffle on the group keys; rank + group count share the window
  * partitioning; the final conditional aggregate reuses the same keys, so
  * AQE plans no extra exchange.
  */
object Quantiles {

  def exactQuantiles(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String
  ): DataFrame = {
    val part = Window.partitionBy(keyCols.map(col): _*)
    val ordered = part.orderBy(col(valueCol), col(tieBreakCol))
    df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*)
      .withColumn("__rn", row_number().over(ordered))
      .withColumn("__n", count(lit(1)).over(part))
      .groupBy(keyCols.map(col): _*)
      .agg(
        max(col("__n")).as("n"),
        max(when(col("__rn") === expr("(__n + 1) div 2"), col(valueCol))).as("p50"),
        max(when(col("__rn") === expr("(9 * __n + 9) div 10"), col(valueCol))).as("p90")
      )
  }

  /** Robust outlier report per group via median/MAD (Hampel-style
    * identifier) — the IQR fences' heavier-tailed sibling: MAD stays
    * meaningful up to 50% contamination where quartiles already move.
    * ENGINE-EXACT by the same discipline as [[exactQuantiles]]: both the
    * median and the MAD are LOWER-MEDIAN rank selections (actual data
    * values, no interpolation), deviations are one IEEE subtraction
    * each, and the fence compare uses an integer multiplier — so the
    * q152 oracle replays every number bit-for-bit.
    *
    * Returns per group: n, med, mad, n_outliers (rows with
    * |x − med| > k·mad). Note the k·mad fence with a rank-selected MAD:
    * when more than half the group sits at one value, mad = 0 and every
    * other value is an outlier — the documented behavior of the exact
    * (unsmoothed) identifier.
    *
    * Scale shape: ONE exchange — every window (value rank, group count,
    * med broadcast-within-partition, deviation rank, mad) shares the
    * group-key partitioning, so the med attaches as a window aggregate
    * instead of a groupBy+rejoin (the rejoin forced a second scan +
    * exchange of the fact — min-of-3 at sf0.1 measured 1.5–1.9× across
    * reruns, SURVEY Round-8 closing state (1.85 r8 initial, 1.64 r8 rerun, 1.53 r9),
    * always over the 1.3× adopt bar, arm equivalence asserted), and the
    * final aggregation reuses the same keys.
    * Per-group state is the window sort, never a collect.
    */
  def madOutliers(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      k: Int = 3
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val part = Window.partitionBy(keyCols.map(col): _*)
    df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*)
      // NULL values would sort first in both rank windows and inflate
      // __n, silently shifting the lower-median rank selection for med
      // AND mad — exclude them up front (the quantileSketch contract)
      .filter(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(part.orderBy(col(valueCol), col(tieBreakCol))))
      .withColumn("__n", count(lit(1)).over(part))
      .withColumn("__med",
        max(when(col("__rn") === expr("(__n + 1) div 2"), col(valueCol))).over(part))
      .withColumn("__dev", abs(col(valueCol) - col("__med")))
      .withColumn("__rn2", row_number().over(part.orderBy(col("__dev"), col(tieBreakCol))))
      .withColumn("__mad",
        max(when(col("__rn2") === expr("(__n + 1) div 2"), col("__dev"))).over(part))
      .groupBy(keyCols.map(col): _*)
      .agg(
        max(col("__n")).as("n"),
        max(col("__med")).as("med"),
        max(col("__mad")).as("mad"),
        sum((col("__dev") > lit(k.toDouble) * col("__mad")).cast("long")).as("n_outliers"))
  }

  /** Skew-safe twin of [[madOutliers]] — BIT-IDENTICAL output (both
    * medians are the same lower-median rank selections; q152's oracle
    * is shared verbatim), but each of the two rank selections (median
    * of values, median of absolute deviations) runs through the
    * [[cellScaffold]] layout with the single target-rank cell pruned
    * BEFORE any sort — so the largest sort anywhere is one cell's
    * population, never the group, twice (the windowed arm's two
    * full-group rank windows are what spill on a 500M-row hot group).
    * Costs two scaffold passes + two broadcast med/mad attachments —
    * the usual bucketed-twin trade: not a local wall-clock win,
    * adopted for the per-reducer memory bound.
    */
  def madOutliersBucketed(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      k: Int = 3,
      cells: Int = 256
  ): DataFrame = if (keyCols.isEmpty) {
    madOutliersBucketed(df.withColumn("__g1", lit(1)), Seq("__g1"),
      valueCol, tieBreakCol, k, cells).drop("__g1")
  } else {
    require(k > 0, "k must be positive")
    val g = keyCols.map(col)
    // lower-median rank selection over a PRE-TRUNCATED frame, scaffold
    // layout (the frames below are each multiply referenced — by the
    // scaffold AND by the deviation/outlier passes — so this operator
    // owns the one materialization per frame; r18)
    def medianOf(frame: DataFrame, vCol: String, as: String): DataFrame = {
      val s = cellScaffold(frame, keyCols, vCol, cells, truncateInput = false)
        .withColumn("__target", expr("(__n + 1) div 2"))
        .filter(col("__off") < col("__target") &&
          col("__target") <= col("__off") + col("__cnt"))
      val w = Window.partitionBy((g :+ col("__c")): _*)
        .orderBy(col(vCol), col(tieBreakCol))
      s.withColumn("__rk", col("__off") + row_number().over(w))
        .filter(col("__rk") === col("__target"))
        .select((g :+ col(vCol).as(as) :+ col("__n").as(s"__n_$as")): _*)
    }
    val base = graft.plans.Lineage.truncate(
      df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*)
        .filter(col(valueCol).isNotNull))
    val med = medianOf(base, valueCol, "med")
    val withDev = graft.plans.Lineage.truncate(
      base.join(broadcast(med), keyCols)
        .withColumn("__dev", abs(col(valueCol) - col("med"))))
    val mad = medianOf(withDev, "__dev", "mad")
    withDev.join(broadcast(mad.select((g :+ col("mad")): _*)), keyCols)
      .groupBy(g: _*)
      .agg(
        count(lit(1)).as("n"),
        max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum((col("__dev") > lit(k.toDouble) * col("mad")).cast("long")).as("n_outliers"))
  }

  /** IQR outlier detection per group (Tukey fences): rows outside
    * [q1 - k·IQR, q3 + k·IQR] with the bounds attached — the distributional
    * DQ check that complements [[graft.quality.RuleEngine]]'s predicate
    * rules. Quartiles are exact rank selections (engine-portable, like
    * [[exactQuantiles]]) computed as additional window aggregates over the
    * SAME partitioning as the rank — ONE scan, ONE shuffle, no join-back,
    * so the check costs the same as the quantiles alone at any scale.
    */
  def iqrOutliers(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      k: Double = 1.5
  ): DataFrame = {
    val part = Window.partitionBy(keyCols.map(col): _*)
    val ordered = part.orderBy(col(valueCol), col(tieBreakCol))
    df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*)
      .withColumn("__rn", row_number().over(ordered))
      .withColumn("__n", count(lit(1)).over(part))
      .withColumn("__q1", max(when(col("__rn") === expr("(__n + 3) div 4"), col(valueCol))).over(part))
      .withColumn("__q3", max(when(col("__rn") === expr("(3 * __n + 3) div 4"), col(valueCol))).over(part))
      .withColumn("lo", col("__q1") - lit(k) * (col("__q3") - col("__q1")))
      .withColumn("hi", col("__q3") + lit(k) * (col("__q3") - col("__q1")))
      .filter(col(valueCol) < col("lo") || col(valueCol) > col("hi"))
      .select((keyCols :+ tieBreakCol :+ valueCol :+ "lo" :+ "hi").map(col): _*)
  }

  /** Skew-safe twin of [[iqrOutliers]] — BIT-IDENTICAL output (q1/q3
    * are the same exact rank selections at (n+3) div 4 and
    * (3n+3) div 4; q55's oracle is shared verbatim), with both quartile
    * selections through the [[cellScaffold]] layout (only cells holding
    * a target rank are sorted) and the bounds attached as a broadcast —
    * the group-sized rank window disappears.
    */
  def iqrOutliersBucketed(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      k: Double = 1.5,
      cells: Int = 256
  ): DataFrame = if (keyCols.isEmpty) {
    iqrOutliersBucketed(df.withColumn("__g1", lit(1)), Seq("__g1"),
      valueCol, tieBreakCol, k, cells).drop("__g1")
  } else {
    val g = keyCols.map(col)
    // base feeds the scaffold AND the fence-filter join below: one
    // materialization here instead of truncate + re-execution (r18)
    val base = graft.plans.Lineage.truncate(
      df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*))
    val scaff = cellScaffold(base, keyCols, valueCol, cells, truncateInput = false)
      .withColumn("__t1", expr("(__n + 3) div 4"))
      .withColumn("__t3", expr("(3 * __n + 3) div 4"))
    val w = Window.partitionBy((g :+ col("__c")): _*)
      .orderBy(col(valueCol), col(tieBreakCol))
    val picked = scaff
      .filter((col("__off") < col("__t1") && col("__t1") <= col("__off") + col("__cnt")) ||
        (col("__off") < col("__t3") && col("__t3") <= col("__off") + col("__cnt")))
      .withColumn("__rk", col("__off") + row_number().over(w))
      .filter(col("__rk") === col("__t1") || col("__rk") === col("__t3"))
    val bounds = picked.groupBy(g: _*).agg(
      max(when(col("__rk") === col("__t1"), col(valueCol))).as("__q1"),
      max(when(col("__rk") === col("__t3"), col(valueCol))).as("__q3"))
    base.join(broadcast(bounds), keyCols)
      .withColumn("lo", col("__q1") - lit(k) * (col("__q3") - col("__q1")))
      .withColumn("hi", col("__q3") + lit(k) * (col("__q3") - col("__q1")))
      .filter(col(valueCol) < col("lo") || col(valueCol) > col("hi"))
      .select((keyCols :+ tieBreakCol :+ valueCol :+ "lo" :+ "hi").map(col): _*)
  }

  /** Trimmed mean on the [[cellScaffold]] layout (skew-safe from day
    * one — every row needs its exact rank, so the scaffold IS the
    * layout, not a twin): drop the d = (n·trimPct) div 100 lowest and
    * highest ranks per group and average the rest — the outlier-robust
    * location estimate between the mean (trim 0) and the median
    * (trim 50). EXACT: d and the kept-rank interval are integer
    * arithmetic, the kept sum is DECIMAL(38,0) (digit string), the mean
    * ONE division. NULL values excluded (no rank); n ≤ 2d groups emit
    * NULL mean (nothing kept). Values follow the integer-units
    * discipline (cents/ppm): fractional inputs are TRUNCATED via
    * cast('long') — the repo-wide rule and the oracle's CAST AS BIGINT
    * — never decimal half-up rounding.
    */
  def trimmedMean(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      trimPct: Int,
      cells: Int = 256
  ): DataFrame = if (keyCols.isEmpty) {
    trimmedMean(df.withColumn("__g1", lit(1)), Seq("__g1"),
      valueCol, tieBreakCol, trimPct, cells).drop("__g1")
  } else {
    require(trimPct >= 0 && trimPct < 50, s"trimPct out of range: $trimPct")
    val dec = "decimal(38,0)"
    val g = keyCols.map(col)
    val base = df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*)
      .filter(col(valueCol).isNotNull)
    val w = Window.partitionBy((g :+ col("__c")): _*)
      .orderBy(col(valueCol), col(tieBreakCol))
    cellScaffold(base, keyCols, valueCol, cells)
      .withColumn("__rk", col("__off") + row_number().over(w))
      .withColumn("__d", expr(s"(__n * $trimPct) div 100"))
      .groupBy(g: _*)
      .agg(
        max(col("__n")).as("n"),
        max(col("__d")).as("n_trimmed_each_side"),
        sum(when(col("__rk") > col("__d") && col("__rk") <= col("__n") - col("__d"),
          col(valueCol).cast("long").cast(dec)).otherwise(lit(0L).cast(dec))).as("__sum"),
        sum(when(col("__rk") > col("__d") && col("__rk") <= col("__n") - col("__d"), 1L)
          .otherwise(0L)).as("n_kept"))
      .withColumn("sum_kept", col("__sum").cast("string"))
      .withColumn("trimmed_mean",
        when(col("n_kept") > 0L,
          col("__sum").cast("double") / col("n_kept").cast("double")))
      .drop("__sum")
  }

  /** Winsorization: clamp each value into the per-group exact-rank
    * [p_lo, p_hi] bounds — the standard heavy-tail taming before
    * training-data statistics (cap, don't drop: dropping shifts counts,
    * capping only shifts mass). Bounds are LOWER-RANK selections at
    * rank (p·(n+1)) div 100 clamped to [1, n] — the [[exactQuantiles]]
    * generalization ((n+1) div 2 at p=50, (9n+9) div 10 at p=90), actual
    * data values, no interpolation, so clamped outputs are bit-identical
    * on any engine and the gate hashes every row.
    *
    * ONE shuffle: rank, count and both bound selections are window
    * aggregates over the same group-key partitioning (the [[iqrOutliers]]
    * shape); the clamp is a narrow projection. Appends `v_wins` plus the
    * bounds; NULL-valued rows are EXCLUDED (they have no rank and no
    * clamp — callers keeping them re-join on the tie-break key).
    * Per-group window state is the sort — for hot groups past ~1M rows
    * the [[exactQuantilesBucketed]] layout supplies the bounds instead.
    */
  def winsorize(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      loPct: Int = 5,
      hiPct: Int = 95
  ): DataFrame = {
    require(0 < loPct && loPct < hiPct && hiPct < 100,
      s"need 0 < loPct < hiPct < 100: $loPct, $hiPct")
    val part = Window.partitionBy(keyCols.map(col): _*)
    val ordered = part.orderBy(col(valueCol), col(tieBreakCol))
    def rankAt(p: Int) =
      greatest(lit(1L), least(col("__n"), expr(s"($p * (__n + 1)) div 100")))
    df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*)
      .filter(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(ordered))
      .withColumn("__n", count(lit(1)).over(part))
      .withColumn("lo", max(when(col("__rn") === rankAt(loPct), col(valueCol))).over(part))
      .withColumn("hi", max(when(col("__rn") === rankAt(hiPct), col(valueCol))).over(part))
      .withColumn("v_wins", greatest(col("lo"), least(col("hi"), col(valueCol))))
      .select((keyCols :+ tieBreakCol :+ valueCol :+ "lo" :+ "hi" :+ "v_wins").map(col): _*)
  }

  /** Skew-safe twin of [[winsorize]] — BIT-IDENTICAL output (rank
    * selection has one right answer regardless of layout), but the
    * per-group reducer sort is gone: the [[cellScaffold]] offsets pin
    * each bound rank to exactly ONE value cell, only those cells are
    * ranked (the [[exactQuantilesBucketed]] target-cell move — the rest
    * of the corpus never enters a window), and the group-sized bounds
    * frame broadcast-joins back onto the rows for the clamp. At a 100 TB
    * hot group the heaviest sort is a cell population; everything else
    * is map-side aggregation + a narrow projection.
    */
  def winsorizeBucketed(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      loPct: Int = 5,
      hiPct: Int = 95,
      cells: Int = 256
  ): DataFrame = {
    require(0 < loPct && loPct < hiPct && hiPct < 100,
      s"need 0 < loPct < hiPct < 100: $loPct, $hiPct")
    val g = keyCols.map(col)
    // base feeds the scaffold AND the clamp join below: one
    // materialization here instead of truncate + re-execution (r18)
    val base = graft.plans.Lineage.truncate(
      df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*)
        .filter(col(valueCol).isNotNull))
    def rankAt(p: Int) =
      greatest(lit(1L), least(col("__n"), expr(s"($p * (__n + 1)) div 100")))
    val sc = cellScaffold(base, keyCols, valueCol, cells, truncateInput = false)
      .withColumn("__rlo", rankAt(loPct))
      .withColumn("__rhi", rankAt(hiPct))
    def holds(r: Column) = r > col("__off") && r <= col("__off") + col("__cnt")
    val bounds = sc
      .filter(holds(col("__rlo")) || holds(col("__rhi")))
      .withColumn("__rn",
        col("__off") + row_number().over(
          Window.partitionBy((g :+ col("__c")): _*)
            .orderBy(col(valueCol), col(tieBreakCol))))
      .groupBy(g: _*)
      .agg(
        max(when(col("__rn") === col("__rlo"), col(valueCol))).as("lo"),
        max(when(col("__rn") === col("__rhi"), col(valueCol))).as("hi"))
    nsJoin(base, bounds, keyCols)
      .withColumn("v_wins", greatest(col("lo"), least(col("hi"), col(valueCol))))
      .select((keyCols :+ tieBreakCol :+ valueCol :+ "lo" :+ "hi" :+ "v_wins").map(col): _*)
  }

  /** Skew-safe exact rank selection — same output contract as
    * [[exactQuantiles]] (n, p50, p90; lower-median integer ranks, no
    * interpolation, bit-identical selections), but NO per-group sort on
    * one reducer: the [[graft.text.PerplexitySample]]/Interleave bucketed-
    * rank layout generalized to an unbounded numeric column.
    *
    * Pass 1 aggregates per-group (min, max, n) — a tiny broadcast frame.
    * Each row then maps to one of `cells` value-range cells (monotone in
    * the value, NULLs to cell −1 — they sort first, matching the window
    * arm's null ordering); per-(group, cell) counts roll into cumulative
    * offsets on a ≤(cells+1)·|groups| frame, which pins each target rank
    * ((n+1) div 2 and (9n+9) div 10) to exactly ONE cell. Only rows of
    * those target cells are ranked — `row_number` partitioned by
    * (group, cell), so the largest sort is a cell population
    * (~group/cells for spread values), never the group.
    *
    * Costs one extra scan (the stats pass) vs the windowed arm's single
    * shuffle — the one-hot-group A/B in SURVEY §5.10 records which
    * dominates at which shape. Caveat: a group whose hot
    * VALUE repeats (not just a hot KEY) collapses into one cell and
    * re-creates the single-reducer sort; value-identical groups are
    * where [[approxQuantiles]] is the honest scale path.
    */
  def exactQuantilesBucketed(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      cells: Int = 256
  ): DataFrame = {
    require(cells > 1, s"cells must be > 1: $cells")
    val g = keyCols.map(col)
    val base = df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*)
    val stats = base.groupBy(g: _*).agg(
      min(col(valueCol)).as("__lo"),
      max(col(valueCol)).as("__hi"))
    val celled = nsJoin(base, stats, keyCols)
      .withColumn("__c", cellOf(valueCol, cells))
    val counts = celled.groupBy((g :+ col("__c")): _*).agg(count(lit(1)).as("__cnt"))
    val offs = counts
      .withColumn("__off",
        sum("__cnt").over(Window.partitionBy(g: _*).orderBy("__c")) - col("__cnt"))
      .withColumn("__n", sum("__cnt").over(Window.partitionBy(g: _*)))
      .withColumn("__r50", expr("(__n + 1) div 2"))
      .withColumn("__r90", expr("(9 * __n + 9) div 10"))
      // keep only the (group, cell) pairs holding a target rank — the
      // whole corpus outside those cells never enters a rank window
      .filter((col("__r50") > col("__off") && col("__r50") <= col("__off") + col("__cnt")) ||
        (col("__r90") > col("__off") && col("__r90") <= col("__off") + col("__cnt")))
      .select((g :+ col("__c") :+ col("__off") :+ col("__n") :+
        col("__r50") :+ col("__r90")): _*)
    nsJoin(celled, offs, keyCols :+ "__c")
      .withColumn("__rn",
        col("__off") + row_number().over(
          Window.partitionBy((g :+ col("__c")): _*)
            .orderBy(col(valueCol), col(tieBreakCol))))
      .groupBy(g: _*)
      .agg(
        max(col("__n")).as("n"),
        max(when(col("__rn") === col("__r50"), col(valueCol))).as("p50"),
        max(when(col("__rn") === col("__r90"), col(valueCol))).as("p90"))
  }

  /** Monotone value→cell map shared by the bucketed-rank family: equal
    * values share a cell and cells follow the value order, so per-cell
    * rank + cumulative cell offset IS the global per-group rank. NULLs
    * map to cell −1 (they sort first, matching the windowed arms'
    * null-first ordering); a constant group collapses to cell 0.
    * Expects `__lo`/`__hi` (per-group min/max) already attached.
    */
  private def cellOf(valueCol: String, cells: Int) =
    when(col(valueCol).isNull, lit(-1L))
      .when(col("__hi") === col("__lo"), lit(0L))
      .otherwise(least(lit(cells - 1L),
        floor((col(valueCol) - col("__lo")).cast("double") * cells /
          (col("__hi") - col("__lo")).cast("double"))))

  /** NULL-SAFE broadcast key join: a NULL-keyed group is a group (the
    * windowed arms' partitionBy treats it as one) — a plain equi-join
    * would drop it and break the documented arm equivalences.
    */
  private[graft] def nsJoin(left: DataFrame, right: DataFrame, cols: Seq[String]): DataFrame = {
    val renamed = right.toDF(right.columns.map(c =>
      if (cols.contains(c)) s"__r_$c" else c): _*)
    val cond = cols.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _)
    left.join(broadcast(renamed), cond).drop(cols.map(c => s"__r_$c"): _*)
  }

  /** Skew-safe GLOBAL per-group rank scaffolding — [[exactQuantilesBucketed]]'s
    * cell layout exposed for the rest of the exact rank family (Gini,
    * Spearman, winsorize bounds): appends to every input row
    *   `__c`   the monotone value cell (ties always share a cell),
    *   `__cnt` the (group, cell) population,
    *   `__off` the group's row count in earlier cells,
    *   `__n`   the group size,
    * so `__off + <rank over (keys, __c) ordered by (valueCol, …)>` IS the
    * exact global per-group rank while the largest sort anywhere is one
    * cell's population (~group/cells for spread values) — never the
    * group. Stats and offsets attach as NULL-safe broadcasts; input
    * passes through wide (callers narrow first). The hot-VALUE caveat of
    * [[exactQuantilesBucketed]] applies: a group dominated by one exact
    * value collapses into one cell and re-creates the single-reducer
    * sort.
    */
  private[graft] def cellScaffold(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      cells: Int,
      truncateInput: Boolean = true
  ): DataFrame = {
    require(cells > 1, s"cells must be > 1: $cells")
    val g = keyCols.map(col)
    // Truncate the input's lineage FIRST (r17 optimization, guide-
    // endorsed plan cut): the scaffold references its input three times
    // (the stats aggregation, the counts branch, the output join), so a
    // lazy input subtree executes ~3× per scaffold — and chained
    // scaffolds (the Spearman matrix ranks one column after another)
    // compound that to ~3^k. One eager materialization of the projected
    // input replaces the re-executions; the downstream joins carry
    // explicit broadcast hints (nsJoin), so the LogicalRDD's missing
    // size statistics cannot flip a join strategy (the PageRank
    // localCheckpoint note). Callers that ALSO reference the same input
    // outside the scaffold (madOutliersBucketed's deviation join,
    // iqrOutliersBucketed/winsorizeBucketed's bound attachments)
    // truncate it themselves once and pass truncateInput = false — one
    // materialization instead of a truncate-plus-re-execution (r18).
    val base = if (truncateInput) graft.plans.Lineage.truncate(df) else df
    val stats = base.groupBy(g: _*).agg(
      min(col(valueCol)).as("__lo"),
      max(col(valueCol)).as("__hi"))
    val celled = nsJoin(base, stats, keyCols)
      .withColumn("__c", cellOf(valueCol, cells))
      .drop("__lo", "__hi")
    val counts = celled.groupBy((g :+ col("__c")): _*).agg(count(lit(1)).as("__cnt"))
    val offs = counts
      .withColumn("__off",
        sum("__cnt").over(Window.partitionBy(g: _*).orderBy("__c")) - col("__cnt"))
      .withColumn("__n", sum("__cnt").over(Window.partitionBy(g: _*)))
      .select((g :+ col("__c") :+ col("__cnt") :+ col("__off") :+ col("__n")): _*)
    nsJoin(celled, offs, keyCols :+ "__c")
  }

  /** Gini coefficient per group, INTEGER-EXACT: over the ascending-sorted
    * non-negative values x₁..x_n (integer units — the cents/ppm
    * discipline), G = Σᵢ(2i − n − 1)·xᵢ / (n·Σx) — the mean-absolute-
    * difference form reduced to one rank window; the numerator is exact
    * in DECIMAL(38,0) (tie-order invariant: within a tied block the
    * weights sum identically under any permutation, so the id tie-break
    * only pins determinism, never the value), and G is ONE division —
    * the gate hashes it. The corpus-balance use: G ≈ 0 means sources/
    * documents contribute evenly, G → 1 means a few rows carry all the
    * mass (the "one domain is half the corpus" smell).
    *
    * NULL values are excluded; negative values are a contract violation
    * (Gini is defined on non-negative supports) — require clean input or
    * pre-clamp. G is NULL when the group sums to 0. One group-key
    * exchange; the per-group sort is the window — the
    * [[exactQuantilesBucketed]] hot-group caveat applies unchanged.
    */
  def gini(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String
  ): DataFrame = {
    val part = Window.partitionBy(keyCols.map(col): _*)
    val ranked = df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*)
      .filter(col(valueCol).isNotNull)
      .withColumn("__rn", row_number().over(part.orderBy(col(valueCol), col(tieBreakCol))))
      .withColumn("__n", count(lit(1)).over(part))
    giniAgg(ranked, keyCols, valueCol)
  }

  /** Skew-safe twin of [[gini]] — BIT-IDENTICAL output (the weight sum is
    * tie-order invariant, and the global rank from cell offset + per-cell
    * row_number is the same integer), but the per-group single-reducer
    * sort is replaced by the [[cellScaffold]] layout: the largest sort is
    * one value cell, the aggregation is map-side partial — the 100×
    * hot-group path the windowed form can't take. Costs the scaffold's
    * extra stats/counts passes; SURVEY §5.11 records the crossover
    * (~1M rows/group, same corpus as the quantile A/B).
    */
  def giniBucketed(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      cells: Int = 256
  ): DataFrame = {
    val g = keyCols.map(col)
    val base = df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*)
      .filter(col(valueCol).isNotNull)
    val ranked = cellScaffold(base, keyCols, valueCol, cells)
      .withColumn("__rn",
        col("__off") + row_number().over(
          Window.partitionBy((g :+ col("__c")): _*)
            .orderBy(col(valueCol), col(tieBreakCol))))
    giniAgg(ranked, keyCols, valueCol)
  }

  /** Shared Gini reduction over a frame carrying exact global per-group
    * ranks `__rn` and group sizes `__n` — both layouts (one window /
    * cell scaffold) produce the same integers, so this is the proof the
    * arms agree by construction.
    */
  private def giniAgg(ranked: DataFrame, keyCols: Seq[String], valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    ranked
      .groupBy(keyCols.map(col): _*)
      .agg(
        max(col("__n")).as("n"),
        sum(col(valueCol).cast(dec)).as("__sum"),
        sum((lit(2L) * col("__rn") - col("__n") - lit(1L)).cast(dec) *
          col(valueCol).cast(dec)).as("__num"))
      .select((keyCols.map(col) :+ col("n") :+
        col("__sum").as("sum_v") :+ col("__num").as("gini_num") :+
        when(col("__sum") > 0,
          col("__num").cast("double") /
            (col("n").cast(dec) * col("__sum")).cast("double")).as("gini")): _*)
  }

  /** Scale path: approximate quantiles via the built-in KLL-style sketch
    * (`percentile_approx`) — fully partial-aggregatable (no window, no
    * per-group sort), so the shuffle carries sketches, not rows. `accuracy`
    * trades sketch size vs error (1/accuracy relative rank error). Use when
    * groups no longer fit the exact windowed path at 100 TB.
    */
  def approxQuantiles(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      percentiles: Seq[Double] = Seq(0.5, 0.9),
      accuracy: Int = 10000
  ): DataFrame = {
    val pcts = percentiles.map(p => s"${p}D").mkString("array(", ", ", ")")
    df.groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        expr(s"percentile_approx($valueCol, $pcts, $accuracy)").as("quantiles")
      )
  }

  /** Quantile normalization: map each row's value to the REFERENCE
    * distribution's value at the same quantile — the cross-source score
    * calibrator (per-source quality/length scores drift in scale; after
    * this, "top decile" means the same thing everywhere — the
    * microarray-era quantile-normalization standard applied to corpus
    * scores). Exact and deterministic end to end:
    *
    *  - each row's per-key rank r comes from the [[cellScaffold]]
    *    layout (cell offset + within-cell row_number ordered by
    *    (value, tieBreak)) — the skew-safe global rank, largest sort =
    *    one cell;
    *  - its reference position t = ⌈r·m/n⌉ (m = reference mass, n =
    *    group size) is exact DECIMAL arithmetic with the floor-division
    *    remainder-verified ±1 correction (the row-178 rule — a scale-6
    *    decimal quotient may cross an integer at corpus magnitudes);
    *  - the normalized value is the reference bucket whose cumulative
    *    interval [cum−cnt+1, cum] contains t — a broadcast range join
    *    against the value-cardinality-sized reference CDF.
    *
    * The reference is a [[graft.quality.Profiler.bucketCounts]]-shaped
    * (bucket, cnt) frame — foldable, so the calibrator composes with
    * the streaming histogram fold. Self-normalization law (spec'd):
    * normalizing a group to its own value counts returns its own
    * multiset. NULL values drop (no rank); an EMPTY reference emits
    * nothing (inner range join, stated).
    */
  def quantileNormalize(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      refCounts: DataFrame,
      cells: Int = 256
  ): DataFrame = {
    val dec = "decimal(38,0)"
    val g = keyCols.map(col)
    val base = df.filter(col(valueCol).isNotNull)
    val scaff = cellScaffold(base, keyCols, valueCol, cells)
    val wCell = Window.partitionBy((g :+ col("__c")): _*)
      .orderBy(col(valueCol), col(tieBreakCol))
    val ranked = scaff
      .withColumn("rank", col("__off") + row_number().over(wCell))
      .withColumn("n", col("__n"))
      .drop("__c", "__cnt", "__off", "__n")
    val ref = refCounts
      .withColumn("__cum", sum("cnt").over(
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__lo", col("__cum") - col("cnt") + 1L)
      .select(col("bucket").as("norm"), col("__lo"), col("__cum").as("__hi"))
    val mTot = refCounts.agg(sum("cnt").cast(dec).as("__m"))
    // t = ceil(rank·m/n): floor((rank·m + n − 1)/n) with the exact ±1
    // remainder correction
    val rmD = col("rank").cast(dec) * col("__m") + col("n").cast(dec) - 1
    val nD = col("n").cast(dec)
    val withT = ranked.crossJoin(broadcast(mTot))
      .withColumn("__q0", floor(rmD / nD).cast(dec))
      .withColumn("__r0", rmD - col("__q0") * nD)
      .withColumn("__t",
        when(col("__r0") < 0L, col("__q0") - 1)
          .when(col("__r0") >= nD, col("__q0") + 1)
          .otherwise(col("__q0")))
    withT
      .join(broadcast(ref),
        col("__t") >= col("__lo").cast(dec) && col("__t") <= col("__hi").cast(dec))
      .withColumn("ref_pos", col("__t").cast("long"))
      .drop("__m", "__q0", "__r0", "__t", "__lo", "__hi")
  }

  /** Quantile-SHIFT drift: the per-quantile movement between two
    * snapshots — WHERE the distribution moved, which the scalar drift
    * family (χ² membership, KS max gap, W₁ total mass, JS distance)
    * compresses away: "p50 unchanged, p90 up 40%" is a tail regression
    * no single number shows. Each side's quantiles are the house exact
    * LOWER-RANK selections at rank (p·(n+1)) div 100 clamped to [1, n]
    * (the [[winsorize]] generalization — actual data values, engine-
    * exact, no interpolation); output is LONG form, one row per
    * (keys, p): both n's, both values, and the one-subtraction shift.
    * Groups present on only one side emit nothing (stated — there is no
    * shift to read).
    *
    * SCALE: one rank window per side + a group-cardinality join. The
    * rank is consumed by an equality against a data-dependent target,
    * so WindowGroupLimit cannot prune it — hot groups take
    * [[quantileShiftBucketed]], the bit-identical cell-pruned twin.
    */
  def quantileShift(
      base: DataFrame,
      cur: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      ps: Seq[Int] = Seq(10, 25, 50, 75, 90)
  ): DataFrame = {
    requirePs(ps)
    val part = Window.partitionBy(keyCols.map(col): _*)
    val ordered = part.orderBy(col(valueCol), col(tieBreakCol))
    def quantileAgg(df: DataFrame, suffix: String): DataFrame = {
      val aggs = max(col("__n")).as(s"n_$suffix") +:
        ps.map(p => max(when(col("__rn") === rankAt(p), col(valueCol)))
          .as(s"__q${p}_$suffix"))
      df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*)
        .filter(col(valueCol).isNotNull)
        .withColumn("__rn", row_number().over(ordered))
        .withColumn("__n", count(lit(1)).over(part))
        .groupBy(keyCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
    }
    shiftTail(quantileAgg(base, "base"), quantileAgg(cur, "cur"), keyCols, ps)
  }

  /** Skew-safe twin of [[quantileShift]] — BIT-IDENTICAL output (the
    * global per-group rank from cell offset + per-cell row_number is the
    * same integer the windowed arm assigns, so every lower-rank
    * selection picks the same value), but each snapshot side rides the
    * [[exactQuantilesBucketed]] layout instead of a full per-group rank
    * window: per-(group, cell) counts pin every target rank
    * (p·(n+1)) div 100 to its one cell, ONLY those cells' rows are
    * ranked, and the largest sort anywhere is a cell population —
    * never the group. The 100× hot-group path the windowed arm can't
    * take (its rank is consumed by an equality against a data-dependent
    * rank, so WindowGroupLimit can never prune it — the q230 lesson).
    * Costs each side the scaffold's extra stats/counts passes; SURVEY
    * §5.12 records the crossover. The hot-VALUE
    * caveat of [[exactQuantilesBucketed]] applies per side.
    */
  def quantileShiftBucketed(
      base: DataFrame,
      cur: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      ps: Seq[Int] = Seq(10, 25, 50, 75, 90),
      cells: Int = 256
  ): DataFrame = {
    requirePs(ps)
    require(cells > 1, s"cells must be > 1: $cells")
    shiftTail(
      quantilesBucketedAt(base, keyCols, valueCol, tieBreakCol, ps, "base", cells),
      quantilesBucketedAt(cur, keyCols, valueCol, tieBreakCol, ps, "cur", cells),
      keyCols, ps)
  }

  /** One snapshot side of the bucketed shift arm: exact lower-rank
    * selections at every p in `ps` via the [[exactQuantilesBucketed]]
    * cell prune — (group, cell) pairs holding NO target rank never
    * enter a rank window. NULL values are FILTERED (the
    * [[quantileShift]] contract), not celled to −1.
    */
  private def quantilesBucketedAt(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      tieBreakCol: String,
      ps: Seq[Int],
      suffix: String,
      cells: Int
  ): DataFrame = {
    val g = keyCols.map(col)
    val base = df.select((keyCols :+ valueCol :+ tieBreakCol).map(col): _*)
      .filter(col(valueCol).isNotNull)
    val stats = base.groupBy(g: _*).agg(
      min(col(valueCol)).as("__lo"),
      max(col(valueCol)).as("__hi"))
    val celled = nsJoin(base, stats, keyCols)
      .withColumn("__c", cellOf(valueCol, cells))
    val counts = celled.groupBy((g :+ col("__c")): _*).agg(count(lit(1)).as("__cnt"))
    val offs = counts
      .withColumn("__off",
        sum("__cnt").over(Window.partitionBy(g: _*).orderBy("__c")) - col("__cnt"))
      .withColumn("__n", sum("__cnt").over(Window.partitionBy(g: _*)))
      // keep only the (group, cell) pairs holding at least one target
      // rank — the rest of the corpus never enters a rank window
      .filter(ps.map(p =>
        rankAt(p) > col("__off") && rankAt(p) <= col("__off") + col("__cnt"))
        .reduce(_ || _))
      .select((g :+ col("__c") :+ col("__off") :+ col("__n")): _*)
    val aggs = max(col("__n")).as(s"n_$suffix") +:
      ps.map(p => max(when(col("__rn") === rankAt(p), col(valueCol)))
        .as(s"__q${p}_$suffix"))
    nsJoin(celled, offs, keyCols :+ "__c")
      .withColumn("__rn",
        col("__off") + row_number().over(
          Window.partitionBy((g :+ col("__c")): _*)
            .orderBy(col(valueCol), col(tieBreakCol))))
      .groupBy(g: _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The clamped lower-rank pin shared by both shift arms:
    * max(1, min(n, (p·(n+1)) div 100)) over the attached `__n`. */
  private def rankAt(p: Int) =
    greatest(lit(1L), least(col("__n"), expr(s"($p * (__n + 1)) div 100")))

  private def requirePs(ps: Seq[Int]): Unit =
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 99),
      s"percentiles must be in [1, 99]: $ps")

  /** The shared shift tail: inner-join the two per-side quantile frames
    * on the group keys (one-sided groups emit nothing — stated), pivot
    * to long form, one subtraction per (keys, p) row.
    */
  private def shiftTail(
      b: DataFrame,
      c: DataFrame,
      keyCols: Seq[String],
      ps: Seq[Int]
  ): DataFrame = {
    val joined = b.join(c, keyCols)
    val pairs = ps.map { p =>
      struct(lit(p).as("p"),
        col(s"__q${p}_base").as("v_base"), col(s"__q${p}_cur").as("v_cur"))
    }
    joined
      .select((keyCols.map(col) :+ col("n_base") :+ col("n_cur") :+
        explode(array(pairs: _*)).as("__q")): _*)
      .select((keyCols.map(col) :+ col("n_base") :+ col("n_cur") :+
        col("__q.p").as("p") :+ col("__q.v_base").as("v_base") :+
        col("__q.v_cur").as("v_cur")): _*)
      .withColumn("shift", col("v_cur") - col("v_base"))
  }

  /** Quantile TREATMENT effect (Doksum 1974's shift function read for
    * experiments): per quantile p, each ARM's exact lower-rank value
    * and their one-subtraction difference — WHERE the treatment moved
    * the distribution, which a mean effect compresses away ("p50
    * unchanged, p90 up 40%" is a tail effect no Welch t shows). A thin
    * composition over [[quantileShift]]: the two arms are the two
    * snapshots, with the lexical-HI arm fed as the base side so the
    * shift lands oriented lo − hi by label (the house welchT sign).
    * Same exact-rank contract as the whole family: lower-rank
    * selections at clamped (p·(n+1)) div 100 — actual data values,
    * engine-exact, no interpolation; NULL values filtered; a (keys)
    * group missing either arm emits nothing (there is no effect to
    * read). `arms` names the two arms explicitly (rows from other arms
    * are ignored). Emits per (keys, p): n_lo, n_hi, v_lo, v_hi,
    * qte = v_lo − v_hi. Hot-group/from-store paths: compose
    * [[quantileShiftBucketed]] / [[quantileShiftFromCells]] the same
    * way (arm-filtered sides — the cells are the valueCellsStream
    * state keyed by arm).
    */
  def quantileTreatmentEffect(
      df: DataFrame,
      keyCols: Seq[String],
      groupCol: String,
      valueCol: String,
      tieBreakCol: String,
      arms: (String, String),
      ps: Seq[Int] = Seq(10, 25, 50, 75, 90)
  ): DataFrame = {
    require(arms._1 != arms._2, s"need two distinct arms: $arms")
    val lo = if (arms._1 < arms._2) arms._1 else arms._2
    val hi = if (arms._1 < arms._2) arms._2 else arms._1
    val grp = col(groupCol).cast("string")
    quantileShift(
        df.filter(grp === hi), df.filter(grp === lo),
        keyCols, valueCol, tieBreakCol, ps)
      .select((keyCols.map(col) :+ col("n_cur").as("n_lo") :+
        col("n_base").as("n_hi") :+ col("p") :+
        col("v_cur").as("v_lo") :+ col("v_base").as("v_hi") :+
        col("shift").as("qte")): _*)
  }

  /** Exact WEIGHTED median per group — the location read for weighted
    * corpora (mixture weights, token counts, importance weights), where
    * the unweighted median answers the wrong question: the median
    * DOCUMENT length is not the median length of a sampled TOKEN. The
    * lower weighted median: the smallest value v with
    * cum_w(< v) < r ≤ cum_w(≤ v) at target rank r = (W+1) div 2 —
    * reduces to the house lower-median pin at unit weights (spec'd).
    * Weights cast long (the integer-units contract); NULL values /
    * weights and w ≤ 0 rows excluded; groups with W = 0 emit nothing.
    *
    * SCALE: the [[graft.quality.Association.kruskalWallis]] cell
    * discipline — per-(keys, value) weight sums, ONE cumulative window
    * over the value-cardinality-sized distinct-value frame, never a row
    * sort. Emits one row per key set: total_w, med_rank, median.
    */
  def weightedMedian(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      weightCol: String
  ): DataFrame = if (keyCols.isEmpty) {
    weightedMedian(df.withColumn("__g1", lit(1)), Seq("__g1"), valueCol, weightCol)
      .drop("__g1")
  } else {
    weightedMedianFromCells(
      valueCells(df, keyCols, valueCol, Some(weightCol)), keyCols)
  }

  /** Per-(keys, value) weight cells — the ADDITIVE, mergeable state the
    * whole location/spread/shift family reduces over:
    * [[weightedMedianFromCells]] and [[quantileShiftFromCells]] read
    * this one frame, so a versioned fold of it (the
    * [[graft.quality.Association.rankCells]] discipline —
    * [[graft.streaming.StreamingOps.valueCellsStream]]) makes medians
    * and quantile drift STANDING reads over all history. With
    * `weightCol` the cell weight is the summed long weight (NULL / ≤0
    * weights excluded — the [[weightedMedian]] contract); without it
    * every row weighs 1 and the cells are plain value counts. The
    * value keeps its ORDERABLE type (quantiles need an order); value
    * cardinality is the store bound (bucket continuous columns first —
    * the q210 discipline).
    */
  def valueCells(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      weightCol: Option[String] = None
  ): DataFrame = {
    val g = keyCols.map(col)
    val base = weightCol match {
      case Some(w) =>
        df.filter(col(valueCol).isNotNull && col(w).isNotNull &&
            col(w).cast("long") > 0L)
          .select(g :+ col(valueCol).as("v") :+
            col(w).cast("long").as("__w1"): _*)
      case None =>
        df.filter(col(valueCol).isNotNull)
          .select(g :+ col(valueCol).as("v") :+ lit(1L).as("__w1"): _*)
    }
    base.groupBy(g :+ col("v"): _*).agg(sum("__w1").as("w"))
  }

  /** Fold two [[valueCells]] frames over disjoint row sets. */
  def mergeValueCells(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keyCols.map(col) :+ col("v"): _*)
      .agg(sum("w").as("w"))

  /** [[weightedMedian]] from a (possibly folded) [[valueCells]] frame —
    * the standing-store read: one cumulative window over the
    * value-cardinality frame, never a row sort.
    */
  def weightedMedianFromCells(cellsIn: DataFrame, keyCols: Seq[String]): DataFrame = {
    val g = keyCols.map(col)
    val cells = cellsIn.select(
      g :+ col("v").as("__v") :+ col("w").cast("long").as("__w"): _*)
    val wCum = Window.partitionBy(g: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(g: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val r = expr("(__tw + 1) div 2")
    cells
      .withColumn("__cum", coalesce(sum("__w").over(wCum), lit(0L)))
      .withColumn("__tw", sum("__w").over(wAll))
      .filter(col("__cum") < r && r <= col("__cum") + col("__w"))
      .select(g :+ col("__tw").as("total_w") :+ r.as("med_rank") :+
        col("__v").as("median"): _*)
  }

  /** [[quantileShift]] from two (possibly folded) [[valueCells]]
    * frames — quantile DRIFT as a standing-store read: each side's
    * lower-rank selection at rank (p·(N+1)) div 100 clamped to [1, N]
    * reduces over the per-(keys, value) cells (the value at global rank
    * r IS the value whose cumulative weight interval contains r —
    * tie-break-invariant by construction), so with unit-weight cells
    * over the same rows the output is BIT-IDENTICAL to
    * [[quantileShift]] while no row ever enters a sort: both windows
    * run over the value-cardinality cell frame.
    */
  def quantileShiftFromCells(
      baseCells: DataFrame,
      curCells: DataFrame,
      keyCols: Seq[String],
      ps: Seq[Int] = Seq(10, 25, 50, 75, 90)
  ): DataFrame = {
    requirePs(ps)
    val g = keyCols.map(col)
    def side(cellsIn: DataFrame, suffix: String): DataFrame = {
      val wCum = Window.partitionBy(g: _*).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wAll = Window.partitionBy(g: _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val aggs = max(col("__n")).as(s"n_$suffix") +:
        ps.map(p => max(when(
          rankAt(p) > col("__cum") && rankAt(p) <= col("__cum") + col("__w"),
          col("v"))).as(s"__q${p}_$suffix"))
      cellsIn
        .select(g :+ col("v") :+ col("w").cast("long").as("__w"): _*)
        .withColumn("__cum", coalesce(sum("__w").over(wCum), lit(0L)))
        .withColumn("__n", sum("__w").over(wAll))
        .groupBy(g: _*)
        .agg(aggs.head, aggs.tail: _*)
    }
    shiftTail(side(baseCells, "base"), side(curCells, "cur"), keyCols, ps)
  }
}
