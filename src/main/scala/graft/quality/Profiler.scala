package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One-pass column profiler: long-form (column, metric, value) summary of a
  * dataset — the "first look" a data-quality workflow takes before wiring
  * rules (complements `RuleEngine`; the reference's mission is DQ checks,
  * profiling is how those checks get chosen).
  *
  * Scale design: ALL columns and ALL metrics are computed in a single
  * aggregation over one scan. Exact `count(distinct)` over several columns
  * makes Catalyst plan a single Expand + two-phase aggregate (same shape as
  * grouping sets) — still one scan, one shuffle of partially-aggregated
  * state. For a cheaper scan at extreme cardinality, `profileApprox` swaps
  * exact distincts for HyperLogLog++ (`approx_count_distinct`), which keeps
  * the aggregation fully partial-aggregatable (no Expand at all).
  *
  * Values surface as strings so one long-form schema covers every input
  * type; numeric/timestamp callers format upstream if they need
  * engine-portable text (see q40 in SparkEntry).
  */
object Profiler {

  final val Metrics = Seq("non_nulls", "nulls", "distinct", "min", "max")

  /** Internal wide-row names are index-based (`c<i>__<metric>`) so user
    * column names never appear inside a parsed identifier or SQL literal —
    * names with quotes/backticks/dots profile fine.
    */
  private def aggsFor(df: DataFrame, c: String, i: Int, distinctAgg: Column => Column): Seq[Column] = Seq(
    count(df(c)).cast("string").as(s"c${i}__non_nulls"),
    sum(when(df(c).isNull, 1L).otherwise(0L)).cast("string").as(s"c${i}__nulls"),
    distinctAgg(df(c)).cast("string").as(s"c${i}__distinct"),
    min(df(c)).cast("string").as(s"c${i}__min"),
    max(df(c)).cast("string").as(s"c${i}__max")
  )

  private def longForm(wide: DataFrame, cols: Seq[String]): DataFrame = {
    // unpivot the single wide row via explode of literal-tagged structs;
    // this runs on one row, so the reshape is free.
    val cells = cols.zipWithIndex.flatMap { case (c, i) =>
      Metrics.map(m =>
        struct(lit(c).as("column"), lit(m).as("metric"), col(s"c${i}__$m").cast("string").as("value")))
    }
    wide.select(explode(array(cells: _*)).as("cell"))
      .select(col("cell.column").as("column"), col("cell.metric").as("metric"), col("cell.value").as("value"))
  }

  /** Exact profile: one scan.
    *
    * The naive `agg(count, min, max, countDistinct...)` plan is a trap:
    * var-length (string) min/max buffers force SortAggregate, so Spark
    * SORTS the n-fold Expand of the whole table (measured 6.5s → 0.6s at
    * sf0.1 for 4 columns of orders). Instead the wide path is a pure
    * `groupBy(gid, v1..vn).count()` — grouping keys may be var-length, the
    * single count buffer is a long, so it stays a two-phase HashAggregate.
    * Every metric then derives from the per-(column, value) counts: distinct
    * = non-null group count, nulls/non_nulls = count sums, min/max over the
    * (already distinct) values — all on ~Σ distinct_i rows, not the table.
    *
    * The row expansion comes from ONE generator (`stack`) over one scan,
    * collapsed map-side by the partial hash agg before the only shuffle.
    */
  /** Positional rename of the whole frame: `col(name)`/`df(name)` PARSE
    * attribute names (an unpaired backtick is a syntax error, a dot is a
    * struct path), so the profiled columns are resolved by exact schema
    * index and the frame re-labeled to safe names before any Column
    * expression is built.
    */
  private def safeNames(df: DataFrame, cols: Seq[String]): (DataFrame, Seq[String]) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"__in$i"): _*)
    (renamed, cols.map(c => s"__in${df.schema.fieldIndex(c)}"))
  }

  def profile(df0: DataFrame, cols0: Seq[String]): DataFrame = {
    require(cols0.nonEmpty, "cols must not be empty")
    val (df, cols) = safeNames(df0, cols0)
    // (a pre-repartition to parallelize the generator was measured a net
    // LOSS here, unlike combinationStats: the profile slice carries wide
    // string values, so the extra shuffle outweighs the expansion savings)
    // one row per (input row, profiled column): gid tags the column, and
    // only v<gid>'s slot is non-null, keeping native types for min/max
    val exploded = df.select(posexplode(array(
      cols.indices.map(i => struct(
        (lit(i).as("gid") +: cols.zipWithIndex.map { case (c, j) =>
          (if (j == i) col(c) else lit(null).cast(df.schema(c).dataType)).as(s"v$j")
        }): _*
      )): _*
    )).as(Seq("pos", "s")))
      .select((col("s.gid").as("gid") +: cols.indices.map(j => col(s"s.v$j"))): _*)
    val valueCounts = exploded
      .groupBy((col("gid") +: cols.indices.map(j => col(s"v$j"))): _*)
      .agg(count(lit(1)).as("cnt"))
    val gidAggs = cols.indices.flatMap { j =>
      Seq(
        sum(when(col(s"v$j").isNotNull, col("cnt")).otherwise(0L)).as(s"nn$j"),
        sum(when(col(s"v$j").isNull, col("cnt")).otherwise(0L)).as(s"nu$j"),
        count(col(s"v$j")).as(s"di$j"),
        min(col(s"v$j")).cast("string").as(s"mi$j"),
        max(col(s"v$j")).cast("string").as(s"ma$j")
      )
    }
    val perGid = valueCounts.groupBy("gid").agg(gidAggs.head, gidAggs.tail: _*)
    // fold the n per-gid rows into the single wide row longForm expects;
    // nulls within a gid's own slot: the gid=j row may carry cnt for the
    // null group, so nu<j> already includes it.
    val wideAggs = cols.indices.flatMap { j =>
      Seq(
        // a zero-row input produces NO per-gid rows: count metrics are 0
        // there, not NULL (min/max legitimately stay NULL)
        coalesce(max(when(col("gid") === j, col(s"nn$j"))), lit(0L)).cast("string").as(s"c${j}__non_nulls"),
        coalesce(max(when(col("gid") === j, col(s"nu$j"))), lit(0L)).cast("string").as(s"c${j}__nulls"),
        coalesce(max(when(col("gid") === j, col(s"di$j"))), lit(0L)).cast("string").as(s"c${j}__distinct"),
        max(when(col("gid") === j, col(s"mi$j"))).as(s"c${j}__min"),
        max(when(col("gid") === j, col(s"ma$j"))).as(s"c${j}__max")
      )
    }
    longForm(perGid.agg(wideAggs.head, wideAggs.tail: _*), cols0)
  }

  /** Fixed-bounds equi-width histogram of a numeric column: one pass, one
    * narrow bucket expression + hash aggregation on ≤ nBuckets+2 groups
    * (map-side combine collapses everything before the exchange). Values
    * below `lo` land in bucket -1, at-or-above `hi` in bucket nBuckets —
    * out-of-range data is a data-quality signal, not a crash. Explicit
    * bounds keep the bucketing engine-portable and deterministic; derive
    * them from a prior profile/quantile pass when unknown.
    */
  def histogram(df: DataFrame, column: String, lo: Double, hi: Double, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(hi > lo, "hi must exceed lo")
    val width = (hi - lo) / nBuckets
    val v = df(column).cast("double")
    val bucket = when(v < lo, lit(-1L))
      .when(v >= hi, lit(nBuckets.toLong))
      .otherwise(floor((v - lit(lo)) / lit(width)).cast("long"))
    df.filter(v.isNotNull)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lo", when(col("bucket") === -1L, lit(Double.NegativeInfinity))
        .otherwise(lit(lo) + col("bucket") * lit(width)))
      .withColumn("hi", when(col("bucket") === nBuckets.toLong, lit(Double.PositiveInfinity))
        .otherwise(lit(lo) + (col("bucket") + 1L) * lit(width)))
      .select("bucket", "lo", "hi", "cnt")
  }

  /** Two-sample distribution drift over a numeric column — the
    * histogram-level companion to [[drift]]'s metric-level compare, and the
    * standard shape of an ML-data monitoring check (PSI / chi-square).
    *
    * Both snapshots bucket into the SAME fixed equi-width bins (±inf
    * catch-alls, same geometry as [[histogram]]): one grouped narrow scan
    * per side, then a full-outer join of two ≤ nBuckets+2-row frames — the
    * exchanges carry bucket counts, never rows, so the check costs two
    * scans regardless of table size. Counts are Haldane-smoothed
    * (`eps` per bucket) so empty buckets contribute finite terms.
    *
    * Per bucket: smoothed shares `p_base`/`p_cur`, the chi-square term
    * `(p_cur-p_base)²/p_base` (pure rational arithmetic on count-derived
    * doubles — bit-identical on any IEEE engine, so it oracle-compares
    * exactly) and the PSI term `(p_cur-p_base)·ln(p_cur/p_base)` (ln is
    * correctly-rounded on common libms but not *guaranteed* bit-identical
    * across engines — spec-checked with tolerance instead).
    */
  def distributionDrift(
      base: DataFrame,
      cur: DataFrame,
      column: String,
      lo: Double,
      hi: Double,
      nBuckets: Int,
      eps: Double = 0.5
  ): DataFrame =
    driftFromHistograms(
      histogram(base, column, lo, hi, nBuckets).select(col("bucket"), col("cnt")),
      histogram(cur, column, lo, hi, nBuckets).select(col("bucket"), col("cnt")),
      nBuckets, eps)

  /** [[distributionDrift]] from already-bucketed (bucket, cnt) histograms —
    * the form a monitoring loop wants: the baseline histogram is computed
    * ONCE (tiny — ≤ nBuckets+2 rows) and reused against every new
    * snapshot/micro-batch, so the recurring cost is one grouped scan of
    * the new data only.
    */
  def driftFromHistograms(
      baseHist: DataFrame,
      curHist: DataFrame,
      nBuckets: Int,
      eps: Double = 0.5
  ): DataFrame = {
    val hb = baseHist.select(col("bucket"), col("cnt").as("n_base"))
    val hc = curHist.select(col("bucket"), col("cnt").as("n_cur"))
    val smooth = eps * (nBuckets + 2) // catch-all buckets count toward the smoothing mass
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // single-partition window is safe here: the frame is ≤ nBuckets+2 rows
    hb.join(hc, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_cur"))
      .withColumn("pb", (col("n_base") + lit(eps)) / (sum("n_base").over(all) + lit(smooth)))
      .withColumn("pc", (col("n_cur") + lit(eps)) / (sum("n_cur").over(all) + lit(smooth)))
      .select(
        col("bucket"), col("n_base"), col("n_cur"),
        col("pb").as("p_base"), col("pc").as("p_cur"),
        ((col("pc") - col("pb")) * (col("pc") - col("pb")) / col("pb")).as("chi2_term"),
        ((col("pc") - col("pb")) * log(col("pc") / col("pb"))).as("psi_term")
      )
  }

  /** Scalar drift statistics from [[distributionDrift]]: (chi2, psi).
    * Conventional PSI reading: < 0.1 stable, 0.1–0.25 moderate shift,
    * > 0.25 significant.
    */
  def driftStats(drift: DataFrame): (Double, Double) = {
    val r = drift.agg(sum("chi2_term"), sum("psi_term")).head()
    (r.getDouble(0), r.getDouble(1))
  }

  /** Binned two-sample Kolmogorov–Smirnov drift, INTEGER-EXACT: at every
    * bucket boundary the CDF gap `|F_base − F_cur|` is compared through
    * the cross-multiplied integer numerator
    * `ks_num = |cum_base·tot_cur − cum_cur·tot_base|` over the constant
    * denominator `tot_base·tot_cur` — no division, no floats, so the
    * statistic is exactly reproducible on any engine (unlike PSI's `ln`).
    * The binned D is a lower bound on the unbinned D with bucket-width
    * resolution — the right trade at scale, where the unbinned statistic
    * would need a global sort of every distinct value: here each side
    * pays one grouped narrow scan ([[histogram]]) and the KS fold runs on
    * two ≤ nBuckets+2-row frames.
    *
    * Products are computed in DECIMAL(38,0): at 100 TB row counts the
    * cross-product exceeds 2^63 (the long would overflow silently).
    */
  def ksDriftFromHistograms(baseHist: DataFrame, curHist: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val hb = baseHist.select(col("bucket"), col("cnt").as("n_base"))
    val hc = curHist.select(col("bucket"), col("cnt").as("n_cur"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // single-partition windows safe for the same reason as
    // driftFromHistograms: the joined frame is ≤ nBuckets+2 rows
    val upto = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hb.join(hc, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_cur"))
      .withColumn("cum_base", sum("n_base").over(upto))
      .withColumn("cum_cur", sum("n_cur").over(upto))
      .withColumn("ks_num", abs(
        col("cum_base").cast(dec) * sum("n_cur").over(all).cast(dec) -
          col("cum_cur").cast(dec) * sum("n_base").over(all).cast(dec)))
      .select("bucket", "n_base", "n_cur", "cum_base", "cum_cur", "ks_num")
  }

  /** Per-group Pearson correlation from EXACT integer moments — the
    * bivariate leg of the profiler: callers pass INTEGER-VALUED columns
    * (pre-scale decimals to fixed units — cents, ppm — the q177
    * discipline) and every moment (n, Σx, Σy, Σxy, Σx², Σy²) accumulates
    * in DECIMAL(38,0): zero float error in the sums, so any engine
    * reaches the identical r — the naive double-sum Pearson diverges
    * across engines by summation order. The final
    * r = (nΣxy − ΣxΣy) / (√(nΣx²−Σx²ᵗᵒᵗ)·√(nΣy²−Σy²ᵗᵒᵗ)) is a fixed
    * dag of correctly-rounded IEEE ops over exact inputs — bit-identical
    * everywhere, so the gate hashes it. Moments surface as DOUBLE (cast
    * from the exact decimal — deterministic; a DECIMAL output column
    * would hash differently across engines).
    *
    * r is NULL when either variance is zero (a constant column has no
    * correlation; 0/0 would be engine-divergent). Rows with a NULL on
    * either side are excluded pairwise. ONE aggregation, fully map-side
    * partial — the scale cost is a scan.
    */
  def correlation(
      df: DataFrame,
      keyCols: Seq[String],
      xCol: String,
      yCol: String
  ): DataFrame = {
    val dec = "decimal(38,0)"
    val x = col(xCol).cast(dec)
    val y = col(yCol).cast(dec)
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(x * y).as("__sxy"), sum(x * x).as("__sxx"), sum(y * y).as("__syy"))
      .select((keyCols.map(col) :+ col("n") :+
        col("__sx").cast("double").as("sum_x") :+
        col("__sy").cast("double").as("sum_y") :+ {
          val n = col("n").cast(dec)
          val num = (n * col("__sxy") - col("__sx") * col("__sy")).cast("double")
          val dx = (n * col("__sxx") - col("__sx") * col("__sx")).cast("double")
          val dy = (n * col("__syy") - col("__sy") * col("__sy")).cast("double")
          // clamp: √dx·√dy ≠ √(dx·dy) in IEEE, so a perfect linear
          // relation can land at 1 + 1ulp — cap to the mathematical range
          when(dx > 0 && dy > 0,
            greatest(lit(-1.0), least(lit(1.0), num / (sqrt(dx) * sqrt(dy))))).as("r")
        }): _*)
  }

  /** ROLLING exact-moment Pearson r over a trailing row window — "is
    * the relationship between these two series stable over time", the
    * time-local companion of [[correlation]] (one number) and
    * [[correlationMatrixDrift]] (two snapshots): a feature pipeline's
    * regime changes show up here first. Same integer-unit contract as
    * [[correlation]] (cents/ppm pre-scale): the five window sums are
    * EXACT decimal moments over the trailing `window` rows, r is the
    * q177 clamp dag per row — deterministic cross-engine, gate at 9
    * decimals for the >2^53 cast ulp. Rows with a partial head window
    * emit with their actual w_n (the EWMA head-normalization stance —
    * dropping them hides the series start); ONE key-partitioned
    * exchange carries all five sums.
    */
  def rollingCorrelation(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String],
      xCol: String,
      yCol: String,
      window: Int
  ): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    val dec = "decimal(38,0)"
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(window - 1), 0)
    val x = col(xCol).cast(dec)
    val y = col(yCol).cast(dec)
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .withColumn("w_n", count(lit(1)).over(w))
      .withColumn("__sx", sum(x).over(w))
      .withColumn("__sy", sum(y).over(w))
      .withColumn("__sxy", sum(x * y).over(w))
      .withColumn("__sxx", sum(x * x).over(w))
      .withColumn("__syy", sum(y * y).over(w))
      .withColumn("r", {
        val n = col("w_n").cast(dec)
        val num = (n * col("__sxy") - col("__sx") * col("__sy")).cast("double")
        val dx = (n * col("__sxx") - col("__sx") * col("__sx")).cast("double")
        val dy = (n * col("__syy") - col("__sy") * col("__sy")).cast("double")
        when(dx > 0 && dy > 0,
          greatest(lit(-1.0), least(lit(1.0), num / (sqrt(dx) * sqrt(dy)))))
      })
      .drop("__sx", "__sy", "__sxy", "__sxx", "__syy")
  }

  /** Benford first-digit ppm targets, floor(log10(1+1/d)·10⁶) — pinned
    * integer constants (the q149 rule: constants are data). */
  val BenfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301029L, 2 -> 176091L, 3 -> 124938L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66946L, 7 -> 57991L, 8 -> 51152L, 9 -> 45757L)

  /** Benford's-law first-digit audit (Newcomb 1881 / Benford 1938 — the
    * classic fabricated-numbers screen: naturally occurring multi-scale
    * magnitudes put digit d first with probability log10(1+1/d); invented
    * or constrained figures don't): per digit 1–9, the EXACT count, the
    * exact observed share in ppm (integer floor div), the pinned expected
    * ppm, and the exact scaled gap |n·10⁶ − N·expected_ppm| — every gate
    * column an integer, the q101/q172 no-float-in-the-statistic
    * discipline. Digits the data never uses still get a row (missing
    * digits are the loudest Benford signal).
    *
    * `column` is INTEGER-VALUED (the cents/ppm pre-scale discipline —
    * first digit of a double would hang on engine float-to-string);
    * zeros and NULLs are excluded (no first significant digit), signs are
    * stripped. One narrow grouped scan; everything after is a 9-row
    * frame. Interpretation: compare against the [[chiSquareStat]]-style
    * critical value at df=8, or eyeball dev_num — fabricated uniform
    * digits put ~111111 ppm on every digit.
    */
  def benford(df: DataFrame, column: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dec = "decimal(38,0)"
    val counts = df.select(col(column).cast("long").as("__v"))
      .filter(col("__v").isNotNull && col("__v") =!= 0L)
      .select(substring(abs(col("__v")).cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val expected = BenfordPpm.toDF("digit", "expected_ppm")
    broadcast(expected).join(counts, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("__N", sum("n").over(Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("digit"), col("n"),
        when(col("__N") > 0, expr("(n * 1000000L) div __N")).as("actual_ppm"),
        col("expected_ppm"),
        abs(col("n").cast(dec) * lit(1000000L) -
          col("__N").cast(dec) * col("expected_ppm")).cast("long").as("dev_num"))
  }

  /** The MERGEABLE state behind [[correlation]], for ALL pairs of
    * `cols` at once: one row per group carrying n plus each column's
    * Σx/Σx² and each ordered pair's Σxy — ONE aggregation over ONE scan
    * (n·(n+3)/2 decimal sums wide), so profiling every pairwise
    * relationship costs the same scan as profiling one. Plain sums ⇒
    * two moment frames over disjoint row sets fold by
    * [[mergeCorrelationMoments]] into exactly the rebuild's state (the
    * aucHistogram incremental contract; spec-asserted) — Pearson over a
    * growing corpus without rescanning history. Rows with a NULL in ANY
    * profiled column are excluded (matrix-consistent listwise deletion —
    * pairwise deletion would need per-pair n and breaks mergeability).
    */
  def correlationMoments(
      df: DataFrame,
      keyCols: Seq[String],
      cols: Seq[String]
  ): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val dec = "decimal(38,0)"
    val base = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    val aggs =
      cols.map(c => sum(col(c).cast(dec)).as(s"s__$c")) ++
      (for (i <- cols.indices; j <- i until cols.length) yield
        sum(col(cols(i)).cast(dec) * col(cols(j)).cast(dec))
          .as(s"p__${cols(i)}__${cols(j)}"))
    base.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), aggs: _*)
  }

  /** Fold two [[correlationMoments]] frames over disjoint row sets. */
  def mergeCorrelationMoments(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame = {
    val momentCols = a.columns.filterNot(keyCols.contains)
    a.unionByName(b).groupBy(keyCols.map(col): _*)
      .agg(sum(momentCols.head).as(momentCols.head),
        momentCols.tail.map(c => sum(c).as(c)): _*)
  }

  /** The long-form correlation MATRIX from a (merged) moments frame:
    * one row per group × unordered column pair with the exact n and the
    * clamped Pearson r ([[correlation]]'s formula verbatim, so the two
    * paths agree bit-for-bit — spec-asserted). Pair-count work on a
    * group-sized frame.
    */
  def correlationFromMoments(
      moments: DataFrame,
      keyCols: Seq[String],
      cols: Seq[String]
  ): DataFrame = {
    val dec = "decimal(38,0)"
    val pairs = for (i <- cols.indices; j <- (i + 1) until cols.length)
      yield (cols(i), cols(j))
    // ONE generator over the group-sized moments frame — a per-pair
    // union would re-run the moments aggregation once per pair
    val cells = pairs.map { case (x, y) =>
      val n = col("n").cast(dec)
      val (sx, sy) = (col(s"s__$x"), col(s"s__$y"))
      val sxy = col(s"p__${x}__${y}")
      val (sxx, syy) = (col(s"p__${x}__${x}"), col(s"p__${y}__${y}"))
      val num = (n * sxy - sx * sy).cast("double")
      val dx = (n * sxx - sx * sx).cast("double")
      val dy = (n * syy - sy * sy).cast("double")
      struct(
        lit(x).as("col_x"), lit(y).as("col_y"),
        when(dx > 0 && dy > 0,
          greatest(lit(-1.0), least(lit(1.0), num / (sqrt(dx) * sqrt(dy))))).as("r"))
    }
    moments
      .select((keyCols.map(col) :+ col("n") :+
        explode(array(cells: _*)).as("__pair")): _*)
      .select((keyCols.map(col) :+
        col("__pair.col_x").as("col_x") :+ col("__pair.col_y").as("col_y") :+
        col("n") :+ col("__pair.r").as("r")): _*)
  }

  /** Simple OLS regression y = a + b·x from a (merged)
    * [[correlationMoments]] frame — the LINE the correlation family
    * (q177 r, q213 rolling r) only scores: slope, intercept and R² as
    * pure rationals over the exact integer moments, each ONE division:
    *
    *   b = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)      (num/den digit strings)
    *   a = (Σy·Σx² − Σx·Σxy) / den                 (the b-free identity —
    *       no slope float ever feeds the intercept)
    *   R² = num² / (den·(n·Σy² − (Σy)²))
    *
    * NULL all three when x is constant (den ≤ 0); R² NULL when y is
    * constant too. Gate at 9 decimals. Inherits the moments frame's
    * integer-units contract (cents/ppm) and its fold law — a streaming
    * regression is mergeCorrelationMoments + this, free.
    */
  def regressionFromMoments(
      moments: DataFrame,
      keyCols: Seq[String],
      xCol: String,
      yCol: String
  ): DataFrame = {
    val dec = "decimal(38,0)"
    val n = col("n").cast(dec)
    val (sx, sy) = (col(s"s__$xCol"), col(s"s__$yCol"))
    val sxy = col(s"p__${xCol}__${yCol}")
    val (sxx, syy) = (col(s"p__${xCol}__${xCol}"), col(s"p__${yCol}__${yCol}"))
    val num = n * sxy - sx * sy
    val den = n * sxx - sx * sx
    val intNum = sy * sxx - sx * sxy
    val dy = n * syy - sy * sy
    moments.select((keyCols.map(col) :+ col("n") :+
      num.cast("string").as("num") :+
      den.cast("string").as("den") :+
      when(den > 0, num.cast("double") / den.cast("double")).as("slope") :+
      when(den > 0, intNum.cast("double") / den.cast("double")).as("intercept") :+
      when(den > 0 && dy > 0,
        // squares on DOUBLES: num² at corpus scale clears DECIMAL(38,0)
        num.cast("double") * num.cast("double") /
          (den.cast("double") * dy.cast("double"))).as("r2")): _*)
  }

  /** [[regressionFromMoments]] over raw rows. */
  def regression(df: DataFrame, keyCols: Seq[String], xCol: String, yCol: String): DataFrame =
    regressionFromMoments(
      correlationMoments(df, keyCols, Seq(xCol, yCol)), keyCols, xCol, yCol)

  /** Spearman rank correlation, EXACT under ties: ρ = Pearson over the
    * per-group average-tie ranks, carried as INTEGERS by doubling —
    * a tie block's average rank is min_rank + (block−1)/2, so
    * 2·avg_rank = 2·rank() + count_over_(group, value) − 1 is an exact
    * long — and the doubling cancels in Pearson (shift/scale
    * invariance), so this IS textbook Spearman with average ties, not
    * the row_number approximation. Reuses [[correlation]]'s exact-moment
    * machinery verbatim (same clamp, same NULL row exclusion — pairwise
    * on the two columns). The monotone-association companion to q177's
    * linear r: outlier-robust, catches nonlinear monotone structure.
    * Two rank windows + the one moments aggregation share the group-key
    * exchange.
    */
  def spearman(
      df: DataFrame,
      keyCols: Seq[String],
      xCol: String,
      yCol: String
  ): DataFrame = {
    val g = keyCols.map(col)
    val base = df.select((keyCols :+ xCol :+ yCol).map(col): _*)
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
    def rank2(c: String, as: String) = Seq(
      rank().over(Window.partitionBy(g: _*).orderBy(col(c))).as(s"__rk_$as"),
      count(lit(1)).over(Window.partitionBy((g :+ col(c)): _*)).as(s"__ct_$as"))
    val ranked = base
      .select((g ++ rank2(xCol, "x") ++ rank2(yCol, "y")): _*)
      .select((g :+
        (lit(2L) * col("__rk_x") + col("__ct_x") - 1L).as("__rx2") :+
        (lit(2L) * col("__rk_y") + col("__ct_y") - 1L).as("__ry2")): _*)
    spearmanFromDoubledRanks(ranked, keyCols)
  }

  /** The shared Spearman tail: exact-moment Pearson over doubled
    * average-tie ranks `__rx2`/`__ry2`, renamed to the rho surface —
    * both layouts ([[spearman]]'s one-exchange windows and
    * [[spearmanBucketed]]'s cell scaffold) produce the same integers, so
    * funneling them here makes the arm equivalence structural.
    */
  private def spearmanFromDoubledRanks(ranked: DataFrame, keyCols: Seq[String]): DataFrame =
    correlation(ranked, keyCols, "__rx2", "__ry2")
      .withColumnRenamed("sum_x", "sum_rx2")
      .withColumnRenamed("sum_y", "sum_ry2")
      .withColumnRenamed("r", "rho")

  /** Skew-safe twin of [[spearman]] — BIT-IDENTICAL output, no per-group
    * reducer sort: each column's global min-rank comes from the
    * [[graft.operators.Quantiles.cellScaffold]] layout (cell offset +
    * rank within the (group, cell) window — ties always share a cell, so
    * the offset arithmetic is exact under ties), and the tie-block count
    * rides the SAME window as a `range between current row and current
    * row` frame — no (group, value) shuffle, no hot-value partition. The
    * two columns scaffold sequentially (x's doubled rank is carried
    * through y's layout — 8 bytes/row, no self-join, no id column
    * needed), then the one map-side-partial moments aggregation.
    *
    * Cost shape: two (group, cell) exchanges + the moments exchange vs
    * the windowed arm's ONE exchange — but the largest sort anywhere is
    * a cell population, so this is the 100× hot-group path
    * (SURVEY §5.11 records the crossover; the quantile A/B's 3.91× at
    * 4.8M rows/group, §5.10, is the same layout). Hot-VALUE groups
    * still collapse into one cell — [[graft.operators.Sketches]]' bottom-k
    * sample path is the honest answer there.
    */
  def spearmanBucketed(
      df: DataFrame,
      keyCols: Seq[String],
      xCol: String,
      yCol: String,
      cells: Int = 256
  ): DataFrame = {
    val g = keyCols.map(col)
    val base = df.select((keyCols :+ xCol :+ yCol).map(col): _*)
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val ranked =
      doubledRankFromScaffold(
        doubledRankFromScaffold(base, keyCols, xCol, "__rx2", cells),
        keyCols, yCol, "__ry2", cells)
      .select((g :+ col("__rx2") :+ col("__ry2")): _*)
    spearmanFromDoubledRanks(ranked, keyCols)
  }

  /** The ONE definition of "doubled average-tie rank via the cell
    * scaffold" — 2·(offset + per-cell min-rank) + tie-count − 1, the
    * tie count riding the SAME (group, cell) window as a current-row
    * range frame. Shared by [[spearmanBucketed]] and
    * [[spearmanMatrixBucketed]] so the bit-identity contract with the
    * windowed arms has a single implementation to break.
    */
  private def doubledRankFromScaffold(
      frame: DataFrame,
      keyCols: Seq[String],
      c: String,
      as: String,
      cells: Int
  ): DataFrame = {
    val g = keyCols.map(col)
    val w = Window.partitionBy((g :+ col("__c")): _*).orderBy(col(c))
    graft.operators.Quantiles.cellScaffold(frame, keyCols, c, cells)
      .withColumn(as,
        lit(2L) * (col("__off") + rank().over(w)) +
          count(lit(1)).over(w.rangeBetween(Window.currentRow, Window.currentRow)) - 1L)
      .drop("__c", "__cnt", "__off", "__n")
  }

  /** Simpson diversity per group (Simpson 1949) — the corpus-mixture
    * diagnostic next to [[graft.operators.Quantiles.gini]]'s mass
    * balance: λ = Σᵢ nᵢ(nᵢ−1) / (N(N−1)) is the probability two draws
    * WITHOUT replacement share a category (1 − λ the Gini–Simpson
    * diversity) — "how source-diverse is each shard/language/day"
    * without Shannon entropy's `ln` (no cross-engine ulp contract; this
    * is pure rational arithmetic, so the gate hashes λ itself). Emits
    * per group: n_cats, N, the EXACT DECIMAL(38,0) numerator (100 TB
    * counts square past a long), and λ / diversity as one pinned
    * division each — NULL when N < 2 (no unordered pair to draw). A
    * NULL category is a category (a missing source is mixture signal).
    * Scale: two map-side-partial aggregations, the second over the
    * (group, category)-count frame — nothing data-sized shuffles twice.
    */
  def simpsonDiversity(
      df: DataFrame,
      keyCols: Seq[String],
      catCol: String
  ): DataFrame =
    simpsonDiversityFromCounts(
      df.groupBy((keyCols.map(col) :+ col(catCol).cast("string").as("__cat")): _*)
        .agg(count(lit(1)).as("__n")),
      keyCols)

  /** [[simpsonDiversity]] from a per-(group, category) count frame — the
    * MERGEABLE form: counts are plain sums, so per-group [[valueCounts]]-
    * shaped snapshots over disjoint row sets fold by summing per
    * (group, category) into exactly the rebuild's counts (the
    * chi-square/KS histogram discipline) and the standing diversity
    * tracks a growing corpus without rescans. Expects columns
    * (keyCols…, __cat, __n).
    */
  def simpsonDiversityFromCounts(counts: DataFrame, keyCols: Seq[String]): DataFrame = {
    val dec = "decimal(38,0)"
    counts.groupBy(keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_cats"),
        sum(col("__n")).as("n"),
        sum((col("__n").cast(dec)) * (col("__n") - 1L).cast(dec)).as("__num"))
      .select((keyCols.map(col) :+ col("n_cats") :+ col("n") :+
        col("__num").cast("double").as("simpson_num") :+ {
          val denom = (col("n").cast(dec) * (col("n") - 1L).cast(dec)).cast("double")
          when(col("n") > 1L, col("__num").cast("double") / denom).as("lambda")
        }): _*)
      .withColumn("diversity", lit(1.0) - col("lambda"))
  }

  /** Correlation-matrix DRIFT between two snapshots — "did the linear
    * RELATIONSHIP between columns change", the bivariate companion of
    * [[chiSquareDrift]]/[[ksDriftFromHistograms]] (those watch one
    * column's distribution; this watches the structure between columns —
    * a feature pipeline can keep every marginal identical and still
    * break the correlations training depends on). Inputs are
    * [[correlationMoments]] frames, i.e. MERGEABLE state: either side
    * may be a fold of stored daily frames ([[mergeCorrelationMoments]]),
    * so drift against a growing baseline costs no rescan. Per group ×
    * pair: both sides' n and exact-moment clamped r, plus
    * drift = r_cur − r_base — one IEEE subtraction of two doubles that
    * are themselves bit-identical fixed dags over exact integers
    * (the q185 gate argument), so the drift column hashes cross-engine.
    * A pair whose r is NULL on one side (constant column there) yields
    * NULL drift but keeps its row — a column going constant IS drift,
    * surfaced rather than dropped; groups present on one side only
    * survive the full-outer, NULL-safe join the same way.
    */
  def correlationMatrixDrift(
      momentsBase: DataFrame,
      momentsCur: DataFrame,
      keyCols: Seq[String],
      cols: Seq[String]
  ): DataFrame = {
    val a = correlationFromMoments(momentsBase, keyCols, cols)
      .withColumnRenamed("n", "n_base").withColumnRenamed("r", "r_base")
    val b = correlationFromMoments(momentsCur, keyCols, cols)
      .withColumnRenamed("n", "n_cur").withColumnRenamed("r", "r_cur")
    val joinCols = keyCols :+ "col_x" :+ "col_y"
    val bb = b.toDF(b.columns.map(c =>
      if (joinCols.contains(c)) s"__r_$c" else c): _*)
    val cond = joinCols.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _)
    a.join(bb, cond, "full_outer")
      .select((joinCols.map(c => coalesce(col(c), col(s"__r_$c")).as(c)) ++
        Seq(col("n_base"), col("n_cur"), col("r_base"), col("r_cur"),
          (col("r_cur") - col("r_base")).as("drift"))): _*)
  }

  /** Spearman correlation MATRIX: the monotone-association companion of
    * [[correlationFromMoments]] — every unordered column pair's EXACT
    * average-tie ρ at the cost of ONE scan + the rank windows: each
    * column is replaced by its doubled integer average-tie rank (the
    * [[spearman]] arithmetic, column by column — all rank windows share
    * the group-key exchange, hashpartitioning(g) satisfies every
    * (g[, c]) clustering), then the one map-side-partial moments
    * aggregation and the same clamped pair generator. Listwise NULL
    * deletion — matrix-consistent like the Pearson matrix (q187's
    * pairwise rule would need per-pair rank passes and break the shared
    * moments scan); pairwise equivalence vs [[spearman]] on NULL-free
    * input is spec-asserted. Output: group × pair rows with n and rho.
    */
  def spearmanMatrix(
      df: DataFrame,
      keyCols: Seq[String],
      cols: Seq[String]
  ): DataFrame =
    correlationFromMoments(spearmanMoments(df, keyCols, cols), keyCols, cols)
      .withColumnRenamed("r", "rho")

  /** The moments frame behind [[spearmanMatrix]] — [[correlationMoments]]
    * over each column's doubled average-tie rank. Exposed for
    * [[correlationMatrixDrift]]: feeding two snapshots' rank-moments
    * gives the SPEARMAN drift matrix ("did the monotone association
    * change") with zero new machinery. CAUTION, unlike raw-value
    * moments these do NOT fold across batches (ranks are
    * corpus-relative — re-rank per snapshot, don't merge); drift yes,
    * incremental fold no.
    */
  def spearmanMoments(
      df: DataFrame,
      keyCols: Seq[String],
      cols: Seq[String]
  ): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val g = keyCols.map(col)
    val base = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    val ranked = base.select((g ++ cols.map { c =>
      (lit(2L) * rank().over(Window.partitionBy(g: _*).orderBy(col(c))) +
        count(lit(1)).over(Window.partitionBy((g :+ col(c)): _*)) - 1L).as(c)
    }): _*)
    correlationMoments(ranked, keyCols, cols)
  }

  /** Skew-safe twin of [[spearmanMatrix]] — BIT-IDENTICAL output: every
    * column's doubled average-tie rank comes from the
    * [[spearmanBucketed]] cell layout (sequential scaffolds, one per
    * column — no per-group reducer sort anywhere), then the same one
    * moments aggregation and pair generator. Cost: one (group, cell)
    * exchange per column instead of the shared single exchange — the
    * hot-group trade SURVEY §5.11 prices (`spearman` op) applied per
    * column.
    */
  def spearmanMatrixBucketed(
      df: DataFrame,
      keyCols: Seq[String],
      cols: Seq[String],
      cells: Int = 256
  ): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val g = keyCols.map(col)
    val base = df.select((keyCols ++ cols).map(col): _*)
      .filter(cols.map(col(_).isNotNull).reduce(_ && _))
    val ranked = cols.foldLeft(base) { (frame, c) =>
      doubledRankFromScaffold(frame, keyCols, c, s"__r2_$c", cells)
    }.select((g ++ cols.map(c => col(s"__r2_$c").as(c))): _*)
    correlationFromMoments(correlationMoments(ranked, keyCols, cols), keyCols, cols)
      .withColumnRenamed("r", "rho")
  }

  /** Two-sample chi-square drift for a CATEGORICAL column, INTEGER-EXACT
    * — the categorical sibling of [[ksDriftFromHistograms]] (KS needs an
    * order; categories have none): per value v with counts b_v / c_v and
    * totals B / C, the homogeneity statistic is
    * χ² = Σ_v (b_v·C − c_v·B)² / (B·C·(b_v+c_v)) (algebraically equal to
    * the textbook Σ(O−E)²/E over the 2×K table), and this emits the
    * per-value EXACT cross-multiplied numerator
    * `chi_num = (b_v·C − c_v·B)²` plus `cell_tot = b_v + c_v` in
    * DECIMAL(38,0) (the ksDrift discipline: no division, no floats, so
    * the gate hashes every cell on any engine; products at 100 TB counts
    * overflow a long). A value absent from one side still contributes
    * (full-outer join, zero-filled) — that IS drift. One grouped narrow
    * scan per side; the join frame is value-cardinality-sized.
    *
    * [[chiSquareStat]] folds the frame to the scalar (χ², df) driver-side
    * with ONE division per value at the very end, summed in value order —
    * deterministic, value-cardinality work.
    */
  def chiSquareDrift(base: DataFrame, cur: DataFrame, column: String): DataFrame =
    chiSquareDriftFromCounts(valueCounts(base, column), valueCounts(cur, column))

  /** Per-value count histogram of a categorical column — the MERGEABLE
    * state behind [[chiSquareDrift]] (the [[ksDriftFromHistograms]] API
    * symmetry): plain sums, so snapshots over disjoint row sets fold by
    * [[mergeValueCounts]] into exactly the rebuild's histogram — drift
    * against a growing baseline without rescanning it (the aucHistogram
    * incremental contract; sum-merge is non-idempotent ⇒ the CMS replay
    * discipline when persisted).
    */
  def valueCounts(df: DataFrame, column: String): DataFrame =
    df.select(col(column).cast("string").as("value"))
      .groupBy("value").agg(count(lit(1)).as("cnt"))

  /** Fold two [[valueCounts]] histograms over disjoint row sets. */
  def mergeValueCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("value").agg(sum("cnt").as("cnt"))

  /** [[chiSquareDrift]] from two (possibly folded) [[valueCounts]]
    * histograms. */
  def chiSquareDriftFromCounts(baseCounts: DataFrame, curCounts: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val hb = baseCounts.select(col("value").as("__vb"), col("cnt").as("n_base"))
    val hc = curCounts.select(col("value").as("__vc"), col("cnt").as("n_cur"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // the joined frame is value-cardinality-sized (a categorical audit
    // input by contract) — the all-frame window is bookkeeping, not scale.
    // NULL-SAFE equality: the NULL category (valueCounts keeps it — NULL
    // rows are a distribution mass like any other) must match ITSELF
    // across the two histograms; a plain equi-join splits it into two
    // one-sided rows and fabricates drift on identical snapshots
    hb.join(hc, col("__vb") <=> col("__vc"), "full_outer")
      .select(coalesce(col("__vb"), col("__vc")).as("value"),
        col("n_base"), col("n_cur"))
      .na.fill(0L, Seq("n_base", "n_cur"))
      .withColumn("__gap",
        col("n_base").cast(dec) * sum("n_cur").over(all).cast(dec) -
          col("n_cur").cast(dec) * sum("n_base").over(all).cast(dec))
      .withColumn("chi_num", col("__gap") * col("__gap"))
      .withColumn("cell_tot", col("n_base") + col("n_cur"))
      .select("value", "n_base", "n_cur", "chi_num", "cell_tot")
  }

  /** G-test (log-likelihood-ratio) drift from two (possibly folded)
    * [[valueCounts]] histograms — the likelihood-ratio member of the
    * categorical drift family beside [[chiSquareDriftFromCounts]]
    * (Pearson's χ² SECOND-ORDER-approximates this; they diverge exactly
    * where drift decisions are made — cells whose observed count is far
    * from expected, where G is the better-calibrated statistic and the
    * one additive over data splits):
    *
    *   G = 2·Σ_cells O·ln(O/E),  E_bv = B·t_v/N, E_cv = C·t_v/N,
    *   t_v = b_v + c_v, N = B + C   (0·ln 0 ≡ 0)
    *
    * Per value this emits both counts and `g_term_n9` =
    * round(1e9·2·[b·ln(b/E_b) + c·ln(c/E_c)]) — the JS nano-term
    * discipline (ln is correctly-rounded on common libms; the fixed
    * per-value dag plus order-free integer summation makes [[gStat]]
    * cross-engine reproducible at 9 decimals). One-sided values
    * contribute their full 2·O·ln(N/B) (resp. ln(N/C)) term — that IS
    * drift. NULL-safe on the NULL category (the chi-square join rule).
    * Value-cardinality frame; same mergeable [[valueCounts]] state as
    * χ², so one standing store answers both.
    */
  def gTestFromCounts(baseCounts: DataFrame, curCounts: DataFrame): DataFrame = {
    val hb = baseCounts.select(col("value").as("__vb"), col("cnt").as("n_base"))
    val hc = curCounts.select(col("value").as("__vc"), col("cnt").as("n_cur"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val joined = hb.join(hc, col("__vb") <=> col("__vc"), "full_outer")
      .select(coalesce(col("__vb"), col("__vc")).as("value"),
        col("n_base"), col("n_cur"))
      .na.fill(0L, Seq("n_base", "n_cur"))
      .withColumn("__tb", sum("n_base").over(all))
      .withColumn("__tc", sum("n_cur").over(all))
    val b = col("n_base").cast("double"); val c = col("n_cur").cast("double")
    val bTot = col("__tb").cast("double"); val cTot = col("__tc").cast("double")
    val t = b + c; val n = bTot + cTot
    val term =
      when(col("n_base") > 0L, b * log(b * n / (bTot * t))).otherwise(0d) +
        when(col("n_cur") > 0L, c * log(c * n / (cTot * t))).otherwise(0d)
    joined
      .withColumn("g_term_n9", round(term * 2d * 1e9d).cast("long"))
      .select("value", "n_base", "n_cur", "g_term_n9")
  }

  /** [[gTestFromCounts]] over raw snapshots. */
  def gTestDrift(base: DataFrame, cur: DataFrame, column: String): DataFrame =
    gTestFromCounts(valueCounts(base, column), valueCounts(cur, column))

  /** Scalar (G, degrees of freedom) from the per-value frame: one
    * integer sum, one pinned division; df = #values − 1. G is χ²(df)
    * under homogeneity — same critical values as [[chiSquareStat]].
    */
  def gStat(frame: DataFrame): (Double, Long) = {
    val r = frame.agg(sum("g_term_n9"), count(lit(1))).head()
    if (r.isNullAt(0)) (0.0, 0L)
    else (r.getLong(0).toDouble / 1e9, math.max(r.getLong(1) - 1L, 0L))
  }

  /** Per-(ordered integer bucket) counts — the mergeable state for
    * [[wassersteinFromCounts]]. NULLs are dropped: W₁ is defined on an
    * ordered support and a missing marker has no position on it (unlike
    * [[valueCounts]], where NULL is a category). Continuous columns
    * bucket first (the τ/KW rule) — the frame is value-cardinality-
    * sized by contract.
    */
  def bucketCounts(df: DataFrame, column: String): DataFrame =
    df.filter(col(column).isNotNull)
      .select(col(column).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))

  /** Fold two [[bucketCounts]] frames over disjoint row sets. */
  def mergeBucketCounts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("bucket").agg(sum("cnt").as("cnt"))

  /** Wasserstein-1 (earth-mover) distance between two bucketed
    * distributions — the drift measure that SEES HOW FAR mass moved,
    * which χ²/PSI/JS (bucket-membership tests, shift-distance-blind)
    * and KS (max single gap) cannot: shifting every value up one bucket
    * is small χ² noise but exactly 1.0 bucket of W₁. On a sorted
    * support v₀<v₁<…: W₁ = Σᵢ |F_A(vᵢ) − F_B(vᵢ)|·(vᵢ₊₁ − vᵢ), in the
    * COLUMN'S OWN UNITS. EXACT: per row the integer
    * |cum_A·n_B − cum_B·n_A|·gap accumulates in DECIMAL(38,0) (digit
    * string `w1_num`); W₁ = num/(n_A·n_B) is ONE division. The last
    * support point contributes 0 by construction (both CDFs are 1).
    * Scale: full-outer bucket join + one bucket-ordered window over the
    * value-cardinality-sized frame — the chiSquareDrift shape exactly.
    */
  def wassersteinFromCounts(baseCounts: DataFrame, curCounts: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val hb = baseCounts.select(col("bucket").as("__bb"), col("cnt").as("__nb"))
    val hc = curCounts.select(col("bucket").as("__bc"), col("cnt").as("__nc"))
    val ord = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val joined = hb.join(hc, col("__bb") === col("__bc"), "full_outer")
      .select(coalesce(col("__bb"), col("__bc")).as("bucket"),
        coalesce(col("__nb"), lit(0L)).as("n_base"),
        coalesce(col("__nc"), lit(0L)).as("n_cur"))
      .withColumn("__cb", sum("n_base").over(ord))
      .withColumn("__cc", sum("n_cur").over(ord))
      .withColumn("__gap",
        lead(col("bucket"), 1).over(Window.orderBy("bucket")) - col("bucket"))
      .withColumn("__tb", sum("n_base").over(all))
      .withColumn("__tc", sum("n_cur").over(all))
      .withColumn("__term",
        when(col("__gap").isNotNull,
          abs(col("__cb").cast(dec) * col("__tc").cast(dec) -
            col("__cc").cast(dec) * col("__tb").cast(dec)) * col("__gap").cast(dec))
          .otherwise(lit(0L).cast(dec)))
    joined
      .agg(
        max("__tb").as("n_base"),
        max("__tc").as("n_cur"),
        sum("__term").as("__w1n"))
      .select(col("n_base"), col("n_cur"),
        col("__w1n").cast("string").as("w1_num"),
        when(col("n_base") > 0L && col("n_cur") > 0L,
          col("__w1n").cast("double") /
            (col("n_base").cast("double") * col("n_cur").cast("double"))).as("w1"))
  }

  /** [[wassersteinFromCounts]] over raw rows. */
  def wassersteinDrift(base: DataFrame, cur: DataFrame, column: String): DataFrame =
    wassersteinFromCounts(bucketCounts(base, column), bucketCounts(cur, column))

  /** Hellinger distance between two (possibly folded) [[valueCounts]]
    * histograms — the bounded [0,1] drift metric whose per-cell term
    * √(p·q) REWARDS overlap (JS penalizes divergence; Hellinger's
    * √-geometry is the right one when small-mass cells matter — it's
    * the Bhattacharyya complement √(1−BC)). Each cell's
    * round(1e9·√((n_b/B)·(n_c/C))) is a nano long summed order-free
    * (the JS discipline); H² = 1 − Σ/1e9 and H = √(max(H², 0)) are a
    * fixed dag — gate at 9 decimals. One-sided cells contribute 0
    * naturally (√(p·0) = 0); the NULL category matches itself (the
    * chiSquareDrift NULL-safe-join rule). Value-cardinality frame.
    */
  def hellingerFromCounts(baseCounts: DataFrame, curCounts: DataFrame): DataFrame = {
    val hb = baseCounts.select(col("value").as("__vb"), col("cnt").as("n_base"))
    val hc = curCounts.select(col("value").as("__vc"), col("cnt").as("n_cur"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hb.join(hc, col("__vb") <=> col("__vc"), "full_outer")
      .select(coalesce(col("__vb"), col("__vc")).as("value"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .withColumn("__tb", sum("n_base").over(all))
      .withColumn("__tc", sum("n_cur").over(all))
      .withColumn("__bc9",
        round(sqrt((col("n_base").cast("double") / col("__tb")) *
          (col("n_cur").cast("double") / col("__tc"))) * 1e9d).cast("long"))
      .groupBy()
      .agg(
        max("__tb").cast("long").as("n_base"),
        max("__tc").cast("long").as("n_cur"),
        sum("__bc9").as("bc9"))
      .withColumn("h2", lit(1d) - col("bc9").cast("double") / 1e9d)
      .withColumn("hellinger", sqrt(greatest(col("h2"), lit(0d))))
  }

  /** [[hellingerFromCounts]] over raw rows. */
  def hellingerDrift(base: DataFrame, cur: DataFrame, column: String): DataFrame =
    hellingerFromCounts(valueCounts(base, column), valueCounts(cur, column))

  /** Scalar (χ², degrees of freedom) from a [[chiSquareDrift]] frame:
    * χ² = (1/(B·C)) · Σ_v chi_num_v / cell_tot_v, the division deferred to
    * this driver-side fold (value-order summation — deterministic);
    * df = (#values − 1). Reading: reject homogeneity when χ² exceeds the
    * df's critical value (3.84 at df=1, 9.49 at df=4, α=0.05).
    */
  def chiSquareStat(drift: DataFrame): (Double, Long) = {
    val rows = drift.select("value", "n_base", "n_cur", "chi_num", "cell_tot")
      .collect().sortBy(r => Option(r.getString(0)).getOrElse(""))
    if (rows.isEmpty) return (0.0, 0L)
    val bTot = rows.map(_.getLong(1)).sum.toDouble
    val cTot = rows.map(_.getLong(2)).sum.toDouble
    if (bTot == 0 || cTot == 0) return (0.0, (rows.length - 1).max(0).toLong)
    val sum = rows.map(r => r.getDecimal(3).doubleValue() / r.getLong(4)).sum
    (sum / (bTot * cTot), (rows.length - 1).max(0).toLong)
  }

  /** [[ksDriftFromHistograms]] over two raw snapshots — same equi-width
    * binning geometry as [[distributionDrift]].
    */
  def ksDrift(
      base: DataFrame,
      cur: DataFrame,
      column: String,
      lo: Double,
      hi: Double,
      nBuckets: Int
  ): DataFrame =
    ksDriftFromHistograms(
      histogram(base, column, lo, hi, nBuckets).select(col("bucket"), col("cnt")),
      histogram(cur, column, lo, hi, nBuckets).select(col("bucket"), col("cnt")))

  /** The scalar D statistic from a [[ksDriftFromHistograms]] frame:
    * max(ks_num) / (tot_base · tot_cur) — one exact division at the very
    * end. Critical-value reading (two-sided, α=0.05):
    * D > 1.358·sqrt((n+m)/(n·m)) rejects "same distribution".
    */
  def ksStat(ks: DataFrame): Double = {
    val r = ks.agg(max("ks_num"), sum("n_base"), sum("n_cur")).head()
    val num = r.getDecimal(0)
    if (num == null) 0.0
    else num.doubleValue() / (r.getLong(1).toDouble * r.getLong(2).toDouble)
  }

  /** Binned two-sample Cramér–von Mises drift, INTEGER-EXACT — the
    * INTEGRATED CDF gap beside [[ksDriftFromHistograms]]'s MAX gap: KS
    * sees the single worst crossing and is blind to a distribution that
    * is slightly off EVERYWHERE; CvM weights every bucket boundary by
    * its combined mass,
    *
    *   T = Σ_b (n_b+m_b)·(F_base(b) − F_cur(b))² · B·C/N²
    *     = Σ_b (n_b+m_b)·gap_b² / (N²·B·C),
    *   gap_b = cum_base·C − cum_cur·B
    *
    * Per bucket this emits the EXACT DECIMAL cross-multiplied gap
    * `gap_num = cum_base·C − cum_cur·B` plus `cell_tot = n_b+m_b` (the
    * ksDrift/chiSquareDrift discipline: no division, no floats in the
    * gated frame; the SQUARE is deliberately NOT materialized — gap² at
    * 100 TB counts overflows even DECIMAL(38,0), the chi_num lesson
    * inverted). [[cvmStat]] folds the frame to T driver-side with the
    * per-bucket square-and-divide in double and a bucket-order sum —
    * deterministic, bucket-cardinality work (the chiSquareStat shape).
    * Same inputs as the KS fold — two (bucket, cnt) histograms,
    * mergeable via [[mergeBucketCounts]], so the standing drift store
    * answers both statistics from one state. Binned T lower-bounds the
    * unbinned statistic with bucket-width resolution.
    */
  def cvmFromHistograms(baseHist: DataFrame, curHist: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val hb = baseHist.select(col("bucket"), col("cnt").as("n_base"))
    val hc = curHist.select(col("bucket"), col("cnt").as("n_cur"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // ≤ nBuckets+2-row frame — the ksDriftFromHistograms reading
    val upto = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hb.join(hc, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_base", "n_cur"))
      .withColumn("cum_base", sum("n_base").over(upto))
      .withColumn("cum_cur", sum("n_cur").over(upto))
      .withColumn("gap_num",
        col("cum_base").cast(dec) * sum("n_cur").over(all).cast(dec) -
          col("cum_cur").cast(dec) * sum("n_base").over(all).cast(dec))
      .withColumn("cell_tot", col("n_base") + col("n_cur"))
      .select("bucket", "n_base", "n_cur", "cum_base", "cum_cur",
        "gap_num", "cell_tot")
  }

  /** [[cvmFromHistograms]] over raw snapshots, same equi-width binning
    * as [[ksDrift]]. */
  def cvmDrift(
      base: DataFrame,
      cur: DataFrame,
      column: String,
      lo: Double,
      hi: Double,
      nBuckets: Int
  ): DataFrame =
    cvmFromHistograms(
      histogram(base, column, lo, hi, nBuckets).select(col("bucket"), col("cnt")),
      histogram(cur, column, lo, hi, nBuckets).select(col("bucket"), col("cnt")))

  /** The scalar T from a [[cvmFromHistograms]] frame: per bucket
    * cell_tot·(gap_num/(B·C))², summed in bucket order driver-side
    * (deterministic — the [[chiSquareStat]] fold), scaled by B·C/N².
    * Large-sample reading (two-sided, α = 0.05): T > 0.461 rejects
    * "same distribution" (Anderson 1962's limiting ω² table).
    */
  def cvmStat(cvm: DataFrame): Double = {
    val rows = cvm.select("bucket", "gap_num", "cell_tot", "n_base", "n_cur")
      .collect().sortBy(_.getLong(0))
    if (rows.isEmpty) return 0.0
    val b = rows.map(_.getLong(3)).sum.toDouble
    val c = rows.map(_.getLong(4)).sum.toDouble
    if (b == 0d || c == 0d) return 0.0
    val n = b + c
    var acc = 0.0
    for (r <- rows) {
      val gapFrac = r.getDecimal(1).doubleValue() / (b * c)
      acc += r.getLong(2).toDouble * gapFrac * gapFrac
    }
    acc * b * c / (n * n)
  }

  /** Binned two-sample Anderson–Darling drift (Pettitt 1976; the
    * tie-adjusted k-sample form of Scholz & Stephens 1987 eq. 6 at
    * k = 2) — the TAIL-WEIGHTED member of the EDF-test family the
    * standing histogram store already answers: KS sees the single worst
    * CDF crossing, CvM integrates every gap by combined mass, and AD
    * re-weights each gap by 1/(B_j(N−B_j)) so divergence in the TAILS
    * (where B_j(N−B_j) is small — exactly where contamination and
    * truncation bugs live) counts hardest. On binned data (ties at
    * bucket boundaries) the two samples' terms collapse onto the SAME
    * cross-multiplied gap [[cvmFromHistograms]] materializes —
    * N·M_base,j − B·B_j = cum_base·C − cum_cur·B = gap_num and the cur
    * term is its negation — so (eq. 6's per-sample 1/n_i weights sum to
    * N/(B·C) and its per-value weight is l_j/N; the Ns cancel)
    *
    *   A² = (N/(B·C)) · Σ_{j: B_j<N} (l_j/N) · gap_num²/(B_j(N−B_j))
    *      = Σ_j l_j · gapFrac_j² · B·C/(B_j(N−B_j)),  gapFrac = gap_num/(B·C)
    *
    * (l_j = cell_tot, B_j = cum_base+cum_cur; the trailing B_j = N
    * block contributes nothing and is excluded per Scholz–Stephens).
    * INPUT IS a [[cvmFromHistograms]] frame — one more statistic from
    * the same mergeable (bucket, cnt) state, zero new state. Reading
    * (two-sided, α = 0.05): A² > 2.492 rejects "same distribution"
    * (Pettitt 1976's asymptotic table — binned A² lower-bounds the
    * unbinned statistic with bucket-width resolution).
    *
    * Determinism: every per-bucket term is a fixed dag over exact
    * integers (counts, cums, the DECIMAL gap) landed to a nano long,
    * summed order-free in DECIMAL; A² is one final division, gated at
    * 9 decimals. NULL when either side is empty. SCALE: one window +
    * one aggregation over the ≤ nBuckets+2-row frame (the
    * [[ksDriftFromHistograms]] reading) — nothing touches row-scale
    * data beyond the histogram the store already holds.
    */
  def andersonDarling(cvm: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withTot = cvm
      .withColumn("__b", sum("n_base").over(all))
      .withColumn("__c", sum("n_cur").over(all))
    val bD = col("__b").cast("double"); val cD = col("__c").cast("double")
    val nD = bD + cD
    val bj = (col("cum_base") + col("cum_cur")).cast("double")
    val gapFrac = col("gap_num").cast("double") / (bD * cD)
    // the empty-side guard must sit IN the term (ANSI: gapFrac's B·C
    // divisor errors, it doesn't NaN) — a2 is NULLed below anyway
    val t9 = when(col("__b") === 0L || col("__c") === 0L ||
        col("cell_tot") === 0L ||
        col("cum_base") + col("cum_cur") === col("__b") + col("__c"), 0L)
      .otherwise(round(col("cell_tot").cast("double") * gapFrac * gapFrac *
        bD * cD / (bj * (nD - bj)) * 1e9d).cast("long"))
    withTot
      .withColumn("__t9", t9)
      .agg(
        max("__b").as("n_base"), max("__c").as("n_cur"),
        sum(when(col("cell_tot") > 0L, 1L).otherwise(0L)).as("n_bins"),
        sum(col("__t9").cast(dec)).as("__a29"))
      .withColumn("a2",
        when(col("n_base") > 0L && col("n_cur") > 0L,
          col("__a29").cast("double") / 1e9d))
      .select(col("n_base"), col("n_cur"), col("n_bins"), col("a2"))
  }

  /** The EDF drift card — the composed read of the histogram store:
    * from ONE [[cvmFromHistograms]] gap frame, all three EDF statistics
    * AND their decisions in one row — KS (the worst CDF crossing,
    * max|gap_num|/(B·C), critical value 1.358·√((B+C)/(B·C)) at
    * α = 0.05 — Smirnov's two-sample table), Cramér–von Mises T
    * (every gap integrated by combined mass: Σl·gapFrac² · B·C/N²,
    * 0.461 — Anderson 1962), and Anderson–Darling A² (tail-weighted,
    * via [[andersonDarling]], 2.492 — Pettitt 1976). One state, three
    * lenses, three verdicts: the drift page a monitoring dashboard
    * renders per column per fold version. Every reject is a
    * nano-integer comparison (never a float equality at a threshold);
    * the CvM sum rides the same per-bucket nano landing as the AD term
    * (order-free DECIMAL). NULL statistics when either side is empty.
    * SCALE: the gap frame is MATERIALIZED ONCE as a local relation
    * (≤ nBuckets+2 rows — the histogram-store bound, the house
    * bounded-driver-fold idiom), so the stats and AD branches fan out
    * from it and whatever row-scale chain produced the histogram
    * executes exactly once — the one-read claim holds in the physical
    * plan (plan-shape-locked: zero row-scale scans in the card read),
    * not just the API. Then two aggregations + one 1×1 join over the
    * bounded frame.
    *
    * EAGER-EXECUTION CONTRACT: the localization above runs the ENTIRE
    * upstream chain (the row-scale histogram pass included) AT
    * CONSTRUCTION TIME, not at the returned frame's first action —
    * calling this twice on the same `cvm` runs that chain twice (cache
    * the collected gap frame, or the returned card, if you re-read),
    * and it cannot be composed lazily over inputs that do not exist
    * yet (e.g. inside a streaming foreachBatch plan built ahead of
    * data — construct the card INSIDE the batch function instead).
    */
  def edfDriftCard(cvm: DataFrame): DataFrame = {
    val spark = cvm.sparkSession
    import scala.jdk.CollectionConverters._
    val local = spark.createDataFrame(cvm.collect().toSeq.asJava, cvm.schema)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withTot = local
      .withColumn("__b", sum("n_base").over(all))
      .withColumn("__c", sum("n_cur").over(all))
    val bD = col("__b").cast("double"); val cD = col("__c").cast("double")
    val nD = bD + cD
    val gapFrac = col("gap_num").cast("double") / (bD * cD)
    val cvm9 = when(col("__b") === 0L || col("__c") === 0L ||
        col("cell_tot") === 0L, 0L)
      .otherwise(round(col("cell_tot").cast("double") * gapFrac * gapFrac * 1e9d)
        .cast("long"))
    val stats = withTot
      .withColumn("__cvm9", cvm9)
      .agg(
        max("__b").as("n_base"), max("__c").as("n_cur"),
        sum(when(col("cell_tot") > 0L, 1L).otherwise(0L)).as("n_bins"),
        max(abs(col("gap_num")).cast(dec)).as("__ksnum"),
        sum(col("__cvm9").cast(dec)).as("__cvm9s"))
    val b2 = col("n_base").cast("double"); val c2 = col("n_cur").cast("double")
    val n2 = b2 + c2
    val live = col("n_base") > 0L && col("n_cur") > 0L
    val ks = col("__ksnum").cast("double") / (b2 * c2)
    val ksCrit = lit(1.358d) * sqrt((b2 + c2) / (b2 * c2))
    val cvmT = col("__cvm9s").cast("double") / 1e9d * b2 * c2 / (n2 * n2)
    val withKs = stats
      .withColumn("ks", when(live, ks))
      .withColumn("ks_crit", when(live, ksCrit))
      .withColumn("ks_reject", when(live,
        round(ks * 1e9d).cast("long") >= round(ksCrit * 1e9d).cast("long")))
      .withColumn("cvm_t", when(live, cvmT))
      .withColumn("cvm_reject", when(live,
        round(cvmT * 1e9d).cast("long") >= lit(461000000L)))
    val ad = andersonDarling(local).select(col("a2"))
    withKs.crossJoin(broadcast(ad))
      .withColumn("ad_reject", when(col("a2").isNotNull,
        round(col("a2") * 1e9d).cast("long") >= lit(2492000000L)))
      .select(col("n_base"), col("n_cur"), col("n_bins"),
        col("ks"), col("ks_crit"), col("ks_reject"),
        col("cvm_t"), col("cvm_reject"),
        col("a2"), col("ad_reject"))
  }

  /** Chapman capture–recapture estimate (Chapman 1951; the
    * bias-corrected Lincoln–Petersen): how many duplicates (or any
    * defect) exist IN TOTAL — including the ones every detector missed
    * — from two INDEPENDENT detectors' catches on the same corpus: with
    * n_a caught by A, n_b by B and m by both,
    *
    *   N̂ = (n_a+1)(n_b+1)/(m+1) − 1
    *   var̂ = (n_a+1)(n_b+1)(n_a−m)(n_b−m) / ((m+1)²(m+2))
    *
    * The pipeline read: run MinHash and SimHash dup detection on the
    * same sample; the overlap calibrates the residual-duplicate rate
    * the union still misses (missed_hat = N̂ − n_either — the number
    * that actually prices a third pass). ASSUMPTION (stated, it is the
    * method's): detectors independent with homogeneous catchability —
    * two near-identical detectors violate it and N̂ collapses toward
    * the union. Determinism: the four counts are exact longs from ONE
    * counting aggregation; N̂ and var̂ are single divisions of exact
    * DECIMAL products (Chapman's +1s keep every denominator positive —
    * no m = 0 special case), gated at 9dp. One row per key set.
    */
  def chapmanEstimate(
      df: DataFrame,
      keyCols: Seq[String],
      flagACol: String,
      flagBCol: String
  ): DataFrame = {
    val dec = "decimal(38,0)"
    val g = keyCols.map(col)
    val a = col(flagACol).cast("boolean"); val b = col(flagBCol).cast("boolean")
    def grouped(d: DataFrame) =
      if (keyCols.isEmpty) d.groupBy() else d.groupBy(g: _*)
    val counts = grouped(df.filter(a.isNotNull && b.isNotNull))
      .agg(
        coalesce(sum(when(a, 1L).otherwise(0L)), lit(0L)).as("n_a"),
        coalesce(sum(when(b, 1L).otherwise(0L)), lit(0L)).as("n_b"),
        coalesce(sum(when(a && b, 1L).otherwise(0L)), lit(0L)).as("n_both"),
        coalesce(sum(when(a || b, 1L).otherwise(0L)), lit(0L)).as("n_either"))
    val na1 = (col("n_a") + 1L).cast(dec); val nb1 = (col("n_b") + 1L).cast(dec)
    val m1 = (col("n_both") + 1L).cast(dec)
    val nHat = (na1 * nb1).cast("double") / m1.cast("double") - lit(1d)
    val varNum = na1 * nb1 * (col("n_a") - col("n_both")).cast(dec) *
      (col("n_b") - col("n_both")).cast(dec)
    val varDen = m1 * m1 * (col("n_both") + 2L).cast(dec)
    val se = sqrt(varNum.cast("double") / varDen.cast("double"))
    counts
      .withColumn("n_hat", nHat)
      .withColumn("se_hat", se)
      .withColumn("missed_hat", nHat - col("n_either").cast("double"))
      .select(g :+ col("n_a") :+ col("n_b") :+ col("n_both") :+
        col("n_either") :+ col("n_hat") :+ col("se_hat") :+
        col("missed_hat"): _*)
  }

  /** Metric drift between two profile snapshots (e.g. yesterday's load vs
    * today's) — the monitoring half of profiling: a profile is only useful
    * when something compares it against the last one. Numeric metrics get
    * a relative delta against `relTol`; non-numeric metrics (min/max of
    * string columns) drift on inequality. Profiles are a few rows per
    * column, so this join is trivially broadcast — the expensive scans
    * already happened when the snapshots were taken.
    */
  def drift(before: DataFrame, after: DataFrame, relTol: Double = 0.05): DataFrame = {
    val a = before.select(col("column"), col("metric"), col("value").as("value_before"))
    val b = after.select(col("column"), col("metric"), col("value").as("value_after"))
    // try_cast: non-numeric metric values (string min/max) become NULL
    // instead of an ANSI cast error
    val numB = expr("try_cast(value_before AS DOUBLE)")
    val numA = expr("try_cast(value_after AS DOUBLE)")
    a.join(b, Seq("column", "metric"), "full_outer")
      .withColumn("rel_delta",
        when(numB.isNotNull && numA.isNotNull,
          abs(numA - numB) / greatest(abs(numB), lit(1e-12))))
      .withColumn("drifted",
        when(col("rel_delta").isNotNull, col("rel_delta") > relTol)
          .otherwise(!(col("value_before") <=> col("value_after"))))
      .select("column", "metric", "value_before", "value_after", "rel_delta", "drifted")
  }

  /** HLL++ profile for very wide/high-cardinality tables: no Expand, every
    * aggregate is partial-aggregatable map-side, `rsd` bounds the distinct
    * estimate error.
    */
  def profileApprox(df0: DataFrame, cols0: Seq[String], rsd: Double = 0.05): DataFrame = {
    require(cols0.nonEmpty, "cols must not be empty")
    val (df, cols) = safeNames(df0, cols0)
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      aggsFor(df, c, i, approx_count_distinct(_, rsd))
    }
    longForm(df.agg(aggs.head, aggs.tail: _*), cols0)
  }
}
