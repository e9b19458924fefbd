package graft.quality

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Local

/** The composed A/B dashboard: ONE standing per-(arm, peek) moment-cell
  * state answering the ENTIRE guardrail-to-inference chain in one read —
  * SRM traffic check ([[Association.srmFromCounts]], the q306 dag) →
  * CUPED variance-reduced effect ([[Association.cupedFromMoments]], the
  * q298 dag) → per-arm Wilson score CIs
  * ([[Association.wilsonFromCounts]], the q324 dag) → the mSPRT
  * always-valid monitor ([[SequentialTests.msprtTwoProportion]], the
  * q299 dag) — each stage the SAME gated operator the standalone queries
  * run, fed from the same cells, never a re-implementation.
  *
  * The state is the A/B analogue of the survival family's
  * lifetime-cell store: per (arm, peek) the unit count, conversion
  * count, and the exact DECIMAL moment sums Σx/Σy/Σxx/Σyy/Σxy of the
  * per-UNIT outcome y and pre-period covariate x — additively mergeable
  * ([[mergeAbCells]] is associative + commutative, fold == rebuild
  * spec-pinned), so batches fold in O(touched cells) and every
  * dashboard stage reads cardinality-bounded state (arms × peeks rows),
  * never unit-level history. The peeking problem continuous store reads
  * create is handled where it belongs: the monitor column is the
  * always-valid p, and the fixed-CI columns (CUPED, Wilson) are labeled
  * reads of the CURRENT cumulative state.
  *
  * UNIT CONTRACT: rows in [[abCells]] are one per experiment UNIT (the
  * randomization unit — user, session), each unit entirely inside one
  * peek; the fold contract is that a unit's row lands in exactly one
  * batch (the complete-unit-per-batch rule every per-unit store fold in
  * this repo shares).
  *
  * SCALE: [[abCells]] is the only row-scale pass — one counting/moment
  * aggregation, map-side combined. A reader collects the
  * (arms × peeks)-row cell frame once, bounded, and builds the spine
  * and the cumulative state on the driver ([[spine]]). The stage reads
  * and the final peek joins then run over one-partition local
  * relations, so their aggregates and windows need no exchanges.
  */
object AbDashboard {

  private val dec = DecimalType(38, 0)

  /** Per-(arm, peek) experiment moment cells from per-UNIT rows: unit
    * count n, conversion count s_hit, and exact DECIMAL sums of the
    * long-cast (the [[Association.welchT]] rule) outcome y and
    * pre-period covariate x — everything every dashboard stage needs,
    * in one aggregation. NULL arm/peek/y/x/hit rows drop (the house
    * filter rule).
    */
  def abCells(
      perUnit: DataFrame,
      armCol: String,
      peekCol: String,
      yCol: String,
      xCol: String,
      hitCol: String
  ): DataFrame = {
    val yD = col(yCol).cast("long").cast(dec)
    val xD = col(xCol).cast("long").cast(dec)
    perUnit
      .filter(col(armCol).isNotNull && col(peekCol).isNotNull &&
        col(yCol).isNotNull && col(xCol).isNotNull && col(hitCol).isNotNull)
      .groupBy(col(armCol).cast("string").as("arm"),
        col(peekCol).cast("long").as("peek"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(hitCol).cast("boolean"), 1L).otherwise(0L)).as("s_hit"),
        sum(xD).as("sx"), sum(yD).as("sy"),
        sum(xD * xD).as("sxx"), sum(yD * yD).as("syy"),
        sum(xD * yD).as("sxy"))
  }

  /** Additive merge of two [[abCells]] frames — associative and
    * commutative (exact integer/DECIMAL sums), so any batch fold order
    * rebuilds the same state.
    */
  def mergeAbCells(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("arm"), col("peek"))
      .agg(sum("n").as("n"), sum("s_hit").as("s_hit"),
        sum("sx").as("sx"), sum("sy").as("sy"),
        sum("sxx").as("sxx"), sum("syy").as("syy"), sum("sxy").as("sxy"))

  /** Materialize a bounded frame ONCE as a local relation in ONE
    * partition (arm × peek cardinality — the store bound, the house
    * bounded-driver-fold idiom): the stage reads fan out from it, so the
    * row-scale aggregation upstream executes exactly once instead of
    * once per stage branch, and the aggregates and windows of the gated
    * stage operators over it need no exchanges.
    *
    * EAGER-EXECUTION CONTRACT (inherited by every from-cells reader
    * here): ONE bounded collect ([[graft.plans.Local.rowsOrFail]], the
    * fail form: over [[graft.plans.Local.Bound]] cells it throws) runs AT
    * CONSTRUCTION TIME of the reading frame, not at its first action —
    * including any row-scale per-unit pass upstream of `cells`;
    * constructing the same read twice runs that chain twice, and the
    * read cannot be composed lazily over cells that do not exist yet
    * (inside a streaming foreachBatch, construct the read within the
    * batch function). Everything after the collect — the spines below
    * included — is built on the driver: no further construction jobs.
    */
  private[graft] def materialize(cells: DataFrame): DataFrame =
    localFrame(cells.sparkSession, Local.rowsOrFail(cells, "materialize").toSeq,
      cells.schema)

  /** Rows as a local relation laid out in one partition (`coalesce(1)`
    * adds no shuffle).
    */
  private def localFrame(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    Local.frame(spark, rows, schema).coalesce(1)

  /** The (keys × arm × peek) spine + per-series cumulative state of a
    * cell frame, built ON THE DRIVER from its one bounded collect:
    *
    *   - `full`: the per-peek increments, zero-filled over (distinct
    *     keys) × (cell arms ∪ `designedArms`) × (distinct peeks) — a
    *     designed arm is always present (a vanished arm still
    *     SRM-checks and NULLs its effect columns), every arm is carried
    *     through every peek so cumulative reads see complete series;
    *   - `cum`: the running sums per (keys, arm) in peek order — the
    *     "dashboard at peek p".
    *
    * Columns: `keys` and `arm` as strings, `peek` as long, then
    * `measures` with their declared types (LONG or DECIMAL(38,0)). Every
    * sum is exact, so no value depends on row order. The additive fold
    * shape has one row per cell: a NULL key/arm/peek or a duplicate cell
    * fails loudly, naming the cell; a NULL measure reads as zero.
    */
  private[graft] def spine(
      cells: DataFrame,
      keys: Seq[String],
      designedArms: Seq[String],
      measures: Seq[(String, DataType)]
  ): (DataFrame, DataFrame) = {
    val dims = keys :+ "arm"
    val local = cells.select(dims.map(k => col(k).cast("string").as(k)) ++
      (col("peek").cast("long").as("peek") +:
        measures.map { case (m, t) => col(m).cast(t).as(m) }): _*)
    val rows = Local.rowsOrFail(local, "spine")
    val nd = dims.size
    val zero: Seq[Any] = measures.map {
      case (_, LongType) => 0L
      case _ => java.math.BigDecimal.ZERO
    }
    val byCell = scala.collection.mutable.HashMap.empty[(Seq[String], Long), Seq[Any]]
    for (r <- rows) {
      def name = (dims :+ "peek").zip(r.toSeq.take(nd + 1))
        .map { case (k, v) => s"$k=$v" }.mkString(", ")
      require((0 to nd).forall(i => !r.isNullAt(i)), s"spine: NULL key in cell ($name)")
      val key = (dims.indices.map(r.getString), r.getLong(nd))
      require(!byCell.contains(key), s"spine: duplicate cell ($name) — the " +
        "additive fold shape requires one increment row per cell")
      byCell(key) = measures.indices.map(i =>
        if (r.isNullAt(nd + 1 + i)) zero(i) else r.get(nd + 1 + i))
    }
    val series = byCell.keys.map(_._1.init).toSeq.distinct
      .sorted(Ordering.Implicits.seqOrdering[Seq, String])
    val arms = (byCell.keys.map(_._1.last) ++ designedArms).toSeq.distinct.sorted
    val peeks = byCell.keys.map(_._2).toSeq.distinct.sorted
    def add(a: Any, b: Any): Any = (a, b) match {
      case (x: Long, y: Long) => Math.addExact(x, y)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
    }
    val fullRows = Seq.newBuilder[Row]
    val cumRows = Seq.newBuilder[Row]
    for (s <- series; a <- arms) {
      var acc = zero
      for (p <- peeks) {
        val v = byCell.getOrElse((s :+ a, p), zero)
        acc = acc.zip(v).map { case (x, y) => add(x, y) }
        fullRows += Row.fromSeq((s :+ a) ++ (p +: v))
        cumRows += Row.fromSeq((s :+ a) ++ (p +: acc))
      }
    }
    val schema = StructType(dims.map(StructField(_, StringType)) ++
      (StructField("peek", LongType) +:
        measures.map { case (m, t) => StructField(m, t, nullable = false) }))
    val spark = cells.sparkSession
    (localFrame(spark, fullRows.result(), schema),
      localFrame(spark, cumRows.result(), schema))
  }

  /** The [[abCells]] measures. */
  private val abMeasures: Seq[(String, DataType)] =
    Seq("n" -> LongType, "s_hit" -> LongType) ++
      Seq("sx", "sy", "sxx", "syy", "sxy").map(_ -> dec)

  /** The one dashboard read: per peek (cumulative state up to and
    * including it), every stage of the A/B chain —
    *
    *   - `n_lo/s_lo/n_hi/s_hi`: cumulative units/conversions per
    *     designed arm (lo/hi = min/max arm label, the house orientation)
    *   - `n_unexpected`, `srm_chi2`: the q306 traffic guardrail on the
    *     cumulative counts — designed arms against `weights`, off-design
    *     traffic surfaced, χ² vs the k−1 = 1 table (α = 0.001 → 10.828)
    *   - `theta/rho2/effect_raw/effect_cuped/se_cuped/cuped_ci_lo/
    *     cuped_ci_hi`: the q298 CUPED read on the cumulative moments —
    *     the FIXED-HORIZON effect CI a dashboard shows beside the monitor
    *   - `p_lo/wilson_lo_lo/wilson_lo_hi` (and `_hi_` twins): the q324
    *     per-arm conversion CIs on the cumulative counts
    *   - `delta/ln_lr9/p_always_valid/reject`: the q299 mSPRT monitor on
    *     the per-peek INCREMENTS — the column that stays valid under
    *     continuous peeking at every fold version
    *
    * `weights` names EXACTLY TWO designed arms (the two-arm dashboard;
    * k-arm designs read [[Association.srmFromCounts]] directly). Arms in
    * the cells but not the design feed `n_unexpected` only. Peeks where
    * an arm has no cells yet contribute zero rows via the (arm × peek)
    * spine — a missing cell reads exactly like an all-zero one, and
    * stages NULL their statistics there per their own guards rather
    * than crash. Cells are one row per (arm, peek): a duplicate or a
    * NULL arm/peek fails at construction ([[spine]]). Determinism:
    * every stage is the gated operator's own fixed dag over exact
    * cumulative counts/moments; outputs gate at 9dp in the query layer.
    * One row per peek, peek-ordered reads.
    */
  def abDashboardFromCells(
      cells: DataFrame,
      weights: Seq[(String, Double)],
      tau2: Double,
      alpha: Double = 0.05d
  ): DataFrame = {
    require(weights.size == 2, s"the two-arm dashboard needs exactly 2 designed arms: $weights")
    val lo = weights.map(_._1).min
    val hi = weights.map(_._1).max
    val (full, cum) = spine(cells, Nil, weights.map(_._1), abMeasures)
    val designed = col("arm") === lo || col("arm") === hi
    // stage 1 — SRM on the cumulative counts (all arms: off-design
    // traffic is the q306 n_unexpected read)
    val srm = Association.srmFromCounts(
      cum.select(col("peek"), col("arm").as("grp"), col("n").as("__n")),
      Seq("peek"), weights)
      .select(col("peek"), col("n_unexpected"), col("chi2").as("srm_chi2"))
    // stage 2 — CUPED on the cumulative designed-arm moments
    val cup = Association.cupedFromMoments(
      cum.filter(designed).select(col("peek"), col("arm").as("grp"),
        col("n").as("__n"), col("sx").as("__sx"), col("sy").as("__sy"),
        col("sxx").as("__sxx"), col("syy").as("__syy"), col("sxy").as("__sxy")),
      Seq("peek"))
      .select(col("peek"), col("theta"), col("rho2"), col("effect_raw"),
        col("effect_cuped"), col("se_cuped"),
        col("ci_lo").as("cuped_ci_lo"), col("ci_hi").as("cuped_ci_hi"))
    // stage 3 — per-arm Wilson CIs on the cumulative conversion counts
    val wil = Association.wilsonFromCounts(
      cum.filter(designed).select(col("peek"), col("arm").as("grp"),
        col("n"), col("s_hit").as("n_pass")),
      Seq("peek"))
    val wilW = wil.groupBy(col("peek")).agg(
      max(when(col("grp") === lo, col("p_hat"))).as("p_lo"),
      max(when(col("grp") === lo, col("ci_lo"))).as("wilson_lo_lo"),
      max(when(col("grp") === lo, col("ci_hi"))).as("wilson_lo_hi"),
      max(when(col("grp") === hi, col("p_hat"))).as("p_hi"),
      max(when(col("grp") === hi, col("ci_lo"))).as("wilson_hi_lo"),
      max(when(col("grp") === hi, col("ci_hi"))).as("wilson_hi_hi"))
    // stage 4 — the always-valid monitor on the per-peek INCREMENTS
    // (the exact fold shape the store emits per version)
    val incr = full.filter(designed).groupBy(col("peek")).agg(
      sum(when(col("arm") === lo, col("n")).otherwise(0L)).as("bn1"),
      sum(when(col("arm") === lo, col("s_hit")).otherwise(0L)).as("bs1"),
      sum(when(col("arm") === hi, col("n")).otherwise(0L)).as("bn2"),
      sum(when(col("arm") === hi, col("s_hit")).otherwise(0L)).as("bs2"))
    val mon = SequentialTests.msprtTwoProportion(incr, Nil, "peek",
      "bn1", "bs1", "bn2", "bs2", tau2, alpha)
    // one row per peek: joins over the peek-cardinality frames only
    mon
      .join(srm, Seq("peek"))
      .join(cup, Seq("peek"))
      .join(wilW, Seq("peek"))
      .select(col("peek"), col("n_lo"), col("s_lo"), col("n_hi"), col("s_hi"),
        col("n_unexpected"), col("srm_chi2"),
        col("theta"), col("rho2"), col("effect_raw"), col("effect_cuped"),
        col("se_cuped"), col("cuped_ci_lo"), col("cuped_ci_hi"),
        col("p_lo"), col("wilson_lo_lo"), col("wilson_lo_hi"),
        col("p_hi"), col("wilson_hi_lo"), col("wilson_hi_hi"),
        col("delta"), col("ln_lr9"), col("p_always_valid"), col("reject"))
  }

  /** The K-ARM dashboard read — [[abDashboardFromCells]] generalized to
    * the shape real experiment platforms run (3–10 arms, one control):
    * per peek and per TREATMENT arm, every stage of the chain from the
    * SAME (arm × peek) cell state —
    *
    *   - k-arm SRM ([[Association.srmFromCounts]] IS k-arm): one χ²
    *     against all `weights` on the cumulative counts, off-design
    *     traffic in `n_unexpected` — repeated onto each comparison row
    *     of its peek
    *   - per-comparison CUPED ([[Association.cupedFromMoments]] keyed
    *     by (cmp, peek) over the {control, treatment} cumulative
    *     moments): theta/rho2/effect/se/CI per treatment-vs-control,
    *     oriented the operator's own lo − hi (min/max label — the house
    *     welchT sign), with `grp_lo`/`grp_hi` on the row so the
    *     orientation is explicit
    *   - per-arm Wilson CIs ([[Association.wilsonFromCounts]]): the
    *     row's treatment arm beside the control arm
    *   - per-comparison mSPRT monitor
    *     ([[SequentialTests.msprtTwoProportion]] keyed by cmp) on the
    *     per-peek increments, arm 1 = the comparison's lo label
    *   - MULTIPLICITY across the k−1 comparisons
    *     ([[MultipleTesting.benjaminiHochberg]], battery = peek): the
    *     k−1 always-valid monitor p-values land on the nano grid
    *     (p9 = round(p·10⁹) — exact thereafter) and the BH step-up
    *     runs per peek with `cmp` as the deterministic tie-break;
    *     `reject_fdr` is the column a k-arm scorecard pages on, `bh_*`
    *     the audit trail. FDR is the right battery guarantee here
    *     (Holm/BY stand beside it in [[MultipleTesting]] for FWER /
    *     arbitrary-dependence batteries).
    *
    * `control` must be one of the `weights` arms; the k = 2 read
    * reproduces [[abDashboardFromCells]]'s values column-for-column
    * (spec-pinned). Same unit/fold/scale contract as the two-arm
    * dashboard: ONE row-scale pass upstream, every stage here on the
    * (arms × peeks)-bounded local cell frame. One row per
    * (peek, treatment arm), peek-then-arm ordered reads.
    */
  /** The shared k-arm stages (SRM / Wilson / mSPRT+BH) over the spined
    * cumulative/increment frames — both k-arm dashboards compose these
    * with their own CUPED stage. Returns (srm, wilArm, wilCtl, adj).
    */
  private def karmStages(
      full: DataFrame,
      cum: DataFrame,
      weights: Seq[(String, Double)],
      control: String,
      cmps: DataFrame,
      tau2: Double,
      alpha: Double,
      fdrNum: Int,
      fdrDen: Int
  ): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val designedArms = weights.map(_._1)
    val designed = col("arm").isin(designedArms: _*)
    val inCmp = col("arm") === col("cmp") || col("arm") === lit(control)
    // stage 1 — ONE k-arm SRM on the cumulative counts (all arms:
    // off-design traffic is the q306 n_unexpected read)
    val srm = Association.srmFromCounts(
      cum.select(col("peek"), col("arm").as("grp"), col("n").as("__n")),
      Seq("peek"), weights)
      .select(col("peek"), col("n_arms"), col("n_unexpected"),
        col("chi2").as("srm_chi2"))
    // stage 3 — per-arm Wilson CIs once over the designed arms, then the
    // row's treatment beside the control
    val wil = Association.wilsonFromCounts(
      cum.filter(designed).select(col("peek"), col("arm").as("grp"),
        col("n"), col("s_hit").as("n_pass")),
      Seq("peek"))
    val wilArm = wil.select(col("peek"), col("grp").as("cmp"),
      col("p_hat").as("p_arm"),
      col("ci_lo").as("wilson_arm_lo"), col("ci_hi").as("wilson_arm_hi"))
    val wilCtl = wil.filter(col("grp") === control)
      .select(col("peek"), col("p_hat").as("p_ctl"),
        col("ci_lo").as("wilson_ctl_lo"), col("ci_hi").as("wilson_ctl_hi"))
    // stage 4 — the always-valid monitor per comparison on the per-peek
    // INCREMENTS (arm 1 = the comparison's lo label, so delta carries
    // the same lo − hi orientation as the CUPED effect)
    val loArm = least(lit(control), col("cmp"))
    val hiArm = greatest(lit(control), col("cmp"))
    val incr = full.crossJoin(cmps).filter(inCmp)
      .groupBy(col("cmp"), col("peek")).agg(
        sum(when(col("arm") === loArm, col("n")).otherwise(0L)).as("bn1"),
        sum(when(col("arm") === loArm, col("s_hit")).otherwise(0L)).as("bs1"),
        sum(when(col("arm") === hiArm, col("n")).otherwise(0L)).as("bn2"),
        sum(when(col("arm") === hiArm, col("s_hit")).otherwise(0L)).as("bs2"))
    val mon = SequentialTests.msprtTwoProportion(incr, Seq("cmp"), "peek",
      "bn1", "bs1", "bn2", "bs2", tau2, alpha)
    // stage 5 — BH across the k−1 monitor p-values per peek: the
    // always-valid p lands on the nano grid and the step-up is the
    // exact-integer q320 dag (battery = peek, tie-break = cmp)
    val adj = MultipleTesting.benjaminiHochberg(
      mon.withColumn("p9", round(col("p_always_valid") * 1e9d).cast("long")),
      Seq("peek"), Seq("cmp"), "p9", fdrNum, fdrDen)
      .select(col("cmp"), col("peek"), col("n_lo"), col("s_lo"),
        col("n_hi"), col("s_hi"), col("delta"), col("ln_lr9"),
        col("p_always_valid"), col("reject"), col("p9"),
        col("rank").cast("long").as("bh_rank"), col("m").as("bh_m"),
        col("rejected").as("reject_fdr"))
    (srm, wilArm, wilCtl, adj)
  }

  def abDashboardKArmFromCells(
      cells: DataFrame,
      weights: Seq[(String, Double)],
      control: String,
      tau2: Double,
      alpha: Double = 0.05d,
      fdrNum: Int = 5,
      fdrDen: Int = 100
  ): DataFrame = {
    require(weights.size >= 2, s"need >= 2 designed arms: $weights")
    require(weights.exists(_._1 == control),
      s"control '$control' must be a designed arm: $weights")
    val treatments = weights.map(_._1).filterNot(_ == control).sorted
    val spark = cells.sparkSession
    import spark.implicits._
    val (full, cum) = spine(cells, Nil, weights.map(_._1), abMeasures)
    // the comparison spine: each treatment arm paired with the control
    // (a tiny broadcast map over the bounded cell frame)
    val cmps = broadcast(treatments.toDF("cmp"))
    val inCmp = col("arm") === col("cmp") || col("arm") === lit(control)
    val (srm, wilArm, wilCtl, adj) = karmStages(full, cum, weights, control,
      cmps, tau2, alpha, fdrNum, fdrDen)
    // stage 2 — CUPED per (cmp, peek) on the {control, treatment}
    // cumulative moments; the operator orients lo − hi by label itself
    val cup = Association.cupedFromMoments(
      cum.crossJoin(cmps).filter(inCmp)
        .select(col("cmp"), col("peek"), col("arm").as("grp"),
          col("n").as("__n"), col("sx").as("__sx"), col("sy").as("__sy"),
          col("sxx").as("__sxx"), col("syy").as("__syy"), col("sxy").as("__sxy")),
      Seq("cmp", "peek"))
      .select(col("cmp"), col("peek"), col("grp_lo"), col("grp_hi"),
        col("theta"), col("rho2"), col("effect_raw"), col("effect_cuped"),
        col("se_cuped"),
        col("ci_lo").as("cuped_ci_lo"), col("ci_hi").as("cuped_ci_hi"))
    // one row per (peek, treatment): joins over (k−1)·peek-bounded frames
    adj
      .join(srm, Seq("peek"))
      .join(cup, Seq("cmp", "peek"))
      .join(wilArm, Seq("cmp", "peek"))
      .join(wilCtl, Seq("peek"))
      .select(col("peek"), col("cmp").as("arm"), col("grp_lo"), col("grp_hi"),
        col("n_arms"), col("n_unexpected"), col("srm_chi2"),
        col("n_lo"), col("s_lo"), col("n_hi"), col("s_hi"),
        col("theta"), col("rho2"), col("effect_raw"), col("effect_cuped"),
        col("se_cuped"), col("cuped_ci_lo"), col("cuped_ci_hi"),
        col("p_ctl"), col("wilson_ctl_lo"), col("wilson_ctl_hi"),
        col("p_arm"), col("wilson_arm_lo"), col("wilson_arm_hi"),
        col("delta"), col("ln_lr9"), col("p_always_valid"), col("reject"),
        col("p9"), col("bh_rank"), col("bh_m"), col("reject_fdr"))
  }

  /** Per-(arm, peek) TWO-COVARIATE experiment moment cells — [[abCells]]
    * extended with the second pre-period covariate's cross-products,
    * exactly the [[Association.cupedMulti2FromMoments]] moment shape
    * plus the conversion count: n, s_hit, Σy, Σy², Σx₁, Σx₂, Σx₁²,
    * Σx₂², Σx₁x₂, Σx₁y, Σx₂y (exact DECIMAL). Same unit/fold contract
    * as [[abCells]]; additively mergeable ([[mergeAbCells2]]).
    */
  def abCells2(
      perUnit: DataFrame,
      armCol: String,
      peekCol: String,
      yCol: String,
      x1Col: String,
      x2Col: String,
      hitCol: String
  ): DataFrame = {
    val yD = col(yCol).cast("long").cast(dec)
    val x1D = col(x1Col).cast("long").cast(dec)
    val x2D = col(x2Col).cast("long").cast(dec)
    perUnit
      .filter(col(armCol).isNotNull && col(peekCol).isNotNull &&
        col(yCol).isNotNull && col(x1Col).isNotNull &&
        col(x2Col).isNotNull && col(hitCol).isNotNull)
      .groupBy(col(armCol).cast("string").as("arm"),
        col(peekCol).cast("long").as("peek"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(hitCol).cast("boolean"), 1L).otherwise(0L)).as("s_hit"),
        sum(yD).as("sy"), sum(yD * yD).as("syy"),
        sum(x1D).as("sx1"), sum(x2D).as("sx2"),
        sum(x1D * x1D).as("sx1x1"), sum(x2D * x2D).as("sx2x2"),
        sum(x1D * x2D).as("sx1x2"),
        sum(x1D * yD).as("sx1y"), sum(x2D * yD).as("sx2y"))
  }

  /** Additive merge of two [[abCells2]] frames — fold == rebuild under
    * any batch order (exact integer/DECIMAL sums, spec-pinned).
    */
  def mergeAbCells2(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("arm"), col("peek"))
      .agg(sum("n").as("n"), sum("s_hit").as("s_hit"),
        sum("sy").as("sy"), sum("syy").as("syy"),
        sum("sx1").as("sx1"), sum("sx2").as("sx2"),
        sum("sx1x1").as("sx1x1"), sum("sx2x2").as("sx2x2"),
        sum("sx1x2").as("sx1x2"),
        sum("sx1y").as("sx1y"), sum("sx2y").as("sx2y"))

  private val moment2Cols = Seq("sy", "syy", "sx1", "sx2", "sx1x1",
    "sx2x2", "sx1x2", "sx1y", "sx2y")

  /** The [[abCells2]] measures. */
  private val ab2Measures: Seq[(String, DataType)] =
    Seq("n" -> LongType, "s_hit" -> LongType) ++ moment2Cols.map(_ -> dec)

  /** [[abDashboardKArmFromCells]] with the TWO-COVARIATE variance
    * reduction: the identical SRM → Wilson → mSPRT → BH chain from the
    * same stages, with stage 2 =
    * [[Association.cupedMulti2FromMoments]] per (cmp, peek) — the
    * θ₁/θ₂ normal-equations adjustment over the cumulative
    * two-covariate moments. Output shape matches the one-covariate
    * dashboard with (theta1, theta2) in place of theta. Same unit,
    * fold, eager-execution, and scale contracts.
    */
  def abDashboardKArm2FromCells(
      cells: DataFrame,
      weights: Seq[(String, Double)],
      control: String,
      tau2: Double,
      alpha: Double = 0.05d,
      fdrNum: Int = 5,
      fdrDen: Int = 100
  ): DataFrame = {
    require(weights.size >= 2, s"need >= 2 designed arms: $weights")
    require(weights.exists(_._1 == control),
      s"control '$control' must be a designed arm: $weights")
    val treatments = weights.map(_._1).filterNot(_ == control).sorted
    val spark = cells.sparkSession
    import spark.implicits._
    val (full, cum) = spine(cells, Nil, weights.map(_._1), ab2Measures)
    val cmps = broadcast(treatments.toDF("cmp"))
    val inCmp = col("arm") === col("cmp") || col("arm") === lit(control)
    val (srm, wilArm, wilCtl, adj) = karmStages(full, cum, weights, control,
      cmps, tau2, alpha, fdrNum, fdrDen)
    // stage 2 — vector CUPED per (cmp, peek) on the {control, treatment}
    // cumulative two-covariate moments
    val cup = Association.cupedMulti2FromMoments(
      cum.crossJoin(cmps).filter(inCmp)
        .select(Seq(col("cmp"), col("peek"), col("arm").as("grp"),
          col("n").as("__n")) ++
          moment2Cols.map(m => col(m).as(s"__$m")): _*),
      Seq("cmp", "peek"))
      .select(col("cmp"), col("peek"), col("grp_lo"), col("grp_hi"),
        col("theta1"), col("theta2"), col("rho2"), col("effect_raw"),
        col("effect_cuped"), col("se_cuped"),
        col("ci_lo").as("cuped_ci_lo"), col("ci_hi").as("cuped_ci_hi"))
    adj
      .join(srm, Seq("peek"))
      .join(cup, Seq("cmp", "peek"))
      .join(wilArm, Seq("cmp", "peek"))
      .join(wilCtl, Seq("peek"))
      .select(col("peek"), col("cmp").as("arm"), col("grp_lo"), col("grp_hi"),
        col("n_arms"), col("n_unexpected"), col("srm_chi2"),
        col("n_lo"), col("s_lo"), col("n_hi"), col("s_hi"),
        col("theta1"), col("theta2"), col("rho2"), col("effect_raw"),
        col("effect_cuped"),
        col("se_cuped"), col("cuped_ci_lo"), col("cuped_ci_hi"),
        col("p_ctl"), col("wilson_ctl_lo"), col("wilson_ctl_hi"),
        col("p_arm"), col("wilson_arm_lo"), col("wilson_arm_hi"),
        col("delta"), col("ln_lr9"), col("p_always_valid"), col("reject"),
        col("p9"), col("bh_rank"), col("bh_m"), col("reject_fdr"))
  }

  /** Per-(metric, arm, peek) conversion cells from per-UNIT rows carrying
    * ONE BOOLEAN COLUMN PER GUARDRAIL METRIC — the multi-metric
    * scorecard's standing state. The aggregation is ONE row-scale pass
    * (M conditional sums, map-side combined); the metric dimension is
    * unpivoted AFTERWARDS on the (arm × peek)-bounded frame, so M never
    * multiplies the row-scale work. Rows with a NULL arm/peek/metric
    * flag drop whole (the house complete-unit rule: a unit reports every
    * metric or none). `n` repeats per metric by construction — the
    * denominator every monitor shares. Additively mergeable
    * ([[mergeScorecardCells]]), same fold contract as [[abCells]].
    */
  def scorecardCells(
      perUnit: DataFrame,
      armCol: String,
      peekCol: String,
      metricCols: Seq[String]
  ): DataFrame = {
    require(metricCols.nonEmpty, "need at least one metric column")
    require(metricCols.distinct.size == metricCols.size,
      s"duplicate metric columns: $metricCols")
    val live = perUnit.filter(
      (col(armCol).isNotNull && col(peekCol).isNotNull) &&
        metricCols.map(col(_).isNotNull).reduce(_ && _))
    val sums = metricCols.map(m =>
      sum(when(col(m).cast("boolean"), 1L).otherwise(0L)).as(s"__s_$m"))
    val wide = live
      .groupBy(col(armCol).cast("string").as("arm"),
        col(peekCol).cast("long").as("peek"))
      .agg(count(lit(1)).as("__n"), sums: _*)
    wide.select(col("arm"), col("peek"), col("__n"),
        explode(array(metricCols.map(m =>
          struct(lit(m).as("metric"), col(s"__s_$m").as("s_hit"))): _*)).as("__m"))
      .select(col("__m.metric").as("metric"), col("arm"), col("peek"),
        col("__n").as("n"), col("__m.s_hit").as("s_hit"))
  }

  /** Additive merge of two [[scorecardCells]] frames — fold == rebuild
    * under any batch order (exact integer sums).
    */
  def mergeScorecardCells(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("metric"), col("arm"), col("peek"))
      .agg(sum("n").as("n"), sum("s_hit").as("s_hit"))

  /** The multi-metric SCORECARD read — the other half of the
    * multiplicity story beside [[abDashboardKArmFromCells]]: a real
    * experiment scorecard reads 10–50 guardrail metrics at once, and
    * paging on each metric's own always-valid p fires false alarms at
    * M times the per-metric rate. Per peek: the q299 mSPRT monitor per
    * METRIC (keyed cumulative increments from the cell state, arm 1 =
    * the lexical-min designed arm — the house orientation), then
    * [[MultipleTesting.benjaminiHochberg]] across the M monitor
    * p-values (battery = peek, nano p9 grid, metric tie-break):
    * `reject_fdr` is the verdict column the scorecard pages on, beside
    * the unadjusted `reject` for the single-metric reading.
    *
    * `arms` names the two designed arms; cells from other arms are
    * ignored (traffic-level SRM is the dashboard's job — q326/q345 —
    * not the per-metric scorecard's). The (metric × arm × peek) spine
    * completes vanished cells with zeros so cumulative series stay
    * aligned. SCALE: one row-scale pass upstream ([[scorecardCells]]);
    * everything here runs on the (M × 2 × peeks)-bounded local frame.
    * One row per (peek, metric), peek-then-metric ordered reads.
    */
  def scorecardFromCells(
      cells: DataFrame,
      arms: (String, String),
      tau2: Double,
      alpha: Double = 0.05d,
      fdrNum: Int = 5,
      fdrDen: Int = 100
  ): DataFrame = {
    require(arms._1 != arms._2, s"need two distinct arms: $arms")
    val lo = if (arms._1 < arms._2) arms._1 else arms._2
    val hi = if (arms._1 < arms._2) arms._2 else arms._1
    val (full, _) = spine(cells.filter(col("arm") === lo || col("arm") === hi),
      Seq("metric"), Seq(lo, hi), Seq("n" -> LongType, "s_hit" -> LongType))
    // per-peek increments per metric, lo/hi oriented
    val incr = full.groupBy(col("metric"), col("peek")).agg(
      sum(when(col("arm") === lo, col("n")).otherwise(0L)).as("bn1"),
      sum(when(col("arm") === lo, col("s_hit")).otherwise(0L)).as("bs1"),
      sum(when(col("arm") === hi, col("n")).otherwise(0L)).as("bn2"),
      sum(when(col("arm") === hi, col("s_hit")).otherwise(0L)).as("bs2"))
    val mon = SequentialTests.msprtTwoProportion(incr, Seq("metric"), "peek",
      "bn1", "bs1", "bn2", "bs2", tau2, alpha)
    MultipleTesting.benjaminiHochberg(
        mon.withColumn("p9", round(col("p_always_valid") * 1e9d).cast("long")),
        Seq("peek"), Seq("metric"), "p9", fdrNum, fdrDen)
      .select(col("peek"), col("metric"), col("n_lo"), col("s_lo"),
        col("n_hi"), col("s_hi"), col("delta"), col("ln_lr9"),
        col("p_always_valid"), col("reject"), col("p9"),
        col("rank").cast("long").as("bh_rank"),
        col("m").as("n_metrics"),
        col("rejected").as("reject_fdr"))
  }
}
