package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** The ratio-metric A/B read (Deng, Knoblich & Lu 2018, "Applying the
  * Delta Method in Metric Analytics"): the read every experimentation
  * platform needs for metrics that are a RATIO of per-unit sums —
  * clicks/views (CTR), revenue/sessions, errors/requests — where the
  * randomization unit (user) is coarser than the analysis unit (event),
  * so the naive event-level proportion test is wrong (events within a
  * user are correlated). The estimator is r̂ = ΣY/ΣX over users; its
  * variance comes from the delta method on the user-level (Y, X)
  * moments:
  *
  *   var(r̂) ≈ (S_YY − 2·r̂·S_YX + r̂²·S_XX) / ((n−1)·(ΣX)²) · n(n−1)/n(n−1)
  *          = (v_YY − 2·r̂·v_YX + r̂²·v_XX) / ((n−1)·(ΣX)²)
  *
  * with v_AB = n·ΣAB − ΣA·ΣB the EXACT DECIMAL (co)variance numerators
  * — the quadratic form [1, −r̂]·Σ·[1, −r̂]ᵀ, nonnegative up to the two
  * float products in r̂. Per comparison arm-vs-control: Δr̂ by the exact
  * cross product (ΣY_t·ΣX_c − ΣY_c·ΣX_t)/(ΣX_t·ΣX_c), se_Δ =
  * √(var_t + var_c), the z read, the two-sided p through the in-engine
  * Φ, and the z_{α/2} CI — every float op in a pinned order with a
  * character-identical DuckDB rendering (the [[GroupSequential.phiCol]]
  * discipline), so the oracle replays the read bit-for-bit.
  *
  * The state is the UNCHANGED [[AbDashboard.abCells]] frame — y as the
  * numerator, x as the denominator: n/sy/sx/syy/sxx/sxy are exactly the
  * delta-method moment set, additively mergeable, so the incremental
  * store and its stream fold carry this read for free.
  *
  * GUARDS (NULL-with-flag): a ratio needs ΣX ≠ 0; variances need n ≥ 2;
  * the comparison needs both arms live AND se_Δ > 0. `ok` carries the
  * verdict; spine-completed silent-arm peeks stay visible with NULLs.
  *
  * SPECIAL CASE (spec-pinned): X ≡ 1 per unit collapses r̂ to the plain
  * mean and var(r̂) to the welchT mean variance — the delta method
  * degrades to the t read exactly, not approximately.
  *
  * SCALE: the one row-scale pass is the upstream cell aggregation. The
  * k-arm read collects the (arms × peeks)-bounded cells once and builds
  * its cumulative state on the driver ([[AbDashboard.spine]] — the
  * eager-execution contract is documented at [[AbDashboard.materialize]]);
  * everything after runs on a one-partition local relation. At 100×
  * data only the upstream pass grows.
  */
object RatioMetric {

  private val dec = "decimal(38,0)"

  /** z_{α/2} at α = 0.05, the house pinned double. */
  private val z975 = 1.959964d

  /** Per-(keys, grp) moment cells for the CUPED-adjusted ratio read —
    * the unit-level (current numerator y, current denominator x,
    * pre-period numerator p, pre-period denominator q) with every
    * first and second moment the delta-method linearization needs:
    * n + 14 exact DECIMAL sums, additively mergeable
    * ([[mergeRatioCupedCells]], fold == rebuild). Values cast long
    * (the welchT rule); rows with any NULL component drop.
    */
  def ratioCupedCells(
      perUnit: DataFrame,
      keyCols: Seq[String],
      grpCol: String,
      yCol: String, xCol: String,
      pCol: String, qCol: String
  ): DataFrame = {
    val g = keyCols.map(col)
    val y = col(yCol).cast("long").cast(dec)
    val x = col(xCol).cast("long").cast(dec)
    val p = col(pCol).cast("long").cast(dec)
    val q = col(qCol).cast("long").cast(dec)
    perUnit
      .filter(col(grpCol).isNotNull && col(yCol).isNotNull &&
        col(xCol).isNotNull && col(pCol).isNotNull && col(qCol).isNotNull)
      .groupBy(g :+ col(grpCol).cast("string").as("grp"): _*)
      .agg(count(lit(1)).as("n"),
        sum(y).as("sy"), sum(x).as("sx"), sum(p).as("sp"), sum(q).as("sq"),
        sum(y * y).as("syy"), sum(x * x).as("sxx"), sum(x * y).as("sxy"),
        sum(p * p).as("spp"), sum(q * q).as("sqq"), sum(q * p).as("sqp"),
        sum(y * p).as("syp"), sum(y * q).as("syq"),
        sum(x * p).as("sxp"), sum(x * q).as("sxq"))
  }

  /** Additive merge of two [[ratioCupedCells]] frames. */
  def mergeRatioCupedCells(
      a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((keyCols.map(col) :+ col("grp")): _*)
      .agg(sum("n").as("n"),
        sum("sy").as("sy"), sum("sx").as("sx"),
        sum("sp").as("sp"), sum("sq").as("sq"),
        sum("syy").as("syy"), sum("sxx").as("sxx"), sum("sxy").as("sxy"),
        sum("spp").as("spp"), sum("sqq").as("sqq"), sum("sqp").as("sqp"),
        sum("syp").as("syp"), sum("syq").as("syq"),
        sum("sxp").as("sxp"), sum("sxq").as("sxq"))

  /** CUPED for RATIO metrics (Deng, Xu, Kohavi & Walker 2013 applied
    * through the delta method — the variance reduction real platforms
    * run on CTR/revenue-per-session metrics, where BOTH the metric and
    * its pre-period covariate are ratios of per-unit sums): adjust the
    * current-period ratio difference by the pre-period ratio
    * difference,
    *
    *   Δ_cuped = Δ_r − θ·Δ_r′,   θ* = (cov₁+cov₂)/(v′₁+v′₂),
    *   var     = (v₁+v₂) − (cov₁+cov₂)·θ*   (the optimal-θ identity),
    *
    * with per-arm delta-method pieces over the unit-level linearization
    * ℓ = y − r̂x, ℓ′ = p − r̂′q:
    *
    *   v    = (V_yy − 2r̂V_xy + r̂²V_xx)/((n−1)(Σx)²)      (the
    *          [[ratioDeltaKArmFromCells]] quadratic form)
    *   v′   = (V_pp − 2r̂′V_qp + r̂′²V_qq)/((n−1)(Σq)²)
    *   cov  = (V_yp − r̂′V_yq − r̂V_xp + r̂r̂′V_xq)/((n−1)·Σx·Σq)
    *
    * (V_ab = n·ΣAB − ΣA·ΣB, exact DECIMAL). Randomization makes the
    * adjustment unbiased; the achieved reduction is
    * rho2 = (Σcov)²/(Σv′·Σv) and se_cuped ≤ se_raw ALWAYS (the
    * optimal-θ algebra — spec-pinned on fuzz). θ here is the
    * WITHIN-ARM pooled delta-method estimate (the sum of per-arm
    * pieces), not the all-units-pooled θ of the mean [[Association.cuped]]
    * — for a ratio there is no single per-unit variable to pool, the
    * linearization constants differ per arm.
    *
    * GUARDS (NULL-with-flag): n ≥ 2 both arms; all four denominators
    * ≠ 0; v′ > 0 (θ undefined on a constant pre-period — use the plain
    * [[ratioDeltaKArmFromCells]]); variances clamp at 0 (the
    * [[ratioDeltaKArmFromCells]] sqrt rule). (grp_lo, grp_hi) = (min,
    * max) label, effect oriented lo − hi (the welchT sign).
    * SCALE: one row-scale moments aggregation upstream; everything here
    * is the 2-label pivot + fixed dags.
    */
  def ratioCupedFromCells(
      cells: DataFrame,
      keyCols: Seq[String]
  ): DataFrame = {
    val g = keyCols.map(col)
    val wKey = Window.partitionBy(g: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val momentCols = Seq("n", "sy", "sx", "sp", "sq", "syy", "sxx", "sxy",
      "spp", "sqq", "sqp", "syp", "syq", "sxp", "sxq")
    val wide = cells
      .withColumn("__ngrps", count(lit(1)).over(wKey))
      .withColumn("grp_lo", min("grp").over(wKey))
      .withColumn("grp_hi", max("grp").over(wKey))
      .groupBy((g :+ col("grp_lo") :+ col("grp_hi") :+ col("__ngrps")): _*)
      .agg(
        max(when(col("grp") === col("grp_lo"), col(momentCols.head)))
          .as(momentCols.head + "1"),
        (momentCols.tail.map(c =>
          max(when(col("grp") === col("grp_lo"), col(c))).as(c + "1")) ++
          momentCols.map(c =>
            max(when(col("grp") === col("grp_hi"), col(c))).as(c + "2"))): _*)
    // per-arm delta-method pieces as named staged columns (the
    // cupedMulti2 Janino discipline), every division ANSI-guarded
    def arm(sfx: String): Seq[Column] = {
      val n = col("n" + sfx); val nD = n.cast(dec); val nF = n.cast("double")
      def V(ab: String, a: String, b: String) =
        (nD * col(ab + sfx) - col(a + sfx) * col(b + sfx))
      val live = n >= 2L && col("sx" + sfx) =!= lit(0L).cast(dec) &&
        col("sq" + sfx) =!= lit(0L).cast(dec)
      val r = when(col("sx" + sfx) =!= lit(0L).cast(dec),
        col("sy" + sfx).cast("double") / col("sx" + sfx).cast("double"))
      val rp = when(col("sq" + sfx) =!= lit(0L).cast(dec),
        col("sp" + sfx).cast("double") / col("sq" + sfx).cast("double"))
      val v = when(live, greatest(
        (V("syy", "sy", "sy").cast("double") -
          lit(2d) * r * V("sxy", "sy", "sx").cast("double") +
          r * r * V("sxx", "sx", "sx").cast("double")) /
          ((nF - 1d) * (col("sx" + sfx) * col("sx" + sfx)).cast("double")),
        lit(0d)))
      val vp = when(live, greatest(
        (V("spp", "sp", "sp").cast("double") -
          lit(2d) * rp * V("sqp", "sp", "sq").cast("double") +
          rp * rp * V("sqq", "sq", "sq").cast("double")) /
          ((nF - 1d) * (col("sq" + sfx) * col("sq" + sfx)).cast("double")),
        lit(0d)))
      val cv = when(live,
        (V("syp", "sy", "sp").cast("double") -
          rp * V("syq", "sy", "sq").cast("double") -
          r * V("sxp", "sx", "sp").cast("double") +
          r * rp * V("sxq", "sx", "sq").cast("double")) /
          ((nF - 1d) * (col("sx" + sfx) * col("sq" + sfx)).cast("double")))
      Seq(r.as("__r" + sfx), rp.as("__rp" + sfx), v.as("__v" + sfx),
        vp.as("__vp" + sfx), cv.as("__cv" + sfx))
    }
    val staged = wide.select(col("*") +: (arm("1") ++ arm("2")): _*)
      .select(col("*"),
        when(col("sx1") =!= lit(0L).cast(dec) &&
          col("sx2") =!= lit(0L).cast(dec),
          (col("sy1") * col("sx2") - col("sy2") * col("sx1")).cast("double") /
            (col("sx1").cast("double") * col("sx2").cast("double")))
          .as("__draw"),
        when(col("sq1") =!= lit(0L).cast(dec) &&
          col("sq2") =!= lit(0L).cast(dec),
          (col("sp1") * col("sq2") - col("sp2") * col("sq1")).cast("double") /
            (col("sq1").cast("double") * col("sq2").cast("double")))
          .as("__dpre"),
        (col("__v1") + col("__v2")).as("__vr"),
        (col("__vp1") + col("__vp2")).as("__vpre"),
        (col("__cv1") + col("__cv2")).as("__cov"))
      .select(col("*"),
        when(col("__vpre") > 0d, col("__cov") / col("__vpre")).as("__theta"))
      .select(col("*"),
        greatest(col("__vr") - col("__cov") * col("__theta"), lit(0d))
          .as("__varc"))
    val two = col("__ngrps") === 2L
    val ok = two && col("n1") >= 2L && col("n2") >= 2L &&
      col("__vpre") > 0d && col("__vr").isNotNull && col("__cov").isNotNull
    val seC = sqrt(col("__varc"))
    val rho2 = (col("__cov") * col("__cov")) /
      (col("__vpre") * col("__vr"))
    staged
      .withColumn("n_groups", col("__ngrps"))
      .withColumn("n_lo", when(two, col("n1")))
      .withColumn("n_hi", when(two, col("n2")))
      .withColumn("ratio_lo", when(two, col("__r1")))
      .withColumn("ratio_hi", when(two, col("__r2")))
      .withColumn("delta_raw", when(two, col("__draw")))
      .withColumn("se_raw",
        when(two && col("__vr").isNotNull, sqrt(col("__vr"))))
      .withColumn("theta", when(ok, col("__theta")))
      .withColumn("rho2", when(ok && col("__vr") > 0d, rho2))
      .withColumn("delta_cuped",
        when(ok, col("__draw") - col("__theta") * col("__dpre")))
      .withColumn("se_cuped", when(ok, seC))
      .withColumn("ci_lo", when(ok,
        col("__draw") - col("__theta") * col("__dpre") -
          lit(1.959964d) * seC))
      .withColumn("ci_hi", when(ok,
        col("__draw") - col("__theta") * col("__dpre") +
          lit(1.959964d) * seC))
      .select(g :+ col("grp_lo") :+ col("grp_hi") :+ col("n_groups") :+
        col("n_lo") :+ col("n_hi") :+ col("ratio_lo") :+ col("ratio_hi") :+
        col("delta_raw") :+ col("se_raw") :+ col("theta") :+ col("rho2") :+
        col("delta_cuped") :+ col("se_cuped") :+ col("ci_lo") :+
        col("ci_hi"): _*)
  }

  /** The k-arm delta-method ratio read from a (possibly folded)
    * [[AbDashboard.abCells]] frame (y = numerator, x = denominator).
    * One row per (designed arm ≠ control, peek), cumulative to that
    * peek. Cells of arms outside `arms` are ignored; the per-arm running
    * sums come from the driver-built (arm × peek) spine, where a missing
    * cell reads as an all-zero one and a duplicate or NULL-peek cell
    * fails at construction.
    */
  def ratioDeltaKArmFromCells(
      cells: DataFrame,
      arms: Seq[String],
      control: String
  ): DataFrame = {
    require(arms.distinct.size == arms.size && arms.size >= 2,
      s"need >= 2 distinct designed arms: $arms")
    require(arms.contains(control), s"control '$control' must be in $arms")
    val zero = lit(0L).cast(dec)
    val (_, cum) = AbDashboard.spine(cells.filter(col("arm").isin(arms: _*)),
      Nil, arms, ("n" -> LongType) +:
        Seq("sx", "sy", "sxx", "syy", "sxy").map(_ -> DecimalType(38, 0)))
    // per-(arm, peek) ratio + delta-method variance: staged projections,
    // every division inside its own ANSI guard
    val nD = col("n").cast(dec)
    val nF = col("n").cast("double")
    val st = cum
      .select(col("*"),
        when(col("sx") =!= zero,
          col("sy").cast("double") / col("sx").cast("double")).as("__r"),
        (nD * col("syy") - col("sy") * col("sy")).as("__vyy"),
        (nD * col("sxx") - col("sx") * col("sx")).as("__vxx"),
        (nD * col("sxy") - col("sy") * col("sx")).as("__vxy"))
      .select(col("*"),
        // the quadratic form is PSD exactly but carries two float
        // products in r̂ — at TRUE zero variance it can round to −1e-16,
        // and DuckDB's sqrt ERRORS on negatives where Spark returns
        // NaN, so clamp at 0 inside the guard (identical both engines)
        when(col("n") >= 2L && col("sx") =!= zero,
          greatest((col("__vyy").cast("double") -
            lit(2d) * col("__r") * col("__vxy").cast("double") +
            col("__r") * col("__r") * col("__vxx").cast("double")) /
            ((nF - 1d) * (col("sx") * col("sx")).cast("double")),
            lit(0d)))
          .as("__var"))
    val t = st.filter(col("arm") =!= control).select(
      col("arm"), col("peek"), col("n").as("n_arm"),
      col("sy").as("__syt"), col("sx").as("__sxt"),
      col("__r").as("ratio_arm"), col("__var").as("__vart"))
    val c = st.filter(col("arm") === control).select(
      col("peek"), col("n").as("n_ctl"),
      col("sy").as("__syc"), col("sx").as("__sxc"),
      col("__r").as("ratio_ctl"), col("__var").as("__varc"))
    val joined = t.join(c, Seq("peek"))
      .select(col("*"),
        when(col("__sxt") =!= zero && col("__sxc") =!= zero,
          (col("__syt") * col("__sxc") - col("__syc") * col("__sxt"))
            .cast("double") /
            (col("__sxt").cast("double") * col("__sxc").cast("double")))
          .as("__delta"),
        when(col("__vart").isNotNull && col("__varc").isNotNull,
          sqrt(col("__vart") + col("__varc"))).as("__sed"))
      .select(col("*"),
        when(col("__sed") > 0d, col("__delta") / col("__sed")).as("__z"))
    val ok = col("n_arm") >= 2L && col("n_ctl") >= 2L && col("__sed") > 0d
    joined
      .withColumn("se_arm", sqrt(col("__vart")))
      .withColumn("se_ctl", sqrt(col("__varc")))
      .withColumn("delta", col("__delta"))
      .withColumn("se_delta", when(ok, col("__sed")))
      .withColumn("z", when(ok, col("__z")))
      .withColumn("p_value", when(ok,
        lit(2d) * (lit(1d) - GroupSequential.phiCol(abs(col("__z"))))))
      .withColumn("ci_lo",
        when(ok, col("__delta") - lit(z975) * col("__sed")))
      .withColumn("ci_hi",
        when(ok, col("__delta") + lit(z975) * col("__sed")))
      .withColumn("ok", coalesce(ok, lit(false)))
      .select(col("peek"), col("arm"),
        col("n_arm"), col("ratio_arm"), col("se_arm"),
        col("n_ctl"), col("ratio_ctl"), col("se_ctl"),
        col("delta"), col("se_delta"), col("z"), col("p_value"),
        col("ci_lo"), col("ci_hi"), col("ok"))
  }
}
