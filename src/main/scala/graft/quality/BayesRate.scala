package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Bayesian read for RATE metrics (count per exposure) — the third
  * member completing the Bayesian decision trio beside [[BayesAb]]
  * (Beta–Binomial conversion) and [[BayesMean]] (normal mean): per
  * (treatment arm, peek) the Gamma–Poisson conjugate posterior over
  * integer exposure/count state,
  *
  *   λ ~ Gamma(a₀ + C, b₀ + E)   (integer shape AND rate — the prior
  *                                is a₀ pseudo-events in b₀ pseudo-
  *                                exposure units),
  *
  * with P(arm beats control) = P(λ_t > λ_c) and both decisions'
  * expected losses EXACTLY (up to the documented log landing), via the
  * closed-form negative-binomial tail: for integer shapes,
  *
  *   P(X > Y) = Σ_{j=0}^{a_t−1} C(a_c+j−1, j) · p^j · (1−p)^{a_c},
  *   p = b_t/(b_t + b_c)   (an EXACT rational of longs),
  *
  * and the losses reduce to the SAME sums at shifted shapes:
  * E[λ_t·1(X>Y)] = (a_t/b_t)·P(X⁺>Y) (shape a_t+1),
  * E[λ_c·1(X>Y)] = (a_c/b_c)·P(X>Y⁺) (shape a_c+1) — so THREE tail
  * sums from TWO term series share one generated j-frame. The
  * loss-difference identity loss_ship − loss_keep = a_c/b_c − a_t/b_t
  * (posterior-mean difference) is spec-pinned.
  *
  * NUMERIC DESIGN (the [[BayesAb]] landing discipline): the term
  * recurrence ln t_j = ln t_{j−1} + ln((a_c+j−1)/j) + ln p runs as an
  * ORDERED integer cumulative sum of 1e-12-landed logs (each factor's
  * engine ln lands as round(ln(·)·10¹²) — a 1-ulp ln() disagreement
  * moves one landed log by ±1, which the 1e-15 term quantization makes
  * 9dp-invisible); each term quantizes to round(e^{L}·10¹⁵) and the
  * three tails are order-free integer sums (terms are probabilities
  * ≤ 1 — no max-shift needed; series whose every term lands at 0 are
  * genuinely negligible at 1e-12 total). Posterior means/sds are exact
  * integer divisions; the per-arm credible interval is the NORMAL
  * APPROXIMATION on the Gamma (mean ± z·√a/b — labeled and documented:
  * at the count sizes where the exact-sum read is practical, a ≥ 30
  * makes it tight; the decision columns never use it).
  *
  * ENVELOPE: series length = a_t + 1 terms per comparison cell —
  * practical to ~10⁵ counts per cell (beyond that coarsen peeks or use
  * [[BayesMean]]'s normal machinery, which is exact in that regime
  * anyway). The j-frame is generated per (arm, peek) by sequence();
  * everything is (arms × peeks × series)-bounded after the one
  * row-scale pass that built the increments.
  *
  * Emits one row per (designed arm ≠ control, peek), cumulative to the
  * peek: exposures/counts, posterior a/b per side, posterior means,
  * approx credible intervals, p_beat_ctl, exp_loss_arm (ship the arm,
  * lose if control's rate was higher), exp_loss_ctl (keep control).
  * "Beats" = HIGHER rate (state the metric so that up is good, or read
  * the columns mirrored).
  */
object BayesRate {

  private val dec = "decimal(38,0)"
  private val z975 = 1.959964d

  /** The k-arm Gamma–Poisson read from per-(arm, peek) increment state
    * (columns `arm, peek, e, c` — integer exposure and count, the
    * additive fold shape).
    */
  def bayesRateKArmFromCells(
      cells: DataFrame,
      arms: Seq[String],
      control: String,
      a0: Long = 1L,
      b0: Long = 1L
  ): DataFrame = {
    require(arms.distinct.size == arms.size && arms.size >= 2,
      s"need >= 2 distinct designed arms: $arms")
    require(arms.contains(control), s"control '$control' must be in $arms")
    require(a0 >= 1L && b0 >= 1L, s"integer prior must be proper: a0=$a0 b0=$b0")
    // DRIVER FOLD over the collected increments (r17 optimization — the
    // BayesAb/Cox bounded-driver-fold rewrite): the tail-sum series ran
    // as single-partition generated-j windows (the WindowExec
    // one-partition shape) — pure fixed cost per read. Every landed log,
    // quantized term and ordered cumulative below replicates the
    // replaced Column dag op-for-op, so the oracle hashes unchanged.
    val rows = graft.plans.Local.rowsOrFail(cells.filter(col("arm").isin(arms: _*))
      .select(col("arm").cast("string"), col("peek").cast("long"),
        col("e").cast("long"), col("c").cast("long")), "bayesRateKArmFromCells")
    val byCell = rows.map(r => (r.getString(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3))).toMap
    require(byCell.size == rows.length,
      "bayesRateKArmFromCells: duplicate (arm, peek) cells in input — the " +
        "additive fold shape requires one increment row per cell")
    val peeks = rows.map(_.getLong(1)).distinct.sorted
    def rnd0(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
    def b2d(b: BigInt): Double = new java.math.BigDecimal(b.bigInteger).doubleValue
    // cumulative posterior (a, b) per (arm, peek)
    val cum: Map[(String, Long), (Long, Long, Long, Long)] = arms.flatMap { a =>
      var ce = 0L; var cc = 0L
      peeks.map { p =>
        val (de, dc) = byCell.getOrElse((a, p), (0L, 0L))
        ce += de; cc += dc
        (a, p) -> (ce, cc, a0 + cc, b0 + ce)
      }
    }.toMap
    val outRows = peeks.flatMap { p =>
      val (eC, cC, ac, bc) = cum((control, p))
      arms.filter(_ != control).map { a =>
        val (eT, cT, at, bt) = cum((a, p))
        val pD = bt.toDouble / (bt + bc).toDouble
        val qD = bc.toDouble / (bt + bc).toDouble
        val lnp12 = rnd0(math.log(pD) * 1e12d).toLong
        val lnq12 = rnd0(math.log(qD) * 1e12d).toLong
        // ordered cumulative of landed ratio logs, three tails at once
        var s0 = BigInt(0); var s1 = BigInt(0); var s2 = BigInt(0)
        var cumA = 0L; var cumB = 0L
        var j = 0L
        while (j <= at) {
          val jD = j.toDouble
          val lrA = if (j == 0L) 0L
            else rnd0(math.log((ac.toDouble + jD - 1d) / jD) * 1e12d).toLong
          val lrB = if (j == 0L) 0L
            else rnd0(math.log((ac.toDouble + jD) / jD) * 1e12d).toLong
          cumA += lrA + lnp12; cumB += lrB + lnp12
          val la12 = cumA - lnp12 + ac * lnq12
          val lb12 = cumB - lnp12 + (ac + 1L) * lnq12
          def t15(l: Long): Long =
            if (l < -80000000000000L) 0L
            else rnd0(math.exp(l.toDouble / 1e12d) * 1e15d).toLong
          val ta = t15(la12); val tb = t15(lb12)
          if (j < at) { s0 += ta; s2 += tb }
          s1 += ta
          j += 1L
        }
        val p0 = b2d(s0) / 1e15d; val p1 = b2d(s1) / 1e15d
        val p2 = b2d(s2) / 1e15d
        val mT = at.toDouble / bt.toDouble
        val mC = ac.toDouble / bc.toDouble
        val sdT = math.sqrt(at.toDouble) / bt.toDouble
        val sdC = math.sqrt(ac.toDouble) / bc.toDouble
        org.apache.spark.sql.Row(p, a,
          eT, cT, at, bt, mT, sdT,
          mT - z975 * sdT, mT + z975 * sdT,
          eC, cC, ac, bc, mC, sdC,
          mC - z975 * sdC, mC + z975 * sdC,
          p0,
          // ship the arm: E[max(λc−λt,0)] = mC(1−P2) − mT(1−P1)
          mC * (1d - p2) - mT * (1d - p1),
          // keep control: you forgo the arm's edge when it was better
          mT * p1 - mC * p2)
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("peek", LongType), StructField("arm", StringType),
      StructField("e_arm", LongType), StructField("c_arm", LongType),
      StructField("a_arm", LongType), StructField("b_arm", LongType),
      StructField("post_mean_arm", DoubleType), StructField("post_sd_arm", DoubleType),
      StructField("cred_lo_arm", DoubleType), StructField("cred_hi_arm", DoubleType),
      StructField("e_ctl", LongType), StructField("c_ctl", LongType),
      StructField("a_ctl", LongType), StructField("b_ctl", LongType),
      StructField("post_mean_ctl", DoubleType), StructField("post_sd_ctl", DoubleType),
      StructField("cred_lo_ctl", DoubleType), StructField("cred_hi_ctl", DoubleType),
      StructField("p_beat_ctl", DoubleType),
      StructField("exp_loss_arm", DoubleType),
      StructField("exp_loss_ctl", DoubleType)))
    import scala.jdk.CollectionConverters._
    cells.sparkSession.createDataFrame(outRows.toSeq.asJava, schema)
  }
}
