package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The Bayesian read for MEAN metrics (revenue per user, session
  * minutes, tokens per request) — the continuous-metric twin of
  * [[BayesAb]]'s Beta–Binomial conversion read, and the other half of
  * the "chance B is better / what do we risk" dashboard column: per
  * (treatment arm, peek), the large-sample normal posterior over the
  * SAME [[AbDashboard.abCells]] outcome moments the frequentist
  * dashboard reads,
  *
  *   μ_arm ~ N(ȳ, s²/n)   (flat prior; Gelman et al., BDA3 §3.2 — the
  *                          posterior of a normal mean with weak prior
  *                          information is the sampling distribution)
  *
  * giving in CLOSED FORM (no grid — the normal difference is itself
  * normal, so where [[BayesAb]] must integrate, here Φ/φ identities
  * finish the job):
  *
  *   - per-arm posterior mean ȳ and central credible interval
  *     ȳ ± z_{α/2}·s/√n
  *   - P(arm beats control) = Φ(Δ/se_Δ), Δ = ȳ_t − ȳ_c,
  *     se_Δ = √(s_t²/n_t + s_c²/n_c)
  *   - expected loss of EITHER decision (Stucchio 2015's rule applied
  *     to means): ship the arm → E[max(μ_c − μ_t, 0)] =
  *     se_Δ·φ(d) − Δ·Φ(−d); keep control → E[max(μ_t − μ_c, 0)] =
  *     se_Δ·φ(d) + Δ·Φ(d), with d = Δ/se_Δ — the standard normal-loss
  *     integrals (the identity loss_ship − loss_keep = −Δ is
  *     spec-pinned; φ(d) = e^{−d²/2}/√(2π))
  *
  * DETERMINISM (the [[Association.welchT]] / [[GroupSequential.phiCol]]
  * discipline): cumulative n/Σy/Σy² are EXACT integer/DECIMAL sums over
  * the (arm × peek) cell spine; the variance numerator v = n·Σy² −
  * (Σy)² is exact DECIMAL; se² = v/(n²(n−1)) and Δ's exact cross
  * product are the welchT fixed dags; Φ is the in-engine Chebyshev-erfc
  * Column dag and φ one engine exp — every float op in a pinned order
  * with a character-identical DuckDB rendering, so the oracle replays
  * the read bit-for-bit. Outputs gate at 9dp.
  *
  * GUARDS (NULL-with-flag, the house rule): per-arm se needs n ≥ 2;
  * the comparison reads need both arms at n ≥ 2 AND se_Δ > 0 (two
  * degenerate point-mass posteriors have no well-defined P(beat));
  * `ok` carries the verdict. Spine-completed empty peeks stay visible
  * with NULL statistics — unlike the Beta–Binomial read there is no
  * proper-prior fallback (the flat prior over an unbounded mean is
  * improper), so "no data" honestly reads NULL, not 0.5.
  *
  * SCALE: the one row-scale pass is the upstream [[AbDashboard.abCells]]
  * aggregation; the cells localize once ([[AbDashboard.materialize]] —
  * the eager-execution contract documented there) and everything here
  * runs on the (arms × peeks)-bounded frame: one cumulative window, one
  * bounded self-join, two staged projections. At 100× data only the
  * upstream pass grows.
  */
object BayesMean {

  private val dec = "decimal(38,0)"

  /** z_{α/2} at α = 0.05, the house pinned double. */
  private val z975 = 1.959964d

  /** 1/√(2π) divisor rendered as the correctly-rounded double of
    * √(2π) — keep [[bayesMeanKArmFromCells]] and the oracle fragment
    * in lockstep.
    */
  private val sqrt2Pi = 2.5066282746310002d

  /** The k-arm Bayesian mean read from a (possibly folded)
    * [[AbDashboard.abCells]] frame (columns `arm, peek, n, sy, syy`
    * consumed; the conversion/covariate columns ride along unused).
    * One row per (designed arm ≠ control, peek), cumulative to that
    * peek.
    */
  def bayesMeanKArmFromCells(
      cells: DataFrame,
      arms: Seq[String],
      control: String
  ): DataFrame = {
    require(arms.distinct.size == arms.size && arms.size >= 2,
      s"need >= 2 distinct designed arms: $arms")
    require(arms.contains(control), s"control '$control' must be in $arms")
    // DRIVER FOLD over the collected cells (r17 optimization — the
    // BayesAb/Cox bounded-driver-fold rewrite; see the class doc's SCALE
    // note): the closed forms below replicate the replaced Column dag
    // op-for-op — exact BigInt moment sums, correctly-rounded
    // decimal→double casts, [[GroupSequential.phi]] (bitwise-equal to
    // the phiCol dag the oracle renders), the same NULL guards.
    val rows = graft.plans.Local.rowsOrFail(cells.filter(col("arm").isin(arms: _*))
      .select(col("arm").cast("string"), col("peek").cast("long"),
        col("n").cast("long"), col("sy").cast(dec), col("syy").cast(dec)),
      "bayesMeanKArmFromCells")
    val byCell = rows.map(r => (r.getString(0), r.getLong(1)) ->
      (r.getLong(2), BigInt(r.getDecimal(3).toBigInteger),
        BigInt(r.getDecimal(4).toBigInteger))).toMap
    require(byCell.size == rows.length,
      "bayesMeanKArmFromCells: duplicate (arm, peek) cells in input — the " +
        "additive fold shape requires one increment row per cell")
    val peeks = rows.map(_.getLong(1)).distinct.sorted
    def b2d(b: BigInt): Double = new java.math.BigDecimal(b.bigInteger).doubleValue
    // cumulative per arm in peek order, then the per-cell posterior
    final case class St(n: Long, sy: BigInt, m: Option[Double],
      se2: Option[Double], se: Option[Double])
    val st: Map[(String, Long), St] = arms.flatMap { a =>
      var cn = 0L; var csy = BigInt(0); var csyy = BigInt(0)
      peeks.map { p =>
        val (dn, dsy, dsyy) = byCell.getOrElse((a, p), (0L, BigInt(0), BigInt(0)))
        cn += dn; csy += dsy; csyy += dsyy
        val nF = cn.toDouble
        val m = if (cn > 0L) Some(b2d(csy) / nF) else None
        val v = BigInt(cn) * csyy - csy * csy
        val se2 = if (cn >= 2L) Some(b2d(v) / (nF * nF * (nF - 1d))) else None
        (a, p) -> St(cn, csy, m, se2, se2.map(math.sqrt))
      }
    }.toMap
    val phi = GroupSequential.phi _
    val outRows = peeks.flatMap { p =>
      val sc = st((control, p))
      arms.filter(_ != control).map { a =>
        val sa = st((a, p))
        val ntF = sa.n.toDouble; val ncF = sc.n.toDouble
        val delta =
          if (sa.n > 0L && sc.n > 0L)
            Some(b2d(sa.sy * BigInt(sc.n) - sc.sy * BigInt(sa.n)) / (ntF * ncF))
          else None
        val sed =
          if (sa.n >= 2L && sc.n >= 2L)
            Some(math.sqrt(sa.se2.get + sc.se2.get))
          else None
        val d = sed.filter(_ > 0d).map(s => delta.get / s)
        val pdf = d.map(x => math.exp(-0.5d * x * x) / sqrt2Pi)
        val okB = sa.n >= 2L && sc.n >= 2L && sed.exists(_ > 0d)
        def ifOk(v: Option[Double]): Any =
          if (okB) v.map(Double.box).orNull else null
        org.apache.spark.sql.Row(p, a,
          sa.n, sa.m.map(Double.box).orNull,
          sa.se.map(Double.box).orNull,
          sa.m.flatMap(m => sa.se.map(s => Double.box(m - z975 * s))).orNull,
          sa.m.flatMap(m => sa.se.map(s => Double.box(m + z975 * s))).orNull,
          sc.n, sc.m.map(Double.box).orNull,
          sc.se.map(Double.box).orNull,
          sc.m.flatMap(m => sc.se.map(s => Double.box(m - z975 * s))).orNull,
          sc.m.flatMap(m => sc.se.map(s => Double.box(m + z975 * s))).orNull,
          delta.map(Double.box).orNull,
          ifOk(sed),
          ifOk(d.map(phi)),
          ifOk(for (s <- sed; dd <- d; pf <- pdf; dl <- delta)
            yield s * pf - dl * phi(-1d * dd)),
          ifOk(for (s <- sed; dd <- d; pf <- pdf; dl <- delta)
            yield s * pf + dl * phi(dd)),
          okB)
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("peek", LongType), StructField("arm", StringType),
      StructField("n_arm", LongType), StructField("mean_arm", DoubleType),
      StructField("se_arm", DoubleType),
      StructField("cred_lo_arm", DoubleType), StructField("cred_hi_arm", DoubleType),
      StructField("n_ctl", LongType), StructField("mean_ctl", DoubleType),
      StructField("se_ctl", DoubleType),
      StructField("cred_lo_ctl", DoubleType), StructField("cred_hi_ctl", DoubleType),
      StructField("delta", DoubleType), StructField("se_delta", DoubleType),
      StructField("p_beat_ctl", DoubleType),
      StructField("exp_loss_arm", DoubleType),
      StructField("exp_loss_ctl", DoubleType),
      StructField("ok", BooleanType)))
    import scala.jdk.CollectionConverters._
    cells.sparkSession.createDataFrame(outRows.toSeq.asJava, schema)
  }
}
