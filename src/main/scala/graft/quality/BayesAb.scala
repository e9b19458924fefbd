package graft.quality

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Bayesian A/B read — the dashboard column stakeholders actually ask
  * for ("what's the chance B is better, and what do we risk by shipping
  * it?"): per (treatment arm, peek), Beta–Binomial posteriors over the
  * SAME [[AbDashboard.abCells]] conversion counts the frequentist
  * dashboard reads, with
  *
  *   - the posterior mean (a₀+s)/(a₀+b₀+n) — exact, one division
  *   - a central credible interval (grid-resolution quantiles)
  *   - P(arm beats control) = P(p_t > p_c)
  *   - expected loss of EITHER decision:
  *     ship the arm → E[max(p_c − p_t, 0)], keep control →
  *     E[max(p_t − p_c, 0)] (Stucchio 2015's decision rule: ship when
  *     the ship-loss clears the care threshold)
  *
  * by DETERMINISTIC numeric integration on a fixed midpoint grid.
  *
  * NUMERIC DESIGN (each step chosen so the engines cannot diverge):
  *
  *   1. Midpoint grid x_i = (2i+1)/2N, N = [[gridN]] = 2¹³ — power-of-two
  *      denominator, so every x_i and 1−x_i is an EXACT double in both
  *      engines.
  *   2. ln x_i and ln(1−x_i) via [[lnOdd2N]] — an atanh-series ln over
  *      the exact odd-numerator range reduction (u = m·2ʲ by integer
  *      CASE, never engine pow/log): pure +,*,/ on exact inputs, the
  *      identical expression tree here and in SQL ⇒ bitwise-equal
  *      doubles (the phiCol/phiSqlFragment pairing — see
  *      [[lnOdd2NSqlFragment]]). Each lands on the 1e-12 grid as a long.
  *   3. The log-kernel (a−1)·lnx12 + (b−1)·lnm12 is EXACT integer
  *      arithmetic; the max-shift normalizer is an exact max.
  *   4. The pdf kernel quantizes to q_i = round(e^{rel}·10¹³) — from here
  *      on every cumulative/normalizing/comparison sum is an
  *      order-independent INTEGER sum (a 1-ulp exp() disagreement moves
  *      one q_i by ±1 out of ~10¹³ — 9dp-invisible by construction).
  *   5. P(beat) and both expected losses reduce to O(N) cumulative-sum
  *      identities on the quantized grid (never an N² pair join):
  *      P(t>c) = Σᵢ q_t[i]·(2·cumlt_c[i] + q_c[i]) / (2·W_t·W_c) (grid
  *      ties split half each), E[max(c−t,0)] = Σᵢ q_c[i]·(i·cumlt_t[i] −
  *      cumiq_t[i]) / (N·W_t·W_c) since x_i − x_j = (i−j)/N.
  *   6. Credible-interval endpoints are exact-integer rank selections
  *      (cum·2·alphaDen ≥ W·alphaNum — the house (T+1) div 2 discipline),
  *      emitting grid points (exact doubles).
  *
  * BOUNDS (why N = 2¹³ and the 10¹³ scale): W ≤ N·10¹³ ≈ 8.2e16;
  * the loss accumulator ≤ W·(N·W) ≈ 5.5e37 < 10³⁸ — inside DECIMAL(38,0)
  * and HUGEINT. Grid resolution 1/N supports posteriors wider than ~3
  * grid steps ⇒ trustworthy up to ~1.8M units per (arm, peek) cell;
  * beyond that, shard peeks or aggregate coarser (documented envelope —
  * the quantile read degrades gracefully, the gate never diverges
  * because the oracle replays the same grid).
  *
  * PRIOR: integer a₀, b₀ ≥ 1 (default uniform Beta(1,1)); the proper
  * prior keeps every posterior live, so an EMPTY cell (spine-completed
  * peek) reads P(beat) = 0.5 and the uniform CI rather than NULL — the
  * honest "no data yet" answer.
  *
  * SCALE AND EXECUTION SHAPE (r17 optimization): the one row-scale pass
  * is the upstream [[AbDashboard.abCells]] aggregation; the cells
  * localize once (the [[AbDashboard.materialize]] eager-execution
  * contract) and the (arms × peeks × N)-bounded grid work folds ON THE
  * DRIVER over the collected cells — the bounded-driver-fold idiom
  * (`chiSquareStat`, the Cox Newton). The previous in-engine grid dag
  * (explode + three windows + a grid join + two aggregations) ran as
  * ~17 scheduler jobs of fixed cost over the same bounded frame; the
  * fold is the identical arithmetic (step-for-step: the same Round /
  * integer-sum / cast ops the Column dag evaluated, which the DuckDB
  * oracle replays) with zero scheduler round-trips. At 100× data only
  * the upstream pass grows.
  */
object BayesAb {

  /** Grid points per posterior: 2¹³ midpoints of [0, 1]. */
  val gridN: Int = 8192

  private val ln2 = 0.6931471805599453d // the correctly-rounded double of ln 2

  /** ln(u / 2N) for an ODD integer u in [1, 2N−1] (2N = 2¹⁴): u = m·2ʲ
    * with j by integer CASE (u odd ⇒ j ≤ 13, and m = u/2ʲ ∈ [1, 2) is an
    * EXACT double), then the atanh series
    * ln m = 2t·(1 + t²/3 + … + t²⁴/25), t = (m−1)/(m+1) ≤ 1/3 (tail
    * < 10⁻¹³ — two decades below the 1e-12 landing grid), and
    * ln(u/2N) = 2t·S + (j − 14)·ln2. [[lnOdd2NSqlFragment]] renders the
    * identical expression for DuckDB; keep the two in lockstep (same
    * coefficients as divisions, same association order) — pure IEEE
    * +,*,/ on exact inputs, so the JVM and DuckDB evaluate bitwise-equal
    * doubles.
    */
  def lnOdd2N(u: Long): Double = {
    val j: Double =
      if (u < 2L) 0d else if (u < 4L) 1d else if (u < 8L) 2d
      else if (u < 16L) 3d else if (u < 32L) 4d else if (u < 64L) 5d
      else if (u < 128L) 6d else if (u < 256L) 7d else if (u < 512L) 8d
      else if (u < 1024L) 9d else if (u < 2048L) 10d else if (u < 4096L) 11d
      else if (u < 8192L) 12d else 13d
    val p2: Double =
      if (u < 2L) 1d else if (u < 4L) 2d else if (u < 8L) 4d
      else if (u < 16L) 8d else if (u < 32L) 16d else if (u < 64L) 32d
      else if (u < 128L) 64d else if (u < 256L) 128d else if (u < 512L) 256d
      else if (u < 1024L) 512d else if (u < 2048L) 1024d else if (u < 4096L) 2048d
      else if (u < 8192L) 4096d else 8192d
    val m = u.toDouble / p2
    val t = (m - 1d) / (m + 1d)
    val t2 = t * t
    def inv(k: Int): Double = 1d / k.toDouble
    val s = 1d + t2 * (inv(3) + t2 * (inv(5) + t2 * (inv(7) +
      t2 * (inv(9) + t2 * (inv(11) + t2 * (inv(13) + t2 * (inv(15) +
      t2 * (inv(17) + t2 * (inv(19) + t2 * (inv(21) + t2 * (inv(23) +
      t2 * inv(25))))))))))))
    2d * t * s + (j - 14d) * ln2
  }

  /** The DuckDB rendering of [[lnOdd2N]] over the SQL integer
    * expression `u` (must be parenthesized or atomic).
    */
  def lnOdd2NSqlFragment(u: String): String = {
    val j = s"(CASE WHEN $u < 2 THEN 0.0 WHEN $u < 4 THEN 1.0 " +
      s"WHEN $u < 8 THEN 2.0 WHEN $u < 16 THEN 3.0 WHEN $u < 32 THEN 4.0 " +
      s"WHEN $u < 64 THEN 5.0 WHEN $u < 128 THEN 6.0 WHEN $u < 256 THEN 7.0 " +
      s"WHEN $u < 512 THEN 8.0 WHEN $u < 1024 THEN 9.0 " +
      s"WHEN $u < 2048 THEN 10.0 WHEN $u < 4096 THEN 11.0 " +
      s"WHEN $u < 8192 THEN 12.0 ELSE 13.0 END)"
    val p2 = s"(CASE WHEN $u < 2 THEN 1.0 WHEN $u < 4 THEN 2.0 " +
      s"WHEN $u < 8 THEN 4.0 WHEN $u < 16 THEN 8.0 WHEN $u < 32 THEN 16.0 " +
      s"WHEN $u < 64 THEN 32.0 WHEN $u < 128 THEN 64.0 " +
      s"WHEN $u < 256 THEN 128.0 WHEN $u < 512 THEN 256.0 " +
      s"WHEN $u < 1024 THEN 512.0 WHEN $u < 2048 THEN 1024.0 " +
      s"WHEN $u < 4096 THEN 2048.0 WHEN $u < 8192 THEN 4096.0 " +
      s"ELSE 8192.0 END)"
    val m = s"(CAST($u AS DOUBLE) / $p2)"
    val t = s"(($m - 1.0) / ($m + 1.0))"
    val t2 = s"($t * $t)"
    val s13 = s"(1.0 + $t2 * ((1.0/3.0) + $t2 * ((1.0/5.0) + $t2 * ((1.0/7.0) + " +
      s"$t2 * ((1.0/9.0) + $t2 * ((1.0/11.0) + $t2 * ((1.0/13.0) + " +
      s"$t2 * ((1.0/15.0) + $t2 * ((1.0/17.0) + $t2 * ((1.0/19.0) + " +
      s"$t2 * ((1.0/21.0) + $t2 * ((1.0/23.0) + $t2 * (1.0/25.0)))))))))))))"
    s"(2.0 * $t * $s13 + ($j - 14.0) * $ln2)"
  }

  // ---- driver-side fold helpers (each replicates the engine op it
  // replaced bit-for-bit; see the class doc's numeric design) ----------

  private def rnd0(x: Double): Double = // Spark Round(double, 0)
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def b2d(b: BigInt): Double = // Spark Cast(decimal → double)
    new java.math.BigDecimal(b.bigInteger).doubleValue

  /** The quantized posterior grid of one (arm, peek) cell: q (10¹³-scaled
    * long per grid index), strict cumulative cumlt, index-weighted strict
    * cumulative cumiq (BigInt — exceeds long), normalizer w.
    */
  private final case class Grid(arm: String, peek: Long, n: Long, s: Long,
    q: Array[Long], cumlt: Array[Long], cumiq: Array[BigInt], w: Long)

  /** Per-i ln x_i and ln(1−x_i) landed at 1e-12 as longs — depend only
    * on the grid index, computed once per call.
    */
  private def lnTables(): (Array[Long], Array[Long]) = {
    val twoN = 2L * gridN
    val lnx = new Array[Long](gridN); val lnm = new Array[Long](gridN)
    var i = 0
    while (i < gridN) {
      val u1 = 2L * i + 1L
      lnx(i) = rnd0(lnOdd2N(u1) * 1e12d).toLong
      lnm(i) = rnd0(lnOdd2N(twoN - u1) * 1e12d).toLong
      i += 1
    }
    (lnx, lnm)
  }

  private def gridOf(arm: String, peek: Long, n: Long, s: Long,
      a0: Long, b0: Long, lnx: Array[Long], lnm: Array[Long]): Grid = {
    val am1 = a0 - 1L + s
    val bm1 = b0 - 1L + n - s
    // exact integer log-kernel, exact max shift
    val lnw = new Array[BigInt](gridN)
    var mx = BigInt(Long.MinValue)
    var i = 0
    while (i < gridN) {
      val v = BigInt(am1) * BigInt(lnx(i)) + BigInt(bm1) * BigInt(lnm(i))
      lnw(i) = v
      if (i == 0 || v > mx) mx = v
      i += 1
    }
    val cut = BigInt(-40000000000000L)
    val q = new Array[Long](gridN)
    val cumlt = new Array[Long](gridN)
    val cumiq = new Array[BigInt](gridN)
    var cl = 0L; var ci = BigInt(0); var w = 0L
    i = 0
    while (i < gridN) {
      val rel = lnw(i) - mx
      val qi =
        if (rel < cut) 0L
        else rnd0(math.exp(b2d(rel) / 1e12d) * 1e13d).toLong
      q(i) = qi; cumlt(i) = cl; cumiq(i) = ci
      cl += qi; ci += BigInt(i) * BigInt(qi); w += qi
      i += 1
    }
    Grid(arm, peek, n, s, q, cumlt, cumiq, w)
  }

  /** Collected cells → the (arm × peek) spine with per-arm CUMULATIVE
    * counts in peek order (the dashboard convention): one entry per
    * designed arm at every observed peek, zero-filled where silent.
    */
  private def cumCells(cells: DataFrame, arms: Seq[String]): Seq[(String, Long, Long, Long)] = {
    val rows = graft.plans.Local.rowsOrFail(cells.filter(col("arm").isin(arms: _*))
      .select(col("arm").cast("string"), col("peek").cast("long"),
        col("n").cast("long"), col("s_hit").cast("long")), "cumCells")
    val byCell = rows.map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    require(byCell.size == rows.length,
      "cumCells: duplicate (arm, peek) cells in input — the additive fold " +
        "shape requires one increment row per cell")
    val peeks = rows.map(_.getLong(1)).distinct.sorted
    arms.flatMap { a =>
      var cn = 0L; var cs = 0L
      peeks.map { p =>
        val (dn, ds) = byCell.getOrElse((a, p), (0L, 0L))
        cn += dn; cs += ds
        (a, p, cn, cs)
      }
    }
  }

  /** P(BEST): the genuinely multi-arm Bayesian column — per (arm,
    * peek), the probability the arm's conversion rate is the HIGHEST
    * of ALL k designed arms (what a k-arm launch review actually asks;
    * pairwise P(beat control) answers a different question once k > 2
    * and does not sum to anything). On the shared quantized grid,
    *
    *   P(best_t) = Σ_i q_t[i] · Π_{a≠t} cdf_a[i]  /  W_t,
    *   cdf_a[i] = (2·cumlt_a[i] + q_a[i]) / (2·W_a)
    *
    * (grid ties split half each — the pairwise convention; for k = 2
    * this IS the [[bayesAbKArmFromCells]] p_beat integral, spec-pinned
    * to 1e-9). Determinism: the cdf products are fixed-order double
    * dags over exact integers (arms order, skipping t, left-assoc —
    * rendered identically in SQL); each grid term ROUNDS TO AN INTEGER
    * before the sum (terms are ≤ q_t[i] ~ 10¹³, so the ±0.5 rounding is
    * ≤ 4·10³ against W-scale 10¹⁶ sums — 9dp-invisible and ORDER-FREE),
    * and P(best) is one division. Σ_t P(best_t) = 1 up to quantization
    * (spec-pinned). Emits ALL designed arms (the best-read has no
    * control side): peek, arm, n, s_hit, post_mean, p_best.
    */
  def bayesBestKArmFromCells(
      cells: DataFrame,
      arms: Seq[String],
      a0: Long = 1L,
      b0: Long = 1L
  ): DataFrame = {
    require(arms.distinct.size == arms.size && arms.size >= 2,
      s"need >= 2 distinct designed arms: $arms")
    require(a0 >= 1L && b0 >= 1L, s"integer prior must be proper: a0=$a0 b0=$b0")
    val cum = cumCells(cells, arms)
    val (lnx, lnm) = lnTables()
    val grids = cum.map { case (a, p, n, s) =>
      (a, p) -> gridOf(a, p, n, s, a0, b0, lnx, lnm)
    }.toMap
    val peeks = cum.map(_._2).distinct.sorted
    val outRows = peeks.flatMap { p =>
      val byArm = arms.map(a => a -> grids((a, p)))
      // Σ_i round(q_t[i] · Π_{a≠t} cdf_a[i]) and the per-arm division
      val pBest: Map[String, Double] = arms.map { t =>
        val others = arms.filter(_ != t).map(a => grids((a, p)))
        val gt = grids((t, p))
        var acc = BigInt(0)
        var i = 0
        while (i < gridN) {
          // fixed-order double product over exact integers (arms order,
          // left-assoc — the engine/SQL rendering)
          var prod = 1d
          var first = true
          others.foreach { ga =>
            val cdf = (2L * ga.cumlt(i) + ga.q(i)).toDouble / (2L * ga.w).toDouble
            prod = if (first) cdf else prod * cdf
            first = false
          }
          acc += BigDecimal(rnd0(gt.q(i).toDouble * prod)).toBigInt
          i += 1
        }
        t -> b2d(acc) / gt.w.toDouble
      }.toMap
      byArm.map { case (a, g) =>
        val postMean = (a0 + g.s).toDouble / (a0 + b0 + g.n).toDouble
        org.apache.spark.sql.Row(p, a, g.n, g.s, postMean, pBest(a))
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("peek", LongType), StructField("arm", StringType),
      StructField("n", LongType), StructField("s_hit", LongType),
      StructField("post_mean", DoubleType), StructField("p_best", DoubleType)))
    import scala.jdk.CollectionConverters._
    cells.sparkSession.createDataFrame(outRows.asJava, schema)
  }

  /** The k-arm Bayesian dashboard read from a (possibly folded)
    * [[AbDashboard.abCells]] frame: one row per (peek, treatment arm)
    * with both posteriors' summaries and the comparison integrals
    * against `control`, on the CUMULATIVE counts up to the peek (the
    * dashboard convention). `ciAlphaNum/ciAlphaDen` is the central
    * credible mass complement as an exact rational (default 5/100 →
    * 95% interval); endpoints are the smallest grid points whose
    * cumulative mass clears α/2 and 1−α/2 (grid-resolution quantiles).
    */
  def bayesAbKArmFromCells(
      cells: DataFrame,
      arms: Seq[String],
      control: String,
      a0: Long = 1L,
      b0: Long = 1L,
      ciAlphaNum: Int = 5,
      ciAlphaDen: Int = 100
  ): DataFrame = {
    require(arms.distinct.size == arms.size && arms.size >= 2,
      s"need >= 2 distinct designed arms: $arms")
    require(arms.contains(control), s"control '$control' must be in $arms")
    require(a0 >= 1L && b0 >= 1L, s"integer prior must be proper: a0=$a0 b0=$b0")
    require(ciAlphaNum > 0 && ciAlphaNum < ciAlphaDen,
      s"ci alpha must be a rational in (0,1): $ciAlphaNum/$ciAlphaDen")
    val cum = cumCells(cells, arms)
    val (lnx, lnm) = lnTables()
    val grids = cum.map { case (a, p, n, s) =>
      (a, p) -> gridOf(a, p, n, s, a0, b0, lnx, lnm)
    }.toMap
    // per-cell posterior summary: exact-integer rank selections for the
    // CI, the exact closed-form posterior mean
    final case class Stats(n: Long, s: Long, aPost: Long, bPost: Long,
      postMean: Double, ciLo: Double, ciHi: Double)
    def statsOf(g: Grid): Stats = {
      val den2 = BigInt(2L * ciAlphaDen)
      val wD = BigInt(g.w)
      val loTh = wD * BigInt(ciAlphaNum.toLong)
      val hiTh = wD * BigInt(2L * ciAlphaDen - ciAlphaNum)
      var ciLo = Double.NaN; var ciHi = Double.NaN
      var foundLo = false; var foundHi = false
      var i = 0
      while (i < gridN && !(foundLo && foundHi)) {
        val cumLe = BigInt(g.cumlt(i) + g.q(i)) * den2
        val x = (2L * i + 1L).toDouble / (2 * gridN).toDouble
        if (!foundLo && cumLe >= loTh) { ciLo = x; foundLo = true }
        if (!foundHi && cumLe >= hiTh) { ciHi = x; foundHi = true }
        i += 1
      }
      val aPost = a0 + g.s
      val bPost = b0 + g.n - g.s
      Stats(g.n, g.s, aPost, bPost,
        aPost.toDouble / (aPost + bPost).toDouble, ciLo, ciHi)
    }
    val peeks = cum.map(_._2).distinct.sorted
    val tArms = arms.filter(_ != control)
    val outRows = peeks.flatMap { p =>
      val gc = grids((control, p))
      val sc = statsOf(gc)
      tArms.map { t =>
        val gt = grids((t, p))
        val st = statsOf(gt)
        // O(N) cumulative-sum identities, exact integer sums
        var pb2 = BigInt(0); var lt2 = BigInt(0); var lc2 = BigInt(0)
        var i = 0
        while (i < gridN) {
          val qt = BigInt(gt.q(i)); val qc = BigInt(gc.q(i))
          pb2 += qt * (BigInt(2L) * BigInt(gc.cumlt(i)) + qc)
          lt2 += qc * (BigInt(i) * BigInt(gt.cumlt(i)) - gt.cumiq(i))
          lc2 += qt * (BigInt(i) * BigInt(gc.cumlt(i)) - gc.cumiq(i))
          i += 1
        }
        val wtD = gt.w.toDouble; val wcD = gc.w.toDouble
        val pBeat = b2d(pb2) / (2d * wtD * wcD)
        val lossArm = b2d(lt2) / (wtD * wcD * gridN.toDouble)
        val lossCtl = b2d(lc2) / (wtD * wcD * gridN.toDouble)
        org.apache.spark.sql.Row(p, t,
          st.n, st.s, st.aPost, st.bPost, st.postMean, st.ciLo, st.ciHi,
          sc.n, sc.s, sc.aPost, sc.bPost, sc.postMean, sc.ciLo, sc.ciHi,
          pBeat, lossArm, lossCtl)
      }
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("peek", LongType), StructField("arm", StringType),
      StructField("n_arm", LongType), StructField("s_arm", LongType),
      StructField("a_arm", LongType), StructField("b_arm", LongType),
      StructField("post_mean_arm", DoubleType),
      StructField("ci_lo_arm", DoubleType), StructField("ci_hi_arm", DoubleType),
      StructField("n_ctl", LongType), StructField("s_ctl", LongType),
      StructField("a_ctl", LongType), StructField("b_ctl", LongType),
      StructField("post_mean_ctl", DoubleType),
      StructField("ci_lo_ctl", DoubleType), StructField("ci_hi_ctl", DoubleType),
      StructField("p_beat_ctl", DoubleType),
      StructField("exp_loss_arm", DoubleType),
      StructField("exp_loss_ctl", DoubleType)))
    import scala.jdk.CollectionConverters._
    cells.sparkSession.createDataFrame(outRows.asJava, schema)
  }
}
