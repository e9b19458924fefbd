package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Survival analysis under RIGHT-CENSORING — the read plain retention
  * curves (graft.operators.Funnel.retention) get wrong on a live
  * corpus: a user whose last event is yesterday hasn't churned, they
  * just haven't been observed long enough, and counting them as
  * churned biases every lifetime estimate downward. Reference scope:
  * none (the reference has no statistics); this extends the q136–q141
  * behavioral family the same way the drift/test layers extend
  * profiling.
  */
object Survival {

  /** Kaplan–Meier product-limit estimator (Kaplan & Meier 1958): the
    * survival curve S(t) from one row per subject — `durationCol` (long
    * integer units: hours, days) and `eventCol` (1 = the terminal event
    * was OBSERVED at that duration, 0 = right-censored there: still
    * alive when observation ended):
    *
    *   S(t) = Π_{s ≤ t, d_s > 0} (1 − d_s/n_s)
    *
    * with d_s the events at duration s and n_s the at-risk count
    * (subjects with duration ≥ s — censored-at-s subjects ARE at risk
    * at s and leave after, the standard events-before-censors
    * convention). Greenwood's variance rides the same pass:
    * se(t) = S(t)·√(Σ_{s≤t} d/(n(n−d))).
    *
    * Determinism (the house product-form discipline, the PageRank/JS
    * nano rule): each event time's ln(1 − d/n) and Greenwood increment
    * d/(n(n−d)) are nano-scaled longs — fixed per-row dags — summed in
    * duration order by ONE cumulative window over the
    * duration-cardinality frame; S = exp(Σ/1e9) and se are fixed dags,
    * gated at 9 decimals. When n_t = d_t (everyone at risk dies) S is
    * EXACTLY 0 from t on (flagged through `__dead`, not ln(0)). Counts
    * (n_risk, n_event, n_censored) are exact longs.
    *
    * SCALE: one (keys, duration) counting aggregation (map-side
    * combine) + cumulative windows over the duration-cardinality frame
    * (integer durations by contract — bucket continuous times first,
    * the q210 discipline; NEVER a per-subject sort). Emits one row per
    * (keys, duration): n_risk, n_event, n_censored, survival,
    * se_greenwood (NULL once S = 0).
    */
  def kaplanMeier(
      df: DataFrame,
      keyCols: Seq[String],
      durationCol: String,
      eventCol: String
  ): DataFrame =
    kaplanMeierFromCells(lifetimeCells(df, keyCols, durationCol, eventCol), keyCols)

  /** Per-(keys, duration) event/censor counts — the ADDITIVE, mergeable
    * state the survival family reduces over: [[kaplanMeierFromCells]]
    * (and through it [[medianSurvival]]) reads this one frame, so a
    * versioned fold of it (the rankCells/valueCells discipline) makes
    * the survival curve a STANDING read over all observed cohorts
    * without rescanning subjects. Duration cardinality is the store
    * bound (integer durations by contract — bucket continuous times
    * first, the q210 discipline).
    */
  def lifetimeCells(
      df: DataFrame,
      keyCols: Seq[String],
      durationCol: String,
      eventCol: String
  ): DataFrame = {
    val g = keyCols.map(col)
    val dur = col(durationCol).cast("long")
    val ev = col(eventCol).cast("long")
    df.filter(dur.isNotNull && ev.isNotNull)
      .groupBy(g :+ dur.as("t"): _*)
      .agg(
        sum(when(ev =!= 0L, 1L).otherwise(0L)).as("n_event"),
        sum(when(ev =!= 0L, 0L).otherwise(1L)).as("n_censored"))
  }

  /** Fold two [[lifetimeCells]] frames over disjoint subject sets. */
  def mergeLifetimeCells(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keyCols.map(col) :+ col("t"): _*)
      .agg(sum("n_event").as("n_event"), sum("n_censored").as("n_censored"))

  /** [[kaplanMeier]] from a (possibly folded) [[lifetimeCells]] frame. */
  def kaplanMeierFromCells(cells: DataFrame, keyCols: Seq[String]): DataFrame = {
    val g = keyCols.map(col)
    val wRisk = Window.partitionBy(g: _*).orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.partitionBy(g: _*).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = cells
      .withColumn("n_risk", sum(col("n_event") + col("n_censored")).over(wRisk))
    val nD = col("n_risk").cast("double")
    val dD = col("n_event").cast("double")
    // nano terms: a no-event time contributes exactly 0 to both sums
    val ln9 = when(col("n_event") === 0L, 0L)
      .when(col("n_event") < col("n_risk"),
        round(log((nD - dD) / nD) * 1e9d).cast("long"))
    val gw9 = when(col("n_event") === 0L, 0L)
      .when(col("n_event") < col("n_risk"),
        round(dD / (nD * (nD - dD)) * 1e9d).cast("long"))
    withRisk
      .withColumn("__ln9", ln9)
      .withColumn("__gw9", gw9)
      // the exhaustion flag: once some s <= t had d_s = n_s, S is 0
      .withColumn("__dead",
        max(when(col("n_event") === col("n_risk"), 1L).otherwise(0L)).over(wCum) === 1L)
      .withColumn("__lnsum9", sum("__ln9").over(wCum))
      .withColumn("__gwsum9", sum("__gw9").over(wCum))
      .withColumn("survival",
        when(col("__dead"), 0d)
          .otherwise(exp(col("__lnsum9").cast("double") / 1e9d)))
      .withColumn("se_greenwood",
        when(!col("__dead"),
          col("survival") * sqrt(col("__gwsum9").cast("double") / 1e9d)))
      .select(g :+ col("t") :+ col("n_risk") :+ col("n_event") :+
        col("n_censored") :+ col("survival") :+ col("se_greenwood"): _*)
  }

  /** Nelson–Aalen cumulative hazard (Nelson 1972; Aalen 1978) from the
    * same [[lifetimeCells]] state as [[kaplanMeierFromCells]] — the
    * HAZARD view of the curve: H(t) = Σ_{s≤t} d_s/n_s accumulates risk
    * additively, so cohort hazards compare by subtraction where
    * survival curves only compare by ratio, and the Fleming–Harrington
    * survival S̃ = e^(−H) is the better-behaved small-sample estimator
    * (never hits exact 0 while anyone is at risk). Aalen's variance
    * Σ d/n² rides the same pass.
    *
    * Determinism: each time's d/n and d/n² are nano longs (fixed
    * per-row dags), ONE duration-ordered cumulative window over the
    * duration-cardinality frame; H, se and S̃ are fixed dags at 9dp.
    * Emits one row per (keys, t): n_risk, n_event, n_censored, hazard,
    * se_hazard, surv_fh.
    */
  def nelsonAalen(
      df: DataFrame,
      keyCols: Seq[String],
      durationCol: String,
      eventCol: String
  ): DataFrame =
    nelsonAalenFromCells(lifetimeCells(df, keyCols, durationCol, eventCol), keyCols)

  /** [[nelsonAalen]] from a (possibly folded) [[lifetimeCells]] frame. */
  def nelsonAalenFromCells(cells: DataFrame, keyCols: Seq[String]): DataFrame = {
    val g = keyCols.map(col)
    val wRisk = Window.partitionBy(g: _*).orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.partitionBy(g: _*).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = cells
      .withColumn("n_risk", sum(col("n_event") + col("n_censored")).over(wRisk))
    val nD = col("n_risk").cast("double")
    val dD = col("n_event").cast("double")
    val h9 = when(col("n_event") === 0L, 0L)
      .otherwise(round(dD / nD * 1e9d).cast("long"))
    val v9 = when(col("n_event") === 0L, 0L)
      .otherwise(round(dD / (nD * nD) * 1e9d).cast("long"))
    withRisk
      .withColumn("__h9", h9)
      .withColumn("__v9", v9)
      .withColumn("__hsum9", sum("__h9").over(wCum))
      .withColumn("__vsum9", sum("__v9").over(wCum))
      .withColumn("hazard", col("__hsum9").cast("double") / 1e9d)
      .withColumn("se_hazard", sqrt(col("__vsum9").cast("double") / 1e9d))
      .withColumn("surv_fh", exp(-col("__hsum9").cast("double") / 1e9d))
      .select(g :+ col("t") :+ col("n_risk") :+ col("n_event") :+
        col("n_censored") :+ col("hazard") :+ col("se_hazard") :+
        col("surv_fh"): _*)
  }

  /** Two-group log-rank test (Mantel 1966; Peto & Peto 1972): do two
    * cohorts' SURVIVAL CURVES differ — the inference companion of
    * [[kaplanMeier]] (KM draws the curves, log-rank tests them), and
    * the right A/B for "does the new onboarding change user lifetime"
    * where a means test ignores censoring. At every pooled event time
    * t, group 1's observed events d₁ₜ are compared to the
    * hypergeometric expectation under "same hazard":
    *
    *   E₁ₜ = dₜ·n₁ₜ/nₜ
    *   Vₜ  = dₜ·(n₁ₜ/nₜ)·(n₂ₜ/nₜ)·(nₜ−dₜ)/(nₜ−1)
    *   z   = (O₁ − ΣE₁ₜ)/√ΣVₜ,   χ² = z²  ~ χ²₁
    *
    * Determinism: subject counts are exact longs (O₁ is an exact
    * integer); each time's E and V are nano longs (fixed per-row dags —
    * the KM discipline) summed order-free; z/χ² are fixed dags at 9dp.
    * Conventions shared with [[graft.quality.Association.mannWhitney]]:
    * groups pivot to (grp_lo, grp_hi) = (min, max) label, ≠2 groups
    * flagged via n_groups with NULL statistics; censored-at-t subjects
    * are at risk at t. NULL z when ΣV = 0 (no comparable event time).
    * The n = 1 boundary follows R `survdiff`/lifelines: E accumulates
    * at EVERY event time (n₁/n is well-defined at n = 1, netting O − E
    * to zero when the last at-risk subject dies), and only V's n − 1
    * divisor needs the n > 1 guard (its contribution is 0 there).
    *
    * SCALE: one (group, duration) counting aggregation; everything
    * after runs on the pooled duration-cardinality frame (reverse
    * cumulative at-risk windows + one summary aggregation) — never a
    * per-subject sort. One row out.
    */
  def logRank(
      df: DataFrame,
      keyCols: Seq[String],
      groupCol: String,
      durationCol: String,
      eventCol: String
  ): DataFrame =
    logRankFromCells(
      lifetimeCells(df.filter(col(groupCol).isNotNull), keyCols :+ groupCol,
        durationCol, eventCol),
      keyCols, groupCol)

  /** [[logRank]] from a (possibly folded) [[lifetimeCells]] frame whose
    * key set is `keyCols :+ groupCol` — the standing censoring-aware
    * A/B: a [[graft.streaming.StreamingOps.lifetimeCellsStream]] fold
    * keyed by the cohort answers "do the arms' curves differ so far"
    * without rescanning subjects, from the SAME state that draws each
    * arm's KM curve ([[kaplanMeierFromCells]]).
    */
  def logRankFromCells(
      cellsIn: DataFrame,
      keyCols: Seq[String],
      groupCol: String
  ): DataFrame =
    logRankPooled(cellsIn, keyCols, Nil, groupCol).drop("n_strata")

  /** Stratified log-rank (Mantel 1966 §6 — the CMH-over-strata form):
    * the confounder-adjusted censoring-aware A/B. Within every stratum
    * the per-event-time hypergeometric O/E/V terms are computed exactly
    * as in [[logRank]] (arms compared only against same-stratum
    * subjects — a language/source mix shift between arms can no longer
    * masquerade as a lifetime effect), then pooled across strata:
    *
    *   z = (Σₛ O₁ₛ − Σₛ ΣE₁ₛₜ) / √(Σₛ ΣVₛₜ),   χ² = z²  ~ χ²₁
    *
    * Determinism: the [[logRank]] nano-term discipline per (stratum,
    * time) row, pooled order-free in DECIMAL — exactly
    * [[graft.quality.Association.cmhFromCounts]]'s pooling discipline.
    * The (grp_lo, grp_hi) pivot is GLOBAL per key set (the same arm is
    * "lo" in every stratum); a stratum where only one arm is at risk
    * self-cancels (E = O, V = 0 — the textbook convention). ≠2 groups
    * overall → NULL statistics via n_groups (the [[logRank]] rule).
    * Emits one row per key set with `n_strata` beside the [[logRank]]
    * columns. SCALE: one (stratum, group, duration) counting
    * aggregation; windows over per-stratum duration-cardinality frames.
    */
  def logRankStratified(
      df: DataFrame,
      keyCols: Seq[String],
      strataCol: String,
      groupCol: String,
      durationCol: String,
      eventCol: String
  ): DataFrame =
    logRankPooled(
      lifetimeCells(
        df.filter(col(groupCol).isNotNull && col(strataCol).isNotNull),
        keyCols ++ Seq(strataCol, groupCol), durationCol, eventCol),
      keyCols, Seq(strataCol), groupCol)

  /** [[logRankStratified]] from a (possibly folded) [[lifetimeCells]]
    * frame whose key set is `keyCols ++ strataCols :+ groupCol`.
    */
  def logRankStratifiedFromCells(
      cellsIn: DataFrame,
      keyCols: Seq[String],
      strataCol: String,
      groupCol: String
  ): DataFrame =
    logRankPooled(cellsIn, keyCols, Seq(strataCol), groupCol)

  /** Shared spine: per-(keys, strata, t) hypergeometric terms, pooled
    * over strata per key set. `strataCols` empty = plain log-rank
    * (n_strata = 1 dropped by the caller).
    */
  private def logRankPooled(
      cellsIn: DataFrame,
      keyCols: Seq[String],
      strataCols: Seq[String],
      groupCol: String
  ): DataFrame = {
    val g = keyCols.map(col)
    val st = strataCols.map(col)
    val cells = cellsIn
      .filter(col(groupCol).isNotNull && strataCols
        .map(col(_).isNotNull).foldLeft(lit(true))(_ && _))
      .select(g ++ st ++ Seq(col(groupCol).cast("string").as("grp"), col("t"),
        col("n_event").as("__d"), col("n_censored").as("__c")): _*)
    val wKey = Window.partitionBy(g: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // GLOBAL 2-group pivot (per key set, across all strata), then the
    // per-stratum pooled time spine (one row per (keys, strata, t))
    val labeled = cells
      .withColumn("__ngrps", size(collect_set(col("grp")).over(wKey)))
      .withColumn("grp_lo", min("grp").over(wKey))
      .withColumn("grp_hi", max("grp").over(wKey))
    val spineKeys = g ++ Seq(col("grp_lo"), col("grp_hi"), col("__ngrps")) ++ st
    val spine = labeled
      .groupBy(spineKeys :+ col("t"): _*)
      .agg(
        sum(when(col("grp") === col("grp_lo"), col("__d")).otherwise(0L)).as("__d1"),
        sum(when(col("grp") === col("grp_lo"), col("__c")).otherwise(0L)).as("__c1"),
        sum(when(col("grp") =!= col("grp_lo"), col("__d")).otherwise(0L)).as("__d2"),
        sum(when(col("grp") =!= col("grp_lo"), col("__c")).otherwise(0L)).as("__c2"))
    val wRisk = Window
      .partitionBy(spineKeys: _*)
      .orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val withRisk = spine
      .withColumn("__n1", sum(col("__d1") + col("__c1")).over(wRisk))
      .withColumn("__n2", sum(col("__d2") + col("__c2")).over(wRisk))
    val n1 = col("__n1").cast("double"); val n2 = col("__n2").cast("double")
    val n = n1 + n2
    val d = (col("__d1") + col("__d2")).cast("double")
    // E at EVERY event time (n1/n is defined at n = 1 — R survdiff's
    // convention); only V's n−1 divisor needs the n > 1 guard
    val atEvent = (col("__d1") + col("__d2")) > 0L
    val e9 = when(atEvent, round(d * n1 / n * 1e9d).cast("long")).otherwise(0L)
    val v9 = when(atEvent && (col("__n1") + col("__n2")) > 1L,
      round(d * (n1 / n) * (n2 / n) * (n - d) / (n - 1d) * 1e9d).cast("long"))
      .otherwise(0L)
    val pooled = withRisk
      .withColumn("__e9", e9)
      .withColumn("__v9", v9)
      .groupBy((g :+ col("grp_lo") :+ col("grp_hi") :+ col("__ngrps")): _*)
      .agg(
        (if (strataCols.isEmpty) lit(1L)
         else size(collect_set(struct(st: _*))).cast("long")).as("n_strata"),
        sum("__d1").as("o_lo"),
        sum(col("__d1") + col("__c1")).as("n_lo"),
        sum(col("__d2") + col("__c2")).as("n_hi"),
        sum(col("__e9").cast("decimal(38,0)")).as("__e9s"),
        sum(col("__v9").cast("decimal(38,0)")).as("__v9s"))
    val two = col("__ngrps") === 2
    val zStat = (col("o_lo").cast("double") - col("__e9s").cast("double") / 1e9d) /
      sqrt(col("__v9s").cast("double") / 1e9d)
    val ok = two && col("__v9s") > 0L
    pooled
      .withColumn("n_groups", col("__ngrps").cast("long"))
      // the mannWhitney flag rule: with ≠2 cohorts every per-side
      // column is NULL (grp_hi would otherwise silently lump groups)
      .withColumn("n_lo", when(two, col("n_lo")))
      .withColumn("n_hi", when(two, col("n_hi")))
      .withColumn("o_lo", when(two, col("o_lo")))
      .withColumn("e_lo_9", when(two, col("__e9s").cast("string")))
      .withColumn("v_9", when(two, col("__v9s").cast("string")))
      .withColumn("z", when(ok, zStat))
      .withColumn("chi2", when(ok, zStat * zStat))
      .select(g :+ col("grp_lo") :+ col("grp_hi") :+ col("n_groups") :+
        col("n_strata") :+ col("n_lo") :+ col("n_hi") :+ col("o_lo") :+
        col("e_lo_9") :+ col("v_9") :+ col("z") :+ col("chi2"): _*)
  }

  /** Fleming–Harrington G(ρ, γ) weighted log-rank (Fleming & Harrington
    * 1991 §7; Harrington & Fleming 1982): the log-rank family tuned to
    * WHERE the curves differ — plain log-rank (ρ = γ = 0) weights every
    * event time equally and has weak power against effects that only
    * open up late (churn interventions, decaying treatment effects) or
    * early (onboarding changes); G(ρ, γ) weights each event time by
    * w_t = Ŝ(t⁻)^ρ·(1 − Ŝ(t⁻))^γ with Ŝ the POOLED Kaplan–Meier, so
    * (ρ=1, γ=0) is the Prentice–Wilcoxon early-difference test and
    * (ρ=0, γ=1) the late-difference test:
    *
    *   z = Σ_t w_t(O₁ₜ − E₁ₜ) / √(Σ_t w_t²·Vₜ),   χ² = z²
    *
    * (E/V the [[logRank]] hypergeometrics, same n = 1 and ≠2-group
    * conventions). ρ = γ = 0 gives w ≡ 1 exactly (empty products) and
    * reduces to [[logRank]] — spec-asserted. Determinism: Ŝ(t⁻) rides
    * the pooled nano-ln chain over PRECEDING spine rows (the
    * [[aalenJohansenFromCells]] discipline) landed to a nano long; w is
    * integer-exponent repeated multiplication (fixed dag); each
    * weighted term lands to a nano long and sums order-free in DECIMAL;
    * z is one division, gated at 9dp. SCALE: the [[logRank]] shape —
    * one (group, duration) counting aggregation + pooled
    * duration-cardinality windows; one row out.
    */
  def logRankWeighted(
      df: DataFrame,
      keyCols: Seq[String],
      groupCol: String,
      durationCol: String,
      eventCol: String,
      rho: Int,
      gamma: Int
  ): DataFrame =
    logRankWeightedFromCells(
      lifetimeCells(df.filter(col(groupCol).isNotNull), keyCols :+ groupCol,
        durationCol, eventCol),
      keyCols, groupCol, rho, gamma)

  /** [[logRankWeighted]] from a (possibly folded) [[lifetimeCells]]
    * frame keyed by `keyCols :+ groupCol` — the standing weighted A/B.
    */
  def logRankWeightedFromCells(
      cellsIn: DataFrame,
      keyCols: Seq[String],
      groupCol: String,
      rho: Int,
      gamma: Int
  ): DataFrame = {
    require(rho >= 0 && gamma >= 0, s"need rho, gamma >= 0: ($rho, $gamma)")
    val g = keyCols.map(col)
    val cells = cellsIn
      .filter(col(groupCol).isNotNull)
      .select(g ++ Seq(col(groupCol).cast("string").as("grp"), col("t"),
        col("n_event").as("__d"), col("n_censored").as("__c")): _*)
    val wKey = Window.partitionBy(g: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val labeled = cells
      .withColumn("__ngrps", size(collect_set(col("grp")).over(wKey)))
      .withColumn("grp_lo", min("grp").over(wKey))
      .withColumn("grp_hi", max("grp").over(wKey))
    val spineKeys = g ++ Seq(col("grp_lo"), col("grp_hi"), col("__ngrps"))
    val spine = labeled
      .groupBy(spineKeys :+ col("t"): _*)
      .agg(
        sum(when(col("grp") === col("grp_lo"), col("__d")).otherwise(0L)).as("__d1"),
        sum(when(col("grp") === col("grp_lo"), col("__c")).otherwise(0L)).as("__c1"),
        sum(when(col("grp") =!= col("grp_lo"), col("__d")).otherwise(0L)).as("__d2"),
        sum(when(col("grp") =!= col("grp_lo"), col("__c")).otherwise(0L)).as("__c2"))
    val wRisk = Window.partitionBy(spineKeys: _*).orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wPrev = Window.partitionBy(spineKeys: _*).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withRisk = spine
      .withColumn("__n1", sum(col("__d1") + col("__c1")).over(wRisk))
      .withColumn("__n2", sum(col("__d2") + col("__c2")).over(wRisk))
    val n1 = col("__n1").cast("double"); val n2 = col("__n2").cast("double")
    val nn = n1 + n2
    val dL = col("__d1") + col("__d2")
    val d = dL.cast("double")
    val nL = col("__n1") + col("__n2")
    // pooled KM left limit: the aalenJohansen __sPrev9 discipline
    val ln9 = when(dL === 0L, 0L)
      .when(dL < nL, round(log((nn - d) / nn) * 1e9d).cast("long"))
    val withS = withRisk
      .withColumn("__ln9", ln9)
      .withColumn("__deadPrev",
        coalesce(max(when(col("__d1") + col("__d2") === nL, 1L).otherwise(0L))
          .over(wPrev), lit(0L)) === 1L)
      .withColumn("__sPrev9",
        when(col("__deadPrev"), 0L)
          .otherwise(round(
            exp(coalesce(sum("__ln9").over(wPrev), lit(0L)).cast("double") / 1e9d)
              * 1e9d).cast("long")))
    // w = S^ρ·(1−S)^γ by integer-exponent repeated multiplication —
    // ρ = γ = 0 is the empty product, EXACTLY 1
    val sD = col("__sPrev9").cast("double") / 1e9d
    val wCol = (Seq.fill(rho)(sD) ++ Seq.fill(gamma)(lit(1d) - sD))
      .foldLeft(lit(1d))(_ * _)
    val atEvent = dL > 0L
    // weighted deviation w·(O₁ − E₁) and weighted variance w²·V, each a
    // nano-landed fixed dag (the logRank E/V conventions inside)
    val t9 = when(atEvent,
      round(wCol * (col("__d1").cast("double") - d * n1 / nn) * 1e9d).cast("long"))
      .otherwise(0L)
    val v9 = when(atEvent && nL > 1L,
      round(wCol * wCol *
        (d * (n1 / nn) * (n2 / nn) * (nn - d) / (nn - 1d)) * 1e9d).cast("long"))
      .otherwise(0L)
    val dec2 = "decimal(38,0)"
    val pooled = withS
      .withColumn("__t9", t9)
      .withColumn("__v9", v9)
      .groupBy((g :+ col("grp_lo") :+ col("grp_hi") :+ col("__ngrps")): _*)
      .agg(
        sum(col("__d1") + col("__c1")).as("n_lo"),
        sum(col("__d2") + col("__c2")).as("n_hi"),
        sum(col("__t9").cast(dec2)).as("__t9s"),
        sum(col("__v9").cast(dec2)).as("__v9s"))
    val two = col("__ngrps") === 2
    val zStat = (col("__t9s").cast("double") / 1e9d) /
      sqrt(col("__v9s").cast("double") / 1e9d)
    val ok = two && col("__v9s") > 0L
    pooled
      .withColumn("n_groups", col("__ngrps").cast("long"))
      .withColumn("rho", lit(rho.toLong))
      .withColumn("gamma", lit(gamma.toLong))
      .withColumn("n_lo", when(two, col("n_lo")))
      .withColumn("n_hi", when(two, col("n_hi")))
      .withColumn("wdev_9", when(two, col("__t9s").cast("string")))
      .withColumn("wvar_9", when(two, col("__v9s").cast("string")))
      .withColumn("z", when(ok, zStat))
      .withColumn("chi2", when(ok, zStat * zStat))
      .select(g :+ col("grp_lo") :+ col("grp_hi") :+ col("n_groups") :+
        col("rho") :+ col("gamma") :+ col("n_lo") :+ col("n_hi") :+
        col("wdev_9") :+ col("wvar_9") :+ col("z") :+ col("chi2"): _*)
  }

  /** Log-rank trend test (Tarone 1975; the ordered-alternatives
    * log-rank): does LIFETIME rise with k ORDERED cohorts (model
    * version, batch tier) — the censoring-aware member of the
    * ordered-alternatives family ([[graft.quality.Association.jonckheereTerpstra]]
    * for locations, cochranArmitage for rates): with integer scores
    * c_j = 1..k by label order (the pageTrend rule),
    *
    *   T = Σ_t Σ_j c_j·(O_jt − E_jt),   E_jt = d_t·n_jt/n_t
    *   Var = Σ_t d_t(n_t−d_t)/(n_t−1) · (Σ c_j²·n_jt/n_t − (Σ c_j·n_jt/n_t)²)
    *
    * (the hypergeometric covariance collapsed onto the linear score
    * combination), z = T/√Var. At k = 2 the score combination nets to
    * ±(O − E) and |z| equals the plain [[logRank]] |z| EXACTLY —
    * spec-asserted. Sign: positive z = MORE events than expected in
    * high-scored cohorts, i.e. lifetime FALLING with the order.
    *
    * Determinism: per-(t) deviation and variance terms are fixed dags
    * over exact at-risk/event integers, nano-landed, summed order-free
    * in DECIMAL; z one division at 9dp. NULL when k < 2 or Var = 0.
    * SCALE: one (group, duration) counting aggregation; per-group
    * reverse-cumulative at-risk windows + one k-bounded per-time
    * aggregation over the (duration × group) spine. One row out.
    */
  def logRankTrend(
      df: DataFrame,
      keyCols: Seq[String],
      groupCol: String,
      durationCol: String,
      eventCol: String
  ): DataFrame =
    logRankTrendFromCells(
      lifetimeCells(df.filter(col(groupCol).isNotNull), keyCols :+ groupCol,
        durationCol, eventCol),
      keyCols, groupCol)

  /** [[logRankTrend]] from a (possibly folded) [[lifetimeCells]] frame
    * keyed by `keyCols :+ groupCol` — the standing ordered A/B/n.
    */
  def logRankTrendFromCells(
      cellsIn: DataFrame,
      keyCols: Seq[String],
      groupCol: String
  ): DataFrame = {
    val g = keyCols.map(col)
    val dec = "decimal(38,0)"
    val cells = cellsIn
      .filter(col(groupCol).isNotNull)
      .select(g ++ Seq(col(groupCol).cast("string").as("grp"), col("t"),
        col("n_event").as("__d"), col("n_censored").as("__c")): _*)
    // integer scores 1..k by label order, attached per group
    val grps = cells.select(g :+ col("grp"): _*).distinct()
      .withColumn("__score",
        row_number().over(Window.partitionBy(g: _*).orderBy(col("grp")))
          .cast("long"))
    val perGT = cells
      .groupBy(g ++ Seq(col("grp"), col("t")): _*)
      .agg(sum("__d").as("__dg"), sum("__c").as("__cg"))
    // the (t) spine: k-bounded per-time aggregation of score moments.
    // A group with NO cell at time t is still at risk there — its n_jt
    // must enter the score moments, so the spine is densified over the
    // (t × group) grid first (the aalenJohansen grid discipline) and
    // the at-risk count recovered as the reverse running sum over the
    // DENSE grid (total entering at or after t)
    val tUni = cells.select(g :+ col("t"): _*).distinct()
    val grid =
      (if (keyCols.isEmpty) tUni.crossJoin(grps) else tUni.join(grps, keyCols))
    val dense = grid.join(perGT, keyCols ++ Seq("grp", "t"), "left_outer")
      .na.fill(0L, Seq("__dg", "__cg"))
      .withColumn("__ngFill",
        sum(col("__dg") + col("__cg")).over(
          Window.partitionBy(g :+ col("grp"): _*).orderBy(col("t"))
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    val perT = dense
      .groupBy(g :+ col("t"): _*)
      .agg(
        sum("__dg").as("__dt"),
        sum("__ngFill").as("__nt"),
        sum(col("__score").cast(dec) * col("__dg").cast(dec)).as("__cd"),
        sum(col("__score").cast(dec) * col("__ngFill").cast(dec)).as("__cn"),
        sum(col("__score").cast(dec) * col("__score").cast(dec) *
          col("__ngFill").cast(dec)).as("__ccn"))
    val dT = col("__dt").cast("double"); val nT = col("__nt").cast("double")
    // deviation Σc(O−E) = Σc·d − d·(Σc·n)/n ; variance per time
    val dev = col("__cd").cast("double") -
      dT * col("__cn").cast("double") / nT
    val meanC = col("__cn").cast("double") / nT
    val varT = dT * (nT - dT) / (nT - 1d) *
      (col("__ccn").cast("double") / nT - meanC * meanC)
    val t9 = when(col("__dt") > 0L,
      round(dev * 1e9d).cast("long")).otherwise(0L)
    val v9 = when(col("__dt") > 0L && col("__nt") > 1L,
      round(varT * 1e9d).cast("long")).otherwise(0L)
    def grouped(d: DataFrame) =
      if (keyCols.isEmpty) d.groupBy() else d.groupBy(g: _*)
    val kUni = grouped(grps).agg(count(lit(1)).as("n_groups"))
    val agg = grouped(perT
        .withColumn("__t9", t9)
        .withColumn("__v9", v9))
      .agg(
        max("__nt").as("__nMax"),
        sum(col("__t9").cast(dec)).as("__t9s"),
        sum(col("__v9").cast(dec)).as("__v9s"))
    val joined =
      if (keyCols.isEmpty) agg.crossJoin(kUni) else agg.join(kUni, keyCols)
    val z = (col("__t9s").cast("double") / 1e9d) /
      sqrt(col("__v9s").cast("double") / 1e9d)
    val ok = col("n_groups") >= 2L && col("__v9s") > 0L
    joined
      .withColumn("n_total", col("__nMax"))
      .withColumn("tdev_9", col("__t9s").cast("string"))
      .withColumn("tvar_9", col("__v9s").cast("string"))
      .withColumn("z", when(ok, z))
      .withColumn("chi2", when(ok, z * z))
      .select(g :+ col("n_groups") :+ col("n_total") :+ col("tdev_9") :+
        col("tvar_9") :+ col("z") :+ col("chi2"): _*)
  }

  /** Restricted mean survival time (Royston & Parmar 2013 popularized;
    * the τ-truncated area under the KM curve): the "average lifetime
    * within the first τ units" summary that stays defined under heavy
    * censoring where the plain mean doesn't and the median may never
    * cross — AND the difference of two cohorts' RMSTs is the
    * honest "extra lifetime bought" effect size the hazard ratio isn't.
    * Read off a [[kaplanMeier]] frame:
    *
    *   RMST(τ) = Σ_i S(t_{i−1})·(t_i − t_{i−1}) + S(t_k)·(τ − t_k)
    *   (t₀ = 0, S(t₀) = 1, over event times t_i ≤ τ)
    *
    * Determinism: each step's survival is nano-landed FIRST
    * (round(1e9·S) — S is already a fixed dag) and multiplied by the
    * exact integer width, so the segment sum is an exact DECIMAL
    * integer summed order-free and RMST is one division — bit-identical
    * cross-engine (a raw double running sum would be order-sensitive).
    * Within 5e-10·τ of the unrounded area (stated). Groups whose curve
    * has no point ≤ τ never dropped below 1: their RMST is exactly τ —
    * emitted via the full key frame, not silently absent. Emits one row
    * per key set: tau, t_last (the last step ≤ τ; 0 when none), rmst.
    */
  def rmst(km: DataFrame, keyCols: Seq[String], tau: Long): DataFrame = {
    require(tau > 0, s"tau must be positive: $tau")
    val dec = "decimal(38,0)"
    val g = keyCols.map(col)
    def grouped(df: DataFrame) =
      if (keyCols.isEmpty) df.groupBy() else df.groupBy(g: _*)
    val wOrd = Window.partitionBy(g: _*).orderBy(col("t"))
    val wLast = Window.partitionBy(g: _*).orderBy(col("t").desc)
    val kept = km.filter(col("t") <= tau)
      .select((g :+ col("t") :+ col("survival")): _*)
      .withColumn("__prevS", lag("survival", 1, 1.0d).over(wOrd))
      .withColumn("__prevT", lag("t", 1, 0L).over(wOrd))
      .withColumn("__isLast", row_number().over(wLast) === 1)
    val seg9 = round(col("__prevS") * 1e9d).cast(dec) *
      (col("t") - col("__prevT")).cast(dec) +
      when(col("__isLast"),
        round(col("survival") * 1e9d).cast(dec) * (lit(tau) - col("t")).cast(dec))
        .otherwise(lit(0L).cast(dec))
    val sums = grouped(kept.withColumn("__seg9", seg9))
      .agg(max(when(col("__isLast"), col("t"))).as("t_last"),
        sum("__seg9").as("__rm9"))
    // groups with no step <= tau (possible when tau undercuts every
    // duration): the curve is still 1 there, RMST = tau exactly
    val universe = grouped(km.select((g :+ col("t")): _*)).agg(count(lit(1)).as("__k"))
    val joined =
      if (keyCols.isEmpty) sums
      else universe.join(sums, keyCols, "left_outer")
    joined
      .withColumn("tau", lit(tau))
      .withColumn("t_last", coalesce(col("t_last"), lit(0L)))
      .withColumn("rmst",
        coalesce(col("__rm9").cast("double") / 1e9d, lit(tau.toDouble)))
      .select((g :+ col("tau") :+ col("t_last") :+ col("rmst")): _*)
  }

  /** Per-(keys, duration, event-type) counts — the competing-risks
    * extension of [[lifetimeCells]]: `eventTypeCol` = 0 marks a
    * right-censored subject, any other value a DISTINCT terminal event
    * (doc deduped-away vs filtered; user converts vs churns). Additive
    * and mergeable ([[mergeLifetimeCellsByType]]); (duration × type)
    * cardinality is the store bound.
    */
  def lifetimeCellsByType(
      df: DataFrame,
      keyCols: Seq[String],
      durationCol: String,
      eventTypeCol: String
  ): DataFrame = {
    val g = keyCols.map(col)
    val dur = col(durationCol).cast("long")
    val ty = col(eventTypeCol).cast("long")
    df.filter(dur.isNotNull && ty.isNotNull)
      .groupBy(g :+ dur.as("t") :+ ty.as("ev_type"): _*)
      .agg(count(lit(1)).as("n"))
  }

  /** Fold two [[lifetimeCellsByType]] frames over disjoint subjects. */
  def mergeLifetimeCellsByType(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keyCols.map(col) :+ col("t") :+ col("ev_type"): _*)
      .agg(sum("n").as("n"))

  /** Aalen–Johansen cumulative incidence (Aalen & Johansen 1978): under
    * COMPETING RISKS, "1 − KM-treating-other-causes-as-censored"
    * overstates every cause's incidence (the classic Gooley et al. 1999
    * bias) — the honest per-cause probability is
    *
    *   CIF_k(t) = Σ_{s ≤ t} S(s⁻) · d_{k,s}/n_s
    *
    * with S the ALL-CAUSE Kaplan–Meier (every non-zero type an event)
    * and d_{k,s} the type-k events at s. KM is the 2-state special
    * case: with ONE event type, CIF_1(t) = 1 − S(t) (spec-asserted
    * invariant), and Σ_k CIF_k(t) + S(t) = 1 at every t.
    *
    * Determinism: S(s⁻) rides the [[kaplanMeierFromCells]] nano-ln
    * chain over PRECEDING rows only, landed to a nano long; each
    * (s, k) term is that long × the nano d_k/n long — an exact
    * DECIMAL product in 10⁻¹⁸ units, summed by one cumulative window
    * per (keys, type) — order-free, gated at 9 decimals. Once some
    * s ≤ t exhausted the risk set (d_s = n_s), S(s⁻) is exactly 0
    * and every later term vanishes (the __dead discipline).
    *
    * SCALE: one (keys, duration, type) counting aggregation; the grid
    * is (duration-cardinality × type-cardinality) — windows only over
    * bounded frames, never a per-subject sort. Emits one row per
    * (keys, t, ev_type ≠ 0): n_risk, n_event (type-k events AT t),
    * survival (all-cause S(t), shared across types), cif.
    */
  def aalenJohansen(
      df: DataFrame,
      keyCols: Seq[String],
      durationCol: String,
      eventTypeCol: String
  ): DataFrame =
    aalenJohansenFromCells(
      lifetimeCellsByType(df, keyCols, durationCol, eventTypeCol), keyCols)

  /** [[aalenJohansen]] from a (possibly folded) [[lifetimeCellsByType]]
    * frame — the standing competing-risks read.
    */
  def aalenJohansenFromCells(cells: DataFrame, keyCols: Seq[String]): DataFrame = {
    val g = keyCols.map(col)
    val dec = "decimal(38,0)"
    // all-cause spine: one row per (keys, t)
    val spine = cells
      .groupBy(g :+ col("t"): _*)
      .agg(
        sum(when(col("ev_type") =!= 0L, col("n")).otherwise(0L)).as("__d"),
        sum(when(col("ev_type") === 0L, col("n")).otherwise(0L)).as("__c"))
    val wRisk = Window.partitionBy(g: _*).orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.partitionBy(g: _*).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.partitionBy(g: _*).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val nD = col("n_risk").cast("double")
    val dD = col("__d").cast("double")
    val ln9 = when(col("__d") === 0L, 0L)
      .when(col("__d") < col("n_risk"), round(log((nD - dD) / nD) * 1e9d).cast("long"))
    val withS = spine
      .withColumn("n_risk", sum(col("__d") + col("__c")).over(wRisk))
      .withColumn("__ln9", ln9)
      .withColumn("__dead",
        coalesce(max(when(col("__d") === col("n_risk"), 1L).otherwise(0L))
          .over(wCum), lit(0L)) === 1L)
      .withColumn("__deadPrev",
        coalesce(max(when(col("__d") === col("n_risk"), 1L).otherwise(0L))
          .over(wPrev), lit(0L)) === 1L)
      .withColumn("survival",
        when(col("__dead"), 0d)
          .otherwise(exp(sum("__ln9").over(wCum).cast("double") / 1e9d)))
      // S(t⁻) landed to nano: the left limit the CIF terms multiply
      .withColumn("__sPrev9",
        when(col("__deadPrev"), 0L)
          .otherwise(round(
            exp(coalesce(sum("__ln9").over(wPrev), lit(0L)).cast("double") / 1e9d)
              * 1e9d).cast("long")))
    // (t × observed-type) grid: every type's CIF readable at every time
    val types = cells.filter(col("ev_type") =!= 0L)
      .select(g :+ col("ev_type"): _*).distinct()
    val grid =
      if (keyCols.isEmpty) withS.crossJoin(broadcast(types))
      else withS.join(types, keyCols)
    val typed = cells.filter(col("ev_type") =!= 0L)
      .select(g :+ col("t") :+ col("ev_type") :+ col("n").as("__dk"): _*)
    val joined = grid.join(typed, keyCols ++ Seq("t", "ev_type"), "left_outer")
      .withColumn("n_event", coalesce(col("__dk"), lit(0L)))
    val hk9 = when(col("n_event") === 0L, 0L)
      .otherwise(round(col("n_event").cast("double") / nD * 1e9d).cast("long"))
    val wCumK = Window.partitionBy(g :+ col("ev_type"): _*).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined
      .withColumn("__term18", col("__sPrev9").cast(dec) * hk9.cast(dec))
      .withColumn("cif", sum("__term18").over(wCumK).cast("double") / 1e18d)
      .select(g :+ col("t") :+ col("ev_type") :+ col("n_risk") :+
        col("n_event") :+ col("survival") :+ col("cif"): _*)
  }

  /** Per-(keys, score-bucket, duration) event/censor counts — the
    * mergeable state behind [[concordanceFromCells]]: score cardinality
    * × duration cardinality is the store bound (bucket continuous
    * scores first — the q210 discipline; a near-unique score column
    * makes the grid rows², which is the contract violation, not a slow
    * path). Additive; [[mergeConcordanceCells]] folds disjoint subjects.
    */
  def concordanceCells(
      df: DataFrame,
      keyCols: Seq[String],
      scoreCol: String,
      durationCol: String,
      eventCol: String
  ): DataFrame = {
    val g = keyCols.map(col)
    val s = col(scoreCol).cast("long")
    val dur = col(durationCol).cast("long")
    val ev = col(eventCol).cast("long")
    df.filter(s.isNotNull && dur.isNotNull && ev.isNotNull)
      .groupBy(g :+ s.as("s") :+ dur.as("t"): _*)
      .agg(
        sum(when(ev =!= 0L, 1L).otherwise(0L)).as("n_event"),
        sum(when(ev =!= 0L, 0L).otherwise(1L)).as("n_censored"))
  }

  /** Fold two [[concordanceCells]] frames over disjoint subjects. */
  def mergeConcordanceCells(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy(keyCols.map(col) :+ col("s") :+ col("t"): _*)
      .agg(sum("n_event").as("n_event"), sum("n_censored").as("n_censored"))

  /** Harrell's concordance index (Harrell et al. 1982) from a (folded)
    * [[concordanceCells]] frame — does a RISK SCORE predict censored
    * lifetime: over comparable subject pairs, the fraction where the
    * earlier-failing subject carried the HIGHER score. The
    * censoring-aware AUC — [[graft.operators.RankEval.auc]] on survival
    * data silently treats censored subjects as real lifetimes and
    * biases the ranking read; C uses exactly the pairs censoring leaves
    * decidable. Conventions (Harrell classic, the scikit-survival
    * rules, stated): pair (i, j) is COMPARABLE iff i has an event and j
    * outlives it — t_j > t_i, or t_j = t_i with j censored
    * (events-before-censors, the [[kaplanMeier]] convention); two
    * events at the SAME time are not comparable; score ties among
    * comparable pairs count ½ (the [[graft.operators.RankEval.auc]]
    * tie rule). C = (concordant + ½·tied)/comparable.
    *
    * Exactness: all pair counts are EXACT DECIMAL integers — never pair
    * enumeration: on the dense (score × duration) grid, "outlived
    * (s, t)" is one duration-suffix window per score, and the
    * lower/higher-score splits are one score-prefix window per duration
    * (the 2D dominance count); concordant/discordant/tied are
    * Σ d_{s,t}·split products. C is ONE division of exact integers
    * (2·conc + tied over 2·comparable), NULL when no pair is comparable.
    *
    * SCALE: one counting aggregation over subjects; the grid is
    * (score-cardinality × duration-cardinality) with windows over its
    * bounded rows and columns — never a per-subject sort, never pairs².
    */
  def concordanceFromCells(cells: DataFrame, keyCols: Seq[String]): DataFrame = {
    val g = keyCols.map(col)
    val dec = "decimal(38,0)"
    val sUni = cells.select(g :+ col("s"): _*).distinct()
    val tUni = cells.select(g :+ col("t"): _*).distinct()
    val grid =
      if (keyCols.isEmpty) sUni.crossJoin(tUni)
      else sUni.join(tUni, keyCols)
    val full = grid.join(cells, keyCols ++ Seq("s", "t"), "left_outer")
      .na.fill(0L, Seq("n_event", "n_censored"))
    val wSuf = Window.partitionBy(g :+ col("s"): _*).orderBy(col("t"))
      .rowsBetween(1, Window.unboundedFollowing)
    val wLower = Window.partitionBy(g :+ col("t"): _*).orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAllS = Window.partitionBy(g :+ col("t"): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withOut = full
      // subjects of score s that OUTLIVE an event at t: later durations
      // plus the censored-at-t (events-before-censors)
      .withColumn("__out",
        coalesce(sum(col("n_event") + col("n_censored")).over(wSuf), lit(0L)) +
          col("n_censored"))
    val split = withOut
      .withColumn("__lower", coalesce(sum(col("__out")).over(wLower), lit(0L)))
      .withColumn("__totOut", sum(col("__out")).over(wAllS))
      .withColumn("__higher", col("__totOut") - col("__lower") - col("__out"))
    def grouped(d: DataFrame) =
      if (keyCols.isEmpty) d.groupBy() else d.groupBy(g: _*)
    val dd = col("n_event").cast(dec)
    val agg = grouped(split)
      .agg(
        sum(dd * col("__lower").cast(dec)).as("__conc"),
        sum(dd * col("__higher").cast(dec)).as("__disc"),
        sum(dd * col("__out").cast(dec)).as("__tied"))
    val comparable = col("__conc") + col("__disc") + col("__tied")
    agg
      .withColumn("concordant", col("__conc").cast("string"))
      .withColumn("discordant", col("__disc").cast("string"))
      .withColumn("tied_score", col("__tied").cast("string"))
      .withColumn("n_comparable", comparable.cast("string"))
      .withColumn("c_index",
        when(comparable > lit(0L).cast(dec),
          (lit(2L).cast(dec) * col("__conc") + col("__tied")).cast("double") /
            (lit(2L).cast(dec) * comparable).cast("double")))
      .select(g :+ col("concordant") :+ col("discordant") :+
        col("tied_score") :+ col("n_comparable") :+ col("c_index"): _*)
  }

  /** [[concordanceFromCells]] over raw subjects. */
  def concordance(
      df: DataFrame,
      keyCols: Seq[String],
      scoreCol: String,
      durationCol: String,
      eventCol: String
  ): DataFrame =
    concordanceFromCells(
      concordanceCells(df, keyCols, scoreCol, durationCol, eventCol), keyCols)

  /** Median survival time — the smallest duration with S(t) ≤ 1/2,
    * read off a [[kaplanMeier]] frame: one filtered min per key set
    * (NULL when the curve never crosses — more than half the cohort
    * outlives the observation window, the right answer a naive median
    * of durations gets wrong under censoring).
    */
  def medianSurvival(km: DataFrame, keyCols: Seq[String]): DataFrame = {
    val g = keyCols.map(col)
    if (keyCols.isEmpty)
      km.agg(min(when(col("survival") <= 0.5d, col("t"))).as("median_survival"))
    else
      km.groupBy(g: _*)
        .agg(min(when(col("survival") <= 0.5d, col("t"))).as("median_survival"))
  }

  /** The composed SURVIVAL dashboard — the q326 pattern applied to the
    * lifetime-cell store: ONE (cohort, duration) cell state answering
    * the whole censoring-aware A/B in one read — per-cohort event
    * totals, [[kaplanMeierFromCells]] → [[medianSurvival]] medians and
    * [[rmst]] restricted means (and their difference, the effect-size
    * read), plus the [[logRankFromCells]] test — every stage THE gated
    * operator, fed from the same cells, pivoted onto the (grp_lo,
    * grp_hi) = (min, max) house orientation. The cell state is
    * materialized ONCE as a local relation before the stage fan-out
    * (the bounded driver fold, duration × cohort cardinality), so
    * reading the dashboard from a standing store touches no row-scale
    * data at all. ≠2 cohorts NULL the comparative columns via the
    * [[logRank]] n_groups flag; per-cohort facts (events, median, rmst)
    * stay populated. One row out.
    */
  def survivalDashboardFromCells(
      cells: DataFrame,
      groupCol: String,
      tau: Long
  ): DataFrame = {
    require(tau > 0, s"tau must be positive: $tau")
    val spark = cells.sparkSession
    import scala.jdk.CollectionConverters._
    val local = spark.createDataFrame(
      cells.collect().toSeq.asJava, cells.schema)
    val km = kaplanMeierFromCells(local, Seq(groupCol))
    val med = medianSurvival(km, Seq(groupCol))
    val rm = rmst(km, Seq(groupCol), tau).select(col(groupCol), col("rmst"))
    val counts = local.groupBy(col(groupCol))
      .agg(sum(col("n_event")).as("__d"))
    val per = counts.join(med, Seq(groupCol)).join(rm, Seq(groupCol))
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val piv = per
      .withColumn("grp_lo", min(col(groupCol)).over(wAll))
      .withColumn("grp_hi", max(col(groupCol)).over(wAll))
      .groupBy(col("grp_lo"), col("grp_hi"))
      .agg(
        max(when(col(groupCol) === col("grp_lo"), col("__d"))).as("events_lo"),
        max(when(col(groupCol) === col("grp_hi"), col("__d"))).as("events_hi"),
        max(when(col(groupCol) === col("grp_lo"), col("median_survival"))).as("median_lo"),
        max(when(col(groupCol) === col("grp_hi"), col("median_survival"))).as("median_hi"),
        max(when(col(groupCol) === col("grp_lo"), col("rmst"))).as("rmst_lo"),
        max(when(col(groupCol) === col("grp_hi"), col("rmst"))).as("rmst_hi"))
    val lr = logRankFromCells(local, Nil, groupCol)
    val two = col("n_groups") === 2L
    lr.join(piv, Seq("grp_lo", "grp_hi"))
      .withColumn("tau", lit(tau))
      .withColumn("rmst_diff", when(two, col("rmst_lo") - col("rmst_hi")))
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"),
        col("n_lo"), col("n_hi"), col("events_lo"), col("events_hi"),
        col("median_lo"), col("median_hi"), col("tau"),
        col("rmst_lo"), col("rmst_hi"), col("rmst_diff"),
        col("o_lo"), col("e_lo_9"), col("v_9"), col("z"), col("chi2"))
  }

  /** Cox proportional hazards, single INTEGER covariate (Cox 1972;
    * Breslow 1974 for ties) — the canonical "how much does z move the
    * hazard" read beside KM/log-rank/RMST: the hazard model
    * λ(t|z) = λ₀(t)·e^{βz}, β̂ maximizing the Breslow partial
    * likelihood. The covariate is integer-valued with BOUNDED
    * cardinality (the lifetime-cell contract: bucket continuous
    * covariates first — a binary z is the two-group Cox whose β=0
    * score test IS the log-rank numerator).
    *
    * STATE: the EXISTING [[lifetimeCells]] store keyed by the covariate
    * value — per (keys, z, t) event/censor counts, additive and
    * mergeable. Every risk-set quantity the likelihood needs is a sum
    * over that state: S_r(β, t) = Σ_z n_risk(z, t)·zʳ·e^{βz}, r=0,1,2.
    *
    * FIXED-ROUND NEWTON (the PageRank/k-core fixed-iteration
    * discipline): β₀ = 0, then `iters` (default 8) Newton steps
    * β ← β + U(β)/I(β) over the cell-bounded risk frame, plus ONE
    * final evaluation pass for I(β̂) → se. Quadratic convergence puts
    * any practically identifiable β at machine precision well inside
    * 8 rounds; a non-identifiable fit (monotone likelihood — e.g. the
    * covariate perfectly orders the events) keeps stepping and is
    * reported honestly: `converged` = (the 9dp-landed last step is
    * exactly 0), never a silent clamp. CONTRACT: β̂·(z − min z) must
    * stay ≤ 30 (rescale covariate buckets otherwise); a step outside
    * it NULLs the fit via the `__bad` flag rather than overflowing.
    *
    * DETERMINISM (the logRank nano-term discipline, extended to the
    * iteration): the covariate SHIFTS to z' = z − min(z) (the partial
    * likelihood is shift-invariant — spec-pinned — and one-sided z'
    * bounds e^{βz'}); per (z, t) the kernel e^{βz'} lands as a 1e9
    * long so S₀/S₁/S₂ are EXACT DECIMAL sums (order-free); per event
    * time the U/I terms are fixed double dags landed at 1e9 and summed
    * order-free in DECIMAL; each β update is one division. The oracle
    * replays all `iters`+1 passes with the identical float order.
    *
    * Emits one row per key set: n, n_events, cov_min, u0_9/i0_9 (the
    * β=0 score pieces, exact digit strings), z_score = U₀/√I₀ (ties:
    * Breslow's variance, NOT the hypergeometric (n−d)/(n−1) of
    * [[logRank]] — equal when event times are distinct, spec-pinned),
    * beta, se_beta, hr = e^β, last_step9, converged, n_iter. NULL
    * statistics when no events, no covariate variation (I ≤ 0), or the
    * β·z' bound trips.
    *
    * SCALE: ONE row-scale counting aggregation upstream
    * ([[lifetimeCells]]); the completed (z × t) risk grid is
    * cell-bounded and MATERIALIZES ONCE (the
    * [[graft.quality.AbDashboard.materialize]] eager-execution
    * contract), so the `iters`+1 passes re-aggregate a local relation,
    * never the subjects.
    */
  def coxPh(
      df: DataFrame,
      keyCols: Seq[String],
      durationCol: String,
      eventCol: String,
      covCol: String,
      iters: Int = 8
  ): DataFrame =
    coxPhFromCells(
      lifetimeCells(df.filter(col(covCol).isNotNull),
        keyCols :+ covCol, durationCol, eventCol),
      keyCols, covCol, iters)

  /** [[coxPh]] from a (possibly folded) [[lifetimeCells]] frame whose
    * key set is `keyCols :+ covCol` — the standing hazard-model read
    * over the SAME store that draws the KM curves and log-rank tests.
    */
  def coxPhFromCells(
      cellsIn: DataFrame,
      keyCols: Seq[String],
      covCol: String,
      iters: Int = 8
  ): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters must be in [1, 32]: $iters")
    val g = keyCols.map(col)
    val cells = cellsIn.select(g ++ Seq(col(covCol).cast("long").as("__z"),
      col("t"), col("n_event").cast("long").as("__d"),
      col("n_censored").cast("long").as("__c")): _*)
    // the completed (z × t) grid: r(z, t) must exist at every event
    // time for every covariate level still at risk, cell row or not
    val zs = cells.select(g :+ col("__z"): _*).distinct()
    val ts = cells.select(g :+ col("t"): _*).distinct()
    val gridKeys = if (keyCols.isEmpty) zs.crossJoin(ts) else zs.join(ts, keyCols)
    val full = gridKeys
      .join(cells, keyCols ++ Seq("__z", "t"), "left")
      .select(g ++ Seq(col("__z"), col("t"),
        coalesce(col("__d"), lit(0L)).as("__d"),
        coalesce(col("__c"), lit(0L)).as("__c")): _*)
    val wRisk = Window.partitionBy(g :+ col("__z"): _*).orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wKey = Window.partitionBy(g: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val riskAll = full
      .withColumn("__r", sum(col("__d") + col("__c")).over(wRisk))
      .withColumn("__zmin", min("__z").over(wKey))
      .withColumn("__zp", col("__z") - col("__zmin"))
    // localize ONCE: (z × t)-bounded, then fold the iters+1 Newton
    // passes ON THE DRIVER over the collected grid (the chiSquareStat
    // bounded-driver-fold idiom, r17 optimization): the lazily-composed
    // engine dag ran 9 passes × (broadcast + two aggregations) as ~46
    // scheduler jobs over a ≤(z × t)-row local relation — pure fixed
    // cost at any scale. Every float/decimal op below replicates the
    // engine expression IT REPLACED bit-for-bit (Round = HALF_UP on the
    // shortest-decimal reading of the double, decimal sums = exact
    // BigInt, decimal→double = correctly-rounded nearest), so the
    // DuckDB oracle — which replays the same fixed dags — still hashes
    // identically; the gates at both SFs and the differential fuzz pin
    // that equivalence.
    val riskRows = graft.plans.Local.rowsOrFail(riskAll, "coxPhFromCells")
    val rs = riskAll.schema
    val zi = rs.fieldIndex("__z"); val ti = rs.fieldIndex("t")
    val di = rs.fieldIndex("__d"); val ci = rs.fieldIndex("__c")
    val ri = rs.fieldIndex("__r"); val zmi = rs.fieldIndex("__zmin")
    val zpi = rs.fieldIndex("__zp")
    val kIdx = keyCols.map(rs.fieldIndex)
    final case class Cell(z: Long, t: Long, d: Long, c: Long, r: Long,
      zmin: Long, zp: Long)
    def cellOf(r: org.apache.spark.sql.Row) = Cell(r.getLong(zi), r.getLong(ti),
      r.getLong(di), r.getLong(ci), r.getLong(ri), r.getLong(zmi), r.getLong(zpi))
    val groups: Seq[(Seq[Any], Seq[Cell])] =
      if (keyCols.isEmpty) Seq(Seq.empty[Any] -> riskRows.toSeq.map(cellOf))
      else riskRows.toSeq.groupBy(r => kIdx.map(r.get): Seq[Any])
        .view.mapValues(_.map(cellOf)).toSeq
        // a NULL key never equi-joins: the engine dag's inner joins
        // dropped such groups, so the fold does too
        .filter(!_._1.contains(null))
    // (beta carried through the pass, ΣU₉, ΣI₉, Σbad) — None = SQL NULL
    final case class Pass(beta: Option[Double], u9: Option[BigInt],
      i9: Option[BigInt], bad: Option[Long])
    def rnd0(x: Double): Double = // Spark Round(double, 0)
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
    def toDec(x: Double): BigInt = // Spark Cast(double → decimal(38,0))
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
    def d2d(b: BigInt): Double = // Spark Cast(decimal → double)
      new java.math.BigDecimal(b.bigInteger).doubleValue
    def pass(rows: Seq[Cell], beta: Option[Double]): Pass = {
      val perRow = rows.map { cl =>
        val bz = beta.map(_ * cl.zp.toDouble)
        val ez9 = bz.filter(_ <= 30d).map(b => toDec(rnd0(math.exp(b) * 1e9d)))
        val over = if (bz.exists(_ > 30d)) 1L else 0L
        (cl, ez9, over)
      }
      val terms = perRow.groupBy(_._1.t).valuesIterator.flatMap { grp =>
        val dt = grp.iterator.map(_._1.d).sum
        if (dt <= 0L) None else Some {
          val s1t = grp.iterator.map(x => BigInt(x._1.z) * BigInt(x._1.d)).sum
          val sm1t = grp.iterator.map(x => BigInt(x._1.zmin) * BigInt(x._1.d)).sum
          val live = grp.filter(_._2.isDefined)
          val bad = grp.iterator.map(_._3).sum
          val u9i9: (Option[BigInt], Option[BigInt]) =
            if (live.isEmpty) (None, None)
            else {
              val s0 = live.iterator.map(x => BigInt(x._1.r) * x._2.get).sum
              val s1 = live.iterator.map(x => BigInt(x._1.r) * BigInt(x._1.zp) * x._2.get).sum
              val s2 = live.iterator.map(x => BigInt(x._1.r) * BigInt(x._1.zp) * BigInt(x._1.zp) * x._2.get).sum
              val s0d = d2d(s0)
              val r1 = d2d(s1) / s0d
              val r2 = d2d(s2) / s0d
              val s1p = d2d(s1t - sm1t)
              val dD = dt.toDouble
              (Some(toDec(rnd0((s1p - dD * r1) * 1e9d))),
                Some(toDec(rnd0((dD * (r2 - r1 * r1)) * 1e9d))))
            }
          (u9i9._1, u9i9._2, bad)
        }
      }.toSeq
      if (terms.isEmpty) Pass(None, None, None, None)
      else Pass(
        if (beta.isDefined) beta else None,
        Some(terms.flatMap(_._1)).filter(_.nonEmpty).map(_.sum),
        Some(terms.flatMap(_._2)).filter(_.nonEmpty).map(_.sum),
        Some(terms.iterator.map(_._3).sum))
    }
    // stepOf: when(bad = 0 AND i9 > 0, beta + U/I) — else SQL NULL
    def stepOf(p: Pass): (Option[Double], Option[Double]) = {
      val ok = p.bad.contains(0L) && p.i9.exists(_ > 0)
      if (!ok) (None, None)
      else {
        val delta = d2d(p.u9.get) / d2d(p.i9.get)
        (p.beta.map(_ + delta), Some(delta))
      }
    }
    val outRows = groups.flatMap { case (key, rows) =>
      val nz = rows.filter(cl => cl.d + cl.c > 0L)
      // a keyed group with no data rows OR no event time (all censored)
      // produced NO perT/fin rows in the engine dag, so the inner joins
      // dropped it; replicate both drops (global keyCols=Nil keeps its
      // one null-aggregate row either way)
      val hasEventTime = rows.groupBy(_.t).valuesIterator
        .exists(_.iterator.map(_.d).sum > 0L)
      if (keyCols.nonEmpty && (nz.isEmpty || !hasEventTime)) None
      else Some {
        val n = if (nz.isEmpty) null else Long.box(nz.iterator.map(cl => cl.d + cl.c).sum)
        val nEvents = if (nz.isEmpty) null else Long.box(nz.iterator.map(_.d).sum)
        val covMin = if (nz.isEmpty) null else Long.box(nz.iterator.map(_.zmin).max)
        val first = pass(rows, Some(0d))
        val u09 = first.u9.map(_.toString).orNull
        val i09 = first.i9.map(_.toString).orNull
        val zScore: Any =
          if (first.i9.exists(_ > 0))
            first.u9.map(u => Double.box(d2d(u) / 1e9d / math.sqrt(d2d(first.i9.get) / 1e9d))).orNull
          else null
        var state = stepOf(first)
        for (_ <- 2 to iters) state = stepOf(pass(rows, state._1))
        val fin = pass(rows, state._1)
        val okF = fin.bad.contains(0L) && fin.i9.exists(_ > 0) && fin.beta.isDefined
        val last9 = if (okF) state._2.map(s => Long.box(rnd0(s * 1e9d).toLong)).orNull else null
        val betaOut = if (okF) fin.beta.map(Double.box).orNull else null
        val seOut = if (okF) Double.box(1d / math.sqrt(d2d(fin.i9.get) / 1e9d)) else null
        val hrOut = if (okF) fin.beta.map(b => Double.box(math.exp(b))).orNull else null
        val conv: Any =
          if (!okF) Boolean.box(false)
          else if (last9 == null) null // unreachable given okF ⇒ step defined
          else Boolean.box(last9.asInstanceOf[java.lang.Long].longValue == 0L)
        org.apache.spark.sql.Row.fromSeq(key ++ Seq(n, nEvents, covMin,
          u09, i09, zScore, betaOut, seOut, hrOut, last9, conv, Int.box(iters)))
      }
    }
    import org.apache.spark.sql.types._
    val outSchema = StructType(
      keyCols.map(k => rs(rs.fieldIndex(k))) ++ Seq(
        StructField("n", LongType), StructField("n_events", LongType),
        StructField("cov_min", LongType), StructField("u0_9", StringType),
        StructField("i0_9", StringType), StructField("z_score", DoubleType),
        StructField("beta", DoubleType), StructField("se_beta", DoubleType),
        StructField("hr", DoubleType), StructField("last_step9", LongType),
        StructField("converged", BooleanType), StructField("n_iter", IntegerType)))
    import scala.jdk.CollectionConverters._
    cellsIn.sparkSession.createDataFrame(outRows.asJava, outSchema)
  }

  /** Cox proportional hazards with TWO integer covariates (the
    * [[coxPh]] model widened the way real fits are run — "the effect
    * of treatment CONTROLLING FOR activity"): λ(t|z₁,z₂) =
    * λ₀(t)·e^{β₁z₁+β₂z₂}, β̂ maximizing the Breslow partial likelihood,
    * fixed-round NEWTON with the 2×2 information solved by CRAMER (the
    * cupedMulti2 exact-determinant discipline): per event time the
    * risk sums S₀, S₁ = (S₁ₐ, S₁ᵦ), S₂ = [S₂ₐₐ S₂ₐᵦ; S₂ₐᵦ S₂ᵦᵦ] from
    * 1e9-landed kernels e^{β₁z₁'+β₂z₂'} (both covariates SHIFTED to
    * zero minimum — PL-invariant), the six nano-landed U/I terms
    * summed order-free in DECIMAL, then
    *
    *   det₉ = I₉ₐₐ·I₉ᵦᵦ − I₉ₐᵦ²  (EXACT decimal — a collinear pair
    *     gives det₉ = 0 exactly, never a rounding-noise fit),
    *   Δₐ = (I₉ᵦᵦ·U₉ₐ − I₉ₐᵦ·U₉ᵦ)/det₉, Δᵦ symmetric (exact integer
    *     numerators, one division each),
    *   se_a = √(I₉ᵦᵦ·10⁹/det₉), se_b symmetric (the inverse diagonal),
    *
    * plus the β = 0 SCORE read: u0a_9/u0b_9/det0_9 exact digit
    * strings and the 2-df score χ² = U₀ᵀI₀⁻¹U₀ (float, pinned order).
    * CONTRACT: bounded-cardinality integer covariates (bucket first);
    * β₁z₁' + β₂z₂' ≤ 30 or the `bad` flag NULLs the fit; NULL when no
    * events, det₉ ≤ 0 (collinear or no variation), or the bound trips.
    * `converged` = both 9dp-landed last steps exactly 0.
    *
    * SCALE: identical to [[coxPh]] — ONE row-scale counting
    * aggregation; the completed ((z₁,z₂) × t) grid localizes once and
    * the iters+1 passes re-aggregate a local relation.
    */
  def coxPh2(
      df: DataFrame,
      keyCols: Seq[String],
      durationCol: String,
      eventCol: String,
      covCol1: String,
      covCol2: String,
      iters: Int = 8
  ): DataFrame =
    coxPh2FromCells(
      lifetimeCells(df.filter(col(covCol1).isNotNull && col(covCol2).isNotNull),
        keyCols ++ Seq(covCol1, covCol2), durationCol, eventCol),
      keyCols, covCol1, covCol2, iters)

  /** [[coxPh2]] from a (possibly folded) [[lifetimeCells]] frame whose
    * key set is `keyCols ++ Seq(covCol1, covCol2)`.
    */
  def coxPh2FromCells(
      cellsIn: DataFrame,
      keyCols: Seq[String],
      covCol1: String,
      covCol2: String,
      iters: Int = 8
  ): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters must be in [1, 32]: $iters")
    val g = keyCols.map(col)
    val cells = cellsIn.select(g ++ Seq(
      col(covCol1).cast("long").as("__za"), col(covCol2).cast("long").as("__zb"),
      col("t"), col("n_event").cast("long").as("__d"),
      col("n_censored").cast("long").as("__c")): _*)
    // the completed ((za, zb) × t) grid — PAIRS actually present, not
    // their cross product (absent combinations carry no risk mass)
    val zs = cells.select(g ++ Seq(col("__za"), col("__zb")): _*).distinct()
    val ts = cells.select(g :+ col("t"): _*).distinct()
    val gridKeys = if (keyCols.isEmpty) zs.crossJoin(ts) else zs.join(ts, keyCols)
    val full = gridKeys
      .join(cells, keyCols ++ Seq("__za", "__zb", "t"), "left")
      .select(g ++ Seq(col("__za"), col("__zb"), col("t"),
        coalesce(col("__d"), lit(0L)).as("__d"),
        coalesce(col("__c"), lit(0L)).as("__c")): _*)
    val wRisk = Window.partitionBy(g ++ Seq(col("__za"), col("__zb")): _*)
      .orderBy(col("t"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wKey = Window.partitionBy(g: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val riskAll = full
      .withColumn("__r", sum(col("__d") + col("__c")).over(wRisk))
      .withColumn("__zamin", min("__za").over(wKey))
      .withColumn("__zbmin", min("__zb").over(wKey))
      .withColumn("__zap", col("__za") - col("__zamin"))
      .withColumn("__zbp", col("__zb") - col("__zbmin"))
    // localize ONCE, then fold the iters+1 2-covariate Newton passes ON
    // THE DRIVER over the collected ((za,zb) × t) grid — the same
    // bounded-driver-fold rewrite as [[coxPhFromCells]] (r17
    // optimization; see the determinism note there): every float/decimal
    // op replicates the engine expression it replaced bit-for-bit, the
    // Cramer determinant and step numerators stay EXACT BigInt.
    val riskRows = graft.plans.Local.rowsOrFail(riskAll, "coxPh2FromCells")
    val rs = riskAll.schema
    val ti = rs.fieldIndex("t")
    val di = rs.fieldIndex("__d"); val ci = rs.fieldIndex("__c")
    val ri = rs.fieldIndex("__r")
    val zami = rs.fieldIndex("__zamin"); val zbmi = rs.fieldIndex("__zbmin")
    val zapi = rs.fieldIndex("__zap"); val zbpi = rs.fieldIndex("__zbp")
    val kIdx = keyCols.map(rs.fieldIndex)
    final case class Cell(t: Long, d: Long, c: Long, r: Long,
      zamin: Long, zbmin: Long, zap: Long, zbp: Long)
    def cellOf(r: org.apache.spark.sql.Row) = Cell(r.getLong(ti),
      r.getLong(di), r.getLong(ci), r.getLong(ri),
      r.getLong(zami), r.getLong(zbmi), r.getLong(zapi), r.getLong(zbpi))
    val groups: Seq[(Seq[Any], Seq[Cell])] =
      if (keyCols.isEmpty) Seq(Seq.empty[Any] -> riskRows.toSeq.map(cellOf))
      else riskRows.toSeq.groupBy(r => kIdx.map(r.get): Seq[Any])
        .view.mapValues(_.map(cellOf)).toSeq
        .filter(!_._1.contains(null)) // NULL keys never equi-join
    final case class Pass(ba: Option[Double], bb: Option[Double],
      ua9: Option[BigInt], ub9: Option[BigInt], iaa9: Option[BigInt],
      iab9: Option[BigInt], ibb9: Option[BigInt], bad: Option[Long])
    def rnd0(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble
    def toDec(x: Double): BigInt =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
    def d2d(b: BigInt): Double =
      new java.math.BigDecimal(b.bigInteger).doubleValue
    def pass(rows: Seq[Cell], ba: Option[Double], bb: Option[Double]): Pass = {
      val perRow = rows.map { cl =>
        // bz = ba*zap + bb*zbp — SQL null if either beta is null
        val bz = for (a <- ba; b <- bb)
          yield a * cl.zap.toDouble + b * cl.zbp.toDouble
        val ez9 = bz.filter(_ <= 30d).map(b => toDec(rnd0(math.exp(b) * 1e9d)))
        val over = if (bz.exists(_ > 30d)) 1L else 0L
        (cl, ez9, over)
      }
      val terms = perRow.groupBy(_._1.t).valuesIterator.flatMap { grp =>
        val dt = grp.iterator.map(_._1.d).sum
        if (dt <= 0L) None else Some {
          val s1at = grp.iterator.map(x => BigInt(x._1.zap) * BigInt(x._1.d)).sum
          val s1bt = grp.iterator.map(x => BigInt(x._1.zbp) * BigInt(x._1.d)).sum
          val live = grp.filter(_._2.isDefined)
          val bad = grp.iterator.map(_._3).sum
          if (live.isEmpty)
            (None: Option[BigInt], None: Option[BigInt], None: Option[BigInt],
              None: Option[BigInt], None: Option[BigInt], bad)
          else {
            val s0 = live.iterator.map(x => BigInt(x._1.r) * x._2.get).sum
            val s1a = live.iterator.map(x => BigInt(x._1.r) * BigInt(x._1.zap) * x._2.get).sum
            val s1b = live.iterator.map(x => BigInt(x._1.r) * BigInt(x._1.zbp) * x._2.get).sum
            val s2aa = live.iterator.map(x => BigInt(x._1.r) * BigInt(x._1.zap) * BigInt(x._1.zap) * x._2.get).sum
            val s2ab = live.iterator.map(x => BigInt(x._1.r) * BigInt(x._1.zap) * BigInt(x._1.zbp) * x._2.get).sum
            val s2bb = live.iterator.map(x => BigInt(x._1.r) * BigInt(x._1.zbp) * BigInt(x._1.zbp) * x._2.get).sum
            val s0d = d2d(s0)
            val r1a = d2d(s1a) / s0d; val r1b = d2d(s1b) / s0d
            val r2aa = d2d(s2aa) / s0d; val r2ab = d2d(s2ab) / s0d
            val r2bb = d2d(s2bb) / s0d
            val dD = dt.toDouble
            (Some(toDec(rnd0((d2d(s1at) - dD * r1a) * 1e9d))),
              Some(toDec(rnd0((d2d(s1bt) - dD * r1b) * 1e9d))),
              Some(toDec(rnd0((dD * (r2aa - r1a * r1a)) * 1e9d))),
              Some(toDec(rnd0((dD * (r2ab - r1a * r1b)) * 1e9d))),
              Some(toDec(rnd0((dD * (r2bb - r1b * r1b)) * 1e9d))), bad)
          }
        }
      }.toSeq
      if (terms.isEmpty) Pass(None, None, None, None, None, None, None, None)
      else Pass(ba, bb,
        Some(terms.flatMap(_._1)).filter(_.nonEmpty).map(_.sum),
        Some(terms.flatMap(_._2)).filter(_.nonEmpty).map(_.sum),
        Some(terms.flatMap(_._3)).filter(_.nonEmpty).map(_.sum),
        Some(terms.flatMap(_._4)).filter(_.nonEmpty).map(_.sum),
        Some(terms.flatMap(_._5)).filter(_.nonEmpty).map(_.sum),
        Some(terms.iterator.map(_._6).sum))
    }
    // EXACT determinant and step numerators (BigInt — the decimal dag)
    final case class Det(det9: Option[BigInt], na: Option[BigInt], nb: Option[BigInt])
    def detOf(p: Pass): Det = Det(
      for (iaa <- p.iaa9; ibb <- p.ibb9; iab <- p.iab9) yield iaa * ibb - iab * iab,
      for (ibb <- p.ibb9; ua <- p.ua9; iab <- p.iab9; ub <- p.ub9) yield ibb * ua - iab * ub,
      for (iaa <- p.iaa9; ub <- p.ub9; iab <- p.iab9; ua <- p.ua9) yield iaa * ub - iab * ua)
    def stepOf(p: Pass): (Option[Double], Option[Double], Option[Double], Option[Double]) = {
      val d = detOf(p)
      val ok = p.bad.contains(0L) && d.det9.exists(_ > 0) && p.iaa9.exists(_ > 0)
      if (!ok) (None, None, None, None)
      else {
        val da = d2d(d.na.get) / d2d(d.det9.get)
        val db = d2d(d.nb.get) / d2d(d.det9.get)
        (p.ba.map(_ + da), p.bb.map(_ + db), Some(da), Some(db))
      }
    }
    val outRows = groups.flatMap { case (key, rows) =>
      val nz = rows.filter(cl => cl.d + cl.c > 0L)
      val hasEventTime = rows.groupBy(_.t).valuesIterator
        .exists(_.iterator.map(_.d).sum > 0L)
      if (keyCols.nonEmpty && (nz.isEmpty || !hasEventTime)) None // see coxPhFromCells
      else Some {
        val n = if (nz.isEmpty) null else Long.box(nz.iterator.map(cl => cl.d + cl.c).sum)
        val nEvents = if (nz.isEmpty) null else Long.box(nz.iterator.map(_.d).sum)
        val cov1Min = if (nz.isEmpty) null else Long.box(nz.iterator.map(_.zamin).max)
        val cov2Min = if (nz.isEmpty) null else Long.box(nz.iterator.map(_.zbmin).max)
        val first = pass(rows, Some(0d), Some(0d))
        val d0 = detOf(first)
        val u0a = first.ua9.map(_.toString).orNull
        val u0b = first.ub9.map(_.toString).orNull
        val det0 = d0.det9.map(_.toString).orNull
        // 2-df score chi2 = (Ua*na + Ub*nb) / det / 1e9 — float, pinned order
        val chi0: Any =
          if (d0.det9.exists(_ > 0) && first.iaa9.exists(_ > 0))
            (for (ua <- first.ua9; na <- d0.na; ub <- first.ub9; nb <- d0.nb; det <- d0.det9)
              yield Double.box((d2d(ua) * d2d(na) + d2d(ub) * d2d(nb)) / d2d(det) / 1e9d)).orNull
          else null
        var state = stepOf(first)
        for (_ <- 2 to iters) state = stepOf(pass(rows, state._1, state._2))
        val fin = pass(rows, state._1, state._2)
        val dF = detOf(fin)
        val okF = fin.bad.contains(0L) && dF.det9.exists(_ > 0) &&
          fin.iaa9.exists(_ > 0) && fin.ba.isDefined
        def ifOk(v: Option[Any]): Any = if (okF) v.orNull else null
        val lastA9 = ifOk(state._3.map(s => Long.box(rnd0(s * 1e9d).toLong)))
        val lastB9 = ifOk(state._4.map(s => Long.box(rnd0(s * 1e9d).toLong)))
        val beta1 = ifOk(fin.ba.map(Double.box))
        val beta2 = ifOk(fin.bb.map(Double.box))
        val se1 = ifOk(Some(Double.box(
          math.sqrt(d2d(fin.ibb9.getOrElse(BigInt(0))) * 1e9d / d2d(dF.det9.getOrElse(BigInt(1)))))))
        val se2 = ifOk(Some(Double.box(
          math.sqrt(d2d(fin.iaa9.getOrElse(BigInt(0))) * 1e9d / d2d(dF.det9.getOrElse(BigInt(1)))))))
        val hr1 = ifOk(fin.ba.map(b => Double.box(math.exp(b))))
        val hr2 = ifOk(fin.bb.map(b => Double.box(math.exp(b))))
        val conv: Any =
          if (!okF) Boolean.box(false)
          else if (lastA9 == null || lastB9 == null) null // unreachable given okF
          else Boolean.box(lastA9.asInstanceOf[java.lang.Long].longValue == 0L &&
            lastB9.asInstanceOf[java.lang.Long].longValue == 0L)
        org.apache.spark.sql.Row.fromSeq(key ++ Seq(n, nEvents, cov1Min,
          cov2Min, u0a, u0b, det0, chi0, beta1, se1, hr1, beta2, se2, hr2,
          lastA9, lastB9, conv, Int.box(iters)))
      }
    }
    import org.apache.spark.sql.types._
    val outSchema = StructType(
      keyCols.map(k => rs(rs.fieldIndex(k))) ++ Seq(
        StructField("n", LongType), StructField("n_events", LongType),
        StructField("cov1_min", LongType), StructField("cov2_min", LongType),
        StructField("u0a_9", StringType), StructField("u0b_9", StringType),
        StructField("det0_9", StringType), StructField("score_chi2", DoubleType),
        StructField("beta1", DoubleType), StructField("se_beta1", DoubleType),
        StructField("hr1", DoubleType), StructField("beta2", DoubleType),
        StructField("se_beta2", DoubleType), StructField("hr2", DoubleType),
        StructField("last_step_a9", LongType), StructField("last_step_b9", LongType),
        StructField("converged", BooleanType), StructField("n_iter", IntegerType)))
    import scala.jdk.CollectionConverters._
    cellsIn.sparkSession.createDataFrame(outRows.asJava, outSchema)
  }
}
