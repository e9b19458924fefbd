package graft

import graft.quality.{AbDashboard, Association, RatioMetric, SequentialTests}
import graft.queries.CoreQueries
import graft.streaming.{StoreMaintenance, StreamingOps}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The composed A/B dashboard's closure invariants: the store state folds
  * (batch and streaming) rebuild exactly; the one-read dashboard's LAST
  * peek equals each standalone gated operator run directly on the full
  * per-unit frame (SRM = q306 dag, CUPED = q298 dag, Wilson = q324 dag,
  * mSPRT = q299 dag) — composition adds NOTHING to any stage's numbers;
  * degenerate states (an arm with zero traffic) NULL their statistics
  * under ANSI instead of crashing; and the gate fixture actually
  * exercises every stage's defining case (the r13 vacuous-fixture
  * lesson): a real SRM + real off-design traffic, conversions strictly
  * inside (0, n), covariate variance > 0, every (designed arm, peek)
  * cell live.
  */
class AbDashboardSpec extends SparkSpec {
  import spark.implicits._

  // toy units: (unit, arm, peek, y, x, hit)
  private def units(n: Int, seed: Int): Seq[(Long, String, Long, Long, Long, Boolean)] =
    (0 until n).map { i =>
      val arm = if ((i + seed) % 2 == 0) "A" else "B"
      val peek = ((i * 3 + seed) % 4).toLong
      val x = ((i * 7 + seed) % 5).toLong
      val y = x + ((i * 11 + seed) % 3).toLong
      (i.toLong, arm, peek, y, x, (i * 5 + seed) % 3 == 0)
    }

  private def cellsOf(df: DataFrame): DataFrame =
    AbDashboard.abCells(df, "arm", "peek", "y", "x", "hit")

  private def toDf(u: Seq[(Long, String, Long, Long, Long, Boolean)]): DataFrame =
    u.toDF("unit", "arm", "peek", "y", "x", "hit")

  test("abCells fold == rebuild: mergeAbCells over splits equals one pass") {
    val all = units(120, 1)
    val parts = all.grouped(40).toSeq
    val folded = parts.tail.foldLeft(cellsOf(toDf(parts.head))) { (acc, p) =>
      AbDashboard.mergeAbCells(acc, cellsOf(toDf(p)))
    }
    val rebuilt = cellsOf(toDf(all))
    assert(folded.orderBy("arm", "peek").collect().toSeq ==
      rebuilt.orderBy("arm", "peek").collect().toSeq)
  }

  test("streaming abCellsStream fold equals the batch rebuild; the standing dashboard matches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-abstream").toString
    val mem = MemoryStream[(Long, String, Long, Long, Long, Boolean)]
    val b1 = units(80, 2); val b2 = units(60, 5)
    val rows = mem.toDF().toDF("unit", "arm", "peek", "y", "x", "hit")
    mem.addData(b1: _*)
    StreamingOps.abCellsStream(rows, "arm", "peek", "y", "x", "hit",
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.abCellsStream(rows, "arm", "peek", "y", "x", "hit",
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val store = spark.read.parquet(latest)
    val rebuilt = cellsOf(toDf(b1 ++ b2))
    assert(store.orderBy("arm", "peek").collect().toSeq ==
      rebuilt.orderBy("arm", "peek").collect().toSeq)
    // the standing state answers the same dashboard as the batch twin
    val design = Seq("A" -> 0.5, "B" -> 0.5)
    assert(AbDashboard.abDashboardFromCells(store, design, tau2 = 0.25)
        .orderBy("peek").collect().toSeq ==
      AbDashboard.abDashboardFromCells(rebuilt, design, tau2 = 0.25)
        .orderBy("peek").collect().toSeq)
  }

  test("last-peek dashboard row equals every standalone gated operator on the full frame") {
    val u = toDf(units(150, 3))
    val design = Seq("A" -> 0.5, "B" -> 0.5)
    val dash = AbDashboard.abDashboardFromCells(cellsOf(u), design, tau2 = 0.25)
      .orderBy("peek").collect()
    val last = dash.last
    // SRM: the q306 dag on the full unit frame
    val srm = Association.srmCheck(u, Nil, "arm", design).collect()(0)
    assert(last.getAs[Double]("srm_chi2") === srm.getAs[Double]("chi2"))
    assert(last.getAs[Long]("n_unexpected") === srm.getAs[Long]("n_unexpected"))
    // CUPED: the q298 dag
    val cup = Association.cuped(u, Nil, "arm", "y", "x").collect()(0)
    for (c <- Seq("theta", "rho2", "effect_raw", "effect_cuped", "se_cuped"))
      assert(last.getAs[Double](c) === cup.getAs[Double](c), c)
    assert(last.getAs[Double]("cuped_ci_lo") === cup.getAs[Double]("ci_lo"))
    assert(last.getAs[Double]("cuped_ci_hi") === cup.getAs[Double]("ci_hi"))
    // Wilson: the q324 dag per arm
    val wil = Association.wilsonInterval(u, Nil, "arm", "hit")
      .collect().map(r => r.getAs[String]("grp") -> r).toMap
    assert(last.getAs[Double]("p_lo") === wil("A").getAs[Double]("p_hat"))
    assert(last.getAs[Double]("wilson_lo_lo") === wil("A").getAs[Double]("ci_lo"))
    assert(last.getAs[Double]("wilson_lo_hi") === wil("A").getAs[Double]("ci_hi"))
    assert(last.getAs[Double]("p_hi") === wil("B").getAs[Double]("p_hat"))
    assert(last.getAs[Double]("wilson_hi_lo") === wil("B").getAs[Double]("ci_lo"))
    assert(last.getAs[Double]("wilson_hi_hi") === wil("B").getAs[Double]("ci_hi"))
    // mSPRT: the q299 dag on the same per-peek increments
    val incr = u.groupBy("peek").agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n1"),
      sum(when(col("arm") === "A" && col("hit"), 1L).otherwise(0L)).as("s1"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n2"),
      sum(when(col("arm") === "B" && col("hit"), 1L).otherwise(0L)).as("s2"))
    val mon = SequentialTests.msprtTwoProportion(incr, Nil, "peek",
      "n1", "s1", "n2", "s2", tau2 = 0.25).orderBy("peek").collect()
    for ((d, m) <- dash.zip(mon);
        c <- Seq("n_lo", "s_lo", "n_hi", "s_hi", "delta", "ln_lr9",
          "p_always_valid", "reject"))
      // null-safe Any compare: getAs[Long] unboxes a NULL asymmetrically
      assert(d.get(d.fieldIndex(c)) === m.get(m.fieldIndex(c)), c)
  }

  test("a designed arm with zero traffic NULLs its statistics, never crashes (ANSI)") {
    // only arm A ever arrives; B exists in the design alone
    val u = toDf(units(60, 4).map(t => t.copy(_2 = "A")))
    val rows = AbDashboard.abDashboardFromCells(
      cellsOf(u), Seq("A" -> 0.5, "B" -> 0.5), tau2 = 0.25)
      .orderBy("peek").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("n_hi") === 0L)
      // SRM still fires (a vanished arm is the loudest SRM there is)
      assert(r.getAs[Double]("srm_chi2") > 0d)
      // effect stages NULL per their own guards
      for (c <- Seq("theta", "effect_raw", "effect_cuped", "p_hi",
          "wilson_hi_lo", "delta"))
        assert(r.isNullAt(r.fieldIndex(c)), c)
      // no evidence ever accumulates from unusable peeks
      assert(r.getAs[Double]("p_always_valid") === 1.0d)
      assert(!r.getAs[Boolean]("reject"))
    }
  }

  test("k-arm dashboard at k = 2 reproduces the two-arm dashboard column-for-column") {
    val u = toDf(units(150, 3))
    val design = Seq("A" -> 0.5, "B" -> 0.5)
    val two = AbDashboard.abDashboardFromCells(cellsOf(u), design, tau2 = 0.25)
      .orderBy("peek").collect()
    val karm = AbDashboard.abDashboardKArmFromCells(
      cellsOf(u), design, control = "A", tau2 = 0.25)
      .orderBy("peek").collect()
    assert(karm.length === two.length) // one treatment → one row per peek
    val colMap = Seq("n_lo" -> "n_lo", "s_lo" -> "s_lo", "n_hi" -> "n_hi",
      "s_hi" -> "s_hi", "n_unexpected" -> "n_unexpected",
      "srm_chi2" -> "srm_chi2", "theta" -> "theta", "rho2" -> "rho2",
      "effect_raw" -> "effect_raw", "effect_cuped" -> "effect_cuped",
      "se_cuped" -> "se_cuped", "cuped_ci_lo" -> "cuped_ci_lo",
      "cuped_ci_hi" -> "cuped_ci_hi", "p_ctl" -> "p_lo",
      "wilson_ctl_lo" -> "wilson_lo_lo", "wilson_ctl_hi" -> "wilson_lo_hi",
      "p_arm" -> "p_hi", "wilson_arm_lo" -> "wilson_hi_lo",
      "wilson_arm_hi" -> "wilson_hi_hi", "delta" -> "delta",
      "ln_lr9" -> "ln_lr9", "p_always_valid" -> "p_always_valid",
      "reject" -> "reject")
    for ((k, t) <- karm.zip(two)) {
      assert(k.getAs[String]("arm") === "B")
      assert(k.getAs[String]("grp_lo") === "A" && k.getAs[String]("grp_hi") === "B")
      for ((kc, tc) <- colMap)
        assert(k.get(k.fieldIndex(kc)) === t.get(t.fieldIndex(tc)), s"$kc vs $tc")
      // a 1-comparison battery: m = 1, rank = 1
      assert(k.getAs[Long]("bh_m") === 1L && k.getAs[Long]("bh_rank") === 1L)
    }
  }

  test("k-arm orientation: a control that is NOT the lexical min keeps the house lo-hi sign") {
    // control Z, treatment A → grp_lo = A (the treatment), grp_hi = Z;
    // values must equal the two-arm dashboard on the same pair, which
    // orients lo − hi by label regardless of which arm is control
    val u = toDf(units(150, 3).map(t => if (t._2 == "B") t.copy(_2 = "Z") else t))
    val design = Seq("Z" -> 0.5, "A" -> 0.5)
    val two = AbDashboard.abDashboardFromCells(cellsOf(u), design, tau2 = 0.25)
      .orderBy("peek").collect()
    val karm = AbDashboard.abDashboardKArmFromCells(
      cellsOf(u), design, control = "Z", tau2 = 0.25)
      .orderBy("peek").collect()
    for ((k, t) <- karm.zip(two)) {
      assert(k.getAs[String]("arm") === "A")
      assert(k.getAs[String]("grp_lo") === "A" && k.getAs[String]("grp_hi") === "Z")
      for (c <- Seq("effect_cuped", "delta", "n_lo", "n_hi", "srm_chi2"))
        assert(k.get(k.fieldIndex(c)) === t.get(t.fieldIndex(c)), c)
      // the control's Wilson is now the HI side of the two-arm read
      assert(k.get(k.fieldIndex("p_ctl")) === t.get(t.fieldIndex("p_hi")))
      assert(k.get(k.fieldIndex("p_arm")) === t.get(t.fieldIndex("p_lo")))
    }
  }

  test("k-arm BH multiplicity: a real effect rejects under FDR, a null one survives") {
    // 3 arms: B converts almost always, C mirrors the control A
    val u = toDf((0 until 600).map { i =>
      val arm = Seq("A", "B", "C")(i % 3)
      val peek = (i % 4).toLong
      val x = (i % 5).toLong
      val y = x + (i % 3).toLong
      val hit = arm match {
        case "B" => i % 10 != 0 // ~90%
        case _   => i % 10 == 0 // ~10%
      }
      (i.toLong, arm, peek, y, x, hit)
    })
    val design = Seq("A" -> 1.0, "B" -> 1.0, "C" -> 1.0)
    val rows = AbDashboard.abDashboardKArmFromCells(
        cellsOf(u), design, control = "A", tau2 = 0.25)
      .orderBy("peek", "arm").collect()
    val last = rows.filter(_.getAs[Long]("peek") == 3L)
    assert(last.map(_.getAs[String]("arm")).toSeq === Seq("B", "C"))
    val byArm = last.map(r => r.getAs[String]("arm") -> r).toMap
    assert(byArm("B").getAs[Boolean]("reject_fdr"), "the real effect pages")
    assert(!byArm("C").getAs[Boolean]("reject_fdr"), "the null comparison stays quiet")
    for (r <- last) assert(r.getAs[Long]("bh_m") === 2L)
    assert(last.map(_.getAs[Long]("bh_rank")).toSet === Set(1L, 2L))
    // the battery's SRM/unexpected columns repeat identically per peek
    assert(byArm("B").getAs[Double]("srm_chi2") ===
      byArm("C").getAs[Double]("srm_chi2"))
  }

  test("q345 k-arm gate fixture adequacy at the oracle SF") {
    val cells = cellsOf(
      CoreQueries.abPerUserKForSpec(spark, "/root/testdata/sf0.01")).collect()
    val byArm = cells.groupBy(_.getAs[String]("arm"))
    // all four designed arms AND the off-design arm flow
    assert(byArm.keySet === Set("A", "B", "C", "D", "E"))
    // every designed arm is live from peek 0 with n >= 2 (CUPED's ok
    // guard needs n >= 2 on BOTH sides at every cumulative peek)
    for (arm <- Seq("A", "B", "C", "D"))
      assert(byArm(arm).exists(r => r.getAs[Long]("peek") == 0L &&
        r.getAs[Long]("n") >= 2L), s"thin peek-0 cell $arm")
    // the control and the shifted-threshold arm both convert strictly
    // inside (0, n) overall — the monitors have real signal
    for (arm <- Seq("A", "B")) {
      val s = byArm(arm).map(_.getAs[Long]("s_hit")).sum
      val n = byArm(arm).map(_.getAs[Long]("n")).sum
      assert(s > 0L && s < n, s"degenerate conversions $arm")
    }
    // D genuinely underdelivers vs its claimed 10% of designed traffic
    // (the k-arm SRM violation the fixture exists to exercise)
    val designedN = Seq("A", "B", "C", "D")
      .map(a => byArm(a).map(_.getAs[Long]("n")).sum).sum
    val dShare = byArm("D").map(_.getAs[Long]("n")).sum.toDouble / designedN
    assert(dShare < 0.08, s"D share $dShare should sit well below the claimed 0.10")
  }

  test("scorecardCells: one row-scale pass unpivots to per-metric cells; fold == rebuild") {
    val u = (0 until 120).map { i =>
      (i.toLong, if (i % 2 == 0) "A" else "B", (i % 4).toLong,
        i % 3 == 0, i % 5 == 0)
    }.toDF("unit", "arm", "peek", "ma", "mb")
    val cellsOf = (df: DataFrame) =>
      AbDashboard.scorecardCells(df, "arm", "peek", Seq("ma", "mb"))
    val all = cellsOf(u).orderBy("metric", "arm", "peek").collect()
    // n repeats per metric (the shared denominator); s_hit is per metric
    assert(all.map(_.getAs[String]("metric")).toSet === Set("ma", "mb"))
    val byKey = all.map(r => (r.getAs[String]("metric"), r.getAs[String]("arm"),
      r.getAs[Long]("peek")) -> r).toMap
    assert(byKey(("ma", "A", 0L)).getAs[Long]("n") ===
      byKey(("mb", "A", 0L)).getAs[Long]("n"))
    // fold == rebuild over a 2-way split
    val folded = AbDashboard.mergeScorecardCells(
      cellsOf(u.filter(col("unit") % 2 === 0)),
      cellsOf(u.filter(col("unit") % 2 =!= 0)))
    assert(folded.orderBy("metric", "arm", "peek").collect().toSeq === all.toSeq)
  }

  test("streaming scorecardCellsStream fold equals the batch rebuild; the standing scorecard matches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-scstream").toString
    val mem = MemoryStream[(Long, String, Long, Boolean, Boolean)]
    def rows = mem.toDF().toDF("unit", "arm", "peek", "ma", "mb")
    val mk = (n: Int, seed: Int) => (0 until n).map { i =>
      (i.toLong + seed * 1000L, if ((i + seed) % 2 == 0) "A" else "B",
        ((i * 3 + seed) % 4).toLong, (i + seed) % 3 == 0, (i + seed) % 5 == 0)
    }
    val b1 = mk(80, 1); val b2 = mk(60, 2)
    mem.addData(b1: _*)
    StreamingOps.scorecardCellsStream(rows, "arm", "peek", Seq("ma", "mb"),
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.scorecardCellsStream(rows, "arm", "peek", Seq("ma", "mb"),
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val store = spark.read.parquet(latest)
    val rebuilt = AbDashboard.scorecardCells(
      (b1 ++ b2).toDF("unit", "arm", "peek", "ma", "mb"), "arm", "peek", Seq("ma", "mb"))
    assert(store.orderBy("metric", "arm", "peek").collect().toSeq ===
      rebuilt.orderBy("metric", "arm", "peek").collect().toSeq)
    // the standing state answers the same scorecard as the batch twin
    assert(AbDashboard.scorecardFromCells(store, ("A", "B"), tau2 = 0.25)
        .orderBy("peek", "metric").collect().toSeq ===
      AbDashboard.scorecardFromCells(rebuilt, ("A", "B"), tau2 = 0.25)
        .orderBy("peek", "metric").collect().toSeq)
  }

  test("single-metric scorecard equals the q299 monitor run directly; m = 1 battery") {
    val u = toDf(units(150, 3))
    val cells = AbDashboard.scorecardCells(
      u.withColumn("m_hit", col("hit")), "arm", "peek", Seq("m_hit"))
    val sc = AbDashboard.scorecardFromCells(cells, ("A", "B"), tau2 = 0.25)
      .orderBy("peek").collect()
    val incr = u.groupBy("peek").agg(
      sum(when(col("arm") === "A", 1L).otherwise(0L)).as("n1"),
      sum(when(col("arm") === "A" && col("hit"), 1L).otherwise(0L)).as("s1"),
      sum(when(col("arm") === "B", 1L).otherwise(0L)).as("n2"),
      sum(when(col("arm") === "B" && col("hit"), 1L).otherwise(0L)).as("s2"))
    val mon = SequentialTests.msprtTwoProportion(incr, Nil, "peek",
      "n1", "s1", "n2", "s2", tau2 = 0.25).orderBy("peek").collect()
    for ((s, m) <- sc.zip(mon)) {
      for (c <- Seq("n_lo", "s_lo", "n_hi", "s_hi", "delta", "ln_lr9",
          "p_always_valid", "reject"))
        assert(s.get(s.fieldIndex(c)) === m.get(m.fieldIndex(c)), c)
      assert(s.getAs[Long]("n_metrics") === 1L && s.getAs[Long]("bh_rank") === 1L)
    }
  }

  test("scorecard FDR: a real metric effect pages, null metrics stay quiet, BH never beats raw") {
    val u = (0 until 800).map { i =>
      val arm = if (i % 2 == 0) "A" else "B"
      (i.toLong, arm, (i % 4).toLong,
        arm == "B" || i % 10 == 0, // m_real: B ~100%, A ~10%
        i % 7 == 0,                // m_null1: arm-symmetric
        i % 3 == 0)                // m_null2: arm-symmetric
    }.toDF("unit", "arm", "peek", "m_real", "m_null1", "m_null2")
    val cells = AbDashboard.scorecardCells(u, "arm", "peek",
      Seq("m_null1", "m_null2", "m_real"))
    val rows = AbDashboard.scorecardFromCells(cells, ("A", "B"), tau2 = 0.25)
      .filter(col("peek") === 3L).orderBy("metric").collect()
    val byM = rows.map(r => r.getAs[String]("metric") -> r).toMap
    assert(byM("m_real").getAs[Boolean]("reject_fdr"))
    assert(!byM("m_null1").getAs[Boolean]("reject_fdr"))
    assert(!byM("m_null2").getAs[Boolean]("reject_fdr"))
    for (r <- rows) {
      assert(r.getAs[Long]("n_metrics") === 3L)
      // FDR can only remove pages, never add: reject_fdr ⇒ raw p ≤ α·…
      if (r.getAs[Boolean]("reject_fdr"))
        assert(r.getAs[Long]("p9") <= 50000000L * r.getAs[Long]("bh_rank"))
    }
  }

  test("q346 scorecard gate fixture adequacy at the oracle SF") {
    val rows = CoreQueries.q346Scorecard(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length === 30) // 5 metrics × 6 peeks
    val last = rows.filter(_.getAs[Long]("peek") == 5L)
    // the shifted-threshold metric genuinely pages under FDR; at least
    // one null metric stays quiet — the battery discriminates
    assert(last.find(_.getAs[String]("metric") == "m_conv_shift")
      .get.getAs[Boolean]("reject_fdr"), "the real effect pages")
    assert(last.count(!_.getAs[Boolean]("reject_fdr")) >= 3,
      "null metrics stay quiet")
    // distinct p9s at the last peek: the BH ranking is non-vacuous
    assert(last.map(_.getAs[Long]("p9")).distinct.length >= 2)
  }

  test("vector-CUPED k-arm dashboard: shared stages pin q345 column-for-column; rho2 never drops; fold == rebuild") {
    import graft.quality.AbDashboard
    val sfDir = "/root/testdata/sf0.001"
    val design = Seq("A" -> 0.4, "B" -> 0.3, "C" -> 0.2, "D" -> 0.1)
    val pu1 = CoreQueries.abPerUserKForSpec(spark, sfDir)
    val pu2 = CoreQueries.abPerUserK2ForSpec(spark, sfDir)
    val one = AbDashboard.abDashboardKArmFromCells(
      AbDashboard.abCells(pu1, "arm", "peek", "y", "x", "hit"),
      design, "A", tau2 = 0.000244140625d).orderBy("peek", "arm").collect()
    val two = AbDashboard.abDashboardKArm2FromCells(
      AbDashboard.abCells2(pu2, "arm", "peek", "y", "x", "x2", "hit"),
      design, "A", tau2 = 0.000244140625d).orderBy("peek", "arm").collect()
    assert(one.length === two.length && one.nonEmpty)
    // the SRM/Wilson/monitor/BH stages don't see the covariates: every
    // shared non-CUPED column is identical
    val shared = Seq("peek", "arm", "n_arms", "n_unexpected", "srm_chi2",
      "n_lo", "s_lo", "n_hi", "s_hi", "p_ctl", "wilson_ctl_lo",
      "wilson_ctl_hi", "p_arm", "wilson_arm_lo", "wilson_arm_hi",
      "delta", "ln_lr9", "p_always_valid", "reject", "p9", "bh_rank",
      "bh_m", "reject_fdr")
    var comparedRho = 0
    one.zip(two).foreach { case (a, b) =>
      for (c <- shared)
        assert(a.getAs[Any](c) === b.getAs[Any](c), s"column $c")
      // nested OLS: in-sample R2 cannot decrease when a covariate is
      // added (rho2 is the pooled regression R2) — where both defined
      // (tiny early peeks of the 5%-traffic arm NULL their guards)
      if (!a.isNullAt(a.fieldIndex("rho2")) && !b.isNullAt(b.fieldIndex("rho2"))) {
        val r1 = a.getAs[Double]("rho2"); val r2 = b.getAs[Double]("rho2")
        assert(r2 >= r1 - 1e-12, s"rho2 dropped: 1-cov $r1 vs 2-cov $r2")
        assert(!b.isNullAt(b.fieldIndex("theta1")) &&
          !b.isNullAt(b.fieldIndex("theta2")))
        comparedRho += 1
      }
    }
    assert(comparedRho >= 4, s"only $comparedRho live rho2 rows")
    // the final peek's fully-cumulated B-vs-A comparison (the 30%-traffic
    // arm) is defined; micro arms may stay NULL at this tiny SF
    val maxPeek = two.map(_.getAs[Long]("peek")).max
    val finalB = two.find(b => b.getAs[Long]("peek") == maxPeek &&
      b.getAs[String]("arm") == "B").get
    assert(!finalB.isNullAt(finalB.fieldIndex("theta1")) &&
      !finalB.isNullAt(finalB.fieldIndex("theta2")), s"final B NULL: $finalB")
    // fold == rebuild for the two-covariate cells
    val whole = AbDashboard.abCells2(pu2, "arm", "peek", "y", "x", "x2", "hit")
    def part(i: Int) = AbDashboard.abCells2(
      pu2.filter(col("user_id") % 3 === i), "arm", "peek", "y", "x", "x2", "hit")
    val folded = (1 to 2).foldLeft(part(0))(
      (acc, i) => AbDashboard.mergeAbCells2(acc, part(i)))
    assert(folded.orderBy("arm", "peek").collect().toSeq ===
      whole.orderBy("arm", "peek").collect().toSeq)
  }

  test("streaming abCells2Stream fold equals the batch rebuild; the standing vector-CUPED dashboard matches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-ab2stream").toString
    // toy two-covariate units: (unit, arm, peek, y, x1, x2, hit)
    def units2(n: Int, seed: Int) = (0 until n).map { i =>
      val arm = if ((i + seed) % 2 == 0) "A" else "B"
      val peek = ((i * 3 + seed) % 4).toLong
      val x1 = ((i * 7 + seed) % 5).toLong
      val x2 = ((i * 13 + seed) % 4).toLong
      val y = x1 + x2 + ((i * 11 + seed) % 3).toLong
      (i.toLong, arm, peek, y, x1, x2, (i * 5 + seed) % 3 == 0)
    }
    val mem = MemoryStream[(Long, String, Long, Long, Long, Long, Boolean)]
    val b1 = units2(80, 2); val b2 = units2(60, 5)
    val rows = mem.toDF().toDF("unit", "arm", "peek", "y", "x1", "x2", "hit")
    mem.addData(b1: _*)
    StreamingOps.abCells2Stream(rows, "arm", "peek", "y", "x1", "x2", "hit",
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.abCells2Stream(rows, "arm", "peek", "y", "x1", "x2", "hit",
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val store = spark.read.parquet(latest)
    val all = (b1 ++ b2).toDF("unit", "arm", "peek", "y", "x1", "x2", "hit")
    val rebuilt = AbDashboard.abCells2(all, "arm", "peek", "y", "x1", "x2", "hit")
    assert(store.orderBy("arm", "peek").collect().toSeq ===
      rebuilt.orderBy("arm", "peek").collect().toSeq)
    // the standing state answers the same vector-CUPED dashboard
    val design = Seq("A" -> 0.5, "B" -> 0.5)
    assert(AbDashboard.abDashboardKArm2FromCells(store, design, "A", tau2 = 0.25)
        .orderBy("peek").collect().toSeq ===
      AbDashboard.abDashboardKArm2FromCells(rebuilt, design, "A", tau2 = 0.25)
        .orderBy("peek").collect().toSeq)
  }

  test("heterogeneityCard: composition adds nothing, dropped segments stay visible, empty pool survives") {
    // toy per-segment effects with one invalid (se = 0) segment
    val eff = Seq(("s0", 0.10, 0.05), ("s1", 0.30, 0.08),
      ("s2", -0.05, 0.06), ("s3", 0.00, 0.00))
      .toDF("seg", "effect", "se")
    val card = Association.heterogeneityCard(eff, Nil, "seg", "effect", "se")
      .orderBy("segment").collect()
    assert(card.length === 4)
    // the panel columns ARE metaAnalysis's, replicated row-for-row
    val meta = Association.metaAnalysis(eff, Nil, "seg", "effect", "se").collect()(0)
    for (c <- Seq("n_strata", "n_dropped", "effect_fixed", "se_fixed", "q",
        "df", "i2", "tau2_dl", "effect_random", "se_random"))
      card.foreach(r => assert(r.get(r.fieldIndex(c)) === meta.get(meta.fieldIndex(c)), c))
    assert(meta.getAs[Long]("n_strata") === 3L && meta.getAs[Long]("n_dropped") === 1L)
    // the dropped segment still emits its row, flagged
    val s3 = card.find(_.getAs[String]("segment") == "s3").get
    assert(!s3.getAs[Boolean]("included"))
    assert(s3.isNullAt(s3.fieldIndex("seg_ci_lo")))
    assert(card.count(_.getAs[Boolean]("included")) === 3)
    // every segment invalid: rows survive with a NULL panel
    val dead = Association.heterogeneityCard(
      Seq(("a", 0.1, 0.0), ("b", 0.2, 0.0)).toDF("seg", "effect", "se"),
      Nil, "seg", "effect", "se").orderBy("segment").collect()
    assert(dead.length === 2)
    dead.foreach { r =>
      assert(!r.getAs[Boolean]("included"))
      assert(r.isNullAt(r.fieldIndex("effect_fixed")))
    }
  }

  test("q365 heterogeneity gate fixture adequacy at the oracle SF") {
    import graft.quality.Association
    val pu = CoreQueries.hetPerUserForSpec(spark, "/root/testdata/sf0.01")
    // segments cross BOTH arms (the collinearity trap this fixture
    // originally fell into: user_id % 4 pins each segment to one arm)
    val byArmSeg = pu.groupBy("segment", "arm").count().collect()
    for (seg <- Seq("0", "1", "2", "3"); arm <- Seq("A", "B"))
      assert(byArmSeg.exists(r => r.getAs[String]("segment") == seg &&
        r.getAs[String]("arm") == arm && r.getAs[Long]("count") > 1L),
        s"segment $seg missing arm $arm")
    val card = Association.heterogeneityCard(
      Association.cuped(pu, Seq("segment"), "arm", "y", "x"),
      Nil, "segment", "effect_cuped", "se_cuped")
      .orderBy("segment").collect()
    assert(card.length === 4 && card.forall(_.getAs[Boolean]("included")))
    // REAL heterogeneity: Q clears the chi2_3 0.05 critical value and
    // I2 is substantial
    assert(card(0).getAs[Double]("q") > 7.815d)
    assert(card(0).getAs[Double]("i2") > 0.3d)
    // the design: segments 0/1 carry a real (negative, lo-hi = A-B)
    // effect, 2/3 are null
    for (i <- Seq(0, 1))
      assert(card(i).getAs[Double]("seg_ci_hi") < 0d, s"segment $i not real")
    for (i <- Seq(2, 3)) {
      assert(card(i).getAs[Double]("seg_ci_lo") < 0d, s"segment $i")
      assert(card(i).getAs[Double]("seg_ci_hi") > 0d, s"segment $i")
    }
  }

  test("gate fixture adequacy: every stage's defining case is exercised at the oracle SF") {
    // the r13 lesson: a gate whose fixture can't exercise the operator's
    // defining case is green but vacuous — pin the q326 fixture's teeth
    // AT sf0.01, the SF the driver's oracle gate actually runs
    val cells = cellsOf(
      CoreQueries.abPerUserForSpec(spark, "/root/testdata/sf0.01")).collect()
    val byArm = cells.groupBy(_.getAs[String]("arm"))
    // all three arms flow: the designed two AND the off-design leak
    assert(byArm.keySet === Set("A", "B", "C"))
    // every (designed arm, peek) cell is live — no vacuous peek anywhere
    for (arm <- Seq("A", "B"); p <- 0L to 5L)
      assert(byArm(arm).exists(r => r.getAs[Long]("peek") == p &&
        r.getAs[Long]("n") > 0L), s"empty cell $arm/$p")
    // conversions strictly inside (0, n): Wilson non-degenerate, the
    // mSPRT pooled p̂ never 0 or 1
    for (r <- cells if r.getAs[String]("arm") != "C") {
      assert(r.getAs[Long]("s_hit") > 0L)
      assert(r.getAs[Long]("s_hit") < r.getAs[Long]("n"))
    }
    // the covariate varies: θ is defined (n·Σxx − (Σx)² > 0 pooled)
    val a = cells.filter(_.getAs[String]("arm") != "C")
    val n = a.map(_.getAs[Long]("n")).sum
    val sx = a.map(_.getAs[java.math.BigDecimal]("sx").longValueExact()).sum
    val sxx = a.map(_.getAs[java.math.BigDecimal]("sxx").longValueExact()).sum
    assert(BigInt(n) * BigInt(sxx) - BigInt(sx) * BigInt(sx) > 0)
  }

  test("collectBounded: a frame over the bound fails before its rows reach the driver") {
    // the fail form (the folds): over the bound it throws, naming the caller
    val four = (1 to 4).toDF("v")
    val e = intercept[IllegalArgumentException](graft.plans.Local.rowsOrFail(four, "probe", 3))
    assert(e.getMessage === "requirement failed: probe: more than 3 rows exceed " +
      "the driver bound — the frame must stay bounded per the operator contract")
    assert(graft.plans.Local.rowsOrFail(four, "probe", 4).map(_.getInt(0)).sorted.toSeq ===
      Seq(1, 2, 3, 4))
    // ... and keeps NULL cells
    val withNull = Seq(Some(1), None).toDF("v")
    assert(graft.plans.Local.rowsOrFail(withNull, "probe", 2).count(_.isNullAt(0)) === 1)
    // the fallback form (the twins): None at max + 1 rows, None on a NULL
    // cell or a non-positive bound, the rows at exactly max
    assert(graft.plans.Local.rows(four, 3).isEmpty)
    assert(graft.plans.Local.rows(withNull, 2).isEmpty)
    assert(graft.plans.Local.rows(four, 0).isEmpty)
    assert(graft.plans.Local.rows(four, 4).map(_.map(_.getInt(0)).sorted.toSeq) ===
      Some(Seq(1, 2, 3, 4)))
    // materialize lays the collected frame out in one partition
    assert(AbDashboard.materialize(four.repartition(3)).rdd.getNumPartitions === 1)
  }

  /** The four driver-spined readers over the same cell frame. */
  private def spinedReads(cells: DataFrame, cards: DataFrame): Seq[(String, Seq[Row])] = {
    val design = Seq("A" -> 0.5, "B" -> 0.3, "C" -> 0.2)
    Seq(
      "two-arm" -> AbDashboard.abDashboardFromCells(cells,
        Seq("A" -> 0.5, "B" -> 0.5), tau2 = 0.25).orderBy("peek"),
      "k-arm" -> AbDashboard.abDashboardKArmFromCells(cells, design, "A",
        tau2 = 0.25).orderBy("peek", "arm"),
      "scorecard" -> AbDashboard.scorecardFromCells(cards, ("A", "B"),
        tau2 = 0.25).orderBy("peek", "metric"),
      "ratio" -> RatioMetric.ratioDeltaKArmFromCells(cells, Seq("A", "B", "C"), "A")
        .orderBy("peek", "arm")
    ).map { case (k, df) => k -> df.collect().toSeq }
  }

  // three-arm toy cells and two-metric scorecard cells over the same units
  private def spineFixture: (DataFrame, DataFrame) = {
    val u = toDf(units(240, 7).map(t => if (t._1 % 5 == 0) t.copy(_2 = "C") else t))
    (cellsOf(u), AbDashboard.scorecardCells(
      u.withColumn("mb", col("y") > 3L), "arm", "peek", Seq("hit", "mb")))
  }

  test("driver spine: a missing cell reads exactly like an explicit all-zero cell") {
    val (cells, cards) = spineFixture
    val gone = col("arm") === "B" && col("peek") === 2L
    val zeroD = lit(0L).cast("decimal(38,0)")
    def zeroed(df: DataFrame, measures: Seq[String]) =
      df.select(df.columns.map(c =>
        if (!measures.contains(c)) col(c)
        else when(gone, if (c == "n" || c == "s_hit") lit(0L) else zeroD)
          .otherwise(col(c)).as(c)): _*)
    val missing = spinedReads(cells.filter(!gone), cards.filter(!gone))
    val explicit = spinedReads(
      zeroed(cells, Seq("n", "s_hit", "sx", "sy", "sxx", "syy", "sxy")),
      zeroed(cards, Seq("n", "s_hit")))
    for (((k, m), (_, z)) <- missing.zip(explicit)) {
      assert(m.nonEmpty, k)
      assert(m === z, k)
    }
  }

  test("driver spine: an empty cell frame reads as an empty frame") {
    val (cells, cards) = spineFixture
    for ((k, rows) <- spinedReads(cells.filter(lit(false)), cards.filter(lit(false))))
      assert(rows.isEmpty, k)
  }

  test("driver spine: duplicate or NULL-keyed cells fail loudly, naming the cell") {
    val (cells, cards) = spineFixture
    val design = Seq("A" -> 0.5, "B" -> 0.5)
    val dup = cells.unionByName(cells.filter(col("arm") === "B" && col("peek") === 1L))
    val e1 = intercept[IllegalArgumentException](
      AbDashboard.abDashboardFromCells(dup, design, tau2 = 0.25))
    assert(e1.getMessage.contains("duplicate cell (arm=B, peek=1)"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](
      RatioMetric.ratioDeltaKArmFromCells(dup, Seq("A", "B"), "A"))
    assert(e2.getMessage.contains("duplicate cell (arm=B, peek=1)"), e2.getMessage)
    val dupCard = cards.unionByName(cards.filter(col("metric") === "mb" &&
      col("arm") === "A" && col("peek") === 0L))
    val e3 = intercept[IllegalArgumentException](
      AbDashboard.scorecardFromCells(dupCard, ("A", "B"), tau2 = 0.25))
    assert(e3.getMessage.contains("duplicate cell (metric=mb, arm=A, peek=0)"),
      e3.getMessage)
    val nullPeek = cells.unionByName(cells.limit(1)
      .withColumn("peek", lit(null).cast("long")))
    val e4 = intercept[IllegalArgumentException](
      AbDashboard.abDashboardKArmFromCells(nullPeek, design, "A", tau2 = 0.25))
    assert(e4.getMessage.contains("NULL key in cell") &&
      e4.getMessage.contains("peek=null"), e4.getMessage)
  }

  test("the store dashboard read: one construction job (the bounded collect), a fixed job budget") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-abjobs").toString
    cellsOf(toDf(units(150, 3))).coalesce(1).write.parquet(s"$tmp/v=0")
    val store = spark.read.parquet(s"$tmp/v=0")
    val design = Seq("A" -> 0.5, "B" -> 0.5)
    // warm: the first read of a session pays one-time planning work
    AbDashboard.abDashboardFromCells(store, design, tau2 = 0.25).collect()
    val (dash, built) = JobCount(spark)(
      AbDashboard.abDashboardFromCells(store, design, tau2 = 0.25))
    assert(built === 1, "construction runs exactly the bounded collect")
    val (rows, read) = JobCount(spark)(dash.collect())
    assert(rows.length === 4)
    // measured: 6 jobs over the driver-built one-partition spine
    assert(read <= 6, s"the read ran $read jobs")
  }
}
