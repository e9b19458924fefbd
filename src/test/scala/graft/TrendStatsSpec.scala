package graft

import graft.graph.Triangles
import graft.operators.{Sampling, TimeSeries}
import graft.quality.Association
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Goldens + arm/parity invariants for the trend/rank-test family the
  * round-10 snapshot shipped unpinned (q214–q219) and the round-11
  * bucketed Theil–Sen twin (q220): ACF against a hand-computed series,
  * Kruskal–Wallis against the textbook table (the golden that caught
  * the factor-4 H bug), Mann–Kendall on planted trends, Theil–Sen's
  * outlier-robustness plus windowed==bucketed arm equality, triangle
  * counts against K4/path goldens and the q135 enumeration core, and
  * the A-ES weighted sample replayed key-for-key from md5.
  */
class TrendStatsSpec extends SparkSpec {
  import spark.implicits._

  // --- ACF -------------------------------------------------------------

  test("acf: hand-computed series 1,2,3,4 (r1=0.25, r2=-0.3, r3=-0.45; exact num/den)") {
    val df = Seq(("k", 1L, 1L), ("k", 2L, 2L), ("k", 3L, 3L), ("k", 4L, 4L))
      .toDF("g", "t", "x")
    val out = TimeSeries.acf(df, Seq("g"), Seq("t"), "x", maxLag = 3)
      .orderBy("lag").collect()
    assert(out.length === 3)
    // den = n^2*Sxx - n*S^2 = 16*30 - 4*100 = 80 for every lag
    assert(out.forall(_.getAs[String]("den") === "80"))
    // num1 = 16*20 - 4*10*(6+9) + 3*100 = 20; num2 = -24; num3 = -36+...
    // lag3: Sxy=4, head=1, tail=4: 16*4 - 40*5 + 1*100 = -36
    assert(out(0).getAs[String]("num") === "20")
    assert(out(1).getAs[String]("num") === "-24")
    assert(out(2).getAs[String]("num") === "-36")
    assert(math.abs(out(0).getAs[Double]("r") - 0.25) < 1e-12)
    assert(math.abs(out(1).getAs[Double]("r") + 0.3) < 1e-12)
    assert(math.abs(out(2).getAs[Double]("r") + 0.45) < 1e-12)
    // Ljung-Box Q1 = n(n+2)*r1^2/(n-1) = 24*0.0625/3 = 0.5
    assert(math.abs(out(0).getAs[Double]("lb_q") - 0.5) < 1e-8)
    // Q2 = Q1 + 24*0.09/2 = 0.5 + 1.08 = 1.58
    assert(math.abs(out(1).getAs[Double]("lb_q") - 1.58) < 1e-8)
  }

  test("acf: constant series has zero denominator -> r and lb_q NULL") {
    val df = (1 to 6).map(t => ("k", t.toLong, 7L)).toDF("g", "t", "x")
    val out = TimeSeries.acf(df, Seq("g"), Seq("t"), "x", maxLag = 2).collect()
    assert(out.length === 2)
    assert(out.forall(r => r.isNullAt(r.fieldIndex("r"))))
    assert(out.forall(r => r.isNullAt(r.fieldIndex("lb_q"))))
  }

  // --- Kruskal–Wallis ----------------------------------------------------

  test("kruskalWallis: textbook [1,2] vs [3,4] gives H = 2.4 (caught the /4 bug)") {
    val df = Seq(("A", 1L), ("A", 2L), ("B", 3L), ("B", 4L)).toDF("grp0", "v")
    val out = Association.kruskalWallis(df, Nil, "grp0", "v")
      .orderBy("grp").collect()
    assert(out.map(_.getAs[String]("d")).toSeq === Seq("-4", "4"))
    assert(out.forall(r => math.abs(r.getAs[Double]("h") - 2.4) < 1e-9))
    assert(out.forall(r => math.abs(r.getAs[Double]("h_tie") - 2.4) < 1e-9))
  }

  test("kruskalWallis: tied pairs [1,1] vs [2,2] -> H = 2.4, tie-corrected 3.0") {
    val df = Seq(("A", 1L), ("A", 1L), ("B", 2L), ("B", 2L)).toDF("grp0", "v")
    val out = Association.kruskalWallis(df, Nil, "grp0", "v").collect()
    assert(out.forall(r => math.abs(r.getAs[Double]("h") - 2.4) < 1e-9))
    // T = 2*(2^3-2) = 12, N^3-N = 60: H* = 2.4/(1 - 0.2) = 3.0
    assert(out.forall(r => math.abs(r.getAs[Double]("h_tie") - 3.0) < 1e-9))
  }

  test("kruskalWallis: constant column -> every rank tied, h_tie NULL; deviations sum to 0") {
    val df = Seq(("A", 5L), ("A", 5L), ("B", 5L)).toDF("grp0", "v")
    val out = Association.kruskalWallis(df, Nil, "grp0", "v").collect()
    assert(out.forall(r => r.isNullAt(r.fieldIndex("h_tie"))))
    assert(out.map(_.getAs[String]("d").toLong).sum === 0L)
  }

  // --- Mann–Kendall ------------------------------------------------------

  test("mannKendall: planted monotone trends and the tie-only degenerate") {
    val up = (1 to 10).map(t => ("k", t.toLong, t.toLong)).toDF("g", "t", "y")
    val r1 = TimeSeries.mannKendall(up, Seq("g"), "t", "y").collect()(0)
    assert(r1.getAs[String]("s") === "45")
    assert(r1.getAs[String]("var18") === "2250") // 10*9*25, no ties
    assert(math.abs(r1.getAs[Double]("z") - 44d / math.sqrt(125d)) < 1e-12)
    assert(r1.getAs[String]("trend") === "increasing")

    val down = (1 to 10).map(t => ("k", t.toLong, (11 - t).toLong)).toDF("g", "t", "y")
    val r2 = TimeSeries.mannKendall(down, Seq("g"), "t", "y").collect()(0)
    assert(r2.getAs[String]("s") === "-45")
    assert(r2.getAs[String]("trend") === "decreasing")

    val const = (1 to 10).map(t => ("k", t.toLong, 3L)).toDF("g", "t", "y")
    val r3 = TimeSeries.mannKendall(const, Seq("g"), "t", "y").collect()(0)
    assert(r3.getAs[String]("s") === "0")
    assert(r3.getAs[String]("var18") === "0") // tsum == n(n-1)(2n+5)
    assert(r3.isNullAt(r3.fieldIndex("z")))
    assert(r3.isNullAt(r3.fieldIndex("trend")))
  }

  test("mannKendall: short noisy series is 'none' at alpha=0.05") {
    val df = Seq(1L, 3L, 2L, 4L, 3L).zipWithIndex
      .map { case (y, t) => ("k", t.toLong, y) }.toDF("g", "t", "y")
    val r = TimeSeries.mannKendall(df, Seq("g"), "t", "y").collect()(0)
    assert(r.getAs[String]("trend") === "none")
  }

  // --- Theil–Sen ----------------------------------------------------------

  test("theilSen: exact line with one outlier recovers slope 3, intercept 7") {
    val pts = (1 to 9).map(t => ("k", t.toLong, if (t == 5) 100L else 3L * t + 7L))
    val df = pts.toDF("g", "t", "y")
    val r = TimeSeries.theilSen(df, Seq("g"), "t", "y").collect()(0)
    assert(r.getAs[Long]("m") === 36L)
    assert(r.getAs[Double]("slope") === 3.0)
    assert(r.getAs[Double]("intercept") === 7.0)
  }

  test("theilSenBucketed == theilSen bit-identically (multi-key, multi-cell, keyless)") {
    // pseudorandom-but-deterministic series, 2 keys x 60 points
    def y(g: Int, t: Int): Long = ((t * 2654435761L + g * 40503L) % 97L) + 3L * t
    val df = (for { g <- 1 to 2; t <- 1 to 60 } yield (s"g$g", t.toLong, y(g, t)))
      .toDF("g", "t", "y")
    val win = TimeSeries.theilSen(df, Seq("g"), "t", "y")
      .orderBy("g").collect().toSeq
    val buk = TimeSeries.theilSenBucketed(df, Seq("g"), "t", "y", cells = 4)
      .orderBy("g").collect().toSeq
    assert(win === buk)
    // keyless path (constant-key wrapper)
    val w0 = TimeSeries.theilSen(df.filter($"g" === "g1"), Nil, "t", "y").collect().toSeq
    val b0 = TimeSeries.theilSenBucketed(df.filter($"g" === "g1"), Nil, "t", "y", cells = 4)
      .collect().toSeq
    assert(w0 === b0)
  }

  // --- Seasonal anomalies -----------------------------------------------------

  test("seasonalAnomalies: 3-sigma flag by exact integers; constant phase flags nothing") {
    // phase 0: twelve 10s + one 100 -> spike is 3.46 sigma (flagged),
    // the 10s are 0.16 sigma (not); phase 1: constant (0 > 0 never flags)
    val rows = (1 to 12).map(i => ("k", 0, 10L)) ++ Seq(("k", 0, 100L)) ++
      (1 to 3).map(i => ("k", 1, 7L))
    val out = TimeSeries.seasonalAnomalies(rows.toDF("g", "ph", "x"), Seq("g"), "ph", "x")
      .collect()
    val spike = out.filter(_.getAs[Long]("x") === 100L)
    assert(spike.length === 1 && spike.head.getAs[Boolean]("is_anomaly"))
    // mean/dev are the pinned divisions: mu = 220/13, dev = 1080/13
    assert(math.abs(spike.head.getAs[Double]("phase_mean") - 220d / 13d) < 1e-12)
    assert(math.abs(spike.head.getAs[Double]("dev") - 1080d / 13d) < 1e-12)
    assert(out.filter(_.getAs[Long]("x") === 10L).forall(!_.getAs[Boolean]("is_anomaly")))
    val ph1 = out.filter(_.getAs[Int]("ph") === 1)
    assert(ph1.length === 3)
    assert(ph1.forall(!_.getAs[Boolean]("is_anomaly")))
    assert(ph1.forall(_.getAs[Double]("dev") === 0.0))
  }

  test("seasonalAnomaliesFromStats(self) == seasonalAnomalies; merged stats == rebuild") {
    val rows = ((1 to 12).map(i => ("k", 0, 10L)) ++ Seq(("k", 0, 100L)) ++
      (1 to 5).map(i => ("k", 1, (i % 3 + 5).toLong))).zipWithIndex
      .map { case ((g, p, x), i) => (g, p, x, i.toLong) }
    val df = rows.toDF("g", "ph", "x", "id")
    val win = TimeSeries.seasonalAnomalies(df, Seq("g"), "ph", "x")
      .select("g", "ph", "x", "id", "n_phase", "phase_mean", "dev", "is_anomaly")
      .orderBy("id").collect().toSeq
    val stats = TimeSeries.seasonalStats(df, Seq("g"), "ph", "x")
    val joined = TimeSeries.seasonalAnomaliesFromStats(df, stats, Seq("g"), "ph", "x")
      .select("g", "ph", "x", "id", "n_phase", "phase_mean", "dev", "is_anomaly")
      .orderBy("id").collect().toSeq
    assert(win === joined)
    // fold law: disjoint halves merged == rebuild
    val h1 = TimeSeries.seasonalStats(df.filter($"id" % 2 === 0), Seq("g"), "ph", "x")
    val h2 = TimeSeries.seasonalStats(df.filter($"id" % 2 === 1), Seq("g"), "ph", "x")
    val merged = TimeSeries.mergeSeasonalStats(h1, h2, Seq("g"), "ph")
      .orderBy("g", "ph").collect().toSeq
    assert(merged === stats.orderBy("g", "ph").collect().toSeq)
  }

  test("densifyCounts(slotCounts) == resampleCounts; merged slot counts == rebuild") {
    val rows = Seq(100L, 3700L, 3800L, 11000L, 11500L, 25000L).zipWithIndex
      .map { case (sec, i) => ("k" + (i % 2), sec) }
    val df = rows.toDF("g", "sec")
      .withColumn("ts", col("sec").cast("timestamp")).drop("sec")
    val dense = TimeSeries.densifyCounts(
      TimeSeries.slotCounts(df, Seq("g"), "ts"), Seq("g"))
      .orderBy("g", "slot").collect().toSeq
    val direct = TimeSeries.resampleCounts(df, Seq("g"), "ts")
      .orderBy("g", "slot").collect().toSeq
    assert(dense === direct)
    val h1 = TimeSeries.slotCounts(df.filter($"ts".cast("long") % 2 === 0), Seq("g"), "ts")
    val h2 = TimeSeries.slotCounts(df.filter($"ts".cast("long") % 2 === 1), Seq("g"), "ts")
    val merged = TimeSeries.mergeSlotCounts(h1, h2, Seq("g"))
      .orderBy("g", "slot").collect().toSeq
    assert(merged === TimeSeries.slotCounts(df, Seq("g"), "ts")
      .orderBy("g", "slot").collect().toSeq)
  }

  test("gapAnalysis: run lengths, earliest-start tie pin, trailing gap, no-zero key") {
    def ts(i: Int) = new java.sql.Timestamp(i * 3600L * 1000L)
    val vals = Seq(0L, 0L, 3L, 0L, 1L, 0L, 0L, 0L, 2L, 0L)
    val df = vals.zipWithIndex.map { case (v, i) => ("k", ts(i + 1), v) }
      .toDF("g", "slot", "n")
    val r = TimeSeries.gapAnalysis(df, Seq("g"), "slot", "n").collect()(0)
    assert(r.getAs[Long]("n_slots") === 10L)
    assert(r.getAs[Long]("zero_slots") === 7L)
    assert(r.getAs[Long]("n_zero_runs") === 4L)
    assert(r.getAs[Long]("longest_zero_run") === 3L)
    assert(r.getAs[java.sql.Timestamp]("longest_run_start") === ts(6))
    assert(r.getAs[Long]("trailing_gap") === 1L)

    // tie between two max runs: the EARLIEST start wins
    val tie = Seq(0L, 0L, 5L, 0L, 0L).zipWithIndex
      .map { case (v, i) => ("k", ts(i + 1), v) }.toDF("g", "slot", "n")
    val rt = TimeSeries.gapAnalysis(tie, Seq("g"), "slot", "n").collect()(0)
    assert(rt.getAs[Long]("longest_zero_run") === 2L)
    assert(rt.getAs[java.sql.Timestamp]("longest_run_start") === ts(1))
    assert(rt.getAs[Long]("trailing_gap") === 2L)

    // a key with no zeros: zero stats empty, NULL start
    val full = (1 to 4).map(i => ("k", ts(i), i.toLong)).toDF("g", "slot", "n")
    val rf = TimeSeries.gapAnalysis(full, Seq("g"), "slot", "n").collect()(0)
    assert(rf.getAs[Long]("n_zero_runs") === 0L)
    assert(rf.getAs[Long]("longest_zero_run") === 0L)
    assert(rf.isNullAt(rf.fieldIndex("longest_run_start")))
    assert(rf.getAs[Long]("trailing_gap") === 0L)
  }

  // --- Triangles ------------------------------------------------------------

  test("triangleCounts: K4 (with reversed/duplicate/self-loop noise) and a path") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (3L, 1L), (4L, 4L)) // noise: reversed dups + self-loop
    val out = Triangles.triangleCounts(k4.toDF("a", "b"), "a", "b")
      .orderBy("node").collect()
    assert(out.length === 4)
    assert(out.forall(_.getAs[Long]("deg") === 3L))
    assert(out.forall(_.getAs[Long]("tri") === 3L))
    assert(out.forall(_.getAs[Double]("coeff") === 1.0))
    val summary = Triangles.transitivity(
      Triangles.triangleCounts(k4.toDF("a", "b"), "a", "b")).collect()(0)
    assert(summary.getAs[Long]("nodes") === 4L)
    assert(summary.getAs[Long]("edges") === 6L)
    assert(summary.getAs[Long]("triangles") === 4L)
    assert(summary.getAs[Long]("wedges") === 12L)
    assert(summary.getAs[Double]("transitivity") === 1.0)

    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val p = Triangles.triangleCounts(path, "a", "b").orderBy("node").collect()
    assert(p.map(_.getAs[Long]("tri")).toSeq === Seq(0L, 0L, 0L))
    assert(p(0).isNullAt(p(0).fieldIndex("coeff"))) // deg 1
    assert(p(1).getAs[Double]("coeff") === 0.0)     // deg 2, open wedge
  }

  test("triangleCounts parity with the q135 enumeration core on a random graph") {
    // deterministic pseudo-random graph: 40 nodes, ~160 edges
    val edges = (for (i <- 1 to 320) yield {
      val u = (i * 2654435761L % 40) + 1
      val v = (i * 40503L % 40) + 1
      (u, v)
    }).toDF("a", "b")
    val counts = Triangles.triangleCounts(edges, "a", "b")
    val triTotal = counts.agg(sum("tri")).collect()(0).getLong(0)
    val enumTotal = Triangles.triangles(
      edges.select(col("a").as("src"), col("b").as("dst"))).count()
    assert(triTotal === 3L * enumTotal) // each triangle counted at 3 nodes
    // per-node parity against perNode (nodes in >= 1 triangle)
    val byCounts = counts.filter(col("tri") > 0L)
      .select(col("node").cast("string"), col("tri")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byEnum = Triangles.perNode(
      edges.select(col("a").as("src"), col("b").as("dst"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCounts === byEnum)
  }

  // --- Changepoint ------------------------------------------------------------

  test("changepoint: planted level shift found at the boundary; constant series NULL verdict") {
    val shift = (1 to 20).map(t => ("k", t.toLong, if (t <= 10) 0L else 10L))
      .toDF("g", "t", "y")
    val r = TimeSeries.changepoint(shift, Seq("g"), "t", "y").collect()(0)
    assert(r.getAs[Long]("cp_t") === 10L)
    assert(r.getAs[Long]("cp_at") === 10L)
    assert(r.getAs[String]("d") === "-1000") // 20*S_10 - 10*S_20 = -1000
    // stat = 1000/(sqrt(20*1000 - 100^2)*sqrt(20)) = 1000/(100*sqrt(20))
    assert(math.abs(r.getAs[Double]("stat") - 1000d / (100d * math.sqrt(20d))) < 1e-12)
    assert(r.getAs[Boolean]("changed"))

    val const = (1 to 10).map(t => ("k", t.toLong, 5L)).toDF("g", "t", "y")
    val rc = TimeSeries.changepoint(const, Seq("g"), "t", "y").collect()(0)
    assert(rc.getAs[Long]("cp_t") === 1L) // all D = 0, earliest tie wins
    assert(rc.isNullAt(rc.fieldIndex("stat")))
    assert(rc.isNullAt(rc.fieldIndex("changed")))

    // a single-point series has no interior candidate: emits nothing
    val one = Seq(("k", 1L, 5L)).toDF("g", "t", "y")
    assert(TimeSeries.changepoint(one, Seq("g"), "t", "y").count() === 0L)

    // pure noise well under the 1.358 critical value: changed = false
    val noise = (1 to 20).map(t => ("k", t.toLong, (t % 2).toLong)).toDF("g", "t", "y")
    val rn = TimeSeries.changepoint(noise, Seq("g"), "t", "y").collect()(0)
    assert(!rn.getAs[Boolean]("changed"))
  }

  // --- Waterfilling -------------------------------------------------------------

  test("waterfillAllocation: boundary cases, budget respected, all-affordable fallback") {
    import graft.operators.Sampling
    // n = [2, 5, 10], B = 12 -> cap 5, allocs 2+5+5 = 12 (exact)
    val c1 = Seq(("k", "a", 2L), ("k", "b", 5L), ("k", "c", 10L)).toDF("g", "s", "n")
    val r1 = Sampling.waterfillAllocation(c1, Seq("g"), "n", 12L)
      .orderBy("s").collect()
    assert(r1.forall(_.getAs[Long]("cap") === 5L))
    assert(r1.map(_.getAs[Long]("alloc")).toSeq === Seq(2L, 5L, 5L))
    // B >= total -> everything funded, cap = max n
    val r2 = Sampling.waterfillAllocation(c1, Seq("g"), "n", 100L)
      .orderBy("s").collect()
    assert(r2.forall(_.getAs[Long]("cap") === 10L))
    assert(r2.map(_.getAs[Long]("alloc")).toSeq === Seq(2L, 5L, 10L))
    // tiny budget: cap floor(B/k), slack < k
    val r3 = Sampling.waterfillAllocation(c1, Seq("g"), "n", 5L)
      .orderBy("s").collect()
    assert(r3.forall(_.getAs[Long]("cap") === 1L))
    assert(r3.map(_.getAs[Long]("alloc")).sum === 3L)
    // property sweep: allocation never exceeds budget, slack < #rows,
    // and every row gets min(n, cap)
    for (b <- Seq(0L, 1L, 7L, 16L, 17L, 18L, 40L)) {
      val rows = Seq(("k", "a", 3L), ("k", "b", 3L), ("k", "c", 11L), ("k", "d", 0L))
        .toDF("g", "s", "n")
      val out = Sampling.waterfillAllocation(rows, Seq("g"), "n", b).collect()
      val total = out.map(_.getAs[Long]("alloc")).sum
      val cap = out.head.getAs[Long]("cap")
      assert(total <= math.max(b, 17L), s"b=$b total=$total")
      if (b < 17L) assert(b - total < 4L, s"b=$b slack=${b - total}")
      assert(out.forall(r => r.getAs[Long]("alloc") === math.min(r.getAs[Long]("n"), cap)))
    }
    // keyless wrapper
    val r0 = Sampling.waterfillAllocation(c1.drop("g"), Nil, "n", 12L).collect()
    assert(r0.map(_.getAs[Long]("alloc")).sum === 12L)
  }

  // --- Hamilton apportionment ----------------------------------------------------

  test("apportion: largest-remainder goldens, exact totals, ties to the smaller label") {
    import graft.operators.Sampling
    val c = Seq(("a", 4L), ("b", 3L), ("c", 2L)).toDF("cls", "n")
    val r = Sampling.apportion(c, Nil, "n", "cls", seats = 10L)
      .orderBy("cls").collect()
    assert(r.map(_.getAs[Long]("seats")).toSeq === Seq(5L, 3L, 2L))
    assert(r.map(_.getAs[String]("remainder")).toSeq === Seq("4", "3", "2"))

    // remainder tie: the smaller tie-column label wins the leftover
    val tie = Seq(("a", 1L), ("b", 1L)).toDF("cls", "n")
    val rt = Sampling.apportion(tie, Nil, "n", "cls", seats = 3L)
      .orderBy("cls").collect()
    assert(rt.map(_.getAs[Long]("seats")).toSeq === Seq(2L, 1L))

    // zero-count rows get zero; totals exact under a sweep
    for (k <- Seq(0L, 1L, 7L, 100L, 1001L)) {
      val cc = Seq(("a", 0L), ("b", 7L), ("c", 13L), ("d", 1L)).toDF("cls", "n")
      val out = Sampling.apportion(cc, Nil, "n", "cls", k).collect()
      assert(out.map(_.getAs[Long]("seats")).sum === k, s"k=$k")
      assert(out.filter(_.getAs[String]("cls") == "a").forall(r =>
        k == 0L || r.getAs[Long]("seats") <= 1L)) // zero row draws at most a tie leftover
    }
  }

  // --- Two-proportion z ------------------------------------------------------------

  test("twoProportion: golden z, z^2 == 2x2 chi-square, degenerate NULL, 3-group flag") {
    import graft.quality.Association
    val ab = ((1 to 8).map(_ => ("A", 1L)) ++ (1 to 2).map(_ => ("A", 0L)) ++
      (1 to 2).map(_ => ("B", 1L)) ++ (1 to 8).map(_ => ("B", 0L))).toDF("v", "hi")
    val r = Association.twoProportion(ab, Nil, "v", "hi").collect()(0)
    assert(r.getAs[String]("num") === "60") // 8*10 - 2*10
    val z = r.getAs[Double]("z")
    assert(math.abs(z - 60d * math.sqrt(20d) / (10d * 10d)) < 1e-12)
    // z^2 is the 2x2 chi-square (the pooled-variance identity)
    val cells = Association.associationCells(
      Association.contingencyCounts(ab, Nil, "v", "hi"), Nil)
    val (chi, _, dfree) = Association.associationStat(cells)
    assert(dfree === 1L)
    assert(math.abs(z * z - chi) < 1e-9)

    val allHit = Seq(("A", 1L), ("A", 1L), ("B", 1L)).toDF("v", "hi")
    val rd = Association.twoProportion(allHit, Nil, "v", "hi").collect()(0)
    assert(rd.isNullAt(rd.fieldIndex("z"))) // pooled variance 0

    val three = Seq(("A", 1L), ("B", 0L), ("C", 1L)).toDF("v", "hi")
    val r3 = Association.twoProportion(three, Nil, "v", "hi").collect()(0)
    assert(r3.getAs[Long]("n_groups") === 3L)
    assert(r3.isNullAt(r3.fieldIndex("z")))
  }

  // --- Vocabulary profile -----------------------------------------------------------

  test("vocabProfile: exact counts, hapax/TTR/head-share divisions, per-group isolation") {
    import graft.text.CorpusLaws
    val docs = Seq(("en", "a  a b"), ("en", "a c"), ("de", "x y"))
      .toDF("lang", "text")
    val out = CorpusLaws.vocabProfile(docs, Seq("lang"), "text", topK = 2)
      .orderBy("lang").collect()
    val en = out(1)
    assert(en.getAs[Long]("n_tokens") === 5L)
    assert(en.getAs[Long]("n_types") === 3L)
    assert(en.getAs[Long]("hapax") === 2L)
    assert(en.getAs[Long]("top_mass") === 4L) // a(3) + b(1): tie b<c by token
    assert(en.getAs[Double]("hapax_ratio") === 2d / 3d)
    assert(en.getAs[Double]("type_token_ratio") === 3d / 5d)
    assert(en.getAs[Double]("top_share") === 4d / 5d)
    val de = out(0)
    assert(de.getAs[Long]("n_types") === 2L)
    assert(de.getAs[Double]("hapax_ratio") === 1.0)
    assert(de.getAs[Double]("top_share") === 1.0) // topK covers everything
  }

  test("vocabProfile fold: profile from merged batch token counts equals rebuild") {
    import graft.text.CorpusLaws
    val docs = Seq(("en", "a  a b", 0), ("en", "a c", 1), ("de", "x y", 0),
      ("en", "b b c d", 2), ("de", "x", 1))
      .toDF("lang", "text", "b")
    val folded = (1 to 2).foldLeft(
        CorpusLaws.groupedTokenCounts(docs.filter(col("b") === 0), Seq("lang"), "text")) {
      (acc, i) => CorpusLaws.mergeTokenCounts(acc,
        CorpusLaws.groupedTokenCounts(docs.filter(col("b") === i), Seq("lang"), "text"),
        Seq("lang"))
    }
    val fromStore = CorpusLaws.vocabProfileFromCounts(folded, Seq("lang"), topK = 2)
      .orderBy("lang").collect()
    val rebuild = CorpusLaws.vocabProfile(docs, Seq("lang"), "text", topK = 2)
      .orderBy("lang").collect()
    assert(fromStore.toSeq === rebuild.toSeq)
    // and churn reads the same store shape: base = batch 0, cur = rest
    val base = CorpusLaws.groupedTokenCounts(
      docs.filter(col("b") === 0).select("text"), Nil, "text")
    val cur = CorpusLaws.mergeTokenCounts(
      CorpusLaws.groupedTokenCounts(docs.filter(col("b") === 1).select("text"), Nil, "text"),
      CorpusLaws.groupedTokenCounts(docs.filter(col("b") === 2).select("text"), Nil, "text"))
    val churnFold = CorpusLaws.vocabChurn(base, cur).collect()(0)
    val churnRebuild = CorpusLaws.vocabChurn(
      CorpusLaws.tokenCounts(docs.filter(col("b") === 0).select("text"), "text"),
      CorpusLaws.tokenCounts(docs.filter(col("b") =!= 0).select("text"), "text"))
      .collect()(0)
    assert(churnFold.toSeq === churnRebuild.toSeq)
  }

  // --- Effective sample size -------------------------------------------------------

  test("effectiveSampleSize: uniform weights give ESS = n; a dominant weight collapses it") {
    import graft.operators.Sampling
    val uni = Seq(("k", 2L), ("k", 2L), ("k", 2L)).toDF("g", "w")
    val ru = Sampling.effectiveSampleSize(uni, Seq("g"), "w").collect()(0)
    assert(ru.getAs[Double]("ess") === 3.0)
    assert(ru.getAs[Double]("ess_ratio") === 1.0)
    assert(ru.getAs[String]("sw") === "6" && ru.getAs[String]("sww") === "12")

    val skew = Seq(("k", 3L), ("k", 1L)).toDF("g", "w")
    val rs = Sampling.effectiveSampleSize(skew, Seq("g"), "w").collect()(0)
    assert(rs.getAs[Double]("ess") === 1.6) // 16/10

    val dom = (Seq(("k", 1000000L)) ++ (1 to 9).map(_ => ("k", 1L))).toDF("g", "w")
    val rd = Sampling.effectiveSampleSize(dom, Seq("g"), "w").collect()(0)
    assert(rd.getAs[Double]("ess") < 1.001) // one row carries everything

    val zeros = Seq(("k", 0L), ("k", 0L)).toDF("g", "w")
    val rz = Sampling.effectiveSampleSize(zeros, Seq("g"), "w").collect()(0)
    assert(rz.isNullAt(rz.fieldIndex("ess"))) // sww = 0: nothing weighted
  }

  // --- Cluster-size profile -----------------------------------------------------------

  test("clusterSizeProfile: histogram exact, totals replicated, dup factor one division") {
    import graft.dedup.ConnectedComponents
    val assign = Seq(
      ("a", 1L), ("b", 1L), ("c", 1L), // size 3
      ("d", 2L), ("e", 2L),            // size 2
      ("f", 3L), ("g", 3L),            // size 2
      ("h", 4L)                        // size 1
    ).toDF("node", "component")
    val out = ConnectedComponents.clusterSizeProfile(assign)
      .orderBy("size").collect()
    assert(out.map(r => (r.getAs[Long]("size"), r.getAs[Long]("n_clusters"),
      r.getAs[Long]("n_nodes"))).toSeq === Seq((1L, 1L, 1L), (2L, 2L, 4L), (3L, 1L, 3L)))
    assert(out.forall(_.getAs[Long]("total_nodes") === 8L))
    assert(out.forall(_.getAs[Long]("total_clusters") === 4L))
    assert(out.forall(_.getAs[Double]("dup_factor") === 0.5))
  }

  // --- k-fold assignment ----------------------------------------------------------

  test("kFoldAssign: exact balance per stratum, content-stable, folds partition rows") {
    import graft.operators.Sampling
    val rows = (1 to 23).map(i => (s"s${i % 2}", i.toLong)).toDF("g", "id")
    val out = Sampling.kFoldAssign(rows, Seq("g"), Seq("id"), k = 5).collect()
    assert(out.length === 23)
    assert(out.forall(r => r.getAs[Int]("fold") >= 0 && r.getAs[Int]("fold") < 5))
    // fold sizes within each stratum differ by at most one
    for (g <- Seq("s0", "s1")) {
      val sizes = out.filter(_.getAs[String]("g") == g)
        .groupBy(_.getAs[Int]("fold")).map(_._2.length).toSeq
      assert(sizes.size === 5)
      assert(sizes.max - sizes.min <= 1, s"$g sizes=$sizes")
    }
    // content stability: the assignment is a pure function of (g, id)
    val again = Sampling.kFoldAssign(rows.repartition(7), Seq("g"), Seq("id"), k = 5)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("id")) -> r.getAs[Int]("fold")).toMap
    assert(out.forall(r =>
      again((r.getAs[String]("g"), r.getAs[Long]("id"))) === r.getAs[Int]("fold")))
  }

  // --- Threshold cluster sweep -------------------------------------------------------

  test("thresholdClusterSweep: exact per-threshold clustering, including the empty threshold") {
    import graft.dedup.ConnectedComponents
    val pairs = Seq((1L, 2L, 0), (2L, 3L, 1), (4L, 5L, 2)).toDF("id_a", "id_b", "dist")
    val out = ConnectedComponents.thresholdClusterSweep(pairs, "id_a", "id_b", "dist", Seq(0, 1, 2))
      .orderBy("threshold").collect()
    assert(out.map(r => (r.getAs[Int]("threshold"), r.getAs[Long]("n_pairs"),
      r.getAs[Long]("n_nodes"), r.getAs[Long]("n_clusters"))).toSeq ===
      Seq((0, 1L, 2L, 1L), (1, 2L, 3L, 1L), (2, 3L, 5L, 2L)))
    assert(out(0).getAs[Double]("dup_factor") === 0.5)
    assert(math.abs(out(1).getAs[Double]("dup_factor") - 2d / 3d) < 1e-12)
    assert(out(2).getAs[Double]("dup_factor") === 0.6)
    // a threshold below every distance clusters nothing
    val empty = ConnectedComponents.thresholdClusterSweep(
      pairs.filter($"dist" > 0), "id_a", "id_b", "dist", Seq(0)).collect()(0)
    assert(empty.getAs[Long]("n_nodes") === 0L)
    assert(empty.getAs[Double]("dup_factor") === 0.0)
  }

  test("thresholdClusterSweep: driver sweep equals the per-threshold distributed loop") {
    import graft.dedup.ConnectedComponents
    val rnd = new scala.util.Random(12012)
    // random multigraph with duplicate pairs at different distances —
    // the per-(src,dst) MIN-dist collapse must make them count once
    val pairs = (1 to 400).map { _ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong, rnd.nextInt(8))
    }.toDF("id_a", "id_b", "dist")
    val ts = Seq(0, 2, 5, 7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("threshold").collect().map(r => (r.getAs[Int]("threshold"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_nodes"),
        r.getAs[Long]("n_clusters"), r.getAs[Double]("dup_factor"))).toSeq
    val fast = rows(ConnectedComponents.thresholdClusterSweep(
      pairs, "id_a", "id_b", "dist", ts))
    val dist = rows(ConnectedComponents.thresholdClusterSweep(
      pairs, "id_a", "id_b", "dist", ts, localPairThreshold = 0))
    assert(fast === dist)
    // caller's threshold order is preserved even when unsorted
    val shuffled = ConnectedComponents.thresholdClusterSweep(
      pairs, "id_a", "id_b", "dist", Seq(5, 0, 7, 2)).collect()
    assert(shuffled.map(_.getAs[Int]("threshold")).toSeq === Seq(5, 0, 7, 2))
    assert(rows(ConnectedComponents.thresholdClusterSweep(
      pairs, "id_a", "id_b", "dist", Seq(5, 0, 7, 2))) === fast)
  }

  test("distributed threshold sweep: a timeout cancels the tagged jobs before it propagates") {
    import graft.dedup.ConnectedComponents
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val rnd = new scala.util.Random(4411)
    val grouped = (1 to 400).map { _ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong, rnd.nextInt(8).toDouble)
    }.toDF("src", "dst", "d").dropDuplicates("src", "dst")
    val sc = spark.sparkContext
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.contains(ConnectedComponents.SweepJobTagPrefix))) started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      intercept[java.util.concurrent.TimeoutException] {
        ConnectedComponents.distributedThresholdSweep(grouped, 0 to 7,
          timeout = scala.concurrent.duration.Duration(1, "ms"))
      }
      // a cancelled job's JobEnd is posted just after its caller wakes, so
      // give the listener bus a moment before reading what is still active
      def active = {
        org.apache.spark.ListenerBusDrain(sc)
        started.asScala.toSet -- ended.asScala
      }
      val deadline = System.nanoTime() + 2000000000L
      while (active.nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      val stillActive = active
      assert(stillActive.isEmpty, s"sweep jobs still active after the timeout: $stillActive")
      // and nothing of the sweep starts afterwards
      val n = started.size
      Thread.sleep(500)
      org.apache.spark.ListenerBusDrain(sc)
      assert(started.size == n)
    } finally sc.removeSparkListener(listener)
  }

  test("apportion + A-ES composition: every group draws exactly its quota") {
    import graft.operators.Sampling
    val d = (1 to 60).map(i => (s"g${i % 3}", i.toLong, (i % 9 + 1).toLong))
      .toDF("g", "id", "w")
    val seats = Sampling.apportion(
      d.groupBy("g").agg(count(lit(1)).as("n")), Nil, "n", "g", seats = 12L)
      .select(col("g"), col("seats"))
    val drawn = Sampling.weightedSampleWithoutReplacement(d, Seq("g"), Seq("id"), "w", k = 100)
      .join(seats, Seq("g"))
      .filter(col("rank") <= col("seats"))
    val perG = drawn.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val quota = seats.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perG === quota.filter(_._2 > 0))
    assert(perG.values.sum === 12L)
  }

  // --- A-ES weighted sampling -------------------------------------------------

  test("weightedSampleWithoutReplacement: md5 race replayed key-for-key") {
    def l9Of(id: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val m = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      math.round(math.log((m + 1).toDouble / 1.152921504606846976e18) * 1e9)
    }
    val rows = (1 to 30).map(i => (s"g${i % 2}", i.toLong, (i % 7 + 1).toLong * 10L))
    val df = rows.toDF("g", "id", "w")
    val out = Sampling.weightedSampleWithoutReplacement(df, Seq("g"), Seq("id"), "w", k = 5)
      .orderBy("g", "rank").collect()
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (g, rs) =>
      rs.map { case (_, id, w) => (id, w, l9Of(id.toString), l9Of(id.toString).toDouble / w) }
        .sortWith { case ((ida, _, _, ka), (idb, _, _, kb)) => ka > kb || (ka == kb && ida < idb) }
        .take(5).zipWithIndex
        .map { case ((id, w, l9, _), i) => (g, id, w, l9, i + 1) }
    }
    assert(out.map(r => (r.getAs[String]("g"), r.getAs[Long]("id"), r.getAs[Long]("w"),
      r.getAs[Long]("l9"), r.getAs[Int]("rank"))).toSeq === expected)
  }

  test("weightedSampleWithoutReplacement: k >= group size keeps all rows, dense ranks") {
    val df = (1 to 4).map(i => ("g", i.toLong, 5L)).toDF("g", "id", "w")
    val out = Sampling.weightedSampleWithoutReplacement(df, Seq("g"), Seq("id"), "w", k = 10)
      .orderBy("rank").collect()
    assert(out.length === 4)
    assert(out.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2, 3, 4))
    // equal weights: the race reduces to the raw u-order (l9 descending)
    assert(out.map(_.getAs[Long]("l9")).toSeq.sliding(2).forall(s => s(0) >= s(1)))
    // zero/negative/null weights are excluded by contract
    val bad = Seq(("g", 9L, 0L), ("g", 10L, -3L)).toDF("g", "id", "w")
    assert(Sampling.weightedSampleWithoutReplacement(bad, Seq("g"), Seq("id"), "w", 3).count() === 0L)
  }

  // --- Weighted median ---------------------------------------------------------------

  test("weightedMedian: hand golden, unit weights reduce to the lower median") {
    import graft.operators.Quantiles
    // values 1(w5), 2(w1), 3(w10): W=16, rank (16+1) div 2 = 8 -> in 3's block
    val d = Seq(("g", 1L, 5L), ("g", 2L, 1L), ("g", 3L, 10L)).toDF("k", "v", "w")
    val r = Quantiles.weightedMedian(d, Seq("k"), "v", "w").collect()(0)
    assert(r.getAs[Long]("total_w") === 16L)
    assert(r.getAs[Long]("med_rank") === 8L)
    assert(r.getAs[Long]("median") === 3L)
    // unit weights == the house lower median ((n+1) div 2)
    val u = Seq(1L, 2L, 3L, 4L).map(("g", _, 1L)).toDF("k", "v", "w")
    assert(Quantiles.weightedMedian(u, Seq("k"), "v", "w")
      .collect()(0).getAs[Long]("median") === 2L)
    // zero/negative weights excluded
    val z = Seq(("g", 9L, 0L), ("g", 1L, 2L)).toDF("k", "v", "w")
    assert(Quantiles.weightedMedian(z, Seq("k"), "v", "w")
      .collect()(0).getAs[Long]("median") === 1L)
  }

  // --- Neyman allocation -------------------------------------------------------------

  test("neymanAllocation: variance-proportional seats, zero-variance strata weigh 0") {
    import graft.operators.Sampling
    // stratum a: values {0, 10} x5 -> n=10, sd=5, N*sd = 50
    // stratum b: values {0, 30} x5 -> n=10, sd=15, N*sd = 150
    // stratum c: constant -> weight 0
    val d = ((1 to 5).flatMap(_ => Seq(("a", 0L), ("a", 10L))) ++
      (1 to 5).flatMap(_ => Seq(("b", 0L), ("b", 30L))) ++
      (1 to 4).map(_ => ("c", 7L))).toDF("s", "v")
    val out = Sampling.neymanAllocation(d, Nil, "s", "v", budget = 8L)
      .orderBy("stratum").collect()
    val seats = out.map(r => r.getAs[String]("stratum") -> r.getAs[Long]("seats")).toMap
    assert(seats === Map("a" -> 2L, "b" -> 6L, "c" -> 0L)) // 50:150:0 of 8
    assert(out.map(_.getAs[Long]("seats")).sum === 8L)
    // var_num is the exact integer (N*sdN)^2: a -> 10*500-50^2 = 2500
    assert(out(0).getAs[String]("var_num") === "2500")
  }

  // --- Embedding audit ---------------------------------------------------------------

  test("embeddingAudit: nulls, zero vectors, dimension drift, exact norm card") {
    import graft.similarity.EmbeddingAudit
    val rows = Seq(
      (1L, Array(3f, 4f)),          // norm 5
      (2L, Array(0f, 0f)),          // zero vector
      (3L, Array(1f, 0f, 0f)),      // dim drift, norm 1
      (4L, null.asInstanceOf[Array[Float]]))
    val df = rows.toDF("vec_id", "embedding")
    val r = EmbeddingAudit.audit(df, "vec_id", "embedding").collect()(0)
    assert(r.getAs[Long]("n_vecs") === 4L && r.getAs[Long]("n_null") === 1L)
    assert(r.getAs[Int]("dim_min") === 2 && r.getAs[Int]("dim_max") === 3)
    assert(r.getAs[Long]("n_dims") === 2L)
    assert(r.getAs[Long]("n_zero") === 1L && r.getAs[Long]("n_nonfinite") === 0L)
    assert(r.getAs[Double]("norm_min") === 0.0 && r.getAs[Double]("norm_max") === 5.0)
    assert(r.getAs[String]("norm9_sum") === "6000000000") // 5 + 0 + 1 nano
    assert(r.getAs[Double]("norm_mean") === 2.0)
  }

  // --- Quantile shift ----------------------------------------------------------------

  test("quantileShift: identity law, known shift, one-sided groups dropped") {
    import graft.operators.Quantiles
    val base = (1 to 100).map(i => ("g", i.toLong, i.toLong)).toDF("k", "v", "id")
    // identical snapshots: every shift 0
    val same = Quantiles.quantileShift(base, base, Seq("k"), "v", "id").collect()
    assert(same.length === 5)
    assert(same.forall(_.getAs[Long]("shift") === 0L))
    // +7 uniform shift moves every quantile by exactly 7
    val cur = (1 to 100).map(i => ("g", i.toLong + 7L, i.toLong)).toDF("k", "v", "id")
    val out = Quantiles.quantileShift(base, cur, Seq("k"), "v", "id")
      .orderBy("p").collect()
    assert(out.forall(_.getAs[Long]("shift") === 7L))
    // p50 of 1..100 at rank (50*101) div 100 = 50
    assert(out(2).getAs[Int]("p") === 50 && out(2).getAs[Long]("v_base") === 50L)
    // a group present on one side only emits nothing
    val lone = (1 to 10).map(i => ("only", i.toLong, i.toLong)).toDF("k", "v", "id")
    assert(Quantiles.quantileShift(base, lone, Seq("k"), "v", "id").count() === 0L)
  }

  // --- Mixture distance --------------------------------------------------------------

  test("mixtureDistanceMatrix: identical sources -> 0, disjoint -> ln 2, vs direct JS") {
    import graft.text.CorpusLaws
    import graft.quality.Association
    val docs = Seq(("s1", "a a b c"), ("s2", "a a b c"), ("s3", "x y z"),
      ("s4", "a b b b")).toDF("src", "text")
    val out = CorpusLaws.mixtureDistanceMatrix(docs, "src", "text")
      .collect().map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) -> r).toMap
    assert(out.size === 6)
    assert(math.abs(out(("s1", "s2")).getAs[Double]("js")) < 1e-9) // identical
    assert(math.abs(out(("s1", "s3")).getAs[Double]("js_norm") - 1.0) < 1e-12) // disjoint
    // cross-check a partial-overlap pair against the direct two-snapshot JS
    val direct = Association.jsStat(Association.jsDivergence(
      Seq("a", "a", "b", "c").toDF("tok"), Seq("a", "b", "b", "b").toDF("tok"), "tok"))
    assert(math.abs(out(("s1", "s4")).getAs[Double]("js") - direct) < 1e-6)
  }

  // --- Brown–Forsythe ----------------------------------------------------------------

  test("brownForsythe: hand golden, equal-scale null, degenerate one-group NULL") {
    import graft.quality.Association
    // A = [1,2,3,4,10] (med 3, z = 2,1,0,1,7), B = [5,5,5,5,5] (z = 0):
    // SSB = 12.1, SSW = 30.8, W = 8 * 12.1/30.8 = 22/7
    val d = (Seq(1L, 2L, 3L, 4L, 10L).map(("A", _)) ++
      Seq.fill(5)(("B", 5L))).toDF("g", "v")
    val out = Association.brownForsythe(d, Nil, "g", "v")
      .orderBy("grp").collect()
    assert(out.map(_.getAs[String]("grp")).toSeq === Seq("A", "B"))
    assert(out(0).getAs[Long]("med") === 3L)
    assert(out(0).getAs[String]("s_abs") === "11")
    assert(out(1).getAs[Long]("med") === 5L)
    assert(out(1).getAs[String]("s_abs") === "0")
    assert(out.forall(_.getAs[Long]("n") === 10L))
    assert(math.abs(out(0).getAs[Double]("w") - 22d / 7d) < 1e-8)
    // identical groups: W = 0 exactly (every deviation 0)
    val same = (Seq(1L, 2L, 9L).map(("A", _)) ++ Seq(1L, 2L, 9L).map(("B", _)))
      .toDF("g", "v")
    val rs = Association.brownForsythe(same, Nil, "g", "v").collect()(0)
    assert(rs.getAs[Double]("w") === 0.0)
    // one group: k < 2 -> NULL
    val one = Seq(("A", 1L), ("A", 5L)).toDF("g", "v")
    val r1 = Association.brownForsythe(one, Nil, "g", "v").collect()(0)
    assert(r1.isNullAt(r1.fieldIndex("w")))
  }

  // --- One-way ANOVA -----------------------------------------------------------------

  test("oneWayAnova: hand golden F = 13.5, identical groups 0, degenerates NULL") {
    import graft.quality.Association
    // A = [1,2,3], B = [4,5,6]: SSB = 13.5, SSW = 4,
    // F = (6-2)/(2-1) * 13.5/4 = 13.5
    val d = (Seq(1L, 2L, 3L).map(("A", _)) ++ Seq(4L, 5L, 6L).map(("B", _)))
      .toDF("g", "v")
    val out = Association.oneWayAnova(d, Nil, "g", "v").orderBy("grp").collect()
    assert(out.map(_.getAs[String]("grp")).toSeq === Seq("A", "B"))
    assert(out(0).getAs[String]("s") === "6" && out(1).getAs[String]("s") === "15")
    assert(out.forall(r => r.getAs[Long]("n") === 6L && r.getAs[Long]("k") === 2L))
    assert(math.abs(out(0).getAs[Double]("f") - 13.5) < 1e-8)
    // identical groups: between sum exactly 0 -> F = 0
    val same = (Seq(1L, 2L, 9L).map(("A", _)) ++ Seq(1L, 2L, 9L).map(("B", _)))
      .toDF("g", "v")
    assert(Association.oneWayAnova(same, Nil, "g", "v")
      .collect()(0).getAs[Double]("f") === 0.0)
    // one group (k < 2) and zero-within (constant groups) -> NULL
    val one = Seq(("A", 1L), ("A", 5L)).toDF("g", "v")
    val r1 = Association.oneWayAnova(one, Nil, "g", "v").collect()(0)
    assert(r1.isNullAt(r1.fieldIndex("f")))
    val const = Seq(("A", 2L), ("A", 2L), ("B", 7L), ("B", 7L)).toDF("g", "v")
    val rc = Association.oneWayAnova(const, Nil, "g", "v").collect()(0)
    assert(rc.isNullAt(rc.fieldIndex("f")))
  }

  // --- Welch's t ---------------------------------------------------------------------

  test("yuenT: hand-rational golden, g = 0 Welch reduction, outlier invariance, flags") {
    import graft.quality.Association
    // A = 1..10, B = A + 10, trim 20% → g = 2, h = 6: trimmed means
    // 5.5/15.5; winsorized {3,3,3,4..8,8,8}: Σw = 55, Σw² = 345 →
    // s²w = (10·345 − 55²)/90 = 85/18; se² = (85/18)·9/30 = 17/12 per
    // arm → t = −10/√(17/6) = −√(600/17), df = 10 (equal se² halves)
    val a = (1 to 10).map(i => ("A", i.toLong, i.toLong))
    val b = (1 to 10).map(i => ("B", (i + 10).toLong, (i + 100).toLong))
    val rows = (a ++ b).toDF("arm", "v", "tb")
    val r = Association.yuenT(rows, Nil, "arm", "v", "tb", trimPct = 20)
      .collect()(0)
    assert(r.getAs[Long]("g_lo") === 2L && r.getAs[Long]("h_lo") === 6L)
    assert(math.abs(r.getAs[Double]("mean_trim_lo") - 5.5d) < 1e-12)
    assert(math.abs(r.getAs[Double]("mean_trim_hi") - 15.5d) < 1e-12)
    assert(math.abs(r.getAs[Double]("effect_trim") - (-10d)) < 1e-12)
    assert(math.abs(r.getAs[Double]("t") - (-math.sqrt(600d / 17d))) < 1e-9)
    assert(math.abs(r.getAs[Double]("df") - 10d) < 1e-9)
    // g = 0 (trimPct below 10/n) reduces to Welch's t
    val w = Association.welchT(rows, Nil, "arm", "v").collect()(0)
    val y0 = Association.yuenT(rows, Nil, "arm", "v", "tb", trimPct = 5)
      .collect()(0)
    assert(y0.getAs[Long]("g_lo") === 0L)
    assert(math.abs(y0.getAs[Double]("t") - w.getAs[Double]("t")) < 1e-9)
    assert(math.abs(y0.getAs[Double]("df") - w.getAs[Double]("df")) < 1e-9)
    // ROBUSTNESS: replacing arm B's max with a 100× outlier leaves
    // Yuen's statistic bit-identical (the outlier is trimmed and its
    // clamp bound unchanged) while Welch's t moves
    val wild = rows.withColumn("v",
      when(col("v") === 20L, 2000L).otherwise(col("v")))
    val rw = Association.yuenT(wild, Nil, "arm", "v", "tb", trimPct = 20)
      .collect()(0)
    assert(rw.getAs[Double]("t") === r.getAs[Double]("t"))
    assert(rw.getAs[Double]("df") === r.getAs[Double]("df"))
    val ww = Association.welchT(wild, Nil, "arm", "v").collect()(0)
    assert(math.abs(ww.getAs[Double]("t") - w.getAs[Double]("t")) > 1d)
    // flags: a kept count below 2 (n = 3 at 40% trim → g = 1, h = 1)
    // NULLs the statistics but keeps the trimmed mean
    val tiny = (Seq(("A", 1L, 1L), ("A", 5L, 2L), ("A", 9L, 3L)) ++ b)
      .toDF("arm", "v", "tb")
    val rt = Association.yuenT(tiny, Nil, "arm", "v", "tb", trimPct = 40)
      .collect()(0)
    assert(rt.getAs[Long]("h_lo") === 1L)
    assert(rt.isNullAt(rt.fieldIndex("t")))
    assert(math.abs(rt.getAs[Double]("mean_trim_lo") - 5d) < 1e-12)
    val three = rows.unionAll(Seq(("C", 1L, 999L)).toDF("arm", "v", "tb"))
    val r3 = Association.yuenT(three, Nil, "arm", "v", "tb").collect()(0)
    assert(r3.getAs[Long]("n_groups") === 3L && r3.isNullAt(r3.fieldIndex("t")))
    intercept[IllegalArgumentException] {
      Association.yuenT(rows, Nil, "arm", "v", "tb", trimPct = 50)
    }
  }

  test("pairedT: hand golden, unit-shift invariance, constant-diff flag") {
    import graft.quality.Association
    // d = {2, 3, 0, 3}: Σd = 8, Σd² = 22, varNum = 4·22 − 64 = 24 →
    // t = 8·√3/√24 = 2√2, df = 3, mean 2
    val rows = Seq((3L, 1L), (5L, 2L), (2L, 2L), (4L, 1L)).toDF("x", "y")
    val r = Association.pairedT(rows, Nil, "x", "y").collect()(0)
    assert(r.getAs[Long]("n") === 4L)
    assert(math.abs(r.getAs[Double]("mean_diff") - 2d) < 1e-12)
    assert(r.getAs[String]("var_num") === "24")
    assert(math.abs(r.getAs[Double]("t") - 2d * math.sqrt(2d)) < 1e-12)
    assert(math.abs(r.getAs[Double]("df") - 3d) < 1e-12)
    // the paired design's whole point: a per-unit shift added to BOTH
    // conditions cancels — t bit-identical
    val shifted = Seq((1003L, 1001L), (205L, 202L), (52L, 52L), (9004L, 9001L))
      .toDF("x", "y")
    val rs = Association.pairedT(shifted, Nil, "x", "y").collect()(0)
    assert(rs.getAs[Double]("t") === r.getAs[Double]("t"))
    // constant diffs: zero variance → NULL t, mean kept
    val const = Seq((5L, 2L), (8L, 5L), (10L, 7L)).toDF("x", "y")
    val rc = Association.pairedT(const, Nil, "x", "y").collect()(0)
    assert(rc.isNullAt(rc.fieldIndex("t")))
    assert(math.abs(rc.getAs[Double]("mean_diff") - 3d) < 1e-12)
  }

  test("wilcoxonSignedRank: hand goldens (distinct + tied + zero-dropped), sign antisymmetry") {
    import graft.quality.Association
    // diffs {+1,−2,+3,+4,+5}: W⁺ = 13 → 2W⁺ = 26, varNum = 660,
    // z = 22/√220 = 11/√55
    val a = Seq((2L, 1L), (0L, 2L), (4L, 1L), (5L, 1L), (6L, 1L)).toDF("x", "y")
    val ra = Association.wilcoxonSignedRank(a, Nil, "x", "y").collect()(0)
    assert(ra.getAs[Long]("n") === 5L && ra.getAs[Long]("n_zero") === 0L)
    assert(ra.getAs[String]("w2_plus") === "26")
    assert(ra.getAs[String]("var_num") === "660")
    assert(math.abs(ra.getAs[Double]("z") - 11d / math.sqrt(55d)) < 1e-12)
    // ties: diffs {+1,+1,−1,+2} — |1| average rank 2 (doubled 4),
    // ties = 2⁴... Σ(t³−t) = 24, 2W⁺ = 16, varNum = 336, z = 12/√112
    val b = Seq((2L, 1L), (3L, 2L), (0L, 1L), (4L, 2L)).toDF("x", "y")
    val rb = Association.wilcoxonSignedRank(b, Nil, "x", "y").collect()(0)
    assert(rb.getAs[String]("w2_plus") === "16")
    assert(rb.getAs[String]("var_num") === "336")
    assert(math.abs(rb.getAs[Double]("z") - 12d / math.sqrt(112d)) < 1e-12)
    // zeros drop FLAGGED: diffs {0, 0, +5} → n = 1, n_zero = 2, z = 1
    val c = Seq((1L, 1L), (7L, 7L), (6L, 1L)).toDF("x", "y")
    val rc = Association.wilcoxonSignedRank(c, Nil, "x", "y").collect()(0)
    assert(rc.getAs[Long]("n") === 1L && rc.getAs[Long]("n_zero") === 2L)
    assert(math.abs(rc.getAs[Double]("z") - 1d) < 1e-12)
    // antisymmetry: swapping the conditions negates z exactly
    val rn = Association.wilcoxonSignedRank(a, Nil, "y", "x").collect()(0)
    assert(rn.getAs[Double]("z") === -ra.getAs[Double]("z"))
    // all-zero diffs: n = 0, NULL z, never a crash (ANSI)
    val z0 = Association.wilcoxonSignedRank(
      Seq((3L, 3L), (4L, 4L)).toDF("x", "y"), Nil, "x", "y").collect()(0)
    assert(z0.getAs[Long]("n") === 0L && z0.getAs[Long]("n_zero") === 2L)
    assert(z0.isNullAt(z0.fieldIndex("z")))
  }

  test("paired-diff cells: fold == rebuild; the streaming store answers both matched tests") {
    import graft.quality.Association
    import graft.streaming.{StoreMaintenance, StreamingOps}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mk = (n: Int, seed: Int) => (0 until n).map { i =>
      (i.toLong + seed * 1000L, (i % 7 + seed).toLong, (i % 5).toLong)
    }
    val b1 = mk(60, 1); val b2 = mk(50, 2)
    val all = (b1 ++ b2).toDF("unit", "x", "y")
    // batch fold == rebuild
    val folded = Association.mergePairedDiffCells(
      Association.pairedDiffCells(b1.toDF("unit", "x", "y"), Nil, "x", "y"),
      Association.pairedDiffCells(b2.toDF("unit", "x", "y"), Nil, "x", "y"), Nil)
    val rebuilt = Association.pairedDiffCells(all, Nil, "x", "y")
    assert(folded.orderBy("d").collect().toSeq ===
      rebuilt.orderBy("d").collect().toSeq)
    // streaming fold equals the batch rebuild; the store answers both tests
    val tmp = java.nio.file.Files.createTempDirectory("graft-pdstream").toString
    val mem = MemoryStream[(Long, Long, Long)]
    def rows = mem.toDF().toDF("unit", "x", "y")
    mem.addData(b1: _*)
    StreamingOps.pairedDiffCellsStream(rows, "x", "y",
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.pairedDiffCellsStream(rows, "x", "y",
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val store = spark.read.parquet(latest)
    assert(store.orderBy("d").collect().toSeq ===
      rebuilt.orderBy("d").collect().toSeq)
    assert(Association.pairedTFromCells(store, Nil).collect().toSeq ===
      Association.pairedT(all, Nil, "x", "y").collect().toSeq)
    assert(Association.wilcoxonSignedRankFromCells(store, Nil).collect().toSeq ===
      Association.wilcoxonSignedRank(all, Nil, "x", "y").collect().toSeq)
  }

  test("hodgesLehmann: hand goldens (odd/even/tied), zeros included, store read matches") {
    import graft.quality.Association
    // diffs {1,2,3}: Walsh averages {1,1.5,2,2,2.5,3} → lower median 2
    def hl(ds: Seq[Long]): org.apache.spark.sql.Row =
      Association.hodgesLehmann(
        ds.zipWithIndex.map { case (d, i) => (i.toLong, d, 0L) }
          .toDF("u", "x", "y"), Nil, "x", "y").collect()(0)
    val r1 = hl(Seq(1L, 2L, 3L))
    assert(r1.getAs[String]("n_pairs2") === "12" && r1.getAs[Double]("hl") === 2d)
    // even count {1,2,3,4}: 10 Walsh averages, lower median (rank 5) = 2.5
    assert(hl(Seq(1L, 2L, 3L, 4L)).getAs[Double]("hl") === 2.5d)
    // ties {1,1,3}: Walsh {1,1,1,2,2,3} → 1
    assert(hl(Seq(1L, 1L, 3L)).getAs[Double]("hl") === 1d)
    // zeros are DIFFERENCES like any other (only the test discards
    // them): {0,0,4} → Walsh {0,0,0,2,2,4} → 0
    assert(hl(Seq(0L, 0L, 4L)).getAs[Double]("hl") === 0d)
    // the standing diff-cell store answers the same estimate
    val pairs = (0 until 80).map(i => (i.toLong, (i % 9).toLong, (i % 4).toLong))
    val cells = Association.pairedDiffCells(
      pairs.toDF("u", "x", "y"), Nil, "x", "y")
    assert(Association.hodgesLehmannFromCells(cells, Nil).collect().toSeq ===
      Association.hodgesLehmann(pairs.toDF("u", "x", "y"), Nil, "x", "y")
        .collect().toSeq)
  }

  test("hodgesLehmannTwoSample: hand golden, brute-force differential, flags") {
    import graft.quality.Association
    def run(xs: Seq[Long], ys: Seq[Long]): org.apache.spark.sql.Row =
      Association.hodgesLehmannTwoSample(
        (xs.map(("a", _)) ++ ys.map(("b", _))).toDF("grp0", "v"),
        Nil, "grp0", "v").collect()(0)
    // {1,2} vs {3,4}: diffs lo-hi sorted {-3,-2,-2,-1}, lower median -2;
    // k = max(0, floor(2 - 1.959964*sqrt(20/12))) = 0 -> CI = [D(1), D(4)]
    val r = run(Seq(1L, 2L), Seq(3L, 4L))
    assert(r.getAs[String]("n_pairs") === "4")
    assert(r.getAs[Long]("k_alpha") === 0L)
    assert(r.getAs[Double]("hl") === -2d)
    assert(r.getAs[Double]("ci_lo") === -3d)
    assert(r.getAs[Double]("ci_hi") === -1d)
    // brute force: enumerate all m*n differences and replay the three
    // rank selections directly (independent of the cell-grid dag)
    val rnd = new scala.util.Random(42L)
    for (trial <- 0 until 6) {
      val xs = Seq.fill(3 + rnd.nextInt(12))(rnd.nextInt(8).toLong)
      val ys = Seq.fill(3 + rnd.nextInt(12))(rnd.nextInt(8).toLong)
      val ds = (for (x <- xs; y <- ys) yield x - y).sorted
      val mn = ds.size
      val k = math.max(0L, math.floor(mn / 2d - 1.959964 *
        math.sqrt(mn.toDouble * (xs.size + ys.size + 1) / 12d)).toLong)
      val got = run(xs, ys)
      assert(got.getAs[Double]("hl") === ds((mn - 1) / 2).toDouble, s"hl trial $trial")
      assert(got.getAs[Long]("k_alpha") === k, s"k trial $trial")
      assert(got.getAs[Double]("ci_lo") === ds(k.toInt).toDouble, s"cilo trial $trial")
      assert(got.getAs[Double]("ci_hi") === ds((mn - k - 1).toInt).toDouble,
        s"cihi trial $trial")
      assert(got.getAs[String]("n_pairs") === mn.toString)
    }
    // one group -> flag row with NULL statistics, never a crash
    val one = Association.hodgesLehmannTwoSample(
      Seq(("a", 1L), ("a", 2L)).toDF("grp0", "v"), Nil, "grp0", "v").collect()(0)
    assert(one.getAs[Long]("n_groups") === 1L)
    assert(one.isNullAt(one.fieldIndex("hl")))
    // three groups -> n_groups flag, NULL statistics
    val three = Association.hodgesLehmannTwoSample(
      Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("grp0", "v"),
      Nil, "grp0", "v").collect()(0)
    assert(three.getAs[Long]("n_groups") === 3L)
    assert(three.isNullAt(three.fieldIndex("hl")))
    // from-cells fold == rebuild
    val all = (0 until 60).map(i => (if (i % 2 == 0) "a" else "b", (i % 7).toLong))
    val parts = all.zipWithIndex.groupBy(_._2 % 3).values.toSeq.map(p =>
      Association.rankCells(p.map(_._1).toDF("grp0", "v"), Nil, "grp0", "v"))
    val folded = parts.reduce(Association.mergeRankCells(_, _, Nil))
    assert(Association.hodgesLehmannTwoSampleFromCells(folded, Nil).collect().toSeq ===
      Association.hodgesLehmannTwoSample(all.toDF("grp0", "v"), Nil, "grp0", "v")
        .collect().toSeq)
  }

  test("welchT: hand golden t/df, 3-group flag, tiny-side NULL") {
    import graft.quality.Association
    // lo = [1,2,3] (var 1), hi = [2,4,6,8] (var 20/3):
    // se = 1/3 + 5/3 = 2, t = -3/sqrt(2), df = 4/(1/18 + 25/27)
    val d = (Seq(1L, 2L, 3L).map(("a", _)) ++ Seq(2L, 4L, 6L, 8L).map(("b", _)))
      .toDF("g", "v")
    val r = Association.welchT(d, Nil, "g", "v").collect()(0)
    assert(r.getAs[String]("grp_lo") === "a" && r.getAs[String]("grp_hi") === "b")
    assert(r.getAs[Long]("n_lo") === 3L && r.getAs[Long]("n_hi") === 4L)
    assert(r.getAs[String]("var_num_lo") === "6" && r.getAs[String]("var_num_hi") === "80")
    assert(math.abs(r.getAs[Double]("t") - (-3d / math.sqrt(2d))) < 1e-10)
    assert(math.abs(r.getAs[Double]("df") - 4d / (1d / 18d + 25d / 27d)) < 1e-10)
    // >2 groups: flagged, statistics NULL (the mannWhitney pivot rule)
    val three = d.unionAll(Seq(("c", 9L)).toDF("g", "v"))
    val r3 = Association.welchT(three, Nil, "g", "v").collect()(0)
    assert(r3.getAs[Long]("n_groups") === 3L && r3.isNullAt(r3.fieldIndex("t")))
    // a 1-observation side has no variance estimate -> NULL
    val tiny = Seq(("a", 1L), ("b", 4L), ("b", 6L)).toDF("g", "v")
    val rt = Association.welchT(tiny, Nil, "g", "v").collect()(0)
    assert(rt.isNullAt(rt.fieldIndex("t")))
  }

  // --- Cramér–von Mises --------------------------------------------------------------

  test("cvm: hand golden T, identical histograms exactly 0, gap sign preserved") {
    import graft.quality.Profiler
    // base {b0: 2}, cur {b0: 1, b1: 1}: gap(b0) = 2*2 - 1*2 = 2,
    // gap(b1) = 0; T = [3*(2/4)^2] * 4/16 = 0.1875
    val hb = Seq((0L, 2L)).toDF("bucket", "cnt")
    val hc = Seq((0L, 1L), (1L, 1L)).toDF("bucket", "cnt")
    val frame = Profiler.cvmFromHistograms(hb, hc).orderBy("bucket").collect()
    assert(frame(0).getDecimal(5).longValueExact() === 2L)
    assert(frame(0).getAs[Long]("cell_tot") === 3L)
    assert(frame(1).getDecimal(5).longValueExact() === 0L)
    assert(Profiler.cvmStat(Profiler.cvmFromHistograms(hb, hc)) === 0.1875)
    // identical histograms: every gap integer-exact 0, T = 0
    val same = Seq((0L, 3L), (1L, 2L), (5L, 4L)).toDF("bucket", "cnt")
    val id = Profiler.cvmFromHistograms(same, same).collect()
    assert(id.forall(_.getDecimal(5).signum == 0))
    assert(Profiler.cvmStat(Profiler.cvmFromHistograms(same, same)) === 0.0)
    // the gap is SIGNED (unlike ks_num): flipping sides flips the sign
    val flipped = Profiler.cvmFromHistograms(hc, hb).orderBy("bucket").collect()
    assert(flipped(0).getDecimal(5).longValueExact() === -2L)
  }

  // --- Friedman ----------------------------------------------------------------------

  test("friedman: textbook golden, incomplete-block drop, all-tied NULL") {
    import graft.quality.Association
    // ranks per block: (1,2,3), (1,3,2), (1,2,3) -> R = 3,7,8
    // chi2 = 12/(3*3*4)*(9+49+64) - 3*3*4 = 4.666..., W = chi2/6
    val d = Seq(
      ("b1", "A", 10L), ("b1", "B", 20L), ("b1", "C", 30L),
      ("b2", "A", 1L), ("b2", "B", 9L), ("b2", "C", 5L),
      ("b3", "A", 2L), ("b3", "B", 4L), ("b3", "C", 9L)).toDF("blk", "j", "v")
    val out = Association.friedman(d, "blk", "j", "v").orderBy("treatment").collect()
    assert(out.map(_.getAs[String]("treatment")).toSeq === Seq("A", "B", "C"))
    assert(out.map(_.getAs[String]("r2_sum")).toSeq === Seq("6", "14", "16"))
    assert(out.map(_.getAs[String]("d")).toSeq === Seq("-6", "2", "4"))
    assert(out.forall(r => math.abs(r.getAs[Double]("chi2") - 14d / 3d) < 1e-8))
    assert(out.forall(r => math.abs(r.getAs[Double]("chi2_tie") - 14d / 3d) < 1e-8))
    assert(out.forall(r => math.abs(r.getAs[Double]("w") - 7d / 9d) < 1e-8))
    assert(out.forall(_.getAs[Long]("n_incomplete") === 0L))
    // an incomplete block drops whole and is flagged
    val withBad = d.unionAll(Seq(("b4", "A", 5L)).toDF("blk", "j", "v"))
    val ob = Association.friedman(withBad, "blk", "j", "v").orderBy("treatment").collect()
    assert(ob.forall(_.getAs[Long]("n_incomplete") === 1L))
    assert(ob.map(_.getAs[String]("r2_sum")).toSeq === Seq("6", "14", "16"))
    // every block fully tied: C <= 0 -> NULL tie-corrected stats
    val tied = Seq(("b1", "A", 5L), ("b1", "B", 5L), ("b2", "A", 3L), ("b2", "B", 3L))
      .toDF("blk", "j", "v")
    val ot = Association.friedman(tied, "blk", "j", "v").collect()(0)
    assert(ot.isNullAt(ot.fieldIndex("chi2_tie")) && ot.isNullAt(ot.fieldIndex("w")))
  }

  // --- Cronbach ----------------------------------------------------------------------

  test("cronbachAlpha: duplicate judge -> 1, zero total variance -> NULL, negative alpha") {
    import graft.operators.RankEval
    // a judge duplicated exactly: perfectly consistent scale, alpha = 1
    val dup = (1 to 4).flatMap(i => Seq((i.toLong, "X", i.toLong), (i.toLong, "Y", i.toLong)))
      .toDF("u", "j", "v")
    val rd = RankEval.cronbachAlpha(dup, "u", "j", "v").collect()(0)
    assert(rd.getAs[Double]("alpha") === 1.0)
    assert(rd.getAs[Long]("k") === 2L && rd.getAs[Long]("n_units") === 4L)
    // anti-correlated judges with constant totals: V_T = 0 -> NULL
    val anti = Seq((1L, "X", 1L), (1L, "Y", 2L), (2L, "X", 2L), (2L, "Y", 1L))
      .toDF("u", "j", "v")
    val ra = RankEval.cronbachAlpha(anti, "u", "j", "v").collect()(0)
    assert(ra.getAs[String]("total_var_num") === "0")
    assert(ra.isNullAt(ra.fieldIndex("alpha")))
    // X=[1,2,3], Y=[3,1,2]: sum V_j = 12, V_T = 6 -> alpha = 2(1-2) = -2
    val neg = Seq((1L, "X", 1L), (2L, "X", 2L), (3L, "X", 3L),
      (1L, "Y", 3L), (2L, "Y", 1L), (3L, "Y", 2L)).toDF("u", "j", "v")
    val rn = RankEval.cronbachAlpha(neg, "u", "j", "v").collect()(0)
    assert(rn.getAs[String]("sum_var_num") === "12")
    assert(rn.getAs[String]("total_var_num") === "6")
    assert(rn.getAs[Double]("alpha") === -2.0)
    // an incomplete unit drops whole and is flagged
    val withBad = dup.unionAll(Seq((9L, "X", 5L)).toDF("u", "j", "v"))
    val rb = RankEval.cronbachAlpha(withBad, "u", "j", "v").collect()(0)
    assert(rb.getAs[Long]("n_incomplete") === 1L && rb.getAs[Long]("n_units") === 4L)
  }

  // --- Cohen's d ---------------------------------------------------------------------

  test("cohensD: textbook golden, pooled-variance NULL, 3-group flag") {
    import graft.quality.Association
    // A=[1,2,3] B=[4,5,6]: d = (2-5)/1 = -3, g = -3*(1 - 3/15) = -2.4
    val sep = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("B", 4L), ("B", 5L), ("B", 6L))
      .toDF("g0", "v")
    val r = Association.cohensD(sep, Nil, "g0", "v").collect()(0)
    assert(r.getAs[String]("diff_num") === "-27") // 6*3 - 15*3
    assert(r.getAs[String]("var_num_lo") === "6" && r.getAs[String]("var_num_hi") === "6")
    assert(math.abs(r.getAs[Double]("d") - (-3.0)) < 1e-12)
    assert(math.abs(r.getAs[Double]("g_hedges") - (-2.4)) < 1e-12)
    // both groups constant: pooled variance 0 -> NULL d
    val const = Seq(("A", 2L), ("A", 2L), ("B", 7L), ("B", 7L)).toDF("g0", "v")
    val rc = Association.cohensD(const, Nil, "g0", "v").collect()(0)
    assert(rc.isNullAt(rc.fieldIndex("d")))
    // >2 groups: flagged, NULL statistics
    val three = Seq(("A", 1L), ("B", 2L), ("C", 3L)).toDF("g0", "v")
    val rt = Association.cohensD(three, Nil, "g0", "v").collect()(0)
    assert(rt.getAs[Long]("n_groups") === 3L)
    assert(rt.isNullAt(rt.fieldIndex("d")))
  }

  // --- McNemar -----------------------------------------------------------------------

  test("mcnemar: quadrant goldens, exact verdict boundary, all-agree NULL") {
    import graft.quality.Association
    def mk(both: Int, onlyA: Int, onlyB: Int, neither: Int) =
      (Seq.fill(both)((true, true)) ++ Seq.fill(onlyA)((true, false)) ++
        Seq.fill(onlyB)((false, true)) ++ Seq.fill(neither)((false, false)))
        .toDF("a", "b")
    val r = Association.mcnemar(mk(8, 6, 2, 4), Nil, "a", "b").collect()(0)
    assert(r.getAs[Long]("n") === 20L && r.getAs[Long]("both_pass") === 8L)
    assert(r.getAs[Long]("only_a") === 6L && r.getAs[Long]("only_b") === 2L)
    assert(r.getAs[Double]("mcnemar") === 2.0)
    assert(r.getAs[Boolean]("significant") === false) // 2.0 < 3.8416
    val sig = Association.mcnemar(mk(0, 10, 1, 0), Nil, "a", "b").collect()(0)
    assert(math.abs(sig.getAs[Double]("mcnemar") - 81d / 11d) < 1e-12)
    assert(sig.getAs[Boolean]("significant") === true) // 7.36 > 3.8416
    val agree = Association.mcnemar(mk(3, 0, 0, 2), Nil, "a", "b").collect()(0)
    assert(agree.isNullAt(agree.fieldIndex("mcnemar")))
    assert(agree.isNullAt(agree.fieldIndex("significant")))
  }

  // --- Runs test ---------------------------------------------------------------------

  test("runsTest: textbook goldens, alternation z, one-class NULL") {
    import graft.operators.TimeSeries
    // 0,0,1,1,0,1,0,0,1,1 -> R = 6 = mu exactly -> z = 0
    val s1 = Seq(0L, 0L, 1L, 1L, 0L, 1L, 0L, 0L, 1L, 1L).zipWithIndex
      .map { case (x, i) => (i.toLong, x) }.toDF("t", "x")
    val r1 = TimeSeries.runsTest(s1, Nil, "t", "x").collect()(0)
    assert(r1.getAs[Long]("r") === 6L && r1.getAs[Long]("n0") === 5L)
    assert(r1.getAs[Double]("z") === 0.0)
    // perfect alternation 0,1,0,1,0,1: R = 6, mu = 4, var_num = 216,
    // z = 2/sqrt(1.2)
    val s2 = Seq(0L, 1L, 0L, 1L, 0L, 1L).zipWithIndex
      .map { case (x, i) => (i.toLong, x) }.toDF("t", "x")
    val r2 = TimeSeries.runsTest(s2, Nil, "t", "x").collect()(0)
    assert(r2.getAs[Long]("r") === 6L)
    assert(r2.getAs[String]("var_num") === "216")
    assert(math.abs(r2.getAs[Double]("z") - 2d / math.sqrt(1.2)) < 1e-12)
    // all one class: sigma = 0 -> NULL z
    val s3 = Seq((0L, 1L), (1L, 1L), (2L, 1L)).toDF("t", "x")
    val r3 = TimeSeries.runsTest(s3, Nil, "t", "x").collect()(0)
    assert(r3.getAs[Long]("r") === 1L)
    assert(r3.isNullAt(r3.fieldIndex("z")))
  }

  // --- Benjamini–Hochberg ------------------------------------------------------------

  test("benjaminiHochberg: textbook battery, step-up closure over a non-candidate") {
    import graft.quality.MultipleTesting
    // p = .001 .010 .016 .030 .045 .300 at alpha .05: reject ranks 1-4
    val p1 = Seq(1000000L, 10000000L, 16000000L, 30000000L, 45000000L, 300000000L)
      .zipWithIndex.map { case (p, i) => (s"t$i", p) }.toDF("id", "p9")
    val out1 = MultipleTesting.benjaminiHochberg(p1, Nil, Seq("id"), "p9")
      .orderBy("rank").collect()
    assert(out1.map(_.getAs[Boolean]("rejected")).toSeq ===
      Seq(true, true, true, true, false, false))
    assert(out1.map(_.getAs[Boolean]("is_candidate")).toSeq ===
      Seq(true, true, true, true, false, false))
    // step-up closure: p = .020 .030 .050 — rank 1 is NOT its own
    // candidate (.02 > .0167) but ranks 2 and 3 are, so ALL reject
    val p2 = Seq(20000000L, 30000000L, 50000000L)
      .zipWithIndex.map { case (p, i) => (s"t$i", p) }.toDF("id", "p9")
    val out2 = MultipleTesting.benjaminiHochberg(p2, Nil, Seq("id"), "p9")
      .orderBy("rank").collect()
    assert(out2.map(_.getAs[Boolean]("is_candidate")).toSeq === Seq(false, true, true))
    assert(out2.map(_.getAs[Boolean]("rejected")).toSeq === Seq(true, true, true))
    // the boundary is exact: p = i*alpha/m holds with equality at rank 3
    assert(out2(2).getAs[Boolean]("is_candidate"))
  }

  test("holmBonferroni: textbook battery, first-failure stop blocks later candidates") {
    import graft.quality.MultipleTesting
    // p = .001 .010 .016 .030 .045 .300 at alpha .05, m = 6:
    // thresholds alpha/(m-i+1) = .00833 .01 .0125 .0167 .025 .05 —
    // rank 1 passes, rank 2 passes (equality .01 = .01), rank 3 fails
    // (.016 > .0125) and STOPS the walk: only ranks 1-2 reject, even
    // though rank 4 (.030) would NOT pass its own .0167 either way
    val p1 = Seq(1000000L, 10000000L, 16000000L, 30000000L, 45000000L, 300000000L)
      .zipWithIndex.map { case (p, i) => (s"t$i", p) }.toDF("id", "p9")
    val out1 = MultipleTesting.holmBonferroni(p1, Nil, Seq("id"), "p9")
      .orderBy("rank").collect()
    assert(out1.map(_.getAs[Boolean]("is_candidate")).toSeq ===
      Seq(true, true, false, false, false, false))
    assert(out1.map(_.getAs[Boolean]("rejected")).toSeq ===
      Seq(true, true, false, false, false, false))
    // all-pass battery: p = .005 .016 .030 at thresholds .0167 .025 .05
    // — every rank passes its own bar, stop is NULL, everything rejects
    val p2 = Seq(5000000L, 16000000L, 30000000L)
      .zipWithIndex.map { case (p, i) => (s"t$i", p) }.toDF("id", "p9")
    val out2 = MultipleTesting.holmBonferroni(p2, Nil, Seq("id"), "p9")
      .orderBy("rank").collect()
    assert(out2.map(_.getAs[Boolean]("rejected")).toSeq === Seq(true, true, true))
    // all-candidate battery rejects everything (coalesce(stop, m+1) arm)
    assert(out2.map(_.getAs[Boolean]("is_candidate")).toSeq === Seq(true, true, true))
  }

  test("pageTrend: perfect ascending block z = sqrt(2), reversal negates, incomplete drop") {
    import graft.quality.Association
    // one block, values rise with the order: L = 1+4+9 = 14, E = 12,
    // V = (24)^2/(144*2) = 2 -> z = sqrt(2); L2 = 2L = 28
    val up = Seq((1L, 0L, 10L), (1L, 1L, 20L), (1L, 2L, 30L)).toDF("blk", "t", "v")
    val r = Association.pageTrend(up, "blk", "t", "v").orderBy("treatment").collect()
    assert(r.map(_.getAs[Long]("j")).toSeq === Seq(1L, 2L, 3L))
    assert(r(0).getAs[String]("l2") === "28")
    assert(math.abs(r(0).getAs[Double]("z") - math.sqrt(2d)) < 1e-10)
    // reversal: L = 3+4+3 = 10 -> z = -sqrt(2)
    val down = Seq((1L, 0L, 30L), (1L, 1L, 20L), (1L, 2L, 10L)).toDF("blk", "t", "v")
    val rd = Association.pageTrend(down, "blk", "t", "v").collect()(0)
    assert(math.abs(rd.getAs[Double]("z") + math.sqrt(2d)) < 1e-10)
    // a block missing one treatment drops whole and is flagged
    val ragged = up.unionAll(Seq((2L, 0L, 5L), (2L, 1L, 6L)).toDF("blk", "t", "v"))
    val rr = Association.pageTrend(ragged, "blk", "t", "v").collect()(0)
    assert(rr.getAs[Long]("n_incomplete") === 1L)
    assert(rr.getAs[String]("l2") === "28")
  }

  // --- Kaplan–Meier ------------------------------------------------------------------

  test("kaplanMeier: hand golden curve, censored-at-t at risk, d=n pins S to 0, median") {
    import graft.operators.Survival
    // (t, event): deaths at 1,2,3; censors at 2,4
    // n_risk: 5,4,2,1; S: .8, .8*3/4=.6, .6*1/2=.3, .3 (no event at 4)
    val d = Seq((1L, 1L), (2L, 1L), (2L, 0L), (3L, 1L), (4L, 0L)).toDF("dur", "ev")
    val km = Survival.kaplanMeier(d, Nil, "dur", "ev").orderBy("t").collect()
    assert(km.map(_.getAs[Long]("n_risk")).toSeq === Seq(5L, 4L, 2L, 1L))
    assert(km.map(_.getAs[Long]("n_event")).toSeq === Seq(1L, 1L, 1L, 0L))
    assert(km.map(_.getAs[Long]("n_censored")).toSeq === Seq(0L, 1L, 0L, 1L))
    val s = km.map(_.getAs[Double]("survival"))
    assert(math.abs(s(0) - 0.8) < 1e-9 && math.abs(s(1) - 0.6) < 1e-9)
    assert(math.abs(s(2) - 0.3) < 1e-9 && math.abs(s(3) - 0.3) < 1e-9)
    // Greenwood at t=2: se = .6 * sqrt(1/20 + 1/12)
    assert(math.abs(km(1).getAs[Double]("se_greenwood") -
      0.6 * math.sqrt(1d / 20d + 1d / 12d)) < 1e-9)
    // median survival: first t with S <= 1/2 is 3
    assert(Survival.medianSurvival(
      Survival.kaplanMeier(d, Nil, "dur", "ev"), Nil)
      .collect()(0).getAs[Long]("median_survival") === 3L)
    // everyone at risk dies: survival EXACTLY 0 from there, se NULL
    val ext = Seq((1L, 1L), (1L, 1L)).toDF("dur", "ev")
    val r0 = Survival.kaplanMeier(ext, Nil, "dur", "ev").collect()(0)
    assert(r0.getAs[Double]("survival") === 0.0)
    assert(r0.isNullAt(r0.fieldIndex("se_greenwood")))
    // all-censored cohort: the curve never drops and the median is NULL
    val cen = Seq((2L, 0L), (5L, 0L)).toDF("dur", "ev")
    val kc = Survival.kaplanMeier(cen, Nil, "dur", "ev").collect()
    assert(kc.forall(_.getAs[Double]("survival") === 1.0))
    val mc = Survival.medianSurvival(
      Survival.kaplanMeier(cen, Nil, "dur", "ev"), Nil).collect()(0)
    assert(mc.isNullAt(mc.fieldIndex("median_survival")))
  }

  test("nelsonAalen: hand hazard curve, exp(-H) below KM survival, fold == rebuild") {
    import graft.operators.Survival
    // same cells as the KM golden: d/n = 1/5, 1/4, 1/2, 0
    val d = Seq((1L, 1L), (2L, 1L), (2L, 0L), (3L, 1L), (4L, 0L)).toDF("dur", "ev")
    val na = Survival.nelsonAalen(d, Nil, "dur", "ev").orderBy("t").collect()
    val h = na.map(_.getAs[Double]("hazard"))
    assert(math.abs(h(0) - 0.2) < 1e-9 && math.abs(h(1) - 0.45) < 1e-9)
    assert(math.abs(h(2) - 0.95) < 1e-9 && math.abs(h(3) - 0.95) < 1e-9)
    assert(math.abs(na(1).getAs[Double]("se_hazard") -
      math.sqrt(1d / 25d + 1d / 16d)) < 1e-9)
    // Fleming-Harrington survival sits at/above the KM product everywhere
    val km = Survival.kaplanMeier(d, Nil, "dur", "ev").orderBy("t").collect()
    for ((n, k) <- na.zip(km))
      assert(n.getAs[Double]("surv_fh") >= k.getAs[Double]("survival") - 1e-12)
    // lifetime-cell fold == rebuild, and the hazard read matches
    val b0 = Survival.lifetimeCells(d.filter($"dur" % 2 === 0), Nil, "dur", "ev")
    val b1 = Survival.lifetimeCells(d.filter($"dur" % 2 === 1), Nil, "dur", "ev")
    val folded = Survival.mergeLifetimeCells(b0, b1, Nil)
    assert(Survival.nelsonAalenFromCells(folded, Nil).orderBy("t").collect().toSeq ===
      na.toSeq)
  }

  test("weightedKappa: perfect = 1, quadratic golden, constant judges NULL, linear < quadratic on near-miss data") {
    import graft.operators.RankEval
    // perfect agreement: w_obs = 0 -> kappa exactly 1
    val perf = Seq((0L, 0L), (1L, 1L), (2L, 2L)).toDF("a", "b")
    assert(RankEval.weightedKappa(perf, "a", "b")
      .collect()(0).getAs[Double]("kappa_w") === 1.0)
    // hand golden: pairs (0,0), (0,1), (2,2), (2,0) on levels {0,1,2}
    // O: w(0,0)=0, w(0,1)=1, w(2,2)=0, w(2,0)=4 -> w_obs = 5, N = 4
    // margins R = {0:2, 2:2}, C = {0:2, 1:1, 2:1}
    // we = sum w(a,b) Ra Cb = (0:0->0)+(0:1->1*2*1=2)+(0:2->4*2*1=8)
    //    + (2:0->4*2*2=16)+(2:1->1*2*1=2)+(2:2->0) = 28
    // kappa_w = 1 - 4*5/28 = 2/7
    val d = Seq((0L, 0L), (0L, 1L), (2L, 2L), (2L, 0L)).toDF("a", "b")
    val r = RankEval.weightedKappa(d, "a", "b").collect()(0)
    assert(r.getAs[Long]("n_items") === 4L)
    assert(r.getAs[String]("wo_num") === "20" && r.getAs[String]("we_num") === "28")
    assert(math.abs(r.getAs[Double]("kappa_w") - 2d / 7d) < 1e-12)
    // both judges constant on the same level: no expected disagreement -> NULL
    val const = Seq((1L, 1L), (1L, 1L)).toDF("a", "b")
    val rc = RankEval.weightedKappa(const, "a", "b").collect()(0)
    assert(rc.isNullAt(rc.fieldIndex("kappa_w")))
    // near-miss-only disagreement: quadratic forgives it more than linear
    val near = Seq((0L, 0L), (1L, 2L), (2L, 1L), (0L, 0L), (1L, 1L), (2L, 2L))
      .toDF("a", "b")
    val kq = RankEval.weightedKappa(near, "a", "b", quadratic = true)
      .collect()(0).getAs[Double]("kappa_w")
    val kl = RankEval.weightedKappa(near, "a", "b", quadratic = false)
      .collect()(0).getAs[Double]("kappa_w")
    assert(kq > kl)
  }

  test("rmst: hand areas at three taus, no-step-below-tau group = tau, keyed groups") {
    import graft.operators.Survival
    val d = Seq((1L, 1L), (2L, 1L), (2L, 0L), (3L, 1L), (4L, 0L)).toDF("dur", "ev")
    val km = Survival.kaplanMeier(d, Nil, "dur", "ev")
    // S = .8@1, .6@2, .3@3, .3@4; tau=6: 1 + .8 + .6 + .3 + .3*2 = 3.3
    val r6 = Survival.rmst(km, Nil, tau = 6L).collect()(0)
    assert(r6.getAs[Long]("t_last") === 4L)
    assert(math.abs(r6.getAs[Double]("rmst") - 3.3) < 1e-8)
    // tau=2 truncates: 1*1 + .8*1 + .6*0 = 1.8
    assert(math.abs(Survival.rmst(km, Nil, tau = 2L)
      .collect()(0).getAs[Double]("rmst") - 1.8) < 1e-8)
    // tau below every duration: the curve is still 1 -> rmst = tau exactly
    val late = Seq((5L, 1L), (7L, 0L)).toDF("dur", "ev")
    val rl = Survival.rmst(Survival.kaplanMeier(late, Nil, "dur", "ev"), Nil, 3L)
      .collect()(0)
    assert(rl.getAs[Double]("rmst") === 3.0 && rl.getAs[Long]("t_last") === 0L)
    // keyed: one group with steps <= tau, one without — both rows emitted
    val two = Seq(("a", 1L, 1L), ("a", 2L, 0L), ("b", 9L, 1L)).toDF("g", "dur", "ev")
    val rk = Survival.rmst(Survival.kaplanMeier(two, Seq("g"), "dur", "ev"), Seq("g"), 4L)
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Double]("rmst")).toMap
    // a: S(1)=.5 -> 1*1 + .5*(2-1) + .5*(4-2) = 2.5 ; b: flat 1 -> 4
    assert(math.abs(rk("a") - 2.5) < 1e-8)
    assert(rk("b") === 4.0)
  }

  test("yuleK: hand golden 3750, uniform counts exactly 0, from the same store as richness") {
    import graft.text.CorpusLaws
    val counts = Seq(("g", "a", 3L), ("g", "b", 1L)).toDF("k", "token", "cnt")
    val r = CorpusLaws.yuleK(counts, Seq("k")).collect()(0)
    assert(r.getAs[Long]("n_types") === 2L && r.getAs[Long]("mass") === 4L)
    assert(r.getAs[String]("s2") === "10")
    assert(r.getAs[Double]("yule_k") === 1e4 * 6 / 16) // 3750
    // every type once: S2 = N -> K exactly 0 (hapax-only text)
    val uni = Seq(("g", "a", 1L), ("g", "b", 1L), ("g", "c", 1L)).toDF("k", "token", "cnt")
    assert(CorpusLaws.yuleK(uni, Seq("k")).collect()(0).getAs[Double]("yule_k") === 0.0)
  }

  test("logRank: symmetric cohorts z = 0, hand golden z = sqrt(3), 3-group flag") {
    import graft.operators.Survival
    // perfectly symmetric cohorts: O = E at every time, z exactly 0
    val sym = Seq(("a", 1L, 1L), ("a", 2L, 0L), ("a", 3L, 1L),
      ("b", 1L, 0L), ("b", 2L, 1L), ("b", 3L, 1L)).toDF("g", "dur", "ev")
    val rs = Survival.logRank(sym, Nil, "g", "dur", "ev").collect()(0)
    assert(rs.getAs[Long]("o_lo") === 2L)
    assert(rs.getAs[Double]("z") === 0.0 && rs.getAs[Double]("chi2") === 0.0)
    // g1 dies at 1, g2 censored at 3: O1 = 2, E1 = 1, V = 1/3, z = sqrt(3)
    val asym = Seq(("a", 1L, 1L), ("a", 1L, 1L), ("b", 3L, 0L), ("b", 3L, 0L))
      .toDF("g", "dur", "ev")
    val ra = Survival.logRank(asym, Nil, "g", "dur", "ev").collect()(0)
    assert(ra.getAs[Long]("n_lo") === 2L && ra.getAs[Long]("n_hi") === 2L)
    assert(math.abs(ra.getAs[Double]("z") - math.sqrt(3d)) < 1e-8)
    assert(math.abs(ra.getAs[Double]("chi2") - 3d) < 1e-8)
    // >2 cohorts: flagged with NULL statistics (the mannWhitney rule)
    val three = sym.unionAll(Seq(("c", 2L, 1L)).toDF("g", "dur", "ev"))
    val r3 = Survival.logRank(three, Nil, "g", "dur", "ev").collect()(0)
    assert(r3.getAs[Long]("n_groups") === 3L && r3.isNullAt(r3.fieldIndex("z")))
    // n = 1 boundary (R survdiff convention): the last at-risk subject
    // is in grp_lo and dies at t=2 — E accumulates d·n1/n = 1 there
    // (netting O−E), V contributes 0. t=1: E = 4/3, V = 2/9;
    // z = (2 − 7/3)/√(2/9) = −1/√2 — the old skip inflated it to +√2·…
    val edge = Seq(("a", 1L, 1L), ("a", 2L, 1L), ("b", 1L, 1L)).toDF("g", "dur", "ev")
    val re = Survival.logRank(edge, Nil, "g", "dur", "ev").collect()(0)
    assert(re.getAs[Long]("o_lo") === 2L)
    assert(math.abs(re.getAs[Double]("z") - (-1d / math.sqrt(2d))) < 1e-8)
  }

  // --- G-test drift ------------------------------------------------------------------

  test("gTest: identical snapshots exactly 0, hand golden, one-sided value keeps its term") {
    import graft.quality.Profiler
    val base = Seq("a", "a", "b").toDF("v")
    // identical: every O = E, every nano term round(0) = 0
    val id = Profiler.gTestDrift(base, base, "v").collect()
    assert(id.forall(_.getAs[Long]("g_term_n9") === 0L))
    assert(Profiler.gStat(Profiler.gTestDrift(base, base, "v"))._1 === 0.0)
    // hand golden: base {a:2, b:2}, cur {a:1, b:3}; N = 8, B = C = 4
    // E(a,base) = 4*3/8 = 1.5, E(b,base) = 2.5 etc.
    // G = 2*[2 ln(2/1.5) + 1 ln(1/1.5) + 2 ln(2/2.5) + 3 ln(3/2.5)]
    val b2 = Seq("a", "a", "b", "b").toDF("v")
    val c2 = Seq("a", "b", "b", "b").toDF("v")
    val (g, df) = Profiler.gStat(Profiler.gTestDrift(b2, c2, "v"))
    val gNaive = 2d * (2 * math.log(2 / 1.5) + 1 * math.log(1 / 1.5) +
      2 * math.log(2 / 2.5) + 3 * math.log(3 / 2.5))
    assert(math.abs(g - gNaive) < 1e-8 && df === 1L)
    // a value on one side only contributes its full 2 O ln(N/B) term
    val disjoint = Profiler.gTestDrift(Seq("x").toDF("v"), Seq("y").toDF("v"), "v")
      .orderBy("value").collect()
    assert(disjoint.forall(r =>
      math.abs(r.getAs[Long]("g_term_n9") - math.round(2e9 * math.log(2d))) <= 1L))
  }

  // --- Vocabulary richness -----------------------------------------------------------

  test("vocabRichness: Chao1 and Good-Turing coverage goldens") {
    import graft.text.CorpusLaws
    val counts = Seq(("g", "a", 1L), ("g", "b", 1L), ("g", "c", 1L),
      ("g", "d", 2L), ("g", "e", 2L), ("g", "f", 5L)).toDF("k", "token", "cnt")
    val r = CorpusLaws.vocabRichness(counts, Seq("k")).collect()(0)
    assert(r.getAs[Long]("n_types") === 6L && r.getAs[Long]("mass") === 12L)
    assert(r.getAs[Long]("f1") === 3L && r.getAs[Long]("f2") === 2L)
    assert(r.getAs[Double]("chao1") === 7.0) // 6 + 3*2/(2*3)
    assert(r.getAs[Double]("gt_unseen_mass") === 0.25)
    assert(r.getAs[Double]("coverage") === 0.75)
    // no doubletons: the bias-corrected form stays finite
    val nof2 = Seq(("g", "a", 1L), ("g", "b", 1L), ("g", "c", 3L)).toDF("k", "token", "cnt")
    val r2 = CorpusLaws.vocabRichness(nof2, Seq("k")).collect()(0)
    assert(r2.getAs[Double]("chao1") === 3.0 + 2.0 / 2.0)
  }

  // --- Vocabulary overlap ------------------------------------------------------------

  test("vocabOverlap: pairwise Jaccard/containment, zero-overlap pairs emitted") {
    import graft.text.CorpusLaws
    val docs = Seq(("s1", "a b c"), ("s2", "b c d"), ("s3", "x")).toDF("src", "text")
    val out = CorpusLaws.vocabOverlap(docs, "src", "text")
      .orderBy("source_a", "source_b").collect()
    assert(out.length === 3)
    val m = out.map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) -> r).toMap
    val ab = m(("s1", "s2"))
    assert(ab.getAs[Long]("n_shared") === 2L)
    assert(ab.getAs[Double]("jaccard") === 0.5)
    assert(math.abs(ab.getAs[Double]("overlap") - 2d / 3d) < 1e-15)
    assert(math.abs(ab.getAs[Double]("containment_a") - 2d / 3d) < 1e-15)
    val ax = m(("s1", "s3"))
    assert(ax.getAs[Long]("n_shared") === 0L)
    assert(ax.getAs[Double]("jaccard") === 0.0)
  }

  // --- stratified log-rank ----------------------------------------------------------

  test("logRankStratified: one stratum equals plain logRank; duplicated strata scale z by sqrt(2); flags") {
    import graft.operators.Survival
    val base = Seq(("a", 1L, 1L), ("a", 1L, 1L), ("b", 3L, 0L), ("b", 3L, 0L))
    val one = base.map { case (g, d, e) => ("s0", g, d, e) }
      .toDF("st", "g", "dur", "ev")
    val rs = Survival.logRankStratified(one, Nil, "st", "g", "dur", "ev").collect()(0)
    val rp = Survival.logRank(base.toDF("g", "dur", "ev"), Nil, "g", "dur", "ev").collect()(0)
    assert(rs.getAs[Long]("n_strata") === 1L)
    for (c <- Seq("grp_lo", "grp_hi", "n_groups", "n_lo", "n_hi", "o_lo", "e_lo_9", "v_9"))
      assert(rs.getAs[Any](c) === rp.getAs[Any](c), c)
    assert(rs.getAs[Double]("z") === rp.getAs[Double]("z"))
    // the same cohort contrast in TWO identical strata: O−E and V both
    // double, so z scales by exactly sqrt(2) (and chi2 by 2)
    val two = (base.map { case (g, d, e) => ("s0", g, d, e) } ++
      base.map { case (g, d, e) => ("s1", g, d, e) }).toDF("st", "g", "dur", "ev")
    val r2 = Survival.logRankStratified(two, Nil, "st", "g", "dur", "ev").collect()(0)
    assert(r2.getAs[Long]("n_strata") === 2L)
    assert(math.abs(r2.getAs[Double]("z") - math.sqrt(2d) * rp.getAs[Double]("z")) < 1e-8)
    assert(math.abs(r2.getAs[Double]("chi2") - 2d * rp.getAs[Double]("chi2")) < 1e-8)
    // Simpson-style confounding: within each stratum A dies strictly
    // earlier, but stratum sizes would mislead the pooled (unstratified)
    // read — the stratified z must stay negative-signed toward grp_lo=a
    val conf = Seq(
      ("u", "a", 1L, 1L), ("u", "a", 1L, 1L), ("u", "b", 2L, 1L), ("u", "b", 2L, 1L),
      ("v", "a", 3L, 1L), ("v", "b", 5L, 1L), ("v", "b", 5L, 1L), ("v", "b", 5L, 1L))
      .toDF("st", "g", "dur", "ev")
    val rc = Survival.logRankStratified(conf, Nil, "st", "g", "dur", "ev").collect()(0)
    assert(rc.getAs[Double]("z") > 0d) // more a-deaths than expected -> O>E
    // >2 groups overall: NULL statistics via n_groups (the logRank rule)
    val three = two.unionAll(Seq(("s0", "c", 2L, 1L)).toDF("st", "g", "dur", "ev"))
    val r3 = Survival.logRankStratified(three, Nil, "st", "g", "dur", "ev").collect()(0)
    assert(r3.getAs[Long]("n_groups") === 3L && r3.isNullAt(r3.fieldIndex("z")))
  }

  test("logRankFromCells: a two-batch fold equals the direct read (the standing A/B)") {
    import graft.operators.Survival
    val b1 = Seq(("a", 1L, 1L), ("a", 4L, 0L), ("b", 2L, 1L), ("b", 5L, 1L))
      .toDF("g", "dur", "ev")
    val b2 = Seq(("a", 2L, 1L), ("a", 3L, 1L), ("b", 5L, 0L), ("b", 2L, 1L))
      .toDF("g", "dur", "ev")
    val folded = Survival.mergeLifetimeCells(
      Survival.lifetimeCells(b1, Seq("g"), "dur", "ev"),
      Survival.lifetimeCells(b2, Seq("g"), "dur", "ev"), Seq("g"))
    assert(Survival.logRankFromCells(folded, Nil, "g").collect().toSeq ==
      Survival.logRank(b1.unionAll(b2), Nil, "g", "dur", "ev").collect().toSeq)
  }

  // --- Aalen–Johansen ---------------------------------------------------------------

  test("aalenJohansen: hand golden, KM reduction with one cause, CIFs + S sum to 1 at the end") {
    import graft.operators.Survival
    // 4 subjects: t=1 cause1; t=2 cause2; t=3 censored; t=4 cause1
    // S(1-)=1, n=4: CIF1(1)=1/4;             S(1)=3/4
    // S(2-)=3/4, n=3: CIF2(2)=3/4 * 1/3=1/4; S(2)=1/2
    // t=3 censor;  t=4: S(4-)=1/2, n=1: CIF1(4)=1/4 + 1/2 = 3/4, S=0
    val d = Seq((1L, 1L), (2L, 2L), (3L, 0L), (4L, 1L)).toDF("dur", "cv")
    val out = Survival.aalenJohansen(d, Nil, "dur", "cv")
      .collect().map(r => (r.getAs[Long]("t"), r.getAs[Long]("ev_type")) ->
        (r.getAs[Double]("cif"), r.getAs[Double]("survival"))).toMap
    def ck(t: Long, k: Long, cif: Double, s: Double): Unit = {
      val (gc, gs) = out((t, k))
      assert(math.abs(gc - cif) < 1e-8, s"cif($t,$k)")
      assert(math.abs(gs - s) < 1e-8, s"surv($t,$k)")
    }
    ck(1L, 1L, 0.25, 0.75); ck(1L, 2L, 0.0, 0.75)
    ck(2L, 1L, 0.25, 0.5); ck(2L, 2L, 0.25, 0.5)
    ck(3L, 1L, 0.25, 0.5); ck(3L, 2L, 0.25, 0.5)
    ck(4L, 1L, 0.75, 0.0); ck(4L, 2L, 0.25, 0.0)
    // one cause only: CIF_1 = 1 − S at every time (the KM special case)
    val km1 = Seq((1L, 1L), (2L, 0L), (3L, 1L), (3L, 1L), (5L, 0L)).toDF("dur", "cv")
    Survival.aalenJohansen(km1, Nil, "dur", "cv").collect().foreach { r =>
      assert(math.abs(r.getAs[Double]("cif") - (1d - r.getAs[Double]("survival"))) < 1e-7)
    }
    // competing closure at the last time: sum_k CIF_k + S = 1 when the
    // risk set exhausts (here: every subject ends in SOME cause)
    val full = Seq((1L, 1L), (2L, 2L), (2L, 1L), (4L, 2L)).toDF("dur", "cv")
    val last = Survival.aalenJohansen(full, Nil, "dur", "cv")
      .filter(col("t") === 4L).collect()
    val tot = last.map(_.getAs[Double]("cif")).sum + last.head.getAs[Double]("survival")
    assert(math.abs(tot - 1d) < 1e-7)
  }

  test("aalenJohansenFromCells: a two-batch typed fold equals the direct read") {
    import graft.operators.Survival
    val b1 = Seq((1L, 1L), (2L, 2L), (3L, 0L), (4L, 1L)).toDF("dur", "cv")
    val b2 = Seq((2L, 1L), (2L, 0L), (5L, 2L)).toDF("dur", "cv")
    val folded = Survival.mergeLifetimeCellsByType(
      Survival.lifetimeCellsByType(b1, Nil, "dur", "cv"),
      Survival.lifetimeCellsByType(b2, Nil, "dur", "cv"), Nil)
    assert(Survival.aalenJohansenFromCells(folded, Nil).orderBy("t", "ev_type").collect().toSeq ==
      Survival.aalenJohansen(b1.unionAll(b2), Nil, "dur", "cv")
        .orderBy("t", "ev_type").collect().toSeq)
  }

  // --- CUPED ------------------------------------------------------------------------

  test("cuped: uncorrelated covariate leaves the effect, y=x covariate kills the variance, flags") {
    import graft.quality.Association
    // balanced arms; x CONSTANT within the pairing so cov(y,x)=0 would
    // be degenerate — instead use x independent of arm with spread
    val rows = Seq(
      ("A", 10L, 1L), ("A", 12L, 2L), ("A", 14L, 3L), ("A", 16L, 4L),
      ("B", 9L, 1L), ("B", 11L, 2L), ("B", 13L, 3L), ("B", 15L, 4L))
      .toDF("arm", "y", "x")
    val r = Association.cuped(rows, Nil, "arm", "y", "x").collect()(0)
    // y = 8 + 2x (arm A) and 7 + 2x (arm B): theta = 2 exactly, the
    // adjusted residuals are constant per arm -> se exactly 0, and the
    // effect is the pure arm offset 1
    assert(r.getAs[String]("grp_lo") === "A" && r.getAs[Long]("n_lo") === 4L)
    assert(math.abs(r.getAs[Double]("theta") - 2d) < 1e-9)
    assert(math.abs(r.getAs[Double]("effect_cuped") - 1d) < 1e-9)
    assert(math.abs(r.getAs[Double]("se_cuped")) < 1e-9)
    assert(math.abs(r.getAs[Double]("effect_raw") - 1d) < 1e-9)
    // rho2 < 1 here (y has arm variance x can't explain) but large
    assert(r.getAs[Double]("rho2") > 0.9 && r.getAs[Double]("rho2") < 1d)
    // var(x) = 0: theta undefined -> NULL statistics, raw effect kept
    val flat = Seq(("A", 3L, 7L), ("A", 5L, 7L), ("B", 4L, 7L), ("B", 8L, 7L))
      .toDF("arm", "y", "x")
    val rf = Association.cuped(flat, Nil, "arm", "y", "x").collect()(0)
    assert(rf.isNullAt(rf.fieldIndex("theta")) && rf.isNullAt(rf.fieldIndex("effect_cuped")))
    assert(!rf.isNullAt(rf.fieldIndex("effect_raw")))
    // three arms: flagged, every statistic NULL (the welchT rule)
    val three = rows.unionAll(Seq(("C", 1L, 1L)).toDF("arm", "y", "x"))
    val r3 = Association.cuped(three, Nil, "arm", "y", "x").collect()(0)
    assert(r3.getAs[Long]("n_groups") === 3L && r3.isNullAt(r3.fieldIndex("effect_cuped")))
  }

  test("cupedMulti: hand-rational two-covariate golden, replayable term by term") {
    import graft.quality.Association
    // A: (y,x1,x2) ∈ {(1,1,0),(2,0,1),(3,1,1),(0,0,0)}; B: {(2,1,1),
    // (1,0,0),(3,2,1),(2,1,2)}. Pooled exact pieces: nT=8, Sy=14,
    // Sx1=Sx2=6, Sx1x1=Sx2x2=8, Sx1x2=6, Sx1y=Sx2y=14, Syy=32 →
    // A11=A22=8·8−36=28, A12=8·6−36=12, b1=b2=8·14−6·14=28,
    // det=28²−12²=640, θ1=θ2=(28·28−12·28)/640=448/640=0.7,
    // R²=(0.7·28+0.7·28)/(8·32−14²)=39.2/60=49/75.
    // Raw effects (lo−hi): y (6·4−8·4)/16=−0.5, x1=x2=−0.5 →
    // adj=−0.5−0.7(−0.5)−0.7(−0.5)=0.2.
    // SzzA=14+0.49·2+0.49·2+0.98·1−1.4·4−1.4·5=4.34, SzA=6−2.8=3.2 →
    // varA=(4·4.34−3.2²)/48=7.12/48; SzzB=18+0.49·6·2+0.98·5−1.4·10
    // −1.4·9=2.18, SzB=8−5.6=2.4 → varB=2.96/48; se=√0.21.
    val rows = Seq(
      ("A", 1L, 1L, 0L), ("A", 2L, 0L, 1L), ("A", 3L, 1L, 1L), ("A", 0L, 0L, 0L),
      ("B", 2L, 1L, 1L), ("B", 1L, 0L, 0L), ("B", 3L, 2L, 1L), ("B", 2L, 1L, 2L))
      .toDF("arm", "y", "x1", "x2")
    val r = Association.cupedMulti(rows, Nil, "arm", "y", Seq("x1", "x2"))
      .collect()(0)
    assert(math.abs(r.getAs[Double]("theta1") - 0.7d) < 1e-12)
    assert(math.abs(r.getAs[Double]("theta2") - 0.7d) < 1e-12)
    assert(math.abs(r.getAs[Double]("rho2") - 49d / 75d) < 1e-12)
    assert(math.abs(r.getAs[Double]("effect_raw") - (-0.5d)) < 1e-12)
    assert(math.abs(r.getAs[Double]("effect_cuped") - 0.2d) < 1e-12)
    assert(math.abs(r.getAs[Double]("se_cuped") - math.sqrt(0.21d)) < 1e-12)
  }

  test("cupedMulti: k = 1 reduces to the q298 dag exactly; collinear/constant covariates flag NULL") {
    import graft.quality.Association
    val rows = Seq(
      ("A", 10L, 1L, 5L), ("A", 12L, 2L, 3L), ("A", 14L, 3L, 8L), ("A", 16L, 4L, 2L),
      ("B", 9L, 1L, 7L), ("B", 11L, 2L, 1L), ("B", 13L, 3L, 9L), ("B", 15L, 4L, 4L))
      .toDF("arm", "y", "x", "x2")
    // k = 1: the delegate IS cuped's dag — bitwise-equal statistics
    val one = Association.cupedMulti(rows, Nil, "arm", "y", Seq("x")).collect()(0)
    val ref = Association.cuped(rows, Nil, "arm", "y", "x").collect()(0)
    assert(one.getAs[Double]("theta1") === ref.getAs[Double]("theta"))
    assert(one.isNullAt(one.fieldIndex("theta2")))
    for (c <- Seq("rho2", "effect_raw", "effect_cuped", "se_cuped", "ci_lo", "ci_hi"))
      assert(one.getAs[Double](c) === ref.getAs[Double](c), c)
    // collinear pair (x2 = 2·x): det = 0 → NULL adjusted statistics,
    // raw effect kept
    val coll = rows.withColumn("x2", col("x") * 2L)
    val rc = Association.cupedMulti(coll, Nil, "arm", "y", Seq("x", "x2")).collect()(0)
    assert(rc.isNullAt(rc.fieldIndex("theta1")) && rc.isNullAt(rc.fieldIndex("effect_cuped")))
    assert(!rc.isNullAt(rc.fieldIndex("effect_raw")))
    // a CONSTANT second covariate is also singular → NULL (use k = 1)
    val const = rows.withColumn("x2", lit(7L))
    val rk = Association.cupedMulti(const, Nil, "arm", "y", Seq("x", "x2")).collect()(0)
    assert(rk.isNullAt(rk.fieldIndex("theta1")))
    // adding a regressor never lowers in-sample R²: rho2(k=2) ≥ rho2(k=1)
    val two = Association.cupedMulti(rows, Nil, "arm", "y", Seq("x", "x2")).collect()(0)
    assert(two.getAs[Double]("rho2") >= ref.getAs[Double]("rho2") - 1e-12)
    intercept[IllegalArgumentException] {
      Association.cupedMulti(rows, Nil, "arm", "y", Seq("x", "x2", "y"))
    }
  }

  // --- mSPRT ------------------------------------------------------------------------

  test("msprt: null data never rejects, planted effect rejects, p is non-increasing") {
    import graft.quality.SequentialTests
    import graft.quality.SequentialTests.{msprtMean, msprtTwoProportion}
    // perfectly symmetric arms at every peek: delta = 0, lnLR < 0, p = 1
    val nullIncr = (0L to 7L).map(p => (p, 50L, 20L, 50L, 20L)).toDF("pk", "n1", "s1", "n2", "s2")
    val rn = msprtTwoProportion(nullIncr, Nil, "pk", "n1", "s1", "n2", "s2",
      tau2 = 0.01, alpha = 0.05).orderBy("peek").collect()
    assert(rn.forall(!_.getAs[Boolean]("reject")))
    assert(rn.forall(_.getAs[Double]("p_always_valid") === 1d))
    assert(rn.forall(_.getAs[Long]("ln_lr9") < 0L))
    // a planted 30-point gap accumulates evidence -> rejects, and the
    // always-valid p never increases as peeks accumulate
    val eff = (0L to 7L).map(p => (p, 100L, 70L, 100L, 40L)).toDF("pk", "n1", "s1", "n2", "s2")
    val re = msprtTwoProportion(eff, Nil, "pk", "n1", "s1", "n2", "s2",
      tau2 = 0.01, alpha = 0.05).orderBy("peek").collect()
    assert(re.last.getAs[Boolean]("reject"))
    val ps = re.map(_.getAs[Double]("p_always_valid"))
    assert(ps.zip(ps.tail).forall { case (a, b) => b <= a + 1e-12 })
    // mean variant: moment state built from REAL value batches (so the
    // cumulative variance numerators stay consistent)
    def mom(vs: Seq[Long]) = (vs.size.toLong, vs.sum, vs.map(v => v * v).sum)
    val meanIncr = (0L to 5L).map { p =>
      val a = (0 until 40).map(i => (i % 7 + p % 3).toLong)
      val b = (0 until 40).map(i => (i % 5).toLong)
      val (na, sa, qa) = mom(a); val (nb, sb, qb) = mom(b)
      (p, na, sa, qa, nb, sb, qb)
    }.toDF("pk", "n1", "s1", "q1", "n2", "s2", "q2")
    val rm = msprtMean(meanIncr, Nil, "pk", "n1", "s1", "q1", "n2", "s2", "q2",
      tau2 = 1.0, alpha = 0.05).orderBy("peek").collect()
    assert(rm.length === 6 && rm.forall(r => !r.isNullAt(r.fieldIndex("ln_lr9"))))
    val pm = rm.map(_.getAs[Double]("p_always_valid"))
    assert(pm.zip(pm.tail).forall { case (a, b) => b <= a + 1e-12 })
  }

  test("msprtTwoRate: null quiet, planted rate gap fires, CI duality holds per peek") {
    import graft.quality.SequentialTests
    // symmetric rates: delta = 0, no evidence
    val nullIncr = (0L to 7L).map(p => (p, 500L, 25L, 500L, 25L))
      .toDF("pk", "e1", "c1", "e2", "c2")
    val rn = SequentialTests.msprtTwoRate(nullIncr, Nil, "pk",
      "e1", "c1", "e2", "c2", tau2 = 0.001, alpha = 0.05)
      .orderBy("peek").collect()
    assert(rn.forall(!_.getAs[Boolean]("reject")))
    assert(rn.forall(_.getAs[Double]("p_always_valid") === 1d))
    // a real rate gap (0.1 vs 0.05 per exposure unit) accumulates
    val eff = (0L to 7L).map(p => (p, 500L, 50L, 500L, 25L))
      .toDF("pk", "e1", "c1", "e2", "c2")
    val re = SequentialTests.msprtTwoRate(eff, Nil, "pk",
      "e1", "c1", "e2", "c2", tau2 = 0.001, alpha = 0.05)
      .orderBy("peek").collect()
    assert(re.last.getAs[Boolean]("reject"))
    val ps = re.map(_.getAs[Double]("p_always_valid"))
    assert(ps.zip(ps.tail).forall { case (a, b) => b <= a + 1e-12 })
    // duality with the confidence sequence: 0 outside the CI exactly
    // when the peek's OWN lnLR clears ln(1/alpha)
    val ci = SequentialTests.alwaysValidCiTwoRate(eff, Nil, "pk",
      "e1", "c1", "e2", "c2", tau2 = 0.001, alpha = 0.05)
      .orderBy("peek").collect()
    val bound9 = math.round(math.log(1d / 0.05) * 1e9d)
    re.zip(ci).foreach { case (m, c) =>
      val own = m.getAs[Long]("ln_lr9")
      val zeroOut = c.getAs[Double]("ci_lo") > 0d || c.getAs[Double]("ci_hi") < 0d
      assert(zeroOut === (own >= bound9),
        s"duality at peek ${m.getAs[Long]("peek")}: own $own, ci $c")
    }
    // differential: the lnLR dag vs a driver-side replication
    re.foreach { r =>
      val e1 = r.getAs[Long]("e_lo").toDouble; val e2 = r.getAs[Long]("e_hi").toDouble
      val c1 = r.getAs[Long]("c_lo").toDouble; val c2 = r.getAs[Long]("c_hi").toDouble
      val delta = (c1 * e2 - c2 * e1) / (e1 * e2)
      val lam = (c1 + c2) / (e1 + e2)
      val v = lam * (1d / e1 + 1d / e2)
      val t2 = 0.001
      val want = math.round((0.5 * math.log(v / (v + t2)) +
        delta * delta * t2 / (2d * v * (v + t2))) * 1e9d)
      assert(math.abs(r.getAs[Long]("ln_lr9") - want) <= 1L,
        s"lnLR at peek ${r.getAs[Long]("peek")}")
    }
    // guards: an empty-exposure arm and an all-zero-count state carry
    // NULL evidence and never reject
    val degenerate = Seq((0L, 0L, 0L, 500L, 10L), (1L, 500L, 0L, 500L, 0L))
      .toDF("pk", "e1", "c1", "e2", "c2")
    val rd = SequentialTests.msprtTwoRate(degenerate, Nil, "pk",
      "e1", "c1", "e2", "c2", tau2 = 0.001, alpha = 0.05)
      .orderBy("peek").collect()
    assert(rd(0).isNullAt(rd(0).fieldIndex("ln_lr9")))
    assert(rd.forall(!_.getAs[Boolean]("reject")))
  }

  test("msprtTwoRate: q374 fixture genuinely fires; the equal-threshold null stays quiet") {
    import graft.quality.SequentialTests
    import graft.queries.CoreQueries
    val out = CoreQueries.q374MsprtRate(spark, "/root/testdata/sf0.01").collect()
    assert(out.last.getAs[Boolean]("reject"),
      s"the arm-dependent incident gap must fire: ${out.last}")
    // same threshold both arms, EVENT-level split (user-parity arms are
    // not exchangeable on this data — clustered users shift the rates a
    // hair, and that marginal crossing is real) -> quiet
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.01")
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select((col("event_id") % 12).as("peek"),
        (col("event_id") % 24 < 12).as("e"), col("value"))
      .groupBy("peek").agg(
        sum(when(col("e"), 1L).otherwise(0L)).as("e1"),
        sum(when(col("e") && col("value") >= 150d, 1L).otherwise(0L)).as("c1"),
        sum(when(!col("e"), 1L).otherwise(0L)).as("e2"),
        sum(when(!col("e") && col("value") >= 150d, 1L).otherwise(0L)).as("c2"))
    val quiet = SequentialTests.msprtTwoRate(ev, Nil, "peek",
      "e1", "c1", "e2", "c2", tau2 = 0.000244140625d, alpha = 0.05)
      .orderBy("peek").collect()
    assert(quiet.forall(!_.getAs[Boolean]("reject")),
      s"equal thresholds must not fire: ${quiet.last}")
  }

  test("msprt: empirical H0 crossing rate over 120 paths stays within the Ville alpha bound") {
    import graft.quality.SequentialTests
    // 120 independent null streams (both arms Bernoulli(0.4)), 15 peeks
    // of 40 trials/arm each, deterministic seeds. Ville: P(ever reject)
    // <= alpha = 0.05; the mixture boundary is conservative in practice.
    val rows = for (path <- 0 until 120; pk <- 0 until 15) yield {
      val r = new scala.util.Random(77000 + path * 131 + pk)
      val s1 = (0 until 40).count(_ => r.nextDouble() < 0.4).toLong
      val s2 = (0 until 40).count(_ => r.nextDouble() < 0.4).toLong
      (path.toLong, pk.toLong, 40L, s1, 40L, s2)
    }
    val out = SequentialTests.msprtTwoProportion(
      rows.toDF("path", "pk", "n1", "s1", "n2", "s2"),
      Seq("path"), "pk", "n1", "s1", "n2", "s2", tau2 = 0.01, alpha = 0.05)
    val crossed = out.filter(col("reject")).select("path").distinct().count()
    // binomial slack: at true rate exactly 0.05 the 120-path sd is ~0.02
    assert(crossed.toDouble / 120d <= 0.05 + 0.033,
      s"H0 crossing rate ${crossed / 120d} above the alpha envelope")
  }

  // --- composed survival dashboard -----------------------------------------

  test("survival dashboard: one read equals every standalone operator; fold == rebuild") {
    import graft.operators.Survival
    import spark.implicits._
    def subj(seed: Int, n: Int) = (0 until n).map { i =>
      val g = if ((i * 7 + seed) % 2 == 0) "A" else "B"
      val d = 1L + (i * 11 + seed) % 9 + (if (g == "A") 2L else 0L)
      (i.toLong, g, d, if ((i * 5 + seed) % 3 == 0) 0L else 1L)
    }
    val all = subj(1, 80).toDF("u", "cohort", "dur", "ev")
    val cells = Survival.lifetimeCells(all, Seq("cohort"), "dur", "ev")
    val dash = Survival.survivalDashboardFromCells(cells, "cohort", tau = 6L)
      .collect()(0)
    val km = Survival.kaplanMeierFromCells(cells, Seq("cohort"))
    val med = Survival.medianSurvival(km, Seq("cohort")).collect()
      .map(r => r.getString(0) -> r.get(1)).toMap
    val rm = Survival.rmst(km, Seq("cohort"), 6L).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("rmst")).toMap
    val lr = Survival.logRankFromCells(cells, Nil, "cohort").collect()(0)
    assert(dash.getAs[String]("grp_lo") === "A" && dash.getAs[String]("grp_hi") === "B")
    assert(dash.get(dash.fieldIndex("median_lo")) === med("A"))
    assert(dash.get(dash.fieldIndex("median_hi")) === med("B"))
    assert(dash.getAs[Double]("rmst_lo") === rm("A"))
    assert(dash.getAs[Double]("rmst_hi") === rm("B"))
    assert(dash.getAs[Double]("rmst_diff") === rm("A") - rm("B"))
    for (c <- Seq("n_lo", "n_hi", "o_lo", "e_lo_9", "v_9", "z", "chi2"))
      assert(dash.get(dash.fieldIndex(c)) === lr.get(lr.fieldIndex(c)), c)
    // fold == rebuild: disjoint-unit batches merge to the same dashboard
    val parts = subj(1, 80).grouped(27).toSeq
    val folded = parts.tail.foldLeft(Survival.lifetimeCells(
        parts.head.toDF("u", "cohort", "dur", "ev"), Seq("cohort"), "dur", "ev")) {
      (acc, p) => Survival.mergeLifetimeCells(acc,
        Survival.lifetimeCells(p.toDF("u", "cohort", "dur", "ev"),
          Seq("cohort"), "dur", "ev"), Seq("cohort"))
    }
    assert(Survival.survivalDashboardFromCells(folded, "cohort", 6L)
      .collect()(0).toSeq === dash.toSeq)
  }

  test("survival dashboard: one cohort NULLs the comparison, keeps the facts") {
    import graft.operators.Survival
    import spark.implicits._
    val one = Seq((1L, "A", 3L, 1L), (2L, "A", 5L, 0L), (3L, "A", 2L, 1L))
      .toDF("u", "cohort", "dur", "ev")
    val d = Survival.survivalDashboardFromCells(
      Survival.lifetimeCells(one, Seq("cohort"), "dur", "ev"), "cohort", 6L)
      .collect()(0)
    assert(d.getAs[Long]("n_groups") === 1L)
    for (c <- Seq("n_lo", "n_hi", "z", "chi2", "rmst_diff"))
      assert(d.isNullAt(d.fieldIndex(c)), c)
    assert(d.getAs[Long]("events_lo") === 2L) // per-cohort facts survive
    assert(d.getAs[Double]("rmst_lo") > 0d)
  }
}
