package graft

import graft.operators.{Quantiles, Skew}
import graft.similarity.Knn
import graft.sources.Bucketing
import org.apache.spark.sql.functions._

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("madOutliersBucketed == madOutliers bit-identically (multi-cell, keyless, hot value)") {
    def v(i: Int): Long = (i * 2654435761L % 211L) + (if (i % 97 == 0) 500L else 0L)
    val d = (1 to 400).map(i => (s"g${i % 3}", v(i), i.toLong)).toDF("g", "x", "tb")
    val win = Quantiles.madOutliers(d, Seq("g"), "x", "tb", k = 3)
      .orderBy("g").collect().toSeq
    val buk = Quantiles.madOutliersBucketed(d, Seq("g"), "x", "tb", k = 3, cells = 8)
      .orderBy("g").collect().toSeq
    assert(win === buk)
    // keyless wrapper
    val w0 = Quantiles.madOutliers(d.filter($"g" === "g1"), Nil, "x", "tb", 3).collect().toSeq
    val b0 = Quantiles.madOutliersBucketed(d.filter($"g" === "g1"), Nil, "x", "tb", 3, 8)
      .collect().toSeq
    assert(w0 === b0)
    // hot value: > half the group at one value -> mad 0, both arms agree
    val hot = ((1 to 30).map(i => ("h", 7L, i.toLong)) ++
      (1 to 10).map(i => ("h", (i + 100).toLong, (i + 50).toLong))).toDF("g", "x", "tb")
    val hw = Quantiles.madOutliers(hot, Seq("g"), "x", "tb", 3).collect().toSeq
    val hb = Quantiles.madOutliersBucketed(hot, Seq("g"), "x", "tb", 3, 8).collect().toSeq
    assert(hw === hb)
    assert(hw.head.getAs[Long]("mad") === 0L)
  }

  test("iqrOutliersBucketed == iqrOutliers bit-identically; trimmedMean goldens") {
    def v(i: Int): Long = (i * 40503L % 83L) + (if (i % 61 == 0) 900L else 0L)
    val d = (1 to 300).map(i => (s"g${i % 2}", v(i), i.toLong)).toDF("g", "x", "tb")
    val win = Quantiles.iqrOutliers(d, Seq("g"), "x", "tb")
      .orderBy("tb").collect().toSeq
    val buk = Quantiles.iqrOutliersBucketed(d, Seq("g"), "x", "tb", cells = 8)
      .orderBy("tb").collect().toSeq
    assert(win.nonEmpty && win === buk)

    // trimmed mean: trim 0 == plain mean; the spike vanishes at trim 10
    val base = (1 to 19).map(i => ("k", i.toLong, i.toLong)) :+ (("k", 10000L, 20L))
    val df = base.toDF("g", "x", "tb")
    val t0 = Quantiles.trimmedMean(df, Seq("g"), "x", "tb", trimPct = 0).collect()(0)
    assert(t0.getAs[Long]("n_kept") === 20L)
    assert(t0.getAs[Double]("trimmed_mean") === (190d + 10000d) / 20d)
    val t10 = Quantiles.trimmedMean(df, Seq("g"), "x", "tb", trimPct = 10).collect()(0)
    // d = 2: drop ranks {1,2} and {19,20} -> keep 3..18, sum 168, mean 10.5
    assert(t10.getAs[Long]("n_trimmed_each_side") === 2L)
    assert(t10.getAs[String]("sum_kept") === "168")
    assert(t10.getAs[Double]("trimmed_mean") === 10.5)
    val t49 = Quantiles.trimmedMean(
      (1 to 4).map(i => ("k", i.toLong, i.toLong)).toDF("g", "x", "tb"),
      Seq("g"), "x", "tb", trimPct = 49).collect()(0)
    assert(t49.getAs[Long]("n_trimmed_each_side") === 1L)
    assert(t49.getAs[Double]("trimmed_mean") === 2.5) // keep ranks 2,3
  }

  test("quantileNormalize: golden mapping, interval ties, self-normalization identity") {
    val rows = Seq((1L, "s", 1L), (2L, "s", 5L), (3L, "s", 9L)).toDF("id", "g", "v")
    val ref3 = Seq((10L, 1L), (20L, 1L), (30L, 1L)).toDF("bucket", "cnt")
    val got = Quantiles.quantileNormalize(rows, Seq("g"), "v", "id", ref3)
      .orderBy("rank").collect()
    assert(got.map(_.getAs[Long]("norm")).toSeq === Seq(10L, 20L, 30L))
    assert(got.map(_.getAs[Long]("ref_pos")).toSeq === Seq(1L, 2L, 3L))

    // skewed reference: cum intervals [1,2] -> 100, [3,4] -> 200
    val rows2 = Seq((1L, "s", 7L), (2L, "s", 8L)).toDF("id", "g", "v")
    val ref4 = Seq((100L, 2L), (200L, 2L)).toDF("bucket", "cnt")
    val g2 = Quantiles.quantileNormalize(rows2, Seq("g"), "v", "id", ref4)
      .orderBy("rank").collect()
    assert(g2.map(_.getAs[Long]("norm")).toSeq === Seq(100L, 200L))

    // self-normalization: a group mapped onto its own counts returns
    // its own value multiset
    val vals = Seq(3L, 3L, 7L, 9L, 9L, 9L, 20L)
    val self = vals.zipWithIndex.map { case (v, i) => (i.toLong, "s", v) }
      .toDF("id", "g", "v")
    val refSelf = graft.quality.Profiler.bucketCounts(self, "v")
    val norms = Quantiles.quantileNormalize(self, Seq("g"), "v", "id", refSelf)
      .collect().map(_.getAs[Long]("norm")).sorted.toSeq
    assert(norms === vals.sorted)
    // and the last rank always lands on the last reference bucket
    val last = Quantiles.quantileNormalize(self, Seq("g"), "v", "id", ref4)
      .orderBy(col("rank").desc).collect().head
    assert(last.getAs[Long]("norm") === 200L)
  }

  test("skewProfile: exact counts, ppm share, ceil-div salt, pinned tie-break") {
    // key a: 25 rows, b: 10, c: 10, d: 3, e: 2 -> total 50
    val rows = Seq.fill(25)("a") ++ Seq.fill(10)("b") ++ Seq.fill(10)("c") ++
      Seq.fill(3)("d") ++ Seq.fill(2)("e")
    val d = rows.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "id")
    val got = Skew.skewProfile(d, Seq("k"), targetPerTask = 10L, topK = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // share_ppm = cnt*1e6 div 50; salt = ceil(cnt/10); b before c by key tie-break
    assert(got == Seq(
      ("a", 25L, 500000L, 3L),
      ("b", 10L, 200000L, 1L),
      ("c", 10L, 200000L, 1L)))
    // an under-target key still recommends salt 1, never 0
    val tail = Skew.skewProfile(d, Seq("k"), targetPerTask = 10L, topK = 5)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(tail("e") == 1L)
  }

  test("madOutliers: hand-computed median/MAD, planted spikes, degenerate mad=0") {
    import graft.operators.Quantiles
    // group g: values 1..9 plus two spikes of 100 -> n=11, med = rank-6
    // value of [1..9,100,100] = 6; devs sorted [0,1,1,2,2,3,3,4,5,94,94]
    // -> mad at rank 6 = 3; fence 9 -> the two 94s are outliers
    val g = ((1 to 9).map(_.toLong) ++ Seq(100L, 100L)).zipWithIndex
      .map { case (v, i) => ("g", v, i.toLong) }
    // group h: nine 7s and one 8 -> med 7, mad 0, the 8 is an outlier of
    // the exact (unsmoothed) identifier — documented degenerate behavior
    val h = (Seq.fill(9)(7L) :+ 8L).zipWithIndex.map { case (v, i) => ("h", v, i.toLong) }
    // NULL values must not shift the rank selection: they'd sort first
    // and inflate __n — madOutliers excludes them before the windows
    val withNulls = (g ++ h).toDF("grp", "v", "id")
      .union(Seq(("g", Option.empty[Long], 90L), ("h", Option.empty[Long], 91L))
        .toDF("grp", "v", "id"))
    val d = withNulls
    val got = Quantiles.madOutliers(d, Seq("grp"), "v", "id", k = 3)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("g") == ((11L, 6L, 3L, 2L)))
    assert(got("h") == ((10L, 7L, 0L, 1L)))
  }

  test("bucketed exact quantiles equal the windowed arm on every edge shape") {
    import graft.operators.Quantiles
    // edge shapes in one frame: a spread group, a constant-value group
    // (all rows collapse into one cell), a single-row group, a group with
    // NULL values (cell −1, sorts first), and duplicate values at the
    // selection rank (tie-break decides)
    val rows =
      (1 to 100).map(i => ("spread", Some(i * 1.5), i.toLong)) ++
      (1 to 40).map(i => ("const", Some(7.0), i.toLong)) ++
      Seq(("single", Some(3.0), 1L)) ++
      (1 to 10).map(i => ("nully", if (i <= 4) None else Some(i.toDouble), i.toLong)) ++
      (1 to 30).map(i => ("dups", Some((i % 3).toDouble), i.toLong))
    val d = rows.toDF("g", "v", "tb")
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    val win = norm(Quantiles.exactQuantiles(d, Seq("g"), "v", "tb"))
    val buck = norm(Quantiles.exactQuantilesBucketed(d, Seq("g"), "v", "tb"))
    assert(buck == win)
    // partition-invariance: the cell layout must not change selections
    val buck2 = norm(Quantiles.exactQuantilesBucketed(
      d.repartition(7).orderBy($"tb".desc), Seq("g"), "v", "tb", cells = 16))
    assert(buck2 == win)
    // only target cells reach a rank window: with 100 spread rows over 16
    // cells the ranked row count is far below the corpus
    val celledCount = Quantiles.exactQuantilesBucketed(
      d.filter($"g" === "spread"), Seq("g"), "v", "tb", cells = 16)
    assert(norm(celledCount) == win.filter(_._1 == "spread"))
    // a NULL-keyed GROUP survives both arms identically (the equi-join
    // with the stats frame silently dropped it before the null-safe fix)
    val gn = (Seq((Option.empty[String], Some(1.0), 1L),
      (Option.empty[String], Some(3.0), 2L),
      (Option("x"), Some(5.0), 3L))).toDF("g", "v", "tb")
    def normN(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getDouble(2))).toSet
    assert(normN(Quantiles.exactQuantilesBucketed(gn, Seq("g"), "v", "tb"))
      == normN(Quantiles.exactQuantiles(gn, Seq("g"), "v", "tb")))
    assert(normN(Quantiles.exactQuantilesBucketed(gn, Seq("g"), "v", "tb"))
      .exists(_._1.isEmpty), "NULL-keyed group must be present")
  }

  test("winsorize: hand-computed rank bounds, tails clamped, body untouched, NULLs excluded") {
    import graft.operators.Quantiles
    // 1..20 in one group: at lo=5/hi=95, rank_lo = max(1, 105 div 100) = 1,
    // rank_hi = min(20, 1995 div 100) = 19 -> bounds [1, 19]
    val d = ((1 to 20).map(i => ("g", Some(i.toDouble), i.toLong)) :+
      (("g", None: Option[Double], 99L))).toDF("g", "v", "tb")
    val got = Quantiles.winsorize(d, Seq("g"), "v", "tb").collect()
      .map(r => (r.getLong(1), r.getDouble(5))).toMap
    assert(got.size == 20, "NULL row must be excluded")
    assert(got(20L) == 19.0, "upper tail clamps to the p95 rank value")
    assert(got(1L) == 1.0 && got(10L) == 10.0 && got(19L) == 19.0)
    // exactly one shuffle: all windows share the group-key exchange
    val plan = Quantiles.winsorize(d, Seq("g"), "v", "tb")
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1, plan)
  }

  test("gini: golden values, perfect equality zero, max concentration, tie invariance") {
    import graft.operators.Quantiles
    // {1,2,3,4}: num = (-3)*1 + (-1)*2 + 1*3 + 3*4 = 10; G = 10/(4*10) = 0.25
    val d = Seq(("g", 1L, 1L), ("g", 2L, 2L), ("g", 3L, 3L), ("g", 4L, 4L))
      .toDF("k", "v", "tb")
    val r = Quantiles.gini(d, Seq("k"), "v", "tb").head()
    assert(r.getLong(1) == 4L && r.getDecimal(3).longValueExact() == 10L)
    assert(r.getDouble(4) == 0.25)
    // perfect equality -> exactly 0 (integer numerator, not ~0)
    val eq = Seq.fill(8)(5L).zipWithIndex.map { case (v, i) => ("e", v, i.toLong) }
      .toDF("k", "v", "tb")
    assert(Quantiles.gini(eq, Seq("k"), "v", "tb").head().getDecimal(3).signum == 0)
    // one row holds everything -> (n-1)/n
    val conc = (Seq.fill(9)(0L) :+ 100L).zipWithIndex.map { case (v, i) => ("c", v, i.toLong) }
      .toDF("k", "v", "tb")
    assert(Quantiles.gini(conc, Seq("k"), "v", "tb").head().getDouble(4) == 0.9)
    // tied values: any permutation of the tie-break gives the same numerator
    val t1 = Seq(("t", 7L, 1L), ("t", 7L, 2L), ("t", 3L, 3L)).toDF("k", "v", "tb")
    val t2 = Seq(("t", 7L, 9L), ("t", 7L, 0L), ("t", 3L, 5L)).toDF("k", "v", "tb")
    assert(Quantiles.gini(t1, Seq("k"), "v", "tb").head().getDecimal(3) ==
      Quantiles.gini(t2, Seq("k"), "v", "tb").head().getDecimal(3))
    // all-zero group: gini NULL, sums exact zero
    val z = Seq(("z", 0L, 1L), ("z", 0L, 2L)).toDF("k", "v", "tb")
    assert(Quantiles.gini(z, Seq("k"), "v", "tb").head().isNullAt(4))
  }

  test("bucketed gini / winsorize / spearman equal their windowed arms on every edge shape") {
    import graft.operators.Quantiles
    import graft.quality.Profiler
    // the q170 edge corpus: spread values, constant group (one cell),
    // single row, NULLs, heavy ties at the selection ranks
    val rows =
      (1 to 100).map(i => ("spread", Some((i * 3 % 47).toDouble), i.toLong)) ++
      (1 to 40).map(i => ("const", Some(7.0), i.toLong)) ++
      Seq(("single", Some(3.0), 1L)) ++
      (1 to 10).map(i => ("nully", if (i <= 4) None else Some(i.toDouble), i.toLong)) ++
      (1 to 30).map(i => ("dups", Some((i % 3).toDouble), i.toLong))
    val d = rows.toDF("g", "v", "tb")
    def rows2set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until r.length).map(i =>
        Option(r.get(i)).map(_.toString)).toVector).toSet
    // gini needs non-negative integer-ish values: reuse |v| as longs
    val gd = d.filter($"v".isNotNull).select($"g", abs($"v").cast("long").as("v"), $"tb")
    assert(rows2set(Quantiles.giniBucketed(gd, Seq("g"), "v", "tb", cells = 8))
      == rows2set(Quantiles.gini(gd, Seq("g"), "v", "tb")))
    // winsorize: every per-row clamp decision must match, not just bounds
    assert(rows2set(Quantiles.winsorizeBucketed(d, Seq("g"), "v", "tb", cells = 8)
        .orderBy("g", "tb"))
      == rows2set(Quantiles.winsorize(d, Seq("g"), "v", "tb").orderBy("g", "tb")))
    // spearman: tie-heavy pair columns — average-tie arithmetic must
    // survive the cell layout (ties share a cell by construction)
    val sp = (1 to 60).map(i =>
      ("a", (i % 7).toLong, (i % 5).toLong)) ++ (1 to 25).map(i =>
      ("b", i.toLong, (i * i).toLong)) :+ (("c", 1L, 1L))
    val sdf = sp.toDF("g", "x", "y")
    assert(rows2set(Profiler.spearmanBucketed(sdf, Seq("g"), "x", "y", cells = 4))
      == rows2set(Profiler.spearman(sdf, Seq("g"), "x", "y")))
    // partition invariance + NULL-keyed group survival, all three ops
    val gn = Seq((Option.empty[String], Some(1.0), 1L),
      (Option.empty[String], Some(3.0), 2L), (Option("x"), Some(5.0), 3L))
      .toDF("g", "v", "tb").repartition(5)
    assert(rows2set(Quantiles.winsorizeBucketed(gn, Seq("g"), "v", "tb"))
      == rows2set(Quantiles.winsorize(gn, Seq("g"), "v", "tb")))
    val gnl = gn.filter($"v".isNotNull).select($"g", $"v".cast("long").as("v"), $"tb")
    assert(rows2set(Quantiles.giniBucketed(gnl, Seq("g"), "v", "tb"))
      == rows2set(Quantiles.gini(gnl, Seq("g"), "v", "tb")))
    val gns = gn.filter($"v".isNotNull)
      .select($"g", $"v".cast("long").as("x"), ($"tb" * 2).as("y"))
    assert(rows2set(Profiler.spearmanBucketed(gns, Seq("g"), "x", "y"))
      == rows2set(Profiler.spearman(gns, Seq("g"), "x", "y")))
    // matrix twin: three columns, tiny cells, ties everywhere
    val md = (1 to 60).map(i =>
      ("a" + (i % 2), (i % 7).toLong, (i % 5).toLong, (i * 3 % 11).toLong))
      .toDF("g", "x", "y", "z")
    assert(rows2set(Profiler.spearmanMatrixBucketed(md, Seq("g"),
        Seq("x", "y", "z"), cells = 4))
      == rows2set(Profiler.spearmanMatrix(md, Seq("g"), Seq("x", "y", "z"))))
  }

  test("quantileTreatmentEffect: lo-hi orientation, pure-shift golden, missing-arm/extra-arm contracts") {
    import graft.operators.Quantiles
    // arm A = 1..10, arm B = A + 10 exactly: every quantile's qte is the
    // pure location shift −10 (lo = A, qte = v_A − v_B)
    val shifted = ((1 to 10).map(i => ("g1", "A", i.toLong, i.toLong)) ++
      (1 to 10).map(i => ("g1", "B", (i + 10).toLong, (i + 100).toLong)))
      .toDF("g", "arm", "v", "tb")
    val r = Quantiles.quantileTreatmentEffect(
      shifted, Seq("g"), "arm", "v", "tb", ("A", "B")).orderBy("p").collect()
    assert(r.length === 5)
    for (row <- r) {
      assert(row.getAs[Long]("qte") === -10L, row.toString)
      assert(row.getAs[Long]("n_lo") === 10L && row.getAs[Long]("n_hi") === 10L)
      assert(row.getAs[Long]("v_lo") + 10L === row.getAs[Long]("v_hi"))
    }
    // definitional consistency: QTE == quantileShift with the hi arm as
    // the base snapshot (same rank selections, renamed columns)
    val viaShift = Quantiles.quantileShift(
      shifted.filter($"arm" === "B"), shifted.filter($"arm" === "A"),
      Seq("g"), "v", "tb").orderBy("p").collect()
    for ((a, b) <- r.zip(viaShift)) {
      assert(a.getAs[Long]("v_lo") === b.getAs[Long]("v_cur"))
      assert(a.getAs[Long]("v_hi") === b.getAs[Long]("v_base"))
      assert(a.getAs[Long]("qte") === b.getAs[Long]("shift"))
    }
    // arm order in `arms` doesn't matter; rows from a third arm are
    // ignored; a group missing an arm emits nothing
    val extra = shifted.unionAll(
      Seq(("g1", "C", 999L, 500L), ("g2", "A", 1L, 600L)).toDF("g", "arm", "v", "tb"))
    val r2 = Quantiles.quantileTreatmentEffect(
      extra, Seq("g"), "arm", "v", "tb", ("B", "A")).collect()
    assert(r2.length === 5 && r2.forall(_.getAs[String]("g") == "g1"))
    assert(r2.map(_.getAs[Long]("qte")).toSet === Set(-10L))
  }

  test("quantileShiftBucketed / quantileShiftFromCells equal the windowed arm on every edge shape") {
    import graft.operators.Quantiles
    // the q170 edge corpus, split into two snapshots by tie-break parity:
    // spread values, constant group (one cell), single-row groups (one
    // side may be empty -> group emits nothing), NULLs filtered, heavy
    // ties at the selection ranks
    val rows =
      (1 to 100).map(i => ("spread", Some((i * 3 % 47).toDouble), i.toLong)) ++
      (1 to 40).map(i => ("const", Some(7.0), i.toLong)) ++
      Seq(("single", Some(3.0), 1L)) ++
      (1 to 10).map(i => ("nully", if (i <= 4) None else Some(i.toDouble), i.toLong)) ++
      (1 to 30).map(i => ("dups", Some((i % 3).toDouble), i.toLong))
    val d = rows.toDF("g", "v", "tb")
    val base = d.filter($"tb" % 2 === 0)
    val cur = d.filter($"tb" % 2 === 1)
    def rows2set(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until r.length).map(i =>
        Option(r.get(i)).map(_.toString)).toVector).toSet
    val win = rows2set(Quantiles.quantileShift(base, cur, Seq("g"), "v", "tb"))
    assert(rows2set(Quantiles.quantileShiftBucketed(
      base, cur, Seq("g"), "v", "tb", cells = 8)) == win)
    // partition invariance of the bucketed arm
    assert(rows2set(Quantiles.quantileShiftBucketed(
      base.repartition(7), cur.repartition(5).orderBy($"tb".desc),
      Seq("g"), "v", "tb", cells = 16)) == win)
    // the from-cells read over unit-weight value cells is the same shift
    assert(rows2set(Quantiles.quantileShiftFromCells(
      Quantiles.valueCells(base, Seq("g"), "v"),
      Quantiles.valueCells(cur, Seq("g"), "v"), Seq("g"))) == win)
    // NULL-keyed group survives all three arms
    val gn = Seq((Option.empty[String], Some(1.0), 2L),
      (Option.empty[String], Some(3.0), 4L), (Option.empty[String], Some(5.0), 1L),
      (Option.empty[String], Some(2.0), 3L), (Option("x"), Some(5.0), 5L),
      (Option("x"), Some(6.0), 6L)).toDF("g", "v", "tb")
    val gb = gn.filter($"tb" % 2 === 0); val gc = gn.filter($"tb" % 2 === 1)
    val winN = rows2set(Quantiles.quantileShift(gb, gc, Seq("g"), "v", "tb"))
    assert(winN.nonEmpty)
    assert(rows2set(Quantiles.quantileShiftBucketed(gb, gc, Seq("g"), "v", "tb")) == winN)
    assert(rows2set(Quantiles.quantileShiftFromCells(
      Quantiles.valueCells(gb, Seq("g"), "v"),
      Quantiles.valueCells(gc, Seq("g"), "v"), Seq("g"))) == winN)
  }

  test("value-cell store: fold == rebuild; weightedMedianFromCells == weightedMedian") {
    import graft.operators.Quantiles
    val rows = (1 to 120).map(i =>
      ("g" + (i % 3), (i * 7 % 13).toLong, (i % 5 + 1).toLong))
    val d = rows.toDF("g", "v0", "w0")
    // three disjoint batches fold to exactly the rebuild's cells
    val batches = (0 to 2).map(i => d.filter($"v0" % 3 === i))
    val folded = batches.tail.foldLeft(
        Quantiles.valueCells(batches.head, Seq("g"), "v0", Some("w0"))) { (acc, b) =>
      Quantiles.mergeValueCells(acc,
        Quantiles.valueCells(b, Seq("g"), "v0", Some("w0")), Seq("g"))
    }
    val rebuilt = Quantiles.valueCells(d, Seq("g"), "v0", Some("w0"))
    assert(folded.orderBy("g", "v").collect().toSeq ==
      rebuilt.orderBy("g", "v").collect().toSeq)
    // the standing read equals the direct operator verbatim
    assert(Quantiles.weightedMedianFromCells(folded, Seq("g"))
        .orderBy("g").collect().toSeq ==
      Quantiles.weightedMedian(d, Seq("g"), "v0", "w0")
        .orderBy("g").collect().toSeq)
    // unit-weight cells: w counts rows; NULL values excluded
    val withNull = d.select($"g", when($"v0" > 2L, $"v0").as("v0"))
    val cells = Quantiles.valueCells(withNull, Seq("g"), "v0")
    assert(cells.agg(sum("w")).head().getLong(0) ==
      withNull.filter($"v0".isNotNull).count())
  }

  test("joinCardinality: forecast equals the real join, max flags the hot key, disjoint is zero") {
    // a: k1 x3, k2 x2, k9 x1;  b: k1 x4, k2 x1, k7 x5
    val a = (Seq.fill(3)("k1") ++ Seq.fill(2)("k2") :+ "k9").toDF("k")
    val b = (Seq.fill(4)("k1") ++ Seq("k2") ++ Seq.fill(5)("k7")).toDF("k")
    val r = Skew.joinCardinality(a, b, Seq("k")).head()
    // matching keys k1, k2; rows 3*4 + 2*1 = 14; hot key k1 contributes 12
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 14L, 12L)))
    assert(a.join(b, Seq("k")).count() == 14L)
    // no shared keys -> all zeros, not an empty frame
    val z = Skew.joinCardinality(a, Seq("zz").toDF("k"), Seq("k")).head()
    assert((z.getLong(0), z.getLong(1), z.getLong(2)) == ((0L, 0L, 0L)))
  }

  test("saltedJoin equals plain join (inner and left)") {
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_suppkey", "l_quantity")
    val supp = Tables.supplier(spark, sf).filter($"s_suppkey" % 3 =!= 0)
      .select($"s_suppkey".as("l_suppkey"), $"s_name")
    for (jt <- Seq("inner", "left")) {
      val plain = li.join(supp, Seq("l_suppkey"), jt)
      val salted = Skew.saltedJoin(li, supp, Seq("l_suppkey"), saltFactor = 8, joinType = jt)
      assert(salted.count() == plain.count())
      assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    }
  }

  test("saltedAgg equals direct aggregation") {
    val li = Tables.lineitem(spark, sf)
    val direct = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"), max("l_shipdate").as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), "%.4f".format(r.getDouble(2)), r.get(3).toString)).toMap
    val salted = Skew.saltedAgg(li, Seq("l_returnflag"), saltFactor = 7, aggs = Map(
      "n" -> (count(lit(1)), sum(_)),
      "q" -> (sum("l_quantity"), sum(_)),
      "mx" -> (max("l_shipdate"), max(_))
    )).collect().map(r => r.getString(0) -> (r.getLong(1), "%.4f".format(r.getDouble(2)), r.get(3).toString)).toMap
    assert(salted == direct)
  }

  test("hotKeys reports keys above threshold") {
    val hot = Skew.hotKeys(Tables.lineitem(spark, sf), Seq("l_suppkey"), threshold = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hot.nonEmpty && hot.values.forall(_ >= 100))
  }

  test("bloom prune: no false negatives, real pruning, join result exact") {
    import graft.operators.BloomPrune
    val dim = Tables.orders(spark, sf).filter($"o_orderpriority" === "1-URGENT")
      .select("o_orderkey")
    val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val nDim = dim.count()
    val bloom = BloomPrune.build(dim, Seq("o_orderkey"), expectedItems = nDim, fpp = 0.01)
    // no false negatives: every fact row with a dim partner survives the prune
    val pruned = BloomPrune.prune(fact, Seq("l_orderkey"), bloom)
    val matching = fact.join(dim, $"l_orderkey" === $"o_orderkey", "left_semi")
    assert(matching.exceptAll(pruned.join(dim, $"l_orderkey" === $"o_orderkey", "left_semi")).isEmpty)
    // real pruning: the filtered fact is well under the full fact (urgent ≈ 1/5)
    val total = fact.count()
    val kept = pruned.count()
    assert(kept < total * 0.4, s"bloom kept $kept of $total rows — no pruning happened")
    // and not BELOW the true match count (that would mean dropped matches)
    assert(kept >= matching.count())
    // end-to-end: pruned equi-join is exactly the plain join
    val plain = fact.join(dim, $"l_orderkey" === $"o_orderkey")
    val viaBloom = BloomPrune.prunedEquiJoin(
      fact, dim, Seq("l_orderkey"), Seq("o_orderkey"), expectedItems = nDim)
    assert(viaBloom.count() == plain.count())
    assert(viaBloom.exceptAll(plain).isEmpty && plain.exceptAll(viaBloom).isEmpty)
    // filter size stays broadcast-friendly
    assert(bloom.sizeBytes < 64 * 1024, s"bloom is ${bloom.sizeBytes} B for $nDim keys")
  }

  test("z-order layout gives min/max locality on BOTH clustered columns") {
    import graft.sources.Layout
    val ev = Tables.events(spark, sf).select($"user_id".cast("double").as("u"), $"value".as("v"))
      .filter($"v".isNotNull)
    def avgSpans(laid: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val spans = laid.withColumn("pid", spark_partition_id())
        .groupBy("pid")
        .agg((max("u") - min("u")).as("su"), (max("v") - min("v")).as("sv"))
        .agg(avg("su"), avg("sv")).head()
      (spans.getDouble(0), spans.getDouble(1))
    }
    val full = ev.agg(max("u") - min("u"), max("v") - min("v")).head()
    val (fullU, fullV) = (full.getDouble(0), full.getDouble(1))
    // linear sort: leading key localizes; second column gets no clustering
    // (its per-partition span stays near its natural draw-of-the-data span)
    val (linU, linV) = avgSpans(ev.repartitionByRange(8, $"u").sortWithinPartitions($"u"))
    assert(linU < 0.3 * fullU, s"linear layout did not localize its own sort key: $linU vs $fullU")
    // z-order: BOTH dimensions localize (each partition covers a fraction
    // of each range, so min/max stats can prune on either predicate)
    val (zU, zV) = avgSpans(Layout.zorderBy(ev, Seq("u", "v"), outPartitions = 8))
    assert(zU < 0.7 * fullU, s"z-order did not localize u: $zU vs $fullU")
    assert(zV < 0.7 * linV, s"z-order v-span $zV not better than linear's $linV")
  }

  test("AQE splits a skewed join partition at runtime") {
    // one key owns half the fact side; with low skew thresholds AQE must
    // mark the sort-merge join skew=true and split that reducer partition
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // keep it a sort-merge join
    try {
      val big = spark.range(0, 300000, 1, 8)
        .select(when($"id" < 150000, lit(7L)).otherwise($"id").as("k"), $"id".as("payload"))
      val dim = spark.range(300000).select($"id".as("k"), ($"id" * 2).as("v"))
      val j = big.join(dim, Seq("k"))
      // collect() drives THIS Dataset's QueryExecution to its final
      // adaptive plan (count() would wrap it in a fresh QueryExecution
      // and leave this one isFinalPlan=false)
      assert(j.collect().length == 300000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected a skew-split SMJ in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed join runs without a shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bucketing.writeBucketed(Tables.orders(spark, sf), "b_orders",
        Seq("o_orderkey"), 4, sortCols = Seq("o_orderkey"))
      Bucketing.writeBucketed(
        Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", Seq("o_orderkey"), 4, sortCols = Seq("o_orderkey"))
      val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_lineitem", Seq("o_orderkey"))
      assert(joined.count() == Tables.lineitem(spark, sf).count())
      assert(Bucketing.isExchangeFree(joined), "bucketed join plan should have no exchange:\n" +
        joined.queryExecution.executedPlan.toString.take(2000))
      // contrast: the same join on raw parquet DOES shuffle
      val raw = Tables.orders(spark, sf).join(
        Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"), Seq("o_orderkey"))
      raw.count()
      assert(!Bucketing.isExchangeFree(raw))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned write prunes directories on partition-column filters") {
    import graft.sources.Partitioned
    val base = java.nio.file.Files.createTempDirectory("graft-part").toString
    Partitioned.writePartitionedByDay(Tables.events(spark, sf), s"$base/ev", "ts")
    val all = Partitioned.read(spark, s"$base/ev")
    val days = all.select("part_date").distinct().as[String].collect().sorted
    assert(days.length > 1, "need multiple partitions for a meaningful prune test")
    val oneDay = all.filter($"part_date" === days.head)
    oneDay.count()
    assert(Partitioned.isPartitionPruned(oneDay),
      oneDay.queryExecution.executedPlan.toString.take(1500))
    assert(!Partitioned.isPartitionPruned(all.filter($"user_id" === 1)))
    // pruned read returns exactly that day's rows
    val expected = Tables.events(spark, sf)
      .filter(date_format($"ts", "yyyy-MM-dd") === days.head).count()
    assert(oneDay.count() == expected)
  }

  test("csv and json round-trip preserves data with explicit schemas") {
    import graft.sources.Formats
    val src = Tables.orders(spark, sf)
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS o_orderdate_str", "o_orderpriority")
    val base = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    Formats.writeCsv(src, s"$base/csv")
    Formats.writeJson(src, s"$base/json")
    Formats.writeOrc(src, s"$base/orc")
    val csvBack = Formats.readCsv(spark, s"$base/csv", src.schema)
    val jsonBack = Formats.readJson(spark, s"$base/json", src.schema)
    val orcBack = Formats.readOrc(spark, s"$base/orc")
    assert(csvBack.exceptAll(src).isEmpty && src.exceptAll(csvBack).isEmpty)
    assert(jsonBack.exceptAll(src).isEmpty && src.exceptAll(jsonBack).isEmpty)
    assert(orcBack.exceptAll(src).isEmpty && src.exceptAll(orcBack).isEmpty)
    // orc pushdown: predicate reaches the scan like parquet
    val plan = Formats.readOrc(spark, s"$base/orc").filter($"o_orderkey" === 42L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,42)]"), plan)
  }

  test("compare with cache=true materializes once and uncaches cleanly") {
    import graft.operators.CompareDataFrames
    val (a, b) = (Tables.orders(spark, sf), Tables.orders(spark, sf).filter($"o_orderkey" % 2 === 0))
    val c = CompareDataFrames(a, b, Seq("o_orderkey"), cache = true)
    val counts = CompareDataFrames.counts(c)
    assert(counts("removed") > 0 && counts("added") == 0)
    assert(c.cached.exists(_.storageLevel.useMemory))
    CompareDataFrames.uncache(c)
    assert(c.cached.exists(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
  }

  test("ensureParallelism runs no job: a shuffled input is spread, a many-split scan is untouched") {
    import graft.sources.Layout
    val par = spark.sparkContext.defaultParallelism
    val shuffled = spark.range(100000).groupBy((col("id") % 10).as("k")).count()
    val (spread, jobs) = JobCount(spark)(Layout.ensureParallelism(shuffled))
    assert(jobs == 0, s"$jobs jobs")
    assert(spread.rdd.getNumPartitions == par)
    val scan = spark.range(0, 1000, 1, par * 2).toDF()
    val (same, scanJobs) = JobCount(spark)(Layout.ensureParallelism(scan))
    assert(scanJobs == 0 && (same eq scan))
    val narrow = spark.range(0, 1000, 1, 1).toDF()
    val (widened, narrowJobs) = JobCount(spark)(Layout.ensureParallelism(narrow))
    assert(narrowJobs == 0 && widened.rdd.getNumPartitions == par)
  }

  test("gopher gate is shuffle-free; IQR outliers shuffle exactly once") {
    import graft.text.TextAnalysis
    import graft.operators.Quantiles
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val gate = TextAnalysis.gopherFilters(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!gate.contains("Exchange"), s"gopher gate must not shuffle:\n${gate.take(1500)}")
    val iqr = Quantiles.iqrOutliers(
      Tables.events(spark, sf).select("event_type", "event_id", "value"),
      Seq("event_type"), "value", "event_id")
      .queryExecution.executedPlan.toString
    assert(iqr.split("Exchange").length == 2,
      s"IQR check must shuffle exactly once (rank + quartiles + bounds share one partitioning):\n${iqr.take(2000)}")
  }

  test("multi-probe LSH recall dominates single-probe vs brute force") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 10)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // 4 planes: wide buckets so recall is meaningful on random synthetic
    // embeddings (which have no strong cosine structure to exploit)
    val exact = hits(Knn.bruteForceTopK(e, q, "vec_id", "embedding", k = 5))
    val single = hits(Knn.lshTopK(e, q, "vec_id", "embedding", k = 5, numPlanes = 4))
    val multi = hits(Knn.lshTopK(e, q, "vec_id", "embedding", k = 5, numPlanes = 4, probeRadius = 1))
    val rs = (exact intersect single).size.toDouble / exact.size
    val rm = (exact intersect multi).size.toDouble / exact.size
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
    assert(rm >= 0.4, s"multi-probe recall too low: $rm")
    // radius-1 probes = own bucket + one flip per plane
    assert(Knn.probeMasks(8, 1).toSet == (Set(0L) ++ (0 until 8).map(1L << _)))
  }

  test("prebuilt IVF index roundtrips through parquet; full probe equals flat search") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 5)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Knn.buildIvfIndex(e, "vec_id", "embedding", nlist = 8, trainFraction = 0.5)
      .write.mode("overwrite").parquet(s"$tmp/index")
    val index = spark.read.parquet(s"$tmp/index")
    val cells = Knn.assignCells(e, "vec_id", "embedding", index)
    // probing every cell must reproduce exact flat search, whatever the
    // (sample-trained) centroids look like
    val viaIndex = Knn.ivfTopKPrebuilt(cells, index, q, "vec_id", "embedding", k = 5, nprobe = 8)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val flat = Knn.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(viaIndex == flat)
  }

  test("incremental embedding near-dup equals full blocking restricted to batch pairs") {
    val all = graft.queries.LlmQueries.vecsWithTwins(spark, sf)
    val batch = all.filter($"vec_id" % 5 === 0)
    val store = all.filter($"vec_id" % 5 =!= 0)
    val full = Knn.nearDupPairs(all, "vec_id", "embedding", tau = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batchIds = batch.select("vec_id").as[Long].collect().toSet
    val expected = full.filter { case (a, b) => batchIds(a) || batchIds(b) }
    val inc = Knn.incrementalNearDupPairs(batch, store, "vec_id", "embedding", tau = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(inc == expected, s"diff: ${(inc diff expected) ++ (expected diff inc)}")
    assert(expected.nonEmpty, "test vacuous: no twin pair touches the batch")
  }

  test("IVF top-k achieves high recall vs brute force on real embeddings") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 5)
    val exact = Knn.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Knn.ivfTopK(e, q, "vec_id", "embedding", k = 5, nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(ivf.size == exact.size)
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("graph ANN: navigable recall vs brute force; build and search partition-invariant") {
    import graft.similarity.GraphAnn
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 5)
    val assigned = Knn.assignCells(e, "vec_id", "embedding",
      Knn.buildIvfIndex(e, "vec_id", "embedding", nlist = 8)).persist()
    assigned.count()
    val graph = GraphAnn.buildGraph(assigned, graphDegree = 8).persist()
    graph.count()
    val entries = GraphAnn.entryPoints(assigned, 8)
    def results(corpus: org.apache.spark.sql.DataFrame) =
      GraphAnn.searchTopK(graph, corpus, q, "vec_id", "embedding", entries,
          k = 5, beam = 16, hops = 4)
        .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)]
        .collect().toSet
    val got = results(e)
    val exact = Knn.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val gotPairs = got.map(t => (t._1, t._3))
    val recall = (exact intersect gotPairs).size.toDouble / exact.size
    assert(gotPairs.size == exact.size)
    assert(recall >= 0.6, s"recall=$recall")
    // determinism: identical (query, rank, neighbor) triples when the
    // corpus arrives partitioned/ordered differently
    assert(results(e.repartition(7).orderBy($"vec_id".desc)) == got)
    // symmetric degree-bounded graph: every edge has its reverse
    val edges = graph.as[(Long, Long)].collect().toSet
    assert(edges.forall { case (s2, d2) => edges.contains((d2, s2)) })
    graph.unpersist(false); assigned.unpersist(false)
  }

  test("graph ANN: degenerate blocking is hard-bounded by subSplit; bounded build still covers every node") {
    import graft.similarity.GraphAnn
    // 300 identical-DIRECTION vectors (scaled copies): ONE cell and ONE
    // lsh bucket — exactly the fixed-bucket O(n²) trap the sub-split cap
    // exists for (lshPlanes=4 is 16 buckets at ANY corpus size)
    val dim = 8
    val assigned = (0L until 300L)
      .map(i => (i, Array.fill(dim)(1.0 + i * 1e-3), 0))
      .toDF("id", "v", "cell")
    val keyed = GraphAnn.blockKeyed(assigned, lshPlanes = 4, dim = dim)
    assert(keyed.groupBy("kind", "b").count()
      .collect().forall(_.getLong(2) == 300L), "corpus not degenerate — test vacuous")
    val sizes = GraphAnn.subSplit(keyed, maxBlockSize = 50)
      .groupBy("kind", "b", "sub").count().collect().map(_.getLong(3))
    // EXACT bound: no sub-block exceeds the cap; 300/50 = 6 chunks × 2 kinds
    assert(sizes.forall(_ <= 50L) && sizes.length == 12, sizes.mkString(","))
    // the bounded build completes with every node covered and the edge
    // count degree-shaped (≤ 2 kinds × degree, symmetrized), nowhere
    // near the 300·299 all-pairs of the unbounded build
    val graph = GraphAnn.buildGraph(assigned, graphDegree = 4,
      lshPlanes = 4, dim = dim, maxBlockSize = 50)
    assert(graph.select("src").distinct().count() == 300L)
    assert(graph.count() <= 300L * 2 * 4 * 2)
    // determinism: the content-keyed cut is partition-invariant
    val again = GraphAnn.buildGraph(assigned.repartition(7).orderBy($"id".desc),
      graphDegree = 4, lshPlanes = 4, dim = dim, maxBlockSize = 50)
    assert(again.as[(Long, Long)].collect().toSet ==
      graph.as[(Long, Long)].collect().toSet)
  }

  test("graph ANN: foldBatch equals full rebuild exactly; untouched blocks exercised") {
    import graft.similarity.GraphAnn
    val e = Tables.embeddings(spark, sf)
    val batchPred = $"vec_id" % 97 === 3
    val corpus0 = e.filter(!batchPred)
    // index built on the STANDING corpus; both sides assigned against it
    val index = Knn.buildIvfIndex(corpus0, "vec_id", "embedding", nlist = 8)
    val assigned0 = Knn.assignCells(corpus0, "vec_id", "embedding", index).persist()
    val assignedB = Knn.assignCells(e.filter(batchPred), "vec_id", "embedding", index).persist()
    assert(assignedB.count() > 0, "empty batch — test vacuous")
    def edgeSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val store = GraphAnn.blockEdges(assigned0, graphDegree = 6)
    val folded = edgeSet(GraphAnn.foldBatch(store, assigned0, assignedB, graphDegree = 6))
    val rebuilt = edgeSet(GraphAnn.blockEdges(
      assigned0.unionByName(assignedB), graphDegree = 6))
    assert(folded == rebuilt)
    // the fold's cheap path (untouched blocks carried verbatim) actually ran
    val touched = GraphAnn.blockKeyed(assignedB).select("kind", "b").distinct().count()
    val all = GraphAnn.blockKeyed(assigned0.unionByName(assignedB))
      .select("kind", "b").distinct().count()
    assert(touched < all, s"batch touched all $all blocks — untouched path not exercised")
    assigned0.unpersist(false); assignedB.unpersist(false)
  }

  test("graph ANN: cell-diverse entry points cover cells; recall does not degrade with beam") {
    import graft.similarity.GraphAnn
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 10)
    val assigned = Knn.assignCells(e, "vec_id", "embedding",
      Knn.buildIvfIndex(e, "vec_id", "embedding", nlist = 8)).persist()
    assigned.count()
    // one md5-earliest seed per live cell, deterministic under reshuffle
    val eps = GraphAnn.entryPointsPerCell(assigned, perCell = 1)
    val liveCells = assigned.filter($"cell" >= 0).select("cell").distinct().count()
    assert(eps.count() == liveCells)
    val eps2 = GraphAnn.entryPointsPerCell(assigned.repartition(5), perCell = 1)
    assert(eps2.as[Long].collect().toSet == eps.as[Long].collect().toSet)
    val graph = GraphAnn.buildGraph(assigned, graphDegree = 8).persist()
    graph.count()
    val exact = Knn.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(beam: Int): Double = {
      val got = GraphAnn.searchTopK(graph, e, q, "vec_id", "embedding", eps,
          k = 5, beam = beam, hops = 3)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val r8 = recall(8); val r32 = recall(32)
    assert(r32 >= r8, s"beam 32 recall $r32 below beam 8 recall $r8")
    assert(r32 >= 0.8, s"recall at beam 32 too low: $r32")
    graph.unpersist(false); assigned.unpersist(false)
  }

  test("graph ANN layered: geometric levels, descent deterministic, low-hop recall beats flat") {
    import graft.similarity.GraphAnn
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 10)
    val assigned = Knn.assignCells(e, "vec_id", "embedding",
      Knn.buildIvfIndex(e, "vec_id", "embedding", nlist = 8)).persist()
    assigned.count()
    // content-keyed geometric levels: ~n/4 per step, stable under reshuffle
    val leveled = GraphAnn.assignLevels(assigned, maxLevel = 2).persist()
    val byLevel = leveled.groupBy("level").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = byLevel.values.sum
    assert(byLevel.getOrElse(1, 0L) + byLevel.getOrElse(2, 0L) > n / 8 &&
      byLevel.getOrElse(1, 0L) + byLevel.getOrElse(2, 0L) < n / 2,
      s"level mass off geometric: $byLevel")
    val again = GraphAnn.assignLevels(assigned.repartition(7), maxLevel = 2)
      .select("id", "level").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == leveled.select("id", "level").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap)
    val layers = GraphAnn.buildLayers(assigned, graphDegree = 8, maxLevel = 2).persist()
    // layer populations (distinct sources) shrink with the level
    val srcs = layers.groupBy("layer").agg(countDistinct("src"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(srcs(0) > srcs(1) && srcs(1) > srcs(2), s"layers not shrinking: $srcs")
    val exact = Knn.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def layered(qs: org.apache.spark.sql.DataFrame) =
      GraphAnn.searchLayered(layers, e, qs, "vec_id", "embedding", leveled,
          maxLevel = 2, k = 5, beam = 16, hops = 2, upperBeam = 8)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = layered(q)
    // the descent is deterministic end to end
    assert(layered(q.repartition(3).orderBy($"vec_id".desc)) == got)
    val rl = (exact intersect got).size.toDouble / exact.size
    // at a LOW hop budget the routed seeds must beat fixed global entries
    // (the hierarchy's point: seeding replaces walk hops)
    val flat = GraphAnn.searchTopK(
        layers.filter($"layer" === 0).select("src", "dst"), e, q,
        "vec_id", "embedding", GraphAnn.entryPoints(assigned, 8),
        k = 5, beam = 16, hops = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rf = (exact intersect flat).size.toDouble / exact.size
    assert(rl >= rf, s"layered $rl below flat $rf at hops=2")
    assert(rl >= 0.5, s"layered low-hop recall too low: $rl")
    // an UNPOPULATED top layer must not silently answer nothing: at
    // maxLevel 6 (P = 4^-6 per node) the top is almost surely empty on
    // 500 nodes — the descent must seed from the highest POPULATED level
    val deepLeveled = GraphAnn.assignLevels(assigned, maxLevel = 6).persist()
    val deepLayers = GraphAnn.buildLayers(assigned, graphDegree = 8, maxLevel = 6).persist()
    val deep = GraphAnn.searchLayered(deepLayers, e, q, "vec_id", "embedding",
        deepLeveled, maxLevel = 6, k = 5, beam = 16, hops = 2, upperBeam = 8)
    assert(deep.groupBy("query_id").count().collect().forall(_.getLong(1) == 5L),
      "every query must still get k results when the top layer is empty")
    deepLayers.unpersist(false); deepLeveled.unpersist(false)
    layers.unpersist(false); leveled.unpersist(false); assigned.unpersist(false)
  }

  test("graph ANN layered fold: per-layer foldBatch equals hierarchy rebuild; store assembles to buildLayers") {
    import graft.similarity.GraphAnn
    val e = Tables.embeddings(spark, sf)
    val batchPred = $"vec_id" % 5 === 2
    val corpus0 = e.filter(!batchPred)
    val index = Knn.buildIvfIndex(corpus0, "vec_id", "embedding", nlist = 8)
    val assigned0 = Knn.assignCells(corpus0, "vec_id", "embedding", index).persist()
    val assignedB = Knn.assignCells(e.filter(batchPred), "vec_id", "embedding", index).persist()
    assert(assignedB.count() > 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    val store = GraphAnn.blockEdgesLayers(assigned0, graphDegree = 6, maxLevel = 2)
    val folded = rows(GraphAnn.foldBatchLayers(store, assigned0, assignedB,
      graphDegree = 6, maxLevel = 2))
    val rebuilt = rows(GraphAnn.blockEdgesLayers(
      assigned0.unionByName(assignedB), graphDegree = 6, maxLevel = 2))
    assert(folded == rebuilt)
    // the assembled store is exactly what buildLayers produces
    val viaStore = GraphAnn.assembleLayers(
        GraphAnn.blockEdgesLayers(assigned0, graphDegree = 6, maxLevel = 2))
      .as[(Int, Long, Long)].collect().toSet
    val direct = GraphAnn.buildLayers(assigned0, graphDegree = 6, maxLevel = 2)
      .as[(Int, Long, Long)].collect().toSet
    assert(viaStore == direct)
    // upper layers saw batch nodes only at their own levels: a layer the
    // batch has no nodes in passes through verbatim (vacuous here only if
    // every batch node reached level 2 -- make sure that's not the case)
    val bl = GraphAnn.assignLevels(assignedB, 2).groupBy("level").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(bl.getOrElse(0, 0L) > 0, s"no level-0-only batch nodes: $bl")
    assigned0.unpersist(false); assignedB.unpersist(false)
  }

  test("PQ: codes compress to m bytes, codebooks roundtrip parquet, rerank recovers neighbors") {
    import graft.similarity.Pq
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 5)
    val tmp = java.nio.file.Files.createTempDirectory("graft-pq").toString
    // near-random synthetic vectors are the WORST case for quantization:
    // m=16 (dsub=4) x 32 codes measured recall 0.84 here (vs 0.44 at the
    // m=8 x 16 defaults that suit clustered real-world embeddings)
    Pq.buildCodebooks(e, "vec_id", "embedding", m = 16, codesPerBook = 32)
      .write.mode("overwrite").parquet(s"$tmp/books")
    val books = spark.read.parquet(s"$tmp/books")
    assert(books.count() == 16 * 32)
    val codes = Pq.encode(e, "vec_id", "embedding", books)
    // the whole corpus rides as EXACTLY 16 bytes per vector (vs 256 float
    // bytes) — codes are a binary column, so the compression claim is real
    assert(codes.schema("codes").dataType == org.apache.spark.sql.types.BinaryType)
    assert(codes.select(length($"codes")).distinct().as[Int].collect().toSeq == Seq(16))
    assert(codes.count() == e.count())
    val exact = Knn.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Pq.pqTopK(codes, books, e, q, "vec_id", "embedding", k = 5, rerankFactor = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pq.size == exact.size)
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall=$recall")
    // NULL vectors: encode drops them; a NULL query probes nothing
    val withNull = e.select("vec_id", "embedding").unionByName(
      Seq((999999L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    assert(Pq.encode(withNull, "vec_id", "embedding", books).count() == e.count())
    val rNull = Pq.pqTopK(codes, books, e, withNull.filter($"vec_id" === 999999L),
      "vec_id", "embedding", k = 3)
    assert(rNull.count() == 0)
    // non-long id types work end-to-end (the ADC memo keys ids as strings;
    // a Long-typed UDF param would ANSI-fail on string ids)
    val es = e.select(concat(lit("v"), $"vec_id").as("vec_id"), $"embedding")
    val qs = es.filter($"vec_id".isin("v0", "v1"))
    val sCodes = Pq.encode(es, "vec_id", "embedding", books)
    val sRes = Pq.pqTopK(sCodes, books, es, qs, "vec_id", "embedding", k = 3)
    assert(sRes.count() == 6)
  }

  test("IVF-PQ composition: full probe + full shortlist equals flat search; pruned probe keeps recall") {
    import graft.similarity.Pq
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 5)
    val ivf = Knn.buildIvfIndex(e, "vec_id", "embedding", nlist = 8)
    val books = Pq.buildCodebooks(e, "vec_id", "embedding", m = 16, codesPerBook = 32)
    // the one-pass index frame: cell + codes, no join, built once
    val cellCodes = Pq.indexCodes(e, "vec_id", "embedding", books, ivf)
    assert(cellCodes.columns.toSeq == Seq("id", "cell", "codes"))
    val exact = Knn.bruteForceTopK(e, q, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // probe everything + shortlist everything -> quantization cannot matter
    val full = Pq.ivfPqTopK(cellCodes, ivf, books, e, q, "vec_id", "embedding",
        k = 5, nprobe = 8, rerankFactor = 1000)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(full == exact)
    // practical settings: prune to half the cells, modest shortlist
    val pruned = Pq.ivfPqTopK(cellCodes, ivf, books, e, q, "vec_id", "embedding",
        k = 5, nprobe = 4, rerankFactor = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect pruned).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall")
  }

  test("round-4 narrow operators plan shuffle-free: sliding chunks and epoch expansion") {
    import graft.operators.Sampling
    import graft.text.Chunking
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    // chunk expansion is scan -> generate -> project: zero exchanges
    val chunks = Chunking.slidingChunks(docs, "doc_id", "text", 32, 24)
    val cPlan = chunks.queryExecution.executedPlan.toString
    assert(!cPlan.contains("Exchange"),
      s"chunk expansion must not shuffle:\n${cPlan.take(1500)}")
    // epoch expansion: the corpus side is join(broadcast plan) + explode —
    // the only exchange in the whole plan is building the tiny plan frame
    // (grouped count), never the corpus
    val withToks = docs.withColumn("toks", size(split($"text", " ")).cast("long"))
    val w = Seq(("en", 1L), ("de", 1L), ("es", 1L), ("fr", 1L), ("zh", 1L))
      .toDF("lang", "weight")
    val plan = Sampling.epochPlan(withToks, Seq("lang"), "toks", w, 100000L)
    val expanded = Sampling.epochExpand(withToks, Seq("lang"), Seq("doc_id"), plan)
    expanded.write.format("noop").mode("overwrite").save()
    val ePlan = expanded.queryExecution.executedPlan.toString
    assert(ePlan.contains("BroadcastHashJoin") || ePlan.contains("BroadcastNestedLoopJoin"),
      s"plan frame must broadcast:\n${ePlan.take(1500)}")
    // count exchanges: only the plan-frame aggregation side may shuffle
    val exchanges = "(?<!Broadcast)Exchange".r.findAllIn(ePlan).size
    assert(exchanges <= 2, // plan frame's two-phase agg partitions
      s"corpus side of epochExpand must not shuffle ($exchanges exchanges):\n${ePlan.take(2000)}")
  }

  test("round-8 narrow operators plan shuffle-free: sentence chunks and checksum scan") {
    import graft.text.{Chunking, PiiScan}
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    // sentence-aligned chunking is segment -> fold -> posexplode: the
    // whole greedy fill stays in the parent row's partition
    val sc = Chunking.sentenceChunks(docs, "doc_id", "text", budgetTokens = 32)
    val sPlan = sc.queryExecution.executedPlan.toString
    assert(!sPlan.contains("Exchange"),
      s"sentenceChunks must not shuffle:\n${sPlan.take(1500)}")
    // checksum scan is extract -> strip -> checksum-filter in one
    // projection: no shuffle, no UDF (codegen'd higher-order functions)
    val cs = PiiScan.checksumScan(docs, "text")
    val cPlan = cs.queryExecution.executedPlan.toString
    assert(!cPlan.contains("Exchange"),
      s"checksumScan must not shuffle:\n${cPlan.take(1500)}")
    assert(!cPlan.contains("BatchEvalPython") && !cPlan.toLowerCase.contains("scalaudf"),
      s"checksumScan must stay UDF-free:\n${cPlan.take(1500)}")
  }

  test("round-5 plan shapes: packed emission one exchange, line scrub window-free, semantic pairs cell-hashed") {
    import graft.dedup.{LineDedup, SemanticDedup}
    import graft.text.{Packing, TextAnalysis}
    def nonBroadcastExchanges(plan: String): Int =
      "(?<!Broadcast)Exchange".r.findAllIn(plan).size
    // packed-sequence emission: the packing window's exchange is the ONLY
    // one; posexplode is downstream of it so token rows never shuffle
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val toks = TextAnalysis.bpeTokens(docs, "text")
      .withColumn("n_toks", size(col("toks")).cast("long"))
    val packed = Packing.chunkAssignments(toks, Seq("lang"), Seq("doc_id"), "n_toks", 512L)
      .select(col("lang"), col("bin"), posexplode(col("toks")))
    val pPlan = packed.queryExecution.executedPlan.toString
    assert(nonBroadcastExchanges(pPlan) == 1,
      s"packed emission must shuffle exactly once (the packing window):\n${pPlan.take(2000)}")
    assert(pPlan.contains("Generate"), "posexplode must stay in the plan")
    // line scrub: the skew contract is that first-occurrence is an
    // AGGREGATE (map-side combinable), never a per-line-hash Window
    val scrub = LineDedup.scrub(docs.withColumn("text",
      concat_ws("\n", lit("hdr"), col("text"))), "doc_id", "text")
    val sPlan = scrub.queryExecution.executedPlan.toString
    assert(!sPlan.contains("Window"),
      s"line scrub must not use a window (hot boilerplate key would funnel):\n${sPlan.take(2000)}")
    assert(sPlan.contains("partial_min") || sPlan.contains("min("),
      s"first-occurrence must be a min aggregate:\n${sPlan.take(2000)}")
    // semantic dedup pair generation: a hash join on cell, never a
    // cartesian product
    val assigned = Knn.assignCells(
      Tables.embeddings(spark, sf).limit(200), "vec_id", "embedding",
      Knn.buildIvfIndex(Tables.embeddings(spark, sf).limit(200), "vec_id", "embedding", nlist = 4))
    val pairs = SemanticDedup.duplicatePairs(assigned, tau = 0.99)
    val prPlan = pairs.queryExecution.executedPlan.toString
    assert(!prPlan.contains("CartesianProduct") && !prPlan.contains("BroadcastNestedLoop"),
      s"pair generation must hash-join on cell:\n${prPlan.take(2000)}")
  }
}
