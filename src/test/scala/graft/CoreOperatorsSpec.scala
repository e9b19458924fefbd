package graft

import graft.operators._
import graft.schema.SchemaOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Mirrors the reference's own test cases (tests/compare_dataframe_test.py,
  * tests/get_latest_records_test.py, tests/functions_test.py,
  * tests/schema_columns_test.py) on the graft implementations.
  */
class CoreOperatorsSpec extends SparkSpec {
  import java.sql.Timestamp

  private def ts(s: String) = Timestamp.valueOf(s)

  lazy val schema = StructType(Seq(
    StructField("id1", LongType), StructField("id2", LongType),
    StructField("name", StringType), StructField("first_login_dt", TimestampType),
    StructField("credits", DoubleType), StructField("likes", LongType),
    StructField("active", BooleanType)
  ))

  lazy val df1 = spark.createDataFrame(
    java.util.List.of(
      Row(1L, 1L, "Grzegorz", ts("2017-01-01 00:00:00"), 26.7, 123234234345L, true),
      Row(2L, 1L, "Tim", ts("2018-01-01 00:00:00"), 36.7, 54545L, true),
      Row(3L, 1L, "Mike", ts("2019-01-01 00:00:00"), 46.7, 5667888989L, false)
    ), schema)

  lazy val df2 = spark.createDataFrame(
    java.util.List.of(
      Row(1L, 1L, "Grzegorz", ts("2018-01-01 00:00:00"), 26.9, 123234234345L, true),
      Row(3L, 1L, "Mike", ts("2019-01-01 00:00:00"), 46.7, 5667888989L, false),
      Row(2L, 2L, "Timmy", ts("2018-01-01 00:00:00"), 36.7, 8754857845L, true)
    ), schema)

  test("compare_dataframes classifies added/removed/changed/not_changed like the reference example") {
    val c = CompareDataFrames(df1, df2, Seq("id1", "id2"))
    val counts = CompareDataFrames.counts(c)
    assert(counts == Map("added" -> 1L, "removed" -> 1L, "changed" -> 1L, "not_changed" -> 1L))
    assert(c.added.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 2L)))
    assert(c.removed.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 1L)))
    val changed = c.changedLong.collect().map(r => (r.getLong(0), r.getString(2), r.getString(3), r.getString(4)))
    assert(changed.toSet == Set(
      (1L, "first_login_dt", "2017-01-01 00:00:00", "2018-01-01 00:00:00"),
      (1L, "credits", "26.7", "26.9")
    ))
  }

  test("compare evaluates no lambda per joined row: the change map is built on changed rows only") {
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, HigherOrderFunction, Not}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val c = CompareDataFrames(df1, df2, Seq("id1", "id2"))
    def plan(df: org.apache.spark.sql.DataFrame): SparkPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    def evaluates(p: SparkPlan, f: org.apache.spark.sql.catalyst.expressions.Expression => Boolean) =
      p.expressions.exists(_.exists(f))
    val isLambda = (e: org.apache.spark.sql.catalyst.expressions.Expression) =>
      e.isInstanceOf[HigherOrderFunction]
    val isChangeTest = (e: org.apache.spark.sql.catalyst.expressions.Expression) => e match {
      case Not(_: EqualNullSafe) => true
      case _ => false
    }
    def lambdaOps(p: SparkPlan): Seq[SparkPlan] = {
      val ops = Seq.newBuilder[SparkPlan]
      p.foreach(op => if (evaluates(op, isLambda)) ops += op)
      ops.result()
    }
    for (df <- Seq(c.summary, c.changedLong, c.notChanged, c.added, c.removed))
      assert(lambdaOps(plan(df)).isEmpty, plan(df).toString)
    // the map's lambda sits above the operator that keeps changed rows
    val ops = lambdaOps(plan(c.changed))
    assert(ops.nonEmpty, plan(c.changed).toString)
    ops.foreach { op =>
      assert(op.children.exists(_.exists(evaluates(_, isChangeTest))), plan(c.changed).toString)
    }
    assert(c.notChanged.schema == c.changed.schema)
    assert(c.notChanged.collect().map(_.getMap[String, Any](2)).toSeq == Seq(Map.empty))
    assert(c.changed.collect().map(_.getMap[String, Any](2).keySet).toSeq ==
      Seq(Set("first_login_dt", "credits")))
  }

  test("compare render returns the reference-style console report as a string") {
    val c = CompareDataFrames(df1, df2, Seq("id1", "id2"))
    val out = CompareDataFrames.render(c)
    assert(out.contains("Added records count: 1"))
    assert(out.contains("Removed records count: 1"))
    assert(out.contains("Changed records count: 1"))
    assert(out.contains("Not changed records count: 1"))
    assert(out.contains("Timmy")) // added record body shown
    assert(out.contains("id1")) // header row
    // not_changed body hidden by default (reference default) but count shown
    assert(!CompareDataFrames.render(c, showAdded = false).contains("Timmy"))
    // NULLs render as NULL, not a blank or a crash
    val c2 = CompareDataFrames(df1, df2.withColumn("name", lit(null).cast("string")),
      Seq("id1", "id2"))
    assert(CompareDataFrames.render(c2).contains("NULL"))
    // zero-arg show() sugar prints exactly render() to the console
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      CompareDataFrames.show(c)
    }
    assert(buf.toString("UTF-8").trim == CompareDataFrames.render(c).trim)
  }

  test("compare_schemas matches the reference README example semantics") {
    val s1 = SchemaOps.fromDdl("id1 bigint, name string, likes bigint, first_login_dt date")
    val s2 = SchemaOps.fromDdl("id1 bigint, name string, likes int, new_data date")
    val d = SchemaOps.compareSchemas(s1, s2)
    assert(d.added == Set("first_login_dt"))
    assert(d.removed == Set("new_data"))
    assert(d.changed == Map("likes" -> ("bigint", "int")))
    assert(d.notChanged == Set("id1", "name"))
  }

  test("surrogate key hash matches the reference README's published sha value") {
    import graft.functions._
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(1L, 1L, "GrzeGorz", 1L), Row(1L, 1L, "Grzegorz", 1L),
        Row(1L, 1L, "Grzegorz      ", 1L), Row(1L, null, "Grzegorz", 1L),
        Row(2L, 1L, "Tim", 1L)
      ),
      StructType(Seq(StructField("id1", LongType), StructField("id2", LongType),
        StructField("name", StringType), StructField("likes", LongType))))
    val out = df.select(
      upper(hex(surrogateKeyHash(Seq("id1", "id2", "name"), rtrim = true))).as("h"),
      surrogateKeyString(Seq("id1", "id2", "name"), rtrim = true).as("s")
    ).collect()
    // reference README shows [6F 21 99 99 4C F2 93 56 2E 7C C3 29 F9 6A 42 2F 6D 62 EC 4B]
    // for key [1, 1, GRZEGORZ] (bdq README, surrogate key example)
    val expected = "6F2199994CF293562E7CC329F96A422F6D62EC4B"
    assert(out.take(3).forall(_.getString(0) == expected))
    assert(out.take(3).forall(_.getString(1) == "[1, 1, GRZEGORZ]"))
    assert(out(3).getString(1) == "[1, @~<null>~@, GRZEGORZ]")
    assert(out(3).getString(0) != expected)
  }

  test("get_latest_records picks max order-by row per PK") {
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(1L, 1L, "a"), Row(1L, 2L, "b"), Row(1L, 3L, "c"),
        Row(2L, 5L, "x"), Row(2L, 4L, "y")
      ),
      StructType(Seq(StructField("pk", LongType), StructField("v", LongType), StructField("payload", StringType))))
    val latest = LatestRecords.latest(df, Seq("pk"), Seq("v")).collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(latest == Set((1L, "c"), (2L, "x")))
  }

  test("latestWithConflictFlag flags ties on the order-by position") {
    val df = spark.createDataFrame(
      java.util.List.of(
        Row(1L, 3L, "a"), Row(1L, 3L, "b"), Row(1L, 2L, "c"), // conflict: two distinct payloads at v=3
        Row(2L, 5L, "x"), Row(2L, 5L, "x"), // duplicate identical rows: not a conflict
        Row(3L, 1L, "z")
      ),
      StructType(Seq(StructField("pk", LongType), StructField("v", LongType), StructField("payload", StringType))))
    val out = LatestRecords.latestWithConflictFlag(df, Seq("pk"), Seq("v"))
      .collect().map(r => (r.getLong(0), r.getString(2), r.getBoolean(3)))
    assert(out.count(_._1 == 1L) == 2)
    assert(out.filter(_._1 == 1L).forall(_._3))
    assert(out.filter(_._1 == 2L) sameElements Array((2L, "x", false)))
    assert(out.filter(_._1 == 3L) sameElements Array((3L, "z", false)))
  }

  test("validate PK candidate + combination pruning") {
    val li = Tables.lineitem(spark, sf)
    val v = PrimaryKey.validateCandidate(li, Seq("l_orderkey"))
    assert(!v.isValid && v.recordCount == 6000L)
    val ok = PrimaryKey.validateCandidate(li.select("l_orderkey", "l_partkey", "l_suppkey").distinct(),
      Seq("l_orderkey", "l_partkey", "l_suppkey"))
    assert(ok.isValid)
  }

  test("combinationStats fuses all candidates into one grouping-sets pass") {
    import spark.implicits._
    val d = Seq(
      (1L, Option(1L), "a"), (1L, Option(1L), "b"),   // dup on (k1) and (k1,k2)
      (2L, None, "a"), (2L, None, "a"),                // null key dup on (k1,k2) and triple
      (3L, Option(9L), "c")
    ).toDF("k1", "k2", "k3")
    val stats = PrimaryKey.combinationStats(d,
      Seq(Seq("k1"), Seq("k1", "k2"), Seq("k1", "k2", "k3")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats("k1") == (2L, 4L))           // keys 1 and 2 both duplicated
    assert(stats("k1,k2") == (2L, 4L))        // null k2 groups like a value (groupBy semantics)
    assert(stats("k1,k2,k3") == (1L, 2L))     // only the identical (2,null,"a") rows collide
    // single physical scan: exactly one Exchange below the grouping-sets agg
    val plan = PrimaryKey.combinationStats(d, Seq(Seq("k1"), Seq("k1", "k2")))
      .queryExecution.executedPlan.toString
    assert(plan.split("Expand").length == 2, s"expected one Expand (grouping sets) in:\n$plan")
  }

  test("validateCombinations matches a brute-force driver oracle") {
    import spark.implicits._
    val cols = Seq("a", "b", "c", "d")
    val combos = SchemaOps.columnCombinations(cols).toSeq
    // a superset listed before its subset, and one set listed twice in two orders
    val candidates = Seq(Seq("a", "b", "c"), Seq("c", "b")) ++ combos
    def check(d: org.apache.spark.sql.DataFrame, what: String): Unit = {
      // ascending size, then input order (stable sort of the oracle's input order)
      val want = PkOracle.minimalKeys(d, candidates).sortBy(_.size)
      for (budget <- Seq(1, 2, 8))
        assert(PrimaryKey.levelSearch(d, candidates, budget) == want, s"$what, budget $budget")
      assert(PrimaryKey.validateCombinations(d, candidates, maxWorkers = 4) == want, what)
    }
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      def opt[T](v: => T): Option[T] = if (rnd.nextInt(5) == 0) None else Some(v)
      val rows = Seq.fill(6 + rnd.nextInt(6))(
        (opt(rnd.nextInt(8).toLong), opt(rnd.nextInt(3).toLong), opt(rnd.nextInt(2)), opt("xyz".substring(rnd.nextInt(3)))))
      // even seeds repeat a row: a duplicate row makes every combination non-unique
      val d = (if (seed % 2 == 0) rows :+ rows.head else rows).toDF(cols: _*)
      check(d, s"seed $seed")
    }
    // NULL keys group together: `a` alone is not a key, (a, b) is
    check(Seq[(Option[Long], Option[Long], Int, String)](
      (None, Some(1L), 1, "x"), (None, Some(2L), 1, "x"), (Some(1L), Some(1L), 1, "x")
    ).toDF(cols: _*), "null keys")
    // an empty table has no duplicates: every single column is a minimal key
    check(Seq.empty[(Long, Long, Int, String)].toDF(cols: _*), "empty")
    // minimality: (k1,k2) is a key, so no superset of it may be reported
    val d = Seq(
      (1L, 1L, "a"), (1L, 2L, "a"), (2L, 1L, "b"), (2L, 2L, "c")
    ).toDF("k1", "k2", "k3")
    val keys = PrimaryKey.validateCombinations(d,
      SchemaOps.columnCombinations(Seq("k1", "k2", "k3")).toSeq, maxWorkers = 4)
    assert(keys.contains(Seq("k1", "k2")))
    assert(!keys.exists(c => c.toSet.size > 2 && Set("k1", "k2").subsetOf(c.toSet)))
  }

  test("PK discovery and candidate validation: bounded jobs, no cached RDD left behind") {
    val orders = Tables.orders(spark, sf)
    val li = Tables.lineitem(spark, sf)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // six candidates over three levels fit one grouping-sets batch
    val combos = Seq(Seq("o_orderkey"), Seq("o_custkey"), Seq("o_orderstatus"),
      Seq("o_custkey", "o_orderdate"), Seq("o_custkey", "o_orderstatus"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus"))
    val (keys, searchJobs) = JobCount(spark) {
      PrimaryKey.validateCombinations(orders, combos, maxWorkers = 4)
    }
    info(s"validateCombinations: $searchJobs Spark jobs")
    assert(keys == Seq(Seq("o_orderkey")))
    assert(searchJobs <= 4, s"$searchJobs jobs")
    val (v, candidateJobs) = JobCount(spark)(PrimaryKey.validateCandidate(li, Seq("l_orderkey")))
    info(s"validateCandidate: $candidateJobs Spark jobs")
    assert(v.recordCount == 6000L && !v.isValid)
    assert(candidateJobs <= 3, s"$candidateJobs jobs")
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("debounce: chain-first semantics, per-key independence, same-second id tie-break") {
    import graft.operators.TimeSeries
    import spark.implicits._
    val d = Seq(
      // user 1: chain 0-5-12 (gaps 5, 7 — both < 10) keeps only ts=0;
      // ts=30 (gap 18) starts a new chain. NOTE ts=12 is 12s after the
      // KEPT event but only 7s after the chain's last — the documented
      // gap-based (session-first) semantics, not cooldown-from-last-kept
      (1L, 10L, 0L, "a"), (1L, 11L, 5L, "a"), (1L, 12L, 12L, "a"), (1L, 13L, 30L, "a"),
      // other key: independent chain
      (2L, 20L, 1L, "a"),
      // same second: event_id order decides the chain head
      (3L, 32L, 50L, "a"), (3L, 31L, 50L, "a"))
      .toDF("user_id", "event_id", "sec", "event_type")
      .select($"user_id", $"event_id", timestamp_seconds($"sec").as("ts"), $"event_type")
    val kept = TimeSeries.debounce(d, Seq("user_id", "event_type"), "ts", "event_id", 10L)
      .select("event_id").as[Long].collect().toSet
    assert(kept == Set(10L, 13L, 20L, 31L))
    // NULL-ts rows are dropped, never phantom chain heads
    val withNulls = Seq((9L, 90L, Some(5L), "a"), (9L, 91L, None, "a"), (9L, 92L, None, "a"))
      .toDF("user_id", "event_id", "sec", "event_type")
      .select($"user_id", $"event_id",
        timestamp_seconds($"sec").as("ts"), $"event_type")
    val keptN = TimeSeries.debounce(withNulls, Seq("user_id", "event_type"),
        "ts", "event_id", 10L)
      .select("event_id").as[Long].collect().toSet
    assert(keptN == Set(90L))
  }

  test("anomaly slots: spike flagged against trailing window, steady series clean") {
    import graft.operators.TimeSeries
    import spark.implicits._
    // 30 hourly slots: 2 events/hour steady, then a 40-event spike at hour 28
    val ts = (0 until 30).flatMap { h =>
      val cnt = if (h == 28) 40 else 2
      val day = 1 + h / 24
      val hh = h % 24
      Seq.fill(cnt)(("a", java.sql.Timestamp.valueOf(f"2024-03-0$day $hh%02d:30:00")))
    }.toDF("k", "ts")
    val out = TimeSeries.anomalies(ts, Seq("k"), "ts", window = 24, k = 3)
      .collect()
    assert(out.length == 1, s"expected exactly the spike, got ${out.length}")
    assert(out.head.getLong(2) == 40L) // n of the flagged slot
    // steady series (no spike) flags nothing
    val steady = (0 until 30).flatMap { h =>
      val day = 1 + h / 24
      Seq.fill(2)(("a", java.sql.Timestamp.valueOf(f"2024-03-0$day ${h % 24}%02d:30:00")))
    }.toDF("k", "ts")
    assert(TimeSeries.anomalies(steady, Seq("k"), "ts", window = 24, k = 3).count() == 0)
  }

  test("resample handles sub-hour and multi-unit steps with dense aligned slots") {
    import graft.operators.TimeSeries
    import spark.implicits._
    val ts = Seq(
      (1L, "2024-01-01 00:03:00"), (1L, "2024-01-01 00:17:00"),
      (1L, "2024-01-01 01:02:00") // 45-min gap -> two empty 15-min slots
    ).toDF("k", "s").select($"k", to_timestamp($"s").as("ts"))
    val r15 = TimeSeries.resampleCounts(ts, Seq("k"), "ts", "15 minutes")
      .orderBy("slot").collect()
      .map(r => r.getTimestamp(1).toString.substring(11, 16) -> r.getLong(2))
    assert(r15.toSeq == Seq(
      "00:00" -> 1L, "00:15" -> 1L, "00:30" -> 0L, "00:45" -> 0L, "01:00" -> 1L))
    val r2h = TimeSeries.resampleCounts(ts, Seq("k"), "ts", "2 hours")
      .collect().map(r => r.getLong(2))
    assert(r2h.toSeq == Seq(3L)) // all three events share one 2h slot
  }

  test("reconcile digests: identical tables agree under any partitioning; edits localize") {
    import graft.operators.Reconcile
    val cols = Seq("o_orderkey", "o_custkey", "o_orderpriority")
    val a = Tables.orders(spark, sf).select(cols.map(col): _*)
    val bucket = (col("o_orderkey") / 100).cast("long")
    val dA = Reconcile.digests(a, bucket, cols.map(col))
    // partitioning-independent: a repartitioned copy digests identically
    val dA2 = Reconcile.digests(a.repartition(7), bucket, cols.map(col))
    assert(Reconcile.mismatchedBuckets(dA, dA2).count() == 0)
    // a single-row edit surfaces exactly its bucket
    val edited = a.withColumn("o_custkey",
      when(col("o_orderkey") === 42L, lit(999999L)).otherwise(col("o_custkey")))
    val bad = Reconcile.mismatchedBuckets(
      dA, Reconcile.digests(edited, bucket, cols.map(col))).collect()
    assert(bad.map(_.getLong(0)).toSeq == Seq(0L)) // orderkey 42 -> bucket 0
    // drill-down: repair over the mismatched buckets classifies the edit
    // exactly, and a removed row surfaces as 'removed'
    val dropped = edited.filter(col("o_orderkey") =!= 9L)
    val mism = Reconcile.mismatchedBuckets(dA, Reconcile.digests(dropped, bucket, cols.map(col)))
    val rep = Reconcile.repair(a, bucket, dropped, bucket, Seq("o_orderkey"), mism)
    val chg = rep.changedLong.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(chg == Set((42L, "o_custkey")))
    assert(rep.removed.select("o_orderkey").collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(rep.added.count() == 0)
    // only the mismatched buckets' rows entered the exact compare
    assert(rep.notChanged.count() < a.count())
  }

  test("CDC applyChanges: insert, delete, multi-op compaction") {
    import spark.implicits._
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "bal")
    val changes = Seq(
      (1L, 1L, "U", "a1", 11.0),  // superseded by seq=3
      (1L, 3L, "U", "a2", 12.0),
      (2L, 2L, "D", "b", 0.0),    // delete
      (4L, 4L, "I", "d", 40.0)    // insert of an unseen key
    ).toDF("id", "seq", "op", "name", "bal")
    val out = graft.operators.Cdc.applyChanges(snap, changes, Seq("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a2", 12.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("approx quantiles track exact quantiles on real data") {
    import graft.operators.Quantiles
    val ev = Tables.events(spark, sf).select("event_type", "event_id", "value")
    val exact = Quantiles.exactQuantiles(ev, Seq("event_type"), "value", "event_id")
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val approx = Quantiles.approxQuantiles(ev, Seq("event_type"), "value")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](2)).toMap
    exact.foreach { case (k, (p50, p90)) =>
      assert(math.abs(approx(k)(0) - p50) <= math.abs(p50) * 0.05 + 1.0, s"$k p50")
      assert(math.abs(approx(k)(1) - p90) <= math.abs(p90) * 0.05 + 1.0, s"$k p90")
    }
  }

  test("columnCombinations mirrors the reference generator") {
    val combos = SchemaOps.columnCombinations(Seq("a", "b"), fixedColumns = Seq("f")).toSeq
    assert(combos == Seq(Seq("f"), Seq("f", "a"), Seq("f", "b"), Seq("f", "a", "b")))
    val capped = SchemaOps.columnCombinations(Seq("a", "b", "c"), maxLen = Some(2)).toSeq
    assert(capped == Seq(Seq("a"), Seq("b"), Seq("c"), Seq("a", "b"), Seq("a", "c"), Seq("b", "c")))
  }

  test("fact-dim broken relationship finds orphan FKs and samples records") {
    val fact = Tables.lineitem(spark, sf)
    val dim = Tables.supplier(spark, sf).filter(col("s_suppkey") % 3 =!= 0)
    val broken = FactDim.brokenKeys(fact, Seq("l_suppkey"), dim, Seq("s_suppkey"))
      .collect().map(_.getLong(0)).toSet
    assert(broken.nonEmpty && broken.forall(_ % 3 == 0))
    val sampled = FactDim.brokenRelationship(fact, Seq("l_suppkey"), dim, Seq("s_suppkey"), sampleSize = 2)
    val rows = sampled.collect()
    assert(rows.map(_.getLong(0)).toSet == broken)
    assert(rows.forall(_.getSeq[Row](1).size <= 2))
  }

  test("cusum: window form equals the recursive chart, planted shift breaches at the right row") {
    import spark.implicits._
    import graft.operators.TimeSeries
    // 20 on-target slots then a sustained +3 shift: with target 10 and
    // threshold 12, the high side must alarm on the 5th shifted row
    val vals = Seq.fill(20)(10L) ++ Seq.fill(10)(13L)
    val d = vals.zipWithIndex.map { case (v, i) => ("k", i.toLong, v) }
      .toDF("g", "t", "v")
    val got = TimeSeries.cusum(d, Seq("g"), Seq("t"), "v", target = 10L, threshold = 12L)
      .orderBy("t").collect()
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
    // reference: the classical recursive chart (no reset)
    var (sHi, sLo) = (0L, 0L)
    val want = vals.zipWithIndex.map { case (v, i) =>
      sHi = math.max(0L, sHi + (v - 10L)); sLo = math.max(0L, sLo + (10L - v))
      (i.toLong, sHi, sLo, sHi > 12L, sLo > 12L)
    }
    assert(got.toSeq == want)
    val firstAlarm = got.find(_._4).map(_._1)
    assert(firstAlarm.contains(24L), s"alarm at $firstAlarm")
    // a low-side shift alarms the other chart only
    val dLow = (Seq.fill(20)(10L) ++ Seq.fill(10)(6L)).zipWithIndex
      .map { case (v, i) => ("k", i.toLong, v) }.toDF("g", "t", "v")
    val low = TimeSeries.cusum(dLow, Seq("g"), Seq("t"), "v", 10L, 12L)
      .orderBy("t").collect()
    assert(low.exists(_.getBoolean(6)) && !low.exists(_.getBoolean(5)))
    // a shift starting at the VERY FIRST row must breach: the chart's
    // implicit S_0 = 0 (empty-prefix P_0) is part of the extremum set —
    // min over existing rows alone would zero S and silence it forever
    val head = Seq(30L, 10L, 10L).zipWithIndex
      .map { case (v, i) => ("k", i.toLong, v) }.toDF("g", "t", "v")
    val hc = TimeSeries.cusum(head, Seq("g"), Seq("t"), "v", 10L, 12L)
      .orderBy("t").collect()
    assert(hc(0).getLong(3) == 20L && hc(0).getBoolean(5),
      s"row-1 shift must alarm: ${hc(0)}")
  }
}
