package graft

import graft.pipeline.SparkPipeline
import graft.streaming.{StoreMaintenance, StreamingOps}
import graft.streaming.StreamingOps.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("hourly rollup on a bounded event stream matches the batch twin") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val stream = StreamingOps.readEventStream(spark, sf)
    assert(stream.isStreaming)
    val q = StreamingOps.hourlyRollup(stream).writeStream
      .format("memory").queryName("hourly_out").outputMode("complete")
      .option("checkpointLocation", s"$tmp/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("hourly_out")
      .select(date_format($"hr", "yyyy-MM-dd HH:mm:ss").as("hr"), $"event_type", $"n_events", $"sum_value")
    val batch = StreamingOps.hourlyRollup(Tables.events(spark, sf))
      .select(date_format($"hr", "yyyy-MM-dd HH:mm:ss").as("hr"), $"event_type", $"n_events", $"sum_value")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("hopping rollup on a bounded event stream matches the batch twin") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-hopstream").toString
    val stream = StreamingOps.readEventStream(spark, sf)
    val q = StreamingOps.hoppingRollup(stream).writeStream
      .format("memory").queryName("hopping_out").outputMode("complete")
      .option("checkpointLocation", s"$tmp/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("hopping_out")
      .select(date_format($"w_start", "yyyy-MM-dd HH:mm:ss").as("w"), $"event_type", $"n_events", $"sum_value")
    val batch = StreamingOps.hoppingRollup(Tables.events(spark, sf))
      .select(date_format($"w_start", "yyyy-MM-dd HH:mm:ss").as("w"), $"event_type", $"n_events", $"sum_value")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // every event appears in exactly windowLen/slide = 4 windows
    val total = batch.agg(org.apache.spark.sql.functions.sum($"n_events")).head().getLong(0)
    assert(total == 4L * Tables.events(spark, sf).count())
  }

  test("session_window rollup matches the batch lag+cumsum sessionizer") {
    // q06 sessionizes on second-truncated time with a strict >1800s gap;
    // session_window's end-exclusive interval makes "gap 1801s over
    // truncated ts" the exact same predicate (new session iff diff >= 1801)
    val truncated = Tables.events(spark, sf)
      .select($"user_id", to_timestamp($"ts".cast("long")).as("ts"))
    val native = StreamingOps.sessionWindowRollup(truncated, gap = "1801 seconds")
      .select($"user_id",
        $"session_start".cast("long").as("start_sec"),
        $"n_events")
    val batch = graft.queries.CoreQueries.q06Sessionize(spark, sf)
      .select($"user_id", $"start_sec", $"n_events")
    assert(native.exceptAll(batch).isEmpty && batch.exceptAll(native).isEmpty,
      "session_window sessions must equal lag+cumsum sessions")
  }

  test("streaming dedup within watermark drops duplicate keys across batches") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dedup-stream").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val src = mem.toDF().toDF("k", "ts")
    val q = StreamingOps.dedupStream(src, Seq("k"), "ts", "10 minutes").writeStream
      .format("memory").queryName("dedup_out").outputMode("append")
      .option("checkpointLocation", s"$tmp/cp")
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((1L, t("2024-01-01 00:00:00")), (1L, t("2024-01-01 00:00:01")), (2L, t("2024-01-01 00:00:02")))
    q.processAllAvailable()
    mem.addData((1L, t("2024-01-01 00:00:03")), (3L, t("2024-01-01 00:00:04")))
    q.processAllAvailable()
    q.stop()
    val keys = spark.table("dedup_out").select("k").as[Long].collect().sorted.toSeq
    assert(keys == Seq(1L, 2L, 3L), s"got $keys")
    // batch fallback: plain dropDuplicates
    val batch = StreamingOps.dedupStream(
      Seq((1L, t("2024-01-01 00:00:00")), (1L, t("2024-01-01 00:00:09"))).toDF("k", "ts"), Seq("k"))
    assert(!batch.isStreaming && batch.count() == 1)
  }

  test("stateful sessionization closes sessions on gap and on timeout") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sess").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // user 1: two sessions separated by > 1800s; user 2: one session
    mem.addData(
      Event(1L, 1L, 1000L), Event(1L, 2L, 1100L),
      Event(1L, 3L, 5000L),
      Event(2L, 4L, 1000L)
    )
    val q = StreamingOps.sessionize(mem.toDS(), gapSeconds = 1800, timeout = "2 seconds")
      .writeStream.format("memory").queryName("sess_out").outputMode("append")
      .option("checkpointLocation", s"$tmp/cp")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try {
      // first batch: session (1000..1100) closes when 5000 arrives
      var deadline = System.currentTimeMillis() + 60000
      while (spark.table("sess_out").count() < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      // timeout then flushes both open sessions
      deadline = System.currentTimeMillis() + 60000
      while (spark.table("sess_out").count() < 3 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      val sessions = spark.table("sess_out").as[Session].collect().toSet
      assert(sessions == Set(
        Session(1L, 1L, 2L, 1000L, 1100L),
        Session(1L, 2L, 1L, 5000L, 5000L),
        Session(2L, 1L, 1L, 1000L, 1000L)
      ))
    } finally q.stop()
  }

  test("streaming as-of join enriches lefts with the latest right at-or-before") {
    import graft.streaming.StreamingOps.{AsOfLeft, AsOfOut, AsOfRight}
    val tmp = java.nio.file.Files.createTempDirectory("graft-asof-stream").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lMem = MemoryStream[AsOfLeft]
    val rMem = MemoryStream[AsOfRight]
    val q = StreamingOps.asOfJoinStream(lMem.toDS(), rMem.toDS(), "10 seconds").writeStream
      .format("memory").queryName("asof_out").outputMode("append")
      .option("checkpointLocation", s"$tmp/cp")
      .start()
    try {
      // one batch, arrival order scrambled within it (watermark only moves
      // AFTER a batch, so intra-batch disorder is the legal kind; rows
      // older than the moving watermark across batches are late data and
      // dropped by the engine — that contract is the point of the design)
      rMem.addData(AsOfRight(1L, 100L, 1.0), AsOfRight(1L, 200L, 2.0))
      lMem.addData(AsOfLeft(1L, 50L, 10L), AsOfLeft(1L, 150L, 11L), AsOfLeft(1L, 250L, 12L))
      lMem.addData(AsOfLeft(2L, 150L, 20L))
      q.processAllAvailable()
      // sentinels push the watermark past every left (400-10s = 390 ≥ 250);
      // each extra cycle lets event-time timeouts fire on the new watermark
      rMem.addData(AsOfRight(99L, 400L, 0.0))
      q.processAllAvailable()
      rMem.addData(AsOfRight(99L, 401L, 0.0))
      q.processAllAvailable()
      rMem.addData(AsOfRight(99L, 402L, 0.0))
      q.processAllAvailable()
      val got = spark.table("asof_out").as[AsOfOut].collect().toSet
      assert(got == Set(
        AsOfOut(1L, 50L, 10L, None, None),
        AsOfOut(1L, 150L, 11L, Some(100L), Some(1.0)),
        AsOfOut(1L, 250L, 12L, Some(200L), Some(2.0)),
        AsOfOut(2L, 150L, 20L, None, None)
      ), s"got $got")
    } finally q.stop()
  }

  test("as-of state for a quiescent key compacts to one floor row") {
    import graft.streaming.StreamingOps.{AsOfLeft, AsOfRight}
    val tmp = java.nio.file.Files.createTempDirectory("graft-asof-state").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lMem = MemoryStream[AsOfLeft]
    val rMem = MemoryStream[AsOfRight]
    val q = StreamingOps.asOfJoinStream(lMem.toDS(), rMem.toDS(), "10 seconds").writeStream
      .format("memory").queryName("asof_state_out").outputMode("append")
      .option("checkpointLocation", s"$tmp/cp")
      .start()
    try {
      // key 1: a burst of rights, then silence — the regression scenario
      // where right-side state used to be retained forever (no timeout was
      // registered without pending lefts)
      rMem.addData((100L to 140L by 10).map(t => AsOfRight(1L, t, t.toDouble)): _*)
      q.processAllAvailable()
      // sentinel rights on another key push the watermark far past key 1's
      // rights; each cycle lets the compaction timeout fire on the new
      // watermark until key 1 holds only its floor row
      for (t <- Seq(400L, 401L, 402L, 403L)) {
        rMem.addData(AsOfRight(99L, t, 0.0))
        q.processAllAvailable()
      }
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      // fix: key 1 compacted to 1 floor row; key 99 retains its (still
      // above-watermark) sentinels. Without the compaction timeout key 1
      // kept all 5 rights and this total exceeded 8.
      assert(stateRows <= 5, s"state not compacted: $stateRows rows")
      // the floor row still serves future lefts correctly
      lMem.addData(AsOfLeft(1L, 500L, 1L))
      rMem.addData(AsOfRight(99L, 600L, 0.0)) // advance watermark past the left
      q.processAllAvailable()
      rMem.addData(AsOfRight(99L, 601L, 0.0))
      q.processAllAvailable()
      import spark.implicits._
      val out = spark.table("asof_state_out")
        .as[graft.streaming.StreamingOps.AsOfOut].collect().toSet
      assert(out.contains(graft.streaming.StreamingOps.AsOfOut(1L, 500L, 1L, Some(140L), Some(140.0))),
        s"floor row lost in compaction: $out")
    } finally q.stop()
  }

  test("chained stateful streaming: sessionize then count sessions per hour") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-chain").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val src = mem.toDF().toDF("user_id", "ts")
    val q = StreamingOps.sessionsPerHour(src, gap = "10 minutes", watermark = "5 minutes")
      .writeStream
      .format("memory").queryName("chain_out").outputMode("append")
      .option("checkpointLocation", s"$tmp/cp")
      .start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // user 1: two sessions inside hour 10 (gap > 10 min between them)
      mem.addData(
        (1L, t("2024-01-01 10:00:00")), (1L, t("2024-01-01 10:05:00")),
        (1L, t("2024-01-01 10:30:00")),
        (2L, t("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // sentinels must CLOSE sessions past hour 11: the stage-2 watermark
      // is re-anchored on session_end, so it only advances as sessions
      // close — space sentinels wider than the gap so each cycle closes
      // the previous one, marching the chain's watermark forward
      var i = 0
      while (spark.table("chain_out").isEmpty && i < 10) {
        mem.addData((99L, t(f"2024-01-01 ${12 + i / 3}%02d:${(i % 3) * 20}%02d:00")))
        q.processAllAvailable()
        i += 1
      }
      val got = spark.table("chain_out")
        .select(date_format($"hr", "yyyy-MM-dd HH:mm:ss").as("hr"), $"user_id", $"n_sessions")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got.contains(("2024-01-01 10:00:00", 1L, 2L)), s"got $got") // user 1: two sessions
      assert(got.contains(("2024-01-01 10:00:00", 2L, 1L)), s"got $got")
    } finally q.stop()
  }

  test("rate-limited file source splits a backlog into bounded micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ratelim").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-ratelim-cp").toString
    // 6-file backlog
    val data = spark.range(600).select($"id", ($"id" % 7).as("v"))
    data.repartition(6).write.mode("overwrite").parquet(s"$dir/in")
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = StreamingOps.readFileStream(spark, s"$dir/in", data.schema, maxFilesPerTrigger = Some(2))
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) => batches.add(df.count()); () }
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    import scala.jdk.CollectionConverters._
    val counts = batches.asScala.toSeq
    assert(counts.sum == 600, s"got $counts")
    assert(counts.size >= 3, s"expected >= 3 bounded batches, got $counts") // 6 files / 2 per trigger
  }

  test("streaming DQ gate splits batches into clean and quarantined rows") {
    import graft.quality.RuleEngine.Rule
    val tmp = java.nio.file.Files.createTempDirectory("graft-dqgate").toString
    val rules = Seq(
      Rule("value_nonneg", "value >= 0"),
      Rule("known_type", "event_type IN ('click', 'view', 'purchase', 'signup', 'error')"))
    val q = StreamingOps.dqGateStream(
      StreamingOps.readEventStream(spark, sf), rules,
      s"$tmp/clean", s"$tmp/quarantine", s"$tmp/cp")
    q.awaitTermination(120000)
    val ev = Tables.events(spark, sf)
    val expectBad = ev.filter("NOT (value >= 0) OR value IS NULL OR " +
      "NOT (event_type IN ('click', 'view', 'purchase', 'signup', 'error')) OR event_type IS NULL")
      .count()
    val clean = spark.read.parquet(s"$tmp/clean")
    val quarantined = spark.read.parquet(s"$tmp/quarantine")
    assert(clean.count() + quarantined.count() == ev.count())
    assert(quarantined.count() == expectBad)
    assert(quarantined.columns.contains("failed_rules"))
    // each quarantined row names at least one broken rule from the set
    assert(quarantined.filter(col("failed_rules") === "").count() == 0)
  }

  test("streaming drift gate reports undrifted for same-source batches, fires on shift") {
    import graft.quality.Profiler
    val tmp = java.nio.file.Files.createTempDirectory("graft-driftgate").toString
    val ev = Tables.events(spark, sf)
    val baseline = Profiler.histogram(ev, "value", 0.0, 100.0, 10)
      .select(col("bucket"), col("cnt")).persist()
    try {
      // stream of the SAME corpus → no drift expected
      val q = StreamingOps.driftGateStream(
        StreamingOps.readEventStream(spark, sf), baseline,
        "value", 0.0, 100.0, 10, psiThreshold = 0.1, s"$tmp/report", s"$tmp/cp")
      q.awaitTermination(120000)
      val report = spark.read.parquet(s"$tmp/report")
      assert(report.count() >= 1)
      assert(report.filter(col("drifted")).count() == 0,
        "same-source batch flagged as drifted")
      // a shifted batch against the same baseline must fire (batch form)
      val shifted = ev.select((col("value") + 60.0).as("value"))
      val rep = Profiler.driftFromHistograms(baseline,
        Profiler.histogram(shifted, "value", 0.0, 100.0, 10).select(col("bucket"), col("cnt")), 10)
      val psi = rep.agg(sum("psi_term")).head().getDouble(0)
      assert(psi > 0.1, s"shifted psi=$psi")
    } finally { baseline.unpersist(blocking = false); () }
  }

  test("streaming span dedup accumulates the store across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.dedup.SpanDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-spanstream").toString
    val mem = MemoryStream[(Long, String)]
    // batch 1: two docs sharing a span; batch 2: one doc repeating a
    // batch-1 span (must be flagged against the STORE) + one fresh doc
    mem.addData((1L, "aa bb cc xx yy zz"), (2L, "aa bb cc pp qq rr"))
    val docs = mem.toDF().toDF("doc_id", "text")
    val q1 = StreamingOps.spanDedupStream(docs, "doc_id", "text", spanWords = 3,
      s"$tmp/store", s"$tmp/stats", s"$tmp/cp")
    q1.awaitTermination(120000)
    mem.addData((3L, "aa bb cc uu vv ww"), (4L, "mm nn oo gg hh ii"))
    val q2 = StreamingOps.spanDedupStream(docs, "doc_id", "text", spanWords = 3,
      s"$tmp/store", s"$tmp/stats", s"$tmp/cp")
    q2.awaitTermination(120000)
    val stats = spark.read.parquet(s"$tmp/stats")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dup_spans")).toMap
    assert(stats(1L) == 1L && stats(2L) == 1L) // batch-internal shared span
    assert(stats(3L) == 1L, "doc 3's repeat of a batch-1 span must hit the store")
    assert(stats(4L) == 0L)
    // the final (bucketed, per-bucket-versioned) store equals a
    // from-scratch build over all docs
    val all = Seq((1L, "aa bb cc xx yy zz"), (2L, "aa bb cc pp qq rr"),
      (3L, "aa bb cc uu vv ww"), (4L, "mm nn oo gg hh ii")).toDF("doc_id", "text")
    val store = new graft.dedup.BucketedSpanStore(s"$tmp/store", 64, "doc_id", "text", 3)
      .load(spark).get
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val rebuilt = SpanDedup.spanStore(all, "doc_id", "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(store == rebuilt)
  }

  test("streaming HLL profile fold equals the batch rebuild over all batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-hllstream").toString
    val mem = MemoryStream[(String, Long)]
    val b1 = (0 until 300).map(i => ("g" + (i % 2), (i % 90).toLong))
    val b2 = (0 until 300).map(i => ("g" + (i % 2), (i % 151).toLong))
    val b3 = (0 until 100).map(i => ("g0", (i + 500).toLong))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("g", "v")
    StreamingOps.hllProfileStream(rows, Seq("g"), "v", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.hllProfileStream(rows, Seq("g"), "v", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    mem.addData(b3: _*)
    StreamingOps.hllProfileStream(rows, Seq("g"), "v", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val folded = spark.read.parquet(latest)
      .orderBy("g", "bucket").collect().toSeq
    val rebuilt = Sketches.hllRegisters(
      (b1 ++ b2 ++ b3).toDF("g", "v"), Seq("g"), "v")
      .orderBy("g", "bucket").collect().toSeq
    assert(folded == rebuilt)
    // the folded report answers distinct-so-far per group; ~250 distinct
    // against m=256 registers is the small-range regime where raw HLL
    // biases high — the linear-counting correction is the right estimator
    val rep = Sketches.hllLinearCount(
      Sketches.hllReport(spark.read.parquet(latest), Seq("g")))
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    val exact = (b1 ++ b2 ++ b3).filter(_._1 == "g0").map(_._2).distinct.size
    assert(math.abs(rep("g0") - exact) / exact < 0.15,
      s"lc=${rep("g0")} exact=$exact")
  }

  test("streaming quantile-sketch fold equals the batch sketch over all batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-qsstream").toString
    val mem = MemoryStream[(String, Long, Long)]
    val b1 = (0 until 400).map(i => ("g" + (i % 2), (i * 7 % 100).toLong, i.toLong))
    val b2 = (400 until 900).map(i => ("g" + (i % 2), (i * 13 % 80).toLong, i.toLong))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("g", "v", "id")
    StreamingOps.quantileSketchStream(rows, Seq("g"), "v", Seq("id"), 64,
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.quantileSketchStream(rows, Seq("g"), "v", Seq("id"), 64,
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val folded = spark.read.parquet(latest)
      .orderBy("g", "h").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val rebuilt = Sketches.quantileSketch(
      (b1 ++ b2).toDF("g", "v", "id"), Seq("g"), "v", Seq("id"), 64)
      .orderBy("g", "h").collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(folded == rebuilt)
  }

  test("streaming spearman-sketch fold equals the batch sketch; report answers rho-so-far") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-spstream").toString
    val mem = MemoryStream[(String, Long, Long, Long)]
    val b1 = (0 until 400).map(i =>
      ("g" + (i % 2), i.toLong, (i * 7 % 100).toLong, (i * 7 % 100).toLong * 2 + i % 5))
    val b2 = (400 until 900).map(i =>
      ("g" + (i % 2), i.toLong, (i * 13 % 80).toLong, (i * 13 % 80).toLong * 2 + i % 5))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("g", "id", "x", "y")
    StreamingOps.spearmanSketchStream(rows, Seq("g"), "x", "y", Seq("id"), 64,
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.spearmanSketchStream(rows, Seq("g"), "x", "y", Seq("id"), 64,
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    def canon(d: org.apache.spark.sql.DataFrame) = d.orderBy("g", "h").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val folded = canon(spark.read.parquet(latest).select("g", "h", "x", "y"))
    val rebuilt = canon(Sketches.spearmanSketch(
      (b1 ++ b2).toDF("g", "id", "x", "y"), Seq("g"), "x", "y", Seq("id"), 64))
    assert(folded == rebuilt)
    // the standing report is the rebuild's report verbatim
    val rep = Sketches.spearmanSketchReport(spark.read.parquet(latest), Seq("g"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val rrep = Sketches.spearmanSketchReport(
      Sketches.spearmanSketch((b1 ++ b2).toDF("g", "id", "x", "y"),
        Seq("g"), "x", "y", Seq("id"), 64), Seq("g"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rep == rrep)
  }

  test("streaming AUC fold: standing histogram answers full-corpus AUC exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.RankEval
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-aucstream").toString
    val mem = MemoryStream[(Long, Long, Boolean)]
    // deterministic labeled scores with deliberate cross-batch score ties
    val b1 = (0 until 300).map(i => (i.toLong, (i * 7 % 40).toLong, i % 3 == 0))
    val b2 = (300 until 700).map(i => (i.toLong, (i * 11 % 40).toLong, i % 3 == 0))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("id", "score", "label")
    StreamingOps.aucHistogramStream(rows, "id", "score", "label",
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.aucHistogramStream(rows, "id", "score", "label",
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val hist = spark.read.parquet(latest)
    val all = (b1 ++ b2).toDF("id", "score", "label")
    // folded histogram == rebuild, and the AUC row is bit-identical
    assert(hist.orderBy("score").collect().toSeq ==
      RankEval.aucHistogram(all.select("id", "score"), all.select("id", "label"),
        "id", "score").orderBy("score").collect().toSeq)
    assert(RankEval.aucFromHistogram(hist).head().toSeq ==
      RankEval.auc(all.select("id", "score"), all.select("id", "label"),
        "id", "score").head().toSeq)
  }

  test("store maintenance: prune keeps the newest self-contained versions") {
    import graft.streaming.StoreMaintenance
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-prune").toString
    // three versions; each rewrites the FULL state (the fold contract)
    for (v <- Seq(0L, 3L, 7L))
      Seq(("g", v)).toDF("g", "latest").write.parquet(s"$tmp/store/v=$v")
    assert(StoreMaintenance.versions(spark, s"$tmp/store") == Seq(0L, 3L, 7L))
    val pruned = StoreMaintenance.pruneVersions(spark, s"$tmp/store", keepLast = 2)
    assert(pruned == Seq(0L))
    assert(StoreMaintenance.versions(spark, s"$tmp/store") == Seq(3L, 7L))
    // the fold's version resolution still works after pruning
    assert(StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue)
      .get.endsWith("v=7"))
    // idempotent; and a missing store is an empty report, not an error
    assert(StoreMaintenance.pruneVersions(spark, s"$tmp/store", 2).isEmpty)
    assert(StoreMaintenance.versions(spark, s"$tmp/nope").isEmpty)
  }

  test("store maintenance: per-bucket prune keeps newest per bucket, standing state intact") {
    import graft.streaming.StoreMaintenance
    import graft.dedup.{BucketedSpanStore, SpanDedup}
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bprune").toString
    val sink = new BucketedSpanStore(s"$tmp/store", numBuckets = 4, "doc_id", "text", 3)
    val base = Tables.documents(spark, sf).select("doc_id", "text").limit(40)
    val b1 = Seq((900001L, "aa bb cc dd ee ff")).toDF("doc_id", "text")
    val b2 = Seq((900002L, "aa bb cc zz yy xx")).toDF("doc_id", "text")
    sink.merge(base, version = 0L)
    sink.merge(b1, version = 1L)
    sink.merge(b2, version = 2L)
    val before = StoreMaintenance.bucketVersions(spark, s"$tmp/store")
    assert(before.values.exists(_.size > 1), "vacuous: no bucket carries history")
    // deep prune to 1: reclaim the fold-time safety copy (legitimate
    // once version 2 is durably committed downstream)
    val pruned = StoreMaintenance.pruneBucketVersions(spark, s"$tmp/store", keepLast = 1)
    assert(pruned.nonEmpty)
    val after = StoreMaintenance.bucketVersions(spark, s"$tmp/store")
    assert(after.values.forall(_.size == 1))
    after.foreach { case (b, vs) =>
      assert(vs.head == before(b).max, s"bucket $b lost its newest version")
    }
    // the newest per-bucket version is self-contained: load == rebuild
    val loaded = sink.load(spark).get.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val rebuilt = SpanDedup.spanStore(
        base.unionByName(b1).unionByName(b2), "doc_id", "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(loaded == rebuilt)
    // idempotent; missing store is an empty report
    assert(StoreMaintenance.pruneBucketVersions(spark, s"$tmp/store", 1).isEmpty)
    assert(StoreMaintenance.bucketVersions(spark, s"$tmp/nope").isEmpty)
  }

  test("streaming funnel equals the batch fold under in-order arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps.{FunnelEvent, FunnelProgress}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val steps = Seq("view", "click", "buy")
    val mem = MemoryStream[FunnelEvent]
    val sink = StreamingOps.funnelStream(mem.toDS(), steps, spanSec = 100)
      .writeStream.format("memory").queryName("funnel_sink")
      .outputMode("append").trigger(Trigger.AvailableNow())
    // batch 1: user 1 views+clicks; user 2 views; user 3 clicks only
    mem.addData(
      FunnelEvent(1L, 1L, 10L, "view"), FunnelEvent(1L, 2L, 20L, "click"),
      FunnelEvent(2L, 3L, 10L, "view"), FunnelEvent(3L, 4L, 10L, "click"))
    sink.start().awaitTermination(120000)
    // batch 2: user 1 buys (within span); user 2's click lands beyond span
    mem.addData(
      FunnelEvent(1L, 5L, 90L, "buy"),
      FunnelEvent(2L, 6L, 150L, "click"))
    sink.start().awaitTermination(120000)
    val progress = spark.table("funnel_sink").as[FunnelProgress].collect()
    val finalSteps = progress.groupBy(_.user_id)
      .view.mapValues(_.map(_.steps_completed).max).toMap
    // batch twin over the union of both batches
    val all = Seq(
      (1L, 1L, 10L, "view"), (1L, 2L, 20L, "click"), (1L, 5L, 90L, "buy"),
      (2L, 3L, 10L, "view"), (2L, 6L, 150L, "click"), (3L, 4L, 10L, "click"))
      .toDF("user_id", "event_id", "sec", "event_type")
      .select($"user_id", $"event_id",
        org.apache.spark.sql.functions.timestamp_seconds($"sec").as("ts"), $"event_type")
    val batch = graft.operators.Funnel
      .stepsCompleted(all, "user_id", "event_type", "ts", "event_id", steps, 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    // users that never advanced emit no progress rows (batch reports 0)
    assert(finalSteps == batch.filter(_._2 > 0))
    assert(finalSteps == Map(1L -> 3, 2L -> 1))
  }

  test("streaming debounce equals the batch operator under in-order arrival") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps.DebounceEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[DebounceEvent]
    val sink = StreamingOps.debounceStream(mem.toDS(), cooldownSec = 10L)
      .writeStream.format("memory").queryName("debounce_sink")
      .outputMode("append").trigger(Trigger.AvailableNow())
    // batch 1: key a chain 0-5; key b lone event
    mem.addData(
      DebounceEvent("a", 1L, 0L), DebounceEvent("a", 2L, 5L),
      DebounceEvent("b", 3L, 0L))
    sink.start().awaitTermination(120000)
    // batch 2: a@12 continues the chain ACROSS the batch boundary (gap 7
    // from the last SEEN event 5 — dropped); a@30 starts a new chain
    mem.addData(DebounceEvent("a", 4L, 12L), DebounceEvent("a", 5L, 30L))
    sink.start().awaitTermination(120000)
    val streamKept = spark.table("debounce_sink").as[DebounceEvent]
      .collect().map(_.event_id).toSet
    assert(streamKept == Set(1L, 3L, 5L))
    // batch twin over the union of both batches
    val all = Seq(("a", 1L, 0L), ("a", 2L, 5L), ("b", 3L, 0L),
        ("a", 4L, 12L), ("a", 5L, 30L))
      .toDF("key", "event_id", "sec")
      .select($"key", $"event_id",
        org.apache.spark.sql.functions.timestamp_seconds($"sec").as("ts"))
    val batchKept = graft.operators.TimeSeries
      .debounce(all, Seq("key"), "ts", "event_id", 10L)
      .select("event_id").as[Long].collect().toSet
    assert(streamKept == batchKept)
  }

  test("streaming ewma: exact kernel state equals the batch window chart across batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps.{EwmaOut, EwmaPoint}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[EwmaPoint]
    val sink = StreamingOps.ewmaStream(mem.toDS(), target = 0L, band = 5L)
      .writeStream.format("memory").queryName("ewma_sink")
      .outputMode("append").trigger(Trigger.AvailableNow())
    // a step series long enough that the 32-lag ring crosses the batch
    // boundary mid-kernel (state carries 32 observations, not 2 floats)
    val vals = Seq.fill(38)(0L) ++ Seq.fill(12)(10L)
    val pts = vals.zipWithIndex.map { case (v, i) => EwmaPoint("k", i.toLong, v) }
    mem.addData(pts.take(41): _*)
    sink.start().awaitTermination(120000)
    mem.addData(pts.drop(41): _*)
    sink.start().awaitTermination(120000)
    val got = spark.table("ewma_sink").as[EwmaOut]
      .collect().sortBy(_.t)
    val batch = graft.operators.TimeSeries.ewmaChart(
      pts.toDF(), Seq("key"), Seq("t"), "v", target = 0L, band = 5L)
      .orderBy("t").collect()
    assert(got.length === batch.length)
    got.zip(batch).foreach { case (s, b) =>
      // breach flags are integer compares on the SAME exact num/den:
      // bit-identical; ewma only to the decimal->double cast ulp
      assert(s.breach_hi === b.getAs[Boolean]("breach_hi"), s"t=${s.t}")
      assert(s.breach_lo === b.getAs[Boolean]("breach_lo"), s"t=${s.t}")
      assert(math.abs(s.ewma - b.getAs[Double]("ewma")) < 1e-9, s"t=${s.t}")
    }
    assert(got.exists(_.breach_hi), "the step must alarm")
  }

  test("streaming cusum: alarms + resets equal the sequential chart across batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps.{CusumAlarm, CusumPoint}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[CusumPoint]
    val sink = StreamingOps.cusumStream(mem.toDS(), target = 10L, threshold = 12L)
      .writeStream.format("memory").queryName("cusum_sink")
      .outputMode("append").trigger(Trigger.AvailableNow())
    // two sustained +5 shifts with an on-target stretch between; the chart
    // must alarm in BOTH shifts (reset re-arms it), with state carrying
    // across the batch boundary mid-shift
    val vals = Seq.fill(5)(10L) ++ Seq.fill(4)(15L) ++ Seq.fill(5)(10L) ++ Seq.fill(4)(15L)
    val pts = vals.zipWithIndex.map { case (v, i) => CusumPoint("k", i.toLong, v) }
    mem.addData(pts.take(7): _*)
    sink.start().awaitTermination(120000)
    mem.addData(pts.drop(7): _*)
    sink.start().awaitTermination(120000)
    val got = spark.table("cusum_sink").as[CusumAlarm]
      .collect().map(a => (a.t, a.side, a.stat)).sortBy(_._1).toSeq
    // reference: sequential chart with reset
    var (hi, lo) = (0L, 0L)
    val want = vals.zipWithIndex.flatMap { case (v, i) =>
      hi = math.max(0L, hi + (v - 10L)); lo = math.max(0L, lo + (10L - v))
      val out = (if (hi > 12L) Seq((i.toLong, "hi", hi)) else Nil) ++
        (if (lo > 12L) Seq((i.toLong, "lo", lo)) else Nil)
      if (hi > 12L) hi = 0L
      if (lo > 12L) lo = 0L
      out
    }
    assert(got == want, s"got $got want $want")
    assert(got.size == 2, "both shifts must alarm")
  }

  test("streaming exact-substring scrub drops store-owned runs from later batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.dedup.ExactSubstr
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-esstream").toString
    val boiler = "one two three four five six seven eight"
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, s"$boiler alpha"), (2L, "clean text only here nothing repeats at all"))
    val docs = mem.toDF().toDF("doc_id", "text")
    StreamingOps.exactSubstrStream(docs, "doc_id", "text", k = 8,
      s"$tmp/store", s"$tmp/out", s"$tmp/cp").awaitTermination(120000)
    // batch 2: doc 3 repeats batch 1's boilerplate run → scrubbed at
    // a SHIFTED alignment; doc 4 is clean
    mem.addData((3L, s"prefix $boiler suffix"), (4L, "wholly novel words"))
    StreamingOps.exactSubstrStream(docs, "doc_id", "text", k = 8,
      s"$tmp/store", s"$tmp/out", s"$tmp/cp").awaitTermination(120000)
    val b0 = spark.read.parquet(s"$tmp/out/batch_id=0")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b0(1L) == s"$boiler alpha") // first occurrence survives
    val b1 = spark.read.parquet(s"$tmp/out/batch_id=1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b1(3L) == "prefix suffix", s"got ${b1(3L)}")
    assert(b1(4L) == "wholly novel words")
    // the folded store equals the rebuild over both batches
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val folded = spark.read.parquet(latest).orderBy("h").collect().toSeq
    val all = Seq((1L, s"$boiler alpha"),
      (2L, "clean text only here nothing repeats at all"),
      (3L, s"prefix $boiler suffix"), (4L, "wholly novel words"))
      .toDF("doc_id", "text")
    val rebuilt = ExactSubstr.gramStore(all, "doc_id", "text", 8)
      .orderBy("h").collect().toSeq
    assert(folded == rebuilt)
  }

  test("streaming CMS fold equals the batch rebuild over all batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-cmsstream").toString
    val mem = MemoryStream[String]
    val b1 = (0 until 400).map(i => "t" + (i % 23))
    val b2 = (0 until 300).map(i => "t" + (i % 41))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("token")
    StreamingOps.cmsProfileStream(rows, "token", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.cmsProfileStream(rows, "token", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val folded = spark.read.parquet(latest).orderBy("j", "bucket").collect().toSeq
    val rebuilt = Sketches.cmsCounters((b1 ++ b2).toDF("token"), "token")
      .orderBy("j", "bucket").collect().toSeq
    assert(folded == rebuilt)
    // standing estimates stay one-sided over the union
    val est = Sketches.cmsEstimate(spark.read.parquet(latest),
      Seq("t0", "t1", "t22").toDF("token"), "token")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = (b1 ++ b2).groupBy(identity).view.mapValues(_.size).toMap
    Seq("t0", "t1", "t22").foreach(t => assert(est(t) >= exact(t).toLong))
  }

  test("streaming contingency fold equals the batch rebuild; standing summary matches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.quality.Association
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ctgstream").toString
    val mem = MemoryStream[(String, String, String)]
    val b1 = (0 until 300).map(i => ("s" + (i % 2), "x" + (i % 3), "y" + (i % 4)))
    val b2 = (0 until 200).map(i => ("s" + (i % 2), "x" + (i % 5), "y" + (i % 3)))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("src", "xc", "yc")
    StreamingOps.contingencyStream(rows, Seq("src"), "xc", "yc", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.contingencyStream(rows, Seq("src"), "xc", "yc", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val folded = spark.read.parquet(latest).orderBy("src", "x", "y").collect().toSeq
    val rebuilt = Association.contingencyCounts(
      (b1 ++ b2).toDF("src", "xc", "yc"), Seq("src"), "xc", "yc")
      .orderBy("src", "x", "y").collect().toSeq
    assert(folded == rebuilt)
    // the standing summary over the fold is the rebuild's summary verbatim
    val sumFold = Association.associationSummary(
      Association.associationCells(spark.read.parquet(latest), Seq("src")), Seq("src"))
      .orderBy("src").collect().toSeq
    val sumFull = Association.associationSummary(
      Association.associationCells(Association.contingencyCounts(
        (b1 ++ b2).toDF("src", "xc", "yc"), Seq("src"), "xc", "yc"), Seq("src")), Seq("src"))
      .orderBy("src").collect().toSeq
    assert(sumFold == sumFull)
  }

  test("streaming token-count fold equals the batch rebuild; standing vocab profile and churn match") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.text.CorpusLaws
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-tokstream").toString
    val mem = MemoryStream[(String, String)]
    val b1 = (0 until 120).map(i => ("l" + (i % 2), s"w${i % 17} w${i % 5}  w${i % 29}"))
    val b2 = (0 until 90).map(i => ("l" + (i % 2), s"w${i % 31} w${i % 7}"))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("lang", "text")
    StreamingOps.tokenCountsStream(rows, Seq("lang"), "text", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.tokenCountsStream(rows, Seq("lang"), "text", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val folded = spark.read.parquet(latest).orderBy("lang", "token").collect().toSeq
    val rebuilt = CorpusLaws.groupedTokenCounts(
      (b1 ++ b2).toDF("lang", "text"), Seq("lang"), "text")
      .orderBy("lang", "token").collect().toSeq
    assert(folded == rebuilt)
    // the standing health card over the fold is the rebuild's verbatim
    val profFold = CorpusLaws.vocabProfileFromCounts(
      spark.read.parquet(latest), Seq("lang"), topK = 5)
      .orderBy("lang").collect().toSeq
    val profFull = CorpusLaws.vocabProfile(
      (b1 ++ b2).toDF("lang", "text"), Seq("lang"), "text", topK = 5)
      .orderBy("lang").collect().toSeq
    assert(profFold == profFull)
    // and churn prices the standing store against a fitted base
    val base = CorpusLaws.tokenCounts(b1.toDF("lang", "text").select("text"), "text")
    val curFold = spark.read.parquet(latest).groupBy("token")
      .agg(org.apache.spark.sql.functions.sum("cnt").as("cnt"))
    val churnFold = CorpusLaws.vocabChurn(base, curFold).collect()(0)
    val churnFull = CorpusLaws.vocabChurn(base,
      CorpusLaws.tokenCounts((b1 ++ b2).toDF("lang", "text").select("text"), "text"))
      .collect()(0)
    assert(churnFold.toSeq == churnFull.toSeq)
  }

  test("streaming rank-cell fold equals the batch rebuild; standing KW/MW/BF match") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.quality.Association
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-rnkstream").toString
    val mem = MemoryStream[(String, Long)]
    val b1 = (0 until 200).map(i => ("g" + (i % 2), (i * 7 % 23).toLong))
    val b2 = (0 until 150).map(i => ("g" + (i % 2), (i * 5 % 31).toLong))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("g", "v0")
    StreamingOps.rankCellsStream(rows, Nil, "g", "v0", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.rankCellsStream(rows, Nil, "g", "v0", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val folded = spark.read.parquet(latest).orderBy("grp", "v").collect().toSeq
    val all = (b1 ++ b2).toDF("g", "v0")
    val rebuilt = Association.rankCells(all, Nil, "g", "v0")
      .orderBy("grp", "v").collect().toSeq
    assert(folded == rebuilt)
    // every standing test over the fold == its batch rebuild verbatim
    val store = spark.read.parquet(latest)
    assert(Association.kruskalWallisFromCells(store, Nil).orderBy("grp").collect().toSeq ==
      Association.kruskalWallis(all, Nil, "g", "v0").orderBy("grp").collect().toSeq)
    assert(Association.mannWhitneyFromCells(store, Nil).collect().toSeq ==
      Association.mannWhitney(all, Nil, "g", "v0").collect().toSeq)
    assert(Association.brownForsytheFromCells(store, Nil).orderBy("grp").collect().toSeq ==
      Association.brownForsythe(all, Nil, "g", "v0").orderBy("grp").collect().toSeq)
  }

  test("streaming value-cell fold equals the batch rebuild; standing median/shift match") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Quantiles
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-vcstream").toString
    val mem = MemoryStream[(String, Long, Long)]
    val b1 = (0 until 200).map(i => ("g" + (i % 2), (i * 7 % 23).toLong, (i % 4 + 1).toLong))
    val b2 = (0 until 150).map(i => ("g" + (i % 2), (i * 5 % 31).toLong, (i % 3 + 1).toLong))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("g", "v0", "w0")
    StreamingOps.valueCellsStream(rows, Seq("g"), "v0", s"$tmp/store", s"$tmp/cp",
      weightCol = Some("w0")).awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.valueCellsStream(rows, Seq("g"), "v0", s"$tmp/store", s"$tmp/cp",
      weightCol = Some("w0")).awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val folded = spark.read.parquet(latest).orderBy("g", "v").collect().toSeq
    val all = (b1 ++ b2).toDF("g", "v0", "w0")
    val rebuilt = Quantiles.valueCells(all, Seq("g"), "v0", Some("w0"))
      .orderBy("g", "v").collect().toSeq
    assert(folded == rebuilt)
    // the standing reads over the fold == their batch twins verbatim
    val store = spark.read.parquet(latest)
    assert(Quantiles.weightedMedianFromCells(store, Seq("g")).orderBy("g").collect().toSeq ==
      Quantiles.weightedMedian(all, Seq("g"), "v0", "w0").orderBy("g").collect().toSeq)
    // quantile drift between the standing store and a fresh snapshot
    val snap = (0 until 120).map(i => ("g" + (i % 2), (i * 11 % 29).toLong))
      .toDF("g", "v1")
    val snapCells = Quantiles.valueCells(snap, Seq("g"), "v1")
    val shiftFromStore = Quantiles.quantileShiftFromCells(
      store.select($"g", $"v", $"w"), snapCells, Seq("g"))
      .orderBy("g", "p").collect().toSeq
    assert(shiftFromStore.nonEmpty)
  }

  test("streaming value-count fold equals the batch rebuild; standing chi2/JS/G/Hellinger match") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.quality.{Association, Profiler}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-vcntstream").toString
    val mem = MemoryStream[String]
    val b1 = (0 until 200).map(i => "c" + (i * 7 % 5))
    val b2 = (0 until 150).map(i => "c" + (i * 3 % 4))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("v")
    StreamingOps.valueCountsStream(rows, "v", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.valueCountsStream(rows, "v", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val all = (b1 ++ b2).toDF("v")
    val folded = spark.read.parquet(latest).orderBy("value").collect().toSeq
    val rebuilt = Profiler.valueCounts(all, "v").orderBy("value").collect().toSeq
    assert(folded == rebuilt)
    // every categorical drift read over the standing store == its batch twin
    val store = spark.read.parquet(latest)
    val other = (0 until 120).map(i => "c" + (i * 11 % 6)).toDF("v")
    val otherCounts = Profiler.valueCounts(other, "v")
    assert(Profiler.chiSquareDriftFromCounts(store, otherCounts)
        .orderBy("value").collect().toSeq ==
      Profiler.chiSquareDrift(all, other, "v").orderBy("value").collect().toSeq)
    assert(Association.jsDivergenceFromCounts(store, otherCounts)
        .orderBy("value").collect().toSeq ==
      Association.jsDivergence(all, other, "v").orderBy("value").collect().toSeq)
    assert(Profiler.gTestFromCounts(store, otherCounts)
        .orderBy("value").collect().toSeq ==
      Profiler.gTestDrift(all, other, "v").orderBy("value").collect().toSeq)
    assert(Profiler.hellingerFromCounts(store, otherCounts).collect().toSeq ==
      Profiler.hellingerDrift(all, other, "v").collect().toSeq)
  }

  test("streaming Kendall cell fold equals the batch rebuild; standing tau-b matches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.quality.Association
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-kdcstream").toString
    val mem = MemoryStream[(String, Long, Long)]
    val b1 = (0 until 250).map(i => ("g" + (i % 2), (i * 7 % 13).toLong, (i * 11 % 9).toLong))
    val b2 = (250 until 450).map(i => ("g" + (i % 2), (i * 5 % 17).toLong, (i * 3 % 7).toLong))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("g", "xv", "yv")
    StreamingOps.kendallCellsStream(rows, Seq("g"), "xv", "yv", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.kendallCellsStream(rows, Seq("g"), "xv", "yv", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val folded = spark.read.parquet(latest).orderBy("g", "x", "y").collect().toSeq
    val rebuilt = Association.kendallCells(
      (b1 ++ b2).toDF("g", "xv", "yv"), Seq("g"), "xv", "yv")
      .orderBy("g", "x", "y").collect().toSeq
    assert(folded == rebuilt)
    val tauFold = Association.kendallFromCells(spark.read.parquet(latest), Seq("g"))
      .orderBy("g").collect().toSeq
    val tauFull = Association.kendall(
      (b1 ++ b2).toDF("g", "xv", "yv"), Seq("g"), "xv", "yv")
      .orderBy("g").collect().toSeq
    assert(tauFold == tauFull)
  }

  test("streaming bucket-count fold equals the batch rebuild; standing W1 matches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.quality.Profiler
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bktstream").toString
    val mem = MemoryStream[Long]
    val b1 = (0 until 300).map(i => (i % 7).toLong)
    val b2 = (0 until 200).map(i => (i % 11).toLong)
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("v")
    StreamingOps.bucketCountsStream(rows, "v", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.bucketCountsStream(rows, "v", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val folded = spark.read.parquet(latest).orderBy("bucket").collect().toSeq
    val rebuilt = Profiler.bucketCounts((b1 ++ b2).map(Tuple1(_)).toDF("v"), "v")
      .orderBy("bucket").collect().toSeq
    assert(folded == rebuilt)
    // standing W1 vs a fixed reference == the rebuild's W1
    val ref = Profiler.bucketCounts((0 until 100).map(i => Tuple1((i % 5).toLong)).toDF("v"), "v")
    val wFold = Profiler.wassersteinFromCounts(ref, spark.read.parquet(latest)).collect()(0)
    val wFull = Profiler.wassersteinFromCounts(ref,
      Profiler.bucketCounts((b1 ++ b2).map(Tuple1(_)).toDF("v"), "v")).collect()(0)
    assert(wFold === wFull)
  }

  test("streaming seasonal-stats fold equals the batch rebuild; standing flags match") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TimeSeries
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-seastream").toString
    val mem = MemoryStream[(String, Int, Long)]
    val b1 = (0 until 200).map(i => ("k", i % 24, (i % 7 + 10).toLong))
    val b2 = (0 until 150).map(i => ("k", i % 24, (i % 5 + 9).toLong)) :+ (("k", 3, 500L))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("g", "ph", "x")
    StreamingOps.seasonalStatsStream(rows, Seq("g"), "ph", "x", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.seasonalStatsStream(rows, Seq("g"), "ph", "x", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val all = (b1 ++ b2).toDF("g", "ph", "x")
    val folded = spark.read.parquet(latest).orderBy("g", "ph").collect().toSeq
    val rebuilt = TimeSeries.seasonalStats(all, Seq("g"), "ph", "x")
      .orderBy("g", "ph").collect().toSeq
    assert(folded === rebuilt)
    // scoring against the standing profile == scoring against the rebuild,
    // and the planted phase-3 spike flags
    val flagsFold = TimeSeries.seasonalAnomaliesFromStats(all, spark.read.parquet(latest),
      Seq("g"), "ph", "x").orderBy("g", "ph", "x").collect().toSeq
    val flagsFull = TimeSeries.seasonalAnomaliesFromStats(all,
      TimeSeries.seasonalStats(all, Seq("g"), "ph", "x"),
      Seq("g"), "ph", "x").orderBy("g", "ph", "x").collect().toSeq
    assert(flagsFold === flagsFull)
    assert(flagsFold.exists(r => r.getAs[Long]("x") === 500L && r.getAs[Boolean]("is_anomaly")))
  }

  test("streaming A-ES sample fold equals the batch rebuild bit-for-bit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sampling
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-aesstream").toString
    val mem = MemoryStream[(String, Long, Long)]
    val b1 = (1 to 120).map(i => ("g" + (i % 2), i.toLong, (i % 9 + 1).toLong))
    val b2 = (121 to 260).map(i => ("g" + (i % 2), i.toLong, (i % 7 + 1).toLong))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("g", "id", "w")
    StreamingOps.weightedSampleStream(rows, Seq("g"), Seq("id"), "w", 10,
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.weightedSampleStream(rows, Seq("g"), Seq("id"), "w", 10,
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val folded = spark.read.parquet(latest)
      .orderBy("g", "rank").collect().toSeq
    val rebuilt = Sampling.weightedSampleWithoutReplacement(
      (b1 ++ b2).toDF("g", "id", "w"), Seq("g"), Seq("id"), "w", 10)
      .orderBy("g", "rank").collect().toSeq
    assert(folded === rebuilt)
  }

  test("streaming slot-count fold: standing series drives the trend family == batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TimeSeries
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-slotstream").toString
    val mem = MemoryStream[(String, Long)]
    // a planted level shift at hour 12 of 24, split across two batches
    def sec(h: Int, i: Int): Long = h * 3600L + (i % 60) * 7L
    val b1 = for (h <- 0 until 12; i <- 0 until 5) yield ("k", sec(h, i))
    val b2 = for (h <- 12 until 24; i <- 0 until 15) yield ("k", sec(h, i))
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("g", "s")
      .withColumn("ts", col("s").cast("timestamp")).drop("s")
    StreamingOps.slotCountsStream(rows, Seq("g"), "ts", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.slotCountsStream(rows, Seq("g"), "ts", s"$tmp/store", s"$tmp/cp")
      .awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val all = (b1 ++ b2).toDF("g", "s")
      .withColumn("ts", col("s").cast("timestamp")).drop("s")
    val standing = TimeSeries.densifyCounts(spark.read.parquet(latest), Seq("g"))
    val batchDense = TimeSeries.resampleCounts(all, Seq("g"), "ts")
    assert(standing.orderBy("g", "slot").collect().toSeq ===
      batchDense.orderBy("g", "slot").collect().toSeq)
    // the standing series drives changepoint exactly like the batch,
    // and finds the planted shift at the hour-12 boundary
    val cpFold = TimeSeries.changepoint(standing, Seq("g"), "slot", "n").collect()(0)
    val cpBatch = TimeSeries.changepoint(batchDense, Seq("g"), "slot", "n").collect()(0)
    assert(cpFold === cpBatch)
    assert(cpFold.getAs[Long]("cp_t") === 12L)
    assert(cpFold.getAs[Boolean]("changed"))
  }

  test("streaming clustering folds edge batches into the bucketed assignment store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.dedup.{BucketedAssignStore, ConnectedComponents}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ccstream").toString
    val mem = MemoryStream[(Long, Long)]
    // batch 1: {1,2,3} and {10,11}
    mem.addData((1L, 2L), (2L, 3L), (10L, 11L))
    val edges = mem.toDF().toDF("src", "dst")
    StreamingOps.clusterStream(edges, s"$tmp/assign", s"$tmp/cp", numBuckets = 16)
      .awaitTermination(120000)
    // batch 2: bridge 3-10 MERGES the two clusters; 50-51 is brand new
    mem.addData((3L, 10L), (50L, 51L))
    StreamingOps.clusterStream(edges, s"$tmp/assign", s"$tmp/cp", numBuckets = 16)
      .awaitTermination(120000)
    val store = new BucketedAssignStore(s"$tmp/assign", 16)
    val got = store.load(spark).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val all = Seq((1L, 2L), (2L, 3L), (10L, 11L), (3L, 10L), (50L, 51L)).toDF("src", "dst")
    val rebuilt = ConnectedComponents.labelPropagation(all)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == rebuilt,
      s"diff: ${(got.toSet diff rebuilt.toSet) ++ (rebuilt.toSet diff got.toSet)}")
    assert(got(10L) == 1L && got(50L) == 50L)
    // replaying the last fold at the same version is a no-op
    store.merge(Seq((3L, 10L), (50L, 51L)).toDF("src", "dst"), version = 1L)
    assert(store.load(spark).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == rebuilt)
  }

  test("streaming semantic dedup: cross-batch duplicate admission equals batch-mode semDedup") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.dedup.{BucketedAssignStore, SemanticDedup}
    import graft.similarity.Knn
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-semstream").toString
    val base = Tables.embeddings(spark, sf).filter(col("vec_id") < 50)
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    Knn.buildIvfIndex(base, "id", "v", nlist = 4)
      .write.mode("overwrite").parquet(s"$tmp/ivf")
    val vecs = base.filter($"id" < 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    // batch 1: vec0, vec1, and an exact twin of vec0 (in-batch dup);
    // batch 2: ANOTHER twin of vec0 (must hit BOTH stored copies across
    // the batch boundary) and vec2 (admitted clean)
    val b1 = Seq((0L, vecs(0L)), (1L, vecs(1L)), (1000L, vecs(0L)))
    val b2 = Seq((2000L, vecs(0L)), (2L, vecs(2L)))
    val mem = MemoryStream[(Long, Seq[Double])]
    def run() = StreamingOps.semanticDedupStream(
      mem.toDF().toDF("id", "v"), "id", "v",
      s"$tmp/ivf", s"$tmp/corpus", s"$tmp/assign", s"$tmp/cp",
      tau = 0.99, numBuckets = 8)
    mem.addData(b1: _*)
    run().awaitTermination(120000)
    mem.addData(b2: _*)
    run().awaitTermination(120000)
    // the assignment store must equal batch-mode semDedup over ALL
    // admitted rows (non-singleton components — singletons carry no edge)
    val all = (b1 ++ b2).toDF("id", "v")
    val batchMode = SemanticDedup.semDedup(
        Knn.assignCells(all, "id", "v", spark.read.parquet(s"$tmp/ivf")),
        tau = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectedStore = {
      val sizes = batchMode.groupBy(_._2).view.mapValues(_.size).toMap
      batchMode.filter { case (_, c) => sizes(c) > 1 }
    }
    val got = new BucketedAssignStore(s"$tmp/assign", 8).load(spark).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expectedStore,
      s"diff: ${(got.toSet diff expectedStore.toSet) ++ (expectedStore.toSet diff got.toSet)}")
    assert(got.keySet == Set(0L, 1000L, 2000L) && got.values.forall(_ == 0L))
    // every admitted row is in the cell-partitioned corpus store
    val admitted = spark.read.parquet(s"$tmp/corpus")
    assert(admitted.select("id").as[Long].collect().toSet ==
      (b1 ++ b2).map(_._1).toSet)
    // admitted rows carry the same cells batch-mode assignment computes
    val gotCells = admitted.select("id", "cell").as[(Long, Int)].collect().toMap
    val expCells = Knn.assignCells(all, "id", "v", spark.read.parquet(s"$tmp/ivf"))
      .select("id", "cell").as[(Long, Int)].collect().toMap
    assert(gotCells == expCells)
  }

  test("streaming DSIR admission: per-batch keys equal batch mode; threshold is stable across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.text.Dsir
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-dsirstream").toString
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") < 200)
    // frozen models: target = even ids, raw = whole reference corpus
    Dsir.fitModel(corpus.filter($"doc_id" % 2 === 0), "text", 256)
      .write.mode("overwrite").parquet(s"$tmp/target")
    Dsir.fitModel(corpus, "text", 256)
      .write.mode("overwrite").parquet(s"$tmp/raw")
    val arriving = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") >= 200 && col("doc_id") < 240)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (b1, b2) = arriving.splitAt(20)
    val minKey = 500000000L
    val mem = MemoryStream[(Long, String)]
    def run() = StreamingOps.dsirAdmissionStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$tmp/target", s"$tmp/raw", s"$tmp/out", s"$tmp/cp",
      minKey = minKey, numBuckets = 256)
    mem.addData(b1: _*)
    run().awaitTermination(120000)
    mem.addData(b2: _*)
    run().awaitTermination(120000)
    // batch-mode twin over the SAME frozen models
    def total(m: org.apache.spark.sql.DataFrame): Long =
      m.agg(coalesce(sum(col("cnt")), lit(0L))).head.getLong(0)
    val t = spark.read.parquet(s"$tmp/target"); val r0 = spark.read.parquet(s"$tmp/raw")
    val expected = Dsir.selectionKey(
        Dsir.importanceSignals(arriving.toDF("doc_id", "text"), "doc_id", "text",
          t, r0, 256),
        total(t), total(r0))
      .filter(col("dsir_key") >= minKey)
      .select("doc_id", "dsir_key").as[(Long, Long)].collect().toMap
    val got = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "dsir_key").as[(Long, Long)].collect().toMap
    assert(got == expected,
      s"diff: ${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
    assert(got.nonEmpty && got.size < arriving.size,
      s"threshold should admit some and reject some (admitted ${got.size}/${arriving.size})")
  }

  test("streaming perplexity admission: per-batch keys equal batch mode at a fixed threshold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.text.{LmScore, PerplexitySample}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ppxstream").toString
    val ref = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") < 200)
    // frozen reference n-gram models (the q106-style prebuilt contract)
    LmScore.unigramCounts(ref, "text", minCount = 2)
      .write.mode("overwrite").parquet(s"$tmp/uni")
    LmScore.bigramCounts(ref, "text", minCount = 2)
      .write.mode("overwrite").parquet(s"$tmp/bi")
    // odd ids get unique OOV junk so the key actually separates docs
    // (the tiny-sf vocabulary is otherwise fully attested by ref)
    val arriving = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") >= 200 && col("doc_id") < 240)
      .withColumn("text", when(col("doc_id") % 2 === 1,
        concat(col("text"), lit(" "),
          concat_ws(" ", (1 to 40).map(i => concat(lit(s"zzqx${i}x"), col("doc_id"))): _*)))
        .otherwise(col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (b1, b2) = arriving.splitAt(20)
    val minKey = 900000000L
    val mem = MemoryStream[(Long, String)]
    def run() = StreamingOps.perplexityAdmissionStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$tmp/uni", s"$tmp/bi", s"$tmp/out", s"$tmp/cp", minKey = minKey)
    mem.addData(b1: _*)
    run().awaitTermination(120000)
    mem.addData(b2: _*)
    run().awaitTermination(120000)
    val uni = spark.read.parquet(s"$tmp/uni"); val bi = spark.read.parquet(s"$tmp/bi")
    val expected = PerplexitySample.qualityKey(
        LmScore.score(arriving.toDF("doc_id", "text"), "doc_id", "text", uni, bi))
      .filter(col("lm_key") >= minKey)
      .select("doc_id", "lm_key").as[(Long, Long)].collect().toMap
    val got = spark.read.parquet(s"$tmp/out")
      .select("doc_id", "lm_key").as[(Long, Long)].collect().toMap
    assert(got == expected,
      s"diff: ${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
    assert(got.nonEmpty && got.size < arriving.size,
      s"threshold should admit some and reject some (admitted ${got.size}/${arriving.size})")
  }

  test("streaming ANN over a prebuilt IVF-PQ index equals the batch path per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.similarity.{Knn, Pq}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-annstream").toString
    // standing corpus + its index state, all parquet-roundtripped (the
    // q85/q96 prebuilt contract): new embeddings stream in as queries
    Tables.embeddings(spark, sf).filter(col("vec_id") < 400)
      .select("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/corpus")
    val corpusP = spark.read.parquet(s"$tmp/corpus")
    Knn.buildIvfIndex(corpusP, "vec_id", "embedding", nlist = 8)
      .write.mode("overwrite").parquet(s"$tmp/ivf")
    Pq.sampleCodebooks(corpusP, "vec_id", "embedding", m = 8, codesPerBook = 16)
      .write.mode("overwrite").parquet(s"$tmp/books")
    Pq.indexCodes(corpusP, "vec_id", "embedding",
        spark.read.parquet(s"$tmp/books"), spark.read.parquet(s"$tmp/ivf"))
      .write.mode("overwrite").parquet(s"$tmp/codes")
    val qrows = Tables.embeddings(spark, sf)
      .filter(col("vec_id") >= 400 && col("vec_id") < 406)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
    assert(qrows.length == 6)
    val mem = MemoryStream[(Long, Seq[Double])]
    def run() = StreamingOps.annStream(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$tmp/codes", s"$tmp/ivf", s"$tmp/books", s"$tmp/corpus",
      s"$tmp/out", s"$tmp/cp", k = 5, nprobe = 4, rerankFactor = 4)
    mem.addData(qrows.take(3): _*)
    run().awaitTermination(120000)
    mem.addData(qrows.drop(3): _*)
    run().awaitTermination(120000)
    def triples(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      df.select("query_id", "rank", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    Seq(0 -> qrows.take(3), 1 -> qrows.drop(3)).foreach { case (bid, qs) =>
      val got = triples(spark.read.parquet(s"$tmp/out/batch_id=$bid"))
      val expected = triples(Pq.ivfPqTopK(
        spark.read.parquet(s"$tmp/codes"), spark.read.parquet(s"$tmp/ivf"),
        spark.read.parquet(s"$tmp/books"), corpusP,
        qs.toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 5, nprobe = 4, rerankFactor = 4))
      assert(got == expected, s"batch $bid diverged from the batch-mode path")
      assert(got.map(_._1) == qs.map(_._1).toSet) // every query answered
    }
  }

  test("streaming BM25 index fold equals a from-scratch rebuild bit-for-bit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.text.Bm25
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-bm25stream").toString
    val all = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("doc_id") < 60)
    val b1 = all.filter(col("doc_id") < 30)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val b2 = all.filter(col("doc_id") >= 30)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Long, String)]
    def run() = StreamingOps.bm25IndexStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$tmp/store", s"$tmp/cp")
    mem.addData(b1: _*)
    run().awaitTermination(120000)
    mem.addData(b2: _*)
    run().awaitTermination(120000)
    val (postings, stats) = Bm25.loadIndex(spark, s"$tmp/store")
    val terms = Seq("spark", "window", "merge")
    def scores(p: org.apache.spark.sql.DataFrame, st: org.apache.spark.sql.DataFrame) =
      Bm25.topKPrebuilt(p, st, terms)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val folded = scores(postings, stats)
    val rebuilt = scores(
      Bm25.buildIndex(all, "doc_id", "text"), Bm25.corpusStats(all, "doc_id", "text"))
    assert(folded.nonEmpty && folded == rebuilt) // exact doubles, no tolerance
    // ...and equals the scan path over the same corpus (full triangle)
    val scan = Bm25.scoreScan(all, "doc_id", "text", terms)
      .filter(col("score") > 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(folded == scan)
  }

  test("streaming lifetime-cell fold equals the batch rebuild; standing KM/hazard/log-rank/RMST match") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Survival
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ltstream").toString
    val mem = MemoryStream[(String, Long, Long)]
    // cohort-keyed subjects: durations 1..9, ~1/3 censored, arm A lives longer
    def subj(seed: Int, n: Int) = (0 until n).map { i =>
      val g = if ((i * 7 + seed) % 2 == 0) "A" else "B"
      val d = 1L + (i * 11 + seed) % 9 + (if (g == "A") 2L else 0L)
      (g, d, if ((i * 5 + seed) % 3 == 0) 0L else 1L)
    }
    val b1 = subj(1, 60); val b2 = subj(2, 45)
    mem.addData(b1: _*)
    val rows = mem.toDF().toDF("g", "dur", "ev")
    StreamingOps.lifetimeCellsStream(rows, Seq("g"), "dur", "ev",
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    mem.addData(b2: _*)
    StreamingOps.lifetimeCellsStream(rows, Seq("g"), "dur", "ev",
      s"$tmp/store", s"$tmp/cp").awaitTermination(120000)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/store", Long.MaxValue).get
    val store = spark.read.parquet(latest)
    val all = (b1 ++ b2).toDF("g", "dur", "ev")
    val rebuilt = Survival.lifetimeCells(all, Seq("g"), "dur", "ev")
      .orderBy("g", "t").collect().toSeq
    assert(store.orderBy("g", "t").collect().toSeq == rebuilt)
    // the whole censoring-aware dashboard reads the ONE standing state:
    // per-cohort curve, hazard, the A/B test, and RMST — each equals
    // its batch twin verbatim
    assert(Survival.kaplanMeierFromCells(store, Seq("g")).orderBy("g", "t").collect().toSeq ==
      Survival.kaplanMeier(all, Seq("g"), "dur", "ev").orderBy("g", "t").collect().toSeq)
    assert(Survival.nelsonAalenFromCells(store, Seq("g")).orderBy("g", "t").collect().toSeq ==
      Survival.nelsonAalen(all, Seq("g"), "dur", "ev").orderBy("g", "t").collect().toSeq)
    assert(Survival.logRankFromCells(store, Nil, "g").collect().toSeq ==
      Survival.logRank(all, Nil, "g", "dur", "ev").collect().toSeq)
    assert(Survival.rmst(Survival.kaplanMeierFromCells(store, Seq("g")), Seq("g"), 6L)
      .orderBy("g").collect().toSeq ==
      Survival.rmst(Survival.kaplanMeier(all, Seq("g"), "dur", "ev"), Seq("g"), 6L)
        .orderBy("g").collect().toSeq)
  }

  test("pipeline foreachBatch step consumes a bounded stream") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-feb").toString
    val p = new SparkPipeline("febpipe", spark)
    p.conf("spark.sql.streaming.checkpointLocation") = s"$tmp/cp"
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    p.stepForEachBatch("ingest", _ => StreamingOps.readEventStream(spark, sf)) {
      (df, _, _) => seen.addAndGet(df.count())
    }
    p.run(2)
    assert(p.isSuccess)
    assert(seen.get() == Tables.events(spark, sf).count())
  }
}
