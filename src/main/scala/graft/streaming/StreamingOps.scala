package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming operators: watermarked windowed aggregation and
  * stateful gap-based sessionization. Both accept the streaming OR batch
  * form of the events table (the batch twin queries q05/q06 verify the
  * semantics against the DuckDB oracle; the streaming path is spec-tested
  * with a memory stream).
  */
object StreamingOps {

  final case class Event(user_id: Long, event_id: Long, ts_sec: Long)
  final case class Session(user_id: Long, session_seq: Long, n_events: Long, start_sec: Long, end_sec: Long)
  final case class OpenSession(session_seq: Long, n_events: Long, start_sec: Long, end_sec: Long)

  /** Event-time hourly rollup. On a streaming input the watermark bounds
    * state; late rows beyond it are dropped (that is the scale contract:
    * state size ∝ active windows, not history).
    */
  def hourlyRollup(events: DataFrame, tsCol: String = "ts", watermark: String = "1 hour"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    src.groupBy(window(col(tsCol), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value")
      )
      .select(
        col("window.start").as("hr"), col("event_type"),
        col("n_events"), col("sum_value")
      )
  }

  /** Hopping (sliding) window rollup — each event contributes to
    * windowLen/slide overlapping windows (Spark's `window(ts, len,
    * slide)`, epoch-aligned). Batch OR streaming input (watermark bounds
    * streaming state to the active windows); the q141 oracle replays the
    * window assignment arithmetically (epoch//slide grid minus j·slide).
    */
  def hoppingRollup(
      events: DataFrame,
      tsCol: String = "ts",
      windowLen: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "1 hour"
  ): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    src.groupBy(window(col(tsCol), windowLen, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value")
      )
      .select(
        col("window.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_value")
      )
  }

  /** Stateful gap sessionization over a stream of [[Event]]s: a session
    * closes when `gapSeconds` pass without activity (tracked per user via
    * processing-time timeout). Emits closed sessions (Append mode).
    *
    * State per key is one open session (constant size) — the streaming twin
    * of the batch lag+cumsum sessionize (CoreQueries.q06Sessionize).
    */
  def sessionize(
      events: Dataset[Event],
      gapSeconds: Long = 1800,
      timeout: String = "30 seconds"
  ): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()
      ) { case (userId, rows, state: GroupState[OpenSession]) =>
        if (state.hasTimedOut) {
          val out = state.getOption.map(s =>
            Session(userId, s.session_seq, s.n_events, s.start_sec, s.end_sec)).toList
          state.remove()
          out.iterator
        } else {
          val sorted = rows.toSeq.sortBy(e => (e.ts_sec, e.event_id))
          var open = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
          sorted.foreach { e =>
            open match {
              case Some(s) if e.ts_sec - s.end_sec <= gapSeconds =>
                open = Some(s.copy(n_events = s.n_events + 1, end_sec = e.ts_sec))
              case Some(s) =>
                closed += Session(userId, s.session_seq, s.n_events, s.start_sec, s.end_sec)
                open = Some(OpenSession(s.session_seq + 1, 1, e.ts_sec, e.ts_sec))
              case None =>
                open = Some(OpenSession(1, 1, e.ts_sec, e.ts_sec))
            }
          }
          open.foreach { s =>
            state.update(s)
            state.setTimeoutDuration(timeout)
          }
          closed.iterator
        }
      }
  }

  /** Declarative gap sessionization via Spark's native `session_window` —
    * the engine merges overlapping [ts, ts+gap) intervals per key itself
    * (batch: one aggregation; streaming: watermark-bounded state, no
    * user-managed GroupState). Same gap semantics as [[sessionize]] and the
    * batch lag+cumsum twin (q06), verified by spec.
    */
  def sessionWindowRollup(
      events: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      gap: String = "30 minutes",
      watermark: String = "1 hour"
  ): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    src.groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events")
      )
  }

  /** Streaming exact dedup on key columns. With a watermark column, uses
    * `dropDuplicatesWithinWatermark` so per-key state EXPIRES once the
    * event time passes the watermark — the scale contract for an unbounded
    * stream (plain dropDuplicates state grows forever). Batch inputs fall
    * back to plain dropDuplicates.
    *
    * Batch/stream parity caveat: the two paths agree only for keys whose
    * duplicates all arrive within the watermark horizon. A key recurring
    * AFTER its state expired is re-emitted by the streaming path but
    * dropped by the batch path — global dedup vs. horizon-bounded dedup is
    * an inherent difference, not a bug; pick the watermark so real
    * duplicates land inside it.
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      tsCol: String = "ts",
      watermark: String = "1 hour"
  ): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** Chained stateful streaming: sessionize (session_window) and then
    * count the resulting sessions per hour and key — TWO stateful
    * operators in one streaming query. Event time must propagate through
    * the chain via the WINDOW STRUCT itself: stage 2 groups by
    * `window(session_window, "1 hour")` — projecting scalar start/end
    * out of the struct drops the event-time tag and stalls stage 2
    * forever (re-watermarking the projection does not recover it; found
    * the hard way). Batch inputs run the same plan without state.
    */
  def sessionsPerHour(
      events: DataFrame,
      keyCol: String = "user_id",
      tsCol: String = "ts",
      gap: String = "30 minutes",
      watermark: String = "1 hour"
  ): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    src
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(window(col("session_window"), "1 hour"), col(keyCol))
      .agg(count(lit(1)).as("n_sessions"))
      .select(col("window.start").as("hr"), col(keyCol), col("n_sessions"))
  }

  final case class AsOfLeft(key: Long, ts: Long, left_id: Long)
  final case class AsOfRight(key: Long, ts: Long, value: Double)
  final case class AsOfTagged(key: Long, ts: Long, isLeft: Boolean, left_id: Long,
      value: Double, event_time: java.sql.Timestamp)
  final case class AsOfBuf(lefts: List[(Long, Long)], rights: List[(Long, Double)])
  final case class AsOfOut(key: Long, ts: Long, left_id: Long,
      right_ts: Option[Long], right_value: Option[Double])

  /** Streaming as-of join: each left event is enriched with the LATEST
    * right row at-or-before its event time — the streaming twin of
    * `TemporalJoins.asOfJoin` (batch oracle: q34/q36).
    *
    * Event-time correct under out-of-order arrival: a left row is emitted
    * only once the watermark passes its timestamp, at which point every
    * right row at-or-before it has arrived (later-than-watermark stragglers
    * are dropped by the engine on both sides — the standard watermark
    * contract). State per key is bounded: unemitted lefts + rights newer
    * than the watermark + ONE floor right (the latest at-or-below the
    * watermark, which future lefts may still need); everything older is
    * evicted each trigger.
    *
    * Same-ts right duplicates: pre-aggregate the right stream (as q34's
    * batch form does) — with duplicates the kept row is arrival-dependent.
    */
  def asOfJoinStream(
      left: Dataset[AsOfLeft],
      right: Dataset[AsOfRight],
      watermarkDelay: String = "10 seconds"
  ): Dataset[AsOfOut] = {
    val spark = left.sparkSession
    import spark.implicits._
    val l = left.toDF().select(col("key"), col("ts"), lit(true).as("isLeft"),
      col("left_id"), lit(0.0).as("value"))
    val r = right.toDF().select(col("key"), col("ts"), lit(false).as("isLeft"),
      lit(0L).as("left_id"), col("value"))
    val tagged = l.unionByName(r)
      .withColumn("event_time", to_timestamp(col("ts")))
      .withWatermark("event_time", watermarkDelay)
      .as[AsOfTagged]
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfBuf, AsOfOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()
      ) { case (key, rows, state: GroupState[AsOfBuf]) =>
        val buf = state.getOption.getOrElse(AsOfBuf(Nil, Nil))
        var lefts = buf.lefts
        var rights = buf.rights
        rows.foreach { e =>
          if (e.isLeft) lefts ::= (e.ts, e.left_id) else rights ::= (e.ts, e.value)
        }
        val wmSec = state.getCurrentWatermarkMs() / 1000
        val (ready, pending) = lefts.partition(_._1 <= wmSec)
        val rSorted = rights.sortBy(_._1)
        val out = ready.sorted.map { case (ts, id) =>
          val m = rSorted.takeWhile(_._1 <= ts).lastOption
          AsOfOut(key, ts, id, m.map(_._1), m.map(_._2))
        }
        // rights eviction: one floor row at-or-below the watermark + future
        val floor = rSorted.filter(_._1 <= wmSec).lastOption
        val keptRights = floor.toList ++ rSorted.filter(_._1 > wmSec)
        if (pending.isEmpty && keptRights.isEmpty) state.remove()
        else {
          state.update(AsOfBuf(pending, keptRights))
          // Wake targets (each must be strictly ahead of the watermark):
          //  - earliest pending left, to emit it once the watermark passes;
          //  - earliest above-watermark right, so a key that stops receiving
          //    input still gets re-invoked to compact its rights down to the
          //    single floor row (otherwise a quiescent key would retain every
          //    buffered right forever — state must stay bounded per key).
          // A lone floor row needs no timeout: it is already minimal state,
          // kept indefinitely for future lefts.
          val wakeCandidates =
            pending.map(_._1) ++ keptRights.map(_._1).filter(_ > wmSec)
          if (wakeCandidates.nonEmpty) {
            val wake = math.max(wakeCandidates.min, wmSec + 1)
            state.setTimeoutTimestamp(wake * 1000)
          }
        }
        out.iterator
      }
  }

  /** Rate-limited file-source read: `maxFilesPerTrigger` bounds how many
    * files each micro-batch ingests — the backfill/catch-up pattern that
    * keeps a resumed stream from swallowing months of history in one
    * giant batch (state growth, executor memory and checkpoint latency
    * all scale with batch size, not backlog size).
    */
  def readFileStream(
      spark: SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Option[Int] = None
  ): DataFrame = {
    val base = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(base)(n => base.option("maxFilesPerTrigger", n)).parquet(dir)
  }

  /** Streaming DQ gate: validate every micro-batch against SQL-predicate
    * rules, append passing rows to `cleanPath` and failing rows (tagged
    * with the rules they broke) to `quarantinePath` — the
    * validate-then-quarantine pattern for continuous ingestion, built from
    * the same [[graft.quality.RuleEngine.Rule]]s as the batch engine so
    * batch and stream enforce identical contracts.
    *
    * Each batch is tagged in ONE narrow pass (no per-rule jobs): a row
    * fails if any rule predicate is false or NULL. Each split lands in a
    * `batch_id=<n>` subdirectory written with mode OVERWRITE — a replayed
    * micro-batch (crash between the write and the checkpoint commit)
    * rewrites its own directory instead of appending duplicates, which is
    * what makes the foreachBatch sink effectively exactly-once. Readers
    * load the root path; `batch_id` surfaces as a partition column.
    */
  def dqGateStream(
      events: DataFrame,
      rules: Seq[graft.quality.RuleEngine.Rule],
      cleanPath: String,
      quarantinePath: String,
      checkpoint: String
  ): StreamingQuery = {
    require(rules.nonEmpty, "rules must not be empty")
    eachBatch(events, checkpoint) { (batch, batchId) =>
      val failed = rules
        .map(r => when(expr(r.predicate).isNull || !expr(r.predicate), r.name))
      val tagged = batch
        .withColumn("__failed_rules", array_compact(array(failed: _*)))
        .persist() // both splits derive from this one pass over the batch
      try {
        // overwrite of the batch's OWN directory = idempotent on replay
        tagged.filter(size(col("__failed_rules")) === 0)
          .drop("__failed_rules")
          .write.mode("overwrite").parquet(s"$cleanPath/batch_id=$batchId")
        tagged.filter(size(col("__failed_rules")) > 0)
          .withColumn("failed_rules", concat_ws(",", col("__failed_rules")))
          .drop("__failed_rules")
          .write.mode("overwrite").parquet(s"$quarantinePath/batch_id=$batchId")
      } finally { tagged.unpersist(blocking = false); () }
    }
  }

  /** Streaming distribution-drift monitor: every micro-batch's histogram
    * of `column` is compared against a FIXED baseline histogram
    * ([[graft.quality.Profiler.histogram]] of the reference corpus,
    * computed once — ≤ nBuckets+2 rows, persist it), and a per-batch drift
    * report lands under `reportPath/batch_id=<n>` with the summed chi2/psi
    * statistics and a `drifted` verdict. Same idempotent per-batch
    * overwrite contract as [[dqGateStream]]; recurring cost is one grouped
    * scan of each batch.
    */
  def driftGateStream(
      events: DataFrame,
      baselineHist: DataFrame,
      column: String,
      lo: Double,
      hi: Double,
      nBuckets: Int,
      psiThreshold: Double,
      reportPath: String,
      checkpoint: String
  ): StreamingQuery = {
    import graft.quality.Profiler
    eachBatch(events, checkpoint) { (batch, batchId) =>
      val report = Profiler.driftFromHistograms(
        baselineHist,
        Profiler.histogram(batch, column, lo, hi, nBuckets).select(col("bucket"), col("cnt")),
        nBuckets)
      report
        .agg(sum("chi2_term").as("chi2"), sum("psi_term").as("psi"),
          sum("n_cur").as("n_rows"))
        .withColumn("drifted", col("psi") > psiThreshold)
        .write.mode("overwrite").parquet(s"$reportPath/batch_id=$batchId")
    }
  }

  /** Streaming sub-document span dedup: each micro-batch of documents is
    * scored against the ACCUMULATED span-frequency store
    * ([[graft.dedup.SpanDedup.incrementalStats]] — per-batch cost, the
    * store is semi-filtered map-side), its stats land under
    * `statsPath/batch_id=<n>`, and the store is folded forward through a
    * [[graft.dedup.BucketedSpanStore]] MERGE sink: ONLY buckets containing
    * the batch's span keys are read and rewritten, so per-batch store I/O
    * is O(touched buckets), never O(store) — the previous full-snapshot
    * fold rewrote the whole store every micro-batch, which at a 100 TB
    * corpus is billions of span rows of I/O for an O(batch) change.
    *
    * Replay safety: bucket versions are keyed by batch id, and a replayed
    * batch N rebuilds each touched bucket from that bucket's latest
    * version BELOW N — both writes are deterministic functions of
    * (prior store, batch), so the crash-replay result is identical (same
    * idempotent-overwrite contract as [[dqGateStream]]). Version discovery
    * is driver-side FS listing of bucket directories — store bookkeeping,
    * not data movement.
    */
  def spanDedupStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      spanWords: Int,
      storePath: String,
      statsPath: String,
      checkpoint: String,
      numBuckets: Int = 64
  ): StreamingQuery =
    eachBatch(docs, checkpoint) { (batch0, batchId) =>
      import graft.dedup.{BucketedSpanStore, SpanDedup}
      val spark = batch0.sparkSession
      val sink = new BucketedSpanStore(storePath, numBuckets, idCol, textCol, spanWords)
      // both actions (stats + merge) derive from the batch — one source
      // pass, same contract as dqGateStream's persisted split
      val batch = batch0.persist()
      try {
        val store = sink.load(spark, belowVersion = batchId)
          .getOrElse(SpanDedup.spanStore(batch.limit(0), idCol, textCol, spanWords))
        SpanDedup.incrementalStats(batch, store, idCol, textCol, spanWords)
          .write.mode("overwrite").parquet(s"$statsPath/batch_id=$batchId")
        sink.merge(batch, batchId)
      } finally { batch.unpersist(blocking = false); () }
    }

  /** Streaming duplicate CLUSTERING: each micro-batch of near-dup edges
    * (src, dst) — e.g. from incremental minhash blocking — folds into a
    * [[graft.dedup.BucketedAssignStore]]: only touched components are
    * re-solved ([[graft.dedup.ConnectedComponents.incrementalResolve]])
    * and only the buckets holding them are rewritten, with per-bucket
    * versions keyed by batch id for idempotent crash replay — the
    * [[spanDedupStream]] contract applied to clustering. The accumulated
    * assignment always equals a from-scratch labelPropagation over every
    * edge ever folded (spec-asserted).
    */
  def clusterStream(
      edges: DataFrame,
      assignPath: String,
      checkpoint: String,
      numBuckets: Int = 64
  ): StreamingQuery =
    eachBatch(edges, checkpoint) { (batch, batchId) =>
      new graft.dedup.BucketedAssignStore(assignPath, numBuckets)
        .merge(batch, batchId)
    }

  /** Streaming ANN over a PREBUILT IVF-PQ index — the online form of
    * [[graft.similarity.Pq.ivfPqTopK]]: the index (one-pass cell+code
    * frame, IVF centroids, PQ codebooks — the q85/q96 prebuilt-index
    * contract) is corpus STATE built once and parquet-roundtripped, so
    * each micro-batch of new query embeddings pays only centroid probe +
    * ADC scan of nprobe cells + exact rerank — the corpus never shuffles
    * per batch (`cellCodes` joins the broadcast probed queries on `cell`).
    * This is the online near-dup/retrieval shape: score arriving
    * embeddings against the standing corpus before admitting them.
    *
    * Each batch's top-k lands under `outPath/batch_id=<n>` with overwrite,
    * so a crash-replayed batch deterministically rewrites its own output
    * (same idempotent contract as [[spanDedupStream]]).
    */
  def annStream(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      cellCodesPath: String,
      ivfIndexPath: String,
      codebooksPath: String,
      corpusPath: String,
      outPath: String,
      checkpoint: String,
      k: Int,
      nprobe: Int = 4,
      rerankFactor: Int = 4
  ): StreamingQuery =
    eachBatch(queries, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      graft.similarity.Pq.ivfPqTopK(
          spark.read.parquet(cellCodesPath),
          spark.read.parquet(ivfIndexPath),
          spark.read.parquet(codebooksPath),
          spark.read.parquet(corpusPath),
          batch, idCol, vecCol, k, nprobe, rerankFactor)
        .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    }

  /** Streaming semantic dedup — [[graft.dedup.SemanticDedup]]'s online
    * admission shape: each micro-batch of new embeddings is assigned to
    * the PREBUILT IVF index's cells, cosine-compared against the standing
    * admitted corpus IN ITS TOUCHED CELLS ONLY (an `isin` on ≤ nlist cell
    * ids prunes the prior scan to those partitions) plus itself, the
    * duplicate edges fold into a [[graft.dedup.BucketedAssignStore]]
    * (per-batch versions, replay-idempotent), and the batch's assigned
    * rows are admitted under `corpusPath/batch_id=<n>` partitioned by
    * cell. Per batch: O(batch + touched-cell corpus) I/O; the standing
    * corpus is never rewritten. On crash replay the batch's own
    * previously-admitted rows are excluded from the prior read so rows
    * never pair against themselves.
    */
  def semanticDedupStream(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      ivfIndexPath: String,
      corpusPath: String,
      assignPath: String,
      checkpoint: String,
      tau: Double,
      numBuckets: Int = 64
  ): StreamingQuery =
    eachBatch(embeddings, checkpoint) { (batch, batchId) =>
      val spark = batch.sparkSession
      import graft.dedup.SemanticDedup
      import graft.similarity.Knn
      val index = spark.read.parquet(ivfIndexPath)
      val assigned = Knn.assignCells(batch, idCol, vecCol, index).persist()
      try {
        // touched cells: <= nlist ints — driver bookkeeping that turns
        // the prior-corpus read into a partition-pruned scan
        val cells = assigned.filter(col("cell") >= 0)
          .select("cell").distinct().collect().map(_.getInt(0))
        val corpusDir = new org.apache.hadoop.fs.Path(corpusPath)
        val fs = corpusDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val prior =
          if (cells.nonEmpty && fs.exists(corpusDir))
            Some(spark.read.parquet(corpusPath)
              .where(col("cell").isin(cells.map(c => c: Any): _*))
              .filter(col("batch_id") =!= batchId))
          else None
        val inBatch = SemanticDedup.duplicatePairs(assigned, tau)
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        val edges = prior.map { p =>
          p.select(col("cell"), col("id").as("src"), col("v").as("pv"))
            .join(assigned.filter(col("cell") >= 0)
              .select(col("cell"), col("id").as("dst"), col("v").as("bv")),
              Seq("cell"))
            .filter(col("src") =!= col("dst") &&
              Knn.cosine(col("pv"), col("bv")) >= tau)
            .select(col("src"), col("dst"))
            .unionByName(inBatch)
        }.getOrElse(inBatch)
        new graft.dedup.BucketedAssignStore(assignPath, numBuckets)
          .merge(edges, batchId)
        assigned.write.mode("overwrite").partitionBy("cell")
          .parquet(s"$corpusPath/batch_id=$batchId")
      } finally { assigned.unpersist(); () }
    }

  /** Streaming BM25 inverted-index maintenance — [[annStream]]'s lexical
    * twin: each micro-batch of NEW documents (disjoint ids per batch —
    * the append-only ingest contract) folds into a postings store as its
    * own `batch_id=<n>` partition plus a one-row RAW stats partition
    * ([[graft.text.Bm25.corpusStatsRaw]] — exact longs, so partitions SUM
    * to corpus stats in any order). Per batch the work is
    * O(batch postings): the store is never read, never rewritten.
    * Overwrite-per-batch-dir makes crash replays idempotent (same
    * contract as [[spanDedupStream]]/[[annStream]]).
    *
    * Readers use [[graft.text.Bm25.loadIndex]] +
    * [[graft.text.Bm25.topKPrebuilt]]; a folded store scores
    * bit-identically to a from-scratch [[graft.text.Bm25.buildIndex]]
    * over the same docs (spec-asserted).
    */
  def bm25IndexStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(docs, checkpoint) { (batch, batchId) =>
      graft.text.Bm25.buildIndex(batch, idCol, textCol)
        .write.mode("overwrite").parquet(s"$storePath/postings/batch_id=$batchId")
      graft.text.Bm25.corpusStatsRaw(batch, idCol, textCol)
        .write.mode("overwrite").parquet(s"$storePath/stats/batch_id=$batchId")
    }

  /** Streaming perplexity-triage admission —
    * [[graft.text.PerplexitySample]]'s online form: the reference
    * n-gram models (unigram + bigram count frames) are FROZEN corpus
    * state, each arriving micro-batch is scored ([[graft.text.LmScore]]
    * integer evidence → the attested-mass `lm_key`) and admitted iff
    * the key clears `minKey`. Fixed key threshold, not per-batch
    * terciles: tercile ranks are a corpus-relative notion — online
    * admission pins the key cutoff derived from the frozen corpus
    * (e.g. the batch-corpus tail boundary), so admission is stable
    * across batches and replays. Batch output overwrites its own
    * `batch_id=<n>` dir (idempotent replay). Per batch: two gram
    * passes over the batch (uni + bigram) + two broadcast model joins.
    */
  def perplexityAdmissionStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      unigramModelPath: String,
      bigramModelPath: String,
      outPath: String,
      checkpoint: String,
      minKey: Long
  ): StreamingQuery = {
    import graft.text.{LmScore, PerplexitySample}
    val spark = docs.sparkSession
    // frozen reference models, materialized once at stream definition
    val uni = graft.text.Dsir.materializeModel(spark.read.parquet(unigramModelPath))
    val bi = graft.text.Dsir.materializeModel(spark.read.parquet(bigramModelPath))
    eachBatch(docs, checkpoint) { (batch, batchId) =>
      PerplexitySample.qualityKey(
          LmScore.score(batch, idCol, textCol, uni, bi))
        .filter(col("lm_key") >= minKey)
        .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    }
  }

  /** Streaming DSIR admission — [[graft.text.Dsir]]'s online form: the
    * two hashed-gram models are FROZEN corpus state (parquet fixtures,
    * the q106 prebuilt contract), each micro-batch of arriving docs is
    * scored against them and admitted iff its integer selection key
    * clears `minKey`. A fixed threshold (not a per-batch fraction) is
    * the correct online semantics: the score scale is set by the frozen
    * models, so admission is stable across batches and replays. Batch
    * output overwrites its own `batch_id=<n>` dir (idempotent replay,
    * same contract as the other ingest streams). Per batch: one gram
    * pass over the batch + two ≤ numBuckets-row broadcast joins.
    */
  def dsirAdmissionStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetModelPath: String,
      rawModelPath: String,
      outPath: String,
      checkpoint: String,
      minKey: Long,
      numBuckets: Int = 1024
  ): StreamingQuery = {
    import graft.text.Dsir
    // the models are FROZEN corpus state: read + materialize ONCE at
    // stream definition (≤ numBuckets rows each), not per micro-batch —
    // per-batch re-reads and total() actions were pure per-batch latency
    val spark = docs.sparkSession
    val target = Dsir.materializeModel(spark.read.parquet(targetModelPath))
    val raw = Dsir.materializeModel(spark.read.parquet(rawModelPath))
    val targetTotal = Dsir.modelTotal(target)
    val rawTotal = Dsir.modelTotal(raw)
    eachBatch(docs, checkpoint) { (batch, batchId) =>
      Dsir.selectionKey(
          Dsir.importanceSignals(batch, idCol, textCol, target, raw, numBuckets),
          targetTotal, rawTotal)
        .filter(col("dsir_key") >= minKey)
        .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
    }
  }

  /** Streaming HLL distinct-count profile —
    * [[graft.operators.Sketches]]'s online form: each micro-batch's
    * register table merges (max per (group, bucket)) into a versioned
    * store, so the standing profile answers "distinct users per group so
    * far" at 256 rows/group without ever re-reading history. Replay:
    * [[StoreMaintenance.foldVersion]]; because HLL merge is
    * max-idempotent, even a double-FOLDED batch cannot corrupt the
    * registers. Spec: final store == registers of all batches unioned
    * (fold == rebuild).
    */
  def hllProfileStream(
      rows: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val br = graft.operators.Sketches.hllRegisters(batch, groupCols, valueCol)
        prev.fold(br)(graft.operators.Sketches.mergeHllRegisters(_, br, groupCols))
      }
    }

  /** Streaming quantile-sketch profile — the distribution leg of the
    * online profiling trio next to [[hllProfileStream]] (distinct) and
    * the CMS fold (frequency): each micro-batch's bottom-k row-hash
    * sample ([[graft.operators.Sketches.quantileSketch]]) merges into a
    * versioned store by union + re-cut, so the standing profile answers
    * "p50/p90 so far" at ≤ groups×k rows without re-reading history.
    * Bottom-k merge assumes DISJOINT row sets — a double-merged batch
    * would duplicate (h, v) rows inside the cut — so crash replays must
    * recompute, never re-merge: [[StoreMaintenance.foldVersion]].
    */
  def quantileSketchStream(
      rows: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      idCols: Seq[String],
      k: Int,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bs = graft.operators.Sketches.quantileSketch(batch, groupCols, valueCol, idCols, k)
        prev.fold(bs)(graft.operators.Sketches.mergeQuantileSketch(_, bs, groupCols, k))
      }
    }

  /** Streaming Spearman-sketch profile — the rank-correlation leg of the
    * online profiling family: each micro-batch's bottom-k row-identity
    * pair sample ([[graft.operators.Sketches.spearmanSketch]]) merges
    * into a versioned store by union + re-cut, so the standing profile
    * answers "ρ(x, y) so far" at ≤ groups×k rows without re-reading
    * history ([[graft.operators.Sketches.spearmanSketchReport]] over the
    * latest version). Bottom-k merge assumes DISJOINT row sets, so
    * crash replays recompute, never re-merge:
    * [[StoreMaintenance.foldVersion]].
    */
  def spearmanSketchStream(
      rows: DataFrame,
      groupCols: Seq[String],
      xCol: String,
      yCol: String,
      idCols: Seq[String],
      k: Int,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bs = graft.operators.Sketches.spearmanSketch(
          batch, groupCols, xCol, yCol, idCols, k)
        prev.fold(bs)(graft.operators.Sketches.mergeSpearmanSketch(_, bs, groupCols, k))
      }
    }

  /** Streaming contingency-count fold — the association family's online
    * state: each micro-batch's (group, x, y) count frame
    * ([[graft.quality.Association.contingencyCounts]]) merges into a
    * versioned store, so the standing table answers "chi²/MI/V so far"
    * (via `associationCells` → `associationSummary` over the latest
    * version) at category² rows/group without re-reading history. Counts
    * are ADDITIVE, not idempotent — crash replays must recompute, never
    * re-merge: [[StoreMaintenance.foldVersion]]. Spec: fold == rebuild
    * over all batches.
    */
  def contingencyStream(
      rows: DataFrame,
      keyCols: Seq[String],
      xCol: String,
      yCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.quality.Association.contingencyCounts(batch, keyCols, xCol, yCol)
        prev.fold(bc)(graft.quality.Association.mergeContingencyCounts(_, bc, keyCols))
      }
    }

  /** Streaming token-count fold — the vocabulary family's online state:
    * each micro-batch's per-(keys, token) counts
    * ([[graft.text.CorpusLaws.groupedTokenCounts]]) merge additively
    * into a versioned store, so the standing vocabulary answers "health
    * card so far" ([[graft.text.CorpusLaws.vocabProfileFromCounts]])
    * and "churn vs a fitted base" ([[graft.text.CorpusLaws.vocabChurn]])
    * without re-tokenizing history. Store = keys × vocabulary rows.
    * Replay: [[StoreMaintenance.foldVersion]].
    */
  def tokenCountsStream(
      rows: DataFrame,
      keyCols: Seq[String],
      textCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.text.CorpusLaws.groupedTokenCounts(batch, keyCols, textCol)
        prev.fold(bc)(graft.text.CorpusLaws.mergeTokenCounts(_, bc, keyCols))
      }
    }

  /** Streaming rank-cell fold — the rank-test family's online state:
    * each micro-batch's per-(keys, group, value) counts
    * ([[graft.quality.Association.rankCells]]) merge additively into a
    * versioned store, so the standing cells answer location
    * (`kruskalWallisFromCells`), two-sample (`mannWhitneyFromCells`)
    * AND scale (`brownForsytheFromCells`) over all history at
    * value-cardinality rows (bucket continuous columns first — the
    * q210 discipline). Replay: [[StoreMaintenance.foldVersion]].
    */
  def rankCellsStream(
      rows: DataFrame,
      keyCols: Seq[String],
      groupCol: String,
      valueCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.quality.Association.rankCells(batch, keyCols, groupCol, valueCol)
        prev.fold(bc)(graft.quality.Association.mergeRankCells(_, bc, keyCols))
      }
    }

  /** Streaming value-COUNT fold — the categorical drift family's online
    * state: each micro-batch's per-value counts
    * ([[graft.quality.Profiler.valueCounts]]; NULL is a category) merge
    * additively into a versioned store, so the standing histogram
    * answers χ² ([[graft.quality.Profiler.chiSquareDriftFromCounts]]),
    * JS ([[graft.quality.Association.jsDivergenceFromCounts]]),
    * G ([[graft.quality.Profiler.gTestFromCounts]]) and Hellinger
    * ([[graft.quality.Profiler.hellingerFromCounts]]) against any other
    * store without rescanning history — ONE state, four gated reads.
    * Value cardinality is the store bound (a categorical audit input by
    * contract). Replay: [[StoreMaintenance.foldVersion]].
    */
  def valueCountsStream(
      rows: DataFrame,
      column: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.quality.Profiler.valueCounts(batch, column)
        prev.fold(bc)(graft.quality.Profiler.mergeValueCounts(_, bc))
      }
    }

  /** Streaming value-cell fold — the location/spread/shift family's
    * online state: each micro-batch's per-(keys, value) weight cells
    * ([[graft.operators.Quantiles.valueCells]], unit weights when
    * `weightCol` is None) merge additively into a versioned store, so
    * the standing cells answer "weighted median so far"
    * ([[graft.operators.Quantiles.weightedMedianFromCells]]) and
    * "quantile drift vs any other store"
    * ([[graft.operators.Quantiles.quantileShiftFromCells]]) without
    * re-reading history, at value-cardinality rows (bucket continuous
    * columns first — the q210 discipline). Replay:
    * [[StoreMaintenance.foldVersion]].
    */
  def valueCellsStream(
      rows: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      storePath: String,
      checkpoint: String,
      weightCol: Option[String] = None
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.operators.Quantiles.valueCells(batch, keyCols, valueCol, weightCol)
        prev.fold(bc)(graft.operators.Quantiles.mergeValueCells(_, bc, keyCols))
      }
    }

  /** Streaming lifetime-cell fold — the survival family's online state:
    * each micro-batch's per-(keys, duration) event/censor counts
    * ([[graft.operators.Survival.lifetimeCells]]) merge additively into
    * a versioned store, so the standing cells answer the WHOLE
    * censoring-aware dashboard without rescanning subjects: the KM
    * curve + Greenwood ([[graft.operators.Survival.kaplanMeierFromCells]]),
    * cumulative hazard ([[graft.operators.Survival.nelsonAalenFromCells]]),
    * the log-rank A/B ([[graft.operators.Survival.logRankFromCells]]
    * when `keyCols` ends with the cohort column) and RMST/median via
    * the KM read — ONE state, four reads. Duration cardinality is the
    * store bound (integer durations by contract — bucket continuous
    * times first, the q210 discipline). Replay:
    * [[StoreMaintenance.foldVersion]].
    */
  def lifetimeCellsStream(
      rows: DataFrame,
      keyCols: Seq[String],
      durationCol: String,
      eventCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.operators.Survival.lifetimeCells(batch, keyCols, durationCol, eventCol)
        prev.fold(bc)(graft.operators.Survival.mergeLifetimeCells(_, bc, keyCols))
      }
    }

  /** Streaming A/B moment-cell fold — the experiment dashboard's online
    * state: each micro-batch's per-(arm, peek) unit/conversion counts
    * and exact outcome/covariate moments
    * ([[graft.quality.AbDashboard.abCells]]) merge additively into a
    * versioned store, so the standing cells answer the WHOLE A/B chain
    * in one read ([[graft.quality.AbDashboard.abDashboardFromCells]]:
    * SRM → CUPED → per-arm Wilson → the mSPRT always-valid monitor)
    * without rescanning units. Batches carry COMPLETE units (one row
    * per randomization unit, each unit in exactly one batch — the
    * per-unit fold contract). Arm × peek cardinality is the store
    * bound. Replay: [[StoreMaintenance.foldVersion]].
    */
  def abCellsStream(
      rows: DataFrame,
      armCol: String,
      peekCol: String,
      yCol: String,
      xCol: String,
      hitCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.quality.AbDashboard.abCells(
          batch, armCol, peekCol, yCol, xCol, hitCol)
        prev.fold(bc)(graft.quality.AbDashboard.mergeAbCells(_, bc))
      }
    }

  /** Streaming TWO-COVARIATE ab-cell fold — the vector-CUPED companion
    * of [[abCellsStream]]: each micro-batch's per-(arm, peek)
    * two-covariate moment cells
    * ([[graft.quality.AbDashboard.abCells2]]) merge additively into a
    * versioned store, so the standing state answers the q364
    * vector-CUPED k-arm dashboard
    * ([[graft.quality.AbDashboard.abDashboardKArm2FromCells]]) at
    * (arms × peeks) rows per version. Same complete-unit-per-batch
    * contract as [[abCellsStream]]; replay:
    * [[StoreMaintenance.foldVersion]].
    */
  def abCells2Stream(
      rows: DataFrame,
      armCol: String,
      peekCol: String,
      yCol: String,
      x1Col: String,
      x2Col: String,
      hitCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.quality.AbDashboard.abCells2(
          batch, armCol, peekCol, yCol, x1Col, x2Col, hitCol)
        prev.fold(bc)(graft.quality.AbDashboard.mergeAbCells2(_, bc))
      }
    }

  /** Streaming scorecard-cell fold — the multi-metric companion of
    * [[abCellsStream]]: each micro-batch's per-(metric, arm, peek)
    * conversion cells ([[graft.quality.AbDashboard.scorecardCells]] —
    * ONE row-scale pass per batch, the metric unpivot on the bounded
    * frame) merge additively into a versioned store, so the standing
    * state answers the whole M-metric scorecard read
    * ([[graft.quality.AbDashboard.scorecardFromCells]] — monitors + BH
    * across metrics) at (M × arms × peeks) rows per version. Same
    * complete-unit-per-batch contract as [[abCellsStream]]; replay:
    * [[StoreMaintenance.foldVersion]].
    */
  def scorecardCellsStream(
      rows: DataFrame,
      armCol: String,
      peekCol: String,
      metricCols: Seq[String],
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.quality.AbDashboard.scorecardCells(
          batch, armCol, peekCol, metricCols)
        prev.fold(bc)(graft.quality.AbDashboard.mergeScorecardCells(_, bc))
      }
    }

  /** Streaming paired-diff cell fold — the matched-design companion of
    * [[abCellsStream]]: each micro-batch's per-d difference counts
    * ([[graft.quality.Association.pairedDiffCells]]) merge additively
    * into a versioned store, so ONE diff-cardinality-bounded state
    * answers BOTH matched tests at any fold version
    * ([[graft.quality.Association.pairedTFromCells]] and
    * [[graft.quality.Association.wilcoxonSignedRankFromCells]]). Same
    * complete-unit-per-batch contract as [[abCellsStream]]; replay:
    * [[StoreMaintenance.foldVersion]].
    */
  def pairedDiffCellsStream(
      rows: DataFrame,
      xCol: String,
      yCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.quality.Association.pairedDiffCells(batch, Nil, xCol, yCol)
        prev.fold(bc)(graft.quality.Association.mergePairedDiffCells(_, bc, Nil))
      }
    }

  /** Streaming Kendall cell fold — the τ-b companion of
    * [[contingencyStream]]: per-batch
    * [[graft.quality.Association.kendallCells]] (values keep their
    * ORDERABLE type) merged additively into a versioned store; the
    * standing cells answer "τ-b so far" via `kendallFromCells` at
    * value-cardinality² rows/group (bucket continuous columns first —
    * the q210 discipline — or the cell frame itself grows unbounded).
    * Replay: [[StoreMaintenance.foldVersion]].
    */
  def kendallCellsStream(
      rows: DataFrame,
      keyCols: Seq[String],
      xCol: String,
      yCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.quality.Association.kendallCells(batch, keyCols, xCol, yCol)
        prev.fold(bc)(graft.quality.Association.mergeKendallCells(_, bc, keyCols))
      }
    }

  /** Streaming bucket-count fold — the Wasserstein/drift family's
    * online state: each micro-batch's integer-bucket histogram
    * ([[graft.quality.Profiler.bucketCounts]]) merges additively into a
    * versioned store, so the standing histogram answers "W₁ vs any
    * reference so far" ([[graft.quality.Profiler.wassersteinFromCounts]]
    * over the latest version) at value-cardinality rows. Replay:
    * [[StoreMaintenance.foldVersion]].
    */
  def bucketCountsStream(
      rows: DataFrame,
      column: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.quality.Profiler.bucketCounts(batch, column)
        prev.fold(bc)(graft.quality.Profiler.mergeBucketCounts(_, bc))
      }
    }

  /** Streaming seasonal-profile fold — the monitoring twin of
    * [[graft.operators.TimeSeries.seasonalAnomalies]]: each
    * micro-batch's per-(keys, phase) moment state
    * ([[graft.operators.TimeSeries.seasonalStats]]) merges additively
    * into a versioned store, so the standing profile scores NEW hours
    * against ALL history's phase populations
    * (`seasonalAnomaliesFromStats` over the latest version). Phase
    * cardinality is fixed (24/168), so the store is keys×phase rows
    * forever. Replay: [[StoreMaintenance.foldVersion]].
    */
  def seasonalStatsStream(
      rows: DataFrame,
      keyCols: Seq[String],
      phaseCol: String,
      valueCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bs = graft.operators.TimeSeries.seasonalStats(batch, keyCols, phaseCol, valueCol)
        prev.fold(bs)(graft.operators.TimeSeries.mergeSeasonalStats(_, bs, keyCols, phaseCol))
      }
    }

  /** Streaming A-ES weighted sample — the standing top-k-per-group
    * sample over everything seen so far, folded batch-by-batch: the
    * exponential race key is CONTENT-derived (md5 of the id columns),
    * so top-k(standing ∪ batch-top-k) == top-k(all rows ever) exactly —
    * the classic mergeable-reservoir property, here bit-exact, not just
    * distributionally. Each fold re-runs the race on the deduplicated
    * union (identical rows collapse), which also makes a double-FOLDED
    * crash replay harmless (HLL-like idempotence) on top of
    * [[StoreMaintenance.foldVersion]]'s recompute-on-replay. Store stays
    * ≤ groups×k rows forever.
    */
  def weightedSampleStream(
      rows: DataFrame,
      groupCols: Seq[String],
      idCols: Seq[String],
      weightCol: String,
      k: Int,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bs = graft.operators.Sampling.weightedSampleWithoutReplacement(
          batch, groupCols, idCols, weightCol, k)
        prev.fold(bs) { standing =>
          graft.operators.Sampling.weightedSampleWithoutReplacement(
            standing.drop("l9", "rank").unionByName(bs.drop("l9", "rank"))
              .dropDuplicates(groupCols ++ idCols),
            groupCols, idCols, weightCol, k)
        }
      }
    }

  /** Streaming slot-count fold — the state that makes the WHOLE trend
    * family streaming-capable with one store: each micro-batch's sparse
    * per-(keys, slot) counts ([[graft.operators.TimeSeries.slotCounts]])
    * merge additively into a versioned store; densify the latest
    * version ([[graft.operators.TimeSeries.densifyCounts]]) and run
    * ACF / Mann–Kendall / Theil–Sen / changepoint / seasonal / EWMA
    * over ALL history without re-reading events. Store = keys × active
    * slots (span-bounded). Replay: [[StoreMaintenance.foldVersion]].
    */
  def slotCountsStream(
      rows: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      storePath: String,
      checkpoint: String,
      step: String = "1 hour"
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.operators.TimeSeries.slotCounts(batch, keyCols, tsCol, step)
        prev.fold(bc)(graft.operators.TimeSeries.mergeSlotCounts(_, bc, keyCols))
      }
    }

  final case class DebounceEvent(key: String, event_id: Long, ts_sec: Long)

  /** Streaming debounce — [[graft.operators.TimeSeries.debounce]]'s
    * stateful twin: per-key GroupState carries ONE number (the last
    * SEEN event's ts — gap-CHAIN semantics track the last event, kept
    * or not), each micro-batch folds in (ts_sec, event_id) order, and
    * chain-head events emit. Same cross-batch contract as
    * [[funnelStream]]: in-order arrival per key reproduces the batch
    * result exactly (spec-asserted); late events apply in arrival
    * order. Bounded state: one long per key.
    */
  def debounceStream(
      events: Dataset[DebounceEvent],
      cooldownSec: Long
  ): Dataset[DebounceEvent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[Long, DebounceEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()
      ) { case (_, rows, state: GroupState[Long]) =>
        var last = state.getOption.getOrElse(Long.MinValue)
        val kept = Seq.newBuilder[DebounceEvent]
        rows.toSeq.sortBy(e => (e.ts_sec, e.event_id)).foreach { e =>
          if (last == Long.MinValue || e.ts_sec - last >= cooldownSec) kept += e
          last = e.ts_sec
        }
        state.update(last)
        kept.result().iterator
      }
  }

  final case class CusumPoint(key: String, t: Long, v: Long)
  final case class CusumState(s_hi: Long, s_lo: Long)
  final case class CusumAlarm(key: String, t: Long, side: String, stat: Long)

  /** Streaming CUSUM with RESET — the form [[graft.operators.TimeSeries
    * .cusum]]'s window unrolling explicitly cannot express (a
    * post-alarm reset is a sequential recurrence): per-key GroupState
    * carries the classical (S⁺, S⁻) pair, each micro-batch folds its
    * points in `t` order with S = max(0, S + (v − target)) per side, an
    * alarm row emits whenever a side crosses `threshold`, and THAT SIDE
    * resets to 0 (the other keeps accumulating — a mean shift up says
    * nothing about the low chart). Same cross-batch contract as
    * debounce/funnel: in-order arrival per key reproduces the
    * sequential chart exactly (spec-asserted vs a driver-side recursive
    * reference); state is two longs per key.
    */
  def cusumStream(
      points: Dataset[CusumPoint],
      target: Long,
      threshold: Long
  ): Dataset[CusumAlarm] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()
      ) { case (key, rows, state: GroupState[CusumState]) =>
        var s = state.getOption.getOrElse(CusumState(0L, 0L))
        val alarms = Seq.newBuilder[CusumAlarm]
        rows.toSeq.sortBy(_.t).foreach { p =>
          var hi = math.max(0L, s.s_hi + (p.v - target))
          var lo = math.max(0L, s.s_lo + (target - p.v))
          if (hi > threshold) { alarms += CusumAlarm(key, p.t, "hi", hi); hi = 0L }
          if (lo > threshold) { alarms += CusumAlarm(key, p.t, "lo", lo); lo = 0L }
          s = CusumState(hi, lo)
        }
        state.update(s)
        alarms.result().iterator
      }
  }

  final case class EwmaPoint(key: String, t: Long, v: Long)
  final case class EwmaState(recent: Seq[Long])
  final case class EwmaOut(key: String, t: Long, v: Long, ewma: Double,
      breach_hi: Boolean, breach_lo: Boolean)

  /** Streaming EWMA chart — [[graft.operators.TimeSeries.ewmaChart]]'s
    * stateful twin with the SAME truncated-kernel definition (λ = 1/4,
    * 32 lags, integer weights 3^k·4^(31−k)): per-key GroupState carries
    * the last ≤32 observations (newest first), each micro-batch folds
    * its points in `t` order, and every point emits its exact
    * num/den — BigInt arithmetic, so the breach flags are the SAME
    * integer comparisons as the window form (in-order arrival per key
    * reproduces the batch chart exactly; spec-asserted, flags
    * bit-identical, ewma to the decimal→double cast ulp). Bounded
    * state: ≤32 longs per key — the truncation is what makes the
    * streaming form possible at all (the classical recursion's float
    * state would drift from the batch chart; the kernel's is exact).
    */
  def ewmaStream(
      points: Dataset[EwmaPoint],
      target: Long,
      band: Long
  ): Dataset[EwmaOut] = {
    import points.sparkSession.implicits._
    val Lags = 32
    // 3^k exact by iterative multiplication — same contract note as
    // TimeSeries.ewmaChart (pow().toLong truncation hazard)
    val weights: IndexedSeq[BigInt] =
      (0 until Lags).map(k => (BigInt(3) pow k) * (BigInt(1) << (2 * (Lags - 1 - k))))
    points
      .groupByKey(_.key)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()
      ) { case (key, rows, state: GroupState[EwmaState]) =>
        var recent = state.getOption.map(_.recent.toList).getOrElse(Nil)
        val out = Seq.newBuilder[EwmaOut]
        rows.toSeq.sortBy(_.t).foreach { p =>
          recent = (p.v :: recent).take(Lags)
          val num = recent.iterator.zipWithIndex
            .map { case (x, k) => weights(k) * BigInt(x) }.sum
          val den = recent.indices.map(weights(_)).sum
          out += EwmaOut(key, p.t, p.v, num.toDouble / den.toDouble,
            num > BigInt(target + band) * den,
            num < BigInt(target - band) * den)
        }
        state.update(EwmaState(recent))
        out.result().iterator
      }
  }

  final case class FunnelEvent(user_id: Long, event_id: Long, ts_sec: Long, event_type: String)
  final case class FunnelState(step_idx: Int, t1_sec: Long)
  final case class FunnelProgress(user_id: Long, steps_completed: Int)

  /** Streaming funnel — [[graft.operators.Funnel.stepsCompleted]]'s
    * stateful twin: per-user GroupState carries (step_idx, step1_ts),
    * each micro-batch's events fold in (ts_sec, event_id) order with
    * the SAME greedy advance rule, and a row emits whenever a user's
    * step count changes (Update-style progress feed). Cross-batch
    * ordering contract: state only ever ADVANCES, so in-order arrival
    * per user reproduces the batch result exactly (spec-asserted);
    * an event arriving after a later-timestamped one was already folded
    * is applied in arrival order — the streaming analogue of the batch
    * operator's greedy determinism, bounded state (3 numbers per user).
    */
  def funnelStream(
      events: Dataset[FunnelEvent],
      steps: Seq[String],
      spanSec: Long
  ): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    val k = steps.size
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()
      ) { case (userId, rows, state: GroupState[FunnelState]) =>
        var st = state.getOption.getOrElse(FunnelState(0, 0L))
        val before = st.step_idx
        rows.toSeq.sortBy(e => (e.ts_sec, e.event_id)).foreach { e =>
          if (st.step_idx < k && e.event_type == steps(st.step_idx) &&
              (st.step_idx == 0 || e.ts_sec - st.t1_sec <= spanSec)) {
            st = FunnelState(st.step_idx + 1,
              if (st.step_idx == 0) e.ts_sec else st.t1_sec)
          }
        }
        if (st.step_idx != before) {
          state.update(st)
          Iterator(FunnelProgress(userId, st.step_idx))
        } else Iterator.empty
      }
  }

  /** Streaming exact-substring scrub — [[graft.dedup.ExactSubstr]]'s
    * online form: each micro-batch of arriving docs is scrubbed against
    * the standing gram store (store-owned ≥ k-token runs drop at any
    * alignment; within-batch duplicates keep their batch-first), the
    * cleaned docs land under `outPath/batch_id=<n>` (overwrite —
    * idempotent replay), and the batch's gram store folds into a
    * versioned store dir through [[StoreMaintenance.foldVersion]], so a
    * crash-replayed batch recomputes rather than double-merges — the
    * min/sum fold never sees its own output. Per batch: one gram pass
    * over the batch, the corpus-sized store semi-filtered against the
    * batch keys before any join.
    */
  def exactSubstrStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      storePath: String,
      outPath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(docs, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val store = prev.getOrElse(
          batch.sparkSession.emptyDataFrame.select(lit("").as("h"), lit(0L).as("freq"),
            lit(0L).as("first_code")).limit(0))
        graft.dedup.ExactSubstr.incrementalScrub(store, batch, idCol, textCol, k)
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        val bs = graft.dedup.ExactSubstr.gramStore(batch, idCol, textCol, k)
        prev.fold(bs)(graft.dedup.ExactSubstr.mergeGramStore(_, bs))
      }
    }

  /** Streaming Count-Min frequency fold — [[hllProfileStream]]'s
    * frequency twin. Cell-wise SUM is not idempotent (a re-merged batch
    * would double-count), so replay safety leans entirely on
    * [[StoreMaintenance.foldVersion]]: v=<batchId> is always recomputed
    * from the latest version strictly below it. The standing counter
    * table stays ≤ depth·width cells regardless of history.
    */
  def cmsProfileStream(
      rows: DataFrame,
      valueCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bc = graft.operators.Sketches.cmsCounters(batch, valueCol)
        prev.fold(bc)(graft.operators.Sketches.mergeCms(_, bc))
      }
    }

  /** Streaming ROC-AUC — the online leg of the evaluation trio next to
    * the HLL/CMS/quantile-sketch profile folds: each micro-batch of
    * labeled scores rolls into its per-distinct-score histogram
    * ([[graft.operators.RankEval.aucHistogram]] — plain pos/neg sums,
    * so the fold over disjoint batches IS the rebuild, spec-asserted),
    * merged into a versioned store; the standing state answers "AUC so
    * far" at score-cardinality rows via `aucFromHistogram` without
    * re-scoring history. Sum-merge is NON-idempotent, so a crash replay
    * recomputes, never re-merges: [[StoreMaintenance.foldVersion]].
    */
  def aucHistogramStream(
      rows: DataFrame,
      idCol: String,
      scoreCol: String,
      labelCol: String,
      storePath: String,
      checkpoint: String
  ): StreamingQuery =
    eachBatch(rows, checkpoint) { (batch, batchId) =>
      StoreMaintenance.foldVersion(batch, batchId, storePath) { prev =>
        val bh = graft.operators.RankEval.aucHistogram(
          batch.select(col(idCol), col(scoreCol)),
          batch.select(col(idCol), col(labelCol)),
          idCol, scoreCol, labelCol)
        prev.fold(bh)(graft.operators.RankEval.mergeAucHistogram(_, bh))
      }
    }

  /** Runs `f` on every micro-batch of `df` until the input available at
    * start is drained (`AvailableNow`), checkpointing to `checkpoint`.
    */
  private def eachBatch(df: DataFrame, checkpoint: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .foreachBatch(f)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** File-based streaming read of the events parquet, normalizing the
    * nanosecond ts (read as long under nanosAsLong) to a µs timestamp like
    * Tables.events does for the batch path.
    */
  def readEventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    // file-stream source requires a directory: stream the sf dir filtered
    // down to the events file
    val stream = spark.readStream.schema(raw.schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // naive micros under NTZ inference: watermarks need LTZ (see
        // Tables.normalizeNtz); under a UTC session the cast is exact
        stream.withColumn("ts", col("ts").cast("timestamp"))
      case _ => stream
    }
  }
}
