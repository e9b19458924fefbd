package graft.streaming

/** The standing-store catalog — one machine-checkable row per store
  * family the engine folds or reads, so the 100 TB ops story (what
  * state exists, how it folds, how it replays, how it is PRUNED) is
  * auditable in one place instead of fifteen scaladocs. SURVEY §8
  * renders this table; StoreCatalogSpec asserts (a) every streaming
  * fold that writes a store path is cataloged — parsed from the source,
  * so a new fold without a catalog row fails the build — and (b) every
  * layout has a working prune path.
  *
  * Layouts and their prune/replay contracts:
  *
  *   - [[FlatVersioned]] — `v=<batchId>` dirs, each a COMPLETE merged
  *     state (cardinality-bounded, never row-scale), written only by
  *     [[StoreMaintenance.foldVersion]], which reads the latest version
  *     STRICTLY BELOW the current batch id (deterministic
  *     recompute-on-replay), so pruning to `keepLast ≥ 2` via
  *     [[StoreMaintenance.pruneVersions]] loses time-travel only.
  *   - [[AppendPartitioned]] — `batch_id=<n>` partitions, each holding
  *     only its own batch's rows; readers union every partition, so all
  *     of them are live data and there is nothing to prune (a replay
  *     overwrites its own partition).
  *   - [[BucketVersioned]] — `bucket=<b>/v=<v>`; only TOUCHED buckets
  *     rewrite per batch (O(touched) ingest); write-time retain keeps
  *     {latest-below, current} per touched bucket and
  *     [[StoreMaintenance.pruneBucketVersions]] reclaims the rest; same
  *     strictly-below replay per bucket.
  *   - [[FrozenSnapshot]] — a single immutable parquet artifact built
  *     once and read by streams/queries (reference models, ANN
  *     indexes); "prune" = rebuild/replace the snapshot, there is no
  *     version accumulation to reclaim.
  *   - [[EngineWatermark]] — Spark Structured Streaming's own operator
  *     state (dedup-within-watermark, session windows); the WATERMARK
  *     is the prune path — state older than it is dropped by the engine
  *     every trigger.
  *   - [[NamedTable]] — the bdq-parity [[graft.pipeline.StateStore]]
  *     named-table layout; `StateStore.clean(name)` is the prune path.
  */
object StoreCatalog {

  sealed trait Layout { def prunePath: String }
  case object FlatVersioned extends Layout {
    val prunePath = "StoreMaintenance.pruneVersions(keepLast >= 2)"
  }
  case object AppendPartitioned extends Layout {
    val prunePath = "none: every partition is live data"
  }
  case object BucketVersioned extends Layout {
    val prunePath =
      "VersionedBuckets.retain at write + StoreMaintenance.pruneBucketVersions"
  }
  case object FrozenSnapshot extends Layout {
    val prunePath = "rebuild/replace the snapshot (no version accumulation)"
  }
  case object EngineWatermark extends Layout {
    val prunePath = "the stream's watermark (engine-dropped state)"
  }
  case object NamedTable extends Layout {
    val prunePath = "StateStore.clean(name)"
  }

  /** One store family: the fold (or builder) that writes it, what one
    * version holds and its size bound, the layout (→ prune path), and
    * the gates that pin it.
    */
  final case class StoreFamily(
      name: String,
      fold: String,
      state: String,
      layout: Layout,
      gates: String)

  val All: Seq[StoreFamily] = Seq(
    // --- append-partitioned (batch_id=<n>) ---------------------------------
    StoreFamily("bm25-postings", "StreamingOps.bm25IndexStream",
      "per-batch BM25 postings + raw corpus stats; corpus-scale (grows with the docs)",
      AppendPartitioned, "q99 prebuilt twin; Bm25 fold==rebuild spec"),
    // --- flat versioned folds (v=<batchId>) -----------------------------
    StoreFamily("hll-profile", "StreamingOps.hllProfileStream",
      "per-column HLL registers; fixed register width", FlatVersioned,
      "q56/q57 sketch gates; StreamingSpec fold==rebuild"),
    StoreFamily("quantile-sketch", "StreamingOps.quantileSketchStream",
      "mergeable rank sketch; compression-bounded", FlatVersioned,
      "q154; sketch merge spec"),
    StoreFamily("spearman-sketch", "StreamingOps.spearmanSketchStream",
      "bucketed rank cells; bucket²-bounded", FlatVersioned,
      "q197 family; fold==rebuild spec"),
    StoreFamily("contingency-cells", "StreamingOps.contingencyStream",
      "(x, y) count cells; value-cardinality²-bounded", FlatVersioned,
      "q200/q201 reads; fold==rebuild spec"),
    StoreFamily("token-counts", "StreamingOps.tokenCountsStream",
      "per-token counts; vocabulary-bounded", FlatVersioned,
      "corpus-law reads; fold==rebuild spec"),
    StoreFamily("rank-cells", "StreamingOps.rankCellsStream",
      "score-bucket label cells; bucket-bounded", FlatVersioned,
      "q168 AUC-from-store; fold==rebuild spec"),
    StoreFamily("value-counts", "StreamingOps.valueCountsStream",
      "per-value counts (NULL a category); value-cardinality-bounded",
      FlatVersioned, "q278-family drift reads (chi2/JS/G/Hellinger)"),
    StoreFamily("value-cells", "StreamingOps.valueCellsStream",
      "(keys, value) weight cells; value-cardinality-bounded", FlatVersioned,
      "weighted-median / quantile-shift reads"),
    StoreFamily("lifetime-cells", "StreamingOps.lifetimeCellsStream",
      "(keys, duration) event/censor cells; duration-cardinality-bounded",
      FlatVersioned, "q294/q295/q301/q302 from-store survival gates"),
    StoreFamily("ab-cells", "StreamingOps.abCellsStream",
      "(arm, peek) unit/conversion counts + exact moments; arm×peek-bounded",
      FlatVersioned, "q327 from-store dashboard; AbDashboardSpec streaming fold"),
    StoreFamily("ab-cells2", "StreamingOps.abCells2Stream",
      "(arm, peek) counts + exact TWO-covariate moments; arm×peek-bounded",
      FlatVersioned,
      "q364 vector-CUPED k-arm dashboard; AbDashboardSpec streaming fold"),
    StoreFamily("scorecard-cells", "StreamingOps.scorecardCellsStream",
      "(metric, arm, peek) unit/conversion counts; M×arm×peek-bounded",
      FlatVersioned, "q348 from-store scorecard; AbDashboardSpec streaming fold"),
    StoreFamily("paired-diff-cells", "StreamingOps.pairedDiffCellsStream",
      "per-difference counts (zeros included); diff-cardinality-bounded",
      FlatVersioned,
      "q354/q355 from-store paired tests; TrendStatsSpec streaming fold"),
    StoreFamily("kendall-cells", "StreamingOps.kendallCellsStream",
      "(x, y) orderable cells; value-cardinality²-bounded", FlatVersioned,
      "tau-b from-cells reads"),
    StoreFamily("bucket-counts", "StreamingOps.bucketCountsStream",
      "integer-bucket histogram; bucket-bounded", FlatVersioned,
      "W1 / KS / CvM / AD drift reads (q280/q282/q303/q304)"),
    StoreFamily("seasonal-stats", "StreamingOps.seasonalStatsStream",
      "per-slot moment cells; slot-bounded", FlatVersioned,
      "seasonality reads; fold==rebuild spec"),
    StoreFamily("weighted-sample", "StreamingOps.weightedSampleStream",
      "bounded weighted sample (deterministic keys); k-bounded", FlatVersioned,
      "sampling gates; fold==rebuild spec"),
    StoreFamily("slot-counts", "StreamingOps.slotCountsStream",
      "per-slot counts; slot-bounded", FlatVersioned,
      "calendar-profile reads"),
    StoreFamily("exact-substr-grams", "StreamingOps.exactSubstrStream",
      "gram fingerprint store; gram-cardinality-bounded", FlatVersioned,
      "exact-substring dedup incremental gate"),
    StoreFamily("cms-profile", "StreamingOps.cmsProfileStream",
      "CMS registers; fixed width×depth", FlatVersioned,
      "heavy-hitter reads; CMS merge spec"),
    StoreFamily("auc-histogram", "StreamingOps.aucHistogramStream",
      "score-bucket pos/neg cells; bucket-bounded", FlatVersioned,
      "q311 calibration-from-store; AUC reads"),
    // --- bucketed versioned folds (bucket=<b>/v=<v>) --------------------
    StoreFamily("span-store", "StreamingOps.spanDedupStream",
      "per-bucket span fingerprints; O(touched) rewrite", BucketVersioned,
      "span/line dedup incremental gates"),
    StoreFamily("assign-store", "StreamingOps.clusterStream + semanticDedupStream",
      "per-bucket cluster assignments; O(touched) rewrite", BucketVersioned,
      "q93/q97/q113 CC + semantic dedup folds"),
    // --- frozen reference snapshots --------------------------------------
    StoreFamily("ann-indexes", "similarity.{Knn,Pq,GraphAnn} builders",
      "IVF cells / PQ codebooks / graph adjacency; corpus-build artifacts",
      FrozenSnapshot, "q143/q149/q166 recall gates; prebuilt twins"),
    StoreFamily("reference-models", "text.{Dsir,LmScore,Bpe} builders",
      "n-gram importance / LM / BPE vocab snapshots", FrozenSnapshot,
      "DSIR / perplexity / BPE gates (read frozen by admission streams)"),
    // --- engine-managed state --------------------------------------------
    StoreFamily("stream-dedup-state", "StreamingOps.dedupStream",
      "engine dedup keys within watermark", EngineWatermark,
      "StreamingSpec watermark dedup"),
    StoreFamily("session-state", "StreamingOps.sessionsPerHour",
      "session windows + downstream agg state", EngineWatermark,
      "StreamingSpec chained stateful query"),
    // --- bdq-parity named tables ------------------------------------------
    StoreFamily("pipeline-state", "pipeline.StateStore",
      "named state tables (filterExpr reads)", NamedTable,
      "StateStore spec (filterExpr, clean)")
  )

  /** Folds that write versioned stores but are cataloged under another
    * row's fold string — the completeness spec resolves these aliases.
    */
  val FoldAliases: Map[String, String] = Map(
    "semanticDedupStream" -> "assign-store",
    "annStream" -> "ann-indexes" // reads frozen snapshots, writes outPath results
  )
}
