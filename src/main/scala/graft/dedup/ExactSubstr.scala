package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact-substring deduplication — the suffix-array family's semantics
  * (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
  * Better", arXiv:2107.06499 — public): any run of ≥ k tokens that
  * occurs more than once ACROSS the corpus is removed from every
  * occurrence but the first. Where [[SpanDedup]] chops documents into
  * NON-overlapping spans (fast, alignment-sensitive), this operator
  * matches at every token offset — the published standard a user asks
  * for after MinHash, because a duplicated passage is caught no matter
  * how it is shifted against the span grid.
  *
  * Spark-first formulation (a distributed suffix array is the wrong
  * tool on an engine with hash aggregation): a ≥ k-token duplicated run
  * is exactly a maximal chain of OVERLAPPING duplicated k-grams, so
  *   1. key every position by its k-token gram (60-bit md5 — the
  *      [[SpanDedup.spanKey]] discipline: the exchange carries 15-byte
  *      keys, never text);
  *   2. find corpus-duplicated grams with a count + min-(id,pos)
  *      aggregate — the [[LineDedup]] skew contract: partial aggregation
  *      absorbs a billion-repeat boilerplate gram map-side, and
  *      first-occurrence is an argmin over a packed integer, never a
  *      window over the corpus;
  *   3. per document, merge duplicated positions into maximal removal
  *      islands with a NARROW zip_with/array_compact pass (O(positions)
  *      per doc, no per-doc fold, no corpus window) and rewrite with an
  *      indexed `filter` over the token array.
  *
  * Tokenization is the repo-wide single-space split so any engine
  * replays it byte-for-byte; the DuckDB oracle (q124) re-derives gram
  * keys, duplicate detection and coverage INDEPENDENTLY (it expands
  * each duplicated position to its covered token set — a different
  * formulation than the island merge, same semantics — so the two
  * implementations cross-check).
  *
  * Memory bound: reassembly buffers one document's duplicated-position
  * list (≤ tokens ≤ 2^20 ints) in the aggregation buffer — the
  * [[SpanDedup.removeDuplicateSpans]] contract: peak per-task memory is
  * the largest single document, never the corpus.
  */
object ExactSubstr {

  /** Positions pack into [[LineDedup.PosBits]] low bits of the
    * first-occurrence code: pos < 2^20 tokens per doc, id < 2^43.
    */
  val PosBits: Int = LineDedup.PosBits

  /** Packed (id, pos) first-occurrence code with the per-row overflow
    * fail-fast — a silent wrap would elect a wrong first owner.
    */
  private def encodedCode(id: Column, pos: Column): Column =
    when(pos < lit(1L << PosBits) &&
         id.cast("long") < lit(1L << (63 - PosBits)),
      shiftleft(id.cast("long"), PosBits) + pos)
      .otherwise(raise_error(
        format_string("ExactSubstr (id,pos) encoding overflow: id=%s pos=%s",
          id, pos)))

  /** (idCol, pos, h): ALL overlapping k-token gram keys of every
    * document, one row per token position (a doc with n tokens yields
    * n−k+1 rows; docs shorter than k yield none). One narrow codegen'd
    * pass builds the per-position key array, then a single posexplode.
    */
  def grams(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val words = split(col(textCol), " ")
    val g = size(words) - k + 1
    val idxs = when(g >= 1, sequence(lit(0), g - 1))
      .otherwise(array().cast("array<int>"))
    val keys = transform(idxs, p =>
      substring(md5(to_binary(array_join(slice(words, p + 1, lit(k)), " "),
        lit("utf-8"))), 1, 15))
    df.select(col(idCol), posexplode(keys).as(Seq("pos", "h")))
  }

  /** Scrub every non-first occurrence of each corpus-duplicated
    * ≥ k-token run. Returns (idCol, text_clean, n_tokens, n_removed);
    * a document whose every token is covered keeps its row with empty
    * text (the [[LineDedup.scrub]] convention).
    *
    * Plan shape: one gram shuffle (15-byte keys) into a count+argmin
    * aggregate FILTERED to duplicated grams before the join back — the
    * overwhelmingly-unique gram mass never joins; one per-doc
    * aggregation; the island merge and rewrite are narrow.
    */
  def scrub(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    scrub(df, idCol, textCol, k, persistGrams = true)

  /** As [[scrub]]; `persistGrams` controls whether the gram frame is
    * persisted (MEMORY_AND_DISK) between its two consumers — the dup
    * aggregate and the join-back. The kernel (one md5 per token
    * position) is ~2/3 of the operator's cost, so recomputing it is a
    * measured ~1.5× slowdown (sf0.1, SURVEY §5.8); at 100 TB the same
    * trade holds — gram rows are ~40 bytes/position, far cheaper to
    * spill than to rebuild from text. Pass false only when executor
    * storage is the binding constraint. The persisted RDD is released
    * by the ContextCleaner once the returned frame is unreferenced.
    */
  def scrub(df: DataFrame, idCol: String, textCol: String, k: Int,
      persistGrams: Boolean): DataFrame = {
    val grRaw = grams(df, idCol, textCol, k)
      .withColumn("__code", encodedCode(col(idCol), col("pos")))
    val gr = if (persistGrams)
      grRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else grRaw
    val dupGrams = gr.groupBy("h")
      .agg(count(lit(1)).as("__freq"), min("__code").as("__fc"))
      .filter(col("__freq") > 1)
    val dupPos = gr.join(dupGrams, Seq("h"))
      .filter(col("__code") =!= col("__fc"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(col("pos"))).as("__ps"))
    rewrite(df, idCol, textCol, k, dupPos)
  }

  /** Rewrite `df` dropping tokens covered by any duplicated position's
    * [p, p+k) window. `dupPos` carries (idCol, __ps sorted positions).
    * Islands: consecutive positions p, q merge when q ≤ p + k (their
    * windows overlap or touch); starts/ends fall out of a zip against
    * the shifted array — O(|__ps|) narrow, no fold, no quadratic copy.
    */
  private def rewrite(df: DataFrame, idCol: String, textCol: String, k: Int,
      dupPos: DataFrame): DataFrame = {
    val words = split(col(textCol), " ")
    val ps = coalesce(col("__ps"), array().cast("array<int>"))
    val m = size(ps)
    val prev = concat(array(lit(Int.MinValue / 2)), slice(ps, lit(1), greatest(m - 1, lit(0))))
    val nxt = concat(slice(ps, lit(2), greatest(m - 1, lit(0))), array(lit(Int.MaxValue / 2)))
    val starts = array_compact(zip_with(ps, prev, (p, q) => when(p - q > k, p)))
    val ends = array_compact(zip_with(ps, nxt, (p, q) => when(q - p > k, p + k)))
    val ivs = zip_with(starts, ends, (s, e) => struct(s.as("s"), e.as("e")))
    val kept = filter(words, (_, i) =>
      !exists(ivs, iv => i >= iv.getField("s") && i < iv.getField("e")))
    df.join(dupPos, Seq(idCol), "left")
      .select(col(idCol),
        array_join(kept, " ").as("text_clean"),
        size(words).cast("long").as("n_tokens"),
        (size(words) - size(kept)).cast("long").as("n_removed"))
  }

  /** Persistable gram store — one row per DISTINCT gram key with its
    * corpus frequency and first-occurrence code. Persist THIS, never
    * raw grams: 15 bytes + two longs per distinct gram.
    */
  def gramStore(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    grams(df, idCol, textCol, k)
      .select(col("h"), encodedCode(col(idCol), col("pos")).as("__code"))
      .groupBy("h").agg(count(lit(1)).as("freq"), min("__code").as("first_code"))

  /** Fold a batch's gram store into the corpus store — frequencies add,
    * the first owner is the min of both sides (same result as
    * rebuilding [[gramStore]] over the union, spec-asserted).
    */
  def mergeGramStore(store: DataFrame, batchStore: DataFrame): DataFrame =
    store.unionByName(batchStore)
      .groupBy("h").agg(sum("freq").as("freq"), min("first_code").as("first_code"))

  /** [[scrub]]'s online form (the [[LineDedup.incrementalScrub]]
    * contract — each ingest pays for its batch, never the corpus): a
    * batch gram occurrence is scrubbed iff its key is in the store
    * (store owns the first occurrence) OR it repeats within the batch
    * and is not the batch's own first. Equals the full rebuild
    * restricted to the batch when batch ids sort after store ids
    * (spec-asserted). Fold the batch in afterwards with
    * `mergeGramStore(store, gramStore(batch, …))`.
    *
    * @param broadcastBatch the store side is semi-filtered against the
    *   batch key set before any wide join; default assumes an
    *   ingest-sized batch (broadcast), pass false for an oversized one
    *   (shuffled semi-join — same result, one more exchange).
    */
  def incrementalScrub(
      store: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      broadcastBatch: Boolean = true
  ): DataFrame = {
    // batch-sized: persisting between the two consumers (agg + join) is
    // always safe and skips the second gram-kernel pass (see scrub)
    val gr = grams(batch, idCol, textCol, k)
      .withColumn("__code", encodedCode(col(idCol), col("pos")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchAgg = gr.groupBy("h")
      .agg(count(lit(1)).as("__bf"), min("__code").as("__bfc"))
    def hinted(d: DataFrame): DataFrame = if (broadcastBatch) broadcast(d) else d
    val storeHits = store.join(hinted(batchAgg.select("h")), Seq("h"), "left_semi")
      .select(col("h"), lit(1).as("__in_store"))
    val dupPos = gr.join(batchAgg, Seq("h"))
      .join(hinted(storeHits), Seq("h"), "left")
      .filter(col("__in_store").isNotNull ||
        (col("__bf") > 1 && col("__code") =!= col("__bfc")))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(col("pos"))).as("__ps"))
    rewrite(batch, idCol, textCol, k, dupPos)
  }
}
