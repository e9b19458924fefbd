package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact deduplication: hash-groupBy on the content key, keep the smallest
  * id per group. Content is hashed (sha2-256) before the shuffle so the
  * exchange carries 32 bytes/row instead of full documents — the difference
  * between shuffling 100 TB of text and shuffling ~3 TB of digests.
  */
object ExactDedup {

  /** One row per distinct content value: keeper id + copy count. */
  def groups(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.select(col(idCol), sha2(col(contentCol), 256).as("__ck"))
      .groupBy(col("__ck"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("__ck")

  /** The deduplicated dataset itself (all columns of the keeper row). */
  def dedup(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val w = Window.partitionBy(sha2(col(contentCol), 256)).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Digest frame of a corpus: one `digest` row per distinct content —
    * what an ingestion pipeline persists between batches (32 bytes/doc,
    * not the documents).
    */
  def digests(df: DataFrame, contentCol: String): DataFrame =
    df.select(sha2(col(contentCol), 256).as("digest")).distinct()

  /** Incremental exact dedup: dedup `incoming` within itself, then drop
    * rows whose content digest already exists in `seen` (the persisted
    * [[digests]] of everything ingested so far). The anti-join shuffles
    * digests only; at corpus scale the seen set dwarfs each batch, so the
    * join partitions on the batch side stay small and AQE can broadcast
    * the batch if it is tiny.
    */
  def incremental(
      incoming: DataFrame,
      idCol: String,
      contentCol: String,
      seen: DataFrame
  ): DataFrame =
    dedup(incoming, idCol, contentCol)
      .join(seen, sha2(col(contentCol), 256) === seen("digest"), "left_anti")
}

/** Shared text-shingling helpers for the near-dup family. */
object Shingles {
  /** Lower-cased whitespace tokens. */
  def tokens(textCol: Column): Column =
    split(trim(lower(textCol)), "\\s+")
}

/** Shared LSH blocking: turn (band, bh, id, payload) rows into unique
  * in-bucket candidate pairs WITHOUT a self-join. Buckets are collected
  * (bounded by maxBucketSize) and pairs generated in-place — one shuffle
  * total, no recomputation of the upstream fingerprint lineage on two join
  * branches, and degenerate buckets are dropped before anything quadratic.
  */
private[dedup] object LshBlocking {
  /** exploded must have (band, bh, id). Returns unique (id_a < id_b) pairs.
    * Pairs are generated id-only — payloads (signatures/fingerprints) are
    * joined back AFTER pair dedup by the caller, so the quadratic step and
    * the dedup shuffle move 16-byte rows, not signature arrays.
    */
  def bucketPairs(exploded: DataFrame, maxBucketSize: Int): DataFrame =
    exploded.groupBy(col("band"), col("bh"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")).between(2, maxBucketSize))
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> transform(slice(ids, i + 2, size(ids)), y -> struct(least(x, y) as id_a, greatest(x, y) as id_b))))"
      )).as("pr"))
      .select(col("pr.id_a").as("id_a"), col("pr.id_b").as("id_b"))
      .dropDuplicates("id_a", "id_b")

  /** Join a (id, p) payload frame onto deduped id pairs as p_a / p_b. */
  def attachPayloads(pairs: DataFrame, payloads: DataFrame): DataFrame =
    pairs
      .join(payloads.select(col("id").as("id_a"), col("p").as("p_a")), Seq("id_a"))
      .join(payloads.select(col("id").as("id_b"), col("p").as("p_b")), Seq("id_b"))
}

/** MinHash + LSH near-duplicate detection.
  *
  * Pipeline (all DataFrame ops, one narrow pass to signatures, one shuffle
  * to band buckets, one shuffle for the pair join):
  *   tokens → word k-grams → xxhash64 per gram → n affine permutations
  *   (min per permutation) → signature → b bands of r rows → explode bands →
  *   self-join on band hash → estimated jaccard from signature agreement.
  *
  * Scale: bucket width is capped (`maxBucketSize`) so a degenerate band
  * (e.g. empty documents) cannot go quadratic; band hashing keys are
  * (band index, band hash) so all bands share one shuffle. Signatures are
  * fixed 8·n bytes/doc regardless of document size.
  */
object MinHashLsh {

  // The permutation scheme (affine mod-p, p > 2^32 — a plain a*h + b is
  // MONOTONE in h and degenerates the estimator to 0/1, caught by the q21
  // oracle) lives in graft.functions.MinHashSignature, the native
  // expression that computes signatures.

  /** Version of the signature byte contract (gram hashing + permutation
    * scheme). Persisted signature stores are only join-compatible with
    * batches signed under the SAME version — [[signatures]] stamps it on
    * the `sig` column's schema metadata (parquet-persistent) and
    * [[incrementalBlockedPairs]] REQUIRES a match, because a silent
    * mismatch does not error: cross batch/store near-dup recall just
    * drops to ~zero.
    * v2: grams hash as murmur-mixed per-token hashes (was: stringHash of
    * the joined gram text). v3: token hashes are murmur3 over raw UTF-8
    * bytes inside the native [[graft.functions.MinHashSignature]]
    * expression (was: scala stringHash over chars).
    */
  val SignatureFormatVersion: Int = 3

  /** id + minhash signature (array<bigint> of length numHashes).
    * Tokenization is a codegen'd split; shingling, gram hashing and the
    * n-way min run in the NATIVE [[graft.functions.MinHashSignature]]
    * Catalyst expression — token hashes read UTF8String bytes in place
    * (no ScalaUDF ArrayData→Seq[String] conversion, no per-token String),
    * grams mix the k token hashes order-dependently, and the expression
    * stays inside the projection's whole-stage codegen. Documents with
    * fewer than k tokens (and NULL text) drop out. Narrow (no shuffle),
    * so the distributed plan is unchanged.
    *
    * The drop filters on `size(tokens) >= k` — the exact condition under
    * which the signature is non-NULL — not on `sig IS NOT NULL`: Catalyst
    * pushes the filter below [[graft.sources.Layout.ensureParallelism]]'s
    * exchange, and a pushed `sig IS NOT NULL` ran the minhash kernel a
    * second time, on the un-spread input splits.
    */
  def signatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 64,
      seed: Long = 42L
  ): DataFrame = {
    import org.apache.spark.sql.graftbridge
    val sigCol = graftbridge.column(graft.functions.MinHashSignature(
      graftbridge.expression(Shingles.tokens(col(textCol))), k, numHashes, seed))
    // the byte-contract version rides the sig column's schema METADATA —
    // zero bytes per row, survives a parquet round-trip (Spark persists
    // column metadata in the footer schema), and lets incremental ingest
    // REFUSE a version mismatch instead of silently losing recall
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong(SignatureVersionKey, SignatureFormatVersion.toLong).build()
    // signature cost is ~numHashes × grams hash-ops per row; spread a
    // low-split input across the cluster first (no-op on healthy splits)
    graft.sources.Layout.ensureParallelism(df)
      .filter(size(Shingles.tokens(col(textCol))) >= k)
      .select(col(idCol), sigCol.as("sig", meta))
  }

  /** Schema-metadata key carrying [[SignatureFormatVersion]] on the `sig`
    * column of every [[signatures]] frame.
    */
  val SignatureVersionKey = "graft.minhash.signature_version"

  /** The signature version stamped on a signature frame's `sig` column —
    * None for frames produced before versions were embedded (those must
    * be re-signed before incremental ingest; there is no way to know what
    * contract signed them).
    */
  def signatureVersionOf(sigs: DataFrame): Option[Long] =
    sigs.schema.fields.find(_.name == "sig")
      .filter(_.metadata.contains(SignatureVersionKey))
      .map(_.metadata.getLong(SignatureVersionKey))

  /** Banded (band, bh, id) rows for a signature frame — the shared
    * blocking input.
    */
  private def bandedIds(sigs: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    val bandCols = (0 until bands).map { j =>
      struct(lit(j).as("band"), xxhash64(slice(col("sig"), j * r + 1, r)).as("bh"))
    }
    sigs
      .withColumn("__band", explode(array(bandCols: _*)))
      .select(col("__band.band").as("band"), col("__band.bh").as("bh"), col(idCol).as("id"))
  }

  /** Blocking only: unique in-bucket id pairs, NO estimated-jaccard filter
    * (and therefore no signature joins — the signature frame feeds a
    * single branch, so it is not persisted). The right input for a
    * block→verify pipeline whose exact verification is cheap relative to
    * the candidate volume — with r = numHashes/bands rows per band the
    * banding itself is already selective; the estimate filter earns its
    * two joins only under loose banding (small r) where buckets admit
    * many weak pairs.
    */
  def blockedPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 200,
      seed: Long = 42L
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sigs = signatures(df, idCol, textCol, k, numHashes, seed)
    LshBlocking.bucketPairs(bandedIds(sigs, idCol, numHashes, bands), maxBucketSize)
  }

  /** Incremental near-dup blocking: candidate pairs for a NEW batch
    * against a persisted signature store — the nightly-ingest twin of
    * [[blockedPairs]], pairing with [[ExactDedup.incremental]]. Returns
    * batch-internal pairs plus (batch, stored) cross pairs; stored-stored
    * pairs are excluded by construction (they were found when those docs
    * were ingested), so each ingest pays for its batch, never for the
    * corpus.
    *
    * Only the BATCH is shingled/minhashed; the store contributes its
    * persisted signatures (same `numHashes`/`seed`, caller contract).
    * `maxBucketSize` applies to the COMBINED (batch + store) bucket
    * population — exactly [[blockedPairs]]' degenerate-bucket semantics on
    * the union — so the result equals full-corpus blocking restricted to
    * pairs touching the batch (spec-asserted), and one hot bucket can
    * never go |batch|×|store| quadratic.
    *
    * Scale shape: the store is NEVER shuffled — its bands are semi-join
    * filtered map-side against the broadcast batch buckets, and only the
    * surviving (batch-relevant) store rows feed the count and pair steps.
    * Per ingest the store pays two signature scans; everything shuffled is
    * batch-sized.
    *
    * @param storedSigs output of [[signatures]] over previously ingested
    *   docs (persist THIS, not raw text — 8·numHashes bytes/doc), signed
    *   under the same k/numHashes/seed AND [[SignatureFormatVersion]] —
    *   see that constant for why a version mismatch is silent recall loss.
    * @param persistFrames persist the two small frames that feed multiple
    *   plan branches (batch bands, batch-relevant store bands). As with
    *   `persistSignatures` elsewhere: loop-heavy ingest drivers should
    *   pass false and manage persistence around their own lifecycle, since
    *   the blocks are reclaimed only when the returned plan is GC'd.
    * @param broadcastBatch hint the batch-derived band frames as broadcast
    *   (default: the incremental contract is a small batch vs a huge store,
    *   and the hint is what keeps the store out of every shuffle). Pass
    *   false for an oversized batch — the joins degrade to shuffled
    *   semi/inner joins (the store then shuffles; above the broadcast limit
    *   that is the correct trade, not a job failure).
    * @param assumeVersion migration escape hatch for UNVERSIONED stores of
    *   known provenance (persisted before the stamp existed): asserts "this
    *   store was signed under contract N" without an O(corpus) re-sign. It
    *   only fills a MISSING stamp — a store that carries a stamp is always
    *   believed over the caller, and a contradicting assumption is an error
    *   (an assumption that silently overrode a real stamp would re-open the
    *   exact silent-recall-loss hole the stamp closes). The assumed version
    *   must still equal [[SignatureFormatVersion]] to proceed.
    * @return (id_a, id_b) with id_a < id_b; ids must be disjoint between
    *   batch and store.
    */
  def incrementalBlockedPairs(
      batch: DataFrame,
      storedSigs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 200,
      seed: Long = 42L,
      persistFrames: Boolean = true,
      broadcastBatch: Boolean = true,
      assumeVersion: Option[Int] = None
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // a store signed under a different byte contract joins fine and finds
    // ~nothing — refuse it up front instead of silently losing recall
    val stamped = signatureVersionOf(storedSigs)
    assumeVersion.foreach { v =>
      require(stamped.forall(_ == v.toLong),
        s"assumeVersion=$v contradicts the store's own stamp ${stamped.get} — " +
          "the stamp is authoritative; drop the assumption")
    }
    val storeVersion = stamped.orElse(assumeVersion.map(_.toLong))
    require(storeVersion.contains(SignatureFormatVersion.toLong),
      s"signature store version ${storeVersion.getOrElse("<unversioned>")} != current " +
        s"SignatureFormatVersion=$SignatureFormatVersion; re-sign the store " +
        "(an unversioned frame predates the version stamp — pass assumeVersion " +
        "only if its signing contract is known from provenance)")
    def maybePersist(df: DataFrame): DataFrame =
      if (persistFrames) df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df
    def hint(df: DataFrame): DataFrame = if (broadcastBatch) broadcast(df) else df
    val batchSigs = signatures(batch, idCol, textCol, k, numHashes, seed)
    val batchBands = maybePersist(bandedIds(batchSigs, idCol, numHashes, bands))
    val batchBuckets = batchBands.select("band", "bh").distinct()
    // store side: map-side semi filter against the (broadcast) batch
    // buckets — store rows outside batch buckets never move
    val relevantStore = maybePersist(
      bandedIds(storedSigs, idCol, numHashes, bands)
        .join(hint(batchBuckets), Seq("band", "bh"), "left_semi"))
    val storeCounts = relevantStore.groupBy("band", "bh").agg(count(lit(1)).as("__ns"))
    val batchCounts = batchBands.groupBy("band", "bh").agg(count(lit(1)).as("__nb"))
    // combined-population cap: same filter blockedPairs applies on the union
    val okBuckets = batchCounts.join(storeCounts, Seq("band", "bh"), "left")
      .filter((col("__nb") + coalesce(col("__ns"), lit(0L))).between(2, maxBucketSize))
      .select("band", "bh")
    val batchOk = batchBands.join(hint(okBuckets), Seq("band", "bh"), "left_semi")
    val intra = LshBlocking.bucketPairs(batchOk, maxBucketSize)
    val cross = relevantStore
      .join(hint(okBuckets), Seq("band", "bh"), "left_semi")
      .join(hint(batchBands.select(col("band"), col("bh"), col("id").as("__bid"))),
        Seq("band", "bh"))
      .select(
        least(col("id"), col("__bid")).as("id_a"),
        greatest(col("id"), col("__bid")).as("id_b"))
      .distinct()
    intra.unionByName(cross).distinct()
  }

  /** Candidate pairs (idA < idB) with `est_jaccard` = fraction of agreeing
    * signature positions, filtered to >= minJaccard.
    *
    * Scale shape: a corpus whose (band, bh, id) rows fit
    * [[graft.plans.Local.Bound]] — at most `Local.Bound / bands` signed
    * documents — is blocked on the driver: ONE bounded
    * [[graft.plans.Local.rows]] of (id, sig, band hashes), the
    * band hashes taken by the same `xxhash64(slice(sig, …))` expression
    * the distributed path groups on, then buckets of 2 to `maxBucketSize`
    * ids, pair dedup and the estimate filter in driver memory, returned as
    * a LocalRelation with the distributed path's schema (no signature
    * cache is left behind). Over the bound, on a non-LONG id column, on a
    * NULL id or on a repeated id, it falls back to the distributed path:
    * one shuffle to band buckets, one for the pair dedup and the two
    * signature payload joins.
    */
  def candidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minJaccard: Double = 0.7,
      maxBucketSize: Int = 200,
      seed: Long = 42L,
      persistSignatures: Boolean = true
  ): DataFrame =
    boundedCandidatePairs(df, idCol, textCol, k, numHashes, bands, minJaccard, maxBucketSize,
      seed, persistSignatures, graft.plans.Local.Bound / bands)

  /** [[candidatePairs]] with the driver twin's row bound explicit (0 =
    * always distributed).
    */
  private[graft] def boundedCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      numHashes: Int,
      bands: Int,
      minJaccard: Double,
      maxBucketSize: Int,
      seed: Long,
      persistSignatures: Boolean,
      localRowBound: Int
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sigsRaw = signatures(df, idCol, textCol, k, numHashes, seed)
    localCandidatePairs(sigsRaw, idCol, numHashes, bands, minJaccard, maxBucketSize, localRowBound)
      .getOrElse(distributedCandidatePairs(sigsRaw, idCol, numHashes, bands, minJaccard,
        maxBucketSize, persistSignatures))
  }

  /** The driver twin of [[distributedCandidatePairs]]; None when it must
    * fall back (see [[candidatePairs]]' scale shape).
    */
  private def localCandidatePairs(
      sigs: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int,
      minJaccard: Double,
      maxBucketSize: Int,
      localRowBound: Int
  ): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import graft.plans.Local
    if (!Local.longCols(sigs, idCol)) return None
    val r = numHashes / bands
    val bandHashes = (0 until bands).map(j => xxhash64(slice(col("sig"), j * r + 1, r)))
    val rows = Local.rows(
        sigs.select(col(idCol) +: col("sig") +: bandHashes: _*), localRowBound) match {
      case Some(rs) => rs
      case None => return None
    }
    val ids = rows.map(_.getLong(0))
    // a repeated id fans out in the distributed path's payload joins
    if (ids.distinct.length != ids.length) return None
    val sig = rows.map(_.getSeq[Long](1).toArray)
    // (row index of the smaller id) << 32 | (row index of the larger id)
    val pairs = scala.collection.mutable.HashSet.empty[Long]
    for (j <- 0 until bands) {
      val buckets = scala.collection.mutable.LongMap.empty[scala.collection.mutable.ArrayBuffer[Int]]
      rows.indices.foreach { i =>
        buckets.getOrElseUpdate(rows(i).getLong(2 + j), scala.collection.mutable.ArrayBuffer.empty) += i
      }
      buckets.valuesIterator.filter(b => b.length >= 2 && b.length <= maxBucketSize).foreach { b =>
        for (x <- b.indices; y <- x + 1 until b.length) {
          val (u, v) = if (ids(b(x)) < ids(b(y))) (b(x), b(y)) else (b(y), b(x))
          pairs += (u.toLong << 32) | v.toLong
        }
      }
    }
    val out = pairs.toArray.sorted.toSeq.flatMap { p =>
      val (u, v) = ((p >>> 32).toInt, p.toInt)
      var eq = 0; var h = 0
      while (h < numHashes) { if (sig(u)(h) == sig(v)(h)) eq += 1; h += 1 }
      val est = eq.toDouble / numHashes
      if (est >= minJaccard) Some(Row(ids(u), ids(v), est)) else None
    }
    val schema = StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("est_jaccard", DoubleType, nullable = false)))
    Some(Local.frame(sigs.sparkSession, out, schema))
  }

  private def distributedCandidatePairs(
      sigsRaw: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int,
      minJaccard: Double,
      maxBucketSize: Int,
      persistSignatures: Boolean
  ): DataFrame = {
    // The signature frame feeds three plan branches (band explode + both
    // payload joins); persist it so the corpus is shingled once, not
    // thrice. The blocks cannot be freed here (the result is lazy and
    // still references them); they are reclaimed by the ContextCleaner
    // once the returned plan is garbage-collected — callers looping over
    // many corpora should pass persistSignatures = false and persist/
    // unpersist around their own lifecycle instead.
    val sigs = if (persistSignatures)
      sigsRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else sigsRaw

    val estUdf = udf { (a: Seq[Long], b: Seq[Long]) =>
      var eq = 0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / numHashes
    }
    val pairs = LshBlocking.bucketPairs(bandedIds(sigs, idCol, numHashes, bands), maxBucketSize)
    LshBlocking.attachPayloads(pairs, sigs.select(col(idCol).as("id"), col("sig").as("p")))
      .withColumn("est_jaccard", estUdf(col("p_a"), col("p_b")))
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }
}

/** SimHash near-duplicate detection: 64-bit token-level simhash with
  * banded blocking and exact hamming verification (`bit_count(a ^ b)`).
  */
object SimHash {

  /** id + 64-bit simhash (long): per-token hash bits vote +1/-1 per
    * position; sign of the vote forms the fingerprint. Token hashing is a
    * codegen'd expression; the 64-bit vote loop is a compiled primitive
    * UDF (narrow, per-row — no change to the distributed plan).
    *
    * `portableHash = true` swaps the xxhash64 token hash for the lower 60
    * bits of md5 — slower per token, but recomputable on any engine with
    * md5 (DuckDB, Trino, ...), which makes the whole fingerprint
    * cross-engine reproducible (the top 4 bits are then always 0; hamming
    * distances are unaffected).
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String,
      portableHash: Boolean = false): DataFrame = {
    // the fused token-hash + vote loop is the NATIVE
    // graft.functions.SimHashFingerprint expression — no ScalaUDF
    // ArrayData→Seq conversion, tokens read as UTF8String bytes in place
    // (md5 memoized per task in portable mode); an interpreted
    // transform(...) HOF would cost ~1ms/doc, the expression ~µs
    import org.apache.spark.sql.graftbridge
    val fp = graftbridge.column(graft.functions.SimHashFingerprint(
      graftbridge.expression(col("__toks")), portableHash))
    // per-row cost is a hash per token (md5 in portable mode) — spread a
    // low-split input across the cluster first (no-op on healthy splits)
    graft.sources.Layout.ensureParallelism(df)
      .select(col(idCol), Shingles.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol), fp.as("simhash"))
  }

  /** Pairs (idA < idB) with hamming distance <= maxHamming. Blocking: split
    * the 64-bit hash into `bands` chunks; by pigeonhole any pair within
    * maxHamming <= bands-1 shares at least one exact chunk, so candidate
    * generation is an equi-join per chunk (one shuffle), never all-pairs.
    */
  def pairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = 200,
      portableHash: Boolean = false
  ): DataFrame =
    pairsOfFingerprints(fingerprints(df, idCol, textCol, portableHash),
      idCol, "simhash", maxHamming, bands, maxBucketSize)

  /** The banded-hamming blocking engine over an EXISTING (id, 64-bit
    * hash) frame — shared by text simhash and perceptual image hashes
    * ([[graft.multimodal.ImageHash]]). Pigeonhole: with
    * bands > maxHamming any qualifying pair shares at least one exact
    * band, so candidate generation is an equi-join per band, never
    * all-pairs; exact `bit_count(a ^ b)` verifies.
    */
  def pairsOfFingerprints(
      fps: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int,
      bands: Int = 4,
      maxBucketSize: Int = 200
  ): DataFrame = {
    require(bands > maxHamming, "need bands > maxHamming for pigeonhole blocking")
    val bits = 64 / bands
    val base = fps.select(col(idCol).as("id"), col(hashCol).as("p"))
    val bandCols = (0 until bands).map { j =>
      struct(lit(j).as("band"), expr(s"(p >> ${j * bits}) & ${(1L << bits) - 1}L").as("bh"))
    }
    val exploded = base.withColumn("__band", explode(array(bandCols: _*)))
      .select(col("__band.band").as("band"), col("__band.bh").as("bh"), col("id"))
    val pairs = LshBlocking.bucketPairs(exploded, maxBucketSize)
    LshBlocking.attachPayloads(pairs, base)
      .withColumn("hamming", bit_count(col("p_a").bitwiseXOR(col("p_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}

/** Exact n-gram Jaccard similarity on candidate pairs.
  * Candidate generation should come from LSH ([[MinHashLsh.candidatePairs]])
  * or an explicit pairing; exact verification joins the (distinct) gram sets
  * back and computes |∩| / |∪| with array intrinsics.
  */
object NgramJaccard {

  /** Distinct word k-grams of a token-array column, built in one compiled
    * per-row loop — the interpreted transform/slice/array_join HOF chain
    * costs ~1ms/doc (same lesson as the minhash fingerprint pass), the
    * fused loop ~µs. Narrow, no shuffle.
    */
  def gramSetColumn(toksCol: Column, k: Int): Column = {
    val gramUdf = udf { (toks: Seq[String]) =>
      // Seq params are non-primitive, so Spark passes NULL through to the
      // UDF (a NULL text row reaches here as toks = null); empty gram set
      // preserves the old null-safe expression behavior
      if (toks == null || toks.length < k) Seq.empty[String]
      else {
        val out = new scala.collection.mutable.LinkedHashSet[String]
        val arr = toks.toArray
        val sb = new StringBuilder(64)
        var i = 0
        while (i <= arr.length - k) {
          sb.setLength(0)
          var t = 0
          while (t < k) { if (t > 0) sb.append(' '); sb.append(arr(i + t)); t += 1 }
          out += sb.toString
          i += 1
        }
        out.toSeq
      }
    }
    gramUdf(toksCol)
  }

  /** id + distinct word k-gram set. */
  def gramSets(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame =
    df.select(col(idCol), gramSetColumn(Shingles.tokens(col(textCol)), k).as("grams"))

  /** Exact jaccard for the given candidate pairs (columns id_a, id_b).
    * Gram sets are computed only for documents that appear in a candidate
    * pair (semi-join first): at corpus scale the candidate set is orders of
    * magnitude smaller than the corpus, so shingling the full corpus again
    * would dominate the cost.
    *
    * The candidate frame feeds three plan branches (the id universe and
    * both pair joins); when it comes from an expensive generator (LSH
    * blocking) `persistCandidates` stores it once — candidate sets are id
    * pairs, tiny by construction. As with signature persistence, the
    * blocks are reclaimed by the ContextCleaner when the returned plan is
    * collected; loop-heavy callers should manage persistence themselves
    * (persistCandidates = false).
    */
  def verify(
      candidates: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      minJaccard: Double = 0.0,
      persistCandidates: Boolean = true
  ): DataFrame = {
    val cand = if (persistCandidates)
      candidates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else candidates
    val wanted = cand.select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val needed = df.join(wanted, Seq(idCol), "left_semi")
    val sets = gramSets(needed, idCol, textCol, k)
    cand
      .join(sets.select(col(idCol).as("id_a"), col("grams").as("g_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("grams").as("g_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("g_a"), col("g_b"))))
      .withColumn("n_union", size(array_union(col("g_a"), col("g_b"))))
      .withColumn("jaccard", col("n_inter") / col("n_union"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}

/** N-gram CONTAINMENT dedup (Broder 1997's resemblance/containment
  * split): c(A→B) = |grams(A) ∩ grams(B)| / |grams(A)| — the measure
  * that catches a short document embedded inside a long one, exactly
  * where jaccard goes blind (a 100-token doc fully contained in a
  * 10,000-token doc has jaccard ≈ 0.01 and containment 1.0). The
  * quote-chain / re-post / article-with-commentary shape in web
  * corpora.
  *
  * Blocking is PREFIX FILTERING (the PPJoin family, Xiao et al. 2008,
  * reduced to its recall core): order each doc's grams by (corpus
  * document frequency ASC, gram ASC) and take the first
  * floor((1−τ)·|A|)+1 as its prefix. If c(A→B) ≥ τ then B misses at
  * most (1−τ)·|A| of A's grams, so at least one PREFIX gram of A is in
  * B — joining A-prefixes against the full inverted index is
  * pigeonhole-LOSSLESS for either direction ≥ τ (the q21/q22 blocking
  * discipline: the q133 all-pairs oracle catches any recall miss).
  * Rare-first ordering makes the index join meet in LOW-df buckets —
  * the candidate mass is Σ_prefix df(g), not Σ df(g)².
  *
  * Scale shape: one gram explode + a df aggregate + a per-doc prefix
  * window (partitioned by doc — bounded by one doc's grams, never a
  * corpus window) + the inverted-index join exchanging (gram, id)
  * pairs; verification reuses [[NgramJaccard.verify]]'s semi-join
  * contract (gram sets built only for docs that appear in a candidate).
  */
object Containment {

  /** Candidate unordered pairs (id_a < id_b) whose containment in
    * EITHER direction can be ≥ tau, by prefix filtering.
    */
  def prefixCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      tau: Double = 0.8
  ): DataFrame = {
    val sets = NgramJaccard.gramSets(df, idCol, textCol, k)
      .filter(size(col("grams")) > 0)
    prefixCandidatesFromSets(sets, idCol, tau)
  }

  /** Blocking over a PRE-BUILT (idCol, grams) frame — lets
    * [[containmentPairs]] shingle the corpus exactly once for blocking
    * AND verification.
    */
  def prefixCandidatesFromSets(
      sets: DataFrame,
      idCol: String,
      tau: Double
  ): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau out of (0,1]: $tau")
    // EXACT prefix length: c(A→B) >= tau means |A ∩ B| >= ceil(tau·|A|)
    // (intersection sizes are integers), so B misses at most
    // |A| − ceil(tau·|A|) grams and the prefix needs one more than
    // that. Computed in INTEGER arithmetic at 10^-6 tau granularity —
    // the float form floor((1.0−tau)·n)+1 undershoots whenever
    // (1−tau)·n is integral (1.0−0.9 = 0.0999…8, so n=10 got prefix 1
    // instead of 2) and silently breaks the pigeonhole recall
    // guarantee at exact-boundary containments.
    val tauScaled = math.round(tau * 1000000L)
    val minInter = expr(
      s"(CAST(n_grams AS BIGINT) * ${tauScaled}L + 999999L) div 1000000L")
    val prefixLen = (col("n_grams") - minInter + 1L).cast("int")
    // the exploded gram frame feeds THREE branches (df counts, the
    // prefix window, the full inverted index) — persist or the UDF
    // shingling pass recomputes per branch (the ExactSubstr lesson)
    val exploded = sets.select(col(idCol).as("id"),
      size(col("grams")).as("n_grams"), explode(col("grams")).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = exploded.groupBy("gram").agg(count(lit(1)).as("df"))
    val withDf = exploded.join(dfreq, Seq("gram"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("gram"))
    val prefixes = withDf
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= prefixLen)
      .select(col("gram"), col("id").as("id_p"))
    prefixes
      .join(exploded.select(col("gram"), col("id").as("id_f")), Seq("gram"))
      .filter(col("id_p") =!= col("id_f"))
      .select(least(col("id_p"), col("id_f")).as("id_a"),
        greatest(col("id_p"), col("id_f")).as("id_b"))
      .distinct()
  }

  /** Exact directional containments for candidate pairs (id_a, id_b):
    * (c_a_in_b, c_b_in_a, containment = max) kept when the max clears
    * `minContainment`. Sizes are exact ints; each containment is one
    * division (engine-deterministic).
    */
  def verify(
      candidates: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      minContainment: Double = 0.0,
      persistCandidates: Boolean = true
  ): DataFrame = {
    // candidates feed three branches (id universe + both pair joins);
    // when they come from prefixCandidates' blocking pipeline, a
    // recompute per branch triples the blocking cost — the same
    // contract as NgramJaccard.verify (candidate sets are id pairs,
    // tiny by construction; ContextCleaner reclaims the blocks)
    val cand = if (persistCandidates)
      candidates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else candidates
    val wanted = cand.select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val needed = df.join(wanted, Seq(idCol), "left_semi")
    val sets = NgramJaccard.gramSets(needed, idCol, textCol, k)
    cand
      .join(sets.select(col(idCol).as("id_a"), col("grams").as("g_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("grams").as("g_b")), Seq("id_b"))
      .filter(size(col("g_a")) > 0 && size(col("g_b")) > 0)
      .withColumn("n_inter", size(array_intersect(col("g_a"), col("g_b"))))
      .withColumn("c_a_in_b", col("n_inter") / size(col("g_a")))
      .withColumn("c_b_in_a", col("n_inter") / size(col("g_b")))
      .withColumn("containment", greatest(col("c_a_in_b"), col("c_b_in_a")))
      .filter(col("containment") >= minContainment)
      .select(col("id_a"), col("id_b"), col("c_a_in_b"), col("c_b_in_a"), col("containment"))
  }

  /** Block → verify in one call: all unordered pairs with containment
    * ≥ tau in at least one direction.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      tau: Double = 0.8
  ): DataFrame = {
    // shingle ONCE: blocking explodes every gram anyway, so the same
    // persisted gram-set frame serves verification (the standalone
    // verify() keeps its semi-join + re-shingle shape for callers whose
    // candidates are tiny relative to the corpus). Measured 4x at sf0.1
    // (8.5 s -> 2.1 s, q133): the verify-side re-shingle ALSO re-ran the
    // blocking pipeline through its semi-join branches.
    val sets = NgramJaccard.gramSets(df, idCol, textCol, k)
      .filter(size(col("grams")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = prefixCandidatesFromSets(sets, idCol, tau)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cand
      .join(sets.select(col(idCol).as("id_a"), col("grams").as("g_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("grams").as("g_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("g_a"), col("g_b"))))
      .withColumn("c_a_in_b", col("n_inter") / size(col("g_a")))
      .withColumn("c_b_in_a", col("n_inter") / size(col("g_b")))
      .withColumn("containment", greatest(col("c_a_in_b"), col("c_b_in_a")))
      .filter(col("containment") >= tau)
      .select(col("id_a"), col("id_b"), col("c_a_in_b"), col("c_b_in_a"), col("containment"))
  }
}
