package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-bucketed, per-bucket-versioned span-frequency store — the
  * MERGE-style sink for incremental/streaming span dedup.
  *
  * Layout: `path/bucket=<b>/v=<version>/part-*.parquet`, where `bucket` is
  * the span key's own 60-bit md5 prefix mod `numBuckets` (the
  * [[graft.operators.Sharding.shardId]] md5-mod layout, minus the second
  * md5 — the span key already IS a uniform hash). A fold reads and
  * rewrites ONLY buckets containing the batch's span keys; buckets the
  * batch never touches are not listed, read, or replaced — their files
  * stay byte-identical. At a 100 TB corpus the store is billions of span
  * rows, so the O(store)-per-fold rewrite this replaces was the scale
  * bottleneck; a fold now pays O(touched buckets) ≈ O(batch · store/K)
  * I/O, tunable via `numBuckets`.
  *
  * Per-bucket VERSIONS make folds idempotent: `merge(batch, v)` rebuilds
  * each touched bucket from that bucket's latest version BELOW `v`, so a
  * crash-replayed micro-batch deterministically overwrites its own output
  * instead of double-counting frequencies — the property the full-snapshot
  * design had, kept at bucket granularity. Superseded versions of touched
  * buckets are deleted once the new version is durable (same retention
  * contract: one prior version survives per bucket so the NEXT fold's
  * replay can still rebuild).
  *
  * Driver-side work is store BOOKKEEPING only, never data: the touched
  * set is ≤ `numBuckets` longs and version discovery is one FS listing of
  * the touched bucket directories per fold.
  */
final class BucketedSpanStore(
    path: String,
    numBuckets: Int,
    idCol: String,
    textCol: String,
    spanWords: Int
) extends Serializable {
  require(numBuckets > 0, "numBuckets must be positive")

  import BucketedSpanStore.bucketOf

  /** Latest store content strictly below `belowVersion` (exclusive — pass
    * the replaying batch's version to see exactly what that batch saw).
    * None when no bucket has a qualifying version (fresh store).
    */
  def load(spark: SparkSession, belowVersion: Long = Long.MaxValue): Option[DataFrame] = {
    val dirs = VersionedBuckets.latestDirs(
      VersionedBuckets.bucketVersions(spark, path), path, belowVersion)
    if (dirs.isEmpty) None
    else Some(
      spark.read.option("basePath", path).parquet(dirs: _*)
        .select("h", "freq", "oid", "oidx"))
  }

  /** Fold a document batch into the store at `version` (must increase
    * across folds; a replay at the same version is idempotent). Semantics
    * are exactly [[SpanDedup.mergeSpanStore]] — frequencies add, the first
    * owner is the struct-min — restricted to the touched buckets.
    *
    * `maxPushdownKeys` bounds the batch-key pushdown (see [[foldFrame]]):
    * micro-batch-sized folds re-aggregate only prior rows that can match
    * the batch; huge folds fall back to the whole-bucket aggregate.
    */
  def merge(batch: DataFrame, version: Long, maxPushdownKeys: Int = 4096): Unit = {
    val spark = batch.sparkSession
    val bs = SpanDedup.spanStore(batch, idCol, textCol, spanWords)
      .withColumn("bucket", bucketOf(col("h"), numBuckets))
      .persist()
    try {
      // ≤ numBuckets values — bookkeeping, not a data collect
      val touched = bs.select("bucket").distinct().collect().map(_.getLong(0)).sorted
      if (touched.nonEmpty) {
        val vmap = VersionedBuckets.bucketVersions(spark, path)
        val priorDirs = touched.toSeq.flatMap(VersionedBuckets.latestDir(vmap, path, _, version))
        // dynamic partition overwrite: ONLY the (bucket, v=version) dirs
        // present in the fold are replaced at commit — untouched buckets'
        // files are never rewritten, and a replay overwrites its own output.
        // Files carry parquet bloom filters on h so the NEXT fold's hot
        // scan can prune row groups inside hot buckets.
        foldFrame(spark, bs, priorDirs, version, maxPushdownKeys)
          .write
          .option("partitionOverwriteMode", "dynamic")
          .option("parquet.bloom.filter.enabled#h", "true")
          .partitionBy("bucket", "v")
          .mode("overwrite")
          .parquet(path)
        // retention from the fold's one pre-write listing (shared
        // keep-one-prior contract)
        VersionedBuckets.retain(spark, path, vmap, touched, version)
      }
    } finally { bs.unpersist(blocking = false); () }
  }

  /** The frame `merge(batch, version)` would write — built, not written.
    * Spec hook: plan-assert the fold's read contract (only touched-bucket
    * paths scanned, batch keys pushed, cold rows outside the aggregate)
    * rather than only its byte-identical output. None when the batch is
    * empty. Second element = the touched bucket ids.
    */
  private[graft] def plannedFold(
      batch: DataFrame,
      version: Long,
      maxPushdownKeys: Int = 4096
  ): Option[(DataFrame, Seq[Long])] = {
    val spark = batch.sparkSession
    val bs = SpanDedup.spanStore(batch, idCol, textCol, spanWords)
      .withColumn("bucket", bucketOf(col("h"), numBuckets))
    val touched = bs.select("bucket").distinct().collect().map(_.getLong(0)).sorted.toSeq
    if (touched.isEmpty) None
    else {
      val vmap = VersionedBuckets.bucketVersions(spark, path)
      Some((
        foldFrame(spark, bs, touched.flatMap(VersionedBuckets.latestDir(vmap, path, _, version)),
          version, maxPushdownKeys),
        touched))
    }
  }

  /** The fold's pre-write frame — exposed so specs can plan-assert the
    * O(touched)/O(batch) contract (scanned paths, pushed filters,
    * exchange count), not just the byte-identical output.
    *
    * Shape: prior rows are split on the batch's distinct span keys when
    * those are driver-bounded (≤ `maxPushdownKeys` — micro-batch folds,
    * the store's primary workload). Only the HOT side (rows that can
    * match a batch key) joins the batch in the h-aggregate; COLD rows are
    * one-row-per-h already (each bucket version is a previous aggregate's
    * output) so re-aggregating them was identity work — they bypass the
    * groupBy straight to the write repartition. Fold shuffle volume drops
    * from O(touched-bucket rows) to O(batch + hot), and the hot scan's IN
    * predicate reaches the parquet reader (PushedFilters → row-group
    * stats/bloom pruning inside hot buckets; large IN lists degrade to a
    * pushed range under the reader's in-filter threshold, never to a full
    * scan). Oversized batches keep the old whole-bucket aggregate.
    */
  private[graft] def foldFrame(
      spark: SparkSession,
      bs: DataFrame,
      priorDirs: Seq[String],
      version: Long,
      maxPushdownKeys: Int
  ): DataFrame = {
    val prior =
      if (priorDirs.isEmpty) bs.select("h", "freq", "oid", "oidx").limit(0)
      else spark.read.option("basePath", path).parquet(priorDirs: _*)
        .select("h", "freq", "oid", "oidx")
    val batchKeys: Option[Seq[String]] =
      if (priorDirs.isEmpty) Some(Nil) // no prior to split; skip the probe
      else {
        val k = bs.select("h").distinct().limit(maxPushdownKeys + 1)
          .collect().map(_.getString(0)).toSeq
        if (k.length <= maxPushdownKeys) Some(k) else None
      }
    val (hot, cold) = batchKeys match {
      case Some(Nil) => (prior.limit(0), prior)
      case Some(ks)  => (prior.filter(col("h").isInCollection(ks)),
                         prior.filter(!col("h").isInCollection(ks)))
      case None      => (prior, prior.limit(0))
    }
    hot
      .unionByName(bs.select("h", "freq", "oid", "oidx"))
      .groupBy("h")
      .agg(
        sum(col("freq")).as("freq"),
        min(struct(col("oid"), col("oidx"))).as("own"))
      .select(col("h"), col("freq"), col("own.oid").as("oid"), col("own.oidx").as("oidx"))
      .unionByName(cold)
      .withColumn("bucket", bucketOf(col("h"), numBuckets))
      .withColumn("v", lit(version))
      .repartition(col("bucket"))
  }
}

object BucketedSpanStore {
  /** Store bucket for a span key: the key's own md5 prefix mod K (no
    * second hash — [[SpanDedup.spanKey]] output is already uniform).
    */
  def bucketOf(h: Column, numBuckets: Int): Column =
    conv(substring(h, 1, 15), 16, 10).cast("long") % numBuckets
}
