package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The flat versioned store layout (`v=<batchId>` dirs: HLL/CMS/quantile
  * profiles, count cells, gram stores) and its maintenance. Every fold
  * goes through [[foldVersion]], which rewrites the FULL merged state into
  * a new version — which is what makes crash replay deterministic — so a
  * long-running stream accumulates one complete state copy per batch.
  * At 100 TB that is the classic small-files/unbounded-history problem;
  * pruning old versions loses only time-travel, never data, because the
  * newest version is self-contained by construction.
  *
  * Pruning keeps a safety margin (`keepLast` ≥ 2 recommended): the fold
  * reads the latest version STRICTLY BELOW the current batch id, so a
  * replayed batch N needs its predecessor version to still exist —
  * never prune to fewer than the deepest replay you expect.
  */
object StoreMaintenance {

  /** Version ids present under `storePath`, ascending. */
  def versions(spark: SparkSession, storePath: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong)
      .sorted
  }

  /** Path of the newest version strictly below `beforeId`, if any. */
  def latestBefore(spark: SparkSession, storePath: String, beforeId: Long): Option[String] =
    versions(spark, storePath).filter(_ < beforeId).lastOption.map(v => s"$storePath/v=$v")

  /** One fold step of a flat versioned store: reads the newest version
    * strictly below `batchId` (None for the first batch) and overwrites
    * `v=<batchId>` with `next(prev)`.
    *
    * The replay rule, stated once for every fold: a micro-batch that
    * crashes after this write and before its checkpoint commit is re-run
    * with the same id and the same rows, and recomputes `v=<batchId>`
    * from the same predecessor. The fold never reads its own version, so
    * non-idempotent merges (count/sum cells, bottom-k cuts) stay exact on
    * replay, and idempotent ones (HLL max) need no special case.
    */
  def foldVersion(batch: DataFrame, batchId: Long, storePath: String)(
      next: Option[DataFrame] => DataFrame): Unit = {
    val spark = batch.sparkSession
    next(latestBefore(spark, storePath, batchId).map(spark.read.parquet(_)))
      .write.mode("overwrite").parquet(s"$storePath/v=$batchId")
  }

  /** Delete all but the newest `keepLast` versions; returns the pruned
    * ids. Idempotent; a concurrent writer adding NEWER versions is safe
    * (only ids below the keep set are touched).
    */
  def pruneVersions(spark: SparkSession, storePath: String, keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val vs = versions(spark, storePath)
    val doomed = vs.dropRight(keepLast)
    val base = new org.apache.hadoop.fs.Path(storePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    doomed.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$storePath/v=$v"), true)
    }
    doomed
  }

  /** Per-bucket version ids of a per-bucket-versioned store
    * (`bucket=<b>/v=<v>` layout — [[graft.dedup.BucketedSpanStore]],
    * [[graft.dedup.BucketedAssignStore]]), ascending within each bucket.
    */
  def bucketVersions(spark: SparkSession, storePath: String): Map[Long, Seq[Long]] =
    graft.dedup.VersionedBuckets.bucketVersions(spark, storePath)
      .view.mapValues(_.sorted).toMap

  /** [[pruneVersions]] for the per-bucket layout: keep the newest
    * `keepLast` versions of EACH bucket, delete the rest; returns the
    * pruned (bucket, version) pairs. The bucketed folds already retain
    * at most {latest-below, current} per TOUCHED bucket at write time
    * (VersionedBuckets.retain), but buckets whose last touch predates a
    * crash-recovery window — and deployments that want to reclaim the
    * safety copy once a batch is committed downstream (`keepLast = 1`)
    * — need this explicit maintenance pass. Same replay contract as the
    * flat layout: a replayed fold at version N reads each bucket's
    * latest version STRICTLY BELOW N, so `keepLast` ≥ 2 until N is
    * durably committed. Idempotent; newer concurrent versions are safe
    * (only ids below each bucket's keep set are touched). Cost: one
    * listing per bucket + one delete per doomed dir — bucket-count-
    * bounded, never data-sized.
    */
  def pruneBucketVersions(
      spark: SparkSession, storePath: String, keepLast: Int): Seq[(Long, Long)] = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val base = new org.apache.hadoop.fs.Path(storePath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    bucketVersions(spark, storePath).toSeq.sortBy(_._1).flatMap { case (b, vs) =>
      vs.dropRight(keepLast).map { v =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$storePath/bucket=$b/v=$v"), true)
        (b, v)
      }
    }
  }

  /** ONE maintenance pass over a deployment's standing stores — the
    * executable form of [[StoreCatalog]]'s per-family prune contracts:
    * `roots` maps catalog family names to that deployment's store
    * paths, and each named family gets ITS layout's documented prune —
    * [[pruneVersions]] for flat-versioned folds,
    * [[pruneBucketVersions]] for bucket-versioned ones, and a
    * documented no-op (returned as 0) for layouts with no version
    * accumulation to reclaim (append partitions are all live data;
    * frozen snapshots rebuild wholesale; engine-watermark state is
    * pruned by the stream itself; named tables clean via
    * `StateStore.clean`). Returns pruned-version counts per family.
    * Unknown family names throw — a typo must not
    * silently leave a store growing. `keepLast` ≥ 2 preserves the
    * strictly-below replay contract for every versioned family at
    * once. A swept store still folds correctly on its next batch
    * (spec-pinned: sweep then fold == rebuild).
    */
  def sweep(
      spark: SparkSession,
      roots: Map[String, String],
      keepLast: Int = 2
  ): Map[String, Long] = {
    require(keepLast >= 1, s"keepLast must be >= 1: $keepLast")
    val byName = StoreCatalog.All.map(f => f.name -> f).toMap
    roots.toSeq.sortBy(_._1).map { case (name, path) =>
      val fam = byName.getOrElse(name, throw new IllegalArgumentException(
        s"unknown store family '$name'; cataloged: " +
          byName.keys.toSeq.sorted.mkString(", ")))
      val pruned: Long = fam.layout match {
        case StoreCatalog.FlatVersioned =>
          pruneVersions(spark, path, keepLast).size.toLong
        case StoreCatalog.BucketVersioned =>
          pruneBucketVersions(spark, path, keepLast).size.toLong
        case _ => 0L
      }
      name -> pruned
    }.toMap
  }
}
