package graft.dedup

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Shared mechanics of the per-bucket-versioned MERGE sinks
  * ([[BucketedSpanStore]], [[BucketedAssignStore]]): directory layout
  * `path/bucket=<b>/v=<version>/`, one listing per fold, latest-below
  * version resolution, and keep-one-prior retention. One definition so a
  * fix to version parsing / listing / retention cannot silently miss one
  * of the stores.
  */
private[graft] object VersionedBuckets {

  def fileSystem(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** bucket id → versions present — one listing of the store root plus
    * one per bucket directory (bounded by the bucket count, never data).
    */
  def bucketVersions(spark: SparkSession, path: String): Map[Long, Seq[Long]] = {
    val fs = fileSystem(spark, path)
    val base = new Path(path)
    if (!fs.exists(base)) Map.empty
    else
      fs.listStatus(base).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("bucket="))
        .map { bp =>
          val b = bp.getName.stripPrefix("bucket=").toLong
          val vs = fs.listStatus(bp).toSeq.map(_.getPath.getName)
            .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong)
          b -> vs
        }.toMap
  }

  /** Bucket `bucket`'s latest version strictly below `below`, as a
    * readable directory.
    */
  def latestDir(vmap: Map[Long, Seq[Long]], path: String, bucket: Long, below: Long): Option[String] =
    vmap.getOrElse(bucket, Nil).filter(_ < below).maxOption.map(v => s"$path/bucket=$bucket/v=$v")

  /** [[latestDir]] of every bucket in `vmap`. */
  def latestDirs(vmap: Map[Long, Seq[Long]], path: String, belowVersion: Long): Seq[String] =
    vmap.keys.toSeq.flatMap(latestDir(vmap, path, _, belowVersion))

  /** Retention after a fold at `version`: for each affected bucket keep
    * (latest-below, version) — the prior survives so the NEXT fold's
    * crash-replay can still rebuild — and delete the rest. `vmap` must
    * be the PRE-write listing.
    */
  def retain(
      spark: SparkSession,
      path: String,
      vmap: Map[Long, Seq[Long]],
      affected: Iterable[Long],
      version: Long
  ): Unit = {
    val fs = fileSystem(spark, path)
    affected.foreach { b =>
      val vs = vmap.getOrElse(b, Nil)
      val keep = Set(Some(version), vs.filter(_ < version).maxOption).flatten
      vs.filterNot(keep.contains).foreach { v =>
        fs.delete(new Path(s"$path/bucket=$b/v=$v"), true)
      }
    }
  }
}
