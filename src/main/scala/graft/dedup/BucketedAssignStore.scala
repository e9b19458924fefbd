package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-bucketed, per-bucket-versioned (node, component) assignment store
  * — [[BucketedSpanStore]]'s sibling for STREAMING/incremental duplicate
  * clustering: each fold runs the incremental-resolve shape of
  * [[ConnectedComponents]] against the current assignment and rewrites
  * ONLY buckets holding a component the batch touched (or created).
  *
  * Layout: `path/bucket=<b>/v=<version>/`, bucket = md5(component) mod K
  * — bucketing by COMPONENT id means a re-solved component's rows are
  * confined to the (few) buckets its old/new ids hash to, so the write
  * side is O(touched members), never O(corpus).
  *
  * Read side of a fold, when the batch's distinct nodes are
  * driver-bounded (≤ `maxPushdownKeys` — the micro-batch norm): the
  * node→component lookup is ONE scan of the slim index with the batch's
  * node set PUSHED to the parquet reader (files carry bloom filters on
  * node/component, written below, so hot buckets prune at row-group
  * granularity), and every later read — touched components' members, the
  * affected buckets' carry-over rows — lists only the touched buckets'
  * latest dirs. Nothing is read whole and cached. Oversized batches fall
  * back to the previous shape: one full index scan persisted and shared
  * by the resolve joins and the rewrite.
  *
  * Versions are per bucket and keyed by the fold's id, so crash-replay is
  * idempotent exactly like [[BucketedSpanStore]]: a replayed fold rebuilds
  * from each bucket's latest version BELOW its own id and overwrites its
  * own output; superseded versions are deleted with one prior kept.
  *
  * COMMIT ATOMICITY: an affected bucket can end up EMPTY (a merged-away
  * component's rows all moved to another bucket), and dynamic partition
  * overwrite writes no partition for it. Instead of a second
  * per-bucket-placeholder job after the main write (whose crash window
  * left the stale prior version live — a node could load under both its
  * old and new component ids), the fold writes ONE sentinel row
  * (`node = component =` [[BucketedAssignStore.SentinelNode]]) into each
  * emptied bucket, so every affected bucket's `v=version` dir lands in
  * the SAME dynamic-overwrite job commit. Loads filter the sentinel out.
  * `Long.MinValue` is therefore reserved — real node ids must not use it.
  */
final class BucketedAssignStore(path: String, numBuckets: Int)
    extends Serializable {
  require(numBuckets > 0, "numBuckets must be positive")

  import BucketedAssignStore.{bucketOf, SentinelNode}

  /** Latest assignment strictly below `belowVersion`; None for a fresh
    * store.
    */
  def load(spark: SparkSession, belowVersion: Long = Long.MaxValue): Option[DataFrame] = {
    val dirs = VersionedBuckets.latestDirs(
      VersionedBuckets.bucketVersions(spark, path), path, belowVersion)
    if (dirs.isEmpty) None
    else Some(scan(spark, dirs).select("node", "component"))
  }

  /** Store scan with the sentinel placeholder rows filtered out and the
    * partition columns normalized (`bucket` as long).
    */
  private def scan(spark: SparkSession, dirs: Seq[String]): DataFrame =
    spark.read.option("basePath", path).parquet(dirs: _*)
      .filter(col("node") =!= lit(SentinelNode))
      .select(col("node"), col("component"), col("bucket").cast("long").as("bucket"))

  /** Fold a batch of (src, dst) edges into the assignment at `version`
    * (monotone across folds; same-version replay is idempotent).
    * Result semantics == [[ConnectedComponents.labelPropagation]] over
    * all edges ever folded (spec-asserted).
    */
  def merge(
      newEdges: DataFrame,
      version: Long,
      maxIter: Int = 20,
      maxPushdownKeys: Int = 4096
  ): Unit =
    foldContent(newEdges, version, maxIter, maxPushdownKeys).foreach {
      case (content, affected, vmap) =>
        commit(newEdges.sparkSession, content, affected, vmap, version)
    }

  /** The fold's pre-write content — (node, component, bucket) covering
    * every affected bucket — plus the affected-bucket ids and the fold's
    * one pre-write listing. None when the batch touches nothing. Exposed
    * so specs can plan-assert the O(touched) read contract (scanned
    * paths, pushed filters, exchange count), not just output equality.
    */
  private[graft] def foldContent(
      newEdgesIn: DataFrame,
      version: Long,
      maxIter: Int = 20,
      maxPushdownKeys: Int = 4096
  ): Option[(DataFrame, Seq[Long], Map[Long, Seq[Long]])] = {
    // the sentinel id is reserved for empty-bucket placeholder rows:
    // a real node carrying it would be silently dropped by every scan()
    // — fail fast per-row instead (the repo's overflow-guard convention)
    val newEdges = newEdgesIn.select(
      Seq("src", "dst").map(c =>
        when(col(c) === lit(SentinelNode),
          raise_error(format_string(
            s"BucketedAssignStore: node id %s is reserved (sentinel) — $c",
            col(c))))
          .otherwise(col(c)).as(c)): _*)
    val spark = newEdges.sparkSession
    // single listing serves the load, the write set and retention
    val vmap = VersionedBuckets.bucketVersions(spark, path)
    val priorDirs = VersionedBuckets.latestDirs(vmap, path, version)

    val batchNodes: Option[Seq[Long]] =
      if (priorDirs.isEmpty) Some(Nil) // nothing to look up in
      else {
        val k = newEdges.select(col("src").as("node"))
          .unionByName(newEdges.select(col("dst").as("node")))
          .distinct().limit(maxPushdownKeys + 1)
          .collect().map(_.getLong(0)).toSeq
        if (k.length <= maxPushdownKeys) Some(k) else None
      }

    batchNodes match {
      case Some(nodes) =>
        // ---- pruned path: driver-bounded key sets, pushdown scans ----
        // node→component lookup: the only scan that must see every bucket
        // (the store is component-bucketed); the IN predicate reaches the
        // parquet reader and prunes row groups via stats/bloom filters
        val compRows =
          if (nodes.isEmpty) Array.empty[org.apache.spark.sql.Row]
          else scan(spark, priorDirs)
            .filter(col("node").isInCollection(nodes))
            .select("component", "bucket").distinct()
            .collect() // ≤ |batch nodes| — one component per node
        val comps = compRows.map(_.getLong(0)).toSeq.distinct
        val compBuckets = compRows.map(_.getLong(1)).toSeq.distinct
        // members of touched components live ONLY in those comps' buckets
        val memberDirs = compBuckets.flatMap(VersionedBuckets.latestDir(vmap, path, _, version))
        val members =
          if (comps.isEmpty) None
          else Some(scan(spark, memberDirs)
            .filter(col("component").isInCollection(comps))
            .select("node", "component"))
        val starEdges = members.map(m =>
            m.select(col("node").as("src"), col("component").as("dst")))
          .getOrElse(newEdges.select("src", "dst").limit(0))
        // labelPropagation returns a LocalRelation (small edge sets) or a
        // checkpointed frame — either is safe to branch below
        val resolved = ConnectedComponents.labelPropagation(
            starEdges.unionByName(newEdges.select(col("src"), col("dst"))), maxIter)
          .withColumn("bucket", bucketOf(col("component"), numBuckets))
        val resolvedBuckets = resolved.select("bucket").distinct()
          .collect().map(_.getLong(0)).toSeq // ≤ numBuckets ids
        val affected = (compBuckets ++ resolvedBuckets).distinct.sorted
        if (affected.isEmpty) None
        else {
          // carry-over rows of affected buckets: everything there except
          // the re-solved components — a pushed Not(In) filter on dirs
          // listed for exactly the affected buckets
          val priorAffDirs = affected.flatMap(VersionedBuckets.latestDir(vmap, path, _, version))
          val carry =
            if (priorAffDirs.isEmpty)
              resolved.select("node", "component", "bucket").limit(0)
            else {
              val s = scan(spark, priorAffDirs)
              (if (comps.isEmpty) s
               else s.filter(!col("component").isInCollection(comps)))
                .select("node", "component", "bucket")
            }
          Some((
            carry.unionByName(resolved.select("node", "component", "bucket")),
            affected, vmap))
        }

      case None =>
        // ---- fallback: batch too large to collect — previous shape, one
        // full index scan persisted and shared by resolve + rewrite ----
        val assign = scan(spark, priorDirs).select("node", "component").persist()
        try {
          val (touchedComps0, resolved0) =
            ConnectedComponents.incrementalResolve(assign, newEdges, maxIter)
          val touchedComps = touchedComps0.persist() // batch-bounded
          try {
            // resolved is a LocalRelation or checkpointed frame — see above
            val resolved = resolved0
              .withColumn("bucket", bucketOf(col("component"), numBuckets))
            val affected = touchedComps
              .select(bucketOf(col("component"), numBuckets).as("bucket"))
              .unionByName(resolved.select("bucket"))
              .distinct().collect().map(_.getLong(0)).sorted.toSeq // ≤ numBuckets
            if (affected.isEmpty) None
            else {
              val carry = assign
                .withColumn("bucket", bucketOf(col("component"), numBuckets))
                .filter(col("bucket").isin(affected: _*))
                .join(broadcast(touchedComps), Seq("component"), "left_anti")
                .select("node", "component", "bucket")
              // materialize before the outer unpersists reach this frame:
              // commit() persists the union, so lineage must stay valid
              // only through the first action — but the fallback's inputs
              // are persisted frames we unpersist in finally, so cut the
              // lineage here
              val content = graft.plans.Lineage.truncate(carry
                .unionByName(resolved.select("node", "component", "bucket")))
              Some((content, affected, vmap))
            }
          } finally { touchedComps.unpersist(blocking = false); () }
        } finally { assign.unpersist(blocking = false); () }
    }
  }

  /** One dynamic-overwrite job covering EVERY affected bucket (sentinel
    * rows stand in for emptied ones), then retention from the fold's
    * pre-write listing.
    */
  private def commit(
      spark: SparkSession,
      content: DataFrame,
      affected: Seq[Long],
      vmap: Map[Long, Seq[Long]],
      version: Long
  ): Unit = {
    val c = content.persist()
    try {
      val populated = c.select("bucket").distinct()
        .collect().map(_.getLong(0)).toSet // ≤ numBuckets longs — bookkeeping
      val placeholders = affected.filterNot(populated.contains)
      val withPlaceholders =
        if (placeholders.isEmpty) c
        else {
          import spark.implicits._
          c.unionByName(placeholders
            .map(b => (SentinelNode, SentinelNode, b))
            .toDF("node", "component", "bucket"))
        }
      withPlaceholders
        .withColumn("v", lit(version))
        .repartition(col("bucket"))
        .write
        .option("partitionOverwriteMode", "dynamic")
        .option("parquet.bloom.filter.enabled#node", "true")
        .option("parquet.bloom.filter.enabled#component", "true")
        .partitionBy("bucket", "v")
        .mode("overwrite")
        .parquet(path)
      // retention from the fold's one pre-write listing
      VersionedBuckets.retain(spark, path, vmap, affected, version)
    } finally { c.unpersist(blocking = false); () }
  }
}

object BucketedAssignStore {
  /** Reserved placeholder id marking an emptied bucket's zero-content
    * version row — filtered out of every read. Real node ids must never
    * be `Long.MinValue`.
    */
  val SentinelNode: Long = Long.MinValue

  /** Store bucket for a component id — literally
    * [[graft.operators.Sharding.shardId]], so the md5-mod-K layout has
    * ONE definition (component ids are non-null longs, for which the
    * shardId null-token coalesce is a no-op).
    */
  def bucketOf(component: Column, numBuckets: Int): Column =
    graft.operators.Sharding.shardId(Seq(component), numBuckets)
}
