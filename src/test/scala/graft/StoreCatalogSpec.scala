package graft

import graft.streaming.{StoreCatalog, StoreMaintenance}

/** The standing-store catalog's guards: every streaming fold that writes
  * a store path is cataloged (parsed from the StreamingOps SOURCE, so a
  * new fold without a catalog row fails here), every cataloged family
  * names a prune path, and the two versioned layouts' prune operators
  * actually reclaim old versions.
  */
class StoreCatalogSpec extends SparkSpec {

  test("every storePath-writing fold in StreamingOps is cataloged") {
    val src = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/main/scala/graft/streaming/StreamingOps.scala")), "UTF-8")
    // defs whose parameter list includes a store/assign path
    val defs = "def (\\w+)\\(([^)]*)\\)".r.findAllMatchIn(src)
      .filter(m => m.group(2).contains("storePath:") ||
        m.group(2).contains("assignPath:"))
      .map(_.group(1)).toSet
    // exact identifier-set membership, not substring containment: a
    // future fold whose name is a substring of a cataloged fold string
    // (e.g. `clusterStream` vs `semanticClusterStream`) must NOT pass
    // vacuously
    val cataloged: Set[String] =
      (StoreCatalog.All.map(_.fold) ++ StoreCatalog.FoldAliases.keys)
        .flatMap(_.split("\\W+")).filter(_.nonEmpty).toSet
    val missing = defs.filterNot(cataloged.contains)
    assert(missing.isEmpty, s"uncataloged store folds: $missing")
    assert(defs.size >= 20, s"source parse degraded: only $defs")
  }

  test("every cataloged family has a prune path; catalog covers all five layouts") {
    for (f <- StoreCatalog.All)
      assert(f.layout.prunePath.nonEmpty, f.name)
    val layouts = StoreCatalog.All.map(_.layout).distinct
    assert(layouts.size === 6, s"layouts present: $layouts")
    assert(StoreCatalog.All.size >= 26)
    // names are unique (the SURVEY §8 table keys on them)
    assert(StoreCatalog.All.map(_.name).distinct.size === StoreCatalog.All.size)
  }

  test("pruneVersions reclaims flat-versioned history (keepLast honored, newest kept)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-prune").toString
    for (v <- Seq(3L, 7L, 12L, 20L))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/v=$v"))
    assert(StoreMaintenance.versions(spark, tmp) === Seq(3L, 7L, 12L, 20L))
    val pruned = StoreMaintenance.pruneVersions(spark, tmp, keepLast = 2)
    assert(pruned === Seq(3L, 7L))
    assert(StoreMaintenance.versions(spark, tmp) === Seq(12L, 20L))
    // idempotent
    assert(StoreMaintenance.pruneVersions(spark, tmp, keepLast = 2) === Seq.empty)
  }

  test("sweep applies each family's layout prune in one call; swept store still folds correctly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sweep").toString
    // a REAL flat-versioned store: three bucket-count fold batches
    val mem = MemoryStream[Long]
    def batch(vals: Seq[Long]): Unit = {
      mem.addData(vals: _*)
      graft.streaming.StreamingOps.bucketCountsStream(
        mem.toDF().toDF("v"), "v", s"$tmp/bc", s"$tmp/cp").awaitTermination(120000)
    }
    val b1 = Seq(1L, 2L, 2L, 3L); val b2 = Seq(2L, 5L, 5L); val b3 = Seq(1L, 7L)
    batch(b1); batch(b2); batch(b3)
    assert(StoreMaintenance.versions(spark, s"$tmp/bc").size === 3)
    // a fabricated bucket-versioned store beside it
    for ((b, v) <- Seq((0L, 1L), (0L, 4L), (0L, 9L), (2L, 3L)))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$tmp/spans/bucket=$b/v=$v"))
    // an append-partitioned BM25 store: every batch partition is live data
    val bm25Dirs = for (part <- Seq("postings", "stats"); b <- 0 to 2)
      yield java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$tmp/bm25/$part/batch_id=$b"))
    val pruned = StoreMaintenance.sweep(spark,
      Map("bucket-counts" -> s"$tmp/bc", "span-store" -> s"$tmp/spans",
        "ann-indexes" -> s"$tmp/ann", "bm25-postings" -> s"$tmp/bm25"), keepLast = 2)
    assert(pruned("bucket-counts") === 1L) // v of batch 0 reclaimed
    assert(pruned("span-store") === 1L)    // bucket 0's oldest
    assert(pruned("ann-indexes") === 0L)   // frozen snapshot: no-op
    assert(pruned("bm25-postings") === 0L) // append partitions: nothing to prune
    assert(bm25Dirs.forall(java.nio.file.Files.isDirectory(_)))
    assert(StoreMaintenance.versions(spark, s"$tmp/bc").size === 2)
    assert(StoreMaintenance.bucketVersions(spark, s"$tmp/spans") ===
      Map(0L -> Seq(4L, 9L), 2L -> Seq(3L)))
    // the swept store still satisfies fold == rebuild on the NEXT batch
    val b4 = Seq(2L, 9L, 9L)
    batch(b4)
    val latest = StoreMaintenance.latestBefore(spark, s"$tmp/bc", Long.MaxValue).get
    val folded = spark.read.parquet(latest)
    val rebuilt = graft.quality.Profiler.bucketCounts(
      (b1 ++ b2 ++ b3 ++ b4).toDF("v"), "v")
    assert(folded.orderBy("bucket").collect().toSeq ===
      rebuilt.orderBy("bucket").collect().toSeq)
    // a typo'd family fails loudly, never silently skips a store
    intercept[IllegalArgumentException] {
      StoreMaintenance.sweep(spark, Map("no-such-family" -> tmp))
    }
  }

  test("foldVersion replay: a batch re-run after a crash before its commit recomputes its own version") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-replay").toString
    // a parquet file source (one file per batch), so the restarted query
    // replays the uncommitted batch over the same offsets
    val batches = Seq(Seq(1L, 2L, 2L, 3L), Seq(2L, 5L, 5L), Seq(1L, 7L))
    for (b <- batches) b.toDF("v").coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val rows = graft.streaming.StreamingOps.readFileStream(
      spark, s"$tmp/in", spark.read.parquet(s"$tmp/in").schema, maxFilesPerTrigger = Some(1))
    def run(): Unit = graft.streaming.StreamingOps.bucketCountsStream(
      rows, "v", s"$tmp/bc", s"$tmp/cp").awaitTermination(120000)
    def version(v: Long) =
      spark.read.parquet(s"$tmp/bc/v=$v").orderBy("bucket").collect().toSeq
    run()
    assert(StoreMaintenance.versions(spark, s"$tmp/bc") === Seq(0L, 1L, 2L))
    val v1 = version(1)
    // crash after batch 2's write and before its commit: v=2 holds rows
    // no fold produced, and the commit marker is missing
    Seq((-1L, 1000L)).toDF("bucket", "cnt")
      .write.mode("overwrite").parquet(s"$tmp/bc/v=2")
    for (f <- Seq("2", ".2.crc"))
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$tmp/cp/commits/$f"))
    run()
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/cp/commits/2")))
    assert(StoreMaintenance.versions(spark, s"$tmp/bc") === Seq(0L, 1L, 2L))
    val rebuilt = graft.quality.Profiler.bucketCounts(batches.flatten.toDF("v"), "v")
      .orderBy("bucket").collect().toSeq
    // equal to the rebuild, so neither the garbage bucket -1 nor a double
    // count of batch 2 reached it: the fold read v=1, never its own v=2
    assert(version(2) === rebuilt)
    assert(version(1) === v1)
  }

  test("pruneBucketVersions reclaims per-bucket history independently") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-bprune").toString
    for ((b, v) <- Seq((0L, 1L), (0L, 5L), (0L, 9L), (3L, 2L), (3L, 4L)))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$tmp/bucket=$b/v=$v"))
    val pruned = StoreMaintenance.pruneBucketVersions(spark, tmp, keepLast = 2)
    assert(pruned === Seq((0L, 1L)))
    assert(StoreMaintenance.bucketVersions(spark, tmp) ===
      Map(0L -> Seq(5L, 9L), 3L -> Seq(2L, 4L)))
  }
}
