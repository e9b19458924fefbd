package graft

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

import graft.dedup.ConnectedComponents
import graft.graph.PageRank
import graft.text.Bpe
import org.apache.spark.CheckpointDir
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Every lineage cut goes through graft.plans.Lineage, and every driver
  * collect of a twin or fold through graft.plans.Local's one bounded
  * collect.
  */
class LineageSpec extends SparkSpec {
  import spark.implicits._

  /** The checkpoint file of each RDD behind `df`'s checkpointed leaves:
    * defined for a reliable checkpoint, None for a local one.
    */
  private def checkpointFiles(df: DataFrame): Seq[Option[String]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd.getCheckpointFile
    }

  /** The reliably checkpointed RDDs written under `dir`. */
  private def rddDirs(dir: File): Int =
    Files.walk(dir.toPath).iterator().asScala
      .count(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("rdd-"))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("with a checkpoint dir the iterative loops checkpoint reliably and return the same rows") {
    // a descending chain (several propagation rounds) plus a cycle
    val edges = ((0L until 12L).map(i => (12L - i, 11L - i)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L))).toDF("src", "dst")
    val docs = Seq("the thing that was there", "then the theme", "hello hello the")
      .toDF("text")
    def components = ConnectedComponents.labelPropagation(edges, localEdgeThreshold = 0)
    def ranks = PageRank.rankLoop(edges, None, 5, PageRank.DefaultScale, 85L, 100L,
      localEdgeBound = 0)
    def merges = Bpe.trainMerges(docs, "text", numMerges = 6)

    // no dir: local checkpoints, no checkpoint files
    val (cc0, pr0) = (components, ranks)
    assert(checkpointFiles(cc0).nonEmpty && checkpointFiles(cc0).forall(_.isEmpty))
    assert(checkpointFiles(pr0).nonEmpty && checkpointFiles(pr0).forall(_.isEmpty))
    val (wantCc, wantPr, wantMerges) = (rows(cc0), rows(pr0), merges)
    assert(wantMerges.size == 6)

    CheckpointDir(spark.sparkContext) { dir =>
      val cc = components
      assert(checkpointFiles(cc).nonEmpty && checkpointFiles(cc).forall(_.isDefined))
      assert(rows(cc) == wantCc)
      val pr = ranks
      assert(checkpointFiles(pr).nonEmpty && checkpointFiles(pr).forall(_.isDefined))
      assert(rows(pr) == wantPr)
      // the merge loop's dictionary checkpoints: the initial one plus one
      // per merge, each written as an rdd-<id> dir
      val before = rddDirs(dir)
      assert(merges == wantMerges)
      assert(rddDirs(dir) - before >= wantMerges.size + 1)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("no main-code file but Lineage.scala calls .localCheckpoint( or .checkpoint(") {
    val hits = MainSources.hits(l =>
      l.contains(".localCheckpoint(") || l.contains(".checkpoint("))
    assert(hits.nonEmpty && hits.forall(_.contains("/plans/Lineage.scala:")),
      hits.mkString("checkpoints outside Lineage.scala: ", ", ", ""))
  }

  test("no main-code file but Local.scala holds a limit(max + 1).collect()") {
    val bounded = """limit\(.*\+\s*1\)\s*\.collect\(\)""".r
    val hits = MainSources.hits(bounded.findFirstIn(_).isDefined)
    assert(hits.nonEmpty && hits.forall(_.contains("/plans/Local.scala:")),
      hits.mkString("bounded collects outside Local.scala: ", ", ", ""))
  }
}
