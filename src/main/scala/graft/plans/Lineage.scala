package graft.plans

import org.apache.spark.sql.DataFrame

/** Lineage truncation for iterative operators (beam walks, label
  * propagation, pair-merge rounds): the per-round plan references the
  * previous round's frame, so without truncation the logical tree — and
  * even its STRING rendering — grows exponentially (the driver OOM found
  * in the round-9 layered-descent work). Every checkpoint in graft is
  * taken here.
  */
object Lineage {

  /** Truncate a frame's lineage, materializing it now (`eager`) or at
    * its first action.
    *
    * With a configured checkpoint dir (`sparkContext.setCheckpointDir`)
    * this is a RELIABLE checkpoint: blocks live on the cluster's fault-
    * tolerant store, so executor loss / dynamic deallocation recomputes
    * nothing and long multi-hop searches survive on a real cluster.
    * Without one (local[n], tests, gate runs) it falls back to
    * `localCheckpoint` — executor-local, non-fault-tolerant blocks: fine
    * single-JVM, but a cluster deployment running iterative searches
    * should set a checkpoint dir. Either way the result is a LogicalRDD
    * that keeps the frame's physical partitioning and ordering.
    */
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** Frees the executor blocks behind a [[truncate]]d frame.
    * `Dataset.unpersist()` cannot do this — checkpoint data lives as RDD
    * storage blocks (not CacheManager entries), so without an explicit
    * RDD-level unpersist every round's blocks linger until GC. A reliable
    * checkpoint's files stay in the checkpoint dir (the ContextCleaner
    * removes them when `spark.cleaner.referenceTracking.cleanCheckpoints`
    * is set).
    */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
