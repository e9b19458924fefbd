package graft.dedup

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.plans.{Lineage, Local, LongUnionFind}

/** Connected components over a pair/edge list — the step that turns
  * near-duplicate PAIRS into duplicate CLUSTERS (keep one representative
  * per component).
  *
  * Algorithm: iterative min-label propagation with POINTER JUMPING: each
  * round every node takes the minimum label among itself and its
  * neighbors, then shortcuts to its label's label (label ids are node
  * ids, so the mapping composes with itself). The jump halves the
  * effective distance to the component minimum every round, so
  * convergence is O(log diameter) — a 1000-link adversarial chain
  * converges in ~10 rounds, not 1000 — while duplicate clusters (tiny
  * diameter) still finish in 2-3 rounds. Same idea as the star-contraction
  * family (large-star/small-star); the jump composes with the neighbor-min
  * step instead of rewriting the edge set.
  *
  * Correctness: a node's label is always the id of some node REACHABLE
  * from it (neighbor-min picks a neighbor's label; the jump picks a label
  * reachable from the labelled node), labels only decrease, and the
  * minimum reachable id is a fixpoint — so the fixpoint is exactly
  * component = min reachable node.
  *
  * Scale notes: each round is two shuffled joins + one aggregation;
  * [[graft.plans.Lineage.truncate]] cuts the lineage every round so
  * plans don't grow exponentially; convergence is detected with a
  * changed-label metric OBSERVED during the checkpoint's own
  * materialization job (`Dataset.observe`) — one Spark job per round,
  * where a separate changed-count probe would double the per-round
  * scheduling latency that dominates small-round iterative queries.
  */
object ConnectedComponents {

  /** @param edges DataFrame with columns (src, dst) — undirected.
    * @param localEdgeThreshold edge sets at most this large are solved by
    *        ONE driver union-find instead of the iterative distributed
    *        propagation (0 disables; default [[graft.plans.Local.Bound]]).
    *        Near-dup edge sets are tiny relative to the corpus they came
    *        from — blocking emits pairs, not rows — so at micro-batch and
    *        per-query scale the O(log diameter) round chain is pure
    *        scheduling latency; the probe pays one [[graft.plans.Local.rows]]
    *        and falls back when the set is over the bound.
    * @return (node, component) where component = min node id reachable.
    *         Distributed results are materialized (checkpointed); local
    *         ones are a LocalRelation — deterministic and free to branch.
    */
  def labelPropagation(
      edges: DataFrame,
      maxIter: Int = 20,
      localEdgeThreshold: Int = Local.Bound
  ): DataFrame =
    localLabelPropagation(edges, localEdgeThreshold)
      .getOrElse(distributedLabelPropagation(edges, maxIter))

  /** Driver union-find twin of the propagation loop: same fixpoint
    * (component = min reachable node id), zero Spark jobs after the edge
    * collect. Bails (None) where [[graft.plans.Local.rows]] does (an
    * oversized edge set, a NULL endpoint) and on non-long id columns —
    * the distributed loop is the semantics owner.
    */
  private def localLabelPropagation(
      edges: DataFrame,
      localEdgeThreshold: Int
  ): Option[DataFrame] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    if (!Local.longCols(edges, "src", "dst")) return None
    Local.rows(edges.select(col("src"), col("dst")), localEdgeThreshold).map { rows =>
      val uf = new LongUnionFind
      rows.foreach(r => uf.union(r.getLong(0), r.getLong(1)))
      val out = uf.ids.toSeq.map(k => Row(k, uf.find(k)))
      Local.frame(edges.sparkSession, out, StructType(Seq(
        StructField("node", LongType, nullable = false),
        StructField("component", LongType, nullable = false))))
    }
  }

  private def distributedLabelPropagation(edges: DataFrame, maxIter: Int): DataFrame = {
    // materialized once: every round joins against it, and without the
    // checkpoint each iteration would re-scan + re-distinct the edge source
    val sym = Lineage.truncate(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    try {
      // ckpt = the round's materialized checkpoint (freed next round);
      // labels = the user-facing view of it
      var ckpt = Lineage.truncate(sym.select(col("src").as("node")).distinct()
        .withColumn("component", col("node")))
      var labels = ckpt
      var converged = false
      var iter = 0
      while (!converged && iter < maxIter) {
        // neighbor minimum per node, then min with own label
        val neighborMin = sym
          .join(labels.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst").as("node"))
          .agg(min(col("component")).as("nbr_min"))
        val afterNbr = labels.join(neighborMin, Seq("node"), "left")
          .select(
            col("node"),
            least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"),
            col("component").as("__old")
          )
        // pointer jump: shortcut each node to its (post-neighbor-min)
        // label's label — the exponential-convergence step. The parent map
        // is the round's materialized `labels` checkpoint (classic pointer
        // doubling composes the same generation's mapping with itself), so
        // the self-reference costs a join, not a recompute of neighborMin.
        // the convergence signal rides the checkpoint's OWN
        // materialization job via observe() — no separate probe job
        val obs = org.apache.spark.sql.Observation(s"cc_round_$iter")
        // eager: materialized here, prior round now free-able
        val updated = Lineage.truncate(afterNbr.join(
            labels.select(col("node").as("component"), col("component").as("__parent")),
            Seq("component"), "left")
          .select(
            col("node"),
            least(col("component"), coalesce(col("__parent"), col("component"))).as("component"),
            col("__old")
          )
          .withColumn("__changed", col("component") < col("__old"))
          .drop("__old")
          .observe(obs, sum(col("__changed").cast("long")).as("n_changed")))
        val changed = obs.get.get("n_changed").collect { case l: Long => l }.getOrElse(0L)
        Lineage.free(ckpt)
        ckpt = updated
        labels = updated.drop("__changed")
        converged = changed == 0
        iter += 1
      }
      labels
    } finally Lineage.free(sym)
  }

  /** Cluster summary: representative (min id) + member count per component. */
  def clusters(edges: DataFrame, maxIter: Int = 20): DataFrame =
    labelPropagation(edges, maxIter)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"))

  /** Cluster-SIZE histogram + duplication summary from a
    * (node, component) assignment — the one-screen dedup health read:
    * how big are the near-dup families (a fat tail = a boilerplate
    * template pairing everything), and what fraction of the corpus is
    * redundant (dup_factor = (nodes − clusters)/nodes — keeping one doc
    * per cluster removes exactly that share of the EDGE-TOUCHED corpus;
    * singletons never enter an edge list, so feed assignments that
    * include them, or read the factor as edge-touched-only — stated).
    * One row per distinct size: size, n_clusters, n_nodes (= their
    * product, exact), plus the replicated totals and the ONE pinned
    * dup_factor division. Size-cardinality output; two aggregations +
    * one all-frame window over the histogram — nothing corpus-sized
    * after the first groupBy.
    */
  def clusterSizeProfile(assign: DataFrame): DataFrame = {
    val sizes = assign.groupBy(col("component")).agg(count(lit(1)).as("size"))
    val all = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    sizes.groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_nodes", col("size") * col("n_clusters"))
      .withColumn("total_nodes", sum("n_nodes").over(all))
      .withColumn("total_clusters", sum("n_clusters").over(all))
      .withColumn("dup_factor",
        (col("total_nodes") - col("total_clusters")).cast("double") /
          col("total_nodes").cast("double"))
  }

  /** Dedup THRESHOLD sweep: for every candidate verification threshold,
    * the clustering that WOULD result — one summary row per threshold t
    * with the edge count, touched-node count, cluster count, and
    * duplication factor of the graph restricted to edges with
    * `distCol` ≤ t. The maxDist tuning curve read directly: where the
    * dup_factor elbow sits is where the verifier should cut.
    *
    * The thresholds are NESTED (edges at t are a subset of t+1), so the
    * whole curve is ONE incremental union-find sweep, not a clustering
    * per threshold: the pair frame collapses to per-(src, dst) MIN
    * distance (one aggregation — a pair is "in" at t iff its min dist
    * is), the distinct pairs are collected (bounded by the blocking
    * contract and by `localPairThreshold`, default the one driver bound
    * [[graft.plans.Local.Bound]] that [[labelPropagation]]'s driver path
    * uses, which these gate-scale pair sets already ride) and
    * processed in ascending-dist order; every threshold's
    * (pairs, nodes, clusters) snapshot falls out of the running
    * union-find counters. Oversized pair sets fall back to one
    * [[labelPropagation]] per threshold over the SHARED checkpointed
    * min-dist frame (the blocking+verify chain is computed once, not
    * once per threshold).
    */
  def thresholdClusterSweep(
      pairs: DataFrame,
      srcCol: String,
      dstCol: String,
      distCol: String,
      thresholds: Seq[Int],
      localPairThreshold: Int = Local.Bound
  ): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val grouped = pairs
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull && col(distCol).isNotNull)
      .groupBy(col(srcCol).as("src"), col(dstCol).as("dst"))
      .agg(min(col(distCol).cast("double")).as("d"))
    localThresholdSweep(grouped, thresholds, localPairThreshold)
      .getOrElse(distributedThresholdSweep(grouped, thresholds))
  }

  /** The single-pass driver sweep over collected (src, dst, min dist)
    * rows: the running (nodes, clusters) counters of one
    * [[graft.plans.LongUnionFind]]. Bails (None) where
    * [[graft.plans.Local.rows]] does and on non-long id columns — the
    * per-threshold distributed loop is the semantics owner.
    */
  private def localThresholdSweep(
      grouped: DataFrame,
      thresholds: Seq[Int],
      localPairThreshold: Int
  ): Option[DataFrame] = {
    if (!Local.longCols(grouped, "src", "dst")) return None
    val spark = grouped.sparkSession
    import spark.implicits._
    Local.rows(grouped, localPairThreshold).map { rows =>
      val edges = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(e => (e._3, e._1, e._2))
      val uf = new LongUnionFind
      var i = 0
      val out = thresholds.sorted.map { t =>
        while (i < edges.length && edges(i)._3 <= t.toDouble) {
          uf.union(edges(i)._1, edges(i)._2)
          i += 1
        }
        val (nNodes, nClusters) = (uf.nodes, uf.clusters)
        val dup = if (nNodes > 0L) (nNodes - nClusters).toDouble / nNodes.toDouble else 0d
        (t, i.toLong, nNodes, nClusters, dup)
      }
      // ascending snapshots re-ordered to the caller's threshold order
      val byT = out.map(r => r._1 -> r).toMap
      thresholds.map(byT)
        .toDF("threshold", "n_pairs", "n_nodes", "n_clusters", "dup_factor")
    }
  }

  /** Prefix of the job tag each threshold of [[distributedThresholdSweep]]
    * runs under (`<prefix>-<sweep uuid>-<threshold index>`).
    */
  private[graft] val SweepJobTagPrefix = "graft-threshold-sweep"

  /** Per-threshold fallback for pair sets too large to collect: one
    * [[labelPropagation]] per threshold, all over the ONE checkpointed
    * min-dist frame (summaries are collected eagerly — threshold-count
    * rows — so the checkpoint can be freed before returning).
    *
    * @param timeout bound on the whole sweep. When it passes, every
    *        threshold's jobs are cancelled through its job tag and the
    *        workers are drained BEFORE the TimeoutException propagates —
    *        no sweep job keeps running in the background, and none reads
    *        the checkpoint after it is freed.
    */
  private[graft] def distributedThresholdSweep(
      grouped: DataFrame,
      thresholds: Seq[Int],
      timeout: scala.concurrent.duration.FiniteDuration =
        scala.concurrent.duration.Duration(1, "h")
  ): DataFrame = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val spark = grouped.sparkSession
    val sc = spark.sparkContext
    import spark.implicits._
    val ckpt = Lineage.truncate(grouped)
    try {
      // the per-threshold clusterings are INDEPENDENT jobs over the one
      // checkpointed frame — overlap them from a small thread pool so a
      // threshold's label-propagation tail back-fills idle executors
      // (guide §2.6); results are collected per threshold and re-emitted
      // in caller order, so the overlap changes nothing downstream
      val sweepId = java.util.UUID.randomUUID()
      val tags = thresholds.indices.map(i => s"$SweepJobTagPrefix-$sweepId-$i")
      val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, thresholds.size))
      val out =
        try {
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
          val futs = thresholds.zip(tags).map { case (t, tag) =>
            Future {
              if (stopped.get)
                throw new java.util.concurrent.CancellationException(
                  s"threshold sweep stopped before threshold $t")
              sc.addJobTag(tag)
              try {
                val e = ckpt.filter(col("d") <= t.toDouble).select(col("src"), col("dst"))
                val s = clusters(e)
                  .agg(
                    coalesce(sum("n_members"), lit(0L)).as("n_nodes"),
                    count(lit(1)).as("n_clusters"))
                  .collect()(0)
                val nPairs = ckpt.filter(col("d") <= t.toDouble).count()
                val (nNodes, nClusters) = (s.getLong(0), s.getLong(1))
                val dup = if (nNodes > 0L) (nNodes - nClusters).toDouble / nNodes.toDouble else 0d
                (t, nPairs, nNodes, nClusters, dup)
              } finally sc.removeJobTag(tag)
            }
          }
          val deadline = timeout.fromNow
          try futs.map(f => Await.result(f, deadline.timeLeft max Duration.Zero))
          catch {
            case e: java.util.concurrent.TimeoutException =>
              // cancel until every worker has returned: a worker between
              // two actions would otherwise start its next job after the
              // first cancel, and queued thresholds see `stopped` and skip
              stopped.set(true)
              pool.shutdown()
              do tags.foreach(sc.cancelJobsWithTag(_, s"threshold sweep timed out after $timeout"))
              while (!pool.awaitTermination(50, java.util.concurrent.TimeUnit.MILLISECONDS))
              throw e
          }
        } finally pool.shutdown()
      out.toDF("threshold", "n_pairs", "n_nodes", "n_clusters", "dup_factor")
    } finally Lineage.free(ckpt)
  }

  /** Fold NEW edges into an existing (node, component) assignment without
    * re-clustering the corpus — the nightly-dedup shape (new near-dup
    * pairs arrive from [[MinHashLsh.incrementalBlockedPairs]]; clusters
    * must absorb them, including merging previously separate components).
    *
    * Only components TOUCHED by a new edge are re-solved: their members
    * are collapsed to star edges (node — old component; the old component
    * id is the component's min node id, so min-label semantics carry
    * over), unioned with the new edges, and re-run through
    * [[labelPropagation]]; every other assignment row passes through
    * UNSHUFFLED (left-anti against the touched-component set) — the same
    * closed-versions-pass-through contract as `Scd2.merge`. Nodes seen
    * only in new edges join as fresh singleton/cluster members.
    *
    * Cost: O(members of touched components + new edges) per fold, never
    * O(corpus); the touched node/component sets are batch-sized
    * (broadcast when `broadcastBatch`, the usual incremental contract).
    *
    * @param assign (node, component) from a previous [[labelPropagation]]
    *               (or this function) — component ids must be min node
    *               ids, which both produce.
    */
  def incrementalComponents(
      assign: DataFrame,
      newEdges: DataFrame,
      maxIter: Int = 20,
      broadcastBatch: Boolean = true
  ): DataFrame = {
    val (touchedComps, resolved) =
      incrementalResolve(assign, newEdges, maxIter, broadcastBatch)
    val hint: DataFrame => DataFrame =
      if (broadcastBatch) broadcast else identity
    assign.join(hint(touchedComps), Seq("component"), "left_anti")
      .select("node", "component")
      .unionByName(resolved.select("node", "component"))
  }

  /** The incremental core, exposed for sinks that materialize only the
    * CHANGED part: (old component ids touched by a batch edge, the
    * re-solved (node, component) assignment covering exactly those
    * components' members plus batch-only nodes). Rows of `assign` outside
    * the touched set are — by construction — final and untouched.
    */
  private[graft] def incrementalResolve(
      assign: DataFrame,
      newEdges: DataFrame,
      maxIter: Int = 20,
      broadcastBatch: Boolean = true,
      maxLocalEdges: Int = Local.Bound
  ): (DataFrame, DataFrame) =
    localResolve(assign, newEdges, broadcastBatch, maxLocalEdges)
      .getOrElse(distributedResolve(assign, newEdges, maxIter, broadcastBatch))

  /** Fast path for the usual incremental contract (small batch vs huge
    * assignment): the only graph that needs SOLVING is the batch edges
    * CONTRACTED over the old assignment — each endpoint replaced by its
    * old component id (itself when unassigned) — which is batch-sized by
    * construction. That graph is union-found ON THE DRIVER (one
    * [[graft.plans.LongUnionFind]] over the [[graft.plans.Local.rows]] of
    * the batch, bounded by `maxLocalEdges`, the same batch-is-small bound
    * the broadcast hints assert; min-id roots preserve min-label
    * semantics because old component ids ARE min member ids), and the
    * merged mapping broadcast-joins back over the touched members — so a
    * fold is ONE distributed pass with no wide exchange, instead of an
    * O(log diameter) chain of pointer-jumping jobs whose per-round
    * scheduling latency dominates at micro-batch sizes. Falls back to
    * [[distributedResolve]] for oversized batches (`broadcastBatch =
    * false`, more than `maxLocalEdges` edges or a NULL endpoint) and for
    * non-long id columns.
    */
  private def localResolve(
      assign: DataFrame,
      newEdges: DataFrame,
      broadcastBatch: Boolean,
      maxLocalEdges: Int
  ): Option[(DataFrame, DataFrame)] = {
    val longIds = Local.longCols(assign, "node", "component") &&
      Local.longCols(newEdges, "src", "dst")
    if (!broadcastBatch || !longIds) return None
    val spark = assign.sparkSession
    import spark.implicits._
    val pairs = Local.rows(newEdges.select(col("src"), col("dst")), maxLocalEdges) match {
      case Some(rows) => rows.map(r => (r.getLong(0), r.getLong(1)))
      case None => return None
    }
    val endpoints = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    // old component per batch endpoint — the ONLY assignment rows read
    // eagerly, bounded by 2·|batch|
    val endpointAssign = assign
      .join(broadcast(endpoints.toSeq.toDF("node")), Seq("node"), "left_semi")
      .select(col("node"), col("component"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // union-find with min-id roots over contracted keys
    val uf = new LongUnionFind
    def key(n: Long): Long = endpointAssign.getOrElse(n, n)
    pairs.foreach { case (s, d) => uf.union(key(s), key(d)) }
    val rootOf = uf.ids.map(k => k -> uf.find(k)).toMap
    val touchedComps = endpointAssign.values.toSeq.distinct.toDF("component")
    val mapping = rootOf.toSeq.toDF("component", "__newc")
    val fresh = endpoints.filterNot(endpointAssign.contains)
      .map(n => (n, rootOf(n))).toSeq.toDF("node", "component")
    val resolved = assign
      .join(broadcast(touchedComps), Seq("component"), "left_semi")
      .join(broadcast(mapping), Seq("component"))
      .select(col("node"), col("__newc").as("component"))
      .unionByName(fresh)
    Some((touchedComps, resolved))
  }

  /** The generic distributed form: touched members collapse to star edges
    * (node — old component) and re-run through [[labelPropagation]]
    * together with the batch — right when the batch itself is too large
    * to hold on the driver.
    */
  private def distributedResolve(
      assign: DataFrame,
      newEdges: DataFrame,
      maxIter: Int,
      broadcastBatch: Boolean
  ): (DataFrame, DataFrame) = {
    def hint(df: DataFrame): DataFrame = if (broadcastBatch) broadcast(df) else df
    val touchedNodes = newEdges.select(col("src").as("node"))
      .unionByName(newEdges.select(col("dst").as("node")))
      .distinct()
    val touchedComps = assign.join(hint(touchedNodes), Seq("node"), "left_semi")
      .select("component").distinct()
    val members = assign.join(hint(touchedComps), Seq("component"), "left_semi")
    val starEdges = members.select(col("node").as("src"), col("component").as("dst"))
    val resolved = labelPropagation(
      starEdges.unionByName(newEdges.select(col("src"), col("dst"))), maxIter)
    (touchedComps, resolved)
  }

  /** The dedup END product: map every document to its cluster's
    * representative — the highest-`scoreCol` member (ties → lowest id) —
    * so a curation pipeline keeps the best copy of each duplicate cluster
    * instead of an arbitrary one. Documents in no edge are their own
    * singleton representative.
    *
    * Scale shape: components from [[labelPropagation]]; the representative
    * is `first(id)` over a per-component window ordered by (score desc,
    * id) — ONE pass over the doc+component frame (an agg+join-back form
    * was measured planning the frame TWICE, once per branch; the window
    * keeps a single branch and its shuffle doubles as the mapping's
    * distribution). Components are duplicate clusters — small by nature —
    * so the within-partition sort never sees a skewed group.
    *
    * @return (idCol, component, canonical_id, is_kept) per input document.
    */
  def canonicalize(
      docs: DataFrame,
      edges: DataFrame,
      idCol: String,
      scoreCol: String,
      maxIter: Int = 20
  ): DataFrame = {
    val comp = labelPropagation(edges, maxIter)
    val withComp = docs.select(col(idCol), col(scoreCol))
      .join(comp, col(idCol) === col("node"), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .drop("node")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component").orderBy(col(scoreCol).desc, col(idCol))
    withComp
      .withColumn("canonical_id", first(col(idCol)).over(w))
      .select(col(idCol), col("component"), col("canonical_id"),
        (col(idCol) === col("canonical_id")).as("is_kept"))
  }
}
