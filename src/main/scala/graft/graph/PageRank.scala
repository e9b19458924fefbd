package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.plans.{Lineage, Local}

/** Deterministic PageRank (Brin & Page 1998) in exact integer
  * arithmetic — the graph-centrality scorer web-curation pipelines use
  * for domain authority (Common Crawl publishes harmonic-centrality /
  * PageRank host rankings; a "rank the hosts, keep the authoritative
  * tail" step sits next to the blocklist filter in
  * [[graft.text.Urls]]-based funnels).
  *
  * Why integer: float PageRank sums partial contributions in
  * shuffle-arrival order, so two runs of the same job can disagree in
  * the last ulp — unacceptable under this repo's hash-equality gates
  * (q132 replays every iteration in DuckDB). Ranks are scaled longs
  * (`scale` = 1.0); per-edge contributions use truncating integer
  * division (all values non-negative, so trunc == floor on both
  * engines); integer sums are associative, so the result is
  * bit-identical regardless of partitioning. The floor loses < 1 unit
  * per in-edge per iteration — at scale 10^6 that is < 10^-6 · indeg
  * of absolute rank, noise for ranking purposes but EXACTLY the same
  * noise on every engine.
  *
  * Scale shape: two loops compute the same recurrence.
  *  - The DRIVER TWIN runs whenever the distinct edge set fits the
  *    one driver bound ([[graft.plans.Local.Bound]], 2^20 edges — the
  *    bound `labelPropagation` uses). One [[graft.plans.Local.rows]]
  *    of the distinct (src, dst) pairs (and one of the seeds) maps the
  *    nodes to dense array indices, the walk runs over arrays on the
  *    driver, and the result is a LocalRelation. Because integer sums
  *    are associative it is bit-identical to the distributed loop by
  *    construction — for graphs this size the distributed loop is all
  *    per-stage scheduling latency (McSherry et al., "Scalability! But
  *    at what COST?", HotOS 2015).
  *  - The DISTRIBUTED LOOP owns the semantics and takes every case the
  *    twin declines: an edge set over the bound, a NULL endpoint or
  *    seed, an id type other than LONG, INT or default-collation STRING
  *    (src and dst must agree), or a seed type that differs from the
  *    node type. Each iteration is one shuffle-join of the rank frame
  *    (N rows) with the edge frame (E rows) on `src` plus one
  *    aggregation on `dst` — O(E) exchanged per iteration, the textbook
  *    distributed formulation. Degrees are precomputed once and the edge
  *    frame is laid out by `src` once, so every iteration shuffles only
  *    the node-sized rank frame.
  *
  * Dangling nodes (no out-edges) keep their damped base share and
  * simply do not redistribute — the "drop dangling mass" variant;
  * documented, deterministic, and replayed identically by the oracle.
  */
object PageRank {

  val DefaultScale: Long = 1000000L

  /** Iterate PageRank over directed `edges(src, dst)` (duplicates
    * ignored). Returns (node, r) with r the scaled integer rank after
    * `iters` iterations from a uniform `scale` start; damping 85/100.
    *
    * Node set = src ∪ dst. Overflow guard: ranks are bounded by
    * N·scale; callers with N·scale ≥ 2^62/100 must lower `scale`
    * (fail-fast is on the multiply below via Spark's ANSI-off wrap —
    * so the bound is asserted here instead).
    *
    * Action contract: a walk solved on the driver returns a
    * LocalRelation — safe to act on, or branch from, any number of
    * times. A distributed walk returns a LAZY iters-deep join chain over
    * its cached edge and node frames: act on it ONCE (or persist /
    * `Lineage.truncate` it first), or every further action re-runs the
    * whole walk.
    */
  def ranks(
      edges: DataFrame,
      iters: Int = 5,
      scale: Long = DefaultScale,
      dampNum: Long = 85L,
      dampDen: Long = 100L
  ): DataFrame =
    rankLoop(edges, None, iters, scale, dampNum, dampDen)

  /** PERSONALIZED PageRank / random walk with restart (Haveliwala 2002,
    * "Topic-Sensitive PageRank"): teleport mass returns ONLY to the
    * `seeds` set — the seed-expansion tool web curation uses to grow a
    * trusted domain list ("rank everything by proximity to these known-
    * good hosts"). Identical integer discipline to [[ranks]]: seeds
    * start at `scale` and keep the damped base share, non-seeds start
    * at 0 and receive only in-flowing mass — every iteration
    * bit-identical under any partitioning, q165 replays all of them.
    * With seeds = the whole node set this IS [[ranks]] (same loop), and
    * the result carries the same action contract: act once on a
    * distributed walk, any number of times on a driver-solved one.
    */
  def personalizedRanks(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int = 5,
      scale: Long = DefaultScale,
      dampNum: Long = 85L,
      dampDen: Long = 100L
  ): DataFrame =
    rankLoop(edges, Some(seeds), iters, scale, dampNum, dampDen)

  /** The walk behind [[ranks]], [[personalizedRanks]] and
    * [[hostAuthority]]: the driver twin when the edge set fits
    * `localEdgeBound` (0 forces the distributed loop), else the
    * distributed loop.
    */
  private[graft] def rankLoop(
      edges: DataFrame,
      seedsOpt: Option[DataFrame],
      iters: Int,
      scale: Long,
      dampNum: Long,
      dampDen: Long,
      localEdgeBound: Int = Local.Bound
  ): DataFrame = {
    require(iters >= 0 && iters <= 50, s"iters out of range: $iters")
    require(scale > 0 && dampNum > 0 && dampDen >= dampNum,
      s"bad damping/scale: $dampNum/$dampDen @ $scale")
    // node ids keep the CALLER's type (a long id shuffles/compares far
    // cheaper than its string form)
    val e0 = edges.select(col("src"), col("dst")).distinct()
    if (localEdgeBound <= 0 || !driverTypes(e0, seedsOpt))
      return distributedRankLoop(e0, seedsOpt, iters, scale, dampNum, dampDen, sharedEdges = false)
    // the twin's bounded collect and the fallback read ONE lazy checkpoint
    // of the distinct edge set: its shuffle runs once, the partitions the
    // collect computed are kept, and a walk over the bound does not re-run
    // the scan + distinct its collect attempt already paid for. (A
    // persist() in its place measured a 2x slower walk phase on the
    // fallback at sf0.1, 4 cores; the checkpoint keeps the plan's own
    // statistics.)
    val shared = Lineage.truncate(e0, eager = false)
    localRankLoop(shared, seedsOpt, iters, scale, dampNum, dampDen, localEdgeBound) match {
      case Some(local) => Lineage.free(shared); local
      case None =>
        distributedRankLoop(shared, seedsOpt, iters, scale, dampNum, dampDen, sharedEdges = true)
    }
  }

  /** The id types the driver twin walks: LONG, INT or default-collation
    * STRING (the driver compares strings byte-for-byte, a collated Spark
    * column may not), the same for src, dst and the seeds' `node`.
    */
  private def driverTypes(e0: DataFrame, seedsOpt: Option[DataFrame]): Boolean = {
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val Array(srcField, dstField) = e0.schema.fields
    val t = srcField.dataType
    (t == LongType || t == IntegerType || t == StringType) && dstField.dataType == t &&
      seedsOpt.forall(_.schema.fields.exists(f => f.name == "node" && f.dataType == t))
  }

  // total rank mass is bounded by N·scale (damping only shrinks it); the
  // per-edge product multiplies by dampNum before dividing, so
  // N·scale·dampNum must fit a long or contributions wrap silently under
  // ANSI-off arithmetic — fail fast instead (the docstring's promised bound)
  private def requireNoOverflow(nNodes: Long, scale: Long, dampNum: Long): Unit =
    require(nNodes <= Long.MaxValue / dampNum / scale,
      s"N·scale·dampNum overflows long (N=$nNodes, scale=$scale): lower scale")

  /** Driver twin of [[distributedRankLoop]] over the distinct edge set
    * `e0` (id types already checked by [[driverTypes]]): the same
    * recurrence over dense node indices, in the same truncating Long
    * arithmetic. None (fall back) when the edges or the seeds are over
    * the bound or hold a NULL.
    */
  private def localRankLoop(
      e0: DataFrame,
      seedsOpt: Option[DataFrame],
      iters: Int,
      scale: Long,
      dampNum: Long,
      dampDen: Long,
      localEdgeBound: Int
  ): Option[DataFrame] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val Array(srcField, dstField) = e0.schema.fields
    val rows = Local.rows(e0, localEdgeBound) match {
      case Some(r) => r
      case None => return None
    }
    val seedSet = seedsOpt match {
      case None => None
      case Some(s) =>
        Local.rows(s.select(col("node")).distinct(), localEdgeBound) match {
          case Some(seedRows) => Some(seedRows.map(_.get(0)).toSet[Any])
          case None => return None
        }
    }
    // dense node indices in first-seen order; ids(i) is node i's value
    val index = scala.collection.mutable.HashMap.empty[Any, Int]
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def indexOf(v: Any): Int = index.getOrElseUpdate(v, { ids += v; ids.length - 1 })
    val src = rows.map(r => indexOf(r.get(0)))
    val dst = rows.map(r => indexOf(r.get(1)))
    val n = ids.length
    requireNoOverflow(n, scale, dampNum)
    val outdeg = new Array[Long](n)
    src.foreach(i => outdeg(i) += 1)
    val isSeed = Array.tabulate(n)(i => seedSet.forall(_.contains(ids(i))))
    val base = (scale * (dampDen - dampNum)) / dampDen
    var rank = Array.tabulate(n)(i => if (isSeed(i)) scale else 0L)
    for (_ <- 0 until iters) {
      val next = Array.tabulate(n)(i => if (isSeed(i)) base else 0L)
      var k = 0
      while (k < src.length) {
        val s = src(k)
        next(dst(k)) += (rank(s) * dampNum) / (dampDen * outdeg(s))
        k += 1
      }
      rank = next
    }
    val schema = StructType(Seq(
      StructField("node", srcField.dataType, srcField.nullable || dstField.nullable),
      StructField("r", LongType, nullable = false)))
    Some(Local.frame(e0.sparkSession, (0 until n).map(i => Row(ids(i), rank(i))), schema))
  }

  /** The distributed loop over the distinct edge set `e0`; with
    * `sharedEdges` (`e0` is the twin's lazy checkpoint) it frees `e0`'s
    * blocks once the edge checkpoint below no longer needs them.
    */
  private def distributedRankLoop(
      e0: DataFrame,
      seedsOpt: Option[DataFrame],
      iters: Int,
      scale: Long,
      dampNum: Long,
      dampDen: Long,
      sharedEdges: Boolean
  ): DataFrame = {
    // Iterative-plan discipline (measured at sf0.1, SURVEY §5.8):
    // 1. WITHOUT materialization, iteration i's lazy plan contains
    //    iterations 1..i−1 — O(iters²) recompute.
    // 2. localCheckpoint for the per-iteration frames is a TRAP: a
    //    LogicalRDD has no size statistics, so the N-node rank/degree
    //    joins plan as sort-merge over the full edge set every
    //    iteration (1.8 s/iter). persist() + count() keeps REAL stats
    //    visible, the planner broadcasts the node-sized sides on its
    //    own (0.8 s/iter), and at a scale where the rank frame outgrows
    //    the broadcast threshold it degrades to a shuffle join — the
    //    correct behavior a forced broadcast() hint would break.
    // The edge frame IS checkpointed (Lineage.truncate): it cuts the
    // caller's (possibly expensive) edge-generation lineage once, and it
    // only ever sits on the probe side.
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // the out-degree fuses into the edge frame ONCE — each iteration is
    // then a single rank join + one aggregation over (dst, contribution)
    val deg = e0.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // Lay the fused edge/outdeg frame out by src ONCE — hash-partitioned
    // AND sorted within partitions — before the checkpoint (r18): a
    // checkpoint, local or reliable, preserves the physical
    // partitioning/ordering on the LogicalRDD, so every iteration's rank
    // join finds the edge side already exchange- and sort-free and shuffles ONLY the node-sized
    // rank frame. Without this the lazily-composed walk re-shuffled and
    // re-sorted the whole edge set once per iteration (5 runtime
    // SortMergeJoins with both sides exchanged — the thing the old
    // per-round broadcast hid locally but would not have survived at a
    // scale where ranks outgrow the broadcast threshold anyway).
    val e = Lineage.truncate(e0.join(deg, "src")
      .repartition(col("src"))
      .sortWithinPartitions("src"))
    if (sharedEdges) Lineage.free(e0)
    val nodesBase = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // __seed marks teleport targets: everyone for plain PageRank, the
    // seed set for the personalized walk
    val nodes = (seedsOpt match {
      case None => nodesBase.withColumn("__seed", lit(true))
      case Some(s) => nodesBase
        .join(s.select(col("node")).distinct().withColumn("__s", lit(1)),
          Seq("node"), "left")
        .withColumn("__seed", col("__s").isNotNull).drop("__s")
    }).persist(mad)
    // materialize -> accurate stats for the joins below, and the N the
    // overflow guard needs
    requireNoOverflow(nodes.count(), scale, dampNum)
    val base = (scale * (dampDen - dampNum)) / dampDen
    // The iteration chain composes LAZILY (r18; replaces persist+count
    // per round): rank_i is referenced exactly once (by contribs_{i+1}),
    // and the multiply-referenced frames — the fused edge/outdeg set and
    // the node spine — are materialized above, so the composed plan is
    // LINEAR in iters (no re-execution, no 2^i tree growth) and the
    // whole walk runs as ONE action: AQE picks each per-iteration join
    // strategy from the REAL runtime size of the rank exchange (the
    // same correct-at-any-scale behavior the old persist+count bought,
    // minus iters driver round-trips and iters node-frame cache writes
    // per read — q132 measured 43 jobs / 86 stages → 24 / 50 and
    // construct+run ~4.3 s → ~3.0 s, q165 45 → 26 jobs, at
    // sf0.1/local[8]).
    var rank = nodes
      .select(col("node"),
        when(col("__seed"), lit(scale)).otherwise(lit(0L)).as("r"))
    for (_ <- 0 until iters) {
      val contribs = e
        .join(rank.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr(s"(r * $dampNum) div ($dampDen * outdeg)").as("c"))
        .groupBy("node")
        .agg(sum(col("c")).as("inflow"))
      rank = nodes
        .join(contribs, Seq("node"), "left")
        .select(col("node"),
          (when(col("__seed"), lit(base)).otherwise(lit(0L)) +
            coalesce(col("inflow"), lit(0L))).as("r"))
    }
    rank
  }

  /** Host-authority convenience: rank the distinct (src_host, dst_host)
    * link graph, symmetrized (a link is evidence about both endpoints —
    * the undirected-authority variant curation funnels use when crawl
    * link direction is noisy).
    */
  def hostAuthority(links: DataFrame, iters: Int = 5, scale: Long = DefaultScale): DataFrame =
    ranks(symmetrized(links), iters, scale)

  /** (src, dst) ∪ (dst, src): the link graph [[hostAuthority]] ranks. */
  private[graft] def symmetrized(links: DataFrame): DataFrame = {
    val e = links.select(col("src"), col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }
}

/** Triangle counting over an undirected graph — the standard
  * compact-forward / node-ordering formulation (each triangle counted
  * once via a < b < c). The density diagnostic for near-dup graphs: a
  * healthy dedup pair set is near-forest (few triangles); a triangle
  * explosion means a boilerplate template is pairing everything with
  * everything and the downstream connected-components pass will produce
  * a giant component — cheaper to detect here than after clustering.
  *
  * Scale shape: DEGREE ordering, not id ordering — edges orient from
  * the (degree, node)-smaller endpoint, wedges enumerate pairs of
  * out-neighbors of a shared source, and a closure join confirms the
  * third edge. Out-degrees under degree ordering are O(√m), so the
  * wedge mass is O(m^1.5) instead of the O(Σ deg²) of naive id
  * ordering — on the sf0.1 co-purchase gate graph that is the
  * difference between 18 s and ~3 s (a hub node's full degree² never
  * materializes). The triangle SET is orientation-independent, so the
  * q135 oracle counts by plain id ordering and still hash-matches —
  * the optimization is provably invisible in results.
  */
object Triangles {

  /** Canonical undirected edge set: (a, b) with a < b as strings. */
  private def canon(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("string").as("s"), col("dst").cast("string").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct()

  /** All triangles (a, b, c), each exactly once (a < b < c in the
    * output columns' own ordering is NOT guaranteed — orientation is by
    * (degree, node); consumers needing canonical column order can sort
    * the struct).
    */
  def triangles(edges: DataFrame): DataFrame = {
    // canon contains the caller's (possibly expensive) edge generation
    // and feeds degree + orientation; the oriented frame then feeds
    // THREE plan branches (both wedge sides + closure) — checkpoint
    // both or the upstream recomputes once per branch (measured: the
    // un-checkpointed q135 shape recomputed the order-pair self-join
    // 4x)
    val e = Lineage.truncate(canon(edges))
    // persist + materialize: with real size stats the planner
    // broadcasts the node-sized degree frame onto the edge scan (the
    // PageRank lesson above — a stat-less deg would force two
    // sort-merge joins over the edge set)
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    deg.count()
    // orient each edge from its (deg, node)-smaller endpoint; carry the
    // destination's order key for the wedge-pair ordering below
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
    val ka = struct(col("da").as("d"), col("a").as("n"))
    val kb = struct(col("db").as("d"), col("b").as("n"))
    val o = Lineage.truncate(withDeg.select(
      when(ka < kb, col("a")).otherwise(col("b")).as("src"),
      when(ka < kb, kb).otherwise(ka).as("dk"))
      .select(col("src"), col("dk").getField("n").as("dst"), col("dk")))
    val wedges = o.as("e1")
      .join(o.as("e2"), col("e1.src") === col("e2.src") &&
        col("e1.dk") < col("e2.dk"))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"), col("e2.dst").as("z"))
    // closure: y→z must be an oriented edge (it is oriented y→z iff
    // (deg,y) < (deg,z), which the wedge ordering guarantees)
    wedges.join(o.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
      .select(col("x").as("a"), col("y").as("b"), col("z").as("c"))
  }

  /** (node, n_triangles) for every node in at least one triangle, plus
    * the global count via `triangles().count()` if needed.
    */
  def perNode(edges: DataFrame): DataFrame =
    triangles(edges)
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))

  /** Canonical undirected simple edges (u < v in the columns' native
    * order), nulls, self-loops and duplicate/reversed edges dropped —
    * the normalization [[triangleCounts]] applies so its input contract
    * is just "an edge list, any orientation, any multiplicity".
    */
  def canonicalEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull && col(srcCol) =!= col(dstCol))
      .select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .distinct()

  /** Per-node frame: node (the input column's native type), exact
    * degree, triangle count, and local clustering coefficient
    * c_v = 2·T_v/(deg_v·(deg_v−1)) as one pinned division (NULL below
    * degree 2) — the structure audit CC can't give: CC says "these docs
    * are transitively linked", the coefficient says how CLIQUE-like each
    * node's near-dup neighborhood is.
    *
    * Counting goes through [[triangles]] — the one degree-ordered,
    * checkpointed wedge core this object owns — never a second
    * enumeration. The canonical edge set is checkpointed HERE too: it
    * feeds the degree aggregation and the triangle core, and its
    * upstream (e.g. q218's sorted-neighborhood + edit-distance edge
    * generation) is the expensive part — without the cut it would
    * recompute once per branch.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = Lineage.truncate(canonicalEdges(edges, srcCol, dstCol))
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // triangles() keys nodes as strings internally; join back on the
    // string image (injective for any atomic id type) to keep the
    // caller's native node type in the output
    val nodeTri = perNode(e.select(col("u").as("src"), col("v").as("dst")))
      .select(col("node").as("__sn"), col("n_triangles").as("__tri"))
    deg.join(nodeTri, deg("node").cast("string") === col("__sn"), "left_outer")
      .select(col("node"), col("deg"), coalesce(col("__tri"), lit(0L)).as("tri"))
      .withColumn("coeff",
        when(col("deg") > 1L,
          lit(2d) * col("tri") / (col("deg").cast("double") * (col("deg") - 1L))))
  }

  /** Graph-level summary from the [[triangleCounts]] frame: nodes,
    * edges (Σdeg/2), triangles (Σtri/3), wedges (Σ deg·(deg−1)/2), and
    * global transitivity 3·T/W — one row, exact integers, one pinned
    * division.
    */
  def transitivity(nodeFrame: DataFrame): DataFrame =
    nodeFrame.agg(
      count(lit(1)).as("nodes"),
      (sum(col("deg").cast("decimal(38,0)")) / 2).cast("decimal(38,0)").cast("long").as("edges"),
      (sum(col("tri").cast("decimal(38,0)")) / 3).cast("decimal(38,0)").cast("long").as("triangles"),
      (sum(col("deg").cast("decimal(38,0)") * (col("deg") - 1L).cast("decimal(38,0)")) / 2)
        .cast("decimal(38,0)").cast("long").as("wedges"))
      .withColumn("transitivity",
        when(col("wedges") > 0L, lit(3d) * col("triangles") / col("wedges")))
}

/** k-core decomposition by iterative peeling (Seidman 1983; the
  * Batagelj–Zaveršnik peel, expressed as rounds): repeatedly remove
  * nodes whose degree among the SURVIVORS is < k; what remains is the
  * k-core — the standard "dense kernel" extractor for near-dup graphs
  * (a k-core that survives aggressive peeling is a boilerplate cluster;
  * the forest-like long tail peels away in the first rounds).
  *
  * Two forms: [[corePeel]] runs a FIXED number of rounds — extra rounds
  * after convergence are no-ops, and a fixed count is exactly
  * replayable by an unrolled SQL oracle (q139); [[core]] loops to the
  * fixpoint with an early exit (one `count()` per round — the round
  * result is materialized anyway under the iterative-plan discipline).
  * Each round is two survivor semi-joins + one degree aggregation —
  * O(E) — with the survivor frame persisted so its REAL size keeps the
  * semi-joins broadcast while survivors are small (the PageRank stats
  * lesson).
  */
object KCore {

  private val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Symmetrized distinct (src, dst) with self-loops dropped. */
  private def sym(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  private def peelLoop(edges: DataFrame, k: Int, rounds: Int,
      untilStable: Boolean): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1 && rounds <= 1000, s"rounds out of range: $rounds")
    // iterate the ALIVE-EDGE frame with a checkpoint per round: the
    // iterated frame is referenced by BOTH anti-joins of the next
    // round, so an un-truncated lineage doubles per round — the plan
    // tree (and anything that renders it) grows 2^rounds. Exactly the
    // distributedLabelPropagation shape; each checkpoint materializes
    // O(E_alive), which shrinks as the graph peels.
    var alive = Lineage.truncate(sym(edges))
    var i = 0
    var stable = false
    while (i < rounds && !stable) {
      // bad feeds both anti-joins (+ the stability probe): persist or
      // the O(E) degree aggregation recomputes per branch — the same
      // branch-recompute trap fixed in Triangles/Containment/ExactSubstr
      val bad = alive.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") < k).select(col("src").as("n"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nBad = bad.count()
      // nBad == 0 makes EVERY remaining round an exact no-op (an
      // anti-join against an empty frame removes nothing, so alive —
      // and therefore bad — can never change again): stop paying the
      // two per-round actions regardless of the stability mode. The
      // fixed-round contract is untouched — post-convergence rounds
      // were already documented no-ops (r18; q139 ran 12 rounds of
      // jobs for a graph that peels in fewer).
      if (nBad == 0) stable = true
      else {
        val next = Lineage.truncate(alive
          .join(bad.withColumnRenamed("n", "src"), Seq("src"), "left_anti")
          .join(bad.withColumnRenamed("n", "dst"), Seq("dst"), "left_anti"))
        Lineage.free(alive)
        alive = next
      }
      bad.unpersist(false)
      i += 1
    }
    // final degrees among the surviving edge set (all >= k at the
    // fixpoint; for a fixed non-converged round count this reports the
    // round's survivor degrees, which is what the oracle replays)
    alive.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_degree"))
  }

  /** Exactly `rounds` peel rounds (post-convergence rounds are no-ops);
    * returns (node, core_degree) for the survivors.
    */
  def corePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    peelLoop(edges, k, rounds, untilStable = false)

  /** Peel to the fixpoint (true k-core), bounded by `maxRounds`. */
  def core(edges: DataFrame, k: Int, maxRounds: Int = 100): DataFrame =
    peelLoop(edges, k, maxRounds, untilStable = true)
}

/** Harmonic centrality by sampled multi-source BFS — the "how reachable
  * is this node" number next to PageRank's "how endorsed" (Boldi &
  * Vigna 2014, "Axioms for Centrality", name the harmonic form the
  * principled one for disconnected graphs; Eppstein & Wang 2001 give
  * the source-sampling estimator). H(v) = Σ_{u: d(u,v) < ∞} 1/d(u,v);
  * exact H needs all-pairs BFS (O(n·m) — a non-starter at 100 TB), so
  * the estimator runs BFS from a DETERMINISTIC md5-earliest sample of
  * sources and reports the partial sum — content-keyed selection, so
  * the same graph yields the same report under any partitioning.
  *
  * ENGINE-EXACT: distances are integers, and 1/d is summed as the
  * exact integer `scale div d` (the q149 pinned-rational discipline) —
  * no float ever appears, the q153 oracle unrolls each BFS round as a
  * materialized CTE and replays every distance and every division.
  *
  * Scale shape: each round is frontier ⋈ edges → distinct → anti-join
  * visited, persist+count per round (real statistics for the planner —
  * the SURVEY §5.8 iterative-plan discipline; lineage stays truncated
  * because every frame referenced twice is materialized). Frontier and
  * visited are ≤ sources × nodes rows; rounds = maxDepth, after which
  * 1/d terms fall below scale resolution anyway.
  */
object Harmonic {

  private val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Symmetrized distinct edge set, self-loops dropped. */
  private[graft] def sym(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
    e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** The md5-earliest `k` nodes of the (symmetrized) edge set — the
    * deterministic source sample (ties broken by node, though md5 of
    * distinct nodes cannot collide at this width).
    */
  def sampleSources(edges: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    sym(edges).select(col("src").as("node")).distinct()
      .orderBy(md5(to_binary(col("node").cast("string"), lit("utf-8"))), col("node"))
      .limit(k)
  }

  /** (node, n_sources_reached, harmonic_scaled) over every node reached
    * by at least one sampled source within `maxDepth` hops, where
    * harmonic_scaled = Σ over reaching sources of `scale div d`. The
    * node's own source row (d = 0) is excluded — 1/0 is not a term.
    * Unreached nodes emit no row (their partial harmonic sum is 0).
    */
  def sampledHarmonic(
      edges: DataFrame,
      sources: DataFrame,
      maxDepth: Int,
      scale: Long = 1000000L
  ): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 64, s"maxDepth out of range: $maxDepth")
    require(scale > 0, "scale must be positive")
    val e = sym(edges).persist(mad)
    e.count()
    // One materialized layer per depth; `visited` stays a LAZY union of
    // the layers (r18; replaces the per-round union re-cache+count): the
    // anti-join and the final aggregation read the layer blocks
    // directly, so each BFS round pays ONE materializing action (the
    // eager localCheckpoint; the early-exit count over it is a trivial
    // cached-RDD job) instead of two, and the O(V·sources) visited set
    // is no longer re-written to the block store every round (q153
    // measured: 39 jobs / 164 stages → ~14 / 63, construct+run ~3.9 s →
    // ~1.5 s at sf0.1/local[8]). localCheckpoint (not persist) keeps
    // each layer's plan a FLAT LogicalRDD — a persisted layer's
    // InMemoryRelation re-renders its whole lineage inside every later
    // layer's anti-join, the 2^depth string-growth trap the Lineage doc
    // warns about (measured: a 10,847-line q153 final plan). Join
    // strategies stay scale-correct: AQE picks them from the REAL
    // runtime exchange sizes, which is what the old persisted-stats
    // arrangement bought.
    val layer0 = Lineage.truncate(
      sources.select(col("node").as("s"), col("node"), lit(0).as("d")))
    var layers = Vector[DataFrame](layer0)
    var frontier = layer0
    var depth = 1
    var exhausted = false
    while (depth <= maxDepth && !exhausted) {
      val visited = layers.map(_.select(col("s"), col("node")))
        .reduce(_ unionByName _)
      val fresh = Lineage.truncate(frontier.select(col("s"), col("node"))
        .join(e.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("s"), col("dst").as("node")).distinct()
        .join(visited, Seq("s", "node"), "left_anti")
        .withColumn("d", lit(depth)))
      val n = fresh.count()
      if (n == 0) exhausted = true
      else { layers = layers :+ fresh; frontier = fresh }
      depth += 1
    }
    // every layer is materialized, so the result never reads the edge
    // cache again: release its O(E) blocks now
    e.unpersist(false)
    layers.map(_.filter(col("d") > 0)).reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(
        count(lit(1)).as("n_sources_reached"),
        sum(expr(s"$scale div d")).as("harmonic_scaled"))
  }
}
