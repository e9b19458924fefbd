package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.graph.PageRank

/** Integer PageRank invariants (q132 gates the cross-engine replay;
  * these gate the algebra on graphs with known closed forms).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("regular graph is a fixed point at the uniform start") {
    // directed 3-cycle + reverse = 2-regular symmetric graph: every node
    // sends 2 × floor(r·85/200) and receives the same back, so
    // r = 150000 + 2·425000 = 1000000 forever
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val r = PageRank.hostAuthority(e, iters = 7).collect()
    assert(r.length == 3)
    r.foreach(row => assert(row.getLong(1) == 1000000L))
  }

  test("authority concentrates on the hub of a star") {
    // star: hub h linked to 6 leaves (symmetrized). Hub receives 6 full
    // damped shares, leaves split the hub's share 6 ways.
    val e = (1 to 6).map(i => ("h", s"l$i")).toDF("src", "dst")
    val ranks = PageRank.hostAuthority(e, iters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hub = ranks("h")
    val leaves = (1 to 6).map(i => ranks(s"l$i"))
    assert(leaves.distinct.size == 1, "leaves must tie exactly")
    assert(hub > 3 * leaves.head, s"hub=$hub leaf=${leaves.head}")
  }

  test("duplicate edges do not change the result") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val dup = e.unionByName(e).unionByName(e)
    assert(PageRank.ranks(e, 3).orderBy("node").collect().toSeq ==
      PageRank.ranks(dup, 3).orderBy("node").collect().toSeq)
  }

  test("triangles: K4 has 4, each node in 3; forest has none; dups/loops ignored") {
    import graft.graph.Triangles
    val k4 = (for { a <- Seq("p", "q", "r", "s"); b <- Seq("p", "q", "r", "s") if a < b }
      yield (a, b)).toDF("src", "dst")
    assert(Triangles.triangles(k4).count() == 4L)
    val per = Triangles.perNode(k4).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per == Map("p" -> 3L, "q" -> 3L, "r" -> 3L, "s" -> 3L))
    val forest = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    assert(Triangles.triangles(forest).count() == 0L)
    // duplicate edges, reversed orientation and self-loops change nothing
    val noisy = k4.unionByName(k4.select($"dst".as("src"), $"src".as("dst")))
      .unionByName(Seq(("p", "p")).toDF("src", "dst"))
    assert(Triangles.triangles(noisy).count() == 4L)
  }

  test("k-core: peel strips the tail, keeps the clique; fixed == stable post-convergence") {
    import graft.graph.KCore
    // K4 clique (every node degree 3) + a pendant path hanging off it
    val k4 = (for { a <- Seq("p", "q", "r", "s"); b <- Seq("p", "q", "r", "s") if a < b }
      yield (a, b))
    val e = (k4 ++ Seq(("s", "t"), ("t", "u"))).toDF("src", "dst")
    val core = KCore.core(e, k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core == Map("p" -> 3L, "q" -> 3L, "r" -> 3L, "s" -> 3L))
    val fixed = KCore.corePeel(e, k = 3, rounds = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fixed == core)
    // 2-core keeps only cycles: the pendant path still peels
    val core2 = KCore.core(e, k = 2).collect().map(_.getString(0)).toSet
    assert(core2 == Set("p", "q", "r", "s"))
    // k above the max coreness empties the graph
    assert(KCore.core(e, k = 4).count() == 0L)
  }

  test("personalized ranks: seeds-only teleport, island isolation, seeds==all is plain PageRank") {
    import graft.graph.PageRank
    // two 2-cycles: mass from seed 1 can never reach the 3-4 island
    val e = Seq((1L, 2L), (2L, 1L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val p = PageRank.personalizedRanks(e, Seq(1L).toDF("node"), iters = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p(3L) == 0L && p(4L) == 0L)
    // both island members of the seed hold mass (in a 2-cycle the bulk
    // OSCILLATES between the endpoints per iteration — no p(1) > p(2)
    // invariant at a fixed iteration count, only positivity)
    assert(p(1L) > 0L && p(2L) > 0L)
    // seeds == every node reproduces plain PageRank bit-for-bit
    val all = e.select($"src".as("node")).union(e.select($"dst".as("node"))).distinct()
    val pa = PageRank.personalizedRanks(e, all, iters = 5)
      .orderBy("node").collect().toSeq
    val plain = PageRank.ranks(e, iters = 5).orderBy("node").collect().toSeq
    assert(pa == plain)
  }

  test("harmonic: path-graph golden, depth bound, disconnected nodes absent, deterministic sources") {
    import graft.graph.Harmonic
    // path 1-2-3-4-5 plus a disconnected pair 100-101
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (100L, 101L))
      .toDF("src", "dst")
    val srcs = Seq(1L).toDF("node")
    val got = Harmonic.sampledHarmonic(edges, srcs, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // from source 1: d(2)=1, d(3)=2, d(4)=3; node 5 beyond depth; the
    // source itself (d=0) and the 100-101 island emit no rows
    assert(got == Map(
      2L -> ((1L, 1000000L)),
      3L -> ((1L, 500000L)),
      4L -> ((1L, 333333L))))
    // two sources: sums add per reaching source (node 3 reached by both
    // ends of the path at d=2 each)
    val got2 = Harmonic.sampledHarmonic(edges, Seq(1L, 5L).toDF("node"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got2(3L) == ((2L, 1000000L)))
    assert(got2(2L) == ((2L, 1000000L + 333333L)))
    // source sampling is content-keyed: partitioning/order-invariant
    val s1 = Harmonic.sampleSources(edges, 3).collect().map(_.getLong(0)).toSeq
    val s2 = Harmonic.sampleSources(edges.repartition(7).orderBy($"dst"), 3)
      .collect().map(_.getLong(0)).toSeq
    assert(s1 == s2 && s1.size == 3)
  }

  test("transition matrix: counts follow (ts, id) order; rows sum to 1") {
    import graft.operators.Funnel
    val d = Seq(
      (1L, 1L, 10L, "a"), (1L, 2L, 20L, "b"), (1L, 3L, 30L, "a"),
      (2L, 4L, 10L, "a"), (2L, 5L, 20L, "b"))
      .toDF("user_id", "event_id", "sec", "event_type")
      .select($"user_id", $"event_id",
        timestamp_seconds($"sec").as("ts"), $"event_type")
    val m = Funnel.transitionMatrix(d, "user_id", "event_type", "ts", "event_id")
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(m == Map(("a", "b") -> ((2L, 1.0)), ("b", "a") -> ((1L, 1.0))))
  }

  test("dangling nodes keep the damped base share") {
    // one edge a -> b (NOT symmetrized): b has no out-edges; after the
    // first iteration a never receives inflow -> base 150000; b gets
    // floor(150000·85/100) = 127500 inflow at the fixed point
    val e = Seq(("a", "b")).toDF("src", "dst")
    val ranks = PageRank.ranks(e, iters = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks("a") == 150000L)
    assert(ranks("b") == 150000L + 127500L)
  }

  // --- driver twin vs distributed loop ------------------------------------

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** The three entry points, each as (driver twin, distributed loop). */
  private def walks(e: DataFrame, seeds: DataFrame, iters: Int): Seq[(String, DataFrame, DataFrame)] = {
    import PageRank.{DefaultScale => sc}
    Seq(
      ("ranks", PageRank.ranks(e, iters),
        PageRank.rankLoop(e, None, iters, sc, 85L, 100L, localEdgeBound = 0)),
      ("personalizedRanks", PageRank.personalizedRanks(e, seeds, iters),
        PageRank.rankLoop(e, Some(seeds), iters, sc, 85L, 100L, localEdgeBound = 0)),
      ("hostAuthority", PageRank.hostAuthority(e, iters),
        PageRank.rankLoop(PageRank.symmetrized(e), None, iters, sc, 85L, 100L, localEdgeBound = 0)))
  }

  private def assertSameWalk(what: String, local: DataFrame, dist: DataFrame): Unit = {
    assert(local.schema == dist.schema, what)
    val (l, d) = (local.collect().toSeq, dist.collect().toSeq)
    assert(l.size == d.size && l.toSet == d.toSet, what)
  }

  test("driver walk == distributed loop bit-for-bit: all entry points, long and string ids") {
    // duplicate edges (1->2 twice), a self-loop (3->3), a dangling node (5:
    // in-edges only), a second component (7<->8) and a seed (99) that is
    // not in the graph
    val longEdges = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 3L), (3L, 1L), (1L, 4L),
      (4L, 5L), (6L, 1L), (7L, 8L), (8L, 7L)).toDF("src", "dst")
    val longSeeds = Seq(1L, 7L, 99L).toDF("node")
    val strEdges = longEdges.select(concat(lit("n"), $"src").as("src"),
      concat(lit("n"), $"dst").as("dst"))
    val strSeeds = longSeeds.select(concat(lit("n"), $"node").as("node"))
    for {
      (ids, e, seeds) <- Seq(("long", longEdges, longSeeds), ("string", strEdges, strSeeds))
      iters <- Seq(0, 7)
      (entry, local, dist) <- walks(e, seeds, iters)
    } {
      val what = s"$entry $ids ids, $iters iters"
      assert(isLocal(local) && !isLocal(dist), what)
      assertSameWalk(what, local, dist)
    }
  }

  test("driver walk falls back to the distributed loop: over the bound, NULL endpoint, DOUBLE ids, seed type") {
    import PageRank.{DefaultScale => sc}
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    // over the bound: 4 distinct edges, bound 3
    val over = PageRank.rankLoop(e, None, 5, sc, 85L, 100L, localEdgeBound = 3)
    assert(!isLocal(over))
    assertSameWalk("over bound", PageRank.ranks(e, 5), over)
    // a NULL endpoint, a DOUBLE id column and a seed type that differs from
    // the node type each decline the twin and return the distributed result
    val withNull = Seq(("a", "b"), ("b", "a"), ("a", null)).toDF("src", "dst")
    val dbl = e.select($"src".cast("double").as("src"), $"dst".cast("double").as("dst"))
    val intSeeds = Seq(1).toDF("node")
    for ((what, got, dist) <- Seq(
      ("NULL endpoint", PageRank.ranks(withNull, 5),
        PageRank.rankLoop(withNull, None, 5, sc, 85L, 100L, localEdgeBound = 0)),
      ("DOUBLE ids", PageRank.ranks(dbl, 5),
        PageRank.rankLoop(dbl, None, 5, sc, 85L, 100L, localEdgeBound = 0)),
      ("INT seeds on LONG nodes", PageRank.personalizedRanks(e, intSeeds, 5),
        PageRank.rankLoop(e, Some(intSeeds), 5, sc, 85L, 100L, localEdgeBound = 0)))) {
      assert(!isLocal(got), what)
      assertSameWalk(what, got, dist)
    }
    // the NULL node is ranked like any other node: the damped base only
    val nullRank = PageRank.ranks(withNull, 5).filter($"node".isNull).collect()
    assert(nullRank.map(_.getLong(1)).toSeq == Seq(150000L))
    // the recurrence does not depend on the id type
    val asLong = PageRank.ranks(e, 5).collect().map(r => r.getLong(0).toDouble -> r.getLong(1)).toMap
    assert(PageRank.ranks(dbl, 5).collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap == asLong)
  }

  test("hostAuthority on the driver: at most 3 jobs to build and collect, no cached RDD left behind") {
    val links = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("src", "dst")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (rows, jobs) = JobCount(spark)(PageRank.hostAuthority(links, iters = 5).collect())
    assert(rows.length == 4)
    info(s"$jobs Spark jobs")
    assert(jobs <= 3, s"$jobs jobs")
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("harmonic releases its edge cache once the BFS layers are materialized") {
    import graft.graph.Harmonic
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Harmonic.sampledHarmonic(edges, Seq(1L).toDF("node"), maxDepth = 3)
    assert(got.collect().length == 3)
    assert(Harmonic.sym(edges).storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
  }
}
