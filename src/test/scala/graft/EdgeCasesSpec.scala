package graft

import graft.dedup.{ConnectedComponents, ExactDedup, MinHashLsh}
import graft.operators._
import graft.quality.{Profiler, RuleEngine}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Degenerate-input behavior: operators must return empty/zero results on
  * empty or pathological inputs, never throw — at pipeline scale an empty
  * partition, an empty incremental batch, or an all-null column is an
  * everyday Tuesday, not an error.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup family on empty and token-free corpora") {
    assert(ExactDedup.groups(emptyDocs, "doc_id", "text").count() == 0)
    assert(ExactDedup.dedup(emptyDocs, "doc_id", "text").count() == 0)
    assert(MinHashLsh.candidatePairs(emptyDocs, "doc_id", "text").count() == 0)
    // documents with no shingle-able content (under k tokens) drop out
    val tiny = Seq((1L, ""), (2L, "one two"), (3L, "a b")).toDF("doc_id", "text")
    assert(MinHashLsh.candidatePairs(tiny, "doc_id", "text").count() == 0)
  }

  test("connected components on empty edge list") {
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(ConnectedComponents.labelPropagation(edges).count() == 0)
    assert(ConnectedComponents.clusters(edges).count() == 0)
  }

  test("compare against an empty side classifies everything removed") {
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val df2 = Seq.empty[(Long, String)].toDF("k", "v")
    val sum = CompareDataFrames(df1, df2, Seq("k")).summary
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sum.getOrElse("removed", 0L) == 2L)
    assert(sum.getOrElse("added", 0L) == 0L && sum.getOrElse("changed", 0L) == 0L)
  }

  test("latest records, scd2 and quantiles on empty input") {
    val ev = Seq.empty[(Long, Long, String)].toDF("k", "ts", "v")
    assert(LatestRecords.latest(ev, Seq("k"), Seq("ts")).count() == 0)
    assert(LatestRecords.latestWithConflictFlag(ev, Seq("k"), Seq("ts")).count() == 0)
    assert(Scd2.build(ev, Seq("k"), Seq("ts"), Seq("v")).count() == 0)
    val pts = Seq.empty[(String, Long, Double)].toDF("g", "id", "value")
    assert(Quantiles.exactQuantiles(pts, Seq("g"), "value", "id").count() == 0)
  }

  test("rule engine and pk validation on empty tables") {
    val t = Seq.empty[(Long, Double)].toDF("k", "x")
    val rules = RuleEngine.validate(t, Seq(RuleEngine.Rule("pos", "x > 0")))
      .collect().map(r => (r.getAs[String]("rule"), r.getAs[Long]("n_rows"), r.getAs[Long]("n_failed")))
    assert(rules.toSeq == Seq(("pos", 0L, 0L)))
    val v = PrimaryKey.validateCandidate(t, Seq("k"))
    assert(v.isValid && v.recordCount == 0L)
    assert(PrimaryKey.validateCombinations(t, Seq(Seq("k"), Seq("k", "x")), maxWorkers = 4)
      == Seq(Seq("k"))) // an empty table has no duplicates: first level wins
  }

  test("profiler on zero rows and all-null columns") {
    val t = Seq.empty[(Long, String)].toDF("a", "b")
    val p0 = Profiler.profile(t, Seq("a", "b"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(p0(("a", "non_nulls")) == "0" && p0(("b", "distinct")) == "0")
    val nulls = Seq((Option.empty[String], 1), (Option.empty[String], 2)).toDF("s", "i")
    val p = Profiler.profile(nulls, Seq("s"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(p(("s", "nulls")) == "2" && p(("s", "distinct")) == "0")
    assert(p(("s", "min")) == null && p(("s", "max")) == null)
  }

  test("histogram buckets out-of-range and null values safely") {
    val d = Seq(Some(-5.0), Some(0.0), Some(4.99), Some(5.0), Some(99.9), Some(100.0), None)
      .toDF("x")
    val h = Profiler.histogram(d, "x", lo = 0.0, hi = 100.0, nBuckets = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(h(-1L) == 1L)          // below range
    assert(h(0L) == 2L)           // 0.0 and 4.99
    assert(h(1L) == 1L)           // 5.0 lands in the second bucket exactly
    assert(h(19L) == 1L)          // 99.9
    assert(h(20L) == 1L)          // hi is exclusive: 100.0 overflows
    assert(h.values.sum == 6L)    // null dropped
  }

  test("sampling extremes: fraction 0 and 1") {
    val d = spark.range(100).toDF("id")
    assert(Sampling.deterministic(d, Seq("id"), 0.0).count() == 0)
    assert(Sampling.deterministic(d, Seq("id"), 1.0).count() == 100)
  }

  test("NULL text and NULL embedding rows flow through UDF-backed operators") {
    // Seq-typed UDF params receive NULL directly (Spark only short-circuits
    // primitives), so every compiled-loop operator must null-guard; these
    // rows previously NPE'd the whole job.
    val docs = Seq(
      (1L, Option("alpha beta gamma delta epsilon zeta alpha beta gamma delta")),
      (2L, Option("alpha beta gamma delta epsilon zeta alpha beta gamma delt")),
      (3L, Option.empty[String])
    ).toDF("doc_id", "text")
    assert(MinHashLsh.signatures(docs, "doc_id", "text").count() == 2)
    val g = graft.dedup.NgramJaccard.gramSets(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).size).toMap
    assert(g(3L) == 0 && g(1L) > 0)
    assert(graft.text.TextAnalysis.topNgramFraction(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // a NULL embedding lands in bucket 0 (the old expression form's
    // behavior: NULL dot products set no bits), not an NPE
    val vecs = Seq((1L, Option(Seq(1.0, -2.0, 3.0))), (2L, Option.empty[Seq[Double]]))
      .toDF("id", "v")
    val b = vecs
      .select(col("id"), graft.similarity.Knn.lshBucket(col("v"), numPlanes = 4, dim = 3).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(2L) == 0L)
  }

  test("session-3 operators on empty and degenerate inputs") {
    import graft.text.Packing
    val emptyKv = Seq.empty[(Long, String, Long)].toDF("id", "g", "toks")
    // packing: empty input → empty assignment and summary, no window errors
    assert(Packing.chunkAssignments(emptyKv, Seq("g"), Seq("id"), "toks", 64L).count() == 0)
    assert(Packing.packSummary(emptyKv, Seq("g"), Seq("id"), "toks", 64L).count() == 0)
    // per-group cap: empty input, and cap larger than every group
    assert(Sampling.capPerGroup(emptyKv, Seq("g"), Seq("id"), 5).count() == 0)
    // bloom: empty dim builds a usable (reject-most) filter; empty fact prunes to empty
    val dim = Seq.empty[Tuple1[Long]].toDF("k")
    val bloom = BloomPrune.build(dim, Seq("k"), expectedItems = 1L)
    val fact = Seq(1L, 2L, 3L).toDF("k")
    assert(BloomPrune.prune(fact, Seq("k"), bloom).count() == 0) // no bits set
    assert(BloomPrune.prune(dim, Seq("k"), bloom).count() == 0)
    // distribution drift: both sides empty → every share is the smoothed
    // floor, terms finite and zero
    val ev = Seq.empty[Tuple1[java.lang.Double]].toDF("v")
    val d = Profiler.distributionDrift(ev, ev, "v", 0.0, 10.0, 5)
    assert(d.count() == 0) // no buckets observed on either side
    // valid-time align: one empty timeline → no segments
    val tl = Seq((1L, "x", 0L, Option.empty[Long])).toDF("k", "a", "valid_from", "valid_to")
    val none = Seq.empty[(Long, Long, Long, Option[Long])].toDF("k", "b", "valid_from", "valid_to")
    assert(TemporalJoins.validTimeAlign(tl, none, Seq("k")).count() == 0)
    // scd2 merge with an empty batch returns history unchanged
    val hist = Scd2.build(Seq((1L, 1L, "v")).toDF("e", "t", "x"), Seq("e"), Seq("t"), Seq("x"))
    val mergedEmpty = Scd2.merge(hist,
      Seq.empty[(Long, Long, String)].toDF("e", "t", "x"), Seq("e"), Seq("t"), Seq("x"))
    assert(mergedEmpty.count() == hist.count())
  }

  test("suggestRules escapes backtick names and skips non-finite bounds") {
    import graft.quality.Profiler
    val hostile = Seq((1.0, Double.NaN), (2.0, Double.PositiveInfinity))
      .toDF("we`ird", "all_nan")
    val rules = RuleEngine.suggestRules(Profiler.profile(hostile, Seq("we`ird", "all_nan")))
    // the backtick name must produce a parseable, correctly-targeted rule
    val r = rules.filter(_.name.startsWith("we`ird"))
    assert(r.nonEmpty)
    assert(RuleEngine.validate(hostile, r).select("n_failed").as[Long].collect().forall(_ == 0L))
    // min/max of NaN/Infinity columns must not emit a degenerate range rule
    assert(!rules.exists(_.name == "all_nan_range"))
  }

  test("zorder on empty and all-null inputs degrades instead of throwing") {
    import graft.sources.Layout
    val empty = Seq.empty[(Long, Long)].toDF("u", "v")
    assert(Layout.zorderBy(empty, Seq("u", "v"), outPartitions = 2).count() == 0)
    val nulls = Seq((null.asInstanceOf[java.lang.Long], 1L), (null, 2L))
      .toDF("u", "v")
    // all-NULL clustered column ranks constant 0; layout is a no-op on it
    assert(Layout.zorderBy(nulls, Seq("u", "v"), outPartitions = 2).count() == 2)
  }

  test("IVF path tolerates NULL embeddings end to end") {
    import graft.similarity.Knn
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val withNull = e.unionByName(
      Seq((999999L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val index = Knn.buildIvfIndex(withNull, "vec_id", "embedding", nlist = 4)
    val cells = Knn.assignCells(withNull, "vec_id", "embedding", index)
    // the NULL row lands in sentinel cell -1, everything else is assigned
    assert(cells.filter($"cell" === -1).select("id").as[Long].collect().toSeq == Seq(999999L))
    assert(cells.filter($"cell" >= 0).count() == e.count())
    // probing with a NULL query vector returns no rows instead of NPEing
    val q = withNull.filter($"vec_id" === 999999L || $"vec_id" === 0L)
    val res = Knn.ivfTopKPrebuilt(cells, index, q, "vec_id", "embedding", k = 3, nprobe = 4)
    assert(res.filter($"query_id" === 999999L).count() == 0)
    assert(res.filter($"query_id" === 0L).count() == 3)
  }

  test("scd2 merge without the broadcast hint produces identical history") {
    val obs = Seq((1L, 1L, "a"), (1L, 2L, "b"), (2L, 1L, "x")).toDF("e", "t", "x")
    val batch = Seq((1L, 3L, "c"), (3L, 3L, "z")).toDF("e", "t", "x")
    val hist = Scd2.build(obs, Seq("e"), Seq("t"), Seq("x"))
    def key(df: DataFrame) = df.select("e", "t", "x", "valid_from", "valid_to", "is_current")
      .collect().map(_.toSeq).toSet
    assert(key(Scd2.merge(hist, batch, Seq("e"), Seq("t"), Seq("x"), broadcastKeys = false))
      == key(Scd2.merge(hist, batch, Seq("e"), Seq("t"), Seq("x"))))
  }

  test("round-3 operators degrade to empty output on empty input") {
    import graft.operators.{Sampling, Sharding}
    import graft.dedup.SpanDedup
    val noDocs = Seq.empty[(Long, String, Long)].toDF("doc_id", "lang", "n_chars")
    assert(Sharding.assignShards(noDocs, Seq("doc_id"), 4).count() == 0)
    assert(Sharding.shardSummary(noDocs, Seq("doc_id"), 4, Some("n_chars")).count() == 0)
    assert(Sampling.temperatureResample(noDocs, Seq("lang"), Seq("doc_id")).count() == 0)
    assert(Sampling.topFractionByScore(noDocs, Seq("lang"), "n_chars", Seq("doc_id"), 0.5).count() == 0)
    val noText = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val emptyStore = SpanDedup.spanStore(noText, "doc_id", "text", 3)
    assert(emptyStore.count() == 0)
    // batch against an empty store == plain stats
    val batch = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val inc = SpanDedup.incrementalStats(batch, emptyStore, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(inc.toSeq == Seq((1L, 2L, 0L)))
  }

  test("round-4 operators degrade safely on empty/degenerate input") {
    import graft.dedup.ConnectedComponents
    import graft.operators.Sampling
    import graft.text.{Bpe, Chunking, LmScore}
    val noText = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Chunking.slidingChunks(noText, "doc_id", "text", 8, 4).count() == 0)
    assert(Chunking.chunkSummary(noText, "doc_id", "text", 8, 4).count() == 0)
    assert(graft.text.TextAnalysis.bpeTokenCounts(noText, "text").count() == 0)
    assert(Bpe.subwordCount("", Bpe.defaultRanks) == 0)
    // LM: empty reference model -> everything is OOV, nothing is attested
    val uni = LmScore.unigramCounts(noText, "text")
    val bi = LmScore.bigramCounts(noText, "text")
    val scored = LmScore.score(Seq((1L, "a b")).toDF("doc_id", "text"),
        "doc_id", "text", uni, bi).collect().head
    assert((scored.getLong(1), scored.getLong(2), scored.getLong(3), scored.getLong(4))
      == (2L, 2L, 1L, 0L))
    assert(LmScore.score(noText, "doc_id", "text", uni, bi).count() == 0)
    // incremental CC: empty batch leaves the assignment untouched; empty
    // assignment means the batch IS the graph
    val assign = ConnectedComponents.labelPropagation(
      Seq((1L, 2L)).toDF("src", "dst"))
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(ConnectedComponents.incrementalComponents(assign, noEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(1L -> 1L, 2L -> 1L))
    val emptyAssign = ConnectedComponents.labelPropagation(noEdges)
    assert(ConnectedComponents.incrementalComponents(emptyAssign,
        Seq((5L, 6L)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(5L -> 5L, 6L -> 5L))
    // epoch planning: empty corpus and empty weights both yield empty plans
    val noToks = Seq.empty[(Long, String, Long)].toDF("doc_id", "g", "toks")
    val w = Seq(("a", 1L)).toDF("g", "weight")
    assert(Sampling.epochPlan(noToks, Seq("g"), "toks", w, 100L).count() == 0)
    val plan = Sampling.epochPlan(
      Seq((1L, "a", 10L)).toDF("doc_id", "g", "toks"), Seq("g"), "toks", w, 100L)
    assert(Sampling.epochExpand(noToks, Seq("g"), Seq("doc_id"), plan).count() == 0)
  }

  test("batched PK search chunks wide levels and survives comma column names") {
    val d = Seq(
      (1L, 1L, "a", "x"), (1L, 2L, "a", "y"), (2L, 1L, "b", "x"), (2L, 2L, "c", "y")
    ).toDF("k,1", "k,2", "k3", "k4")
    val cols = Seq("k,1", "k,2", "k3", "k4")
    val combos = graft.schema.SchemaOps.columnCombinations(cols).toSeq
    // budgets 1 and 2 chunk the levels of 4, 6 and 4 combinations;
    // solutions must come back by matching the duplicated gids to the
    // chunk's combinations by position (the comma-joined label is
    // ambiguous for these names)
    val want = PkOracle.minimalKeys(d, combos).sortBy(_.size)
    assert(want.flatten.exists(_.contains(",")))
    for (budget <- Seq(1, 2, 8))
      assert(PrimaryKey.levelSearch(d, combos, budget) == want, s"budget $budget")
  }

  test("readability: hand-computed flesch, fragment floors at one sentence, vowelless text") {
    import spark.implicits._
    import graft.text.TextAnalysis
    // "the cat sat. it ran!" -> words 5, sentences 2, vowel groups:
    // e/a/a/i/a -> 5 syllables; flesch = 206.835 - 1.015*2.5 - 84.6*1.0
    val d = Seq(
      (1L, "the cat sat. it ran!"),
      (2L, "word"),
      (3L, "hmm grr brr")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.readability(d, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L)._1 == 5L && got(1L)._2 == 2L && got(1L)._3 == 5L)
    assert(got(1L)._4 == 206.835 - 1.015 * 2.5 - 84.6 * 1.0)
    // no terminator: floors at one sentence; one word, one vowel group
    assert(got(2L) == ((1L, 1L, 1L, 206.835 - 1.015 * 1.0 - 84.6 * 1.0)))
    // vowelless tokens: 0 syllables (the documented deviation), formula defined
    assert(got(3L)._3 == 0L && got(3L)._4 == 206.835 - 1.015 * 3.0)
    // zero shuffles: a narrow codegen projection
    val plan = TextAnalysis.readability(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }
}
