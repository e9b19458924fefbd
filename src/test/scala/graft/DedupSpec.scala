package graft

import graft.dedup._
import graft.similarity.Knn
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exact dedup keeps min id per identical content") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"), (4L, "a b c "))
    val g = ExactDedup.groups(d, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(g == Map(1L -> 2L, 3L -> 1L, 4L -> 1L)) // trailing space is distinct content
    val kept = ExactDedup.dedup(d, "doc_id", "text").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("incremental dedup drops batch-internal and already-seen content") {
    val history = docs((1L, "seen before"), (2L, "also seen"))
    val seen = ExactDedup.digests(history, "text")
    val batch = docs(
      (10L, "brand new"), (11L, "brand new"),   // in-batch duplicate
      (12L, "seen before"),                      // historical duplicate
      (13L, "also new"))
    val kept = ExactDedup.incremental(batch, "doc_id", "text", seen)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 13L))
  }

  test("minhash estimate tracks exact jaccard for near/far pairs") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = base + " extra1 extra2"
    val far = (100 to 160).map(i => s"other$i").mkString(" ")
    val d = docs((1L, base), (2L, near), (3L, far))
    val pairs = MinHashLsh.candidatePairs(d, "doc_id", "text", minJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 2L)) > 0.7)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // exact jaccard of the near pair: shared 58 3-grams of 60-token doc
    val exact = NgramJaccard.verify(Seq((1L, 2L)).toDF("id_a", "id_b"), d, "doc_id", "text")
      .select("jaccard").as[Double].head()
    assert(math.abs(exact - 58.0 / 60.0) < 1e-9)
    assert(math.abs(pairs((1L, 2L)) - exact) < 0.2) // 64-hash estimate tolerance
  }

  test("simhash: identical texts collide, near texts within small hamming, far texts blocked or distant") {
    val base = (1 to 80).map(i => s"w$i").mkString(" ")
    val d = docs((1L, base), (2L, base), (3L, base + " tail1 tail2"), (4L, "completely different content entirely"))
    val fp = SimHash.fingerprints(d, "doc_id", "text").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) <= 6)
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(4L)) > 10)
    val pairs = SimHash.pairs(d, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("embedding near-dup pairs find identical vectors, reject orthogonal") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (4L, Array(0.9999f, 0.01f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Knn.nearDupPairs(vecs, "vec_id", "embedding", tau = 0.99, numPlanes = 2, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("brute-force knn ranks by cosine with id tiebreak") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f)),
      (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Knn.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0), "vec_id", "embedding", k = 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(out.toSeq == Seq(1L, 2L, 3L))
  }

  test("langId identifies obvious language samples") {
    val d = Seq(
      (1L, "the cat sat on the mat and it was happy with the sun"),
      (2L, "el gato es un animal y no le gusta el agua para nada"),
      (3L, "der hund ist ein tier und das ist nicht schlecht für den mann"),
      (4L, "le chat est un animal et il est dans la maison pour la nuit")
    ).toDF("doc_id", "text")
    val out = d.select($"doc_id", TextAnalysis.langId($"text").as("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr"))
  }

  test("lineLanguageProfile: per-line counts, fixed-order dominant tie-break, blanks skipped") {
    val d = Seq(
      (1L, "the cat is on the table\n" +
        "le chat est sur la table et il est pas\n" +
        "der hund ist nicht mit der katze\n" +
        "\n" + // blank line skipped
        "这是一个中文句子测试"),
      (2L, null.asInstanceOf[String]),
      (3L, "xyzzy qwerty\nfoo bar baz"), // no stopword hits anywhere
      (4L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lineLanguageProfile(d, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_lines"), r.getAs[Int]("n_en"), r.getAs[Int]("n_fr"),
          r.getAs[Int]("n_de"), r.getAs[Int]("n_zh"), r.getAs[Int]("n_und"),
          r.getAs[String]("dominant_lang"), r.getAs[Long]("foreign_ppm")))).toMap
    // four non-blank lines, one per language; all tie at 1 -> the FIXED
    // order says 'en'; foreign = 3 of 4 lines
    assert(got(1L) == ((4, 1, 1, 1, 1, 0, "en", 750000L)))
    assert(got(2L) == ((0, 0, 0, 0, 0, 0, "und", 0L)))
    assert(got(3L) == ((2, 0, 0, 0, 0, 2, "und", 0L)))
    assert(got(4L) == ((0, 0, 0, 0, 0, 0, "und", 0L)))
  }

  test("fingerprints: md5 is whitespace/case-insensitive, rolling hash is order-sensitive") {
    val d = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "world hello")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(d, "text").collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(3))).toMap
    assert(fp(1L)._1 == fp(2L)._1)
    assert(fp(2L)._1 != fp(3L)._1)
    assert(fp(2L)._2 != fp(3L)._2) // rolling hash sees order
  }

  test("MinHashUnion aggregator: union signature equals signature of concatenated docs") {
    import graft.functions.MinHashUnion
    val a = (1 to 40).map(i => s"t$i").mkString(" ")
    val b = (30 to 70).map(i => s"t$i").mkString(" ")
    val parts = docs((1L, a), (2L, b))
    val whole = docs((9L, a + " " + b))
    val sigParts = MinHashLsh.signatures(parts, "doc_id", "text")
    val sigWhole = MinHashLsh.signatures(whole, "doc_id", "text")
    val unioned = sigParts.agg(MinHashUnion.column(col("sig")).as("sig"))
      .collect().head.getSeq[Long](0)
    val direct = sigWhole.collect().head.getSeq[Long](1)
    // union of gram sets != concatenation exactly (boundary grams), but the
    // signatures must agree on almost every position
    assert(MinHashUnion.estimatedJaccard(unioned, direct) > 0.9)
    // and unioning a signature with itself is identity
    val self = sigParts.limit(1).agg(MinHashUnion.column(col("sig"))).collect().head.getSeq[Long](0)
    val orig = sigParts.orderBy("doc_id").limit(1).collect().head.getSeq[Long](1)
    assert(self == orig)
  }

  test("topNgramFraction separates looping boilerplate from varied text") {
    import graft.text.TextAnalysis
    val d = docs(
      (1L, "buy now buy now buy now buy now"),          // 'buy now' dominates
      (2L, "one two three four five six seven eight"),  // all 2-grams unique
      (3L, "solo"))                                     // < 2 tokens: dropped
    val r = TextAnalysis.topNgramFraction(d, "doc_id", "text", n = 2)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r.keySet == Set(1L, 2L))
    assert(r(1L)._1 == 7L && r(1L)._2 == 4.0 / 7.0) // 'buy now' x4 of 7
    assert(r(2L)._2 == 1.0 / 7.0)
  }

  test("contamination: shared n-grams between splits are counted per eval doc") {
    import graft.text.Contamination
    val train = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated training material here today"))
    val test_ = docs(
      (10L, "well the quick brown fox jumps again"), // shares "the quick brown fox jumps"
      (11L, "nothing in common with anything at all"))
    val c = Contamination.sharedGrams(train, test_, "doc_id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(c == Map(10L -> 1L), s"got $c")
    // bloom path: superset of exact (false positives only), equal here
    val b = Contamination.sharedGramsBloom(train, test_, "doc_id", "text", n = 5,
        expectedGrams = 1000L, fpp = 0.001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(b == c, s"bloom $b vs exact $c")
  }

  test("connected components: chains, cycles, and long paths converge to min label") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // path of 5
      (10L, 11L), (11L, 12L), (12L, 10L), // cycle
      (20L, 21L) // pair
    ).toDF("src", "dst")
    val comps = ConnectedComponents.labelPropagation(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
    assert(comps(20L) == 20L && comps(21L) == 20L)
    val cl = ConnectedComponents.clusters(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 5L, 10L -> 3L, 20L -> 2L))
  }

  test("pointer jumping bounds rounds by log(diameter), not diameter") {
    // a 200-link chain, ids descending so the min label must travel the
    // whole chain: plain min-propagation needs ~200 rounds; with the
    // pointer jump log2(200) ≈ 8 — maxIter = 12 must fully converge.
    // localEdgeThreshold = 0 forces the DISTRIBUTED loop (the local
    // union-find twin would solve any chain in zero rounds)
    val chain = (0L until 200L).map(i => (200L - i, 199L - i)).toDF("src", "dst")
    val comps = ConnectedComponents.labelPropagation(chain, maxIter = 12,
        localEdgeThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps.size == 201)
    assert(comps.values.forall(_ == 0L), s"chain not converged: ${comps.filter(_._2 != 0L).take(5)}")
  }

  test("labelPropagation: driver-local fast path equals the distributed loop") {
    // chains + cycle + pair + self-loop + duplicate/reversed edges — the
    // local union-find and the iterative propagation must be
    // output-indistinguishable (same min-label fixpoint)
    val edges = Seq(
      (5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (21L, 20L), (30L, 30L), (1L, 2L)
    ).toDF("src", "dst")
    val local = ConnectedComponents.labelPropagation(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = ConnectedComponents.labelPropagation(edges, localEdgeThreshold = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == dist,
      s"diff: ${(local.toSet diff dist.toSet) ++ (dist.toSet diff local.toSet)}")
    // oversized-threshold boundary: exactly-at-threshold stays local,
    // one-under falls back — both identical
    val under = ConnectedComponents.labelPropagation(edges, localEdgeThreshold = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(under == dist)
  }

  test("incremental minhash blocking equals full-corpus blocking for the new batch") {
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"text")
    // batch: near-dup twins of every 5th corpus doc (one-word tail change)
    // plus one within-batch duplicate pair
    val twins = corpus.filter($"doc_id" % 5 === 0)
      .select(($"doc_id" + 1000000).as("doc_id"), concat($"text", lit(" zz")).as("text"))
    val batch = twins.unionByName(
      twins.limit(1).select(($"doc_id" + 500000).as("doc_id"), $"text"))
    val stored = MinHashLsh.signatures(corpus, "doc_id", "text")
    val inc = MinHashLsh.incrementalBlockedPairs(batch, stored, "doc_id", "text",
        maxBucketSize = 10000)
      .as[(Long, Long)].collect().toSet
    val full = MinHashLsh.blockedPairs(corpus.unionByName(batch), "doc_id", "text",
        maxBucketSize = 10000)
      .as[(Long, Long)].collect().toSet
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    val fullBatchPairs = full.filter(p => batchIds(p._1) || batchIds(p._2))
    assert(inc == fullBatchPairs, s"diff: ${(inc diff fullBatchPairs) ++ (fullBatchPairs diff inc)}")
    assert(inc.nonEmpty)
    // no stored-stored pairs leak in
    assert(inc.forall(p => batchIds(p._1) || batchIds(p._2)))
    // the bucket cap must apply to the COMBINED batch+store population:
    // with a tight cap both paths drop the same degenerate buckets
    val incCap = MinHashLsh.incrementalBlockedPairs(batch, stored, "doc_id", "text",
        maxBucketSize = 3)
      .as[(Long, Long)].collect().toSet
    val fullCap = MinHashLsh.blockedPairs(corpus.unionByName(batch), "doc_id", "text",
        maxBucketSize = 3)
      .as[(Long, Long)].collect().toSet
      .filter(p => batchIds(p._1) || batchIds(p._2))
    assert(incCap == fullCap,
      s"cap diff: ${(incCap diff fullCap) ++ (fullCap diff incCap)}")
  }

  test("line dedup scrub: global first occurrence, reconstruction, empty-doc survival") {
    val d = Seq(
      (1L, "hdr\nbody one\nftr"),
      (2L, "hdr\nbody two\nftr"),   // header+footer scrubbed, body kept
      (3L, "hdr\nbody one\nftr"),   // exact twin of 1 → fully scrubbed
      (4L, "solo")                  // untouched single-line doc
    ).toDF("doc_id", "text")
    val out = LineDedup.scrub(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ("hdr\nbody one\nftr", 3L, 3L))
    assert(out(2L) == ("body two", 3L, 1L))
    assert(out(3L) == ("", 3L, 0L)) // row survives with empty text
    assert(out(4L) == ("solo", 1L, 1L))
    // first occurrence is by (id, pos), not arbitrary: a line appearing
    // later in doc 1 and earlier in doc 5 stays with doc 1 (lower id)
    val d2 = Seq((1L, "x\nshared"), (5L, "shared\ny")).toDF("doc_id", "text")
    val out2 = LineDedup.scrub(d2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2 == Map(1L -> "x\nshared", 5L -> "y"))
    // encoding overflow fails fast rather than misordering
    val bad = Seq((1L << 50, "a\nb")).toDF("doc_id", "text")
    val e = intercept[Exception](LineDedup.scrub(bad, "doc_id", "text").collect())
    assert(e.getMessage != null)
    // empty lines are STRUCTURE, not content: blank-line/paragraph
    // layout survives in every doc, not just the corpus-first one
    val d3 = Seq((1L, "a\n\nb\n\nc"), (2L, "x\n\ny")).toDF("doc_id", "text")
    val out3 = LineDedup.scrub(d3, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out3 == Map(1L -> "a\n\nb\n\nc", 2L -> "x\n\ny"))
    // minLineChars raises the exemption: 1-char lines never scrub
    val d4 = Seq((1L, "*\nlong line"), (2L, "*\nlong line")).toDF("doc_id", "text")
    val out4 = LineDedup.scrub(d4, "doc_id", "text", minLineChars = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out4 == Map(1L -> "*\nlong line", 2L -> "*"))
  }

  test("incremental line scrub equals the full-corpus scrub restricted to the batch") {
    val old = Seq(
      (1L, "hdr\nold one\nftr"),
      (2L, "hdr\nold two\nftr")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "hdr\nnew one\nftr"),      // hdr/ftr in store → scrub
      (11L, "new one\nnew two"),       // new one: batch-first is doc 10
      (12L, "hdr\nnew two\n\nnew two") // blank survives; new two first in 11
    ).toDF("doc_id", "text")
    val store = LineDedup.lineStore(old, "doc_id", "text")
    val inc = LineDedup.incrementalScrub(store, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val full = LineDedup.scrub(old.unionByName(batch), "doc_id", "text")
      .filter(col("id") >= 10L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(inc == full, s"inc=$inc full=$full")
    assert(inc(10L) == (("new one", 3L, 1L)))
    assert(inc(12L) == (("", 4L, 1L))) // only the blank line survives
    // folding the batch in makes a rerun of the SAME batch scrub everything
    val store2 = LineDedup.mergeLineStore(store,
      LineDedup.lineStore(batch, "doc_id", "text"))
    val replay = LineDedup.incrementalScrub(store2, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    // every content line is now store-owned; only blanks survive
    assert(replay == Map(10L -> 0L, 11L -> 0L, 12L -> 1L))
    // the broadcast guard's shuffle fallback (maxBroadcastKeys = 0 forces
    // it) is result-identical to the broadcast fast path
    val fallback = LineDedup.incrementalScrub(store, batch, "doc_id", "text",
        maxBroadcastKeys = 0)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(fallback == inc, s"fallback=$fallback inc=$inc")
    // lineStore carries the same (id,pos) overflow fail-fast as scrub:
    // an id >= 2^43 must raise, not silently wrap into a wrong owner
    val big = Seq((1L << 43, "some line")).toDF("doc_id", "text")
    val e2 = intercept[Exception] {
      LineDedup.lineStore(big, "doc_id", "text").collect()
    }
    assert(e2.getMessage != null)
  }

  test("within-doc line scrub: narrow fold, first occurrence, blanks survive, no shuffle") {
    val d = Seq(
      (1L, "nav\nbody\nnav\nnav\nftr"),    // repeated nav → one survives
      (2L, "a\n\nb\n\na"),                 // blanks ALWAYS survive; 'a' dedups
      (3L, "solo"),
      (4L, "")                             // empty text round-trips
    ).toDF("doc_id", "text")
    val out = LineDedup.scrubWithinDoc(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ("nav\nbody\nftr", 5L, 3L))
    assert(out(2L) == ("a\n\nb\n", 5L, 4L))
    assert(out(3L) == ("solo", 1L, 1L))
    assert(out(4L) == ("", 1L, 1L))
    // duplicate lines in DIFFERENT docs both survive (within-doc scope)
    val d2 = Seq((1L, "shared\nx"), (2L, "shared\ny")).toDF("doc_id", "text")
    val out2 = LineDedup.scrubWithinDoc(d2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out2 == Map(1L -> "shared\nx", 2L -> "shared\ny"))
    // cutoverLines = MaxValue: PURE narrow projection — zero exchanges
    val onScan = LineDedup.scrubWithinDoc(
      Tables.documents(spark, sf), "doc_id", "text",
      cutoverLines = Int.MaxValue)
    assert(!onScan.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("containment: fragment-in-document pairs found; prefix blocking is lossless") {
    import graft.dedup.Containment
    val long = (1 to 60).map(i => s"w$i").mkString(" ")
    val frag = (1 to 20).map(i => s"w$i").mkString(" ")       // c(frag→long)=1.0
    val half = (11 to 70).map(i => s"w$i").mkString(" ")      // partial overlap
    val other = (100 to 160).map(i => s"x$i").mkString(" ")   // disjoint
    val d = Seq((1L, long), (2L, frag), (3L, half), (4L, other)).toDF("doc_id", "text")
    val got = Containment.containmentPairs(d, "doc_id", "text", k = 3, tau = 0.9)
      .select("id_a", "id_b", "containment").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.map(t => (t._1, t._2)) == Set((1L, 2L)))
    assert(got.head._3 == 1.0)
    // brute-force equality at a lower tau where the partial pair appears:
    // blocking must reproduce the all-pairs result exactly
    val ids = d.select("doc_id")
    val allPairs = ids.select(col("doc_id").as("id_a"))
      .crossJoin(ids.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
    val tau = 0.5
    val brute = Containment.verify(allPairs, d, "doc_id", "text", k = 3, tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Containment.containmentPairs(d, "doc_id", "text", k = 3, tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == brute, s"blocking recall miss: ${brute diff blocked}")
    assert(brute.contains((1L, 3L))) // the partial pair is present at 0.5
  }

  test("containment blocking is lossless AT the tau boundary (integer prefix math)") {
    import graft.dedup.Containment
    // A has exactly 10 grams (12 tokens); B contains exactly 9 of them
    // (c(A→B) = 0.9 == tau): the float form floor((1.0-0.9)*10)+1 = 1
    // gave a one-gram prefix, and when that one rarest gram is exactly
    // the one B misses, the boundary pair was silently dropped. The
    // integer prefix (10 - ceil(0.9*10) + 1 = 2) must catch it — try
    // every possible missing gram position to cover whichever gram the
    // df-ordering puts first.
    val aTok = (1 to 12).map(i => s"t$i")
    (0 until 10).foreach { miss =>
      // B = A's token stream with gram #miss broken by renaming token miss+2
      val bTok = aTok.updated(miss + 1, s"x$miss") ++ (1 to 30).map(i => s"pad${miss}_$i")
      val d = Seq((1L, aTok.mkString(" ")), (2L, bTok.mkString(" ")))
        .toDF("doc_id", "text")
      val got = Containment.containmentPairs(d, "doc_id", "text", k = 3, tau = 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = Containment.verify(
        Seq((1L, 2L)).toDF("id_a", "id_b"), d, "doc_id", "text", 3, 0.5)
        .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute, s"boundary recall miss at gram $miss")
    }
    // exact boundary at tau itself: 9-of-10 grams contained, tau = 0.9
    val b9 = aTok.take(11) // grams 1..9 of A, missing the last
    val d = Seq((1L, aTok.mkString(" ")), (2L, b9.mkString(" "))).toDF("doc_id", "text")
    val atTau = Containment.containmentPairs(d, "doc_id", "text", k = 3, tau = 0.9)
      .collect()
    assert(atTau.length == 1)
    assert(atTau(0).getDouble(2) == 0.9) // c_a_in_b exactly at tau survives
  }

  test("within-doc scrub: exploded cutover path equals the fold path") {
    val d = Seq(
      (1L, "nav\nbody\nnav\nnav\nftr"),
      (2L, "a\n\nb\n\na"),
      (3L, "solo"),
      (4L, ""),
      (5L, (1 to 50).map(i => s"line${i % 7}").mkString("\n")) // heavy dups
    ).toDF("doc_id", "text")
    // cutover 0 forces EVERY non-null doc through the exploded path
    val viaExplode = LineDedup.scrubWithinDoc(d, "doc_id", "text", cutoverLines = 0)
      .orderBy("id").collect().toSeq
    val viaFold = LineDedup.scrubWithinDoc(d, "doc_id", "text",
      cutoverLines = Int.MaxValue).orderBy("id").collect().toSeq
    assert(viaExplode == viaFold)
    // NULL text survives the routing (fold path owns it) on the default
    val withNull = d.unionByName(Seq((9L, null: String)).toDF("doc_id", "text"))
    val out = LineDedup.scrubWithinDoc(withNull, "doc_id", "text")
      .filter($"id" === 9L).collect()
    assert(out.length == 1 && out(0).isNullAt(1))
  }

  test("semantic dedup: within-cell pairs, components, min-id keep, sentinel cell") {
    val vA = Seq(1.0, 0.0, 0.0)
    val vB = Seq(0.0, 1.0, 0.0)
    val vAneg = Seq(-1.0, 0.0, 0.0)
    val assigned = Seq(
      // cell 0: 1≈2≈3 (triangle), 4 orthogonal, 5 negated (anti-dup)
      (1L, vA, 0), (2L, vA, 0), (3L, vA, 0), (4L, vB, 0), (5L, vAneg, 0),
      // cell 1: same VECTOR as cell 0's dups — cross-cell pairs must NOT
      // form (the SemDeDup within-cluster approximation is the contract)
      (6L, vA, 1), (7L, vA, 1),
      // sentinel cell -1 (NULL-embedding path) never pairs, still output
      (8L, vA, -1)
    ).toDF("id", "v", "cell")
    val pairs = SemanticDedup.duplicatePairs(assigned, tau = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L), (6L, 7L)))
    val out = SemanticDedup.semDedup(assigned, tau = 0.99)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out == Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      4L -> (4L, true), 5L -> (5L, true),
      6L -> (6L, true), 7L -> (6L, false),
      8L -> (8L, true)))
  }

  test("semantic dedup composes with assignCells: twins land in one cell and dedup") {
    // two well-separated directions, exact twins of each; assignCells must
    // put a vector and its exact twin in the same cell, so semDedup finds
    // exactly the twin pairs regardless of which cells k-means chose
    val corpus = Seq(
      (1L, Seq(10.0, 0.0)), (2L, Seq(10.0, 0.0)),
      (3L, Seq(0.0, 10.0)), (4L, Seq(0.0, 10.0))
    ).toDF("id", "v")
    val index = Knn.buildIvfIndex(corpus, "id", "v", nlist = 2)
    val out = SemanticDedup.semDedup(
        Knn.assignCells(corpus, "id", "v", index), tau = 0.99)
      .select("id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
  }

  test("incrementalComponents equals full rebuild: merges, extensions, fresh clusters, untouched pass-through") {
    // old graph: {1,2,3}, {10,11}, {20,21} (components 1, 10, 20)
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("src", "dst")
    val assign = ConnectedComponents.labelPropagation(oldEdges)
    // batch: bridge 3-10 MERGES {1,2,3} with {10,11}; 11-12 EXTENDS it with
    // a fresh node; 50-51 is a brand-new cluster; {20,21} is untouched
    val newEdges = Seq((3L, 10L), (11L, 12L), (50L, 51L)).toDF("src", "dst")
    val inc = ConnectedComponents.incrementalComponents(assign, newEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = ConnectedComponents.labelPropagation(oldEdges.unionByName(newEdges))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, s"diff: ${(inc.toSet diff full.toSet) ++ (full.toSet diff inc.toSet)}")
    assert(inc(12L) == 1L && inc(10L) == 1L) // merged + extended under min id 1
    assert(inc(50L) == 50L && inc(51L) == 50L) // fresh cluster
    assert(inc(20L) == 20L && inc(21L) == 20L) // untouched survives verbatim
    // folding a second batch onto the incremental result still matches
    val batch2 = Seq((21L, 50L)).toDF("src", "dst")
    val inc2 = ConnectedComponents.incrementalComponents(
        ConnectedComponents.incrementalComponents(assign, newEdges), batch2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full2 = ConnectedComponents.labelPropagation(
        oldEdges.unionByName(newEdges).unionByName(batch2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc2 == full2)
  }

  test("incrementalComponents: distributed fallback equals the driver-local fast path") {
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("src", "dst")
    val assign = ConnectedComponents.labelPropagation(oldEdges)
    val newEdges = Seq((3L, 10L), (11L, 12L), (50L, 51L)).toDF("src", "dst")
    val local = ConnectedComponents.incrementalComponents(assign, newEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // broadcastBatch = false routes to the distributed star-edge re-solve
    // (the oversized-batch path); outputs must be indistinguishable
    val dist = ConnectedComponents.incrementalComponents(assign, newEdges,
        broadcastBatch = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == local,
      s"diff: ${(dist.toSet diff local.toSet) ++ (local.toSet diff dist.toSet)}")
  }

  test("bucketed assignment store: folds equal rebuild, untouched buckets stay byte-identical") {
    import graft.dedup.BucketedAssignStore
    val tmp = java.nio.file.Files.createTempDirectory("graft-bas").toString
    val store = new BucketedAssignStore(tmp, numBuckets = 8)
    // 40 tiny components spread across (almost) all buckets
    val base = (0L until 40L).map(i => (i * 100, i * 100 + 1)).toDF("src", "dst")
    store.merge(base, version = 0L)
    def snapshot(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(tmp)).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
    }
    val before = snapshot()
    // batch merges components 0 and 100, adds fresh {7777, 7778}
    val batch = Seq((1L, 100L), (7777L, 7778L)).toDF("src", "dst")
    store.merge(batch, version = 1L)
    val got = store.load(spark).get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rebuilt = ConnectedComponents.labelPropagation(base.unionByName(batch))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == rebuilt)
    // buckets of unaffected components: same files, untouched on disk
    val affected = Seq(0L, 100L, 7777L).map(c =>
      spark.range(1).select(BucketedAssignStore.bucketOf(lit(c), 8)).head().getLong(0)).toSet
    val after = snapshot()
    val untouched = before.filter { case (p, _) =>
      !affected.exists(b => p.contains(s"/bucket=$b/")) }
    assert(untouched.nonEmpty, "test needs at least one unaffected bucket")
    untouched.foreach { case (p, meta) =>
      assert(after.get(p).contains(meta), s"unaffected bucket file rewritten: $p")
    }
  }

  test("bucketed assign store fold shape: pruned path reads only affected buckets, pushes the exclusion, plans zero pre-write shuffles") {
    import graft.dedup.BucketedAssignStore
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val tmp = java.nio.file.Files.createTempDirectory("graft-bas-plan").toString
    val store = new BucketedAssignStore(tmp, numBuckets = 8)
    val base = (0L until 40L).map(i => (i * 100, i * 100 + 1)).toDF("src", "dst")
    store.merge(base, version = 0L)
    val batch = Seq((1L, 100L), (7777L, 7778L)).toDF("src", "dst")
    val (content, affected, _) = store.foldContent(batch, version = 1L).get
    // read contract: the fold's content reads only affected buckets' files
    val files = content.inputFiles
    assert(files.nonEmpty)
    assert(files.forall(f => affected.exists(b => f.contains(s"/bucket=$b/"))),
      files.mkString("\n"))
    val plan = content.queryExecution.sparkPlan
    // commit's repartition(bucket) is the fold's ONLY exchange: the carry
    // read unions a checkpointed resolve — nothing shuffles before the write
    assert(plan.collect { case s: ShuffleExchangeExec => s }.isEmpty, plan.toString)
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1, plan.toString) // the affected-bucket carry read
    assert(scans.head.metadata("PushedFilters").contains("Not(In(component"),
      scans.head.toString)
  }

  test("assign store: a fold that empties a bucket commits its sentinel version in the same job; no stale assignment resurfaces") {
    import graft.dedup.BucketedAssignStore
    val K = 32
    val tmp = java.nio.file.Files.createTempDirectory("graft-bas-empty").toString
    val store = new BucketedAssignStore(tmp, K)
    val bucketMap = spark.range(0, 200).select(col("id"),
        BucketedAssignStore.bucketOf(col("id"), K).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one component {100, 101}, alone in its bucket
    store.merge(Seq((100L, 101L)).toDF("src", "dst"), version = 0L)
    // merge it under a smaller id whose bucket differs → the old bucket empties
    val n = (1L to 99L).find(i => bucketMap(i) != bucketMap(100L)).get
    store.merge(Seq((n, 100L)).toDF("src", "dst"), version = 1L)
    val rows = store.load(spark).get.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the crash-window failure mode ADVICE flagged: a node visible under
    // BOTH its merged-away and its new component id
    assert(rows.map(_._1).distinct.length == rows.length,
      s"a node appears under two components: $rows")
    assert(rows.toMap == Map(n -> n, 100L -> n, 101L -> n))
    // the emptied bucket's latest version is the fold's own sentinel dir —
    // written by the SAME dynamic-overwrite job as the populated buckets
    val emptied = new java.io.File(s"$tmp/bucket=${bucketMap(100L)}")
    assert(emptied.listFiles().map(_.getName).toSet.contains("v=1"),
      emptied.listFiles().map(_.getName).mkString(","))
  }

  test("signature version stamp survives parquet and incremental ingest refuses a mismatched store") {
    val docs = Tables.documents(spark, sf).limit(50).select("doc_id", "text")
    val sigs = MinHashLsh.signatures(docs, "doc_id", "text")
    assert(MinHashLsh.signatureVersionOf(sigs)
      .contains(MinHashLsh.SignatureFormatVersion.toLong))
    // the stamp rides schema metadata through a parquet round-trip, so a
    // persisted store self-describes its byte contract
    val tmp = java.nio.file.Files.createTempDirectory("graft-sigstore").toString
    sigs.write.mode("overwrite").parquet(tmp)
    val roundTripped = spark.read.parquet(tmp)
    assert(MinHashLsh.signatureVersionOf(roundTripped)
      .contains(MinHashLsh.SignatureFormatVersion.toLong))
    val batch = docs.select(($"doc_id" + 1000000).as("doc_id"), $"text")
    assert(MinHashLsh.incrementalBlockedPairs(batch, roundTripped, "doc_id", "text",
      maxBucketSize = 10000).columns.nonEmpty) // versions match: accepted
    // a store whose stamp is stripped (or from a pre-version signer) is
    // REFUSED — a silent contract mismatch loses recall without erroring
    val unversioned = roundTripped.select(col("doc_id"),
      col("sig").as("sig", org.apache.spark.sql.types.Metadata.empty))
    assert(MinHashLsh.signatureVersionOf(unversioned).isEmpty)
    val e = intercept[IllegalArgumentException] {
      MinHashLsh.incrementalBlockedPairs(batch, unversioned, "doc_id", "text")
    }
    assert(e.getMessage.contains("SignatureFormatVersion"))
    // migration escape hatch: assumeVersion fills a MISSING stamp (store of
    // known provenance) without an O(corpus) re-sign...
    assert(MinHashLsh.incrementalBlockedPairs(batch, unversioned, "doc_id", "text",
      maxBucketSize = 10000,
      assumeVersion = Some(MinHashLsh.SignatureFormatVersion)).columns.nonEmpty)
    // ...but an assumed STALE contract is still refused (the gate is on the
    // resolved version, not on the assumption being present)...
    val stale = intercept[IllegalArgumentException] {
      MinHashLsh.incrementalBlockedPairs(batch, unversioned, "doc_id", "text",
        assumeVersion = Some(MinHashLsh.SignatureFormatVersion - 1))
    }
    assert(stale.getMessage.contains("SignatureFormatVersion"))
    // ...and an assumption can never override a real stamp it contradicts
    val contradicted = intercept[IllegalArgumentException] {
      MinHashLsh.incrementalBlockedPairs(batch, roundTripped, "doc_id", "text",
        assumeVersion = Some(MinHashLsh.SignatureFormatVersion - 1))
    }
    assert(contradicted.getMessage.contains("contradicts"))
  }

  test("canonicalize keeps the best-scored member; ties break to lowest id; singletons keep themselves") {
    val docs = Seq(
      (1L, 10L), (2L, 99L), (3L, 10L),   // cluster {1,2,3}: 2 wins on score
      (20L, 7L), (21L, 7L),              // cluster {20,21}: tie → lowest id 20
      (50L, 1L)                          // singleton: own representative
    ).toDF("doc_id", "score")
    val edges = Seq((1L, 2L), (2L, 3L), (20L, 21L)).toDF("src", "dst")
    val out = ConnectedComponents.canonicalize(docs, edges, "doc_id", "score")
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == (2L, false) && out(2L) == (2L, true) && out(3L) == (2L, false))
    assert(out(20L) == (20L, true) && out(21L) == (20L, false))
    assert(out(50L) == (50L, true))
  }

  test("multimodal resize + frame sampling plumbing") {
    import graft.multimodal.Multimodal
    val big = ("x" * 10000)
    val d = Seq((1L, big), (2L, "tiny"), (3L, null: String)).toDF("doc_id", "text")
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
    val rz = Multimodal.resized(d, "payload", w = 8, h = 8)
      .select($"doc_id", length($"resized").as("n"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Int])).toMap
    assert(rz(1L).contains(64))      // stride-sampled down to w*h
    assert(rz(2L).contains(4))       // payload smaller than target keeps its size
    assert(rz(3L).isEmpty)           // NULL payload stays NULL
    // 10000 bytes = 3 stub frames of 4KiB; everyK=2 keeps frames 0 and 2
    val fr = Multimodal.sampleFrames(d, "doc_id", "payload", everyK = 2)
      .groupBy("doc_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fr(1L) == 2L && fr(2L) == 1L && !fr.contains(3L))
  }

  test("ImageIo decoder/resizer run real JDK codecs; unreadable bytes fall back to stubs") {
    import graft.multimodal.Multimodal
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int)(pixel: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixel(x, y))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    // left half black, right half white, 16x16
    val halfed = png(16, 16)((x, _) => if (x < 8) 0x000000 else 0xffffff)
    val feat = Multimodal.ImageIoDecoder.decode(halfed, dim = 4) // 2x2 grid
    assert(feat.length == 4)
    assert(feat(0) < 0.01f && feat(2) < 0.01f, s"left cells not black: ${feat.toSeq}")
    assert(feat(1) > 0.99f && feat(3) > 0.99f, s"right cells not white: ${feat.toSeq}")
    // resize produces a real w×h PNG that decodes back at the target size
    val resizedBytes = Multimodal.ImageIoResizer.resize(halfed, 4, 6)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resizedBytes))
    assert(back.getWidth == 4 && back.getHeight == 6)
    // non-image bytes: graceful fallback, never a throw
    val junk = "definitely not an image".getBytes("UTF-8")
    assert(Multimodal.ImageIoDecoder.decode(junk, 4).toSeq ==
      Multimodal.StubDecoder.decode(junk, 4).toSeq)
    assert(Multimodal.ImageIoResizer.resize(junk, 2, 2).toSeq ==
      Multimodal.StubResizer.resize(junk, 2, 2).toSeq)
    // the executor path (extractFeatures/resized) accepts the real codecs
    val d = Seq((1L, halfed), (2L, junk), (3L, null: Array[Byte])).toDF("doc_id", "payload")
    val feats = Multimodal.extractFeatures(spark, d, "doc_id", "payload",
        dim = 4, decoder = Multimodal.ImageIoDecoder)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L) == feat.toSeq)
    assert(feats(3L).forall(_ == 0f)) // NULL payload -> zero vector, no crash
    val rz = Multimodal.resized(d, "payload", 4, 6, resizer = Multimodal.ImageIoResizer)
      .filter($"doc_id" === 1L).select("resized").collect().head.getAs[Array[Byte]](0)
    assert(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rz)).getWidth == 4)
  }

  test("JavaSound decoder extracts real RMS/ZCR features from WAV; unreadable bytes fall back") {
    import graft.multimodal.Multimodal
    import javax.sound.sampled._
    // build a real 16-bit mono PCM WAV entirely with JDK APIs
    def wav(sampleRate: Float, samples: Array[Short]): Array[Byte] = {
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, sampleRate, 16, 1, 2, sampleRate, false)
      val raw = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        raw(2 * i) = (s & 0xff).toByte; raw(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(raw), fmt, samples.length)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val sr = 8000f
    val n = 4000 // 0.5 s
    // 440 Hz sine at half amplitude: RMS = 0.5/sqrt(2) ≈ 0.354, ZCR = 2·440/8000 = 0.11
    val sine = wav(sr, Array.tabulate(n)(i =>
      (math.sin(2 * math.Pi * 440 * i / sr) * 0.5 * 32767).toShort))
    val feat = Multimodal.JavaSoundDecoder.decode(sine, dim = 8) // 4 RMS + 4 ZCR windows
    assert(feat.length == 8)
    (0 until 4).foreach { w =>
      assert(math.abs(feat(w) - 0.354f) < 0.02f, s"window $w RMS ${feat(w)}")
      assert(math.abs(feat(4 + w) - 0.11f) < 0.02f, s"window $w ZCR ${feat(4 + w)}")
    }
    // silence: zero energy, zero crossings
    val silence = wav(sr, Array.fill(n)(0: Short))
    assert(Multimodal.JavaSoundDecoder.decode(silence, 8).forall(_ == 0f))
    // meta classifies the RIFF container
    val d = Seq((1L, sine)).toDF("doc_id", "payload")
    val mime = Multimodal.withMeta(d, "payload").select("meta.mime").collect().head.getString(0)
    assert(mime == "audio/wav")
    // non-audio bytes: graceful per-row fallback to the stub, never a throw
    val junk = "definitely not audio".getBytes("UTF-8")
    assert(Multimodal.JavaSoundDecoder.decode(junk, 8).toSeq ==
      Multimodal.StubDecoder.decode(junk, 8).toSeq)
    // executor path accepts the real audio codec
    val feats = Multimodal.extractFeatures(spark, d, "doc_id", "payload",
        dim = 8, decoder = Multimodal.JavaSoundDecoder)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L) == feat.toSeq)
  }

  test("image decompression-bomb guard: declared-huge dimensions take the stub path, not an allocation") {
    import graft.multimodal.Multimodal
    import java.awt.image.BufferedImage
    // valid small PNG...
    val img = new BufferedImage(4, 4, BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val smallPng = bos.toByteArray
    // ...IHDR patched to declare 60000×60000 (3.6 G pixels), CRC fixed up so the
    // header parses cleanly — without the header-first bound this is the payload
    // that makes ImageIO.read attempt a multi-GB raster allocation
    val bomb = smallPng.clone()
    def putBE(off: Int, v: Int): Unit = {
      bomb(off) = ((v >> 24) & 0xff).toByte; bomb(off + 1) = ((v >> 16) & 0xff).toByte
      bomb(off + 2) = ((v >> 8) & 0xff).toByte; bomb(off + 3) = (v & 0xff).toByte
    }
    putBE(16, 60000); putBE(20, 60000) // IHDR width, height
    val crc = new java.util.zip.CRC32()
    crc.update(bomb, 12, 17) // chunk type "IHDR" + 13 data bytes
    putBE(29, crc.getValue.toInt)
    assert(Multimodal.ImageIoDecoder.decode(bomb, 4).toSeq ==
      Multimodal.StubDecoder.decode(bomb, 4).toSeq)
    assert(Multimodal.ImageIoResizer.resize(bomb, 2, 2).toSeq ==
      Multimodal.StubResizer.resize(bomb, 2, 2).toSeq)
    // the in-budget original still decodes for real
    assert(Multimodal.ImageIoDecoder.decode(smallPng, 4).toSeq !=
      Multimodal.StubDecoder.decode(smallPng, 4).toSeq)
  }

  test("multimodal meta + stub feature extraction plumbing") {
    import graft.multimodal.Multimodal
    val d = Seq((1L, "hello"), (2L, "")).toDF("doc_id", "text")
      .select($"doc_id", encode($"text", "UTF-8").as("payload"))
    val meta = Multimodal.withMeta(d, "payload").select("doc_id", "meta.n_bytes", "meta.mime").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(meta == Set((1L, 5L, "application/octet-stream"), (2L, 0L, "application/octet-stream")))
    val feats = Multimodal.extractFeatures(spark, d, "doc_id", "payload", dim = 8, batchPartitions = Some(2))
    val rows = feats.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(rows(1L).length == 8 && rows(2L).length == 8)
    assert(rows(1L).sum > 0 && rows(2L).sum == 0)
    // a custom decoder plugs into the same batched path
    val constant = new Multimodal.MediaDecoder {
      def decode(bytes: Array[Byte], dim: Int): Array[Float] =
        Array.fill(dim)(bytes.length.toFloat)
    }
    val custom = Multimodal.extractFeatures(spark, d, "doc_id", "payload", dim = 4, decoder = constant)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(custom(1L) == Seq(5f, 5f, 5f, 5f) && custom(2L) == Seq(0f, 0f, 0f, 0f))
  }

  test("ImageHash: dHash brightness invariance, structure sensitivity, lossless banding") {
    import graft.multimodal.ImageHash
    def png(pattern: Int, bright: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        36, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 36) {
        val v = ((x * (pattern + 3) + y * (pattern + 7)) % 23) * 10 + bright
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val a = ImageHash.dHash64(png(1, 0)).get
    val b = ImageHash.dHash64(png(1, 16)).get   // same structure, brighter
    val c = ImageHash.dHash64(png(9, 0)).get    // different structure
    assert(a == b, "dHash must be invariant to a non-clipping brightness shift")
    assert(java.lang.Long.bitCount(a ^ c) > 3, "different patterns must hash far apart")
    assert(ImageHash.dHash64("not an image".getBytes("UTF-8")).isEmpty)
    val hashed = Seq((1L, Option(a)), (2L, Option(b)), (3L, Option(c)),
      (4L, Option.empty[Long])).toDF("doc_id", "ph")
    val pairs = ImageHash.nearDuplicates(hashed, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((1L, 2L, 0)))           // NULL hash never pairs
  }

  private def exactSubstrOut(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap

  test("ExactSubstr: shifted duplicated runs scrub at any alignment, first occurrence survives") {
    val d = docs(
      (1L, "a b c d e f"),        // owns every duplicated run
      (2L, "x a b c d y"),        // shares 'a b c d' SHIFTED by one token
      (3L, "a b c z z d e f"),    // two dup islands with a gap between
      (4L, "p q r s"),
      (5L, "p q r s"))            // whole-doc duplicate → empty rewrite
    val out = exactSubstrOut(ExactSubstr.scrub(d, "doc_id", "text", k = 3))
    assert(out(1L) == (("a b c d e f", 6L, 0L)))   // first owner: untouched
    assert(out(2L) == (("x y", 6L, 4L)))           // [1,5) covered
    assert(out(3L) == (("z z", 8L, 6L)))           // [0,3) ∪ [5,8): gap survives
    assert(out(4L) == (("p q r s", 4L, 0L)))
    assert(out(5L) == (("", 4L, 4L)))              // fully covered, row kept
    // runs shorter than k never scrub (the ≥k-token contract)
    val short = docs((1L, "u v w1"), (2L, "u v w2"))
    val outS = exactSubstrOut(ExactSubstr.scrub(short, "doc_id", "text", k = 3))
    assert(outS(1L)._3 == 0L && outS(2L)._3 == 0L)
  }

  test("ExactSubstr: adjacent islands merge; overlapping dup regions cover their union") {
    // doc 2 repeats doc 1's 6-token run; with k=3 the four duplicated
    // gram windows [0,3)[1,4)[2,5)[3,6) must merge into ONE [0,6) island
    val d = docs((1L, "m n o p q r tail1"), (2L, "m n o p q r tail2"))
    val out = exactSubstrOut(ExactSubstr.scrub(d, "doc_id", "text", k = 3))
    assert(out(1L) == (("m n o p q r tail1", 7L, 0L)))
    assert(out(2L) == (("tail2", 7L, 6L)))
  }

  test("ExactSubstr incremental equals full scrub restricted to the batch; store folds") {
    val old = docs((1L, "a b c d e f"), (2L, "g h i j k l"))
    val batch = docs(
      (10L, "x a b c d e y"),     // store-owned run → scrub
      (11L, "w1 s t u v w2"),
      (12L, "w3 s t u v w4"))     // batch-internal dup: 11 owns it
    val store = ExactSubstr.gramStore(old, "doc_id", "text", k = 4)
    val inc = exactSubstrOut(
      ExactSubstr.incrementalScrub(store, batch, "doc_id", "text", k = 4))
    val full = exactSubstrOut(
      ExactSubstr.scrub(old.unionByName(batch), "doc_id", "text", k = 4)
        .filter(col("doc_id") >= 10L))
    assert(inc == full, s"inc=$inc full=$full")
    assert(inc(10L) == (("x y", 7L, 5L)))
    assert(inc(12L)._1 == "w3 w4")
    // forced shuffle path is result-identical to the broadcast path
    val shuffled = exactSubstrOut(ExactSubstr.incrementalScrub(
      store, batch, "doc_id", "text", k = 4, broadcastBatch = false))
    assert(shuffled == inc)
    // merged store == rebuilt store over the union
    val merged = ExactSubstr.mergeGramStore(store,
        ExactSubstr.gramStore(batch, "doc_id", "text", k = 4))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val rebuilt = ExactSubstr.gramStore(
        old.unionByName(batch), "doc_id", "text", k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(merged == rebuilt)
    // a rerun of the folded batch scrubs every ≥k run it contains
    val replay = ExactSubstr.incrementalScrub(
        ExactSubstr.mergeGramStore(store, ExactSubstr.gramStore(batch, "doc_id", "text", k = 4)),
        batch, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(replay == Map(10L -> 7L, 11L -> 6L, 12L -> 6L))
  }

  test("sorted neighborhood: exact window pairs, cross-cell boundaries, NULL keys out, partition-invariant") {
    import spark.implicits._
    import graft.dedup.SortedNeighborhood
    // sorted key order: aa1(1) ab1(2) ab2(3) ba1(4) bb1(5); prefixLen=2
    // puts every adjacent pair in a DIFFERENT cell except ab1/ab2 -- the
    // cross-cell probe path carries most of the window
    val d = Seq(
      (1L, Some("aa1")), (2L, Some("ab1")), (3L, Some("ab2")),
      (4L, Some("ba1")), (5L, Some("bb1")), (9L, None)
    ).toDF("id", "k")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      SortedNeighborhood.candidatePairs(df, "id", "k", window = 3, prefixLen = 2)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val got = pairs(d)
    // w=3: ranks within distance 1 or 2
    val want = Set((1L,2L),(1L,3L),(2L,3L),(2L,4L),(3L,4L),(3L,5L),(4L,5L))
    assert(got == want, s"got $got")
    assert(!got.exists(p => p._1 == 9L || p._2 == 9L), "NULL key must be excluded")
    // candidate count bound: n*(w-1) minus the tail shortfall
    assert(got.size == 5 * 2 - 3)
    // the pair set is content-keyed: any partitioning, same pairs
    assert(pairs(d.repartition(4).orderBy($"id".desc)) == want)
    // a deeper prefix changes cells, never the pair set
    assert(SortedNeighborhood.candidatePairs(d, "id", "k", 3, prefixLen = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet == want)
  }

  test("sorted neighborhood incremental: fold equals rebuild delta; tiny-cell chains; untouched cells never ranked") {
    import spark.implicits._
    import graft.dedup.SortedNeighborhood
    // standing: cells a (3 rows), b (1 row -- TINY, forces the boundary
    // walk to chain past it), c (3), e (3), z (3, far away / untouched)
    val standing = Seq(
      (1L, "aa1"), (2L, "ab1"), (3L, "ac1"),
      (4L, "bb1"),
      (5L, "ca1"), (6L, "cb1"), (7L, "cc1"),
      (8L, "ea1"), (9L, "eb1"), (10L, "ec1"),
      (11L, "za1"), (12L, "zb1"), (13L, "zc1")
    ).toDF("id", "k")
    // batch: one row into existing cell c, one into BRAND-NEW cell d
    val batch = Seq((101L, "cb5"), (102L, "da1")).toDF("id", "k")
    val w = 4
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val inc = pairSet(SortedNeighborhood.incrementalPairs(
      standing, batch, "id", "k", window = w, prefixLen = 1))
    val full = pairSet(SortedNeighborhood.candidatePairs(
      standing.unionByName(batch), "id", "k", window = w, prefixLen = 1))
    val batchIds = Set(101L, 102L)
    val want = full.filter(p => batchIds(p._1) || batchIds(p._2))
    assert(inc == want, s"inc $inc\nwant $want")
    // the tiny-cell chain actually mattered: 101 reaches back past cell b
    assert(inc.exists(p => p._1 == 4L && p._2 == 101L) ||
      inc.exists(p => Set(p._1, p._2) == Set(4L, 101L)))
    // new-cell batch row pairs across its boundary in both directions
    assert(want.exists(p => Set(p._1, p._2).contains(102L)))
    // untouched far cell contributes nothing
    assert(!inc.exists(p => Set(11L, 12L, 13L).contains(p._1) ||
      Set(11L, 12L, 13L).contains(p._2)))
    // determinism under repartition
    val inc2 = pairSet(SortedNeighborhood.incrementalPairs(
      standing.repartition(5), batch.repartition(3), "id", "k", w, prefixLen = 1))
    assert(inc2 == inc)
    // adjacent touched cells: a second batch lands rows in c AND d -- the
    // overlapping segments must still produce the exact delta, once each
    val batch2 = Seq((201L, "cz1"), (202L, "db1"), (203L, "dc1")).toDF("id", "k")
    val inc3 = pairSet(SortedNeighborhood.incrementalPairs(
      standing.unionByName(batch), batch2, "id", "k", w, prefixLen = 1))
    val full3 = pairSet(SortedNeighborhood.candidatePairs(
      standing.unionByName(batch).unionByName(batch2), "id", "k", w, prefixLen = 1))
    val b2 = Set(201L, 202L, 203L)
    assert(inc3 == full3.filter(p => b2(p._1) || b2(p._2)))
  }

  test("editDistancePairs: window proposes, levenshtein decides — golden distances, threshold exact") {
    import spark.implicits._
    import graft.dedup.SortedNeighborhood
    // sort-adjacent keys with known distances: abcde~abcdx = 1,
    // abcdx~abxdx = 1, abcde~abxdx = 2, zzzzz far from all
    val d = Seq((1L, "abcde"), (2L, "abcdx"), (3L, "abxdx"), (4L, "zzzzz"))
      .toDF("id", "k")
    val got = SortedNeighborhood.editDistancePairs(d, "id", "k",
        window = 4, prefixLen = 1, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(4)).toMap
    assert(got == Map((1L, 2L) -> 1, (1L, 3L) -> 2, (2L, 3L) -> 1), s"$got")
    // maxDist 0 keeps only exact-equal keys
    val dupd = d.union(Seq((5L, "abcde")).toDF("id", "k"))
    val exact = SortedNeighborhood.editDistancePairs(dupd, "id", "k",
        window = 4, prefixLen = 1, maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 5L)))
  }

  test("sorted neighborhood incremental: UTF-16 vs UTF-8 order trap — supplementary-plane cells walk correctly") {
    import spark.implicits._
    import graft.dedup.SortedNeighborhood
    // Cells whose FIRST CHAR is U+E000 (private use, one UTF-16 unit
    // 0xE000) vs U+10000 (surrogate pair 0xD800 0xDC00): Scala's default
    // String order puts U+10000 FIRST (code units), Spark's UTF8String
    // order puts U+E000 first (code points) — the r9 driver-side
    // neighbor-cell walk sorted by the former and could slice the wrong
    // adjacent cells (ADVICE-r9). Keys sit in three cells: "a…",
    // "…", "𐀀…" — under code-point order the batch row
    // in the U+E000 cell must reach BACK into "a" and FORWARD into the
    // supplementary cell.
    val supp = new String(Character.toChars(0x10000))
    val standing = Seq(
      (1L, "a1"), (2L, "a2"),
      (3L, "x1"),
      (4L, supp + "y1"), (5L, supp + "y2")
    ).toDF("id", "k")
    val batch = Seq((100L, "x5")).toDF("id", "k")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    for (w <- Seq(3, 4); pl <- Seq(1, 2)) {
      val inc = pairSet(SortedNeighborhood.incrementalPairs(
        standing, batch, "id", "k", window = w, prefixLen = pl))
      val full = pairSet(SortedNeighborhood.candidatePairs(
        standing.unionByName(batch), "id", "k", window = w, prefixLen = pl))
      val want = full.filter(p => p._1 == 100L || p._2 == 100L)
      assert(inc == want, s"w=$w pl=$pl: inc $inc\nwant $want")
    }
  }

  private def lshPairs(d: org.apache.spark.sql.DataFrame, bound: Int, maxBucket: Int = 200,
      minJaccard: Double = 0.7) =
    MinHashLsh.boundedCandidatePairs(d, "doc_id", "text", 3, 64, 16, minJaccard, maxBucket, 42L,
      persistSignatures = false, localRowBound = bound)

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq

  /** 30 base documents, each with two near variants, plus 3 copies of one
    * text (a bucket of exactly maxBucketSize = 3 in every band), 4 copies
    * of another (one over it) and documents of fewer than k = 3 tokens.
    */
  private lazy val lshCorpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(21L)
    val vocab = (1 to 400).map(i => s"w$i")
    def doc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val bases = Seq.fill(30)(doc(40))
    val near = bases.flatMap { b =>
      Seq(b.updated(rnd.nextInt(b.size), "zz1"), b.updated(rnd.nextInt(b.size), "zz2"))
    }
    val three = doc(30).mkString(" ")
    val four = doc(30).mkString(" ")
    val texts = (bases ++ near).map(_.mkString(" ")) ++ Seq.fill(3)(three) ++ Seq.fill(4)(four) ++
      Seq("a b", "solo", "", "x  y")
    texts.zipWithIndex.map { case (t, i) => (i.toLong * 7 + 3, t) }
  }

  test("candidatePairs driver twin equals the distributed path (rows and schema)") {
    val d = lshCorpus.toDF("doc_id", "text")
    for ((maxBucket, minJ) <- Seq((3, 0.7), (200, 0.7), (3, 0.0), (200, 0.5))) {
      val local = lshPairs(d, 1 << 16, maxBucket, minJ)
      val dist = lshPairs(d, 0, maxBucket, minJ)
      assert(isLocal(local) && !isLocal(dist))
      assert(local.schema == dist.schema, s"${local.schema} vs ${dist.schema}")
      val rows = sortedRows(local)
      assert(rows == sortedRows(dist), s"maxBucket=$maxBucket minJaccard=$minJ")
      assert(rows.nonEmpty)
      val ids = lshCorpus.map(_._1)
      val three = ids.slice(90, 93).toSet
      val four = ids.slice(93, 97).toSet
      val pairIds = rows.map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
      // the exactly-full bucket pairs all three copies; the 4-copy bucket
      // is over the cap, so its copies only pair at the default cap
      assert(pairIds.count(p => three(p._1) && three(p._2)) == 3)
      assert(pairIds.count(p => four(p._1) && four(p._2)) == (if (maxBucket == 3) 0 else 6))
      // under-k documents never sign
      assert(!pairIds.exists(p => ids.drop(97).contains(p._1) || ids.drop(97).contains(p._2)))
    }
  }

  test("candidatePairs driver twin falls back over the bound, on non-LONG ids, NULL and repeated ids") {
    val d = lshCorpus.toDF("doc_id", "text")
    val signed = MinHashLsh.signatures(d, "doc_id", "text").count().toInt
    assert(isLocal(lshPairs(d, signed)))
    val over = lshPairs(d, signed - 1)
    assert(!isLocal(over))
    assert(sortedRows(over) == sortedRows(lshPairs(d, 0)))
    val intIds = d.withColumn("doc_id", col("doc_id").cast("int"))
    val intPairs = lshPairs(intIds, 1 << 16)
    assert(!isLocal(intPairs))
    assert(sortedRows(intPairs) == sortedRows(lshPairs(intIds, 0)))
    val withNull = d.unionByName(Seq((Option.empty[Long], lshCorpus.head._2)).toDF("doc_id", "text"))
    val nullPairs = lshPairs(withNull, 1 << 16)
    assert(!isLocal(nullPairs))
    assert(sortedRows(nullPairs) == sortedRows(lshPairs(withNull, 0)))
    val repeated = d.unionByName(Seq(lshCorpus.head).toDF("doc_id", "text"))
    val repPairs = lshPairs(repeated, 1 << 16)
    assert(!isLocal(repPairs))
    assert(sortedRows(repPairs) == sortedRows(lshPairs(repeated, 0)))
  }

  test("near dedup on a small corpus: bounded jobs, no cached RDD left behind") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (comp, jobs) = JobCount(spark) {
      val pairs = MinHashLsh.candidatePairs(docs, "doc_id", "text")
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      ConnectedComponents.labelPropagation(pairs).collect()
    }
    info(s"$jobs Spark jobs, ${comp.length} clustered docs")
    assert(comp.nonEmpty)
    assert(jobs <= 3, s"$jobs jobs")
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("minhash signatures: graft_minhash in exactly one operator, above the exchange") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // one input split: ensureParallelism spreads it with a round-robin exchange
    val docs = Tables.documents(spark, sf).select("doc_id", "text").coalesce(1)
    for (df <- Seq(MinHashLsh.signatures(docs, "doc_id", "text"),
        MinHashLsh.blockedPairs(docs, "doc_id", "text"))) {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
      val ops = plan.collect {
        case p if p.expressions.exists(_.exists(_.isInstanceOf[graft.functions.MinHashSignature])) => p
      }
      assert(ops.size == 1, plan.toString)
      assert(ops.head.exists(_.isInstanceOf[ShuffleExchangeExec]), plan.toString)
    }
  }
}
