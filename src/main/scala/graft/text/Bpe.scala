package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.{Lineage, Local}

/** Byte-pair-encoding subword counting — the token accounting that packing
  * (q70/q88), mixture reports (q60) and temperature resampling (q81/q87)
  * should really budget with: a whitespace/regex count systematically
  * UNDER-counts subword tokenizers on long/rare words, so token budgets
  * built from it overfill real trainer sequences.
  *
  * The merges table is the standard GPT-2 `merges.txt` FORMAT (one merge
  * per line, rank = line order; `#`-prefixed header ignored), loaded from
  * a checked-in resource. The bundled table is a small DEMONSTRATION
  * vocabulary (this container has no network to fetch a production one);
  * swap the resource — or pass any ranks map — for a real tokenizer's
  * merges file and the kernel is unchanged. Counting is exact greedy BPE:
  * repeatedly merge the LOWEST-rank adjacent pair (all its occurrences,
  * left to right) until no adjacent pair has a rank — deterministic on
  * any engine, so counts are reproducible corpus state.
  *
  * Simplifications vs the full GPT-2 scheme, stated: pre-tokenization is
  * the same `[a-z]+|[0-9]+|[^a-z0-9\s]` pattern the regex estimate uses
  * (over lowercased text) rather than the byte-level space-prefix
  * pre-tokenizer, and there is no end-of-word marker — both affect WHICH
  * vocab fits best, not the greedy-merge mechanics.
  */
object Bpe {

  /** Ranks from the bundled demonstration merges resource. */
  lazy val defaultRanks: Map[(String, String), Int] =
    loadRanks("/graft/bpe_merges.txt")

  /** Parse a GPT-2-format merges file from the classpath. */
  def loadRanks(resource: String): Map[(String, String), Int] = {
    val in = getClass.getResourceAsStream(resource)
    require(in != null, s"missing merges resource $resource")
    try parseRanks(scala.io.Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }

  /** Parse merges.txt-format lines (shared by [[loadRanks]] and trained
    * output fed back through [[formatMerges]]).
    */
  def parseRanks(lines: Iterator[String]): Map[(String, String), Int] =
    lines.filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .zipWithIndex
      .map { case (l, i) =>
        val parts = l.split(" ")
        require(parts.length == 2, s"bad merges line: '$l'")
        (parts(0), parts(1)) -> i
      }.toMap

  /** Render trained merges in the merges.txt FORMAT [[parseRanks]] /
    * [[loadRanks]] read — one `l r` line per merge, rank = line order.
    */
  def formatMerges(merges: Seq[(String, String)]): String =
    ("#version: graft-trained" +: merges.map { case (l, r) => s"$l $r" })
      .mkString("\n")

  /** Ranks map from an ordered merge list. */
  def ranksOf(merges: Seq[(String, String)]): Map[(String, String), Int] =
    merges.zipWithIndex.toMap

  /** Trained merges as a broadcastable (rank, l, r) DataFrame — the
    * parquet-roundtrip form (the PQ-codebook precedent: a trained
    * artifact is corpus state, persisted next to the data it was fit
    * on, not retrained per consumer).
    */
  def mergesFrame(s: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i, l, r) }.toDF("rank", "l", "r")
  }

  /** Ranks map back from a [[mergesFrame]] (possibly parquet-roundtripped;
    * row order is irrelevant — rank is carried explicitly). Merge-list
    * bookkeeping, bounded by the vocabulary size, never corpus data.
    */
  def ranksFromFrame(df: DataFrame): Map[(String, String), Int] =
    df.select(col("rank").cast("int"), col("l"), col("r")).collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0)).toMap

  // ------------------------------------------------------------- training

  /** One merge step — replace every adjacent (l, r) occurrence, left to
    * right. Same semantics as [[subwordCount]]'s inner merge, shared by
    * both trainers so they cannot drift from each other.
    */
  def applyMerge(syms: IndexedSeq[String], l: String, r: String): IndexedSeq[String] = {
    val n = syms.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    while (j < n) {
      if (j < n - 1 && syms(j) == l && syms(j + 1) == r) { out += (l + r); j += 2 }
      else { out += syms(j); j += 1 }
    }
    out.toIndexedSeq
  }

  /** Code-POINT symbolization — matches [[mergeWord]]'s initialization
    * exactly, so trained merges count the same way they were learned.
    * Code points, not UTF-16 units: every symbol is a WELL-FORMED string
    * (surrogate pairs stay together), which the distributed trainer
    * depends on — a lone surrogate does not survive the UDF's
    * String→UTF8String round-trip (it becomes '?', conflating astral
    * symbols with each other AND with genuine '?' tokens). The
    * pre-tokenizer's non-ASCII alternative matches one code point, so
    * only ASCII runs ever produce multi-symbol words and merge behavior
    * on ASCII corpora is unchanged.
    */
  private def symbolize(w: String): IndexedSeq[String] = {
    val b = IndexedSeq.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cc = Character.charCount(w.codePointAt(i))
      b += w.substring(i, i + cc)
      i += cc
    }
    b.result()
  }

  /** The corpus pass shared by both trainers: pre-tokenize with the SAME
    * pattern the counter uses, aggregate the (word, freq) dictionary.
    * This is the only O(corpus) work in BPE training — every merge round
    * after it touches DISTINCT words only, which Zipf bounds orders of
    * magnitude below corpus size.
    */
  def wordDict(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(
        expr(s"regexp_extract_all(lower($textCol), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Distributed BPE training (the standard iterative algorithm of
    * Sennrich, Haddow & Birch 2016, "Neural Machine Translation of Rare
    * Words with Subword Units"): after the single [[wordDict]] corpus
    * pass, each merge round is ONE pair-count groupBy over the symbolized
    * dictionary — explode adjacent symbol pairs weighted by word freq,
    * take the max-count pair (ties → lexicographic (l, r), so training is
    * deterministic on any engine/partitioning), apply the merge to every
    * word, [[graft.plans.Lineage.truncate]] to cut the growing lineage.
    *
    * Scale: per-round cost is a dictionary-sized shuffle + a 1-row
    * collect; rounds are inherently sequential (each merge depends on the
    * last), so wall-clock is N × round-latency. For the usual N (32k) use
    * [[trainMergesLocal]] once the aggregated dictionary fits driver
    * memory — the SAME loop, driver-side (spec-asserted identical output);
    * this distributed form is the dictionary-exceeds-memory path and the
    * semantics reference.
    *
    * @return merges in rank order, renderable via [[formatMerges]].
    */
  def trainMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 1L
  ): Seq[(String, String)] = {
    val symbolizeUdf = udf((w: String) => symbolize(w))
    val mergeUdf = udf((syms: Seq[String], l: String, r: String) =>
      applyMerge(syms.toIndexedSeq, l, r))
    var dict = Lineage.truncate(wordDict(docs, textCol)
      .select(symbolizeUdf(col("word")).as("syms"), col("freq")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      val szm1 = greatest(size(col("syms")) - 1, lit(0))
      val top = dict
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), szm1), slice(col("syms"), lit(2), szm1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect() // 1 row — round bookkeeping, not data
      if (top.isEmpty || top(0).getAs[Long]("cnt") < minPairCount) done = true
      else {
        val (l, r) = (top(0).getAs[String]("l"), top(0).getAs[String]("r"))
        merges += ((l, r))
        val updated = Lineage.truncate(dict
          .select(mergeUdf(col("syms"), lit(l), lit(r)).as("syms"), col("freq")))
        Lineage.free(dict)
        dict = updated
      }
    }
    Lineage.free(dict)
    merges.toSeq
  }

  /** Deterministic BOUNDED-SAMPLE trainer — the 100 TB path. The
    * full-corpus trainers pay an O(corpus) [[wordDict]] pass and (for
    * [[trainMergesLocal]]) collect the whole distinct-word dictionary;
    * at web scale the dictionary itself (typo/URL/numeric tail) grows
    * with the corpus and neither is acceptable per training run. This
    * trainer fits on the md5-EARLIEST `sampleDocs` documents (the
    * [[graft.similarity.Pq.sampleCodebooks]] precedent: content-keyed
    * deterministic sample → bounded local fit → broadcastable artifact):
    * selection depends only on id CONTENT, so the same corpus yields the
    * same merges under any partitioning, cluster size, or read order —
    * spec-asserted. Vocabulary quality degrades gracefully with sample
    * size (BPE merge ranks are frequency statistics; Zipf means a few
    * thousand documents already pin the head merges), and a sample ≥ the
    * corpus reproduces [[trainMergesLocal]] exactly.
    */
  def trainMergesSampled(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      numMerges: Int,
      sampleDocs: Int = 4096,
      minPairCount: Long = 1L
  ): Seq[(String, String)] = {
    require(sampleDocs > 0, s"sampleDocs must be positive: $sampleDocs")
    val sample = docs
      .select(col(idCol).as("__id"), col(textCol))
      .filter(col(textCol).isNotNull)
      .withColumn("__h", graft.operators.Sampling.keyHash(Seq(col("__id"))))
      .orderBy(col("__h"), col("__id").cast("string")) // md5 ties can't happen for distinct ids; the id tiebreak makes that explicit
      .limit(sampleDocs)
    trainMergesLocal(sample, textCol, numMerges, minPairCount)
  }

  /** [[trainMerges]] on the COLLECTED dictionary — the practical trainer
    * once the (word, freq) aggregate fits driver memory (it is vocabulary
    * bookkeeping, like k-means centroids or PQ codebooks, not corpus
    * data; `maxWords` makes the bound explicit and the failure loud, the
    * fail form of [[graft.plans.Local]]'s bounded collect).
    */
  def trainMergesLocal(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 1L,
      maxWords: Int = 1 << 22
  ): Seq[(String, String)] = {
    val rows = Local.rowsOrFail(wordDict(docs, textCol),
      "trainMergesLocal dictionary (use trainMerges, distributed)", maxWords)
    trainMergesFromDict(
      rows.map(r => (r.getString(0), r.getLong(1))).toSeq, numMerges, minPairCount)
  }

  /** The driver-side merge loop over an explicit dictionary. Identical
    * tie-break and merge semantics to [[trainMerges]].
    */
  def trainMergesFromDict(
      dict: Seq[(String, Long)],
      numMerges: Int,
      minPairCount: Long = 1L
  ): Seq[(String, String)] = {
    var words = dict.map { case (w, f) => (symbolize(w), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (cnt < minPairCount) done = true
        else {
          merges += ((l, r))
          words = words.map { case (syms, f) =>
            (if (syms.exists(_ == l)) applyMerge(syms, l, r) else syms, f)
          }
        }
      }
    }
    merges.toSeq
  }

  /** Exact greedy-merge subword count of ONE pre-token: start from
    * characters, repeatedly merge every occurrence of the lowest-rank
    * adjacent pair, return the surviving symbol count. O(len²·merges)
    * worst case but len is a word; the per-task memo in the DataFrame
    * kernel absorbs Zipf repetition.
    */
  def subwordCount(word: String, ranks: Map[(String, String), Int]): Int =
    mergeWord(word, ranks).length

  /** The greedy-merge fixpoint itself: the word's final subword symbol
    * sequence under `ranks` (merge the best-ranked adjacent pair, all
    * occurrences left to right, until none applies — the GPT-2 BPE
    * application rule). [[subwordCount]] is its length; [[Tokenizer]]
    * emits it per pre-token for trainer-feed output.
    */
  def mergeWord(word: String, ranks: Map[(String, String), Int]): Array[String] = {
    // code-POINT initial symbols (see symbolize: well-formed strings,
    // surrogate pairs intact) — n counts symbols, not UTF-16 units
    var syms = new Array[String](word.length)
    var n = 0
    var ci = 0
    while (ci < word.length) {
      val cc = Character.charCount(word.codePointAt(ci))
      syms(n) = word.substring(ci, ci + cc)
      n += 1
      ci += cc
    }
    if (n == 0) Array.empty
    else if (n == 1) Array(word)
    else {
      var i = 0
      var done = false
      while (!done && n > 1) {
        var best = Int.MaxValue
        i = 0
        while (i < n - 1) {
          val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
          if (r < best) best = r
          i += 1
        }
        if (best == Int.MaxValue) done = true
        else {
          // merge ALL occurrences of the winning pair, left to right
          var l: String = null
          var r: String = null
          i = 0
          while (l == null) {
            if (ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue) == best) {
              l = syms(i); r = syms(i + 1)
            }
            i += 1
          }
          val out = new Array[String](n)
          var o = 0
          var j = 0
          while (j < n) {
            if (j < n - 1 && syms(j) == l && syms(j + 1) == r) {
              out(o) = l + r; j += 2
            } else { out(o) = syms(j); j += 1 }
            o += 1
          }
          syms = out
          n = o
        }
      }
      if (n == syms.length) syms else java.util.Arrays.copyOf(syms, n)
    }
  }

  /** Exact-BPE admission bound: pre-tokens longer than this are counted
    * per-[[MaxExactWordLen]]-sized chunk instead of whole. [[subwordCount]]
    * is O(len²·merges) and the `[a-z]+` pre-tokenizer puts no bound on
    * token length, so ONE hostile multi-MB letter run would otherwise
    * stall an executor task (and the ≤64-char memo can't amortize it).
    * Chunked counting is deterministic and linear in len; it can only
    * differ from the unbounded count at chunk boundaries (merges never
    * span a chunk seam), which is a counting-accuracy rounding on inputs
    * that are garbage by construction — same degrade-per-row policy as
    * the simhash memo and the image decompression-bomb guard.
    */
  val MaxExactWordLen: Int = 1024

  /** Serializable per-row kernel: pre-tokenize (lowercased regex), sum
    * greedy subword counts with a per-task word memo (entry- and
    * word-length-bounded — long words are the least likely to repeat
    * under Zipf, same admission policy as the simhash md5 memo). Words
    * over [[MaxExactWordLen]] are counted per chunk (hostile-input bound).
    */
  final class Counter(ranks: Map[(String, String), Int])
      extends (String => Option[Int]) with Serializable {
    @transient private lazy val memo = new java.util.HashMap[String, Integer]()
    @transient private lazy val pat =
      java.util.regex.Pattern.compile("[a-z]+|[0-9]+|[^a-z0-9\\s]")

    private def count(w: String): Int =
      if (w.length <= MaxExactWordLen) subwordCount(w, ranks)
      else (0 until w.length by MaxExactWordLen)
        .map(i => subwordCount(
          w.substring(i, math.min(i + MaxExactWordLen, w.length)), ranks))
        .sum

    def apply(text: String): Option[Int] =
      if (text == null) None
      else {
        val m = pat.matcher(text.toLowerCase(java.util.Locale.ROOT))
        var total = 0
        while (m.find()) {
          val w = m.group()
          var c = memo.get(w)
          if (c == null) {
            c = Integer.valueOf(count(w))
            if (w.length <= 64 && memo.size < (1 << 18)) memo.put(w, c)
          }
          total += c.intValue()
        }
        Some(total)
      }
  }

  /** [[Counter]]'s sequence-emitting twin: the document's full subword
    * token stream (pre-tokens in order, each expanded by [[mergeWord]])
    * — the trainer-feed form that packed-sequence emission consumes.
    * Same memo admission bounds and the same [[MaxExactWordLen]] chunked
    * fallback (a chunked word's tokens are the concatenation of its
    * chunks' tokens, so `tokens.length` always equals [[Counter]]'s
    * count for the same input).
    */
  final class Tokenizer(ranks: Map[(String, String), Int])
      extends (String => Option[Seq[String]]) with Serializable {
    @transient private lazy val memo = new java.util.HashMap[String, Array[String]]()
    @transient private lazy val pat =
      java.util.regex.Pattern.compile("[a-z]+|[0-9]+|[^a-z0-9\\s]")

    private def tokens(w: String): Array[String] =
      if (w.length <= MaxExactWordLen) mergeWord(w, ranks)
      else (0 until w.length by MaxExactWordLen).iterator
        .flatMap(i => mergeWord(
          w.substring(i, math.min(i + MaxExactWordLen, w.length)), ranks))
        .toArray

    def apply(text: String): Option[Seq[String]] =
      if (text == null) None
      else {
        val m = pat.matcher(text.toLowerCase(java.util.Locale.ROOT))
        val out = Seq.newBuilder[String]
        while (m.find()) {
          val w = m.group()
          var t = memo.get(w)
          if (t == null) {
            t = tokens(w)
            if (w.length <= 64 && memo.size < (1 << 18)) memo.put(w, t)
          }
          out ++= t
        }
        Some(out.result())
      }
  }
}
