package graftbench

import graft.dedup.{ConnectedComponents, ExactDedup, MinHashLsh}
import graft.graph.PageRank
import graft.operators.Sampling
import graft.pipeline.SparkPipeline
import graft.text.{Packing, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** An LLM-data curation pipeline run through `SparkPipeline`: quality
  * gate, exact dedup, near dedup (MinHash LSH + connected components),
  * per-host cap, split and pack, with host PageRank as a parallel branch.
  * Every step writes a table. One op is one pipeline run.
  */
final class Curation extends Workload {
  import Curation._
  val name = "curation"
  override def warmUpOps: Int = 1
  // two runs a cycle: a run measures at least two, however long they take
  override def cycle: Int = 2

  private var dirs: RunDirs = _
  private var truth: Truth = _
  private var truthDigests: Map[String, Digest] = Map.empty

  def generate(s: SparkSession, d: RunDirs, seed: Long): Unit = {
    dirs = d
    truth = Gen.write(s, d.inputs, seed)
    import s.implicits._
    truthDigests = Map(
      "gate" -> Digest.of(truth.gate.toSeq.toDF("id")),
      "exact_dedup" -> Digest.of(truth.exact.toSeq.toDF("id")),
      "near_dedup" -> Digest.of(truth.near.toSeq.toDF("id")),
      "cap" -> Digest.of(truth.capPerHost.toSeq.toDF("host", "n")))
  }

  def traffic: Map[String, Any] = truth.traffic

  def inputs: Seq[String] = Seq("docs", "links")

  def next(i: Int): Option[Op] = Some(Op("pipeline", truth.docs + truth.links, body, check))

  private def body(c: Ctx): Any = {
    val spark = c.spark
    val docsPath = s"${dirs.inputs}/docs"
    val linksPath = s"${dirs.inputs}/links"
    val p = c.construct {
      val p = new SparkPipeline("curation", spark)
      p.stepSparkTable("gate", Seq("cur_gate")) { _ =>
        val docs = spark.read.parquet(docsPath)
        val pass = TextAnalysis.gopherFilters(docs, "id", "text").filter(col("passes")).select("id")
        Seq(docs.join(pass, Seq("id"), "left_semi"))
      }
      p.stepSparkTable("exact_dedup", Seq("cur_exact"), dependsOn = Seq("cur_gate")) { _ =>
        Seq(ExactDedup.dedup(spark.table("cur_gate"), "id", "text"))
      }
      p.stepSparkTable("near_dedup", Seq("cur_near"), dependsOn = Seq("cur_exact")) { _ =>
        val docs = spark.table("cur_exact")
        val pairs = MinHashLsh.candidatePairs(docs, "id", "text")
          .select(col("id_a").as("src"), col("id_b").as("dst"))
        val comp = ConnectedComponents.labelPropagation(pairs)
        Seq(docs.join(comp, docs("id") === comp("node"), "left")
          .filter(comp("component").isNull || comp("component") === docs("id"))
          .select(docs("id"), docs("host"), docs("text")))
      }
      p.stepSparkTable("host_rank", Seq("cur_host_rank")) { _ =>
        Seq(PageRank.hostAuthority(spark.read.parquet(linksPath)))
      }
      p.stepSparkTable("cap", Seq("cur_cap"), dependsOn = Seq("cur_near")) { _ =>
        Seq(Sampling.capPerGroup(spark.table("cur_near"), Seq("host"), Seq("id"), CapPerHost))
      }
      p.stepSparkTable("split", Seq("cur_split"), dependsOn = Seq("cur_cap")) { _ =>
        Seq(Sampling.splitAssign(spark.table("cur_cap"), Seq("id"), Splits))
      }
      p.stepSparkTable("pack", Seq("cur_pack"), dependsOn = Seq("cur_split")) { _ =>
        val t = spark.table("cur_split").withColumn("tokens", size(split(trim(col("text")), "\\s+")))
        Seq(Packing.packSummary(t, Seq("split"), Seq("id"), "tokens", PackBudget))
      }
      p
    }
    val msOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val t0 = System.nanoTime()
    c.run(p.run(maxConcurrentSteps = 4))
    val wall = (System.nanoTime() - t0) / 1e9
    if (c.tracer.enabled) {
      val steps = p.steps
      val dur = steps.map { case (n, s) => n -> (s.stopTs - s.startTs) / 1e3 }
      // longest dependency chain of step durations; the rest is DAG overhead
      val finish = mutable.Map.empty[String, Double]
      def end(n: String): Double = finish.getOrElseUpdate(n, dur(n) + Deps(n).map(end).foldLeft(0.0)(math.max))
      val critical = steps.keys.map(end).max
      val pid = c.tracer.record("pipeline", "pipeline", c.tracer.currentId, t0, t0 + (wall * 1e9).toLong,
        Map("dag_overhead_s" -> (wall - critical)))
      steps.foreach { case (n, s) =>
        c.tracer.record(n, "step", pid, s.startTs * 1000000L + msOffset, s.stopTs * 1000000L + msOffset)
      }
    }
    ()
  }

  /** One query over every output table, untimed. */
  private def check(v: Any): Option[String] = {
    val spark = org.apache.spark.sql.SparkSession.active
    def ids(t: String) = Digest.frame(spark.table(t).select("id"))
    val parts = Seq(
      ids("cur_gate"), ids("cur_exact"), ids("cur_near"),
      Digest.frame(spark.table("cur_cap").groupBy("host").agg(count(lit(1)).as("n"))),
      spark.table("cur_host_rank").agg(count(lit(1)), min("r"), sum(col("r").cast("decimal(38,0)"))),
      spark.table("cur_split").agg(count(lit(1)), sum(when(col("split").isin(Splits.map(_._1): _*), 0)
        .otherwise(1))),
      spark.table("cur_pack").agg(sum("n_docs"), sum("tok_sum")))
    val r = parts.reduce(_ crossJoin _).head()
    def dg(i: Int) = Digest(r.getLong(i), r.getDecimal(i + 1))
    val capTotal = truth.capPerHost.values.sum
    Seq(
      Workload.expect("gate", dg(0), truthDigests("gate")),
      Workload.expect("exact_dedup", dg(2), truthDigests("exact_dedup")),
      Workload.expect("near_dedup", dg(4), truthDigests("near_dedup")),
      Workload.expect("cap", dg(6), truthDigests("cap")),
      Workload.expect("host_rank nodes", r.getLong(8), truth.rankedHosts),
      if (r.getLong(9) > 0) None else Some(s"host_rank: non-positive rank ${r.getLong(9)}"),
      // ranks on a symmetrized graph conserve mass up to integer rounding
      if ((r.getDecimal(10).doubleValue / (truth.rankedHosts * PageRank.DefaultScale.toDouble) - 1).abs < 1e-3)
        None else Some(s"host_rank: rank mass ${r.getDecimal(10)}"),
      Workload.expect("split rows", r.getLong(11), capTotal),
      Workload.expect("split labels outside the splits", r.getLong(12), 0L),
      Workload.expect("pack docs", r.getLong(13), capTotal),
      Workload.expect("pack tokens", r.getLong(14), truth.capTokens)
    ).flatten.headOption
  }
}

object Curation {
  /** Corpus size in documents (the sf0.1 corpus has 5,000). */
  val Docs = 5000
  val Hosts = 300
  val LinkHosts = 2000
  val Links = 30000
  val GateFailShare = 0.1
  val ExactShare = 0.05
  val NearShare = 0.05
  val SpamShare = 0.08
  val SpamWords = 60
  val CapPerHost = 20
  val PackBudget = 4096L
  val Splits: Seq[(String, Double)] = Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125)
  val Deps: Map[String, Seq[String]] = Map("gate" -> Nil, "exact_dedup" -> Seq("gate"),
    "near_dedup" -> Seq("exact_dedup"), "host_rank" -> Nil, "cap" -> Seq("near_dedup"),
    "split" -> Seq("cap"), "pack" -> Seq("split"))

  final case class Truth(docs: Long, links: Long, gate: Set[Long], exact: Set[Long], near: Set[Long],
      capPerHost: Map[String, Long], capTokens: Long, rankedHosts: Long, traffic: Map[String, Any])

  private val Stop = Array("the", "be", "to", "of", "and", "that", "have", "with")

  object Gen {
    def write(spark: SparkSession, dir: String, seed: Long): Truth = {
      val rnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + 23)
      def letters(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      val vocab = Iterator.continually(letters(3 + rnd.nextInt(7)))
        .filterNot(w => Stop.contains(w)).distinct.take(1500).toArray
      def word(): String = if (rnd.nextDouble() < 0.25) Stop(rnd.nextInt(Stop.length)) else vocab(rnd.nextInt(vocab.length))
      // words joined by spaces, a period every 8-15 words, a newline every 4 sentences
      def text(n: Int, symbols: Boolean = false): String = {
        val sb = new StringBuilder
        var sentence = 0; var left = 8 + rnd.nextInt(8)
        (0 until n).foreach { k =>
          if (k > 0) sb.append(if (left == 0 && sentence % 4 == 3) '\n' else ' ')
          if (left == 0) { sentence += 1; left = 8 + rnd.nextInt(8) }
          if (symbols && k % 4 == 0) sb.append('#')
          sb.append(word())
          left -= 1
          if (left == 0 || k == n - 1) sb.append('.')
        }
        sb.toString
      }
      // long CDN-style names: the link frame's bytes, not its row count,
      // decide which side of the broadcast threshold it lands on
      def hostName(i: Int) =
        f"h$i%05d.${letters(16)}.${letters(20)}.${letters(16)}.${letters(12)}-edge-cache-pool.example-hosting.net"
      val hosts = (0 until Hosts).map(i => hostName(i)).toArray
      val spamHost = hosts(0)
      var next = 0 // round robin: no host but the spam host can reach the cap
      def anyHost() = { next += 1; hosts(1 + next % (Hosts - 1)) }

      final case class Doc(host: String, text: String, words: Int, pass: Boolean, origin: Int, exact: Boolean)
      val nFail = (Docs * GateFailShare).toInt
      val nExact = (Docs * ExactShare).toInt
      val nNear = (Docs * NearShare).toInt
      val nSpam = (Docs * SpamShare).toInt
      val nOrig = Docs - nFail - nExact - nNear - nSpam
      val docs = mutable.ArrayBuffer.empty[Doc]
      (0 until nOrig).foreach { _ => val n = 80 + rnd.nextInt(121); docs += Doc(anyHost(), text(n), n, true, -1, false) }
      (0 until nSpam).foreach { _ => docs += Doc(spamHost, text(SpamWords), SpamWords, true, -1, false) }
      (0 until nFail).foreach { k =>
        val n = if (k % 2 == 0) 10 + rnd.nextInt(16) else 80 + rnd.nextInt(40)
        docs += Doc(anyHost(), text(n, symbols = k % 2 == 1), n, false, -1, false)
      }
      // copies are made of distinct non-spam originals; a near copy swaps one word
      val sources = rnd.shuffle((0 until nOrig).toVector).take(nExact + nNear)
      sources.take(nExact).foreach { o => val d = docs(o); docs += d.copy(host = anyHost(), origin = o, exact = true) }
      sources.drop(nExact).foreach { o =>
        val d = docs(o)
        val ws = d.text.split(" ", -1)
        val k = rnd.nextInt(ws.length)
        ws(k) = ws(k).takeWhile(_.isLetter) + "q" + ws(k).dropWhile(_.isLetter)
        docs += d.copy(host = anyHost(), text = ws.mkString(" "), origin = o)
      }
      val ids = rnd.shuffle((1L to docs.size.toLong).toVector)
      def id(i: Int) = ids(i)

      // truth by construction: gate, exact keeper = min id of a text, near
      // survivor = min id of an original's keeper and its near copies
      val gate = docs.indices.filter(docs(_).pass)
      val exactGroups = gate.groupBy(i => if (docs(i).exact) docs(i).origin else i)
      val keeper = exactGroups.map { case (o, is) => o -> is.minBy(id) }
      val exact = keeper.values.toSet
      val nearOf = gate.filter(i => docs(i).origin >= 0 && !docs(i).exact).groupBy(docs(_).origin)
      val nearDropped = nearOf.flatMap { case (o, ns) =>
        val comp = keeper(o) +: ns
        val survivor = comp.minBy(id)
        comp.filter(_ != survivor)
      }.toSet
      val near = exact -- nearDropped
      val perHost = near.toSeq.groupBy(docs(_).host)
      val capPerHost = perHost.map { case (h, is) => h -> math.min(is.size, CapPerHost).toLong }
      val capTokens = perHost.toSeq.map { case (h, is) =>
        if (is.size <= CapPerHost) is.map(docs(_).words.toLong).sum
        else { require(h == spamHost, s"host $h exceeds the cap"); CapPerHost.toLong * SpamWords }
      }.sum

      val docRows = new java.util.ArrayList[Row]()
      docs.indices.foreach(i => docRows.add(Row(id(i), docs(i).host, docs(i).text)))
      spark.createDataFrame(docRows, StructType(Seq(StructField("id", LongType),
        StructField("host", StringType), StructField("text", StringType)))).write.parquet(s"$dir/docs")

      // host link graph: the corpus hosts plus link-only hosts, random edges
      val linkHosts = hosts ++ (Hosts until LinkHosts).map(i => hostName(i))
      val linkRows = new java.util.ArrayList[Row](Links)
      val seen = mutable.Set.empty[String]
      (0 until Links).foreach { _ =>
        val a = linkHosts(rnd.nextInt(LinkHosts)); var b = linkHosts(rnd.nextInt(LinkHosts))
        while (b == a) b = linkHosts(rnd.nextInt(LinkHosts))
        linkRows.add(Row(a, b)); seen += a; seen += b
      }
      spark.createDataFrame(linkRows, StructType(Seq(StructField("src", StringType),
        StructField("dst", StringType)))).write.parquet(s"$dir/links")
      val avgHostLen = linkHosts.map(_.length).sum.toDouble / linkHosts.length
      Truth(docs.size, Links, gate.map(id).toSet, exact.map(id), near.map(id), capPerHost,
        capTokens, seen.size.toLong,
        Map("docs" -> docs.size, "words_per_doc" -> "80-200 (spam host: 60)", "hosts" -> Hosts,
          "gate_fail_share" -> GateFailShare, "exact_dup_share" -> ExactShare,
          "near_dup_share" -> NearShare, "spam_share" -> SpamShare, "cap_per_host" -> CapPerHost,
          "link_edges" -> Links, "link_hosts" -> seen.size,
          // UnsafeRow bytes of the symmetrized edge frame: 2 rows per link,
          // 8 B null bitmap + 2 x (8 B offset + name rounded up to 8 B)
          "edge_frame_bytes_est" -> (2L * Links * (8 + 2 * (8 + 8 * math.ceil(avgHostLen / 8)))).toLong,
          "gate_pass" -> gate.size, "exact_keep" -> exact.size, "near_keep" -> near.size,
          "cap_keep" -> capPerHost.values.sum, "cap_tokens" -> capTokens))
    }
  }
}
