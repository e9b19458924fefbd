package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Queries run in name order after a small warmup so
  * JIT/codegen startup lands on the warmup, not on whichever query a hash
  * map yields first.
  *
  * VARIANCE PROTOCOL (r14 verdict): two rounds of one-directional driver
  * drift whose movers clustered by RUN POSITION (untouched code, adjacent
  * query numbers) could not be attributed with a single-JVM min-of-two.
  * The artifact therefore also carries (a) `spread` — each query's
  * max/min ratio across its two passes, the in-run noise floor — and
  * (b) `isolated` — the top movers vs the PRIOR round's committed
  * bench_full.json re-timed in a FRESH child JVM after the main run
  * (clean heap, no 300-query tenured history), so a verdict can separate
  * positional/GC noise from real regression with data: a mover whose
  * isolated time matches the prior round is positional noise; one that
  * doesn't is a regression to bisect.
  */
object Bench {
  /** One full execution via the noop sink (never count — Catalyst
    * eliminates count-invariant operators), returning seconds; None when
    * the query throws, so a failure is never recorded as a fast success.
    */
  private[graft] def timeOne(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case _: Throwable => None }
  }

  /** Per-query min of two passes; a query that failed in either is left out. */
  private def minOfPasses(p1: Seq[(String, Option[Double])],
      p2: Seq[(String, Option[Double])]): Seq[(String, Double, Double)] = {
    val first = p1.toMap
    for ((n, Some(b)) <- p2; a <- first(n)) yield (n, math.min(a, b), math.max(a, b))
  }

  /** Child-JVM entry (`--isolated name,name,...`): a clean-heap re-time of
    * the named queries — generic warmup, then ONE DISCARDED full
    * execution per query (the r15 verdict: a construct-only warm leaves
    * whole-stage-codegen compilation inside the first timed pass, so
    * cold-JVM numbers read 2–2.7× the in-run times on identical code and
    * adjudicate nothing), then two timed passes, min — printed as one
    * `[isolated-json]` line for the parent to parse (a query that failed
    * in either pass is left out). NEVER touches bench_full.json.
    */
  private def isolatedChild(sfDir: String, names: Seq[String]): Unit = {
    val spark = Session.local()
    val picked = SparkEntry.queries.toSeq.filter(q => names.contains(q._1)).sortBy(_._1)
    Tables.All.foreach { t =>
      try Tables.load(spark, sfDir, t).limit(1).count() catch { case _: Throwable => }
    }
    try {
      import org.apache.spark.sql.functions._
      spark.range(1000000).select((col("id") % 97).as("k"), col("id"))
        .groupBy("k").count().count()
    } catch { case _: Throwable => }
    // discarded warmup EXECUTION per query: pays codegen compile + JIT +
    // fixture caches outside the timed window, same as the parent run
    picked.foreach { case (_, fn) => timeOne(spark, sfDir, fn) }
    def pass() = picked.map { case (n, fn) => n -> timeOne(spark, sfDir, fn) }
    val p1 = pass()
    val res = minOfPasses(p1, pass())
    println(res.map { case (k, v, _) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    }.mkString("[isolated-json] {", ",", "}"))
    spark.stop()
  }

  /** Prior round's committed per-query map, read from cwd's
    * bench_full.json BEFORE this run overwrites it; empty when absent or
    * unparseable (first round, or a local partial run clobbered it).
    */
  private def readPriorFull(): Map[String, Double] = try {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench_full.json")), "UTF-8")
    val start = txt.indexOf("\"queries\":{")
    if (start < 0) Map.empty
    else {
      // brace-depth scan to the MATCHING close brace (not the first '}'):
      // a nested object inside the queries map must not silently truncate
      // the prior map and mislabel the movers
      val open = start + 10 // index of '{'
      var depth = 0; var i = open; var end = -1
      while (end < 0 && i < txt.length) {
        txt.charAt(i) match {
          case '{' => depth += 1
          case '}' => depth -= 1; if (depth == 0) end = i
          case _ =>
        }
        i += 1
      }
      if (end < 0) Map.empty
      else {
        val body = txt.substring(open + 1, end)
        "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
  } catch { case _: Throwable => Map.empty }

  /** Fork a fresh JVM (same classpath, same --add-opens/-Xmx — ALL of this
    * JVM's input arguments are forwarded) running `--isolated` over the
    * named queries; returns its timings, or empty on any failure — the
    * bench line must survive a broken fork.
    */
  private def isolatedRetime(sfDir: String, names: Seq[String]): Map[String, Double] = {
    if (names.isEmpty) return Map.empty
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = java.nio.file.Paths.get(
        System.getProperty("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq(
        "-cp", System.getProperty("java.class.path"),
        "graft.Bench", "--isolated", names.mkString(","))).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream)
        .getLines().filter(_.startsWith("[isolated-json] ")).toList
      val rc = proc.waitFor()
      out.lastOption match {
        case Some(line) =>
          "\"([A-Za-z0-9_]+)\":([0-9.Ee+-]+)".r.findAllMatchIn(line)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        case None =>
          println(s"[bench] isolated re-time child emitted no timing line (rc=$rc)")
          Map.empty
      }
    } catch { case e: Throwable =>
      println(s"[bench] isolated re-time fork failed (non-fatal): $e")
      Map.empty
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.length >= 2 && args(0) == "--isolated") {
      isolatedChild(sfDir, args(1).split(",").toSeq); return
    }
    // optional arg: comma-separated name prefixes — local iteration only
    // (the driver always times the full set)
    val only: String => Boolean =
      if (args.nonEmpty) { val ps = args(0).split(","); n => ps.exists(n.startsWith) }
      else _ => true
    // Session.local() reads SPARK_GRAFT_CPUS (the isolated child inherits
    // it). Measured at sf0.1 on a 32-core box: local[8] beats local[4]
    // (CPU-bound minhash parallelism) and local[32] (tiny-partition
    // scheduling overhead).
    val spark = Session.local()

    // warmup: touch every table + exercise shuffle/window/join machinery once
    Tables.All.foreach { t =>
      try Tables.load(spark, sfDir, t).limit(1).count() catch { case _: Throwable => }
    }
    try {
      import org.apache.spark.sql.functions._
      spark.range(1000000).select((col("id") % 97).as("k"), col("id"))
        .groupBy("k").count().count()
      // JIT the hot UDF/HOF paths (minhash, cosine) on a tiny slice
      val docs = Tables.documents(spark, sfDir).limit(300)
      graft.dedup.MinHashLsh.candidatePairs(docs, "doc_id", "text").count()
      val vecs = Tables.embeddings(spark, sfDir).limit(300)
      graft.similarity.Knn.bruteForceTopK(vecs, vecs.limit(3), "vec_id", "embedding", 3).count()
    } catch { case _: Throwable => }

    // FIXTURE WARM: per-sf fixture caches (ANN indexes, PQ codebooks,
    // BPE counts, dHash fixtures, …) build EAGERLY inside query
    // construction (Fixtures.cachedPath writes on miss) — construct
    // every query once, untimed, so a post-regen cold cache can never
    // land inside a timed pass (r6 driver bench showed q85 at 2.12×
    // for exactly this reason). The cost is logged so a driver run
    // stays interpretable. A name-prefix run warms only its own queries.
    val tFix = System.nanoTime()
    SparkEntry.queries.toSeq.filter(q => only(q._1)).sortBy(_._1).foreach { case (_, fn) =>
      try { fn(spark, sfDir); () } catch { case _: Throwable => () }
    }
    println(f"[bench] fixture warm + plan construction: ${(System.nanoTime() - tFix) / 1e9}%.1f s")

    // two timed passes, keep the per-query minimum: JIT warmup and host
    // noisy-neighbor jitter otherwise dominate sub-second queries.
    // Each query executes FULLY via the noop sink — .count() would let
    // Catalyst eliminate joins/aggregations that don't change the count
    // (q18's whole aggregation disappears under count, for one), silently
    // under-reporting any query whose tail is count-eliminable.
    def timeAll(): Seq[(String, Option[Double])] =
      SparkEntry.queries.toSeq.filter(q => only(q._1)).sortBy(_._1).map { case (name, fn) =>
        name -> timeOne(spark, sfDir, fn)
      }
    // prior round's artifact — read BEFORE this run overwrites it
    val prior = readPriorFull()
    val p1 = timeAll()
    val p2 = timeAll()
    val passes = minOfPasses(p1, p2)
    val results = passes.map { case (n, lo, _) => n -> lo }
    // a query that threw in either pass: named in both artifacts, left
    // out of the total, the spread and the movers
    val failed = p2.map(_._1).filterNot(results.map(_._1).toSet)
    // per-query two-pass spread (max/min): the in-run noise floor a
    // verdict reads a round-over-round mover against
    val spread = passes.map { case (n, lo, hi) => n -> hi / math.max(1e-9, lo) }.toMap
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val sfName = sfDir.split('/').last
    // Locale.ROOT: the f-interpolator is locale-sensitive — a
    // comma-decimal JVM locale would emit invalid JSON
    val totalStr = String.format(java.util.Locale.ROOT, "%.2f", Double.box(total))
    // COMPLETE artifact → a file (full names, float seconds, total): the
    // stdout tail the driver keeps is 2000 bytes, far too small for the
    // full-precision map, and BENCH_r09 proved even the compact map
    // outgrows it — the file is the durable record (committed at the
    // next round's start; judges diff it against prior rounds).
    // top movers vs the prior round (both sides ≥0.25 s so ratios mean
    // something), re-timed in a fresh child JVM; falls back to the widest
    // in-run spreads when there is no prior artifact to move against
    val movers: Seq[String] =
      if (prior.nonEmpty)
        results.filter { case (n, t) => t >= 0.25 && prior.get(n).exists(_ >= 0.25) }
          .map { case (n, t) => n -> t / prior(n) }
          .sortBy(-_._2).take(10).map(_._1)
      else results.filter(_._2 >= 0.25).sortBy(r => -spread(r._1)).take(10).map(_._1)
    val isolated =
      if (results.size < 20) Map.empty[String, Double] // local partial runs skip the fork
      else isolatedRetime(sfDir, movers)
    def jmap(m: Map[String, Double], dp: Int): String =
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))
      }.mkString("{", ",", "}")
    val fullQs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":$totalStr,"unit":"sec","sf":"$sfName","failed":$failedJs,"queries":$fullQs,"spread":${jmap(spread, 2)},"isolated":${jmap(isolated, 3)}}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
        (fullLine + "\n").getBytes("UTF-8"))
      println("[bench] full artifact written to bench_full.json")
    } catch { case e: Throwable => println(s"[bench] full-artifact write failed: $e") }
    println(s"[bench-full] $fullLine")
    // Official line LAST, and it MUST fit the driver's 2000-byte stdout
    // tail together with sbt's trailing "[success] Total time: ..." line
    // (~80 bytes) — BENCH_r09's ~2100-byte line lost its own head (q01–q06
    // + the total metric). Keys are the bare query number (the qNN prefix
    // is unique — checked — and "queries_key" documents the stripped "q"),
    // emitted in numeric order; the unit auto-degrades ms → cs → ds until
    // the line fits the budget, so the artifact stays complete as the
    // suite grows instead of silently truncating.
    val num = "q(\\d+)".r
    def qnum(n: String): Int = num.findFirstMatchIn(n).map(_.group(1).toInt).getOrElse(0)
    val shortKeys = results.map(_._1.takeWhile(_ != '_'))
    require(shortKeys.distinct.size == shortKeys.size,
      s"duplicate qNN short keys would silently drop a timing: " +
        shortKeys.groupBy(identity).filter(_._2.size > 1).keys.mkString(","))
    val ordered = results.sortBy(r => (qnum(r._1), r._1))
    def officialLine(unit: String, div: Double): String = {
      val compact = ordered.map { case (k, v) =>
        s""""${k.takeWhile(_ != '_').stripPrefix("q")}":${math.round(v * div)}"""
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$totalStr,"unit":"sec","failed":${failed.size},"queries_unit":"$unit","queries_key":"q#","queries":$compact,"sf":"$sfName"}"""
    }
    val budget = 1870 // 2000-byte tail − sbt footer − [info] prefix margin
    // last-resort degradation: when even deciseconds can't fit the full
    // map (~400+ queries), emit the total + the slowest queries that DO
    // fit + an explicit omission marker — a short, parseable line beats
    // a silently head-truncated complete one (the BENCH_r09 failure
    // mode); the complete map is always in bench_full.json.
    def truncatedLine(): String = {
      val byCost = results.sortBy(-_._2)
      val kept = scala.collection.mutable.ListBuffer.empty[(String, Double)]
      var len = 220 // prefix + omission fields, conservatively
      for ((k, v) <- byCost if len < budget - 14) {
        val entry = s""""${k.takeWhile(_ != '_').stripPrefix("q")}":${math.round(v * 100)}"""
        if (len + entry.length + 1 <= budget) { kept += (k -> v); len += entry.length + 1 }
      }
      val compact = kept.sortBy(r => (qnum(r._1), r._1)).map { case (k, v) =>
        s""""${k.takeWhile(_ != '_').stripPrefix("q")}":${math.round(v * 100)}"""
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":$totalStr,"unit":"sec","failed":${failed.size},"queries_unit":"cs","queries_key":"q#","queries_omitted":${results.size - kept.size},"queries":$compact,"sf":"$sfName","full":"bench_full.json"}"""
    }
    val line = Seq("ms" -> 1000.0, "cs" -> 100.0, "ds" -> 10.0)
      .map { case (u, d) => officialLine(u, d) }
      .find(_.length <= budget)
      .getOrElse {
        println(s"[bench] WARNING: full per-query map exceeds the ${budget}B stdout budget even at ds; emitting slowest-first truncated map (complete artifact in bench_full.json)")
        truncatedLine()
      }
    println(line)
    spark.stop()
  }
}
