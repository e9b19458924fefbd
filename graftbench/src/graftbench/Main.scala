package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Benchmark JVM entry.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --cpus <n> --dir <run dir> --out <result json>
  * }}}
  *
  * Sets up one fresh SparkSession that generates the inputs from the seed,
  * opens them and runs [[Workload.warmUpOps]] untimed ops (set-up time is
  * process start to the first timed op, generation excluded), then runs one
  * closed loop with a single client thread until `seconds` have been spent
  * inside ops, ending on a whole cycle of kinds.
  * With `--trace 1` untraced and traced cycles alternate, at least one of
  * each, and the per-layer metrics come from the traced ones.
  */
object Main {
  final case class OpRec(kind: String, seconds: Double, rows: Long, spanId: Int, leaked: Int)
  final class Phase {
    val ops = mutable.ArrayBuffer.empty[OpRec]
    var attempted = 0L
    var failed = 0L
    var busyS = 0.0 // time inside ops, failed ones included
    val failures = mutable.ArrayBuffer.empty[String]
    var heapPeakMb = 0.0
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val bootS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workload.byName(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val dirs = RunDirs(a("dir"))
    val runId = s"${w.name}-$seed-${System.currentTimeMillis()}"
    val result = run(w, seed, seconds, trace, cpus, dirs, runId) + ("jvm_boot_s" -> bootS)
    Files.write(Paths.get(a("out")), json(result).getBytes("UTF-8"))
  }

  def session(cpus: Int, dirs: RunDirs): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", dirs.warehouse)
      .config("spark.local.dir", dirs.local)
      .config("spark.sql.streaming.checkpointLocation", dirs.checkpoint)
      // bounded status-store retention keeps driver heap independent of run length
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Live heap: heap pools' usage right after a forced full collection.
    * The first collection lets Spark's ContextCleaner drop blocks of
    * unreachable RDDs and broadcasts; the second one frees them.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L))
      .sum / (1024.0 * 1024.0)
  }

  /** Run `n` ops (fewer only when the inputs run out) in a closed loop:
    * the next op starts only after the previous one completed. An op that
    * throws or fails its check counts in `failed` and adds to no latency.
    * Returns the next op index.
    */
  def runOps(w: Workload, ctx: Ctx, start: Int, n: Int, ph: Phase, verbose: Boolean): Int = {
    val sc = ctx.spark.sparkContext
    val tracer = ctx.tracer
    var i = start
    var op = w.next(i)
    while (op.isDefined && i < start + n) {
      val o = op.get
      ph.attempted += 1
      val before = sc.getPersistentRDDs.size
      var spanId = 0
      o.prepare()
      val t0 = System.nanoTime()
      val res = Try(tracer.span(s"op:${o.kind}", "op", Map("i" -> i)) {
        spanId = tracer.currentId
        o.body(ctx)
      })
      val dt = (System.nanoTime() - t0) / 1e9
      ph.busyS += dt
      val err = res match {
        case Success(v) => Try(o.check(v)).fold(e => Some(s"check threw: $e"), identity)
        case Failure(e) => Some(s"threw: $e")
      }
      err match {
        case None => ph.ops += OpRec(o.kind, dt, o.rows, spanId, sc.getPersistentRDDs.size - before)
        case Some(e) =>
          ph.failed += 1
          if (ph.failures.size < 20) ph.failures += s"${o.kind}#$i: $e"
          if (verbose) System.err.println(s"[graftbench] op ${o.kind}#$i failed: $e")
      }
      if (ph.attempted % w.heapEvery == 0 && ph.attempted <= w.heapUntil)
        ph.heapPeakMb = math.max(ph.heapPeakMb, liveHeapMb())
      i += 1
      op = w.next(i)
    }
    i
  }

  /** Whole cycles until `seconds` have been spent inside ops (checks and
    * heap samples between ops do not count). Returns the next op index.
    */
  def loop(w: Workload, spark: SparkSession, tracer: Tracer, seconds: Double, start: Int,
      ph: Phase, verbose: Boolean = true): Int = {
    val ctx = new Ctx(spark, tracer)
    val busy0 = ph.busyS
    var i = start
    var more = true
    while (more && ph.busyS - busy0 < seconds) {
      val j = runOps(w, ctx, i, w.cycle, ph, verbose)
      more = j - i == w.cycle
      i = j
    }
    if (ph.heapPeakMb == 0) ph.heapPeakMb = liveHeapMb()
    i
  }

  /** Traced run: untraced and traced cycles alternate until `seconds` have
    * been spent inside ops (at least one cycle of each), so both see the
    * same warm-up trend; the listener is attached only while a traced
    * cycle runs.
    */
  def tracedLoop(w: Workload, spark: SparkSession, tracer: Tracer, listener: JobListener,
      seconds: Double, start: Int, plain: Phase, traced: Phase): Unit = {
    val sc = spark.sparkContext
    val off = new Ctx(spark, new Tracer(false, tracer.runId))
    val on = new Ctx(spark, tracer)
    def busy = plain.busyS + traced.busyS
    val busy0 = busy
    var i = start
    var k = 0
    var more = true
    tracer.span(w.name, "workload") {
      while (more && (busy - busy0 < seconds || k < 2)) {
        val j =
          if (k % 2 == 0) runOps(w, off, i, w.cycle, plain, verbose = true)
          else {
            sc.addSparkListener(listener)
            try runOps(w, on, i, w.cycle, traced, verbose = true)
            finally { listener.awaitQuiet(10000); sc.removeSparkListener(listener) }
          }
        more = j - i == w.cycle
        i = j
        k += 1
      }
    }
    if (plain.heapPeakMb == 0) plain.heapPeakMb = liveHeapMb()
  }

  def writeSpans(t: Tracer, path: String): Unit = {
    val lines = t.spans.sortBy(_.startNs).map(s => json(Map("id" -> s.id, "parent" -> s.parent,
      "run_id" -> s.runId, "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "attrs" -> s.attrs)))
    val self = json(Map("self_s_by_layer" -> t.selfSecondsByLayer))
    Files.write(Paths.get(path), (lines :+ self).mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Harrell-Davis quantile: a Beta-weighted mean of all order statistics.
    * With few samples of very different sizes the plain sample quantile
    * jumps from one sample to the next; this estimate moves smoothly.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else {
      val s = xs.sorted
      val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(null,
        q * (n + 1), (1 - q) * (n + 1))
      val cdf = (0 to n).map(i => beta.cumulativeProbability(i.toDouble / n))
      s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)).sum
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def metric(v: Double, unit: String): Map[String, Any] = Map("value" -> v, "unit" -> unit)

  /** Latency percentiles are taken over op latencies when every op is of
    * one kind, and over the per-kind medians when kinds are cycled: the
    * pooled percentile of a mix of kinds depends on how many cycles fit in
    * the run, so a faster program could read slower.
    */
  def endToEnd(ph: Phase, setupS: Double): Map[String, Map[String, Any]] = {
    val byKind = ph.ops.toSeq.groupBy(_.kind)
    val lat = if (byKind.size > 1) byKind.values.map(os => median(os.map(_.seconds))).toSeq
      else ph.ops.map(_.seconds).toSeq
    Map(
      "setup_s" -> metric(setupS, "s"),
      "rows_per_s" -> metric(ph.ops.map(_.rows).sum / ph.ops.map(_.seconds).sum, "rows/s"),
      "op_p50_s" -> metric(quantile(lat, 0.5), "s"),
      "op_p90_s" -> metric(quantile(lat, 0.9), "s"),
      "heap_live_peak_mb" -> metric(ph.heapPeakMb, "MB"))
  }

  def run(w: Workload, seed: Long, seconds: Double, trace: Boolean, cpus: Int, dirs: RunDirs,
      runId: String): Map[String, Any] = {
    // set-up: a fresh SparkSession that generates the inputs (outside the
    // set-up time), opens them and runs untimed warm-up ops, so JIT,
    // code-generation and session caches settle before the first timed op
    val spark = session(cpus, dirs)
    val g0 = System.nanoTime()
    w.generate(spark, dirs, seed)
    val genS = (System.nanoTime() - g0) / 1e9
    val setupFailures = Try(w.open(spark, dirs)).failed.map(e => s"set-up: $e").toOption.toSeq
    setupFailures.foreach(e => System.err.println(s"[graftbench] $e"))
    val w0 = System.nanoTime()
    val warm = new Phase
    val warmCtx = new Ctx(spark, new Tracer(false, runId))
    val first = runOps(w, warmCtx, 0, w.warmUpOps, warm, verbose = true)
    val warmS = (System.nanoTime() - w0) / 1e9
    // process start to the first timed op, input generation excluded
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - genS

    val plain = new Phase
    val traced = new Phase
    val layers =
      if (!trace) {
        loop(w, spark, new Tracer(false, runId), seconds, first, plain)
        Map.empty[String, Map[String, Any]]
      } else {
        val tracer = new Tracer(true, runId)
        tracer.sc = Some(spark.sparkContext)
        val listener = new JobListener
        tracedLoop(w, spark, tracer, listener, seconds, first, plain, traced)
        writeSpans(tracer, s"${dirs.root}/spans.jsonl")
        Layers.compute(tracer, listener, plain, traced, cpus, w.layerExtras)
      }
    val finishErr = Try(w.finish(spark)).fold(e => Some(s"finish threw: $e"), identity)
    finishErr.foreach(e => System.err.println(s"[graftbench] end-of-run check failed: $e"))
    val env = Map(
      "nproc" -> cpus,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> spark.version,
      "write_policy" -> "local filesystem, no fsync",
      "seed" -> seed,
      "run_id" -> runId)
    val phases = Seq(warm, plain, traced)
    val attempted = phases.map(_.attempted).sum + setupFailures.size
    val failed = phases.map(_.failed).sum + setupFailures.size + (if (finishErr.isDefined) 1 else 0)
    val out = Map(
      "correct" -> (failed == 0 && plain.ops.nonEmpty),
      "attempted" -> math.max(1L, attempted),
      "failed" -> failed,
      "metrics" -> (if (trace) layers else endToEnd(plain, setupS)),
      "end_to_end" -> endToEnd(plain, setupS),
      "generate_s" -> genS,
      "warm_up_s" -> warmS,
      "warm_up_op_seconds" -> warm.ops.map(o => Seq(o.kind, o.seconds)),
      "ops" -> plain.ops.size,
      "ops_by_kind" -> plain.ops.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "op_seconds" -> plain.ops.map(o => Seq(o.kind, o.seconds)),
      "failures" -> (setupFailures ++ phases.flatMap(_.failures) ++ finishErr.toSeq),
      "traffic" -> w.traffic,
      "env" -> env)
    stop(spark)
    out
  }
}
