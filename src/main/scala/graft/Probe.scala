package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Single-query probe on [[Session.local]], two modes.
  *
  * `runMain graft.Probe <q1,q2,...> [sfDir] [reps]` times each query's
  * CONSTRUCTION (fn(spark, dir) — which for the eager-materialize family
  * includes the upstream row-scale collect), its PLANNING and its
  * EXECUTION (the noop write) separately, so an optimization session can
  * see which side of the eager-execution contract the seconds sit on.
  * After one untimed warm-up per query, each rep runs every named query in
  * turn, with the cache cleared before each, and one `[probe] MIN` line per
  * query closes the run: two keys give a same-JVM, alternating, min-of-N
  * A/B.
  *
  * `runMain graft.Probe --plans <sfDir> <outDir> [namePrefixes]` writes
  * `<outDir>/<name>.plan.txt` with the POST-EXECUTION plan (AQE final:
  * `isFinalPlan=true`) of every matching query, so what's audited is what
  * actually ran. The load-bearing shapes are asserted per query in
  * PlanShapeSpec (the regression gate); this mode is for eyeballing and
  * for regenerating the audit record after an intentional change.
  */
object Probe {
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--plans")) plans(args.tail) else time(args)

  private def time(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(sys.error("usage: Probe <q1,q2,...> [sfDir] [reps]"))
      .split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n, sys.error(s"unknown query '$n'")))
    val spark = Session.local()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(js.stageInfos.size)
        starts.put(js.jobId, System.nanoTime())
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val t0 = starts.remove(je.jobId)
        if (t0 != 0L) jobMs.addAndGet((System.nanoTime() - t0) / 1000000L)
      }
    })
    // one run of one query on a cleared cache: prints its line, returns
    // (construct, plan, run) seconds
    def rep(name: String, fn: (SparkSession, String) => DataFrame, tag: String): (Double, Double, Double) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan // force optimize + physical planning
      val t2 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      val r = ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      println(f"[probe] $name $tag: construct ${r._1}%.3f s, plan ${r._2}%.3f s, run ${r._3}%.3f s, jobs ${jobs.getAndSet(0)}, stages ${stages.getAndSet(0)}, jobwall ${jobMs.getAndSet(0) / 1000.0}%.2f s")
      r
    }
    fns.foreach { case (n, fn) => rep(n, fn, "warmup") }
    val timed = for (i <- 1 to reps; (n, fn) <- fns) yield n -> rep(n, fn, s"rep$i")
    fns.foreach { case (n, _) =>
      val (c, p, r) = timed.collect { case (`n`, t) => t }.minBy(t => t._1 + t._2 + t._3)
      println(f"[probe] MIN $n: ${c + p + r}%.3f s over $reps reps (construct $c%.3f s, plan $p%.3f s, run $r%.3f s)")
    }
    spark.stop()
  }

  private def plans(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe --plans <sfDir> <outDir> [namePrefixes]")
    val (sfDir, outDir) = (args(0), args(1))
    val filter: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(","); n => ps.exists(n.startsWith) }
      else _ => true
    val spark = Session.local()
    Files.createDirectories(Paths.get(outDir))
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1) if filter(name)) {
      try {
        val df = fn(spark, sfDir)
        df.collect() // drive AQE to the final plan
        Files.write(Paths.get(outDir, s"$name.plan.txt"),
          df.queryExecution.executedPlan.toString.getBytes("UTF-8"))
      } catch {
        case e: Exception => println(s"[probe] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
