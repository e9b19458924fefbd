package graftbench

/** Per-layer metrics of the traced loop, named `<layer>.<metric>`. Every
  * name is reported on every workload; a layer a workload leaves idle
  * reads 0. Unless stated otherwise a value is a mean per successful op.
  */
object Layers {
  val Steps: Seq[String] = Seq("gate", "exact_dedup", "near_dedup", "host_rank", "cap", "split", "pack")

  /** (name, unit) of every per-layer metric, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "construct.s" -> "s", "construct.jobs" -> "count", "catalyst.plan_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.delay_s" -> "s", "executor.core_idle_frac" -> "ratio",
    "sources.load_s" -> "s", "sources.input_bytes" -> "bytes", "sources.input_rows" -> "rows",
    "executor.cpu_s" -> "s", "executor.gc_s" -> "s", "stage.skew_max" -> "ratio",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_bytes" -> "bytes") ++
    Steps.map(s => s"pipeline.step.${s}_s" -> "s") ++ Seq(
    "pipeline.dag_overhead_s" -> "s", "plans.leaked_rdds" -> "count",
    "streaming.batch_s" -> "s", "streaming.add_batch_s" -> "s", "streaming.planning_s" -> "s",
    "streaming.wal_commit_s" -> "s", "streaming.start_s" -> "s",
    "streaming.store_bytes" -> "bytes", "streaming.store_files" -> "count",
    "store.write_p50_s" -> "s", "store.read_p50_s" -> "s") ++
    DqChecks.Kinds.flatMap(k => Seq(s"dq.$k.construct_s" -> "s", s"dq.$k.plan_s" -> "s",
      s"dq.$k.run_s" -> "s", s"dq.$k.jobs" -> "count")) ++ Seq(
    "tasks.failed" -> "count", "stages.retried" -> "count", "trace.overhead_frac" -> "ratio")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Main.median(xs)

  def compute(tracer: Tracer, l: JobListener, plain: Main.Phase, traced: Main.Phase,
      cpus: Int, extras: Map[String, Double]): Map[String, Map[String, Any]] = {
    val spans = tracer.spans
    val kids = spans.groupBy(_.parent)
    def desc(id: Int): Seq[Span] = kids.getOrElse(id, Nil).flatMap(s => s +: desc(s.id))
    val ops = traced.ops.toSeq
    val opDesc = ops.map(o => o.spanId -> desc(o.spanId)).toMap
    def spanSum(o: Main.OpRec, layer: String): Double = opDesc(o.spanId).filter(_.layer == layer).map(_.seconds).sum
    def opJobs(o: Main.OpRec): Seq[JobRec] = l.jobsTagged(_ == s"gb-op-${o.spanId}")
    def phaseJobs(o: Main.OpRec, layer: String): Seq[JobRec] =
      opJobs(o).filter(_.tags.exists(_.startsWith(s"gb-$layer-")))
    val opStages = ops.map(o => o.spanId -> l.stagesOf(opJobs(o))).toMap
    def stageMean(f: StageStats => Double): Double = mean(ops.map(o => opStages(o.spanId).map(f).sum))

    val v = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    v("construct.s") = mean(ops.map(spanSum(_, "construct")))
    v("construct.jobs") = mean(ops.map(phaseJobs(_, "construct").size.toDouble))
    v("catalyst.plan_s") = mean(ops.map(spanSum(_, "plan")))
    v("scheduler.jobs") = mean(ops.map(opJobs(_).size.toDouble))
    v("scheduler.stages") = mean(ops.map(o => opStages(o.spanId).size.toDouble))
    v("scheduler.tasks") = stageMean(_.tasks.toDouble)
    v("scheduler.delay_s") = stageMean(_.schedDelayS)
    val busy = ops.map(o => opStages(o.spanId).map(_.runS).sum).sum
    v("executor.core_idle_frac") = if (ops.isEmpty) 0.0 else 1.0 - busy / (cpus * ops.map(_.seconds).sum)
    v("sources.load_s") = mean(ops.map(spanSum(_, "load")))
    v("sources.input_bytes") = stageMean(_.inputBytes.toDouble)
    v("sources.input_rows") = stageMean(_.inputRows.toDouble)
    v("executor.cpu_s") = stageMean(_.cpuS)
    v("executor.gc_s") = stageMean(_.gcS)
    v("stage.skew_max") = med(ops.map(o => (1.0 +: opStages(o.spanId).map(_.skew)).max))
    v("shuffle.write_bytes") = stageMean(_.shuffleWriteBytes.toDouble)
    v("shuffle.read_bytes") = stageMean(_.shuffleReadBytes.toDouble)
    v("shuffle.fetch_wait_s") = stageMean(_.fetchWaitS)
    v("shuffle.spill_bytes") = stageMean(_.spillBytes.toDouble)
    Steps.foreach { s =>
      v(s"pipeline.step.${s}_s") = mean(ops.map(o => opDesc(o.spanId)
        .filter(x => x.layer == "step" && x.name == s).map(_.seconds).sum))
    }
    v("pipeline.dag_overhead_s") = mean(ops.flatMap(o => opDesc(o.spanId)
      .filter(_.layer == "pipeline").map(_.attrs.getOrElse("dag_overhead_s", 0.0).asInstanceOf[Double])))
    v("plans.leaked_rdds") = mean(ops.map(_.leaked.toDouble))
    val batches = spans.filter(_.layer == "batch")
    val folds = spans.filter(_.layer == "fold")
    def batchAttr(k: String): Double =
      if (folds.isEmpty) 0.0 else batches.map(_.attrs.getOrElse(k, 0.0).asInstanceOf[Double]).sum / folds.size
    v("streaming.batch_s") = if (folds.isEmpty) 0.0 else batches.map(_.seconds).sum / folds.size
    v("streaming.add_batch_s") = batchAttr("add_batch_s")
    v("streaming.planning_s") = batchAttr("planning_s")
    v("streaming.wal_commit_s") = batchAttr("wal_commit_s")
    v("streaming.start_s") = mean(folds.map(f => f.seconds -
      batches.filter(_.parent == f.id).map(_.seconds).sum))
    v("streaming.store_bytes") = extras.getOrElse("streaming.store_bytes", 0.0)
    v("streaming.store_files") = extras.getOrElse("streaming.store_files", 0.0)
    v("store.write_p50_s") = med(folds.map(_.seconds))
    v("store.read_p50_s") = med(spans.filter(_.layer == "read").map(_.seconds))
    DqChecks.Kinds.foreach { k =>
      val ko = ops.filter(_.kind == k)
      v(s"dq.$k.construct_s") = med(ko.map(spanSum(_, "construct")))
      v(s"dq.$k.plan_s") = med(ko.map(spanSum(_, "plan")))
      v(s"dq.$k.run_s") = med(ko.map(spanSum(_, "run")))
      v(s"dq.$k.jobs") = med(ko.map(opJobs(_).size.toDouble))
    }
    v("tasks.failed") = l.failedTasks.toDouble
    v("stages.retried") = l.retriedStages.toDouble
    // per-kind medians, so a different mix of kinds in the two loops cancels
    v("trace.overhead_frac") = {
      val a = plain.ops.toSeq.groupBy(_.kind).map { case (k, xs) => k -> Main.median(xs.map(_.seconds)) }
      val b = ops.groupBy(_.kind).map { case (k, xs) => k -> Main.median(xs.map(_.seconds)) }
      val common = a.keySet intersect b.keySet
      val (sa, sb) = (common.toSeq.map(a).sum, common.toSeq.map(b).sum)
      if (sa > 0) sb / sa - 1.0 else 0.0
    }
    Names.map { case (n, u) => n -> Main.metric(v(n), u) }.toMap
  }
}
