package graftbench

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval. `parent` is 0 for the workload root. Times are
  * `System.nanoTime` values.
  */
final case class Span(id: Int, parent: Int, runId: String, name: String, layer: String,
    startNs: Long, endNs: Long, attrs: Map[String, Any]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Disabled tracers run the body and record
  * nothing. While a span is open its id is the thread's current parent,
  * and (when a SparkContext is attached) the job tag `gb-<layer>-<id>` is
  * set so the [[JobListener]] can attribute the jobs the span launches —
  * Spark copies job tags to threads the span's thread creates (DAG
  * workers, stream execution threads).
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val ids = new AtomicInteger(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Int] { override def initialValue(): Int = 0 }
  @volatile var sc: Option[SparkContext] = None

  def currentId: Int = current.get()

  def span[T](name: String, layer: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      val tag = s"gb-$layer-$id"
      sc.foreach(_.addJobTag(tag))
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        sc.foreach(_.removeJobTag(tag))
        buf.synchronized { buf += Span(id, parent, runId, name, layer, t0, t1, attrs) }
      }
    }

  /** Record a span timed elsewhere (pipeline steps, stream batches). */
  def record(name: String, layer: String, parent: Int, startNs: Long, endNs: Long,
      attrs: Map[String, Any] = Map.empty): Int =
    if (!enabled) 0
    else {
      val id = ids.incrementAndGet()
      buf.synchronized { buf += Span(id, parent, runId, name, layer, startNs, endNs, attrs) }
      id
    }

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its children.
    */
  def selfSecondsByLayer: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(k =>
          (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Per-stage task totals gathered by [[JobListener]]. Times in seconds. */
final class StageStats {
  var tasks = 0L
  var failedTasks = 0L
  var runS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var schedDelayS = 0.0
  var inputBytes = 0L
  var inputRows = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitS = 0.0
  var spillBytes = 0L
  val durationsMs = mutable.ArrayBuffer.empty[Long]

  /** Worst task over the median task (1.0 for single-task stages). */
  def skew: Double =
    if (durationsMs.size < 2) 1.0
    else {
      val s = durationsMs.sorted
      val med = s(s.size / 2).max(1L).toDouble
      s.last / med
    }
}

final case class JobRec(id: Int, tags: Set[String], stageIds: Seq[Int], submitMs: Long)

/** SparkListener feeding the per-layer metrics: jobs with their tags,
  * per-stage task totals, failed tasks and retried stages.
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val endedJobs = mutable.Set.empty[Int]
  val stageOwner = mutable.Map.empty[Int, Int] // stage id -> first job that listed it
  val stages = mutable.Map.empty[Int, StageStats] // stage id (all attempts)
  var retriedStages = 0L
  var failedTasks = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    jobs(e.jobId) = JobRec(e.jobId, tags, e.stageIds, e.time)
    e.stageIds.foreach(s => if (!stageOwner.contains(s)) stageOwner(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { endedJobs += e.jobId }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (e.stageInfo.attemptNumber() > 0) retriedStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, new StageStats)
    val info = e.taskInfo
    st.tasks += 1
    if (!info.successful) { st.failedTasks += 1; failedTasks += 1 }
    st.durationsMs += info.duration
    val m = e.taskMetrics
    if (m != null) {
      val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      st.runS += m.executorRunTime / 1e3
      st.cpuS += m.executorCpuTime / 1e9
      st.gcS += m.jvmGCTime / 1e3
      st.schedDelayS += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult) / 1e3
      st.inputBytes += m.inputMetrics.bytesRead
      st.inputRows += m.inputMetrics.recordsRead
      st.shuffleReadBytes += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      st.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Block until every started job has ended (the bus is asynchronous). */
  def awaitQuiet(timeoutMs: Long): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < end && synchronized(jobs.keySet.exists(j => !endedJobs(j))))
      Thread.sleep(20)
    Thread.sleep(100) // trailing task-end events of the last stage
  }

  /** Jobs whose tags carry span `spanId`'s tag or one of its descendants'. */
  def jobsTagged(pred: String => Boolean): Seq[JobRec] = synchronized(jobs.values.filter(_.tags.exists(pred)).toList)

  /** Stage stats of the stages these jobs own (each stage counted once). */
  def stagesOf(js: Seq[JobRec]): Seq[StageStats] = synchronized {
    val ids = js.map(_.id).toSet
    stageOwner.collect { case (s, j) if ids(j) && stages.contains(s) => stages(s) }.toList
  }
}
