package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-run directories, all under the run's own root. */
final case class RunDirs(root: String) {
  def inputs: String = s"$root/inputs"
  def checkpoint: String = s"$root/checkpoint"
  def store: String = s"$root/store"
  def warehouse: String = s"$root/warehouse"
  def local: String = s"$root/spark-local"
}

/** Phase helpers an op body uses around its calls into graft. Each helper
  * is one span (when tracing); the work done is identical either way.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer) {
  def phase[T](name: String, layer: String)(body: => T): T = tracer.span(name, layer)(body)
  /** Read an input table (the `sources` layer). */
  def load(path: String): DataFrame = phase("load", "load")(spark.read.parquet(path))
  /** The graft call that returns a DataFrame (eager work inside it lands here). */
  def construct[T](body: => T): T = phase("construct", "construct")(body)
  /** Force Catalyst analysis, optimization and physical planning. */
  def plan(df: DataFrame): DataFrame = phase("plan", "plan") { df.queryExecution.executedPlan; df }
  /** The action (or an eager graft call that returns a value). */
  def run[T](body: => T): T = phase("run", "run")(body)
  /** Plan, then collect the order-independent digest of `df`. */
  def digest(df: DataFrame): Digest = {
    val reduced = plan(Digest.frame(df))
    run(Digest.collect(reduced))
  }
}

/** One timed operation: `prepare` runs before the timer starts, `body`
  * inside it; `check` compares the result against the generator's truth
  * after the timer stops and returns an error message on mismatch.
  */
final case class Op(kind: String, rows: Long, body: Ctx => Any, check: Any => Option[String],
    prepare: () => Unit = () => ())

trait Workload {
  def name: String
  /** Write the seeded inputs under `dirs.inputs` and keep the truth. */
  def generate(spark: SparkSession, dirs: RunDirs, seed: Long): Unit
  /** Stated traffic dimensions of the generated inputs. */
  def traffic: Map[String, Any]
  /** Input tables, relative to `dirs.inputs`. */
  def inputs: Seq[String]
  /** Open the inputs in the fresh session: list and read each one (its
    * footer and first rows). Part of set-up time.
    */
  def open(spark: SparkSession, dirs: RunDirs): Unit =
    inputs.foreach(t => spark.read.parquet(s"${dirs.inputs}/$t").head(1))
  /** Untimed ops that warm the JIT, code-generation and session caches
    * before the timed loop.
    */
  def warmUpOps: Int = cycle
  /** The i-th timed op of this session, or None when inputs are exhausted. */
  def next(i: Int): Option[Op]
  /** Untimed end-of-run checks; an error message on failure. */
  def finish(spark: SparkSession): Option[String] = None
  /** Workload-specific per-layer values measured at the end of the run. */
  def layerExtras: Map[String, Double] = Map.empty
  /** Ops per cycle of kinds; the loop ends on a whole cycle. */
  def cycle: Int = 1
  /** Ops between heap samples (each sample forces a full GC). */
  def heapEvery: Int = 1
  /** Heap samples stop after this many ops of a loop, so the reading does
    * not depend on how many ops fit in the run (leaked caches pile up).
    */
  def heapUntil: Int = 2
}

object Workload {
  def byName(name: String): Workload = name match {
    case "dq_checks" => new DqChecks
    case "curation" => new Curation
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def expect(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}
