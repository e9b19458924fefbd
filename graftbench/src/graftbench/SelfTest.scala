package graftbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests:
  *  1. each generator gives identical inputs for the same seed and
  *     different inputs for another seed (table digests over all columns);
  *  2. an op that throws and an op whose output fails its check are both
  *     counted as failed and add to no latency.
  *
  * {{{ graftbench.SelfTest --dir <scratch dir> --cpus <n> }}}
  * Exits 0 when every test passes.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = a("dir")
    val spark = Main.session(a("cpus").toInt, RunDirs(root))
    val results = Seq(
      "generator determinism" -> Try(determinism(spark, root)),
      "failure accounting" -> Try(failureAccounting(spark)))
    Main.stop(spark)
    results.foreach { case (n, r) => println(s"[selftest] $n: ${r.fold(e => s"FAIL $e", _ => "ok")}") }
    sys.exit(if (results.forall(_._2.isSuccess)) 0 else 1)
  }

  private def Try[T](b: => T) = scala.util.Try(b)

  /** Digest of every table a generator wrote, keyed by relative path. */
  private def digests(spark: SparkSession, dir: String): Map[String, Digest] = {
    def tables(f: File): Seq[File] =
      if (f.listFiles().exists(_.getName.endsWith(".parquet"))) Seq(f)
      else f.listFiles().filter(_.isDirectory).toSeq.flatMap(tables)
    tables(new File(dir)).map { t =>
      t.getPath.stripPrefix(dir) -> Digest.of(spark.read.parquet(t.getPath))
    }.toMap
  }

  private def determinism(spark: SparkSession, root: String): Unit =
    Seq("dq_checks", "curation").foreach { name =>
      val runs = Seq(1L, 1L, 2L).zipWithIndex.map { case (seed, k) =>
        val dirs = RunDirs(s"$root/$name-$k")
        Workload.byName(name).generate(spark, dirs, seed)
        digests(spark, dirs.inputs)
      }
      require(runs(0).nonEmpty, s"$name wrote no tables")
      require(runs(0) == runs(1), s"$name: the same seed gave different inputs")
      val same = runs(0).keySet.filter(t => runs(0)(t) == runs(2).get(t).orNull)
      require(same.isEmpty, s"$name: another seed gave identical tables: ${same.mkString(", ")}")
      println(s"[selftest] $name: ${runs(0).size} tables, same seed identical, other seed different")
    }

  private def failureAccounting(spark: SparkSession): Unit = {
    val w = new Workload {
      val name = "selftest"
      def generate(s: SparkSession, d: RunDirs, seed: Long): Unit = ()
      def traffic: Map[String, Any] = Map.empty
      def inputs: Seq[String] = Nil
      override def cycle = 3
      def next(i: Int): Option[Op] = Some(i % 3 match {
        case 0 => Op("ok", 10, c => c.spark.range(10).count(), v => Workload.expect("ok", v, 10L))
        case 1 => Op("throws", 10, _ => throw new IllegalStateException("deliberate"), _ => None)
        case _ => Op("wrong", 10, c => c.spark.range(9).count(), v => Workload.expect("wrong", v, 10L))
      })
    }
    val ph = new Main.Phase
    Main.loop(w, spark, new Tracer(false, "selftest"), 0.5, 0, ph, verbose = false)
    val cycles = ph.attempted / 3
    require(ph.attempted % 3 == 0 && cycles >= 1, s"loop must end on whole cycles: ${ph.attempted}")
    require(ph.failed == 2 * cycles, s"failed ${ph.failed}, want ${2 * cycles}")
    require(ph.ops.map(_.kind).toSet == Set("ok") && ph.ops.size == cycles,
      s"only the passing op may carry a latency: ${ph.ops.map(_.kind)}")
    val e2e = Main.endToEnd(ph, 1.0)
    require(e2e("op_p50_s")("value").asInstanceOf[Double] > 0)
    println(s"[selftest] ${ph.attempted} attempted, ${ph.failed} failed, ${ph.ops.size} timed")
  }
}
