package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import graft.quality.AbDashboard
import graft.streaming.StreamingOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** The `store_fold` op kind of [[DqChecks]]: an incremental A/B store.
  * Batches of complete-unit rows arrive, each is folded into the versioned
  * cell store by `StreamingOps.abCellsStream` (AvailableNow), and the
  * dashboard is read back from the latest version with
  * `AbDashboard.abDashboardFromCells`. One op is one fold followed by one
  * read; store versions pile up over the run.
  */
final class StoreFold {
  import StoreFold._

  private var dirs: RunDirs = _
  private var truth: Truth = _
  private var base: String = _ // store root: source files, cell versions, checkpoint
  private var folded = 0 // batches arrived (and folded, once their op ran)

  def generate(s: SparkSession, d: RunDirs, seed: Long): Unit = {
    dirs = d
    base = d.store
    Files.createDirectories(Paths.get(s"$base/src"))
    truth = Gen.write(s, s"${d.inputs}/batches", seed)
  }

  def traffic: Map[String, Any] = truth.traffic

  def open(s: SparkSession, d: RunDirs): Unit =
    s.read.schema(Schema).parquet(s"${d.inputs}/batches").head(1)

  /** Before the timer the next batch arrives in the source directory;
    * the op then folds it and reads the dashboard.
    */
  def next(): Option[Op] =
    if (folded >= Batches) None
    else Some(Op("store_fold", Units, c => body(c), v => check(v, folded),
      prepare = () => { arrive(folded); folded += 1 }))

  private def arrive(b: Int): Unit = {
    val from = Paths.get(s"${dirs.inputs}/batches/batch=$b")
    Files.list(from).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).zipWithIndex
      .foreach { case (f, k) =>
        val tmp = Paths.get(s"$base/src/.b$b-$k.tmp") // hidden names are skipped by the file source
        Files.copy(f, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, Paths.get(s"$base/src/b$b-$k.parquet"), StandardCopyOption.ATOMIC_MOVE)
      }
  }

  private def latestVersion(store: String): String = {
    val vs = Files.list(Paths.get(store)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong).toSeq
    s"$store/v=${vs.max}"
  }

  private def body(c: Ctx): Seq[Row] = {
    val spark = c.spark
    c.phase("fold", "fold") {
      val msOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
      val rows = spark.readStream.schema(Schema).parquet(s"$base/src")
      val q = StreamingOps.abCellsStream(rows, "arm", "peek", "y", "x", "hit", s"$base/cells", s"$base/cp")
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      if (c.tracer.enabled) q.recentProgress.foreach { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L + msOffset
        c.tracer.record(s"batch ${p.batchId}", "batch", c.tracer.currentId, start,
          start + (d.getOrElse("triggerExecution", 0.0) * 1e9).toLong,
          Map("add_batch_s" -> d.getOrElse("addBatch", 0.0), "planning_s" -> d.getOrElse("queryPlanning", 0.0),
            "wal_commit_s" -> d.getOrElse("walCommit", 0.0), "rows" -> p.numInputRows))
      }
    }
    c.phase("read", "read") {
      val cells = c.load(latestVersion(s"$base/cells"))
      val dash = c.plan(c.construct(AbDashboard.abDashboardFromCells(cells, Design, Tau2)))
      c.run(dash.collect().toSeq)
    }
  }

  private def check(v: Any, upTo: Int): Option[String] = {
    val dash = v.asInstanceOf[Seq[Row]]
    val cells = SparkSession.active.read.parquet(latestVersion(s"$base/cells")).collect().toSeq
    val want = truth.cumulative(upTo)
    val got = cells.map(r => (r.getAs[String]("arm"), r.getAs[Long]("peek")) ->
      CellCols.map(c => BigInt(r.getAs[Any](c).toString))).toMap
    if (got != want) return Some(s"store cells after $upTo batches differ from the generator's sums")
    val peeks = (0L until Peeks).map { p =>
      def cum(arm: String, k: Int) = (0L to p).map(q => want.get((arm, q)).map(_(k)).getOrElse(BigInt(0))).sum
      (p, cum("A", 0), cum("A", 1), cum("B", 0), cum("B", 1))
    }
    val seen = dash.map(r => (r.getAs[Long]("peek"), BigInt(r.getAs[Long]("n_lo")), BigInt(r.getAs[Long]("s_lo")),
      BigInt(r.getAs[Long]("n_hi")), BigInt(r.getAs[Long]("s_hi")))).sortBy(_._1)
    Workload.expect(s"dashboard counts after $upTo batches", seen, peeks)
  }

  def layerExtras: Map[String, Double] = {
    val files = Files.walk(Paths.get(base)).iterator().asScala.filter(p => Files.isRegularFile(p)).toSeq
    Map("streaming.store_bytes" -> files.map(Files.size(_)).sum.toDouble,
      "streaming.store_files" -> files.size.toDouble)
  }

  /** Fold == rebuild: the latest version equals abCells over every batch
    * folded so far, computed in one batch pass.
    */
  def finish(spark: SparkSession): Option[String] = {
    val latest = spark.read.parquet(latestVersion(s"$base/cells"))
    val all = spark.read.schema(Schema).parquet(s"$base/src")
    val rebuilt = AbDashboard.abCells(all, "arm", "peek", "y", "x", "hit")
    def rows(df: DataFrame) = df.select("arm", "peek" +: CellCols: _*).collect()
      .map(_.toSeq.map(x => x.toString)).sortBy(r => (r(0), r(1).toLong)).toSeq
    Workload.expect("fold == rebuild", rows(latest), rows(rebuilt))
  }
}

object StoreFold {
  /** Units (rows) per batch and the number of batches generated. */
  val Units = 3000
  val Batches = 16
  val Peeks = 6L
  val OffDesignShare = 0.05
  val Design: Seq[(String, Double)] = Seq("A" -> 0.5, "B" -> 0.5)
  val Tau2 = 0.000244140625d
  val CellCols: Seq[String] = Seq("n", "s_hit", "sx", "sy", "sxx", "syy", "sxy")
  val Schema: StructType = StructType(Seq(StructField("unit", LongType), StructField("arm", StringType),
    StructField("peek", LongType), StructField("y", LongType), StructField("x", LongType),
    StructField("hit", BooleanType)))

  /** Per-batch sums of every cell column, keyed by (arm, peek). */
  final case class Truth(perBatch: IndexedSeq[Map[(String, Long), Seq[BigInt]]], traffic: Map[String, Any]) {
    def cumulative(n: Int): Map[(String, Long), Seq[BigInt]] =
      perBatch.take(n).flatten.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).transpose.map(_.sum) }
  }

  object Gen {
    def write(spark: SparkSession, dir: String, seed: Long): Truth = {
      val rnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + 37)
      val rows = new java.util.ArrayList[Row](Units * Batches)
      val perBatch = (0 until Batches).map { b =>
        val acc = scala.collection.mutable.Map.empty[(String, Long), Array[BigInt]]
        (0 until Units).foreach { k =>
          val unit = b.toLong * Units + k
          val u = rnd.nextDouble()
          val arm = if (u < OffDesignShare) "C" else if (u < (1 + OffDesignShare) / 2) "A" else "B"
          val peek = unit % Peeks
          val x = rnd.nextInt(10).toLong
          val y = x + rnd.nextInt(5) + (if (arm == "B") 1 else 0)
          val hit = y >= 9
          rows.add(Row(unit, arm, peek, y, x, hit, b))
          val a = acc.getOrElseUpdate((arm, peek), Array.fill(7)(BigInt(0)))
          val add = Seq(1L, if (hit) 1L else 0L, x, y, x * x, y * y, x * y)
          add.indices.foreach(i => a(i) += add(i))
        }
        acc.map { case (k, v) => k -> v.toSeq }.toMap
      }
      spark.createDataFrame(rows, Schema.add(StructField("batch", IntegerType)))
        .repartition(col("batch")).write.partitionBy("batch").parquet(dir)
      Truth(perBatch, Map("units_per_batch" -> Units, "batches" -> Batches, "peeks" -> Peeks,
        "arms" -> "A/B designed 50/50, C off-design", "off_design_share" -> OffDesignShare,
        "rows" -> Units * Batches))
    }
  }
}
