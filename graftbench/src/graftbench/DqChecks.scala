package graftbench

import java.sql.Date
import java.time.LocalDate
import graft.operators.{CompareDataFrames, FactDim, LatestRecords, PrimaryKey}
import graft.quality.{Profiler, RuleEngine}
import graft.schema.SchemaOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Data-quality checks on seeded before/after copies of TPC-H-shaped
  * `orders` and `lineitem` tables: dataset diff, PK and FK validation,
  * latest records, surrogate keys, schema diff, rules and profiling, plus
  * one incremental store refresh ([[StoreFold]]). One op is one check or
  * one refresh; the eleven kinds are cycled in a fixed order.
  */
final class DqChecks extends Workload {
  import DqChecks._
  val name = "dq_checks"
  override def heapEvery: Int = 10
  override def heapUntil: Int = 10

  private var dirs: RunDirs = _
  private var truth: Truth = _
  private val truthDigests = mutable.Map.empty[String, Digest]
  private val store = new StoreFold

  def generate(s: SparkSession, d: RunDirs, seed: Long): Unit = {
    dirs = d
    truth = Gen.write(s, d.inputs, seed)
    TruthTables.foreach(t => truthDigests(t) = Digest.of(s.read.parquet(path(s"truth/$t"))))
    store.generate(s, d, seed)
  }

  def traffic: Map[String, Any] = truth.traffic ++ store.traffic.map { case (k, v) => s"store_$k" -> v }

  private def path(t: String) = s"${dirs.inputs}/$t"

  override def cycle: Int = Kinds.length

  def inputs: Seq[String] = Seq("customer", "orders_before", "orders_after", "orders_hist",
    "lineitem_before", "lineitem_after")

  override def open(s: SparkSession, d: RunDirs): Unit = {
    super.open(s, d)
    store.open(s, d)
  }

  override def finish(spark: SparkSession): Option[String] = store.finish(spark)

  override def layerExtras: Map[String, Double] = store.layerExtras

  private def digestCheck(t: String)(v: Any): Option[String] = Workload.expect(t, v, truthDigests(t))

  /** None once the store's batches are used up. */
  def next(i: Int): Option[Op] = Kinds(i % Kinds.length) match {
    case "store_fold" => store.next()
    case kind => Some(op(kind))
  }

  private def op(kind: String): Op = {
    val n = truth.rows
    kind match {
      case "diff_counts" => Op(kind, n("orders_before") + n("orders_after"), { c =>
        val cmp = c.construct(CompareDataFrames(c.load(path("orders_before")),
          c.load(path("orders_after")), Seq("o_orderkey")))
        c.run(CompareDataFrames.counts(cmp))
      }, v => Workload.expect(kind, v, truth.diffCounts))

      case "diff_cells" => Op(kind, n("lineitem_before") + n("lineitem_after"), { c =>
        val cmp = c.construct(CompareDataFrames(c.load(path("lineitem_before")),
          c.load(path("lineitem_after")), Seq("l_orderkey", "l_linenumber")))
        c.digest(cmp.changedLong)
      }, digestCheck("diff_cells"))

      case "pk_candidate" => Op(kind, n("orders_hist"), { c =>
        val hist = c.load(path("orders_hist"))
        val v = c.run(PrimaryKey.validateCandidate(hist, Seq("o_orderkey")))
        (v.recordCount, v.failedRecords)
      }, v => Workload.expect(kind, v, truth.pkCandidate))

      case "pk_combos" => Op(kind, n("lineitem_before"), { c =>
        val li = c.load(path("lineitem_before"))
        c.run(PrimaryKey.validateCombinations(li, PkCombos, maxWorkers = 4)).toSet
      }, v => Workload.expect(kind, v, Set(Seq("l_orderkey", "l_linenumber"))))

      case "fk_broken" => Op(kind, n("orders_after") + n("customer"), { c =>
        val br = c.construct(FactDim.brokenRelationship(c.load(path("orders_after")),
          Seq("o_custkey"), c.load(path("customer")), Seq("c_custkey"), 3))
        c.digest(br.select(col("o_custkey"), size(col("sample_records")).as("n"),
          array_sort(transform(col("sample_records"), r => r.getField("o_orderkey"))).as("okeys")))
      }, digestCheck("fk_broken"))

      case "latest" => Op(kind, n("orders_hist"), { c =>
        val hist = c.load(path("orders_hist"))
        c.digest(c.construct(LatestRecords.latestWithConflictFlag(hist, Seq("o_orderkey"), Seq("o_updated"))))
      }, digestCheck("latest"))

      case "sk_hash" => Op(kind, n("lineitem_after"), { c =>
        val li = c.load(path("lineitem_after"))
        c.digest(c.construct(li.select(col("l_orderkey"), col("l_linenumber"),
          graft.functions.surrogateKeyHash(Seq("l_orderkey", "l_linenumber")).as("sk"))))
      }, digestCheck("sk_hash"))

      case "schema_diff" => Op(kind, 0L, { c =>
        val a = c.load(path("lineitem_before")).schema
        val b = c.load(path("lineitem_after")).schema
        c.run(SchemaOps.compareSchemas(a, b))
      }, v => Workload.expect(kind, v, truth.schemaDiff))

      case "rules" => Op(kind, n("lineitem_after"), { c =>
        val li = c.load(path("lineitem_after"))
        val res = c.plan(c.construct(RuleEngine.validate(li, Rules)))
        c.run(res.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap)
      }, v => Workload.expect(kind, v, truth.ruleFailures))

      case "profile" => Op(kind, n("orders_after"), { c =>
        val oa = c.load(path("orders_after"))
        val res = c.plan(c.construct(Profiler.profile(oa, ProfileCols)))
        c.run(res.collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet)
      }, v => Workload.expect(kind, v, truth.profile))
    }
  }
}

object DqChecks {
  val Kinds: Seq[String] = Seq("diff_counts", "diff_cells", "pk_candidate", "pk_combos",
    "fk_broken", "latest", "sk_hash", "schema_diff", "rules", "profile", "store_fold")

  private val TruthTables = Seq("diff_cells", "fk_broken", "latest", "sk_hash")

  val PkCombos: Seq[Seq[String]] = Seq(Seq("l_orderkey"), Seq("l_linenumber"), Seq("l_shipmode"),
    Seq("l_orderkey", "l_linenumber"), Seq("l_linenumber", "l_shipmode"),
    Seq("l_orderkey", "l_linenumber", "l_shipmode"))

  val Rules: Seq[RuleEngine.Rule] = Seq(
    RuleEngine.Rule("qty_range", "l_quantity BETWEEN 1 AND 50"),
    RuleEngine.Rule("discount_max", "l_discount <= 0.10"),
    RuleEngine.Rule("shipmode_present", "l_shipmode IS NOT NULL"))

  val ProfileCols: Seq[String] = Seq("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderdate")

  /** Input size: `orders` rows in the before copy (sf0.1 has 150,000). */
  val Orders = 50000
  val DeleteShare = 0.02
  val InsertShare = 0.03
  val ChangeShare = 0.05
  val LineChangeShare = 0.04
  val HistShare = 0.3
  val TieShare = 0.02
  val DupShare = 0.02

  final case class Truth(
      rows: Map[String, Long],
      diffCounts: Map[String, Long],
      pkCandidate: (Long, Long),
      schemaDiff: SchemaOps.Diff,
      ruleFailures: Map[String, (Long, Long)],
      profile: Set[(String, String, String)],
      traffic: Map[String, Any])

  private val OrderSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType), StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType)))

  private val LineSchema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType), StructField("l_shipmode", StringType),
    StructField("l_comment", StringType)))

  private val CustSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  private val Statuses = Array("O", "F", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Flags = Array("A", "N", "R")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Words = Array("carefully", "final", "deposits", "quickly", "regular", "accounts",
    "furiously", "ironic", "packages", "blithely", "express", "requests", "pending", "theodolites",
    "slyly", "bold", "foxes", "special", "instructions", "even", "pinto", "beans", "silent", "dolphins")
  private val Epoch = LocalDate.of(1992, 1, 1)

  /** Seeded generator. Every share is applied to an exact, RNG-chosen set
    * of rows, so the truth below is counted while the rows are made.
    */
  object Gen {
    def write(spark: SparkSession, dir: String, seed: Long): Truth = {
      val rnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + 11)
      def comment(): String = Seq.fill(3 + rnd.nextInt(6))(Words(rnd.nextInt(Words.length))).mkString(" ")
      def date(): Date = Date.valueOf(Epoch.plusDays(rnd.nextInt(2400)))
      def other(xs: Array[String], cur: String): String = {
        val c = xs.filter(_ != cur); c(rnd.nextInt(c.length))
      }
      val nOrders = Orders
      val nCust = nOrders / 10
      val rows = mutable.LinkedHashMap.empty[String, Long]
      // tables are written concurrently; the rows are fixed before each write
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val writes = mutable.ArrayBuffer.empty[Future[Unit]]
      def save(name: String, schema: StructType, data: Iterable[Row]): Unit = {
        val list = new java.util.ArrayList[Row](data.size)
        data.foreach(list.add)
        rows(name) = data.size.toLong
        writes += Future(spark.createDataFrame(list, schema).write.parquet(s"$dir/$name"))
      }

      // customer + orders (before)
      save("customer", CustSchema, (1 to nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
        rnd.nextInt(25), math.round(rnd.nextDouble() * 1100000 - 100000) / 100.0, Segments(rnd.nextInt(5)))))
      def order(key: Long, cust: Long): Array[Any] = Array(key, cust, Statuses(rnd.nextInt(3)),
        math.round(rnd.nextDouble() * 40000000 + 90000) / 100.0, date(), Priorities(rnd.nextInt(5)),
        f"Clerk#${1 + rnd.nextInt(1000)}%09d", 0, comment())
      val before = (1 to nOrders).map(i => order(i * 4L, 1L + rnd.nextInt(nCust)))

      // lineitem (before): 1..7 lines per order; order 1 has three lines,
      // two sharing a ship mode, so no single column and no mode pair is a key
      def line(ok: Long, ln: Int): Array[Any] = Array(ok, 1L + rnd.nextInt(nCust * 13),
        1L + rnd.nextInt(nCust), ln, (1 + rnd.nextInt(50)).toDouble,
        math.round(rnd.nextDouble() * 9000000 + 90000) / 100.0, rnd.nextInt(11) / 100.0,
        rnd.nextInt(9) / 100.0, Flags(rnd.nextInt(3)), if (rnd.nextBoolean()) "O" else "F",
        date(), Modes(rnd.nextInt(Modes.length)), comment())
      def linesOf(ok: Long, first: Boolean): Seq[Array[Any]] = {
        val n = if (first) 3 else 1 + rnd.nextInt(7)
        val ls = (1 to n).map(ln => line(ok, ln))
        if (first) ls(1)(11) = ls(0)(11)
        ls
      }
      val linesBefore = before.zipWithIndex.flatMap { case (o, i) => linesOf(o(0).asInstanceOf[Long], i == 0) }

      // orders (after): exact sets of deleted, changed and inserted keys;
      // orphan FKs ride only on inserted orders, 1-3 orders per orphan key
      val idx = rnd.shuffle((1 until nOrders).toVector) // order 0 is never touched
      val nDel = (nOrders * DeleteShare).toInt
      val nChg = (nOrders * ChangeShare).toInt
      val nIns = (nOrders * InsertShare).toInt
      val deleted = idx.take(nDel).toSet
      val changed = idx.slice(nDel, nDel + nChg).toSet
      val after = mutable.ArrayBuffer.empty[Array[Any]]
      before.zipWithIndex.foreach { case (o, i) =>
        if (!deleted(i)) {
          val a = o.clone()
          if (changed(i)) rnd.nextInt(4) match {
            case 0 => a(2) = other(Statuses, a(2).asInstanceOf[String])
            case 1 => a(3) = a(3).asInstanceOf[Double] + 1.0
            case 2 => a(8) = a(8).asInstanceOf[String] + " revised"
            case _ => a(5) = null
          }
          after += a
        }
      }
      val nOrphanKeys = nIns / 6
      val orphans = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Long]]
      val inserted = (1 to nIns).map { j =>
        val key = (nOrders + j) * 4L
        val cust =
          if (j <= nOrphanKeys * 2) {
            val ck = nCust + 1L + rnd.nextInt(nOrphanKeys)
            orphans.getOrElseUpdate(ck, mutable.ArrayBuffer.empty) += key
            ck
          } else 1L + rnd.nextInt(nCust)
        order(key, cust)
      }
      // each orphan key keeps at most 3 orders so the sampled set is exact
      val orphanKept = orphans.filter(_._2.size <= 3)
      val dropIns = orphans.filter(_._2.size > 3).values.flatten.toSet
      val insertedKept = inserted.filterNot(o => dropIns(o(0).asInstanceOf[Long]))
      after ++= insertedKept
      save("orders_before", OrderSchema, before.map(Row.fromSeq(_)))
      save("orders_after", OrderSchema, after.map(Row.fromSeq(_)))
      val diffCounts = Map("added" -> insertedKept.size.toLong, "removed" -> nDel.toLong,
        "changed" -> nChg.toLong, "not_changed" -> (nOrders - nDel - nChg).toLong)
      save("truth/fk_broken", StructType(Seq(StructField("o_custkey", LongType),
        StructField("n", IntegerType), StructField("okeys", ArrayType(LongType, containsNull = false)))),
        orphanKept.toSeq.map { case (ck, oks) => Row(ck, oks.size, oks.sorted.toSeq) })

      // lineitem (after): lines of deleted orders go, inserted orders get
      // lines, and one cell changes on an exact set of kept lines
      val keptOrder = before.indices.filterNot(deleted).map(i => before(i)(0).asInstanceOf[Long]).toSet
      val cellRows = mutable.ArrayBuffer.empty[Row]
      var qtyBad = 0L; var discBad = 0L; var modeNull = 0L
      val linesAfter = mutable.ArrayBuffer.empty[Array[Any]]
      linesBefore.foreach { l =>
        if (keptOrder(l(0).asInstanceOf[Long])) {
          val a = l.clone()
          if (rnd.nextDouble() < LineChangeShare) {
            def cell(ci: Int, v: Any): Unit = {
              cellRows += Row(a(0), a(3), LineSchema(ci).name, Option(a(ci)).map(_.toString).orNull,
                Option(v).map(_.toString).orNull)
              a(ci) = v
            }
            rnd.nextInt(6) match {
              case 0 => cell(12, a(12).asInstanceOf[String] + " amended")
              case 1 => cell(11, other(Modes, a(11).asInstanceOf[String]))
              case 2 => cell(8, other(Flags, a(8).asInstanceOf[String]))
              case 3 => qtyBad += 1; cell(4, if (rnd.nextBoolean()) 0.0 else 60.0)
              case 4 => discBad += 1; cell(6, 0.15)
              case _ => modeNull += 1; cell(11, null)
            }
          }
          linesAfter += a
        }
      }
      insertedKept.foreach(o => linesAfter ++= linesOf(o(0).asInstanceOf[Long], first = false))
      save("lineitem_before", LineSchema, linesBefore.map(Row.fromSeq(_)))
      val LineAfterSchema = LineSchema.add(StructField("l_ingest_batch", StringType))
      save("lineitem_after", LineAfterSchema, linesAfter.map(l => Row.fromSeq(l.toSeq :+ s"b$seed")))
      save("truth/diff_cells", StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("column_name", StringType),
        StructField("before", StringType), StructField("after", StringType))), cellRows)
      val nLa = linesAfter.size.toLong
      val ruleFailures = Map("qty_range" -> (nLa, qtyBad), "discount_max" -> (nLa, discBad),
        "shipmode_present" -> (nLa, modeNull))

      // surrogate keys, computed independently of Spark: the first 160 bits
      // of sha-224 over the key rendered as Spark renders array<string>
      val sha = java.security.MessageDigest.getInstance("SHA-224")
      save("truth/sk_hash", StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("sk", BinaryType))),
        linesAfter.map { l =>
          Row(l(0), l(3), sha.digest(s"[${l(0)}, ${l(3)}]".getBytes("UTF-8")).take(20))
        })

      // order history: older versions, exact duplicates and top-version ties
      val HistSchema = OrderSchema.add(StructField("o_updated", LongType))
      val hist = mutable.ArrayBuffer.empty[Row]
      val latest = mutable.ArrayBuffer.empty[Row]
      val perKey = mutable.Map.empty[Long, Int]
      after.zipWithIndex.foreach { case (o, i) =>
        val t = 1700000000L + i
        val top = o.toSeq :+ t
        val u = rnd.nextDouble()
        val versions = mutable.ArrayBuffer(Row.fromSeq(top))
        if (u < HistShare) (1 to 1 + rnd.nextInt(2)).foreach { k =>
          val old = o.clone(); old(2) = Statuses(rnd.nextInt(3))
          versions += Row.fromSeq(old.toSeq :+ (t - 1000L * k))
        }
        if (u >= HistShare && u < HistShare + TieShare) {
          val tie = o.clone(); tie(8) = o(8).asInstanceOf[String] + " tie"
          versions += Row.fromSeq(tie.toSeq :+ t)
          latest += Row.fromSeq(top :+ true) += Row.fromSeq(tie.toSeq :+ t :+ true)
        } else latest += Row.fromSeq(top :+ false)
        if (u >= HistShare + TieShare && u < HistShare + TieShare + DupShare) versions += Row.fromSeq(top)
        hist ++= versions
        perKey(o(0).asInstanceOf[Long]) = versions.size
      }
      save("orders_hist", HistSchema, hist)
      save("truth/latest", HistSchema.add(StructField("__has_pk_conflict", BooleanType)), latest)
      val pkCandidate = (hist.size.toLong, perKey.values.filter(_ > 1).map(_.toLong).sum)

      // profile of orders (after), counted from the generated rows
      def prof(c: String, ci: Int, show: Any => String): Seq[(String, String, String)] = {
        val vs = after.map(_(ci))
        val nn = vs.filter(_ != null)
        val d = nn.distinct
        val sorted = d.map(show).sorted
        val (mn, mx) = ci match {
          case 2 | 5 => (sorted.head, sorted.last)
          case 1 => (nn.map(_.asInstanceOf[Long]).min.toString, nn.map(_.asInstanceOf[Long]).max.toString)
          case _ => (nn.map(_.asInstanceOf[Date].toLocalDate).min.toString,
            nn.map(_.asInstanceOf[Date].toLocalDate).max.toString)
        }
        Seq((c, "non_nulls", nn.size.toString), (c, "nulls", (vs.size - nn.size).toString),
          (c, "distinct", d.size.toString), (c, "min", mn), (c, "max", mx))
      }
      val profile = (prof("o_orderstatus", 2, _.toString) ++ prof("o_orderpriority", 5, _.toString) ++
        prof("o_custkey", 1, _.toString) ++ prof("o_orderdate", 4, _.toString)).toSet

      writes.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
      val schemaDiff = SchemaOps.Diff(Set.empty, Set("l_ingest_batch"), Map.empty,
        LineSchema.fieldNames.toSet)
      Truth(rows.toMap, diffCounts, pkCandidate, schemaDiff, ruleFailures, profile,
        Map("orders_before" -> nOrders, "orders_after" -> after.size, "lineitem_before" -> linesBefore.size,
          "lineitem_after" -> nLa, "customer" -> nCust, "orders_hist" -> hist.size,
          "delete_share" -> DeleteShare, "insert_share" -> InsertShare, "change_share" -> ChangeShare,
          "line_change_share" -> LineChangeShare, "hist_share" -> HistShare, "tie_share" -> TieShare,
          "dup_share" -> DupShare, "diff_counts" -> diffCounts, "changed_cells" -> cellRows.size,
          "pk_duplicate_rows" -> pkCandidate._2, "orphan_fk_keys" -> orphanKept.size,
          "orphan_fk_orders" -> orphanKept.values.map(_.size).sum,
          "rule_failures" -> ruleFailures.map { case (k, v) => k -> v._2 }))
    }
  }
}
