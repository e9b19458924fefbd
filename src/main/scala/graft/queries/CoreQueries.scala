package graft.queries

import graft.Tables
import graft.functions._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics-core + bdq-parity queries wired to the driver's test tables.
  * Every query returns a DataFrame whose column NAMES and value types are
  * engine-portable: sums run decimal-exact then cast to DOUBLE at the output
  * boundary (a DECIMAL output stringifies with trailing-zero scale on one
  * side of the oracle compare and without it on the other), timestamps
  * surface as second-precision strings, and counts stay BIGINT.
  */
object CoreQueries {

  /** TPC-H Q1-style pricing summary. Decimal casts keep sums exact across
    * engines; filter pushes down to the parquet scan.
    */
  def q01Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount")))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3-style: revenue of top orders for one market segment.
    * customer is small → broadcast; lineitem↔orders shuffles on orderkey.
    */
  def q02JoinTopk(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount")))).as("revenue_dec"))
      .orderBy(col("revenue_dec").desc, col("o_orderdate"), col("l_orderkey"))
      .limit(10)
      .select(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("revenue_dec").cast("double").as("revenue")
      )
  }

  /** TPC-H Q5-style star join: revenue by nation for one region.
    * region/nation/supplier are tiny → broadcast up the star; only the
    * orders↔lineitem join shuffles.
    */
  def q03StarJoin(s: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(s, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, dir)
    val cust = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val ord = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")

    val natInRegion = nation.join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .select("n_nationkey", "n_name")

    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .filter(cust("c_nationkey") === supp("s_nationkey"))
      .join(broadcast(natInRegion), supp("s_nationkey") === natInRegion("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount")))).cast("double").as("revenue"),
        count(lit(1)).as("n_items")
      )
      .orderBy(col("n_name"))
  }

  /** Window functions: top-3 orders per customer by value + running spend. */
  def q04WindowRank(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val byValue = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val cumulative = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(byValue).as("rnk"),
        sum(dec2(col("o_totalprice"))).over(cumulative).cast("double").as("run_spend")
      )
      .filter(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk")
  }

  /** Event-time hourly rollup (batch twin of the streaming windowed agg).
    * Timestamp surfaces as a second-precision string (events.ts is
    * nanosecond-precision parquet; engines disagree past microseconds).
    */
  def q05EventsHourly(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("event_type")
      )
      .agg(
        count(lit(1)).as("n_events"),
        sum(dec2(col("value"))).cast("double").as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value")
      )
      .orderBy("hr", "event_type")

  /** Gap-based sessionization (30-min inactivity). Batch form: lag + cumsum
    * over one window shuffle on user_id; the streaming twin lives in
    * graft.streaming. Second-precision epoch keeps engines aligned.
    */
  def q06Sessionize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("ts_sec"))
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts_sec"), col("event_id"))
    val newSession = when(
      col("ts_sec") - lag(col("ts_sec"), 1).over(byTime) > 1800, 1
    ).otherwise(when(lag(col("ts_sec"), 1).over(byTime).isNull, 1).otherwise(0))
    ev.withColumn("__new", newSession)
      .withColumn("session_seq", sum(col("__new")).over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_sec")).as("start_sec"),
        max(col("ts_sec")).as("end_sec")
      )
      .orderBy("user_id", "session_seq")
  }

  /** As-of join: attach each user's latest signup value at-or-before every
    * event. One shuffle (union + window), no inequality join.
    */
  def q34AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("ts_sec"),
        col("event_type"), col("value"))
    val left = ev.select("event_id", "user_id", "ts_sec")
    val right = ev.filter(col("event_type") === "signup")
      .groupBy("user_id", "ts_sec")
      .agg(max(col("value")).as("profile_value"))
    TemporalJoins.asOfJoin(left, right, Seq("user_id"), "ts_sec", "ts_sec", Seq("profile_value"))
      .orderBy("event_id")
  }

  /** Same as-of semantics through the custom planner path (AsOfJoinExec);
    * requires GraftExtensions on the session.
    */
  def q36AsofNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("ts_sec"),
        col("event_type"), col("value"))
    val left = ev.select("event_id", "user_id", "ts_sec")
    val right = ev.filter(col("event_type") === "signup")
      .groupBy("user_id", "ts_sec")
      .agg(max(col("value")).as("profile_value"))
    TemporalJoins.asOfJoinNative(left, right, Seq("user_id"), "ts_sec", "ts_sec", Seq("profile_value"))
      .orderBy("event_id")
  }

  /** Forward as-of with tolerance: each event matched to the NEXT signup
    * snapshot within one hour (merge_asof semantics; null past tolerance).
    */
  def q50AsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("ts_sec"),
        col("event_type"), col("value"))
    val left = ev.select("event_id", "user_id", "ts_sec")
    val right = ev.filter(col("event_type") === "signup")
      .groupBy("user_id", "ts_sec")
      .agg(max(col("value")).as("profile_value"))
    TemporalJoins.asOfJoin(left, right, Seq("user_id"), "ts_sec", "ts_sec", Seq("profile_value"),
        direction = "forward", tolerance = Some(3600L))
      .orderBy("event_id")
  }

  /** As-of NEAREST (the third merge_asof direction): every event takes
    * the signup profile row with the smallest |Δts| within 1 h, ties
    * toward backward. The oracle runs BOTH DuckDB ASOF directions and
    * replays the choice rule.
    */
  def q140AsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), unix_timestamp(col("ts")).as("ts_sec"),
        col("event_type"), col("value"))
    val left = ev.select("event_id", "user_id", "ts_sec")
    val right = ev.filter(col("event_type") === "signup")
      .groupBy("user_id", "ts_sec")
      .agg(max(col("value")).as("profile_value"))
    TemporalJoins.asOfJoinNearest(left, right, Seq("user_id"), "ts_sec", "ts_sec",
        Seq("profile_value"), tolerance = Some(3600L))
      .orderBy("event_id")
  }

  /** Hopping-window rollup (1 h window, 15 min slide): each event lands
    * in 4 windows; the oracle expands the assignment arithmetically
    * (epoch//900 grid minus j·900 for j in 0..3).
    */
  def q141HoppingRollup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamingOps.hoppingRollup(Tables.events(s, dir))
      .select(date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy("w_start", "event_type")

  /** Range join via bucket blocking: events bucketed into nation-derived
    * integer intervals — equi-join on grid buckets, never a nested loop.
    */
  def q35RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val points = Tables.events(s, dir)
      .select(col("event_id"), floor(col("value")).cast("long").as("v"))
    val intervals = Tables.nation(s, dir)
      .select(col("n_nationkey"),
        (col("n_nationkey") * 8).cast("long").as("lo"),
        (col("n_nationkey") * 8 + 12).cast("long").as("hi"))
    TemporalJoins.pointInInterval(points, "v", intervals, "lo", "hi", bucketSize = 16)
      .groupBy("n_nationkey")
      .agg(count(lit(1)).as("n_pts"))
      .orderBy("n_nationkey")
  }

  /** One-pass data-quality rule validation over lineitem (rules chosen so
    * some pass clean and some genuinely fail).
    */
  def q38DqRules(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.RuleEngine
    import graft.quality.RuleEngine.Rule
    RuleEngine.validate(Tables.lineitem(s, dir), Seq(
      Rule("positive_qty", "l_quantity > 0"),
      Rule("qty_le_45", "l_quantity <= 45"),
      Rule("discount_range", "l_discount BETWEEN 0 AND 0.1"),
      Rule("returnflag_known", "l_returnflag IN ('A', 'N', 'R')"),
      Rule("price_under_90k", "l_extendedprice < 90000"),
      Rule("ship_before_1999", "l_shipdate < TIMESTAMP '1999-01-01'")
    )).select("rule", "n_rows", "n_failed").orderBy("rule")
  }

  /** Hierarchical rollup totals: (flag, status), per-flag subtotals and
    * the grand total in ONE pass (Expand + two-phase hash agg — the same
    * machinery as grouping sets, no per-level scans). grouping() flags
    * disambiguate real NULL keys from subtotal rows.
    */
  def q61Rollup(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        grouping(col("l_returnflag")).as("g_flag"),
        grouping(col("l_linestatus")).as("g_status"),
        count(lit(1)).as("n"),
        sum("l_quantity").cast("double").as("sum_qty"))
      .orderBy("g_flag", "g_status", "l_returnflag", "l_linestatus")

  /** Pivoted aggregation: quantity totals by return flag with one column
    * per line status — Spark's pivot plans as conditional aggregates, so
    * it stays one scan + one shuffle like any groupBy.
    */
  def q62Pivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum("l_quantity"))
      .select(col("l_returnflag"),
        col("F").cast("double").as("qty_f"),
        col("O").cast("double").as("qty_o"))
      .orderBy("l_returnflag")

  /** Dense hourly event counts per type with zero-filled gaps (resample +
    * gap-fill via a distributed sequence-explode spine).
    */
  def q63Resample(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    TimeSeries.resampleCounts(
      Tables.events(s, dir).select("event_type", "ts"), Seq("event_type"), "ts")
      .select(col("event_type"),
        date_format(col("slot"), "yyyy-MM-dd HH:mm:ss").as("hr"), col("n"))
      .orderBy("event_type", "hr")
  }

  /** Time-series anomaly slots: hourly event counts per type breaching 3σ
    * of the trailing 24h window — with the σ-test in pure integer
    * arithmetic, so the breach verdict (a boundary comparison a floating
    * stddev could flip by an ulp) hash-matches across engines.
    */
  def q74Anomalies(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    TimeSeries.anomalies(
      Tables.events(s, dir).select("event_type", "ts"), Seq("event_type"), "ts",
      window = 24, k = 3)
      .select(col("event_type"),
        date_format(col("slot"), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("n"), col("w_sum"), col("w_sumsq"))
      .orderBy("event_type", "hr")
  }

  /** Digest reconciliation: orders vs orders-with-a-perturbation (every
    * 1000th row's priority changed, one row dropped) — only the buckets
    * actually containing differences surface. Digest exchange is
    * O(buckets); the tables never join.
    */
  def q66Reconcile(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Reconcile
    val cols = Seq("o_orderkey", "o_custkey", "o_orderpriority")
    val a = Tables.orders(s, dir).select(cols.map(col): _*)
    val b = Tables.orders(s, dir)
      .filter(col("o_orderkey") =!= 7L)
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 1000 === 0, lit("9-TAMPERED"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
    val bucket = (col("o_orderkey") / 500).cast("long")
    Reconcile.mismatchedBuckets(
      Reconcile.digests(a, bucket, cols.map(col)),
      Reconcile.digests(b, bucket, cols.map(col)))
      .orderBy("bucket")
  }

  /** The reconciliation drill-down end-to-end: digest both sides, find
    * mismatched buckets, exact-compare ONLY those buckets. The oracle is
    * the FULL unrestricted diff — the gate proves targeted == exact (the
    * same incremental-equals-rebuild pattern as q71).
    */
  def q75ReconcileRepair(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Reconcile
    val cols = Seq("o_orderkey", "o_custkey", "o_orderpriority")
    val a = Tables.orders(s, dir).select(cols.map(col): _*)
    val b = Tables.orders(s, dir)
      .filter(col("o_orderkey") =!= 7L)
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 1000 === 0, lit("9-TAMPERED"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
    val bucket = (col("o_orderkey") / 500).cast("long")
    val mismatched = Reconcile.mismatchedBuckets(
      Reconcile.digests(a, bucket, cols.map(col)),
      Reconcile.digests(b, bucket, cols.map(col)))
    val compared = Reconcile.repair(a, bucket, b, bucket, Seq("o_orderkey"), mismatched)
    compared.changedLong
      .select(col("o_orderkey"), col("column_name"),
        col("before").cast("string").as("before"), col("after").cast("string").as("after"))
      .orderBy("o_orderkey", "column_name")
  }

  /** Semi-structured extraction: parse the stored `props` JSON column AND a
    * constructed `to_json` payload back to typed columns with explicit DDL
    * schemas ([[graft.operators.Json.flatten]]). Every 100th event's props
    * is deterministically corrupted (leading garbage — a TRAILING brace
    * would still parse, Jackson stops at the root object's end) to exercise
    * the PERMISSIVE malformed-row → NULL path; the payload round-trip
    * (double → JSON → double) is lossless, so per-row values hash-match.
    */
  def q79JsonFlatten(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Json
    val ev = Tables.events(s, dir)
      .select("event_id", "event_type", "value", "props")
      .filter(col("event_id") % 20 === 0)
      .withColumn("props",
        when(col("event_id") % 100 === 0, concat(lit("{oops "), col("props")))
          .otherwise(col("props")))
      .withColumn("payload",
        to_json(struct(col("event_type").as("et"), col("value").as("v"))))
    val flat = Json.flatten(
      Json.flatten(ev, "props", "k BIGINT", "p_"),
      "payload", "et STRING, v DOUBLE", "j_")
    flat.select("event_id", "p_k", "j_et", "j_v").orderBy("event_id")
  }

  /** Forward-filled hourly series of the max event value per type (LOCF
    * over the gap-filled spine; max is order-independent so the fill is
    * engine-deterministic).
    */
  def q64Ffill(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    TimeSeries.resampleFill(
      Tables.events(s, dir).select("event_type", "ts", "value"),
      Seq("event_type"), "ts", "value")
      .select(col("event_type"),
        date_format(col("slot"), "yyyy-MM-dd HH:mm:ss").as("hr"), col("v"))
      .orderBy("event_type", "hr")
  }

  /** Trailing 4-slot moving average over gap-filled hourly counts. */
  def q65MovingAvg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    TimeSeries.movingAverage(
      Tables.events(s, dir).select("event_type", "ts"), Seq("event_type"), "ts")
      .select(col("event_type"),
        date_format(col("slot"), "yyyy-MM-dd HH:mm:ss").as("hr"), col("n"), col("ma"))
      .orderBy("event_type", "hr")
  }

  /** Per-group DQ rules: quantity/discount checks per return flag — one
    * grouped pass, rates surfaced so a bad partition stands out.
    */
  def q59DqRulesByGroup(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.RuleEngine
    import graft.quality.RuleEngine.Rule
    RuleEngine.validateByGroup(Tables.lineitem(s, dir), Seq("l_returnflag"), Seq(
      Rule("qty_le_45", "l_quantity <= 45"),
      Rule("discount_range", "l_discount BETWEEN 0 AND 0.1"),
      Rule("price_under_90k", "l_extendedprice < 90000")
    )).orderBy("l_returnflag", "rule")
  }

  /** Profile drift: the orders profile against the same profile with every
    * 10th order dropped — counts drift ~10%, min/max mostly stable. The
    * drift join itself is broadcast-trivial; the point is the compared
    * snapshots.
    */
  def q58ProfileDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val cols = Seq("o_custkey", "o_orderpriority")
    val base = Tables.orders(s, dir).select(cols.map(col): _*)
    val thinned = Tables.orders(s, dir).filter(col("o_orderkey") % 10 =!= 0)
      .select(cols.map(col): _*)
    Profiler.drift(Profiler.profile(base, cols), Profiler.profile(thinned, cols), relTol = 0.05)
      .orderBy("column", "metric")
  }

  /** Functional-dependency audit: parts supplied by more than one
    * supplier (witnesses that l_partkey → l_suppkey does not hold).
    */
  def q51FdViolations(s: SparkSession, dir: String): DataFrame =
    graft.quality.RuleEngine.fdViolations(
      Tables.lineitem(s, dir), Seq("l_partkey"), Seq("l_suppkey"))
      .orderBy("l_partkey")

  /** Exact per-group quantiles by rank selection (engine-portable). */
  def q39Quantiles(s: SparkSession, dir: String): DataFrame =
    Quantiles.exactQuantiles(
      Tables.events(s, dir).select(col("event_type"), col("value"), col("event_id")),
      Seq("event_type"), "value", "event_id"
    ).orderBy("event_type")

  /** Skew-safe exact quantiles gate — [[Quantiles.exactQuantilesBucketed]]
    * on the q39 shape, proving the bucketed-rank path (no per-group
    * single-reducer sort; 3.9× at a 4M-row hot group, SURVEY §5.10) selects BIT-IDENTICAL values: the oracle is the same
    * plain rank-selection replay q39 uses — rank selection has one right
    * answer regardless of which layout computed it.
    */
  def q170QuantilesBucketed(s: SparkSession, dir: String): DataFrame =
    Quantiles.exactQuantilesBucketed(
      Tables.events(s, dir).select(col("event_type"), col("value"), col("event_id")),
      Seq("event_type"), "value", "event_id"
    ).orderBy("event_type")

  /** Winsorization gate: every event value clamped into its type's exact
    * [p05, p95] rank bounds — each output row hashes the clamp decision,
    * so the gate proves bounds AND application, not just the summary.
    */
  def q171Winsorize(s: SparkSession, dir: String): DataFrame =
    Quantiles.winsorize(
      Tables.events(s, dir).select(col("event_type"), col("value"), col("event_id")),
      Seq("event_type"), "value", "event_id", loPct = 5, hiPct = 95
    ).orderBy("event_type", "event_id")

  // ---- bdq-parity wiring -------------------------------------------------

  /** Deterministic derived pair of order snapshots for the diff queries:
    * df1 drops every 7th key; df2 drops every 11th and mutates two string
    * columns on every 5th/13th key.
    */
  def compareInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ord = Tables.orders(s, dir)
    val df1 = ord.filter(col("o_orderkey") % 7 =!= 0)
    val df2 = ord.filter(col("o_orderkey") % 11 =!= 0)
      .withColumn("o_orderstatus", when(col("o_orderkey") % 5 === 0, lit("X")).otherwise(col("o_orderstatus")))
      .withColumn("o_orderpriority", when(col("o_orderkey") % 13 === 0, concat(lit("X-"), col("o_orderpriority"))).otherwise(col("o_orderpriority")))
    (df1, df2)
  }

  def q10CompareSummary(s: SparkSession, dir: String): DataFrame = {
    val (df1, df2) = compareInputs(s, dir)
    CompareDataFrames(df1, df2, Seq("o_orderkey")).summary.orderBy("category")
  }

  def q11CompareChanged(s: SparkSession, dir: String): DataFrame = {
    val (df1, df2) = compareInputs(s, dir)
    CompareDataFrames(df1, df2, Seq("o_orderkey")).changedLong
      .orderBy("o_orderkey", "column_name")
  }

  /** Schema diff surfaced as a DataFrame (rows-only check; metadata-level). */
  def q12SchemaCompare(s: SparkSession, dir: String): DataFrame = {
    import graft.schema.SchemaOps
    val before = Tables.orders(s, dir).schema
    val after = Tables.orders(s, dir)
      .drop("o_orderpriority")
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,2)"))
      .withColumn("o_comment", lit(null).cast("string"))
      .schema
    val d = SchemaOps.compareSchemas(before, after)
    val rows =
      d.added.toSeq.sorted.map(n => (n, "added", null: String, null: String)) ++
        d.removed.toSeq.sorted.map(n => (n, "removed", null: String, null: String)) ++
        d.changed.toSeq.sortBy(_._1).map { case (n, (b, a)) => (n, "changed", b, a) } ++
        d.notChanged.toSeq.sorted.map(n => (n, "not_changed", null: String, null: String))
    import s.implicits._
    rows.toDF("column_name", "status", "before", "after")
  }

  def q13SurrogateKeyString(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(
        col("c_custkey"),
        surrogateKeyString(Seq("c_custkey", "c_name", "c_mktsegment"), rtrim = true).as("sk")
      )
      .orderBy("c_custkey")

  /** sha256 variant of the surrogate hash (same 160-bit truncation) so the
    * DuckDB oracle can recompute it; the reference's sha224 default is
    * spec-tested in FunctionsSpec.
    */
  def q14SurrogateKeyHash(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(
        col("c_custkey"),
        lower(hex(surrogateKeyHash(Seq("c_custkey", "c_name", "c_mktsegment"), rtrim = true, shaBits = 256))).as("sk_hash")
      )
      .orderBy("c_custkey")

  /** Broken-FK detection against a deterministically thinned dim. */
  def q15FkBroken(s: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(s, dir)
    val dim = Tables.supplier(s, dir).filter(col("s_suppkey") % 3 =!= 0)
    FactDim.brokenKeys(fact, Seq("l_suppkey"), dim, Seq("s_suppkey")).orderBy("l_suppkey")
  }

  /** Latest event per user (second-precision ordering, event_id tiebreak). */
  def q16LatestRecords(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumn("ts_sec", unix_timestamp(col("ts")))
    LatestRecords.latest(ev, Seq("user_id"), Seq("ts_sec", "event_id"))
      .select(
        col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        col("event_type"), col("value"), col("props")
      )
      .orderBy("user_id")
  }

  /** Latest-with-conflict-flag over a projected event snapshot where ties on
    * the order-by column are real.
    */
  def q17LatestConflicts(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), floor(col("value")).cast("long").as("v"), col("props"))
    LatestRecords.latestWithConflictFlag(d, Seq("user_id", "event_type"), Seq("v"))
      .orderBy("user_id", "event_type", "props")
  }

  def q18PkValidate(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    PrimaryKey.combinationStats(
      li,
      Seq(
        Seq("l_orderkey"),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_partkey", "l_suppkey"),
        Seq("l_orderkey", "l_partkey")
      )
    ).orderBy("combination")
  }

  /** One-pass column profile of orders (long form). Timestamp column is
    * pre-formatted to a second-precision string so min/max text-compare
    * identically across engines.
    */
  def q40Profile(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val d = Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderstatus"), col("o_orderpriority"),
      date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate_str")
    )
    Profiler.profile(d, Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate_str"))
      .orderBy("column", "metric")
  }

  /** Deterministic stratified sample of orders: per-priority fractions that
    * are exact in binary (1/2, 1/4, 1/8) so the md5-prefix thresholds are
    * identical in any engine; strata outside the map are dropped.
    */
  def q41SampleStratified(s: SparkSession, dir: String): DataFrame =
    Sampling.stratified(
      Tables.orders(s, dir),
      strataCol = "o_orderpriority",
      keyCols = Seq("o_orderkey"),
      fractions = Map("1-URGENT" -> 0.5, "2-HIGH" -> 0.25, "3-MEDIUM" -> 0.125)
    )
      .select("o_orderkey", "o_custkey", "o_orderpriority")
      .orderBy("o_orderkey")

  /** SCD2 history of each user's event_type changes: one shuffle on
    * user_id; second-precision epoch ordering (+ event_id tiebreak) keeps
    * both engines on the same total order.
    */
  def q42Scd2(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("user_id"), col("event_id"), col("event_type"),
      col("ts").cast("long").as("ts_sec")
    )
    Scd2.build(ev, Seq("user_id"), Seq("ts_sec", "event_id"), Seq("event_type"))
      .select(
        col("user_id"), col("event_type"),
        col("valid_from"),
        col("valid_to"),
        col("is_current")
      )
      .orderBy("user_id", "valid_from")
  }

  /** Fixed-bounds equi-width histogram of event values (20 buckets over
    * [0, 100), ±inf catch-alls) — one narrow pass, ≤ 22 groups shuffled.
    */
  def q49Histogram(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    Profiler.histogram(Tables.events(s, dir), "value", lo = 0.0, hi = 100.0, nBuckets = 20)
      .orderBy("bucket")
  }

  /** CDC merge: a change feed derived from orders (latest op per customer;
    * orderkey % 20 = 0 → delete, else update with a full row image) applied
    * onto the customer snapshot. Decimal balances stay exact through the
    * merge and cast ONCE to double at the output boundary.
    */
  def q53CdcUpsert(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select("c_custkey", "c_name", "c_acctbal")
    val changes = Tables.orders(s, dir).select(
      col("o_custkey").as("c_custkey"),
      col("o_orderkey").as("seq"),
      when(col("o_orderkey") % 20 === 0, "D").otherwise("U").as("op"),
      concat(lit("c#"), col("o_custkey").cast("string")).as("c_name"),
      col("o_totalprice").as("c_acctbal")
    )
    Cdc.applyChanges(cust, changes, Seq("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal").cast("double").as("c_acctbal"))
      .orderBy("c_custkey")
  }

  /** Tukey-fence outliers on event values per event type: exact-quartile
    * IQR bounds, one windowed pass, outliers emitted with their bounds.
    */
  def q55IqrOutliers(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    Quantiles.iqrOutliers(
      Tables.events(s, dir).select("event_type", "event_id", "value"),
      Seq("event_type"), "value", "event_id")
      .orderBy("event_id")
  }

  /** Minimal valid PK combinations through the level-batched grouping-sets
    * search: the 7 candidates fit one job. The `grouping_id` bit convention
    * it keys on is pinned by CoreOperatorsSpec "combinationStats fuses all
    * candidates into one grouping-sets pass".
    */
  def q19PkCombinations(s: SparkSession, dir: String): DataFrame = {
    import graft.schema.SchemaOps
    val li = Tables.lineitem(s, dir)
    val combos = SchemaOps.columnCombinations(Seq("l_orderkey", "l_partkey", "l_suppkey")).toSeq
    val solutions = PrimaryKey.validateCombinations(li, combos, maxWorkers = 1)
    import s.implicits._
    solutions.map(_.mkString(",")).sorted.toDF("combination")
  }

  /** Incremental SCD2: history built from the first half of the event log,
    * then the second half folded in with [[Scd2.merge]] — closed versions
    * never reprocessed. The oracle is the FULL rebuild (same SQL as q42),
    * so the gate proves incremental == from-scratch.
    */
  def q71Scd2Merge(s: SparkSession, dir: String): DataFrame = {
    val cutoff = 1705360000L // ~median event time; any in-range split works
    val ev = Tables.events(s, dir).select(
      col("user_id"), col("event_id"), col("event_type"),
      col("ts").cast("long").as("ts_sec")
    )
    val hist = Scd2.build(
      ev.filter(col("ts_sec") < cutoff),
      Seq("user_id"), Seq("ts_sec", "event_id"), Seq("event_type"))
    Scd2.merge(
      hist, ev.filter(col("ts_sec") >= cutoff),
      Seq("user_id"), Seq("ts_sec", "event_id"), Seq("event_type"))
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("is_current"))
      .orderBy("user_id", "valid_from")
  }

  /** Valid-time alignment of two SCD2 timelines per user (event_type
    * history × value-band history): the piecewise segments where both
    * attributes were simultaneously valid. Segments form a refinement
    * partition of each user's timeline, so (user_id, seg_from) is unique
    * and the output order deterministic.
    */
  def q72TimeAlign(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("user_id"), col("event_id"), col("event_type"),
      floor(col("value") / 100).cast("long").as("vband"),
      col("ts").cast("long").as("ts_sec")
    )
    val histType = Scd2.build(ev, Seq("user_id"), Seq("ts_sec", "event_id"), Seq("event_type"))
      .select(col("user_id"), col("event_type"), col("valid_from"), col("valid_to"))
    val histBand = Scd2.build(ev, Seq("user_id"), Seq("ts_sec", "event_id"), Seq("vband"))
      .select(col("user_id"), col("vband"), col("valid_from"), col("valid_to"))
    TemporalJoins.validTimeAlign(histType, histBand, Seq("user_id"))
      .select("user_id", "event_type", "vband", "seg_from", "seg_to")
      .orderBy("user_id", "seg_from")
  }

  /** Fuzzy entity matching: customers unioned with deterministically
    * misspelled twins (one char of the name swapped for 'X' at position
    * custkey % 6 + 1), matched back by suffix-6 blocking + levenshtein ≤ 2.
    * Both the misspelling and the edit distance replay identically in the
    * oracle, so the whole block→verify pipeline hash-matches.
    */
  def q73FuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(s, dir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val p = (col("id") % 6 + 1).cast("int")
    val variant = base.select(
      (col("id") + 1000000L).as("id"),
      concat(
        col("name").substr(lit(1), p - 1),
        lit("X"),
        col("name").substr(p + 1, lit(1000))
      ).as("name")
    )
    val all = base.unionByName(variant)
    graft.text.FuzzyMatch.blockedPairs(
      all, "id", "name",
      blockKey = expr("substring(name, length(name) - 5, 6)"),
      maxDist = 2)
      .orderBy("id_a", "id_b")
  }

  /** Histogram-level distribution drift (chi-square terms) between the
    * even- and odd-user halves of the event stream: same fixed bins on
    * both sides, bucket-count-only exchanges. Only the chi2 term is in the
    * hashed output (pure rational arithmetic → bit-identical across
    * engines); the PSI term's ln() is spec-checked with tolerance instead.
    */
  def q68DistDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val ev = Tables.events(s, dir).select("user_id", "value")
    Profiler.distributionDrift(
      base = ev.filter(col("user_id") % 2 === 0),
      cur = ev.filter(col("user_id") % 2 === 1),
      column = "value", lo = 0.0, hi = 100.0, nBuckets = 10)
      .select("bucket", "n_base", "n_cur", "chi2_term")
      .orderBy("bucket")
  }

  /** Integer-exact binned KS drift on q68's split (even vs odd users):
    * every per-bucket column including the cross-multiplied numerator is
    * an integer, so the oracle replays the whole statistic hash-exactly
    * (PSI's ln term can't — this is the drift check with a LOSSLESS
    * cross-engine gate). ks_num fits BIGINT at test SFs; the operator
    * computes it in DECIMAL(38,0) for 100 TB counts.
    */
  def q101KsDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val ev = Tables.events(s, dir).select("user_id", "value")
    Profiler.ksDrift(
      base = ev.filter(col("user_id") % 2 === 0),
      cur = ev.filter(col("user_id") % 2 === 1),
      column = "value", lo = 0.0, hi = 100.0, nBuckets = 10)
      .select(col("bucket"), col("n_base"), col("n_cur"),
        col("cum_base"), col("cum_cur"), col("ks_num").cast("long").as("ks_num"))
      .orderBy("bucket")
  }

  /** KS-from-STORE gate: both halves' equi-width histograms folded in
    * three disjoint batches through [[graft.quality.Profiler
    * .mergeBucketCounts]] (histogram rows are (bucket, cnt) — the same
    * mergeable shape), then [[graft.quality.Profiler
    * .ksDriftFromHistograms]] over the standing stores — q101's oracle
    * verbatim, completing the drift-store family beside W₁ (q261) and
    * Hellinger (q262).
    */
  def q272KsFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val ev = Tables.events(s, dir).select("user_id", "event_id", "value")
    def fold(half: DataFrame) = (1 to 2).foldLeft(
        Profiler.histogram(half.filter(col("event_id") % 6 < 2),
          "value", 0.0, 100.0, 10).select(col("bucket"), col("cnt"))) { (acc, i) =>
      Profiler.mergeBucketCounts(acc,
        Profiler.histogram(
          half.filter(col("event_id") % 6 >= i * 2 && col("event_id") % 6 < i * 2 + 2),
          "value", 0.0, 100.0, 10).select(col("bucket"), col("cnt")))
    }
    Profiler.ksDriftFromHistograms(
      fold(ev.filter(col("user_id") % 2 === 0)),
      fold(ev.filter(col("user_id") % 2 === 1)))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        col("cum_base"), col("cum_cur"), col("ks_num").cast("long").as("ks_num"))
      .orderBy("bucket")
  }

  /** Kaplan–Meier gate: time-to-first-purchase under RIGHT-CENSORING
    * (the [[survivalSubjects]] 96 h window — users who didn't purchase
    * inside it are censored, not failures). Product-limit survival via
    * duration-ordered nano ln(1 − d/n) sums, Greenwood SE on the same
    * pass — the conversion read q140's plain curve gets wrong when
    * observation windows differ.
    */
  def q285KaplanMeier(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    Survival.kaplanMeier(survivalSubjects(s, dir), Nil, "duration", "event")
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
        round(col("survival"), 9).as("survival"),
        round(col("se_greenwood"), 9).as("se_greenwood"))
      .orderBy("t")
  }

  /** KM from-STORE gate: the q285 subjects' lifetime cells folded in
    * three disjoint user batches through [[graft.operators.Survival
    * .mergeLifetimeCells]], read by
    * [[graft.operators.Survival.kaplanMeierFromCells]] — q285's oracle
    * verbatim; the survival curve as a standing read.
    */
  def q287KmFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val subjects = graft.plans.Lineage.truncate(survivalSubjects(s, dir))
    def batch(i: Int) = Survival.lifetimeCells(
      subjects.filter(col("user_id") % 3 === i), Nil, "duration", "event")
    val folded = (1 to 2).foldLeft(batch(0))((acc, i) =>
      Survival.mergeLifetimeCells(acc, batch(i), Nil))
    Survival.kaplanMeierFromCells(folded, Nil)
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
        round(col("survival"), 9).as("survival"),
        round(col("se_greenwood"), 9).as("se_greenwood"))
      .orderBy("t")
  }

  /** Yule's-K gate: per-language lexical concentration of documents —
    * Σcnt² over the token-count store, exact DECIMAL, K one division;
    * the length-invariant repetitiveness dial beside q252's richness.
    */
  def q290YuleK(s: SparkSession, dir: String): DataFrame = {
    import graft.text.CorpusLaws
    CorpusLaws.yuleK(
      CorpusLaws.groupedTokenCounts(
        Tables.documents(s, dir).select("lang", "text"), Seq("lang"), "text"),
      Seq("lang"))
      .select(col("lang"), col("n_types"), col("mass"), col("s2"),
        round(col("yule_k"), 9).as("yule_k"))
      .orderBy("lang")
  }

  /** RMST gate: mean user lifetime within the first 48 h of the q285
    * curve — nano-landed step survivals × exact integer widths summed
    * order-free, one division; the censoring-proof effect-size summary.
    */
  def q291Rmst(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    Survival.rmst(
      Survival.kaplanMeier(survivalSubjects(s, dir), Nil, "duration", "event"),
      Nil, tau = 48L)
      .select(col("tau"), col("t_last"), round(col("rmst"), 9).as("rmst"))
  }

  /** Nelson–Aalen gate: the cumulative-hazard view of the q285 subjects
    * from the SAME lifetime cells — nano d/n and d/n² terms, one
    * duration-ordered cumulative window, Fleming–Harrington survival
    * e^(−H) beside KM's product form.
    */
  def q288NelsonAalen(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    Survival.nelsonAalen(survivalSubjects(s, dir), Nil, "duration", "event")
      .select(col("t"), col("n_risk"), col("n_event"), col("n_censored"),
        round(col("hazard"), 9).as("hazard"),
        round(col("se_hazard"), 9).as("se_hazard"),
        round(col("surv_fh"), 9).as("surv_fh"))
      .orderBy("t")
  }

  /** Weighted-kappa gate: two ORDINAL judges — the length tercile
    * (n_chars div 512, capped at 2) vs the token tercile (tokens
    * div 40, capped at 2) — under quadratic weights; near-misses count
    * less than two-level misses, exact integer numerators, κ_w one
    * division.
    */
  def q289WeightedKappa(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RankEval
    val d = Tables.documents(s, dir)
      .filter(col("n_chars").isNotNull && col("text").isNotNull)
      .select(
        least(expr("n_chars div 512"), lit(2L)).as("a"),
        least(
          (size(expr("filter(split(lower(text), '\\\\s+'), t -> t != '')"))
            .cast("long") / lit(40L)).cast("long"), lit(2L)).as("b"))
    RankEval.weightedKappa(d, "a", "b", quadratic = true)
      .select(col("n_items"), col("wo_num"), col("we_num"),
        round(col("kappa_w"), 9).as("kappa_w"))
  }

  /** Log-rank gate: do even- and odd-user cohorts share a lifetime
    * curve — the q285 subjects split by user parity, hypergeometric
    * per-time expectations/variances as nano terms, z/χ² fixed dags;
    * the censoring-aware A/B a means test gets wrong.
    */
  def q286LogRank(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    val subjects = survivalSubjects(s, dir)
      .withColumn("cohort", (col("user_id") % 2 === 0).cast("string"))
    Survival.logRank(subjects, Nil, "cohort", "duration", "event")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), col("o_lo"), col("e_lo_9"), col("v_9"),
        round(col("z"), 9).as("z"), round(col("chi2"), 9).as("chi2"))
  }

  /** CvM from-STORE gate: the q272 folded histogram stores read by
    * [[graft.quality.Profiler.cvmFromHistograms]] — the integrated-gap
    * statistic from the SAME standing state that answers KS, under
    * q280's oracle verbatim (fold sums == rebuild's histogram).
    */
  def q282CvmFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val ev = Tables.events(s, dir).select("user_id", "event_id", "value")
    def fold(half: DataFrame) = (1 to 2).foldLeft(
        Profiler.histogram(half.filter(col("event_id") % 6 < 2),
          "value", 0.0, 100.0, 10).select(col("bucket"), col("cnt"))) { (acc, i) =>
      Profiler.mergeBucketCounts(acc,
        Profiler.histogram(
          half.filter(col("event_id") % 6 >= i * 2 && col("event_id") % 6 < i * 2 + 2),
          "value", 0.0, 100.0, 10).select(col("bucket"), col("cnt")))
    }
    Profiler.cvmFromHistograms(
      fold(ev.filter(col("user_id") % 2 === 0)),
      fold(ev.filter(col("user_id") % 2 === 1)))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        col("cum_base"), col("cum_cur"),
        col("gap_num").cast("long").as("gap_num"), col("cell_tot"))
      .orderBy("bucket")
  }

  /** Holm step-down gate: the q251 battery under the FAMILYWISE
    * guarantee — exact integer step inequalities p9·(m−i+1)·100 ≤ 5·1e9
    * and the first-failure stop; the rollback-pager's correction beside
    * BH's alarm-pager FDR.
    */
  def q283HolmFwer(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.MultipleTesting
    val battery = Tables.documents(s, dir)
      .select(concat(col("lang"), lit(":"), col("source")).as("id"))
      .distinct()
      .withColumn("p9",
        conv(substring(md5(col("id")), 1, 15), 16, 10).cast("long") % 1000000000L)
    MultipleTesting.holmBonferroni(battery, Nil, Seq("id"), "p9")
      .select(col("id"), col("p9"), col("rank"), col("m"), col("n_null"),
        col("is_candidate"), col("rejected"))
      .orderBy("rank")
  }

  /** G-test drift gate: the likelihood-ratio companion of q172's χ² on
    * the same order-priority halves — per value both counts and the
    * nano 2·O·ln(O/E) term; the statistic additive over data splits
    * where Pearson's is not.
    */
  def q284GTestDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val o = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
    Profiler.gTestDrift(
      base = o.filter(col("o_orderkey") % 2 === 0),
      cur = o.filter(col("o_orderkey") % 2 === 1),
      column = "o_orderpriority")
      .select(col("value"), col("n_base"), col("n_cur"), col("g_term_n9"))
      .orderBy("value")
  }

  /** Categorical chi-square drift gate — the q101 discipline for columns
    * with no order: per order-priority value, the exact cross-multiplied
    * numerator (b·C − c·B)² and cell total between the even- and
    * odd-orderkey halves of orders. Every column an exact integer; the
    * one division lives in the driver-side chiSquareStat fold.
    * chi_num is hashed as the DECIMAL's digit STRING: the operator keeps
    * it in decimal(38,0) precisely because the square overflows a long at
    * large counts, and a narrowing long cast here would silently NULL on
    * overflow (non-ANSI Spark) while the oracle's HUGEINT→BIGINT cast
    * errors — the string gate is exact at any corpus size.
    */
  def q172ChiSquareDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val o = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
    Profiler.chiSquareDrift(
      base = o.filter(col("o_orderkey") % 2 === 0),
      cur = o.filter(col("o_orderkey") % 2 === 1),
      column = "o_orderpriority")
      .select(col("value"), col("n_base"), col("n_cur"),
        col("chi_num").cast("string").as("chi_num"), col("cell_tot"))
      .orderBy("value")
  }

  /** Exact-moment Pearson gate: quantity–price correlation per return
    * flag, inputs pre-scaled to integer cents so every moment is an
    * exact decimal both engines reproduce digit-for-digit; r is a fixed
    * dag of correctly-rounded IEEE ops over those exact moments.
    */
  def q177Correlation(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      round(col("l_quantity") * 100).cast("long").as("qty_c"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"))
    Profiler.correlation(li, Seq("l_returnflag"), "qty_c", "price_c")
      .orderBy("l_returnflag")
  }

  /** CUSUM change-detection gate: per event type, the exact two-sided
    * Page statistic over milli-scaled values in (ts, event_id) order —
    * cumsum + running extrema replayed digit-for-digit by the oracle,
    * breach flags included in the hash.
    */
  def q180Cusum(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    val ev = Tables.events(s, dir).select(col("event_type"), col("ts"), col("event_id"),
      round(col("value") * 1000).cast("long").as("v_milli"))
    TimeSeries.cusum(ev, Seq("event_type"), Seq("ts", "event_id"), "v_milli",
        target = 50000L, threshold = 2000000L)
      .select("event_type", "event_id", "v_milli",
        "cusum_hi", "cusum_lo", "breach_hi", "breach_lo")
      .orderBy("event_type", "event_id")
  }

  /** Benford first-digit gate over price cents: exact digit counts,
    * integer ppm shares, pinned expected ppm, exact scaled gaps — the
    * oracle re-extracts every first digit and re-derives all four
    * integers.
    */
  def q181Benford(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    Profiler.benford(
      Tables.lineitem(s, dir).select(
        round(col("l_extendedprice") * 100).cast("long").as("price_c")),
      "price_c")
      .orderBy("digit")
  }

  /** k-anonymity repair gate: global recoding over the balance-bucket
    * ladder (100s → 1000s → 10000s → suppressed) — the FIRST level whose
    * smallest (nation, bucket) group reaches k = 5 is applied uniformly;
    * the audit output (group sizes at the chosen level + the level
    * itself) is what the oracle re-derives by checking every rung.
    */
  def q183Generalize(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Anonymity
    val c = Tables.customer(s, dir)
    val ladder = Seq(100L, 1000L, 10000L).map { unit =>
      Seq("c_nationkey" -> col("c_nationkey"),
        "bal_bucket" -> floor(col("c_acctbal") / unit).cast("long"))
    } :+ Seq("c_nationkey" -> col("c_nationkey"),
      "bal_bucket" -> lit(null).cast("long"))
    Anonymity.generalizeGlobal(c, ladder, k = 5L)
      .groupBy("c_nationkey", "bal_bucket", "gen_level")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("c_nationkey", "bal_bucket")
  }

  /** Correlation-matrix gate: all three pairwise Pearson r's over
    * (quantity, price, discount) in integer units, per return flag, from
    * ONE moments aggregation — the oracle recomputes every moment and
    * every clamped r.
    */
  def q185CorrelationMatrix(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      round(col("l_quantity") * 100).cast("long").as("qty_c"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"),
      round(col("l_discount") * 1000).cast("long").as("disc_m"))
    val cols = Seq("qty_c", "price_c", "disc_m")
    Profiler.correlationFromMoments(
      Profiler.correlationMoments(li, Seq("l_returnflag"), cols),
      Seq("l_returnflag"), cols)
      .orderBy("l_returnflag", "col_x", "col_y")
  }

  /** Gini gate: per-source document-length inequality — the corpus-
    * balance diagnostic; numerator exact, coefficient one division the
    * oracle replays rank-for-rank.
    */
  def q186Gini(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    Quantiles.gini(
      Tables.documents(s, dir).select("source", "n_chars", "doc_id"),
      Seq("source"), "n_chars", "doc_id")
      .select(col("source"), col("n"), col("sum_v").cast("long").as("sum_v"),
        col("gini_num").cast("long").as("gini_num"), col("gini"))
      .orderBy("source")
  }

  /** Spearman gate: rank correlation of quantity vs price per return
    * flag — integer doubled average-tie ranks (quantity is 1–50, so tie
    * blocks are thousands deep: the average-tie arithmetic carries the
    * gate), then the exact-moment Pearson replayed by the oracle.
    */
  def q187Spearman(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      round(col("l_quantity") * 100).cast("long").as("qty_c"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"))
    Profiler.spearman(li, Seq("l_returnflag"), "qty_c", "price_c")
      .select(col("l_returnflag"), col("n"),
        col("sum_rx2").cast("long").as("sum_rx2"),
        col("sum_ry2").cast("long").as("sum_ry2"), col("rho"))
      .orderBy("l_returnflag")
  }

  /** Skew-safe Spearman gate — [[graft.quality.Profiler.spearmanBucketed]]
    * on the q187 shape: the same doubled average-tie ranks and the same
    * moments, but the global rank comes from the cell layout (offset +
    * per-cell rank), so NO per-group reducer sort survives. The oracle is
    * q187's replay verbatim — exact rank statistics have one right answer
    * regardless of which layout computed them.
    */
  def q188SpearmanBucketed(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      round(col("l_quantity") * 100).cast("long").as("qty_c"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"))
    Profiler.spearmanBucketed(li, Seq("l_returnflag"), "qty_c", "price_c")
      .select(col("l_returnflag"), col("n"),
        col("sum_rx2").cast("long").as("sum_rx2"),
        col("sum_ry2").cast("long").as("sum_ry2"), col("rho"))
      .orderBy("l_returnflag")
  }

  /** Skew-safe Gini gate — [[graft.operators.Quantiles.giniBucketed]] on
    * the q186 shape; oracle shared with q186 (bit-identical integers by
    * construction — the weight sum is tie-order invariant and the global
    * rank is the same integer under either layout).
    */
  def q189GiniBucketed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    Quantiles.giniBucketed(
      Tables.documents(s, dir).select("source", "n_chars", "doc_id"),
      Seq("source"), "n_chars", "doc_id")
      .select(col("source"), col("n"), col("sum_v").cast("long").as("sum_v"),
        col("gini_num").cast("long").as("gini_num"), col("gini"))
      .orderBy("source")
  }

  /** Skew-safe winsorization gate — [[graft.operators.Quantiles
    * .winsorizeBucketed]] on the q171 shape: bound ranks pinned to their
    * target cells (only those cells ranked), bounds broadcast back for
    * the clamp; every per-row clamp decision hashes against q171's
    * oracle.
    */
  def q190WinsorizeBucketed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    Quantiles.winsorizeBucketed(
      Tables.events(s, dir).select(col("event_type"), col("value"), col("event_id")),
      Seq("event_type"), "value", "event_id", loPct = 5, hiPct = 95)
      .orderBy("event_type", "event_id")
  }

  /** Sketch-path Spearman gate — the q154 honesty-chain pattern applied
    * to rank correlation: the bottom-k row-identity sample's exact ρ
    * ([[graft.operators.Sketches.spearmanSketch]], k = 200) next to the
    * full-corpus exact ρ, both replayed by the oracle (hash order, cut,
    * doubled average-tie ranks, moments — bit-for-bit). The gate hashes
    * the ESTIMATE and the TRUTH side by side, so the sketch can never
    * silently drift from the population it claims to summarize.
    */
  def q191SpearmanSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    import graft.quality.Profiler
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      round(col("l_quantity") * 100).cast("long").as("qty_c"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"),
      col("l_orderkey"), col("l_linenumber"))
    val est = Sketches.spearmanSketchReport(
      Sketches.spearmanSketch(li, Seq("l_returnflag"), "qty_c", "price_c",
        Seq("l_orderkey", "l_linenumber"), k = 200),
      Seq("l_returnflag"))
    val exact = Profiler.spearman(li, Seq("l_returnflag"), "qty_c", "price_c")
      .select(col("l_returnflag"), col("rho").as("rho_exact"))
    est.join(exact, Seq("l_returnflag")).orderBy("l_returnflag")
  }

  /** Spearman-matrix gate: all three pairwise exact average-tie ρ's over
    * (quantity, price, discount) per return flag — the q185 one-scan
    * moments generator composed over doubled integer ranks; the oracle
    * re-ranks every column and recomputes every moment and clamped ρ.
    */
  def q192SpearmanMatrix(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      round(col("l_quantity") * 100).cast("long").as("qty_c"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"),
      round(col("l_discount") * 1000).cast("long").as("disc_m"))
    Profiler.spearmanMatrix(li, Seq("l_returnflag"),
        Seq("qty_c", "price_c", "disc_m"))
      .orderBy("l_returnflag", "col_x", "col_y")
  }

  /** Correlation-matrix drift gate: the even-/odd-orderkey halves of
    * lineitem as base/current snapshots — each side's moments replayed,
    * every pair's clamped r on both sides, and drift = r_cur − r_base
    * (one IEEE subtraction of two bit-identical doubles). A structure
    * change between halves would surface here even with identical
    * marginals.
    */
  def q193CorrelationDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val li = Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_returnflag"),
      round(col("l_quantity") * 100).cast("long").as("qty_c"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"),
      round(col("l_discount") * 1000).cast("long").as("disc_m"))
    val cols = Seq("qty_c", "price_c", "disc_m")
    Profiler.correlationMatrixDrift(
      Profiler.correlationMoments(
        li.filter(col("l_orderkey") % 2 === 0), Seq("l_returnflag"), cols),
      Profiler.correlationMoments(
        li.filter(col("l_orderkey") % 2 === 1), Seq("l_returnflag"), cols),
      Seq("l_returnflag"), cols)
      .orderBy("l_returnflag", "col_x", "col_y")
  }

  /** Skew-safe Spearman-matrix gate — q192 through the cell layout
    * (one scaffold per column, no per-group reducer sort); oracle shared
    * with q192: bit-identical by the row-141 argument.
    */
  def q197SpearmanMatrixBucketed(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      round(col("l_quantity") * 100).cast("long").as("qty_c"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"),
      round(col("l_discount") * 1000).cast("long").as("disc_m"))
    Profiler.spearmanMatrixBucketed(li, Seq("l_returnflag"),
        Seq("qty_c", "price_c", "disc_m"))
      .orderBy("l_returnflag", "col_x", "col_y")
  }

  /** Spearman-drift gate: q193's relationship-drift question asked of the
    * MONOTONE association — two snapshots' rank-moments through the same
    * drift machinery (ranks are per-snapshot, so this composes with zero
    * new code); the oracle re-ranks both halves and replays every moment,
    * ρ, and subtraction. The ρ/drift columns gate at 9 decimals (the
    * BM25 rounded-surface idiom): at sf0.1 the per-half rank moments are
    * ~1e16–1e17 and the two engines' exact-integer→double casts disagree
    * by 1–2 ulp at those magnitudes (observed: 19th digit), so the raw
    * doubles stay inside each engine and the gate hashes the statistic
    * at the precision both provably share.
    */
  def q198SpearmanDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val li = Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_returnflag"),
      round(col("l_quantity") * 100).cast("long").as("qty_c"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"),
      round(col("l_discount") * 1000).cast("long").as("disc_m"))
    val cols = Seq("qty_c", "price_c", "disc_m")
    Profiler.correlationMatrixDrift(
      Profiler.spearmanMoments(
        li.filter(col("l_orderkey") % 2 === 0), Seq("l_returnflag"), cols),
      Profiler.spearmanMoments(
        li.filter(col("l_orderkey") % 2 === 1), Seq("l_returnflag"), cols),
      Seq("l_returnflag"), cols)
      .select(col("l_returnflag"), col("col_x"), col("col_y"),
        col("n_base"), col("n_cur"),
        round(col("r_base"), 9).as("rho_base"),
        round(col("r_cur"), 9).as("rho_cur"),
        round(col("drift"), 9).as("drift"))
      .orderBy("l_returnflag", "col_x", "col_y")
  }

  /** Simpson-diversity gate: per language, how source-diverse is the
    * corpus — λ and 1−λ from the exact pair-count numerator, pure
    * rational arithmetic the oracle replays (the no-`ln` alternative to
    * Shannon entropy for mixture diagnostics).
    */
  def q196SimpsonDiversity(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    Profiler.simpsonDiversity(
      Tables.documents(s, dir).select("lang", "source"),
      Seq("lang"), "source")
      .orderBy("lang")
  }

  /** Bloom-pruned fact⋈dim join: lineitem joined to the urgent-priority
    * order subset, with the fact side filtered through a Bloom of the dim
    * keys BEFORE its exchange. The joined result is provably identical to
    * the plain join (false positives re-verified by the join itself) — the
    * oracle is the plain SQL join — while the fact shuffle carries only
    * ~the matching fifth of lineitem plus the fpp sliver.
    */
  def q67BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_returnflag")
    val dim = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val joined = BloomPrune.prunedEquiJoin(
      li, dim, Seq("l_orderkey"), Seq("o_orderkey"),
      expectedItems = math.max(dim.count(), 1L), fpp = 0.01)
    joined.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_okey"),
        max("l_orderkey").as("max_okey")
      )
      .orderBy("l_returnflag")
  }

  // text-format fixtures share graft.queries.Fixtures' atomic
  // build-once-per-sf-dir cache (same contract as the prebuilt ANN
  // indexes: derived corpus state is built once, not per query)

  /** CSV round-trip fidelity gate: lineitem → CSV (quoting, NULLs,
    * floating-point text round-trip, timestamp format) → read back with
    * an EXPLICIT schema + PERMISSIVE corrupt capture
    * ([[graft.sources.TextFormats]]) → decimal-exact aggregate. The
    * oracle aggregates the original parquet directly, so every value
    * must survive serialize→parse bit-exactly for the hash to match.
    */
  def q90CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TextFormats
    val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
      "l_returnflag", "l_linestatus", "l_shipdate")
    val path = Fixtures.cachedPath(s, dir, "csv_lineitem") { p =>
      TextFormats.writeCsv(Tables.lineitem(s, dir).select(cols.map(col): _*), p)
    }
    val back = TextFormats.readCsv(s, path,
      "l_orderkey BIGINT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP")
    back.groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        date_format(max(col("l_shipdate")), "yyyy-MM-dd HH:mm:ss").as("max_ship"),
        count(when(col(graft.sources.TextFormats.CorruptCol).isNotNull, 1)).as("n_corrupt"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** JSON-lines round-trip fidelity gate (q90's twin for the other
    * ubiquitous interchange format): documents → JSONL (string escaping
    * is the hard part) → explicit-schema read → aggregate vs the
    * parquet-direct oracle.
    */
  def q91JsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.TextFormats
    val path = Fixtures.cachedPath(s, dir, "jsonl_documents") { p =>
      TextFormats.writeJsonLines(
        Tables.documents(s, dir).select("doc_id", "lang", "text", "n_chars"), p)
    }
    val back = TextFormats.readJsonLines(s, path,
      "doc_id BIGINT, lang STRING, text STRING, n_chars BIGINT")
    back.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"),
        count(when(col(graft.sources.TextFormats.CorruptCol).isNotNull, 1)).as("n_corrupt"))
      .orderBy("lang")
  }

  /** HLL distinct-count profile, register-for-register gated: per
    * event_type the approximate distinct user count next to the exact
    * one. The oracle replays the 60-bit md5 hash, every register, the
    * exact-integer harmonic denominator, and the single pinned division
    * ([[graft.operators.Sketches]]) — so a hash-match proves the sketch,
    * not just the summary.
    */
  def q128HllDistinct(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val ev = Tables.events(s, dir).select("event_type", "user_id")
    val approx = Sketches.approxDistinct(ev, Seq("event_type"), "user_id")
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact"))
    approx.join(exact, Seq("event_type"))
      .select(col("event_type"), col("m"), col("v0"), col("dhll"),
        col("est"), col("exact"))
      .orderBy("event_type")
  }

  /** HLL set-operation gate: per-language vocabulary overlap between the
    * even- and odd-doc halves of the corpus by inclusion–exclusion on
    * register tables ([[graft.operators.Sketches.hllOverlap]]); the
    * oracle replays the registers of BOTH sides and the merged union,
    * then the same pinned-order arithmetic. exact_overlap (true distinct
    * intersection) rides along as the honesty column — the spec asserts
    * the estimate's error band against it.
    */
  def q148HllOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val toks = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("lang"), col("doc_id"),
        explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val ta = toks.filter(col("doc_id") % 2 === 0)
    val tb = toks.filter(col("doc_id") % 2 === 1)
    val a = Sketches.hllRegisters(ta, Seq("lang"), "w")
    val b = Sketches.hllRegisters(tb, Seq("lang"), "w")
    val ov = Sketches.hllOverlap(a, b, Seq("lang"))
    val exact = ta.select("lang", "w").distinct()
      .join(tb.select("lang", "w").distinct(), Seq("lang", "w"))
      .groupBy("lang").agg(countDistinct(col("w")).as("exact_overlap"))
    ov.join(exact, Seq("lang"))
      .select(col("lang"), col("est_a"), col("est_b"), col("est_union"),
        col("est_overlap"), col("exact_overlap"))
      .orderBy("lang")
  }

  /** Skew decision report over the orders fact: the top-5 heaviest
    * customer keys with exact counts, ppm share, and the ceil-div salt
    * recommendation — integer arithmetic end to end, replayed exactly.
    */
  def q150SkewProfile(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skew
    Skew.skewProfile(Tables.orders(s, dir), Seq("o_custkey"),
        targetPerTask = 10L, topK = 5)
      .orderBy(col("cnt").desc, col("o_custkey"))
  }

  /** Embedding-column DQ gate: the report every ANN build should run
    * first. The corpus vectors are synthetic-clean, so the interesting
    * rows are INJECTED: a NULL vector, a wrong-dimension vector, a NaN
    * carrier, and an all-zero vector are unioned in with negative ids —
    * the counts must come out exactly 1 each and the norm² extremes must
    * ignore them.
    */
  def q151EmbeddingQuality(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.VectorQuality
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val bad = s.sql(
      """SELECT * FROM VALUES
        |  (CAST(-1 AS BIGINT), CAST(NULL AS ARRAY<FLOAT>)),
        |  (CAST(-2 AS BIGINT), CAST(ARRAY(1.0, 2.0) AS ARRAY<FLOAT>)),
        |  (CAST(-3 AS BIGINT), array_repeat(CAST('NaN' AS FLOAT), 64)),
        |  (CAST(-4 AS BIGINT), array_repeat(CAST(0.0 AS FLOAT), 64)),
        |  (CAST(-5 AS BIGINT), concat(array(CAST(NULL AS FLOAT)),
        |     array_repeat(CAST(1.0 AS FLOAT), 63)))
        |  AS t(vec_id, embedding)""".stripMargin)
    VectorQuality.report(e.unionByName(bad), "embedding", expectedDim = 64)
  }

  /** Robust-outlier gate: median/MAD on an integer-valued measure with
    * DETERMINISTICALLY PLANTED spikes (+500 on every 997th order key),
    * grouped by return flag — nonzero outlier counts, every number a
    * rank-selected data value or an exact op on two of them.
    */
  def q152MadOutliers(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      (col("l_quantity").cast("long") +
        when(col("l_orderkey") % 997 === 0, 500L).otherwise(0L)).as("qty"),
      concat_ws(":", col("l_orderkey"), col("l_linenumber")).as("tb"))
    Quantiles.madOutliers(li, Seq("l_returnflag"), "qty", "tb", k = 3)
      .orderBy("l_returnflag")
  }

  /** Count-Min frequency sketch gated cell-for-cell: estimates for the
    * top-20 exact-count tokens of the documents corpus, next to the
    * exact counts — `est >= exact` always (one-sided estimator), and the
    * oracle recomputes every salted bucket and counter independently.
    */
  def q129CmsTopTokens(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val toks = Tables.documents(s, dir)
      .select(explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    val counters = Sketches.cmsCounters(toks, "token")
    val exactTop = toks.groupBy("token")
      .agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("token"))
      .limit(20)
    Sketches.cmsEstimate(counters, exactTop, "token")
      .join(exactTop, Seq("token"))
      .select(col("token"), col("exact"), col("est"))
      .orderBy(col("exact").desc, col("token"))
  }

  /** ORC round-trip fidelity gate (q90/q91's twin for the second
    * columnar format): orders → ORC → read back → aggregate vs the
    * parquet-direct oracle. Exercises the type seams (DATE-ish strings,
    * DOUBLE totals) through the ORC writer/reader.
    */
  def q130OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Formats
    val path = Fixtures.cachedPath(s, dir, "orc_orders") { p =>
      Formats.writeOrc(Tables.orders(s, dir), p)
    }
    Formats.readOrc(s, path)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  /** Skew-salted join gated against the plain join: orders (hot-keyed
    * side, salted) ⋈ customer (replicated across the salt domain) must
    * aggregate to exactly what the unsalted SQL join produces —
    * upgrading [[graft.operators.Skew]] from spec-only to oracle-gated.
    */
  def q131SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skew
    val orders = Tables.orders(s, dir).withColumnRenamed("o_custkey", "custkey")
    val cust = Tables.customer(s, dir).withColumnRenamed("c_custkey", "custkey")
    Skew.saltedJoin(orders, cust, Seq("custkey"), saltFactor = 4)
      .groupBy("c_mktsegment", "o_orderstatus")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
        countDistinct(col("custkey")).as("n_cust"))
      .orderBy("c_mktsegment", "o_orderstatus")
  }

  /** Integer PageRank over the symmetrized supplier↔part co-occurrence
    * graph from lineitem — every one of the 5 iterations is replayed by
    * the DuckDB oracle (unrolled CTEs), so a hash match proves the
    * damping arithmetic, the degree normalization, and the dangling
    * handling, not just a final ordering.
    */
  def q132PageRank(s: SparkSession, dir: String): DataFrame = {
    import graft.graph.PageRank
    // suppliers map to the negative id space (-k-1) so the bipartite
    // node set stays ONE long column — long keys shuffle/compare far
    // cheaper than the "s<k>"/"p<k>" string encoding they replace
    val edges = Tables.lineitem(s, dir)
      .select((-col("l_suppkey") - 1).cast("long").as("src"),
        col("l_partkey").cast("long").as("dst"))
    PageRank.hostAuthority(edges, iters = 5)
      .orderBy("node")
  }

  /** Personalized PageRank gate: the q132 supplier↔part graph walked
    * from the 4 md5-earliest seed nodes — seeds keep the damped base,
    * everyone else only receives flowing mass; all 5 iterations
    * unrolled in the oracle with the seed-conditional base.
    */
  def q165PersonalizedPagerank(s: SparkSession, dir: String): DataFrame = {
    import graft.graph.{Harmonic, PageRank}
    val edges = Tables.lineitem(s, dir)
      .select((-col("l_suppkey") - 1).cast("long").as("src"),
        col("l_partkey").cast("long").as("dst"))
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Harmonic.sampleSources(edges, 4)
    PageRank.personalizedRanks(sym, seeds, iters = 5).orderBy("node")
  }

  /** Per-node triangle counts over the part co-purchase graph (parts
    * sharing an order are linked) — the supplier↔part graph is
    * bipartite (triangle-free by construction), so the gate graph is
    * built where triangles actually exist. The oracle replays edge
    * canonicalization, wedge building and closure independently.
    */
  def q135Triangles(s: SparkSession, dir: String): DataFrame = {
    import graft.graph.Triangles
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    // support >= 2 (co-purchased in at least two orders): the raw
    // co-purchase graph is DENSE (sf0.1: 1.2M edges on 20k nodes, 1.9M
    // triangles, 41M wedges even degree-ordered) — grinding through it
    // is exactly the pathology triangle counting exists to DETECT, so
    // the gate graph applies the standard frequent-pair support filter
    val edges = li.as("x")
      .join(li.as("y"), col("x.l_orderkey") === col("y.l_orderkey"))
      .filter(col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("pa"), col("y.l_partkey").as("pb"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2)
      .select(col("pa").cast("string").as("src"), col("pb").cast("string").as("dst"))
    Triangles.perNode(edges)
      .withColumn("node", col("node").cast("long"))
      .orderBy("node")
  }

  /** Top event paths gate: the 10 most frequent 3-step sequences with a
    * pinned (count desc, path) order — every lag, concat and count
    * replayed.
    */
  def q161TopPaths(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Funnel
    Funnel.topPaths(Tables.events(s, dir), "user_id", "event_type", "ts",
      "event_id", pathLen = 3, topK = 10)
  }

  /** Debounce gate: events collapsed to chain-first per (user, type)
    * with a 1-hour cooldown; per-type kept counts + an order-free id
    * checksum, every lag and gap replayed.
    */
  def q159Debounce(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    TimeSeries.debounce(Tables.events(s, dir),
        Seq("user_id", "event_type"), "ts", "event_id", cooldownSec = 3600L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("event_id")).as("id_checksum"))
      .orderBy("event_type")
  }

  /** NFKC dedup-key gate: compatibility characters (ligature, enclosed
    * digit, unit square, fullwidth letter, vulgar fraction) injected per
    * doc_id; the oracle replays their PINNED expansions as literals (the
    * q149 pinned-data rule — no engine in the gate stack ships NFKC), so
    * the hash certifies the kernel folded each injected char exactly and
    * touched nothing else (the ASCII base text must pass through
    * identical).
    */
  def q158NfkcKeys(s: SparkSession, dir: String): DataFrame = {
    import graft.text.Normalize
    val suffix = element_at(
      array(lit("ﬁle"), lit("②nd"), lit("5㎞"), lit("Ｈi"), lit("½")),
      (col("doc_id") % 5 + 1).cast("int"))
    Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), concat(col("text"), lit(" "), suffix).as("raw"))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("n_chars_raw"),
        Normalize.nfkc(col("raw")).as("norm"))
      .select(col("doc_id"), col("n_chars_raw"),
        length(col("norm")).cast("long").as("n_chars_norm"),
        md5(to_binary(col("norm"), lit("utf-8"))).as("norm_md5"))
      .orderBy("doc_id")
  }

  /** k-anonymity audit gate: customer quasi-identifiers
    * (nation, segment, account-balance kilobucket) — the sub-k groups
    * with exact sizes, smallest first; the oracle replays every count.
    */
  def q156KAnonymity(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Anonymity
    val c = Tables.customer(s, dir).select(
      col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
    Anonymity.kAnonymityViolations(
        c, Seq("c_nationkey", "c_mktsegment", "bal_bucket"), k = 5)
      .orderBy(col("cnt"), col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
  }

  /** Embedding centroid drift gate: even vs odd vec_id halves — 64
    * per-dimension rows of exact quantized sums and the cross-multiplied
    * mean difference, every number an integer the oracle replays.
    */
  def q164CentroidDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.VectorQuality
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    VectorQuality.centroidDrift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1), "embedding")
      .orderBy("dim")
  }

  /** l-diversity gate: (nation, kilobucket) groups whose market-segment
    * column carries fewer than 4 distinct values — the homogeneity-
    * attack audit on groups q156's size check alone would pass.
    */
  def q162LDiversity(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Anonymity
    val c = Tables.customer(s, dir).select(
      col("c_nationkey"),
      floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"),
      col("c_mktsegment"))
    Anonymity.lDiversityViolations(c, Seq("c_nationkey", "bal_bucket"),
        "c_mktsegment", l = 4)
      .orderBy(col("c_nationkey"), col("bal_bucket"))
  }

  /** t-closeness gate — the privacy trio's third leg on the same
    * (nation, kilobucket) → market-segment shape as q156/q162: groups
    * whose segment distribution sits further than t = 0.30 (total
    * variation) from the corpus-wide distribution — the skewness attack
    * both the size check and the distinct-count pass. dist_num is the
    * exact cross-multiplied gap the oracle replays; tvd one division.
    */
  def q169TCloseness(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Anonymity
    val c = Tables.customer(s, dir).select(
      col("c_nationkey"),
      floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"),
      col("c_mktsegment"))
    Anonymity.tClosenessViolations(c, Seq("c_nationkey", "bal_bucket"),
        "c_mktsegment", tPpm = 300000L)
      .orderBy(col("c_nationkey"), col("bal_bucket"))
  }

  /** Temporal split gate: train strictly before cutoff − 2-day embargo,
    * test at/after the cutoff, the gap dropped — per-split counts and
    * boundary timestamps prove the embargo actually excluded its window.
    */
  def q157TemporalSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    // cutoff 2024-01-22 00:00:00 UTC over the 2024-01 events corpus
    Sampling.temporalSplit(Tables.events(s, dir), "ts",
        cutoffSec = 1705881600L, embargoSec = 172800L)
      .groupBy("split")
      .agg(count(lit(1)).as("n_rows"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("min_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("max_ts"))
      .orderBy("split")
  }

  /** Pre-join cardinality forecast gate: lineitem ⋈ orders on the order
    * key, forecast from per-key counts only, with the REAL join's row
    * count as the honesty column — forecast == actual because inner-join
    * cardinality is exactly Σ cntA·cntB per key.
    */
  def q155JoinCardinality(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Skew
    val li = Tables.lineitem(s, dir).select(col("l_orderkey").as("k"))
    val ord = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
    val actual = li.join(ord, Seq("k")).agg(count(lit(1)).as("actual_rows"))
    Skew.joinCardinality(li, ord, Seq("k")).crossJoin(actual)
  }

  /** Mergeable quantile-sketch gate: bottom-k row-hash sample per
    * return flag (k=200), rank-selected p50/p90 over the sample with the
    * exact full-data quantiles as honesty columns — the oracle replays
    * the hash order, the cut, and every rank selection.
    */
  def q154QuantileSketch(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Quantiles, Sketches}
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      col("l_quantity").cast("long").as("qty"),
      col("l_orderkey"), col("l_linenumber"))
    val sk = Sketches.quantileSketch(li, Seq("l_returnflag"), "qty",
      Seq("l_orderkey", "l_linenumber"), k = 200)
    val rep = Sketches.quantileSketchReport(sk, Seq("l_returnflag"))
    val exact = Quantiles.exactQuantiles(
      li.withColumn("tb", concat_ws(":", col("l_orderkey"), col("l_linenumber"))),
      Seq("l_returnflag"), "qty", "tb")
      .select(col("l_returnflag"), col("p50").as("exact_p50"), col("p90").as("exact_p90"))
    rep.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_sample"), col("p50"), col("p90"),
        col("exact_p50"), col("exact_p90"))
      .orderBy("l_returnflag")
  }

  /** Sampled harmonic centrality over the q135 support≥2 co-purchase
    * graph: BFS from the 8 md5-earliest nodes to depth 3, 1/d summed as
    * exact `1000000 div d` integers — the oracle unrolls all three BFS
    * rounds as materialized CTEs (the k-core discipline) and replays
    * every distance and division.
    */
  /** The support≥2 co-purchase graph as a PARQUET FIXTURE — the
    * prebuilt-ANN argument applied to graphs: at 100 TB a link graph is
    * materialized corpus state you build once and query many times, not
    * something each centrality query re-derives from the fact table
    * (the O(lineitem²-per-order) self-join was ~2/3 of q153's cost).
    * The q153 oracle still REBUILDS the graph from lineitem, so the
    * fixture content itself is cross-checked by the hash.
    */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    Fixtures.cachedParquet(s, dir, "copurchase_edges") {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
      li.as("x")
        .join(li.as("y"), col("x.l_orderkey") === col("y.l_orderkey"))
        .filter(col("x.l_partkey") < col("y.l_partkey"))
        .groupBy(col("x.l_partkey").as("pa"), col("y.l_partkey").as("pb"))
        .agg(count(lit(1)).as("sup"))
        .filter(col("sup") >= 2)
        .select(col("pa").cast("long").as("src"), col("pb").cast("long").as("dst"))
    }

  def q153Harmonic(s: SparkSession, dir: String): DataFrame = {
    import graft.graph.Harmonic
    val edges = copurchaseEdges(s, dir)
    val srcs = Harmonic.sampleSources(edges, 8)
    Harmonic.sampledHarmonic(edges, srcs, maxDepth = 3).orderBy("node")
  }

  /** Funnel conversion gate: view → click → purchase within 7 days of
    * the view. The Spark side is a one-shuffle sorted fold; the oracle
    * re-derives the same greedy match via stepwise packed-code minimums
    * — two formulations of the same semantics cross-checking.
    */
  def q136Funnel(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Funnel
    // maxEventsPerUser bounds hot-user row width; 100000 is far above
    // the gate corpus's per-user max, so the hash is cap-invariant
    // (FunnelSpec proves cap ≥ user events ⇒ identical result).
    Funnel.report(Tables.events(s, dir), "user_id", "event_type", "ts",
        "event_id", Seq("view", "click", "purchase"), spanSec = 7L * 86400,
        maxEventsPerUser = Some(100000))
      .orderBy("step_idx")
  }

  /** Weekly cohort retention over the events table. */
  def q137Retention(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Funnel
    Funnel.weeklyRetention(Tables.events(s, dir), "user_id", "ts")
      .orderBy("cohort_week", "week_offset")
  }

  /** First-order event-transition matrix (Markov counts + one-division
    * probabilities) over per-user sequences in (ts, event_id) order.
    */
  def q138Transitions(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Funnel
    Funnel.transitionMatrix(Tables.events(s, dir), "user_id", "event_type",
        "ts", "event_id")
      .orderBy("from_type", "to_type")
  }

  /** 3-core of the support≥2 co-purchase graph by a FIXED 12-round peel
    * (converges in 9 at sf0.01; post-convergence rounds are no-ops) —
    * every round is replayed by the unrolled oracle.
    */
  def q139KCore(s: SparkSession, dir: String): DataFrame = {
    import graft.graph.KCore
    val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
    val edges = li.as("x")
      .join(li.as("y"), col("x.l_orderkey") === col("y.l_orderkey"))
      .filter(col("x.l_partkey") < col("y.l_partkey"))
      .groupBy(col("x.l_partkey").as("pa"), col("y.l_partkey").as("pb"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= 2)
      .select(col("pa").cast("long").as("src"), col("pb").cast("long").as("dst"))
    KCore.corePeel(edges, k = 3, rounds = 12)
      .orderBy("node")
  }

  /** Categorical-association cells gate: the full lang × source
    * contingency audit frame — exact counts/marginals, the
    * cross-multiplied chi-square numerator as a DECIMAL digit string
    * (the q172 no-silent-overflow rule), and each cell's
    * mutual-information term nano-scaled to a long, which the oracle
    * replays ln-for-ln.
    */
  def q200Association(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    Association.associationCells(
      Association.contingencyCounts(
        Tables.documents(s, dir).select("lang", "source"), Nil, "lang", "source"),
      Nil)
      .select(col("x"), col("y"), col("n"), col("row_tot"), col("col_tot"),
        col("n_tot"), col("chi_num").cast("string").as("chi_num"), col("mi_term_n9"))
      .orderBy("x", "y")
  }

  /** Per-source mutual information between language and length bucket —
    * "does this source's language mix depend on document size" (a
    * leakage/imbalance probe). MI is an integer nano-sum over one pinned
    * division (hash-exact); the normalized form divides by ln(min
    * cardinality) and gates at 9 decimals.
    */
  def q201MutualInformation(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val d = Tables.documents(s, dir)
      .select(col("source"), col("lang"), (col("n_chars") / 512L).cast("long").as("len_b"))
    Association.mutualInformation(
      Association.associationCells(
        Association.contingencyCounts(d, Seq("source"), "lang", "len_b"), Seq("source")),
      Seq("source"))
      .select(col("source"), col("n_x"), col("n_y"), col("n"), col("mi"),
        round(col("mi_norm"), 9).as("mi_norm"))
      .orderBy("source")
  }

  /** Jensen–Shannon token-distribution divergence between the even- and
    * odd-doc_id halves of the corpus — the symmetric, ln(2)-bounded
    * drift frame per token; every count exact, every ln term nano-scaled
    * before any sum.
    */
  def q203JsDivergence(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val tok = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
    Association.jsDivergence(
      base = tok.filter(col("doc_id") % 2 === 0),
      cur = tok.filter(col("doc_id") % 2 === 1),
      column = "token")
      .orderBy("value")
  }

  /** EWMA control-chart gate: hourly event counts per type through the
    * exact truncated-kernel chart (λ = 1/4, 32 lags, integer weights
    * 3^k·4^(31−k)) — numerator/denominator are DECIMAL sums the oracle
    * replays digit-for-digit, ewma gates at 9 decimals, and the breach
    * flags are exact integer comparisons (target 3, band 1).
    */
  def q206Ewma(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    val counts = TimeSeries.resampleCounts(
      Tables.events(s, dir).select("event_type", "ts"), Seq("event_type"), "ts")
    TimeSeries.ewmaChart(counts, Seq("event_type"), Seq("slot"), "n",
        target = 3L, band = 1L)
      .select(col("event_type"),
        date_format(col("slot"), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("n"), round(col("ewma"), 9).as("ewma"),
        col("breach_hi"), col("breach_lo"))
      .orderBy("event_type", "hr")
  }

  /** Exact Kendall τ-b gate: quantity–discount rank association per
    * return flag via the distinct-value CELL join (O(cells²),
    * row-count-independent — the skew-safe-by-construction rank
    * statistic). All five pair counts are DECIMAL digit strings; τ-b
    * gates at 9 decimals.
    */
  def q207Kendall(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      round(col("l_quantity")).cast("long").as("qty"),
      round(col("l_discount") * 1000).cast("long").as("disc_m"))
    Association.kendall(li, Seq("l_returnflag"), "qty", "disc_m")
      .select(col("l_returnflag"), col("n"),
        col("c_pairs").cast("string").as("c_pairs"),
        col("d_pairs").cast("string").as("d_pairs"),
        col("t_x").cast("string").as("t_x"),
        col("t_y").cast("string").as("t_y"),
        col("t_xy").cast("string").as("t_xy"),
        round(col("tau_b"), 9).as("tau_b"))
      .orderBy("l_returnflag")
  }

  /** Per-group association summary gate: chi-square, Cramér's V, MI,
    * both marginal entropies and both Theil uncertainty coefficients in
    * one row per source — every statistic a fixed dag over nano-int
    * sums (mi/h exact by construction; the √/÷ surfaces at 9 decimals).
    */
  def q209AssociationSummary(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val d = Tables.documents(s, dir)
      .select(col("source"), col("lang"), (col("n_chars") / 512L).cast("long").as("len_b"))
    Association.associationSummary(
      Association.associationCells(
        Association.contingencyCounts(d, Seq("source"), "lang", "len_b"), Seq("source")),
      Seq("source"))
      .select(col("source"), col("n_x"), col("n_y"), col("n"),
        round(col("chi2"), 9).as("chi2"),
        round(col("cramers_v"), 9).as("cramers_v"),
        col("mi"), col("h_x"), col("h_y"),
        round(col("theil_u_x"), 9).as("theil_u_x"),
        round(col("theil_u_y"), 9).as("theil_u_y"))
      .orderBy("source")
  }

  /** Kendall over a CONTINUOUS measure via monotone bucketing — the
    * documented scale path for unbounded-cardinality columns: τ-b of
    * ($1000 price bucket, quantity) per return flag through the same
    * cell join; the oracle replays the bucketing and every pair class.
    */
  def q210KendallBucketed(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      (round(col("l_extendedprice") * 100).cast("long") / 100000L).cast("long").as("price_kb"),
      round(col("l_quantity")).cast("long").as("qty"))
    Association.kendall(li, Seq("l_returnflag"), "price_kb", "qty")
      .select(col("l_returnflag"), col("n"),
        col("c_pairs").cast("string").as("c_pairs"),
        col("d_pairs").cast("string").as("d_pairs"),
        col("t_x").cast("string").as("t_x"),
        col("t_y").cast("string").as("t_y"),
        col("t_xy").cast("string").as("t_xy"),
        round(col("tau_b"), 9).as("tau_b"))
      .orderBy("l_returnflag")
  }

  /** Rolling-correlation gate: trailing-24h exact-moment Pearson r
    * between the hourly click and view value series (milli-scaled
    * integers; the q177 clamp dag per row, 9 decimals; head rows emit
    * with their actual w_n).
    */
  def q213RollingCorrelation(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val ev = Tables.events(s, dir).select(col("event_type"),
      date_trunc("hour", col("ts")).as("hr"),
      round(col("value") * 1000).cast("long").as("v_m"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("hr").agg(sum("v_m").as("x_m"))
    val views = ev.filter(col("event_type") === "view")
      .groupBy("hr").agg(sum("v_m").as("y_m"))
    Profiler.rollingCorrelation(clicks.join(views, "hr"), Nil, Seq("hr"),
        "x_m", "y_m", window = 24)
      .select(date_format(col("hr"), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("x_m"), col("y_m"), col("w_n"), round(col("r"), 9).as("r"))
      .orderBy("hr")
  }

  /** ACF + Ljung–Box gate: autocorrelation of the dense hourly event
    * count series per type at lags 1..6 — num/den exact DECIMAL digit
    * strings the oracle replays in HUGEINT, r one pinned division at 9
    * decimals, Q the nano(1e15)-term portmanteau sum.
    */
  def q214Acf(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    val counts = TimeSeries.resampleCounts(
      Tables.events(s, dir).select("event_type", "ts"), Seq("event_type"), "ts")
    TimeSeries.acf(counts, Seq("event_type"), Seq("slot"), "n", maxLag = 6)
      .select(col("event_type"), col("lag"), col("n"), col("num"), col("den"),
        round(col("r"), 9).as("r"), round(col("lb_q"), 9).as("lb_q"))
      .orderBy("event_type", "lag")
  }

  /** Kruskal–Wallis gate: does event value (milli-scaled) share a
    * location across event types — the rank ANOVA on the cell layout.
    * Per-group doubled rank sums and deviations are exact digit strings;
    * H and its tie-corrected form gate at 9 decimals.
    */
  def q215KruskalWallis(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir).select(col("event_type"),
      round(col("value") * 1000).cast("long").as("v_m"))
    Association.kruskalWallis(ev, Nil, "event_type", "v_m")
      .select(col("grp"), col("n_g"), col("r2_sum"), col("d"), col("n"),
        round(col("h"), 9).as("h"), round(col("h_tie"), 9).as("h_tie"))
      .orderBy("grp")
  }

  /** Mann–Kendall trend gate: is each event type's hourly count series
    * monotonically trending — S and 18·Var(S) exact digit strings, z at
    * 9 decimals, and the α = 0.05 verdict decided by the exact integer
    * comparison (S∓1)²·180000 ≷ 38416·var18 (never a float boundary).
    */
  def q216MannKendall(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    val counts = TimeSeries.resampleCounts(
      Tables.events(s, dir).select("event_type", "ts"), Seq("event_type"), "ts")
    TimeSeries.mannKendall(counts, Seq("event_type"), "slot", "n")
      .select(col("event_type"), col("n"), col("s"), col("var18"),
        round(col("z"), 9).as("z"), col("trend"))
      .orderBy("event_type")
  }

  /** Theil–Sen gate: the robust trend line of each type's hourly count
    * series — the median pair's exact (dy, dx) digit strings, slope one
    * pinned division, intercept the lower-median residual; the oracle
    * replays the pair enumeration and both median selections.
    */
  def q217TheilSen(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    val counts = TimeSeries.resampleCounts(
        Tables.events(s, dir).select("event_type", "ts"), Seq("event_type"), "ts")
      .withColumn("t", col("slot").cast("long"))
    TimeSeries.theilSen(counts, Seq("event_type"), "t", "n")
      .select(col("event_type"), col("m"), col("dy"), col("dx"),
        round(col("slope") * 3600d, 9).as("slope_hr"),
        round(col("intercept"), 9).as("intercept"))
      .orderBy("event_type")
  }

  /** Quantile-normalization gate: each source's doc-length scores
    * mapped onto the GLOBAL length distribution — scaffold ranks, the
    * exact ⌈r·m/n⌉ reference position, the broadcast CDF range join.
    */
  def q236QuantileNormalize(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val d = Tables.documents(s, dir).select("doc_id", "source", "n_chars")
    val ref = graft.quality.Profiler.bucketCounts(d, "n_chars")
    Quantiles.quantileNormalize(d, Seq("source"), "n_chars", "doc_id", ref)
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("rank"), col("n"), col("ref_pos"), col("norm"))
      .orderBy("doc_id")
  }

  /** Skew-safe twin of [[q152MadOutliers]] — both median selections
    * through the cellScaffold layout; same exact statistic, q152's
    * oracle shared verbatim.
    */
  def q241MadOutliersBucketed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      (col("l_quantity").cast("long") +
        when(col("l_orderkey") % 997 === 0, 500L).otherwise(0L)).as("qty"),
      concat_ws(":", col("l_orderkey"), col("l_linenumber")).as("tb"))
    Quantiles.madOutliersBucketed(li, Seq("l_returnflag"), "qty", "tb", k = 3)
      .orderBy("l_returnflag")
  }

  /** CMH gate: does doc-id parity predict the long-doc rate AFTER
    * controlling for language — per-stratum nano E/Var terms, the
    * paradox-proof pooled statistic.
    */
  def q245Cmh(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val d = Tables.documents(s, dir).select(
      col("lang"),
      when(col("doc_id") % 2 === 0, "even").otherwise("odd").as("variant"),
      (col("n_chars") >= 256L).cast("long").as("hi"))
    Association.cmh(d, "lang", "variant", "hi")
      .select(col("n_strata"), col("n_used"), col("n_multi"), col("sum_a"),
        col("e_sum9"), col("var_sum9"), round(col("cmh"), 9).as("cmh"),
        round(col("or_mh"), 9).as("or_mh"))
  }

  /** Gap-analysis gate: zero-run statistics of each type's 15-minute
    * event series — run grouping by the two-rank trick, exact lengths,
    * longest-run selection with the earliest-start tie pin, trailing
    * (still-open) gap.
    */
  def q244GapAnalysis(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    val counts = TimeSeries.resampleCounts(
      Tables.events(s, dir).select("event_type", "ts"),
      Seq("event_type"), "ts", step = "15 minutes")
    TimeSeries.gapAnalysis(counts, Seq("event_type"), "slot", "n")
      .select(col("event_type"), col("n_slots"), col("zero_slots"),
        col("n_zero_runs"), col("longest_zero_run"), col("trailing_gap"),
        date_format(col("longest_run_start"), "yyyy-MM-dd HH:mm:ss")
          .as("longest_run_start"))
      .orderBy("event_type")
  }

  /** Skew-safe twin of [[q55IqrOutliers]] — quartiles through the
    * cellScaffold; same exact fences, q55's oracle shared verbatim.
    */
  def q242IqrBucketed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    Quantiles.iqrOutliersBucketed(
      Tables.events(s, dir).select("event_type", "event_id", "value"),
      Seq("event_type"), "value", "event_id")
      .orderBy("event_id")
  }

  /** Trimmed-mean gate: the 10%-each-side robust location of quantity
    * per return flag — exact kept-rank interval, DECIMAL kept sum,
    * one division.
    */
  def q243TrimmedMean(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"), col("l_quantity").cast("long").as("qty"),
      concat_ws(":", col("l_orderkey"), col("l_linenumber")).as("tb"))
    Quantiles.trimmedMean(li, Seq("l_returnflag"), "qty", "tb", trimPct = 10)
      .select(col("l_returnflag"), col("n"), col("n_trimmed_each_side"),
        col("n_kept"), col("sum_kept"),
        round(col("trimmed_mean"), 9).as("trimmed_mean"))
      .orderBy("l_returnflag")
  }

  /** Association-matrix gate: every unordered pair of (lang, source,
    * length-bucket) through the q209 summary machinery in one pass —
    * chi²/V/MI/entropies/Theil U per pair row.
    */
  def q235AssociationMatrix(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val d = Tables.documents(s, dir).select(col("lang"), col("source"),
      (col("n_chars") / 512L).cast("long").as("len_b"))
    Association.associationMatrix(d, Nil, Seq("lang", "source", "len_b"))
      .select(col("pair"), col("n_x"), col("n_y"), col("n"),
        round(col("chi2"), 9).as("chi2"),
        round(col("cramers_v"), 9).as("cramers_v"),
        col("mi"), col("h_x"), col("h_y"),
        round(col("theil_u_x"), 9).as("theil_u_x"),
        round(col("theil_u_y"), 9).as("theil_u_y"))
      .orderBy("pair")
  }

  /** Hamilton apportionment gate: 1000 sample slots split across
    * languages proportionally to doc counts — exact floor quotas,
    * remainder digit strings, Σseats = 1000 exactly.
    */
  def q228Apportion(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val counts = Tables.documents(s, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    Sampling.apportion(counts, Nil, "n_docs", "lang", seats = 1000L)
      .select(col("lang"), col("n_docs"), col("remainder"), col("seats"))
      .orderBy("lang")
  }

  /** Two-proportion z gate: do click and view share the high-value
    * rate (value ≥ 250) — exact success/total counts, the rate-diff
    * numerator digit string, z a fixed three-√ dag.
    */
  def q229TwoProportion(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .select(col("event_type"), (col("value") >= 250d).cast("long").as("hi"))
    Association.twoProportion(ev, Nil, "event_type", "hi")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"),
        col("m_lo"), col("s_lo"), col("m_hi"), col("s_hi"),
        col("num"), round(col("z"), 9).as("z"))
      .orderBy("grp_lo")
  }

  /** Proportion-effects gate: the magnitude panel on the q229 shape —
    * risk difference (exact cross product), risk ratio, odds ratio with
    * Woolf's CI, and Cohen's arcsine h; the "should anyone care" panel
    * beside the z that goes significant at 100 TB regardless.
    */
  def q292ProportionEffects(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .select(col("event_type"), (col("value") >= 250d).cast("long").as("hi"))
    Association.proportionEffects(ev, Nil, "event_type", "hi")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"),
        col("m_lo"), col("s_lo"), col("m_hi"), col("s_hi"), col("rd_num"),
        round(col("risk_diff"), 9).as("risk_diff"),
        round(col("risk_ratio"), 9).as("risk_ratio"),
        col("n_zero_cells"),
        round(col("odds_ratio"), 9).as("odds_ratio"),
        round(col("or_ci_lo"), 9).as("or_ci_lo"),
        round(col("or_ci_hi"), 9).as("or_ci_hi"),
        round(col("cohens_h"), 9).as("cohens_h"))
  }

  /** Page-trend gate: three ORDERED synthetic scorer versions (t = 0,
    * 1, 2; score = n_chars + t·(doc_id mod 7) — a planted monotone
    * lift) over every document block — exact doubled-midrank L2, the
    * ordered-alternatives z; the "does quality rise with version"
    * question Friedman's any-difference χ² doesn't answer.
    */
  def q293PageTrend(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val d = Tables.documents(s, dir)
      .filter(col("n_chars").isNotNull)
      .select("doc_id", "n_chars")
    val obs = (0 to 2).map(t => d.select(col("doc_id"), lit(t.toLong).as("t"),
      (col("n_chars") + lit(t.toLong) * (col("doc_id") % 7)).as("score")))
      .reduce(_ unionAll _)
    Association.pageTrend(obs, "doc_id", "t", "score")
      .select(col("treatment"), col("j"), col("b"), col("r2_sum"),
        col("k"), col("n_incomplete"), col("l2"),
        round(col("z"), 9).as("z"))
      .orderBy("treatment")
  }

  /** The shared survival fixture (q285–q288/q291 and the round-14
    * gates): hours from each user's FIRST event to their first
    * 'purchase', observed only within a 96 h administrative window — no
    * purchase inside the window ⇒ right-censored at 96. Replaces r13's
    * last-event-vs-horizon rule, which on this synthetic stream (every
    * user active to the horizon) produced a 100%-censored cohort — the
    * oracles only ever exercised the all-censored path. Here sf0.01 has
    * 133 events / 17 censored over 61 distinct durations: a real curve.
    */
  private def survivalSubjects(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600L).as("h"))
    val tp = col("__p") - col("__f") + 1L
    val seen = col("__p").isNotNull && tp <= 96L
    ev.groupBy("user_id")
      .agg(min("h").as("__f"),
        min(when(col("event_type") === "purchase", col("h"))).as("__p"))
      .select(col("user_id"),
        when(seen, tp).otherwise(96L).as("duration"),
        when(seen, 1L).otherwise(0L).as("event"))
  }

  /** The competing-risks fixture (q297/q301): first 'purchase' vs first
    * 'error' from the user's first event, whichever comes first inside
    * the same 96 h window (tie → purchase, deterministic); neither ⇒
    * censored at 96. Cause 1 = purchase, 2 = error, 0 = censored.
    */
  private def competingSubjects(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600L).as("h"))
    val tp = col("__p") - col("__f") + 1L
    val te = col("__e") - col("__f") + 1L
    val tMin = least(coalesce(tp, lit(97L)), coalesce(te, lit(97L)))
    ev.groupBy("user_id")
      .agg(min("h").as("__f"),
        min(when(col("event_type") === "purchase", col("h"))).as("__p"),
        min(when(col("event_type") === "error", col("h"))).as("__e"))
      .select(col("user_id"),
        when(tMin <= 96L, tMin).otherwise(96L).as("duration"),
        when(tMin > 96L, 0L)
          .when(tp.isNotNull && (te.isNull || tp <= te), 1L)
          .otherwise(2L).as("cause"))
  }

  /** Spec access to the survival fixtures — the fixture-adequacy
    * assertions (FixtureAdequacySpec) pin that they exercise events AND
    * censors / both competing causes, the r13 vacuous-fixture lesson.
    */
  def survivalSubjectsForSpec(s: SparkSession, dir: String): DataFrame =
    survivalSubjects(s, dir)
  def competingSubjectsForSpec(s: SparkSession, dir: String): DataFrame =
    competingSubjects(s, dir)

  private def survivalDashboardSelect(d: DataFrame): DataFrame =
    d.select(col("grp_lo"), col("grp_hi"), col("n_groups"),
      col("n_lo"), col("n_hi"), col("events_lo"), col("events_hi"),
      col("median_lo"), col("median_hi"), col("tau"),
      round(col("rmst_lo"), 9).as("rmst_lo"),
      round(col("rmst_hi"), 9).as("rmst_hi"),
      round(col("rmst_diff"), 9).as("rmst_diff"),
      col("o_lo"), col("e_lo_9"), col("v_9"),
      round(col("z"), 9).as("z"), round(col("chi2"), 9).as("chi2"))

  /** Composed survival dashboard gate: the q326 pattern on the lifetime
    * store — ONE (cohort, duration) cell state feeding per-cohort
    * events/median/RMST, the RMST difference, and the log-rank test in
    * one read; the oracle replays the entire chain from raw events.
    */
  def q336SurvivalDashboard(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    val subj = survivalSubjects(s, dir)
      .withColumn("cohort", (col("user_id") % 2 === 0).cast("string"))
    survivalDashboardSelect(Survival.survivalDashboardFromCells(
      Survival.lifetimeCells(subj, Seq("cohort"), "duration", "event"),
      "cohort", tau = 48L))
  }

  /** The q336 dashboard FROM THE STORE: three disjoint user batches
    * folded via [[graft.operators.Survival.mergeLifetimeCells]] — fold
    * == rebuild under the q336 oracle verbatim.
    */
  def q337SurvivalDashboardFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val subj = graft.plans.Lineage.truncate(survivalSubjects(s, dir))
      .withColumn("cohort", (col("user_id") % 2 === 0).cast("string"))
    def cellsOf(i: Int) = Survival.lifetimeCells(
      subj.filter(col("user_id") % 3 === i), Seq("cohort"), "duration", "event")
    val folded = (1 to 2).foldLeft(cellsOf(0)) { (acc, i) =>
      Survival.mergeLifetimeCells(acc, cellsOf(i), Seq("cohort"))
    }
    survivalDashboardSelect(
      Survival.survivalDashboardFromCells(folded, "cohort", tau = 48L))
  }

  /** Log-rank from-STORE gate: the q286 subjects' (cohort, duration)
    * lifetime cells folded in three disjoint user batches — the
    * `lifetimeCellsStream` state — read by
    * [[graft.operators.Survival.logRankFromCells]] under q286's oracle
    * verbatim: the censoring-aware A/B as a standing read.
    */
  def q294LogRankFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val subj = graft.plans.Lineage.truncate(survivalSubjects(s, dir))
      .withColumn("cohort", (col("user_id") % 2 === 0).cast("string"))
    def batch(i: Int) = Survival.lifetimeCells(
      subj.filter(col("user_id") % 3 === i), Seq("cohort"), "duration", "event")
    val folded = (1 to 2).foldLeft(batch(0))((acc, i) =>
      Survival.mergeLifetimeCells(acc, batch(i), Seq("cohort")))
    Survival.logRankFromCells(folded, Nil, "cohort")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), col("o_lo"), col("e_lo_9"), col("v_9"),
        round(col("z"), 9).as("z"), round(col("chi2"), 9).as("chi2"))
  }

  /** RMST from-STORE gate: the q285 lifetime cells folded in three
    * disjoint user batches, read through
    * [[graft.operators.Survival.kaplanMeierFromCells]] →
    * [[graft.operators.Survival.rmst]] under q291's oracle verbatim:
    * the censoring-proof effect summary as a standing read.
    */
  def q295RmstFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val subj = graft.plans.Lineage.truncate(survivalSubjects(s, dir))
    def batch(i: Int) = Survival.lifetimeCells(
      subj.filter(col("user_id") % 3 === i), Nil, "duration", "event")
    val folded = (1 to 2).foldLeft(batch(0))((acc, i) =>
      Survival.mergeLifetimeCells(acc, batch(i), Nil))
    Survival.rmst(Survival.kaplanMeierFromCells(folded, Nil), Nil, tau = 48L)
      .select(col("tau"), col("t_last"), round(col("rmst"), 9).as("rmst"))
  }

  /** Stratified log-rank gate: the q286 parity A/B adjusted for the
    * user_id mod 3 stratum — per-stratum hypergeometric O/E/V pooled
    * as exact DECIMAL sums (the CMH discipline); the confounder-safe
    * censoring-aware A/B.
    */
  def q296LogRankStratified(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    val subj = survivalSubjects(s, dir)
      .withColumn("cohort", (col("user_id") % 2 === 0).cast("string"))
      .withColumn("stratum", (col("user_id") % 3).cast("string"))
    Survival.logRankStratified(subj, Nil, "stratum", "cohort", "duration", "event")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_strata"),
        col("n_lo"), col("n_hi"), col("o_lo"), col("e_lo_9"), col("v_9"),
        round(col("z"), 9).as("z"), round(col("chi2"), 9).as("chi2"))
  }

  /** Aalen–Johansen gate: time-to-first-outcome under COMPETING causes
    * (the [[competingSubjects]] purchase-vs-error race) — per-cause
    * cumulative incidence CIF_k(t) = Σ S(t⁻)·d_k/n beside the
    * all-cause KM curve; the read "1 − cause-censored KM" overstates.
    */
  def q297AalenJohansen(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    Survival.aalenJohansen(competingSubjects(s, dir), Nil, "duration", "cause")
      .select(col("t"), col("ev_type"), col("n_risk"), col("n_event"),
        round(col("survival"), 9).as("survival"),
        round(col("cif"), 9).as("cif"))
      .orderBy("t", "ev_type")
  }

  /** CIF from-STORE gate: the q297 typed lifetime cells folded in three
    * disjoint user batches through
    * [[graft.operators.Survival.mergeLifetimeCellsByType]], read by
    * [[graft.operators.Survival.aalenJohansenFromCells]] under q297's
    * oracle verbatim: competing-risks incidence as a standing read.
    */
  def q301CifFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val subj = graft.plans.Lineage.truncate(competingSubjects(s, dir))
    def batch(i: Int) = Survival.lifetimeCellsByType(
      subj.filter(col("user_id") % 3 === i), Nil, "duration", "cause")
    val folded = (1 to 2).foldLeft(batch(0))((acc, i) =>
      Survival.mergeLifetimeCellsByType(acc, batch(i), Nil))
    Survival.aalenJohansenFromCells(folded, Nil)
      .select(col("t"), col("ev_type"), col("n_risk"), col("n_event"),
        round(col("survival"), 9).as("survival"),
        round(col("cif"), 9).as("cif"))
      .orderBy("t", "ev_type")
  }

  /** Median-survival gate: the smallest duration each parity cohort's
    * KM curve reaches S ≤ 1/2 — NULL when more than half the cohort
    * outlives the window (the answer a naive duration median gets
    * wrong under censoring). The nano-integer ln-sum spacing keeps the
    * 0.5 crossing off any float boundary.
    */
  def q302MedianSurvival(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    val subj = survivalSubjects(s, dir)
      .withColumn("cohort", (col("user_id") % 2 === 0).cast("string"))
    Survival.medianSurvival(
      Survival.kaplanMeier(subj, Seq("cohort"), "duration", "event"),
      Seq("cohort"))
      .orderBy("cohort")
  }

  /** CUPED gate: the parity A/B on per-user odd-half event count,
    * adjusted by the even-half count as the pre-period covariate —
    * exact DECIMAL moments, pooled θ one division, the variance-reduced
    * effect + CI beside the raw difference, rho2 the reduction bought.
    */
  def q298Cuped(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val perUser = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("x"),
        sum(when(col("event_id") % 2 =!= 0, 1L).otherwise(0L)).as("y"))
      .withColumn("arm", (col("user_id") % 2 === 0).cast("string"))
    Association.cuped(perUser, Nil, "arm", "y", "x")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), round(col("theta"), 9).as("theta"),
        round(col("rho2"), 9).as("rho2"),
        round(col("effect_raw"), 9).as("effect_raw"),
        round(col("effect_cuped"), 9).as("effect_cuped"),
        round(col("se_cuped"), 9).as("se_cuped"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
  }

  /** mSPRT two-proportion gate: the always-valid monitor over 12
    * sequential peeks (event_id mod 12) of the parity A/B on
    * P(value ≥ 250) — cumulative exact counts, nano ln Λ per peek,
    * running-best evidence, always-valid p and the integer-boundary
    * reject verdict at α = 0.05. τ² = 2⁻¹² (binary-exact).
    */
  def q299MsprtTwoProp(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.SequentialTests
    SequentialTests.msprtTwoProportion(peekIncrements(s, dir), Nil, "peek",
        "n1", "s1", "n2", "s2", tau2 = 0.000244140625d, alpha = 0.05d)
      .select(col("peek"), col("n_lo"), col("s_lo"), col("n_hi"), col("s_hi"),
        round(col("delta"), 9).as("delta"), col("ln_lr9"),
        round(col("p_always_valid"), 9).as("p_always_valid"), col("reject"))
      .orderBy("peek")
  }

  /** The q299 12-peek two-proportion increment state — shared by the
    * mSPRT monitor and the group-sequential boundaries (both fixed and
    * always-valid monitors read the SAME fold shape).
    */
  private def peekIncrements(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select((col("event_id") % 12).as("peek"),
        (col("user_id") % 2 === 0).as("__even"),
        (col("value") >= 250d).cast("long").as("__hit"))
    ev.groupBy("peek").agg(
      sum(when(col("__even"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("__even"), col("__hit")).otherwise(0L)).as("s1"),
      sum(when(!col("__even"), 1L).otherwise(0L)).as("n2"),
      sum(when(!col("__even"), col("__hit")).otherwise(0L)).as("s2"))
  }

  private def gsQuery(s: SparkSession, dir: String, spending: String): DataFrame = {
    import graft.quality.GroupSequential
    GroupSequential.groupSequentialTwoProportion(peekIncrements(s, dir),
        Nil, "peek", "n1", "s1", "n2", "s2",
        k = 12, alpha = 0.05d, spending = spending)
      .select(col("peek"), col("look"), round(col("t_frac"), 9).as("t_frac"),
        col("n_lo"), col("s_lo"), col("n_hi"), col("s_hi"),
        round(col("z"), 9).as("z"),
        round(col("alpha_spent"), 9).as("alpha_spent"),
        round(col("z_bound"), 9).as("z_bound"),
        col("reject_at"), col("crossed"))
      .orderBy("peek")
  }

  /** Group-sequential gate (O'Brien–Fleming-like spending): the q299
    * increment state read through the FIXED-HORIZON industry standard —
    * 12 planned looks, Lan–DeMets boundaries from the deterministic
    * driver-side recursion (published-table-anchored), nano-integer
    * boundary comparisons, the monotone crossed flag.
    */
  def q330GroupSeqObf(s: SparkSession, dir: String): DataFrame =
    gsQuery(s, dir, "obf")

  /** Group-sequential gate (Pocock-like spending): same state, the
    * aggressive-early-look boundary family.
    */
  def q331GroupSeqPocock(s: SparkSession, dir: String): DataFrame =
    gsQuery(s, dir, "pocock")

  /** Conditional-power gate: the futility read over the q299 increment
    * state — at each of the 12 looks, the probability the fixed final
    * test still rejects under θ = 0, the current trend, and the
    * designed 2-point effect (Lan–Wittes B-values, Φ in-engine).
    */
  def q335ConditionalPower(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.GroupSequential
    GroupSequential.conditionalPowerTwoProportion(peekIncrements(s, dir),
        Nil, "peek", "n1", "s1", "n2", "s2", k = 12, deltaDesign = 0.02d)
      .select(col("peek"), col("look"), round(col("t_frac"), 9).as("t_frac"),
        col("n_lo"), col("s_lo"), col("n_hi"), col("s_hi"),
        round(col("z"), 9).as("z"),
        round(col("cp_null"), 9).as("cp_null"),
        round(col("cp_trend"), 9).as("cp_trend"),
        round(col("cp_design"), 9).as("cp_design"))
      .orderBy("peek")
  }

  /** mSPRT mean-drift gate: the same 12 peeks monitoring the parity
    * arms' mean floor(value) — exact cumulative moment sums, the Welch
    * plug-in variance, nano ln Λ, always-valid p. τ² = 1 (exact).
    */
  /** The q300 12-peek mean-moment increment state — shared by the mSPRT
    * mean monitor and its group-sequential twin.
    */
  private def peekMeanIncrements(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select((col("event_id") % 12).as("peek"),
        (col("user_id") % 2 === 0).as("__even"),
        floor(col("value")).cast("long").as("__m"))
    ev.groupBy("peek").agg(
      sum(when(col("__even"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("__even"), col("__m")).otherwise(0L)).as("s1"),
      sum(when(col("__even"), col("__m") * col("__m")).otherwise(0L)).as("q1"),
      sum(when(!col("__even"), 1L).otherwise(0L)).as("n2"),
      sum(when(!col("__even"), col("__m")).otherwise(0L)).as("s2"),
      sum(when(!col("__even"), col("__m") * col("__m")).otherwise(0L)).as("q2"))
  }

  /** Group-sequential gate (mean metric): the q300 moment state read
    * through the Lan–DeMets OBF boundaries — the Welch plug-in z per
    * look against the same pinned constants as q330.
    */
  def q332GroupSeqMean(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.GroupSequential
    GroupSequential.groupSequentialMean(peekMeanIncrements(s, dir),
        Nil, "peek", "n1", "s1", "q1", "n2", "s2", "q2",
        k = 12, alpha = 0.05d, spending = "obf")
      .select(col("peek"), col("look"), round(col("t_frac"), 9).as("t_frac"),
        col("n_lo"), col("sum_lo"), col("n_hi"), col("sum_hi"),
        round(col("z"), 9).as("z"),
        round(col("alpha_spent"), 9).as("alpha_spent"),
        round(col("z_bound"), 9).as("z_bound"),
        col("reject_at"), col("crossed"))
      .orderBy("peek")
  }

  def q300MsprtMean(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.SequentialTests
    SequentialTests.msprtMean(peekMeanIncrements(s, dir), Nil, "peek",
        "n1", "s1", "q1", "n2", "s2", "q2", tau2 = 1.0d, alpha = 0.05d)
      .select(col("peek"), col("n_lo"), col("sum_lo"), col("n_hi"), col("sum_hi"),
        round(col("delta"), 9).as("delta"), col("ln_lr9"),
        round(col("p_always_valid"), 9).as("p_always_valid"), col("reject"))
      .orderBy("peek")
  }

  /** OLS regression gate: the price-on-quantity line per return flag —
    * slope/intercept/R² as pure rationals over exact integer moments
    * (num/den digit strings; each surface one division, R² on doubles).
    */
  def q225Regression(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"),
      round(col("l_quantity")).cast("long").as("qty"),
      round(col("l_extendedprice") * 100).cast("long").as("price_c"))
    Profiler.regression(li, Seq("l_returnflag"), "qty", "price_c")
      .select(col("l_returnflag"), col("n"), col("num"), col("den"),
        round(col("slope"), 9).as("slope"),
        round(col("intercept"), 9).as("intercept"),
        round(col("r2"), 9).as("r2"))
      .orderBy("l_returnflag")
  }

  /** Changepoint gate: where does each type's hourly count series stray
    * farthest from its no-change diagonal — the selected row's exact D
    * digit string, the Brownian-bridge statistic at 9 decimals, and the
    * exact-integer α = 0.05 verdict.
    */
  def q226Changepoint(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    val counts = TimeSeries.resampleCounts(
      Tables.events(s, dir).select("event_type", "ts"), Seq("event_type"), "ts")
    TimeSeries.changepoint(counts, Seq("event_type"), "slot", "n")
      .select(col("event_type"),
        date_format(col("cp_at"), "yyyy-MM-dd HH:mm:ss").as("cp_hr"),
        col("cp_t"), col("n"), col("d"),
        round(col("stat"), 9).as("stat"), col("changed"))
      .orderBy("event_type")
  }

  /** Changepoint-from-STORE gate: hourly slot counts folded in three
    * disjoint batches through the [[graft.operators.TimeSeries
    * .mergeSlotCounts]] streaming state (the
    * `StreamingOps.slotCountsStream` discipline), densified, and
    * scanned for the max-CUSUM changepoint — so the standing-store path
    * the whole trend family rides at 100 TB carries its own
    * CORRECTNESS row under the SAME oracle as the batch q226:
    * fold == rebuild, hash-gated.
    */
  def q246ChangepointFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    val ev = Tables.events(s, dir).select("event_type", "ts", "event_id")
    def batch(i: Int) = TimeSeries.slotCounts(
      ev.filter(col("event_id") % 3 === i).select("event_type", "ts"),
      Seq("event_type"), "ts")
    val folded = (1 to 2).foldLeft(batch(0))((acc, i) =>
      TimeSeries.mergeSlotCounts(acc, batch(i), Seq("event_type")))
    val counts = TimeSeries.densifyCounts(folded, Seq("event_type"))
    TimeSeries.changepoint(counts, Seq("event_type"), "slot", "n")
      .select(col("event_type"),
        date_format(col("cp_at"), "yyyy-MM-dd HH:mm:ss").as("cp_hr"),
        col("cp_t"), col("n"), col("d"),
        round(col("stat"), 9).as("stat"), col("changed"))
      .orderBy("event_type")
  }

  /** CMH-from-STORE gate: the per-stratum (variant, success) counts
    * folded in three disjoint batches through
    * [[graft.quality.Association.mergeContingencyCounts]] — the
    * `contingencyStream` state IS the CMH streaming state — then read
    * by [[graft.quality.Association.cmhFromCounts]] under q245's
    * oracle: fold == rebuild, hash-gated.
    */
  def q249CmhFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val d = Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      when(col("doc_id") % 2 === 0, "even").otherwise("odd").as("variant"),
      (col("n_chars") >= 256L).cast("long").as("hi"))
      .filter(col("lang").isNotNull && col("hi").isNotNull)
    def batch(i: Int) = Association.contingencyCounts(
      d.filter(col("doc_id") % 3 === i), Seq("lang"), "variant", "hi")
    val folded = (1 to 2).foldLeft(batch(0))((acc, i) =>
      Association.mergeContingencyCounts(acc, batch(i), Seq("lang")))
    Association.cmhFromCounts(folded, "lang", "x", "y", "n")
      .select(col("n_strata"), col("n_used"), col("n_multi"), col("sum_a"),
        col("e_sum9"), col("var_sum9"), round(col("cmh"), 9).as("cmh"),
        round(col("or_mh"), 9).as("or_mh"))
  }

  /** Brown–Forsythe gate: do event types share a SCALE of milli-values
    * — the median-centered variance ANOVA on the cell layout (exact
    * integer medians and deviations, nano between/within terms, W one
    * fixed dag). The dispersion companion of q215's location test.
    */
  def q250BrownForsythe(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir).select(col("event_type"),
      round(col("value") * 1000).cast("long").as("v_m"))
    Association.brownForsythe(ev, Nil, "event_type", "v_m")
      .select(col("grp"), col("n_g"), col("med"), col("s_abs"),
        col("n"), col("k"), round(col("w"), 9).as("w"))
      .orderBy("grp")
  }

  /** Benjamini–Hochberg gate: a 25-test battery (one test per
    * (lang, source) cell, p-values the deterministic md5 uniform — the
    * q95 convention, so the CONTROL MECHANICS are what's gated), exact
    * integer step inequality, step-up closure. The alarm-pager's
    * battery-level correction.
    */
  def q251BhFdr(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.MultipleTesting
    val battery = Tables.documents(s, dir)
      .select(concat(col("lang"), lit(":"), col("source")).as("id"))
      .distinct()
      .withColumn("p9",
        conv(substring(md5(col("id")), 1, 15), 16, 10).cast("long") % 1000000000L)
    MultipleTesting.benjaminiHochberg(battery, Nil, Seq("id"), "p9")
      .select(col("id"), col("p9"), col("rank"), col("m"), col("n_null"),
        col("is_candidate"), col("rejected"))
      .orderBy("rank")
  }

  /** McNemar gate: the paired filter A/B on the SAME documents — does
    * the char-length gate (n_chars >= 256) agree with the word-count
    * gate (>= 40 tokens); exact quadrant counts, the discordant-pair
    * statistic, the exact-integer alpha = .05 verdict.
    */
  def q254Mcnemar(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val d = Tables.documents(s, dir)
      .filter(col("n_chars").isNotNull && col("text").isNotNull)
      .select(
        (col("n_chars") >= 256L).as("a"),
        (size(expr("filter(split(lower(text), '\\\\s+'), t -> t != '')")) >= 40).as("b"))
    Association.mcnemar(d, Nil, "a", "b")
      .select(col("n"), col("both_pass"), col("only_a"), col("only_b"),
        col("neither"), round(col("mcnemar"), 9).as("mcnemar"), col("significant"))
  }

  /** Runs-test gate: is each type's hourly count series RANDOM around
    * its own lower median — the clumping/oscillation read orthogonal to
    * q216's monotone trend; exact run/class counts and the integer
    * variance numerator, z one fixed dag.
    */
  def q255RunsTest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    val counts = TimeSeries.resampleCounts(
      Tables.events(s, dir).select("event_type", "ts"), Seq("event_type"), "ts")
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("n"), col("slot"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val med = counts
      .withColumn("__rk", row_number().over(wRank))
      .withColumn("__cnt", count(lit(1)).over(wAll))
      .filter(col("__rk") === expr("(__cnt + 1) div 2"))
      .select(col("event_type"), col("n").as("__med"))
    val flagged = counts.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("slot"),
        (col("n") >= col("__med")).cast("long").as("above"))
    TimeSeries.runsTest(flagged, Seq("event_type"), "slot", "above")
      .select(col("event_type"), col("n"), col("n0"), col("n1"), col("r"),
        col("var_num"), round(col("z"), 9).as("z"))
      .orderBy("event_type")
  }

  /** Rank-family from-STORE gates (q256–q258): the [[graft.quality
    * .Association.rankCells]] state folded in three disjoint batches
    * through [[graft.quality.Association.mergeRankCells]], then read by
    * each test's FromCells form under the batch arm's oracle verbatim —
    * location (KW), two-sample (MW) and scale (BF) all standing reads
    * over one store.
    */
  def q256KwFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"),
      round(col("value") * 1000).cast("long").as("v_m"))
    def batch(i: Int) = Association.rankCells(
      ev.filter(col("event_id") % 3 === i), Nil, "event_type", "v_m")
    val folded = (1 to 2).foldLeft(batch(0))((acc, i) =>
      Association.mergeRankCells(acc, batch(i), Nil))
    Association.kruskalWallisFromCells(folded, Nil)
      .select(col("grp"), col("n_g"), col("r2_sum"), col("d"), col("n"),
        round(col("h"), 9).as("h"), round(col("h_tie"), 9).as("h_tie"))
      .orderBy("grp")
  }

  def q257MwFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("event_type"),
        round(col("value") * 1000).cast("long").as("v_m"))
    def batch(i: Int) = Association.rankCells(
      ev.filter(col("event_id") % 3 === i), Nil, "event_type", "v_m")
    val folded = (1 to 2).foldLeft(batch(0))((acc, i) =>
      Association.mergeRankCells(acc, batch(i), Nil))
    Association.mannWhitneyFromCells(folded, Nil)
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), col("u2_lo"), col("u2_hi"), col("var_num"),
        round(col("z"), 9).as("z"),
        round(col("cliffs_delta"), 9).as("cliffs_delta"))
      .orderBy("grp_lo")
  }

  def q258BfFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"),
      round(col("value") * 1000).cast("long").as("v_m"))
    def batch(i: Int) = Association.rankCells(
      ev.filter(col("event_id") % 3 === i), Nil, "event_type", "v_m")
    val folded = (1 to 2).foldLeft(batch(0))((acc, i) =>
      Association.mergeRankCells(acc, batch(i), Nil))
    Association.brownForsytheFromCells(folded, Nil)
      .select(col("grp"), col("n_g"), col("med"), col("s_abs"),
        col("n"), col("k"), round(col("w"), 9).as("w"))
      .orderBy("grp")
  }

  /** W₁-from-STORE gate: BOTH halves' bucket histograms folded in three
    * disjoint batches through [[graft.quality.Profiler
    * .mergeBucketCounts]] (the bucketCountsStream state), then
    * [[graft.quality.Profiler.wassersteinFromCounts]] over the two
    * standing stores — q222's oracle verbatim.
    */
  def q261W1FromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val ev = Tables.events(s, dir)
      .select(col("event_id"),
        floor(round(col("value") * 1000).cast("long") / lit(5000d)).cast("long").as("bkt"))
    def fold(half: DataFrame) = (1 to 2).foldLeft(
        Profiler.bucketCounts(half.filter(col("event_id") % 6 < 2), "bkt")) { (acc, i) =>
      Profiler.mergeBucketCounts(acc,
        Profiler.bucketCounts(
          half.filter(col("event_id") % 6 >= i * 2 && col("event_id") % 6 < i * 2 + 2), "bkt"))
    }
    Profiler.wassersteinFromCounts(
      fold(ev.filter(col("event_id") % 2 === 0)),
      fold(ev.filter(col("event_id") % 2 === 1)))
      .select(col("n_base"), col("n_cur"), col("w1_num"),
        round(col("w1"), 9).as("w1"))
  }

  /** OLAP cube gate: the profile card at EVERY aggregation level in one
    * pass — native GROUPING SETS (Spark cube == DuckDB CUBE), exact
    * counts/sums, grouping_id disambiguating aggregated-NULL from
    * data-NULL. The "slice the corpus by anything" dashboard read.
    */
  def q263ProfileCube(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .cube(col("lang"), col("source"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("chars"))
      .select(col("gid"), col("lang"), col("source"), col("n_docs"), col("chars"))
      .orderBy(col("gid"), col("lang"), col("source"))

  /** Weighted-median gate: the price-weighted median quantity per
    * return flag — per-(key, value) weight cells, one cumulative window
    * over distinct values, the (W+1) div 2 lower-median pin.
    */
  def q264WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag"), col("l_quantity").cast("long").as("qty"),
      // FLOOR before the long cast: cents decimals truncate the same
      // way on both engines (DuckDB's decimal->int cast rounds)
      floor(col("l_extendedprice")).cast("long").as("w"))
    Quantiles.weightedMedian(li, Seq("l_returnflag"), "qty", "w")
      .select(col("l_returnflag"), col("total_w"), col("med_rank"), col("median"))
      .orderBy("l_returnflag")
  }

  /** Weighted-median from-STORE gate: the q264 weight cells folded in
    * three disjoint batches through [[graft.operators.Quantiles
    * .mergeValueCells]] (the valueCellsStream state), read by
    * [[graft.operators.Quantiles.weightedMedianFromCells]] — q264's
    * oracle verbatim; the location read of the value-cell store family
    * (q276 gates its shift read).
    */
  def q281WeightedMedianFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val li = Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_returnflag"), col("l_quantity").cast("long").as("qty"),
      floor(col("l_extendedprice")).cast("long").as("w"))
    def batch(i: Int) = Quantiles.valueCells(
      li.filter(col("l_orderkey") % 3 === i), Seq("l_returnflag"), "qty", Some("w"))
    val folded = (1 to 2).foldLeft(batch(0))((acc, i) =>
      Quantiles.mergeValueCells(acc, batch(i), Seq("l_returnflag")))
    Quantiles.weightedMedianFromCells(folded, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("total_w"), col("med_rank"), col("median"))
      .orderBy("l_returnflag")
  }

  /** Neyman-allocation gate: 200 eval slots across languages ∝ N_h·σ_h
    * of document length — exact DECIMAL variance numerators, the
    * micro-scaled √ weight, Hamilton seats summing to the budget.
    */
  def q266NeymanAllocation(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.neymanAllocation(
      Tables.documents(s, dir).select("lang", "n_chars"),
      Nil, "lang", "n_chars", budget = 200L)
      .select(col("stratum"), col("n_h"), col("var_num"), col("w6"), col("seats"))
      .orderBy("stratum")
  }

  /** Quantile-shift gate: per-quantile movement of event milli-values
    * between the even/odd halves — exact lower-rank selections at
    * p10/25/50/75/90 per side, long-form (keys, p) rows, one
    * subtraction per shift.
    */
  def q267QuantileShift(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 1000).cast("long").as("v_m"))
    Quantiles.quantileShift(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1),
      Seq("event_type"), "v_m", "event_id")
      .select(col("event_type"), col("n_base"), col("n_cur"), col("p"),
        col("v_base"), col("v_cur"), col("shift"))
      .orderBy("event_type", "p")
  }

  /** Quantile-treatment-effect gate: per event type, the p10–p90
    * quantile gaps of milli-values between the user-parity arms —
    * exact lower-rank selections per arm, qte oriented lo − hi by
    * label (the welchT sign), long-form (keys, p) rows.
    */
  def q350Qte(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull && col("user_id").isNotNull)
      .select(col("event_type"),
        (col("user_id") % 2 === 0).cast("string").as("arm"),
        col("event_id"),
        round(col("value") * 1000).cast("long").as("v_m"))
    Quantiles.quantileTreatmentEffect(ev, Seq("event_type"), "arm",
        "v_m", "event_id", ("false", "true"))
      .select(col("event_type"), col("n_lo"), col("n_hi"), col("p"),
        col("v_lo"), col("v_hi"), col("qte"))
      .orderBy("event_type", "p")
  }

  /** Skew-safe quantile-shift gate — [[graft.operators.Quantiles
    * .quantileShiftBucketed]] on the q267 shape: each side's target
    * ranks pinned to their value cells, only those cells' rows ranked,
    * bit-identical long-form output under q267's oracle verbatim. The
    * twin that closes the last group-unbounded sort in the repo.
    */
  def q273QuantileShiftBucketed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 1000).cast("long").as("v_m"))
    Quantiles.quantileShiftBucketed(
      ev.filter(col("event_id") % 2 === 0),
      ev.filter(col("event_id") % 2 === 1),
      Seq("event_type"), "v_m", "event_id")
      .select(col("event_type"), col("n_base"), col("n_cur"), col("p"),
        col("v_base"), col("v_cur"), col("shift"))
      .orderBy("event_type", "p")
  }

  /** Quantile-shift from-STORE gate: BOTH snapshots' value cells folded
    * in three disjoint batches through [[graft.operators.Quantiles
    * .mergeValueCells]] (the valueCellsStream state), then
    * [[graft.operators.Quantiles.quantileShiftFromCells]] over the two
    * standing stores — q267's oracle verbatim; no row ever enters a
    * sort, both windows run over the value-cardinality cell frames.
    */
  def q276QuantileShiftFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 1000).cast("long").as("v_m"))
    def fold(half: DataFrame) = (1 to 2).foldLeft(
        Quantiles.valueCells(half.filter(col("event_id") % 6 < 2),
          Seq("event_type"), "v_m")) { (acc, i) =>
      Quantiles.mergeValueCells(acc,
        Quantiles.valueCells(
          half.filter(col("event_id") % 6 >= i * 2 && col("event_id") % 6 < i * 2 + 2),
          Seq("event_type"), "v_m"),
        Seq("event_type"))
    }
    Quantiles.quantileShiftFromCells(
      fold(ev.filter(col("event_id") % 2 === 0)),
      fold(ev.filter(col("event_id") % 2 === 1)),
      Seq("event_type"))
      .select(col("event_type"), col("n_base"), col("n_cur"), col("p"),
        col("v_base"), col("v_cur"), col("shift"))
      .orderBy("event_type", "p")
  }

  /** Cohen's-d gate: the mean-based effect size between click and view
    * milli-values — exact DECIMAL variance numerators and mean-diff
    * cross product, d and Hedges' g fixed dags; the parametric
    * companion of q221's Cliff's delta.
    */
  def q271CohensD(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), round(col("value") * 1000).cast("long").as("v_m"))
    Association.cohensD(ev, Nil, "event_type", "v_m")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), col("diff_num"), col("var_num_lo"), col("var_num_hi"),
        round(col("d"), 9).as("d"),
        round(col("g_hedges"), 9).as("g_hedges"))
  }

  /** Fleiss-kappa gate: a FIXED three-judge panel (char-length,
    * word-count, doc-id-parity gates) over every document, m = 3 — plus
    * a partial fourth judge on every 5th doc, so those units carry 4
    * ratings and drop WHOLE into n_incomplete (the fixed-m flag). Exact
    * DECIMAL agreement/margin numerators, κ one integer-over-integer
    * division.
    */
  def q277FleissKappa(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RankEval
    val d = Tables.documents(s, dir).select("doc_id", "n_chars", "text")
    val j1 = d.select(col("doc_id"),
      (col("n_chars") >= 256L).cast("string").as("label"))
    val j2 = d.select(col("doc_id"),
      (size(expr("filter(split(lower(text), '\\\\s+'), t -> t != '')")) >= 40)
        .cast("string").as("label"))
    val j3 = d.select(col("doc_id"), (col("doc_id") % 2 === 0).cast("string").as("label"))
    val j4 = d.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), (col("n_chars") >= 512L).cast("string").as("label"))
    RankEval.fleissKappa(j1.unionAll(j2).unionAll(j3).unionAll(j4), "doc_id", "label", m = 3)
      .select(col("n_units"), col("m"), col("n_incomplete"),
        col("p_num"), col("pe_num"),
        round(col("p_obs"), 9).as("p_obs"),
        round(col("p_exp"), 9).as("p_exp"),
        round(col("kappa"), 9).as("kappa"))
  }

  /** One-way ANOVA gate: do event types share a MEAN of milli-values —
    * the parametric location companion of q215's Kruskal–Wallis and
    * q250's Brown–Forsythe scale test (same exact-moments dag with
    * z = x, no median pass); exact DECIMAL deviations, nano
    * between/within terms, F one fixed dag.
    */
  def q278AnovaF(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir).select(col("event_type"),
      round(col("value") * 1000).cast("long").as("v_m"))
    Association.oneWayAnova(ev, Nil, "event_type", "v_m")
      .select(col("grp"), col("n_g"), col("s"), col("n"), col("k"),
        round(col("f"), 9).as("f"))
      .orderBy("grp")
  }

  /** Welch-t gate: click vs view milli-values under unequal variances —
    * the inference companion of q271's Cohen's d (same exact moments,
    * same 2-label pivot); t and the Welch–Satterthwaite df fixed dags.
    */
  def q279WelchT(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), round(col("value") * 1000).cast("long").as("v_m"))
    Association.welchT(ev, Nil, "event_type", "v_m")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), col("diff_num"), col("var_num_lo"), col("var_num_hi"),
        round(col("t"), 9).as("t"),
        round(col("df"), 9).as("df"))
  }

  /** Yuen trimmed-means t gate: the q279 click-vs-view comparison made
    * ROBUST — 20%-trimmed means with the winsorized variance and
    * Welch–Satterthwaite df on the kept counts, exact rank selections
    * and DECIMAL sums throughout.
    */
  def q351YuenT(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view") && col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 1000).cast("long").as("v_m"))
    Association.yuenT(ev, Nil, "event_type", "v_m", "event_id", trimPct = 20)
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"),
        col("n_lo"), col("n_hi"), col("g_lo"), col("g_hi"),
        col("h_lo"), col("h_hi"),
        round(col("mean_trim_lo"), 9).as("mean_trim_lo"),
        round(col("mean_trim_hi"), 9).as("mean_trim_hi"),
        round(col("effect_trim"), 9).as("effect_trim"),
        round(col("t"), 9).as("t"),
        round(col("df"), 9).as("df"))
  }

  /** The paired-design per-user fixture: both "conditions" observed on
    * every unit — the even-event and odd-event counts of the same user
    * (the matched pre/post analogue; the between-user activity variance
    * cancels in the difference).
    */
  private def pairedPerUser(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("x"),
        sum(when(col("event_id") % 2 =!= 0, 1L).otherwise(0L)).as("y"))

  /** Paired t gate: the per-user even-vs-odd event counts as matched
    * conditions — exact Σd/Σd² moments, t = Σd·√(n−1)/√(nΣd²−(Σd)²),
    * df = n − 1.
    */
  def q352PairedT(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    Association.pairedT(pairedPerUser(s, dir), Nil, "x", "y")
      .select(col("n"), round(col("mean_diff"), 9).as("mean_diff"),
        col("var_num"), round(col("t"), 9).as("t"),
        round(col("df"), 9).as("df"))
  }

  /** Wilcoxon signed-rank gate: the same paired fixture through the
    * tie-corrected rank test — zero diffs dropped flagged, doubled
    * average ranks exact, the quadrupled z form.
    */
  def q353WilcoxonSignedRank(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    Association.wilcoxonSignedRank(pairedPerUser(s, dir), Nil, "x", "y")
      .select(col("n"), col("n_zero"), col("w2_plus"), col("var_num"),
        round(col("z"), 9).as("z"))
  }

  /** The q352/q353 reads FROM THE STORE: the paired fixture split into
    * three complete-unit batches (user_id mod 3), each batch's diff
    * cells folded via
    * [[graft.quality.Association.mergePairedDiffCells]], then BOTH
    * matched tests over the one folded state — fold == rebuild under
    * the direct gates' oracles verbatim.
    */
  private def pairedDiffCellsFolded(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    // one execution of the row-scale per-unit aggregation (r18 truncate)
    val pu = graft.plans.Lineage.truncate(pairedPerUser(s, dir))
    def cellsOf(i: Int) = Association.pairedDiffCells(
      pu.filter(col("user_id") % 3 === i), Nil, "x", "y")
    (1 to 2).foldLeft(cellsOf(0)) { (acc, i) =>
      Association.mergePairedDiffCells(acc, cellsOf(i), Nil)
    }
  }

  def q354PairedTFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    Association.pairedTFromCells(pairedDiffCellsFolded(s, dir), Nil)
      .select(col("n"), round(col("mean_diff"), 9).as("mean_diff"),
        col("var_num"), round(col("t"), 9).as("t"),
        round(col("df"), 9).as("df"))
  }

  def q355WilcoxonFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    Association.wilcoxonSignedRankFromCells(pairedDiffCellsFolded(s, dir), Nil)
      .select(col("n"), col("n_zero"), col("w2_plus"), col("var_num"),
        round(col("z"), 9).as("z"))
  }

  /** TOST equivalence gate: per-user conversion compared under TWO
    * splits of the same corpus — the parity split (twin-like arms:
    * genuinely EQUIVALENT at the ±0.15 margin) and the mod-3 split
    * (unbalanced arms with a real −0.08 gap: NOT equivalent) — so the
    * verdict column discriminates in both directions in one battery.
    */
  def q356Tost(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val pu = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(max(when(col("value") >= 250d, 1L).otherwise(0L)).as("__h"))
      .withColumn("hit", col("__h") > 0L)
    val both = pu.select(lit("parity").as("split"),
        (col("user_id") % 2 === 0).cast("string").as("arm"), col("hit"))
      .unionByName(pu.select(lit("third").as("split"),
        (col("user_id") % 3 === 0).cast("string").as("arm"), col("hit")))
    Association.tostTwoProportion(both, Seq("split"), "arm", "hit",
        margin = 0.15d, alpha = 0.05d)
      .select(col("split"), col("grp_lo"), col("grp_hi"), col("n_groups"),
        col("n_lo"), col("s_lo"), col("n_hi"), col("s_hi"),
        round(col("delta"), 9).as("delta"), round(col("se"), 9).as("se"),
        round(col("z_lower"), 9).as("z_lower"),
        round(col("z_upper"), 9).as("z_upper"),
        round(col("p_tost"), 9).as("p_tost"), col("equivalent"))
      .orderBy("split")
  }

  /** TOST-mean gate: milli-value means under TWO comparisons — the
    * event-id parity split of all events (twin-like: genuinely
    * equivalent at the ±4000 milli margin) and click-vs-view (a real
    * ~2.4-unit gap with similar se: not equivalent).
    */
  def q357TostMean(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        round(col("value") * 1000).cast("long").as("v_m"))
    val both = ev.select(lit("parity").as("split"),
        (col("event_id") % 2 === 0).cast("string").as("arm"), col("v_m"))
      .unionByName(ev.filter(col("event_type").isin("click", "view"))
        .select(lit("type").as("split"), col("event_type").as("arm"), col("v_m")))
    Association.tostMean(both, Seq("split"), "arm", "v_m",
        margin = 4000d, alpha = 0.05d)
      .select(col("split"), col("grp_lo"), col("grp_hi"), col("n_groups"),
        col("n_lo"), col("n_hi"),
        round(col("delta"), 9).as("delta"), round(col("se"), 9).as("se"),
        round(col("z_lower"), 9).as("z_lower"),
        round(col("z_upper"), 9).as("z_upper"),
        round(col("p_tost"), 9).as("p_tost"), col("equivalent"))
      .orderBy("split")
  }

  /** Hodges–Lehmann gate: the paired shift ESTIMATE beside q353's test
    * — the lower-median Walsh average of the q352 per-user differences,
    * exact from the diff-cell pair grid.
    */
  def q358HodgesLehmann(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    Association.hodgesLehmann(pairedPerUser(s, dir), Nil, "x", "y")
      .select(col("n_pairs2"), col("hl2"), round(col("hl"), 9).as("hl"))
  }

  /** Binned Cramér–von Mises gate: the INTEGRATED CDF gap on the q101
    * histogram shape (even vs odd users' event values) — per bucket the
    * exact cross-multiplied gap and combined mass; KS's max-gap blind
    * spot (everywhere-slightly-off drift) covered by the same standing
    * histogram store.
    */
  def q280CvmDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val ev = Tables.events(s, dir).select("user_id", "value")
    Profiler.cvmDrift(
      base = ev.filter(col("user_id") % 2 === 0),
      cur = ev.filter(col("user_id") % 2 === 1),
      column = "value", lo = 0.0, hi = 100.0, nBuckets = 10)
      .select(col("bucket"), col("n_base"), col("n_cur"),
        col("cum_base"), col("cum_cur"),
        col("gap_num").cast("long").as("gap_num"), col("cell_tot"))
      .orderBy("bucket")
  }

  /** Waterfilling gate: a 120-doc budget per language across sources —
    * the exact integer cap (heavy sources capped, light ones whole) and
    * each source's allocation.
    */
  def q227Waterfill(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val counts = Tables.documents(s, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("n_docs"))
    Sampling.waterfillAllocation(counts, Seq("lang"), "n_docs", budget = 120L)
      .select(col("lang"), col("source"), col("n_docs"), col("cap"), col("alloc"))
      .orderBy("lang", "source")
  }

  /** Wasserstein-1 drift gate: how far did the event-value distribution
    * MOVE between the even- and odd-keyed halves — 5-unit buckets, the
    * exact integer CDF-gap·support-gap sum as a digit string, W₁ one
    * division (in bucket units).
    */
  def q222WassersteinDrift(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val ev = Tables.events(s, dir)
      .select(col("event_id"),
        // FLOOR division — DuckDB's `//` floors while a /-then-cast
        // truncates toward zero; they diverge on negative supports
        floor(round(col("value") * 1000).cast("long") / lit(5000d)).cast("long").as("bkt"))
    Profiler.wassersteinDrift(
      base = ev.filter(col("event_id") % 2 === 0),
      cur = ev.filter(col("event_id") % 2 === 1),
      column = "bkt")
      .select(col("n_base"), col("n_cur"), col("w1_num"),
        round(col("w1"), 9).as("w1"))
  }

  /** Seasonal anomaly gate: hourly counts judged against their OWN
    * hour-of-day population — n_phase/sums exact, mean and deviation
    * pinned divisions, the 3σ flag an exact integer comparison.
    */
  def q223SeasonalAnomalies(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    val counts = TimeSeries.resampleCounts(
        Tables.events(s, dir).select("event_type", "ts"), Seq("event_type"), "ts")
      .withColumn("ph", hour(col("slot")))
    TimeSeries.seasonalAnomalies(counts, Seq("event_type"), "ph", "n")
      .select(col("event_type"),
        date_format(col("slot"), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("n"), col("ph"), col("n_phase"),
        round(col("phase_mean"), 9).as("phase_mean"),
        round(col("dev"), 9).as("dev"),
        col("is_anomaly"))
      .orderBy("event_type", "hr")
  }

  /** Mann–Whitney gate: do click and view events share a value
    * location — the two-sample rank test on the cell layout; doubled
    * rank sums, 2·U, and the tie-corrected variance numerator are exact
    * digit strings; z gates at 9 decimals.
    */
  def q221MannWhitney(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), round(col("value") * 1000).cast("long").as("v_m"))
    Association.mannWhitney(ev, Nil, "event_type", "v_m")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), col("u2_lo"), col("u2_hi"), col("var_num"),
        round(col("z"), 9).as("z"),
        round(col("cliffs_delta"), 9).as("cliffs_delta"))
      .orderBy("grp_lo")
  }

  /** Skew-safe twin of [[q217TheilSen]] — the cellScaffold median
    * selection (largest sort = one slope cell, never the O(n²) pair
    * set); same exact statistic, q217's oracle shared verbatim.
    */
  def q220TheilSenBucketed(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    val counts = TimeSeries.resampleCounts(
        Tables.events(s, dir).select("event_type", "ts"), Seq("event_type"), "ts")
      .withColumn("t", col("slot").cast("long"))
    TimeSeries.theilSenBucketed(counts, Seq("event_type"), "t", "n")
      .select(col("event_type"), col("m"), col("dy"), col("dx"),
        round(col("slope") * 3600d, 9).as("slope_hr"),
        round(col("intercept"), 9).as("intercept"))
      .orderBy("event_type")
  }

  /** Anderson–Darling gate: the tail-weighted EDF statistic on the
    * q280 fixture (even vs odd users' event values, the same standing
    * histogram) — per-bucket nano terms over the shared cvm gap frame,
    * A² one division, gated at 9dp.
    */
  def q303AndersonDarling(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val ev = Tables.events(s, dir).select("user_id", "value")
    Profiler.andersonDarling(Profiler.cvmDrift(
      base = ev.filter(col("user_id") % 2 === 0),
      cur = ev.filter(col("user_id") % 2 === 1),
      column = "value", lo = 0.0, hi = 100.0, nBuckets = 10))
      .select(col("n_base"), col("n_cur"), col("n_bins"),
        round(col("a2"), 9).as("a2"))
  }

  /** AD-from-store gate: the q282 three-batch histogram fold per side,
    * then [[graft.quality.Profiler.andersonDarling]] over the folded
    * store — fold == rebuild under the q303 oracle verbatim: the
    * standing drift store now answers KS, CvM AND AD from one state.
    */
  def q304AdFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val ev = Tables.events(s, dir).select("user_id", "event_id", "value")
    def fold(half: DataFrame) = (1 to 2).foldLeft(
        Profiler.histogram(half.filter(col("event_id") % 6 < 2),
          "value", 0.0, 100.0, 10).select(col("bucket"), col("cnt"))) { (acc, i) =>
      Profiler.mergeBucketCounts(acc,
        Profiler.histogram(
          half.filter(col("event_id") % 6 >= i * 2 && col("event_id") % 6 < i * 2 + 2),
          "value", 0.0, 100.0, 10).select(col("bucket"), col("cnt")))
    }
    Profiler.andersonDarling(Profiler.cvmFromHistograms(
      fold(ev.filter(col("user_id") % 2 === 0)),
      fold(ev.filter(col("user_id") % 2 === 1))))
      .select(col("n_base"), col("n_cur"), col("n_bins"),
        round(col("a2"), 9).as("a2"))
  }

  private def edfCardSelect(d: DataFrame): DataFrame =
    d.select(col("n_base"), col("n_cur"), col("n_bins"),
      round(col("ks"), 9).as("ks"), round(col("ks_crit"), 9).as("ks_crit"),
      col("ks_reject"), round(col("cvm_t"), 9).as("cvm_t"), col("cvm_reject"),
      round(col("a2"), 9).as("a2"), col("ad_reject"))

  /** EDF drift-card gate: the composed read of the q303 histogram pair
    * — KS + CvM + AD with their nano-integer verdicts in ONE row from
    * one store state (the drift trilogy's third composition).
    */
  def q343DriftCard(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val ev = Tables.events(s, dir).select("user_id", "value")
    edfCardSelect(Profiler.edfDriftCard(Profiler.cvmDrift(
      base = ev.filter(col("user_id") % 2 === 0),
      cur = ev.filter(col("user_id") % 2 === 1),
      column = "value", lo = 0.0, hi = 100.0, nBuckets = 10)))
  }

  /** Drift card FROM THE STORE: the q304 three-batch histogram fold per
    * side, then the same one-read card — fold == rebuild under the q343
    * oracle verbatim.
    */
  def q344DriftCardFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val ev = Tables.events(s, dir).select("user_id", "event_id", "value")
    def fold(half: DataFrame) = (1 to 2).foldLeft(
        Profiler.histogram(half.filter(col("event_id") % 6 < 2),
          "value", 0.0, 100.0, 10).select(col("bucket"), col("cnt"))) { (acc, i) =>
      Profiler.mergeBucketCounts(acc,
        Profiler.histogram(
          half.filter(col("event_id") % 6 >= i * 2 && col("event_id") % 6 < i * 2 + 2),
          "value", 0.0, 100.0, 10).select(col("bucket"), col("cnt")))
    }
    edfCardSelect(Profiler.edfDriftCard(Profiler.cvmFromHistograms(
      fold(ev.filter(col("user_id") % 2 === 0)),
      fold(ev.filter(col("user_id") % 2 === 1)))))
  }

  /** Delta-method ratio-metric gate: the parity A/B on per-user
    * click-through (clicks / events per user) — the unit-randomized
    * ratio whose per-row proportion test would be wrong; exact DECIMAL
    * moments, per-arm delta-method variance, effect + CI at 9dp.
    */
  def q305DeltaRatio(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val perUser = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        count(lit(1)).as("n_events"))
      .withColumn("arm", (col("user_id") % 2 === 0).cast("string"))
    Association.deltaRatio(perUser, Nil, "arm", "clicks", "n_events")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), round(col("ratio_lo"), 9).as("ratio_lo"),
        round(col("ratio_hi"), 9).as("ratio_hi"),
        round(col("effect"), 9).as("effect"),
        round(col("se"), 9).as("se"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
  }

  /** SRM gate: a deliberately broken 50/50 design — arms A (user
    * deciles 0–4) and B (deciles 5–8) with decile 9 routed to an
    * off-design arm C — so the check must both reject the split (B
    * under target) AND surface the unexpected traffic. Exact counts,
    * per-arm nano χ² terms, df = k−1.
    */
  def q306SrmCheck(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .withColumn("arm",
        when(col("user_id") % 10 < 5, "A")
          .when(col("user_id") % 10 < 9, "B")
          .otherwise("C"))
    Association.srmCheck(ev, Nil, "arm", Seq("A" -> 0.5, "B" -> 0.5))
      .select(col("n_total"), col("n_arms"), col("n_unexpected"),
        col("df"), round(col("chi2"), 9).as("chi2"))
  }

  /** Cochran's Q gate: three binary quality filters (length ≥ 180
    * chars, contains a digit, lang = en) judged on the SAME documents —
    * the matched k-treatment read; Q a pure rational of exact counts,
    * one row per filter with its flag total.
    */
  def q307CochranQ(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"), col("text"), col("lang"))
    val long = d.select(col("doc_id"), lit("len180").as("check"),
        (col("n_chars") >= 180L).as("pass"))
      .unionByName(d.select(col("doc_id"), lit("digit").as("check"),
        col("text").rlike("[0-9]").as("pass")))
      .unionByName(d.select(col("doc_id"), lit("is_en").as("check"),
        (col("lang") === "en").as("pass")))
    Association.cochranQ(long, "doc_id", "check", "pass")
      .select(col("treatment"), col("flagged_n"), col("n_units"), col("k"),
        col("n_incomplete"), round(col("q"), 9).as("q"), col("df"))
      .orderBy("treatment")
  }

  /** Shared calibration fixture: event "probability" score value/100
    * against a deterministic label — the per-event (id, score) and
    * (id, label) frames the calibration family joins.
    */
  private def calibFrames(s: SparkSession, dir: String) = {
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
    val preds = ev.select(col("event_id"), (col("value") / lit(100.0d)).as("score"))
    val labels = ev.select(col("event_id"),
      ((col("user_id") + floor(col("value")).cast("long")) % 5 < 2).as("label"))
    (preds, labels)
  }

  /** ECE gate: the calibration honesty panel — exact integer gap
    * numerators per bucket (n_pos·10⁹ − Σ nano scores), ECE one
    * division, MCE, and the Murphy Brier decomposition off one
    * 10-bucket cell state.
    */
  def q309Ece(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RankEval
    val (preds, labels) = calibFrames(s, dir)
    RankEval.expectedCalibrationError(RankEval.calibrationCells(
      preds, labels, "event_id", "score", "label", nBuckets = 10))
      .select(col("n_total"), col("n_pos"), col("n_bins"),
        round(col("ece"), 9).as("ece"), round(col("mce"), 9).as("mce"),
        round(col("brier_rel"), 9).as("brier_rel"),
        round(col("brier_res"), 9).as("brier_res"),
        round(col("brier_unc"), 9).as("brier_unc"),
        round(col("brier_binned"), 9).as("brier_binned"))
  }

  /** Hosmer–Lemeshow gate: the goodness-of-fit test beside q309's
    * effect size, same cell state — per-bucket nano terms over exact
    * O/E integers, degenerate buckets counted not absorbed.
    */
  def q310HosmerLemeshow(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RankEval
    val (preds, labels) = calibFrames(s, dir)
    RankEval.hosmerLemeshow(RankEval.calibrationCells(
      preds, labels, "event_id", "score", "label", nBuckets = 10))
      .select(col("n_total"), col("n_bins_used"), col("n_degenerate"),
        col("df"), round(col("chi2"), 9).as("chi2"))
  }

  /** Calibration-from-store gate: three disjoint eval batches folded
    * through the mergeable cell state, then the q309 panel — fold ==
    * rebuild under the q309 oracle verbatim.
    */
  def q311CalibrationFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RankEval
    val (preds, labels) = calibFrames(s, dir)
    def batch(i: Int) = {
      val p = preds.filter(col("event_id") % 3 === i)
      RankEval.calibrationCells(p, labels, "event_id", "score", "label",
        nBuckets = 10)
    }
    val folded = (1 to 2).foldLeft(batch(0))((acc, i) =>
      RankEval.mergeCalibrationCells(acc, batch(i)))
    RankEval.expectedCalibrationError(folded)
      .select(col("n_total"), col("n_pos"), col("n_bins"),
        round(col("ece"), 9).as("ece"), round(col("mce"), 9).as("mce"),
        round(col("brier_rel"), 9).as("brier_rel"),
        round(col("brier_res"), 9).as("brier_res"),
        round(col("brier_unc"), 9).as("brier_unc"),
        round(col("brier_binned"), 9).as("brier_binned"))
  }

  /** Concordance gate: does a 16-bucket risk score predict the censored
    * time-to-purchase — Harrell's C from the (score × duration) cell
    * grid, exact pair counts via the 2D dominance windows, C one
    * division.
    */
  def q312Concordance(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    val subj = survivalSubjects(s, dir)
      .withColumn("risk", col("user_id") % 16)
    Survival.concordance(subj, Nil, "risk", "duration", "event")
      .select(col("concordant"), col("discordant"), col("tied_score"),
        col("n_comparable"), round(col("c_index"), 9).as("c_index"))
  }

  /** Concordance-from-store gate: the q312 cells folded in three
    * disjoint user batches — fold == rebuild under the q312 oracle
    * verbatim; the censoring-aware score eval as a standing read.
    */
  def q313ConcordanceFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val subj = graft.plans.Lineage.truncate(survivalSubjects(s, dir))
      .withColumn("risk", col("user_id") % 16)
    def batch(i: Int) = Survival.concordanceCells(
      subj.filter(col("user_id") % 3 === i), Nil, "risk", "duration", "event")
    val folded = (1 to 2).foldLeft(batch(0))((acc, i) =>
      Survival.mergeConcordanceCells(acc, batch(i), Nil))
    Survival.concordanceFromCells(folded, Nil)
      .select(col("concordant"), col("discordant"), col("tied_score"),
        col("n_comparable"), round(col("c_index"), 9).as("c_index"))
  }

  /** Always-valid CI gate: the q300 mean monitor's confidence-sequence
    * dual — per peek the mSPRT-inverted interval Δ̂ ± √(V(V+τ²)/τ² ·
    * ln((V+τ²)/(α²V))), simultaneously valid at every peek.
    */
  def q314AlwaysValidCi(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.SequentialTests
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select((col("event_id") % 12).as("peek"),
        (col("user_id") % 2 === 0).as("__even"),
        floor(col("value")).cast("long").as("__m"))
    val incr = ev.groupBy("peek").agg(
      sum(when(col("__even"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("__even"), col("__m")).otherwise(0L)).as("s1"),
      sum(when(col("__even"), col("__m") * col("__m")).otherwise(0L)).as("q1"),
      sum(when(!col("__even"), 1L).otherwise(0L)).as("n2"),
      sum(when(!col("__even"), col("__m")).otherwise(0L)).as("s2"),
      sum(when(!col("__even"), col("__m") * col("__m")).otherwise(0L)).as("q2"))
    SequentialTests.alwaysValidCiMean(incr, Nil, "peek",
        "n1", "s1", "q1", "n2", "s2", "q2", tau2 = 1.0d, alpha = 0.05d)
      .select(col("peek"), col("n_lo"), col("n_hi"),
        round(col("delta"), 9).as("delta"),
        round(col("radius"), 9).as("radius"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
      .orderBy("peek")
  }

  /** Chapman capture–recapture gate: two deterministic "dup detectors"
    * over the same documents — exact quadrant counts, the
    * bias-corrected N̂/se single divisions, and the residual-miss
    * estimate the union still owes.
    */
  def q315Chapman(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Profiler
    val d = Tables.documents(s, dir)
      .withColumn("det_a", col("n_chars") % 3 === 0)
      .withColumn("det_b", col("text").rlike("[0-9]"))
    Profiler.chapmanEstimate(d, Nil, "det_a", "det_b")
      .select(col("n_a"), col("n_b"), col("n_both"), col("n_either"),
        round(col("n_hat"), 9).as("n_hat"),
        round(col("se_hat"), 9).as("se_hat"),
        round(col("missed_hat"), 9).as("missed_hat"))
  }

  /** Benjamini–Yekutieli gate: the q283/q251 battery under ARBITRARY
    * dependence — the harmonic-shrunk boundary as one exact DECIMAL
    * cross-product per test, c18 landed once per battery.
    */
  def q316BenjaminiYekutieli(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.MultipleTesting
    val battery = Tables.documents(s, dir)
      .select(concat(col("lang"), lit(":"), col("source")).as("id"))
      .distinct()
      .withColumn("p9",
        conv(substring(md5(col("id")), 1, 15), 16, 10).cast("long") % 1000000000L)
    MultipleTesting.benjaminiYekutieli(battery, Nil, Seq("id"), "p9")
      .select(col("id"), col("p9"), col("rank"), col("m"), col("n_null"),
        col("c18"), col("is_candidate"), col("rejected"))
      .orderBy("rank")
  }

  /** Post-stratified mean gate: document length re-weighted to a
    * four-language design (zh deliberately off-design) — per-stratum
    * exact moments, nano W·ȳ and W²s²/n terms, raw mean beside the
    * re-weighted one.
    */
  def q317PostStratified(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val d = Tables.documents(s, dir).select(col("lang"), col("n_chars"))
    Sampling.postStratified(d, Nil, "lang", "n_chars",
      Seq("en" -> 0.5, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.1))
      .select(col("n_total"), col("n_strata"), col("n_empty_strata"),
        col("n_off_design"),
        round(col("mean_raw"), 9).as("mean_raw"),
        round(col("mean_post"), 9).as("mean_post"),
        round(col("se_post"), 9).as("se_post"))
  }

  /** Cochran–Armitage gate: does the high-value pass rate trend across
    * o_orderpriority's label order — the binary ordered-alternatives
    * read beside q308's JT; entirely rational-exact, z one division.
    */
  def q318CochranArmitage(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority"),
        (col("o_totalprice") >= 150000d).as("big"))
    Association.cochranArmitage(o, Nil, "o_orderpriority", "big")
      .select(col("n_groups"), col("n_total"), col("n_pass"),
        col("trend_num"), round(col("z"), 9).as("z"))
  }

  /** Fleming–Harrington G(0,1) gate: the LATE-difference weighted
    * log-rank on the parity survival A/B — event times weighted by
    * 1 − Ŝ(t⁻) off the pooled KM nano chain; the churn-intervention
    * read plain log-rank under-powers.
    */
  def q319FlemingHarrington(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    val subj = survivalSubjects(s, dir)
      .withColumn("cohort", (col("user_id") % 2 === 0).cast("string"))
    Survival.logRankWeighted(subj, Nil, "cohort", "duration", "event",
        rho = 0, gamma = 1)
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("rho"),
        col("gamma"), col("n_lo"), col("n_hi"), col("wdev_9"), col("wvar_9"),
        round(col("z"), 9).as("z"), round(col("chi2"), 9).as("chi2"))
  }

  /** Brunner–Munzel gate: the q221 click-vs-view location read under
    * UNEQUAL rank variances — per-group exact A_i variance numerators
    * on doubled midranks, BM/df/p̂ single divisions.
    */
  def q320BrunnerMunzel(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), round(col("value") * 1000).cast("long").as("v_m"))
    Association.brunnerMunzel(ev, Nil, "event_type", "v_m")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), round(col("p_hat"), 9).as("p_hat"),
        col("a_lo"), col("a_hi"),
        round(col("bm"), 9).as("bm"), round(col("df"), 9).as("df"))
  }

  /** Mood's median gate: do the five event types share the pooled
    * value median — exact integer median selection on the value cells,
    * per-group above/≤ counts, nano χ² terms.
    */
  def q321MoodMedian(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), round(col("value") * 1000).cast("long").as("v_m"))
    Association.moodMedian(ev, Nil, "event_type", "v_m")
      .select(col("grp"), col("median"), col("n"), col("n_above"),
        round(col("chi2"), 9).as("chi2"), col("df"))
      .orderBy("grp")
  }

  /** Log-rank trend gate: does time-to-purchase trend across three
    * ordered cohorts (user_id mod 3) — Tarone's score combination over
    * the (duration × cohort) dense grid, nano deviation/variance
    * terms, z one division.
    */
  def q322LogRankTrend(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    val subj = survivalSubjects(s, dir)
      .withColumn("cohort", (col("user_id") % 3).cast("string"))
    Survival.logRankTrend(subj, Nil, "cohort", "duration", "event")
      .select(col("n_groups"), col("n_total"), col("tdev_9"), col("tvar_9"),
        round(col("z"), 9).as("z"), round(col("chi2"), 9).as("chi2"))
  }

  /** Two-proportion always-valid CI gate: the q299 monitor's
    * confidence-sequence dual — per peek the mSPRT-inverted interval on
    * the exact cumulative counts, simultaneously valid at every peek.
    */
  def q323AvCiTwoProp(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.SequentialTests
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select((col("event_id") % 12).as("peek"),
        (col("user_id") % 2 === 0).as("__even"),
        (col("value") >= 250d).cast("long").as("__hit"))
    val incr = ev.groupBy("peek").agg(
      sum(when(col("__even"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("__even"), col("__hit")).otherwise(0L)).as("s1"),
      sum(when(!col("__even"), 1L).otherwise(0L)).as("n2"),
      sum(when(!col("__even"), col("__hit")).otherwise(0L)).as("s2"))
    SequentialTests.alwaysValidCiTwoProportion(incr, Nil, "peek",
        "n1", "s1", "n2", "s2", tau2 = 0.000244140625d, alpha = 0.05d)
      .select(col("peek"), col("n_lo"), col("s_lo"), col("n_hi"), col("s_hi"),
        round(col("delta"), 9).as("delta"),
        round(col("radius"), 9).as("radius"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
      .orderBy("peek")
  }

  /** Wilson interval gate: per-event-type high-value pass rates with
    * the small-n-safe score bounds — exact counts, fixed-dag bounds.
    */
  def q324WilsonCi(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"), (col("value") >= 250d).as("hit"))
    Association.wilsonInterval(ev, Nil, "event_type", "hit")
      .select(col("grp"), col("n"), col("n_pass"),
        round(col("p_hat"), 9).as("p_hat"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
      .orderBy("grp")
  }

  /** ICC/design-effect gate: how much do events cluster by user — the
    * effective-sample-size correction every per-event A/B on
    * user-randomized traffic owes; exact per-user moments, nano
    * S²/n terms, ICC/deff fixed dags.
    */
  def q325IccDeff(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("user_id"), floor(col("value")).cast("long").as("v"))
    Association.iccDesignEffect(ev, Nil, "user_id", "v")
      .select(col("n_total"), col("n_clusters"),
        round(col("icc"), 9).as("icc"),
        round(col("deff"), 9).as("deff"),
        round(col("n_effective"), 9).as("n_effective"))
  }

  /** Shared A/B-dashboard fixture: one row per USER (the randomization
    * unit) with the q298 even/odd event-count covariate x / outcome y,
    * a conversion flag (any event's value ≥ 250), the q306 broken
    * decile split (designed arms A/B at 50/50, decile 9 leaking to an
    * off-design arm C — so the SRM stage has a real mismatch AND real
    * unexpected traffic to flag), and 6 sequential peeks (user_id mod
    * 6 — each unit entirely inside one peek, the per-unit fold
    * contract).
    */
  private def abPerUser(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("x"),
        sum(when(col("event_id") % 2 =!= 0, 1L).otherwise(0L)).as("y"),
        max(when(col("value") >= 250d, 1L).otherwise(0L)).as("__h"))
      .withColumn("hit", col("__h") > 0L)
      .withColumn("arm",
        when(col("user_id") % 10 < 5, "A")
          .when(col("user_id") % 10 < 9, "B")
          .otherwise("C"))
      .withColumn("peek", col("user_id") % 6)

  /** Spec access to the q326 per-unit fixture — the fixture-adequacy
    * assertions (AbDashboardSpec) pin its teeth.
    */
  def abPerUserForSpec(s: SparkSession, dir: String): DataFrame = abPerUser(s, dir)

  private val abDesign = Seq("A" -> 0.5, "B" -> 0.5)
  private val abTau2 = 0.000244140625d // 2⁻¹², binary-exact

  private def abDashboardSelect(d: DataFrame): DataFrame =
    d.select(col("peek"), col("n_lo"), col("s_lo"), col("n_hi"), col("s_hi"),
        col("n_unexpected"), round(col("srm_chi2"), 9).as("srm_chi2"),
        round(col("theta"), 9).as("theta"), round(col("rho2"), 9).as("rho2"),
        round(col("effect_raw"), 9).as("effect_raw"),
        round(col("effect_cuped"), 9).as("effect_cuped"),
        round(col("se_cuped"), 9).as("se_cuped"),
        round(col("cuped_ci_lo"), 9).as("cuped_ci_lo"),
        round(col("cuped_ci_hi"), 9).as("cuped_ci_hi"),
        round(col("p_lo"), 9).as("p_lo"),
        round(col("wilson_lo_lo"), 9).as("wilson_lo_lo"),
        round(col("wilson_lo_hi"), 9).as("wilson_lo_hi"),
        round(col("p_hi"), 9).as("p_hi"),
        round(col("wilson_hi_lo"), 9).as("wilson_hi_lo"),
        round(col("wilson_hi_hi"), 9).as("wilson_hi_hi"),
        round(col("delta"), 9).as("delta"), col("ln_lr9"),
        round(col("p_always_valid"), 9).as("p_always_valid"), col("reject"))
      .orderBy("peek")

  /** The composed A/B dashboard gate: ONE per-(arm, peek) moment-cell
    * state feeding the whole chain in one read — SRM traffic guardrail
    * (q306 dag) → CUPED effect + CI (q298 dag) → per-arm Wilson CIs
    * (q324 dag) → the mSPRT always-valid monitor (q299 dag) — one row
    * per peek, every stage cumulative to that peek. The oracle replays
    * the ENTIRE chain from raw events.
    */
  def q326AbDashboard(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.AbDashboard
    abDashboardSelect(AbDashboard.abDashboardFromCells(
      AbDashboard.abCells(abPerUser(s, dir), "arm", "peek", "y", "x", "hit"),
      abDesign, tau2 = abTau2, alpha = 0.05d))
  }

  /** The q326 dashboard FROM THE STORE: the per-user frame split into
    * three complete-unit batches (user_id mod 3), each batch's cells
    * folded via [[graft.quality.AbDashboard.mergeAbCells]], the same
    * one-read dashboard over the folded state — fold == rebuild under
    * the q326 oracle verbatim.
    */
  def q327AbDashboardFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.AbDashboard
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val pu = graft.plans.Lineage.truncate(abPerUser(s, dir))
    def cellsOf(i: Int) = AbDashboard.abCells(
      pu.filter(col("user_id") % 3 === i), "arm", "peek", "y", "x", "hit")
    val folded = (1 to 2).foldLeft(cellsOf(0)) { (acc, i) =>
      AbDashboard.mergeAbCells(acc, cellsOf(i))
    }
    abDashboardSelect(AbDashboard.abDashboardFromCells(
      folded, abDesign, tau2 = abTau2, alpha = 0.05d))
  }

  /** The q345 K-ARM per-unit fixture: the q326 unit/outcome/covariate
    * construction with a FIVE-way split (user_id mod 20): designed arms
    * A (8/20), B (6/20), C (4/20), D (1/20) plus off-design traffic E
    * (1/20); the DESIGN claims A/B/C/D = 40/30/20/10, so D genuinely
    * underdelivers (5.26% of designed traffic vs the claimed 10% — a
    * real k-arm SRM violation) AND E is real unexpected traffic. The
    * conversion threshold is ARM-DEPENDENT (B converts at max value ≥
    * 200, D at ≥ 300, everyone else at ≥ 250), so the B-vs-A and D-vs-A
    * monitors see REAL opposite-signed effects while C-vs-A is null —
    * the BH battery has a genuine rejected/non-rejected mix
    * (fixture-adequacy spec-pinned).
    */
  private def abPerUserK(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("x"),
        sum(when(col("event_id") % 2 =!= 0, 1L).otherwise(0L)).as("y"),
        max(col("value")).as("__maxv"))
      .withColumn("arm",
        when(col("user_id") % 20 < 8, "A")
          .when(col("user_id") % 20 < 14, "B")
          .when(col("user_id") % 20 < 18, "C")
          .when(col("user_id") % 20 < 19, "D")
          .otherwise("E"))
      .withColumn("hit", coalesce(
        col("__maxv") >= when(col("arm") === "B", 200d)
          .when(col("arm") === "D", 300d).otherwise(250d),
        lit(false)))
      .withColumn("peek", col("user_id") % 6)

  /** Spec access to the q345 k-arm fixture (fixture-adequacy pins). */
  def abPerUserKForSpec(s: SparkSession, dir: String): DataFrame = abPerUserK(s, dir)

  /** The q364 two-covariate k-arm fixture: [[abPerUserK]] plus the
    * q347 second covariate — distinct active hours per user (a genuine
    * second pre-period signal, not collinear with the even-event
    * count).
    */
  private def abPerUserK2(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("x"),
        sum(when(col("event_id") % 2 =!= 0, 1L).otherwise(0L)).as("y"),
        countDistinct(when(col("ts").isNotNull,
          floor(unix_timestamp(col("ts")) / 3600L))).as("x2"),
        max(col("value")).as("__maxv"))
      .withColumn("arm",
        when(col("user_id") % 20 < 8, "A")
          .when(col("user_id") % 20 < 14, "B")
          .when(col("user_id") % 20 < 18, "C")
          .when(col("user_id") % 20 < 19, "D")
          .otherwise("E"))
      .withColumn("hit", coalesce(
        col("__maxv") >= when(col("arm") === "B", 200d)
          .when(col("arm") === "D", 300d).otherwise(250d),
        lit(false)))
      .withColumn("peek", col("user_id") % 6)

  /** Spec access to the q364 fixture (fixture-adequacy pins). */
  def abPerUserK2ForSpec(s: SparkSession, dir: String): DataFrame =
    abPerUserK2(s, dir)

  private val abDesignK =
    Seq("A" -> 0.4, "B" -> 0.3, "C" -> 0.2, "D" -> 0.1)

  private def abDashboardKArmSelect(d: DataFrame): DataFrame =
    d.select(col("peek"), col("arm"), col("grp_lo"), col("grp_hi"),
        col("n_arms"), col("n_unexpected"),
        round(col("srm_chi2"), 9).as("srm_chi2"),
        col("n_lo"), col("s_lo"), col("n_hi"), col("s_hi"),
        round(col("theta"), 9).as("theta"), round(col("rho2"), 9).as("rho2"),
        round(col("effect_raw"), 9).as("effect_raw"),
        round(col("effect_cuped"), 9).as("effect_cuped"),
        round(col("se_cuped"), 9).as("se_cuped"),
        round(col("cuped_ci_lo"), 9).as("cuped_ci_lo"),
        round(col("cuped_ci_hi"), 9).as("cuped_ci_hi"),
        round(col("p_ctl"), 9).as("p_ctl"),
        round(col("wilson_ctl_lo"), 9).as("wilson_ctl_lo"),
        round(col("wilson_ctl_hi"), 9).as("wilson_ctl_hi"),
        round(col("p_arm"), 9).as("p_arm"),
        round(col("wilson_arm_lo"), 9).as("wilson_arm_lo"),
        round(col("wilson_arm_hi"), 9).as("wilson_arm_hi"),
        round(col("delta"), 9).as("delta"), col("ln_lr9"),
        round(col("p_always_valid"), 9).as("p_always_valid"), col("reject"),
        col("p9"), col("bh_rank"), col("bh_m"), col("reject_fdr"))
      .orderBy("peek", "arm")

  /** The k-arm composed dashboard gate: the q326 chain generalized to
    * 4 designed arms + a control — ONE (arm × peek) cell state feeding
    * k-arm SRM → per-comparison CUPED → per-arm Wilson → per-comparison
    * mSPRT → BH multiplicity across the k−1 always-valid p-values, one
    * row per (peek, treatment arm). The oracle replays every stage AND
    * the step-up adjustment from raw events.
    */
  def q345AbDashboardKArm(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.AbDashboard
    abDashboardKArmSelect(AbDashboard.abDashboardKArmFromCells(
      AbDashboard.abCells(abPerUserK(s, dir), "arm", "peek", "y", "x", "hit"),
      abDesignK, control = "A", tau2 = abTau2, alpha = 0.05d))
  }

  private def abDashboardKArm2Select(d: DataFrame): DataFrame =
    d.select(col("peek"), col("arm"), col("grp_lo"), col("grp_hi"),
        col("n_arms"), col("n_unexpected"),
        round(col("srm_chi2"), 9).as("srm_chi2"),
        col("n_lo"), col("s_lo"), col("n_hi"), col("s_hi"),
        round(col("theta1"), 9).as("theta1"),
        round(col("theta2"), 9).as("theta2"),
        round(col("rho2"), 9).as("rho2"),
        round(col("effect_raw"), 9).as("effect_raw"),
        round(col("effect_cuped"), 9).as("effect_cuped"),
        round(col("se_cuped"), 9).as("se_cuped"),
        round(col("cuped_ci_lo"), 9).as("cuped_ci_lo"),
        round(col("cuped_ci_hi"), 9).as("cuped_ci_hi"),
        round(col("p_ctl"), 9).as("p_ctl"),
        round(col("wilson_ctl_lo"), 9).as("wilson_ctl_lo"),
        round(col("wilson_ctl_hi"), 9).as("wilson_ctl_hi"),
        round(col("p_arm"), 9).as("p_arm"),
        round(col("wilson_arm_lo"), 9).as("wilson_arm_lo"),
        round(col("wilson_arm_hi"), 9).as("wilson_arm_hi"),
        round(col("delta"), 9).as("delta"), col("ln_lr9"),
        round(col("p_always_valid"), 9).as("p_always_valid"), col("reject"),
        col("p9"), col("bh_rank"), col("bh_m"), col("reject_fdr"))
      .orderBy("peek", "arm")

  /** The VECTOR-CUPED k-arm dashboard gate: the q345 chain with the
    * variance reduction upgraded to TWO pre-period covariates
    * (even-event count + distinct active hours) through the q347
    * normal-equations dag per comparison — θ₁/θ₂ on the row beside the
    * same SRM/Wilson/mSPRT/BH stages, all from ONE (arm × peek)
    * two-covariate cell state. The oracle replays every stage
    * including the exact-Cramer solve per (cmp, peek).
    */
  def q364AbKArmCuped2(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.AbDashboard
    abDashboardKArm2Select(AbDashboard.abDashboardKArm2FromCells(
      AbDashboard.abCells2(abPerUserK2(s, dir), "arm", "peek", "y", "x", "x2", "hit"),
      abDesignK, control = "A", tau2 = abTau2, alpha = 0.05d))
  }

  /** The q365 heterogeneity fixture: parity arms, user_id % 4 segments,
    * and a conversion whose threshold is ARM-AND-SEGMENT dependent — B
    * converts at max value ≥ 200 in segments 0/1 and at the common 250
    * elsewhere, so the B-vs-A conversion effect is REAL in half the
    * segments and null in the other half (genuine heterogeneity:
    * Cochran Q fires, I² > 0 — fixture-adequacy spec-pinned).
    */
  private def hetPerUser(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("x"),
        max(col("value")).as("__maxv"))
      .withColumn("arm", when(col("user_id") % 2 === 0, "A").otherwise("B"))
      // the segment must be INDEPENDENT of the parity arm: user_id % 4
      // would pin each segment to one arm (the div-2 quotient's parity
      // classes cross both arms)
      .withColumn("segment", expr("(user_id div 2) % 4").cast("string"))
      .withColumn("y", coalesce(
        (col("__maxv") >= when(col("arm") === "B" &&
          expr("(user_id div 2) % 4") < 2, 200d)
          .otherwise(250d)).cast("long"), lit(0L)))

  /** Spec access to the q365 fixture (fixture-adequacy pins). */
  def hetPerUserForSpec(s: SparkSession, dir: String): DataFrame =
    hetPerUser(s, dir)

  /** Effect-heterogeneity card gate: per-SEGMENT CUPED conversion
    * effects (the q298 dag keyed by segment, pre-period even-event
    * covariate) fed through the q334 meta-analysis panel — one row per
    * segment with its effect/CI beside the replicated fixed/random
    * pools, Cochran Q, I² and DL τ². The oracle replays the per-segment
    * CUPED chain AND the heterogeneity test from raw events.
    */
  def q365EffectHeterogeneity(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val eff = Association.cuped(hetPerUser(s, dir), Seq("segment"),
      "arm", "y", "x")
    Association.heterogeneityCard(eff, Nil, "segment",
        "effect_cuped", "se_cuped")
      .select(col("segment"),
        round(col("effect_seg"), 9).as("effect_seg"),
        round(col("se_seg"), 9).as("se_seg"),
        round(col("seg_ci_lo"), 9).as("seg_ci_lo"),
        round(col("seg_ci_hi"), 9).as("seg_ci_hi"),
        col("included"), col("n_strata"), col("n_dropped"),
        round(col("effect_fixed"), 9).as("effect_fixed"),
        round(col("se_fixed"), 9).as("se_fixed"),
        round(col("ci_fixed_lo"), 9).as("ci_fixed_lo"),
        round(col("ci_fixed_hi"), 9).as("ci_fixed_hi"),
        round(col("q"), 9).as("q"), col("df"),
        round(col("i2"), 9).as("i2"),
        round(col("tau2_dl"), 9).as("tau2_dl"),
        round(col("effect_random"), 9).as("effect_random"),
        round(col("se_random"), 9).as("se_random"),
        round(col("ci_random_lo"), 9).as("ci_random_lo"),
        round(col("ci_random_hi"), 9).as("ci_random_hi"))
      .orderBy("segment")
  }

  /** Always-valid quantile monitor gate: "is p95(value) above 400" —
    * threshold-crossing counts from per-peek value cells feed the q333
    * one-proportion mSPRT against p₀ = 0.05 (the exact-rank reduction:
    * Q₉₅ > T ⟺ exceedances > n − rank), with the fixed-horizon
    * exact-rank read beside the monitor. The fixture's p95 sits well
    * above the threshold, so the monitor genuinely fires
    * (fixture-adequacy spec-pinned).
    */
  def q366QuantileMonitor(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    import graft.quality.SequentialTests
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(floor(col("value")).cast("long").as("v"),
        (col("event_id") % 5).cast("long").as("peek"))
    val cells = Quantiles.valueCells(ev, Seq("peek"), "v")
    SequentialTests.quantileThresholdMonitor(cells, Nil, "peek",
        threshold = 400L, p = 95, tau2 = 0.0625d, alpha = 0.05d)
      .select(col("peek"), col("n"), col("s"),
        round(col("delta"), 9).as("delta"), col("ln_lr9"),
        round(col("p_always_valid"), 9).as("p_always_valid"), col("reject"),
        col("threshold"), col("p_rank"), col("q_above_threshold"))
      .orderBy("peek")
  }

  /** The q346 multi-metric per-unit fixture: one row per user carrying
    * FIVE guardrail-metric booleans over the parity arms and 6 peeks.
    * Two metrics have ARM-DEPENDENT thresholds (real effects in opposite
    * directions), three are arm-symmetric (null effects) — so the BH
    * battery across metrics has genuine rejected/non-rejected structure
    * (fixture-adequacy spec-pinned).
    */
  private def scorecardPerUser(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_ev"),
        sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("x"),
        sum(when(col("event_id") % 2 =!= 0, 1L).otherwise(0L)).as("y"),
        max(col("value")).as("__maxv"))
      .withColumn("arm", when(col("user_id") % 2 === 0, "A").otherwise("B"))
      .withColumn("peek", col("user_id") % 6)
      .withColumn("m_conv", coalesce(col("__maxv") >= 250d, lit(false)))
      .withColumn("m_conv_shift", coalesce(
        col("__maxv") >= when(col("arm") === "A", 450d).otherwise(250d),
        lit(false)))
      .withColumn("m_even", col("x") >= 3L)
      .withColumn("m_odd_shift",
        col("y") >= when(col("arm") === "A", 2L).otherwise(3L))
      .withColumn("m_active", col("n_ev") >= 5L)

  /** Spec access to the q346 scorecard fixture (fixture-adequacy pins). */
  def scorecardPerUserForSpec(s: SparkSession, dir: String): DataFrame =
    scorecardPerUser(s, dir)

  private val scorecardMetrics =
    Seq("m_active", "m_conv", "m_conv_shift", "m_even", "m_odd_shift")

  private def scorecardSelect(d: DataFrame): DataFrame =
    d.select(col("peek"), col("metric"),
        col("n_lo"), col("s_lo"), col("n_hi"), col("s_hi"),
        round(col("delta"), 9).as("delta"), col("ln_lr9"),
        round(col("p_always_valid"), 9).as("p_always_valid"), col("reject"),
        col("p9"), col("bh_rank"), col("n_metrics"), col("reject_fdr"))
      .orderBy("peek", "metric")

  /** The multi-metric scorecard gate: FIVE guardrail metrics' monitor
    * p-values read from one (metric × arm × peek) cell state, the q299
    * mSPRT per metric on per-peek increments, and BH applied across the
    * M metrics within each peek — per-metric verdicts (`reject_fdr`)
    * beside the unadjusted monitor columns. The oracle replays the
    * whole chain from raw events including the step-up adjustment.
    */
  def q346Scorecard(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.AbDashboard
    val cells = AbDashboard.scorecardCells(
      scorecardPerUser(s, dir), "arm", "peek", scorecardMetrics)
    scorecardSelect(AbDashboard.scorecardFromCells(
      cells, ("A", "B"), tau2 = 0.0625d, alpha = 0.05d))
  }

  /** The q346 scorecard FROM THE STORE: the per-user frame split into
    * three complete-unit batches (user_id mod 3), each batch's metric
    * cells folded via
    * [[graft.quality.AbDashboard.mergeScorecardCells]], the same
    * one-read scorecard over the folded state — fold == rebuild under
    * the q346 oracle verbatim.
    */
  def q348ScorecardFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.AbDashboard
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val pu = graft.plans.Lineage.truncate(scorecardPerUser(s, dir))
    def cellsOf(i: Int) = AbDashboard.scorecardCells(
      pu.filter(col("user_id") % 3 === i), "arm", "peek", scorecardMetrics)
    val folded = (1 to 2).foldLeft(cellsOf(0)) { (acc, i) =>
      AbDashboard.mergeScorecardCells(acc, cellsOf(i))
    }
    scorecardSelect(AbDashboard.scorecardFromCells(
      folded, ("A", "B"), tau2 = 0.0625d, alpha = 0.05d))
  }

  /** The q345 k-arm dashboard FROM THE STORE: three complete-unit
    * batches folded via [[graft.quality.AbDashboard.mergeAbCells]],
    * the same one-read k-arm chain over the folded state — fold ==
    * rebuild under the q345 oracle verbatim.
    */
  def q349AbDashboardKArmFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.AbDashboard
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val pu = graft.plans.Lineage.truncate(abPerUserK(s, dir))
    def cellsOf(i: Int) = AbDashboard.abCells(
      pu.filter(col("user_id") % 3 === i), "arm", "peek", "y", "x", "hit")
    val folded = (1 to 2).foldLeft(cellsOf(0)) { (acc, i) =>
      AbDashboard.mergeAbCells(acc, cellsOf(i))
    }
    abDashboardKArmSelect(AbDashboard.abDashboardKArmFromCells(
      folded, abDesignK, control = "A", tau2 = abTau2, alpha = 0.05d))
  }

  /** Power/MDE gate (two-proportion): the design questions answered
    * FROM THE SAME cell state the q326 dashboard reads — roll the
    * designed arms' (n, s_hit) up over peeks, then the pinned-z normal
    * closed forms: the MDE the current traffic can detect at 80% power
    * and the per-arm n a 5-point conversion lift would need.
    */
  def q328PowerTwoProp(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.{AbDashboard, Association}
    val cells = AbDashboard.abCells(abPerUser(s, dir), "arm", "peek", "y", "x", "hit")
    val counts = cells.filter(col("arm").isin("A", "B"))
      .groupBy(col("arm").as("grp"))
      .agg(sum("n").as("n"), sum("s_hit").as("n_pass"))
    Association.powerTwoProportionFromCounts(counts, Nil,
        targetMde = 0.05d, alpha = 0.05d, power = 0.8d)
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), round(col("p_pool"), 9).as("p_pool"),
        round(col("mde_abs"), 9).as("mde_abs"),
        round(col("mde_rel"), 9).as("mde_rel"),
        col("n_required_per_arm"))
  }

  /** Power/MDE gate (mean metric): the same cell state's exact
    * (n, Σy, Σy²) rolled up per arm, the pooled-variance normal forms —
    * the MDE on the outcome mean at 80% power and the per-arm n a
    * one-unit lift would need.
    */
  def q329PowerMean(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.{AbDashboard, Association}
    val cells = AbDashboard.abCells(abPerUser(s, dir), "arm", "peek", "y", "x", "hit")
    val moments = cells.filter(col("arm").isin("A", "B"))
      .groupBy(col("arm").as("grp"))
      .agg(sum("n").as("__n"), sum("sy").as("__s"), sum("syy").as("__q"))
    Association.powerMeanFromMoments(moments, Nil,
        targetMde = 1.0d, alpha = 0.05d, power = 0.8d)
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), round(col("sigma2_pool"), 9).as("sigma2_pool"),
        round(col("mde_abs"), 9).as("mde_abs"),
        col("n_required_per_arm"))
  }

  /** Corpus data-card gate: the cross-pillar one-read summary a corpus
    * release ships (Datasheets-for-Datasets style) — per SOURCE: doc
    * count, exact-duplicate surplus + rate (md5 digests), whitespace
    * token totals, mean/median/p90 length (the exactQuantiles rank
    * rules), language count and the dominant language with its share
    * (count-desc, lang-asc deterministic tie-break). Every stage an
    * existing gated discipline; one row per source.
    */
  def q338DataCard(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Quantiles
    val d = Tables.documents(s, dir)
      .filter(col("doc_id").isNotNull && col("text").isNotNull &&
        col("lang").isNotNull && col("source").isNotNull &&
        col("n_chars").isNotNull)
    val toks = size(org.apache.spark.sql.functions.filter(
      split(col("text"), "\\s+"), x => x =!= lit("")))
    val base = d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("__uniq"),
      sum(toks.cast("long")).as("total_tokens"),
      sum(col("n_chars")).as("__chars"),
      countDistinct(col("lang")).as("n_langs"))
    val q = Quantiles.exactQuantiles(d, Seq("source"), "n_chars", "doc_id")
      .select(col("source"), col("p50").as("p50_chars"), col("p90").as("p90_chars"))
    val top = d.groupBy("source", "lang").agg(count(lit(1)).as("__c"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("__c").desc, col("lang"))))
      .filter(col("__rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("__c").as("__topc"))
    base.join(q, "source").join(top, "source")
      .select(col("source"), col("n_docs"),
        (col("n_docs") - col("__uniq")).as("n_exact_dups"),
        round((col("n_docs") - col("__uniq")).cast("double") /
          col("n_docs").cast("double"), 9).as("dup_rate"),
        col("total_tokens"),
        round(col("__chars").cast("double") / col("n_docs").cast("double"), 9)
          .as("mean_chars"),
        col("p50_chars"), col("p90_chars"), col("n_langs"), col("top_lang"),
        round(col("__topc").cast("double") / col("n_docs").cast("double"), 9)
          .as("top_lang_share"))
      .orderBy("source")
  }

  /** Empirical-Bayes shrinkage gate: the q324 per-event-type conversion
    * counts shrunk toward the grand rate via the beta-binomial
    * method-of-moments fit — the posterior-mean ranking a per-slice
    * dashboard should sort by.
    */
  def q341EbShrinkage(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("event_type").isNotNull && col("value").isNotNull)
      .select(col("event_type"), (col("value") >= 250d).as("hit"))
    Association.ebShrinkRates(ev, Nil, "event_type", "hit")
      .select(col("grp"), col("n"), col("n_pass"),
        round(col("p_raw"), 9).as("p_raw"),
        round(col("alpha"), 9).as("alpha"),
        round(col("beta"), 9).as("beta"),
        round(col("p_shrunk"), 9).as("p_shrunk"))
      .orderBy("grp")
  }

  /** Rate-ratio gate: the COUNT-metric A/B — events per active hour per
    * user, parity arms; exact event/exposure sums, the Poisson
    * log-rate-ratio CI.
    */
  def q339RateRatio(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val pu = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("ev"),
        countDistinct(floor(unix_timestamp(col("ts")) / 3600L)).as("hours"))
      .withColumn("arm", (col("user_id") % 2 === 0).cast("string"))
    Association.rateRatio(pu, Nil, "arm", "ev", "hours")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"),
        col("events_lo"), col("exposure_lo"), col("events_hi"),
        col("exposure_hi"),
        round(col("rate_lo"), 9).as("rate_lo"),
        round(col("rate_hi"), 9).as("rate_hi"),
        round(col("rate_ratio"), 9).as("rate_ratio"),
        round(col("se_ln_rr"), 9).as("se_ln_rr"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
  }

  /** Mantel–Haenszel rate-ratio gate: the q339 per-user event/exposure
    * state stratified by user_id mod 3 — the confounder-adjusted
    * pooled rate ratio with the Greenland–Robins variance.
    */
  def q342MhRateRatio(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val pu = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("ev"),
        countDistinct(floor(unix_timestamp(col("ts")) / 3600L)).as("hours"))
      .withColumn("arm", (col("user_id") % 2 === 0).cast("string"))
      .withColumn("stratum", (col("user_id") % 3).cast("string"))
    val counts = pu.groupBy(col("stratum"), col("arm").as("grp"))
      .agg(sum("ev").as("events"), sum("hours").as("exposure"))
    Association.mhRateRatioFromCounts(counts, Nil)
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_strata"),
        col("n_strata_dropped"),
        col("events_lo"), col("exposure_lo"), col("events_hi"),
        col("exposure_hi"),
        round(col("rate_ratio_mh"), 9).as("rate_ratio_mh"),
        round(col("se_ln_rr"), 9).as("se_ln_rr"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
  }

  /** Vector-CUPED gate: the q298 adjustment with TWO pre-period
    * covariates — per-user even-event count AND distinct active hours
    * jointly adjusting the odd-event outcome over the parity arms.
    * The θ solve is Cramer over exact DECIMAL central cross-products;
    * the oracle replays the whole normal-equations chain from raw
    * events.
    */
  def q347CupedMulti(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val pu = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("x1"),
        sum(when(col("event_id") % 2 =!= 0, 1L).otherwise(0L)).as("y"),
        countDistinct(floor(unix_timestamp(col("ts")) / 3600L)).as("x2"))
      .withColumn("arm", (col("user_id") % 2 === 0).cast("string"))
    Association.cupedMulti(pu, Nil, "arm", "y", Seq("x1", "x2"))
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"),
        col("n_lo"), col("n_hi"),
        round(col("theta1"), 9).as("theta1"),
        round(col("theta2"), 9).as("theta2"),
        round(col("rho2"), 9).as("rho2"),
        round(col("effect_raw"), 9).as("effect_raw"),
        round(col("effect_cuped"), 9).as("effect_cuped"),
        round(col("se_cuped"), 9).as("se_cuped"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
  }

  /** Difference-in-differences gate: parity groups × even/odd-hour
    * periods on floor(value) — the 2×2 cell means, the parallel-trends
    * DiD with its four-cell variance.
    */
  def q340DiffInDiff(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select((col("user_id") % 2 === 0).cast("string").as("grp0"),
        when(floor(unix_timestamp(col("ts")) / 3600L) % 2 === 0, "p0_pre")
          .otherwise("p1_post").as("per0"),
        floor(col("value")).cast("long").as("y"))
    Association.diffInDiff(ev, Nil, "grp0", "per0", "y")
      .select(col("grp_lo"), col("grp_hi"), col("per_lo"), col("per_hi"),
        col("n_groups"), col("n_periods"),
        round(col("mean_ctrl_pre"), 9).as("mean_ctrl_pre"),
        round(col("mean_ctrl_post"), 9).as("mean_ctrl_post"),
        round(col("mean_treat_pre"), 9).as("mean_treat_pre"),
        round(col("mean_treat_post"), 9).as("mean_treat_post"),
        round(col("did"), 9).as("did"),
        round(col("se_did"), 9).as("se_did"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
  }

  /** Sequential-SRM gate: the q326 dashboard's traffic guardrail made
    * PEEKING-SOUND — arm A's share of designed traffic monitored
    * against the 50/50 design by a one-sample mSPRT (H₀-exact variance
    * p₀(1−p₀)/N), always-valid p per peek. The fixture's broken 5:4
    * split is a REAL drift, so the monitor accumulates evidence.
    */
  def q333SrmSequential(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.SequentialTests
    val incr = abPerUser(s, dir).filter(col("arm").isin("A", "B"))
      .groupBy("peek").agg(
        count(lit(1)).as("n"),
        sum(when(col("arm") === "A", 1L).otherwise(0L)).as("s"))
    SequentialTests.msprtOneProportion(incr, Nil, "peek", "n", "s",
        p0 = 0.5d, tau2 = abTau2, alpha = 0.05d)
      .select(col("peek"), col("n"), col("s"),
        round(col("delta"), 9).as("delta"), col("ln_lr9"),
        round(col("p_always_valid"), 9).as("p_always_valid"), col("reject"))
      .orderBy("peek")
  }

  /** Meta-analysis gate: the parity A/B's risk difference on
    * P(value ≥ 250) computed PER EVENT-TYPE stratum (exact counts, Wald
    * unpooled se), then the full inverse-variance panel — fixed pool,
    * Cochran Q / I² heterogeneity, DerSimonian–Laird τ², random pool —
    * the "does the effect replicate across segments" read.
    */
  def q334MetaEffects(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type").as("stratum"),
        (col("user_id") % 2 === 0).as("__even"),
        (col("value") >= 250d).cast("long").as("__hit"))
    val cells = ev.groupBy("stratum").agg(
      sum(when(col("__even"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("__even"), col("__hit")).otherwise(0L)).as("s1"),
      sum(when(!col("__even"), 1L).otherwise(0L)).as("n2"),
      sum(when(!col("__even"), col("__hit")).otherwise(0L)).as("s2"))
    val p1 = col("s1").cast("double") / col("n1").cast("double")
    val p2 = col("s2").cast("double") / col("n2").cast("double")
    val eff = cells.select(col("stratum"),
      (p1 - p2).as("effect"),
      sqrt(p1 * (lit(1d) - p1) / col("n1").cast("double") +
        p2 * (lit(1d) - p2) / col("n2").cast("double")).as("se"))
    Association.metaAnalysis(eff, Nil, "stratum", "effect", "se")
      .select(col("n_strata"), col("n_dropped"),
        round(col("effect_fixed"), 9).as("effect_fixed"),
        round(col("se_fixed"), 9).as("se_fixed"),
        round(col("ci_fixed_lo"), 9).as("ci_fixed_lo"),
        round(col("ci_fixed_hi"), 9).as("ci_fixed_hi"),
        round(col("q"), 9).as("q"), col("df"),
        round(col("i2"), 9).as("i2"),
        round(col("tau2_dl"), 9).as("tau2_dl"),
        round(col("effect_random"), 9).as("effect_random"),
        round(col("se_random"), 9).as("se_random"),
        round(col("ci_random_lo"), 9).as("ci_random_lo"),
        round(col("ci_random_hi"), 9).as("ci_random_hi"))
  }

  /** Jonckheere–Terpstra gate: does order value RISE with priority —
    * the ordered-alternatives read over o_orderpriority's natural label
    * order (1-URGENT < … < 5-LOW) on 10k-unit price buckets; 2J exact
    * over the cell grid, tie-corrected variance, z at 9dp.
    */
  def q308Jonckheere(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority"),
        floor(col("o_totalprice") / 10000d).cast("long").as("price_b"))
    Association.jonckheereTerpstra(o, Nil, "o_orderpriority", "price_b")
      .select(col("n_groups"), col("n_total"), col("j2"), col("ej4"),
        round(col("z"), 9).as("z"))
  }

  private def bayesAbSelect(d: DataFrame): DataFrame =
    d.select(col("peek"), col("arm"),
        col("n_arm"), col("s_arm"), col("a_arm"), col("b_arm"),
        round(col("post_mean_arm"), 9).as("post_mean_arm"),
        round(col("ci_lo_arm"), 9).as("ci_lo_arm"),
        round(col("ci_hi_arm"), 9).as("ci_hi_arm"),
        col("n_ctl"), col("s_ctl"), col("a_ctl"), col("b_ctl"),
        round(col("post_mean_ctl"), 9).as("post_mean_ctl"),
        round(col("ci_lo_ctl"), 9).as("ci_lo_ctl"),
        round(col("ci_hi_ctl"), 9).as("ci_hi_ctl"),
        round(col("p_beat_ctl"), 9).as("p_beat_ctl"),
        round(col("exp_loss_arm"), 9).as("exp_loss_arm"),
        round(col("exp_loss_ctl"), 9).as("exp_loss_ctl"))
      .orderBy("peek", "arm")

  /** The Bayesian k-arm A/B gate: Beta(1,1)-prior posteriors over the
    * SAME (arm × peek) cell state the q345 dashboard reads — per
    * (peek, treatment arm) the posterior means, 95% grid credible
    * intervals, P(arm beats control) and both decisions' expected
    * losses, by the deterministic 2¹³-point grid integration
    * ([[graft.quality.BayesAb]]). The oracle replays the ENTIRE
    * integration from raw events — the atanh-series ln, the quantized
    * kernel, the integer cumulative identities, the rank-selected CI.
    */
  def q359BayesAb(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.{AbDashboard, BayesAb}
    bayesAbSelect(BayesAb.bayesAbKArmFromCells(
      AbDashboard.abCells(abPerUserK(s, dir), "arm", "peek", "y", "x", "hit"),
      arms = Seq("A", "B", "C", "D"), control = "A"))
  }

  /** The Cox fixture: the q285 survival subjects with an integer
    * ACTIVITY covariate — click count bucketed to z = min(⌊k/5⌋, 6)
    * (the bounded-cardinality covariate contract). Clicky users reach
    * 'purchase' differently, so the fixture carries a genuine hazard
    * gradient (fixture-adequacy spec-pinned: converged, i0 > 0).
    */
  private def coxSubjects(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600L).as("h"))
    val tp = col("__p") - col("__f") + 1L
    val seen = col("__p").isNotNull && tp <= 96L
    ev.groupBy("user_id")
      .agg(min("h").as("__f"),
        min(when(col("event_type") === "purchase", col("h"))).as("__p"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("__k"))
      .select(col("user_id"),
        when(seen, tp).otherwise(96L).as("duration"),
        when(seen, 1L).otherwise(0L).as("event"),
        least(floor(col("__k") / lit(5d)), lit(6d)).cast("long").as("z"))
  }

  /** Spec access to the q361 Cox fixture (fixture-adequacy pins). */
  def coxSubjectsForSpec(s: SparkSession, dir: String): DataFrame =
    coxSubjects(s, dir)

  private def coxSelect(d: DataFrame): DataFrame =
    d.select(col("n"), col("n_events"), col("cov_min"),
      col("u0_9"), col("i0_9"),
      round(col("z_score"), 9).as("z_score"),
      round(col("beta"), 9).as("beta"),
      round(col("se_beta"), 9).as("se_beta"),
      round(col("hr"), 9).as("hr"),
      col("last_step9"), col("converged"), col("n_iter"))

  /** Cox proportional hazards gate: time-to-purchase hazard vs the
    * bucketed click-activity covariate — 8 fixed Newton rounds on the
    * Breslow partial likelihood over the completed (z × t) risk grid
    * from the lifetime-cell store, plus the β = 0 score read. The
    * oracle replays every pass: the exact S₀/S₁/S₂ kernel sums, the
    * nano-landed per-event-time U/I terms, each β update, the final
    * se/hr/convergence read.
    */
  def q361CoxPh(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    coxSelect(Survival.coxPh(coxSubjects(s, dir), Nil,
      "duration", "event", "z"))
  }

  /** The q361 Cox fit FROM THE STORE: the covariate-keyed lifetime
    * cells folded from three complete-subject batches
    * ([[graft.operators.Survival.mergeLifetimeCells]] keyed by z) —
    * fold == rebuild under the q361 oracle verbatim.
    */
  def q362CoxFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val subj = graft.plans.Lineage.truncate(coxSubjects(s, dir))
    def cellsOf(i: Int) = Survival.lifetimeCells(
      subj.filter(col("user_id") % 3 === i), Seq("z"), "duration", "event")
    val folded = (1 to 2).foldLeft(cellsOf(0)) { (acc, i) =>
      Survival.mergeLifetimeCells(acc, cellsOf(i), Seq("z"))
    }
    coxSelect(Survival.coxPhFromCells(folded, Nil, "z"))
  }

  /** Two-sample Hodges–Lehmann gate: the shift effect size + inverted-MW
    * CI beside the q221 Mann–Whitney test — click-vs-view on integer
    * value units (floor(value): the q210 bucket-first discipline keeps
    * the cell-pair grid value-range-bounded, CONSTANT in row count).
    * The oracle replays the cell-pair grid, the lower-median and both
    * CI rank selections, and the large-sample k dag.
    */
  def q363HlTwoSample(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull && col("event_type").isin("click", "view"))
      .select(col("event_type").cast("string").as("grp0"),
        floor(col("value")).cast("long").as("v"))
    Association.hodgesLehmannTwoSample(ev, Nil, "grp0", "v")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), col("n_pairs"), col("k_alpha"),
        round(col("hl"), 9).as("hl"), round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
  }

  /** The q359 Bayesian read FROM THE STORE: three complete-unit batches
    * folded via [[graft.quality.AbDashboard.mergeAbCells]], the same
    * one-read posterior chain over the folded state — fold == rebuild
    * under the q359 oracle verbatim.
    */
  def q360BayesAbFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.{AbDashboard, BayesAb}
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val pu = graft.plans.Lineage.truncate(abPerUserK(s, dir))
    def cellsOf(i: Int) = AbDashboard.abCells(
      pu.filter(col("user_id") % 3 === i), "arm", "peek", "y", "x", "hit")
    val folded = (1 to 2).foldLeft(cellsOf(0)) { (acc, i) =>
      AbDashboard.mergeAbCells(acc, cellsOf(i))
    }
    bayesAbSelect(BayesAb.bayesAbKArmFromCells(
      folded, arms = Seq("A", "B", "C", "D"), control = "A"))
  }

  /** The q367 MEAN-metric k-arm fixture: the q345 arm/peek split with a
    * CONTINUOUS outcome whose mean genuinely depends on the arm — per
    * user the sum of per-event values capped at an ARM-DEPENDENT level
    * (the event values sit at median ≈ 35 / p90 ≈ 113, so B's cap of 20
    * binds on most events → lower mean, D's 200 almost never → higher,
    * everyone else 60), so B-vs-A and D-vs-A carry real opposite-signed
    * mean shifts
    * while C-vs-A is null (fixture-adequacy spec-pinned). Values land
    * as floor(value) longs (the house long-cast rule); a user whose
    * values are all NULL reads y = 0.
    */
  private def abPerUserMeanK(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .withColumn("arm",
        when(col("user_id") % 20 < 8, "A")
          .when(col("user_id") % 20 < 14, "B")
          .when(col("user_id") % 20 < 18, "C")
          .when(col("user_id") % 20 < 19, "D")
          .otherwise("E"))
      .withColumn("__cap",
        when(col("arm") === "B", 20L)
          .when(col("arm") === "D", 200L).otherwise(60L))
    ev.groupBy("user_id", "arm")
      .agg(
        coalesce(sum(when(col("value").isNotNull,
          least(floor(col("value")).cast("long"), col("__cap")))), lit(0L))
          .as("y"),
        sum(when(col("event_id") % 2 === 0, 1L).otherwise(0L)).as("x"),
        max(when(col("value") >= 250d, 1L).otherwise(0L)).as("__h"))
      .withColumn("hit", coalesce(col("__h") > 0L, lit(false)))
      .withColumn("peek", col("user_id") % 6)
  }

  /** Spec access to the q367 mean fixture (fixture-adequacy pins). */
  def abPerUserMeanKForSpec(s: SparkSession, dir: String): DataFrame =
    abPerUserMeanK(s, dir)

  private def bayesMeanSelect(d: DataFrame): DataFrame =
    d.select(col("peek"), col("arm"), col("n_arm"),
        round(col("mean_arm"), 9).as("mean_arm"),
        round(col("se_arm"), 9).as("se_arm"),
        round(col("cred_lo_arm"), 9).as("cred_lo_arm"),
        round(col("cred_hi_arm"), 9).as("cred_hi_arm"),
        col("n_ctl"),
        round(col("mean_ctl"), 9).as("mean_ctl"),
        round(col("se_ctl"), 9).as("se_ctl"),
        round(col("cred_lo_ctl"), 9).as("cred_lo_ctl"),
        round(col("cred_hi_ctl"), 9).as("cred_hi_ctl"),
        round(col("delta"), 9).as("delta"),
        round(col("se_delta"), 9).as("se_delta"),
        round(col("p_beat_ctl"), 9).as("p_beat_ctl"),
        round(col("exp_loss_arm"), 9).as("exp_loss_arm"),
        round(col("exp_loss_ctl"), 9).as("exp_loss_ctl"), col("ok"))
      .orderBy("peek", "arm")

  /** Bayesian MEAN-metric read gate: per (arm, peek) the closed-form
    * normal posterior over the ab-cells outcome moments — posterior
    * mean + credible interval per arm, P(beat control) and both
    * expected losses per comparison, Φ/φ in-engine. The oracle replays
    * the moments, the welchT variance dags, and the closed forms.
    */
  def q367BayesMean(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.{AbDashboard, BayesMean}
    bayesMeanSelect(BayesMean.bayesMeanKArmFromCells(
      AbDashboard.abCells(abPerUserMeanK(s, dir), "arm", "peek", "y", "x",
        "hit"),
      arms = Seq("A", "B", "C", "D"), control = "A"))
  }

  /** The q367 read FROM THE STORE: three complete-unit batches folded
    * via [[graft.quality.AbDashboard.mergeAbCells]] — fold == rebuild
    * under the q367 oracle verbatim.
    */
  def q368BayesMeanFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.{AbDashboard, BayesMean}
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val pu = graft.plans.Lineage.truncate(abPerUserMeanK(s, dir))
    def cellsOf(i: Int) = AbDashboard.abCells(
      pu.filter(col("user_id") % 3 === i), "arm", "peek", "y", "x", "hit")
    val folded = (1 to 2).foldLeft(cellsOf(0)) { (acc, i) =>
      AbDashboard.mergeAbCells(acc, cellsOf(i))
    }
    bayesMeanSelect(BayesMean.bayesMeanKArmFromCells(
      folded, arms = Seq("A", "B", "C", "D"), control = "A"))
  }

  /** The q369 RATIO-metric k-arm fixture: per user a clicks-per-view
    * ratio whose NUMERATOR rule depends on the arm — B counts only
    * clicks with value ≥ 30 (cuts roughly half against the median-35
    * value distribution → genuinely lower CTR), D counts clicks AND
    * purchases (higher), A/C/E count plain clicks — so B-vs-A and
    * D-vs-A carry real opposite-signed ratio shifts while C-vs-A is
    * null (adequacy spec-pinned). The denominator (views) is
    * arm-independent. y = numerator, x = denominator: the abCells
    * moment set IS the delta-method state.
    */
  private def abPerUserRatioK(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .withColumn("arm",
        when(col("user_id") % 20 < 8, "A")
          .when(col("user_id") % 20 < 14, "B")
          .when(col("user_id") % 20 < 18, "C")
          .when(col("user_id") % 20 < 19, "D")
          .otherwise("E"))
    val isNum =
      when(col("arm") === "B",
        col("event_type") === "click" && col("value") >= 30d)
        .when(col("arm") === "D",
          col("event_type").isin("click", "purchase"))
        .otherwise(col("event_type") === "click")
    ev.groupBy("user_id", "arm")
      .agg(
        sum(when(isNum, 1L).otherwise(0L)).as("y"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        max(when(col("value") >= 250d, 1L).otherwise(0L)).as("__h"))
      .withColumn("hit", coalesce(col("__h") > 0L, lit(false)))
      .withColumn("peek", col("user_id") % 6)
  }

  /** Spec access to the q369 ratio fixture (fixture-adequacy pins). */
  def abPerUserRatioKForSpec(s: SparkSession, dir: String): DataFrame =
    abPerUserRatioK(s, dir)

  private def ratioDeltaSelect(d: DataFrame): DataFrame =
    d.select(col("peek"), col("arm"), col("n_arm"),
        round(col("ratio_arm"), 9).as("ratio_arm"),
        round(col("se_arm"), 9).as("se_arm"),
        col("n_ctl"),
        round(col("ratio_ctl"), 9).as("ratio_ctl"),
        round(col("se_ctl"), 9).as("se_ctl"),
        round(col("delta"), 9).as("delta"),
        round(col("se_delta"), 9).as("se_delta"),
        round(col("z"), 9).as("z"),
        round(col("p_value"), 9).as("p_value"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"), col("ok"))
      .orderBy("peek", "arm")

  /** Ratio-metric delta-method gate: per (arm, peek) the user-level
    * CTR read — r̂ = Σclicks/Σviews with the Deng–Knoblich–Lu variance
    * over the ab-cells moment set, z/p/CI per comparison. The oracle
    * replays the moments, the quadratic form, the exact Δ cross
    * product, and the Φ p-value.
    */
  def q369RatioDelta(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.{AbDashboard, RatioMetric}
    ratioDeltaSelect(RatioMetric.ratioDeltaKArmFromCells(
      AbDashboard.abCells(abPerUserRatioK(s, dir), "arm", "peek", "y", "x",
        "hit"),
      arms = Seq("A", "B", "C", "D"), control = "A"))
  }

  /** The q369 read FROM THE STORE: three complete-unit batches folded
    * via [[graft.quality.AbDashboard.mergeAbCells]] — fold == rebuild
    * under the q369 oracle verbatim.
    */
  def q370RatioDeltaFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.{AbDashboard, RatioMetric}
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val pu = graft.plans.Lineage.truncate(abPerUserRatioK(s, dir))
    def cellsOf(i: Int) = AbDashboard.abCells(
      pu.filter(col("user_id") % 3 === i), "arm", "peek", "y", "x", "hit")
    val folded = (1 to 2).foldLeft(cellsOf(0)) { (acc, i) =>
      AbDashboard.mergeAbCells(acc, cellsOf(i))
    }
    ratioDeltaSelect(RatioMetric.ratioDeltaKArmFromCells(
      folded, arms = Seq("A", "B", "C", "D"), control = "A"))
  }

  /** The q371 two-covariate Cox fixture: the q361 subjects with a
    * SECOND bounded covariate — view activity bucketed to
    * z2 = min(⌊views/10⌋, 3). Click and view activity correlate but
    * are not collinear (det₉ > 0 spec-pinned), so the fit reads the
    * click-activity hazard gradient CONTROLLING FOR view volume.
    */
  private def coxSubjects2(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600L).as("h"))
    val tp = col("__p") - col("__f") + 1L
    val seen = col("__p").isNotNull && tp <= 96L
    ev.groupBy("user_id")
      .agg(min("h").as("__f"),
        min(when(col("event_type") === "purchase", col("h"))).as("__p"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("__k"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("__v"))
      .select(col("user_id"),
        when(seen, tp).otherwise(96L).as("duration"),
        when(seen, 1L).otherwise(0L).as("event"),
        least(floor(col("__k") / lit(5d)), lit(6d)).cast("long").as("z"),
        least(floor(col("__v") / lit(10d)), lit(3d)).cast("long").as("z2"))
  }

  /** Spec access to the q371 fixture (fixture-adequacy pins). */
  def coxSubjects2ForSpec(s: SparkSession, dir: String): DataFrame =
    coxSubjects2(s, dir)

  private def cox2Select(d: DataFrame): DataFrame =
    d.select(col("n"), col("n_events"), col("cov1_min"), col("cov2_min"),
      col("u0a_9"), col("u0b_9"), col("det0_9"),
      round(col("score_chi2"), 9).as("score_chi2"),
      round(col("beta1"), 9).as("beta1"),
      round(col("se_beta1"), 9).as("se_beta1"),
      round(col("hr1"), 9).as("hr1"),
      round(col("beta2"), 9).as("beta2"),
      round(col("se_beta2"), 9).as("se_beta2"),
      round(col("hr2"), 9).as("hr2"),
      col("last_step_a9"), col("last_step_b9"), col("converged"),
      col("n_iter"))

  /** Two-covariate Cox gate: the adjusted hazard read — click-activity
    * gradient controlling for view volume, 8 fixed Cramer-Newton
    * rounds + the 2-df score read. The oracle replays all nine passes
    * with the exact-determinant algebra.
    */
  def q371CoxPh2(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    cox2Select(Survival.coxPh2(coxSubjects2(s, dir), Nil,
      "duration", "event", "z", "z2"))
  }

  /** The q371 fit FROM THE STORE: the (z, z2)-keyed lifetime cells
    * folded from three complete-subject batches — fold == rebuild
    * under the q371 oracle verbatim.
    */
  def q372Cox2FromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Survival
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val subj = graft.plans.Lineage.truncate(coxSubjects2(s, dir))
    def cellsOf(i: Int) = Survival.lifetimeCells(
      subj.filter(col("user_id") % 3 === i), Seq("z", "z2"),
      "duration", "event")
    val folded = (1 to 2).foldLeft(cellsOf(0)) { (acc, i) =>
      Survival.mergeLifetimeCells(acc, cellsOf(i), Seq("z", "z2"))
    }
    cox2Select(Survival.coxPh2FromCells(folded, Nil, "z", "z2"))
  }

  /** The q374 12-peek rate-increment state: per peek each parity arm's
    * event EXPOSURE and incident COUNT, with the incident threshold
    * ARM-DEPENDENT (even users ≥ 150, odd ≥ 170 against the median-35
    * value distribution) so the monitored rate gap is REAL and the
    * monitor genuinely fires (adequacy spec-pinned); the equal-threshold
    * variant stays quiet (spec-constructed).
    */
  private def rateIncrements(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select((col("event_id") % 12).as("peek"),
        (col("user_id") % 2 === 0).as("__even"), col("value"))
    ev.groupBy("peek").agg(
      sum(when(col("__even"), 1L).otherwise(0L)).as("e1"),
      sum(when(col("__even") && col("value") >= 150d, 1L).otherwise(0L))
        .as("c1"),
      sum(when(!col("__even"), 1L).otherwise(0L)).as("e2"),
      sum(when(!col("__even") && col("value") >= 170d, 1L).otherwise(0L))
        .as("c2"))
  }

  /** Spec access to the q374 increment state (fixture-adequacy pins). */
  def rateIncrementsForSpec(s: SparkSession, dir: String): DataFrame =
    rateIncrements(s, dir)

  /** Sequential rate-monitor gate: the Poisson count-per-exposure
    * mSPRT — incidents per event between the parity arms, always-valid
    * under continuous peeking. The oracle replays cumulative exposures/
    * counts, the pooled-λ variance, the nano mixture-LR dag and the
    * exact ln(20) boundary.
    */
  def q374MsprtRate(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.SequentialTests
    SequentialTests.msprtTwoRate(rateIncrements(s, dir), Nil, "peek",
        "e1", "c1", "e2", "c2", tau2 = 0.000244140625d, alpha = 0.05d)
      .select(col("peek"), col("e_lo"), col("c_lo"), col("e_hi"), col("c_hi"),
        round(col("delta"), 9).as("delta"), col("ln_lr9"),
        round(col("p_always_valid"), 9).as("p_always_valid"), col("reject"))
      .orderBy("peek")
  }

  /** The always-valid confidence-sequence dual of q374 (rate
    * difference): same state, the inversion radius, simultaneous
    * coverage — the duality with the monitor is spec-asserted.
    */
  def q375AvCiRate(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.SequentialTests
    SequentialTests.alwaysValidCiTwoRate(rateIncrements(s, dir), Nil, "peek",
        "e1", "c1", "e2", "c2", tau2 = 0.000244140625d, alpha = 0.05d)
      .select(col("peek"), col("e_lo"), col("c_lo"), col("e_hi"), col("c_hi"),
        round(col("delta"), 9).as("delta"),
        round(col("radius"), 9).as("radius"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
      .orderBy("peek")
  }

  /** The q378 ratio-CUPED per-user fixture: current-period CTR (odd
    * event_ids, the q369 arm-dependent numerator rules) beside the
    * PRE-period CTR (even event_ids, arm-INDEPENDENT — it pre-dates
    * the treatment), unioned into two 2-arm comparisons (A-vs-B and
    * A-vs-D, opposite-signed effects). The synthetic users carry NO
    * natural behavioral heterogeneity (measured: every split-half
    * correlation ≈ 0), so the fixture builds a deterministic one —
    * "premium" users (user_id % 7 < 2) count purchases in the
    * numerator in BOTH periods — giving the halves a genuinely shared
    * across-user ratio signal (rho2 adequacy spec-pinned).
    */
  private def ratioCupedPerUser(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .withColumn("arm",
        when(col("user_id") % 20 < 8, "A")
          .when(col("user_id") % 20 < 14, "B")
          .when(col("user_id") % 20 < 18, "C")
          .when(col("user_id") % 20 < 19, "D")
          .otherwise("E"))
    val prem = col("user_id") % 7 < 2
    val isNum =
      (when(col("arm") === "B",
        col("event_type") === "click" && col("value") >= 30d)
        .when(col("arm") === "D",
          col("event_type").isin("click", "purchase"))
        .otherwise(col("event_type") === "click")) ||
        (prem && col("event_type") === "purchase")
    val isNumPre = col("event_type") === "click" ||
      (prem && col("event_type") === "purchase")
    val cur = col("event_id") % 2 =!= 0
    val pre = col("event_id") % 2 === 0
    val pu = ev.groupBy("user_id", "arm")
      .agg(
        sum(when(cur && isNum, 1L).otherwise(0L)).as("y"),
        sum(when(cur && col("event_type") === "view", 1L).otherwise(0L))
          .as("x"),
        sum(when(pre && isNumPre, 1L).otherwise(0L)).as("p"),
        sum(when(pre && col("event_type") === "view", 1L).otherwise(0L))
          .as("q"))
    pu.filter(col("arm").isin("A", "B")).withColumn("cmp", lit("AB"))
      .unionByName(
        pu.filter(col("arm").isin("A", "D")).withColumn("cmp", lit("AD")))
  }

  /** Spec access to the q378 fixture (fixture-adequacy pins). */
  def ratioCupedPerUserForSpec(s: SparkSession, dir: String): DataFrame =
    ratioCupedPerUser(s, dir)

  private def ratioCupedSelect(d: DataFrame): DataFrame =
    d.select(col("cmp"), col("grp_lo"), col("grp_hi"), col("n_groups"),
        col("n_lo"), col("n_hi"),
        round(col("ratio_lo"), 9).as("ratio_lo"),
        round(col("ratio_hi"), 9).as("ratio_hi"),
        round(col("delta_raw"), 9).as("delta_raw"),
        round(col("se_raw"), 9).as("se_raw"),
        round(col("theta"), 9).as("theta"),
        round(col("rho2"), 9).as("rho2"),
        round(col("delta_cuped"), 9).as("delta_cuped"),
        round(col("se_cuped"), 9).as("se_cuped"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
      .orderBy("cmp")

  /** Ratio-CUPED gate: the variance-reduced CTR read — current-period
    * ratio difference adjusted by the pre-period ratio difference
    * through the delta-method linearization, per comparison. The
    * oracle replays the 14-moment cells and the whole chain.
    */
  def q378RatioCuped(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.RatioMetric
    ratioCupedSelect(RatioMetric.ratioCupedFromCells(
      RatioMetric.ratioCupedCells(ratioCupedPerUser(s, dir), Seq("cmp"),
        "arm", "y", "x", "p", "q"),
      Seq("cmp")))
  }

  /** The q378 read FROM THE STORE: three complete-unit batches folded
    * via [[graft.quality.RatioMetric.mergeRatioCupedCells]] — fold ==
    * rebuild under the q378 oracle verbatim.
    */
  def q379RatioCupedFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.RatioMetric
    // one execution of the row-scale per-unit aggregation: the three
    // batch cell passes below each referenced it (r18 truncate)
    val pu = graft.plans.Lineage.truncate(ratioCupedPerUser(s, dir))
    def cellsOf(i: Int) = RatioMetric.ratioCupedCells(
      pu.filter(col("user_id") % 3 === i), Seq("cmp"), "arm",
      "y", "x", "p", "q")
    val folded = (1 to 2).foldLeft(cellsOf(0)) { (acc, i) =>
      RatioMetric.mergeRatioCupedCells(acc, cellsOf(i), Seq("cmp"))
    }
    ratioCupedSelect(RatioMetric.ratioCupedFromCells(folded, Seq("cmp")))
  }

  /** P(best) gate: per (arm, peek) the probability the arm's conversion
    * rate is the highest of ALL FOUR designed arms — the genuinely
    * multi-arm Bayesian column on the q345 cell state. The oracle
    * replays the grid, the k-wide pivot, the fixed-order cdf products,
    * and the integer-rounded term sums.
    */
  def q382BayesBest(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.{AbDashboard, BayesAb}
    BayesAb.bayesBestKArmFromCells(
      AbDashboard.abCells(abPerUserK(s, dir), "arm", "peek", "y", "x", "hit"),
      arms = Seq("A", "B", "C", "D"))
      .select(col("peek"), col("arm"), col("n"), col("s_hit"),
        round(col("post_mean"), 9).as("post_mean"),
        round(col("p_best"), 9).as("p_best"))
      .orderBy("peek", "arm")
  }

  /** The q380 k-arm RATE increment state: per (arm, peek) each designed
    * arm's event exposure and incident count, incident threshold
    * ARM-DEPENDENT (B ≥ 170 → genuinely lower rate, D ≥ 130 → higher,
    * A/C/E ≥ 150) so B-vs-A and D-vs-A carry real opposite-signed rate
    * shifts while C-vs-A is null (adequacy spec-pinned).
    */
  private def ratePerArmK(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .withColumn("arm",
        when(col("user_id") % 20 < 8, "A")
          .when(col("user_id") % 20 < 14, "B")
          .when(col("user_id") % 20 < 18, "C")
          .when(col("user_id") % 20 < 19, "D")
          .otherwise("E"))
      .withColumn("__thr",
        when(col("arm") === "B", 170d)
          .when(col("arm") === "D", 130d).otherwise(150d))
    ev.groupBy(col("arm"), (col("user_id") % 6).as("peek"))
      .agg(count(lit(1)).as("e"),
        sum(when(col("value") >= col("__thr"), 1L).otherwise(0L)).as("c"))
  }

  /** Spec access to the q380 increment state (fixture-adequacy pins). */
  def ratePerArmKForSpec(s: SparkSession, dir: String): DataFrame =
    ratePerArmK(s, dir)

  private def bayesRateSelect(d: DataFrame): DataFrame =
    d.select(col("peek"), col("arm"), col("e_arm"), col("c_arm"),
        col("a_arm"), col("b_arm"),
        round(col("post_mean_arm"), 9).as("post_mean_arm"),
        round(col("post_sd_arm"), 9).as("post_sd_arm"),
        round(col("cred_lo_arm"), 9).as("cred_lo_arm"),
        round(col("cred_hi_arm"), 9).as("cred_hi_arm"),
        col("e_ctl"), col("c_ctl"), col("a_ctl"), col("b_ctl"),
        round(col("post_mean_ctl"), 9).as("post_mean_ctl"),
        round(col("post_sd_ctl"), 9).as("post_sd_ctl"),
        round(col("cred_lo_ctl"), 9).as("cred_lo_ctl"),
        round(col("cred_hi_ctl"), 9).as("cred_hi_ctl"),
        round(col("p_beat_ctl"), 9).as("p_beat_ctl"),
        round(col("exp_loss_arm"), 9).as("exp_loss_arm"),
        round(col("exp_loss_ctl"), 9).as("exp_loss_ctl"))
      .orderBy("peek", "arm")

  /** Bayesian RATE read gate: Gamma–Poisson posteriors over the k-arm
    * exposure/count state — P(beat control) and both expected losses
    * by the exact negative-binomial tails. The oracle replays the
    * landed-log series, the quantized terms, and all three sums.
    */
  def q380BayesRate(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.BayesRate
    bayesRateSelect(BayesRate.bayesRateKArmFromCells(
      ratePerArmK(s, dir), arms = Seq("A", "B", "C", "D"), control = "A"))
  }

  /** The q380 read FROM THE STORE: three complete-user batches of
    * increments folded additively — fold == rebuild under the q380
    * oracle verbatim.
    */
  def q381BayesRateFromStore(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.BayesRate
    val ev = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .withColumn("arm",
        when(col("user_id") % 20 < 8, "A")
          .when(col("user_id") % 20 < 14, "B")
          .when(col("user_id") % 20 < 18, "C")
          .when(col("user_id") % 20 < 19, "D")
          .otherwise("E"))
      .withColumn("__thr",
        when(col("arm") === "B", 170d)
          .when(col("arm") === "D", 130d).otherwise(150d))
    def cellsOf(i: Int) = ev.filter(col("user_id") % 3 === i)
      .groupBy(col("arm"), (col("user_id") % 6).as("peek"))
      .agg(count(lit(1)).as("e"),
        sum(when(col("value") >= col("__thr"), 1L).otherwise(0L)).as("c"))
    val folded = (1 to 2).foldLeft(cellsOf(0)) { (acc, i) =>
      acc.unionByName(cellsOf(i)).groupBy("arm", "peek")
        .agg(sum("e").as("e"), sum("c").as("c"))
    }
    bayesRateSelect(BayesRate.bayesRateKArmFromCells(
      folded, arms = Seq("A", "B", "C", "D"), control = "A"))
  }

  /** Rate power/MDE gate: the sizing panel behind the q374 rate
    * monitor — pooled-λ Poisson MDE and required exposure per arm at
    * the pinned z's. The oracle replays the counts and both closed
    * forms.
    */
  def q377PowerRate(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val counts = Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .groupBy(when(col("user_id") % 2 === 0, "even").otherwise("odd")
        .as("grp"))
      .agg(count(lit(1)).as("e"),
        sum(when(col("value") >= 150d, 1L).otherwise(0L)).as("c"))
    Association.powerRateFromCounts(counts, Nil, targetMde = 0.005d)
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"),
        col("e_lo"), col("e_hi"),
        round(col("lambda_pool"), 9).as("lambda_pool"),
        round(col("mde_abs"), 9).as("mde_abs"),
        round(col("mde_rel"), 9).as("mde_rel"),
        col("e_required_per_arm"))
  }

  /** Isotonic recalibration gate: the monotone fit of per-bucket
    * positive rate over the q309 calibration cell state — the
    * closed-form minimax evaluation over bounded bucket triples (no
    * iteration). The oracle replays the cells, the cumulative frame,
    * the (j ≤ i ≤ k) triple minimax, and the pooled flag.
    */
  def q376IsotonicFit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RankEval
    val (preds, labels) = calibFrames(s, dir)
    RankEval.isotonicCalibration(RankEval.calibrationCells(
      preds, labels, "event_id", "score", "label", nBuckets = 10))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("conf"), 9).as("conf"),
        round(col("rate_raw"), 9).as("rate_raw"),
        round(col("rate_iso"), 9).as("rate_iso"), col("pooled"))
      .orderBy("bucket")
  }

  /** Ordinal effect-size gate: Cliff's δ with the consistent variance
    * and asymmetric CI beside the q221 Mann–Whitney test — the q363
    * click-vs-view fixture on integer value units. The oracle replays
    * the value cells, the exact dominance/tie sums, the 1e9-landed
    * deviation terms, and the CI transformation.
    */
  def q373CliffsDelta(s: SparkSession, dir: String): DataFrame = {
    import graft.quality.Association
    val ev = Tables.events(s, dir)
      .filter(col("value").isNotNull && col("event_type").isin("click", "view"))
      .select(col("event_type").cast("string").as("grp0"),
        floor(col("value")).cast("long").as("v"))
    Association.cliffsDelta(ev, Nil, "grp0", "v")
      .select(col("grp_lo"), col("grp_hi"), col("n_groups"), col("n_lo"),
        col("n_hi"), col("num_d"), col("n_tied_pairs"),
        round(col("cliffs_delta"), 9).as("cliffs_delta"),
        round(col("cles"), 9).as("cles"),
        round(col("var_delta"), 9).as("var_delta"),
        round(col("ci_lo"), 9).as("ci_lo"),
        round(col("ci_hi"), 9).as("ci_hi"))
  }
}
