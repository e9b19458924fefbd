package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset diff: classify rows of two datasets sharing a primary key into
  * added / removed / changed / not_changed, with a per-column change map.
  *
  * Capability parity with the reference's dataframe diff
  * (reference: bdq/dataframe.py:20 compare_dataframes), Spark-first design:
  *
  *  - ONE full-outer join on the key; every derived view (added, removed,
  *    changed, summary) reuses that single joined plan, so Catalyst schedules
  *    one shuffle per input instead of re-joining per category.
  *  - `summary` computes all four counts in a single aggregate pass over a
  *    category tag (the reference issues four separate count() jobs —
  *    bdq/dataframe.py:70-79 — i.e. 4 full scans).
  *  - Null-safe equality (`<=>`) for change detection, like the reference.
  *
  * At 100 TB: the join shuffles both sides once on the key columns; the
  * change map is computed row-local post-join (no extra exchange), and
  * only on changed rows — every joined row pays one codegen'd
  * `OR(NOT l <=> r)`, never the map's lambda. If one side is small it
  * broadcast-joins automatically (AQE).
  */
object CompareDataFrames {

  final case class Compared(
      keyColumns: Seq[String],
      added: DataFrame,
      removed: DataFrame,
      changed: DataFrame,
      notChanged: DataFrame,
      /** One row per category: (category, cnt) — single-pass counts. */
      summary: DataFrame,
      /** Long form of `changed`: key cols + (column_name, before, after). */
      changedLong: DataFrame,
      /** The persisted joined frame when built with cache=true. */
      cached: Option[DataFrame] = None
  )

  /** @param cache persist the joined frame so the category views and
    *   counts reuse one materialization (reference: cache_results flag,
    *   bdq/dataframe.py:20). Call [[uncache]] when done.
    */
  def apply(df1: DataFrame, df2: DataFrame, keyColumns: Seq[String], cache: Boolean = false): Compared = {
    require(keyColumns.nonEmpty, "keyColumns must not be empty")
    val l = df1.alias("df1")
    val r = df2.alias("df2")
    val joined0 = l.join(r, keyColumns.toSeq, "full_outer")
    val joined = if (cache) joined0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) else joined0

    val k0l = col(s"df1.${keyColumns.head}")
    val k0r = col(s"df2.${keyColumns.head}")
    val valueCols = df1.columns.filterNot(keyColumns.contains).toSeq
    def differs(n: String): Column = not(col(s"df1.$n") <=> col(s"df2.$n"))
    def asString(n: String, side: String): Column = col(s"$side.$n").cast("string")

    // the category is decided by one codegen'd OR; the change map (whose
    // array_compact is a lambda `filter`, outside whole-stage codegen) is
    // built only on rows already known to have changed
    val anyChange = valueCols.map(differs).reduceOption(_ || _).getOrElse(lit(false))
    val changeMap = map_from_arrays(
      array_compact(array(valueCols.map(n => when(differs(n), lit(n))): _*)),
      array_compact(array(valueCols.map(n =>
        when(differs(n), struct(asString(n, "df1").as("before"), asString(n, "df2").as("after")))): _*))
    )

    val category = when(k0l.isNull, "added")
      .when(k0r.isNull, "removed")
      .when(anyChange, "changed")
      .otherwise("not_changed")

    val added = joined.filter(k0l.isNull).select(col("df2.*"))
    val removed = joined.filter(k0r.isNull).select(col("df1.*"))
    val shared = joined.filter(k0l.isNotNull && k0r.isNotNull)
    val changedRows = shared.filter(anyChange)
    val changed = changedRows.select(keyColumns.map(col) :+ changeMap.as("changed"): _*)
    val notChanged = shared.filter(not(anyChange))
      .select(keyColumns.map(col) :+ emptyChangeMap.as("changed"): _*)

    val summary = joined.groupBy(category.as("category"))
      .agg(count(lit(1)).as("cnt"))

    // one nullable struct per value column, NULL where it did not change:
    // explode and drop the NULLs — no higher-order function
    val changedLong = {
      val entries =
        if (valueCols.isEmpty) Seq(lit(null).cast(EntryType))
        else valueCols.map(n => when(differs(n), struct(lit(n).as("column_name"),
          asString(n, "df1").as("before"), asString(n, "df2").as("after"))))
      def notNull(c: Column): Column = org.apache.spark.sql.graftbridge.column(
        org.apache.spark.sql.catalyst.expressions.KnownNotNull(
          org.apache.spark.sql.graftbridge.expression(c)))
      changedRows.select(keyColumns.map(col) :+ explode(array(entries: _*)).as("e"): _*)
        .filter(col("e").isNotNull)
        .select(
          keyColumns.map(col) ++ Seq(
            notNull(col("e.column_name")).as("column_name"),
            col("e.before").as("before"),
            col("e.after").as("after")
          ): _*
        )
    }

    Compared(keyColumns.toSeq, added, removed, changed, notChanged, summary, changedLong,
      cached = if (cache) Some(joined) else None)
  }

  /** One changedLong entry before it is exploded. */
  private val EntryType = org.apache.spark.sql.types.StructType.fromDDL(
    "column_name string, before string, after string")

  /** The `changed` map of a row with no change, typed like the change map. */
  private def emptyChangeMap: Column = {
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.sql.types._
    val valueType = StructType(Seq(StructField("before", StringType), StructField("after", StringType)))
    org.apache.spark.sql.graftbridge.column(org.apache.spark.sql.catalyst.expressions.Literal(
      new ArrayBasedMapData(new GenericArrayData(Array.empty[Any]), new GenericArrayData(Array.empty[Any])),
      MapType(StringType, valueType, valueContainsNull = false)))
  }

  /** Unpersist what a cached compare pinned (reference:
    * uncache_compare_dataframes_results, bdq/dataframe.py:86).
    */
  def uncache(c: Compared): Unit = c.cached.foreach(_.unpersist())

  /** Eagerly compute the four counts (one Spark job). */
  def counts(c: Compared): Map[String, Long] = {
    val base = Map("added" -> 0L, "removed" -> 0L, "changed" -> 0L, "not_changed" -> 0L)
    base ++ c.summary.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Notebook-console rendering of a compare result (reference:
    * display_compare_dataframes_results, bdq/dataframe.py:90) — returns
    * the report as a STRING instead of printing, so callers own the side
    * effect (`println`, a notebook `displayHTML`, a log line). Record
    * sections reuse `Dataset.showString`-style truncation via
    * `show`-equivalent collection capped at `maxRows` — bounded driver
    * work regardless of diff size.
    *
    * COST: one aggregate plus one bounded collect per shown section, each
    * an action over the compare join — on large inputs build the compare
    * with `cache = true` so the shared full-outer join materializes once
    * (the multi-action pattern `cache` exists for); with the default
    * cache = false this convenience re-executes the join per section.
    */
  def render(
      c: Compared,
      showAdded: Boolean = true,
      showRemoved: Boolean = true,
      showChanged: Boolean = true,
      showNotChanged: Boolean = false,
      maxRows: Int = 20
  ): String = {
    val n = counts(c)
    def section(title: String, key: String, df: DataFrame, show: Boolean): String = {
      val head = s"$title count: ${n(key)}"
      if (!show) head
      else {
        val cols = df.columns
        val rows = df.limit(maxRows).collect().map(_.toSeq.map {
          case null => "NULL"
          case v => v.toString
        })
        val widths = cols.indices.map(i =>
          (cols(i).length +: rows.map(_(i).length)).max)
        def line(vals: Seq[String]) =
          vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString("| ", " | ", " |")
        (head +: line(cols.toSeq) +: rows.map(r => line(r)).toSeq).mkString("\n")
      }
    }
    Seq(
      section("Added records", "added", c.added, showAdded),
      section("Removed records", "removed", c.removed, showRemoved),
      section("Changed records", "changed", c.changed, showChanged),
      section("Not changed records", "not_changed", c.notChanged, showNotChanged)
    ).mkString("\n\n")
  }

  /** Zero-arg console sugar over [[render]] (the reference's
    * display_compare_dataframes_results ENDS in a print; `render` is the
    * scale-safe inversion, this is the parity wrapper). Same bounded
    * driver cost as render — see its COST note.
    */
  def show(
      c: Compared,
      showAdded: Boolean = true,
      showRemoved: Boolean = true,
      showChanged: Boolean = true,
      showNotChanged: Boolean = false,
      maxRows: Int = 20
  ): Unit =
    // scalastyle:off println — the console IS this method's contract
    println(render(c, showAdded, showRemoved, showChanged, showNotChanged, maxRows))
    // scalastyle:on println
}
