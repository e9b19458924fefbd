package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType}
import scala.jdk.CollectionConverters._

/** Small state solved on the driver, next to the engine: the driver twins
  * (connected components, the threshold sweep, the incremental fold,
  * PageRank, MinHash blocking) and the bounded folds (the A/B spine, the
  * Bayes and Cox folds, BPE on a collected dictionary) read their frame
  * through the one bounded collect here.
  */
object Local {

  /** The one driver row bound. 2^20 rows of a few boxed columns — a
    * (src, dst) edge, an (arm, peek) cell, a Cox risk-grid row — are on
    * the order of 100 MB as driver `Row` objects, well inside a default
    * driver heap; below it the per-stage scheduling latency of an
    * iterative Spark loop, not the row work, is the cost. A twin over the
    * bound falls back to its distributed loop; a fold over it fails, as
    * its operator contract (arms × peeks, covariate levels × durations:
    * thousands of rows) was violated upstream.
    */
  val Bound: Int = 1 << 20

  /** At most `max` rows of `df`, else None. `limit(max + 1)` bounds the
    * collect BEFORE the rows reach the driver: CollectLimit stops after
    * the first partitions when the frame is huge.
    */
  private def upTo(df: DataFrame, max: Int): Option[Array[Row]] = {
    val rows = df.limit(max + 1).collect()
    if (rows.length > max) None else Some(rows)
  }

  /** Fallback form (the twins): None when `max` is not positive, the
    * frame holds more than `max` rows, or any cell is NULL — the caller's
    * distributed loop owns the semantics (NULL join keys are tolerated
    * there).
    */
  def rows(df: DataFrame, max: Int = Bound): Option[Array[Row]] =
    if (max <= 0) None else upTo(df, max).filterNot(_.exists(_.anyNull))

  /** Fail form (the folds): NULL cells kept; more than `max` rows throw
    * an IllegalArgumentException naming `what`.
    */
  def rowsOrFail(df: DataFrame, what: String, max: Int = Bound): Array[Row] = {
    val rows = upTo(df, max)
    require(rows.isDefined, s"$what: more than $max rows exceed the driver " +
      "bound — the frame must stay bounded per the operator contract")
    rows.get
  }

  /** Every named column exists and is LONG — the union-find twins' ids. */
  def longCols(df: DataFrame, names: String*): Boolean =
    names.forall(n => df.schema.fields.exists(f => f.name == n && f.dataType == LongType))

  /** Driver rows as a LocalRelation, with no reflection encoder. */
  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}

/** Union-find over long ids with MIN-ID roots (a component's root is its
  * smallest member — the min-label fixpoint of `labelPropagation`), path
  * compression on `find`, and running node and cluster counts.
  */
final class LongUnionFind {
  private val parent = scala.collection.mutable.LongMap.empty[Long]
  private var merged = 0L

  def nodes: Long = parent.size.toLong
  def clusters: Long = nodes - merged
  def ids: Iterable[Long] = parent.keys

  def find(x: Long): Long = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  def union(a: Long, b: Long): Unit = {
    if (!parent.contains(a)) parent(a) = a
    if (!parent.contains(b)) parent(b) = b
    val ra = find(a); val rb = find(b)
    if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb; merged += 1 }
  }
}
