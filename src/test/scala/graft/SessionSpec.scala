package graft

/** graft.Session is the one SparkSession factory: the spec session is the
  * one it builds, and no other main-code site builds its own.
  */
class SessionSpec extends SparkSpec {

  test("the spec session is Session.builder(4)'s: pinned confs, GraftExtensions installed") {
    assert(Session.builder(4).getOrCreate() eq spark)
    assert(spark.sparkContext.master == "local[4]")
    Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false"
    ).foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
    // an injected function resolves and evaluates: popcount(5 ^ 3) = 2
    assert(spark.sql("SELECT graft_hamming(5, 3)").head().getInt(0) == 2)
  }

  test("no main-code file but Session.scala calls SparkSession.builder(") {
    val callers = MainSources.hits(_.contains("SparkSession.builder("))
      .filterNot(_.contains("/graft/Session.scala:"))
    assert(callers.isEmpty, callers.mkString("builder copies outside Session.scala: ", ", ", ""))
  }
}
