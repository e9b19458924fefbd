package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured — Bench, Verify, Probe
  * and the spec session all build through it, so a number or a plan taken
  * under one is comparable with the others.
  */
object Session {

  /** graft's conf set on `local[cpus]`: GraftExtensions installed, one
    * shuffle partition per core, UTC, and the two parquet timestamp confs
    * the testdata needs (nanos read as LONG, micros never inferred as NTZ).
    */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .withExtensions(new GraftExtensions)
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.ui.enabled", "false")

  /** The mains' session (Bench, Verify, Probe): `SPARK_GRAFT_CPUS` cores,
    * default 8.
    */
  def local(): SparkSession = {
    val spark = builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
