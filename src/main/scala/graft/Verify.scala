package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes — local iteration only
    // (the driver always runs the full set)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Fixture-gated oracles name their parquet via `__GRAFT_FIXTURE:kind__`
    // placeholders (the path depends on the sf dir, which a static SQL map
    // can't know); splice the real per-sfDir path before the dump so the
    // driver's DuckDB run reads exactly what the Spark query read.
    val fixtureRef = "__GRAFT_FIXTURE:([a-z0-9_]+)__".r
    def splice(sql: String): String =
      fixtureRef.replaceAllIn(sql, m =>
        scala.util.matching.Regex.quoteReplacement(
          graft.queries.Fixtures.pathFor(sfDir, m.group(1))))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(splice(v))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
