package graft

import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The native Gopher kernel against the regex columns it replaced — the
  * regex form is the gate's definition (q52's oracle SQL holds the same).
  */
class GopherSpec extends SparkSpec {

  /** The gate as eight regex columns: the definition. */
  private def regexGate(df: DataFrame, minWords: Int = 30, maxWords: Int = 100000): DataFrame = {
    val t = col("text")
    val nWords = size(split(trim(lower(t)), "\\s+")).cast("long")
    val nNonSpace = length(regexp_replace(t, "\\s", ""))
    val nSymbols = regexp_count(t, lit("#|\\.\\.\\.|…"))
    val nAlphaWords = regexp_count(concat(lit(" "), lower(t)), lit("\\s[^\\s]*[a-z]"))
    val nStop = regexp_count(lower(t), lit("\\b(the|be|to|of|and|that|have|with)\\b"))
    val nLines = (regexp_count(t, lit("\n")) + 1).cast("long")
    val nBulletLines = regexp_count(concat(lit("\n"), t), lit("\n[ \t]*[-*•]"))
    val nEllipsisLines = regexp_count(concat(t, lit("\n")), lit("(\\.\\.\\.|…)[ \t]*\n"))
    df.select(
      col("id"),
      nWords.as("n_words"),
      (nNonSpace / greatest(nWords, lit(1L)).cast("double")).as("mean_word_len"),
      (nSymbols / greatest(nWords, lit(1L)).cast("double")).as("symbol_ratio"),
      (nAlphaWords / greatest(nWords, lit(1L)).cast("double")).as("alpha_word_frac"),
      nStop.cast("long").as("n_stopwords"),
      (nBulletLines / nLines.cast("double")).as("bullet_line_frac"),
      (nEllipsisLines / nLines.cast("double")).as("ellipsis_line_frac")
    ).withColumn(
      "passes",
      col("n_words").between(minWords, maxWords) &&
        col("mean_word_len").between(3.0, 10.0) &&
        col("symbol_ratio") < 0.1 &&
        col("alpha_word_frac") >= 0.8 &&
        col("n_stopwords") >= 2 &&
        col("bullet_line_frac") < 0.9 &&
        col("ellipsis_line_frac") < 0.3
    )
  }

  private val Adversarial: Seq[String] = {
    val ws = Seq(" ", "\t", "\n", "\u000B", "\f", "\r")
    ws.map(c => s"the${c}cat${c}${c}and${c}with") ++ Seq(
      // leading / trailing spaces and newlines
      "  the be  ", "\n\nthe and\n", " \n the \n ", "\t the to \t", "   ", "\n",
      "", null,
      // ellipses
      "....", "...…", "…", "wait....\n", "so...…  \t\nnext", "…\n…", "#tag ... ok ##",
      "a ...\t \nb …  ", ". . .", "......", "...\r\n",
      // bullet lines
      "  - item\n\t* item\n •bullet\n-x\n*y", "\n - a", "x -\ny *", "\t\t•", "\n\n\n- ",
      // Java \b: '_', digits, letters, non-spacing marks
      "the_ the1 theé the\u0301 _the 1the éthe \u0301the",
      "a\u0301the the\u0301\u0301x to\u0301\u0301", "\u0301\u0301the", "the\u0301",
      // supplementary code points: emoji, a math letter, a combining mark
      "\uD83D\uDE00the\uD83D\uDE00 and\uD83D\uDE00with \uD83D\uDE00",
      "\uD835\uDC00the the\uD835\uDC00 of", "the\uD834\uDD67 be\u0301\uD834\uDD67 to",
      "x\uD834\uDD67the", "\uD834\uDD67\u0301the",
      // case mapping
      "\u0130the THE \u0130S İ to", "\u212A\u212A and THE With", "ÀÉÎ the BE ThAt HaVe",
      "THAT'S the-end of.the with,to",
      // a passing English paragraph
      (1 to 8).map(_ => "the quick brown fox jumps over that lazy dog and runs with it").mkString(" ")
    )
  }

  /** Random documents from the pieces the regexes react to. */
  private def fuzz(n: Int, seed: Long): Seq[String] = {
    val pieces = Array(" ", " ", "\t", "\n", "\u000B", "\f", "\r", "the", "be", "to", "of",
      "and", "that", "have", "with", "word", "_", "1", "é", "\u0301", "#", ".", "...", "…",
      "•", "-", "*", "\u0130", "\u212A", "\uD83D\uDE00", "\uD834\uDD67", "\uD835\uDC00", "A", "x")
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)((1 to rnd.nextInt(40)).map(_ => pieces(rnd.nextInt(pieces.length))).mkString)
  }

  private def frame(texts: Seq[String]): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    texts.zipWithIndex.foreach { case (t, i) => rows.add(Row(i.toLong, t)) }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = texts.contains(null)))))
  }

  private def assertSame(texts: Seq[String], minWords: Int = 30): Unit = {
    val d = frame(texts)
    def rows(df: DataFrame) = df.orderBy("id").collect().map(_.toSeq)
    val regex = regexGate(d, minWords)
    val kernel = TextAnalysis.gopherFilters(d, "id", "text", minWords = minWords)
    assert(kernel.schema == regex.schema)
    val want = rows(regex)
    val got = rows(kernel)
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      val text = Option(texts(g.head.asInstanceOf[Long].toInt))
        .fold("NULL")(_.map(c => f"\\u${c.toInt}%04x").mkString)
      assert(g == w, s"text $text:\n kernel $g\n regex  $w")
    }
  }

  test("gopher kernel equals the regex columns on adversarial text") {
    assertSame(Adversarial)
    assertSame(Adversarial, minWords = 2)
    assertSame(Adversarial.filter(_ != null))
  }

  test("gopher kernel equals the regex columns on random text") {
    assertSame(fuzz(1500, 52L), minWords = 3)
  }

  test("gopher kernel equals the regex columns under legacy sizeOfNull") {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try assertSame(Adversarial, minWords = 2)
    finally spark.conf.set(key, before)
  }

  test("a pushed filter(passes) evaluates the gopher kernel once and no regex") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val gated = TextAnalysis.gopherFilters(docs, "doc_id", "text").filter(col("passes")).select("doc_id")
    val plan = gated.queryExecution.executedPlan
    // the scan lists the filter among its DataFilters without evaluating it
    val kernels = plan.collect {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => Nil
      case p => p.expressions.flatMap(_.collect { case g: graft.functions.GopherStats => g })
    }.flatten
    assert(kernels.size == 1, plan.toString)
    assert(!plan.toString.contains("regexp"), plan.toString)
    assert(gated.count() == regexGate(docs.withColumnRenamed("doc_id", "id"))
      .filter(col("passes")).count())
  }
}
