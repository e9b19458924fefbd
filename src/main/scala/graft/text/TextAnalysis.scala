package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [[TextAnalysis.lineLanguageProfile]]'s per-document result row.
  * TOP-LEVEL and public on purpose: Spark serializes a UDF's case-class
  * result through a generated UnsafeProjection, and Janino cannot call
  * the accessors of a `private case class` nested in an object — the
  * projection silently falls back to INTERPRETED mode ("Expr codegen
  * error and falling back to interpreter mode" in the logs), an
  * interpreted per-document projection on the CCNet line-scrub hot
  * path. Guarded by the codegen regression test in PlanShapeSpec.
  */
case class LineLangCounts(
    n_lines: Int, n_en: Int, n_de: Int, n_fr: Int, n_es: Int,
    n_zh: Int, n_und: Int)

/** Text-analysis operators for training-data curation. All pure Column
  * expressions (codegen-friendly, engine-portable formulas).
  */
object TextAnalysis {

  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for", "with", "as", "was", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu", "den", "von", "für"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "de", "des", "que", "pas", "pour", "dans"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "de", "que", "no", "por", "para", "con")
  )

  private def toks(textCol: Column): Column = split(trim(lower(textCol)), "\\s+")

  private def arrayLit(xs: Seq[String]): Column = array(xs.map(lit(_)): _*)

  /** Fraction of tokens that are stopwords of the given language. */
  def stopwordRatio(textCol: Column, lang: String): Column = {
    val t = toks(textCol)
    size(filter(t, x => array_contains(arrayLit(Stopwords(lang)), x))) /
      greatest(size(t), lit(1))
  }

  /** Heuristic language ID: highest stopword hit-ratio wins (deterministic
    * first-max tiebreak in en/de/fr/es order); "zh" when CJK chars dominate;
    * "und" when nothing matches. One compiled pass per document — the
    * expression form re-tokenized the text once per language (~0.4ms/doc,
    * hopeless at corpus scale).
    */
  private val LangIdLangs = Seq("en", "de", "fr", "es")
  private val LangIdSets: Array[Set[String]] = LangIdLangs.map(l => Stopwords(l).toSet).toArray

  /** The compiled kernel shared by the document-level UDF and the
    * per-line profile: exactly the q27 rule on one string.
    */
  private def langOf(text: String): String = {
    if (text == null) return "und"
    var cjk = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= '一' && c <= '鿿') cjk += 1
      i += 1
    }
    if (text.nonEmpty && cjk.toDouble / text.length > 0.2) "zh"
    else {
      val toks = text.trim.toLowerCase.split("\\s+")
      val hits = new Array[Int](LangIdSets.length)
      toks.foreach { t =>
        var j = 0
        while (j < LangIdSets.length) { if (LangIdSets(j).contains(t)) hits(j) += 1; j += 1 }
      }
      var best = -1; var bestHits = 0
      var j = 0
      while (j < hits.length) { if (hits(j) > bestHits) { bestHits = hits(j); best = j }; j += 1 }
      if (best < 0) "und" else LangIdLangs(best)
    }
  }

  val langIdUdf = udf { (text: String) => langOf(text) }

  def langId(textCol: Column): Column = langIdUdf(textCol)

  /** Per-LINE language counts — the CCNet-style unit (Wenzek et al.
    * 2020 filter per line, not per document: web pages mix navigation
    * boilerplate, quotes and body text in different languages, and a
    * document-level vote hides exactly the lines you want to drop).
    * One compiled pass over the document's lines (the [[langId]]
    * rationale: the expression form would re-tokenize every line once
    * per language); blank lines are skipped. Result type is the
    * top-level [[LineLangCounts]] — see its scaladoc for why.
    */
  private val lineLangUdf = udf { (text: String) =>
    if (text == null) LineLangCounts(0, 0, 0, 0, 0, 0, 0)
    else {
      var en = 0; var de = 0; var fr = 0; var es = 0; var zh = 0; var und = 0
      var n = 0
      text.split("\n", -1).foreach { line =>
        if (line.trim.nonEmpty) {
          n += 1
          langOf(line) match {
            case "en" => en += 1
            case "de" => de += 1
            case "fr" => fr += 1
            case "es" => es += 1
            case "zh" => zh += 1
            case _ => und += 1
          }
        }
      }
      LineLangCounts(n, en, de, fr, es, zh, und)
    }
  }

  /** Per-document line-language profile: per-language line counts, the
    * dominant line language (max count, ties broken in the FIXED order
    * en/de/fr/es/zh/und — deterministic on any engine), and
    * foreign_ppm = (n_lines − n_dominant)·10⁶ div n_lines — the "how
    * much of this page is not its main language" number a CCNet-style
    * line scrub thresholds on. Narrow one-pass projection, no shuffle.
    */
  def lineLanguageProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val p = lineLangUdf(col(textCol))
    val counts = Seq("en", "de", "fr", "es", "zh", "und")
    val out = df.select(col(idCol), p.as("__p"))
      .select((col(idCol) +: (("n_lines" +: counts.map("n_" + _))
        .map(f => col(s"__p.$f").as(f)))): _*)
    val maxCnt = greatest(counts.map(l => col("n_" + l)): _*)
    val dominant = counts.foldRight(lit("und"): Column) { (l, acc) =>
      when(col("n_" + l) === maxCnt, lit(l)).otherwise(acc)
    }
    // foldRight builds when(en==max,'en').otherwise(when(de==max,...)):
    // the FIRST language in the fixed order hitting the max wins
    out.withColumn("dominant_lang",
        when(col("n_lines") === 0, lit("und")).otherwise(dominant))
      .withColumn("foreign_ppm",
        when(col("n_lines") > 0,
          expr("(CAST(n_lines AS BIGINT) - greatest(n_en, n_de, n_fr, n_es, n_zh, n_und)) * 1000000 div n_lines"))
          .otherwise(lit(0L)))
  }

  /** Quality features + composite score. Integer counts ratio'd in double —
    * identical formula is expressible in any ANSI engine.
    */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val nChars = length(t)
    val words = toks(t)
    val nWords = size(words)
    val nAlpha = length(regexp_replace(lower(t), "[^a-z]", ""))
    val nPunct = length(regexp_replace(t, "[^.,;:!?'\"]", ""))
    val nNonSpace = length(regexp_replace(t, "\\s", ""))
    df.withColumn("n_chars", nChars)
      .withColumn("n_words", nWords)
      .withColumn("alpha_ratio", nAlpha / greatest(nChars, lit(1)).cast("double"))
      .withColumn("punct_ratio", nPunct / greatest(nChars, lit(1)).cast("double"))
      .withColumn("avg_word_len", nNonSpace / greatest(nWords, lit(1)).cast("double"))
      .withColumn("stop_ratio_en", stopwordRatio(t, "en"))
      .withColumn(
        "quality_score",
        col("alpha_ratio") * 0.5
          + least(col("stop_ratio_en") * 2.0, lit(1.0)) * 0.3
          + when(col("avg_word_len").between(3.0, 10.0), 0.2).otherwise(0.0)
      )
  }

  /** Gopher-style document quality gate (Rae et al. 2021, appendix A1.1):
    * word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    * alphabetic-word fraction, bullet/ellipsis line fractions, and a
    * minimum stop-word count. The gate filters a 100 TB scan with zero
    * shuffles, and every rule is ANSI-regex-expressible, so the whole gate
    * replays in the DuckDB oracle (q52).
    *
    * All eight counts and the pass flag come from ONE native expression,
    * [[graft.functions.GopherStats]], whose fields equal the regex columns
    * listed in its scaladoc (that regex form is the definition). One
    * expression, not eight columns, because a caller's `filter(passes)` is
    * pushed below this projection with every alias inlined: as columns,
    * the pushed Filter ran `split(trim(lower(text)))` 6 times, `lower` 8
    * times and `regexp_replace` twice per document; as one struct it runs
    * the kernel once. The ratios are derived from the counts here, in the
    * same Column arithmetic as before.
    */
  def gopherFilters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 30,
      maxWords: Int = 100000
  ): DataFrame = {
    import org.apache.spark.sql.graftbridge
    val t = col(textCol)
    val kernel = graftbridge.column(graft.functions.GopherStats(
      graftbridge.expression(t), graftbridge.expression(lower(t)), minWords, maxWords,
      org.apache.spark.sql.internal.SQLConf.get.legacySizeOfNull))
    def g(f: String): Column = col("__g").getField(f)
    val nWords = g("n_words")
    val nLines = g("n_lines")
    df.select(col(idCol), kernel.as("__g")).select(
      col(idCol),
      nWords.as("n_words"),
      (g("n_nonspace") / greatest(nWords, lit(1L)).cast("double")).as("mean_word_len"),
      (g("n_symbols") / greatest(nWords, lit(1L)).cast("double")).as("symbol_ratio"),
      (g("n_alpha_words") / greatest(nWords, lit(1L)).cast("double")).as("alpha_word_frac"),
      g("n_stop").cast("long").as("n_stopwords"),
      (g("n_bullet") / nLines.cast("double")).as("bullet_line_frac"),
      (g("n_ellipsis") / nLines.cast("double")).as("ellipsis_line_frac"),
      g("passes").as("passes"))
  }

  /** Data-mixture accounting: documents and token budget per
    * (split, group) with each cell's share of its split's tokens — the
    * report every training-data pipeline closes with ("how many train
    * tokens per language, and is the mixture what we designed?"). Splits
    * via [[graft.operators.Sampling.splitAssign]] (deterministic md5
    * ranges), so the report is reproducible on any engine. One grouped
    * scan; the share window runs on the tiny aggregated frame.
    */
  def mixtureReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      groupCol: String,
      splits: Seq[(String, Double)]
  ): DataFrame = {
    val assigned = graft.operators.Sampling.splitAssign(df, Seq(idCol), splits)
    assigned
      .withColumn("__tok", size(toks(col(textCol))).cast("long"))
      .groupBy(col("split"), col(groupCol))
      .agg(count(lit(1)).as("n_docs"), sum("__tok").as("n_tokens"))
      .withColumn("token_share",
        col("n_tokens") / sum("n_tokens").over(
          org.apache.spark.sql.expressions.Window.partitionBy("split")))
  }

  /** Whitespace token count + BPE-ish regex token count (letters runs,
    * digit runs, single non-alnum symbols).
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_ws_tokens", size(toks(t)))
      .withColumn("n_bpe_tokens", regexp_count(t, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")))
  }

  /** REAL subword token count per document: exact greedy-merge BPE over a
    * GPT-2-format merges table ([[Bpe]]) — the budget that packing,
    * mixture and temperature accounting should use where the regex
    * estimate of [[tokenCounts]] under-counts. One compiled narrow pass
    * (per-task word memo); NULL text → NULL count.
    */
  def bpeTokenCounts(
      df: DataFrame,
      textCol: String,
      ranks: Map[(String, String), Int] = Bpe.defaultRanks
  ): DataFrame =
    df.withColumn("n_subword_tokens",
      org.apache.spark.sql.functions.udf(new Bpe.Counter(ranks)).apply(col(textCol)))

  /** The document's full subword token STREAM (pre-token order preserved)
    * — [[bpeTokenCounts]]' sequence-emitting twin, the form packed-
    * sequence emission consumes. Same narrow one-pass shape; NULL text →
    * NULL array.
    */
  def bpeTokens(
      df: DataFrame,
      textCol: String,
      ranks: Map[(String, String), Int] = Bpe.defaultRanks
  ): DataFrame =
    df.withColumn("toks",
      org.apache.spark.sql.functions.udf(new Bpe.Tokenizer(ranks)).apply(col(textCol)))

  /** Repetition signal: type-token ratio (distinct/total whitespace
    * tokens) per document — the Gopher-style "repetitious document" filter
    * feature. Narrow codegen'd array ops, no shuffle.
    */
  def typeTokenRatio(df: DataFrame, textCol: String): DataFrame = {
    val t = toks(col(textCol))
    df.withColumn("n_tokens", size(t).cast("long"))
      .withColumn("n_distinct", size(array_distinct(t)).cast("long"))
      .withColumn("ttr",
        when(col("n_tokens") > 0, col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Repetition signal #2: top n-gram fraction (occurrences of the most
    * frequent word n-gram / total n-grams) — the Gopher "repeated phrase"
    * filter. A looping boilerplate doc scores near 1, natural text well
    * under 0.2. One compiled per-row pass (token counts in a local hash
    * map), NO shuffle — the filter predicate stays scan-level at any
    * corpus size. Docs with < n tokens are dropped (no grams to judge).
    */
  def topNgramFraction(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame = {
    val statsUdf = org.apache.spark.sql.functions.udf { (toksIn: Seq[String]) =>
      // NULL text reaches the UDF as toksIn = null (non-primitive param)
      if (toksIn == null || toksIn.length < n) None
      else {
        val arr = toksIn.toArray
        val counts = new java.util.HashMap[String, Int]()
        val sb = new StringBuilder(48)
        var max = 0
        var i = 0
        while (i <= arr.length - n) {
          sb.setLength(0)
          var t = 0
          while (t < n) { if (t > 0) sb.append(' '); sb.append(arr(i + t)); t += 1 }
          val c = counts.merge(sb.toString, 1, (a, b) => a + b)
          if (c > max) max = c
          i += 1
        }
        val total = arr.length - n + 1
        Some((total.toLong, max.toDouble / total.toDouble))
      }
    }
    df.select(col(idCol), statsUdf(toks(col(textCol))).as("__s"))
      .filter(col("__s").isNotNull)
      .select(col(idCol), col("__s._1").as("n_grams"), col("__s._2").as("top_frac"))
  }

  /** Repetition signal #3: INTRA-document duplicate line/paragraph
    * fractions — the other half of Gopher's repetition table (Rae et
    * al. 2021, appendix A1.1: "duplicate line fraction", "duplicate
    * paragraph fraction", and their character-mass variants). A page
    * whose nav bar repeats between sections, or a forum thread quoting
    * itself, scores high here while its type-token ratio (row 51) and
    * top-n-gram fraction (row 53) can still look natural.
    *
    * Per doc: of its non-empty lines (split on LF) and non-empty
    * paragraphs (split on blank-line runs), the fraction of UNITS that
    * occur more than once within the doc, and the fraction of
    * CHARACTER MASS those units carry. All counts integer; the four
    * fractions are single divisions of exact longs, so both engines
    * round identically. `passes_repetition` applies Gopher's published
    * thresholds (dup fraction ≤ 0.30, dup char fraction ≤ 0.20).
    *
    * Shape: explode → groupBy(id, unit) → groupBy(id), twice — partial
    * aggregation absorbs a line repeated thousands of times within one
    * doc map-side; no windows. Docs with NULL text or no non-empty
    * units drop from the report (documented; they have no signal).
    */
  def intraDocRepetition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def unitMetrics(splitPattern: String, prefix: String): DataFrame = {
      val units = df
        .select(col(idCol).as("id"),
          explode(split(col(textCol), splitPattern)).as("u"))
        .filter(col("u") =!= "")
      units.groupBy("id", "u").agg(count(lit(1)).as("c"))
        .groupBy("id").agg(
          sum("c").cast("long").as(s"n_${prefix}s"),
          (sum(when(col("c") > 1, col("c")).otherwise(0L)) /
            sum("c").cast("double")).as(s"dup_${prefix}_frac"),
          (sum(when(col("c") > 1, col("c") * length(col("u"))).otherwise(0L)) /
            sum(col("c") * length(col("u"))).cast("double"))
            .as(s"dup_${prefix}_char_frac"))
    }
    unitMetrics("\n", "line")
      .join(unitMetrics("\n{2,}", "para"), Seq("id"))
      .withColumn("passes_repetition",
        col("dup_line_frac") <= 0.3 && col("dup_para_frac") <= 0.3 &&
          col("dup_line_char_frac") <= 0.2 && col("dup_para_char_frac") <= 0.2)
      .withColumnRenamed("id", idCol)
  }

  /** The COMPLETE Gopher repetition table (Rae et al. 2021, appendix
    * A1.1): per document, the fraction of characters covered by the most
    * frequent 2/3/4-gram and by ANY duplicated 5..10-gram, plus the
    * published-threshold verdict. Complements [[topNgramFraction]]
    * (occurrence fraction, one n) and [[intraDocRepetition]]
    * (line/paragraph granularity).
    *
    * Definitions, pinned for cross-engine replay:
    * - tokens = lowercased whitespace split; char mass of a position =
    *   its token's length (separators excluded); totalChars = Σ masses.
    * - all fractions are COVERAGE-based: the char mass of token
    *   positions covered by ≥1 qualifying gram occurrence, over
    *   totalChars — bounded ≤ 1 even for self-overlapping grams ("a a
    *   a"), which the naive count×gramlen formulation is not.
    * - the top gram is selected by (count DESC, gram char mass DESC,
    *   gram string ASC) — deterministic, and the ASCII/lower-cased token
    *   space makes the string order engine-identical.
    * - docs with < n tokens (or zero chars) score 0.0 for that n.
    *
    * One compiled per-row pass (per-n count map + coverage mark), NO
    * shuffle — the whole table is scan-level at any corpus size, like
    * [[topNgramFraction]].
    */
  def gopherRepetitionTable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val statsUdf = org.apache.spark.sql.functions.udf { (toksIn: Seq[String]) =>
      if (toksIn == null) None
      else {
        val arr = toksIn.toArray
        val len = arr.length
        var totalChars = 0L
        locally { var i = 0; while (i < len) { totalChars += arr(i).length; i += 1 } }
        val fracs = new Array[Double](9)
        var slot = 0
        var n = 2
        while (n <= 10) {
          val isTop = n <= 4
          if ((isTop || n >= 5) && len >= n && totalChars > 0) {
            val keys = new Array[String](len - n + 1)
            val counts = new java.util.HashMap[String, Int]()
            val sb = new java.lang.StringBuilder(64)
            var i = 0
            while (i <= len - n) {
              sb.setLength(0)
              var t = 0
              while (t < n) { if (t > 0) sb.append(' '); sb.append(arr(i + t)); t += 1 }
              val k = sb.toString
              keys(i) = k
              counts.merge(k, 1, (a, b) => a + b)
              i += 1
            }
            val covered = new Array[Boolean](len)
            if (isTop) {
              // select the top gram: count DESC, char mass DESC, gram ASC
              var bestG: String = null; var bestC = 0; var bestM = -1
              val it = counts.entrySet().iterator()
              while (it.hasNext) {
                val e = it.next()
                val g = e.getKey; val c = e.getValue
                val m = g.length - (n - 1)
                if (c > bestC || (c == bestC && (m > bestM ||
                    (m == bestM && (bestG == null || g.compareTo(bestG) < 0))))) {
                  bestG = g; bestC = c; bestM = m
                }
              }
              i = 0
              while (i <= len - n) {
                if (keys(i) == bestG) { var p = i; while (p < i + n) { covered(p) = true; p += 1 } }
                i += 1
              }
            } else {
              i = 0
              while (i <= len - n) {
                if (counts.get(keys(i)) >= 2) { var p = i; while (p < i + n) { covered(p) = true; p += 1 } }
                i += 1
              }
            }
            var mass = 0L
            locally { var p = 0; while (p < len) { if (covered(p)) mass += arr(p).length; p += 1 } }
            fracs(slot) = mass.toDouble / totalChars.toDouble
          } else fracs(slot) = 0.0
          slot += 1
          n += 1
        }
        Some((len.toLong, totalChars, fracs.toSeq))
      }
    }
    // Gopher A1.1 published thresholds, top-2..4 then dup-5..10
    val thresholds = Seq(0.20, 0.18, 0.16, 0.15, 0.14, 0.13, 0.12, 0.11, 0.10)
    val names = Seq("top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
      "dup_5gram_char_frac", "dup_6gram_char_frac", "dup_7gram_char_frac",
      "dup_8gram_char_frac", "dup_9gram_char_frac", "dup_10gram_char_frac")
    val base = df.select(col(idCol), statsUdf(toks(col(textCol))).as("__s"))
      .filter(col("__s").isNotNull)
      .select((col(idCol) +: (Seq(
        col("__s._1").as("n_tokens"), col("__s._2").as("n_chars")) ++
        names.zipWithIndex.map { case (nm, i) => col("__s._3").getItem(i).as(nm) })): _*)
    base.withColumn("passes_repetition",
      names.zip(thresholds).map { case (nm, t) => col(nm) <= t }.reduce(_ && _))
  }

  /** Content fingerprints: md5 of whitespace-normalized lower-cased text
    * (engine-portable) + an order-sensitive 64-bit polynomial rolling hash
    * over token xxhash64s (Spark-native).
    */
  def fingerprints(df: DataFrame, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    df.withColumn("fp_md5", md5(norm))
      .withColumn(
        "fp_rolling",
        // order-sensitive 31-bit polynomial roll; operands stay < 2^38 (ANSI-safe)
        expr(s"aggregate(transform(split(trim(lower($textCol)), '\\\\s+'), t -> xxhash64(t) & 4294967295L), 17L, (acc, h) -> pmod(acc * 31L + h, 2147483647L))")
      )
  }

  /** Flesch reading ease (Flesch 1948; the readability feature every
    * text-quality stack carries): 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), from three ENGINE-EXACT regexp counts —
    * whitespace words, sentence-terminator runs `[.!?]+`, and vowel-group
    * syllables `[aeiouy]+` over the lowercased text (a vowel group never
    * crosses a whitespace word boundary, so the text-wide count IS the
    * per-word sum; zero-vowel tokens contribute 0 — the documented
    * deviation from the min-1-per-word variant, identical on any regex
    * engine where the classes agree, which ASCII classes do). Sentences
    * floor at 1 (a fragment is one sentence); the score is a fixed dag of
    * correctly-rounded IEEE ops over exact longs — hash-gateable. NULL
    * when the text has no words. Reading: 90–100 5th-grade, 60–70 plain
    * English, < 30 academic. Narrow codegen projection — zero shuffles.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val lowered = lower(t)
    val nWords = size(toks(t)).cast("long")
    val nSent = greatest(lit(1L), regexp_count(t, lit("[.!?]+")).cast("long"))
    val nSyl = regexp_count(lowered, lit("[aeiouy]+")).cast("long")
    df.select(col(idCol), t.as(textCol))
      .filter(t.isNotNull)
      .select(col(idCol),
        nWords.as("n_words"), nSent.as("n_sentences"), nSyl.as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") > 0,
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sentences").cast("double")) -
            lit(84.6) * (col("n_syllables").cast("double") / col("n_words").cast("double"))))
  }

  /** Per-group Unicode script / character-class composition — the
    * multilingual-curation read the n-gram langid (q27) can't give:
    * "this 'English' slice is 30% CJK bytes" means mislabeled crawl,
    * script-mixed spam, or markup bleed. Counts per key: total chars
    * plus Latin letters, ASCII digits, whitespace, CJK (U+4E00–9FFF),
    * Cyrillic (U+0400–04FF) and OTHER (the remainder — emoji,
    * punctuation, everything else), each a codegen'd
    * length(regexp_replace) over the scan (exact integers; ratios
    * pinned divisions). One aggregation; no UDF, no shuffle beyond it.
    */
  def scriptProfile(df: DataFrame, keyCols: Seq[String], textCol: String): DataFrame = {
    val g = keyCols.map(col)
    val t = col(textCol)
    def keep(cls: String) =
      length(regexp_replace(t, s"[^$cls]", "")).cast("long")
    val base = df.filter(t.isNotNull)
      .select(g :+ length(t).cast("long").as("__chars") :+
        keep("a-zA-Z").as("__latin") :+
        keep("0-9").as("__digit") :+
        keep("\\s").as("__space") :+
        keep("\\u4e00-\\u9fff").as("__cjk") :+
        keep("\\u0400-\\u04ff").as("__cyr"): _*)
    base.groupBy(g: _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum("__chars").as("chars"),
        sum("__latin").as("latin"),
        sum("__digit").as("digit"),
        sum("__space").as("whitespace"),
        sum("__cjk").as("cjk"),
        sum("__cyr").as("cyrillic"))
      .withColumn("other",
        col("chars") - col("latin") - col("digit") - col("whitespace") -
          col("cjk") - col("cyrillic"))
      .withColumn("latin_ratio",
        when(col("chars") > 0L, col("latin").cast("double") / col("chars").cast("double")))
      .withColumn("cjk_ratio",
        when(col("chars") > 0L, col("cjk").cast("double") / col("chars").cast("double")))
      .withColumn("other_ratio",
        when(col("chars") > 0L, col("other").cast("double") / col("chars").cast("double")))
  }

  /** Boilerplate-HEAD detection: documents sharing their first-`k`-token
    * prefix — the crawl pattern exact/minhash dedup underweights (pages
    * differing only past a templated header survive near-dup thresholds
    * but poison next-token training on the head). Per document: the
    * md5 prefix key, how many documents share it, and the boilerplate
    * flag at `minShare`. SCALE: one prefix-keyed count aggregation +
    * one join back on the md5 key (prefix-cardinality-sized counts;
    * the join redistributes doc rows once); the prefix is a narrow
    * codegen projection — no explode, no token shuffle.
    */
  def boilerplatePrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minShare: Long = 3L
  ): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val prefix = array_join(slice(toks(col(textCol)), 1, k), " ")
    val keyed = df.filter(col(textCol).isNotNull)
      .select(col(idCol), md5(prefix).as("prefix_key"))
    val counts = keyed.groupBy("prefix_key").agg(count(lit(1)).as("n_sharing"))
    keyed.join(counts, Seq("prefix_key"))
      .withColumn("is_boilerplate", col("n_sharing") >= minShare)
      .select(col(idCol), col("prefix_key"), col("n_sharing"), col("is_boilerplate"))
  }
}
