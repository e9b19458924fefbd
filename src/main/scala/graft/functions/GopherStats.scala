package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the eight Gopher quality-gate counts of one
  * document plus the gate's pass flag, read off the document's UTF-8 bytes
  * in place with no regex — the kernel behind
  * [[graft.text.TextAnalysis.gopherFilters]].
  *
  * `text` is the raw document and `lowerText` is Spark's own `lower(text)`
  * (so the case mapping — `İ` → `i̇`, the Kelvin sign → `k` — is Spark's,
  * not re-implemented). Each field equals the regex column it replaces,
  * which stays the definition (q52's DuckDB oracle SQL and the
  * differential spec hold that form):
  *
  *  - `n_words`       = `size(split(trim(lower(text)), '\s+'))`
  *  - `n_nonspace`    = `length(regexp_replace(text, '\s', ''))`
  *  - `n_symbols`     = `regexp_count(text, '#|\.\.\.|…')`
  *  - `n_alpha_words` = `regexp_count(' ' || lower(text), '\s[^\s]*[a-z]')`
  *  - `n_stop`        = `regexp_count(lower(text), '\b(the|be|to|of|and|that|have|with)\b')`
  *  - `n_lines`       = `regexp_count(text, '\n') + 1`
  *  - `n_bullet`      = `regexp_count('\n' || text, '\n[ \t]*[-*•]')`
  *  - `n_ellipsis`    = `regexp_count(text || '\n', '(\.\.\.|…)[ \t]*\n')`
  *
  * `\s` is Java's `[ \t\n\x0B\f\r]`; `trim` strips spaces (0x20) only.
  * Java's `\b` counts `_` and `Character.isLetterOrDigit` code points as
  * word characters, plus a non-spacing mark that follows a letter or digit
  * (through further BMP marks), read in UTF-16 units as
  * `java.util.regex.Pattern` does. `passes` is the gate rule over the
  * derived ratios, in the same double arithmetic as the Column form.
  *
  * NULL text follows the regex columns: every count is NULL and so is
  * `passes`; under `spark.sql.legacy.sizeOfNull` (non-ANSI sessions)
  * `n_words` is -1 and `passes` false.
  */
case class GopherStats(
    text: Expression,
    lowerText: Expression,
    minWords: Int,
    maxWords: Int,
    legacySizeOfNull: Boolean
) extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = lowerText
  override def prettyName: String = "graft_gopher_stats"
  override def nullable: Boolean = !legacySizeOfNull && text.nullable

  // a count is NULL only for NULL text (legacy sizeOfNull makes n_words
  // -1 there); `passes` is nullable like the Column rule over divisions
  override def dataType: DataType = StructType(
    StructField("n_words", LongType, nullable = text.nullable && !legacySizeOfNull) +: Seq(
      "n_nonspace" -> IntegerType, "n_symbols" -> IntegerType, "n_alpha_words" -> IntegerType,
      "n_stop" -> IntegerType, "n_lines" -> LongType, "n_bullet" -> IntegerType,
      "n_ellipsis" -> IntegerType
    ).map { case (n, t) => StructField(n, t, nullable = text.nullable) } :+
    StructField("passes", BooleanType))

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) stats(null, null)
    else stats(t.asInstanceOf[UTF8String], lowerText.eval(input).asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gopher", this, classOf[GopherStats].getName)
    val t = text.genCode(ctx)
    val l = lowerText.genCode(ctx)
    val row = classOf[InternalRow].getName
    ev.copy(code = code"""
      ${t.code}
      ${l.code}
      $row ${ev.value} = $ref.stats(${t.isNull} ? null : ${t.value}, ${l.isNull} ? null : ${l.value});
      boolean ${ev.isNull} = ${ev.value} == null;
    """)
  }

  /** The kernel, shared by eval and generated code. Public: the
    * generated code references this instance and calls it per row.
    */
  def stats(t: UTF8String, l: UTF8String): InternalRow = {
    if (t == null) {
      return if (legacySizeOfNull)
        new GenericInternalRow(Array[Any](-1L, null, null, null, null, null, null, null, false))
      else null
    }
    val nWords = GopherKernel.wordCount(l)
    val nNonSpace = t.numChars() - GopherKernel.spaces(t)
    val nSymbols = GopherKernel.symbols(t)
    val nAlpha = GopherKernel.alphaWords(l)
    val nStop = GopherKernel.stopWords(l)
    val nLines = GopherKernel.newlines(t) + 1L
    val nBullet = GopherKernel.bulletLines(t)
    val nEllipsis = GopherKernel.ellipsisLines(t)
    val w = math.max(nWords, 1L).toDouble
    val meanWordLen = nNonSpace.toDouble / w
    val passes = nWords >= minWords && nWords <= maxWords &&
      meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
      nSymbols / w < 0.1 &&
      nAlpha / w >= 0.8 &&
      nStop >= 2 &&
      nBullet / nLines.toDouble < 0.9 &&
      nEllipsis / nLines.toDouble < 0.3
    new GenericInternalRow(Array[Any](
      nWords, nNonSpace, nSymbols, nAlpha, nStop, nLines, nBullet, nEllipsis, passes))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(text = l, lowerText = r)
}

private object GopherKernel {
  private val StopWords: Array[Array[Byte]] =
    Array("the", "be", "to", "of", "and", "that", "have", "with").map(_.getBytes("UTF-8"))

  /** Java's `\s`: `[ \t\n\x0B\f\r]`. */
  def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  private def isBlank(b: Byte): Boolean = b == ' ' || b == '\t'

  // '…' (U+2026) and '•' (U+2022) in UTF-8
  private def isEllipsisChar(s: UTF8String, i: Int): Boolean =
    i + 2 < s.numBytes && s.getByte(i) == 0xE2.toByte && s.getByte(i + 1) == 0x80.toByte &&
      s.getByte(i + 2) == 0xA6.toByte
  private def isBulletChar(s: UTF8String, i: Int): Boolean =
    i + 2 < s.numBytes && s.getByte(i) == 0xE2.toByte && s.getByte(i + 1) == 0x80.toByte &&
      s.getByte(i + 2) == 0xA2.toByte
  private def isDots(s: UTF8String, i: Int): Boolean =
    i >= 0 && i + 2 < s.numBytes && s.getByte(i) == '.' && s.getByte(i + 1) == '.' &&
      s.getByte(i + 2) == '.'

  // every byte the counts look for is ASCII or a UTF-8 lead byte, and no
  // continuation byte equals one, so byte positions stand in for the
  // regex engine's char positions

  def spaces(t: UTF8String): Int = {
    var c = 0; var i = 0
    while (i < t.numBytes) { if (isSpace(t.getByte(i))) c += 1; i += 1 }
    c
  }

  def newlines(t: UTF8String): Int = {
    var c = 0; var i = 0
    while (i < t.numBytes) { if (t.getByte(i) == '\n') c += 1; i += 1 }
    c
  }

  /** Whitespace runs + 1 inside the space-trimmed text (Java's split
    * with limit -1 keeps leading and trailing empty tokens).
    */
  def wordCount(l: UTF8String): Long = {
    var s = 0; var e = l.numBytes
    while (s < e && l.getByte(s) == ' ') s += 1
    while (e > s && l.getByte(e - 1) == ' ') e -= 1
    var runs = 0L; var inRun = false; var i = s
    while (i < e) {
      val sp = isSpace(l.getByte(i))
      if (sp && !inRun) runs += 1
      inRun = sp
      i += 1
    }
    runs + 1
  }

  /** Non-overlapping `#`, `...` and `…` left to right. */
  def symbols(t: UTF8String): Int = {
    var c = 0; var i = 0
    while (i < t.numBytes) {
      if (t.getByte(i) == '#') { c += 1; i += 1 }
      else if (isDots(t, i) || isEllipsisChar(t, i)) { c += 1; i += 3 }
      else i += 1
    }
    c
  }

  /** Whitespace-delimited runs holding an ASCII lower-case letter: each
    * such run is one `\s[^\s]*[a-z]` match (the ' ' prefix supplies the
    * first run's `\s`).
    */
  def alphaWords(l: UTF8String): Int = {
    var c = 0; var i = 0; var alpha = false
    while (i <= l.numBytes) {
      if (i == l.numBytes || isSpace(l.getByte(i))) { if (alpha) c += 1; alpha = false }
      else { val b = l.getByte(i); if (b >= 'a' && b <= 'z') alpha = true }
      i += 1
    }
    c
  }

  /** Lines whose first non-blank char is `-`, `*` or `•`. */
  def bulletLines(t: UTF8String): Int = {
    var c = 0; var i = 0; var lineStart = true
    while (i < t.numBytes) {
      val b = t.getByte(i)
      if (b == '\n') lineStart = true
      else if (lineStart && !isBlank(b)) {
        if (b == '-' || b == '*' || isBulletChar(t, i)) c += 1
        lineStart = false
      }
      i += 1
    }
    c
  }

  /** Lines (the text plus a final '\n') ending in `...` or `…` before
    * trailing blanks.
    */
  def ellipsisLines(t: UTF8String): Int = {
    var c = 0; var e = 0
    while (e <= t.numBytes) {
      if (e == t.numBytes || t.getByte(e) == '\n') {
        var q = e
        while (q > 0 && isBlank(t.getByte(q - 1))) q -= 1
        if (isDots(t, q - 3) || (q >= 3 && isEllipsisChar(t, q - 3))) c += 1
      }
      e += 1
    }
    c
  }

  /** Non-overlapping `\b(the|be|to|of|and|that|have|with)\b` matches. */
  def stopWords(l: UTF8String): Int = {
    var c = 0; var i = 0
    val n = l.numBytes
    while (i < n) {
      val b = l.getByte(i)
      var len = 0
      if (b >= 'a' && b <= 'w' && !wordBefore(l, i)) {
        var w = 0
        while (len == 0 && w < StopWords.length) {
          val sw = StopWords(w)
          if (startsWith(l, i, sw) && !wordAt(l, i + sw.length)) len = sw.length
          w += 1
        }
      }
      if (len > 0) { c += 1; i += len } else i += 1
    }
    c
  }

  private def startsWith(l: UTF8String, i: Int, w: Array[Byte]): Boolean = {
    if (i + w.length > l.numBytes) return false
    var j = 0
    while (j < w.length) { if (l.getByte(i + j) != w(j)) return false; j += 1 }
    true
  }

  private def isWord(cp: Int): Boolean = cp == '_' || Character.isLetterOrDigit(cp)
  private def isMark(cp: Int): Boolean = Character.getType(cp) == Character.NON_SPACING_MARK

  /** Start byte of the code point that ends right before byte `i`. */
  private def startBefore(l: UTF8String, i: Int): Int = {
    var s = i - 1
    while (s > 0 && (l.getByte(s) & 0xC0) == 0x80) s -= 1
    s
  }

  private def decode(l: UTF8String, s: Int): Int = {
    val b0 = l.getByte(s) & 0xFF
    def cont(k: Int): Int = if (s + k < l.numBytes) l.getByte(s + k) & 0x3F else 0
    if (b0 < 0x80) b0
    else if (b0 < 0xE0) ((b0 & 0x1F) << 6) | cont(1)
    else if (b0 < 0xF0) ((b0 & 0x0F) << 12) | (cont(1) << 6) | cont(2)
    else ((b0 & 0x07) << 18) | (cont(1) << 12) | (cont(2) << 6) | cont(3)
  }

  /** Java's `hasBaseCharacter` from the UTF-16 unit before byte `i`
    * backwards: BMP marks are skipped, a BMP letter or digit is a base,
    * and anything else ends the walk — a supplementary code point too,
    * because its last UTF-16 unit is a lone low surrogate.
    */
  private def baseBefore(l: UTF8String, i: Int): Boolean = {
    var x = i
    while (x > 0) {
      val s = startBefore(l, x)
      val cp = decode(l, s)
      if (Character.isSupplementaryCodePoint(cp)) return false
      if (Character.isLetterOrDigit(cp)) return true
      if (!isMark(cp)) return false
      x = s
    }
    false
  }

  /** The left half of `\b` at byte `i`. */
  private def wordBefore(l: UTF8String, i: Int): Boolean = i > 0 && {
    val s = startBefore(l, i)
    val cp = decode(l, s)
    isWord(cp) || (isMark(cp) && !Character.isSupplementaryCodePoint(cp) && baseBefore(l, s))
  }

  /** The right half of `\b` at byte `i`. */
  private def wordAt(l: UTF8String, i: Int): Boolean = i < l.numBytes && {
    val cp = decode(l, i)
    isWord(cp) || (isMark(cp) && baseBefore(l, i))
  }
}
