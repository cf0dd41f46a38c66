package graft.functions

import java.util.regex.Pattern
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused single-pass kernel behind [[graft.plans.C4CleanExpr]] — the C4
  * line-cleaning verdict (Raffel 2020 §2.2; ref behavior via
  * [[graft.operators.TextAnalysis.c4CleanOnAlgebra]], kept as the
  * executable specification) computed in ONE walk per document.
  *
  * Why (RulesProfile, last in commit 7edabe5; 5M docs, docs/PERF.md r13): the
  * column-algebra form builds the verdict from higher-order-function lambdas,
  * which get NO common-subexpression elimination — the keep predicate and the
  * clean_text projection each re-ran the whole lambda chain, and Gopher's
  * downstream columns re-ran it again. A struct-returning native
  * expression is evaluated once per consumer SITE (filter + project ≈
  * 1.08 evals/row after predicate pushdown) and each eval is one fused
  * pass instead of a per-derived-column lambda cascade.
  *
  * Exactness discipline: every primitive delegates to the SAME machinery
  * the column functions use — `UTF8String.toLowerCase/trim/trimRight`
  * for lower/trim/rtrim (bit-identical including locale/sigma corners)
  * and `java.util.regex` for split/rlike/extract_all (the engine behind
  * Spark's own string regexes), with Spark's limit=-1 split semantics.
  * Pinned by C4CleanSpec's kernel≡algebra differential on adversarial
  * inputs and the real corpus; every C4-path oracle re-verified. */
object C4Kernel {

  /** Field order of the produced struct. */
  val schema: StructType = StructType(Seq(
    StructField("has_lorem", BooleanType, nullable = false),
    StructField("has_brace", BooleanType, nullable = false),
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_lines_kept", IntegerType, nullable = false),
    StructField("clean_text", StringType, nullable = false),
    StructField("n_sentences", IntegerType, nullable = false),
    StructField("kept", BooleanType, nullable = false)))

  private val NewlineP = Pattern.compile("\n")
  private val WsP = Pattern.compile("\\s+")
  private val JsP = Pattern.compile("\\bjavascript\\b")
  private val SentP = Pattern.compile("[.!?]+")
  private val BadCache = new java.util.concurrent.ConcurrentHashMap[String, Pattern]()

  /** Spark `lower()` semantics without the UTF8String round-trip:
    * UTF8String.toLowerCase byte-lowers A–Z when the string is all-ASCII
    * and otherwise delegates to the JDK — replicated here exactly (the
    * non-ASCII branch still goes THROUGH UTF8String so any locale/sigma
    * corner matches Spark bit-for-bit). */
  private[functions] def lowerLikeSpark(s: String): String = {
    var i = 0
    var hasUpper = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c >= 128) return UTF8String.fromString(s).toLowerCase.toString
      if (c >= 'A' && c <= 'Z') hasUpper = true
      i += 1
    }
    if (!hasUpper) s
    else {
      val a = s.toCharArray
      var j = 0
      while (j < a.length) {
        val c = a(j)
        if (c >= 'A' && c <= 'Z') a(j) = (c + 32).toChar
        j += 1
      }
      new String(a)
    }
  }

  /** Spark `rtrim()`/`trim()` trim the SPACE character (0x20) only. */
  private def rtrimEnd(s: String): Int = {
    var e = s.length
    while (e > 0 && s.charAt(e - 1) == ' ') e -= 1
    e
  }

  /** NULL input behaves like "" (the algebra's coalesce). `badRegex` is
    * the pre-built word-bounded block-list pattern, or null for none. */
  def eval(in: UTF8String, badRegex: String): InternalRow = {
    val text = if (in == null) "" else in.toString
    val needLowerText = badRegex != null || {
      // "lorem ipsum" can only appear in the lowered text if an l/L is
      // present (no Unicode char lowers INTO ASCII 'l')
      var i = 0; var hit = false
      while (i < text.length && !hit) {
        val c = text.charAt(i); hit = c == 'l' || c == 'L'; i += 1
      }
      hit
    }
    val lowerText = if (needLowerText) lowerLikeSpark(text) else ""
    val hasLorem = needLowerText && lowerText.contains("lorem ipsum")
    val hasBrace = text.indexOf('{') >= 0
    val bad = badRegex != null &&
      BadCache.computeIfAbsent(badRegex, Pattern.compile(_))
        .matcher(lowerText).find()
    val lines = NewlineP.split(text, -1)
    val keptLines = new java.lang.StringBuilder
    var nKept = 0
    var i = 0
    while (i < lines.length) {
      val l = lines(i)
      val rtEnd = rtrimEnd(l)
      val endsPunct = rtEnd > 0 && {
        // the last CODEPOINT equals one of . ! ? " — these are ASCII and
        // can never be a surrogate half, so the last CHAR test is exact
        val c = l.charAt(rtEnd - 1)
        c == '.' || c == '!' || c == '?' || c == '"'
      }
      val lineKept = endsPunct && {
        // size(split(trim(l), "\\s+")) >= 3 ⟺ ≥ 2 separator matches in the
        // trimmed line (split with limit -1: segments = matches + 1, and
        // \s+ never matches empty) — early exit after the second
        var b = 0
        while (b < rtEnd && l.charAt(b) == ' ') b += 1
        val m = WsP.matcher(l).region(b, rtEnd)
        var seps = 0
        while (seps < 2 && m.find()) seps += 1
        seps >= 2
      } && {
        // \bjavascript\b can only match if a j/J is present (no Unicode
        // char lowers INTO ASCII 'j')
        var k = 0; var hasJ = false
        while (k < l.length && !hasJ) {
          val c = l.charAt(k); hasJ = c == 'j' || c == 'J'; k += 1
        }
        !hasJ || !JsP.matcher(lowerLikeSpark(l)).find()
      }
      if (lineKept) {
        if (nKept > 0) keptLines.append('\n')
        keptLines.append(l)
        nKept += 1
      }
      i += 1
    }
    val cleanText = keptLines.toString
    var nSent = 0
    val m = SentP.matcher(cleanText)
    while (m.find()) nSent += 1
    val kept = nSent >= 5 && !hasLorem && !hasBrace && !bad
    new GenericInternalRow(Array[Any](
      hasLorem, hasBrace, lines.length, nKept,
      UTF8String.fromString(cleanText), nSent, kept))
  }
}
