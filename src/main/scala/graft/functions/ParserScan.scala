package graft.functions

import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable.ArrayBuffer

/** Prefilter scans for the parser's hot regex passes.
  *
  * ParseProfile attribution (sf0.1, single thread; the probe is last in
  * commit 7edabe5): extractBlocks was
  * 52.6 µs/doc of the 109 µs/doc parse — twelve `(?iu)` marker patterns
  * each driving the java.util.regex NFA over the whole document. The
  * markers all start with two fixed literal ASCII letters, so a single
  * hand-written scan can reject almost every position with two folded-char
  * compares and invoke the real regex only at candidate starts, anchored
  * there via `region(i, n).lookingAt()`. The regex stays the semantics
  * carrier — every candidate is verified by exactly the pattern it would
  * have matched, so the fast path can only diverge by MISSING a start,
  * and ParserScanSpec's differentials (fast ≡ reference on adversarial
  * casings incl. 'ı'/'ſ' folding corners, plus the real corpus) pin that.
  *
  * Same shape for the digit-anchored passes (44-digit key scan, CNPJ scan,
  * monetary findall): every match must begin at an ASCII digit (for CNPJ /
  * key, one not preceded by another digit — `\b` needs it), so scan for
  * those starts and verify with the original pattern under transparent
  * bounds (lookbehind/`\b` still see the real neighbors). `find()`'s
  * resume-at-match-end semantics are replicated with a next-allowed cursor.
  */
object ParserScan {

  /** Java-regex UNICODE_CASE single-char equivalence: two chars match
    * case-insensitively iff `toLowerCase(toUpperCase(c))` agree (this is
    * what Pattern compiles a `(?iu)` literal char to). Exposed for the
    * spec's folding-corner generators ('ı' → I, 'ſ' → S, Kelvin K → K). */
  @inline def fold(c: Char): Char = Character.toLowerCase(Character.toUpperCase(c))

  /** One block marker: its type, its verifying pattern, and the folded
    * first three literal chars every match must start with. */
  final class Marker(val blockType: String, val pattern: Pattern,
                     prefix: String) {
    val c0: Char = fold(prefix.charAt(0))
    val c1: Char = fold(prefix.charAt(1))
    val c2: Char = fold(prefix.charAt(2))
  }

  /** The 12 markers in the reference's marker-table order (ties at one
    * position resolve by this order). Prefixes are the patterns' leading
    * literals; ParserScanSpec asserts each pattern actually matches its
    * canonical spelling, so a prefix typo fails loudly. */
  val Markers: Array[Marker] = {
    val prefixes = Map(
      "PRESTADOR" -> 0, "DADOS" -> 0, "EMITENTE" -> 0, "TOMADOR" -> 0,
      "DESTINAT" -> 0, "DISCRIMINA" -> 0, "DESCRI" -> 0, "VALOR" -> 0,
      "TOTAL" -> 0, "TRIBUTA" -> 0)
    InvoiceParser.BlockMarkers.flatMap { case (blockType, patterns) =>
      patterns.map { p =>
        val body = p.pattern().stripPrefix("(?iu)")
        val prefix = prefixes.keys.find(body.startsWith).getOrElse(
          throw new IllegalStateException(
            s"marker pattern has no known literal prefix: $body"))
        new Marker(blockType, p, prefix)
      }
    }.toArray
  }

  // every marker's first folded char, for the cheap per-position reject
  private val firstChars: Array[Char] = Markers.map(_.c0).distinct.sorted

  /** All marker hits with `while (m.find())` semantics per pattern,
    * ascending by (position, marker-table order) — exactly the sequence the
    * reference loop produces after its stable position sort. */
  def findMarkerHits(text: String): ArrayBuffer[(Int, String)] = {
    val n = text.length
    val hits = new ArrayBuffer[(Int, String)]()
    val nMarkers = Markers.length
    val matchers = new Array[Matcher](nMarkers)
    val nextAllowed = new Array[Int](nMarkers)
    var i = 0
    while (i < n - 2) { // all markers need ≥3 chars
      val cf = fold(text.charAt(i))
      // 5 distinct first letters (D,E,P,T,V folded); reject ~every position
      if (java.util.Arrays.binarySearch(firstChars, cf) >= 0) {
        val c1f = fold(text.charAt(i + 1))
        val c2f = fold(text.charAt(i + 2))
        var m = 0
        while (m < nMarkers) {
          val mk = Markers(m)
          if (cf == mk.c0 && c1f == mk.c1 && c2f == mk.c2 && i >= nextAllowed(m)) {
            var mat = matchers(m)
            if (mat == null) { mat = mk.pattern.matcher(text); matchers(m) = mat }
            mat.region(i, n)
            if (mat.lookingAt()) {
              hits += ((i, mk.blockType))
              nextAllowed(m) = math.max(mat.end(), i + 1)
            }
          }
          m += 1
        }
      }
      i += 1
    }
    hits
  }

  private val typeNames: Array[String] =
    Array("ISSUER", "RECIPIENT", "ITEMS", "FINANCIALS")
  private val markerTypeIdx: Array[Int] =
    Markers.map(m => typeNames.indexOf(m.blockType))

  /** First block type in marker-table order with ANY hit in `line`, or
    * null — the per-line tag of BlockSegmentation's merged-alternation
    * reference (existence per type, priority by table order, position
    * within the line irrelevant). */
  def firstHitType(line: String): String = {
    val n = line.length
    var best = Int.MaxValue
    val nMarkers = Markers.length
    var i = 0
    while (i < n - 2 && best > 0) {
      val cf = fold(line.charAt(i))
      if (java.util.Arrays.binarySearch(firstChars, cf) >= 0) {
        val c1f = fold(line.charAt(i + 1))
        val c2f = fold(line.charAt(i + 2))
        var m = 0
        while (m < nMarkers && best > 0) {
          val mk = Markers(m)
          if (markerTypeIdx(m) < best && cf == mk.c0 && c1f == mk.c1 && c2f == mk.c2) {
            val mat = mk.pattern.matcher(line)
            mat.region(i, n)
            if (mat.lookingAt()) best = markerTypeIdx(m)
          }
          m += 1
        }
      }
      i += 1
    }
    if (best == Int.MaxValue) null else typeNames(best)
  }

  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** `findAll` of a digit-anchored pattern — one whose every match's
    * capture (group 1 if present, else the whole match) begins at an ASCII
    * digit — replicating `while (m.find())` collection order and
    * resume-at-end semantics. `boundaryStart = true` additionally requires
    * the digit not be preceded by another ASCII digit (sound for patterns
    * whose match begins `\b\d`: a preceding digit is a word char, so `\b`
    * could never hold). The original pattern verifies each candidate under
    * transparent bounds, so `\b`'s Unicode word-char test still sees the
    * real neighbors. */
  def digitAnchoredFindAll(p: Pattern, text: String,
                           boundaryStart: Boolean): List[String] = {
    val acc = new ArrayBuffer[String]()
    val n = text.length
    var mat: Matcher = null
    var nextAllowed = 0
    var i = 0
    while (i < n) {
      if (isDigit(text.charAt(i)) && i >= nextAllowed &&
          !(boundaryStart && i > 0 && isDigit(text.charAt(i - 1)))) {
        if (mat == null) {
          mat = p.matcher(text)
          mat.useTransparentBounds(true)
          mat.useAnchoringBounds(false)
        }
        mat.region(i, n)
        if (mat.lookingAt()) {
          acc += (if (mat.groupCount() > 0) mat.group(1) else mat.group())
          nextAllowed = math.max(mat.end(), i + 1)
        }
      }
      i += 1
    }
    acc.toList
  }

  /** ASCII-digit-only projection — exactly `replaceAll("\\D", "")` (Java's
    * default `\d` is ASCII [0-9]; a surrogate pair is one non-digit
    * codepoint whose two units are both removed either way). Replaces a
    * per-call Pattern.compile in the validators' hot path. */
  def digitsOnly(s: String): String = {
    if (s == null) return ""
    val n = s.length
    val sb = new java.lang.StringBuilder(math.min(n, 48))
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (isDigit(c)) sb.append(c)
      i += 1
    }
    sb.toString
  }
}
