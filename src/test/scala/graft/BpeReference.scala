package graft

import graft.operators.TextAnalysis

/** Naive sequential BPE (Sennrich 2016), codepoint-based — the
  * independent reference for the trainer's and encoder's differentials.
  * Each round recounts every adjacent pair from scratch and merges the
  * top one left-to-right; nothing is indexed, cached or rank-ordered.
  * Ties break on (cnt DESC, a, b) with symbols compared as CODEPOINT
  * sequences, which is the UTF-8 byte order Spark and DuckDB compare
  * (UTF-8 preserves codepoint order; Java `String` order does not on
  * astral codepoints). */
object BpeReference {
  import scala.math.Ordering.Implicits._

  private def symbols(w: String): Vector[String] =
    w.codePoints().toArray.toVector.map(cp => new String(Character.toChars(cp)))

  private def codepoints(s: String): Vector[Int] = s.codePoints().toArray.toVector

  private def mergeAll(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Whether a whitespace token is a vocabulary word: at least two
    * codepoints and no separator. Other tokens encode as one token. */
  def inVocabulary(w: String): Boolean =
    w.codePointCount(0, w.length) >= 2 && !w.contains(TextAnalysis.BpeSep)

  /** Word frequencies of the vocabulary words of `texts`. */
  def vocabulary(texts: Seq[String]): Map[String, Long] =
    texts.flatMap(_.split(" ", -1)).filter(inVocabulary)
      .groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }

  /** The first `k` merges (it, a, b, cnt); fewer when the pairs run out. */
  def merges(wordFreq: collection.Map[String, Long],
             k: Int): Seq[(Int, String, String, Long)] = {
    var words = wordFreq.toSeq.map { case (w, f) => symbols(w) -> f }
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var round = 1
    var exhausted = false
    while (round <= k && !exhausted) {
      val counts = new scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (syms, f) =>
        syms.indices.dropRight(1).foreach { i =>
          val p = (syms(i), syms(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((a, b), c) = counts.minBy { case ((a, b), c) => (-c, codepoints(a), codepoints(b)) }
        out += ((round, a, b, c))
        words = words.map { case (syms, f) => mergeAll(syms, a, b) -> f }
        round += 1
      }
    }
    out.toSeq
  }

  /** Token count of one whitespace token: a vocabulary word after every
    * merge applied in list order, anything else one token. */
  def encode(w: String, merges: Seq[(String, String)]): Long =
    if (!inVocabulary(w)) 1L
    else merges.foldLeft(symbols(w)) { case (syms, (a, b)) => mergeAll(syms, a, b) }
      .length.toLong

  /** Per document (doc_id, BPE tokens, whitespace tokens), by doc_id. */
  def encodeCounts(docs: Seq[(Long, String)],
                   merges: Seq[(String, String)]): Seq[(Long, Long, Long)] =
    docs.map { case (id, t) =>
      val ws = t.split(" ", -1)
      (id, ws.map(encode(_, merges)).sum, ws.length.toLong)
    }.sortBy(_._1)
}
