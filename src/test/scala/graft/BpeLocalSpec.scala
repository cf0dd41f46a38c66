package graft

import graft.operators.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

/** The BPE trainer (collected vocabulary, driver-memory merge loop) and
  * the min-rank encoder vs the naive sequential reference in
  * [[BpeReference]] — merge-list and token-count equality on the real
  * corpus and on corpora engineered at the semantics' edges (ties under
  * binary order, overlapping pairs, multi-round merge chains, astral-plane
  * symbols, exhaustion). */
class BpeLocalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mergesOf(df: org.apache.spark.sql.DataFrame): Seq[(Int, String, String, Long)] =
    df.collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  private def docsDf(texts: Seq[String]): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def corpusTexts(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toSeq

  private def sameMerges(texts: Seq[String], k: Int, clue: String): Unit = {
    val got = mergesOf(TextAnalysis.bpeMergesOn(docsDf(texts), k))
    val want = BpeReference.merges(BpeReference.vocabulary(texts), k)
    assert(got == want, s"$clue: trainer $got != reference $want")
  }

  test("trainer ≡ naive reference on the real sf0.001 corpus, k=12") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = mergesOf(TextAnalysis.bpeMergesOn(df, 12))
    val want = BpeReference.merges(
      BpeReference.vocabulary(corpusTexts(df).map(_._2)), 12)
    assert(got.nonEmpty)
    assert(got == want)
  }

  test("min-rank encode ≡ naive sequential encoder; merges compress") {
    // the encoder leg of the scan→loop→encode round trip: per-word
    // min-rank application of a trained merge list must reproduce the
    // merges applied one after another, token-for-token
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val k = 8
    val merges = mergesOf(TextAnalysis.bpeMergesOn(df, k)).map(m => (m._2, m._3))
    def countsOf(enc: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      enc.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = countsOf(TextAnalysis.bpeEncodeCountsWith(df, merges))
    assert(got == BpeReference.encodeCounts(corpusTexts(df), merges) && got.nonEmpty)
    assert(countsOf(TextAnalysis.bpeEncodeCountsOn(df, k)) == got)
    // compression sanity: trained merges strictly reduce total tokens vs
    // the zero-merge (per-codepoint) segmentation, and every document
    // still carries at least one token per whitespace word
    val noM = TextAnalysis.bpeEncodeCountsWith(df, Seq.empty)
      .agg(org.apache.spark.sql.functions.sum("n_bpe_tokens")).collect()(0).getLong(0)
    assert(got.map(_._2).sum < noM, s"merges bought no compression: ${got.map(_._2).sum} vs $noM")
    got.foreach { r => assert(r._2 >= r._3, s"fewer BPE tokens than words: $r") }
  }

  test("ties break identically under UTF-8 binary order") {
    // 'ab' and 'ba' tie at 2; the oracle picks (a,b) < (b,a); second round
    // the other pair; also a multi-byte vs ASCII tie: 'é' (0xC3A9) sorts
    // after every ASCII symbol in byte order
    sameMerges(Seq("ab ab ba ba", "éz éz az az"), 4, "two-way ties")
    sameMerges(Seq("xé xé xz xz"), 3, "multi-byte right-symbol tie")
    // an astral symbol (F0 9F 9A 80) sorts after a BMP one above the
    // surrogate range (EF BC A1) in byte order, before it in UTF-16 order
    val rocket = new String(Character.toChars(0x1F680))
    sameMerges(Seq(s"x$rocket x$rocket xＡ xＡ"), 2, "astral vs high-BMP tie")
  }

  test("overlapping pairs count with overlaps and merge left-to-right") {
    // 'aaaa': (a,a) counts 3 per occurrence; merge gives [aa,aa], next
    // round (aa,aa)
    sameMerges(Seq("aaaa aaaa aaa"), 4, "overlap runs")
  }

  test("merge chains: created symbols feed later rounds") {
    sameMerges(Seq("abc abc abc abcd abcd"), 6, "chained merges")
  }

  test("merges that create, consume or repeat symbols keep the sequential order") {
    // merging (a,b) in 'xab' creates (x,ab), which outranks (c,d) in round 2
    sameMerges(Seq(Seq.fill(40)("xab").mkString(" ") + " " +
      Seq.fill(30)("cd").mkString(" ")), 4, "created pair outranks")
    // (a,b) and (b,c) tie; merging (a,b) consumes every b
    sameMerges(Seq(Seq.fill(25)("abc").mkString(" ")), 3, "shared symbol")
    // equal counts across a created pair and a disjoint one
    sameMerges(Seq(Seq.fill(20)("zab").mkString(" ") + " " +
      Seq.fill(20)("cd").mkString(" ")), 4, "created-pair tie")
    sameMerges(Seq(Seq.fill(12)("aaaa").mkString(" ") + " " +
      Seq.fill(9)("bc").mkString(" ")), 4, "repeated-symbol pair")
  }

  test("astral-plane symbols are single codepoints in both trainers") {
    val rocket = new String(Character.toChars(0x1F680))
    sameMerges(Seq(s"$rocket$rocket a$rocket a$rocket"), 3, "astral symbols")
  }

  test("exhaustion: both stop at the same round when nothing is left to merge") {
    val got = mergesOf(TextAnalysis.bpeMergesOn(docsDf(Seq("ab ab")), 10))
    assert(got == BpeReference.merges(Map("ab" -> 2L), 10))
    assert(got.size < 10, "tiny corpus must exhaust before k")
  }

  test("vocabulary cap fails loudly, before any collect-sized work") {
    val df = docsDf(Seq("one two three four five six"))
    val e = intercept[IllegalArgumentException](
      TextAnalysis.bpeMergesOn(df, 2, maxVocab = 3))
    assert(e.getMessage.contains("maxVocab"))
  }
}
