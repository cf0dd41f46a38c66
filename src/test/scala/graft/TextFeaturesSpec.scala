package graft

import graft.operators.TextAnalysis
import org.scalatest.funsuite.AnyFunSuite

/** Featurization operators: hashed tf, BPE pair counts, merges and encode
  * counts must agree with plain-loop reimplementations over the collected
  * corpus. */
class TextFeaturesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private def texts: Seq[(Long, String)] =
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")).toSeq

  test("hashed features ≡ loop reimplementation (hash included)") {
    val got = TextAnalysis.hashedFeatures(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val want = texts.flatMap { case (id, t) =>
      val toks = t.split(" ", -1)
      val feats = toks.map { tok =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(tok.getBytes("UTF-8")).take(7).map("%02x".format(_)).mkString
        // 13 hex digits = 52 bits (14 hex chars = 7 bytes; drop the last nibble)
        (java.lang.Long.parseLong(hex.take(13), 16) % 64).toInt
      }
      feats.groupBy(identity).map { case (f, xs) =>
        (id, f) -> BigDecimal(xs.length.toDouble / toks.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }.toMap
    assert(got.size == want.size && got.nonEmpty)
    want.foreach { case (k, v) =>
      assert(math.abs(got(k) - v) < 1e-9, s"$k: ${got(k)} vs $v") }
  }

  /** Code-POINT pair counting — the engine (Spark `substring`) and the
    * oracle (DuckDB `substr`) both index code points, so the test
    * reimplementation must too: UTF-16 `String.sliding` would split
    * surrogate pairs and diverge on astral-plane characters. */
  private def pairCounts(wordFreq: collection.Map[String, Long]): Map[(String, String), Long] = {
    val counts = new scala.collection.mutable.HashMap[(String, String), Long]()
    wordFreq.foreach { case (w, f) =>
      val cps = w.codePoints().toArray
      (0 until cps.length - 1).foreach { i =>
        val k = (new String(Character.toChars(cps(i))),
          new String(Character.toChars(cps(i + 1))))
        counts(k) = counts.getOrElse(k, 0L) + f
      }
    }
    counts.toMap
  }

  test("BPE pair counts ≡ loop reimplementation; top cut deterministic") {
    val got = TextAnalysis.bpePairCounts(spark, dir, topN = 50).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.length == 50)
    val wordFreq = new scala.collection.mutable.HashMap[String, Long]()
    texts.foreach(_._2.split(" ", -1)
      .filter(w => w.codePointCount(0, w.length) >= 2)
      .foreach(w => wordFreq(w) = wordFreq.getOrElse(w, 0L) + 1))
    val want = pairCounts(wordFreq).toSeq.map { case ((a, b), c) => (a, b, c) }
      .sortBy { case (a, b, c) => (-c, a, b) }.take(50)
    assert(got.toSeq == want, s"\n got=${got.take(5).toSeq}\nwant=${want.take(5)}")
  }

  test("BPE pairs on astral-plane (non-BMP) text: codepoints, not UTF-16 units") {
    import spark.implicits._
    // 𝕏 (U+1D54F) and 😀 (U+1F600) are surrogate pairs in UTF-16; a
    // char-indexed scan would emit broken half-surrogate "pairs".
    val docsDf = Seq((1L, "𝕏a𝕏a 😀b😀"), (2L, "a𝕏 𝕏a𝕏a")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCountsOn(docsDf, topN = 20).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val wordFreq = Map("𝕏a𝕏a" -> 2L, "😀b😀" -> 1L, "a𝕏" -> 1L)
    val want = pairCounts(wordFreq).toSeq.map { case ((a, b), c) => (a, b, c) }
      .sortBy { case (a, b, c) => (-c, a, b) }.take(20)
    assert(got == want, s"\n got=$got\nwant=$want")
    assert(got.exists(_._1 == "𝕏"), "astral char must surface whole")
    def loneSurrogate(s: String) = s.length == 1 && Character.isSurrogate(s.charAt(0))
    assert(got.forall { case (a, b, _) => !loneSurrogate(a) && !loneSurrogate(b) },
      "no lone surrogate halves in output")
  }

  test("BPE merge loop ≡ token-level loop reimplementation") {
    val k = 8
    val got = TextAnalysis.bpeMerges(spark, dir, k).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got.length == k)
    val want = BpeReference.merges(BpeReference.vocabulary(texts.map(_._2)), k)
    assert(got == want, s"\n got=$got\nwant=$want")
    // merged symbols actually grow: by round 8 some merge must involve a
    // multi-char symbol (a merge OF a previous merge), or the loop never
    // left the pair statistic
    assert(got.exists { case (_, a, b, _) =>
      a.codePointCount(0, a.length) > 1 || b.codePointCount(0, b.length) > 1 },
      s"no compound-symbol merge in $k rounds: $got")
  }

  test("BPE encode ≡ loop reimplementation (merges applied in order)") {
    val k = 8
    val got = TextAnalysis.bpeEncodeCounts(spark, dir, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val merges = BpeReference.merges(BpeReference.vocabulary(texts.map(_._2)), k)
      .map { case (_, a, b, _) => (a, b) }
    val want = BpeReference.encodeCounts(texts, merges)
    assert(got == want,
      s"\n got=${got.take(3)}\nwant=${want.take(3)}")
    // the tokenizer must actually compress: BPE tokens < raw codepoints
    val totalBpe = got.map(_._2).sum
    val totalChars = texts.map(_._2.count(_ != ' ') + 1).sum
    assert(totalBpe < totalChars, s"no compression: $totalBpe vs $totalChars")
  }

  test("BPE merge loop handles adjacent occurrences ([a,b,a,b] → [ab,ab])") {
    import spark.implicits._
    val docsDf = Seq((1L, "abab abab cd")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMergesOn(docsDf, k = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    // round 1: pairs (a,b)x2·2 docs? word "abab" freq 2 → (a,b) cnt 4, (b,a) cnt 2,
    // (c,d) cnt 1 → merge (a,b,4). round 2: "abab"→[ab,ab] → (ab,ab) cnt 2 beats (c,d) 1.
    assert(got == Seq((1, "a", "b", 4L), (2, "ab", "ab", 2L)), got.toString)
  }
}
