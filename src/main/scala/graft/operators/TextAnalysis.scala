package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * language ID, quality scoring, token counting, document fingerprinting.
  * All pure column algebra — narrow transformations, fully codegen'd, no
  * UDFs in the hot path; at 100 TB these run at scan speed with column
  * pruning (only `doc_id` + `text` are read).
  */
object TextAnalysis {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** Stopword markers per language for the n-gram/stopword langid
    * heuristic. Deterministic argmax with alphabetical tie-break. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq(" der ", " und ", " die ", " ist "),
    "en" -> Seq(" the ", " and ", " of ", " is "),
    "es" -> Seq(" el ", " la ", " los ", " es "),
    "fr" -> Seq(" le ", " la ", " et ", " est "))

  private def occurrences(c: Column, needle: String): Column =
    (length(c) - length(replace(c, lit(needle), lit("")))) / needle.length

  /** Per-language stopword-evidence scores for a text column. */
  def langScores(textCol: Column): Seq[(String, Column)] = {
    val padded = concat(lit(" "), lower(textCol), lit(" "))
    LangMarkers.map { case (lang, markers) =>
      lang -> markers.map(m => occurrences(padded, m)).reduce(_ + _).cast("long")
    }
  }

  /** Deterministic argmax over [[langScores]] — (predicted_lang,
    * best_score); strictly-greater keeps the alphabetically-first
    * language on ties, "unknown" when no marker hits. */
  def predictedLang(textCol: Column): (Column, Column) =
    langScores(textCol).foldLeft((lit("unknown"), lit(0L))) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
          when(score > bestScore, score).otherwise(bestScore))
    }

  /** Language-ID by stopword evidence; "unknown" when no marker hits. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val scores = langScores(col("text"))
    val best = predictedLang(col("text"))
    // input-sorted, projection after: a sort above the marker scans makes
    // the range sampler run them all twice (PERF.md r10 sampler note)
    docs(spark, dir).orderBy("doc_id").select(
      (col("doc_id") +: col("lang").as("labeled_lang") +:
        best._1.as("predicted_lang") +: best._2.as("best_score") +:
        scores.map { case (l, s) => s.as(s"score_$l") }): _*
    )
  }

  /** SQL mirrors of [[langScores]]: `score_<lang>` select-list columns. */
  def langScoreColsSql: String = {
    def occ(m: String) =
      s"(length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', '$m', ''))) // ${m.length}"
    LangMarkers.map { case (lang, ms) =>
      s"CAST(${ms.map(occ).mkString("(", " + ", ")")} AS BIGINT) AS score_$lang"
    }.mkString(",\n  ")
  }

  /** SQL mirror of [[predictedLang]] over `score_<lang>` aliases. The CASE
    * ladder mirrors the Spark fold's strictly-greater semantics: on ties
    * the language earliest in (de,en,es,fr) order wins. */
  val predictedLangCaseSql: String = """CASE
    WHEN score_fr > score_es AND score_fr > score_en AND score_fr > score_de AND score_fr > 0 THEN 'fr'
    WHEN score_es > score_en AND score_es > score_de AND score_es > 0 THEN 'es'
    WHEN score_en > score_de AND score_en > 0 THEN 'en'
    WHEN score_de > 0 THEN 'de'
    ELSE 'unknown' END"""

  val langIdSql: String = s"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang, $langScoreColsSql
  FROM documents
)
SELECT doc_id, labeled_lang,
  $predictedLangCaseSql AS predicted_lang,
  greatest(score_de, score_en, score_es, score_fr, 0) AS best_score,
  score_de, score_en, score_es, score_fr
FROM scored ORDER BY doc_id
""".trim

  /** The stopword set behind the quality metric: the union of the langid
    * marker words — multilingual, tiny, and already the repo's notion of
    * "function word". */
  val StopwordSet: Seq[String] =
    LangMarkers.flatMap(_._2).map(_.trim).distinct.sorted

  /** Quality metrics — all integer-valued so the oracle compare is exact:
    * char/word/digit/punct counts, longest-word length, and the stopword
    * count (n_stopwords / n_words is the stopword-ratio quality filter —
    * natural text has a healthy share of function words; word soup and
    * boilerplate do not). */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    // input-sorted, projection after (the sampler note above)
    docs(spark, dir).orderBy("doc_id").select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(words).as("n_words"),
      length(regexp_replace(col("text"), "[^0-9]", "")).as("n_digits"),
      length(regexp_replace(col("text"), "[^.,;:!?]", "")).as("n_punct"),
      array_max(transform(words, w => length(w))).as("max_word_len"),
      size(array_distinct(words)).as("n_distinct_words"),
      size(filter(words, w => lower(w).isin(StopwordSet: _*))).as("n_stopwords")
    )
  }

  val qualitySql: String = {
    // quote-escape each word: a future apostrophe marker (fr " l' ")
    // would otherwise generate malformed SQL
    val stoplist = StopwordSet.map(w => s"'${w.replace("'", "''")}'").mkString(", ")
    s"""
SELECT doc_id,
  CAST(length(text) AS INTEGER) AS n_chars,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS INTEGER) AS n_digits,
  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS INTEGER) AS n_punct,
  CAST(list_max(list_transform(string_split(text, ' '), w -> length(w))) AS INTEGER) AS max_word_len,
  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_words,
  CAST(len(list_filter(string_split(text, ' '), w -> lower(w) IN ($stoplist))) AS INTEGER) AS n_stopwords
FROM documents ORDER BY doc_id
""".trim
  }

  /** Token counting: whitespace tokens plus a BPE-ish regex tokenization
    * (runs of letters | runs of digits | single non-space symbol). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    // input-sorted, projection after (the sampler note above)
    docs(spark, dir).orderBy("doc_id").select(
      col("doc_id"),
      size(split(col("text"), "\\s+")).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
        .as("regex_tokens")
    )

  val tokenCountSql: String = """
SELECT doc_id,
  CAST(len(regexp_split_to_array(text, '\s+')) AS INTEGER) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS regex_tokens
FROM documents ORDER BY doc_id
""".trim

  /** Repetition metrics (the Gopher-rules family — Rae et al. 2021,
    * "Scaling Language Models", appendix A1.1): how much of a document is
    * the same content said again. Exact integer counts so the oracle
    * compare is bit-stable: word totals/distincts/max-frequency, and the
    * same for word bigrams. Filters like "drop if the top bigram covers
    * >20% of the text" are then cheap downstream predicates.
    *
    * Shape: a NARROW per-document kernel — one row in, one row out, all
    * counting in a per-row hash map. Per-document metrics need no shuffle
    * at all; the first-cut explode + two-level aggregate shuffled ~2 gram
    * rows per corpus word (measured 3.9 s at sf0.1 vs sub-second here) —
    * at 100 TB that shuffle IS the query. Same single-space split
    * semantics as [[Dedup.shingleSet]] (empty tokens kept); NULL text
    * behaves like '' (one empty word token, repo-wide convention), so no
    * doc_id ever drops from the output. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    docs(spark, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val ws = (if (text == null) "" else text).split(" ", -1)
        def stats(n: Int, gram: Int => String): (Long, Long, Long) = {
          val counts = new java.util.HashMap[String, Long](n * 2)
          var i = 0
          while (i < n) {
            counts.merge(gram(i), 1L, (a, b) => a + b)
            i += 1
          }
          var maxC = 0L
          val it = counts.values().iterator()
          while (it.hasNext) { val c = it.next(); if (c > maxC) maxC = c }
          (n.toLong, counts.size().toLong, maxC)
        }
        val (nw, dw, mw) = stats(ws.length, i => ws(i))
        val (nb, db, mb) = stats(math.max(0, ws.length - 1), i => ws(i) + " " + ws(i + 1))
        (id, nw, dw, mw, nb, db, mb)
      }
      .toDF("doc_id", "n_words", "n_distinct_words", "max_word_count",
        "n_bigrams", "n_distinct_bigrams", "max_bigram_count")
      .orderBy("doc_id")
  }

  val repetitionSql: String = """
WITH words AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws FROM documents
), grams AS (
  SELECT doc_id, 1 AS kind, unnest(ws) AS g FROM words
  UNION ALL
  SELECT doc_id, 2 AS kind,
    unnest(CASE WHEN len(ws) >= 2
      THEN list_transform(generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1])
      ELSE [] END) AS g
  FROM words
), per_gram AS (
  SELECT doc_id, kind, g, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3
), per_kind AS (
  SELECT doc_id, kind, CAST(SUM(c) AS BIGINT) AS total,
    CAST(COUNT(*) AS BIGINT) AS distinct_grams, CAST(MAX(c) AS BIGINT) AS max_count
  FROM per_gram GROUP BY 1, 2
)
SELECT d.doc_id,
  coalesce(w.total, 0) AS n_words,
  coalesce(w.distinct_grams, 0) AS n_distinct_words,
  coalesce(w.max_count, 0) AS max_word_count,
  coalesce(b.total, 0) AS n_bigrams,
  coalesce(b.distinct_grams, 0) AS n_distinct_bigrams,
  coalesce(b.max_count, 0) AS max_bigram_count
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per_kind w ON w.doc_id = d.doc_id AND w.kind = 1
LEFT JOIN per_kind b ON b.doc_id = d.doc_id AND b.kind = 2
ORDER BY d.doc_id
""".trim

  /** The full Gopher REPETITION battery (Rae et al. 2021, arXiv:2112.11446,
    * Table A1) — [[repetition]] carries the word/bigram counting core;
    * this operator computes the paper's thirteen repetition fractions and
    * the composed verdict:
    *
    *  - duplicate LINE fraction (≤0.30) and duplicate line CHARACTER
    *    fraction (≤0.20); same pair for PARAGRAPHS (≤0.30 / ≤0.20).
    *    Lines are nonempty trimmed `\n` segments; paragraphs are `\n\n`
    *    segments (both stated — the paper doesn't pin the splitter). A
    *    value is "duplicated" when it occurs ≥2 times; the fraction
    *    counts ALL its occurrences (c_v, not c_v − 1), char mass is
    *    c_v · len(v) over len(text).
    *  - top word-n-gram character fraction for n=2,3,4 (≤0.20/0.18/0.16):
    *    the most frequent n-gram's c·len(gram)/len(text), tie-broken by
    *    (count DESC, gram ASC in binary order) so both engines pick the
    *    same gram.
    *  - duplicated word-n-gram character fraction for n=5..10
    *    (≤0.15/0.14/0.13/0.12/0.11/0.10): Σ over grams with c≥2 of
    *    c·len(gram), over len(text). Overlapping occurrences each count
    *    (stated: this upper-bounds the paper's non-overlapping character
    *    measure — the deterministic form both engines can replicate
    *    exactly).
    *
    * Verdicts compare UNROUNDED fractions (identical integer divisions);
    * outputs round to 6. Shape: ONE typed map per document (hash-map
    * counting, like [[repetition]]) — no shuffle, corpus-linear. */
  def gopherRepetitionOn(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, textOrNull) =>
        val text = if (textOrNull == null) "" else textOrNull
        val totalChars = text.codePointCount(0, text.length).toLong
        def dupStats(vals: Array[String]): (Double, Double) = {
          if (vals.isEmpty || totalChars == 0) return (0.0, 0.0)
          val counts = new java.util.HashMap[String, Long]()
          vals.foreach(v => counts.merge(v, 1L, (a, b) => a + b))
          var occ = 0L; var chars = 0L
          counts.forEach { (v, c) =>
            if (c >= 2) { occ += c; chars += c * v.codePointCount(0, v.length) }
          }
          (occ.toDouble / vals.length, chars.toDouble / totalChars)
        }
        val lines = text.split("\n", -1).map(_.trim).filter(_.nonEmpty)
        val paras = text.split("\n\n", -1).map(_.trim).filter(_.nonEmpty)
        val (dupLineFrac, dupLineCharFrac) = dupStats(lines)
        val (dupParaFrac, dupParaCharFrac) = dupStats(paras)
        val words = text.split("\\s+", -1).filter(_.nonEmpty)
        def gramCounts(n: Int): java.util.HashMap[String, Long] = {
          val m = new java.util.HashMap[String, Long]()
          var i = 0
          while (i + n <= words.length) {
            m.merge(words.slice(i, i + n).mkString(" "), 1L, (a, b) => a + b)
            i += 1
          }
          m
        }
        def topFrac(n: Int): Double = {
          if (totalChars == 0) return 0.0
          val m = gramCounts(n)
          var bestC = 0L; var bestG: String = null
          m.forEach { (g, c) =>
            if (c > bestC || (c == bestC && bestG != null &&
                compareBinary(g, bestG) < 0)) { bestC = c; bestG = g }
          }
          if (bestG == null) 0.0
          else bestC.toDouble * bestG.codePointCount(0, bestG.length) / totalChars
        }
        def dupFrac(n: Int): Double = {
          if (totalChars == 0) return 0.0
          var chars = 0L
          gramCounts(n).forEach { (g, c) =>
            if (c >= 2) chars += c * g.codePointCount(0, g.length)
          }
          chars.toDouble / totalChars
        }
        val top = Array(2, 3, 4).map(topFrac)
        val dup = Array(5, 6, 7, 8, 9, 10).map(dupFrac)
        val kept = dupLineFrac <= 0.30 && dupParaFrac <= 0.30 &&
          dupLineCharFrac <= 0.20 && dupParaCharFrac <= 0.20 &&
          top(0) <= 0.20 && top(1) <= 0.18 && top(2) <= 0.16 &&
          dup(0) <= 0.15 && dup(1) <= 0.14 && dup(2) <= 0.13 &&
          dup(3) <= 0.12 && dup(4) <= 0.11 && dup(5) <= 0.10
        def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, r6(dupLineFrac), r6(dupLineCharFrac), r6(dupParaFrac), r6(dupParaCharFrac),
          r6(top(0)), r6(top(1)), r6(top(2)),
          r6(dup(0)), r6(dup(1)), r6(dup(2)), r6(dup(3)), r6(dup(4)), r6(dup(5)), kept)
      }
      .toDF("doc_id", "dup_line_frac", "dup_line_char_frac",
        "dup_para_frac", "dup_para_char_frac",
        "top2_char_frac", "top3_char_frac", "top4_char_frac",
        "dup5_char_frac", "dup6_char_frac", "dup7_char_frac",
        "dup8_char_frac", "dup9_char_frac", "dup10_char_frac", "kept")
  }

  /** UTF-8 byte-order comparison — DuckDB's binary collation; identical
    * to Java's String.compareTo on these space-joined word grams only
    * when no surrogate pairs are involved, so compare code POINTS. */
  private def compareBinary(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** Gopher-repetition verdict query: the corpus' single-line docs carry
    * no line/paragraph structure, so the query builds a paragraph-
    * structured page (8-word lines, 3-line paragraphs joined `\n\n`) with
    * doc_id-keyed PLANTED duplicates — the first line re-appended at
    * %4 ≡ 0, the first paragraph re-appended at %6 ≡ 0 — identically in
    * Spark and DuckDB. Small docs fail on a planted dup, large docs
    * absorb it: verdicts vary both ways. Deployment composes
    * [[gopherRepetitionOn]] on real text. */
  def gopherRepetition(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val nLines = ceil(size(words).cast("double") / 8d).cast("int")
    val lines = transform(sequence(lit(0), nLines - 1), i =>
      array_join(slice(words, i * 8 + 1, lit(8)), " "))
    val nParas = ceil(nLines.cast("double") / 3d).cast("int")
    val paras = transform(sequence(lit(0), nParas - 1), p =>
      array_join(slice(lines, p * 3 + 1, lit(3)), "\n"))
    val page0 = array_join(paras, "\n\n")
    val firstLine = array_join(slice(words, lit(1), lit(8)), " ")
    val firstPara = array_join(slice(lines, lit(1), lit(3)), "\n")
    val page = concat(page0,
      when(col("doc_id") % 4 === 0, concat(lit("\n"), firstLine)).otherwise(lit("")),
      when(col("doc_id") % 6 === 0, concat(lit("\n\n"), firstPara)).otherwise(lit("")))
    // no input orderBy: the typed map discards ordering anyway and the
    // trailing orderBy re-sorts — same shape as [[repetition]].
    // Input spread (r14 opt): the per-doc gram-map kernel is the whole
    // query and otherwise runs on the scan's single split; the kernel is
    // per-row (no aggregation), so partitioning cannot change any value.
    gopherRepetitionOn(Partitioning.spread(
      docs(spark, dir).select(col("doc_id"), page.as("text"))))
      .orderBy("doc_id")
  }

  val gopherRepetitionSql: String = {
    val gramCtes = (2 to 10).map { n =>
      s"""g$n AS (
  SELECT doc_id, g, COUNT(*) AS c, length(g) AS gl FROM (
    SELECT doc_id,
      unnest(CASE WHEN len(words) >= $n
        THEN list_transform(generate_series(1, len(words) - ${n - 1}),
          i -> array_to_string(list_slice(words, i, i + ${n - 1}), ' '))
        ELSE [] END) AS g
    FROM w) t GROUP BY doc_id, g
)"""
    }.mkString(", ")
    val topSel = Seq(2, 3, 4).map { n =>
      s"""top$n AS (
  SELECT doc_id, c * gl AS mass FROM (
    SELECT doc_id, c, gl,
      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rk
    FROM g$n) t WHERE rk = 1
)"""
    }.mkString(", ")
    val dupSel = (5 to 10).map { n =>
      s"""dup$n AS (
  SELECT doc_id, SUM(c * gl) AS mass FROM g$n WHERE c >= 2 GROUP BY doc_id
)"""
    }.mkString(", ")
    s"""
WITH pages AS (
  SELECT doc_id,
    array_to_string(list_transform(
      generate_series(0, CAST(ceil(CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) / 3.0) AS INT) - 1, 1),
      p -> array_to_string(list_transform(
        generate_series(p*3, least(p*3 + 2, CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) - 1), 1),
        i -> array_to_string(list_slice(string_split(text, ' '), i*8 + 1, i*8 + 8), ' ')), chr(10))),
      chr(10) || chr(10))
    || CASE WHEN doc_id % 4 = 0 THEN chr(10) ||
         array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') ELSE '' END
    || CASE WHEN doc_id % 6 = 0 THEN chr(10) || chr(10) ||
         array_to_string(list_transform(
           generate_series(0, least(2, CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) - 1), 1),
           i -> array_to_string(list_slice(string_split(text, ' '), i*8 + 1, i*8 + 8), ' ')), chr(10))
       ELSE '' END
    AS text
  FROM documents
), base AS (
  SELECT doc_id, text, length(text) AS total_chars FROM pages
), lns AS (
  SELECT doc_id, v, COUNT(*) AS c, length(v) AS vl FROM (
    SELECT doc_id, unnest(list_filter(list_transform(string_split(text, chr(10)),
      x -> trim(x, ' ' || chr(9) || chr(10) || chr(13))), x -> length(x) > 0)) AS v FROM base) t
  GROUP BY doc_id, v
), prs AS (
  SELECT doc_id, v, COUNT(*) AS c, length(v) AS vl FROM (
    SELECT doc_id, unnest(list_filter(list_transform(string_split(text, chr(10) || chr(10)),
      x -> trim(x, ' ' || chr(9) || chr(10) || chr(13))), x -> length(x) > 0)) AS v FROM base) t
  GROUP BY doc_id, v
), ln_tot AS (
  SELECT doc_id, SUM(c) AS n, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_occ,
    SUM(CASE WHEN c >= 2 THEN c * vl ELSE 0 END) AS dup_chars
  FROM lns GROUP BY doc_id
), pr_tot AS (
  SELECT doc_id, SUM(c) AS n, SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_occ,
    SUM(CASE WHEN c >= 2 THEN c * vl ELSE 0 END) AS dup_chars
  FROM prs GROUP BY doc_id
), w AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> length(x) > 0) AS words
  FROM base
), $gramCtes, $topSel, $dupSel, m AS (
  SELECT b.doc_id,
    coalesce(CAST(l.dup_occ AS DOUBLE) / l.n, 0) AS dup_line_frac,
    coalesce(CAST(l.dup_chars AS DOUBLE) / b.total_chars, 0) AS dup_line_char_frac,
    coalesce(CAST(p.dup_occ AS DOUBLE) / p.n, 0) AS dup_para_frac,
    coalesce(CAST(p.dup_chars AS DOUBLE) / b.total_chars, 0) AS dup_para_char_frac,
    ${Seq(2, 3, 4).map(n => s"coalesce(CAST(t$n.mass AS DOUBLE) / b.total_chars, 0) AS top${n}_char_frac").mkString(",\n    ")},
    ${(5 to 10).map(n => s"coalesce(CAST(d$n.mass AS DOUBLE) / b.total_chars, 0) AS dup${n}_char_frac").mkString(",\n    ")}
  FROM base b
  LEFT JOIN ln_tot l USING (doc_id)
  LEFT JOIN pr_tot p USING (doc_id)
  ${Seq(2, 3, 4).map(n => s"LEFT JOIN top$n t$n USING (doc_id)").mkString("\n  ")}
  ${(5 to 10).map(n => s"LEFT JOIN dup$n d$n USING (doc_id)").mkString("\n  ")}
)
SELECT doc_id,
  ${Seq("dup_line_frac", "dup_line_char_frac", "dup_para_frac", "dup_para_char_frac",
      "top2_char_frac", "top3_char_frac", "top4_char_frac",
      "dup5_char_frac", "dup6_char_frac", "dup7_char_frac",
      "dup8_char_frac", "dup9_char_frac", "dup10_char_frac")
    .map(c => s"round($c, 6) AS $c").mkString(",\n  ")},
  (dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
   AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
   AND top2_char_frac <= 0.20 AND top3_char_frac <= 0.18 AND top4_char_frac <= 0.16
   AND dup5_char_frac <= 0.15 AND dup6_char_frac <= 0.14 AND dup7_char_frac <= 0.13
   AND dup8_char_frac <= 0.12 AND dup9_char_frac <= 0.11 AND dup10_char_frac <= 0.10) AS kept
FROM m ORDER BY doc_id
""".trim
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, arXiv:1910.10683
    * §2.2 — the construction rules of the C4 corpus): the canonical
    * pre-training page cleanup that sits BETWEEN raw extraction and the
    * document-level gates already in-tree ([[quality]]'s stopword ratios,
    * [[repetition]]'s Gopher counts, the trained classifier). Per-LINE
    * keep rules: the line must end in a terminal punctuation mark
    * (`. ! ?` or a closing quote — the paper's list), carry ≥3
    * whitespace-split words, and not contain the word "javascript"
    * (case-insensitive, word-bounded). Per-PAGE verdicts on what
    * survives: ≥5 sentences in the cleaned text (sentences counted as
    * runs of terminal punctuation — `!!!` is one boundary), and the raw
    * page must contain neither "lorem ipsum" nor a curly brace (the
    * paper's code-page heuristic). Two published C4 stages are
    * deliberately NOT here: the bad-words page filter takes an external
    * word list (a deployment input — pass it to [[c4CleanOn]]'s
    * `badWords`), and the three-sentence-span dedup is substring-level
    * exact dedup, i.e. [[graft.operators.ExactSubstr]]'s job.
    *
    * The terminal-punctuation test is a LAST-CHARACTER SET test, not a
    * `$`-anchored regex, on purpose: Java's `$` also matches before a
    * trailing line terminator (`"x.\r"` would pass) while RE2/DuckDB's
    * does not — the one engine-divergent corner in these rules, designed
    * out rather than documented around.
    *
    * Scale: a narrow per-row map — split / lambda-filter / rejoin inside
    * one codegen stage, no shuffle, no UDF, no driver state. Rejected
    * pages are KEPT in the output (`kept=false` + per-rule flags) so the
    * caller chooses filter vs audit; the cleaned text column makes the
    * keep path a single `.filter(col("kept")).select("doc_id",
    * "clean_text")`. */
  def c4Clean(spark: SparkSession, dir: String): DataFrame = {
    // input-sorted, projection after (the sampler note above)
    val d = docs(spark, dir).orderBy("doc_id")
    c4CleanOn(d.withColumn("__c_text", c4SyntheticPage), col("__c_text"))
      .select("doc_id", "n_lines", "n_lines_kept", "n_sentences",
        "has_lorem", "has_brace", "kept", "clean_text")
  }

  /** The corpus' documents are single-line punctuation-free word soup —
    * C4 rejects 100% of them, which is CORRECT but gives the oracle a
    * constant frame to compare. The query therefore synthesizes a
    * deterministic multi-line page per document (8-word lines, a cycling
    * terminal-punctuation pattern `. ∅ ! , ?` so ~2/5 of lines fail the
    * line rules, and doc_id-keyed marker lines that trip each PAGE rule),
    * identically in Spark and DuckDB, then applies the kernel. The
    * deployment shape is [[c4CleanOn]] on real multi-line text. */
  private[graft] def c4SyntheticPage: Column = {
    val words = split(col("text"), " ")
    val nLines = ceil(size(words).cast("double") / 8d).cast("int")
    val punct = array(lit("."), lit(""), lit("!"), lit(","), lit("?"))
    val lines = transform(sequence(lit(0), nLines - 1), i =>
      concat(array_join(slice(words, i * 8 + 1, lit(8)), " "),
        element_at(punct, (i % 5) + 1)))
    concat(array_join(lines, "\n"),
      when(col("doc_id") % 17 === 0,
        lit("\nplus a lorem ipsum marker line.")).otherwise(lit("")),
      when(col("doc_id") % 23 === 0,
        lit("\nint main() { return 0; }")).otherwise(lit("")),
      when(col("doc_id") % 31 === 0,
        lit("\nPlease enable javascript to continue.")).otherwise(lit("")))
  }

  /** The [[c4Clean]] kernel over an arbitrary text column — the
    * deployment shape (compose into any pipeline; `badWords` is the
    * paper's external block list, empty by default). Appends columns
    * n_lines, n_lines_kept, n_sentences, has_lorem, has_brace, kept,
    * clean_text to `df`. Staged through intermediate projections for the
    * same reason as [[gopherQualityOn]]: lambda expressions get no
    * common-subexpression elimination, so a flat tree re-evaluates the
    * line-split and the kept-lines filter once per derived column. */
  def c4CleanOn(df: DataFrame, textCol: Column, badWords: Seq[String] = Nil): DataFrame = {
    val badRegex =
      if (badWords.isEmpty) None
      else Some(badWords.map(w => java.util.regex.Pattern.quote(w.toLowerCase))
        .mkString("\\b(", "|", ")\\b"))
    // ONE struct-returning native expression (round 13 — see the
    // C4Kernel/C4CleanExpr scaladocs): the column-algebra form below is
    // kept verbatim as the executable specification, and the kernel is
    // differential-pinned to it (C4CleanSpec). Fields are extracted from
    // the single __c4 alias — CollapseProject refuses to inline a
    // non-cheap expression referenced 7 ways, so the kernel runs once per
    // evaluation site instead of once per derived column.
    val c4 = org.apache.spark.sql.graft.ColumnShim.column(
      graft.plans.C4CleanExpr(
        org.apache.spark.sql.graft.ColumnShim.expression(textCol), badRegex))
    df.withColumn("__c4", c4)
      .withColumn("has_lorem", col("__c4.has_lorem"))
      .withColumn("has_brace", col("__c4.has_brace"))
      .withColumn("n_lines", col("__c4.n_lines"))
      .withColumn("n_lines_kept", col("__c4.n_lines_kept"))
      .withColumn("clean_text", col("__c4.clean_text"))
      .withColumn("n_sentences", col("__c4.n_sentences"))
      .withColumn("kept", col("__c4.kept"))
      .drop("__c4")
  }

  /** The pre-r13 column-algebra form of [[c4CleanOn]] — kept verbatim as
    * the EXECUTABLE SPECIFICATION the fused kernel is differential-pinned
    * against (the normalizeTextReference discipline). Not on any hot path: its
    * HOF lambdas get no common-subexpression elimination, so a
    * filter+projection consumer re-runs the whole chain per site (RulesProfile,
    * last in commit 7edabe5; docs/PERF.md r13). */
  private[graft] def c4CleanOnAlgebra(df: DataFrame, textCol: Column,
                                      badWords: Seq[String] = Nil): DataFrame = {
    // NULL behaves like '' (the repo-wide convention — see [[repetition]]):
    // without this, kept would be NULL and the row would vanish from BOTH
    // the keep filter and the !kept audit filter
    val text = coalesce(textCol, lit(""))
    val hasBad =
      if (badWords.isEmpty) lit(false)
      else lower(text).rlike(
        badWords.map(w => java.util.regex.Pattern.quote(w.toLowerCase))
          .mkString("\\b(", "|", ")\\b"))
    val s1 = df
      .withColumn("__c_lines", split(text, "\n"))
      .withColumn("has_lorem", lower(text).contains("lorem ipsum"))
      .withColumn("has_brace", text.contains("{"))
      .withColumn("__c_bad", hasBad)
    val s2 = s1.withColumn("__c_kept_lines", filter(col("__c_lines"), l =>
      substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"") &&
      size(split(trim(l), "\\s+")) >= 3 &&
      !lower(l).rlike("\\bjavascript\\b")))
    val s3 = s2
      .withColumn("n_lines", size(col("__c_lines")))
      .withColumn("n_lines_kept", size(col("__c_kept_lines")))
      .withColumn("clean_text", array_join(col("__c_kept_lines"), "\n"))
    s3
      .withColumn("n_sentences",
        size(regexp_extract_all(col("clean_text"), lit("[.!?]+"), lit(0))))
      .withColumn("kept", col("n_sentences") >= 5 &&
        !col("has_lorem") && !col("has_brace") && !col("__c_bad"))
      .drop("__c_lines", "__c_kept_lines", "__c_bad")
  }

  /** The deterministic synthetic-page SQL expression (base 8-word lines
    * with the cycling punctuation + the three C4 page-marker appends) —
    * ONE constant shared by every oracle that builds the page
    * ([[c4CleanSql]], [[gopherQualitySql]],
    * [[Sampling.curationRulesSql]]), so the copies cannot de-sync. */
  private[graft] val c4PageSqlExpr: String =
    """array_to_string(list_transform(
      generate_series(0, CAST(ceil(len(string_split(text, ' ')) / 8.0) AS INT) - 1, 1),
      i -> array_to_string(list_slice(string_split(text, ' '), i*8 + 1, i*8 + 8), ' ')
           || (['.', '', '!', ',', '?'])[(i % 5) + 1]), chr(10))
    || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'plus a lorem ipsum marker line.' ELSE '' END
    || CASE WHEN doc_id % 23 = 0 THEN chr(10) || 'int main() { return 0; }' ELSE '' END
    || CASE WHEN doc_id % 31 = 0 THEN chr(10) || 'Please enable javascript to continue.' ELSE '' END"""

  /** The C4 per-line keep filter in DuckDB, over a named text column —
    * shared by [[c4CleanSql]] and [[Sampling.curationRulesSql]]. Built
    * from a RAW string (the `\s`/`\b` regexes must reach DuckDB
    * verbatim; an s-interpolator would eat them as escapes). */
  private[graft] def c4KeptLinesSql(src: String): String =
    """list_filter(string_split(SRC, chr(10)), x ->
      right(rtrim(x), 1) IN ('.', '!', '?', '"')
      AND len(regexp_split_to_array(trim(x), '\s+')) >= 3
      AND NOT regexp_matches(lower(x), '\bjavascript\b'))""".replace("SRC", src)

  /** Oracle: the same rules in DuckDB list lambdas — last-character set
    * test (see the [[c4Clean]] scaladoc for why not `$`), the same
    * word-boundary javascript regex (identical `\b` semantics in Java
    * and RE2), the same `[.!?]+` sentence-run count. */
  val c4CleanSql: String = s"""
WITH pages AS (
  SELECT doc_id,
    $c4PageSqlExpr
    AS text
  FROM documents
), l AS (
  SELECT doc_id, text,
    string_split(text, chr(10)) AS lines,
    ${c4KeptLinesSql("text")} AS kept_lines
  FROM pages
), c AS (
  SELECT doc_id, text, len(lines) AS n_lines, len(kept_lines) AS n_lines_kept,
    array_to_string(kept_lines, chr(10)) AS clean_text
  FROM l
)
SELECT doc_id,
  CAST(n_lines AS INTEGER) AS n_lines,
  CAST(n_lines_kept AS INTEGER) AS n_lines_kept,
  CAST(len(regexp_extract_all(clean_text, '[.!?]+')) AS INTEGER) AS n_sentences,
  (lower(text) LIKE '%lorem ipsum%') AS has_lorem,
  (contains(text, '{')) AS has_brace,
  (len(regexp_extract_all(clean_text, '[.!?]+')) >= 5
    AND NOT lower(text) LIKE '%lorem ipsum%'
    AND NOT contains(text, '{')) AS kept,
  clean_text
FROM c ORDER BY doc_id
""".trim

  /** The QUALITY half of the Gopher rules (Rae et al. 2021,
    * arXiv:2112.11446, Appendix A1.1) as a composed per-page verdict —
    * the sibling of [[repetition]] (which carries the rule set's
    * repetition half) and [[c4Clean]] (line-level): word count in
    * [50, 100k], mean word length in [3, 10], hash and ellipsis
    * symbol-to-word ratios ≤ 0.1, ≤ 90% of lines bullet-started, ≤ 30%
    * of lines ellipsis-ended, ≥ 80% of words containing an alphabetic
    * character, and ≥ 2 distinct hits from the paper's stop-word list
    * (the, be, to, of, and, that, have, with). The verdict is decided on
    * UNROUNDED ratios (identical integer divisions are IEEE-identical in
    * both engines — the [[graft.operators.Dedup]] jaccard convention);
    * ratio columns round to 6 places on output only. Bullet characters
    * are the repo's fixed set `• ‣ - *`; "alphabetic" is ASCII
    * `[A-Za-z]` (both stated rather than locale-dependent).
    *
    * Scale: same shape as [[c4CleanOn]] — narrow per-row column
    * algebra, no shuffle, no UDF — but STAGED through intermediate
    * projections on purpose: lambda expressions (higher-order functions)
    * are excluded from Catalyst's common-subexpression elimination, so a
    * flat expression tree re-evaluates the split/filter word array once
    * per derived column (~20×/row — measured 6.1 s warm on the bench
    * corpus, 2nd most expensive query). Materializing the arrays and the
    * integer counts as aliased projection outputs computes each pass
    * once: `CollapseProject` declines to merge projections whose
    * non-cheap outputs are referenced more than once, and whole-stage
    * codegen carries them as locals. Stop hits are ONE
    * `array_intersect` pass (distinct-presence count), not one
    * `array_contains` scan per list word. */
  def gopherQualityOn(df: DataFrame, textCol: Column): DataFrame = {
    // ONE struct-returning native expression (round 13 — the C4CleanExpr
    // pattern; see GopherKernel): the column-algebra form below stays
    // verbatim as the executable specification, differential-pinned by
    // GopherQualitySpec. One fused pass per evaluation site instead of a
    // per-derived-column HOF cascade re-run by the kept predicate.
    val g = org.apache.spark.sql.graft.ColumnShim.column(
      graft.plans.GopherQualityExpr(
        org.apache.spark.sql.graft.ColumnShim.expression(textCol)))
    graft.functions.GopherKernel.schema.fieldNames
      .foldLeft(df.withColumn("__g", g)) { (d, f) =>
        d.withColumn(f, col(s"__g.$f"))
      }
      .drop("__g")
  }

  /** The pre-r13 column-algebra form of [[gopherQualityOn]] — kept
    * verbatim as the EXECUTABLE SPECIFICATION the fused kernel is
    * differential-pinned against (the c4CleanOnAlgebra discipline). */
  private[graft] def gopherQualityOnAlgebra(df: DataFrame, textCol: Column): DataFrame = {
    // NULL behaves like '' (the repo-wide convention — see [[repetition]])
    val text = coalesce(textCol, lit(""))
    // stage 1: the two arrays + raw char counts — each computed ONCE
    val s1 = df
      .withColumn("__g_words", filter(split(text, "\\s+"), w => length(w) > 0))
      .withColumn("__g_lines", split(text, "\n"))
      .withColumn("__g_nhash", occurrences(text, "#"))
      .withColumn("__g_nellipsis", occurrences(text, "…") + occurrences(text, "..."))
    // stage 2: one pass per count over the materialized arrays
    val s2 = s1
      .withColumn("__g_nw", size(col("__g_words")))
      .withColumn("__g_sumlen",
        aggregate(col("__g_words"), lit(0L), (acc, w) => acc + length(w)))
      .withColumn("__g_alpha",
        size(filter(col("__g_words"), w => w.rlike("[A-Za-z]"))))
      .withColumn("__g_stop",
        size(array_intersect(transform(col("__g_words"), w => lower(w)),
          typedLit(GopherStopWords))))
      .withColumn("__g_nlines", size(col("__g_lines")))
      .withColumn("__g_bullet", size(filter(col("__g_lines"), l =>
        substring(ltrim(l), 1, 1).isin("•", "‣", "-", "*"))))
      .withColumn("__g_ell", size(filter(col("__g_lines"), l =>
        substring(rtrim(l), -3, 3) === "..." || substring(rtrim(l), -1, 1) === "…")))
    // stage 3: ratios + verdict from cheap integer columns
    val nWords = col("__g_nw")
    def ratio(num: Column): Column =
      when(nWords === 0, lit(null)).otherwise(num.cast("double") / nWords.cast("double"))
    val meanLen = ratio(col("__g_sumlen"))
    val hashRatio = ratio(col("__g_nhash"))
    val ellipsisRatio = ratio(col("__g_nellipsis"))
    val pctAlpha = ratio(col("__g_alpha"))
    val pctBullet = col("__g_bullet").cast("double") / col("__g_nlines").cast("double")
    val pctEllipsis = col("__g_ell").cast("double") / col("__g_nlines").cast("double")
    val stopHits = col("__g_stop")
    val kept = nWords >= 50 && nWords <= 100000 &&
      meanLen >= 3d && meanLen <= 10d &&
      hashRatio <= 0.1 && ellipsisRatio <= 0.1 &&
      pctBullet <= 0.9 && pctEllipsis <= 0.3 &&
      pctAlpha >= 0.8 && stopHits >= 2
    s2
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len", round(meanLen, 6))
      .withColumn("hash_ratio", round(hashRatio, 6))
      .withColumn("ellipsis_ratio", round(ellipsisRatio, 6))
      .withColumn("pct_bullet_lines", round(pctBullet, 6))
      .withColumn("pct_ellipsis_lines", round(pctEllipsis, 6))
      .withColumn("pct_alpha_words", round(pctAlpha, 6))
      .withColumn("n_stop_hits", stopHits)
      .withColumn("kept", coalesce(kept, lit(false)))
      .drop(s1.columns.filter(_.startsWith("__g_")) ++
        Seq("__g_nw", "__g_sumlen", "__g_alpha", "__g_stop",
          "__g_nlines", "__g_bullet", "__g_ell"): _*)
  }

  /** Rae et al. 2021 A1.1's stop-word list, verbatim. */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-quality verdict query. Like [[c4Clean]], the corpus' word-soup
    * documents need structure for the rules to vary, so the query builds
    * the same deterministic synthetic page plus doc_id-keyed rule
    * triggers (stop words at %3 — the corpus vocabulary carries only
    * "the" from the list, so UNtriggered docs fail the ≥2-stop-hits rule;
    * hashes at %7, bullet lines at %5, a trailing ellipsis at %11),
    * identically in Spark and DuckDB. Deployment composes
    * [[gopherQualityOn]] directly. */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame = {
    // input-sorted, projection after (the sampler note above)
    val d = docs(spark, dir).orderBy("doc_id")
    val synthetic = concat(c4SyntheticPage,
      when(col("doc_id") % 3 === 0,
        lit("\nand that have with of to be the.")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0,
        lit("\n# # # # # # # # # # # #")).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        lit("\n• bullet line here\n• another bullet line")).otherwise(lit("")),
      when(col("doc_id") % 11 === 0,
        lit("\nthis line trails off with an ellipsis...")).otherwise(lit("")))
    gopherQualityOn(d.withColumn("__g_text", synthetic), col("__g_text"))
      .select("doc_id", "n_words", "mean_word_len", "hash_ratio",
        "ellipsis_ratio", "pct_bullet_lines", "pct_ellipsis_lines",
        "pct_alpha_words", "n_stop_hits", "kept")
  }

  /** The Gopher quality metrics as DuckDB select-list columns, over a
    * relation carrying `text`, `words`, `lines` — ONE definition shared
    * by [[gopherQualitySql]] and [[Sampling.curationRulesSql]] (raw
    * string: the `\`-free block still shares the no-interpolation rule
    * for uniformity with its sibling constants). */
  private[graft] val gopherMetricSqlCols: String = """len(words) AS n_words,
    CASE WHEN len(words) = 0 THEN NULL
      ELSE CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE) / CAST(len(words) AS DOUBLE) END AS mean_word_len,
    CASE WHEN len(words) = 0 THEN NULL
      ELSE CAST((length(text) - length(replace(text, '#', ''))) AS DOUBLE) / CAST(len(words) AS DOUBLE) END AS hash_ratio,
    CASE WHEN len(words) = 0 THEN NULL
      ELSE CAST((length(text) - length(replace(text, '…', ''))) + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE) / CAST(len(words) AS DOUBLE) END AS ellipsis_ratio,
    CAST(len(list_filter(lines, l -> left(ltrim(l), 1) IN ('•', '‣', '-', '*'))) AS DOUBLE)
      / CAST(len(lines) AS DOUBLE) AS pct_bullet_lines,
    CAST(len(list_filter(lines, l -> right(rtrim(l), 3) = '...' OR right(rtrim(l), 1) = '…')) AS DOUBLE)
      / CAST(len(lines) AS DOUBLE) AS pct_ellipsis_lines,
    CASE WHEN len(words) = 0 THEN NULL
      ELSE CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) / CAST(len(words) AS DOUBLE) END AS pct_alpha_words,
    (CAST(list_contains(list_transform(words, w -> lower(w)), 'the') AS INT)
     + CAST(list_contains(list_transform(words, w -> lower(w)), 'be') AS INT)
     + CAST(list_contains(list_transform(words, w -> lower(w)), 'to') AS INT)
     + CAST(list_contains(list_transform(words, w -> lower(w)), 'of') AS INT)
     + CAST(list_contains(list_transform(words, w -> lower(w)), 'and') AS INT)
     + CAST(list_contains(list_transform(words, w -> lower(w)), 'that') AS INT)
     + CAST(list_contains(list_transform(words, w -> lower(w)), 'have') AS INT)
     + CAST(list_contains(list_transform(words, w -> lower(w)), 'with') AS INT)) AS n_stop_hits"""

  /** The Gopher word/line array CTE body over a named source relation
    * (raw string — the `\s+` must reach DuckDB verbatim). `lead` lets a
    * composed pipeline carry extra key columns through. */
  private[graft] def gopherArraysSql(src: String, lead: String = "doc_id, text"): String =
    """SELECT LEAD,
    list_filter(regexp_split_to_array(text, '\s+'), w -> length(w) > 0) AS words,
    string_split(text, chr(10)) AS lines
  FROM SRC""".replace("LEAD", lead).replace("SRC", src)

  /** The Gopher verdict predicate over the (unrounded) metric columns —
    * shared by [[gopherQualitySql]] and [[Sampling.curationRulesSql]]. */
  private[graft] val gopherVerdictSql: String = """coalesce(n_words >= 50 AND n_words <= 100000
    AND mean_word_len >= 3 AND mean_word_len <= 10
    AND hash_ratio <= 0.1 AND ellipsis_ratio <= 0.1
    AND pct_bullet_lines <= 0.9 AND pct_ellipsis_lines <= 0.3
    AND pct_alpha_words >= 0.8 AND n_stop_hits >= 2, FALSE)"""

  val gopherQualitySql: String = s"""
WITH pages AS (
  SELECT doc_id,
    $c4PageSqlExpr
    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'and that have with of to be the.' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || '# # # # # # # # # # # #' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || '• bullet line here' || chr(10) || '• another bullet line' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'this line trails off with an ellipsis...' ELSE '' END
    AS text
  FROM documents
), g AS (
  ${gopherArraysSql("pages")}
), m AS (
  SELECT doc_id, text, lines,
    $gopherMetricSqlCols
  FROM g
)
SELECT doc_id,
  CAST(n_words AS INTEGER) AS n_words,
  round(mean_word_len, 6) AS mean_word_len,
  round(hash_ratio, 6) AS hash_ratio,
  round(ellipsis_ratio, 6) AS ellipsis_ratio,
  round(pct_bullet_lines, 6) AS pct_bullet_lines,
  round(pct_ellipsis_lines, 6) AS pct_ellipsis_lines,
  round(pct_alpha_words, 6) AS pct_alpha_words,
  CAST(n_stop_hits AS INTEGER) AS n_stop_hits,
  $gopherVerdictSql AS kept
FROM m ORDER BY doc_id
""".trim

  /** Canonicalizing fingerprint: md5 over lowercased, whitespace-collapsed
    * text — the cheap exact-dup key for corpus-scale dedup via group-by or
    * anti-join against an already-processed ledger. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      Dedup.canonicalFp(col("text")).as("fp"),
      sha2(col("text"), 256).as("sha256")
    ).orderBy("doc_id")

  val fingerprintSql: String = """
SELECT doc_id,
  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
  sha256(text) AS sha256
FROM documents ORDER BY doc_id
""".trim

  // --- winnowing rolling-hash fingerprints -----------------------------

  /** Winnowing parameters (MOSS-style local document fingerprinting):
    * k-gram size, window width, polynomial base, modulus.
    *
    * k = 25 is the NOISE THRESHOLD (matches below 25 codepoints are
    * coincidence, not shared passages) and w = 16 the guarantee window:
    * any shared substring of length ≥ k + w − 1 = 40 codepoints is
    * guaranteed to share a fingerprint. k must be discriminative at corpus
    * scale: with tiny grams (k=5) a word-soup corpus collapses to a few
    * hundred distinct hashes and the overlap inverted index fans out
    * quadratically (measured 292M join rows at sf0.1 vs 305k with k=25).
    *
    * Weights are 31^(k−1−j) REDUCED MOD P on both sides (the kernel runs
    * Horner with a per-step mod; the SQL multiplies by pre-reduced weight
    * literals) — identical residues, every intermediate exact in int64. */
  val WinnowK = 25
  val WinnowW = 16
  val WinnowB = 31L
  val WinnowP = 1048573L

  /** 31^(k−1−j) mod P for j = 0..k−1 — the SQL side's weight literals. */
  private val WinnowWeights: Seq[Long] =
    (0 until WinnowK).map(j =>
      (0 until (WinnowK - 1 - j)).foldLeft(1L)((acc, _) => acc * WinnowB % WinnowP))

  /** One document's winnowing fingerprints: polynomial hash of every
    * k-gram of CODEPOINTS (1-based positions, matching SQL substr
    * semantics), then per window of `w` consecutive hashes select the
    * minimum (rightmost on ties), deduplicated. Documents shorter than
    * k+w−1 codepoints emit nothing (no full window exists — a deliberate,
    * documented divergence from winnowing's pick-from-partial-window
    * variant, chosen so the relational oracle stays simple). */
  def winnowFingerprints(text: String): Seq[(Long, Long)] = {
    val cps = (if (text == null) "" else text).codePoints().toArray
    val n = cps.length
    if (n < WinnowK) return Seq.empty
    val m = n - WinnowK + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0L
      var j = 0
      // Horner with per-step mod: h stays < 31·P + maxCodepoint, so a
      // 25-gram cannot overflow (31^24 would, unreduced)
      while (j < WinnowK) { h = (h * WinnowB + cps(i + j)) % WinnowP; j += 1 }
      hs(i) = h
      i += 1
    }
    if (m < WinnowW) return Seq.empty
    val sel = scala.collection.mutable.SortedSet.empty[(Long, Long)]
    var ws = 0
    while (ws <= m - WinnowW) {
      var bestPos = ws
      var p = ws + 1
      while (p < ws + WinnowW) {
        // rightmost minimum: strictly-smaller moves left-to-right scan,
        // equal hash prefers the later position
        if (hs(p) <= hs(bestPos)) bestPos = p
        p += 1
      }
      sel += ((bestPos + 1L, hs(bestPos))) // 1-based
      ws += 1
    }
    sel.toSeq
  }

  /** Rolling-hash fingerprint query: (doc_id, pos, hash) winnowing
    * selections — the local-fingerprint primitive behind
    * containment/overlap detection (shared fingerprints ⇒ shared
    * passages), complementing [[fingerprint]]'s whole-document key.
    * Narrow per-document kernel; the explode multiplies rows by the
    * winnowing density (≈ 2/(w+1) ≈ 12% of codepoint positions at w=16)
    * but carries only (long, long, long). */
  def winnow(spark: SparkSession, dir: String): DataFrame = {
    val fps = udf((t: String) => winnowFingerprints(t))
    // input spread (r14 opt): the k=25 rolling-hash kernel otherwise runs
    // on the scan's single split; per-row kernel, output order pinned below
    Partitioning.spread(docs(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(fps(col("text"))).as("fp"))
      .select(col("doc_id"), col("fp._1").as("pos"), col("fp._2").as("hash"))
      .orderBy("doc_id", "pos")
  }

  /** Shared winnowing CTE chain (through `win`), used by the fingerprint
    * oracle and the overlap oracle. Same mod-reduced k-gram weights
    * ([[WinnowWeights]]) over `ord(substr(…))` codepoints (ord CAST to
    * BIGINT — an INT32 product would overflow), same rightmost-min window
    * rule via `row_number() ORDER BY h ASC, i DESC`, same full-window-only
    * rule. */
  private val WinnowCtes: String = s"""WITH docs AS (
  SELECT doc_id, coalesce(text, '') AS t FROM documents
), pos AS (
  SELECT doc_id, t, unnest(generate_series(1, CAST(len(t) AS BIGINT) - $WinnowK + 1)) AS i FROM docs
), wgt(j, w) AS (VALUES ${WinnowWeights.zipWithIndex.map { case (w, j) => s"($j, $w)" }.mkString(", ")}),
khash AS (
  SELECT p.doc_id, p.i,
    CAST(SUM(CAST(ord(substr(p.t, CAST(p.i + wgt.j AS INTEGER), 1)) AS BIGINT) * wgt.w) % $WinnowP AS BIGINT) AS h
  FROM pos p CROSS JOIN wgt
  GROUP BY p.doc_id, p.i
), win AS (
  SELECT k.doc_id, ws.i AS ws, k.i, k.h,
    row_number() OVER (PARTITION BY k.doc_id, ws.i ORDER BY k.h ASC, k.i DESC) AS rk
  FROM khash k
  JOIN khash ws ON ws.doc_id = k.doc_id AND k.i BETWEEN ws.i AND ws.i + $WinnowW - 1
  WHERE ws.i <= (SELECT max(i) FROM khash k2 WHERE k2.doc_id = ws.doc_id) - $WinnowW + 1
)"""

  /** Relational winnowing oracle over [[WinnowCtes]]. */
  val winnowSql: String =
    s"$WinnowCtes\nSELECT DISTINCT doc_id, i AS pos, h AS hash FROM win WHERE rk = 1 ORDER BY doc_id, pos"

  /** Default document-frequency cap for fingerprint hashes entering the
    * overlap inverted index — same role as `Dedup.DefaultMaxShingleDf`:
    * template boilerplate shared by thousands of documents is cut before
    * it can form a quadratic hot bucket; inert at oracle scale. */
  val DefaultMaxHashDf = 1000

  /** Shared-passage near-dup pairs from winnowing fingerprints:
    * containment = |fp(A) ∩ fp(B)| / min(|fp(A)|, |fp(B)|) over the
    * capped fingerprint vocabulary — the asymmetric-overlap measure that
    * catches a short document embedded in a longer one (where Jaccard
    * dilutes). Only pairs sharing ≥1 retained fingerprint materialize;
    * the shuffles carry (hash, doc_id) rows only. */
  def winnowOverlap(spark: SparkSession, dir: String, threshold: Double = 0.8,
                    maxHashDf: Int = DefaultMaxHashDf): DataFrame = {
    // .asNondeterministic() stops Catalyst duplicating the k=25 kernel
    // per column; no checkpoint here — the fused index kernel reads this
    // relation exactly ONCE into its own eagerly-checkpointed buckets, so
    // an upstream materialization would be a pure extra pass (the
    // historical 6×-FileScan disease is pinned dead by PlanShapeSpec)
    val hashes = udf((t: String) => winnowFingerprints(t).map(_._2).distinct)
      .asNondeterministic()
    // input spread (r14 opt): single-split scan otherwise serializes the
    // winnowing kernel; the index math downstream is count-based (exact)
    val fps = Partitioning.spread(docs(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(hashes(col("text"))).as("key"))
    InvertedIndex.parts(fps, maxHashDf).pairsAgg
      .withColumn("containment",
        col("shared").cast("double") / least(col("na"), col("nb")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("containment"), 6).as("containment"))
      .orderBy("id_a", "id_b")
  }

  /** Oracle: identical capped-vocabulary containment over the winnowing
    * CTEs (same division operands → identical doubles; round 6 both
    * sides). */
  def winnowOverlapSql(threshold: Double = 0.8,
                       maxHashDf: Int = DefaultMaxHashDf): String = s"""
$WinnowCtes, wfp AS (
  SELECT DISTINCT doc_id, h FROM win WHERE rk = 1
), capped AS (
  SELECT doc_id, h FROM wfp
  WHERE h NOT IN (SELECT h FROM wfp GROUP BY h HAVING COUNT(*) > $maxHashDf)
), sized AS (
  SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY 1
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS shared,
  round(CAST(COUNT(*) AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS containment
FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
JOIN sized sa ON sa.doc_id = a.doc_id
JOIN sized sb ON sb.doc_id = b.doc_id
GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
HAVING CAST(COUNT(*) AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) >= $threshold
ORDER BY id_a, id_b
""".trim

  /** Matching passage spans for overlapping document pairs — the
    * "investigate" step of the dedup-investigate-remove loop a
    * training-data pipeline runs: [[winnowOverlap]] says WHICH pairs share
    * content; this says WHERE.
    *
    * For each pair at containment ≥ `threshold`, the A-side positions of
    * fingerprints present in BOTH documents each witness a k-codepoint
    * match `[pos, pos+k−1]`; winnowing guarantees consecutive selections
    * inside one shared passage are ≤ w apart, and w=16 < k=25 means their
    * spans OVERLAP — so merging overlapping/adjacent spans (classic
    * gaps-and-islands over a running max-end) reconstructs each shared
    * passage as one interval.
    *
    * Scale shape: the fingerprint kernel runs ONCE (localCheckpoint'd
    * (doc_id, pos, hash) rows — the same single-evaluation discipline as
    * [[winnowOverlap]]); pair generation is the capped inverted index; the
    * span merge is a window over (id_a, id_b) partitions — each partition
    * is one document pair's matches, so no partition outgrows a single
    * pair's fingerprint count regardless of corpus size. */
  def passages(spark: SparkSession, dir: String, threshold: Double = 0.8,
               maxHashDf: Int = DefaultMaxHashDf): DataFrame = {
    val fpsUdf = udf((t: String) => winnowFingerprints(t)).asNondeterministic()
    // stats-honest: fps is data-sized and feeds the posA joins below; the
    // raw checkpoint's origin stats (tiny, via the UDF explode) would
    // invite a static broadcast of a corpus-sized side (see CheckpointShim)
    val fps = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      Partitioning.spread(docs(spark, dir).select(col("doc_id"), col("text")))
        .select(col("doc_id"), explode(fpsUdf(col("text"))).as("fp"))
        .select(col("doc_id"), col("fp._1").as("pos"), col("fp._2").as("hash")))
    // the fused index kernel reads the distinct-key relation once, so no
    // checkpoint here; fps (positions) above IS checkpointed — it feeds
    // both this derivation and the posA side below
    val wfp = fps.select(col("doc_id"), col("hash").as("key")).distinct()
    val parts = InvertedIndex.parts(wfp, maxHashDf)
    val pairs = parts.pairsAgg
      .filter(col("shared").cast("double")
        / least(col("na"), col("nb")).cast("double") >= threshold)
      .select("id_a", "id_b")
    // A-side positions whose (retained) fingerprint also occurs in B
    val posA = fps
      .join(broadcast(parts.hot.select(col("key").as("hash"))), Seq("hash"), "left_anti")
      .select(col("doc_id").as("id_a"), col("pos").as("pos_a"), col("hash"))
    val inB = parts.capped.select(col("doc_id").as("id_b"), col("key").as("hash"))
    val matched = pairs
      .join(posA, "id_a")
      .join(inB, Seq("id_b", "hash"))
      .select("id_a", "id_b", "pos_a").distinct()
    // gaps-and-islands: a new island starts where this span cannot touch
    // any earlier span (pos_a > running max end + 1)
    val ord = Window.partitionBy("id_a", "id_b").orderBy("pos_a")
    val spanEnd = col("pos_a") + (WinnowK - 1)
    matched
      .withColumn("prev_max_end",
        max(spanEnd).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_end").isNull || col("pos_a") > col("prev_max_end") + 1, 1)
          .otherwise(0))
      .withColumn("island", sum(col("new_island")).over(ord))
      .groupBy("id_a", "id_b", "island")
      .agg(min(col("pos_a")).as("start_a"),
        max(spanEnd).as("end_a"),
        count(lit(1)).as("n_fps"))
      .select(col("id_a"), col("id_b"), col("start_a"), col("end_a"), col("n_fps"))
      .orderBy("id_a", "id_b", "start_a")
  }

  /** Oracle: identical pair selection + island merge over the winnowing
    * CTEs (positions kept through `wpos` instead of collapsing to the
    * distinct-hash relation). */
  def passagesSql(threshold: Double = 0.8,
                  maxHashDf: Int = DefaultMaxHashDf): String = s"""
$WinnowCtes, wpos AS (
  SELECT DISTINCT doc_id, i AS pos, h FROM win WHERE rk = 1
), wfp AS (
  SELECT DISTINCT doc_id, h FROM wpos
), capped AS (
  SELECT doc_id, h FROM wfp
  WHERE h NOT IN (SELECT h FROM wfp GROUP BY h HAVING COUNT(*) > $maxHashDf)
), sized AS (
  SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
  JOIN sized sa ON sa.doc_id = a.doc_id
  JOIN sized sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id, sa.n, sb.n
  HAVING CAST(COUNT(*) AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) >= $threshold
), matched AS (
  SELECT DISTINCT p.id_a, p.id_b, fa.pos AS pos_a
  FROM pairs p
  JOIN wpos fa ON fa.doc_id = p.id_a
  JOIN capped ca ON ca.doc_id = p.id_a AND ca.h = fa.h
  JOIN capped cb ON cb.doc_id = p.id_b AND cb.h = fa.h
), marked AS (
  SELECT id_a, id_b, pos_a,
    max(pos_a + ${WinnowK - 1}) OVER (PARTITION BY id_a, id_b ORDER BY pos_a
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_end
  FROM matched
), islands AS (
  SELECT id_a, id_b, pos_a,
    SUM(CASE WHEN prev_max_end IS NULL OR pos_a > prev_max_end + 1 THEN 1 ELSE 0 END)
      OVER (PARTITION BY id_a, id_b ORDER BY pos_a) AS island
  FROM marked
)
SELECT id_a, id_b, MIN(pos_a) AS start_a, MAX(pos_a) + ${WinnowK - 1} AS end_a,
  CAST(COUNT(*) AS BIGINT) AS n_fps
FROM islands GROUP BY id_a, id_b, island
ORDER BY id_a, id_b, start_a
""".trim

  /** Multimodal-column plumbing: text→binary as a stand-in for image/audio
    * payloads; metadata extraction stays columnar (byte size, codepoints,
    * head bytes as hex). The decode/feature step for real media lives in
    * [[Multimodal]] as a typed mapPartitions with a deterministic stub. */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      octet_length(col("text")).as("n_bytes"),
      length(col("text")).as("n_codepoints"),
      hex(encode(substring(col("text"), 1, 8), "UTF-8")).as("head_hex")
    ).orderBy("doc_id")

  val binaryMetaSql: String = """
SELECT doc_id,
  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
  CAST(length(text) AS INTEGER) AS n_codepoints,
  upper(hex(encode(substr(text, 1, 8)))) AS head_hex
FROM documents ORDER BY doc_id
""".trim

  /** BPE merge-candidate counting — the inner statistic of byte-pair-
    * encoding tokenizer training (Sennrich et al. 2016, arXiv:1508.07909):
    * corpus-frequency-weighted counts of adjacent character pairs inside
    * words, ranked. One BPE training iteration = take the top pair, merge
    * it, recount; the COUNTING is the distributed-scale part (the corpus
    * scan), and it factors through the word-frequency table — the
    * character expansion only ever touches DISTINCT words (vocabulary-
    * sized, not corpus-sized), which is what makes tokenizer training on
    * a 100 TB corpus a sequence of cheap jobs over a small aggregate:
    * scan once for word counts, iterate merges against the vocabulary.
    * Top-N cut is deterministic under (cnt DESC, a, b). */
  def bpePairCounts(spark: SparkSession, dir: String, topN: Int = 50): DataFrame =
    bpePairCountsOn(docs(spark, dir), topN)

  /** [[bpePairCounts]] over an explicit documents relation (needs a `text`
    * column). Character semantics are CODEPOINT-based end-to-end: Spark's
    * `substring`/`length` and DuckDB's `substr`/`length` both index
    * Unicode code points, so astral-plane (surrogate-pair) characters
    * count as ONE character — pinned by TextFeaturesSpec's non-BMP case. */
  def bpePairCountsOn(documents: DataFrame, topN: Int = 50): DataFrame = {
    val words = documents
      .select(explode(split(coalesce(col("text"), lit("")), " ", -1)).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    words
      .select(col("w"), col("freq"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(expr("substring(w, i, 1)").as("a"),
        expr("substring(w, i + 1, 1)").as("b"), col("freq"))
      .groupBy("a", "b").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(topN)
  }

  def bpePairCountsSql(topN: Int = 50): String = s"""
WITH words AS (
  SELECT tok AS w, count(*) AS freq FROM (
    SELECT unnest(string_split(coalesce(text, ''), ' ')) AS tok FROM documents)
  WHERE length(tok) >= 2 GROUP BY tok
), pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 1) AS a,
         substr(w, CAST(i AS INTEGER) + 1, 1) AS b, freq
  FROM words, LATERAL (SELECT unnest(range(1, length(w))) AS i) t
)
SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt
FROM pairs GROUP BY a, b
ORDER BY cnt DESC, a, b LIMIT $topN
""".trim

  /** Symbol separator of the BPE oracles' wrapped-string word
    * representation: U+001F (unit separator), a control character that
    * never occurs in natural text. Words containing it are left out of
    * the BPE vocabulary in BOTH engines, so the oracle stays exact even if
    * one ever appears. */
  val BpeSep = "\u001F"

  /** The BPE vocabulary of a documents relation (needs a `text` column):
    * whitespace tokens of at least two codepoints that do not carry
    * [[BpeSep]], one row per distinct word with its corpus frequency
    * `freq`. Training and encoding both read it, so they agree on what a
    * word is; every other whitespace token encodes as one token. */
  private def bpeVocabulary(documents: DataFrame): DataFrame =
    documents
      .select(explode(split(coalesce(col("text"), lit("")), " ", -1)).as("w"))
      .filter(length(col("w")) >= 2 && !col("w").contains(BpeSep))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** BPE merge-loop TRAINING (Sennrich et al. 2016, arXiv:1508.07909) —
    * [[bpePairCounts]] grown from one iteration's statistic into the real
    * tokenizer-training op: k rounds of (count adjacent symbol pairs,
    * merge the most frequent, recount). Output is the learned merge table
    * (it, a, b, cnt) with the deterministic tie-break (cnt DESC, a, b);
    * training stops early once no pair is left.
    *
    * Scale shape: the corpus pays ONE distributed aggregate — the
    * word-frequency vocabulary, collected once — and the merge loop runs
    * on it in driver memory ([[bpeTrainLocal]]): O(affected words) per
    * merge instead of one cluster job per round (SCALING.md r10: 30,000
    * merges in 29 s where an engine-paced loop needs ~0.2 s per merge). At
    * any corpus size the vocabulary is the bounded object (distinct
    * whitespace words; `maxVocab` guards the collect loudly — ~50 MB of
    * driver heap per million words).
    *
    * Semantics match the k-unrolled DuckDB oracle ([[bpeMergesSql]]):
    * one symbol per CODEPOINT (an astral character is one symbol, as for
    * Spark's and DuckDB's `length`/`substr`), frequency-weighted adjacency
    * counts with overlapping positions included, left-to-right
    * non-overlapping merge ([a,b,a,b] → [ab,ab]), and ties compared in
    * UTF-8 BINARY order — what both Spark's UTF8String and DuckDB compare;
    * Java String order differs on astral codepoints. */
  def bpeMerges(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    bpeMergesOn(docs(spark, dir), k)

  def bpeMergesOn(documents: DataFrame, k: Int = 8,
                  maxVocab: Int = BpeMaxVocab): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // a local relation, already in round order: sorting it would cost jobs
    bpeTrain(documents, k, maxVocab).toDF("it", "a", "b", "cnt")
  }

  /** Default vocabulary cap of BPE training. */
  val BpeMaxVocab: Int = 20 * 1000 * 1000

  /** [[bpeMergesOn]]'s merge list on the driver. One bounded action: a
    * vocabulary above the cap shows as `maxVocab + 1` collected rows. */
  private def bpeTrain(documents: DataFrame, k: Int,
                       maxVocab: Int): Seq[(Int, String, String, Long)] = {
    val vocab = bpeVocabulary(documents).limit(maxVocab + 1).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    require(vocab.length <= maxVocab,
      s"bpeMerges: vocabulary has more than maxVocab = $maxVocab distinct " +
        "words — raise the bound deliberately or pre-filter the corpus")
    bpeTrainLocal(vocab, k)
  }

  /** The driver-side merge kernel behind [[bpeMergesOn]]: an indexed pair
    * cache plus a lazy-invalidation heap. `vocab` is (word, frequency) in
    * any order — counts are sums and the heap orders ties itself. */
  private def bpeTrainLocal(vocab: Array[(String, Long)],
                            k: Int): Seq[(Int, String, String, Long)] = {
    // one symbol per CODEPOINT, like the oracle's (?s)(.) wrap (Java regex
    // '.' consumes a full surrogate pair)
    val syms: Array[Array[String]] = vocab.map { case (w, _) =>
      w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    }
    val freqs: Array[Long] = vocab.map(_._2)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val locs =
      scala.collection.mutable.HashMap.empty[(String, String),
        scala.collection.mutable.Set[Int]]
    def bytesCmp(x: String, y: String): Int = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val m = math.min(a.length, b.length)
      while (i < m) {
        val d = (a(i) & 0xFF) - (b(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    final case class Entry(cnt: Long, a: String, b: String)
    // (cnt DESC, a ASC, b ASC) in UTF-8 byte order — poll() = the engine's
    // ORDER BY cnt DESC, a, b LIMIT 1. Entries are lazily invalidated:
    // each count change pushes a fresh entry; a popped entry counts only
    // if it still states the pair's CURRENT count.
    val heap = new java.util.PriorityQueue[Entry](1024,
      new java.util.Comparator[Entry] {
        def compare(x: Entry, y: Entry): Int =
          if (x.cnt != y.cnt) java.lang.Long.compare(y.cnt, x.cnt)
          else {
            val d = bytesCmp(x.a, y.a)
            if (d != 0) d else bytesCmp(x.b, y.b)
          }
      })
    var i = 0
    while (i < syms.length) {
      val s = syms(i); val f = freqs(i)
      var j = 0
      while (j + 1 < s.length) {
        val p = (s(j), s(j + 1))
        counts.update(p, counts.getOrElse(p, 0L) + f)
        locs.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += i
        j += 1
      }
      i += 1
    }
    counts.foreach { case (p, c) => heap.add(Entry(c, p._1, p._2)) }
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var round = 1
    var exhausted = false
    while (round <= k && !exhausted) {
      var top: Entry = null
      while (top == null && !heap.isEmpty) {
        val e = heap.poll()
        if (e.cnt > 0 && counts.getOrElse((e.a, e.b), 0L) == e.cnt) top = e
      }
      if (top == null) exhausted = true
      else {
        val (a, b) = (top.a, top.b)
        out += ((round, a, b, top.cnt))
        val merged = a + b
        // locs is a SUPERSET of current holders (never pruned on decrement);
        // words without a live (a,b) adjacency are skipped by the scan below
        val affected = locs.getOrElse((a, b),
          scala.collection.mutable.Set.empty[Int]).toArray
        val touched = scala.collection.mutable.Set.empty[(String, String)]
        affected.foreach { wi =>
          val s = syms(wi); val f = freqs(wi)
          var has = false
          var j = 0
          while (!has && j + 1 < s.length) { has = s(j) == a && s(j + 1) == b; j += 1 }
          if (has) {
            j = 0
            while (j + 1 < s.length) { // retract the word's old adjacencies
              val p = (s(j), s(j + 1))
              counts.update(p, counts(p) - f)
              touched += p
              j += 1
            }
            val nb = scala.collection.mutable.ArrayBuffer[String]()
            j = 0
            while (j < s.length) { // left-to-right non-overlapping merge
              if (j + 1 < s.length && s(j) == a && s(j + 1) == b) {
                nb += merged; j += 2
              } else { nb += s(j); j += 1 }
            }
            val ns = nb.toArray
            syms(wi) = ns
            j = 0
            while (j + 1 < ns.length) { // account the new adjacencies
              val p = (ns(j), ns(j + 1))
              counts.update(p, counts.getOrElse(p, 0L) + f)
              locs.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += wi
              touched += p
              j += 1
            }
          }
        }
        touched.foreach { p =>
          val c = counts.getOrElse(p, 0L)
          if (c <= 0L) { counts.remove(p); locs.remove(p) }
          else heap.add(Entry(c, p._1, p._2))
        }
        round += 1
      }
    }
    out.toSeq
  }

  /** Shared k-round CTE body for the BPE oracles: `words` (vocabulary +
    * freq), `ws0..wsK` (the wrapped-string evolution, keeping `w` so the
    * encode oracle can map words to their final segmentation), and
    * `m1..mK` (the per-round top pairs).
    *
    * Representation: each word's symbol sequence is one string with every
    * symbol wrapped in [[BpeSep]] (`abc` → `␟a␟␟b␟␟c␟`). Merging pair
    * (a,b) is then a literal `replace(ws, ␟a␟␟b␟, ␟ab␟)` — and because a
    * match always ends exactly at a token boundary, string-level
    * left-to-right non-overlapping replacement is EXACTLY token-level BPE
    * merge semantics ([a,b,a,b] → [ab,ab]), which is what keeps the
    * k-round oracle total in plain SQL. */
  private def bpeRoundsCteSql(k: Int): String = {
    val S = BpeSep
    val rounds = (1 to k).map { j =>
      s"""p$j AS (
  SELECT toks[i] AS a, toks[i + 1] AS b, sum(freq) AS cnt FROM (
    SELECT string_split(substr(ws, 2, length(ws) - 2), '$S$S') AS toks, freq
    FROM ws${j - 1}) t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) x
  GROUP BY 1, 2
), m$j AS (
  SELECT $j AS it, a, b, cnt FROM p$j ORDER BY cnt DESC, a, b LIMIT 1
), ws$j AS (
  SELECT w, replace(ws, '$S' || m.a || '$S$S' || m.b || '$S',
                 '$S' || m.a || m.b || '$S') AS ws, freq
  FROM ws${j - 1} CROSS JOIN m$j m
)"""
    }.mkString(", ")
    s"""words AS (
  SELECT tok AS w, count(*) AS freq FROM (
    SELECT unnest(string_split(coalesce(text, ''), ' ')) AS tok FROM documents)
  WHERE length(tok) >= 2 AND NOT contains(tok, '$S') GROUP BY tok
), ws0 AS (
  SELECT w, regexp_replace(w, '(?s)(.)', '$S\\1$S', 'g') AS ws, freq FROM words
), $rounds"""
  }

  /** k-unrolled ANSI oracle for [[bpeMerges]] — the Lloyd-CTE discipline
    * applied to merge rounds: ws{j} derives from ws{j-1} by replacing the
    * round's top pair (m{j}, an ORDER BY/LIMIT 1 CTE), and the output is
    * the union of the k top-pair rows. */
  def bpeMergesSql(k: Int = 8): String = s"""
WITH ${bpeRoundsCteSql(k)}
SELECT CAST(it AS INTEGER) AS it, a, b, CAST(cnt AS BIGINT) AS cnt
FROM (${(1 to k).map(j => s"SELECT * FROM m$j").mkString(" UNION ALL ")})
ORDER BY it
""".trim

  /** BPE ENCODE — the trained tokenizer applied back to the corpus: per
    * document, the token count under the k-merge BPE (plus the raw
    * whitespace-token count for the compression-ratio signal). The
    * deployment-relevant output of tokenizer training: predicted token
    * budgets per document drive packing/costing at corpus scale. Trains
    * through [[bpeMergesOn]] (so it shares the [[BpeMaxVocab]] cap), then
    * encodes with [[bpeEncodeCountsWith]]. */
  def bpeEncodeCounts(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    bpeEncodeCountsOn(docs(spark, dir), k)

  def bpeEncodeCountsOn(documents: DataFrame, k: Int = 8): DataFrame =
    bpeEncodeCountsWith(documents,
      bpeTrain(documents, k, BpeMaxVocab).map(m => (m._2, m._3)))

  /** Per-word token count under a TRAINED merge list, applied by min-rank
    * iteration — the standard BPE encoder shape (GPT-2's): repeatedly
    * merge the lowest-rank adjacent pair present, left-to-right
    * non-overlapping. PROVABLY ≡ applying the merges sequentially (the
    * oracle's replace chain): a merge can only create pairs involving its
    * OWN output symbol, and any pair containing that symbol was learned
    * AFTER it existed — i.e. at a later rank — so no earlier-rank pair
    * ever (re)appears once passed. Cost per word is O(len²) hash lookups
    * INDEPENDENT of the merge count — what makes a 10k-merge tokenizer
    * encodable (SCALING.md r11: a replace chain is one Catalyst column per
    * merge, a plan explosion at 10k). */
  private def bpeEncodeWordTokens(w: String, merges: Array[(String, String)],
                                  rank: collection.Map[(String, String), Int]): Int = {
    var s = w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))
    var done = s.length < 2
    while (!done) {
      var best = Int.MaxValue
      var j = 0
      while (j + 1 < s.length) {
        rank.get((s(j), s(j + 1))).foreach(r => if (r < best) best = r)
        j += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val (a, b) = merges(best)
        val nb = scala.collection.mutable.ArrayBuffer.empty[String]
        j = 0
        while (j < s.length) { // left-to-right non-overlapping, all occurrences
          if (j + 1 < s.length && s(j) == a && s(j + 1) == b) { nb += a + b; j += 2 }
          else { nb += s(j); j += 1 }
        }
        s = nb.toArray
        done = s.length < 2
      }
    }
    s.length
  }

  /** [[bpeEncodeCounts]] with a caller-supplied merge list: each distinct
    * vocabulary word encodes once through [[bpeEncodeWordTokens]] (the
    * rank map ships in the task closure), then one explode + left join +
    * aggregate over the corpus. Whitespace tokens outside the vocabulary
    * (codepoint length < 2, or carrying the separator) count as ONE token
    * each — pinned in both engines. */
  def bpeEncodeCountsWith(documents: DataFrame,
                          merges: Seq[(String, String)]): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val mArr = merges.toArray
    val rank: Map[(String, String), Int] = mArr.zipWithIndex.toMap
    val words = documents
      .select(col("doc_id"),
        explode(split(coalesce(col("text"), lit("")), " ", -1)).as("w"))
    val encoded = bpeVocabulary(documents).select("w").as[String]
      .map(w => (w, bpeEncodeWordTokens(w, mArr, rank).toLong))
      .toDF("w", "n_tok")
    words.join(encoded, Seq("w"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("n_tok"), lit(1L))).as("n_bpe_tokens"),
        count(lit(1)).as("n_ws_tokens"))
      .orderBy("doc_id")
  }

  /** Oracle for [[bpeEncodeCounts]]: the shared merge-round CTEs (the
    * final wsK carries each vocabulary word's segmentation), separator
    * counting, LEFT join back to the corpus's whitespace tokens. */
  def bpeEncodeCountsSql(k: Int = 8): String = {
    val S = BpeSep
    s"""
WITH ${bpeRoundsCteSql(k)}, counts AS (
  SELECT w, (length(ws) - length(replace(ws, '$S$S', ''))) // 2 + 1 AS n_tok
  FROM ws$k
), toks AS (
  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS w FROM documents
)
SELECT doc_id,
  CAST(sum(coalesce(n_tok, 1)) AS BIGINT) AS n_bpe_tokens,
  CAST(count(*) AS BIGINT) AS n_ws_tokens
FROM toks LEFT JOIN counts USING (w)
GROUP BY doc_id ORDER BY doc_id
""".trim
  }

  /** Feature hashing (the hashing trick — Weinberger et al. 2009,
    * arXiv:0902.2206): token → md5-derived index in [0, dim), per-document
    * term frequency normalized by token count. The text→fixed-width-vector
    * step of a featurization pipeline with NO vocabulary state: no
    * dictionary build, no fit/transform split, no shuffle beyond the
    * (doc, feature) aggregation — which makes it embarrassingly
    * distributable and bit-reproducible across engines (the same 52-bit
    * md5 integer [[Sampling.temperatureSample]] flips, mod dim; tf is a
    * ratio of exact integers). Output is the sparse relational form
    * (doc_id, feat, tf) — the dense array is one `map_from_entries` away
    * but the sparse rows are what a 100 TB corpus shuffles. */
  def hashedFeatures(spark: SparkSession, dir: String, dim: Int = 64): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"),
        explode(split(coalesce(col("text"), lit("")), " ", -1)).as("tok"))
    val tot = toks.groupBy("doc_id").agg(count(lit(1)).as("n_tok"))
    val h52 = conv(substring(md5(col("tok")), 1, 13), 16, 10).cast("long")
    toks.withColumn("feat", (h52 % dim).cast("int"))
      .groupBy("doc_id", "feat").agg(count(lit(1)).as("c"))
      .join(tot, "doc_id")
      .select(col("doc_id"), col("feat"),
        round(col("c").cast("double") / col("n_tok"), 6).as("tf"))
      .orderBy("doc_id", "feat")
  }

  def hashedFeaturesSql(dim: Int = 64): String = s"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
  FROM documents
), tot AS (
  SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id
), hashed AS (
  SELECT doc_id,
    CAST(CAST(list_sum(list_transform(generate_series(1, 13),
      i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
           * (1::BIGINT << (4 * (13 - i))))) AS BIGINT) % $dim AS INTEGER) AS feat
  FROM toks
), tf AS (
  SELECT doc_id, feat, count(*) AS c FROM hashed GROUP BY doc_id, feat
)
SELECT t.doc_id, t.feat, round(CAST(t.c AS DOUBLE) / o.n_tok, 6) AS tf
FROM tf t JOIN tot o USING (doc_id)
ORDER BY t.doc_id, t.feat
""".trim
}
