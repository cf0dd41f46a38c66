package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling — the subset-selection step of a
  * training-data pipeline (per-language balancing, eval holdouts,
  * ablation slices). `sample()`-style random draws are useless there:
  * the selection must be REPRODUCIBLE across runs, engines, and
  * partitionings, so the "randomness" is a content hash.
  *
  * Stratified quota sampling: rank documents inside each stratum by
  * `md5(doc_id)` — a uniform, engine-portable pseudo-random key — and
  * keep the first `quota` per stratum. Scale shape: one shuffle on the
  * stratum key; the rank window never sees more than one stratum's rows,
  * and quota cutoffs stream (no full-stratum materialization beyond the
  * window sort). A skewed stratum sorts more rows but emits `quota` —
  * the output is bounded by design.
  */
object Sampling {

  /** Deterministic per-language quota sample over the documents corpus. */
  def stratifiedSample(spark: SparkSession, dir: String, quota: Int = 50): DataFrame = {
    val rankWin = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"))
      .withColumn("sample_rank", row_number().over(rankWin).cast("long"))
      .filter(col("sample_rank") <= quota)
      .orderBy("lang", "sample_rank")
  }

  def stratifiedSampleSql(quota: Int = 50): String = s"""
WITH ranked AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
  FROM documents
)
SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= $quota
ORDER BY lang, sample_rank
""".trim

  /** Temperature-smoothed mixture sampling — the domain/language
    * re-weighting step of a multilingual/multi-domain training mix
    * (α-smoothing as in Lample & Conneau 2019, arXiv:1901.07291 §3.1):
    * high-resource strata are down-sampled relative to their share so the
    * mix follows p_s^α instead of p_s. With acceptance probability
    * a_s = min(1, k/√n_s), the expected take per stratum is
    * min(n_s, k·√n_s) ∝ √n_s — exactly the α = 0.5 mixture, and the ONLY
    * α whose `pow` is IEEE-correctly-rounded everywhere (`sqrt`), which
    * is what lets an independent engine reproduce the accept/reject
    * boundary bit-for-bit. `k` sets the global take; callers wanting a
    * target row count T pick k = T / Σ_s √n_s driver-side.
    *
    * The per-document coin is the usual engine-portable hash uniform:
    * the first 52 bits of md5(doc_id) as a double in [0,1) — 52 bits so
    * the integer→double conversion is exact. Deterministic across runs,
    * engines, and partitionings; selection needs one tiny broadcast join
    * (distinct strata counts), no shuffle of the corpus itself. */
  def temperatureSample(spark: SparkSession, dir: String, k: Double = 4.0): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("lang"))
    val counts = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
      .cast("double") / lit(4503599627370496.0)) // 2^52 — exact division
    val accept = least(lit(1.0), lit(k) / sqrt(col("n_lang")))
    d.join(broadcast(counts), "lang")
      .withColumn("u", u)
      .withColumn("a", accept)
      .select(col("doc_id"), col("lang"), round(col("u"), 6).as("u"),
        round(col("a"), 6).as("accept_prob"),
        (col("u") < col("a")).as("kept"))
      .orderBy("doc_id")
  }

  def temperatureSampleSql(k: Double = 4.0): String = s"""
WITH counts AS (
  SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
), uu AS (
  SELECT doc_id, lang,
    CAST(list_sum(list_transform(generate_series(1, 13),
      i -> (strpos('0123456789abcdef',
              substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
           * (1::BIGINT << (4 * (13 - i))))) AS DOUBLE)
    / 4503599627370496.0 AS u
  FROM documents
)
SELECT d.doc_id, d.lang, round(d.u, 6) AS u,
  round(least(1.0, $k / sqrt(c.n_lang)), 6) AS accept_prob,
  d.u < least(1.0, $k / sqrt(c.n_lang)) AS kept
FROM uu d JOIN counts c USING (lang)
ORDER BY d.doc_id
""".trim

  /** The composed curation pipeline — the end-to-end flow a training-data
    * run actually executes, as ONE declarative plan Catalyst optimizes
    * whole: exact dedup (keep min doc_id per canonical fingerprint) →
    * quality gate (≥ `minWords` words) → language ID → deterministic
    * per-language quota sample. Each stage is the same operator the
    * stand-alone queries oracle individually; this query oracles their
    * COMPOSITION (stage boundary semantics: what dedup feeds the filter,
    * what the filter feeds the classifier, how ranks are assigned after
    * all upstream pruning). */
  def curationPipeline(spark: SparkSession, dir: String, minWords: Int = 30,
                       quota: Int = 100): DataFrame = {
    val fp = Dedup.canonicalFp(col("text"))
    val dedupWin = Window.partitionBy("fp").orderBy("doc_id")
    val best = TextAnalysis.predictedLang(col("text"))
    val rankWin = Window.partitionBy("predicted_lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("fp", fp)
      .withColumn("rn", row_number().over(dedupWin))
      .filter(col("rn") === 1)
      .withColumn("n_words", size(split(col("text"), " ")))
      .filter(col("n_words") >= minWords)
      .withColumn("predicted_lang", best._1)
      .withColumn("sample_rank", row_number().over(rankWin).cast("long"))
      .filter(col("sample_rank") <= quota)
      .select("doc_id", "predicted_lang", "n_words", "sample_rank")
      .orderBy("predicted_lang", "sample_rank")
  }

  /** The LEARNED curation pipeline — [[curationPipeline]] v2, composing
    * the round-10 learned gates into the one declarative flow a CCNet /
    * GPT-3-style run actually executes (Wenzek 2020 + Brown 2020
    * appendix A): exact dedup → trained-classifier gate → LM-perplexity
    * band → language ID → per-language quota.
    *
    *  - CLASSIFIER GATE: the NB model ([[QualityClassifier.train]], fit
    *    on the deduped corpus's source labels) scores every survivor;
    *    the gate keeps scores ≥ the corpus MEDIAN — the calibrated
    *    corpus-relative threshold the GPT-3 recipe uses in place of a
    *    fixed constant. The threshold is ONE scalar computed by a
    *    percentile aggregate and broadcast — never a global window (a
    *    single-partition row_number over 100 TB is a scale-killer; an
    *    aggregate + broadcast filter is two narrow passes).
    *  - LM BAND: CCNet's head/middle/tail terciles under a bigram LM
    *    trained on the REFERENCE corpus (the positive sources — the
    *    wiki-vs-crawl split stated on the data we have); the tail
    *    (worst-perplexity third) is dropped. Same scalar-threshold
    *    discipline (ppl ≤ the 2/3 quantile). Documents with no bigrams
    *    cannot be banded and are dropped (stated degradation).
    *  - THRESHOLD HONESTY AT SCALE: `percentile(...)` here is Spark's
    *    EXACT interpolated percentile — its aggregation buffer holds the
    *    distinct-value histogram, which is what makes it hash-oracle-able
    *    against DuckDB's `quantile_cont` but also memory-unbounded on a
    *    100 TB score column. The deployment substitution is
    *    `approx_percentile` (bounded sketch, same scalar-broadcast plan
    *    shape) or a fixed threshold calibrated offline — CCNet itself
    *    calibrates on a sample. The COMPOSITION contract this operator
    *    oracles is unchanged by that swap.
    *  - Thresholds compare ROUNDED values on both sides (scores round-6,
    *    ppl round-3, the quantile itself round-6): rounded inputs are
    *    ≥1e-3/1e-6 apart, so the rounded quantile can never be pulled
    *    onto a data value it wasn't already equal to — no ulp flip
    *    between engines.
    *
    * At 100 TB each stage boundary would be materialized to parquet
    * rather than recomputed by the optimizer's shared-subtree choices;
    * the one-plan form here is the composition CONTRACT the oracle pins. */
  def curationLearned(spark: SparkSession, dir: String, quota: Int = 100,
                      dim: Int = QualityClassifier.DefaultDim): DataFrame =
    learnedTail(spark,
      exactDedupOn(spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "source", "text")), quota, dim)

  /** Keep the smallest doc_id per canonical fingerprint — the pipelines'
    * shared exact-dedup stage over a (doc_id, source, text) relation. */
  private[graft] def exactDedupOn(df: DataFrame): DataFrame = {
    val dedupWin = Window.partitionBy("fp").orderBy("doc_id")
    df
      .withColumn("fp", Dedup.canonicalFp(col("text")))
      .withColumn("rn", row_number().over(dedupWin))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("source"), col("text"))
  }

  /** The learned tail shared by [[curationLearned]] and
    * [[curationRules]]: classifier gate → LM band → langid → quota over
    * an already-deduplicated (doc_id, source, text) relation.
    *
    * The input is MATERIALIZED (stats-honest local checkpoint) before the
    * tail consumes it: Spark re-evaluates a referenced subtree per
    * reference (the same re-inlining economics the r12 DuckDB
    * MATERIALIZED fix addressed on the oracle side), and this tail
    * references `deduped` five ways (NB training, score join, reference
    * corpus, and transitively the gated chain) — for [[curationRules]]
    * that meant re-running the regex-heavy C4+Gopher prefix per
    * reference. Measured: q_curation_rules 16–18 → ~5 s at sf0.1.
    * Downstream joins that need size stats use explicit `broadcast()`
    * already, and the shim keeps stats honest for the rest. */
  private def learnedTail(spark: SparkSession, dedupedIn: DataFrame, quota: Int,
                          dim: Int): DataFrame = {
    val deduped = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(dedupedIn)
    val labeled = deduped.select(col("doc_id"),
      col("source").isin(QualityClassifier.PositiveSources: _*).as("label"),
      col("text"))
    val (model, totals) = QualityClassifier.train(spark, labeled, dim)
    // scored is referenced by the tauC aggregate AND (via the gated chain)
    // by every downstream stage — without a barrier each reference re-runs
    // the NB feature-hash scoring pass (r14 opt: the q_curation_learned
    // plan held 184 Exchanges of re-inlined subtrees; same economics as
    // the deduped checkpoint above, one stage later)
    val scored = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(deduped.join(
        QualityClassifier.scoreDocs(deduped.select("doc_id", "text"), model, totals, dim)
          .select("doc_id", "score"), "doc_id"))
    val tauC = scored.agg(round(expr("percentile(score, 0.5)"), 6).as("tau_c"))
    val ref = deduped.filter(col("source").isin(QualityClassifier.PositiveSources: _*))
      .select("doc_id", "text")
    gateBandQuota(scored, tauC,
      d => LanguageModel.scoreOn(d, ref),
      wp => wp.agg(round(expr("percentile(ppl, 2.0/3)"), 6).as("tau_p")),
      quota)
  }

  /** The gate → band → langid → quota tail, ONE definition shared by
    * [[learnedTail]] (thresholds computed in-plan) and [[serveCuration]]
    * (thresholds loaded from the calibration table) — the oracle pins
    * `q_curation_served` row-identical to `q_curation_learned`, and a
    * tail change applied to one copy would silently break that identity.
    * `pplOf` scores a (doc_id, text) relation under whichever LM form the
    * caller holds; `tauPOf` maps the banded-input relation to its one-row
    * tau_p frame (computed for learned, ignored-input/loaded for served). */
  private def gateBandQuota(scored: DataFrame, tauC: DataFrame,
                            pplOf: DataFrame => DataFrame,
                            tauPOf: DataFrame => DataFrame,
                            quota: Int,
                            track: DataFrame => Unit = _ => ()): DataFrame = {
    val gated = scored.crossJoin(broadcast(tauC)).filter(col("score") >= col("tau_c"))
    // withPpl is referenced by the tauP aggregate AND the banded chain; for
    // the learned path pplOf additionally TRAINS the reference bigram LM
    // in-plan, so each re-inlined reference re-ran training + scoring.
    // Barrier it once (r14 opt — results identical, materialization only;
    // callers pass `scored` already checkpointed for the same reason).
    // `track` hands the internal checkpoint to callers that free their
    // intermediates after materializing (ADVICE r14: the serve hot path
    // grew block-manager storage per batch with nothing able to free it).
    val withPpl = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(
        gated.join(pplOf(gated.select("doc_id", "text")), "doc_id")
          .filter(col("n_bigrams") > 0))
    track(withPpl)
    val tauP = tauPOf(withPpl)
    val banded = withPpl.crossJoin(broadcast(tauP)).filter(col("ppl") <= col("tau_p"))
    val rankWin = Window.partitionBy("predicted_lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    banded
      .withColumn("predicted_lang", TextAnalysis.predictedLang(col("text"))._1)
      .withColumn("sample_rank", row_number().over(rankWin).cast("long"))
      .filter(col("sample_rank") <= quota)
      .select("doc_id", "predicted_lang", "score", "ppl", "sample_rank")
      .orderBy("predicted_lang", "sample_rank")
  }

  /** Curation v3 — the FULL published pre-training recipe in one
    * declarative plan: rule gates first (C4 line cleaning, Raffel 2020,
    * then the Gopher quality verdict, Rae 2021, applied to the line-
    * CLEANED text — cleaning TRANSFORMS the document, it doesn't just
    * filter), then the v2 learned flow (exact dedup → trained-classifier
    * median gate → CCNet perplexity band → langid → per-language quota)
    * over the cleaned survivors. Every learned stage downstream of the
    * rules consumes `clean_text`, so dedup fingerprints, classifier
    * features, LM bigrams, and language ID all see the page the rules
    * produced — the composition a real curation run executes.
    *
    * Same corpus caveat as [[TextAnalysis.c4Clean]]: the word-soup docs
    * need structure for the rules to discriminate, so the query builds
    * the deterministic synthetic page (plus the %3 stop-word trigger
    * line, which passes the C4 line rules by construction and is what
    * lets any doc clear Gopher's ≥2-stop-hits bar — the corpus
    * vocabulary carries only "the"). Deployment composes
    * [[TextAnalysis.c4CleanOn]] → [[TextAnalysis.gopherQualityOn]] →
    * [[curationLearned]]'s stages on real text.
    *
    * Scale shape: the rule gates are narrow per-row projections ahead of
    * the v2 plan, so they REDUCE every downstream stage's input (the
    * whole point of running cheap rules first at 100 TB); thresholds
    * stay scalar aggregates broadcast back, never global windows. */
  def curationRules(spark: SparkSession, dir: String, quota: Int = 100,
                    dim: Int = QualityClassifier.DefaultDim): DataFrame =
    learnedTail(spark, exactDedupOn(ruleGates(
      spark.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "source", "text"))), quota, dim)

  /** Curation v4 variant — rule gates → exact dedup → DSIR importance
    * RESAMPLING ([[Dsir]], Xie 2023) in place of the threshold-gate
    * tail: where [[curationRules]] gates on a classifier median and a
    * perplexity band (drop everything below the bar), the DSIR tail
    * SAMPLES k documents in proportion to exp(log-importance), keeping
    * tail diversity — the published trade between the two recipes. The
    * DSIR model is fitted on the rule-gate SURVIVORS (target = curated
    * sources among survivors), so selection pressure reflects the
    * post-rules distribution a deployment would actually resample.
    *
    * Scale shape: narrow rule gates cut the corpus before the one
    * fingerprint-partition dedup shuffle; the DSIR tail adds ZERO
    * further shuffles (dim-bounded fit aggregate + in-row weight fold +
    * TakeOrderedAndProject). */
  def curationDsir(spark: SparkSession, dir: String, k: Int = 50,
                   dim: Int = Dsir.DefaultDim): DataFrame = {
    // materialized for the same multi-reference economics as learnedTail
    // (the DSIR fit + weighting + selection each re-reference the prefix)
    val deduped = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(exactDedupOn(ruleGates(
        spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "source", "text"))))
    Dsir.selectOn(spark, deduped, k, dim)
  }

  def calibTable(tag: String): String = s"${tag}_curcal"

  /** BUILD phase of the persisted-model curation deployment: train the NB
    * classifier and the reference bigram LM on `deduped` (the same
    * relations [[curationLearned]] trains in-query), persist both as
    * catalog tables, then CALIBRATE the two thresholds — classifier
    * median and perplexity 2/3-quantile — by scoring the training corpus
    * THROUGH THE PERSISTED TABLES (so serving's arithmetic path is the
    * one being calibrated) and persist them as a third table. Runs once
    * per model generation; [[serveCuration]] is the per-batch side.
    *
    * The thresholds are each ONE scalar (a percentile aggregate
    * collected driver-side — model-sized by construction); CCNet itself
    * calibrates on a sample, and the exact `percentile` here carries the
    * same deployment substitution note as [[curationLearned]]. */
  def buildCurationModels(spark: SparkSession, deduped: DataFrame,
                          tag: String, dim: Int = QualityClassifier.DefaultDim): Unit = {
    val labeled = deduped.select(col("doc_id"),
      col("source").isin(QualityClassifier.PositiveSources: _*).as("label"),
      col("text"))
    val ref = deduped.filter(col("source").isin(QualityClassifier.PositiveSources: _*))
      .select("doc_id", "text")
    // The NB branch (train jobs + persist) and the LM branch (the
    // aggregate evaluation happens inside persist's write) are
    // INDEPENDENT — overlap them (guide §2.6; the Pq.train discipline).
    // Both persists serialize on the same tag lease, but each branch's
    // TRAINING jobs overlap the other's persist, which is where the time
    // was (probe: NB train 1.05 s + NB persist 1.31 s + LM persist
    // 0.88 s sequential). Futures settle before anything proceeds.
    locally {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      import scala.util.Try
      val nbF = Future {
        val (model, totals) = QualityClassifier.train(spark, labeled, dim)
        QualityClassifier.persist(spark, tag, model, totals, dim)
      }
      val lmF = Future {
        val (c12, c1, v) = LanguageModel.trainOn(ref)
        LanguageModel.persist(spark, tag, c12, c1, v)
      }
      Seq(nbF, lmF).map(f => Await.result(f.transform(Try(_)), Duration.Inf))
        .foreach(_.get)
    }
    // calibrate through the persisted tables (serving's exact path)
    val (lm, lp, ldim) = QualityClassifier.load(spark, tag)
    val (sc12, sc1, sv) = LanguageModel.load(spark, tag)
    // referenced by the tauC collect AND the tauP chain — barrier so the
    // persisted-table NB scoring runs once per calibration, not per
    // threshold (r14 opt)
    val scored = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(deduped.join(
        QualityClassifier.scoreDocs(deduped.select("doc_id", "text"), lm, lp, ldim)
          .select("doc_id", "score"), "doc_id"))
    val tauC = scored.agg(round(expr("percentile(score, 0.5)"), 6))
      .collect()(0).getDouble(0)
    val gated = scored.filter(col("score") >= tauC)
    val withPpl = gated.join(
      LanguageModel.scoreWith(gated.select("doc_id", "text"), sc12, sc1, sv), "doc_id")
      .filter(col("n_bigrams") > 0)
    val tauP = withPpl.agg(round(expr("percentile(ppl, 2.0/3)"), 6))
      .collect()(0).getDouble(0)
    // calibration is done with the scored barrier — free it before the
    // (cheap) calib write so a build leaves no block-manager residue
    // (the serveCuration cleanup discipline, ADVICE r14)
    org.apache.spark.sql.graft.CheckpointShim.freeCheckpoint(scored)
    LeaseLock.withTableLock(spark, tag) {
      import spark.implicits._
      WarehouseTables.writeManaged(spark, calibTable(tag))(
        Seq(("tau_c", tauC), ("tau_p", tauP)).toDF("kind", "value"))(
        _.write.mode("overwrite").saveAsTable(calibTable(tag)))
    }
  }

  /** SERVE phase: curate ONE BATCH from the persisted tables alone — no
    * training, no threshold aggregation, no reference-corpus scan. Per
    * batch this is: NB scoring against the broadcast llr table, the
    * stored tau_c gate, LM perplexity against the stored bigram counts,
    * the stored tau_p band, langid, per-language quota — the
    * build-once/score-per-batch shape a 100 TB deployment actually runs
    * ([[curationLearned]] is its self-contained-oracle twin, which must
    * train in-query and is therefore dominated by training cost; the
    * SCALING r12 rows quantify the decoupling). */
  def serveCuration(spark: SparkSession, batch: DataFrame, tag: String,
                    quota: Int = 100): DataFrame = {
    val (model, prior, dim) = QualityClassifier.load(spark, tag)
    val (c12, c1, v) = LanguageModel.load(spark, tag)
    // ONE driver-side collect of the (two-row, model-sized) calibration
    // table validates both thresholds — torn-calib loudness (the
    // LanguageModel.load discipline: a missing tau row would otherwise
    // cross-join a ZERO-row frame and silently curate the batch to
    // nothing; a duplicated one would double every row ahead of the quota
    // window) without launching an eager count job per threshold on the
    // per-batch hot path
    val cal = spark.table(calibTable(tag)).collect()
      .groupBy(_.getString(0))
    def tau(kind: String, as: String): DataFrame = {
      val rows = cal.getOrElse(kind, Array.empty)
      require(rows.length == 1,
        s"${calibTable(tag)}: expected exactly one $kind row — torn calibration table")
      spark.range(1).select(lit(rows(0).getDouble(1)).as(as))
    }
    val tauP = tau("tau_p", "tau_p")
    // same multi-reference economics as learnedTail's scored checkpoint:
    // the gated chain references this twice (join left side + LM-scoring
    // input), and without a barrier each reference re-runs the NB scoring
    // of the whole batch (r14 opt)
    val scored = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(batch.join(
        QualityClassifier.scoreDocs(batch.select("doc_id", "text"), model, prior, dim)
          .select("doc_id", "score"), "doc_id"))
    val intermediates = scala.collection.mutable.ArrayBuffer[DataFrame](scored)
    val res = gateBandQuota(scored, tau("tau_c", "tau_c"),
      d => LanguageModel.scoreWith(d, c12, c1, v),
      _ => tauP,
      quota, intermediates += _)
    // Materialize the (quota-bounded) result and FREE the per-batch
    // intermediates before returning (ADVICE r14): this is the per-batch
    // hot path of a long-running deployment, and the scored/withPpl
    // checkpoints above were otherwise never unpersisted — block-manager
    // storage grew without bound across batches. The returned relation is
    // a self-contained LogicalRDD (it also no longer reads the model
    // tables, which lets [[curationServed]] drop them without a second
    // freeze). Same try/finally discipline as [[Pq.train]].
    val out = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(res)
    intermediates.foreach(org.apache.spark.sql.graft.CheckpointShim.freeCheckpoint)
    out
  }

  /** The oracled end-to-end form of the persisted-model deployment:
    * build the models from the deduped corpus, serve the SAME corpus as
    * the batch — which makes the result identical to [[curationLearned]]
    * by construction (same training relations, same thresholds, same
    * gates; the only difference is that every model crosses a catalog
    * table on the way). Oracled by the LITERAL [[curationLearnedSql]] —
    * the `q_dedup_indexed` discipline: stored path pinned to the
    * recompute path's exact SQL.
    *
    * Idempotence: a read-only oracle query must not leave warehouse
    * state (ADVICE r11 on q_bloom_relational), so the quota-bounded
    * result is materialized and the three model tables are dropped
    * before returning. Deployments call [[buildCurationModels]] /
    * [[serveCuration]] directly and keep the tables. */
  def curationServed(spark: SparkSession, dir: String, quota: Int = 100,
                     dim: Int = QualityClassifier.DefaultDim): DataFrame = {
    val tag = s"qcurserved_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
    // materialized: build (train ×2 models + calibrate) and serve both
    // re-reference the dedup prefix repeatedly
    val deduped = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(
        exactDedupOn(spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "source", "text")))
    buildCurationModels(spark, deduped, tag, dim)
    // serveCuration now returns an already-materialized LogicalRDD (it
    // freezes its result to free its per-batch intermediates — ADVICE
    // r14), so the relation no longer reads the model tables we drop
    // below and needs no second freeze here. Zero collect() of row data
    // (r12 verdict task 4 normalized the old collect/parallelize
    // round-trip).
    val frozen = serveCuration(spark, deduped, tag, quota)
    Seq(QualityClassifier.modelTable(tag), LanguageModel.modelTable(tag),
      calibTable(tag)).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    org.apache.spark.sql.graft.CheckpointShim.freeCheckpoint(deduped)
    frozen
  }

  /** The v3 rule-gate prefix over a (doc_id, source, text) relation —
    * ONE definition shared by [[curationRules]], the scale probe, and
    * the funnel spec, so a change here cannot de-sync what SCALING.md
    * measures from what ships: synthetic page + %3 stop trigger →
    * C4 clean (downstream consumes clean_text) → Gopher verdict.
    *
    * The C4-survivor boundary is MATERIALIZED (round 13; profiled by
    * RulesProfile at 5M docs, a probe last in commit 7edabe5): C4's line
    * pipeline is built from higher-order-function lambdas, which get NO
    * common-subexpression elimination — the keep predicate and the clean_text
    * projection each re-ran the whole lambda chain (19.4 s of clean → 48.6 s
    * once filtered+projected), and Gopher's metric columns re-ran it again
    * (→ 104–111 s). Checkpointing the ~8% survivors runs C4 exactly once
    * and Gopher reads stored rows — the Spark twin of the r12
    * `q_curation_rules` learnedTail fix, one stage earlier. Semantics
    * unchanged (materialization barrier); every rules-path oracle stays
    * hash-exact. */
  private[graft] def ruleGates(docs: DataFrame): DataFrame = {
    val paged = docs
      .withColumn("__page", concat(TextAnalysis.c4SyntheticPage,
        when(col("doc_id") % 3 === 0,
          lit("\nand that have with of to be the.")).otherwise(lit(""))))
    val afterC4 = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(TextAnalysis.c4CleanOn(paged, col("__page"))
        .filter(col("kept"))
        .select(col("doc_id"), col("source"), col("clean_text").as("text")))
    TextAnalysis.gopherQualityOn(afterC4, col("text"))
      .filter(col("kept"))
      .select("doc_id", "source", "text")
  }

  def curationPipelineSql(minWords: Int = 30, quota: Int = 100): String = s"""
WITH deduped AS (
  SELECT doc_id, text,
    row_number() OVER (
      PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      ORDER BY doc_id) AS rn
  FROM documents
), kept AS (
  SELECT doc_id, text, CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words
  FROM deduped
  WHERE rn = 1 AND len(string_split(text, ' ')) >= $minWords
), scored AS (
  SELECT doc_id, n_words, ${TextAnalysis.langScoreColsSql}
  FROM kept
), labeled AS (
  SELECT doc_id, n_words, ${TextAnalysis.predictedLangCaseSql} AS predicted_lang
  FROM scored
), ranked AS (
  SELECT doc_id, predicted_lang, n_words,
    row_number() OVER (PARTITION BY predicted_lang
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
  FROM labeled
)
SELECT doc_id, predicted_lang, n_words, CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= $quota
ORDER BY predicted_lang, sample_rank
""".trim

  /** DuckDB mirror of [[curationLearned]]: the dedup CTE, the NB training
    * chain (the [[QualityClassifier.querySql]] CTEs over the deduped
    * corpus), the median gate, the reference-trained bigram LM with
    * left-join Laplace smoothing ([[LanguageModel.scoreOn]]'s disjoint
    * form), the 2/3-quantile band, then langid + quota. */
  /** The shared exact-dedup CTE (`dd`) over a (doc_id, source, text)
    * relation — ONE definition for [[curationLearnedSql]] and
    * [[curationDsirSql]] (the shared-rule-definitions discipline). */
  private[graft] def dedupCteSql(rel: String): String = s"""dd AS (
  SELECT doc_id, source, text FROM (
    SELECT doc_id, source, text,
      row_number() OVER (
        PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        ORDER BY doc_id) AS rn
    FROM $rel) t WHERE rn = 1
)"""

  def curationLearnedSql(quota: Int = 100,
                         dim: Int = QualityClassifier.DefaultDim,
                         prefixCtes: String = "",
                         rel: String = "documents"): String = {
    val pos = QualityClassifier.PositiveSources.map(s => s"'$s'").mkString(", ")
    s"""
WITH ${prefixCtes}${dedupCteSql(rel)}, d AS (
  SELECT doc_id, (source IN ($pos)) AS label, coalesce(text, '') AS text FROM dd
), toks AS (
  SELECT doc_id, label, unnest(string_split(text, ' ')) AS tok FROM d
), hashed AS (
  SELECT doc_id, label,
    CAST(CAST(list_sum(list_transform(generate_series(1, 13),
      i -> (strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)
           * (1::BIGINT << (4 * (13 - i))))) AS BIGINT) % $dim AS INTEGER) AS feat
  FROM toks
), tok_tot AS (
  SELECT sum(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos_tok,
         sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS n_neg_tok
  FROM hashed
), doc_tot AS (
  SELECT sum(CASE WHEN label THEN 1 ELSE 0 END) AS d_pos,
         sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS d_neg
  FROM d
), cnt AS (
  SELECT feat, sum(CASE WHEN label THEN 1 ELSE 0 END) AS c_pos,
               sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS c_neg
  FROM hashed GROUP BY feat
), nbmodel AS (
  SELECT f.feat,
    ln((coalesce(c.c_pos, 0) + 1)::DOUBLE / (t.n_pos_tok + $dim))
      - ln((coalesce(c.c_neg, 0) + 1)::DOUBLE / (t.n_neg_tok + $dim)) AS llr
  FROM (SELECT unnest(generate_series(0, $dim - 1)) AS feat) f
  LEFT JOIN cnt c USING (feat), tok_tot t
), doc_feat AS (
  SELECT doc_id, feat, count(*) AS c FROM hashed GROUP BY 1, 2
), cls AS (
  SELECT doc_id,
    round(sum(c::DOUBLE * llr) + ln(d_pos::DOUBLE / d_neg), 6) AS score
  FROM doc_feat JOIN nbmodel USING (feat), doc_tot
  GROUP BY doc_id, d_pos, d_neg
), tau_c AS (
  SELECT round(quantile_cont(score, 0.5), 6) AS tau_c FROM cls
), gated AS (
  SELECT dd.doc_id, dd.source, dd.text, cls.score
  FROM dd JOIN cls USING (doc_id), tau_c
  WHERE cls.score >= tau_c.tau_c
), ref_docs AS (
  SELECT doc_id,
    list_filter(string_split(lower(coalesce(text, '')), ' '), t -> len(t) > 0) AS toks
  FROM dd WHERE source IN ($pos)
), ref_tok AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i FROM ref_docs
), ref_bi AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM ref_tok a JOIN ref_tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
), c12 AS (
  SELECT w1, w2, count(*) AS c12 FROM ref_bi GROUP BY w1, w2
), c1 AS (
  SELECT w1, count(*) AS c1 FROM ref_bi GROUP BY w1
), v AS (
  SELECT count(DISTINCT w) AS vs FROM ref_tok
), g_docs AS (
  SELECT doc_id,
    list_filter(string_split(lower(coalesce(text, '')), ' '), t -> len(t) > 0) AS toks
  FROM gated
), g_tok AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i FROM g_docs
), g_bi AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM g_tok a JOIN g_tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1
), lm AS (
  SELECT bi.doc_id,
    ln((coalesce(c12.c12, 0) + 1.0) / (coalesce(c1.c1, 0) + v.vs)) AS lnp
  FROM g_bi bi LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v
), ppl AS (
  SELECT doc_id, count(*) AS n_bigrams, round(exp(-avg(lnp)), 3) AS ppl
  FROM lm GROUP BY doc_id
), tau_p AS (
  SELECT round(quantile_cont(ppl, 2.0/3), 6) AS tau_p
  FROM ppl WHERE n_bigrams > 0
), banded AS (
  SELECT g.doc_id, g.text, g.score, p.ppl
  FROM gated g JOIN ppl p USING (doc_id), tau_p
  WHERE p.n_bigrams > 0 AND p.ppl <= tau_p.tau_p
), lang_scored AS (
  SELECT doc_id, score, ppl, ${TextAnalysis.langScoreColsSql}
  FROM banded
), lang_labeled AS (
  SELECT doc_id, score, ppl, ${TextAnalysis.predictedLangCaseSql} AS predicted_lang
  FROM lang_scored
), ranked AS (
  SELECT doc_id, predicted_lang, score, ppl,
    row_number() OVER (PARTITION BY predicted_lang
      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
  FROM lang_labeled
)
SELECT doc_id, predicted_lang, score, ppl, CAST(sample_rank AS BIGINT) AS sample_rank
FROM ranked WHERE sample_rank <= $quota
ORDER BY predicted_lang, sample_rank
""".trim
  }

  /** DuckDB mirror of [[curationRules]]: the synthetic page + C4 +
    * Gopher rule CTEs (the exact expressions of
    * [[TextAnalysis.c4CleanSql]] / [[TextAnalysis.gopherQualitySql]],
    * verdicts on unrounded ratios) feeding [[curationLearnedSql]]'s
    * chain retargeted at the cleaned survivors. */
  def curationRulesSql(quota: Int = 100,
                       dim: Int = QualityClassifier.DefaultDim): String = {
    // assembled from the SAME shared constants as q_c4_clean /
    // q_gopher_quality (TextAnalysis.c4PageSqlExpr / c4KeptLinesSql /
    // gopherArraysSql / gopherMetricSqlCols / gopherVerdictSql) — the
    // rule expressions cannot de-sync between the standalone oracles
    // and this composed one
    curationLearnedSql(quota, dim, rulesPrefixSql, "rules")
  }

  /** The v3 rule-gate CTE chain (pages → c4 → c4kept → gw → gm → rules),
    * ending with a trailing comma — shared by [[curationRulesSql]] and
    * [[curationDsirSql]] so the rule expressions cannot de-sync between
    * the two composed oracles. */
  private[graft] def rulesPrefixSql: String = s"""pages AS (
  SELECT doc_id, source,
    ${TextAnalysis.c4PageSqlExpr}
    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'and that have with of to be the.' ELSE '' END
    AS page
  FROM documents
), c4 AS (
  SELECT doc_id, source, page,
    array_to_string(${TextAnalysis.c4KeptLinesSql("page")}, chr(10)) AS text
  FROM pages
), c4kept AS (
  SELECT doc_id, source, text FROM c4
  WHERE len(regexp_extract_all(text, '[.!?]+')) >= 5
    AND NOT lower(page) LIKE '%lorem ipsum%'
    AND NOT contains(page, '{')
), gw AS (
  ${TextAnalysis.gopherArraysSql("c4kept", "doc_id, source, text")}
), gm AS (
  SELECT doc_id, source, text,
    ${TextAnalysis.gopherMetricSqlCols}
  FROM gw
), rules AS MATERIALIZED (
  -- MATERIALIZED (r12 oracle-cost discipline): the learned-gate chain
  -- downstream references `rules` once per NB class/feature relation, and
  -- DuckDB's default inlining re-ran this whole regex-heavy C4+Gopher
  -- prefix per reference — measured 16.5 s → 0.2 s at sf0.01, identical
  -- results (the hint changes evaluation, never semantics)
  SELECT doc_id, source, text FROM gm
  WHERE ${TextAnalysis.gopherVerdictSql}
),
"""

  /** DuckDB mirror of [[curationDsir]]: the shared rule CTEs + the
    * shared dedup CTE feeding [[Dsir.selectSql]]'s chain retargeted at
    * the deduplicated survivors. */
  def curationDsirSql(k: Int = 50, dim: Int = Dsir.DefaultDim): String =
    Dsir.selectSql(k, dim, rulesPrefixSql + dedupCteSql("rules") + ",\n", "dd")
}
