package graft.perfbench

import graft.operators.{Dedup, Layout, Packing, Sampling, Sharding, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** corpus_curation: one curation pass per call over a seeded corpus with
  * planted rule failures and exact / near duplicates:
  *   1. rule gates (`TextAnalysis.c4CleanOn` → `gopherQualityOn`);
  *   2. exact dedup (`Dedup.exact` on the canonical fingerprint);
  *   3. `Sampling.buildCurationModels` (NB + LM train, publish as tables,
  *      calibrate);
  *   4. `Sampling.serveCuration`;
  *   5. BPE train + encode through `TextAnalysis.bpeEncodeCounts` (the
  *      entry point behind q_bpe_encode);
  *   6. `Packing.packSequences` and `Sharding.shardManifest`.
  * Each stage's output is a parquet table the next stage reads.
  *
  * Why: job-heavy and shuffle-heavy with catalog writes — model training
  * and publish, the BPE path, and the C4 / Gopher line kernels of
  * `functions` rather than the invoice kernels. */
final class CorpusCuration(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark.implicits._

  private val Docs = 5000
  private val Quota = 60
  private val Tag = "perfbench_cur"
  private val corpus = Inputs.curationCorpus(ctx.seed, Docs)
  private def dir(stage: String) = ctx.path(s"curation/$stage")
  private def table(stage: String) = s"${dir(stage)}/documents.parquet"

  def inputs: Seq[(String, String)] = Seq(
    "docs" -> Docs.toString,
    "rule_pass_share" -> f"${corpus.goodCount.toDouble / Docs}%.3f",
    "exact_dup_share" -> f"${corpus.exactCopies.toDouble / Docs}%.3f",
    "near_dup_share" -> f"${corpus.nearCopies.toDouble / Docs}%.3f",
    "passing_exact_copies" -> corpus.goodExactCopies.toString,
    "mean_chars" -> f"${corpus.docs.map(_.text.length).sum.toDouble / Docs}%.0f",
    "quota_per_lang" -> Quota.toString)

  override def buildRepeats: Int = 7
  def prewarmBuild(): Unit = build()

  /** The input documents table, range-clustered on `doc_id` by the
    * program's layout operator. */
  def build(): Unit =
    Layout.writeRangeClustered(
      corpus.docs.map(d => (d.docId, d.source, d.text, d.text.length.toLong))
        .toDF("doc_id", "source", "text", "n_chars"),
      table("input"), Seq("doc_id"), numFiles = ctx.spark.sparkContext.defaultParallelism)

  /** Write `df` as stage `stage`'s table; returns its row count, observed
    * during the write (no extra job). */
  private def writeStage(stage: String, df: DataFrame): Long = {
    val obs = Observation(s"${stage}_rows")
    df.observe(obs, count(lit(1)).as("n")).write.mode("overwrite").parquet(table(stage))
    obs.get("n").asInstanceOf[Long]
  }

  /** Pinned on the first call of a run; later calls must reproduce it. */
  private var pinned: Option[(Seq[Long], Long)] = None

  def call(batch: Long): Outcome = {
    val spark = ctx.spark
    val kept = ctx.span("curation.rules") {
      val c4 = TextAnalysis.c4CleanOn(spark.read.parquet(table("input")), col("text"))
        .filter(col("kept")).select(col("doc_id"), col("source"), col("clean_text").as("text"))
      writeStage("rules", TextAnalysis.gopherQualityOn(c4, col("text"))
        .filter(col("kept")).select("doc_id", "source", "text"))
    }
    val deduped = ctx.span("curation.dedup") {
      val keep = Dedup.exact(spark, dir("rules")).select(col("keep_id").as("doc_id"))
      writeStage("dedup", spark.read.parquet(table("rules")).join(keep, "doc_id")
        .withColumn("n_chars", length(col("text")).cast("long")))
    }
    observe("curation.rules_kept_ratio", kept.toDouble / Docs)
    observe("curation.dedup_dropped", (kept - deduped).toDouble)
    val dd = spark.read.parquet(table("dedup")).select("doc_id", "source", "text", "n_chars")
    ctx.span("curation.models_build") {
      Sampling.buildCurationModels(spark, dd.select("doc_id", "source", "text"), Tag)
    }
    val served = ctx.span("curation.serve") {
      val s = Sampling.serveCuration(spark, dd.select("doc_id", "source", "text"), Tag, Quota)
      val rows = s.collect()
      writeStage("curated", dd.join(s.select("doc_id"), "doc_id"))
      rows
    }
    val bpe = ctx.span("curation.tokenize") {
      TextAnalysis.bpeEncodeCounts(spark, dir("curated")).collect()
    }
    val (packed, shards) = ctx.span("curation.pack_shard") {
      (Packing.packSequences(spark, dir("curated")).collect(),
        Sharding.shardManifest(spark, dir("curated")).collect())
    }
    val funnel = Seq(Docs.toLong, kept, deduped, served.length.toLong, bpe.length.toLong,
      packed.map(_.getAs[Long]("n_docs")).sum, shards.length.toLong)
    val hash = Seq(served, bpe, packed, shards).map(rowsHash).sum
    if (pinned.isEmpty) {
      pinned = Some((funnel, hash))
      println(s"curation funnel=${funnel.mkString("/")} hash=$hash")
    }
    val n = served.length
    val failures = Seq(
      Option.when(kept != corpus.goodCount)(s"rules kept $kept, construction implies ${corpus.goodCount}"),
      Option.when(kept - deduped != corpus.goodExactCopies)(
        s"dedup dropped ${kept - deduped}, construction implies ${corpus.goodExactCopies}"),
      Option.when(n == 0 || served.groupBy(_.getAs[String]("predicted_lang")).exists(_._2.length > Quota))(
        s"served $n rows violates the per-language quota $Quota"),
      Option.when(bpe.length != n || packed.map(_.getAs[Long]("n_docs")).sum != n || shards.length != n)(
        s"tokenize/pack/shard row counts ${funnel.drop(4).mkString("/")} != served $n"),
      Option.when(Expected.curation(ctx.seed).exists(_ != (funnel, hash)))(
        s"funnel/hash ${funnel.mkString("/")}/$hash != recorded ${Expected.curation(ctx.seed)}"),
      Option.when(pinned.exists(_ != (funnel, hash)))(
        s"funnel/hash ${funnel.mkString("/")}/$hash != this run's first call ${pinned.get}")).flatten
    Outcome(Docs, failures)
  }

  /** Order-independent hash of a row set: the sum of per-row hashes. */
  private def rowsHash(rows: Array[Row]): Long =
    rows.map(r => scala.util.hashing.MurmurHash3.stringHash(r.mkString("\u0001")).toLong).sum
}

/** Values recorded for known seeds (funnel counts and the row-set hash of
  * one curation pass), read from the classpath resource
  * `graft/perfbench/expected.tsv`: `workload <TAB> seed <TAB> funnel <TAB>
  * hash`. Seeds not listed are checked against the run's own first call. */
object Expected {
  private lazy val rows: Map[(String, Long), (Seq[Long], Long)] =
    Option(getClass.getResourceAsStream("/graft/perfbench/expected.tsv")).map { in =>
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
        val Array(w, seed, funnel, hash) = l.split("\t")
        (w, seed.toLong) -> (funnel.split("/").map(_.toLong).toSeq, hash.toLong)
      }.toMap
      finally src.close()
    }.getOrElse(Map.empty)

  def curation(seed: Long): Option[(Seq[Long], Long)] = rows.get(("corpus_curation", seed))
}
