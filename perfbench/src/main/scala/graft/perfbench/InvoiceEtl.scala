package graft.perfbench

import graft.functions.{Normalizer, Udfs}
import graft.operators.{InvoicePipeline, Layout, TrustScoring}
import graft.sources.{DocumentSource, Sinks}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** invoice_etl: seeded invoice uploads go through
  * `DocumentSource.fromBytes` → `InvoicePipeline.process` → a tenant-
  * partitioned parquet sink, one slice of the upload table per call.
  *
  * Why: this is the reference's own per-document pipeline — one narrow
  * stage, CPU-bound in PDF decode (`sources`) and the parse / checksum
  * kernels (`functions`), with almost no Spark jobs. Kernel work moves it;
  * job-count work should not. */
final class InvoiceEtl(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark.implicits._

  private val Docs = 2400
  private val Slice = 300
  private val slices = Docs / Slice
  private val docs = Inputs.invoices(ctx.seed, Docs)
  private val input = ctx.path("invoice_uploads")
  private val sink = ctx.path("invoice_sink")

  /** What each slice's construction implies: status counts and trust sum. */
  private val expected: IndexedSeq[(Map[String, Long], Double)] =
    docs.grouped(Slice).map { s =>
      (s.groupBy(_.status).map { case (k, v) => k -> v.length.toLong }, s.map(_.trust).sum)
    }.toIndexedSeq

  def inputs: Seq[(String, String)] = {
    val byFormat = docs.groupBy(_.format).map { case (k, v) => k -> v.length }
    def share(n: Int) = f"${n.toDouble / Docs}%.3f"
    val pdf = byFormat.getOrElse("pdf", 0) + byFormat.getOrElse("pdf_flate", 0)
    Seq("docs" -> Docs.toString, "docs_per_call" -> Slice.toString,
      "pdf_share" -> share(pdf), "flate_share_of_pdf" -> f"${byFormat.getOrElse("pdf_flate", 0).toDouble / pdf}%.3f",
      "text_share" -> share(byFormat.getOrElse("utf8", 0) + byFormat.getOrElse("latin1", 0)),
      "latin1_share" -> share(byFormat.getOrElse("latin1", 0)),
      "corrupt_share" -> share(byFormat.getOrElse("corrupt_pdf", 0)),
      "error_share" -> share(docs.count(_.status == "error")),
      "partial_share" -> share(docs.count(_.status == "partial")),
      "dup_share" -> "0",
      "mean_bytes" -> f"${docs.map(_.bytes.length).sum.toDouble / Docs}%.0f")
  }

  override def period: Int = slices
  /** The JIT curve of this workload flattens only after ~25 calls
    * (README, warm-up evidence): four passes over the slices before
    * measuring, which also outlast the warm-up cap at `--seconds 14`, so
    * every run warms up with the same calls. */
  override def minWarmupPeriods: Int = 4
  override def buildRepeats: Int = 7
  def prewarmBuild(): Unit = build()

  /** The upload table: one row per document, partitioned by `slot` (one
    * directory per call) by the program's layout operator. */
  def build(): Unit =
    Layout.writeClustered(
      docs.zipWithIndex.map { case (d, i) =>
        (i / Slice, s"uploads/${d.tenant}/${d.docId}.${if (d.format.contains("pdf")) "pdf" else "txt"}", d.bytes)
      }.toDF("slot", "path", "content"),
      input, partitionCols = Seq("slot"), sortCols = Seq("path"), maxRecordsPerFile = Slice)

  /** `InvoicePipeline.process` split at its layer boundary for the traced
    * run: the `functions` parse kernels, then the `operators` VALIDATE
    * columns. */
  private def parseStep(df: DataFrame): DataFrame =
    df.withColumn("invoice", Udfs.normalizeAndParse(col("text"), lit(null).cast("string")))
      .withColumn("norm_text", Normalizer.normalizeTextCol(col("text")))

  private def trustStep(df: DataFrame): DataFrame =
    df.withColumn("checks", TrustScoring.checksCol(col("invoice")))
      .withColumn("validation_issues", TrustScoring.issuesFrom(col("invoice"), col("checks")))
      .withColumn("trust_score", TrustScoring.scoreFrom(col("invoice"), col("checks")))
      .withColumn("status", TrustScoring.status(col("validation_issues"), col("trust_score")))
      .drop("checks")

  /** Whether the split computes what `process` computes: checked once per
    * traced run, on the first traced call's plans, and reported as the
    * final check, so the traced figures cannot silently time a stale copy
    * of `process`. */
  private var splitMatches: Option[Boolean] = None

  private def splitProcess(decoded: DataFrame): DataFrame = {
    if (splitMatches.isEmpty)
      splitMatches = Some(trustStep(parseStep(decoded)).queryExecution.optimizedPlan
        .sameResult(InvoicePipeline.process(decoded).queryExecution.optimizedPlan))
    val parsed = materialize("functions.parse")(parseStep(decoded))
    val out = materialize("operators.trust")(trustStep(parsed))
    parsed.unpersist(true)
    out
  }

  override def finalChecks(): Option[Seq[String]] =
    splitMatches.map(ok => Option.when(!ok)(
      "the traced split of InvoicePipeline.process plans a different result than process").toSeq)

  private def materialize(name: String)(df: => DataFrame): DataFrame =
    ctx.span(name) { val d = df.persist(); d.count(); d }

  def call(batch: Long): Outcome = {
    val slot = (batch % slices).toInt
    val raw = ctx.spark.read.parquet(input).filter(col("slot") === slot)
    val decode = DocumentSource.fromBytes(raw, "path", "content").toDF()
      .withColumn("tenant_id", element_at(split(col("path"), "/"), 2))
    val decoded = if (ctx.traced) materialize("sources.decode")(decode) else decode
    if (ctx.traced) observe("sources.degraded_docs", decoded.filter(col("page_count") === 0).count().toDouble)
    val processed = if (ctx.traced) splitProcess(decoded) else InvoicePipeline.process(decoded)
    val obs = Observation(s"invoice_$batch")
    val checked = processed.observe(obs, count(lit(1)).as("rows"),
      sum(when(col("status") === "success", 1L).otherwise(0L)).as("success"),
      sum(when(col("status") === "partial", 1L).otherwise(0L)).as("partial"),
      sum(when(col("status") === "error", 1L).otherwise(0L)).as("error"),
      sum(col("trust_score")).as("trust"))
    ctx.span("sources.write") { Sinks.tenantPartitionedParquet(checked, sink) }
    if (ctx.traced) { processed.unpersist(true); decoded.unpersist(true) }
    val got = obs.get
    val (want, wantTrust) = expected(slot)
    def n(k: String) = got(k).asInstanceOf[Long]
    val failures = Seq(
      Option.when(n("rows") != Slice)(s"rows ${n("rows")} != $Slice"),
      Option.when(Seq("success", "partial", "error").exists(k => n(k) != want.getOrElse(k, 0L)))(
        s"status counts ${Seq("success", "partial", "error").map(k => n(k)).mkString("/")} != " +
          Seq("success", "partial", "error").map(k => want.getOrElse(k, 0L)).mkString("/")),
      Option.when(math.abs(got("trust").asInstanceOf[Double] - wantTrust) > 1e-6)(
        s"trust sum ${got("trust")} != $wantTrust")).flatten
    Outcome(Slice, failures)
  }
}
