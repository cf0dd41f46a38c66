package graft.perfbench

import graft.operators.{IvfIndex, LandingZone, ManifestLog, ShingleIndex}
import graft.streaming.{IngestGate, VectorIngestGate}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** index_ingest: incremental ingest against persistent indexes — the
  * build-once / gate-per-batch shape. The base corpus of documents and
  * embeddings is indexed once (`ShingleIndex.build`, `IvfIndex.build`,
  * timed as `index_build_s`); then each call is one arrival batch:
  *   1. `IngestGate.gateBatchIndexed` against the shingle index + landing
  *      zone (read);
  *   2. `VectorIngestGate.gateBatch` against the IVF index (read);
  *   3. `ManifestLog.append` of the admitted docs and vectors (write);
  *   4. every `AbsorbEvery`-th batch, `LandingZone.absorbIntoShingleIndex`
  *      / `absorbIntoIvfIndex` + `retireConsumed` (maintenance write).
  *
  * Why: each batch costs a fixed number of Spark jobs, not data volume, and
  * reads sit beside writes on the same bucketed tables, so a change that
  * speeds probes but slows appends or absorbs shows up here. */
final class IndexIngest(ctx: Ctx) extends Workload(ctx) {
  import ctx.spark.implicits._

  private val BaseDocs = 2000
  private val BaseVecs = 3000
  private val BatchSize = 100
  private val AbsorbEvery = 3
  private val DocThreshold = 0.5
  private val VecThreshold = VectorIngestGate.DupGateThreshold
  private val ShTag = "perfbench_sh"
  private val IvfTag = "perfbench_ivf"
  private val indexDir = ctx.path("index")
  private val docRoot = ctx.path("landing_docs")
  private val vecRoot = ctx.path("landing_vecs")
  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  private val base = Inputs.ingestBase(ctx.seed, BaseDocs, BaseVecs)
  /** Arrival batches, generated ahead so no call pays for generation. */
  private val batches = scala.collection.mutable.Map.empty[Long, Inputs.Batch]
  private def batchOf(b: Long) = batches.getOrElseUpdate(b, Inputs.batch(ctx.seed, base, b, BatchSize))
  (0L until 160L).foreach(batchOf)
  /** Documents admitted so far (the recompute check's view of the corpus). */
  private val admitted = ArrayBuffer.empty[(Long, String)]

  override def period: Int = AbsorbEvery
  /** Two absorb cycles before measuring: batch walls still fall by a
    * quarter from the first cycle to the second (README, warm-up
    * evidence). */
  override def minWarmupPeriods: Int = 2
  override def lastValue: Set[String] = super.lastValue + "index.files"
  override def buildRepeats: Int = 3

  def inputs: Seq[(String, String)] = {
    val sample = (0L until 20L).map(batchOf)
    val dk = sample.flatMap(_.docs.map(_._3))
    val vk = sample.flatMap(_.vecs.map(_._3))
    Seq("base_docs" -> BaseDocs.toString, "base_vecs" -> BaseVecs.toString,
      "batch_size" -> BatchSize.toString,
      "batch_to_base" -> f"${BatchSize.toDouble / BaseDocs}%.4f",
      "absorb_every" -> AbsorbEvery.toString,
      "doc_exact_dup_share" -> f"${dk.count(_ == "exact").toDouble / dk.length}%.3f",
      "doc_near_dup_share" -> f"${dk.count(_ == "near").toDouble / dk.length}%.3f",
      "vec_exact_dup_share" -> f"${vk.count(_ == "exact").toDouble / vk.length}%.3f",
      "vec_flipped_share" -> f"${vk.count(_ == "flipped").toDouble / vk.length}%.3f",
      "mean_doc_chars" -> f"${base.docs.map(_._2.length).sum.toDouble / BaseDocs}%.0f",
      "vec_dim" -> Inputs.VecDim.toString)
  }

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = rows.toDF("doc_id", "text")
  private def vecsDf(rows: Seq[(Long, Array[Float])]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v.toSeq) }, 1),
      vecSchema)

  /** The indexes the calls gate against and absorb into. */
  def prewarmBuild(): Unit = buildAs("")

  private var copies = 0
  /** A copy of both indexes over the same base, under tags of its own, so
    * the indexes the calls use keep their state. */
  def build(): Unit = {
    copies += 1
    buildAs(s"_copy$copies")
  }

  private def buildAs(suffix: String): Unit = {
    val d = docsDf(base.docs)
    val v = vecsDf(base.vecs)
    ctx.span("index.shingle_build") { ShingleIndex.build(d, s"$indexDir/sh$suffix", ShTag + suffix) }
    ctx.span("index.ivf_build") { IvfIndex.build(v, s"$indexDir/ivf$suffix", IvfTag + suffix) }
  }

  /** Landing zone as the gate sees it: `None` until a segment exists. */
  private def landing(): Option[DataFrame] =
    if (ManifestLog.segments(ctx.spark, docRoot).isEmpty) None
    else Some(ManifestLog.read(ctx.spark, docRoot, docSchema))

  /** Doc verdicts (doc_id → (exact_dup, is_dup, jaccard, dup_of)). */
  private def verdicts(receipts: DataFrame): Map[Long, (Boolean, Boolean, Option[Double], Option[Long])] =
    receipts.select("doc_id", "exact_dup", "is_dup", "jaccard", "dup_of").collect().map { r =>
      r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), Option(r.get(4)).map(_.asInstanceOf[Long]))
    }.toMap

  def call(b: Long): Outcome = {
    val spark = ctx.spark
    val batch = batchOf(b)
    val docV = ctx.span("gate.docs") {
      verdicts(IngestGate.gateBatchIndexed(ShTag, landing(), docsDf(batch.docs.map(d => (d._1, d._2))),
        DocThreshold)._1)
    }
    val vecV = ctx.span("gate.vectors") {
      VectorIngestGate.gateBatch(IvfTag, vecsDf(batch.vecs.map(v => (v._1, v._2))), VecThreshold, nprobe = 0)
        ._1.select("vec_id", "is_dup").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    }
    val keptDocs = batch.docs.filter(d => !docV(d._1)._2).map(d => (d._1, d._2))
    val keptVecs = batch.vecs.filter(v => !vecV(v._1)).map(v => (v._1, v._2))
    ctx.span("landing.append") {
      ManifestLog.append(docsDf(keptDocs), docRoot, "w0", b)
      ManifestLog.append(vecsDf(keptVecs), vecRoot, "w0", b)
    }
    admitted ++= keptDocs
    if ((b + 1) % AbsorbEvery == 0) ctx.span("index.absorb") {
      LandingZone.absorbIntoShingleIndex(spark, docRoot, docSchema, ShTag, s"$indexDir/sh")
      LandingZone.absorbIntoIvfIndex(spark, vecRoot, vecSchema, IvfTag)
      LandingZone.retireConsumed(spark, docRoot, graceMs = 0L)
      LandingZone.retireConsumed(spark, vecRoot, graceMs = 0L)
      if (ctx.traced) observe("index.files",
        (ShingleIndex.fileCount(spark, ShTag) + IvfIndex.fileCount(spark, IvfTag)).toDouble)
    }
    val dups = batch.docs.filter(_._3 != "fresh")
    observe("gate.docs_dup_recall", dups.count(d => docV(d._1)._2).toDouble / dups.length.max(1))
    val missedDocs = batch.docs.filter(d => d._3 == "exact" && !(docV(d._1)._1 && docV(d._1)._2))
    val missedVecs = batch.vecs.filter(v => v._3 == "exact" && !vecV(v._1))
    Outcome(BatchSize, Seq(
      Option.when(docV.size != BatchSize || vecV.size != BatchSize)(
        s"receipts ${docV.size}/${vecV.size} != $BatchSize arrivals"),
      Option.when(missedDocs.nonEmpty)(s"${missedDocs.length} planted exact doc dups not flagged"),
      Option.when(missedVecs.nonEmpty)(s"${missedVecs.length} planted exact vector dups not flagged")).flatten)
  }

  /** One sampled batch per run: the indexed gate's verdicts must equal the
    * recompute path (`IngestGate.gateBatch`, i.e. `Dedup.incrementalDedupOn`
    * after the same in-batch collapse) over base corpus ∪ admitted docs. */
  override def finalChecks(): Option[Seq[String]] = {
    val batch = batchOf(1000000L + ctx.seed % 1000)
    val arrivals = docsDf(batch.docs.map(d => (d._1, d._2)))
    val indexed = verdicts(IngestGate.gateBatchIndexed(ShTag, landing(), arrivals, DocThreshold)._1)
    val recompute = verdicts(IngestGate.gateBatch(docsDf(base.docs ++ admitted), arrivals, DocThreshold)._1)
    def key(v: (Boolean, Boolean, Option[Double], Option[Long])) =
      (v._1, v._2, v._3, if (v._2) v._4 else None)
    val differ = batch.docs.map(_._1).filter(id => indexed.get(id).map(key) != recompute.get(id).map(key))
    Some(differ.take(3).map(id => s"doc $id: indexed ${indexed.get(id)} != recompute ${recompute.get(id)}") ++
      Option.when(differ.length > 3)(s"... ${differ.length} docs differ"))
  }
}
