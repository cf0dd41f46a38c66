package graft.streaming

import graft.operators.{Dedup, ShingleIndex}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming corpus-ingestion gate — the daily-crawl pipeline as a
  * structured stream: every micro-batch of arriving documents is gated
  * against the corpus (canonical exact-duplicate check + best near-dup
  * Jaccard match, [[Dedup.incrementalDedupOn]]'s semantics), admitted
  * documents land in an append-only parquet zone, and every document —
  * admitted or dropped — gets a verdict receipt.
  *
  * The corpus a batch is gated against is the STATIC corpus UNION the
  * landing zone so far, re-read each micro-batch: a document admitted in
  * batch N is a first-class dedup target for batch N+1, so replays
  * across batches are dropped without any unbounded driver-side state —
  * the landing zone itself is the ledger. Within one micro-batch the
  * gate also collapses exact duplicates (canonical fingerprint, lowest
  * doc_id wins); NEAR-dup pairs that co-arrive in a single batch are
  * both admitted by design — run [[graft.operators.Dedup.jaccardPairs]]
  * over the landing zone for the periodic sweep, exactly as a batch
  * pipeline would.
  *
  * Delivery semantics: foreachBatch is at-least-once into the landing
  * zone on crash between the write and the checkpoint commit; a replayed
  * batch re-gates against the landing zone that already contains its own
  * docs, so replayed documents are dropped as exact dups of themselves —
  * the landing zone converges to exactly-once content (the receipts may
  * carry the extra attempt, honestly labeled with its batch id).
  *
  * Two plans:
  *  - [[gateBatch]] (corpus relation, used by [[start]]) runs
  *    `incrementalDedupOn` over the whole corpus per batch — fused
  *    corpus index, equi-join probe, stats-honest checkpoints. It is also
  *    the reference the indexed gate is checked against.
  *  - [[gateBatchIndexed]] (pre-built [[ShingleIndex]], used by
  *    [[startIndexed]]) is arrival-sized: one bounded collect of the
  *    arrivals, one action that probes the index and the landing zone
  *    against them as a broadcast local relation, then the in-batch
  *    collapse, the relation merge and the receipts on the driver. Its
  *    receipts and kept docs are local relations, so consuming them
  *    re-runs nothing.
  * The landing-zone re-read is a parquet scan, with the schema the gate
  * itself writes, that prunes to the columns the gate needs. */
object IngestGate {

  /** Canonical content fingerprint (same normalization as [[Dedup.exact]]). */
  private def fp = Dedup.canonicalFp(coalesce(col("text"), lit("")))

  /** `(doc_id, text)` — what the gate reads and what it lands. */
  private val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private val ReceiptSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("exact_dup", BooleanType, nullable = false),
    StructField("dup_of", LongType), StructField("shared", LongType),
    StructField("jaccard", DoubleType),
    StructField("is_dup", BooleanType, nullable = false)))

  /** Most arrivals one [[gateBatchIndexed]] call takes: it holds the batch
    * (ids, texts, shingle keys) on the driver, so a source feeding it must
    * cap its micro-batch size. A larger batch fails loudly. */
  val MaxBatchDocs: Int = 50 * 1000

  /** Within-batch exact collapse: lowest doc_id per canonical fingerprint
    * represents the content; later copies get a receipt pointing at their
    * in-batch representative. Returns (unique, inBatchDup receipts). */
  private def collapseBatch(batch: DataFrame): (DataFrame, DataFrame) = {
    // a wider batch schema carrying these names would be silently
    // captured by the join below — fail loudly (saltedJoin precedent)
    require(!batch.columns.contains("__fp") && !batch.columns.contains("keep_id"),
      "the gate reserves the column names __fp and keep_id; rename them on the input first")
    val ranked = batch.select(col("doc_id"), col("text"), fp.as("__fp"))
    val firstPerFp = ranked.groupBy("__fp").agg(min(col("doc_id")).as("keep_id"))
    val tagged = ranked.join(firstPerFp, "__fp")
    val unique = tagged.filter(col("doc_id") === col("keep_id"))
      .select("doc_id", "text")
    val inBatchDups = tagged.filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), lit(true).as("exact_dup"),
        col("keep_id").as("dup_of"), lit(null).cast("long").as("shared"),
        lit(null).cast("double").as("jaccard"), lit(true).as("is_dup"))
    (unique, inBatchDups)
  }

  private def assemble(batch: DataFrame, verdicts: DataFrame,
                       inBatchDups: DataFrame): (DataFrame, DataFrame) = {
    val receipts = verdicts.unionByName(inBatchDups)
    // kept derives from `receipts` (not the verdicts subtree) so a caller
    // persisting receipts pays for the gate exactly once across both uses
    val kept = batch.select("doc_id", "text")
      .join(receipts.filter(!col("is_dup")).select("doc_id"), "doc_id")
    (receipts, kept)
  }

  /** Gate one arriving batch against `corpus`; returns (receipts, kept).
    * Receipts carry one row per ARRIVING doc: corpus verdicts for the
    * within-batch representatives, plus (exact_dup=true, dup_of=the
    * batch representative) rows for within-batch copies. Exposed for
    * direct batch use and for the spec. */
  def gateBatch(corpus: DataFrame, batch: DataFrame,
                threshold: Double): (DataFrame, DataFrame) = {
    val (unique, inBatchDups) = collapseBatch(batch)
    val verdicts = Dedup.incrementalDedupOn(corpus, unique, threshold)
    assemble(batch, verdicts, inBatchDups)
  }

  /** Gate one arriving batch against a PRE-BUILT [[graft.operators.ShingleIndex]]
    * (the static corpus, indexed once) plus the live landing zone — the
    * 100 TB shape: per-batch cost is O(batch + landing + matched index
    * rows), with no per-batch re-aggregation of the corpus. Verdict
    * semantics match [[gateBatch]] over corpus ∪ landing, except the df
    * cap applies per relation rather than over the union (the operator
    * family's documented asymmetric-cap convention; identical while the
    * cap is inert) and the best matches of the two relations merge on the
    * ROUNDED j (the receipts' `jaccard`), ties to the lower `dup_of` — a
    * single global arg-max could differ only for matches equal to 6
    * decimals across the two relations. `is_dup` thresholds the winner's
    * unrounded j, as `incrementalDedupOn` does.
    *
    * Plan: one `limit(MaxBatchDocs + 1)` collect of `(doc_id, text, fp)`
    * (no job for a local batch), one [[ShingleIndex.probeArrivals]] action
    * for the collapsed arrivals, then collapse, merge and receipts on the
    * driver. Returns (receipts, kept) as local relations. `doc_id` must be
    * unique within the batch. */
  def gateBatchIndexed(indexTag: String, landing: Option[DataFrame],
                       batch: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    import scala.jdk.CollectionConverters._
    val spark = batch.sparkSession
    val rows = batch.select(col("doc_id").cast("long"), col("text"), fp.as("fp"))
      .limit(MaxBatchDocs + 1).collect()
    require(rows.length <= MaxBatchDocs,
      s"gateBatchIndexed: the batch has more than MaxBatchDocs = $MaxBatchDocs " +
        "arrivals — cap the source's micro-batch size (e.g. maxFilesPerTrigger)")
    require(rows.map(_.getLong(0)).distinct.length == rows.length,
      "gateBatchIndexed: doc_id must be unique within a batch")
    // in-batch exact collapse: the lowest doc_id per fingerprint represents it
    val keepOf = rows.groupMapReduce(_.getString(2))(_.getLong(0))(math.min)
    val unique = rows.filter(r => keepOf(r.getString(2)) == r.getLong(0))
      .map(r => ShingleIndex.Arrival(r.getLong(0), r.getString(2),
        Dedup.shingleKeys(r.getString(1))))
    val (index, live) =
      if (unique.isEmpty) (ShingleIndex.Answers(Set.empty, Map.empty), None)
      else ShingleIndex.probeArrivals(spark, indexTag, landing, unique.toSeq)
    def jOf(m: Option[ShingleIndex.Match]) = m.fold(-1d)(_.jaccard)
    def idOf(m: Option[ShingleIndex.Match]) = m.fold(Long.MaxValue)(_.dupOf)
    val receipts = rows.map { r =>
      val id = r.getLong(0)
      val keep = keepOf(r.getString(2))
      if (keep != id) Row(id, true, keep, null, null, true)
      else {
        val a = index.best.get(id)
        val best = live.fold(a) { l =>
          val b = l.best.get(id)
          if (jOf(b) > jOf(a) || (jOf(b) == jOf(a) && idOf(b) < idOf(a))) b else a
        }
        val exact = index.exact(id) || live.exists(_.exact(id))
        Row(id, exact, best.map(m => Long.box(m.dupOf)).orNull,
          best.map(m => Long.box(m.shared)).orNull, best.map(m => Double.box(m.jaccard)).orNull,
          exact || best.exists(_.j >= threshold))
      }
    }
    val kept = rows.zip(receipts).collect {
      case (r, v) if !v.getBoolean(5) => Row(r.getLong(0), r.getString(1))
    }
    (spark.createDataFrame(receipts.toSeq.asJava, ReceiptSchema),
      spark.createDataFrame(kept.toSeq.asJava, DocSchema))
  }

  /** Start the streaming gate against a pre-built [[graft.operators.ShingleIndex]]
    * instead of a corpus directory. Replay convergence is unchanged (the
    * landing zone is still the ledger, re-read per batch); the INDEX is
    * never mutated by the stream — fold the landing zone into it with
    * `ShingleIndex.append`/`rebuild` during quiescence (between
    * AvailableNow drains, after checkpoint commit), then truncating the
    * landing zone is safe because no uncommitted batch can replay.
    *
    * The source MUST cap its micro-batch size (e.g. `maxFilesPerTrigger`
    * on a file source): [[gateBatchIndexed]] collects each batch to the
    * driver and fails a batch of more than [[MaxBatchDocs]] arrivals. */
  def startIndexed(indexTag: String, stream: DataFrame, landingDir: String,
                   receiptsDir: String, checkpointDir: String,
                   threshold: Double = 0.5): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val (receipts, kept) = gateBatchIndexed(indexTag, readLanding(spark, landingDir),
          batch.select("doc_id", "text"), threshold)
        // local relations: neither the emptiness test nor the two writes
        // re-run the gate
        if (!receipts.isEmpty) {
          receipts.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(receiptsDir)
          kept.write.mode("append").parquet(landingDir)
        }
      }
      .start()

  /** The landing zone as the gate wrote it, `None` before its first write.
    * Read with [[DocSchema]]: schema inference would cost a job per
    * micro-batch. Hadoop FS, not java.io.File: the landing zone IS the
    * ledger, and a local-only existence check on S3/HDFS would silently
    * disable cross-batch dedup. */
  private def readLanding(spark: org.apache.spark.sql.SparkSession,
                          landingDir: String): Option[DataFrame] = {
    val landingPath = new org.apache.hadoop.fs.Path(landingDir)
    val fs = landingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option.when(fs.exists(landingPath))(spark.read.schema(DocSchema).parquet(landingDir))
  }

  /** Start the streaming gate. `stream` must carry (doc_id: long,
    * text: string). Admitted docs append to `landingDir`; per-doc
    * verdicts append to `receiptsDir` with the micro-batch id. The static
    * corpus is read with schema inference, so a type drift there fails
    * loudly; the landing zone is read with the schema the gate writes.
    *
    * Cap the source's micro-batch size (e.g. `maxFilesPerTrigger`) here
    * too: the same stream moved to [[startIndexed]] meets its gate's
    * collect bound, [[MaxBatchDocs]]. */
  def start(corpusDir: String, stream: DataFrame, landingDir: String,
            receiptsDir: String, checkpointDir: String,
            threshold: Double = 0.5): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val corpusStatic = spark.read.parquet(s"$corpusDir/documents.parquet")
            .select("doc_id", "text")
          val corpus = (corpusStatic +: readLanding(spark, landingDir).toSeq).reduce(_ unionAll _)
          val (receipts, kept) = gateBatch(corpus, batch.select("doc_id", "text"), threshold)
          // the gate (corpus index + probe) is computed once: receipts are
          // pinned before both writes, released after (Serving's pattern)
          receipts.persist()
          try {
            receipts.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(receiptsDir)
            kept.write.mode("append").parquet(landingDir)
          } finally receipts.unpersist()
        }
      }
      .start()
}
