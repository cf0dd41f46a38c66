package graft.streaming

import graft.operators.QualityClassifier
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming quality gate — the trained classifier
  * ([[graft.operators.QualityClassifier]]) applied at ingestion time:
  * every arriving micro-batch of documents is scored against a
  * PRE-FITTED model (fit offline, the normal deployment split), docs
  * above the score threshold land in an append-only parquet zone, and
  * every arrival gets a receipt (doc_id, score, admitted, batch_id).
  *
  * The model is two tiny static relations (dim llr rows + a one-row
  * totals) broadcast into each micro-batch's score aggregation — the
  * stream-side work per batch is one token scan and one per-doc
  * aggregate, the same scan-bound shape as the batch operator
  * (SCALING.md round-10 classifier section). Unlike [[IngestGate]] the
  * gate consults NO accumulated state: scoring is per-document.
  *
  * Replay discipline (= [[VectorIngestGate]]'s, converged r11): landing
  * and receipts are batch_id-partitioned and written with DYNAMIC
  * partition overwrite, so foreachBatch's at-least-once replay rewrites
  * its OWN partition with the identical rows (stateless scoring of the
  * same batch is deterministic) instead of appending duplicates —
  * exactly-once landing and receipts, reconciled by construction.
  * Consumers read plain parquet; no dropDuplicates needed. */
object QualityGate {

  /** Score one batch: returns (receipts, admitted-with-text). Duplicate
    * doc_ids WITHIN one micro-batch collapse to one representative row
    * first (the IngestGate within-batch discipline): scoring groups token
    * counts by doc_id, so two same-id arrivals in one batch would
    * otherwise blend into a single doubled score and one receipt. The
    * admitted leg derives from the receipts frame, so a caller persisting
    * receipts serves both writes from one scoring pass. */
  def gateBatch(batch: DataFrame, model: DataFrame, totals: DataFrame,
                dim: Int, threshold: Double): (DataFrame, DataFrame) = {
    val uniq = batch.select("doc_id", "text").dropDuplicates("doc_id")
    val receipts = QualityClassifier.scoreDocs(uniq, model, totals, dim)
      .withColumn("admitted", col("score") > threshold)
      .select("doc_id", "score", "admitted")
    val admitted = receipts.filter(col("admitted"))
      .select("doc_id", "score")
      .join(uniq, "doc_id")
    (receipts, admitted)
  }

  /** One micro-batch's writes — carved out of [[start]] so the replay
    * contract is directly testable: called twice with the same batchId
    * (foreachBatch's at-least-once), the second call dynamically
    * overwrites the first's batch_id partitions with identical rows. A
    * crash BETWEEN the two writes is also converged by the same
    * mechanism: the replay rewrites the receipt partition and writes the
    * landing partition it lost. */
  private[graft] def landBatch(batch: DataFrame, batchId: Long,
                                   model: DataFrame, totals: DataFrame, dim: Int,
                                   threshold: Double, landingDir: String,
                                   receiptsDir: String): Unit = {
    val (receipts, admitted) = gateBatch(batch, model, totals, dim, threshold)
    receipts.persist()
    try {
      receipts.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(receiptsDir)
      admitted.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(landingDir)
    } finally receipts.unpersist()
  }

  /** Start the gate. `stream` must carry (doc_id: long, text: string);
    * `model`/`totals` come from [[QualityClassifier.train]]. Admitted
    * docs land in `landingDir`, receipts in `receiptsDir` — both
    * batch_id-partitioned, replay-overwritten (exactly-once). */
  def start(stream: DataFrame, model: DataFrame, totals: DataFrame,
            landingDir: String, receiptsDir: String, checkpointDir: String,
            dim: Int = QualityClassifier.DefaultDim,
            threshold: Double = 0.0): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          landBatch(batch, batchId, model, totals, dim, threshold,
            landingDir, receiptsDir)
      }
      .start()
}
