package graft.tools

import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions.max

import java.nio.file.Files

/** Drives the Structured Streaming invoice pipeline end-to-end: writes a
  * small landing directory, streams it with an AvailableNow trigger into a
  * memory sink, prints the drained result and the JSON event envelope.
  * Usage: `sbt "runMain graft.tools.StreamingDemo"`. */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    import spark.implicits._

    val landing = Files.createTempDirectory("graft-stream-demo").toString
    val valid =
      """PRESTADOR DE SERVIÇOS
        |EMPRESA ALFA LTDA
        |CNPJ: 04.252.011/0001-10
        |TOMADOR DE SERVIÇOS
        |CLIENTE BETA SA
        |CNPJ: 11.222.333/0001-81
        |VALOR TOTAL: R$ 100,00""".stripMargin
    Seq(1L -> valid, 2L -> "DOCUMENTO SEM NADA UTIL",
      3L -> valid.replace("04.252.011/0001-10", "00.000.123/0001-22"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(landing)

    val q = StreamingPipeline
      .drainAvailableNow(StreamingPipeline.invoiceStream(spark, landing), "inv_stream")
      .start()
    q.awaitTermination(120000)

    val out = spark.table("inv_stream").orderBy("doc_id")
    out.show(truncate = false)
    println("[demo] envelope sample:")
    StreamingPipeline.eventEnvelope(out).show(1, truncate = 200)

    // Stateful streaming: running per-user totals across micro-batches.
    import graft.streaming.StatefulOps
    val evLanding = Files.createTempDirectory("graft-stateful-demo").toString
    (0 until 90).map(i => StatefulOps.UserEvent(i % 3L,
      new java.sql.Timestamp(1700000000000L + i * 1000L), 2.0))
      .grouped(30).zipWithIndex.foreach { case (chunk, i) =>
        chunk.toDF().coalesce(1).write.parquet(s"$evLanding/b$i")
      }
    val stateful = StatefulOps.runningUserTotals(
      spark.readStream.schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
        .option("maxFilesPerTrigger", 1).parquet(s"$evLanding/b*")
        .as[StatefulOps.UserEvent])
    val sq = stateful.writeStream.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append").format("memory").queryName("demo_stateful").start()
    require(sq.awaitTermination(120000), "stateful drain did not finish in 120s")
    println("[demo] final per-user running totals (state carried across 3 micro-batches):")
    spark.table("demo_stateful").groupBy("user_id")
      .agg(max("events_so_far").as("events"), max("value_so_far").as("value"))
      .orderBy("user_id").show()
    spark.stop()
  }
}
