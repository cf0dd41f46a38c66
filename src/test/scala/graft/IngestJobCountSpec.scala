package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.{IvfIndex, ShingleIndex, Similarity}
import graft.streaming.{IngestGate, VectorIngestGate}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark job counts of the two ingest gates on one 100-arrival local
  * batch, with both outputs consumed the way a caller does (receipts and
  * kept collected). The document gate collects its arrivals once, probes
  * the index and the landing zone in one action and assembles on the
  * driver (8 jobs: the arrivals' broadcast, the sizes broadcast, two
  * index stages, three landing stages, the result); the vector gate
  * collects its verdicts once (6 jobs on a first call, which loads the
  * model; the probed-cell list is one plain collect). Neither may pay a
  * job per consumer of its outputs. */
class IngestJobCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  /** Jobs started while running `f`, counted through a job group so that
    * no other work in the JVM is counted. */
  private def jobsOf(label: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"ingest-job-count-$label"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, label)
    try f
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("gateBatchIndexed with a non-empty landing zone: 100 arrivals in at most 8 jobs") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-ingest-jobs").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val corpus = docs.filter(_._1 % 5 != 0)
    val landed = docs.filter(_._1 % 5 == 0).take(60)
    val landingDir = s"$root/landing"
    landed.toSeq.toDF("doc_id", "text").write.parquet(landingDir)
    // exact copies of indexed and landed docs, a near copy, in-batch
    // copies and fresh text: every verdict kind of the gate
    val arrivals: Seq[(Long, String)] = (0 until 100).map { i =>
      val id = 1000000L + i
      i % 5 match {
        case 0 => id -> corpus(i)._2
        case 1 => id -> landed(i % landed.length)._2
        case 2 => id -> (corpus(i)._2 + " appended tail words")
        case 3 => id -> s"fresh arrival $i with words of its own ${"w" * (i % 7)}"
        case _ => id -> s"fresh arrival ${i - 1} with words of its own ${"w" * ((i - 1) % 7)}"
      }
    }
    try {
      ShingleIndex.build(corpus.toSeq.toDF("doc_id", "text"), s"$root/index", "ijc")
      val landing = spark.read.schema("doc_id long, text string").parquet(landingDir)
      val batch = arrivals.toDF("doc_id", "text")
      var receipts = Array.empty[org.apache.spark.sql.Row]
      val n = jobsOf("docs") {
        val (r, k) = IngestGate.gateBatchIndexed("ijc", Some(landing), batch, 0.5)
        receipts = r.collect()
        k.collect()
      }
      assert(receipts.length == 100)
      assert(receipts.count(_.getAs[Boolean]("is_dup")) >= 60)
      assert(n <= 8, s"gateBatchIndexed ran $n jobs")
    } finally Seq("ijc_occ", "ijc_sizes", "ijc_fp", "ijc_sat")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("VectorIngestGate.gateBatch: 100 arrivals in at most 6 jobs") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-vecgate-jobs").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
    val stored = emb.as[(Long, Array[Float])].collect().sortBy(_._1)
    val arrivals: DataFrame = (0 until 100).map { i =>
      val v = stored(i * 3)._2
      (2000000L + i, if (i % 2 == 0) v else v.zipWithIndex.map { case (x, d) => if (d < 8) -x else x })
    }.toDF("vec_id", "embedding")
    try {
      IvfIndex.build(emb, s"$root/index", "vjc", nCentroids = 8, seed = Similarity.ResidueSeed)
      var receipts = Array.empty[org.apache.spark.sql.Row]
      val n = jobsOf("vectors") {
        val (r, k) = VectorIngestGate.gateBatch("vjc", arrivals, 0.999, nprobe = 0)
        receipts = r.collect()
        k.collect()
      }
      assert(receipts.length == 100)
      assert(receipts.count(_.getAs[Boolean]("is_dup")) == 50)
      assert(n <= 6, s"VectorIngestGate.gateBatch ran $n jobs")
    } finally Seq(IvfIndex.modelTable("vjc"), IvfIndex.assignTable("vjc"), IvfIndex.pqModelTable("vjc"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
