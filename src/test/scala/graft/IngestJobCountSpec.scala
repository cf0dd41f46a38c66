package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import graft.operators.{IvfIndex, LandingZone, ManifestLog, ShingleIndex, Similarity}
import graft.streaming.{IngestGate, VectorIngestGate}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Spark job counts of the two ingest gates on one 100-arrival local
  * batch, with both outputs consumed the way a caller does (receipts and
  * kept collected). The document gate collects its arrivals once, probes
  * the index and the landing zone in one action and assembles on the
  * driver (8 jobs: the arrivals' broadcast, the sizes broadcast, two
  * index stages, three landing stages, the result); the vector gate
  * collects its verdicts once (6 jobs on a first call, which loads the
  * model; the probed-cell list is one plain collect). Neither may pay a
  * job per consumer of its outputs. One absorb cycle of three landed
  * segments into both indexes is 9 jobs (55 before the appends were
  * driver-assembled): per index one ordered collect of the landed rows,
  * one lookup job and one write per non-empty table delta (occ, sizes
  * and fp; the assignment relation), plus the IVF model's first load.
  * A failing pin lists every counted job's stage, so a regression names
  * its call site. */
class IngestJobCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  /** The jobs started while running `f`, counted through a job group so
    * that no other work in the JVM is counted: one entry per job, its
    * result stage's name (the call site, e.g. "collect at X.scala:12"). */
  private def jobsOf(label: String)(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"ingest-job-count-$label"
    val jobs = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos.sortBy(_.stageId).lastOption.fold("(no stages)")(_.name))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, label)
    try f
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }

  /** A pin's failure message: the count and every counted job's stage. */
  private def ran(what: String, jobs: Seq[String]): String =
    s"$what ran ${jobs.length} jobs:\n  " + jobs.mkString("\n  ")

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
      assert(n.length <= 8, ran("gateBatchIndexed", n))
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
      assert(n.length <= 6, ran("VectorIngestGate.gateBatch", n))
    } finally Seq(IvfIndex.modelTable("vjc"), IvfIndex.assignTable("vjc"), IvfIndex.pqModelTable("vjc"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("one absorb cycle of three landed segments into the shingle and IVF indexes runs in at most 20 jobs") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-absorb-jobs").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    try {
      ShingleIndex.build(docs.filter(_._1 % 3 != 0).toSeq.toDF("doc_id", "text"),
        s"$root/sh", "ajc")
      IvfIndex.build(vecs.filter(_._1 % 3 != 0).toSeq.toDF("vec_id", "embedding"),
        s"$root/ivf", "ajv", nCentroids = 8, seed = Similarity.ResidueSeed)
      // three arrival batches' admitted docs and vectors, as the ingest
      // loop lands them: one segment per batch and landing zone
      val landedDocs = docs.filter(_._1 % 3 == 0).take(90)
      val landedVecs = vecs.filter(_._1 % 3 == 0).take(90)
      (0 until 3).foreach { b =>
        ManifestLog.append(landedDocs.slice(b * 30, b * 30 + 30).toSeq.toDF("doc_id", "text"),
          s"$root/land_docs", "w0", b.toLong)
        ManifestLog.append(landedVecs.slice(b * 30, b * 30 + 30).toSeq.toDF("vec_id", "embedding"),
          s"$root/land_vecs", "w0", b.toLong)
      }
      var reports = Seq.empty[LandingZone.AbsorbReport]
      val n = jobsOf("absorb") {
        reports = Seq(
          LandingZone.absorbIntoShingleIndex(spark, s"$root/land_docs", docSchema, "ajc", s"$root/sh"),
          LandingZone.absorbIntoIvfIndex(spark, s"$root/land_vecs", vecSchema, "ajv"))
      }
      assert(reports.map(r => (r.segments.size, r.landedDocs, r.freshDocs)) ==
        Seq((3, 90L, 90L), (3, 90L, 90L)), reports.toString)
      assert(n.length <= 20, ran("one absorb cycle", n))
    } finally (Seq("ajc_occ", "ajc_sizes", "ajc_fp", "ajc_sat") ++
        Seq(IvfIndex.modelTable("ajv"), IvfIndex.assignTable("ajv"), IvfIndex.pqModelTable("ajv")))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
