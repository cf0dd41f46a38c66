package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Spark job counts of the BPE queries on sf0.001. Training collects the
  * word-frequency vocabulary once and merges on the driver, so no query
  * may pay a job per merge round; encoding adds one distributed pass over
  * the distinct words and the corpus. */
class BpeJobCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  /** Jobs started while running query `q` to a collected result, counted
    * through a job group so that no other work in the JVM is counted. */
  private def jobsOf(q: String): Int = {
    val sc = spark.sparkContext
    val group = s"bpe-job-count-$q"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, q)
    try assert(SparkEntry.queries(q)(spark, dir).collect().nonEmpty, s"$q returned no rows")
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("each q_bpe_merges* query trains in at most 3 jobs") {
    val jobs = Seq("q_bpe_merges", "q_bpe_merges_batched", "q_bpe_merges_local")
      .map(q => q -> jobsOf(q))
    assert(jobs.forall(_._2 <= 3), s"jobs per query: $jobs")
  }

  test("q_bpe_encode trains and encodes in at most 10 jobs") {
    val n = jobsOf("q_bpe_encode")
    assert(n <= 10, s"q_bpe_encode ran $n jobs")
  }
}
