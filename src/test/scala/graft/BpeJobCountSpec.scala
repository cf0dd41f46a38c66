package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spark job counts of the BPE queries on sf0.001. Training collects the
  * word-frequency vocabulary once and merges on the driver, so no query
  * may pay a job per merge round; encoding adds one distributed pass over
  * the distinct words and the corpus. */
class BpeJobCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  /** Jobs started while running query `q` to a collected result. */
  private def jobsOf(q: String): Int =
    JobCount.jobsOf(spark, s"bpe-job-count-$q") {
      assert(SparkEntry.queries(q)(spark, dir).collect().nonEmpty, s"$q returned no rows")
    }.length

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
