package graft

import java.nio.file.Files

import graft.JobCount.{jobsOf, ran}
import graft.operators.{ImiIndex, IvfIndex, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark job counts of the stored-index searches on sf0.001, 20 queries,
  * each output collected. Every search is run once before it is counted,
  * so the driver-side model load is never in the count. The adaptive
  * search scores its whole chunk budget in one scan and applies the
  * stopping rule on the driver: it may cost the fixed search over the
  * same cells plus the collect of its per-round top-k, never a job per
  * round. The IMI search's probed-cell list is one plain collect, not an
  * exchange job followed by a collect. A failing pin lists every counted
  * job's stage. */
class SearchJobCountSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")

  test("searchAdaptive(chunk 2, cap 3) runs at most one job more than search(nprobe 6)") {
    val dir = Files.createTempDirectory("graft-adaptive-jobs").toString
    try {
      IvfIndex.build(emb, dir, "ajq", nCentroids = 8, seed = Similarity.ResidueSeed)
      val q = emb.filter(col("vec_id") < 20)
      IvfIndex.search(spark, "ajq", q, nprobe = 6).collect()
      val fixed = jobsOf(spark, "search-job-count-fixed") {
        IvfIndex.search(spark, "ajq", q, nprobe = 6).collect()
      }
      val adaptive = jobsOf(spark, "search-job-count-adaptive") {
        assert(IvfIndex.searchAdaptive(spark, "ajq", q, chunk = 2, maxChunks = 3)
          .collect().nonEmpty)
      }
      assert(adaptive.length <= fixed.length + 1,
        ran("searchAdaptive", adaptive) + "\n" + ran("search(nprobe = 6)", fixed))
    } finally Seq(IvfIndex.modelTable("ajq"), IvfIndex.assignTable("ajq"),
        IvfIndex.pqModelTable("ajq"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ImiIndex.search runs in at most 7 jobs") {
    val dir = Files.createTempDirectory("graft-imi-jobs").toString
    try {
      ImiIndex.build(emb, dir, "imjq", k1 = 8)
      val q = emb.filter(col("vec_id") < 20)
      ImiIndex.search(spark, "imjq", q, nprobe = 4).collect()
      val n = jobsOf(spark, "search-job-count-imi") {
        assert(ImiIndex.search(spark, "imjq", q, nprobe = 4).collect().nonEmpty)
      }
      assert(n.length <= 7, ran("ImiIndex.search", n))
    } finally Seq(ImiIndex.modelTable("imjq"), ImiIndex.assignTable("imjq"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
