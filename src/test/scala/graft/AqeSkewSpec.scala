package graft

import graft.operators.Analytics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark's own AQE skew-join split — the mechanism a real cluster leans
  * on FIRST for skewed joins, before manual salting — must actually fire on a
  * planted-skew join (plan-level `skew=true` marker in the final adaptive plan)
  * and must not change the join's result. The manual [[Analytics.saltedJoin]]
  * remains for the cases AQE cannot touch (aggregation-key skew,
  * non-shuffle-stat engines); the crossover is measured by the AqeJoinProbe
  * probe (last in commit 7edabe5), recorded in SCALING.md. */
class AqeSkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** 80k rows on one hot key + 20k spread over 2000 keys: with 4 shuffle
    * partitions the hot partition is ~10× the median, far above the
    * dialed-down skew thresholds. */
  private def skewedFact = {
    import spark.implicits._
    // payloads must be high-entropy: skew detection reads COMPRESSED
    // shuffle block sizes, and a repeated-char filler compresses below
    // the threshold no matter how many rows it spans
    val payload = concat(md5(col("id").cast("string")),
      md5((col("id") + 1).cast("string")), md5((col("id") + 2).cast("string")))
    spark.range(0, 80000).select(lit(1L).as("k"), payload.as("payload"))
      .unionAll(spark.range(0, 20000)
        .select((col("id") % 2000 + 2).as("k"), payload.as("payload")))
  }

  private def dim = {
    import spark.implicits._
    spark.range(0, 3000).select(col("id").as("dk"),
      (col("id") % 7).cast("string").as("seg"))
  }

  private def withConfs(confs: (String, String)*)(body: => Unit): Unit = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE splits the planted-skew join: skew=true in the final plan, result unchanged") {
    // dialed-down thresholds so the split fires at test scale; the merge
    // hint keeps the dim off the broadcast path (SMJ is what AQE splits)
    // the aggregate must CONSUME the payload: column pruning would
    // otherwise strip it before the shuffle, and a longs-only hot
    // partition compresses below any realistic skew threshold
    def run(): (Set[String], String) = {
      val j = skewedFact.join(dim.hint("merge"), col("k") === col("dk"))
        .groupBy("seg").agg(count(lit(1)).as("n"),
          sum(length(col("payload"))).as("bytes"))
      val rows = j.collect().map(_.toString).toSet
      (rows, j.queryExecution.executedPlan.toString)
    }
    var skewRows: Set[String] = null
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (rows, plan) = run()
      skewRows = rows
      assert(plan.contains("isFinalPlan=true"), "adaptive plan did not finalize")
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire on the planted skew:\n$plan")
    }
    // same join with the skew optimization off: identical result
    withConfs(
      "spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (rows, plan) = run()
      assert(!plan.contains("skew=true"))
      assert(rows == skewRows, "skew split changed the join result")
    }
    // and the manual salted join agrees too (the crossover alternative)
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val salted = Analytics.saltedJoin(skewedFact, dim.hint("merge"), "k", "dk")
        .groupBy("seg").agg(count(lit(1)).as("n"),
          sum(length(col("payload"))).as("bytes"))
        .collect().map(_.toString).toSet
      assert(salted == skewRows, "salted join diverged from the plain join")
    }
  }
}
