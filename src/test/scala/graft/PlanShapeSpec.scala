package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the round-3 operators — the
  * properties that make them survive a 100× scale-up, pinned so a
  * refactor can't silently reintroduce the pathologies they fix. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q_pii_redact is a single narrow scan: no hash-partition shuffle anywhere") {
    val p = plan("q_pii_redact")
    assert(p.split("FileScan").length - 1 == 1, "exactly one scan (customer)")
    // the only Exchange allowed is the final presentation sort
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$p")
  }

  test("q_pack_sequences: the only single-partition exchange is the tiny offsets relation") {
    val p = plan("q_pack_sequences")
    // one global window over ≤ numPartitions rows of per-partition totals;
    // the corpus-sized relation must never pass through SinglePartition
    assert(p.split("Exchange SinglePartition").length - 1 == 1, s"plan:\n$p")
  }

  test("inverted-index family reads the corpus zero times post-checkpoint") {
    // the fingerprint/shingle kernel runs ONCE into a localCheckpoint
    // before the plan executes; the executed plan re-reading
    // documents.parquet would mean the 6×-rescan disease is back
    for (q <- Seq("q_jaccard_pairs", "q_winnow_overlap", "q_passages", "q_contamination")) {
      val p = plan(q)
      assert(!p.contains("documents.parquet"), s"$q re-scans the corpus:\n${p.take(2000)}")
    }
  }

  test("inverted-index joins: no STATIC broadcast; AQE upgrades from true sizes") {
    // the 30× ScaleProbe run (last in commit 7edabe5) caught the static planner
    // broadcasting the pair aggregate off a garbage pre-checkpoint estimate
    // (LogicalRDD origin stats through a UDF-explode) and OOM-ing a 24 GB
    // driver. AQE never demotes a static broadcast, so the only scale-safe
    // shape is: statically a shuffle join (CheckpointShim drops the bogus
    // stats), with AQE re-upgrading to broadcast where the MEASURED side is
    // small. Assert both halves: the pre-execution plan has zero broadcast
    // joins; the post-execution plan at this tiny sf has re-earned them from
    // true sizes.
    for (q <- Seq("q_jaccard_pairs", "q_winnow_overlap")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val staticPlan = df.queryExecution.executedPlan.toString
      assert(!staticPlan.contains("BroadcastHashJoin"),
        s"$q statically broadcasts a data-sized relation:\n${staticPlan.take(1500)}")
      assert(staticPlan.contains("SortMergeJoin") || staticPlan.contains("ShuffledHashJoin"),
        s"$q static plan lost its shuffle join:\n${staticPlan.take(1500)}")
      df.collect()
      val finalPlan = df.queryExecution.executedPlan.toString
      assert(finalPlan.contains("BroadcastHashJoin"),
        s"$q: AQE did not restore broadcast from true (tiny) sizes:\n${finalPlan.take(1500)}")
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one hot key holding 3/4 of the fact rows, padded so the hot
      // partition clears the byte threshold
      val fact = spark.range(0, 200000)
        .select(when(col("id") < 150000, 1L).otherwise(col("id")).as("k"),
          lpad(col("id").cast("string"), 100, "x").as("pad"))
      val dim = spark.range(0, 1000).select(col("id").as("k2"))
      val joined = fact.join(dim, col("k") === col("k2"))
      // execute THIS dataset's own plan (count() would spawn a separate
      // query execution and leave this one un-finalized)
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${p.take(3000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_salted_join actually joins on (key, salt) through a sort-merge join") {
    val p = plan("q_salted_join")
    assert(p.contains("SortMergeJoin"), s"merge hint ignored:\n${p.take(1500)}")
    assert(p.contains("__salt"), "salt column missing from the join keys")
  }

  test("runtime bloom-filter pruning injects into a selective shuffled join") {
    import org.apache.spark.sql.functions._
    // a selective dim side should seed a bloom filter that prunes fact
    // rows BEFORE the join shuffle — at 100 TB the filter runs at scan
    // speed and the shuffle carries only probable matches
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = spark.read.parquet(s"$sf/lineitem.parquet")
      val dim = spark.read.parquet(s"$sf/part.parquet")
        .filter(col("p_partkey") % 100 === 0)
      val joined = fact.join(dim, col("l_partkey") === col("p_partkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter"),
        s"no runtime bloom filter injected:\n${p.take(2000)}")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q_imi_search: candidates travel through an equi-join, never a nested loop") {
    val df = SparkEntry.queries("q_imi_search")(spark, sf)
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_ivf_indexed: the stored assignment scan is bucketed and pruned") {
    val df = SparkEntry.queries("q_ivf_indexed")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
    assert(m.isDefined, s"no bucket pruning in plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_curation_pipeline is one scan of the corpus end-to-end") {
    val p = plan("q_curation_pipeline")
    assert(p.split("documents.parquet").length - 1 == 1,
      "dedup -> quality -> langid -> sample must fuse over ONE corpus scan")
  }
}
