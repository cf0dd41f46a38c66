package graft

import graft.operators.{Dedup, ShingleIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The persistent shingle index must be a pure physical re-plumbing of
  * incrementalDedupOn: identical answers (build+probe, and append
  * composition at cap-inert scale), zero Exchange on the index side of
  * the probe join, and the forward cap bound on append. */
class ShingleIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("|"))
      .sorted.toSeq

  private def drop(tag: String): Unit =
    Seq(ShingleIndex.occTable(tag), ShingleIndex.sizesTable(tag),
      ShingleIndex.fpTable(tag), ShingleIndex.satTable(tag))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("build+probe ≡ incrementalDedupOn, exactly") {
    val dir = Files.createTempDirectory("graft-shindex").toString
    val corpus = docs.filter(col("doc_id") % 13 =!= 0)
    val batch = docs.filter(col("doc_id") % 13 === 0)
    try {
      ShingleIndex.build(corpus, dir, "sixp")
      val got = ShingleIndex.probe(spark, "sixp", batch)
      val want = Dedup.incrementalDedupOn(corpus, batch)
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(canon(got) == canon(want))
    } finally drop("sixp")
  }

  test("probe join: the occ side arrives bucketed, with no Exchange of its own") {
    val dir = Files.createTempDirectory("graft-shindex-plan").toString
    val corpus = docs.filter(col("doc_id") % 13 =!= 0)
    val batch = docs.filter(col("doc_id") % 13 === 0)
    val broadcastConf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      ShingleIndex.build(corpus, dir, "sixplan")
      // force the large-backfill regime (no broadcast), where the index
      // side's pre-paid bucketing is what saves the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val probed = ShingleIndex.probe(spark, "sixplan", batch)
      probed.collect()
      val plan = probed.queryExecution.executedPlan.toString
      // all three index tables scan as bucketed; the batch side pays its
      // own (small) exchanges, and the aggregates keep theirs
      assert("Bucketed: true".r.findAllIn(plan).size >= 3, plan)
      assert(plan.contains("SortMergeJoin"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastConf)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      drop("sixplan")
    }
  }

  test("append composition ≡ rebuild on the union (cap inert at this scale)") {
    val dir = Files.createTempDirectory("graft-shindex-app").toString
    val c1 = docs.filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 3 =!= 0)
    val c2 = docs.filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 13 === 0)
    try {
      ShingleIndex.build(c1, dir, "sixa")
      ShingleIndex.append(spark, "sixa", dir, c2)
      val got = ShingleIndex.probe(spark, "sixa", batch)
      val want = Dedup.incrementalDedupOn(c1.unionAll(c2), batch)
      assert(canon(got) == canon(want))
      // the fp table must stay distinct through appends (c1 and c2 share
      // duplicated content in the fixture)
      val fpT = spark.table(ShingleIndex.fpTable("sixa"))
      assert(fpT.count() == fpT.distinct().count())
    } finally drop("sixa")
  }

  test("append enforces the forward cap: a key crossing the cap admits no new rows") {
    val dir = Files.createTempDirectory("graft-shindex-cap").toString
    import spark.implicits._
    // 6-token docs → interior trigrams shared by all docs with same text
    val mk = (id: Long, t: String) => (id, t)
    val base = Seq(
      mk(1, "alpha beta gamma delta epsilon zeta"),
      mk(2, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val more = Seq(
      mk(3, "alpha beta gamma delta epsilon zeta"),
      mk(4, "unrelated totally different words here now")).toDF("doc_id", "text")
    try {
      ShingleIndex.build(base, dir, "sixcap", maxShingleDf = 2)
      val builtRows = spark.table(ShingleIndex.occTable("sixcap")).count()
      assert(builtRows > 0) // shared keys at df=2 are AT the cap: kept
      ShingleIndex.append(spark, "sixcap", dir, more, maxShingleDf = 2)
      val occ = spark.table(ShingleIndex.occTable("sixcap"))
      // doc 3's keys would push the shared keys to df=3 > cap → not admitted;
      // doc 4's fresh keys are under the cap → admitted
      assert(occ.filter(col("corpus_id") === 3).count() == 0)
      assert(occ.filter(col("corpus_id") === 4).count() > 0)
      // the pre-existing rows stayed (bounded overshoot, not retroactive delete)
      assert(occ.filter(col("corpus_id").isin(1, 2)).count() == builtRows)
      // sizes rows exist only for admitted docs
      val sizes = spark.table(ShingleIndex.sizesTable("sixcap"))
      assert(sizes.filter(col("corpus_id") === 3).count() == 0)
      assert(sizes.filter(col("corpus_id") === 4).count() == 1)
    } finally drop("sixcap")
  }

  test("overshoot census detects saturation; threshold-gated rebuild restores exact build semantics") {
    val dir = Files.createTempDirectory("graft-shindex-census").toString
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta"
    val base = Seq(1L -> shared, 2L -> shared).toDF("doc_id", "text")
    val more = Seq(3L -> shared, // pushes shared keys over cap=2 → rejected
      4L -> "unrelated totally different words here now").toDF("doc_id", "text")
    try {
      ShingleIndex.build(base, dir, "sixc", maxShingleDf = 2)
      // exact build: nothing saturated, census clean, no rebuild triggered
      val c0 = ShingleIndex.overshootCensus(spark, "sixc")
      assert(c0 == ShingleIndex.OvershootCensus(0, 0, c0.storedRows) && c0.storedRows > 0)
      assert(!c0.needsRebuild())

      ShingleIndex.append(spark, "sixc", dir, more, maxShingleDf = 2)
      val c1 = ShingleIndex.overshootCensus(spark, "sixc")
      // every key of the shared text is saturated; docs 1+2's stored rows
      // all sit under saturated keys → overshoot = those rows, far over 1%
      assert(c1.saturatedKeys > 0)
      assert(c1.overshootRows > 0 && c1.overshootRows < c1.storedRows)
      assert(c1.needsRebuild())

      // the policy: census trips → rebuild on the union → exact build
      // semantics (over-cap keys DROPPED, not just bounded) + clean census
      val c2 = ShingleIndex.rebuildIfNeeded(base.unionAll(more), dir, "sixc",
        maxShingleDf = 2)
      assert(c2 == c1) // returns the pre-rebuild census that made the call
      val after = ShingleIndex.overshootCensus(spark, "sixc")
      assert(after.saturatedKeys == 0 && after.overshootRows == 0)
      // union df of the shared keys is 3 > cap → a fresh build drops them;
      // only doc 4's under-cap keys survive
      val occ = spark.table(ShingleIndex.occTable("sixc"))
      assert(occ.filter(col("corpus_id").isin(1, 2, 3)).count() == 0)
      assert(occ.filter(col("corpus_id") === 4).count() > 0)
      // and a clean census does NOT pay the rebuild (census is the cheap
      // gate): appending nothing new keeps needsRebuild false
      assert(!after.needsRebuild())
    } finally drop("sixc")
  }

  test("compact bounds file count after N appends; probe answers and bucketing survive") {
    val dir = Files.createTempDirectory("graft-shindex-compact").toString
    val corpus = docs.filter(col("doc_id") % 13 =!= 0)
    val batch = docs.filter(col("doc_id") % 13 === 0)
    val slices = (1 to 3).map(i => corpus.filter(col("doc_id") % 4 === i))
    try {
      ShingleIndex.build(corpus.filter(col("doc_id") % 4 === 0), dir, "sixf", buckets = 4)
      slices.foreach(s => ShingleIndex.append(spark, "sixf", dir, s, buckets = 4))
      val before = ShingleIndex.probe(spark, "sixf", batch)
      val beforeRows = canon(before)
      val filesBefore = ShingleIndex.fileCount(spark, "sixf")
      // each append adds files per table; 1 build + 3 appends ≫ 1 file/bucket
      assert(filesBefore > 4 * 4, s"filesBefore=$filesBefore")

      ShingleIndex.compact(spark, "sixf", dir)
      val filesAfter = ShingleIndex.fileCount(spark, "sixf")
      // ≤ one file per (non-empty) bucket per table
      assert(filesAfter <= 4 * 4, s"filesAfter=$filesAfter")
      assert(filesAfter < filesBefore)
      // data unchanged through the staged swap
      assert(canon(ShingleIndex.probe(spark, "sixf", batch)) == beforeRows)
      // append AFTER compact must follow the catalog to the generation dir (a
      // pinned original path would analysis-error — found by StreamBench, a
      // probe last in commit 7edabe5)
      ShingleIndex.append(spark, "sixf", dir,
        corpus.limit(5).select((col("doc_id") + 5000000L).as("doc_id"), col("text")),
        buckets = 4)
      assert(ShingleIndex.probe(spark, "sixf", batch).count() == beforeRows.length)
      // the pre-paid layout survives: probe still scans bucketed tables
      val broadcastConf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        val probed = ShingleIndex.probe(spark, "sixf", batch)
        probed.collect()
        val plan = probed.queryExecution.executedPlan.toString
        assert("Bucketed: true".r.findAllIn(plan).size >= 3, plan)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastConf)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    } finally drop("sixf")
  }
}
