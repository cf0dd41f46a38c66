package graft

import graft.operators.{IvfIndex, ShingleIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Cross-session visibility: appends arrive from OTHER sessions in the
  * deployment shape (streaming foreachBatch runs in cloned sessions), and
  * a session's cached relation file-listing does not include them without
  * a refresh. Found live by the vecgate census of StreamBench (a probe
  * last in commit 7edabe5): the bench
  * session's compact rewrote its stale listing and then deleted the
  * directory holding the unseen appended files — silently discarding
  * every admitted batch. These tests pin the refresh discipline on every
  * maintenance/read path. */
class CrossSessionIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("IvfIndex: census, compact and search see another session's appends") {
    val dir = Files.createTempDirectory("graft-xsess-ivf").toString
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    try {
      IvfIndex.build(emb.filter(col("vec_id") >= 50), dir, "xivf",
        nCentroids = 8, seed = Similarity.ResidueSeed)
      // populate THIS session's relation cache with the pre-append listing
      val before = spark.table(IvfIndex.assignTable("xivf")).count()

      // a DIFFERENT session (shared catalog, separate relation cache)
      // appends — exactly the foreachBatch shape
      val other = spark.newSession()
      IvfIndex.assignInto(other, "xivf",
        other.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
          .filter(col("vec_id") < 50))

      // rebuild census must see the appended rows…
      assert(IvfIndex.rebuildIfNeeded(spark, "xivf", dir,
        growthFactor = 1000.0) == false) // no rebuild, just the census read
      // …and compact must preserve them (the bug: stale listing → rewrite
      // of the stale subset → deletion of the dir holding the new files)
      IvfIndex.compact(spark, "xivf", dir)
      spark.catalog.refreshTable(IvfIndex.assignTable("xivf"))
      val after = spark.table(IvfIndex.assignTable("xivf")).count()
      assert(after == before + 50, s"$before + 50 appended, found $after after compact")
      // search from the original session finds an appended vector
      val probe = emb.filter(col("vec_id") === 0)
        .select((col("vec_id") + 777777L).as("vec_id"), col("embedding"))
      val hit = IvfIndex.search(spark, "xivf", probe, nprobe = 8, k = 1).collect()
      assert(hit.length == 1 && hit(0).getLong(2) == 0L,
        s"appended vec 0 not found: ${hit.toSeq}")
    } finally Seq(IvfIndex.modelTable("xivf"), IvfIndex.assignTable("xivf"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ShingleIndex: probe and census see another session's appends") {
    val dir = Files.createTempDirectory("graft-xsess-shingle").toString
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    try {
      ShingleIndex.build(docs.filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 3 =!= 0),
        dir, "xshg")
      // prime this session's cache
      spark.table(ShingleIndex.occTable("xshg")).count()
      val other = spark.newSession()
      ShingleIndex.append(other, "xshg", dir,
        other.read.parquet("/root/testdata/sf0.001/documents.parquet")
          .filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 3 === 0))
      // probe from the ORIGINAL session must equal the recompute over the
      // full union — it only can if the refresh surfaced the appends
      val batch = docs.filter(col("doc_id") % 13 === 0)
      val got = ShingleIndex.probe(spark, "xshg", batch).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val want = graft.operators.Dedup.incrementalDedupOn(
          docs.filter(col("doc_id") % 13 =!= 0), batch).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(got == want)
    } finally Seq(ShingleIndex.occTable("xshg"), ShingleIndex.sizesTable("xshg"),
      ShingleIndex.fpTable("xshg"), ShingleIndex.satTable("xshg"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
