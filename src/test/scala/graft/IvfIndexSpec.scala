package graft

import graft.operators.{IvfIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The persistent IVF index must be a pure physical re-plumbing of
  * ivfSearch (identical answers), its search scan must actually
  * bucket-prune to the probed cells, and post-build arrivals must land in
  * the cells the stored model dictates. */
class IvfIndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private def drop(tag: String): Unit =
    Seq(IvfIndex.modelTable(tag), IvfIndex.assignTable(tag))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("build+search ≡ ivfSearch, exactly (oracle-parity config)") {
    val dir = Files.createTempDirectory("graft-ivfidx").toString
    try {
      IvfIndex.build(emb, dir, "ivx", nCentroids = 8, seed = Similarity.ResidueSeed)
      val got = IvfIndex.search(spark, "ivx", emb.filter(col("vec_id") < 50),
        nprobe = 2).collect()
      val want = Similarity.ivfSearch(spark, "/root/testdata/sf0.001", nCentroids = 8).collect()
      assert(got.length == want.length && got.nonEmpty)
      got.zip(want).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
    } finally drop("ivx")
  }

  test("nprobeFor is the measured recall-floor rule; default search resolves it") {
    // pinned at the measured frontier cell counts (SCALING.md r7): the
    // ⌈2√cells⌉ band that held recall@5 ≥ 0.55 across 1×/10×/30×/100×
    assert(Similarity.nprobeFor(45) == 14)
    assert(Similarity.nprobeFor(142) == 24)
    assert(Similarity.nprobeFor(245) == 32)
    assert(Similarity.nprobeFor(448) == 43)
    assert(Similarity.nprobeFor(1415) == 76, "the 1000×/2M-vector point (SCALING.md r7)")
    assert(Similarity.nprobeFor(10) == 8, "floor: small indexes probe ≥8")
    assert(Similarity.nprobeFor(4) == 4, "cap: never more cells than exist")
    assert(Similarity.nprobeFor(1 << 16) == 512, "at the broadcast cap: 512 of 65,536")
    val dir = Files.createTempDirectory("graft-ivfidx-rule").toString
    try {
      IvfIndex.build(emb, dir, "ivxr", nCentroids = 8, seed = Similarity.ResidueSeed)
      val q = emb.filter(col("vec_id") < 5)
      // default nprobe resolves through the rule (8 cells → floor 8)
      val auto = IvfIndex.search(spark, "ivxr", q).collect().toSeq
      val explicit = IvfIndex.search(spark, "ivxr", q,
        nprobe = Similarity.nprobeFor(8)).collect().toSeq
      assert(auto == explicit && auto.nonEmpty)
    } finally drop("ivxr")
  }

  test("maintenance follows the stored bucket spec, not a caller default") {
    val dir = Files.createTempDirectory("graft-ivfidx-bk").toString
    try {
      IvfIndex.build(emb, dir, "ivbk", buckets = 32, nCentroids = 8,
        seed = Similarity.ResidueSeed)
      def stored: Int = graft.operators.BucketedMaintenance
        .storedBuckets(spark, IvfIndex.assignTable("ivbk"))
      assert(stored == 32)
      // default-parameter append must NOT fail the spec-mismatch check
      IvfIndex.assignInto(spark, "ivbk",
        emb.filter(col("vec_id") < 3).select(
          (col("vec_id") + 900100L).as("vec_id"), col("embedding")))
      assert(stored == 32, "append preserved the 32-bucket layout")
      // census-gated rebuild (forced via growthFactor 0) must retrain the
      // MODEL without silently rewriting the physical layout
      assert(IvfIndex.rebuildIfNeeded(spark, "ivbk", dir, growthFactor = 0.0))
      assert(stored == 32, "rebuild preserved the 32-bucket layout")
    } finally drop("ivbk")
  }

  test("search scan bucket-prunes to the probed cells") {
    val dir = Files.createTempDirectory("graft-ivfidx-prune").toString
    try {
      IvfIndex.build(emb, dir, "ivxp", nCentroids = 8, seed = Similarity.ResidueSeed)
      // 3 queries probing 2 cells each → at most 6 of 8 cells touched
      val q = emb.filter(col("vec_id") < 3)
      val res = IvfIndex.search(spark, "ivxp", q, nprobe = 2)
      res.collect()
      val plan = res.queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning in plan:\n$plan")
      val (sel, tot) = (m.get.group(1).toInt, m.get.group(2).toInt)
      assert(sel < tot, s"scan read all $tot buckets — pruning inert")
      assert(sel <= 6, s"probed ≤6 cells but scanned $sel buckets")
    } finally drop("ivxp")
  }

  test("assignInto lands arrivals in the stored model's cells; search sees them") {
    val dir = Files.createTempDirectory("graft-ivfidx-app").toString
    import spark.implicits._
    try {
      val base = emb.filter(col("vec_id") >= 50)
      IvfIndex.build(base, dir, "ivxa", nCentroids = 8, seed = Similarity.ResidueSeed)
      val arrivals = emb.filter(col("vec_id") < 50)
      IvfIndex.assignInto(spark, "ivxa", arrivals)
      // every appended row's cell equals the model's nearestCell verdict
      val cents = spark.table(IvfIndex.modelTable("ivxa"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1).map(_._2)
      val appended = spark.table(IvfIndex.assignTable("ivxa"))
        .join(arrivals.select("vec_id"), "vec_id")
        .select(col("vec_id"), col("cid"), col("embedding"))
        .as[(Long, Int, Array[Float])].collect()
      assert(appended.length == arrivals.count())
      appended.foreach { case (id, cid, v) =>
        assert(cid == Similarity.nearestCell(v, cents)._1, s"vec $id in wrong cell")
      }
      // an exact duplicate of a stored vector must surface as its top match
      val probe = arrivals.limit(1).select(col("vec_id"), col("embedding"))
      val dupId = probe.collect()(0).getLong(0)
      val hits = IvfIndex.search(spark, "ivxa",
          probe.select((col("vec_id") + 999999L).as("vec_id"), col("embedding")))
        .filter(col("rk") === 1).collect()
      assert(hits.length == 1 && hits(0).getLong(2) == dupId,
        s"self-duplicate not top hit: ${hits.toSeq}")

      // compaction: appends accreted files; compact returns to one file
      // per bucket with identical search answers and surviving pruning
      val q = emb.filter(col("vec_id") < 10)
      val before = IvfIndex.search(spark, "ivxa", q).collect().toSeq
      val filesBefore = IvfIndex.fileCount(spark, "ivxa")
      IvfIndex.compact(spark, "ivxa", dir)
      val filesAfter = IvfIndex.fileCount(spark, "ivxa")
      assert(filesAfter < filesBefore && filesAfter <= 8, s"$filesBefore -> $filesAfter")
      val after = IvfIndex.search(spark, "ivxa", q)
      assert(after.collect().toSeq == before)
      val plan = after.queryExecution.executedPlan.toString
      assert("SelectedBucketsCount: (\\d+) out of".r.findFirstMatchIn(plan).isDefined, plan)
      // assignInto AFTER compact must follow the catalog to the new dir
      val preCount = spark.table(IvfIndex.assignTable("ivxa")).count()
      IvfIndex.assignInto(spark, "ivxa",
        probe.select((col("vec_id") + 5555555L).as("vec_id"), col("embedding")))
      assert(spark.table(IvfIndex.assignTable("ivxa")).count() == preCount + 1)

      // rebuild policy: the 8-cell model is far under cellsFor(n)≈21, so
      // the growth census trips; the rebuild retrains from the stored
      // index (post-compact — exercises the canonical-path re-pin) and the
      // refreshed model serves searches
      assert(IvfIndex.rebuildIfNeeded(spark, "ivxa", dir))
      val cellsNow = spark.table(IvfIndex.modelTable("ivxa")).count()
      assert(cellsNow > 8, s"model not retrained: $cellsNow cells")
      assert(spark.table(IvfIndex.assignTable("ivxa")).count() == preCount + 1)
      assert(IvfIndex.search(spark, "ivxa", q, nprobe = 4).count() > 0)
      // and a fresh census right after does NOT rebuild again
      assert(!IvfIndex.rebuildIfNeeded(spark, "ivxa", dir))
      // the rebuilt index is indistinguishable from a fresh build over the
      // same corpus (training is deterministic given corpus + auto config)
      val freshDir = Files.createTempDirectory("graft-ivfidx-fresh").toString
      try {
        IvfIndex.build(spark.table(IvfIndex.assignTable("ivxa"))
          .select("vec_id", "embedding"), freshDir, "ivxfresh")
        val a = IvfIndex.search(spark, "ivxa", q, nprobe = 4).collect().toSeq
        val b = IvfIndex.search(spark, "ivxfresh", q, nprobe = 4).collect().toSeq
        assert(a == b, s"rebuilt != fresh: ${a.take(3)} vs ${b.take(3)}")
      } finally drop("ivxfresh")
    } finally drop("ivxa")
  }

  test("stored int8 search ≡ ivfSearchInt8; scan never reads the float vectors") {
    val dir = Files.createTempDirectory("graft-ivfidx-i8").toString
    try {
      IvfIndex.build(emb, dir, "ivx8", nCentroids = 8, seed = Similarity.ResidueSeed)
      val got = IvfIndex.searchInt8(spark, "ivx8", emb.filter(col("vec_id") < 50),
        nprobe = 2)
      val rows = got.collect()
      val want = Similarity.ivfSearchInt8(spark, "/root/testdata/sf0.001",
        nCentroids = 8).collect()
      assert(rows.length == want.length && rows.nonEmpty)
      rows.zip(want).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
      // the whole point of the tier: the assignment scan's ReadSchema
      // carries the 64-byte codes, not the float vectors — and it still
      // bucket-prunes
      val plan = got.queryExecution.executedPlan.toString
      val scanLine = plan.linesIterator.filter(_.contains("ivx8_ivfassign"))
        .mkString("\n")
      assert(scanLine.contains("qvec"), s"int8 codes not in scan:\n$scanLine")
      assert(!scanLine.contains("embedding"),
        s"int8 search still reads float vectors:\n$scanLine")
      assert("SelectedBucketsCount: (\\d+) out of".r.findFirstMatchIn(plan).isDefined, plan)
    } finally drop("ivx8")
  }

  test("rerank with a non-biting widen ≡ float search; a biting widen still top-ks") {
    val dir = Files.createTempDirectory("graft-ivfidx-rr").toString
    try {
      IvfIndex.build(emb, dir, "ivxr2", nCentroids = 8, seed = Similarity.ResidueSeed)
      val q = emb.filter(col("vec_id") < 20)
      // widen large enough to keep every candidate → the float re-rank
      // covers the full candidate set → EXACTLY the float search
      val all = IvfIndex.searchRerank(spark, "ivxr2", q, nprobe = 2,
        widen = 100000).collect().toSeq
      val float = IvfIndex.search(spark, "ivxr2", q, nprobe = 2).collect().toSeq
      assert(all == float && all.nonEmpty)
      // a biting widen returns k rows per query with float-exact scores
      // (every emitted cos must appear in the float search's candidate
      // scoring — the int8 stage only SELECTS, never scores the output)
      val bitten = IvfIndex.searchRerank(spark, "ivxr2", q, nprobe = 2,
        widen = 1).collect()
      assert(bitten.nonEmpty && bitten.forall(_.getInt(1) <= 5))
    } finally drop("ivxr2")
  }

  test("adaptive probe: one-chunk cap ≡ fixed search; stability stops paid rounds") {
    val dir = Files.createTempDirectory("graft-ivfidx-adp").toString
    try {
      IvfIndex.build(emb, dir, "ivxad", nCentroids = 8, seed = Similarity.ResidueSeed)
      val q = emb.filter(col("vec_id") < 20)
      // termination-disabled pin: cap = one chunk ≡ the fixed budget
      val oneChunk = IvfIndex.searchAdaptive(spark, "ivxad", q,
        chunk = 2, maxChunks = 1).collect().toSeq
      val fixed2 = IvfIndex.search(spark, "ivxad", q, nprobe = 2).collect().toSeq
      assert(oneChunk == fixed2 && oneChunk.nonEmpty)
      // full-coverage chunk: round 1 probes every cell, round 2 adds
      // nothing → every query goes stable → no round 3/4 is ever bought,
      // and the answer is the exact full-probe search
      val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      val full = IvfIndex.searchAdaptive(spark, "ivxad", q,
        chunk = 8, maxChunks = 4, onRound = (r, n) => rounds += ((r, n)))
        .collect().toSeq
      val fixed8 = IvfIndex.search(spark, "ivxad", q, nprobe = 8).collect().toSeq
      assert(full == fixed8)
      assert(rounds.map(_._1).toSeq == Seq(1, 2),
        s"stability did not stop the paid rounds: $rounds")
      // the oracle config end-to-end (chunk=2, cap 3): per-query budgets
      // may differ, but every emitted row is a real stored neighbor and
      // every query from round 1 answers
      val ad = IvfIndex.searchAdaptive(spark, "ivxad", q, chunk = 2, maxChunks = 3)
        .collect()
      assert(ad.map(_.getLong(0)).distinct.length == 20)
      assert(ad.forall(_.getInt(1) <= 5))
      // window=2 demands TWO consecutive stable rounds: on the
      // full-coverage chunk every query is stable from round 2 on, so
      // w=2 buys exactly one extra confirmation round (1,2,3 — never 4)
      // and still answers with the exact full-probe result
      val rounds2 = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      val fullW2 = IvfIndex.searchAdaptive(spark, "ivxad", q,
        chunk = 8, maxChunks = 4, window = 2,
        onRound = (r, n) => rounds2 += ((r, n))).collect().toSeq
      assert(fullW2 == fixed8)
      assert(rounds2.map(_._1).toSeq == Seq(1, 2, 3),
        s"w=2 should buy exactly one confirmation round past w=1: $rounds2")
    } finally drop("ivxad")
  }

  test("k>1 window top-k plans a partial WindowGroupLimit below the shuffle") {
    // the k>1 path's scale story: Spark's InferWindowGroupLimit must turn
    // `filter(rk <= k)` into a PARTIAL WindowGroupLimit under the
    // exchange, so each map task forwards at most k candidate rows per
    // query instead of shuffling (and reducer-sorting) the whole
    // candidate-pair relation — at 20M vectors that relation is ~1.2B
    // rows per 2,000-query batch. The map side still sorts its own slice
    // (spillable, bounded); what must NOT happen is the full relation
    // crossing the exchange.
    val dir = Files.createTempDirectory("graft-ivfidx-wgl").toString
    try {
      IvfIndex.build(emb, dir, "ivxwgl", nCentroids = 8, seed = Similarity.ResidueSeed)
      val plan = IvfIndex.search(spark, "ivxwgl", emb.limit(10), nprobe = 3, k = 5)
        .queryExecution.executedPlan.toString
      val partials = plan.linesIterator.count(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial"))
      assert(partials >= 1, s"k=5 shuffles the full candidate relation:\n$plan")
    } finally drop("ivxwgl")
  }

  test("k=1 hash arg-max ≡ window top-1 (ties included, self-matches kept)") {
    val dir = Files.createTempDirectory("graft-ivfidx-top1").toString
    try {
      IvfIndex.build(emb, dir, "ivx1", nCentroids = 8, seed = Similarity.ResidueSeed)
      val q = emb.filter(col("vec_id") < 30)
      // excludeSelf = false makes every query tie-break at cos 1 against
      // its own stored copy — the hardest ordering case for the arg-max
      val top1 = IvfIndex.search(spark, "ivx1", q, nprobe = 3, k = 1,
        excludeSelf = false).collect().toSeq
      val viaWindow = IvfIndex.search(spark, "ivx1", q, nprobe = 3, k = 5,
          excludeSelf = false)
        .filter(col("rk") === 1).collect().toSeq
      assert(top1 == viaWindow && top1.nonEmpty)
      // and the plan really is a FIXED-WIDTH hash aggregate, not a window
      // sort and not ObjectHashAggregate (whose 128-key fallback sorts
      // the candidate-pair input — the 20M-probe disk-fill; ArgMaxBestSpec
      // pins the aggregate itself)
      val plan = IvfIndex.search(spark, "ivx1", q, nprobe = 3, k = 1,
        excludeSelf = false).queryExecution.executedPlan.toString
      assert(plan.contains("HashAggregate"), s"k=1 demoted from hash agg:\n$plan")
      assert(!plan.contains("ObjectHashAggregate"), s"k=1 on the object-buffer path:\n$plan")
      assert(!plan.contains("Window"), s"k=1 still windows:\n$plan")
    } finally drop("ivx1")
  }
}
