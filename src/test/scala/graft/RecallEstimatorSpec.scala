package graft

import graft.operators.{IvfIndex, RecallEstimator, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The planted-panel recall estimator must agree with exact brute-force
  * ground truth wherever both are computable — that equivalence is what
  * licenses its use past the exact-baseline cap (DeepScaleProbe `plant`, last
  * in commit 7edabe5, tier at 5M/10M/20M vectors). */
class RecallEstimatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")
    .select("vec_id", "embedding")

  test("planted cosines land in the designed band, above the natural ceiling") {
    val p = RecallEstimator.panel(nQueries = 20)
    assert(p.truth.size == 20 && p.plantedSet.size == 100)
    p.truth.foreach { case (q, ns) =>
      assert(ns.length == 5, s"query $q: ${ns.length} planted")
      // ε ∈ [0.2, 0.6] → cos ≈ 1/√(1+ε²) ∈ [0.857, 0.981], ± the v·u term
      ns.foreach { case (_, c) => assert(c > 0.78 && c < 0.999, s"q$q cos $c") }
    }
    val ceiling = RecallEstimator.naturalCeiling(emb, p)
    val margin = p.minPlantedCos - ceiling.values.max
    assert(margin > 0.1,
      s"margin $margin: planted ${p.minPlantedCos} vs natural ${ceiling.values.max}")
  }

  test("exact top-5 over the planted corpus IS the planted set (margin positive)") {
    val p = RecallEstimator.panel(nQueries = 20)
    val corpus = RecallEstimator.plantedCorpus(emb, p)
    val exact = RecallEstimator.exactTopK(corpus, p, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(exact == p.plantedSet,
      s"diff: +${(exact -- p.plantedSet).take(5)} -${(p.plantedSet -- exact).take(5)}")
  }

  test("index recall vs exact truth ≡ recall vs planted truth") {
    val tmp = Files.createTempDirectory("graft-replant").toString
    val tag = "replant"
    try {
      val p = RecallEstimator.panel(nQueries = 20)
      val corpus = RecallEstimator.plantedCorpus(emb, p)
      IvfIndex.build(corpus, tmp, tag, nCentroids = 8, seed = Similarity.ResidueSeed)
      val results = IvfIndex.search(spark, tag, p.queries(spark), nprobe = 2)
      val got = results.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = RecallEstimator.exactTopK(corpus, p, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val recallExact = (got & exact).size.toDouble / exact.size
      val recallPlanted = RecallEstimator.recallAgainst(p, results)
      assert(recallExact == recallPlanted,
        s"exact $recallExact vs planted $recallPlanted")
      assert(recallPlanted >= 0.0 && recallPlanted <= 1.0)
    } finally Seq(IvfIndex.modelTable(tag), IvfIndex.assignTable(tag))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("synthetic queries keep the ceiling flat under block replication") {
    // the reason the panel queries are out-of-corpus: a corpus query's
    // sign-masked replicas push the cross-block ceiling up with the block
    // count (measured 0.51 → 0.64 at 30× already), while for a synthetic
    // query every corpus vector — replica or not — is a random-pair
    // cosine. 3× replica: ceiling must grow only marginally.
    import graft.tools.ScaleCorpus
    val gen = Files.createTempDirectory("graft-replica3").toString
    ScaleCorpus.generateEmbeddings(spark, dir, 3, gen.toString)
    val rep = spark.read.parquet(s"$gen/embeddings.parquet")
      .select("vec_id", "embedding")
    val p = RecallEstimator.panel(nQueries = 10)
    val base = RecallEstimator.naturalCeiling(emb, p)
    val deep = RecallEstimator.naturalCeiling(rep, p)
    base.foreach { case (q, c) =>
      assert(deep(q) >= c - 1e-12, s"q$q: deep ${deep(q)} < base $c (superset)")
    }
    assert(deep.values.max < p.minPlantedCos - 0.1,
      s"margin collapsed on 3×: ceiling ${deep.values.max} vs planted ${p.minPlantedCos}")
  }

  test("block-stratum truth ≡ quadratic truth over the REAL generator's replica") {
    import spark.implicits._
    // write a 4-block replica with the actual generator (hand-building
    // the replica here once hid a 0-vs-1-based mask-index mismatch that
    // only the on-disk corpus could expose), then compare the factorized
    // truth against plain brute force over what is actually stored
    val blocks = 4
    val stride = graft.tools.ScaleCorpus.BlockStride
    val base = emb.as[(Long, Array[Float])].collect()
    val out = Files.createTempDirectory("graft-bstrat").toString
    graft.tools.ScaleCorpus.generateEmbeddings(spark, dir, blocks, out)
    val replicated = spark.read.parquet(s"$out/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toSeq
    val qids = (0L until 10L).toSeq
    val got = RecallEstimator.blockStratumTopK(emb, qids, blocks, stride, 5,
      graft.tools.ScaleCorpus.sign)
    // quadratic reference with the same (cos DESC, id ASC) tie-break
    val qv = base.filter(r => qids.contains(r._1)).toMap
    val want = qids.map { q =>
      val (vq, nq) = (qv(q), Similarity.normP(qv(q)))
      q -> replicated.filter(_._1 != q)
        .map { case (id, v) => (id, Similarity.dotP(vq, v) / (nq * Similarity.normP(v))) }
        .sortBy { case (id, c) => (-c, id) }.take(5).toSeq
    }.toMap
    assert(got.view.mapValues(_.map(_._1)).toMap
      == want.view.mapValues(_.map(_._1)).toMap)
    // cosines match bit-for-bit (sign masks are float-exact)
    qids.foreach { q =>
      got(q).zip(want(q)).foreach { case ((gi, gc), (wi, wc)) =>
        assert(gi == wi && gc == wc, s"q$q: ($gi,$gc) vs ($wi,$wc)")
      }
    }
  }
}
