package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inverted multi-index (IMI) — the two-level quantizer the flat-IVF
  * broadcast-model guard points at ([[Similarity.MaxCentroids]]).
  *
  * A flat IVF at 10¹⁰ vectors wants √n ≈ 10⁵ cells — beyond the 2¹⁶
  * broadcast-model cap (the centroid table stops being a shippable task
  * closure). The IMI (Babenko & Lempitsky, CVPR 2012) takes the PRODUCT of
  * two independent sub-quantizers over the two halves of the vector:
  * k1 cells per half → k1² effective cells from a model of only 2·k1
  * half-width rows. k1 = 2¹⁰ gives ~10⁶ cells from a 0.5 MB model; the
  * per-query candidate volume scales with n/k1², restoring the
  * sub-linear-index property far past the flat cap.
  *
  * Everything is deterministic (per-half residue seeds + unrolled Lloyd
  * rounds — the exact discipline of the flat-IVF oracles) so BOTH queries
  * carry full DuckDB oracles: `q_imi_assign` (the product assignment) and
  * `q_imi_search` (multi-probe search over product cells, ranked by the
  * ADDITIVE property d(v, cell(i,j)) = dL(vL, ci) + dR(vR, cj) — the IMI's
  * core trick: ranking k1² cells costs 2·k1 half-distance evaluations, not
  * k1² full ones).
  *
  * Scale shape: models broadcast (2·k1 half-rows); assignment is a narrow
  * zero-shuffle kernel; search candidates travel through one equi-join on
  * cell_id. The persistent deployment form is [[ImiIndex]] — the same
  * bucketed/bucket-pruned catalog shape as [[IvfIndex]], with `cell_id`
  * as the bucket column and the stored path oracled by `q_imi_indexed`. */
object Imi {

  val HalfDim: Int = Similarity.Dim / 2

  /** Auto k1 for a corpus of n vectors: product cell count k1² tracks the
    * flat rule's √n target ([[Similarity.cellsFor]]), so k1 = ⌈n^¼⌉ —
    * same per-query candidate volume (≈ nprobe·√n) from a model of only
    * 2·⌈n^¼⌉ half-rows. Uncapped where cellsFor clamps at 2¹⁶: at
    * n = 10¹⁰, k1 = 317 → ~10⁵ product cells from a 159 KB model — the
    * regime the flat broadcast guard refuses. */
  def k1For(n: Long): Int = {
    require(n > 0, s"k1For($n): need a positive corpus size")
    math.max(1L, math.ceil(math.sqrt(math.sqrt(n.toDouble))).toLong).toInt
  }

  /** Train the two half-space quantizers (residue seed — SQL-expressible,
    * both oracles unroll it — over each half's dims). */
  def models(base: DataFrame, k1: Int, iters: Int = Similarity.LloydIters)
  : (Array[Array[Double]], Array[Array[Double]]) = {
    // the two half-chains are independent Lloyd sequences; r14 overlapped
    // them as two future chains (2·(1+iters) jobs), r15 batches them into
    // ONE chain (1+iters jobs — the Pq.train discipline, verdict item 4).
    // Same per-half arithmetic: see trainedSubspaceCodebooks.
    val books = Similarity.trainedSubspaceCodebooks(
      base.select(col("vec_id"), col("embedding")), m = 2, k = k1, iters,
      HalfDim, Seq(0, HalfDim))
    (books(0), books(1))
  }

  /** Product-cell id of `v` under the two half-models:
    * `cell_id = cell_l · k1 + cell_r` — the one shared assignment kernel
    * ([[assign]], [[search]], [[ImiIndex]]). */
  private[graft] def cellIdOf(v: Array[Float], cl: Array[Array[Double]],
                              cr: Array[Array[Double]], k1: Int): Long = {
    val l = Similarity.nearestCell(v.take(HalfDim), cl)._1
    val r = Similarity.nearestCell(v.drop(HalfDim), cr)._1
    l.toLong * k1 + r
  }

  /** Product-cell assignment: `cell_id = cell_l · k1 + cell_r`. */
  def assign(spark: SparkSession, dir: String, k1: Int = 0,
             iters: Int = Similarity.LloydIters): DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val kk = if (k1 == 0) k1For(base.count()) else k1
    val (cl, cr) = models(base, kk, iters)
    // sort below the half-argmin kernel; training reads the unsorted base
    // (PERF.md r10 sampler note)
    base.orderBy("vec_id").as[(Long, Array[Float])]
      .map { case (id, v) =>
        val l = Similarity.nearestCell(v.take(HalfDim), cl)._1
        val r = Similarity.nearestCell(v.drop(HalfDim), cr)._1
        (id, l, r, l.toLong * kk + r)
      }
      .toDF("vec_id", "cell_l", "cell_r", "cell_id")
  }

  /** Reference cell ranking: materialize all k1² (dsum, cell_id) pairs and
    * sort — O(k1² log k1²) per query, fine to k1 ≈ 2⁸ (65k pairs), the
    * memory wall past it (k1 = 2¹⁰ → 10⁶ pairs PER QUERY in a flatMap).
    * Kept as the differential oracle for [[rankCellsWalk]] (ImiSpec pins
    * walk ≡ sort on every config including ties); the walk is the
    * production path. */
  private[graft] def rankCellsSort(dl: Array[Double], dr: Array[Double],
                                   k1: Int, nprobe: Int): Array[Long] = {
    val pairs = new Array[(Double, Long)](k1 * k1)
    var i = 0
    while (i < k1) {
      var j = 0
      while (j < k1) {
        pairs(i * k1 + j) = (dl(i) + dr(j), i.toLong * k1 + j)
        j += 1
      }
      i += 1
    }
    // (dsum ASC, cell_id ASC) — the oracle's pinned tie-break
    pairs.sorted.take(math.min(pairs.length, math.max(1, nprobe))).map(_._2)
  }

  /** Multi-sequence walk (Babenko & Lempitsky §3.1): enumerate product
    * cells lazily in (dsum ASC, cell_id ASC) order WITHOUT materializing
    * the k1² pair array — the enumeration that makes k1 = 2¹⁰ real
    * (10⁶ cells ranked from two sorted 1,024-entry half-lists, touching
    * O(nprobe) heap entries per query instead of 10⁶ sorted pairs).
    *
    * Each half's (distance, cid) list is sorted ascending; a min-heap
    * seeded at position (0,0) pops the cheapest unvisited position and
    * pushes its two successors — additivity makes successors never
    * cheaper, so pops are nondecreasing in dsum. EXACT tie parity with
    * the sort (and the DuckDB `row_number` oracle): equal-dsum cells are
    * drained as a GROUP (draining expands successors, which can add more
    * equal-dsum members — the loop re-checks the heap head), sorted by
    * cell_id, emitted in order, and only then truncated to nprobe. */
  private[graft] def rankCellsWalk(dl: Array[Double], dr: Array[Double],
                                   k1: Int, nprobe: Int): Array[Long] = {
    val want = math.min(k1.toLong * k1, math.max(1, nprobe).toLong).toInt
    val sl = Array.tabulate(k1)(i => (dl(i), i)).sorted
    val sr = Array.tabulate(k1)(j => (dr(j), j)).sorted
    def cellOf(pi: Int, pj: Int): Long = sl(pi)._2.toLong * k1 + sr(pj)._2
    def dsumOf(pi: Int, pj: Int): Double = sl(pi)._1 + sr(pj)._1
    implicit val ord: Ordering[(Double, Long, Int, Int)] =
      Ordering.by[(Double, Long, Int, Int), (Double, Long)](e => (e._1, e._2)).reverse
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long, Int, Int)]
    val seen = scala.collection.mutable.HashSet.empty[Long]
    def push(pi: Int, pj: Int): Unit =
      if (pi < k1 && pj < k1 && seen.add(pi.toLong * k1 + pj))
        heap.enqueue((dsumOf(pi, pj), cellOf(pi, pj), pi, pj))
    push(0, 0)
    val out = new scala.collection.mutable.ArrayBuffer[Long](want)
    while (out.length < want && heap.nonEmpty) {
      val (d0, c0, pi0, pj0) = heap.dequeue()
      val group = scala.collection.mutable.ArrayBuffer(c0)
      push(pi0 + 1, pj0); push(pi0, pj0 + 1)
      // drain the whole equal-dsum tie group before emitting: a member's
      // successors can tie too, so the head re-check happens per pop
      while (heap.nonEmpty && heap.head._1 == d0) {
        val (_, c, pi, pj) = heap.dequeue()
        group += c
        push(pi + 1, pj); push(pi, pj + 1)
      }
      out ++= group.sorted
    }
    out.take(want).toArray
  }

  /** Multi-probe search over product cells. Per query: 2·k1 half-distance
    * evaluations rank the best cells additively ([[rankCellsWalk]] — the
    * lazy multi-sequence enumeration; [[rankCellsSort]] is the spec's
    * differential reference); the `nprobe` best cells' members are
    * exact-scored; top-k by cosine. With nprobe = k1² it degenerates to
    * exact [[Similarity.topK]] (spec-pinned — the same whole-pipeline
    * invariant the flat IVF carries). */
  def search(spark: SparkSession, dir: String, k1: Int = 0, nprobe: Int = 4,
             k: Int = 5, nQueries: Int = 50,
             iters: Int = Similarity.LloydIters): DataFrame =
    searchOn(spark.read.parquet(s"$dir/embeddings.parquet"),
      k1, nprobe, k, nQueries, iters)

  /** [[search]] with the seeded rotation ahead of the half-split —
    * geometry is preserved (orthogonal), only the cell structure moves. */
  def searchRot(spark: SparkSession, dir: String, k1: Int = 0, nprobe: Int = 4,
                k: Int = 5, nQueries: Int = 50, seed: Long = RotSeed,
                iters: Int = Similarity.LloydIters): DataFrame =
    searchOn(rotated(spark.read.parquet(s"$dir/embeddings.parquet"), seed),
      k1, nprobe, k, nQueries, iters)

  def searchOn(emb: DataFrame, k1: Int, nprobe: Int, k: Int,
               nQueries: Int, iters: Int = Similarity.LloydIters): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    val kk = if (k1 == 0) k1For(base.count()) else k1
    val (cl, cr) = models(base, kk, iters)
    val assigned = base.as[(Long, Array[Float])]
      .map { case (id, v) => (id, cellIdOf(v, cl, cr, kk), v, Similarity.normP(v)) }
      .toDF("vec_id", "cell_id", "vec", "nrm")
    val probes = base.filter(col("vec_id") < nQueries).as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val vl = v.take(HalfDim); val vr = v.drop(HalfDim)
        val dl = Array.tabulate(kk)(i => Similarity.dist2P(vl, cl(i)))
        val dr = Array.tabulate(kk)(j => Similarity.dist2P(vr, cr(j)))
        rankCellsWalk(dl, dr, kk, nprobe).iterator
          .map(cell => (id, cell, v, Similarity.normP(v)))
      }
      .toDF("query_id", "cell_id", "vq", "nq")
    val scored = probes.join(assigned, "cell_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("vq"), col("nq"), col("vec"), col("nrm"))
      .as[(Long, Long, Array[Float], Double, Array[Float], Double)]
      .map { case (q, nb, vq, nq, vn, nn) =>
        (q, nb, Similarity.dotP(vq, vn) / (nq * nn))
      }
      .toDF("query_id", "neighbor_id", "cos")
    IvfIndex.topKScored(scored, k)
  }

  // --- Half-decorrelating rotation (the OPQ idea, cheap form) ----------
  //
  // The IMI's zero-recall-tax result on the standard corpus family is
  // product quantization's BEST case: the two halves are weakly
  // correlated. Adversarially correlated halves (e.g. right = copy of
  // left) collapse the populated product cells toward the diagonal —
  // k1² cells behave like k1 — and the multi-probe budget buys far less
  // (measured by ImiAdversarialProbe, last in commit 7edabe5; SCALING.md). The
  // standard public fix (Ge et al., CVPR 2013 "Optimized Product Quantization";
  // the cheap seeded form is the randomized Hadamard transform of
  // Ailon–Chazelle 2006) rotates the space ahead of the half-split so
  // each half sees a global mix of dimensions.
  //
  // R = H·D/√dim with H the ±1 Walsh–Hadamard matrix
  // (H[i][j] = (−1)^popcount(i∧j), 0-indexed) and D a seeded diagonal of
  // ±1 — orthogonal, so L2/cosine geometry is preserved, and every entry
  // is SQL-expressible (bit_count + a 64-literal sign list), which keeps
  // the rotated oracles TOTAL. The kernel accumulates in ascending-j
  // doubles, divides by √dim (exact: 8 for dim 64), rounds to float —
  // bit-identical to the oracle's list_sum/CAST(REAL) discipline.

  /** Seeded ±1 diagonal for the rotation. */
  def rotSigns(seed: Long, dim: Int = Similarity.Dim): Array[Double] =
    Array.tabulate(dim) { i =>
      var z = seed * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      if (z > 0) 1.0 else -1.0
    }

  /** Rotate one vector: w_i = Σ_j (−1)^popcount(i∧j) · s_j · v_j / √dim.
    * Ascending-j double accumulation — the pinned oracle order. */
  /** H[i][j] = (−1)^popcount(i∧j) is a Hadamard (orthogonal) matrix ONLY
    * when dim is a power of two — a square non-power like 36 would pass a
    * perfect-square check yet produce a non-orthogonal transform, silently
    * breaking the geometry-preservation invariant (advisor r8). The oracle
    * additionally divides by √dim as an exact literal, so dim must be an
    * EVEN power of two (4^k): both conditions checked here and mirrored in
    * [[rotCteSql]]. */
  private[graft] def requireHadamardDim(d: Int): Unit = {
    require(d > 0 && (d & (d - 1)) == 0,
      s"Hadamard rotation needs a power-of-two dim, got $d")
    val root = math.sqrt(d.toDouble)
    require(root == math.rint(root),
      s"the rotation oracle needs an exact integer sqrt(dim) (dim = 4^k), got $d")
  }

  private[graft] def rotateP(v: Array[Float], signs: Array[Double]): Array[Float] = {
    val d = v.length
    requireHadamardDim(d)
    val root = math.sqrt(d.toDouble)
    Array.tabulate(d) { i =>
      var acc = 0.0
      var j = 0
      while (j < d) {
        val h = if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0
        acc += h * signs(j) * v(j).toDouble
        j += 1
      }
      (acc / root).toFloat
    }
  }

  /** Rotated view of a (vec_id, embedding) relation. */
  def rotated(base: DataFrame, seed: Long): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val signs = rotSigns(seed)
    base.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) => (id, rotateP(v, signs)) }
      .toDF("vec_id", "embedding")
  }

  /** SQL mirror of [[rotated]] as a CTE PAIR (default: named `rot`, over
    * `embeddings`; a `<name>_hm` helper carries the matrix literal).
    * `src`/`name` generalize it to rotate any (vec_id, embedding)
    * relation — the residual-PQ oracle rotates the residual relation with
    * the SAME transform the corpus gets.
    *
    * Oracle-cost discipline (round 12): the first form computed
    * H[i][j]·D[j] per element with nested `list_transform` lambdas —
    * ~12 µs/element in DuckDB, 25 s for 500×64² at sf0.01, and the CTE was
    * re-INLINED at every reference (the Lloyd chains reference their
    * source ~20×), which made the three `*_rot` oracles 75% of the whole
    * 101-query replay. Now the ±1 matrix H·D is emitted as a LITERAL
    * (seed-resolved in Scala, dim² one-element terms) and each output
    * element is one `list_dot_product` — measured 260× faster and
    * bit-identical on every element (in-order double accumulation, ±1
    * factors exact, /√dim an exact power of two), plus `MATERIALIZED` so
    * the rotation runs once regardless of reference count. */
  def rotCteSql(seed: Long, dim: Int = Similarity.Dim,
                src: String = "embeddings", name: String = "rot"): String = {
    requireHadamardDim(dim)
    val signs = rotSigns(seed, dim)
    val root = math.sqrt(dim.toDouble).toInt
    val mat = (0 until dim).map { i =>
      (0 until dim).map { j =>
        val h = if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0
        if (h * signs(j) > 0) "1.0" else "-1.0"
      }.mkString("[", ", ", "]")
    }.mkString("[", ", ", "]")
    s"""${name}_hm AS (SELECT $mat AS hm),
$name AS MATERIALIZED (
  SELECT vec_id, list_transform(generate_series(1, $dim), i ->
    CAST(list_dot_product(m.hm[i],
      list_transform(embedding, x -> CAST(x AS DOUBLE))) / $root AS FLOAT)) AS embedding
  FROM $src, ${name}_hm m
)"""
  }

  /** [[assign]] with the seeded rotation ahead of the half-split — the
    * adversarial-corpus defense. Cell ids are NOT comparable to the
    * unrotated assignment (different space); geometry (and therefore
    * search results) is, because the rotation is orthogonal. */
  def assignRot(spark: SparkSession, dir: String, k1: Int = 0, seed: Long = RotSeed,
                iters: Int = Similarity.LloydIters): DataFrame = {
    import spark.implicits._
    val base = rotated(spark.read.parquet(s"$dir/embeddings.parquet"), seed)
    val kk = if (k1 == 0) k1For(base.count()) else k1
    val (cl, cr) = models(base, kk, iters)
    // sort above the rotation but below the argmin: the sampler re-runs
    // only the cheap rotation projection; training still reads the same
    // rotated relation it assigns
    base.orderBy("vec_id").as[(Long, Array[Float])]
      .map { case (id, v) =>
        val l = Similarity.nearestCell(v.take(HalfDim), cl)._1
        val r = Similarity.nearestCell(v.drop(HalfDim), cr)._1
        (id, l, r, l.toLong * kk + r)
      }
      .toDF("vec_id", "cell_l", "cell_r", "cell_id")
  }

  /** Default rotation seed (any fixed value works; pinned for oracles). */
  val RotSeed = 7L

  def assignRotSql(k1: Int = 8, seed: Long = RotSeed,
                   iters: Int = Similarity.LloydIters): String = s"""
WITH ${rotCteSql(seed)},
${halfCtes("l_", k1, 0, iters, "rot")}, ${halfCtes("r_", k1, HalfDim, iters, "rot")},
${halfAssign("l_", 0, "rot")}, ${halfAssign("r_", HalfDim, "rot")}
SELECT l.vec_id, CAST(l.cid AS INTEGER) AS cell_l, CAST(r.cid AS INTEGER) AS cell_r,
  CAST(l.cid * $k1 + r.cid AS BIGINT) AS cell_id
FROM l_fin l JOIN r_fin r USING (vec_id)
ORDER BY vec_id
""".trim

  /** Per-half centroid-training CTE chain — [[Similarity.centroidCtes]]
    * with a name prefix and the half's dimension offset (one shared
    * implementation of the Lloyd oracle discipline; drift between the
    * flat and half chains is impossible by construction). */
  private def halfCtes(p: String, k1: Int, off: Int, iters: Int,
                       src: String = "embeddings"): String =
    Similarity.centroidCtes(k1, HalfDim, iters, p, off, src)

  /** Final per-half assignment CTE (`<p>fin`): nearest trained half-cell
    * per vector, (dist2 ASC, cid ASC) tie-break. */
  private def halfAssign(p: String, off: Int,
                         src: String = "embeddings"): String = s"""${p}dd AS (
  SELECT e.vec_id, c.cid,
    list_sum(list_transform(generate_series(1, $HalfDim),
      i -> (CAST(e.embedding[i + $off] AS DOUBLE) - c.centroid[i]) *
           (CAST(e.embedding[i + $off] AS DOUBLE) - c.centroid[i]))) AS dist2
  FROM $src e CROSS JOIN ${p}cent c
), ${p}fin AS (
  SELECT vec_id, cid, dist2 FROM (
    SELECT vec_id, cid, dist2,
      row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS r
    FROM ${p}dd) rr WHERE r = 1
)"""

  def assignSql(k1: Int = 8, iters: Int = Similarity.LloydIters): String = s"""
WITH ${halfCtes("l_", k1, 0, iters)}, ${halfCtes("r_", k1, HalfDim, iters)},
${halfAssign("l_", 0)}, ${halfAssign("r_", HalfDim)}
SELECT l.vec_id, CAST(l.cid AS INTEGER) AS cell_l, CAST(r.cid AS INTEGER) AS cell_r,
  CAST(l.cid * $k1 + r.cid AS BIGINT) AS cell_id
FROM l_fin l JOIN r_fin r USING (vec_id)
ORDER BY vec_id
""".trim

  /** The assignment chain as a REUSABLE `WITH`-body fragment ending in
    * `assign(vec_id, cid)` (product cell id) — the composition point for
    * oracles that verdict OVER the IMI assignment rather than search it
    * (e.g. [[Dedup.semanticDedupImiSql]], semantic dedup past the flat
    * broadcast-model cap). */
  def assignCteSql(k1: Int = 8, iters: Int = Similarity.LloydIters): String =
    s"""${halfCtes("l_", k1, 0, iters)}, ${halfCtes("r_", k1, HalfDim, iters)},
${halfAssign("l_", 0)}, ${halfAssign("r_", HalfDim)}, assign AS (
  SELECT l.vec_id, CAST(l.cid * $k1 + r.cid AS BIGINT) AS cid
  FROM l_fin l JOIN r_fin r USING (vec_id)
)"""

  /** The oracle-side cosine — the one shared pinned expression
    * ([[Similarity.CosineSqlExpr]]). */
  private val CosSql: String = Similarity.CosineSqlExpr

  /** [[searchRot]]'s oracle: the literal search chain over the `rot`
    * CTE — rotation is the only difference, totality is untouched. */
  def searchRotSql(k1: Int = 8, nprobe: Int = 4, k: Int = 5, nQueries: Int = 50,
                   seed: Long = RotSeed,
                   iters: Int = Similarity.LloydIters): String =
    s"WITH ${rotCteSql(seed)}, " +
      searchSql(k1, nprobe, k, nQueries, iters, "rot").stripPrefix("WITH ")

  def searchSql(k1: Int = 8, nprobe: Int = 4, k: Int = 5, nQueries: Int = 50,
                iters: Int = Similarity.LloydIters,
                src: String = "embeddings"): String = s"""
WITH ${halfCtes("l_", k1, 0, iters, src)}, ${halfCtes("r_", k1, HalfDim, iters, src)},
${halfAssign("l_", 0, src)}, ${halfAssign("r_", HalfDim, src)},
assign AS (
  SELECT l.vec_id, l.cid * $k1 + r.cid AS cell_id
  FROM l_fin l JOIN r_fin r USING (vec_id)
), qdl AS (
  SELECT e.vec_id, c.cid,
    list_sum(list_transform(generate_series(1, $HalfDim),
      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) *
           (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))) AS dist2
  FROM $src e CROSS JOIN l_cent c WHERE e.vec_id < $nQueries
), qdr AS (
  SELECT e.vec_id, c.cid,
    list_sum(list_transform(generate_series(1, $HalfDim),
      i -> (CAST(e.embedding[i + $HalfDim] AS DOUBLE) - c.centroid[i]) *
           (CAST(e.embedding[i + $HalfDim] AS DOUBLE) - c.centroid[i]))) AS dist2
  FROM $src e CROSS JOIN r_cent c WHERE e.vec_id < $nQueries
), cells AS (
  SELECT ql.vec_id, ql.cid * $k1 + qr.cid AS cell_id, ql.dist2 + qr.dist2 AS dsum
  FROM qdl ql JOIN qdr qr USING (vec_id)
), probes AS (
  SELECT vec_id AS query_id, cell_id FROM (
    SELECT vec_id, cell_id,
      row_number() OVER (PARTITION BY vec_id ORDER BY dsum ASC, cell_id ASC) AS r
    FROM cells) rr WHERE r <= $nprobe
), cand AS (
  SELECT p.query_id, a2.vec_id AS neighbor_id
  FROM probes p JOIN assign a2 ON a2.cell_id = p.cell_id AND a2.vec_id <> p.query_id
), sims AS (
  SELECT c.query_id, c.neighbor_id, $CosSql AS cos
  FROM cand c
  JOIN $src a ON a.vec_id = c.query_id
  JOIN $src b ON b.vec_id = c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
  FROM sims
)
SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, round(cos, 6) AS cos
FROM ranked WHERE rk <= $k ORDER BY query_id, rk
""".trim
}
