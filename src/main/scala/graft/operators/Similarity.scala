package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`): brute-force
  * cosine as the exact baseline, LSH-bucketed (random hyperplane / SRP) as
  * the scale path, plus an IVF-style coarse quantizer.
  *
  * Performance: dot products are UNROLLED into 64 codegen'd element_at
  * terms instead of `aggregate`/`zip_with` lambdas — higher-order functions
  * evaluate their lambda interpreted per element, which benchmarked ~20×
  * slower at sf0.1 (the unroll keeps the whole pair loop inside
  * whole-stage codegen). Norms are computed once per vector, not per pair.
  * The arithmetic order (left-to-right index sum, dot/(na·nb)) is pinned so
  * the DuckDB oracle reproduces results bit-for-bit before rounding.
  *
  * Scale design: brute force is O(n·q) — the oracle-checkable baseline.
  * SRP-LSH only materializes band-bucket collisions and verifies
  * candidates exactly; candidate id-pairs travel WITHOUT their vectors
  * (embeddings re-join by id afterwards — at 100 TB you broadcast the
  * vector table per bucketed partition or co-partition by id, never carry
  * 256-dim arrays through a distinct).
  */
object Similarity {

  val Dim = 64

  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Unrolled left-to-right dot product in Column algebra — used where the
    * plan supports codegen (IVF distance). NOT used in the pair kernels:
    * BroadcastNestedLoopJoin cannot whole-stage-codegen, so a Column dot
    * under a cross join evaluates interpreted per pair (benchmarked 40 s+
    * at sf0.1 vs <2 s for the primitive kernel below). */
  def dotUnrolled(a: Column, b: Column, dim: Int = Dim): Column =
    (1 to dim).map(i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double"))
      .reduce(_ + _)

  /** Primitive-loop dot product — EXACT arithmetic-order mirror of the
    * oracle (left-to-right double accumulation). */
  private[graft] def dotP(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  private[graft] def normP(a: Array[Float]): Double = math.sqrt(dotP(a, a))

  /** Hard cap on the corpus size the exact O(n²) baselines will broadcast:
    * ~2M × (64 floats + overhead) ≈ 1 GB of driver/executor memory. The
    * brute-force paths are oracle baselines by design — beyond this size
    * the quadratic pair loop is the real blocker, not the broadcast, so
    * failing fast with a pointer to the LSH path is the correct behavior. */
  val MaxExactCorpusRows: Long = 2000000L

  /** Number of derived near-duplicate vectors per base vector in
    * [[augmentedEmb]], and the id stride separating each derived block. */
  val AugCopies = 3
  val AugIdStride = 1000000L

  /** Deterministic near-duplicate augmentation of the embedding corpus:
    * alongside each base vector, [[AugCopies]] derived vectors with ids
    * `vec_id + b·1e6` (b = 1..3) whose dims (2b−1, 2b) are NEGATED.
    * Float negation is a sign-bit flip — EXACT in both engines, so the
    * DuckDB oracle reproduces the corpus bit-for-bit (no rounding hazard).
    * Geometry: cos(base, derived_b) = 1 − 2·r_b where r_b is the vector's
    * squared-mass fraction in the two flipped dims (E[r]=1/32 → cos≈0.94,
    * measured range ≈0.80–0.9998 on this corpus) — a population of TRUE
    * near-neighbors above cos 0.8, which the raw synthetic corpus lacks
    * (its max inter-vector cos is ≈0.51). This is the fixture that lets
    * the high-threshold ANN regime — the regime where SRP banding actually
    * separates signal from noise — be demonstrated and oracled. */
  def augmentedEmb(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select("vec_id", "embedding")
    (1 to AugCopies).foldLeft(base) { (acc, b) =>
      val negDims = Set(2 * b - 1, 2 * b)
      acc.unionAll(base.select(
        (col("vec_id") + lit(b * AugIdStride)).as("vec_id"),
        array((1 to Dim).map { i =>
          val e = element_at(col("embedding"), i)
          if (negDims(i)) (-e).as(s"_$i") else e.as(s"_$i")
        }: _*).as("embedding")))
    }
  }

  /** Corpus snapshot broadcast to executors: (id, vector, norm), sorted by
    * id. The brute-force-kNN shape: the corpus (a dim-table by embedding
    * standards) broadcasts; the probe side streams through mapPartitions in
    * primitive JVM loops. Guarded by [[MaxExactCorpusRows]] — ONLY the
    * documented exact baselines ([[cosinePairs]], [[topK]]) use this; the
    * scale path ([[annPairs]]) verifies via a distributed join instead. */
  private def corpusBroadcast(corpus: DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val df = corpus.select("vec_id", "embedding")
    val n = df.count()
    require(n <= MaxExactCorpusRows,
      s"corpus has $n vectors > $MaxExactCorpusRows: the exact O(n²) baseline does not " +
        "scale there by construction — use Similarity.annPairs (LSH + join verify)")
    val all = df.as[(Long, Array[Float])].collect().sortBy(_._1)
      .map { case (id, v) => (id, v, normP(v)) }
    spark.sparkContext.broadcast(all)
  }

  /** Exact cosine-similarity pairs above a threshold (id_a < id_b),
    * similarity rounded to 6 places. Quadratic — the exact baseline. */
  def cosinePairs(spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame =
    cosinePairsOn(emb(spark, dir), threshold)

  /** [[cosinePairs]] over an explicit corpus (used by the augmented
    * high-threshold baseline `q_cosine_pairs_hi`). */
  def cosinePairsOn(corpus: DataFrame, threshold: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = corpusBroadcast(corpus)
    // SPREAD the probe side (r14 opt; conditional since r15 — ADVICE r14):
    // the corpus parquet is one small file per SF, so the scan (and the
    // 4-way augmented union) gives the quadratic mapPartitions 1–4
    // partitions — a 32-core host ran the O(n²) loop on 4 cores. One
    // round-robin exchange of the (tiny, id+vector) probe rows spreads the
    // dot-product wall across every core; at deployment scale a scan that
    // already yields ≥ defaultParallelism splits passes through with no
    // exchange. Emitted values are per-row, so the result set is identical
    // and the final orderBy pins the output order.
    Partitioning.spread(corpus.select("vec_id", "embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val all = bc.value
        it.flatMap { case (idA, va) =>
          val na = normP(va)
          // primitive index loop (no per-pair iterator/closure/Tuple3
          // allocation on the filtered-out majority); arithmetic is the
          // SAME dotP/normP calls in the same order
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var i = 0
          while (i < all.length) {
            val row = all(i)
            if (row._1 > idA) {
              val c = dotP(va, row._2) / (na * row._3)
              if (c >= threshold) out += ((idA, row._1, c))
            }
            i += 1
          }
          out
        }
      }
      .toDF("id_a", "id_b", "cos")
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .orderBy("id_a", "id_b")
  }

  /** The oracle-side cosine expression between table aliases `a` and `b`
    * (shared by the pair and top-k oracles). */
  private[graft] val CosineSqlExpr: String =
    """list_sum(list_transform(generate_series(1, len(a.embedding)),
      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) /
    (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
     sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""

  def cosinePairsSql(threshold: Double = 0.8): String = s"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, $CosineSqlExpr AS cos
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cos, 6) AS cos
FROM pairs WHERE cos >= $threshold ORDER BY id_a, id_b
""".trim

  /** SQL mirror of [[augmentedEmb]] — float NEGATION is exact in both
    * engines, so the augmented corpus is bit-identical. */
  private val AugSqlCte: String = {
    val blocks = (1 to AugCopies).map { b =>
      s"""UNION ALL
  SELECT vec_id + ${b * AugIdStride} AS vec_id,
    list_transform(generate_series(1, $Dim),
      i -> CASE WHEN i IN (${2 * b - 1}, ${2 * b}) THEN CAST(-embedding[i] AS FLOAT)
           ELSE embedding[i] END) AS embedding
  FROM embeddings"""
    }
    s"""aug AS (
  SELECT vec_id, embedding FROM embeddings
  ${blocks.mkString("\n  ")}
)"""
  }

  /** Oracle for `q_cosine_pairs_hi`: exact pairs over the augmented corpus.
    * Norms precompute per VECTOR (same list_sum(x·x) expression the pair
    * oracle uses inline — identical doubles, established by the
    * q_cosine_pairs hash match) so the quadratic scan does one transform
    * per pair, not three. */
  def cosinePairsHiSql(threshold: Double = 0.8): String = s"""
WITH $AugSqlCte, normed AS (
  SELECT vec_id, embedding,
    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM aug
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    list_sum(list_transform(generate_series(1, len(a.embedding)),
      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
  FROM normed a, normed b WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(cos, 6) AS cos
FROM pairs WHERE cos >= $threshold ORDER BY id_a, id_b
""".trim

  /** Exact brute-force top-k neighbors for the first `nQueries` vectors
    * (deterministic tie-break on neighbor id — identical ordering to the
    * oracle's `ORDER BY cos DESC, neighbor_id ASC` row_number). */
  def topK(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 50): DataFrame = {
    import spark.implicits._
    val bc = corpusBroadcast(emb(spark, dir))
    Partitioning.spread(emb(spark, dir).select("vec_id", "embedding")
      .filter(col("vec_id") < nQueries))
      // same single-file-scan parallelism fix as cosinePairsOn (r14 opt;
      // conditional spread since r15 — ADVICE r14): the nQueries probe
      // rows spread over the cores only when the scan under-splits
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val corpus = bc.value
        it.flatMap { case (q, vq) =>
          val nq = normP(vq)
          corpus.iterator
            .filter(_._1 != q)
            .map { case (idB, vb, nb) => (idB, dotP(vq, vb) / (nq * nb)) }
            .toArray
            .sortBy { case (idB, cos) => (-cos, idB) }
            .take(k)
            .zipWithIndex
            .map { case ((idB, cos), i) => (q, i + 1, idB, cos) }
        }
      }
      .toDF("query_id", "rk", "neighbor_id", "cos")
      .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("cos"), 6).as("cos"))
      .orderBy("query_id", "rk")
  }

  def topKSql(k: Int = 5, nQueries: Int = 50): String = s"""
WITH sims AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $CosineSqlExpr AS cos
  FROM embeddings a, embeddings b
  WHERE a.vec_id < $nQueries AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
  FROM sims
)
SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, round(cos, 6) AS cos
FROM ranked WHERE rk <= $k ORDER BY query_id, rk
""".trim

  // --- scale paths (no SQL oracle; covered by ScalaTest recall checks) --

  /** Fixed pseudo-random ±1 hyperplane components, one set per (band,
    * plane) — splitmix-style integer hash, deterministic. */
  private def planeComps(band: Int, plane: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      var z = ((band * 31 + plane).toLong * 0x9E3779B97F4A7C15L +
        j.toLong * 0xBF58476D1CE4E5B9L)
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      if (z > 0) 1.0 else -1.0
    }

  /** Signed-random-projection band bucket — primitive kernel (the Column
    * form is a 2000+-term expression whose codegen/compile cost dwarfs the
    * 64-flop computation). */
  private def srpBucketP(v: Array[Float], planes: Array[Array[Double]]): Long = {
    var bits = 0L
    var p = 0
    while (p < planes.length) {
      val comps = planes(p)
      var s = 0.0; var i = 0
      while (i < comps.length) { s += v(i).toDouble * comps(i); i += 1 }
      if (s >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  /** ANN pairs via banded SRP-LSH (12 bands × 3 planes): candidate id-pairs
    * from band-bucket collisions (vectors NOT carried through the
    * distinct), then exact cosine verification after re-joining the
    * embedding table — so precision is exact and recall is the banding
    * probability 1−(1−(1−θ/π)³)¹² (≈0.98 at cos 0.45; measured 1.0 on the
    * test corpus in SimilaritySpec).
    *
    * Parameter honesty: SRP banding only separates signal from noise at
    * HIGH thresholds. At cos 0.8 the shipped default (48 bands × 12
    * planes) holds per-pair recall ≥0.958 at the threshold boundary
    * (≈1.0 at the planted-pair mean of 0.93) while random pairs (cos≈0)
    * collide in some band with probability ≈1−(1−0.5¹²)⁴⁸ ≈ 1.2% — the
    * candidate set is ~1% of all pairs, which is what makes LSH beat the
    * exact baseline. At thresholds near 0.45 the collision-probability
    * curves for θ=63° and θ=90° are too close at ANY affordable
    * bands×planes (a 12×3 banding passes ~80% of random pairs), so the
    * candidate set degenerates toward all-pairs: for dense low-threshold
    * search, IVF probing ([[ivfSearch]]) or exact blocking is the right
    * tool instead. Tune with: P(collide) = 1−(1−(1−θ/π)^planes)^bands.
    *
    * Banding defaults to AUTO (`bands = 0`): the corpus is counted once
    * (a metadata-cheap action) and [[bandingFor]] picks the banding whose
    * random-collision noise stays linear in n — SCALING.md measured the
    * old fixed 48×12 default at 3.4× slower WITH less recall at 10×.
    * Pass explicit (bands, planesPerBand) to pin a banding (the oracle
    * query does, so its SQL mirror can embed the plane masks). */
  def annPairs(spark: SparkSession, dir: String, threshold: Double = 0.8,
               dim: Int = Dim, bands: Int = 0, planesPerBand: Int = 0): DataFrame =
    annPairsOn(emb(spark, dir), threshold, dim, bands, planesPerBand)

  /** SRP banding parameters (bands, planesPerBand) for a corpus of `n`
    * vectors at `threshold` — the scale rule SCALING.md's measurement
    * forced into the API: at FIXED banding the random-collision noise
    * floor applies to all C(n,2) pairs, so candidates grow quadratically
    * with the corpus (measured 14.3× time at 10× data; re-banding
    * restored 4.1× with MORE recall).
    *
    * Rule: the per-band collision probability of a pair at angle θ is
    * (1−θ/π)^p; for random pairs (θ≈π/2) it is 2⁻ᵖ. Take the SMALLEST
    * planes-per-band p whose expected random candidates fit the linear
    * budget `noisePerVector · n`, then the closed-form minimum band count
    * restoring `minRecall` at the threshold boundary:
    * b = ⌈ln(1−minRecall) / ln(1−(1−θ/π)ᵖ)⌉.
    *
    * Defaults reproduce the shipped regime: n=8,000 (the 1× augmented
    * corpus) → (46, 12) ≈ the 48×12 default; n=80,000 → (146, 17) ≈ the
    * measured 128×16 rescale. */
  def bandingFor(n: Long, threshold: Double, minRecall: Double = 0.95,
                 noisePerVector: Double = 64.0): (Int, Int) = {
    require(n > 1 && threshold > 0 && threshold < 1 && minRecall > 0 && minRecall < 1,
      s"bandingFor($n, $threshold, $minRecall): need n>1 and probabilities in (0,1)")
    val q = 1.0 - math.acos(threshold) / math.Pi
    val allPairs = n.toDouble * (n - 1) / 2
    (4 to 32).iterator.map { p =>
      val bandHit = math.pow(q, p)
      val b = math.ceil(math.log(1 - minRecall) / math.log(1 - bandHit)).toInt
      val noisePairs = allPairs * (1 - math.pow(1 - math.pow(0.5, p), b))
      (b, p, noisePairs)
    }.collectFirst { case (b, p, noise) if noise <= noisePerVector * n => (b, p) }
      .getOrElse(throw new IllegalArgumentException(
        s"bandingFor($n, $threshold): no banding ≤32 planes meets the noise budget — " +
          "raise noisePerVector or use exact blocking"))
  }

  /** [[annPairs]] over an explicit corpus. `bands = 0` (the default) means
    * AUTO: count the corpus and derive the banding from [[bandingFor]]. */
  def annPairsOn(corpus: DataFrame, threshold: Double = 0.8,
                 dim: Int = Dim, bands: Int = 0, planesPerBand: Int = 0): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require((bands == 0) == (planesPerBand == 0),
      s"annPairsOn: pass both bands and planesPerBand, or neither (auto); got ($bands, $planesPerBand)")
    val (nBands, nPlanes) =
      if (bands == 0) bandingFor(corpus.count(), threshold) else (bands, planesPerBand)
    val planes = Array.tabulate(nBands, nPlanes)((b, p) => planeComps(b, p, dim))
    // band bucket key: 64-bit mix of (band, SRP bits) — 8-byte shuffle rows
    // instead of strings; a collision can only ADD a candidate pair, and
    // every candidate is exact-verified below (same policy as minhash)
    val bucketed = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        Iterator.range(0, nBands).map { b =>
          var h = 0x9E3779B97F4A7C15L * (b + 1)
          h ^= srpBucketP(v, planes(b)) * 0xC2B2AE3D27D4EB4FL
          h = java.lang.Long.rotateLeft(h, 27) * 0x9E3779B97F4A7C15L
          (h, id)
        }
      }
    // pairs generate inside each band bucket; shuffle carries (bucket, id)
    // rows only — vectors never travel
    val candidates = bucketed.groupByKey(_._1).flatMapGroups { (_, it) =>
      val ids = it.map(_._2).toArray.sorted
      for (i <- ids.indices.iterator; j <- Iterator.range(i + 1, ids.length))
        yield (ids(i), ids(j))
    }.distinct().toDF("id_a", "id_b")
    // exact verify: re-join the embedding table on each side's vec_id —
    // plain equi-joins (broadcast or sort-merge, Catalyst's call), then the
    // primitive cosine kernel per candidate row. Nothing touches the
    // driver; vectors only travel for rows that survived the banding.
    // Norms are computed once per VECTOR (before the join fans each vector
    // out to its candidate pairs), not once per pair — the file-header
    // invariant; one dot product per candidate remains.
    val vecs = corpus.select("vec_id", "embedding")
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, normP(v)) }
      .toDF("vec_id", "embedding", "norm")
    candidates
      .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("va"),
        col("norm").as("na")), "id_a")
      .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
        col("norm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("va"), col("vb"), col("na"), col("nb"))
      .as[(Long, Long, Array[Float], Array[Float], Double, Double)]
      .map { case (idA, idB, va, vb, na, nb) => (idA, idB, dotP(va, vb) / (na * nb)) }
      .filter(_._3 >= threshold)
      .toDF("id_a", "id_b", "cos")
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .orderBy("id_a", "id_b")
  }

  /** Full SQL oracle for the SRP-LSH pair query over the augmented corpus
    * — what upgrades q_ann_lsh from `no_oracle` to hash-checked.
    *
    * The planes are deterministic ±1 components ([[planeComps]]), so each
    * plane compresses to a 64-bit sign BITMASK embedded as one BIGINT
    * literal per (band, plane) row — the oracle recomputes every signature
    * bit from the same masks with the same left-to-right double
    * accumulation as [[srpBucketP]] (each term is exactly ±v[i]: ±1.0
    * multiplication is a sign flip, exact in both engines; the
    * list_sum(list_transform(...)) ↔ primitive-loop parity is the one
    * q_cosine_pairs already pins).
    *
    * One deliberate divergence: the engine groups candidates by a 64-bit
    * MIX of (band, bits) while the oracle groups by (band, bits) directly
    * — the mix is injective on the pair unless two distinct (band, bits)
    * keys collide in 64 bits (birthday odds ≈ 10⁻¹¹ on this corpus, and
    * DETERMINISTIC: a collision would fail the gate loudly, not flake). */
  def annPairsSql(threshold: Double = 0.8, bands: Int = 48,
                  planesPerBand: Int = 12, dim: Int = Dim): String = {
    val maskRows = (for { b <- 0 until bands; p <- 0 until planesPerBand } yield {
      val comps = planeComps(b, p, dim)
      val mask = comps.zipWithIndex.foldLeft(0L) {
        case (m, (c, j)) => if (c > 0) m | (1L << j) else m
      }
      s"($b, $p, CAST($mask AS BIGINT))"
    }).mkString(",\n  ")
    s"""
WITH $AugSqlCte, masks(b, p, mask) AS (VALUES
  $maskRows
), sigs AS (
  SELECT e.vec_id, m.b,
    SUM(CASE WHEN list_sum(list_transform(generate_series(1, $dim),
      j -> CAST(e.embedding[j] AS DOUBLE) *
           (CASE WHEN ((m.mask >> (j - 1)) & 1) = 1 THEN 1.0 ELSE -1.0 END))) >= 0
      THEN CAST(1 AS BIGINT) << m.p ELSE CAST(0 AS BIGINT) END) AS bits
  FROM aug e, masks m
  GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT s1.vec_id AS id_a, s2.vec_id AS id_b
  FROM sigs s1 JOIN sigs s2
    ON s1.b = s2.b AND s1.bits = s2.bits AND s1.vec_id < s2.vec_id
), normed AS (
  SELECT vec_id, embedding,
    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM aug
), scored AS (
  SELECT c.id_a, c.id_b,
    list_sum(list_transform(generate_series(1, $dim),
      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
  FROM cand c
  JOIN normed a ON a.vec_id = c.id_a
  JOIN normed b ON b.vec_id = c.id_b
)
SELECT id_a, id_b, round(cos, 6) AS cos
FROM scored WHERE cos >= $threshold ORDER BY id_a, id_b
""".trim
  }

  /** Lloyd iterations applied to the residue-mean seed before any IVF
    * assignment/search. Two rounds move the centroids most of the way to a
    * local optimum on this corpus while keeping the whole computation
    * SQL-expressible unrolled — so q_ivf_assign / q_ivf_search stay FULLY
    * oracled with trained centroids (the round-3 residue cells were
    * arbitrary and made recall meaningless as an ANN signal). */
  val LloydIters = 2

  /** Hard cap on the IVF model size: nCentroids × Dim doubles is collected
    * to the driver and shipped in task closures — 2¹⁶ cells × 64 dims ×
    * 8 B ≈ 34 MB, the upper end of a sane broadcast model. Above it the
    * right structure is a hierarchical (two-level) quantizer, not a bigger
    * flat collect — so the guard fails loudly instead of OOM-ing quietly. */
  val MaxCentroids: Int = 1 << 16

  /** IVF cell count for a corpus of `n` vectors — the scale rule the fixed
    * default lacks (the [[bandingFor]] analog): `√n`, clamped to
    * [1, [[MaxCentroids]]].
    *
    * Why √n: a query probing `nprobe` of `c` cells exact-scores
    * ≈ n·nprobe/c candidates, while each Lloyd round pays n·c distance
    * evaluations; c = √n makes the per-query candidate volume nprobe·√n
    * (sub-linear — the index keeps being an index as n grows) and keeps
    * training one broadcast-model scan per round. At a FIXED c=8, 10⁹
    * vectors probing 2 cells scans a quarter of the corpus per query —
    * measured in SCALING.md's IVF section alongside this rule. */
  def cellsFor(n: Long): Int = {
    require(n > 0, s"cellsFor($n): need a positive corpus size")
    math.min(MaxCentroids.toLong, math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)).toInt
  }

  /** Probe width for a `cells`-cell index — the recall-floor rule the
    * fixed default lacked (measured in IvfNprobeFrontier, last in commit
    * 7edabe5: at fixed nprobe 8 under √n cells, recall@5 fell 0.576 →
    * 0.392 → 0.324 → 0.248
    * across 1×/10×/30×/100× because the probed CELL fraction fell with n).
    * `⌈2·√cells⌉` (floored at 8, capped at cells) holds measured recall@5
    * in a ≥0.55 band across FIVE scale points spanning three decades
    * (0.72 / 0.63 / 0.60 / 0.62 / 0.62 at 1×–1000×, the last through the
    * stored index at 2M vectors — SCALING.md r7 tables, DeepScaleProbe)
    * while the probed fraction still DECAYS
    * as 2/n^(1/4) (0.31 → 0.17 → 0.13 → 0.096): per-query candidate
    * volume n·nprobe/cells ≈ 2·n^(3/4) stays sub-linear, so the index
    * keeps being an index AND keeps its recall as the corpus grows —
    * α fit to the measured frontier, not guessed (α=1.25 measured 0.60 /
    * 0.51 / 0.50 / 0.51 — just under the band at every grown scale). */
  def nprobeFor(cells: Int): Int =
    math.min(cells, math.max(8, math.ceil(2.0 * math.sqrt(cells.toDouble)).toInt))

  /** IVF coarse quantization: assign each vector to the nearest of
    * `nCentroids` Lloyd-trained centroids ([[trainedCentroidArrays]]), emit
    * the assignment + residual norm. Search-time probing then restricts
    * candidates to the query's nearest centroids. Assignment is a NARROW
    * per-row kernel against the broadcast centroid model — zero shuffle
    * (a cross-join + row_number formulation would pay an 8× row blowup
    * plus a per-vector sort shuffle, per scan, for what is arithmetically
    * an argmin). */
  def ivfAssign(spark: SparkSession, dir: String, nCentroids: Int = 0,
                iters: Int = LloydIters, seed: IvfSeed = DefaultSeed): DataFrame = {
    import spark.implicits._
    val base = emb(spark, dir)
    val cells = if (nCentroids == 0) cellsFor(base.count()) else nCentroids
    val cents = trainedCentroidArrays(base, cells, iters, resolveSeed(seed, nCentroids == 0, cells))
    // sort BELOW the argmin kernel (training above reads the unsorted
    // base, so it never pays this exchange): a sort above the kernel
    // makes the range sampler run it twice (PERF.md r10 sampler note)
    base.select(col("vec_id"), col("embedding")).orderBy("vec_id")
      .as[(Long, Array[Float])]
      .map { case (id, v) => val (cid, d2) = nearestCell(v, cents); (id, cid.toLong, d2) }
      .toDF("vec_id", "centroid_id", "dist2")
      .select(col("vec_id"), col("centroid_id"),
        round(sqrt(col("dist2")), 6).as("residual_dist"))
  }

  /** Squared L2 distance, left-to-right accumulation — the arithmetic-order
    * mirror of the oracle's `list_sum(list_transform(...))` distance (the
    * same ulp discipline as [[dotP]]). */
  private[graft] def dist2P(v: Array[Float], c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { val d = v(i).toDouble - c(i); s += d * d; i += 1 }
    s
  }

  /** Nearest cell as (cid, dist2) — strict `<` with ascending cid gives the
    * (dist2 ASC, cid ASC) tie-break every IVF oracle pins. */
  private[graft] def nearestCell(v: Array[Float], cents: Array[Array[Double]]): (Int, Double) = {
    var bestC = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = dist2P(v, cents(c))
      if (d < bestD) { bestD = d; bestC = c }
      c += 1
    }
    (bestC, bestD)
  }

  /** Seeding strategy for [[trainedCentroidArrays]]. */
  sealed trait IvfSeed
  /** vec_id-residue mean seed — SQL-expressible (what every IVF oracle
    * pins), zero extra passes. */
  case object ResidueSeed extends IvfSeed
  /** Deterministic farthest-first traversal (k-means++ with the randomness
    * replaced by max-min distance, k-means||'s oversampling collapsed to a
    * strided sample): seeds are actual data points, each maximally far from
    * the already-chosen set. One extra corpus scan (the strided sample
    * collect) + O(sample × cells × dim) driver arithmetic — bounded by
    * `sampleCap` and the cells guard, NOT by corpus size, so the 100 TB
    * story is unchanged: the model is still a driver-built broadcast.
    * Ties (exact-duplicate points) break to the lowest sample index;
    * sample order is pinned by vec_id, so the seed is fully deterministic. */
  final case class FarthestPointSeed(sampleCap: Int = 1 << 14) extends IvfSeed
  /** Mode-resolved default: the AUTO path (nCentroids=0 → [[cellsFor]])
    * uses [[FarthestPointSeed]] — measured in IvfScaleProbe (r6; last in
    * commit 7edabe5): at equal 2-round cost it lifts recall@5 at both
    * probed scales (1×: 0.552 →
    * 0.576; 10×: 0.360 → 0.408) while extra Lloyd rounds cost 1.5–3× time
    * for smaller gains — EXCEPT past the farthest-first driver guard
    * (4096 cells), where the auto path falls back to [[ResidueSeed]]
    * rather than refusing (the residue seed trains fine to the 2¹⁶
    * broadcast cap; a default must never crash the documented scale
    * path). Explicit-cells callers get [[ResidueSeed]] — the
    * SQL-expressible seed every `q_ivf_*` oracle unrolls. */
  case object DefaultSeed extends IvfSeed

  /** Cells above which [[FarthestPointSeed]]'s driver-side max-min
    * traversal stops being cheap (O(sample × cells × dim)). */
  val MaxFarthestCells = 4096

  /** Training rows per cell for the AUTO-path Lloyd sample
    * ([[lloydTrainSample]]) — the standard IVF practice (sample-trained
    * k-means; the quantizer needs the DENSITY SHAPE of the corpus, not
    * every point, and per-cell statistical error decays as 1/√(rows per
    * cell)). 128/cell keeps centroid estimates tight while decoupling
    * training compute from corpus size. */
  val TrainSamplePerCell = 128

  /** Deterministic hash-stride training sample for the auto (deployment)
    * path: at most ~[[TrainSamplePerCell]]·cells rows, selected by
    * `xxhash64(vec_id) % step == 0` — the same structured-id-proof stride
    * [[FarthestPointSeed]] uses, so the sample is reproducible across
    * runs and sessions. Returns `base` unchanged when the corpus is
    * already within the cap (small corpora train exactly as before).
    *
    * WHY: each Lloyd round is a full nearest-cell pass — n·cells·dim
    * multiply-adds. With [[cellsFor]]'s √n rule that is O(n^1.5) per
    * round: 11 TFLOP/round at 20M vectors (measured as the bulk of the
    * 685 s stored-index build), and at 100 TB it is the difference
    * between "train the quantizer" and "re-score the corpus per round".
    * Sampling bounds training at cells² ·[[TrainSamplePerCell]]·dim —
    * corpus-size-independent; the one remaining full pass is the final
    * assignment, which every vector genuinely needs. Explicit-cells
    * callers (every `q_ivf_*`/gate oracle) never sample — their
    * full-corpus Lloyd stays bit-identical to the unrolled SQL chains. */
  def lloydTrainSample(base: DataFrame, n: Long, cells: Int): DataFrame = {
    val cap = TrainSamplePerCell.toLong * cells
    if (n <= cap) base
    else {
      val step = math.max(1L, (n + cap - 1L) / cap)
      base.filter(pmod(xxhash64(col("vec_id")), lit(step)) === 0)
    }
  }

  private[graft] def resolveSeed(seed: IvfSeed, auto: Boolean,
                                 cells: Int = 1): IvfSeed = seed match {
    case DefaultSeed =>
      if (auto && cells <= MaxFarthestCells) FarthestPointSeed() else ResidueSeed
    case s => s
  }

  /** K-means centroids (indexed by cid) trained with `iters` deterministic
    * Lloyd rounds from the chosen [[IvfSeed]]. Each round: nearest-cell
    * assignment in a narrow kernel against the previous round's broadcast
    * model, then ONE map-side-combining aggregation (64 fixed-width avg
    * columns per cluster — per-group state independent of cluster size).
    * A cluster that loses every member keeps its previous centroid —
    * mirrored by the oracle's COALESCE, so empty cells can't diverge the
    * engines.
    *
    * The model itself is `nCentroids × Dim` doubles — collected and shipped
    * in task closures, the textbook distributed-k-means shape (at 100 TB
    * each round stays one scan + one tiny aggregation; nothing data-sized
    * ever converges on the driver). */
  def trainedCentroidArrays(base: DataFrame, nCentroids: Int,
                            iters: Int = LloydIters,
                            seed: IvfSeed = ResidueSeed,
                            dim: Int = Dim): Array[Array[Double]] = {
    import base.sparkSession.implicits._
    // the model is driver-collected and closure-shipped: bound it loudly
    // (34 MB at the cap) rather than discover the limit as an OOM
    require(nCentroids >= 1 && nCentroids <= MaxCentroids,
      s"IVF model: nCentroids=$nCentroids outside [1, $MaxCentroids] — a flat centroid " +
        "collect beyond the cap stops being a broadcast model; use a two-level quantizer")
    def toModel(rows: Array[org.apache.spark.sql.Row], prev: Array[Array[Double]]): Array[Array[Double]] = {
      val next = prev.clone()
      rows.foreach { r =>
        next(r.getAs[Number]("cid").intValue) =
          Array.tabulate(dim)(i => r.getAs[Double](s"__c${i + 1}"))
      }
      next
    }
    var cents = resolveSeed(seed, auto = false) match {
      case DefaultSeed => throw new IllegalStateException("unreachable: DefaultSeed resolves")
      case ResidueSeed =>
        val avgs = centroidAvgs(dim)
        val seedRows = base.withColumn("cid", pmod(col("vec_id"), lit(nCentroids)))
          .groupBy("cid").agg(avgs.head, avgs.tail: _*).collect()
        // an empty residue class would seed an all-zeros centroid that the
        // oracle's cent0 CTE simply omits — refuse loudly instead of letting
        // the engines diverge on sparse/non-dense vec_id spaces
        require(seedRows.length == nCentroids,
          s"IVF seed: only ${seedRows.length} of $nCentroids vec_id residue classes are populated — " +
            "the id space is too sparse for this cell count; lower nCentroids or densify ids")
        toModel(seedRows, Array.fill(nCentroids)(Array.fill(dim)(0.0)))
      case FarthestPointSeed(sampleCap) =>
        // driver arithmetic is O(sample × cells × dim): bound the cells the
        // same way the broadcast-model guard bounds the collect
        require(nCentroids <= MaxFarthestCells,
          s"FarthestPointSeed: nCentroids=$nCentroids > $MaxFarthestCells — the driver-side " +
            "max-min traversal stops being cheap; use ResidueSeed or a two-level quantizer")
        val n = base.count()
        val cap = math.max(sampleCap, 4 * nCentroids).toLong
        // ceil-divide so the expected sample stays ≤ cap (floor-divide
        // collected up to 2× cap for n just under 2·cap); stride on a HASH
        // of the id, not the id itself — a structured id space (all-odd
        // caller ids, block strides) can leave an id-congruence class
        // near-empty and starve the seed on a healthy corpus
        val step = math.max(1L, (n + cap - 1L) / cap)
        val sample = base.filter(pmod(xxhash64(col("vec_id")), lit(step)) === 0)
          .orderBy("vec_id").select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])].collect().map(_._2)
        require(sample.length >= nCentroids,
          s"FarthestPointSeed: sample of ${sample.length} < $nCentroids cells")
        val chosen = new Array[Array[Double]](nCentroids)
        chosen(0) = sample(0).map(_.toDouble)
        val minD = Array.fill(sample.length)(Double.MaxValue)
        var c = 1
        while (c < nCentroids) {
          val last = chosen(c - 1)
          var best = 0; var bestD = -1.0
          var i = 0
          while (i < sample.length) {
            val d = dist2P(sample(i), last)
            if (d < minD(i)) minD(i) = d
            if (minD(i) > bestD) { bestD = minD(i); best = i }
            i += 1
          }
          chosen(c) = sample(best).map(_.toDouble)
          c += 1
        }
        chosen
    }
    for (_ <- 1 to iters) {
      val model = cents
      val avgs = centroidAvgs(dim)
      cents = toModel(
        base.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
          .map { case (_, v) => (nearestCell(v, model)._1, v) }
          .toDF("cid", "embedding")
          .groupBy("cid").agg(avgs.head, avgs.tail: _*).collect(),
        cents)
    }
    cents
  }

  /** Train `m` INDEPENDENT subspace Lloyd codebooks (residue seed, the
    * oracle-parity mode) over `dsub`-dim slices of `src`'s embedding at
    * `offsets(mi)`, in ONE job chain: the seed is one aggregate over the
    * exploded (mi, slice) rows, and each Lloyd round is one pass
    * computing every subspace's nearest-cell assignment — `1 + iters`
    * jobs total instead of `m · (1 + iters)` (r14 verdict item 4; the
    * r14 futures overlap kept m separate chains and still paid m× the
    * per-job fixed cost).
    *
    * Per-subspace arithmetic is the [[trainedCentroidArrays]] chain's:
    * the same slice floats, the same residue-class seed (`vec_id % k` —
    * identical for every subspace), the same `nearestCell` (dist2 ASC,
    * cid ASC) assignment against the same per-subspace model, the same
    * width-wise `avg` aggregate per (subspace, cell) group with the
    * empty-cell keep rule. Grouping by (mi, cid) instead of per-chain
    * (cid) changes only which reduce task hosts a group — the same class
    * of partial-merge reordering any shuffle re-run exhibits, absorbed by
    * the corpus's round-6 margins exactly like the cross-engine avg
    * (every affected oracle re-checked hash-exact; the 2M-scale recall
    * probes are seed-robust by construction). */
  private[operators] def trainedSubspaceCodebooks(src: DataFrame, m: Int, k: Int,
                                                  iters: Int, dsub: Int,
                                                  offsets: Seq[Int])
  : Array[Array[Array[Double]]] = {
    import src.sparkSession.implicits._
    require(offsets.length == m, s"subspace codebooks: ${offsets.length} offsets for m=$m")
    require(k >= 1 && m * k <= MaxCentroids,
      s"subspace codebooks: m*k=${m * k} outside [1, $MaxCentroids] — the flat model " +
        "collect beyond the cap stops being a broadcast model")
    val avgs = centroidAvgs(dsub)
    def toBooks(rows: Array[org.apache.spark.sql.Row],
                prev: Array[Array[Array[Double]]]): Array[Array[Array[Double]]] = {
      val next = prev.map(_.clone())
      rows.foreach { r =>
        next(r.getAs[Number]("mi").intValue)(r.getAs[Number]("cid").intValue) =
          Array.tabulate(dsub)(i => r.getAs[Double](s"__c${i + 1}"))
      }
      next
    }
    // seed: every subspace shares the vec_id-residue classes, so one
    // exploded aggregate seeds all m codebooks
    val slices = array((0 until m).map(mi =>
      slice(col("embedding"), offsets(mi) + 1, dsub)): _*)
    val seedRows = src
      .select(pmod(col("vec_id"), lit(k)).as("cid"), posexplode(slices).as(Seq("mi", "embedding")))
      .groupBy("mi", "cid").agg(avgs.head, avgs.tail: _*).collect()
    require(seedRows.length == m * k,
      s"subspace seed: only ${seedRows.length} of ${m * k} (subspace, residue) classes are " +
        "populated — the id space is too sparse for this cell count")
    var books = toBooks(seedRows,
      Array.fill(m)(Array.fill(k)(Array.fill(dsub)(0.0))))
    val offArr = offsets.toArray
    for (_ <- 1 to iters) {
      val model = books
      books = toBooks(
        src.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
          .flatMap { case (_, v) =>
            (0 until m).iterator.map { mi =>
              val sub = java.util.Arrays.copyOfRange(v, offArr(mi), offArr(mi) + dsub)
              (mi, nearestCell(sub, model(mi))._1, sub)
            }
          }
          .toDF("mi", "cid", "embedding")
          .groupBy("mi", "cid").agg(avgs.head, avgs.tail: _*).collect(),
        books)
    }
    books
  }

  /** Multi-probe IVF search — the low-threshold / dense-similarity tool
    * the SRP parameter-honesty note points to: rank centroids per query,
    * probe the `nprobe` nearest cells, exact-rank ONLY vectors assigned to
    * probed cells (candidate volume ≈ n·nprobe/nCentroids instead of n),
    * emit top-k by cosine. Deterministic end-to-end (seeded centroids,
    * pinned tie-breaks), so unlike the LSH path it carries a full SQL
    * oracle. With nprobe = nCentroids it degenerates to exact [[topK]] —
    * pinned in SimilaritySpec as a whole-pipeline invariant.
    *
    * Scale shape: centroids broadcast (nCentroids rows); the probe→cell
    * join is an equi-join on cid; vectors travel only for candidate rows.
    * At 100 TB the assignment relation is bucketed by cid so the probe
    * join co-locates. */
  def ivfSearch(spark: SparkSession, dir: String, nCentroids: Int = 0,
                nprobe: Int = 2, k: Int = 5, nQueries: Int = 50,
                iters: Int = LloydIters, seed: IvfSeed = DefaultSeed): DataFrame = {
    // nprobe = 0 → the nprobeFor recall-floor rule (the persistent-index
    // default); the literal 2 stays the signature default for the pinned
    // q_ivf_search oracle family
    import spark.implicits._
    val base = emb(spark, dir)
    val cells = if (nCentroids == 0) cellsFor(base.count()) else nCentroids
    val np = if (nprobe == 0) nprobeFor(cells) else nprobe
    val cand = ivfCandidates(base, cells, np, nQueries, iters, resolveSeed(seed, nCentroids == 0, cells))
    // exact cosine on candidates only — same primitive kernel + norm-once
    // arithmetic as the verified baselines (topK hash-✓ pins the parity)
    val vecs = base.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, normP(v)) }
      .toDF("vid", "vec", "nrm")
    val scored = cand
      .join(vecs.select(col("vid").as("query_id"), col("vec").as("vq"), col("nrm").as("nq")), "query_id")
      .join(vecs.select(col("vid").as("neighbor_id"), col("vec").as("vn"), col("nrm").as("nn")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("vq"), col("vn"), col("nq"), col("nn"))
      .as[(Long, Long, Array[Float], Array[Float], Double, Double)]
      .map { case (q, nb, vq, vn, nq, nn) => (q, nb, dotP(vq, vn) / (nq * nn)) }
      .toDF("query_id", "neighbor_id", "cos")
    IvfIndex.topKScored(scored, k)
  }

  /** Candidate (query_id, neighbor_id) pairs from multi-probe IVF cell
    * assignment — the shared front half of [[ivfSearch]] and
    * [[ivfSearchInt8]]. One narrow kernel pass emits each vector's
    * assignment (its nearest cell) and, for query vectors, the `nprobe`
    * nearest cells — sorted per row in the kernel (≤ nCentroids entries),
    * never through a window: the only shuffle here is the probe→cell
    * equi-join itself. */
  private def ivfCandidates(base: DataFrame, nCentroids: Int, nprobe: Int,
                            nQueries: Int, iters: Int,
                            seed: IvfSeed = ResidueSeed): DataFrame = {
    import base.sparkSession.implicits._
    val cents = trainedCentroidArrays(base, nCentroids, iters, seed)
    val ranked = base.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        val lim = if (id < nQueries) math.max(1, nprobe) else 1
        Array.tabulate(cents.length)(c => (dist2P(v, cents(c)), c))
          .sorted // (dist2 ASC, cid ASC) — the pinned tie-break
          .iterator.take(lim).zipWithIndex
          .map { case ((_, cid), r0) => (id, r0 + 1, cid) }
      }
      .toDF("vec_id", "r", "cid")
    val assign = ranked.filter(col("r") === 1).select(col("vec_id"), col("cid"))
    val probes = ranked.filter(col("vec_id") < nQueries && col("r") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cid"))
    probes.join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
  }

  /** Per-vector int8 quantization kernel — the primitive mirror of
    * [[quantize]]'s column algebra (same scale = max|x|/127, same HALF_UP
    * rounding via BigDecimal — the EXACT mechanism Catalyst's Round applies
    * to doubles; a floor(|x|+0.5) shortcut diverges on values one ulp below
    * a half boundary, where the +0.5 addition rounds up). */
  private[graft] def quantizeVec(v: Array[Float]): Array[Byte] = {
    var m = 0.0; var i = 0
    while (i < v.length) { val a = math.abs(v(i).toDouble); if (a > m) m = a; i += 1 }
    val scale = m / 127.0
    val q = new Array[Byte](v.length)
    if (scale != 0) {
      i = 0
      while (i < v.length) {
        q(i) = java.math.BigDecimal.valueOf(v(i).toDouble / scale)
          .setScale(0, java.math.RoundingMode.HALF_UP).byteValueExact()
        i += 1
      }
    }
    q
  }

  /** Integer dot product over int8 codes — exact (no floating point until
    * the final division), which is what makes the int8 search path
    * hash-oracle-able with zero ulp hazard in the scoring. */
  private[graft] def dotI(a: Array[Byte], b: Array[Byte]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i).toLong * b(i).toLong; i += 1 }
    s
  }

  /** [[ivfSearch]] scored on int8-quantized vectors — the storage leg
    * ([[quantize]]) wired into an actual search path. The per-vector scale
    * CANCELS in cosine (cos(s·qa, t·qb) = cos(qa, qb)), so scoring is pure
    * integer dot products over 64-BYTE codes instead of 256-byte float
    * arrays: 4× less data re-joined and shuffled per candidate, and the
    * scoring arithmetic is exact integers — the whole path carries a full
    * SQL oracle ([[ivfSearchInt8Sql]]), not just a recall spec. Recall vs
    * the float path is pinned in OperatorsSpec (≥0.95 at k=5 probing all
    * cells, where quantization error is the only difference). */
  def ivfSearchInt8(spark: SparkSession, dir: String, nCentroids: Int = 0,
                    nprobe: Int = 2, k: Int = 5, nQueries: Int = 50,
                    iters: Int = LloydIters, seed: IvfSeed = DefaultSeed): DataFrame = {
    import spark.implicits._
    val base = emb(spark, dir)
    val cells = if (nCentroids == 0) cellsFor(base.count()) else nCentroids
    val cand = ivfCandidates(base, cells, nprobe, nQueries, iters, resolveSeed(seed, nCentroids == 0, cells))
    val qvecs = base.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val q = quantizeVec(v)
        (id, q, math.sqrt(dotI(q, q).toDouble))
      }
      .toDF("vid", "qvec", "qnrm")
    val scored = cand
      .join(qvecs.select(col("vid").as("query_id"), col("qvec").as("qa"), col("qnrm").as("na")), "query_id")
      .join(qvecs.select(col("vid").as("neighbor_id"), col("qvec").as("qb"), col("qnrm").as("nb")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("qa"), col("qb"), col("na"), col("nb"))
      .as[(Long, Long, Array[Byte], Array[Byte], Double, Double)]
      .map { case (q, nb, qa, qb, na, nbn) =>
        val d = dotI(qa, qb)
        (q, nb, if (na == 0 || nbn == 0) 0.0 else d.toDouble / (na * nbn))
      }
      .toDF("query_id", "neighbor_id", "cos")
    IvfIndex.topKScored(scored, k)
  }

  /** The Lloyd-training CTE chain, unrolled for `iters` rounds — shared by
    * the IVF oracles. `cent0` is the residue-mean seed; each round t
    * assigns on (dist2, cid) tie-breaks and recomputes per-cluster
    * dimension means, COALESCE-ing empty clusters to their previous
    * centroid exactly like [[trainedCentroidArrays]]. The final alias is
    * always `cent`. */
  /** Lloyd-training CTE chain. `p` prefixes every CTE name (so two chains
    * — e.g. the IMI's left/right halves — coexist in one WITH clause) and
    * `off` offsets the embedding index (`embedding[i + off]` — the IMI's
    * right half). With the defaults the emitted SQL is exactly the flat
    * chain the q_ivf_* oracles have always pinned. */
  private[graft] def centroidCtes(nCentroids: Int, dim: Int, iters: Int,
                                  p: String = "", off: Int = 0,
                                  src: String = "embeddings"): String = {
    def ix(v: String): String = if (off == 0) v else s"($v + $off)"
    val sb = new StringBuilder(s"""${p}ex AS (
  SELECT ((vec_id % $nCentroids) + $nCentroids) % $nCentroids AS cid, i, CAST(embedding[${ix("i")}] AS DOUBLE) AS x
  FROM $src, generate_series(1, $dim) AS gs(i)
), ${p}cm0 AS (
  SELECT cid, i, avg(x) AS c FROM ${p}ex GROUP BY cid, i
), ${p}cent0 AS (
  SELECT cid, list(c ORDER BY i) AS centroid FROM ${p}cm0 GROUP BY cid
)""")
    for (t <- 1 to iters) {
      sb ++= s""", ${p}d$t AS (
  SELECT e.vec_id, c.cid,
    list_sum(list_transform(generate_series(1, $dim),
      i -> (CAST(e.embedding[${ix("i")}] AS DOUBLE) - c.centroid[i]) *
           (CAST(e.embedding[${ix("i")}] AS DOUBLE) - c.centroid[i]))) AS dist2
  FROM $src e CROSS JOIN ${p}cent${t - 1} c
), ${p}asg$t AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS r
    FROM ${p}d$t) rr WHERE r = 1
), ${p}cm$t AS (
  SELECT a.cid, gs.i, avg(CAST(e.embedding[${ix("gs.i")}] AS DOUBLE)) AS c
  FROM ${p}asg$t a JOIN $src e USING (vec_id), generate_series(1, $dim) AS gs(i)
  GROUP BY a.cid, gs.i
), ${p}cent$t AS (
  SELECT p.cid, COALESCE(n.centroid, p.centroid) AS centroid
  FROM ${p}cent${t - 1} p LEFT JOIN (
    SELECT cid, list(c ORDER BY i) AS centroid FROM ${p}cm$t GROUP BY cid) n USING (cid)
)"""
    }
    sb ++= s", ${p}cent AS (SELECT cid, centroid FROM ${p}cent$iters)"
    sb.toString
  }

  /** The probe/assign/score tail every IVF search oracle shares: assign
    * ALL vectors to the final `cent` model, probe the query vectors'
    * top-`nprobe` cells, exact-cosine the cell-mates, top-k per query.
    * Factored so [[ivfSearchSql]] (full-corpus training) and
    * [[ivfLandingAbsorbSql]] (base-subset training, the assignInto
    * lifecycle) cannot drift tie-breaks or rounding. */
  private def ivfSearchTailSql(nprobe: Int, k: Int, nQueries: Int,
                               dim: Int): String = s"""dist AS (
  SELECT e.vec_id, c.cid,
    list_sum(list_transform(generate_series(1, $dim),
      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) *
           (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))) AS dist2
  FROM embeddings e CROSS JOIN cent c
), rk AS (
  SELECT vec_id, cid,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS r
  FROM dist
), assign AS (
  SELECT vec_id, cid FROM rk WHERE r = 1
), probes AS (
  SELECT vec_id AS query_id, cid FROM rk WHERE r <= $nprobe AND vec_id < $nQueries
), cand AS (
  SELECT p.query_id, a2.vec_id AS neighbor_id
  FROM probes p JOIN assign a2 ON a2.cid = p.cid AND a2.vec_id <> p.query_id
), sims AS (
  SELECT c.query_id, c.neighbor_id, $CosineSqlExpr AS cos
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.query_id
  JOIN embeddings b ON b.vec_id = c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
  FROM sims
)
SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, round(cos, 6) AS cos
FROM ranked WHERE rk <= $k ORDER BY query_id, rk"""

  /** Full relational oracle for [[ivfSearch]] — same trained centroids and
    * distance arithmetic as [[ivfAssignSql]], same probe/assign tie-breaks,
    * same cosine expression as the pair/top-k oracles. */
  def ivfSearchSql(nCentroids: Int = 8, nprobe: Int = 2, k: Int = 5,
                   nQueries: Int = 50, dim: Int = Dim,
                   iters: Int = LloydIters): String = s"""
WITH ${centroidCtes(nCentroids, dim, iters)}, ${ivfSearchTailSql(nprobe, k, nQueries, dim)}
""".trim

  /** Oracle for the landing-zone → IVF absorb lifecycle
    * ([[graft.operators.LandingZone.queryVecAbsorb]]): Lloyd trains on the
    * BASE subset only (what the index held at build time — vec_id %
    * `baseMod` ≠ 0), then every vector — base AND landed — is assigned to
    * that frozen model, which is exactly what build +
    * [[IvfIndex.assignInto]] store. The search tail is byte-shared with
    * [[ivfSearchSql]], so a lost segment, a double absorb (duplicate
    * assignment rows would duplicate `cand` rows), or a drifted
    * tie-break breaks the hash. `base` is MATERIALIZED: centroidCtes
    * references it 1 + 2·iters times and DuckDB re-inlines CTEs per
    * reference. */
  def ivfLandingAbsorbSql(nCentroids: Int = 8, nprobe: Int = 2, k: Int = 5,
                          nQueries: Int = 50, dim: Int = Dim,
                          iters: Int = LloydIters, baseMod: Int = 3): String = s"""
WITH base AS MATERIALIZED (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % $baseMod <> 0
), ${centroidCtes(nCentroids, dim, iters, src = "base")}, ${ivfSearchTailSql(nprobe, k, nQueries, dim)}
""".trim

  /** Width-wise centroid mean: one codegen'd `avg` aggregate per dimension
    * (64 columns), assembled into the centroid array after the agg. Unlike
    * a collect_list + fold, the partial aggregates are fixed-width and
    * combine map-side — per-group state is 64 (sum, count) pairs no matter
    * how many vectors the group holds, so the shape survives 100 TB. */
  private def centroidAvgs(dim: Int = Dim): Seq[Column] =
    (1 to dim).map(i => avg(element_at(col("embedding"), i).cast("double")).as(s"__c$i"))

  /** Symmetric per-vector int8 scalar quantization — the storage leg of
    * the similarity stack: a float32 corpus quantized to int8 is 4×
    * smaller on disk and in shuffle, which at 100 TB is the difference
    * between an ANN index that fits executor memory and one that spills.
    * scale = max|x|/127 per vector; q_i = round(x_i/scale); the query
    * reports the scale, two pinned quantized values (exact-int oracle of
    * the quantizer itself), and the reconstruction RMSE (the quality
    * budget downstream recall specs draw on). Zero vectors quantize to
    * all-zeros with scale 0 (guarded division). Pure column algebra —
    * codegen'd, narrow, scan-speed. */
  def quantize(spark: SparkSession, dir: String): DataFrame = {
    def x(i: Int) = element_at(col("embedding"), i).cast("double")
    val absMax = (1 to Dim).map(i => abs(x(i))).reduce(greatest(_, _))
    def qi(i: Int) = round(x(i) / col("scale"), 0)
    // input-sorted, quantization algebra after (the sampler note)
    emb(spark, dir).orderBy("vec_id")
      .withColumn("scale", absMax / lit(127.0))
      .withColumn("sse", (1 to Dim).map { i =>
        val e = when(col("scale") === 0d, x(i)).otherwise(x(i) - qi(i) * col("scale"))
        e * e
      }.reduce(_ + _))
      .select(col("vec_id"),
        round(col("scale"), 6).as("scale"),
        when(col("scale") === 0d, lit(0d)).otherwise(qi(1)).cast("int").as("q1"),
        when(col("scale") === 0d, lit(0d)).otherwise(qi(Dim / 2)).cast("int").as("q_mid"),
        round(sqrt(col("sse") / Dim), 6).as("rmse"))
  }

  /** Oracle: identical scale/round/reconstruction arithmetic over the
    * unnested embedding (explicit multiply, not pow — ulp parity; the
    * summation-order ulp gap is absorbed by round-after-sqrt, same policy
    * as [[ivfAssignSql]]). */
  def quantizeSql(dim: Int = Dim): String = s"""
WITH scaled AS (
  SELECT vec_id, embedding,
    list_max(list_transform(generate_series(1, $dim),
      i -> abs(CAST(embedding[i] AS DOUBLE)))) / 127.0 AS scale
  FROM embeddings
), err AS (
  SELECT vec_id, scale,
    list_sum(list_transform(generate_series(1, $dim),
      i -> CASE WHEN scale = 0
        THEN CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
        ELSE (CAST(embedding[i] AS DOUBLE) - round(CAST(embedding[i] AS DOUBLE) / scale) * scale)
           * (CAST(embedding[i] AS DOUBLE) - round(CAST(embedding[i] AS DOUBLE) / scale) * scale)
        END)) AS sse,
    CASE WHEN scale = 0 THEN 0
      ELSE CAST(round(CAST(embedding[1] AS DOUBLE) / scale) AS INTEGER) END AS q1,
    CASE WHEN scale = 0 THEN 0
      ELSE CAST(round(CAST(embedding[${dim / 2}] AS DOUBLE) / scale) AS INTEGER) END AS q_mid
  FROM scaled
)
SELECT vec_id, round(scale, 6) AS scale, q1, q_mid,
  round(sqrt(sse / $dim), 6) AS rmse
FROM err ORDER BY vec_id
""".trim

  /** DuckDB oracle for [[ivfAssign]]: same Lloyd-trained centroids
    * ([[centroidCtes]] — seed means, assignment rounds, empty-cluster
    * COALESCE), same squared-distance via explicit (e−c)·(e−c) products
    * (NOT pow — ulp parity with Spark's multiply), same (dist2, cid)
    * tie-break. Double summation order differs between engines at the ulp
    * level only; round(·, 6) after the sqrt absorbs it (see
    * docs/COVERAGE.md §oracles). */
  def ivfAssignSql(nCentroids: Int = 8, dim: Int = Dim,
                   iters: Int = LloydIters): String = s"""
WITH ${centroidCtes(nCentroids, dim, iters)}, dist AS (
  SELECT e.vec_id, c.cid,
    list_sum(list_transform(generate_series(1, $dim),
      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) *
           (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))) AS dist2
  FROM embeddings e CROSS JOIN cent c
), ranked AS (
  SELECT vec_id, cid, dist2,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS rk
  FROM dist
)
SELECT vec_id, cid AS centroid_id, round(sqrt(dist2), 6) AS residual_dist
FROM ranked WHERE rk = 1 ORDER BY vec_id
""".trim

  /** Full relational oracle for [[ivfSearchInt8]]: the [[centroidCtes]]
    * training chain, the same probe/assign CTEs as [[ivfSearchSql]], then
    * integer-dot scoring over HALF_UP-quantized codes (DuckDB `round` and
    * the Scala kernel round identically — established by q_quantize's hash
    * match). */
  def ivfSearchInt8Sql(nCentroids: Int = 8, nprobe: Int = 2, k: Int = 5,
                       nQueries: Int = 50, dim: Int = Dim,
                       iters: Int = LloydIters): String = s"""
WITH ${centroidCtes(nCentroids, dim, iters)}, dist AS (
  SELECT e.vec_id, c.cid,
    list_sum(list_transform(generate_series(1, $dim),
      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) *
           (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))) AS dist2
  FROM embeddings e CROSS JOIN cent c
), rk AS (
  SELECT vec_id, cid,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS r
  FROM dist
), assign AS (
  SELECT vec_id, cid FROM rk WHERE r = 1
), probes AS (
  SELECT vec_id AS query_id, cid FROM rk WHERE r <= $nprobe AND vec_id < $nQueries
), cand AS (
  SELECT p.query_id, a2.vec_id AS neighbor_id
  FROM probes p JOIN assign a2 ON a2.cid = p.cid AND a2.vec_id <> p.query_id
), qv AS (
  SELECT vec_id,
    list_transform(generate_series(1, $dim),
      i -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(round(CAST(embedding[i] AS DOUBLE) / scale) AS BIGINT) END) AS q
  FROM (
    SELECT vec_id, embedding,
      list_max(list_transform(generate_series(1, $dim),
        i -> abs(CAST(embedding[i] AS DOUBLE)))) / 127.0 AS scale
    FROM embeddings)
), qn AS (
  SELECT vec_id, q,
    sqrt(CAST(list_sum(list_transform(generate_series(1, $dim), i -> q[i] * q[i])) AS DOUBLE)) AS nrm
  FROM qv
), sims AS (
  SELECT c.query_id, c.neighbor_id,
    CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
      ELSE CAST(list_sum(list_transform(generate_series(1, $dim), i -> a.q[i] * b.q[i])) AS DOUBLE)
           / (a.nrm * b.nrm) END AS cos
  FROM cand c
  JOIN qn a ON a.vec_id = c.query_id
  JOIN qn b ON b.vec_id = c.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
  FROM sims
)
SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, round(cos, 6) AS cos
FROM ranked WHERE rk <= $k ORDER BY query_id, rk
""".trim

  /** Full relational oracle for the int8-wide → float-re-rank composition
    * ([[IvfIndex.searchRerank]]): [[ivfSearchInt8Sql]]'s chain down to the
    * int8 scores, a k·widen cut per query on the (cos DESC, neighbor_id
    * ASC) order, then exact float cosine over ONLY the survivors and the
    * final top-k on the float order. */
  def ivfSearchRerankSql(nCentroids: Int = 8, nprobe: Int = 2, k: Int = 5,
                         widen: Int = 4, nQueries: Int = 50, dim: Int = Dim,
                         iters: Int = LloydIters): String = s"""
WITH ${centroidCtes(nCentroids, dim, iters)}, dist AS (
  SELECT e.vec_id, c.cid,
    list_sum(list_transform(generate_series(1, $dim),
      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) *
           (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))) AS dist2
  FROM embeddings e CROSS JOIN cent c
), rk AS (
  SELECT vec_id, cid,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS r
  FROM dist
), assign AS (
  SELECT vec_id, cid FROM rk WHERE r = 1
), probes AS (
  SELECT vec_id AS query_id, cid FROM rk WHERE r <= $nprobe AND vec_id < $nQueries
), cand AS (
  SELECT p.query_id, a2.vec_id AS neighbor_id
  FROM probes p JOIN assign a2 ON a2.cid = p.cid AND a2.vec_id <> p.query_id
), qv AS (
  SELECT vec_id,
    list_transform(generate_series(1, $dim),
      i -> CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
           ELSE CAST(round(CAST(embedding[i] AS DOUBLE) / scale) AS BIGINT) END) AS q
  FROM (
    SELECT vec_id, embedding,
      list_max(list_transform(generate_series(1, $dim),
        i -> abs(CAST(embedding[i] AS DOUBLE)))) / 127.0 AS scale
    FROM embeddings)
), qn AS (
  SELECT vec_id, q,
    sqrt(CAST(list_sum(list_transform(generate_series(1, $dim), i -> q[i] * q[i])) AS DOUBLE)) AS nrm
  FROM qv
), sims8 AS (
  SELECT c.query_id, c.neighbor_id,
    CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
      ELSE CAST(list_sum(list_transform(generate_series(1, $dim), i -> a.q[i] * b.q[i])) AS DOUBLE)
           / (a.nrm * b.nrm) END AS cos
  FROM cand c
  JOIN qn a ON a.vec_id = c.query_id
  JOIN qn b ON b.vec_id = c.neighbor_id
), wide AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rw
    FROM sims8) t WHERE rw <= ${k * widen}
), simsf AS (
  SELECT w.query_id, w.neighbor_id, $CosineSqlExpr AS cos
  FROM wide w
  JOIN embeddings a ON a.vec_id = w.query_id
  JOIN embeddings b ON b.vec_id = w.neighbor_id
), ranked AS (
  SELECT query_id, neighbor_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
  FROM simsf
)
SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, round(cos, 6) AS cos
FROM ranked WHERE rk <= $k ORDER BY query_id, rk
""".trim

  /** Full relational oracle for [[IvfIndex.searchAdaptive]] — the
    * stability-terminated adaptive probe budget, UNROLLED round by round:
    * `top<r>` is the top-k over cells ranked ≤ r·chunk (rank-ordered
    * chunks make the running top-k ≡ the prefix top-k), `chg<r>` the
    * queries whose NEIGHBOR-ID sequence changed from round r−1 (null-safe
    * full join on (query_id, rk) — a length change is a change), and each
    * query's terminal round is the first stable one (else the cap). The
    * stability rule compares ids, never raw scores — ulp-stable across
    * engines by the same argument as every pinned top-k tie-break. */
  def ivfSearchAdaptiveSql(nCentroids: Int = 8, chunk: Int = 2,
                           maxChunks: Int = 3, k: Int = 5, nQueries: Int = 50,
                           dim: Int = Dim, iters: Int = LloydIters): String = {
    val rounds = math.max(1, maxChunks)
    val perRound = (1 to rounds).map { r =>
      s"""cand$r AS (
  SELECT p.query_id, a2.vec_id AS neighbor_id
  FROM (SELECT vec_id AS query_id, cid FROM rkc
        WHERE r <= ${r * chunk} AND vec_id < $nQueries) p
  JOIN assign a2 ON a2.cid = p.cid AND a2.vec_id <> p.query_id
), sims$r AS (
  SELECT c.query_id, c.neighbor_id, $CosineSqlExpr AS cos
  FROM cand$r c
  JOIN embeddings a ON a.vec_id = c.query_id
  JOIN embeddings b ON b.vec_id = c.neighbor_id
), top$r AS (
  SELECT query_id, neighbor_id, cos, rk FROM (
    SELECT query_id, neighbor_id, cos,
      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
    FROM sims$r) t WHERE rk <= $k
)"""
    }.mkString(", ")
    val chgs = (2 to rounds).map { r =>
      s"""chg$r AS (
  SELECT query_id FROM (
    SELECT COALESCE(a.query_id, b.query_id) AS query_id,
      CASE WHEN a.neighbor_id IS DISTINCT FROM b.neighbor_id THEN 1 ELSE 0 END AS m
    FROM top$r a FULL JOIN top${r - 1} b
      ON a.query_id = b.query_id AND a.rk = b.rk
  ) GROUP BY query_id HAVING max(m) = 1
)"""
    }.mkString(", ")
    // terminal round per query: first r ≥ 2 whose top-k matched r−1 (the
    // query was still active — i.e. it changed in EVERY earlier round);
    // never stable → the cap
    val termCase = (2 until rounds).foldRight(s"$rounds") { (r, rest) =>
      val stillActive = (2 until r)
        .map(e => s"query_id IN (SELECT query_id FROM chg$e)")
      val cond = (stillActive :+ s"query_id NOT IN (SELECT query_id FROM chg$r)")
        .mkString(" AND ")
      s"CASE WHEN $cond THEN $r ELSE $rest END"
    }
    val term =
      if (rounds < 2) "term AS (SELECT DISTINCT query_id, 1 AS tr FROM top1)"
      else s"""term AS (
  SELECT query_id, $termCase AS tr
  FROM (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < $nQueries)
)"""
    val finals = (1 to rounds).map { r =>
      s"""  SELECT t.query_id, t.rk, t.neighbor_id, t.cos
  FROM top$r t JOIN term ON term.query_id = t.query_id AND term.tr = $r"""
    }.mkString("\n  UNION ALL\n")
    s"""
WITH ${centroidCtes(nCentroids, dim, iters)}, dist AS (
  SELECT e.vec_id, c.cid,
    list_sum(list_transform(generate_series(1, $dim),
      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) *
           (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))) AS dist2
  FROM embeddings e CROSS JOIN cent c
), rkc AS (
  SELECT vec_id, cid,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS r
  FROM dist
), assign AS (
  SELECT vec_id, cid FROM rkc WHERE r = 1
), $perRound${if (rounds >= 2) s", $chgs" else ""}, $term, final AS (
$finals
)
SELECT query_id, CAST(rk AS INTEGER) AS rk, neighbor_id, round(cos, 6) AS cos
FROM final ORDER BY query_id, rk
""".trim
  }
}
