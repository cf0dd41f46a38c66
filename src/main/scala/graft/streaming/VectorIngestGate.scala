package graft.streaming

import graft.operators.IvfIndex
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming EMBEDDING-ingestion gate — the ANN analog of
  * [[IngestGate.startIndexed]]: every micro-batch of arriving vectors is
  * probed against a persistent [[IvfIndex]]; arrivals whose best stored
  * neighbor reaches the cosine threshold are dropped, admitted vectors are
  * `assignInto`'d the same batch — so the INDEX is the cross-batch ledger
  * (a vector admitted in batch N is a first-class dedup target for batch
  * N+1), with per-batch cost O(batch + probed buckets), independent of
  * corpus size.
  *
  * Semantics notes, mirroring the document gate's documented trades:
  *  - Near-dup pairs that co-arrive in ONE batch are both admitted (the
  *    batch is probed against the index as-of batch start); the periodic
  *    sweep is [[graft.operators.Similarity.annPairs]] over the corpus.
  *  - The gate's recall IS the ANN recall at the configured nprobe: an
  *    arrival whose true near-neighbor lives in an unprobed cell is
  *    admitted. That is the standard ANN-dedup trade — and the default
  *    `nprobe = 0` resolves per REGIME, because the two uses of the gate
  *    have different geometry:
  *      - `threshold ≥` [[DupGateThreshold]] (duplicate gating): a match
  *        at cos ≥ 0.99 is a near-copy, and a near-copy of a stored vector
  *        quantizes like the stored vector — an EXACT copy lands in the same
  *        argmin cell deterministically, a 0.999-copy can only cross to a cell
  *        whose boundary it already straddles. A small fixed probe
  *        ([[DupGateNprobe]]) therefore keeps dup recall, at any corpus size.
  *        Measured at 2M vectors (StreamBench, last in commit 7edabe5; 1000×
  *        corpus, τ=0.999): nprobe 8 produces VERDICT-IDENTICAL landings to the
  *        full recall rule (7,200 = 7,200 of 8,000) while the batch wall drops
  *        ~30 s → 6.7–8.8 s per 2,000-vector batch — the rule's ≈2·n^(3/4)
  *        candidate volume buys nothing here because dup matches are not
  *        generic neighbors (SCALING.md r7 deep-scale section).
  *      - `threshold <` [[DupGateThreshold]] (semantic gating): matches
  *        are genuine nearest-neighbor queries, so the default is
  *        [[graft.operators.Similarity.nprobeFor]] of the stored model —
  *        the measured recall-floor rule, which holds the gate's recall
  *        as appends/rebuilds grow the index instead of silently
  *        decaying at a fixed constant.
  *    The exact alternative re-scores the corpus per batch, which is
  *    precisely what this gate exists to avoid.
  *  - Replay convergence: foreachBatch is at-least-once; a replayed batch
  *    probes WITH self-matches kept (`excludeSelf = false`), so its own
  *    already-stored copies answer at cos 1 and every replayed arrival is
  *    dropped — index content converges to exactly-once. Landing and
  *    receipts are batch_id-partitioned and written with dynamic
  *    partition overwrite, so a replay rewrites its own partition rather
  *    than appending duplicates — exactly-once there too (a replay that
  *    lands AFTER the index append produces an empty kept set, which
  *    touches no partitions and leaves the first attempt's rows intact).
  */
object VectorIngestGate {

  /** Threshold at and above which `nprobe = 0` resolves to the dup-gate
    * regime (see the class doc): a required cosine this high means the
    * match is a near-copy, and near-copies share the stored copy's cell
    * geometry — generic-ANN probe budgets are wasted there. */
  val DupGateThreshold = 0.99

  /** Probe width of the dup-gate regime — fixed, corpus-size-independent;
    * verdict-identical to the full recall rule at 2M vectors (measured,
    * SCALING.md r7) with cell-boundary headroom beyond the argmin cell an exact
    * copy provably shares. The r7 A/B's arrivals were exact copies and
    * near-orthogonal scrambles only; the round-8 advisor follow-up
    * (DupGateNearCopyProbe, last in commit 7edabe5; SCALING.md r8) measured
    * PERTURBED near-copies across the whole dup band — cos 0.9995 / 0.996 /
    * 0.992 at 2M vectors, 1,414 cells: dup recall 1.0000 and verdict agreement
    * 1.0000 with the rule at every band, at ~3–4× the throughput. The fixed
    * budget's geometric argument (a near-copy quantizes like its stored source;
    * boundary-straddlers are covered by the 8-cell headroom) holds for real
    * perturbed copies, not just exact ones. */
  val DupGateNprobe = 8

  /** `nprobe = 0` resolution for a gate at `threshold` (0 passes through
    * to [[graft.operators.IvfIndex.search]]'s recall-floor rule). */
  private def resolveNprobe(nprobe: Int, threshold: Double): Int =
    if (nprobe == 0 && threshold >= DupGateThreshold) DupGateNprobe else nprobe

  /** Candidate-scoring storage tier for the gate's probe search. Every
    * tier verdicts on an EXACT float cosine (the byte tiers re-score
    * their arg-max survivor in float — [[graft.operators.IvfIndex.searchPqBestRescored]]),
    * so the threshold semantics never change; what varies is the
    * candidate-scan I/O (float 264 B/candidate, int8 72 B, PQ 16 B) and
    * the possibility that the float-best match is not the cheap tier's
    * arg-max — in the dup-gate regime a stored near-copy usually
    * dominates the byte-tier order too (it reconstructs like its stored
    * source), so the verdict usually survives. MEASURED, not assumed
    * (SCALING.md r12): at 2M all three tiers produced the identical
    * verdict set; at 20M the PQ tier admitted ONE of 6,000 arrivals
    * that float/int8 dropped (its ADC arg-max picked a survivor that
    * re-scored below τ while the true float-best sat above) — byte
    * tiers are near-exact, not bit-guaranteed, on the dup gate.
    * Byte tiers keep the dup gate's no-candidate-sort property
    * (arg-max, not a window cut). [[PqTier]] requires the index built
    * with the PQ tier.
    *
    * Tier choice (SCALING.md r12, measured at 2M AND 20M, 3×2,000-vector
    * batches each): wall orders float ≤ int8 < PQ at BOTH scales — the
    * crossover the byte tiers exist for did not appear even at 10× the
    * candidate volume, because a page-cached local candidate scan is
    * CPU-bound (the join + arg-max dominate), not byte-bound. The byte
    * tiers pay when the scan is STORAGE-bound — cold reads, object
    * store, memory-constrained executors — which local[n] cannot
    * exhibit; that boundary is stated here rather than extrapolated.
    * For this deployment shape prefer [[FloatTier]] (fastest measured,
    * no build-tier requirement); [[Int8Tier]] when index bytes matter;
    * [[PqTier]] only when candidate I/O is the measured bottleneck. */
  /** Most arrivals one [[gateBatch]] call takes: its verdicts (one row per
    * arrival) are collected to the driver, so a source feeding the gate
    * must cap its micro-batch size. A larger batch fails loudly. [[start]]
    * appends a batch's kept vectors as ONE chunk of at most this many rows
    * (~26 MB of 64-float embeddings), so the append either writes all of
    * them or none. */
  val MaxBatchVectors: Int = 100 * 1000

  sealed trait ScoreTier
  case object FloatTier extends ScoreTier
  case object Int8Tier extends ScoreTier
  case object PqTier extends ScoreTier

  /** Gate one batch (vec_id, embedding) against the index; returns
    * (receipts, kept). Receipts: one row per arrival —
    * (vec_id, dup_of, cos, is_dup). Exposed for direct batch use and
    * for the spec.
    *
    * A SELF-match (`dup_of == vec_id`) can only happen on an
    * at-least-once replay — the arrival's own copy is already stored, so
    * the first attempt admitted it. The two outputs treat it
    * differently, on purpose: `kept` still DROPS it (re-appending would
    * duplicate the index row — the replay-convergence invariant), but
    * the receipt verdict reports `is_dup = false`, matching the first
    * attempt's admission, so a replay-overwritten receipts partition
    * still reconciles with landing and index content (`dup_of`/`cos`
    * keep the observed self-match — an honest replay marker). */
  def gateBatch(tag: String, batch: DataFrame, threshold: Double,
                nprobe: Int, tier: ScoreTier = FloatTier): (DataFrame, DataFrame) = {
    import scala.jdk.CollectionConverters._
    val spark = batch.sparkSession
    val arrivals = batch.select(col("vec_id"), col("embedding"))
    val np = resolveNprobe(nprobe, threshold)
    val best = (tier match {
        case FloatTier => IvfIndex.search(spark, tag, arrivals,
          nprobe = np, k = 1, excludeSelf = false)
        case Int8Tier => IvfIndex.searchInt8BestRescored(spark, tag, arrivals,
          nprobe = np, excludeSelf = false)
        case PqTier => IvfIndex.searchPqBestRescored(spark, tag, arrivals,
          nprobe = np, excludeSelf = false)
      })
      .select(col("query_id").as("vec_id"), col("neighbor_id").as("dup_of"),
        col("cos"))
    // the verdicts (one tiny row per arrival) are assembled on the driver
    // from two bounded collects — the arrival ids (no job for a local
    // batch) and the search's best row per matched arrival — because
    // receipts, the landing write and the index append are separate
    // consumers, and each would otherwise re-run the bucket-probe search
    // (StreamBench r7 attribution: the search ran 3× per batch). The
    // limit plans the search's presentation sort as a per-partition top-k,
    // not a range exchange. Receipts are a local relation; kept re-reads
    // only the arrivals, filtered by the kept ids as a literal IN (a join
    // to a local relation would cost each consumer a broadcast job).
    // self_match requires BOTH the id match AND the threshold: a replay's
    // stored copy answers at cos 1 ≥ any threshold, whereas an arrival
    // that merely COLLIDES with a stored vec_id (different embedding — a
    // caller-contract violation the bench itself once armed: synthetic ids
    // straddling a ScaleCorpus block range) must not be silently swallowed.
    // Below the threshold such a collision is treated as fresh; the id
    // uniqueness of admitted vectors remains the caller's contract.
    val ids = arrivals.select("vec_id").limit(MaxBatchVectors + 1).collect().map(_.get(0))
    require(ids.length <= MaxBatchVectors,
      s"VectorIngestGate.gateBatch: the batch has more than MaxBatchVectors = " +
        s"$MaxBatchVectors arrivals — cap the source's micro-batch size")
    val found = best.limit(MaxBatchVectors).collect().map(r => r.get(0) -> r).toMap
    val verdicts = ids.map { id =>
      val r = found.get(id)
      val reached = r.exists(m => !m.isNullAt(2) && m.getDouble(2) >= threshold)
      val selfMatch = reached && r.exists(_.get(1) == id)
      (Row(id, r.map(_.get(1)).orNull, r.map(_.get(2)).orNull, reached && !selfMatch), selfMatch)
    }
    val receipts = spark.createDataFrame(verdicts.map(_._1).toSeq.asJava, StructType(Seq(
      arrivals.schema("vec_id"), best.schema("dup_of").copy(nullable = true),
      best.schema("cos").copy(nullable = true),
      StructField("is_dup", BooleanType, nullable = false))))
    val keptIds = verdicts.collect { case (v, self) if !v.getBoolean(3) && !self => v.get(0) }
    (receipts, arrivals.filter(col("vec_id").isin(keptIds.toSeq: _*)))
  }

  /** Oracle-able carved form of one gate evaluation: index = the FULL
    * embeddings table (8 cells, residue seed — the pinned oracle config),
    * arrivals derived deterministically from `vec_id < 40` (new id
    * `+10⁷`; even source ids arrive as EXACT copies — the drop path; odd
    * ids with dims 1–8 negated — float sign-flips are exact in both
    * engines, same trick as the augmented-corpus fixture). Output is the
    * receipts relation `(vec_id, dup_of, cos, is_dup)`. This is literally
    * [[gateBatch]] against a fresh index — the streaming gate's kernel
    * under the DuckDB gate. */
  def gateQuery(spark: org.apache.spark.sql.SparkSession, dir: String,
                threshold: Double = 0.9, nprobe: Int = 4): DataFrame = {
    import graft.operators.Similarity
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val idxDir = graft.Scratch.dir("graft_q_vecgate")
    IvfIndex.build(e, idxDir, "q_vecgate", nCentroids = 8, seed = Similarity.ResidueSeed)
    val arrivals = e.filter(col("vec_id") < 40).select(
      (col("vec_id") + 10000000L).as("vec_id"),
      when(col("vec_id") % 2 === 0, col("embedding"))
        .otherwise(array((1 to Similarity.Dim).map { i =>
          val x = element_at(col("embedding"), i)
          if (i <= 8) (-x).as(s"_$i") else x.as(s"_$i")
        }: _*)).as("embedding"))
    val (receipts, _) = gateBatch("q_vecgate", arrivals, threshold, nprobe)
    receipts.orderBy("vec_id")
  }

  /** Full relational oracle for [[gateQuery]] — the flat-IVF training/
    * assignment CTE chain, the same derived arrivals, probe ranking with
    * the pinned tie-breaks, top-1 cosine, thresholded verdict on the
    * ROUNDED cosine (exactly what the Spark side thresholds). */
  def gateQuerySql(threshold: Double = 0.9, nprobe: Int = 4,
                   nCentroids: Int = 8,
                   iters: Int = graft.operators.Similarity.LloydIters): String = {
    val dim = graft.operators.Similarity.Dim
    val cos = graft.operators.Similarity.CosineSqlExpr
    s"""
WITH ${graft.operators.Similarity.centroidCtes(nCentroids, dim, iters)}, dist AS (
  SELECT e.vec_id, c.cid,
    list_sum(list_transform(generate_series(1, $dim),
      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) *
           (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))) AS dist2
  FROM embeddings e CROSS JOIN cent c
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS r
    FROM dist) rr WHERE r = 1
), arrivals AS (
  SELECT vec_id + 10000000 AS vec_id,
    CASE WHEN vec_id % 2 = 0 THEN embedding
         ELSE list_transform(generate_series(1, $dim),
                i -> CASE WHEN i <= 8 THEN -embedding[i] ELSE embedding[i] END)
    END AS embedding
  FROM embeddings WHERE vec_id < 40
), qd AS (
  SELECT q.vec_id, c.cid,
    list_sum(list_transform(generate_series(1, $dim),
      i -> (CAST(q.embedding[i] AS DOUBLE) - c.centroid[i]) *
           (CAST(q.embedding[i] AS DOUBLE) - c.centroid[i]))) AS dist2
  FROM arrivals q CROSS JOIN cent c
), probes AS (
  SELECT vec_id AS query_id, cid FROM (
    SELECT vec_id, cid,
      row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS r
    FROM qd) rr WHERE r <= $nprobe
), cand AS (
  SELECT p.query_id, a2.vec_id AS neighbor_id
  FROM probes p JOIN assign a2 ON a2.cid = p.cid
), sims AS (
  SELECT c.query_id, c.neighbor_id, $cos AS cos
  FROM cand c
  JOIN arrivals a ON a.vec_id = c.query_id
  JOIN embeddings b ON b.vec_id = c.neighbor_id
), best AS (
  SELECT query_id, neighbor_id, round(cos, 6) AS cos FROM (
    SELECT query_id, neighbor_id, cos,
      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rk
    FROM sims) rr WHERE rk = 1
)
SELECT a.vec_id, b.neighbor_id AS dup_of, b.cos,
  coalesce(b.cos >= $threshold, FALSE) AS is_dup
FROM arrivals a LEFT JOIN best b ON b.query_id = a.vec_id
ORDER BY a.vec_id
""".trim
  }

  /** Start the gate. `stream` must carry (vec_id: long, embedding:
    * array<float>); the index under `indexTag` must already be built
    * ([[IvfIndex.build]] — paid once; appends follow the catalog, so the
    * compact/rebuild maintenance cadence runs independently alongside).
    * Admitted vectors are appended to the index AND to `landingDir`;
    * verdicts land in `receiptsDir` partitioned by micro-batch id. */
  def start(indexTag: String, stream: DataFrame,
            landingDir: String, receiptsDir: String, checkpointDir: String,
            threshold: Double = 0.92, nprobe: Int = 0,
            tier: ScoreTier = FloatTier): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          // gateBatch collects the verdicts, so the three consumers below
          // never re-run the probe search: the two writes and the append
          // read the local receipts and the arrivals
          val (receipts, kept) = gateBatch(indexTag, batch, threshold, nprobe, tier)
          // landing/receipts are partitioned by batch_id and written with
          // DYNAMIC partition overwrite: a replayed attempt overwrites
          // its OWN partition instead of appending duplicates, so the
          // landing zone is exactly-once too — not just the index. (A
          // replay arriving after the index append finds all its
          // arrivals self-matched and kept empty; an empty dynamic
          // overwrite touches no partitions, so the first attempt's
          // landing rows — which ARE in the index — survive.)
          val pmKey = "spark.sql.sources.partitionOverwriteMode"
          val prev = spark.conf.getOption(pmKey)
          spark.conf.set(pmKey, "dynamic")
          try {
            receipts.withColumn("batch_id", lit(batchId))
              .write.mode("overwrite").partitionBy("batch_id").parquet(receiptsDir)
            kept.withColumn("batch_id", lit(batchId))
              .write.mode("overwrite").partitionBy("batch_id").parquet(landingDir)
          } finally prev match {
            case Some(v) => spark.conf.set(pmKey, v)
            case None    => spark.conf.unset(pmKey)
          }
          // one chunk, bounded by gateBatch's own bound: a replay after a
          // failed append self-matches either every kept vector or none,
          // never a partial prefix that the landing overwrite above would
          // then drop from the landing zone
          IvfIndex.assignChunks(spark, indexTag, kept, 0, MaxBatchVectors, dropPresent = false)
          ()
        }
      }
      .start()
}
