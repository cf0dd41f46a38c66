package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent inverted multi-index — [[Imi]]'s product-cell quantizer in
  * [[IvfIndex]]'s deployment shape, making the composability the Imi
  * scaladoc claims real: build once, search bucket-pruned, append without
  * retrain, same census/compact maintenance cadence.
  *
  *  - `build` trains the TWO half-space quantizers ([[Imi.models]] —
  *    residue seed, the oracle discipline) once, persists them as one
  *    tiny model table keyed by (side, cid), and writes the assignment
  *    relation `(vec_id, cell_id, embedding)` BUCKETED BY `cell_id`.
  *  - `search` ranks product cells per query with the multi-sequence
  *    walk ([[Imi.rankCellsWalk]] — 2·k1 half-distances rank k1² cells
  *    lazily), then reads ONLY the probed cells' buckets: the literal
  *    `cell_id IN (…)` filter triggers bucket pruning
  *    (`SelectedBucketsCount` — ImiIndexSpec pins it), so a batch
  *    probing p product cells scans ~p/k1² of the corpus file-level.
  *
  * This is the regime PAST the flat broadcast cap: at 10¹⁰ vectors the
  * flat model wants 10⁵ full-width rows (over [[Similarity.MaxCentroids]]);
  * here the same cell count ships as 2·k1 ≈ 640 half-rows. Semantics are
  * EXACTLY [[Imi.search]]'s for the same (k1, iters, nprobe, k) — pinned
  * by ImiIndexSpec equality and by `q_imi_indexed`, which runs
  * [[Imi.searchSql]]'s oracle through this stored path. */
object ImiIndex {

  def modelTable(tag: String): String = s"${tag}_imimodel"
  def assignTable(tag: String): String = s"${tag}_imiassign"

  /** The half-decorrelating rotation seed (see [[Imi.rotateP]] — the
    * adversarially-correlated-halves defense) is stored as a DATA row of
    * the model table (`side = "s"`, centroid = [seed]), written in the
    * SAME `saveAsTable` that creates the centroid rows — so a model table
    * can never exist without the seed of the space it was trained in.
    * (Round-8 stored it as a TBLPROPERTY stamped by a second DDL after
    * the write; a crash — or a reader — between the two left a rotated
    * assignment next to an unrotated-looking model, and searches silently
    * skipped query rotation. Advisor r8.) 0 / absent row = unrotated;
    * the row filters out of [[loadModels]]'s l/r sides, so the schema and
    * [[IndexCanary]] shapes are untouched. */
  private val SeedSide = "s"

  /** Pre-round-9 seed storage: a model-table TBLPROPERTY stamped by a
    * second DDL after the write. [[loadModelsAndSeed]] falls back to it
    * when no seed ROW exists, so a rotated index persisted by the old
    * code keeps rotating its queries instead of silently reading seed 0
    * (advisor r9 — the exact silent-wrong-search failure the seed-row
    * rework targeted). New builds never write the property; the first
    * [[rebuildIfNeeded]] retrain migrates the seed into a data row. */
  val LegacyRotSeedProp = "graft.imi.rot_seed"

  def rotSeedOf(spark: SparkSession, tag: String): Long =
    loadModelsAndSeed(spark, tag)._3

  /** Train + persist. `k1 = 0` → [[Imi.k1For]] auto rule (k1² product
    * cells track cellsFor's √n target). `rotSeed != 0` applies the seeded
    * Hadamard-sign rotation ahead of the half-split and records the seed
    * in the model table: the assignment stores ROTATED vectors (cosines
    * are rotation-invariant, so search semantics are unchanged) and
    * search/append rotate their inputs to match. `preRotated = true`
    * (the rebuild path) declares `corpus` ALREADY in the seed's rotated
    * space: the seed is recorded but no rotation is applied. */
  def build(corpus: DataFrame, path: String, tag: String, buckets: Int = 8,
            k1: Int = 0, iters: Int = Similarity.LloydIters,
            rotSeed: Long = 0, preRotated: Boolean = false): Unit =
      LeaseLock.withTableLock(corpus.sparkSession, tag) {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the seed rides a DOUBLE slot in the centroid column — exactness cap
    require(math.abs(rotSeed) < (1L << 53), s"rotSeed $rotSeed exceeds exact-double range")
    val raw = corpus.select(col("vec_id"), col("embedding"))
    val base = if (rotSeed != 0 && !preRotated) Imi.rotated(raw, rotSeed) else raw
    // count drives only the auto-k1 rule + sampling decision — explicit-k1
    // builds (every oracle) skip the job (r15 opt, the IvfIndex.build shape)
    lazy val n = base.count()
    val kk = if (k1 == 0) Imi.k1For(n) else k1
    // AUTO path trains the half-quantizers on the same bounded
    // deterministic sample as [[IvfIndex.build]] (~128 rows per k1
    // cluster — [[Similarity.lloydTrainSample]]): half-training is
    // n·k1·halfDim per round, O(n^1.25) under the k1 = n^¼ rule, and
    // sampling bounds it corpus-size-independently. Explicit-k1 callers
    // (every `q_imi_*` oracle) keep full-corpus training bit-identical
    // to the unrolled SQL chains. The sample is taken AFTER rotation
    // (vec_id is rotation-invariant, so the sampled id set matches the
    // flat path's on the same corpus).
    val sampled = k1 == 0 && n > Similarity.TrainSamplePerCell.toLong * kk
    val trainBase =
      if (sampled) org.apache.spark.sql.graft.CheckpointShim
        .statsHonestLocalCheckpoint(Similarity.lloydTrainSample(base, n, kk))
      else base
    val (cl, cr) =
      try Imi.models(trainBase, kk, iters)
      finally if (sampled)
        org.apache.spark.sql.graft.CheckpointShim.freeCheckpoint(trainBase)
    // model + assignment writes are independent (both derive from the
    // driver-side half-models) — overlap them (r15 opt, the
    // IvfIndex.build shape; the held tag lease serializes other writers)
    Jobs.concurrently(Seq(
      () => {
        BucketedMaintenance.dropWithFiles(spark, modelTable(tag))
        val modelRows =
          cl.zipWithIndex.map { case (c, cid) => ("l", cid, c) } ++
            cr.zipWithIndex.map { case (c, cid) => ("r", cid, c) } ++
            (if (rotSeed != 0) Seq((SeedSide, 0, Array(rotSeed.toDouble))) else Seq.empty)
        modelRows.toSeq.toDF("side", "cid", "centroid")
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .option("path", s"$path/${modelTable(tag)}")
          .saveAsTable(modelTable(tag))
      },
      () => {
        // nrm precomputed at write time — same scoring-stage rationale as
        // [[IvfIndex.build]]
        val assigned = base.as[(Long, Array[Float])]
          .map { case (id, v) => (id, Imi.cellIdOf(v, cl, cr, kk), v, Similarity.normP(v)) }
          .toDF("vec_id", "cell_id", "embedding", "nrm")
        BucketedMaintenance.dropWithFiles(spark, assignTable(tag))
        assigned.write.mode(SaveMode.Overwrite).format("parquet")
          .bucketBy(buckets, "cell_id").sortBy("cell_id")
          .option("path", s"$path/${assignTable(tag)}")
          .saveAsTable(assignTable(tag))
      }))
    ()
  }

  /** Assign new vectors into the EXISTING half-models (no retrain) and
    * append bucketed — the [[IvfIndex.assignInto]] analog (same chunking
    * and its contract, presence check and guard), writing through the catalog so it follows
    * a compacted table's location. `buckets = 0` (the default) follows the
    * STORED table's bucket spec. */
  def assignInto(spark: SparkSession, tag: String,
                 newVecs: DataFrame, buckets: Int = 0): Unit = {
    assignChunks(spark, tag, newVecs, buckets, BucketedMaintenance.MaxAppendRows,
      dropPresent = false)
    ()
  }

  /** [[assignInto]] in chunks — see [[IvfIndex.assignChunks]]. */
  private[graft] def assignChunks(spark: SparkSession, tag: String, newVecs: DataFrame,
                                  buckets: Int, bound: Int, dropPresent: Boolean): (Long, Long) =
      LeaseLock.withTableLock(spark, tag) {
    import spark.implicits._
    IndexCanary.check(spark, modelTable(tag), assignTable(tag))
    val bk = if (buckets == 0)
      BucketedMaintenance.storedBuckets(spark, assignTable(tag)) else buckets
    val (cl, cr) = loadModels(spark, tag)
    val kk = cl.length
    // rotate into the index's stored space when the model carries a seed
    val seed = rotSeedOf(spark, tag)
    BucketedMaintenance.appendVectors(spark, assignTable(tag),
      newVecs.select(col("vec_id").cast("long"), col("embedding")), bound, dropPresent) {
      local => (if (seed != 0) Imi.rotated(local, seed) else local)
        .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
        .map { case (id, v) => (id, Imi.cellIdOf(v, cl, cr, kk), v, Similarity.normP(v)) }
        .toDF("vec_id", "cell_id", "embedding", "nrm")
        .write.mode(SaveMode.Append).format("parquet")
        .bucketBy(bk, "cell_id").sortBy("cell_id")
        .saveAsTable(assignTable(tag))
    }
  }

  /** Retrain when the corpus outgrows k1 — [[IvfIndex.rebuildIfNeeded]]'s
    * census (two tiny counts), gating on [[Imi.k1For]] of the stored
    * count vs the stored model's k1. Returns true iff a rebuild ran. */
  def rebuildIfNeeded(spark: SparkSession, tag: String, path: String,
                      buckets: Int = 0, growthFactor: Double = 2.0,
                      iters: Int = Similarity.LloydIters): Boolean = {
    spark.catalog.refreshTable(assignTable(tag))
    spark.catalog.refreshTable(modelTable(tag))
    val n = spark.table(assignTable(tag)).count()
    val haveK1 = spark.table(modelTable(tag)).filter(col("side") === "l").count()
    if (n > 0 && Imi.k1For(n) >= growthFactor * haveK1) {
      // preserve the stored physical layout across retrains — and the
      // rotation: the stored vectors are ALREADY in rotated space, so the
      // rebuild trains on them as-is (preRotated — no double rotation)
      // while the seed is recorded in the same write that creates the new
      // model table, so no reader window ever sees a rotated assignment
      // under an unrotated-looking model
      val seed = rotSeedOf(spark, tag)
      val bk = if (buckets == 0)
        BucketedMaintenance.storedBuckets(spark, assignTable(tag)) else buckets
      val corpus = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
        spark.table(assignTable(tag)).select(col("vec_id"), col("embedding")))
      build(corpus, path, tag, bk, k1 = 0, iters, rotSeed = seed, preRotated = true)
      true
    } else false
  }

  /** Compact the append-accreted assignment relation — shared staged-swap
    * mechanics with the concurrent-writer guard ([[BucketedMaintenance]]). */
  def compact(spark: SparkSession, tag: String, path: String): Unit =
    LeaseLock.withTableLock(spark, tag) {
      BucketedMaintenance.compact(spark, Seq((assignTable(tag), "cell_id")), path)
    }

  /** Parquet file count of the assignment relation — what [[compact]] bounds. */
  def fileCount(spark: SparkSession, tag: String): Long =
    BucketedMaintenance.fileCount(spark, Seq(assignTable(tag)))

  /** Driver-side half-quantizer models + rotation seed, cached per JVM via
    * [[BucketedMaintenance.cachedByVersion]] — ONE versioned read serves
    * both the centroids and the seed, so they can never disagree about
    * which model generation they describe. */
  private def loadModelsAndSeed(spark: SparkSession, tag: String)
  : (Array[Array[Double]], Array[Array[Double]], Long) =
    BucketedMaintenance.cachedByVersion(spark, modelTable(tag)) {
      val rows = spark.table(modelTable(tag))
        .select("side", "cid", "centroid").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getSeq[Double](2).toArray))
      def side(s: String): Array[Array[Double]] = {
        val picked = rows.filter(_._1 == s)
        val cents = new Array[Array[Double]](picked.length)
        picked.foreach { case (_, cid, c) => cents(cid) = c }
        require(cents.nonEmpty && cents.forall(_ != null),
          s"model table ${modelTable(tag)} side '$s' has gaps in cid space")
        cents
      }
      // seed row first; else the legacy TBLPROPERTY (pre-seed-row tables,
      // where the property WAS the contract and a completed stamp is
      // authoritative); else unrotated
      val seed = rows.find(_._1 == SeedSide).map(_._3(0).toLong).getOrElse(
        spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(modelTable(tag)))
          .properties.get(LegacyRotSeedProp).map(_.toLong).getOrElse(0L))
      (side("l"), side("r"), seed)
    }

  private def loadModels(spark: SparkSession, tag: String)
  : (Array[Array[Double]], Array[Array[Double]]) = {
    val (cl, cr, _) = loadModelsAndSeed(spark, tag)
    (cl, cr)
  }

  /** Top-k cosine neighbors for `queries` against the stored corpus.
    * Output contract = [[Imi.search]]: `(query_id, rk, neighbor_id, cos)`.
    * `excludeSelf = false` keeps same-id matches — the streaming-gate
    * replay story, identical to [[IvfIndex.search]]. `nprobe = 0` (the
    * default) resolves to [[Similarity.nprobeFor]] of the k1² product
    * cell count — the same measured recall-floor rule as the flat index
    * (2·√(k1²) = 2·k1 cells probed). */
  def search(spark: SparkSession, tag: String, queries: DataFrame,
             nprobe: Int = 0, k: Int = 5, excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    IndexCanary.check(spark, modelTable(tag), assignTable(tag))
    val (cl, cr) = loadModels(spark, tag)
    val kk = cl.length
    val np = if (nprobe == 0) Similarity.nprobeFor(kk * kk) else nprobe
    spark.catalog.refreshTable(assignTable(tag)) // cross-session appends
    // rotate queries into the index's stored space when the model carries
    // a seed (cosines are rotation-invariant — output semantics unchanged)
    val seed = rotSeedOf(spark, tag)
    val inQueries = if (seed != 0)
      Imi.rotated(queries.select(col("vec_id"), col("embedding")), seed)
    else queries
    // checkpointed for the same reason as [[IvfIndex.search]]'s probes:
    // the ranking kernel feeds both the probed-cells collect and the join
    val probes = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      inQueries.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .flatMap { case (id, v) =>
          val dl = Array.tabulate(kk)(i => Similarity.dist2P(v.take(Imi.HalfDim), cl(i)))
          val dr = Array.tabulate(kk)(j => Similarity.dist2P(v.drop(Imi.HalfDim), cr(j)))
          Imi.rankCellsWalk(dl, dr, kk, np).iterator
            .map(cell => (id, cell, v, Similarity.normP(v)))
        }
        .toDF("query_id", "cell_id", "vq", "nq"))
    // literal IN over the probed product cells → bucket pruning; the
    // collect is ≤ queries × nprobe longs — probe metadata, not data
    val probedCells = probes.select("cell_id").distinct().as[Long].collect().toSeq
    val joined = spark.table(assignTable(tag))
      .filter(col("cell_id").isin(probedCells: _*))
      .join(probes, "cell_id")
    val cand = if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id")) else joined
    // native codegen scoring with the stored norm — see [[IvfIndex.search]]
    graft.plans.DotFloat.ensureRegistered(spark)
    val scored = cand
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(s"${graft.plans.DotFloat.FuncName}(vq, embedding)")
          / (col("nq") * col("nrm"))).as("cos"))
    // k = 1 rides the hash arg-max; k > 1 the window — see
    // [[IvfIndex.topKScored]]
    IvfIndex.topKScored(scored, k)
  }
}
