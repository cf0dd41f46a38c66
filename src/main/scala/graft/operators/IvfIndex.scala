package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent IVF index — build once, search per query batch: the ANN
  * counterpart of [[ShingleIndex]] (same build/probe cost split, same
  * bucketed-catalog deployment shape), making real what the in-memory
  * [[Similarity.ivfSearch]] scaladoc only claims ("at 100 TB the
  * assignment relation is bucketed by cid so the probe join co-locates").
  *
  *  - `build` trains the centroid model ([[Similarity.trainedCentroidArrays]]
  *    — one broadcast-model scan per Lloyd round) ONCE, persists it as a
  *    tiny model table, and writes the assignment relation
  *    `(vec_id, cid, embedding)` BUCKETED BY `cid`: every vector stored
  *    with its cell, vectors of one cell co-located in one bucket.
  *  - `search` ranks cells per query against the loaded model (narrow
  *    kernel), then reads ONLY the probed cells' buckets: the `cid IN (…)`
  *    filter with literal cell ids triggers Spark's bucket pruning
  *    (`SelectedBucketsCount` in the scan), so a query batch probing p of
  *    c cells scans ~p/c of the stored corpus — file-level, before any
  *    row is decoded. Candidates carry their vectors out of the scan (no
  *    re-join with the corpus for the score).
  *
  * Semantics are EXACTLY [[Similarity.ivfSearch]]'s for the same
  * (cells, seed, iters, nprobe, k) — same distance/tie-break/rounding
  * discipline — pinned by IvfIndexSpec equality and by `q_ivf_indexed`,
  * which runs [[Similarity.ivfSearchSql]]'s oracle through this stored
  * path. Vectors added after `build` get correct cells via `assignInto`
  * (the model does NOT retrain — standard IVF practice; retrain = rebuild,
  * the [[ShingleIndex.rebuildIfNeeded]] analog would gate on assignment
  * drift, out of scope here).
  */
object IvfIndex {

  def modelTable(tag: String): String = s"${tag}_ivfmodel"
  def assignTable(tag: String): String = s"${tag}_ivfassign"
  def pqModelTable(tag: String): String = s"${tag}_pqmodel"

  /** Train + persist. `nCentroids = 0` → [[Similarity.cellsFor]] auto rule
    * (farthest-point seed); explicit cells keep the oracle-parity residue
    * seed — the same mode resolution as the in-memory path. */
  def build(corpus: DataFrame, path: String, tag: String, buckets: Int = 8,
            nCentroids: Int = 0, iters: Int = Similarity.LloydIters,
            seed: Similarity.IvfSeed = Similarity.DefaultSeed,
            pq: Pq.PqMode = Pq.PqAuto): Unit =
      LeaseLock.withTableLock(corpus.sparkSession, tag) {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col("vec_id"), col("embedding"))
    // corpus count drives only the AUTO cell rule, PqAuto resolution and
    // the sampling decision — explicit-cells builds with an explicit PQ
    // mode (every oracle) skip the count job entirely (r15 opt)
    lazy val n = base.count()
    val cells = if (nCentroids == 0) Similarity.cellsFor(n) else nCentroids
    val pqSpec = pq match {
      case Pq.PqAuto => Pq.resolve(pq, n)
      case other => Pq.resolve(other, 0L)
    }
    // AUTO path trains Lloyd on a bounded deterministic sample
    // ([[Similarity.lloydTrainSample]] — ~128 rows/cell): each round's
    // nearest-cell pass is n·cells·dim work, O(n^1.5) under the √n cell
    // rule, and was the bulk of the 685 s build at 20M vectors. The
    // sample is materialized once (statsHonestLocalCheckpoint) so the
    // seed aggregate + each round reads ~cells·128 rows, not the corpus;
    // the final assignment below is the one remaining full pass.
    // Explicit-cells callers (every oracle) keep full-corpus training.
    // The PQ codebooks train on the SAME frame under the same rule —
    // corpus-size-independent on the auto path, full-corpus for oracles.
    val sampled = nCentroids == 0 &&
      n > Similarity.TrainSamplePerCell.toLong * cells
    val trainBase =
      if (sampled) org.apache.spark.sql.graft.CheckpointShim
        .statsHonestLocalCheckpoint(Similarity.lloydTrainSample(base, n, cells))
      else base
    val (cents, books) =
      try {
        val c = Similarity.trainedCentroidArrays(trainBase, cells, iters,
          Similarity.resolveSeed(seed, nCentroids == 0, cells))
        // residual tier (IVFADC-proper): codebooks train on what the codes
        // will quantize — the residual of each training vector against its
        // coarse cell. Same bounded sample, one extra nearest-cell pass
        // over it (sample-sized, never corpus-sized on the auto path).
        val b = pqSpec.map { s =>
          Pq.train(if (s.residual) Pq.residualFrame(trainBase, c) else trainBase,
            s, iters)
        }
        (c, b)
      } finally if (sampled)
        org.apache.spark.sql.graft.CheckpointShim.freeCheckpoint(trainBase)
    // The three tables derive from driver-side state (cents/books) + base
    // and are pairwise independent — drop+write each under its own thunk,
    // overlapped (guide §2.6; the assignment write is the data-sized one,
    // the two model writes back-fill its tail — r15 opt). The held tag
    // lease already serializes against other writers.
    Jobs.concurrently(Seq(
      () => {
        // canonical-path re-pin on rebuild: drop a possibly-compacted
        // table (and its generation-dir files) before the Overwrite create
        BucketedMaintenance.dropWithFiles(spark, modelTable(tag))
        cents.zipWithIndex.map { case (c, cid) => (cid, c) }.toSeq
          .toDF("cid", "centroid")
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .option("path", s"$path/${modelTable(tag)}")
          .saveAsTable(modelTable(tag))
      },
      () => {
        // the PQ model table is dropped unconditionally: a rebuild WITHOUT
        // the tier must not leave a stale codebook that disagrees with the
        // (code-free) assignment relation
        BucketedMaintenance.dropWithFiles(spark, pqModelTable(tag))
        (pqSpec, books) match {
          case (Some(sp), Some(bk)) =>
            val rows = for (mi <- 0 until sp.m; j <- 0 until sp.k)
              yield (mi, j, bk(mi)(j), sp.m, sp.k, sp.rotSeed, sp.residual)
            rows.toDF("m", "cid", "centroid", "msub", "ksub", "rot_seed", "residual")
              .coalesce(1).write.mode(SaveMode.Overwrite)
              .option("path", s"$path/${pqModelTable(tag)}")
              .saveAsTable(pqModelTable(tag))
          case _ =>
        }
      },
      () => {
        // nrm is precomputed at WRITE time: the scoring stage evaluates one
        // cosine per (query, neighbor) candidate pair, and recomputing the
        // stored side's norm per PAIR (instead of once per stored vector)
        // was a measured slice of the streaming gate's batch wall. qvec/qnrm
        // are the int8 storage leg — 64-byte codes + their integer-dot norm —
        // so [[searchInt8]] can column-prune the scan down to a quarter of
        // the float vectors' bytes. pqcode (when the PQ tier is on) is the
        // 8-byte ADC leg — [[searchPq]] prunes down to it, another 8× less.
        val assigned = assignedFrame(base, cents,
          books.map(bk => PqEnc(bk, pqSpec.get.rotSeed.map(Imi.rotSigns(_)),
            pqSpec.get.residual)))
        BucketedMaintenance.dropWithFiles(spark, assignTable(tag))
        assigned.write.mode(SaveMode.Overwrite).format("parquet")
          .bucketBy(buckets, "cid").sortBy("cid")
          .option("path", s"$path/${assignTable(tag)}")
          .saveAsTable(assignTable(tag))
      }))
    ()
  }

  /** PQ encoding context: codebooks, rotation signs, and whether codes
    * quantize residuals against the coarse model (IVFADC-proper) or raw
    * rotated vectors. */
  private final case class PqEnc(books: Array[Array[Array[Double]]],
                                 signs: Option[Array[Double]],
                                 residual: Boolean)

  /** The assignment relation for a (vec_id, embedding) frame — cell id,
    * float vector + norm, int8 code + norm, and (when the PQ tier is on)
    * the `m`-byte PQ code. One kernel pass; shared by [[build]] and
    * [[assignInto]] so the two writers cannot drift schemas. */
  private def assignedFrame(base: DataFrame, cents: Array[Array[Double]],
                            pqOpt: Option[PqEnc])
  : DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    pqOpt match {
      case Some(PqEnc(books, signs, res)) =>
        base.as[(Long, Array[Float])]
          .map { case (id, v) =>
            val q = Similarity.quantizeVec(v)
            val cid = Similarity.nearestCell(v, cents)._1
            val enc = if (res) Pq.residualOf(v, cents(cid)) else v
            (id, cid, v, Similarity.normP(v),
              q, math.sqrt(Similarity.dotI(q, q).toDouble),
              Pq.encodeVec(enc, books, signs)) }
          .toDF("vec_id", "cid", "embedding", "nrm", "qvec", "qnrm", "pqcode")
      case None =>
        base.as[(Long, Array[Float])]
          .map { case (id, v) =>
            val q = Similarity.quantizeVec(v)
            (id, Similarity.nearestCell(v, cents)._1, v, Similarity.normP(v),
              q, math.sqrt(Similarity.dotI(q, q).toDouble)) }
          .toDF("vec_id", "cid", "embedding", "nrm", "qvec", "qnrm")
    }
  }

  /** Assign new vectors into the EXISTING model (no retrain) and append
    * them to the bucketed assignment relation — the maintenance path.
    * Writes through the catalog location, so it follows the table
    * wherever [[compact]] last moved it. `buckets = 0` (the default)
    * follows the STORED table's bucket spec — an explicit count that
    * disagrees with it would fail Spark's spec-mismatch check. `vec_id`
    * must be unique within the batch and absent from the index — a repeat
    * or a stored id fails loudly. A batch of at most
    * [[BucketedMaintenance.MaxAppendRows]] vectors is one chunk, checked
    * before the write. A larger batch is appended as successive chunks of
    * that size, each checked before its own write, so a failure in a later
    * chunk leaves the earlier ones appended (re-running the same call then
    * fails on their ids; the [[LandingZone]] absorb skips them instead). */
  def assignInto(spark: SparkSession, tag: String,
                 newVecs: DataFrame, buckets: Int = 0): Unit = {
    assignChunks(spark, tag, newVecs, buckets, BucketedMaintenance.MaxAppendRows,
      dropPresent = false)
    ()
  }

  /** [[assignInto]] in chunks of at most `bound` vectors: per chunk one
    * collect, one lookup of the chunk's ids already stored (skipped with
    * `dropPresent` — the [[LandingZone]] crash-window replay — and a loud
    * failure otherwise) and one write of a one-partition local relation
    * through the shared assignment kernel. Returns (vectors read, vectors
    * appended). */
  private[graft] def assignChunks(spark: SparkSession, tag: String, newVecs: DataFrame,
                                  buckets: Int, bound: Int, dropPresent: Boolean): (Long, Long) =
      LeaseLock.withTableLock(spark, tag) {
    IndexCanary.check(spark, modelTable(tag), assignTable(tag))
    val bk = if (buckets == 0)
      BucketedMaintenance.storedBuckets(spark, assignTable(tag)) else buckets
    val cents = loadModel(spark, tag)
    // appended vectors get PQ codes iff the index carries the tier — the
    // stored codebook decides, so appends can never drift the schema
    val pqOpt = if (spark.catalog.tableExists(pqModelTable(tag))) {
      val pm = loadPqModel(spark, tag)
      Some(PqEnc(pm.books, pm.signs, pm.residual))
    } else None
    BucketedMaintenance.appendVectors(spark, assignTable(tag),
      newVecs.select(col("vec_id").cast("long"), col("embedding")), bound, dropPresent) {
      local => assignedFrame(local, cents, pqOpt)
        .write.mode(SaveMode.Append).format("parquet")
        .bucketBy(bk, "cid").sortBy("cid")
        .saveAsTable(assignTable(tag))
    }
  }

  /** Rebuild when the corpus has outgrown the model: search cost is
    * O(batch × n·nprobe/c), so at a FIXED c the index "de-indexes" as n
    * grows — measured in the vecgate tier of StreamBench (a probe last
    * in commit 7edabe5), where batch time doubles as appends double the
    * corpus under the build-time cell count. Policy: retrain (with the auto √n
    * rule and current default seed) when [[Similarity.cellsFor]] of the stored
    * count reaches `growthFactor` × the stored model's cells — the
    * [[ShingleIndex.rebuildIfNeeded]] analog, gated by a census that costs two
    * tiny counts. Returns true iff a rebuild ran. The index contents are
    * materialized (checkpoint) before the rebuild because build drops the table
    * it would otherwise
    * still be reading. */
  def rebuildIfNeeded(spark: SparkSession, tag: String, path: String,
                      buckets: Int = 0, growthFactor: Double = 2.0,
                      iters: Int = Similarity.LloydIters,
                      seed: Similarity.IvfSeed = Similarity.DefaultSeed): Boolean = {
    // refresh both relations: the appends being censused typically come
    // from streaming foreachBatch clones, invisible to this session's
    // cached file listings otherwise
    spark.catalog.refreshTable(assignTable(tag))
    spark.catalog.refreshTable(modelTable(tag))
    val n = spark.table(assignTable(tag)).count()
    val have = spark.table(modelTable(tag)).count()
    if (n > 0 && Similarity.cellsFor(n) >= growthFactor * have) {
      // preserve the stored physical layout across retrains: a rebuild
      // must change the MODEL, never silently the bucket count
      val bk = if (buckets == 0)
        BucketedMaintenance.storedBuckets(spark, assignTable(tag)) else buckets
      val corpus = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
        spark.table(assignTable(tag)).select(col("vec_id"), col("embedding")))
      // a rebuild preserves the stored PQ spec (an index that carried the
      // tier keeps it with the same m/k/rotation; one without it stays on
      // the auto rule)
      val pqMode: Pq.PqMode = if (spark.catalog.tableExists(pqModelTable(tag))) {
        val pm = loadPqModel(spark, tag)
        val rot = spark.table(pqModelTable(tag)).select("rot_seed").head() match {
          case r if r.isNullAt(0) => None
          case r => Some(r.getLong(0))
        }
        Pq.PqSpec(pm.books.length, pm.kSub, rot, pm.residual)
      } else Pq.PqAuto
      build(corpus, path, tag, bk, nCentroids = 0, iters, seed, pqMode)
      true
    } else false
  }

  /** Compact the append-accreted assignment relation (each [[assignInto]]
    * adds a file per bucket; a long-running [[graft.streaming.VectorIngestGate]]
    * accretes one generation per micro-batch) — shared staged-swap
    * mechanics, see [[BucketedMaintenance]]. The model table is tiny and
    * overwrite-only; only the assignment needs it. */
  def compact(spark: SparkSession, tag: String, path: String): Unit =
    LeaseLock.withTableLock(spark, tag) {
      BucketedMaintenance.compact(spark, Seq((assignTable(tag), "cid")), path)
    }

  /** Parquet file count of the assignment relation — what [[compact]] bounds. */
  def fileCount(spark: SparkSession, tag: String): Long =
    BucketedMaintenance.fileCount(spark, Seq(assignTable(tag)))

  /** Per-JVM model cache keyed by the catalog entry's (location,
    * createTime): a batch gate calls search + assignInto every
    * micro-batch, and re-collecting an IMMUTABLE model table per call was
    * measured as a visible slice of the vector gate's batch wall
    * (StreamBench r7 attribution). The model only changes via
    * build/rebuild, which drop-and-recreate the table → new createTime,
    * even from another session (shared external catalog), so staleness
    * detection needs no file listing — one driver-side metadata read. */
  /** Driver-side centroid model, cached per JVM via
    * [[BucketedMaintenance.cachedByVersion]] (the model table only
    * changes through build/rebuild, which recreate the catalog entry). */
  private def loadModel(spark: SparkSession, tag: String): Array[Array[Double]] =
    BucketedMaintenance.cachedByVersion(spark, modelTable(tag)) {
      val rows = spark.table(modelTable(tag))
        .select("cid", "centroid").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      val cents = new Array[Array[Double]](rows.length)
      rows.foreach { case (cid, c) => cents(cid) = c }
      require(cents.forall(_ != null), s"model table ${modelTable(tag)} has gaps in cid space")
      cents
    }

  /** Loaded PQ model: codebooks, rotation signs, per-subspace codebook
    * size, and the residual flag. */
  private final case class PqModel(books: Array[Array[Array[Double]]],
                                   signs: Option[Array[Double]],
                                   kSub: Int, residual: Boolean)

  /** Driver-side PQ codebooks + rotation signs + per-subspace codebook
    * size, cached like the coarse model (the table is immutable outside
    * build/rebuild). `m·k·dsub` doubles — 16 KB at the 8×256 default.
    * Tables written before the residual tier existed lack the `residual`
    * column → raw codes (the column's absence IS the legacy flag, same
    * posture as the rotation-seed table property). */
  private def loadPqModel(spark: SparkSession, tag: String): PqModel =
    BucketedMaintenance.cachedByVersion(spark, pqModelTable(tag)) {
      val t = spark.table(pqModelTable(tag))
      val hasRes = t.schema.fieldNames.contains("residual")
      val rows = (if (hasRes)
          t.select(col("m"), col("cid"), col("centroid"), col("msub"),
            col("ksub"), col("rot_seed"), col("residual"))
        else
          t.select(col("m"), col("cid"), col("centroid"), col("msub"),
            col("ksub"), col("rot_seed"), lit(false).as("residual"))).collect()
      require(rows.nonEmpty, s"PQ model table ${pqModelTable(tag)} is empty")
      val m = rows.head.getInt(3)
      val k = rows.head.getInt(4)
      val rot = if (rows.head.isNullAt(5)) None else Some(rows.head.getLong(5))
      val books = Array.ofDim[Array[Double]](m, k)
      rows.foreach(r => books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
      require(books.forall(_.forall(_ != null)),
        s"PQ model table ${pqModelTable(tag)} has gaps in (m, cid) space")
      PqModel(books, rot.map(Imi.rotSigns(_)), k, rows.head.getBoolean(6))
    }

  /** The first `n` cells for query vector `v`, ranked by (dist2 ASC,
    * cid ASC) — the pinned tie-break every search tier and its oracle
    * share. */
  private def rankCells(v: Array[Float], cents: Array[Array[Double]], n: Int): Iterator[Int] =
    Array.tabulate(cents.length)(c => (Similarity.dist2P(v, cents(c)), c))
      .sorted.iterator.take(n).map(_._2)

  /** The distinct cell ids of `df` (≤ queries × nprobe ints — probe
    * metadata, not data) for a literal IN on the bucketed scan. One
    * collect job, deduplicated on the driver: a `distinct()` in the plan
    * would add an exchange job for the same list. */
  private def cellsOf(df: DataFrame): Seq[Int] =
    df.select("cid").collect().map(_.getInt(0)).distinct.toSeq

  /** Top-k cosine neighbors for `queries` (`vec_id`, `embedding`) against
    * the stored corpus. Output contract = [[Similarity.ivfSearch]]:
    * `(query_id, rk, neighbor_id, cos)`, same-id matches excluded by
    * default. `excludeSelf = false` keeps them — the ingestion-gate
    * replay story depends on it: a replayed arrival must match its own
    * already-stored copy (cos 1) and be dropped, which is what converges
    * an at-least-once foreachBatch to exactly-once index content.
    *
    * `nprobe = 0` (the default) resolves to [[Similarity.nprobeFor]] of
    * the STORED model's cell count — the measured recall-floor rule, so
    * a gate built on this index holds its recall as appends grow the
    * corpus and rebuilds grow the cell count, instead of silently
    * turning into a sieve at a fixed constant. Oracle queries pass their
    * pinned constants explicitly. */
  def search(spark: SparkSession, tag: String, queries: DataFrame,
             nprobe: Int = 0, k: Int = 5, excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    IndexCanary.check(spark, modelTable(tag), assignTable(tag))
    val cents = loadModel(spark, tag)
    val np = if (nprobe == 0) Similarity.nprobeFor(cents.length) else nprobe
    spark.catalog.refreshTable(assignTable(tag)) // see cross-session appends
    // checkpointed: the cell-ranking kernel feeds BOTH the probed-cells
    // collect below and the candidate join — without the barrier it runs
    // twice per search call (a measured slice of the streaming gate's
    // batch wall; the relation is small — queries × nprobe rows)
    val probes = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      queries.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .flatMap { case (id, v) =>
          rankCells(v, cents, math.max(1, np))
            .map(cid => (id, cid, v, Similarity.normP(v)))
        }
        .toDF("query_id", "cid", "vq", "nq"))
    // literal IN over the batch's probed cells → bucket pruning: the scan
    // opens only the probed cells' buckets (IvfIndexSpec pins
    // SelectedBucketsCount < total)
    val probedCells = cellsOf(probes)
    val joined = spark.table(assignTable(tag))
      .filter(col("cid").isin(probedCells: _*))
      .join(probes, "cid")
    val cand = if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id")) else joined
    // scoring is a native codegen expression over the in-place ArrayData
    // (see [[graft.plans.DotFloat]]) with the stored norm — bit-identical
    // arithmetic to the typed dotP/normP path it replaced, no Encoder
    // round-trip, no per-pair norm recomputation
    graft.plans.DotFloat.ensureRegistered(spark)
    val scored = cand
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(s"${graft.plans.DotFloat.FuncName}(vq, embedding)")
          / (col("nq") * col("nrm"))).as("cos"))
    topKScored(scored, k)
  }

  /** [[search]] scored on the STORED int8 codes — [[Similarity.ivfSearchInt8]]
    * through the persistent path (the `q_ivf_indexed_int8` contract):
    * same float-space cell ranking (the model is float; probe quality is
    * unchanged), but candidates are scored as exact integer dots over the
    * 64-byte `qvec` column with the stored `qnrm` — the scan reads
    * (vec_id, cid, qvec, qnrm) ONLY, a quarter of the float vectors'
    * bytes (spec pins `embedding` out of the ReadSchema). The per-vector
    * quantization scale cancels in cosine, so ranking quality differs
    * from [[search]] only by quantization error (recall ≥0.95 pinned in
    * OperatorsSpec for the in-memory twin). At 100 TB this is the
    * scan-bytes lever: probe WIDE in int8 at 4× less I/O per cell, then
    * re-rank the survivors in float via [[search]] over the top cells if
    * exact ordering matters. */
  def searchInt8(spark: SparkSession, tag: String, queries: DataFrame,
                 nprobe: Int = 0, k: Int = 5,
                 excludeSelf: Boolean = true): DataFrame = {
    val (_, scored8) = int8Stage(spark, tag, queries, nprobe, excludeSelf)
    topKScored(scored8.drop("cid"), k)
  }

  /** The stage [[searchInt8]] and [[searchRerank]] share: quantized probe
    * rows (carrying both query forms — int8 code + norm for scoring, the
    * float vector + norm for a re-rank consumer), the bucket-pruned NARROW
    * scan (vec_id, cid, qvec, qnrm — never the float vectors; spec pins
    * the ReadSchema), and the zero-norm-guarded integer-dot cosine.
    * Returns (probes, scored8(query_id, neighbor_id, cid, cos)). */
  private def int8Stage(spark: SparkSession, tag: String, queries: DataFrame,
                        nprobe: Int, excludeSelf: Boolean): (DataFrame, DataFrame) = {
    import spark.implicits._
    IndexCanary.check(spark, modelTable(tag), assignTable(tag))
    val cents = loadModel(spark, tag)
    val np = if (nprobe == 0) Similarity.nprobeFor(cents.length) else nprobe
    spark.catalog.refreshTable(assignTable(tag))
    val probes = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      queries.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .flatMap { case (id, v) =>
          val q = Similarity.quantizeVec(v)
          val na = math.sqrt(Similarity.dotI(q, q).toDouble)
          rankCells(v, cents, math.max(1, np))
            .map(cid => (id, cid, q, na, v, Similarity.normP(v)))
        }
        .toDF("query_id", "cid", "qa", "na", "vq", "nq"))
    val probedCells = cellsOf(probes)
    graft.plans.DotInt8.ensureRegistered(spark)
    // explicit narrow select BEFORE the join: the int8 stage's point is
    // that the scan never reads the float vectors
    val joined = spark.table(assignTable(tag))
      .select("vec_id", "cid", "qvec", "qnrm")
      .filter(col("cid").isin(probedCells: _*))
      .join(probes.select("query_id", "cid", "qa", "na"), "cid")
    val cand = if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id")) else joined
    val scored8 = cand
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cid"),
        when(col("na") === 0 || col("qnrm") === 0, lit(0.0))
          .otherwise(expr(s"${graft.plans.DotInt8.FuncName}(qa, qvec)")
            .cast("double") / (col("na") * col("qnrm"))).as("cos"))
    (probes, scored8)
  }

  /** Int8-wide probe → float re-rank: the widening composition the two
    * storage legs exist for. Stage 1 scores ALL candidates of the probed
    * cells as integer dots over the 64-byte codes (the cheap-bytes pass —
    * scan reads no floats) and keeps the k·widen best per query; stage 2
    * re-scores ONLY those survivors with exact float cosine (a second
    * bucket-pruned scan of the survivors' cells, float columns this time,
    * joined to the tiny survivor set) and returns the float top-k. Cost:
    * stage 1 = [[searchInt8]]; stage 2 = O(queries × k·widen) float dots +
    * one pruned scan. With `widen` large enough to keep every candidate,
    * the result is EXACTLY [[search]] (spec-pinned); at small widen the
    * int8 cut can only drop candidates whose quantized rank fell below
    * k·widen — the standard re-rank trade, oracled end-to-end by
    * `q_ivf_rerank`. */
  def searchRerank(spark: SparkSession, tag: String, queries: DataFrame,
                   nprobe: Int = 0, k: Int = 5, widen: Int = 4,
                   excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    val (probes, scored8) = int8Stage(spark, tag, queries, nprobe, excludeSelf)
    graft.plans.DotFloat.ensureRegistered(spark)
    // the k·widen cut on the int8 order, pinned tie-break; checkpointed —
    // the survivor set is tiny and feeds both the cell collect and the
    // re-rank join
    val wWide = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val wide = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      scored8.withColumn("rw", row_number().over(wWide))
        .filter(col("rw") <= k * widen)
        .select("query_id", "neighbor_id", "cid"))
    val wideCells = cellsOf(wide)
    val floats = spark.table(assignTable(tag))
      .select(col("vec_id").as("neighbor_id"), col("cid"), col("embedding"), col("nrm"))
      .filter(col("cid").isin(wideCells: _*))
    val scoredF = wide.drop("cid")
      .join(floats.drop("cid"), "neighbor_id")
      .join(probes.select("query_id", "vq", "nq").dropDuplicates("query_id"), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        (expr(s"${graft.plans.DotFloat.FuncName}(vq, embedding)")
          / (col("nq") * col("nrm"))).as("cos"))
    topKScored(scoredF, k)
  }

  /** ADAPTIVE per-query probe budget (the fixed-nprobe remedy — cf. Li
    * et al., SIGMOD 2020 "Improving Approximate Nearest Neighbor Search
    * through Learned Adaptive Early Termination" for the problem shape;
    * this is the unlearned stability form). Fixed budgets overpay easy
    * queries and underpay hard ones: the r10 decade table shows the rule
    * budget flooring at 0.61–0.77 recall while a ≥0.95 consumer must pay
    * a FIXED 4·rule everywhere. Here each query probes its ranked cells
    * in CHUNKS of `chunk` (default: the [[Similarity.nprobeFor]] rule);
    * after each chunk the query's running top-k (ids in rank order) is
    * compared to the previous round's — an UNCHANGED top-k terminates the
    * query, a changed one buys the next chunk, up to `maxChunks` chunks
    * (default 4 → the 4·rule ceiling). Geometric cell bounds
    * (Cauchy–Schwarz over centroid distance + cell radius) do not bite in
    * high dimension, so stability IS the termination signal.
    *
    * Batch shape: one bucket-pruned scan per ROUND over only the
    * still-active queries' next chunk (rank-ordered chunks are disjoint,
    * and top-k(A ∪ B) = top-k(top-k(A) ∪ B), so the running top-k is
    * exact over every cell probed so far). Driver state is
    * metadata-sized: the active id set and per-round cell lists. With
    * termination never firing the result is EXACTLY
    * `search(nprobe = chunk·maxChunks)` (spec-pinned); stability can only
    * stop a query EARLIER than the cap, so probed work only shrinks.
    * Stability compares NEIGHBOR IDS (rank order), not raw scores — ulp
    * differences must not flip a termination verdict between engines
    * (the q_ivf_adaptive oracle unrolls the same rounds + rule).
    *
    * DEMOTED FROM DEPLOYMENT GUIDANCE (r12) — appendix status. The
    * measured record, in full (SCALING.md r11 + r12, exact truth):
    * on HOMOGENEOUS query panels (r11, 2M and 20M) the policy is
    * frontier-NEUTRAL on recall-per-probed-cell and 3–7× wall-worse; on
    * the explicitly HETEROGENEOUS panel (r12 — 25 gate-band planted
    * queries + 25 natural-band corpus queries in one batch, the
    * operator's claimed regime) the reallocation is real (the easy half
    * terminates after the stability window; round histograms in
    * SCALING r12) and slightly frontier-POSITIVE — matching fixed
    * 4·rule's recall at 3.82·rule mean budget, a ~4.5% candidate-I/O
    * saving — but the wall is still 2–3.4× WORSE at every configuration,
    * because each chunk round is a driver-synchronized job barrier that
    * fixed budgets pay once. The verdict: at every scale measurable here
    * a fixed budget at the same mean is faster, and the I/O saving is
    * too small to buy the rounds. Use a fixed budget
    * ([[search]]/[[searchInt8]]/[[searchPq]]). This operator remains
    * correct (oracled: q_ivf_adaptive) and would only earn its rounds on
    * a cluster whose candidate scans are so I/O-bound that a few percent
    * of scan volume outweighs per-round scheduling — measure there
    * before reaching for it. */
  def searchAdaptive(spark: SparkSession, tag: String, queries: DataFrame,
                     k: Int = 5, chunk: Int = 0, maxChunks: Int = 4,
                     excludeSelf: Boolean = true,
                     onRound: (Int, Long) => Unit = (_, _) => (),
                     window: Int = 1): DataFrame = {
    import spark.implicits._
    IndexCanary.check(spark, modelTable(tag), assignTable(tag))
    val cents = loadModel(spark, tag)
    val step = if (chunk == 0) Similarity.nprobeFor(cents.length) else chunk
    val rounds = math.max(1, maxChunks)
    spark.catalog.refreshTable(assignTable(tag))
    graft.plans.DotFloat.ensureRegistered(spark)
    val ck = org.apache.spark.sql.graft.CheckpointShim
    // ranked cells for ALL rounds in one kernel pass (cells·dim per
    // query), tagged with their 1-based round index
    val rankedCells = ck.statsHonestLocalCheckpoint(
      queries.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .flatMap { case (id, v) =>
          rankCells(v, cents, math.min(cents.length, step * rounds))
            .zipWithIndex
            .map { case (cid, r0) => (id, cid, r0 / step + 1) }
        }
        .toDF("query_id", "cid", "round"))
    val qvecs = ck.statsHonestLocalCheckpoint(
      queries.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .map { case (id, v) => (id, v, Similarity.normP(v)) }
        .toDF("query_id", "vq", "nq"))
    def scoreChunk(r: Int, activeIds: Option[Seq[Long]]): DataFrame = {
      val base = rankedCells.filter(col("round") === r)
      val probes = activeIds match {
        case Some(ids) => base.filter(col("query_id").isin(ids: _*))
        case None => base
      }
      val cells = cellsOf(probes)
      if (cells.isEmpty)
        return Seq.empty[(Long, Long, Double)]
          .toDF("query_id", "neighbor_id", "cos")
      val joined = spark.table(assignTable(tag))
        .select("vec_id", "cid", "embedding", "nrm")
        .filter(col("cid").isin(cells: _*))
        .join(probes.select("query_id", "cid"), "cid")
        .join(qvecs, "query_id")
      val cand = if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id"))
        else joined
      cand.select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr(s"${graft.plans.DotFloat.FuncName}(vq, embedding)")
          / (col("nq") * col("nrm"))).as("cos"))
    }
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    def topK(scored: DataFrame): DataFrame =
      scored.withColumn("rk", row_number().over(wTop)).filter(col("rk") <= k)
        .select("query_id", "rk", "neighbor_id", "cos")
    // round 1: every query. The id set derives from the already-
    // materialized rankedCells checkpoint (every query has >= 1 ranked
    // cell), not a second scan of the queries relation (r15 opt).
    var prev = ck.statsHonestLocalCheckpoint(topK(scoreChunk(1, None)))
    val allIds = rankedCells.select(col("query_id")).distinct()
      .as[Long].collect().toSeq
    onRound(1, allIds.size.toLong)
    // stability streak per query: `window` CONSECUTIVE unchanged rounds
    // terminate (window 1 = the oracle-pinned default; a higher window
    // demands stronger evidence before a query stops buying)
    val win = math.max(1, window)
    val streak = scala.collection.mutable.HashMap.empty[Long, Int]
    allIds.foreach(q => streak(q) = 0)
    var active: Seq[Long] = allIds
    val finished = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var r = 2
    while (r <= rounds && active.nonEmpty) {
      onRound(r, active.size.toLong)
      val next = ck.statsHonestLocalCheckpoint(topK(
        prev.select("query_id", "neighbor_id", "cos")
          .unionAll(scoreChunk(r, Some(active)))))
      // stability verdict: neighbor-id sequence per query, null-safe full
      // join on (query_id, rk) — a length change is a change too
      val changed = next.select(col("query_id"), col("rk"), col("neighbor_id"))
        .join(prev.select(col("query_id"), col("rk"),
          col("neighbor_id").as("p_nid")), Seq("query_id", "rk"), "full")
        .filter(!(col("neighbor_id") <=> col("p_nid")))
        .select("query_id").distinct().as[Long].collect().toSet
      active.foreach(q => streak(q) = if (changed(q)) 0 else streak(q) + 1)
      val (done, cont) = active.partition(q => streak(q) >= win)
      // stable queries keep their (unchanged ≡ prev) rows and stop buying
      finished += next.filter(col("query_id").isin(done: _*))
      active = cont
      prev = ck.statsHonestLocalCheckpoint(
        next.filter(col("query_id").isin(cont: _*)))
      r += 1
    }
    finished += prev
    finished.reduce(_ unionAll _)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy("query_id", "rk")
  }

  /** [[search]] scored by PQ/ADC lookup — the 8-byte candidate tier
    * ([[Pq]]). Same float-space cell ranking as [[search]]; candidates
    * are scored as `m` lookups into the query's precomputed ADC table
    * over the stored `pqcode` column — the scan reads
    * (vec_id, cid, pqcode, nrm) ONLY: 16 B/candidate vs the int8 tier's
    * 72 B and the float tier's 264 B. Scores are ASYMMETRIC cosine
    * (exact query against the candidate's PQ reconstruction) — ranking
    * differs from [[search]] by PQ quantization error, and that error is
    * BAND-DEPENDENT (measured, SCALING.md r11): gate-band matches
    * (cos ≥ 0.86) survive it — recall 0.96 raw / 1.00 via
    * [[searchPqRerank]] widen 4 — while tight natural-band top-k does
    * not (spacing ~10⁻³ < the 8-byte reconstruction error). Use this
    * tier for dup/ingest-gate scans; keep [[searchInt8]] for
    * natural-band semantic search. An index built with
    * `PqSpec(residual = true)` (IVFADC-proper — see [[Pq.PqSpec]])
    * scores `dot(q, c_cell) + ADC(residual code)` automatically: same
    * scan bytes, tighter reconstruction (PqIndexSpec pins the error
    * ordering; SCALING.md r12 the recall consequence). Requires an
    * index built with the PQ tier (fails loudly otherwise). */
  def searchPq(spark: SparkSession, tag: String, queries: DataFrame,
               nprobe: Int = 0, k: Int = 5,
               excludeSelf: Boolean = true): DataFrame = {
    val (_, scored) = pqStage(spark, tag, queries, nprobe, excludeSelf)
    topKScored(scored.drop("cid"), k)
  }

  /** The stage [[searchPq]] and [[searchPqRerank]] share. Probes stay
    * NARROW (query_id, cid) — the per-query ADC table (m·k doubles; 16 KB
    * at the 8×256 default) rides a SEPARATE one-row-per-query relation
    * joined to candidates on query_id (AQE broadcasts it), so the probe
    * shuffle never multiplies the table by nprobe. Returns
    * (qtabs(query_id, tab, nq, vq), scored(query_id, neighbor_id, cid, cos)). */
  private def pqStage(spark: SparkSession, tag: String, queries: DataFrame,
                      nprobe: Int, excludeSelf: Boolean): (DataFrame, DataFrame) = {
    import spark.implicits._
    IndexCanary.check(spark, modelTable(tag), assignTable(tag), pqModelTable(tag))
    require(spark.catalog.tableExists(pqModelTable(tag)),
      s"index `$tag` has no PQ tier (${pqModelTable(tag)} absent) — rebuild with " +
        "pq = Pq.PqSpec(...) or let Pq.PqAuto engage at scale")
    val cents = loadModel(spark, tag)
    val pm = loadPqModel(spark, tag)
    val (books, signs) = (pm.books, pm.signs)
    val np = if (nprobe == 0) Similarity.nprobeFor(cents.length) else nprobe
    spark.catalog.refreshTable(assignTable(tag))
    // residual tier: each probe row carries the EXACT coarse term
    // dot(q, c_cell) — one double per (query, probed cell), computed in
    // the same kernel that ranks the cells; candidate-count-independent
    val probes = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      if (pm.residual)
        queries.select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])]
          .flatMap { case (id, v) =>
            rankCells(v, cents, math.max(1, np))
              .map(cid => (id, cid, Pq.coarseDot(v, cents(cid))))
          }
          .toDF("query_id", "cid", "qc")
      else
        queries.select(col("vec_id"), col("embedding"))
          .as[(Long, Array[Float])]
          .flatMap { case (id, v) =>
            rankCells(v, cents, math.max(1, np))
              .map(cid => (id, cid))
          }
          .toDF("query_id", "cid"))
    val qtabs = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      queries.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])]
        .map { case (id, v) =>
          (id, Pq.adcTable(v, books, signs), Similarity.normP(v), v)
        }
        .toDF("query_id", "tab", "nq", "vq"))
    val probedCells = cellsOf(probes)
    graft.plans.AdcLookup.ensureRegistered(spark)
    // explicit narrow select BEFORE the join: the ADC tier's point is that
    // the candidate scan reads neither the float vectors nor the int8 codes
    val joined = spark.table(assignTable(tag))
      .select("vec_id", "cid", "pqcode", "nrm")
      .filter(col("cid").isin(probedCells: _*))
      .join(probes, "cid")
      .join(qtabs.select("query_id", "tab", "nq"), "query_id")
    val cand = if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id")) else joined
    val adcCol = expr(s"${graft.plans.AdcLookup.FuncName}(tab, pqcode, ${pm.kSub})")
    val approx = if (pm.residual) col("qc") + adcCol else adcCol
    val scored = cand
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cid"),
        when(col("nq") === 0 || col("nrm") === 0, lit(0.0))
          .otherwise(approx / (col("nq") * col("nrm"))).as("cos"))
    (qtabs, scored)
  }

  /** ADC-wide probe → float re-rank: [[searchRerank]] with the 8-byte PQ
    * tier as the cheap first pass — the candidate scan reads 16 B/row,
    * then ONLY the k·widen ADC survivors are re-scored in exact float
    * cosine (a second bucket-pruned scan joined to the tiny survivor
    * set). With `widen` large enough to keep every candidate the result
    * is EXACTLY [[search]] (spec-pinned); at small widen the ADC cut can
    * drop candidates whose quantized rank fell below k·widen — the
    * standard PQ re-rank trade, oracled end-to-end by `q_ivf_pq_rerank`. */
  def searchPqRerank(spark: SparkSession, tag: String, queries: DataFrame,
                     nprobe: Int = 0, k: Int = 5, widen: Int = 4,
                     excludeSelf: Boolean = true): DataFrame = {
    import spark.implicits._
    val (qtabs, scored) = pqStage(spark, tag, queries, nprobe, excludeSelf)
    graft.plans.DotFloat.ensureRegistered(spark)
    val wWide = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    val wide = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      scored.withColumn("rw", row_number().over(wWide))
        .filter(col("rw") <= k * widen)
        .select("query_id", "neighbor_id", "cid"))
    val wideCells = cellsOf(wide)
    val floats = spark.table(assignTable(tag))
      .select(col("vec_id").as("neighbor_id"), col("cid"), col("embedding"), col("nrm"))
      .filter(col("cid").isin(wideCells: _*))
    val scoredF = wide.drop("cid")
      .join(floats.drop("cid"), "neighbor_id")
      .join(qtabs.select("query_id", "vq", "nq"), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        (expr(s"${graft.plans.DotFloat.FuncName}(vq, embedding)")
          / (col("nq") * col("nrm"))).as("cos"))
    topKScored(scoredF, k)
  }

  /** k = 1 gate composition over the PQ tier: ADC scores go through
    * [[graft.plans.ArgMaxBest]] (HashAggregateExec — the candidate
    * relation is NEVER sorted, the property the 20M dup gate depends
    * on; a rerank-tier window cut would reintroduce exactly that sort),
    * then the ONE arg-max survivor per query is re-scored in exact
    * float cosine via a bucket-pruned scan of the survivors' cells.
    * Contract difference vs [[searchPqRerank]](k = 1): the cut is width
    * 1 in the CHEAP tier's order — the returned cos is the exact float
    * cosine OF THE TIER'S ARG-MAX candidate, not necessarily the
    * float-best. Dup-gate geometry is what makes width 1 usable: a
    * stored near-copy sits at the top of the ADC range, far above
    * generic neighbors (verdict agreement vs the float gate measured in
    * SCALING.md r12); semantic gates should stay on [[search]] /
    * [[searchRerank]]. */
  def searchPqBestRescored(spark: SparkSession, tag: String, queries: DataFrame,
                           nprobe: Int = 0,
                           excludeSelf: Boolean = true): DataFrame = {
    val (qtabs, scored) = pqStage(spark, tag, queries, nprobe, excludeSelf)
    bestRescored(spark, tag, qtabs.select("query_id", "vq", "nq"), scored)
  }

  /** [[searchPqBestRescored]] over the int8 tier — same sort-free
    * arg-max + single-survivor float re-score, 4× scan-byte cut instead
    * of the PQ tier's ~13×. */
  def searchInt8BestRescored(spark: SparkSession, tag: String, queries: DataFrame,
                             nprobe: Int = 0,
                             excludeSelf: Boolean = true): DataFrame = {
    val (probes, scored8) = int8Stage(spark, tag, queries, nprobe, excludeSelf)
    bestRescored(spark, tag,
      probes.select("query_id", "vq", "nq").dropDuplicates("query_id"), scored8)
  }

  /** Shared tail of the `*BestRescored` gate compositions: arg-max on
    * the cheap-tier score with the cell id riding the payload slot
    * (fixed-width HashAggregate buffer — map-side combine keeps ONE row
    * per query per split), then one bucket-pruned float scan joined to
    * the survivor-per-query relation. Output contract = [[search]] with
    * k = 1. */
  private def bestRescored(spark: SparkSession, tag: String,
                           qvecs: DataFrame, scored: DataFrame): DataFrame = {
    import spark.implicits._
    graft.plans.ArgMaxBest.ensureRegistered(spark)
    graft.plans.DotFloat.ensureRegistered(spark)
    // checkpointed: feeds both the survivor-cell collect and the re-score
    // join (one tiny row per query)
    val best = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      scored.groupBy("query_id")
        .agg(expr(s"${graft.plans.ArgMaxBest.FuncName}(" +
          "cos, neighbor_id, cast(cid as bigint))").as("b"))
        .select(col("query_id"), col("b.id").as("neighbor_id"),
          col("b.payload").cast("int").as("cid")))
    val cells = cellsOf(best)
    val floats = spark.table(assignTable(tag))
      .select(col("vec_id").as("neighbor_id"), col("cid"), col("embedding"), col("nrm"))
      .filter(col("cid").isin(cells: _*))
    best.join(floats, Seq("neighbor_id", "cid"))
      .join(qvecs, "query_id")
      .select(col("query_id"), lit(1).as("rk"), col("neighbor_id"),
        round(expr(s"${graft.plans.DotFloat.FuncName}(vq, embedding)")
          / (col("nq") * col("nrm")), 6).as("cos"))
      .orderBy("query_id")
  }

  /** Top-k per query over `(query_id, neighbor_id, cos)` with the pinned
    * (cos DESC, neighbor_id ASC) tie-break. k = 1 — the streaming gate's
    * shape — goes through [[graft.plans.ArgMaxBest]] (HashAggregateExec
    * arg-max over a fixed-width primitive buffer, map-side combine: each
    * map split keeps ONE row per query) instead of the window, which
    * would shuffle and locally sort every candidate row just to keep the
    * first — measured as the residual slice of the vector gate's batch
    * wall once scoring went native. The earlier object-buffer arg-max
    * ([[graft.plans.ArgMaxStruct]]) hit ObjectHashAggregateExec's
    * 128-key sort fallback on any real batch — at 20M vectors that
    * sorted the full 1.2B-row candidate-pair relation and filled the
    * probe host's disk; the primitive buffer never sorts input at any
    * key count. (score DESC, id ASC) ≡ the window's ordering, so the two
    * paths are interchangeable (spec-pinned). */
  private[operators] def topKScored(scored: DataFrame, k: Int): DataFrame =
    if (k == 1) {
      graft.plans.ArgMaxBest.ensureRegistered(scored.sparkSession)
      scored.groupBy("query_id")
        .agg(expr(s"${graft.plans.ArgMaxBest.FuncName}(" +
          "cos, neighbor_id, 0L)").as("best"))
        .select(col("query_id"), lit(1).as("rk"),
          col("best.id").as("neighbor_id"),
          round(col("best.score"), 6).as("cos"))
        .orderBy("query_id")
    } else {
      val wTop = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      scored.withColumn("rk", row_number().over(wTop)).filter(col("rk") <= k)
        .select(col("query_id"), col("rk"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy("query_id", "rk")
    }
}
