package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The landing-zone → index-maintenance composition — where the two
  * coordination regimes meet (the r12 verdict's missing-item 3; the
  * [[ManifestLog]] scope note named this as exactly the lease's remaining
  * job). N concurrent writers land batches LOCK-FREE through
  * [[ManifestLog.append]]/[[ManifestLog.sink]]; this operator, UNDER the
  * index lease, compacts the committed segments into the bucketed
  * [[ShingleIndex]] and retires what it has absorbed:
  *
  * {{{
  *   writers ──append──▶ manifest log ──absorb──▶ ShingleIndex ──probe──▶
  *                            └────────retire (after grace)
  * }}}
  *
  * Exactly-once END-TO-END, each leg by a different mechanism:
  *   - land: the manifest protocol (atomic marker create; one winner per
  *     (writerId, batchId); replays are absorbed, never duplicated);
  *   - absorb: lease-serialized; consumed segments are tracked as marker
  *     files under `<root>/consumed/`, so each committed segment feeds
  *     the index once;
  *   - crash in the append→consume-mark window: the next absorb re-reads
  *     the segment, but the append's presence lookup finds the already-
  *     absorbed docs in the index's sizes table (`corpus_id` — one row per
  *     absorbed doc) and skips them, so the replay is a no-op instead of
  *     the loud "already present" rejection a direct
  *     [[ShingleIndex.append]] raises. A crash BETWEEN the append's table
  *     writes can leave a doc in `occ` but not in `sizes` (or the
  *     reverse); the replay then fails loudly on it instead of skipping
  *     or duplicating it, and the index needs a rebuild;
  *   - a LATE lower-attempt replay that retroactively changes a segment's
  *     winner after absorb surfaces as a "new" pending segment whose docs
  *     the same lookup drops — zero-dup holds under the manifest
  *     protocol's one documented race.
  *
  * Scale shape: the append reads the pending docs in chunks of
  * [[BucketedMaintenance.MaxAppendRows]], and each chunk's lookup scans
  * the probed columns of the index tables once, so absorb cost is
  * O(pending docs + chunks × index) — independent of log history, and a
  * landing zone within one chunk (an arrival-sized cycle) scans the index
  * once. The segments are read twice at most: once for the first chunk,
  * once into a cache the later chunks read.
  * At 100 TB the cadence is: land continuously, absorb per maintenance
  * cycle, [[ShingleIndex.compact]] when file counts accrete,
  * [[ShingleIndex.rebuildIfNeeded]] when the overshoot census trips, and
  * [[retireConsumed]] keeps the landing zone from growing without bound.
  *
  * Caller contract (same as append's): distinct writers land distinct
  * doc_ids — the protocol dedups REPLAYS (same writer+batch, or the same
  * docs re-read after a crash), not two writers legitimately landing the
  * same logical document; that is near-dup detection's job, downstream. */
object LandingZone {

  /** Consumed-segment markers live beside the log's own directories. */
  def consumedDir(root: String): String = s"$root/consumed"

  private val ConsumedSuffix = ".consumed"

  private def fs(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def consumed(spark: SparkSession, root: String): Set[String] = {
    val f = fs(spark, root)
    val dir = new Path(consumedDir(root))
    if (!f.exists(dir)) Set.empty
    else f.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.endsWith(ConsumedSuffix))
      .map(_.stripSuffix(ConsumedSuffix)).toSet
  }

  /** Committed segments not yet absorbed into the index. */
  def pendingSegments(spark: SparkSession, root: String): Seq[String] = {
    val done = consumed(spark, root)
    ManifestLog.segments(spark, root).filterNot(done)
  }

  /** What one absorb pass did: the segments it consumed, how many docs
    * they carried, and how many were NEW to the index (the difference is
    * crash-replay / late-winner overlap the anti-join dropped). */
  final case class AbsorbReport(segments: Seq[String], landedDocs: Long,
                                freshDocs: Long)

  /** The absorb core every index family shares: read the pending segments
    * and hand them to the index's chunked append with `dropPresent` — docs
    * or vectors the index already holds (a crash-window replay, a late
    * winner) are skipped by the append's own presence lookup, the rest
    * appended — then consume-mark. Callers hold the index lease and have
    * validated the index exists. The append reads the segment files in
    * bound-sized chunks (one collect for a landing zone under the bound)
    * and reports both counts, so nothing re-reads them: every read ends
    * before the consume-marking, which a concurrent low-grace retire waits
    * for. Consume-marking comes AFTER the append is durable: a crash
    * anywhere earlier re-runs the pass, and the presence lookup skips what
    * the crashed pass appended, whole chunks included; a doc the crash
    * left in only one of the shingle index's `occ` and `sizes` fails the
    * re-run loudly (see the class doc). */
  private def absorbPending(spark: SparkSession, root: String, schema: StructType,
                            append: DataFrame => (Long, Long)): AbsorbReport = {
    val pending = pendingSegments(spark, root)
    if (pending.isEmpty) AbsorbReport(Seq.empty, 0L, 0L)
    else {
      val (landedDocs, freshDocs) =
        append(spark.read.schema(schema).parquet(pending.map(s => s"$root/data/$s"): _*))
      val f = fs(spark, root)
      f.mkdirs(new Path(consumedDir(root)))
      pending.foreach { s =>
        f.create(new Path(consumedDir(root), s + ConsumedSuffix), true).close()
      }
      AbsorbReport(pending, landedDocs, freshDocs)
    }
  }

  /** Compact every pending committed segment into the shingle index.
    * Requires a built index (`tag`); runs under its lease (re-entrant
    * with [[ShingleIndex.append]]'s own acquisition). `schema` is the
    * landing shape — (doc_id, text) for the dedup index. Absorb cost is
    * [[ShingleIndex.append]]'s: for a landing zone under
    * [[BucketedMaintenance.MaxAppendRows]] docs, one collect, one lookup
    * job and at most four concurrent table writes.
    *
    * Stated corner: "already absorbed" means the sizes table holds the
    * doc_id, and sizes has one row per doc WITH ≥1 admitted shingle. A doc
    * whose every shingle was df-cap-rejected on admission has no sizes
    * row, so a crash-window replay re-reads it as fresh — its re-append
    * admits zero rows again (same cap), its fingerprint is already stored,
    * and the pass consume-marks its segment, so the corner is a bounded
    * no-op, never a loop or a dup. */
  def absorbIntoShingleIndex(spark: SparkSession, root: String,
                             schema: StructType, tag: String, path: String,
                             buckets: Int = 8,
                             maxShingleDf: Int = Dedup.DefaultMaxShingleDf): AbsorbReport =
    absorbIntoShingleIndex(spark, root, schema, tag, path, buckets, maxShingleDf,
      BucketedMaintenance.MaxAppendRows)

  private[graft] def absorbIntoShingleIndex(spark: SparkSession, root: String,
                                            schema: StructType, tag: String, path: String,
                                            buckets: Int, maxShingleDf: Int,
                                            bound: Int): AbsorbReport =
      LeaseLock.withTableLock(spark, tag) {
    require(spark.catalog.tableExists(ShingleIndex.sizesTable(tag)),
      s"index '$tag' must be built before absorbing a landing zone into it")
    absorbPending(spark, root, schema, landed =>
      ShingleIndex.appendChunks(spark, tag, path, landed, buckets, maxShingleDf, bound,
        dropPresent = true))
  }

  /** The same lifecycle for the VECTOR side (r13 verdict task 4 /
    * missing-item 3): landed embedding batches compact into the
    * persistent [[IvfIndex]] under its lease. "Already absorbed" is the
    * assignment relation itself (one row per absorbed vec_id — no df-cap
    * corner here: every absorbed vector gets exactly one assignment row,
    * so a crash-window replay is dropped exactly); append is
    * [[IvfIndex.assignInto]]'s chunked path — landed vectors get cells
    * from the STORED model (no retrain, standard IVF maintenance), so an
    * absorb never changes the centroids a concurrent search is probing.
    * `schema` is the landing shape — (vec_id, embedding).
    *
    * Same exactly-once contract as the shingle side, leg by leg: land
    * via the manifest protocol, absorb lease-serialized with consumed
    * markers, crash in the append→consume-mark window replays into the
    * presence lookup (no-op), and a late lower-attempt winner surfaces as
    * a "new" segment whose vectors the lookup drops. When the absorbed
    * volume outgrows the model, [[IvfIndex.rebuildIfNeeded]] is the
    * maintenance tick's next call — same cadence note as the class doc. */
  def absorbIntoIvfIndex(spark: SparkSession, root: String,
                         schema: StructType, tag: String): AbsorbReport =
    absorbIntoIvfIndex(spark, root, schema, tag, BucketedMaintenance.MaxAppendRows)

  private[graft] def absorbIntoIvfIndex(spark: SparkSession, root: String,
                                        schema: StructType, tag: String,
                                        bound: Int): AbsorbReport =
      LeaseLock.withTableLock(spark, tag) {
    require(spark.catalog.tableExists(IvfIndex.assignTable(tag)),
      s"IVF index '$tag' must be built before absorbing a landing zone into it")
    absorbPending(spark, root, schema, landed =>
      IvfIndex.assignChunks(spark, tag, landed, 0, bound, dropPresent = true))
  }

  /** [[absorbIntoIvfIndex]] for the past-the-broadcast-cap regime's
    * [[ImiIndex]] — completing the family the r13 verdict named
    * ("IvfIndex/ImiIndex"). [[ImiIndex.assignInto]] takes RAW vectors and
    * rotates into the index's stored space itself when the model carries
    * a seed; vec_ids are rotation-invariant, so the presence lookup is
    * the same one the IVF side runs. */
  def absorbIntoImiIndex(spark: SparkSession, root: String,
                         schema: StructType, tag: String): AbsorbReport =
      LeaseLock.withTableLock(spark, tag) {
    require(spark.catalog.tableExists(ImiIndex.assignTable(tag)),
      s"IMI index '$tag' must be built before absorbing a landing zone into it")
    absorbPending(spark, root, schema, landed =>
      ImiIndex.assignChunks(spark, tag, landed, 0, BucketedMaintenance.MaxAppendRows,
        dropPresent = true))
  }

  /** Compact the landing zone's committed view ([[ManifestLog.compact]] —
    * `targetPartitions` zstd files) under the index lease, inheriting
    * consumed status: when EVERY compacted-in segment was already
    * absorbed, the compacted segment is consume-marked too, so an idle
    * maintenance tick stays free instead of re-scanning fully-absorbed
    * content for a guaranteed-no-op anti-join. With any unabsorbed input
    * the compacted segment stays pending and the next absorb feeds
    * exactly the not-yet-absorbed docs (the anti-join's job — the
    * re-scan of absorbed neighbors is the price of the swap, paid once).
    * Motivation is the r14 layout finding: the as-landed log's thousands
    * of sub-MB writer files cost the downstream scan 5× cold
    * (SCALING r14) — compaction is where that lever lives in the
    * landing lifecycle. */
  def compactLanding(spark: SparkSession, root: String, schema: StructType,
                     tag: String, targetPartitions: Int = 32,
                     codec: String = "zstd"): Option[String] =
      LeaseLock.withTableLock(spark, tag) {
    val before = ManifestLog.segments(spark, root)
    val done = consumed(spark, root)
    val allConsumed = before.nonEmpty && before.forall(done)
    ManifestLog.compact(spark, root, schema, targetPartitions, codec).map { name =>
      if (allConsumed) {
        val f = fs(spark, root)
        f.mkdirs(new Path(consumedDir(root)))
        f.create(new Path(consumedDir(root), name + ConsumedSuffix), true).close()
      }
      name
    }
  }

  /** Retire absorbed segments older than `graceMs`: delete the manifest
    * marker first (readers stop surfacing the segment), then the data
    * directory, then the consumed marker — so a crash mid-retire leaves a
    * state the next retire finishes (the consumed marker is the driving
    * list and goes last). Grace carries the same reader contract as
    * [[ManifestLog.vacuum]]: exceed the longest reader scan. */
  def retireConsumed(spark: SparkSession, root: String,
                     graceMs: Long = 15 * 60 * 1000L): Seq[String] = {
    val f = fs(spark, root)
    val dir = new Path(consumedDir(root))
    if (!f.exists(dir)) Seq.empty
    else {
      val cutoff = System.currentTimeMillis() - graceMs
      f.listStatus(dir).toSeq
        .filter(st => st.getPath.getName.endsWith(ConsumedSuffix) &&
          st.getModificationTime < cutoff)
        .map { st =>
          val name = st.getPath.getName.stripSuffix(ConsumedSuffix)
          f.delete(new Path(s"$root/manifests/$name${ManifestLog.ManifestSuffix}"), false)
          f.delete(new Path(s"$root/data/$name"), true)
          f.delete(st.getPath, false)
          name
        }
    }
  }

  /** The oracled end-to-end form (`q_landing_absorb`): the incremental
    * corpus lands as three lock-free writer segments plus one REPLAYED
    * batch, absorbs into a fresh index (twice — the second pass must
    * no-op), and the probe answers over the composed path. The oracle is
    * LITERALLY `q_dedup_index_append`'s recompute SQL
    * ([[Dedup.incrementalDedupSql]]) — the `q_dedup_indexed` discipline:
    * any lost segment, duplicated absorb, or double-counted sizes row
    * changes nc and therefore the jaccard hash. Log root is run-scoped
    * temp state, retired (grace 0) and removed before returning. */
  def queryAbsorb(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val idxDir = graft.Scratch.dir("graft_q_shindex_land")
    val corpus = d.filter(col("doc_id") % 13 =!= 0)
    ShingleIndex.build(corpus.filter(col("doc_id") % 3 =!= 0), idxDir, "q_shindex_land")
    // landing is read by all three writers' filters — freeze it once
    // instead of re-scanning the parquet per append (r15 opt); freed
    // after the replay append, before the absorb passes
    val landing = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(corpus.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("text")))
    val root = java.nio.file.Files.createTempDirectory("graft_q_landing").toString
    // the three writers are the protocol's CONCURRENT lock-free appenders
    // — run them concurrently (guide §2.6; exactly the regime the
    // manifest log exists for). The ack-lost replay stays sequential
    // AFTER them: its semantics are "a retry of an already-committed
    // batch", which requires the original commit to exist.
    Jobs.concurrently((0 until 3).map { w =>
      () => ManifestLog.append(landing.filter(col("doc_id") % 3000 >= w * 1000
        && col("doc_id") % 3000 < (w + 1) * 1000), root, s"writer$w", 0L)
    })
    ManifestLog.append(landing.filter(col("doc_id") % 3000 >= 1000
      && col("doc_id") % 3000 < 2000), root, "writer1", 0L) // ack-lost replay
    org.apache.spark.sql.graft.CheckpointShim.freeCheckpoint(landing)
    val first = absorbIntoShingleIndex(spark, root, landing.schema,
      "q_shindex_land", idxDir)
    val second = absorbIntoShingleIndex(spark, root, landing.schema,
      "q_shindex_land", idxDir)
    require(second.freshDocs == 0L,
      s"second absorb must no-op, saw ${second.freshDocs} fresh docs after $first")
    retireConsumed(spark, root, graceMs = 0L)
    fs(spark, root).delete(new Path(root), true)
    ShingleIndex.probe(spark, "q_shindex_land", d.filter(col("doc_id") % 13 === 0))
      .drop("shared").orderBy("doc_id")
  }

  /** The vector side's oracled end-to-end form (`q_landing_vec_absorb`):
    * the IVF index builds on 2/3 of the embeddings corpus (vec_id % 3 ≠ 0,
    * residue seed — the oracle-parity training mode), the remaining third
    * lands as three lock-free writer segments plus one REPLAYED batch,
    * absorbs into the index (twice — the second pass must no-op), and the
    * q_ivf_indexed search answers over the composed path. The oracle is
    * [[Similarity.ivfLandingAbsorbSql]] — Lloyd on the base subset, every
    * vector assigned to that frozen model, the byte-shared search tail —
    * so a lost segment, double absorb, or mis-assigned landed vector
    * changes the candidate set and breaks the hash. Log root is
    * run-scoped temp state, retired (grace 0) and removed before
    * returning. */
  def queryVecAbsorb(spark: SparkSession, dir: String): DataFrame = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val idxDir = graft.Scratch.dir("graft_q_ivfindex_land")
    IvfIndex.build(e.filter(col("vec_id") % 3 =!= 0), idxDir, "q_ivfidx_land",
      nCentroids = 8, seed = Similarity.ResidueSeed)
    // same single-freeze + concurrent-writers shape as [[queryAbsorb]]
    val landing = org.apache.spark.sql.graft.CheckpointShim
      .statsHonestLocalCheckpoint(e.filter(col("vec_id") % 3 === 0)
        .select(col("vec_id"), col("embedding")))
    val root = java.nio.file.Files.createTempDirectory("graft_q_vec_landing").toString
    // landing ids are ≡0 (mod 3); three writers split them by vec_id mod 9
    Jobs.concurrently((0 until 3).map { w =>
      () => ManifestLog.append(landing.filter(col("vec_id") % 9 === w * 3), root,
        s"writer$w", 0L)
    })
    ManifestLog.append(landing.filter(col("vec_id") % 9 === 3), root,
      "writer1", 0L) // ack-lost replay
    org.apache.spark.sql.graft.CheckpointShim.freeCheckpoint(landing)
    val first = absorbIntoIvfIndex(spark, root, landing.schema, "q_ivfidx_land")
    val second = absorbIntoIvfIndex(spark, root, landing.schema, "q_ivfidx_land")
    require(second.freshDocs == 0L,
      s"second absorb must no-op, saw ${second.freshDocs} fresh vecs after $first")
    retireConsumed(spark, root, graceMs = 0L)
    fs(spark, root).delete(new Path(root), true)
    IvfIndex.search(spark, "q_ivfidx_land", e.filter(col("vec_id") < 50), nprobe = 2)
  }
}
