package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** Persistent shingle inverted index — build once, probe per batch.
  *
  * [[Dedup.incrementalDedupOn]] is the right ALGORITHM for batch-vs-corpus
  * dedup, but its cost model re-shingles and re-aggregates the ENTIRE
  * corpus on every call: fine when the corpus relation is handed in fresh,
  * absurd as the per-micro-batch deployment shape at 100 TB (the ingest
  * gate's documented throughput floor). This operator splits that cost at
  * the right joint:
  *
  *  - `build` pays the O(corpus) shingling + capped aggregation ONCE and
  *    stores the result as bucketed catalog tables: occurrences
  *    `(key, corpus_id)` bucketed+sorted by `key`, per-doc kept-set sizes
  *    bucketed by `corpus_id`, distinct content fingerprints bucketed by
  *    `fp`. Bucketing pre-pays the index side of every future join: a
  *    probe joins against the stored layout with ZERO Exchange on the
  *    index side (the scan reports its hash partitioning to the planner),
  *    whether the batch side is AQE-broadcast (micro-batch regime) or
  *    shuffled to the bucket count (large-backfill regime).
  *  - `probe` then costs O(batch + matched index rows) shuffle per call —
  *    independent of corpus size. The index is scanned (embarrassingly
  *    parallel, no memory pressure) but never shuffled, never
  *    re-aggregated.
  *  - `append` admits new documents incrementally without a rebuild.
  *
  * Semantics are EXACTLY [[Dedup.incrementalDedupOn]]'s (same corpus-side
  * df cap, same asymmetric Jaccard, same canonical fingerprint exact-dup
  * leg, same unrounded best-match tie-break) — pinned by ShingleIndexSpec
  * equality and by the `q_dedup_indexed` DuckDB oracle, which is literally
  * `q_dedup_incremental`'s SQL computed through this physical path.
  *
  * Append-mode cap semantics: `build` drops a key entirely when its df
  * exceeds the cap ([[graft.plans.CappedCollectLong]] returns NULL).
  * `append` enforces the same bound FORWARD: a key's new occurrences are
  * admitted only if its post-append df stays ≤ cap (batch-internal df
  * counts too). Rows already stored for a key that crosses the cap later
  * stay (parquet is append-only) — a bounded ≤cap-rows-per-key overshoot,
  * tracked per-key in the `<tag>_sat` saturation table, measured by
  * [[overshootCensus]], and restored to exact build semantics by `rebuild`
  * when [[rebuildIfNeeded]]'s threshold trips. At oracle scale the cap is
  * inert and append∘build ≡ build on the union (spec-pinned).
  */
object ShingleIndex {

  def occTable(tag: String): String = s"${tag}_occ"
  def sizesTable(tag: String): String = s"${tag}_sizes"
  def fpTable(tag: String): String = s"${tag}_fp"
  /** Saturated keys — appends rejected occurrences for these, so their true
    * union-corpus df exceeds the cap (see [[OvershootCensus]]). */
  def satTable(tag: String): String = s"${tag}_sat"

  /** Migration shim: indexes built before the saturation table existed
    * have `occ/sizes/fp` but no `<tag>_sat` — an append or census against
    * one would die on TABLE_OR_VIEW_NOT_FOUND. Create it lazily (empty —
    * a pre-sat index is by definition un-appended, hence unsaturated),
    * deriving bucket count and parent path from the occ table's own
    * metadata so the shim needs no caller-supplied layout. */
  private def ensureSatTable(spark: SparkSession, tag: String): Unit =
    if (!spark.catalog.tableExists(satTable(tag))) {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(occTable(tag)))
      val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
        throw new IllegalStateException(s"${occTable(tag)} is not bucketed"))
      // both the original `$path/$table` layout and a post-compact
      // generation dir `$path/$table-genN` share the same parent
      val parent = new org.apache.hadoop.fs.Path(meta.location).getParent.toString
      writeBucketed(spark.table(occTable(tag)).select("key").limit(0),
        satTable(tag), parent, buckets, "key", SaveMode.Overwrite)
    }

  private def writeBucketed(df: DataFrame, table: String, path: String,
                            buckets: Int, bucketCol: String, mode: SaveMode): Unit = {
    val w = df.write.mode(mode).format("parquet")
      .bucketBy(buckets, bucketCol).sortBy(bucketCol)
    // append to an EXISTING table through its catalog location — after a
    // [[compact]] the table lives in a generation dir, and re-pinning the
    // original path would analysis-error on the mismatch (found by
    // the per-batch-compaction cadence of StreamBench, last in commit 7edabe5).
    // Overwrite (build/ rebuild) deliberately re-pins the canonical path.
    if (mode == SaveMode.Append && df.sparkSession.catalog.tableExists(table))
      w.saveAsTable(table)
    else {
      // Overwrite re-pins the canonical path; if a compact moved the table
      // to a generation dir, drop it (and its files) first or the
      // existing-location mismatch check rejects the write. Callers that
      // rebuild FROM the table's own contents must materialize first.
      BucketedMaintenance.dropWithFiles(df.sparkSession, table)
      w.option("path", s"$path/$table").saveAsTable(table)
    }
  }

  /** Build the index tables from `corpus` under catalog names
    * `<tag>_{occ,sizes,fp}` backed by `path`. Overwrite-idempotent.
    *
    * Bucket-count sizing at 100 TB follows the Bucketing scaladoc rule
    * (index size / target partition size); 8 is the toy-scale default. */
  def build(corpus: DataFrame, path: String, tag: String, buckets: Int = 8,
            maxShingleDf: Int = Dedup.DefaultMaxShingleDf): Unit =
      LeaseLock.withTableLock(corpus.sparkSession, tag) {
    val spark = corpus.sparkSession
    graft.plans.CappedCollectLong.ensureRegistered(spark)
    // corpus-sized input — spread the single-split scan before the
    // shingling flatMap (r14 opt; batch paths probe/append skip this)
    val occ = Dedup.shingleRows(Partitioning.spread(
        corpus.select(col("doc_id"), col("text"))))
      .withColumnRenamed("shingle", "key")
      .groupBy("key")
      .agg(expr(s"${graft.plans.CappedCollectLong.FuncName}(doc_id, $maxShingleDf)").as("ids"))
      .filter(col("ids").isNotNull)
      .select(col("key"), explode(col("ids")).as("corpus_id"))
    // The four table writes have ONE dependency edge: sizes reads the
    // STORED occ table (so nc is exactly the kept count the probe join
    // will see — never the pre-cap shingle count). Everything else is
    // independent — overlap the [occ → sizes] chain with the fp and sat
    // writes (guide §2.6; different tables, same held lease, r15 opt).
    Jobs.concurrently(Seq(
      () => {
        writeBucketed(occ, occTable(tag), path, buckets, "key", SaveMode.Overwrite)
        writeBucketed(
          spark.table(occTable(tag)).groupBy("corpus_id").agg(count(lit(1)).as("nc")),
          sizesTable(tag), path, buckets, "corpus_id", SaveMode.Overwrite)
      },
      () => writeBucketed(
        corpus.select(Dedup.canonicalFp(coalesce(col("text"), lit(""))).as("fp")).distinct(),
        fpTable(tag), path, buckets, "fp", SaveMode.Overwrite),
      // empty saturation table: build is exact, so nothing is saturated yet
      () => writeBucketed(occ.select("key").limit(0), satTable(tag), path, buckets,
        "key", SaveMode.Overwrite)))
    ()
  }

  /** Probe the stored index with a batch of `(doc_id, text)` arrivals.
    * Output contract = [[Dedup.incrementalDedupOn]]:
    * `(doc_id, exact_dup, dup_of, shared, jaccard, is_dup)`.
    *
    * The batch legs go through the stats-honest checkpoint (shingling is
    * a typed flatMap whose static stats lie); the index legs are catalog
    * scans with real statistics and pre-paid partitioning. Join strategy
    * is AQE's from measured sizes — a micro-batch earns broadcast, a
    * backfill rides the bucket-aligned sort-merge — per the repo's
    * no-static-guess policy. */
  def probe(spark: SparkSession, tag: String, batch: DataFrame,
            threshold: Double = 0.5): DataFrame = {
    graft.plans.ArgMaxBest.ensureRegistered(spark)
    // cross-session appends (streaming foreachBatch clones) are invisible
    // to this session's cached file listings without a refresh
    Seq(occTable(tag), sizesTable(tag), fpTable(tag))
      .foreach(spark.catalog.refreshTable)
    IndexCanary.check(spark, occTable(tag), sizesTable(tag), fpTable(tag))
    val corpusKept = spark.table(occTable(tag))
    val corpusSizes = spark.table(sizesTable(tag))
    val batchSh = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      Dedup.shingleRows(batch).select(col("doc_id").as("batch_id"), col("shingle").as("key")))
    val batchSizes = batchSh.groupBy("batch_id").agg(count(lit(1)).as("nb"))
    val best = corpusKept.join(batchSh, "key")
      .groupBy("batch_id", "corpus_id")
      .agg(count(lit(1)).as("shared"))
      .join(batchSizes, "batch_id")
      .join(corpusSizes, "corpus_id")
      .withColumn("j", col("shared").cast("double")
        / (col("nb") + col("nc") - col("shared")).cast("double"))
      .groupBy("batch_id")
      .agg(expr(s"${graft.plans.ArgMaxBest.FuncName}(" +
        "j, corpus_id, shared)").as("best"))
      .select(col("batch_id"), col("best.id").as("dup_of"),
        col("best.score").as("j"), col("best.payload").as("shared"))
    val fp = Dedup.canonicalFp(coalesce(col("text"), lit("")))
    val corpusFp = spark.table(fpTable(tag)).withColumn("seen", lit(true))
    batch.select(col("doc_id"), fp.as("fp"))
      .join(corpusFp, Seq("fp"), "left")
      .withColumn("exact_dup", coalesce(col("seen"), lit(false)))
      .join(best, col("doc_id") === col("batch_id"), "left")
      .withColumn("is_dup",
        col("exact_dup") || coalesce(col("j") >= threshold, lit(false)))
      .select(col("doc_id"), col("exact_dup"), col("dup_of"), col("shared"),
        round(col("j"), 6).as("jaccard"), col("is_dup"))
  }

  /** One arrival held on the driver: id, canonical fingerprint
    * ([[Dedup.canonicalFp]] of the text, NULL as empty) and shingle keys
    * ([[Dedup.shingleKeys]]). */
  private[graft] final case class Arrival(id: Long, fp: String, keys: Array[Long])

  /** An arrival's best match in one relation: `j` unrounded (it decides),
    * `jaccard` = round(j, 6) as Spark rounds it. */
  private[graft] final case class Match(dupOf: Long, j: Double, jaccard: Double, shared: Long)

  /** One relation's answers to [[probeArrivals]]: the arrivals whose
    * fingerprint it holds, and the best match per arrival that shares a
    * kept shingle with it. */
  private[graft] final case class Answers(exact: Set[Long], best: Map[Long, Match])

  private val HitsSchema = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("hits", ArrayType(StructType(Seq(
      StructField("batch_id", LongType, nullable = false),
      StructField("nb", LongType, nullable = false))), containsNull = false),
      nullable = false)))

  /** [[probe]] for arrivals held on the driver, against the stored index
    * and, when given, a live `(doc_id, text)` relation (the landing zone)
    * that is shingled and df-capped per call like
    * [[Dedup.incrementalDedupOn]]'s corpus side (default cap) — `nc`
    * counts the cap-kept keys. Returns (index answers, live answers),
    * each exactly what [[probe]] / `incrementalDedupOn` would say for
    * that relation.
    *
    * Plan: the arrivals enter as ONE local relation, a row per distinct key
    * carrying the (arrival, set size) pairs that hold it, so every join
    * against them is a broadcast and nothing needs a checkpoint. Both
    * relations' arg-max legs and both fingerprint legs are one union,
    * collected in one action (at most one best row per arrival and
    * relation, plus the matched fingerprints); AQE runs the legs' stages
    * side by side. The live leg needs no separate size pass: grouping its
    * kept (key, doc) rows by doc yields `nc` and the doc's hits together. */
  private[graft] def probeArrivals(spark: SparkSession, tag: String, live: Option[DataFrame],
                                   arrivals: Seq[Arrival]): (Answers, Option[Answers]) = {
    import scala.jdk.CollectionConverters._
    graft.plans.ArgMaxBest.ensureRegistered(spark)
    graft.plans.CappedCollectLong.ensureRegistered(spark)
    Seq(occTable(tag), sizesTable(tag), fpTable(tag)).foreach(spark.catalog.refreshTable)
    IndexCanary.check(spark, occTable(tag), sizesTable(tag), fpTable(tag))
    val hitRows = arrivals
      .flatMap(a => a.keys.iterator.map(k => (k, Row(a.id, a.keys.length.toLong))))
      .groupBy(_._1).iterator
      .map { case (k, hs) => Row(k, hs.map(_._2)) }.toSeq
    val hits = spark.createDataFrame(hitRows.asJava, HitsSchema)
    val fps = arrivals.map(_.fp).distinct
    def best(leg: Int, pairs: DataFrame): DataFrame = pairs
      .withColumn("j", col("shared").cast("double")
        / (col("nb") + col("nc") - col("shared")).cast("double"))
      .groupBy("batch_id")
      .agg(expr(s"${graft.plans.ArgMaxBest.FuncName}(j, corpus_id, shared)").as("best"))
      .select(lit(leg).as("leg"), col("batch_id"), col("best.id").as("dup_of"),
        col("best.score").as("j"), round(col("best.score"), 6).as("jaccard"),
        col("best.payload").as("shared"), lit(null).cast("string").as("fp"))
    def exact(leg: Int, stored: DataFrame): DataFrame = stored
      .filter(col("fp").isin(fps: _*))
      .select(lit(leg).as("leg"), lit(null).cast("long").as("batch_id"),
        lit(null).cast("long").as("dup_of"), lit(null).cast("double").as("j"),
        lit(null).cast("double").as("jaccard"), lit(null).cast("long").as("shared"),
        col("fp"))
    val indexLegs = Seq(
      best(0, spark.table(occTable(tag)).join(hits, "key")
        .select(col("corpus_id"), explode(col("hits")).as("h"))
        .groupBy(col("h.batch_id").as("batch_id"), col("h.nb").as("nb"), col("corpus_id"))
        .agg(count(lit(1)).as("shared"))
        .join(spark.table(sizesTable(tag)), "corpus_id")),
      exact(0, spark.table(fpTable(tag))))
    val liveLegs = live.toSeq.flatMap { l =>
      val kept = Dedup.shingleRows(l).withColumnRenamed("shingle", "key")
        .groupBy("key")
        .agg(expr(s"${graft.plans.CappedCollectLong.FuncName}(doc_id, " +
          s"${Dedup.DefaultMaxShingleDf})").as("ids"))
        .filter(col("ids").isNotNull)
      Seq(
        best(1, kept.join(hits, Seq("key"), "left")
          .select(explode(col("ids")).as("corpus_id"), col("hits"))
          .groupBy("corpus_id")
          .agg(count(lit(1)).as("nc"), flatten(collect_list(col("hits"))).as("hits"))
          .select(col("corpus_id"), col("nc"), explode(col("hits")).as("h"))
          .groupBy(col("corpus_id"), col("nc"), col("h.batch_id").as("batch_id"),
            col("h.nb").as("nb"))
          .agg(count(lit(1)).as("shared"))),
        exact(1, l.select(Dedup.canonicalFp(coalesce(col("text"), lit(""))).as("fp"))))
    }
    val rows = (indexLegs ++ liveLegs).reduce(_ unionByName _).collect()
    def answers(leg: Int): Answers = {
      val mine = rows.filter(_.getInt(0) == leg)
      val seen = mine.filter(!_.isNullAt(6)).map(_.getString(6)).toSet
      Answers(
        arrivals.filter(a => seen(a.fp)).map(_.id).toSet,
        mine.filter(_.isNullAt(6)).map(r =>
          r.getLong(1) -> Match(r.getLong(2), r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap)
    }
    (answers(0), live.map(_ => answers(1)))
  }

  /** Admit `newDocs` into the index without a rebuild.
    *
    * Cost: O(newDocs shingles + stored rows for TOUCHED keys) — the df
    * census joins the occ table only on the new batch's vocabulary. New
    * occurrences are admitted per key iff existing df + new df ≤ cap
    * (see the cap-semantics note on the object); sizes rows are the
    * ADMITTED counts; fingerprints are anti-joined so the fp table stays
    * distinct (a duplicated fp would fan out every future probe's left
    * join). */
  def append(spark: SparkSession, tag: String, path: String, newDocs: DataFrame,
             buckets: Int = 8,
             maxShingleDf: Int = Dedup.DefaultMaxShingleDf): Unit =
      LeaseLock.withTableLock(spark, tag) {
    val occT = occTable(tag)
    ensureSatTable(spark, tag) // pre-sat-version index migration
    IndexCanary.check(spark, occT, sizesTable(tag), fpTable(tag), satTable(tag))
    // a wrong `buckets` here cannot corrupt the index: Spark rejects an
    // append whose bucket spec differs from the existing table's
    val newOcc = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      Dedup.shingleRows(newDocs).withColumnRenamed("shingle", "key"))
    val newDf = newOcc.groupBy("key").agg(count(lit(1)).as("new_df"))
    val oldDf = spark.table(occT).join(newDf.select("key"), "key")
      .groupBy("key").agg(count(lit(1)).as("old_df"))
    // rejected keys are saturated: their true union df now exceeds the cap,
    // which only a rebuild can reconcile — record them for overshootCensus.
    // Anti-join keeps the sat table distinct across appends; materialized
    // (checkpoint) BEFORE the write because the write appends to the very
    // table the anti-join scans.
    //
    // Each table's delta is frozen (checkpoint) and appended under its OWN
    // single-table [[BucketedMaintenance.guardedAppend]] with an EXACT
    // survivorship probe. Round 8 wrapped all four writes in one
    // multi-table guard with the file-count heuristic, whose thrown
    // remedy ("re-run it") could duplicate the tables whose rows had
    // survived (advisor r8): per-table survivorship diverges, and only a
    // per-table exact probe + per-table retry resolves it without
    // duplication. The four appends need no cross-table atomicity beyond
    // what the old shape had — a crash mid-sequence leaves the same
    // partial state either way, and each COMPLETED call is durable.
    //
    // r15 opt: the batch-delta materializations are INDEPENDENT action
    // chains once their inputs exist — overlap them (guide §2.6; the
    // sequential shape paid ~13 small driver-synchronized jobs per
    // append): [dfCensus ∥ newFp] first (both need only newOcc/newDocs),
    // then [newSat ∥ admitted] (both need dfCensus).
    val ck = org.apache.spark.sql.graft.CheckpointShim
    val fpAndCensus = Jobs.concurrently(Seq(
      () => ck.statsHonestLocalCheckpoint(
        newDf.join(oldDf, Seq("key"), "left")
          .withColumn("admitted",
            coalesce(col("old_df"), lit(0L)) + col("new_df") <= maxShingleDf)),
      () => ck.statsHonestLocalCheckpoint(
        newDocs
          .select(Dedup.canonicalFp(coalesce(col("text"), lit(""))).as("fp")).distinct()
          .join(spark.table(fpTable(tag)), Seq("fp"), "left_anti"))))
    val (dfCensus, newFp) = (fpAndCensus(0), fpAndCensus(1))
    val admittedKeys = dfCensus.filter(col("admitted")).select("key")
    val satAndAdmitted = Jobs.concurrently(Seq(
      () => ck.statsHonestLocalCheckpoint(
        dfCensus.filter(!col("admitted")).select("key")
          .join(spark.table(satTable(tag)), Seq("key"), "left_anti")),
      () => ck.statsHonestLocalCheckpoint(
        newOcc.join(admittedKeys, "key")
          .select(col("key"), col("doc_id").as("corpus_id")))))
    val (newSat, admitted) = (satAndAdmitted(0), satAndAdmitted(1))
    // sat/fp batch keys are disjoint from their tables by the anti-joins
    // above; occ/sizes by the new-documents contract (appending a doc_id
    // already in the corpus is a caller bug). ALL FOUR probes run their
    // eager disjointness asserts HERE, before the first guarded write —
    // a rejected batch (e.g. a replay) leaves every table untouched, with
    // no partial sat-then-abort state (advisor r9). The four probe jobs
    // are read-only and independent — overlapped; then the four guarded
    // writes target four DIFFERENT tables with per-table guards —
    // overlapped too (r15 opt; a raced external compact still resolves
    // per table exactly as in the sequential shape).
    val batchDocs = admitted.select("corpus_id").distinct()
    val probeOf = Jobs.concurrently(Seq(
      (satTable(tag), newSat, "key"),
      (occT, batchDocs, "corpus_id"),
      (sizesTable(tag), batchDocs, "corpus_id"),
      (fpTable(tag), newFp, "fp")).map { case (t, keys, kc) =>
      () => t -> BucketedMaintenance.disjointBatchProbe(spark, t, keys, kc)
    }).toMap
    def guarded(table: String)(write: => Unit): Unit =
      BucketedMaintenance.guardedAppend(spark, Seq(table),
        rowsPresent = Some(probeOf(table)))(write)
    Jobs.concurrently(Seq(
      () => guarded(satTable(tag)) {
        writeBucketed(newSat, satTable(tag), path, buckets, "key", SaveMode.Append)
      },
      () => guarded(occT) {
        writeBucketed(admitted, occT, path, buckets, "key", SaveMode.Append)
      },
      () => guarded(sizesTable(tag)) {
        writeBucketed(
          admitted.groupBy("corpus_id").agg(count(lit(1)).as("nc")),
          sizesTable(tag), path, buckets, "corpus_id", SaveMode.Append)
      },
      () => guarded(fpTable(tag)) {
        writeBucketed(newFp, fpTable(tag), path, buckets, "fp", SaveMode.Append)
      }))
    ()
  }

  /** Re-apply exact build semantics (un-does append's bounded cap
    * overshoot and re-compacts bucket files) by rebuilding from the
    * given corpus relation. */
  def rebuild(corpus: DataFrame, path: String, tag: String, buckets: Int = 8,
              maxShingleDf: Int = Dedup.DefaultMaxShingleDf): Unit =
    build(corpus, path, tag, buckets, maxShingleDf)

  /** Rebuild when more than this fraction of stored occurrence rows sit
    * under SATURATED keys (keys some append has rejected occurrences for —
    * see [[overshootCensus]]). 1% keeps the semantic drift from exact
    * build negligible while spacing full O(corpus) rebuilds far apart. */
  val DefaultRebuildThreshold = 0.01

  /** Drift of an appended index from exact build semantics.
    *
    * [[append]]'s forward cap keeps every key's STORED df ≤ cap, so "stored
    * df vs cap" can never fire. The real drift is different: when an append
    * REJECTS a key's occurrences (old+new df would exceed the cap), a fresh
    * build on the union corpus would see that key's true df > cap and drop
    * the key ENTIRELY — but the index still carries its previously-stored
    * ≤cap rows. Those rows (and their contribution to per-doc sizes) are
    * the overshoot. [[append]] therefore records every rejected key in the
    * `<tag>_sat` saturation table (sticky until [[rebuild]] — a later small
    * append could slip back under the stored cap, but the union df is
    * already over), and the census counts stored rows under saturated keys. */
  final case class OvershootCensus(saturatedKeys: Long, overshootRows: Long,
                                   storedRows: Long) {
    def overshootFraction: Double =
      if (storedRows == 0L) 0.0 else overshootRows.toDouble / storedRows
    def needsRebuild(threshold: Double = DefaultRebuildThreshold): Boolean =
      overshootFraction > threshold
  }

  /** Measure the overshoot: stored occ rows under saturated keys. O(index)
    * scan; the occ↔sat join is bucket-aligned (both bucketed by `key`), so
    * the census pays no shuffle — vastly cheaper than the O(corpus)
    * rebuild it gates. */
  def overshootCensus(spark: SparkSession, tag: String): OvershootCensus = {
    ensureSatTable(spark, tag) // pre-sat-version index migration
    Seq(occTable(tag), satTable(tag)).foreach(spark.catalog.refreshTable)
    IndexCanary.check(spark, occTable(tag), satTable(tag))
    val sat = spark.table(satTable(tag))
    val occ = spark.table(occTable(tag))
    OvershootCensus(
      saturatedKeys = sat.count(),
      overshootRows = occ.join(sat, "key").count(),
      storedRows = occ.count())
  }

  /** Rebuild iff the overshoot census crosses `threshold` — the measured
    * rebuild policy: pay the O(index) census every maintenance cycle, pay
    * the O(corpus) rebuild only when drift is material. Returns the census
    * so callers can log the decision. */
  def rebuildIfNeeded(corpus: DataFrame, path: String, tag: String,
                      buckets: Int = 8,
                      maxShingleDf: Int = Dedup.DefaultMaxShingleDf,
                      threshold: Double = DefaultRebuildThreshold): OvershootCensus = {
    val census = overshootCensus(corpus.sparkSession, tag)
    if (census.needsRebuild(threshold)) rebuild(corpus, path, tag, buckets, maxShingleDf)
    census
  }

  /** Compact append-accreted bucket files — the Layout story for the index
    * tables. Every [[append]] adds one file per bucket per table; after N
    * appends a probe opens O(N·buckets) files. Compaction rewrites each
    * table once (staged write to a fresh generation directory, catalog
    * swap, old files removed) preserving the bucket spec, so the pre-paid
    * zero-Exchange probe join survives and file count returns to one per
    * bucket. Data is unchanged — compaction does NOT touch cap overshoot
    * (that is [[rebuild]]'s job; this is purely a file-layout operation,
    * safe to run far more often). A concurrent [[append]] is DETECTED and
    * the compact aborts with both the table and the append intact — see
    * [[BucketedMaintenance]]'s write-write guard. */
  def compact(spark: SparkSession, tag: String, path: String): Unit =
      LeaseLock.withTableLock(spark, tag) {
    ensureSatTable(spark, tag) // pre-sat-version index migration
    BucketedMaintenance.compact(spark,
      Seq((occTable(tag), "key"), (sizesTable(tag), "corpus_id"),
        (fpTable(tag), "fp"), (satTable(tag), "key")), path)
  }

  /** Parquet file count across the index tables — the quantity [[compact]]
    * bounds (and the spec asserts on). */
  def fileCount(spark: SparkSession, tag: String): Long = {
    ensureSatTable(spark, tag) // pre-sat-version index migration
    BucketedMaintenance.fileCount(spark,
      Seq(occTable(tag), sizesTable(tag), fpTable(tag), satTable(tag)))
  }
}
