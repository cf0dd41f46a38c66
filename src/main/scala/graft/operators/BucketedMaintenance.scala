package graft.operators

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, when}

/** Shared compaction for append-accreted BUCKETED catalog tables — the
  * staged-swap rewrite used by [[ShingleIndex.compact]] and
  * [[IvfIndex.compact]]. Every bucketed append adds one file per bucket;
  * after N appends a probe/search opens O(N·buckets) files. The rewrite:
  * pinned bucketed scan (one partition per bucket — see the inline note),
  * write one file per bucket to a fresh generation directory, swap the
  * catalog entry, delete the old files. Data and bucket layout are
  * unchanged.
  *
  * Concurrent writers are DETECTED, not tolerated (same stance as
  * [[Layout.compact]]): the table's parquet file set is captured before
  * the staged read and re-listed TWICE — once just before the catalog
  * swap (abort: stage dropped, generation dir removed, original table
  * and the interleaved append both intact) and once again just AFTER
  * the swap (rollback: the two renames are undone, the stage dropped,
  * and the original entry — old location, appended files included — is
  * live again). The second check closes the round-7 residual: a writer
  * that committed after the pre-swap re-list but before the swap is now
  * caught before the old directory is deleted, so its rows are never
  * silently lost. What remains is the unavoidable tail for a
  * non-transactional format: a writer that RESOLVED the table location
  * before the swap and commits in the instants between the post-swap
  * re-list and the directory delete. [[guardedAppend]] closes that tail
  * from the writer's side — every append path validates after its
  * commit that no swap interleaved (resolving survivorship through the
  * one-file-per-bucket invariant of a fresh compact) and retries or
  * fails LOUDLY, so a completed append call is always durable. True
  * lock-free multi-writer safety still needs a transactional table
  * format; the guard pair turns the race from silent loss into
  * detection on both sides.
  *
  * Crash recovery: the swap is DROP-free on the data path — `t` is
  * renamed to `<t>_precompact`, the stage renamed to `t`, then the
  * backup entry dropped (tables are external: renames touch only the
  * catalog, drops never touch files). A crash between the two renames
  * leaves the data reachable under `<t>_precompact` — recover by
  * renaming it back; at every other instant a live entry for the data
  * exists under `t`. */
object BucketedMaintenance {

  /** The stored table's bucket count, from the catalog — the ONE source of
    * truth maintenance paths must follow. An append or rebuild that takes
    * a bucket-count parameter instead either fails Spark's spec-mismatch
    * check (append) or silently REWRITES the physical layout (rebuild)
    * whenever the caller's default disagrees with what build() used. */
  def storedBuckets(spark: SparkSession, table: String): Int =
    spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec.map(_.numBuckets).getOrElse(
        throw new IllegalStateException(s"$table is not bucketed"))

  /** Per-JVM cache of a driver-side load keyed by the catalog entry's
    * (location, createTime) — the shared versioning discipline of both
    * index model caches (and [[IndexCanary]]'s verdict cache): the cached
    * tables are immutable between build/rebuild, and build/rebuild
    * RECREATE the catalog entry, so staleness detection is one metadata
    * read with no data I/O. On a version miss the table's cached file
    * listing is refreshed before `loader` runs — a rebuild may have come
    * from another session (CrossSessionIndexSpec). */
  private val versioned =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Any)]()

  def cachedByVersion[T](spark: SparkSession, table: String)(loader: => T): T = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val version = s"${meta.location}#${meta.createTime}"
    val hit = versioned.get(table)
    if (hit != null && hit._1 == version) return hit._2.asInstanceOf[T]
    spark.catalog.refreshTable(table)
    val v = loader
    versioned.put(table, (version, v))
    v
  }

  private def parquetFileSet(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path): Set[String] = {
    val b = Set.newBuilder[String]
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) b += f.toString
      }
    }
    b.result()
  }

  /** Rewrite each (table, bucketColumn) once. `path` hosts the fresh
    * generation directories. Throws `IllegalStateException` if a
    * concurrent writer committed files during a table's rewrite (that
    * table is left un-compacted with ALL its rows — the staged copy is
    * discarded, never the live one). */
  def compact(spark: SparkSession, tables: Seq[(String, String)], path: String): Unit =
    compact(spark, tables, path, _ => ())

  /** Test seams: `beforeSwap(table)` runs after the staged write and
    * before the concurrent-writer re-list (the abort window);
    * `afterRelist(table)` runs after that re-list and before the catalog
    * swap (the round-7 residual window, now a rollback). */
  private[graft] def compact(spark: SparkSession, tables: Seq[(String, String)],
                             path: String, beforeSwap: String => Unit,
                             afterRelist: String => Unit = _ => ()): Unit =
    tables.foreach { case (t, bucketCol) =>
      // REFRESH before reading: appends may have come from another session
      // (streaming foreachBatch runs in a cloned session) and this session's
      // cached file listing would not include them — a compact over a stale
      // listing would rewrite the stale subset and then delete the directory
      // holding the unseen files. Found live by the vecgate census of
      // StreamBench, a probe last in commit 7edabe5 (index frozen while landing
      // grew).
      spark.catalog.refreshTable(t)
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t))
      val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(
        throw new IllegalStateException(s"$t is not bucketed — nothing to compact"))
      val oldLocation = new org.apache.hadoop.fs.Path(meta.location)
      val fs = oldLocation.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // fresh generation dir: never rewrite in place (a failed job would
      // destroy the only copy), never reuse a dir (stale files would be
      // picked up by the new table's scan). Existence via the table
      // location's FileSystem, NOT java.io.File — on an object-store
      // deployment a local-disk probe would always say "not exists" and
      // silently reuse gen0 in place.
      val gen = Iterator.from(0).map(g => s"$path/$t-gen$g")
        .find(p => !fs.exists(new org.apache.hadoop.fs.Path(p))).get
      // pin the pre-rewrite file set: the write-write guard's baseline
      val listed = parquetFileSet(fs, oldLocation)
      val stage = s"${t}_stage"
      spark.sql(s"DROP TABLE IF EXISTS `$stage`")
      // ZERO-shuffle rewrite: force the bucketed scan (one partition per
      // bucket, all of that bucket's accreted files) so each write task
      // holds exactly one bucket and emits exactly one file. Without the
      // pin, the planner auto-disables the bucketed scan for a plain
      // read-write (nothing downstream demands the distribution — an
      // explicit repartition gets optimizer-removed as redundant against
      // the table's bucketing first), tasks span buckets, and the
      // "compaction" writes a file per (task × bucket) pair.
      val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prevAuto = spark.conf.getOption(autoKey)
      spark.conf.set(autoKey, "false")
      try
        spark.table(t).write.mode(SaveMode.Overwrite).format("parquet")
          .bucketBy(buckets, bucketCol).sortBy(bucketCol)
          .option("path", gen).saveAsTable(stage)
      finally prevAuto match {
        case Some(v) => spark.conf.set(autoKey, v)
        case None    => spark.conf.unset(autoKey)
      }
      beforeSwap(t)
      // write-write guard: a writer that committed into the old location
      // during the rewrite would have its rows missing from the staged
      // copy AND its files deleted with the old directory — abort instead
      // (stage discarded, live table + interleaved append intact).
      val relisted = parquetFileSet(fs, oldLocation)
      if (relisted != listed) {
        spark.sql(s"DROP TABLE IF EXISTS `$stage`")
        fs.delete(new org.apache.hadoop.fs.Path(gen), true)
        throw new IllegalStateException(
          s"compact: `$t` changed during the rewrite (+${(relisted -- listed).size} " +
            s"-${(listed -- relisted).size} files) — a concurrent writer is active. " +
            "Staged copy discarded; the table and the interleaved append are intact. " +
            "Quiesce writers and re-run.")
      }
      afterRelist(t)
      // backup-rename swap: a live catalog entry for the data exists at
      // every instant except between the two renames, where it is
      // reachable under the backup name (recovery: rename it back)
      val backup = s"${t}_precompact"
      spark.sql(s"DROP TABLE IF EXISTS `$backup`")
      spark.sql(s"ALTER TABLE `$t` RENAME TO `$backup`")
      spark.sql(s"ALTER TABLE `$stage` RENAME TO `$t`")
      // LATE-APPEND guard (the round-7 residual window): a writer that
      // committed between the pre-swap re-list and the swap has rows only
      // in the old directory — deleting it would silently lose them. One
      // more listing AFTER the swap catches every commit that predates
      // it; on a hit, undo both renames (renames preserve location and
      // createTime, so readers and version caches see the ORIGINAL entry,
      // appended files included) and abort exactly like the pre-swap
      // guard. A commit landing after THIS listing is the remaining tail
      // — the writer-side [[guardedAppend]] validation covers it.
      val postSwap = parquetFileSet(fs, oldLocation)
      if (postSwap != listed) {
        spark.sql(s"ALTER TABLE `$t` RENAME TO `$stage`")
        spark.sql(s"ALTER TABLE `$backup` RENAME TO `$t`")
        spark.sql(s"DROP TABLE `$stage`")
        fs.delete(new org.apache.hadoop.fs.Path(gen), true)
        throw new IllegalStateException(
          s"compact: `$t` received a late append after the pre-swap re-list " +
            s"(+${(postSwap -- listed).size} files) — rolled back; the table and " +
            "the appended rows are intact. Quiesce writers and re-run.")
      }
      spark.sql(s"DROP TABLE `$backup`")
      fs.delete(oldLocation, true)
    }

  /** Writer-side half of the race closure: wrap a bucketed append in
    * post-commit validation. Each table's catalog LOCATION is captured
    * before `insert` and re-read after. Unchanged locations ⟹ no compact
    * swapped during the call ⟹ every committed file was either inside
    * the compactor's baseline (survives the rewrite) or tripped one of
    * its abort/rollback listings — the append is durable. A changed
    * location means a compact passed its swap renames mid-call; the guard
    * first WAITS for that compact to reach a terminal state (commit or
    * late-append rollback — while the `_precompact` backup exists the old
    * generation can still be resurrected WITH this call's rows, and
    * judging early re-inserts a surviving batch: the full-batch duplicate
    * MultiWriterStressSpec caught live), then resolves survivorship
    * through the ONE-FILE-PER-BUCKET invariant of a fresh
    * compact: extra parquet files in the new location can only be
    * post-compact appends — under the single-concurrent-appender regime,
    * ours. Present → success. Absent → the rows died with the old
    * generation: single-table appends RETRY the insert (duplicate-free —
    * the staged copy demonstrably lacks the rows), multi-table appends
    * throw (per-table survivorship can diverge, so re-running the whole
    * body could duplicate the tables where rows survived). Either way a
    * COMPLETED call is durable and a lost append fails loudly — never
    * silently.
    *
    * `rowsPresent` upgrades the file-count heuristic to an EXACT
    * survivorship probe (e.g. a semi-join of the batch's keys against the
    * post-swap table) — with it the guard is correct even when a whole
    * compact lands between the commit and the validation; without it that
    * pattern (or two back-to-back compacts in one append window) could
    * misread survivorship and duplicate on retry. EVERY in-tree append
    * path passes an exact probe (the vector indexes probe batch vec_ids,
    * [[ShingleIndex.append]] probes each of its four tables under its own
    * single-table guard — see [[disjointBatchProbe]]); the documented
    * supported regime for heuristic-only external callers stays one
    * compact — and no rebuild — per append window (the same
    * single-maintainer stance as [[compact]]). */
  def guardedAppend(spark: SparkSession, tables: Seq[String], retries: Int = 2,
                    rowsPresent: Option[() => Boolean] = None)(
      insert: => Unit): Unit = {
    def locs() = tables.map(t => spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString)
    var attempt = 0
    var pending = true
    while (pending) {
      val before = locs()
      insert
      val after = locs()
      if (after == before) pending = false
      else {
        val changed = tables.zip(before.zip(after))
          .collect { case (t, (b, a)) if b != a => t }
        // WAIT for the racing compact to reach a TERMINAL state before
        // judging survivorship. A location change only proves the compact
        // passed its swap renames — it may still take the late-append
        // ROLLBACK, which resurrects the old generation WITH this call's
        // committed rows. Probing in that window reads the staged copy
        // (baseline predates the commit → rows absent), concludes the rows
        // died, and the retry then re-inserts into the rolled-back table —
        // a full-batch duplicate (caught live by MultiWriterStressSpec).
        // Terminal state is observable: `<t>_precompact` exists from the
        // first swap rename until the terminal DROP (commit) or the
        // backup→t rename (rollback), so absence ⟹ the generation the
        // probe reads is the one that decides.
        // ... and the judgment must itself be STABLE: a further compact
        // swapping mid-probe reopens the same window, so the verdict only
        // counts when the locations are unchanged (and no backup exists)
        // across the whole probe evaluation.
        def judge(): Boolean = rowsPresent.map(_()).getOrElse(changed.forall { t =>
          val meta = spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(t))
          val loc = new org.apache.hadoop.fs.Path(meta.location)
          val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
          parquetFileSet(fs, loc).size > storedBuckets(spark, t)
        })
        def changedLocs() = changed.map(t =>
          spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(t)).location.toString)
        // the verdict loop is bounded as a WHOLE (advisor r10): each
        // waitCompactTerminal call is individually bounded, but a
        // compactor looping faster than the survivorship probe completes
        // could starve the verdict indefinitely — fail loudly with the
        // same recovery guidance instead
        val verdictDeadline = System.nanoTime() + 300L * 1000000000L
        var verdict: Option[Boolean] = None
        while (verdict.isEmpty) {
          if (System.nanoTime() > verdictDeadline)
            throw new IllegalStateException(
              s"append raced compacts on ${changed.mkString(", ")} and could " +
                "not reach a stable survivorship verdict within 300s — a " +
                "compactor is cycling faster than the probe completes. " +
                "Quiesce the compactor, audit the tables for the batch's " +
                "rows, and re-append only if they are absent.")
          changed.foreach(waitCompactTerminal(spark, _))
          changed.foreach(spark.catalog.refreshTable)
          val pinned = changedLocs()
          val v = judge()
          val stable = changedLocs() == pinned &&
            changed.forall(t => !spark.catalog.tableExists(s"${t}_precompact"))
          if (stable) verdict = Some(v)
        }
        val survived = verdict.get
        if (survived) pending = false
        else if (tables.length == 1 && attempt < retries) {
          attempt += 1
          tables.foreach(spark.catalog.refreshTable)
        } else throw new IllegalStateException(
          s"append raced a compact on ${changed.mkString(", ")}: the rows were " +
            "committed into a generation the compact deleted" +
            (if (tables.length == 1)
              " and retries are exhausted. The append did NOT complete; re-run it."
            else "; a multi-table append cannot safely auto-retry — per-table " +
              "survivorship may diverge (the file-count heuristic saw at least " +
              "one table lose its rows, but OTHER tables' rows may have " +
              "survived). Do NOT blindly re-run: audit each table for the " +
              "batch's rows first and re-append only the tables that lost " +
              "them, or rows that survived will be duplicated."))
      }
    }
  }

  /** Poll until no `<table>_precompact` backup entry exists — i.e. no
    * [[compact]] of `table` is between its swap renames and its terminal
    * commit/rollback. [[guardedAppend]] must not judge survivorship inside
    * that window (see the call site). A backup that never clears within
    * the deadline means a compactor crashed mid-swap and left its backup
    * behind — recovery is manual (rename it back), so fail loudly rather
    * than guess. */
  private def waitCompactTerminal(spark: SparkSession, table: String,
                                  deadlineMs: Long = 120000L): Unit = {
    val backup = s"${table}_precompact"
    val t0 = System.nanoTime()
    while (spark.catalog.tableExists(backup)) {
      if ((System.nanoTime() - t0) / 1000000L > deadlineMs)
        throw new IllegalStateException(
          s"append raced a compact on `$table` and `$backup` still exists " +
            s"after ${deadlineMs / 1000}s — the compactor likely crashed " +
            "between its swap renames. Recover by renaming the backup " +
            "back, then re-run the append.")
      Thread.sleep(20)
    }
  }

  /** Exact-survivorship probe factory for [[guardedAppend]]: "every id in
    * `batchKeys` is present in `table`", valid ONLY when the batch's ids
    * are disjoint from the table's — so the disjointness is ASSERTED here,
    * eagerly, before the caller starts its append. Without the assertion a
    * replayed id already present in the table satisfies the semi-join even
    * though the raced append's rows died with a compacted generation
    * (silent row loss — advisor r8); and duplicate ids could inflate a
    * raw-join count into a spurious retry. The probe itself is a LEFT SEMI
    * join (one hit per batch id no matter how many stored rows match), so
    * it cannot over-count.
    *
    * Re-appending an id that is already in an index is a caller bug in its
    * own right (search would return the same neighbor twice); the loud
    * require here turns that bug into an error at the append site instead
    * of corrupting the guard's semantics. `batchKeys` must be distinct. */
  def disjointBatchProbe(spark: SparkSession,
                         table: String,
                         batchKeys: org.apache.spark.sql.DataFrame,
                         keyCol: String): () => Boolean = {
    // ONE eager job for both counts (the r9 append-guard regression was
    // ~8 small pre-write jobs per 4-table append — this halves them): the
    // union's second branch is the semi-join hit set, and identical
    // batch-side subplans share their exchange, so the batch relation is
    // not computed twice
    val row = batchKeys.select(lit(false).as("hit"))
      .unionAll(batchKeys.join(spark.table(table), Seq(keyCol), "left_semi")
        .select(lit(true).as("hit")))
      .agg(count(lit(1)).as("total"),
        count(when(col("hit"), lit(1))).as("already"))
      .collect()(0)
    val already = row.getLong(1)
    val n = row.getLong(0) - already
    require(already == 0L,
      s"append into `$table`: $already batch ${keyCol}s are already present — " +
        "re-appending stored ids would duplicate index rows and break the " +
        "append guard's survivorship probe. Deduplicate the batch against " +
        "the table (anti-join) before appending.")
    () => batchKeys.join(spark.table(table), Seq(keyCol), "left_semi").count() == n
  }

  /** Drop `table` and its backing files (wherever a prior [[compact]] left
    * them) so an Overwrite re-creation can re-pin the canonical path
    * without tripping the existing-location mismatch check. No-op when the
    * table doesn't exist. */
  def dropWithFiles(spark: SparkSession, table: String): Unit =
    if (spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
      spark.sql(s"DROP TABLE `$table`")
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }

  /** Parquet file count across `tables` — the quantity compaction bounds. */
  def fileCount(spark: SparkSession, tables: Seq[String]): Long =
    tables.map { t =>
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(t)).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(loc, true)
      var n = 0L
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }.sum
}
