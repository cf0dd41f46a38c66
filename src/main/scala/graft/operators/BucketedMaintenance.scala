package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

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
    * path passes an exact probe ([[holdsAll]]: the vector indexes probe
    * their batch vec_ids, [[ShingleIndex.append]] each of its four tables'
    * batch keys under its own single-table guard); the documented
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

  /** Most input rows a driver-assembled index append holds at once
    * ([[ShingleIndex.append]], [[IvfIndex.assignInto]],
    * [[ImiIndex.assignInto]] and the [[LandingZone]] absorbs that feed
    * them). A larger input is appended as successive chunks of this many
    * rows by the same code — for the shingle index that is the forward-cap
    * contract of successive appends. Each chunk's lookup scans the probed
    * index columns once, so the bound sets how often a large absorb
    * rescans the index. At 50k documents of ~100 shingles a chunk's keys
    * are ~40 MB of longs on the driver, and its key set and counts, all
    * primitive arrays, about as much again. */
  val MaxAppendRows: Int = 50 * 1000

  /** Vectors one task of a vector append assigns and writes: an
    * arrival-sized append writes in one task (at most one file per
    * bucket); a bound-sized chunk spreads over the session's cores. */
  private val VectorsPerWriteTask = 10 * 1000

  /** Feed `rows` to `f` in chunks of at most `bound` rows, ascending by
    * their first column, a non-null unique long id. One ordered-limit
    * collect per chunk, so an input of fewer than `bound` rows costs one
    * job and the driver never holds more than `bound` + 1 rows. A larger
    * input is read once more after its first chunk, into a cache of the
    * rows past that chunk that the later chunks' collects scan instead of
    * re-reading (and re-projecting) the input; it is dropped on return. A
    * full chunk is followed by a collect of `bound` + 1 rows from its last
    * id INCLUSIVE: that one carried row is dropped, and a second row with
    * the same id — the duplicate an exclusive bound would silently skip —
    * fails like any other repeat. */
  private[graft] def foreachChunk(rows: DataFrame, bound: Int)(f: Array[Row] => Unit): Unit = {
    require(bound >= 2, s"chunk bound must be at least 2, got $bound")
    val id = rows.columns.head
    val dupMsg = s"$id must be unique within a batch"
    var from: Option[Long] = None
    var rest: Option[DataFrame] = None
    try {
      var more = true
      while (more) {
        val take = bound + from.size
        val raw = from.fold(rows)(l => rest.get.filter(col(id) >= l))
          .orderBy(id).limit(take).collect()
        require(!raw.exists(_.isNullAt(0)), s"$id must not be NULL")
        more = raw.length == take
        val chunk = from.fold(raw) { l =>
          require(raw.count(_.getLong(0) == l) <= 1, dupMsg)
          raw.filter(_.getLong(0) != l)
        }
        require(chunk.iterator.map(_.getLong(0)).distinct.size == chunk.length, dupMsg)
        if (chunk.nonEmpty) {
          f(chunk)
          from = Some(chunk.last.getLong(0))
          if (more && rest.isEmpty)
            rest = Some(rows.filter(col(id) >= from.get).persist(StorageLevel.MEMORY_AND_DISK))
        }
      }
    } finally rest.foreach(_.unpersist(blocking = true))
  }

  /** The keys of one lookup leg as an open-addressing hash set whose slot
    * numbers index the leg's per-key counts ([[LongCounts]]) and any
    * per-key array a caller keeps beside them. A filter of ~8 bits per key
    * in front of the slots answers most misses from a cache-sized bit
    * array; nothing is boxed. */
  private[graft] final class LongSet(keys: Iterable[Long]) extends Serializable {
    private val n = math.max(2, keys.size)
    private val mask = Integer.highestOneBit(n + n / 2) * 2 - 1
    private val slots = new Array[Long](mask + 1) // 0 marks a free slot
    private val bitMask = Integer.highestOneBit(math.min(n, 1 << 26) * 8) * 2 - 1
    private val bits = new Array[Long]((bitMask >>> 6) + 1)
    private var zero = false
    private var held = 0
    /** Distinct keys held. */
    def size: Int = held
    /** Slots are numbered from 0 until `capacity`; the key 0 has the last. */
    def capacity: Int = mask + 2
    private def mix(k: Long): Long = {
      val h = k * 0x9E3779B97F4A7C15L
      h ^ (h >>> 29)
    }
    keys.foreach { k =>
      if (k == 0L) { if (!zero) held += 1; zero = true }
      else {
        val h = mix(k)
        val b = (h >>> 32).toInt & bitMask
        bits(b >>> 6) |= 1L << b
        var i = h.toInt & mask
        while (slots(i) != 0L && slots(i) != k) i = (i + 1) & mask
        if (slots(i) == 0L) { slots(i) = k; held += 1 }
      }
    }
    /** The slot of `k`, or -1 when the set lacks it. */
    def slotOf(k: Long): Int =
      if (k == 0L) { if (zero) mask + 1 else -1 }
      else {
        val h = mix(k)
        val b = (h >>> 32).toInt & bitMask
        if ((bits(b >>> 6) & (1L << b)) == 0L) -1
        else {
          var i = h.toInt & mask
          while (slots(i) != 0L && slots(i) != k) i = (i + 1) & mask
          if (slots(i) == k) i else -1
        }
      }
    /** The key in `slot`, a slot some key holds. */
    def keyAt(slot: Int): Long = if (slot == mask + 1) 0L else slots(slot)
  }

  /** How many stored rows hold each key of `set`, by slot. */
  private[graft] final class LongCounts(val set: LongSet, counts: Array[Long]) {
    def at(slot: Int): Long = counts(slot)
    def apply(k: Long): Long = {
      val s = set.slotOf(k)
      if (s < 0) 0L else counts(s)
    }
    def contains(k: Long): Boolean = apply(k) > 0L
    /** The keys of `set` some stored row holds. */
    def keys: Iterator[Long] = Iterator.range(0, counts.length).filter(counts(_) > 0L).map(set.keyAt)
    def size: Int = counts.count(_ > 0L)
  }

  /** How many rows of `table` hold each of `keys` in the long column
    * `column` — the lookup a driver-assembled append makes for what its
    * batch touches. */
  private[graft] def storedCounts(spark: SparkSession, table: String, column: String,
                                  keys: LongSet): LongCounts =
    storedCounts(spark, Seq((table, column, keys)), Seq.empty)._1.head

  /** Several [[storedCounts]] lookups — long-keyed legs, then string-keyed
    * legs, each `(table, column, keys)` — in ONE job with no exchange: each
    * table is scanned once for the columns its legs probe, as its plan's
    * row RDD; the scans are unioned, the key sets ride one broadcast
    * variable (no job), each task counts its hits (per slot for a long leg)
    * and the driver sums them. A literal IN list of ~10k keys costs seconds
    * to plan, a broadcast join pays a job for the broadcast itself, and
    * each separate action pays the scheduler's per-job cost again. Returns
    * the legs' counts in order. */
  private[graft] def storedCounts(spark: SparkSession,
                                  longs: Seq[(String, String, LongSet)],
                                  strings: Seq[(String, String, Iterable[String])])
  : (Seq[LongCounts], Seq[Map[String, Long]]) = {
    val lk = longs.map(_._3).toArray
    val sk = strings.map { l =>
      val set = new java.util.HashSet[String]()
      l._3.foreach(set.add)
      set
    }.toArray
    val nl = lk.length
    // (table, column, leg) of each leg with keys; legs from nl on are string-keyed
    val legs = longs.zipWithIndex.collect { case ((t, c, ks), i) if ks.size > 0 => (t, c, i) } ++
      strings.zip(sk).zipWithIndex.collect {
        case (((t, c, _), ks), i) if !ks.isEmpty => (t, c, nl + i)
      }
    val longCounts = lk.map(set => new Array[Long](set.capacity))
    val stringCounts = sk.map(_ => scala.collection.mutable.HashMap.empty[String, Long])
    if (legs.nonEmpty) {
      val sc = spark.sparkContext
      val keys = sc.broadcast((lk, sk))
      // names the job's stage after the looked-up tables
      sc.setCallSite("lookup " + legs.map(l => s"${l._1}.${l._2}").mkString(", "))
      try sc.union(legs.groupBy(_._1).toSeq.map { case (t, ls) =>
        val cols = ls.map(_._2).distinct
        def isLong(c: String) = ls.exists(l => l._2 == c && l._3 < nl)
        val rows = spark.table(t)
          .select(cols.map(c => col(c).cast(if (isLong(c)) "long" else "string")): _*)
          .queryExecution.toRdd
        val legOf = ls.map(_._3).toArray
        val colOf = ls.map(l => cols.indexOf(l._2)).toArray
        rows.mapPartitions { it =>
          val (ls, ss) = keys.value
          val hits = legOf.map(l => if (l < nl) new Array[Int](ls(l).capacity) else null)
          val found = legOf.map(_ => scala.collection.mutable.HashMap.empty[String, Long])
          it.foreach { r =>
            var j = 0
            while (j < legOf.length) {
              val (leg, i) = (legOf(j), colOf(j))
              if (!r.isNullAt(i)) {
                if (leg < nl) {
                  val slot = ls(leg).slotOf(r.getLong(i))
                  if (slot >= 0) hits(j)(slot) += 1
                } else {
                  val v = r.getUTF8String(i).toString
                  if (ss(leg - nl).contains(v)) found(j)(v) = found(j).getOrElse(v, 0L) + 1L
                }
              }
              j += 1
            }
          }
          // per leg: the hit slots and their counts, or the hit strings
          Iterator.tabulate(legOf.length) { j =>
            if (hits(j) == null) (legOf(j), Array.empty[Int], found(j).values.toArray, found(j).keys.toArray)
            else {
              val slots = Array.range(0, hits(j).length).filter(hits(j)(_) > 0)
              (legOf(j), slots, slots.map(hits(j)(_).toLong), Array.empty[String])
            }
          }
        }
      }).collect().foreach { case (leg, slots, counts, strs) =>
        if (leg < nl) slots.indices.foreach(k => longCounts(leg)(slots(k)) += counts(k))
        else strs.indices.foreach { k =>
          val m = stringCounts(leg - nl)
          m(strs(k)) = m.getOrElse(strs(k), 0L) + counts(k)
        }
      }
      finally {
        sc.clearCallSite()
        keys.destroy()
      }
    }
    (lk.indices.map(i => new LongCounts(lk(i), longCounts(i))), stringCounts.map(_.toMap).toSeq)
  }

  /** The rows of `chunk` (first column: the id) whose id `table` does not
    * hold yet, given `present` — the [[storedCounts]] of the chunk's ids.
    * With `dropPresent` the others are dropped: a landing-zone replay of
    * rows an earlier absorb already appended. Otherwise they fail the
    * append loudly before any write: re-appending a stored id would
    * duplicate index rows (a search would return the same neighbor twice)
    * and would let the exact survivorship probe of [[guardedAppend]] read
    * a raced append whose rows died with a compacted generation as
    * durable — silent row loss. */
  private[graft] def freshRows(table: String, chunk: Array[Row], present: LongCounts,
                               dropPresent: Boolean): Array[Row] =
    if (dropPresent) chunk.filterNot(r => present.contains(r.getLong(0)))
    else {
      val n = present.size
      require(n == 0,
        s"append into `$table`: $n batch ids are already present — " +
          "re-appending stored ids would duplicate index rows and break the " +
          "append guard's survivorship probe. Deduplicate the batch against " +
          "the table (anti-join) before appending.")
      chunk
    }

  /** Exact survivorship probe for [[guardedAppend]]: each leg's table
    * holds every one of its keys — legs as in [[storedCounts]], which runs
    * them. Exact because the keys were absent before the append (ids by
    * [[freshRows]], derived keys by construction); evaluated only when a
    * compact raced it. */
  private[graft] def holdsAll(spark: SparkSession,
                              longs: Seq[(String, String, Iterable[Long])] = Seq.empty,
                              strings: Seq[(String, String, Iterable[String])] = Seq.empty)
  : () => Boolean = () => {
    val (l, s) = storedCounts(spark, longs.map { case (t, c, ks) => (t, c, new LongSet(ks)) },
      strings)
    l.forall(c => c.size == c.set.size) &&
      s.zip(strings).forall { case (m, (_, _, ks)) => m.size == ks.toSet.size }
  }

  /** The vector indexes' append: `vecs` — `(vec_id, embedding)` — in
    * chunks of at most `bound` rows, each checked against the ids `table`
    * already holds ([[freshRows]]) and handed to `write` as a local
    * relation (a partition per [[VectorsPerWriteTask]] vectors) under a
    * single-table [[guardedAppend]] with the exact [[holdsAll]] probe. Per
    * chunk: one collect, one lookup, one write.
    * Returns (rows read, rows appended). */
  private[graft] def appendVectors(spark: SparkSession, table: String, vecs: DataFrame,
                                   bound: Int, dropPresent: Boolean)(
      write: DataFrame => Unit): (Long, Long) = {
    var read = 0L
    var appended = 0L
    foreachChunk(vecs, bound) { chunk =>
      read += chunk.length
      forgetListings(spark, Seq(table))
      val rows = freshRows(table, chunk,
        storedCounts(spark, table, "vec_id", new LongSet(chunk.map(_.getLong(0)))), dropPresent)
      if (rows.nonEmpty) {
        guardedAppend(spark, Seq(table),
          rowsPresent = Some(holdsAll(spark, Seq((table, "vec_id", rows.map(_.getLong(0)).toSeq))))) {
          write(localRelation(spark, vecs.schema, rows.toSeq, math.min(
            spark.sparkContext.defaultParallelism, 1 + rows.length / VectorsPerWriteTask)))
        }
        appended += rows.length
      }
    }
    (read, appended)
  }

  /** Drop this session's cached file listings of `tables`, so the next
    * scan sees appends another session (a streaming clone) committed. The
    * cheap half of `catalog.refreshTable`: nothing here is cached data,
    * so there is nothing to re-cache. */
  private[graft] def forgetListings(spark: SparkSession, tables: Seq[String]): Unit =
    tables.foreach(t => spark.sessionState.catalog.invalidateCachedTable(
      org.apache.spark.sql.catalyst.TableIdentifier(t)))

  /** `rows` as a local relation of `partitions` partitions (one by
    * default): a bucketed append of it writes at most that many files per
    * bucket, so appends do not multiply the table's file count by the
    * session's parallelism. */
  private[graft] def localRelation(spark: SparkSession, schema: StructType,
                                   rows: Seq[Row], partitions: Int = 1): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema).coalesce(partitions)
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
