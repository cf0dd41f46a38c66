package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Parquet data layout — the storage-management leg of the engine.
  *
  * At 100 TB the dominant cost of most queries is the scan, and the scan
  * cost is decided at WRITE time: directory partitioning drives partition
  * pruning (whole directories skipped from the file index before any task
  * launches), within-file sort order drives parquet row-group min/max
  * pruning (predicates on the sort key skip row groups inside each file),
  * and file sizing decides task count and scheduler pressure (a million
  * 1 MB files starves the driver; 10 GB files kill parallelism and make
  * stragglers). None of this needs custom machinery — it is
  * `repartition` + `sortWithinPartitions` + `partitionBy` +
  * `maxRecordsPerFile` composed deliberately; the value is composing them
  * RIGHT and pinning the resulting physical layout with specs
  * (LayoutSpec reads parquet footers and the post-write scan plan).
  */
object Layout {

  /** Run `write` with parquet timestamps as annotated INT64 micros.
    *
    * Spark's default `outputTimestampType` is legacy INT96, and parquet
    * writes NO min/max statistics for INT96 — so a table clustered on a
    * timestamp column would get zero row-group pruning and no ts filter
    * pushdown on read, silently defeating the entire point of these
    * layouts (measured: the census of LayoutBench, last in commit 7edabe5, saw
    * 0 stats-bearing row groups under INT96). TIMESTAMP_MICROS matches Spark's
    * internal timestamp precision exactly, carries full statistics, and is the
    * non-deprecated form every modern reader (and DuckDB) understands.
    * Set-and-restore, mirroring EventOps' nanos-flag handling, so the
    * session-wide conf doesn't leak to unrelated writes. */
  private def withMicrosTimestamps[A](df: DataFrame)(write: => A): A = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = conf.getOption(key)
    conf.set(key, "TIMESTAMP_MICROS")
    try write
    finally prev match {
      case Some(v) => conf.set(key, v)
      case None => conf.unset(key)
    }
  }

  /** Write `df` partitioned by `partitionCols` directories, each file
    * internally sorted by `sortCols`, at most `maxRecordsPerFile` rows
    * per file.
    *
    * The `repartition(partitionCols)` BEFORE `partitionBy` is the part
    * people skip and regret at scale: without it every one of the N
    * shuffle partitions of the upstream plan writes its own file into
    * every output directory — N × |partitions| small files. With it,
    * each output directory is produced by one task (plus file-size
    * splits), so file count = Σ ceil(partition rows / maxRecordsPerFile).
    * `sortWithinPartitions` then orders rows inside each task's output so
    * parquet writes monotone min/max stats on the sort key — the
    * precondition for row-group pruning on read. A skewed partition
    * column (one giant lang, say) still bounds per-file size via
    * `maxRecordsPerFile`; it costs extra files in that directory, never
    * an oversized file. */
  def writeClustered(df: DataFrame, path: String, partitionCols: Seq[String],
                     sortCols: Seq[String], maxRecordsPerFile: Long): Unit = {
    require(partitionCols.nonEmpty, "writeClustered needs partition columns")
    require(maxRecordsPerFile > 0, s"maxRecordsPerFile must be > 0, got $maxRecordsPerFile")
    withMicrosTimestamps(df) {
      df.repartition(partitionCols.map(col): _*)
        .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
        .write
        .mode(SaveMode.Overwrite)
        .option("maxRecordsPerFile", maxRecordsPerFile)
        .partitionBy(partitionCols: _*)
        .parquet(path)
    }
  }

  /** Range-cluster an unpartitioned table on `sortCols`: globally
    * range-partitioned into `numFiles` shards, sorted inside each, so the
    * whole table is one monotone run of the sort key across files AND row
    * groups — a point or range predicate on the key touches one file and
    * few row groups. This is the layout for the "big fact table keyed by
    * id/time" case where directory partitioning is too coarse. */
  def writeRangeClustered(df: DataFrame, path: String, sortCols: Seq[String],
                          numFiles: Int): Unit = {
    require(sortCols.nonEmpty, "writeRangeClustered needs sort columns")
    require(numFiles > 0, s"numFiles must be > 0, got $numFiles")
    withMicrosTimestamps(df) {
      df.repartitionByRange(numFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
        .write
        .mode(SaveMode.Overwrite)
        .parquet(path)
    }
  }

  /** Compact a fragmented UNPARTITIONED parquet directory (the
    * small-files problem: streaming sinks and over-parallel writers leave
    * thousands of tiny files; each costs a file-index entry, an open, a
    * footer read, and a scheduler slot). Rewrites to
    * ceil(rows / targetRowsPerFile) files, preserving data exactly;
    * returns (filesBefore, filesAfter).
    *
    * Hive-partitioned directories are REFUSED: a naive read-and-rewrite
    * would flatten `col=value` directories into plain data columns
    * (losing partition pruning forever, and possibly re-typing the
    * values) — compact each partition directory individually instead.
    *
    * Crash safety via rename-aside: the compacted data is fully written
    * to a temp sibling first, then `path` → `path__old`, tmp → `path`,
    * delete `__old`. A crash before the first rename leaves the original
    * untouched; between the renames the original is intact at `__old`;
    * after the second the new data is live — there is no window where
    * the data exists only in the temp directory.
    *
    * Concurrent writers: the read pins its file listing at DataFrame
    * creation, so files landed AFTER that point (a live streaming sink,
    * say) would not be in the rewrite yet would be swept away by the
    * directory rename. Guard: the parquet file set is captured before
    * the read and re-listed just before the swap; if it changed, compact
    * aborts (original intact, temp removed) — compaction requires
    * quiescence and detects its absence rather than losing data. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetRowsPerFile: Long): (Long, Long) = {
    require(targetRowsPerFile > 0, s"targetRowsPerFile must be > 0, got $targetRowsPerFile")
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partitionDirs = fs.listStatus(hadoopPath)
      .filter(_.isDirectory).map(_.getPath.getName).filter(_.contains("="))
    require(partitionDirs.isEmpty,
      s"compact: $path is hive-partitioned (${partitionDirs.take(3).mkString(", ")}…) — " +
        "compact each partition directory individually; a flat rewrite would " +
        "demote partition columns to data columns and break pruning")
    def parquetFileSet(p: org.apache.hadoop.fs.Path): Set[String] = {
      val it = fs.listFiles(p, true)
      val b = Set.newBuilder[String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) b += f.toString
      }
      b.result()
    }
    val listed = parquetFileSet(hadoopPath)
    val df = spark.read.parquet(path)
    val before = listed.size.toLong
    val rows = df.count()
    val files = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    withMicrosTimestamps(df) {
      df.repartition(files).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
    val relisted = parquetFileSet(hadoopPath)
    if (relisted != listed) {
      fs.delete(tmp, true)
      val gained = (relisted -- listed).take(3)
      val lost = (listed -- relisted).take(3)
      throw new IllegalStateException(
        s"compact: $path changed during the rewrite (+${(relisted -- listed).size} " +
          s"-${(listed -- relisted).size} files, e.g. ${(gained ++ lost).mkString(", ")}); " +
          "a concurrent writer is active — original left intact, temp removed. " +
          "Quiesce writers and re-run.")
    }
    if (!fs.rename(hadoopPath, old))
      throw new IllegalStateException(
        s"compact: rename $hadoopPath -> $old failed; original data untouched, compacted copy at $tmp")
    if (!fs.rename(tmp, hadoopPath)) {
      fs.rename(old, hadoopPath) // restore; best-effort
      throw new IllegalStateException(
        s"compact: rename $tmp -> $hadoopPath failed; original restored, compacted copy at $tmp")
    }
    fs.delete(old, true)
    (before, parquetFileSet(hadoopPath).size.toLong)
  }
}
