package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement harness: the session, the codegen prewarm, the
  * between-query drop and the timed action that [[graft.Bench]],
  * [[QueryRunner]] and [[graft.Verify]] share, so a number from one
  * compares with a number from another on equal terms.
  *
  * The session runs at `local[SPARK_GRAFT_CPUS]` (default 4) with shuffle
  * partitions = cores, UTC, no UI and a synchronous shuffle cleaner. The
  * core count is the measurement basis: every timing a tool prints ran on
  * it, and Bench records it in its `master`/`cores` keys. */
object Harness {

  val Cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The smallest scale factor: cheap to run, and its generated code is
    * the same as at every other scale (see [[prewarm]]). */
  val WarmDir = "/root/testdata/sf0.001"

  /** The harness session. `configure` adds what one tool needs on top of
    * the basis (ParityDemo's SQL extensions). */
  def session(configure: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val spark = configure(SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.ui.enabled", "false")
      // Shuffle-file deletion rides the ContextCleaner; make it synchronous
      // so a GC-triggered sweep finishes before the next timed query.
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Free everything a query run accumulates. Three distinct leaks, all
    * harness state rather than query cost, all of which made warm passes
    * measure SLOWER than cold ones (r2: checkpoint blocks; r3 residue on
    * q_sessionize/q_set_ops/q_semi_join — unchanged code, warm 2-3× cold):
    *  1. localCheckpoint blocks — dropped by unpersist, but only if it
    *     BLOCKS: async removal lags into the next query's timed window.
    *  2. shuffle files + broadcast blocks — unpersist never touches these;
    *     the ContextCleaner reclaims them only when the driver GCs the
    *     referencing RDD/broadcast objects. 53 queries/pass without a GC
    *     means the warm pass runs on the whole cold pass's shuffle garbage.
    *  3. the SQL cache.
    * System.gc() here is deliberate and belongs outside every timer: it is
    * what hands the dead references to the ContextCleaner (the blocking
    * shuffle config above makes the sweep synchronous). Safe between
    * queries: every run builds its checkpoints fresh. */
  def drop(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.sqlContext.clearCache()
    System.gc()
  }

  /** Materialize EVERY output column, not just the row count. Under
    * `.count()` the optimizer prunes what the action doesn't need —
    * unused aggregate expressions, final projections (a normalize/regex
    * query degenerates to counting input rows), and whole left joins
    * whose right side is unique-keyed (q_substring_cut's reassembly
    * never ran: its r9 "cost" was only the eager checkpoint firing at
    * construction). toRdd requires the full schema, so nothing the
    * query PRODUCES can be optimized away; this is also what a real
    * consumer (a parquet write, a downstream stage) pays. Round-10
    * action change — per-query deltas attributed in docs/PERF.md. */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Pre-warm the named queries' GENERATED code at [[WarmDir]]: whole-stage
    * codegen classes are cached by generated source, which is identical
    * across SF dirs (paths live in scan metadata, not codegen), so this
    * one cheap pass pays each query's Janino compile exactly once. Without
    * it "cold" numbers measure one-time JVM compilation (e.g. a 20 s
    * Janino spike on a wide aggregate), not data-scale execution. A
    * failure is reported on stderr under `tag` and does not stop the run;
    * the drop runs after every query, failed ones too (a half-built query
    * leaks blocks as well). */
  def prewarm(spark: SparkSession, names: Seq[String], tag: String): Unit =
    if (new java.io.File(WarmDir).isDirectory)
      names.foreach { name =>
        try materialize(SparkEntry.queries(name)(spark, WarmDir))
        catch { case e: Throwable => System.err.println(s"[$tag] prewarm $name: ${e.getMessage}") }
        finally drop(spark)
      }
}
