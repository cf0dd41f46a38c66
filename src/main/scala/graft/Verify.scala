package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure-proofing (round-12, after CORRECTNESS_r11 shipped as `{}`):
  * `oracle_sql.json` and `provenance.json` are written BEFORE the query
  * loop, and each per-query dump appends one line to `results.jsonl` as it
  * commits. A mid-loop death (timeout, OOM, one hung query) now yields a
  * partial-but-usable round — N green results plus a loadable oracle file —
  * instead of zeroing every query that already finished. The previous
  * ordering wrote the oracle file only after all 101 dumps, making the
  * whole round's primary signal a single point of failure. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.tools.Harness.session()
    // Pre-flight: name any testdata schema drift before the query loop
    // (violations are reported loudly but don't abort — queries on
    // undrifted tables should still produce green rows).
    graft.tools.SchemaCanary.preflight(spark.sparkContext.hadoopConfiguration, Seq(sfDir))
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // SPARK_GRAFT_ONLY=q_a,q_b → dump only those queries (single-query
    // oracle iteration during development; the driver leaves it unset)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    // Artifacts the replay side hard-depends on go FIRST: if the loop dies
    // at query 73, the driver can still replay queries 1..72.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // provenance: make the correctness artifact attributable to the code
    // that produced it (ADVICE r5 — evidence with no run identity is
    // indistinguishable from a hand-edited file)
    Files.writeString(Paths.get(s"$outDir/provenance.json"),
      s"""{"commit": ${q(Bench.headCommit())}, "ran_at": ${q(java.time.Instant.now().toString)}, "sf_dir": ${q(sfDir)}, "queries": ${selected.size}}""")
    val resultsLog = Paths.get(s"$outDir/results.jsonl")
    Files.deleteIfExists(resultsLog)
    // math.rint/toString, NOT an f-interpolator: %-formatting follows the
    // JVM default locale, and a comma-decimal locale would make every
    // line unparseable JSON — the exact silent-zero failure q() defends
    // against
    def logResult(name: String, ok: Boolean, sec: Double, err: String): Unit =
      Files.writeString(resultsLog,
        s"""{"query": ${q(name)}, "dumped": $ok, "sec": ${math.rint(sec * 1000) / 1000}, "error": ${q(err)}}""" + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        logResult(name, ok = true, (System.nanoTime() - t0) / 1e9, "")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        logResult(name, ok = false, (System.nanoTime() - t0) / 1e9,
          String.valueOf(e.getMessage))
      }
    }
    spark.stop()
  }
}
