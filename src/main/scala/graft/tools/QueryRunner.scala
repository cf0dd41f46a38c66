package graft.tools

import graft.SparkEntry

/** Run one named SparkEntry query repeatedly and print per-run wall time +
  * row count — the single-query iteration loop for plan/perf work
  * (Bench runs everything; this isolates one). It runs on [[Harness]],
  * like graft.Bench: same session basis (SPARK_GRAFT_CPUS, default 4),
  * codegen prewarmed at the smallest SF, the drop between runs and the
  * toRdd action, so an isolated number compares with the scoreboard's.
  *
  * Also the way to re-run a scale point: generate a corpus with
  * [[ScaleCorpus]] and pass its directory as `sfDir`.
  *
  * Usage: runMain graft.tools.QueryRunner <query> [sfDir] [repeats]
  */
object QueryRunner {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: QueryRunner <query> [sfDir] [n]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val spark = Harness.session()
    SchemaCanary.preflight(spark.sparkContext.hadoopConfiguration, Seq(sfDir))
    Harness.prewarm(spark, Seq(name), "queryrunner")
    for (i <- 1 to n) {
      val t0 = System.nanoTime()
      val rows = Harness.materialize(fn(spark, sfDir))
      val sec = (System.nanoTime() - t0) / 1e9
      Harness.drop(spark)
      println(f"[queryrunner] $name run $i: $sec%.3f s, $rows rows")
    }
    spark.stop()
  }
}
