package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan evidence, in two forms.
  *
  * With no arguments: regenerates docs/PLANS.md — plan highlights (scans
  * with pushdown/pruning, exchanges, codegen spans) for the headline
  * queries at sf0.01.
  *
  * With arguments: dumps `.explain("formatted")` for every SparkEntry query
  * to a directory — the plan-shape evidence files (plans/r14/<query>_<tag>.txt).
  *
  * Usage: runMain graft.tools.PlanSnapshot [sfDir [outDir [tag [onlyCsv]]]]
  *   sfDir   data to plan against; giving it selects the dump
  *   outDir  default plans/r14
  *   tag     suffix for each file (default "before")
  *   onlyCsv comma-separated query names; default = all queries
  *
  * Runs on the [[Harness]] session (local[$SPARK_GRAFT_CPUS], shuffle
  * partitions = cores), so the plans are the shapes the bench times.
  */
object PlanSnapshot {
  private val Headline = Seq("q_invoice_pipeline", "q_agg_pricing", "q_join_revenue",
    "q_anti_join", "q_events_hourly", "q_minhash_dedup",
    "q_block_segment", "q_ann_lsh", "q_winnow_overlap", "q_jaccard_pairs",
    "q_passages", "q_pack_sequences", "q_pii_redact", "q_repetition",
    "q_contamination", "q_salted_join", "q_curation_pipeline", "q_bm25",
    "q_ivf_search", "q_ivf_search_int8", "q_latest_by_key",
    "q_dedup_incremental", "q_semantic_dedup", "q_temperature_sample",
    "q_shard_manifest", "q_hashed_features", "q_simhash_pairs")

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.isEmpty) writePlansDoc(spark) else dumpAll(spark, args)
    spark.stop()
  }

  private def writePlansDoc(spark: SparkSession): Unit = {
    val dir = "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan evidence for the headline queries\n\n")
    sb.append("Regenerate with `sbt \"runMain graft.tools.PlanSnapshot\"`. Lines\n")
    sb.append("selected: parquet scans (column pruning via ReadSchema, predicate\n")
    sb.append("pushdown via PushedFilters/DataFilters), exchanges (the shuffles),\n")
    sb.append("and whole-stage-codegen markers (`*(n)` prefixes).\n")
    for (name <- Headline) {
      val plan = graft.SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
      sb.append(s"\n## $name\n\n```\n")
      plan.linesIterator
        .filter(l => l.contains("FileScan") || l.contains("Exchange") ||
          l.contains("ReadSchema") || l.contains("PushedFilters") ||
          l.contains("DataFilters") || l.contains("Join") ||
          l.contains("ObjectHashAggregate") || l.trim.startsWith("*("))
        .map(_.trim.take(170))
        .foreach(l => sb.append(l).append('\n'))
      sb.append("```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("docs/PLANS.md"), sb.toString)
    println("[plans] wrote docs/PLANS.md")
  }

  private def dumpAll(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = if (args.length > 1) args(1) else "plans/r14"
    val tag = if (args.length > 2) args(2) else "before"
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).toSet) else None
    val dir = java.nio.file.Paths.get(outDir)
    java.nio.file.Files.createDirectories(dir)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    for (name <- names) {
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(dir.resolve(s"${name}_$tag.txt"), txt)
        println(s"[plandump] $name -> ${name}_$tag.txt (${txt.length} chars)")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally Harness.drop(spark)
    }
  }
}
