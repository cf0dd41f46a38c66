package graft

import graft.operators.{Sampling, TextAnalysis}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape pins for the r13 fused rule-gate kernels — the structural
  * claims behind the RulesProfile numbers (docs/PERF.md r13; the probe
  * is last in commit 7edabe5), asserted on real plans so a
  * future optimizer/refactor change can't silently reintroduce the
  * HOF-no-CSE duplication:
  *
  *  - each kernel appears in the optimized plan a BOUNDED number of times
  *    (CollapseProject must refuse to inline the non-cheap struct into
  *    its 7/9 field consumers — one eval per SITE, not per column);
  *  - the lambda cascade (ArrayFilter etc.) is gone from the hot path;
  *  - no regexp nodes remain in the C4/Gopher plan (the regex work lives
  *    inside the kernels). */
class RulesPlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")

  private def count(haystack: String, needle: String): Int =
    haystack.sliding(needle.length).count(_ == needle)

  test("c4CleanOn: one kernel eval per site — at most 2 in filter+project, no lambdas") {
    val plan = TextAnalysis.c4CleanOn(docs, col("text"))
      .filter(col("kept"))
      .select(col("doc_id"), col("clean_text"))
      .queryExecution.optimizedPlan.toString
    val evals = count(plan, "graft_c4_clean")
    assert(evals >= 1 && evals <= 2,
      s"expected 1-2 kernel sites (project + pushed-down predicate), got $evals:\n$plan")
    assert(!plan.contains("arrayfilter") && !plan.contains("ArrayFilter"),
      s"HOF lambda cascade back in the plan:\n$plan")
    assert(!plan.toLowerCase.contains("regexp"),
      s"regex nodes back in the plan:\n$plan")
  }

  test("gopherQualityOn: one kernel eval per site — at most 2 in filter+project") {
    val plan = TextAnalysis.gopherQualityOn(docs, col("text"))
      .filter(col("kept"))
      .select(col("doc_id"), col("n_words"))
      .queryExecution.optimizedPlan.toString
    val evals = count(plan, "graft_gopher_quality")
    assert(evals >= 1 && evals <= 2,
      s"expected 1-2 kernel sites, got $evals:\n$plan")
    assert(!plan.contains("aggregate(") && !plan.contains("array_intersect"),
      s"HOF battery back in the plan:\n$plan")
  }

  test("ruleGates: C4 side is checkpoint-truncated, Gopher bounded on top") {
    val plan = Sampling.ruleGates(
      docs.select("doc_id", "source", "text")).queryExecution.optimizedPlan.toString
    // the C4 half lives BELOW the survivor checkpoint: the visible plan
    // must contain no C4 kernel at all, only the Gopher tail over the
    // materialized LogicalRDD
    assert(!plan.contains("graft_c4_clean"),
      s"C4 must be behind the survivor checkpoint:\n$plan")
    assert(plan.contains("LogicalRDD"), s"survivor checkpoint missing:\n$plan")
    val gopher = count(plan, "graft_gopher_quality")
    assert(gopher >= 1 && gopher <= 2, s"gopher sites $gopher:\n$plan")
  }
}
