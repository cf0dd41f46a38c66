package graft.perfbench

/** Per-layer metrics of the traced run. Every run prints the whole list
  * (the `per_layer` list of BENCHMARK.json); a layer a workload never
  * calls reads 0. Span `layer.op` yields `layer.op_s`, its seconds per
  * call; counts are per call unless named otherwise. */
object Layers {

  val Names: Seq[(String, String)] = Seq(
    // invoice_etl
    "sources.decode_s" -> "s", "sources.degraded_docs" -> "count",
    "functions.parse_s" -> "s", "functions.parse_us_per_doc" -> "us",
    "operators.trust_s" -> "s", "sources.write_s" -> "s", "sources.write_mb" -> "MB",
    // corpus_curation
    "curation.rules_s" -> "s", "curation.rules_kept_ratio" -> "ratio",
    "curation.dedup_s" -> "s", "curation.dedup_dropped" -> "count",
    "curation.models_build_s" -> "s", "curation.models_build_jobs" -> "count",
    "curation.serve_s" -> "s", "curation.serve_jobs" -> "count",
    "curation.tokenize_s" -> "s", "curation.tokenize_jobs" -> "count",
    "curation.pack_shard_s" -> "s",
    // index_ingest
    "index.shingle_build_s" -> "s", "index.ivf_build_s" -> "s",
    "landing.append_s" -> "s", "gate.docs_s" -> "s", "gate.vectors_s" -> "s",
    "ingest.jobs_per_batch" -> "count", "index.absorb_s" -> "s", "index.files" -> "count",
    "gate.docs_dup_recall" -> "ratio", "spark.retained_rdds" -> "count",
    // every workload
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.busy_share" -> "ratio", "spark.jobs_unattributed" -> "count",
    "self.bench_share" -> "ratio", "self.sources_share" -> "ratio",
    "self.functions_share" -> "ratio", "self.operators_share" -> "ratio",
    "self.curation_share" -> "ratio", "self.index_share" -> "ratio",
    "self.landing_share" -> "ratio", "self.gate_share" -> "ratio",
    "trace.wall_s" -> "s", "trace.self_sum_s" -> "s",
    "trace.overhead_docs_per_s" -> "docs/s", "trace.overhead_batch_p50_s" -> "s")

  /** Span metrics that are not per call: per absorb, and per timed build
    * (the median, like `index_build_s`). */
  private val PerAbsorb = Set("index.absorb")
  private val BuildSpans = Set("index.shingle_build", "index.ivf_build")

  def perLayer(w: Workload, tracer: Tracer, counters: SparkCounters, traced: Seq[CallStat],
               untraced: Seq[CallStat], cores: Int, fromMs: Long, toMs: Long): Seq[(String, Double, String)] = {
    val spans = tracer.spans
    val inPhase = spans.filter(_.phase == "traced")
    val n = math.max(1, traced.length).toDouble
    val docs = traced.map(_.docs).sum.toDouble
    def secs(name: String) = inPhase.filter(_.name == name).map(_.seconds).sum
    val jobs = counters.attribute(spans, fromMs, toMs)
    val byName = spans.map(s => s.id -> s.name).toMap
    def jobsOf(name: String) = jobs.count { case (id, _) => id.flatMap(byName.get).contains(name) }
    val all = jobs.map(_._2).foldLeft(SparkCounters.Zero)(_ + _)
    val outMb = jobs.collect { case (Some(id), t) if byName(id) == "sources.write" => t.outputMb }.sum
    val self = tracer.selfSeconds
    val selfByLayer = inPhase.groupBy(_.name.takeWhile(_ != '.'))
      .map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
    val selfSum = selfByLayer.values.sum
    val wall = traced.map(_.wall).sum
    val values = scala.collection.mutable.Map.empty[String, Double]
    Names.foreach { case (m, _) =>
      if (m.endsWith("_s")) {
        val span = m.stripSuffix("_s")
        if (BuildSpans(span)) {
          val builds = spans.filter(s => s.phase == "build" && s.name == span).map(_.seconds)
          values(m) = if (builds.isEmpty) 0.0 else Stats.median(builds)
        }
        else if (PerAbsorb(span)) values(m) = Stats.mean(inPhase.filter(_.name == span).map(_.seconds))
        else values(m) = secs(span) / n
      }
    }
    w.observed.foreach { case (m, vs) => values(m) = if (w.lastValue(m)) vs.last else Stats.mean(vs.toSeq) }
    values("functions.parse_us_per_doc") = if (docs > 0) secs("functions.parse") / docs * 1e6 else 0.0
    values("sources.write_mb") = outMb / n
    Seq("models_build", "serve", "tokenize").foreach(s => values(s"curation.${s}_jobs") = jobsOf(s"curation.$s") / n)
    values("ingest.jobs_per_batch") = if (w.isInstanceOf[IndexIngest]) all.jobs / n else 0.0
    values("spark.jobs") = all.jobs / n
    values("spark.stages") = all.stages / n
    values("spark.tasks") = all.tasks / n
    values("spark.executor_cpu_s") = all.cpuS / n
    values("spark.shuffle_write_mb") = all.shuffleWriteMb / n
    values("spark.spill_mb") = all.spillMb / n
    values("spark.busy_share") = if (wall > 0) all.runS / (wall * cores) else 0.0
    values("spark.jobs_unattributed") = jobs.count(_._1.isEmpty).toDouble
    Seq("bench", "sources", "functions", "operators", "curation", "index", "landing", "gate").foreach { l =>
      values(s"self.${l}_share") = if (selfSum > 0) selfByLayer.getOrElse(l, 0.0) / selfSum else 0.0
    }
    values("trace.wall_s") = (toMs - fromMs) / 1e3
    values("trace.self_sum_s") = selfSum
    def perSec(cs: Seq[CallStat]) = Stats.median(cs.map(c => c.docs / c.wall))
    values("trace.overhead_docs_per_s") = perSec(traced) - perSec(untraced)
    values("trace.overhead_batch_p50_s") = Stats.median(traced.map(_.wall)) - Stats.median(untraced.map(_.wall))
    Names.map { case (m, u) => (m, values.getOrElse(m, 0.0), u) }
  }
}
