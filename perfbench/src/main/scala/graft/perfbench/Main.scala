package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Result of one closed-loop call: input documents it processed and the
  * output checks that failed (empty = correct). */
final case class Outcome(docs: Int, failures: Seq[String])

final case class CallStat(wall: Double, cpu: Double, docs: Int, failures: Seq[String]) {
  def ok: Boolean = failures.isEmpty
}

/** What a run hands a workload: the session, the tracer, a private work
  * directory inside the checkout, and the seed. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: File, val seed: Long) {
  def traced: Boolean = tracer.enabled
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def path(name: String): String = new File(work, name).getAbsolutePath
}

abstract class Workload(val ctx: Ctx) {
  /** Input properties printed at the start of every run. */
  def inputs: Seq[(String, String)]
  /** Builds the persistent tables the loop reads, untimed (charged to
    * `setup_s`); it also warms the build's code paths. */
  def prewarmBuild(): Unit
  /** One timed build, run `buildRepeats` times after the warm-up calls and
    * reported as `index_build_s` (the median), so it times warm code. It
    * must leave what the calls see unchanged: it rewrites the tables of
    * `prewarmBuild` with the same contents, or builds copies of them. */
  def build(): Unit
  def buildRepeats: Int = 1
  /** One call of the closed loop. */
  def call(batch: Long): Outcome
  /** Calls per repeating pattern (index_ingest absorbs every k-th batch):
    * warm-up convergence compares whole periods. */
  def period: Int = 1
  /** Periods of warm-up run even when the warm-up cap is reached. */
  def minWarmupPeriods: Int = 1
  /** Checks run once after the measured phase, outside every timing;
    * `None` when the workload has none. */
  def finalChecks(): Option[Seq[String]] = None

  /** Per-layer values observed during traced calls (mean is reported,
    * or the last value for the names in `lastValue`). */
  val observed = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def lastValue: Set[String] = Set("spark.retained_rdds")
  def observe(name: String, v: Double): Unit =
    if (ctx.traced) observed.getOrElseUpdate(name, ArrayBuffer.empty) += v
}

/** Benchmark entry point. Usage:
  * {{{
  * Main --workload <invoice_etl|corpus_curation|index_ingest> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --trace-dir <dir>
  * }}}
  * Prints human-readable lines, then one JSON object as the last line. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, traceDir: String)

  val Workloads: Seq[String] = Seq("invoice_etl", "corpus_curation", "index_ingest")

  def parse(argv: Array[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing --$k")
    for {
      w <- need("workload").filterOrElse(Workloads.contains, s"unknown workload; choose one of ${Workloads.mkString(", ")}")
      seed <- need("seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("seconds").flatMap(s => s.toIntOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      tr <- need("trace").filterOrElse(Set("0", "1"), "--trace must be 0 or 1")
      work <- need("work")
      td <- need("trace-dir")
    } yield Args(w, seed, secs, tr == "1", work, td)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv) match {
      case Right(a) => a
      case Left(msg) => System.err.println(s"perfbench: $msg"); sys.exit(2)
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val host0 = Host.snapshot()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val work = new File(args.work).getAbsoluteFile
    work.mkdirs()
    val spark = graft.GraftSession.getOrCreate(_
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getAbsolutePath))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val status =
      try run(args, spark, work, cores, jvmStartMs, sessionS, host0)
      finally spark.stop()
    sys.exit(status)
  }

  /** CPU time of every live Java thread (driver, executor task threads,
    * Spark's own threads), by thread id. The JIT compiler and GC threads
    * are not Java threads: in a fresh JVM their work is warm-up that
    * varies from run to run, not the program's compute. */
  private def threadCpuNs(): Map[Long, Long] = {
    val tmx = ManagementFactory.getThreadMXBean
    tmx.getAllThreadIds.map(id => id -> tmx.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** Java-thread CPU seconds since `from`; threads started since count
    * from zero. */
  private def threadCpuSince(from: Map[Long, Long]): Double =
    threadCpuNs().map { case (id, ns) => ns - from.getOrElse(id, 0L) }.sum / 1e9

  private def run(args: Args, spark: SparkSession, work: File, cores: Int,
                  jvmStartMs: Long, sessionS: Double, host0: Host.Snapshot): Int = {
    val tracer = new Tracer(spark.sparkContext)
    val counters = new SparkCounters
    if (args.trace) spark.sparkContext.addSparkListener(counters)
    val ctx = new Ctx(spark, tracer, work, args.seed)
    val w: Workload = args.workload match {
      case "invoice_etl" => new InvoiceEtl(ctx)
      case "corpus_curation" => new CorpusCuration(ctx)
      case "index_ingest" => new IndexIngest(ctx)
    }
    val generatedS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    println(s"perfbench workload=${args.workload} seed=${args.seed} seconds=${args.seconds} " +
      s"trace=${if (args.trace) 1 else 0} cores=$cores")
    println("inputs " + w.inputs.map { case (k, v) => s"$k=$v" }.mkString(" "))

    w.prewarmBuild()

    val calls = ArrayBuffer.empty[CallStat]
    var batch = 0L
    def once(phase: String): CallStat = {
      tracer.phase = phase
      tracer.batch = batch
      val c0 = threadCpuNs()
      val t0 = System.nanoTime()
      val out =
        try tracer.span("bench.call")(w.call(batch))
        catch { case e: Exception => Outcome(0, Seq(s"call threw ${e.getClass.getSimpleName}: ${e.getMessage}")) }
      val s = CallStat((System.nanoTime() - t0) / 1e9, threadCpuSince(c0), out.docs, out.failures)
      s.failures.take(3).foreach(f => println(s"FAILED batch=$batch $f"))
      w.observe("spark.retained_rdds", ctx.spark.sparkContext.getPersistentRDDs.size.toDouble)
      calls += s
      batch += 1
      s
    }

    // warm-up until one period's wall is within 15% of the previous
    // period's, capped at one measured phase's length (after the
    // workload's minimum number of periods); both loops stop
    // only on a period boundary, so every measured phase holds whole
    // periods
    val warm0 = System.nanoTime()
    val p = w.period
    def periodWall(k: Int) = calls.slice(calls.length - k * p, calls.length - (k - 1) * p).map(_.wall).sum
    var ratio = Double.NaN
    var converged = false
    while (calls.length < p * w.minWarmupPeriods || calls.length % p != 0 ||
      (!converged && (System.nanoTime() - warm0) / 1e9 < args.seconds)) {
      once("warmup")
      if (calls.length >= 2 * p && calls.length % p == 0) {
        ratio = periodWall(1) / periodWall(2)
        converged = math.abs(ratio - 1) <= 0.15
      }
    }
    val warmCalls = calls.length
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    println(f"setup jvm_and_session_s=$sessionS%.2f generate_s=${generatedS - sessionS}%.2f " +
      f"warmup_s=${setupS - generatedS}%.2f warmup_calls=$warmCalls converged=$converged " +
      f"period_ratio=$ratio%.3f warmup_walls=${calls.map(c => f"${c.wall}%.2f").mkString(",")}")

    // timed builds, on warm code (traced in the traced run)
    tracer.phase = "build"
    tracer.enabled = args.trace
    val builds = (1 to w.buildRepeats).map { _ =>
      val b0 = System.nanoTime()
      w.build()
      (System.nanoTime() - b0) / 1e9
    }
    tracer.enabled = false
    val buildS = Stats.median(builds)
    println("build_walls " + builds.map(b => f"$b%.3f").mkString(","))

    def measure(phase: String, seconds: Double): Seq[CallStat] = {
      val from = calls.length
      val t0 = System.nanoTime()
      while (calls.length == from || (calls.length - from) % p != 0 || (System.nanoTime() - t0) / 1e9 < seconds)
        once(phase)
      calls.slice(from, calls.length).toSeq
    }
    val (plain, traced, tracedFromMs, tracedToMs) =
      if (!args.trace) (measure("measured", args.seconds), Seq.empty[CallStat], 0L, 0L)
      else {
        val a = measure("untraced", args.seconds / 2.0)
        tracer.enabled = true
        val fromMs = System.currentTimeMillis()
        val b = measure("traced", args.seconds / 2.0)
        tracer.enabled = false
        (a, b, fromMs, System.currentTimeMillis())
      }
    val finalFailures =
      try w.finalChecks()
      catch { case e: Exception => Some(Seq(s"final check threw ${e.getClass.getSimpleName}: ${e.getMessage}")) }
    finalFailures.toSeq.flatten.foreach(f => println(s"FAILED final $f"))

    val scored = plain ++ traced
    val attempted = scored.length + finalFailures.size
    val failed = scored.count(!_.ok) + finalFailures.count(_.nonEmpty)
    val host1 = Host.snapshot()

    val e2e = endToEnd(plain, setupS, buildS)
    println("measured_walls " + plain.map(c => f"${c.wall}%.3f").mkString(","))
    println("measured_cpu " + plain.map(c => f"${c.cpu}%.2f").mkString(","))
    e2e.foreach { case (n, v, u, note) => println(s"$n $v $u$note") }
    println(s"error_rate ${failed.toDouble / attempted} ratio ($failed failed / $attempted attempted)")
    println("host " + Host.describe(host0, host1))

    val metrics =
      if (!args.trace) e2e.map { case (n, v, u, _) => (n, v, u) }
      else {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val layer = Layers.perLayer(w, tracer, counters, traced, plain, cores, tracedFromMs, tracedToMs)
        layer.foreach { case (n, v, u) => println(s"$n $v $u") }
        writeTrace(args, tracer)
        layer
      }
    println(Json.result(correct = failed == 0, attempted, failed, metrics))
    0
  }

  /** End-to-end metrics of the untraced measured calls. */
  private def endToEnd(plain: Seq[CallStat], setupS: Double, buildS: Double): Seq[(String, Double, String, String)] = {
    val walls = plain.map(_.wall).sorted
    val n = walls.length
    // the higher of p90 (nearest rank) and the highest percentile with
    // >= 10 calls beyond it: below 100 calls the latter sits under p90,
    // and below 21 calls at or under the median
    val tailIdx = math.max(n - 11, math.ceil(0.9 * n).toInt - 1)
    val beyond = n - 1 - tailIdx
    val pct = 100.0 * (tailIdx + 1) / n
    Seq(
      ("setup_s", setupS, "s", ""),
      ("docs_per_s", Stats.median(plain.map(c => c.docs / c.wall)), "docs/s", ""),
      ("batch_p50_s", Stats.median(walls), "s", s" (n=$n)"),
      ("batch_tail_s", walls(tailIdx), "s",
        f" (p$pct%.1f, $beyond of $n calls beyond)"),
      ("cpu_s", Stats.median(plain.map(_.cpu)), "s", " (Java-thread CPU per call)"),
      ("index_build_s", buildS, "s", ""))
  }

  private def writeTrace(args: Args, tracer: Tracer): Unit = {
    val dir = new File(args.traceDir)
    dir.mkdirs()
    val f = new File(dir, s"${args.workload}-seed${args.seed}-spans.jsonl")
    val self = tracer.selfSeconds
    val out = new java.io.PrintWriter(f, "UTF-8")
    try tracer.spans.foreach { s =>
      out.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "batch" -> s.batch, "phase" -> s.phase, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_s" -> s.seconds, "self_s" -> self(s.id))))
    } finally out.close()
    println(s"spans written to ${f.getPath}")
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
}

object Json {
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] => obj(kv.asInstanceOf[Seq[(String, Any)]])
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) }))
}

/** Host record: load average and CPU steal at the start and end of a run,
  * so a contended run can be identified. No metric is scaled by them. */
object Host {
  final case class Snapshot(loadavg: String, steal: Long, total: Long)

  def snapshot(): Snapshot = {
    def read(p: String) = try {
      val s = scala.io.Source.fromFile(p); try s.getLines().toList finally s.close()
    } catch { case _: java.io.IOException => Nil }
    val load = read("/proc/loadavg").headOption.map(_.split(" ").take(3).mkString(",")).getOrElse("n/a")
    val cpu = read("/proc/stat").find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong))
    Snapshot(load, cpu.flatMap(_.lift(7)).getOrElse(0L), cpu.map(_.take(8).sum).getOrElse(0L))
  }

  def describe(a: Snapshot, b: Snapshot): String = {
    val steal = if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total) else 0.0
    f"loadavg_start=${a.loadavg} loadavg_end=${b.loadavg} steal_pct=$steal%.2f"
  }
}
