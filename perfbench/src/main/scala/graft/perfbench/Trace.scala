package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One recorded call into a layer. Times are wall-clock milliseconds
  * (the clock Spark stamps job submissions with) plus a nanosecond
  * duration for precision. */
final case class Span(id: Int, parent: Int, name: String, batch: Long, phase: String,
                      startMs: Long, startNs: Long, var endMs: Long = -1L, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * out when the run ends. Each span also sets the Spark job group, so jobs
  * submitted from the calling thread are attributed to it; jobs submitted
  * from pooled threads (which do not carry the caller's job group) are
  * placed by time window in [[SparkCounters.attribute]]. When disabled,
  * `span` runs its body and records nothing. */
final class Tracer(sc: SparkContext) {
  private val recorded = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var enabled = false
  var batch = -1L
  var phase = "setup"

  def spans: Seq[Span] = recorded.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(recorded.length, stack.headOption.map(_.id).getOrElse(-1), name, batch, phase,
        System.currentTimeMillis(), System.nanoTime())
      recorded += s
      stack = s :: stack
      sc.setJobGroup(Tracer.group(s.id), name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Self time of every span: its duration minus the part of it that its
    * child spans cover (children run on the same thread, so they do not
    * overlap each other). */
  def selfSeconds: Map[Int, Double] = {
    val childTime = recorded.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    recorded.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }
}

object Tracer {
  private val Prefix = "perfbench-span-"
  def group(id: Int): String = Prefix + id
  def spanOf(group: String): Option[Int] =
    Option(group).filter(_.startsWith(Prefix)).map(_.stripPrefix(Prefix).toInt)
}

/** Spark counters gathered by a listener the benchmark registers: jobs,
  * stages, tasks, executor run / CPU time, shuffle write, spill and output
  * bytes, per job. */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private val jobs = ArrayBuffer.empty[Job]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  private val stages = scala.collection.mutable.Map.empty[Int, StageTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += Job(e.jobId, e.time, group, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val add = StageTotals(i.numTasks, m.executorRunTime, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    val prev = stages.getOrElse(i.stageId, StageTotals(0, 0, 0, 0, 0, 0))
    stages(i.stageId) = StageTotals(prev.tasks + add.tasks, prev.runMs + add.runMs,
      prev.cpuNs + add.cpuNs, prev.shuffleWrite + add.shuffleWrite, prev.spill + add.spill,
      prev.output + add.output)
  }

  /** Attribute each job submitted inside [fromMs, toMs] to a span: by its
    * job group when that span was open at the job's submission, otherwise
    * to the deepest span open at that time (jobs from `Jobs.concurrently`'s
    * pooled threads carry no group or a stale one). `None` marks a job no
    * span covers. */
  def attribute(spans: Seq[Span], fromMs: Long, toMs: Long): Seq[(Option[Int], Totals)] = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    def open(s: Span, t: Long) = s.startMs <= t && t <= s.endMs
    jobs.toSeq.filter(j => j.timeMs >= fromMs && j.timeMs <= toMs).map { j =>
      val viaGroup = j.group.flatMap(Tracer.spanOf).flatMap(byId.get).filter(open(_, j.timeMs))
      val placed = viaGroup.orElse(
        spans.filter(open(_, j.timeMs)).sortBy(s => (s.startNs, s.id)).lastOption)
      placed.map(_.id) -> totalsOf(j)
    }
  }

  private def totalsOf(j: Job): Totals = {
    val own = j.stageIds.filter(s => stageJob.get(s).contains(j.id)).flatMap(stages.get)
    Totals(1, own.length, own.map(_.tasks).sum, own.map(_.runMs).sum / 1e3,
      own.map(_.cpuNs).sum / 1e9, own.map(_.shuffleWrite).sum / 1e6,
      own.map(_.spill).sum / 1e6, own.map(_.output).sum / 1e6)
  }
}

object SparkCounters {
  private final case class Job(id: Int, timeMs: Long, group: Option[String], stageIds: Seq[Int])
  private final case class StageTotals(tasks: Int, runMs: Long, cpuNs: Long, shuffleWrite: Long,
                                       spill: Long, output: Long)

  /** Totals of a set of jobs. */
  final case class Totals(jobs: Int, stages: Int, tasks: Int, runS: Double, cpuS: Double,
                          shuffleWriteMb: Double, spillMb: Double, outputMb: Double) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      runS + o.runS, cpuS + o.cpuS, shuffleWriteMb + o.shuffleWriteMb, spillMb + o.spillMb,
      outputMb + o.outputMb)
  }
  val Zero: Totals = Totals(0, 0, 0, 0, 0, 0, 0, 0)
}
