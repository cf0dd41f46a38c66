package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Spark job counting for the job-count pins. */
object JobCount {

  /** The jobs started while running `f`, counted through job group `group`
    * so that no other work in the JVM is counted: one entry per job, its
    * result stage's name (the call site, e.g. "collect at X.scala:12"). */
  def jobsOf(spark: SparkSession, group: String)(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos.sortBy(_.stageId).lastOption.fold("(no stages)")(_.name))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try f
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }

  /** A pin's failure message: the count and every counted job's stage. */
  def ran(what: String, jobs: Seq[String]): String =
    s"$what ran ${jobs.length} jobs:\n  " + jobs.mkString("\n  ")
}
