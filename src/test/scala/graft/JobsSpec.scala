package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.Jobs
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** `Jobs.concurrently` runs each thunk with the caller's local properties
  * and active session, but not the caller's SQL execution id, and a thunk
  * may call it again without waiting for a pool slot. */
class JobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("every job a thunk submits carries the caller's job group; nested calls settle") {
    val sc = spark.sparkContext
    val group = "jobs-concurrently-spec"
    val jobs = new AtomicInteger
    val seen = new ConcurrentLinkedQueue[(String, Boolean)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    def oneJob(): Long = {
      seen.add((sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
        SparkSession.getActiveSession.contains(spark)))
      sc.parallelize(1 to 4, 1).count()
    }
    sc.addSparkListener(listener)
    // a fresh thread as the caller: its local properties are its own, and
    // the global pool's threads never saw them
    val caller = Future {
      SparkSession.setActiveSession(spark)
      sc.setJobGroup(group, "concurrently")
      sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, "424242")
      try Jobs.concurrently((1 to 8).map { _ => () =>
        oneJob() + Jobs.concurrently(Seq(() => oneJob(), () => oneJob())).sum
      })
      finally {
        sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, null)
        sc.clearJobGroup()
      }
    }(ExecutionContext.global)
    try assert(Await.result(caller, 2.minutes) == Seq.fill(8)(12L))
    finally {
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 24, s"${jobs.get} of 24 jobs carried the caller's job group")
    assert(seen.size == 24)
    seen.forEach { case (executionId, active) =>
      assert(executionId == null, "the caller's SQL execution id leaked into a thunk")
      assert(active, "a thunk ran without the caller's active session")
    }
  }
}
