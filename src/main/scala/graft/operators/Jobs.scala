package graft.operators

import java.util.concurrent.{CompletionException, ExecutorService, Executors}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

import scala.util.{Failure, Try}

/** Driver-side job overlap (guide §2.6: Spark happily runs several jobs
  * at once inside one application — actions are only sequential because
  * the driver calls them sequentially). [[concurrently]] submits
  * independent thunks from futures and SETTLES every one before
  * returning (the Pq.train discipline, ADVICE r14): a failed thunk must
  * not leave sibling jobs running against state a finally-block is about
  * to free. The first failure is rethrown after all thunks finish.
  *
  * Each thunk runs with the caller's active session and local properties
  * (job group, description, scheduler pool — so its jobs are attributed,
  * cancelled and scheduled with the caller's), captured at the call. The
  * caller's `spark.sql.execution.id` is not carried: a thunk's actions
  * are executions of their own. Thunks run on a cached pool, which starts
  * a thread whenever none is idle, so a thunk that calls [[concurrently]]
  * itself never waits for a pool slot — nested calls cannot deadlock.
  *
  * Used for independent CATALOG WRITES to DIFFERENT tables and
  * independent action chains; never for two writers of the same table
  * (that is what the [[LeaseLock]] serializes). */
object Jobs {
  // daemon threads: an idle pool must not keep the JVM alive
  private lazy val pool: ExecutorService = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-jobs")
    t.setDaemon(true)
    t
  }

  def concurrently[T](thunks: Seq[() => T]): Seq[T] = {
    val session = SparkSession.active.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val futures = thunks.map { t =>
      SQLExecution.withThreadLocalCaptured(session, pool) {
        session.sparkContext.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, null)
        t()
      }
    }
    val settled = futures.map(f => Try(f.join()).recoverWith {
      case e: CompletionException if e.getCause != null => Failure(e.getCause)
    })
    settled.map(_.get)
  }
}
