package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame

/** Lives under `org.apache.spark.sql` for `private[sql]` access — the one
  * sanctioned way to reach `internalCreateDataFrame` without copying rows
  * through the public Row-based API.
  *
  * Why this exists: `Dataset.localCheckpoint()` returns a `LogicalRDD`
  * carrying `originStats` — the PRE-checkpoint Catalyst estimate. For
  * relations whose cardinality Catalyst cannot estimate (a UDF explode,
  * a typed flatMap), that estimate is garbage, and it is garbage in the
  * dangerous direction: a tiny sizeInBytes invites the static planner to
  * BROADCAST a data-sized relation. AQE only ever upgrades shuffle joins
  * to broadcast (measured-small sides); it never demotes a statically
  * planned broadcast — so a static underestimate is unrecoverable at
  * runtime and OOMs the driver at scale (measured: the inverted-index
  * pair kernel at 30× corpus scale, SCALING.md).
  *
  * [[statsHonestLocalCheckpoint]] re-wraps the checkpointed RDD in a
  * fresh `LogicalRDD` WITHOUT origin stats, so downstream planning sees
  * `spark.sql.defaultSizeInBytes` (effectively "unknown = huge"): every
  * join against it plans as a shuffle join statically, and AQE restores
  * broadcast per-join from TRUE runtime sizes. Toy corpora keep their
  * broadcasts; 100 TB corpora keep their drivers. */
object CheckpointShim {

  /** Re-wrap `df`'s physical RDD in a fresh LogicalRDD with NO origin
    * stats — downstream planning sees unknown=huge instead of whatever
    * estimate `df`'s plan carried. No action is run; for an
    * already-checkpointed `df` the wrapped RDD reads the stored blocks.
    *
    * When `df` IS a bare checkpoint (its analyzed plan is already a
    * LogicalRDD), the rewrap is an in-place copy minus origin stats, so
    * every other physical property the checkpoint carries
    * (outputPartitioning/outputOrdering) survives verbatim. Measured
    * honestly: Spark 4.1's localCheckpoint itself reports
    * UnknownPartitioning on the checkpointed relation, so today neither
    * form avoids a downstream exchange — the copy branch simply
    * guarantees this shim never makes the plan WORSE than the plain
    * checkpoint, including under future Spark versions that do preserve
    * partitioning. */
  def honestStats(df: DataFrame): DataFrame = {
    val classic = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val spark = classic.sparkSession
    classic.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.classic.Dataset.ofRows(spark,
          lr.copy()(spark, originStats = None, originConstraints = None))
      case _ =>
        spark.internalCreateDataFrame(classic.queryExecution.toRdd, df.schema)
    }
  }

  def statsHonestLocalCheckpoint(df: DataFrame): DataFrame =
    honestStats(df.localCheckpoint())

  /** Free the blocks of a local-checkpointed relation once nothing reads
    * it any more. No-op for non-checkpoint plans. */
  def freeCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
