package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The capped inverted-index pair kernel shared by the near-dup family
  * ([[Dedup.jaccardPairs]] on shingle hashes, [[TextAnalysis.winnowOverlap]]
  * / [[TextAnalysis.passages]] on winnowing fingerprints). One
  * implementation so a fix lands once:
  *
  *   1. df-cap + bucket build in ONE aggregation via the custom
  *      [[graft.plans.CappedCollectLong]] aggregate — buffers are bounded
  *      by `maxDf` before overflow and CONSTANT after it, so unbounded
  *      hot keys (skew guard) can't blow memory, and the occurrence
  *      relation shuffles once, not twice;
  *   2. candidate pairs generate LOCALLY inside each bucket (the unit of
  *      work the cap bounds: ≤ maxDf·(maxDf−1)/2 pairs), with singleton
  *      buckets skipped in columnar space before the typed decode;
  *   3. per-doc retained counts joined onto the pair aggregates with
  *      join strategy left to RUNTIME sizes, not static estimates. Both
  *      sides are data-sized (one row per surviving pair; one row per
  *      document), and the static estimates under them are garbage: the
  *      relations sit downstream of the localCheckpoint's LogicalRDD,
  *      whose stats are the tiny PRE-checkpoint estimate carried through
  *      a UDF-explode whose cardinality Catalyst cannot know. At 30×
  *      corpus scale the planner read those estimates, chose
  *      BroadcastHashJoin(BuildLeft) on the PAIRS side, and the
  *      broadcast build ran a 24 GB driver out of memory — measured by
  *      ScaleProbe (last in commit 7edabe5), the exact failure a real cluster
  *      would hit (AQE never demotes a statically planned broadcast, so the
  *      underestimate is unrecoverable). The checkpoint therefore goes
  *      through [[org.apache.spark.sql.graft.CheckpointShim]], which
  *      DROPS the bogus origin stats: statically every downstream join
  *      is a shuffle join, and AQE re-upgrades to broadcast per-join
  *      from TRUE measured sizes — toy corpora keep broadcast speed,
  *      big corpora keep their drivers. Pinned by PlanShapeSpec.
  */
private[operators] object InvertedIndex {

  /** Intermediate relations, for callers that need more than the pairs. */
  case class Parts(hot: DataFrame, capped: DataFrame, pairsAgg: DataFrame)

  /** @param rel distinct (doc_id: long, key: long) occurrence rows —
    *            callers are responsible for per-document distinctness and
    *            for checkpointing `rel` if its lineage is expensive.
    * @return `pairsAgg`: (id_a, id_b, shared, na, nb) for every pair of
    *         documents sharing ≥ 1 retained key. */
  def parts(rel: DataFrame, maxDf: Int): Parts = {
    import rel.sparkSession.implicits._
    // df-cap + bucket build FUSED into one aggregation: the custom
    // graft_capped_collect aggregate collects up to maxDf ids per key and
    // evaluates to NULL past it (dropping the buffer — hot keys cost one
    // boolean). The earlier count→anti-join→collect_list shape paid a
    // second full shuffle of the occurrence relation just to learn which
    // keys were hot.
    graft.plans.CappedCollectLong.ensureRegistered(rel.sparkSession)
    val agged = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      rel.groupBy("key")
        .agg(expr(s"${graft.plans.CappedCollectLong.FuncName}(doc_id, $maxDf)").as("ids")))
    val hot = agged.filter(col("ids").isNull).select("key")
    val nonHot = agged.filter(col("ids").isNotNull)
    val buckets = nonHot.select("ids")
    val capped = nonHot.select(col("key"), explode(col("ids")).as("doc_id"))
    val cnts = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val rawPairs = buckets.filter(size(col("ids")) >= 2)
      .as[Seq[Long]].flatMap { bucket =>
        val ids = bucket.toArray
        java.util.Arrays.sort(ids)
        for (i <- ids.indices.iterator; j <- Iterator.range(i + 1, ids.length))
          yield (ids(i), ids(j))
      }.toDF("id_a", "id_b")
    val pairsAgg = rawPairs
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared"))
      .join(cnts.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(cnts.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
    Parts(hot, capped, pairsAgg)
  }
}
