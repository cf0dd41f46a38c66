package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design:
  *   - exact dedup: group on a 128-bit fingerprint — shuffle carries
  *     (hash, id) pairs only, never the documents.
  *   - near-dup: the naive all-pairs Jaccard is O(n²); the shipped shape is
  *     shingle-inverted-index join (pairs only materialize for docs sharing
  *     a shingle) and MinHash banding (pairs only for docs sharing a band
  *     bucket). Both are the standard linear-ish-scale patterns; band
  *     buckets are the unit of shuffle, so hot shingles (stopword n-grams)
  *     are the skew risk — mitigated by dropping shingles above a document
  *     -frequency cap ([[jaccardPairs]] `maxShingleDf`), exactly like a
  *     stopword cut: capped shingles leave BOTH the inverted index and the
  *     per-document set sizes, so the emitted Jaccard is exact over the
  *     retained vocabulary, and the oracle applies the identical cap.
  *   - no driver collects: banding, pair generation, and exact verification
  *     all run as joins/aggregations over distributed relations; shingle
  *     sets re-join candidate pairs by doc_id for the verify step.
  */
object Dedup {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** THE canonical content fingerprint (lowercase, whitespace collapsed,
    * md5) — the normalization every exact-dup decision in the engine must
    * share ([[exact]], [[incrementalDedup]], the curation pipeline, the
    * streaming ingest gate). NULL policy stays at call sites: pass
    * `col("text")` to propagate NULL, `coalesce(col("text"), lit(""))`
    * to treat NULL as empty. */
  def canonicalFp(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Exact dedup on the canonical fingerprint: one row per distinct
    * content, keeping the smallest doc_id, with the duplicate count. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(canonicalFp(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
      .orderBy("keep_id")

  val exactSql: String = """
SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
  MIN(doc_id) AS keep_id, COUNT(*) AS copies
FROM documents GROUP BY 1 ORDER BY keep_id
""".trim

  /** Word 3-gram shingle set per document (distinct, order-free) — Column
    * form, kept for composition; the hot paths use [[shingleSet]] because
    * the interpreted `transform` lambda benchmarked ~9 s per evaluation of
    * the corpus at sf0.1 where the primitive loop is ~0.5 s. */
  def shingles(textCol: Column, n: Int = 3): Column = {
    val words = split(textCol, " ")
    array_distinct(
      when(size(words) >= n,
        transform(sequence(lit(0), size(words) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(words, i + j + 1)): _*)))
        .otherwise(array(concat_ws(" ", words))))
  }

  /** Primitive mirror of [[shingles]] — identical output strings (same
    * split semantics incl. empty tokens, same n-gram windows, same
    * first-occurrence distinct). */
  def shingleSet(text: String, n: Int = 3): Array[String] = {
    val ws = text.split(" ", -1)
    val out =
      if (ws.length >= n) Iterator.range(0, ws.length - n + 1).map(i => ws.slice(i, i + n).mkString(" "))
      else Iterator.single(ws.mkString(" "))
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    out.foreach(seen.add)
    seen.toArray
  }

  /** Exploded (doc_id, shingle) rows with the shingle as a 64-bit
    * xxHash64 (seed 42 — Spark's own `xxhash64` function), via the
    * primitive kernel. The inverted index downstream joins and df-caps on
    * this hash instead of the shingle STRING: identical set semantics
    * modulo 64-bit collisions, and the shuffle carries 8-byte longs
    * instead of ~40-byte 3-gram strings (~4× the bytes, plus string
    * comparisons) — at 100 TB the inverted-index shuffle IS the query.
    *
    * Collision honesty: ~2M distinct shingles at sf0.1 give a ~2⁻²³
    * chance that ANY two collide, and a collision only perturbs a result
    * if both colliding shingles also co-occur in a candidate pair; the
    * DuckDB oracle computes over exact strings, so the driver's hash gate
    * would surface any such perturbation rather than mask it. */
  def shingleRows(docsDf: DataFrame): DataFrame = {
    import docsDf.sparkSession.implicits._
    // corpus-sized CALLERS pre-spread their input (Partitioning.spread —
    // r14 opt); the index batch paths (probe/append, designed around small
    // batches) deliberately skip the extra exchange
    docsDf.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) => shingleKeys(text).iterator.map(k => (id, k)) }
      .toDF("doc_id", "shingle")
  }

  /** One document's [[shingleRows]] keys (NULL text = empty), for callers
    * that hold the text on the driver. */
  def shingleKeys(text: String): Array[Long] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    shingleSet(if (text == null) "" else text)
      .map(s => XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L))
  }

  /** Default document-frequency cap for shingles entering the inverted
    * index: larger than any df in the sf≤0.01 oracle corpora (500 docs), so
    * small-scale results are cap-invariant, while a stopword shingle shared
    * by >1000 docs at scale is cut before it can form a quadratic hot
    * bucket (1000 docs → ≤½M pairs per bucket, a bounded unit of work). */
  val DefaultMaxShingleDf = 1000

  /** Exact n-gram Jaccard near-dup pairs via shingle inverted index:
    * explode distinct shingles, drop shingles with document frequency >
    * `maxShingleDf` (skew guard — see [[DefaultMaxShingleDf]]), self-join
    * on shingle, count shared, compute |A∩B| / (|A|+|B|−|A∩B|) over the
    * retained sets. Only pairs sharing ≥1 retained shingle materialize. */
  def jaccardPairs(spark: SparkSession, dir: String, threshold: Double = 0.5,
                   maxShingleDf: Int = DefaultMaxShingleDf): DataFrame =
    jaccardPairsUnsorted(spark, dir, threshold, maxShingleDf)
      .orderBy("id_a", "id_b")

  /** [[jaccardPairs]] without the final presentation sort — the form
    * consumers that only need the pair SET (the CC loop) should use. */
  private def jaccardPairsUnsorted(spark: SparkSession, dir: String, threshold: Double,
                                   maxShingleDf: Int): DataFrame =
    // (doc_id, key) occurrences are distinct per doc by construction
    // (shingleSet dedups); the shared kernel does the df-cap, local
    // bucket pair generation, and count joins — see InvertedIndex
    InvertedIndex.parts(
      shingleRows(Partitioning.spread(docs(spark, dir).select("doc_id", "text")))
        .withColumnRenamed("shingle", "key"),
      maxShingleDf).pairsAgg
      .withColumn("jaccard",
        col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("jaccard"), 6).as("jaccard"))

  /** Shingle CTE chain + the pair SELECT, shared between the pair oracle
    * and the cluster oracle. Mirrors the Spark side exactly: NULL text
    * behaves like '' (coalesce — Spark's shingleRows maps null→""), and the
    * same df cap drops hot shingles from both the index and the set sizes. */
  private def jaccardCtes(maxShingleDf: Int): String = s"""words AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws FROM documents
), sh AS (
  SELECT doc_id, list_distinct(
    CASE WHEN len(ws) >= 3
      THEN list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
      ELSE [array_to_string(ws, ' ')] END) AS shset
  FROM words
), ex0 AS (
  SELECT doc_id, unnest(shset) AS shingle FROM sh
), kept AS (
  SELECT doc_id, shingle FROM ex0
  WHERE shingle NOT IN (SELECT shingle FROM ex0 GROUP BY 1 HAVING COUNT(*) > $maxShingleDf)
), sized AS (
  SELECT doc_id, COUNT(*) AS sh_count FROM kept GROUP BY 1
), ex AS (
  SELECT k.doc_id, s.sh_count, k.shingle FROM kept k JOIN sized s USING (doc_id)
)"""

  private def jaccardSelect(threshold: Double): String = s"""SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared,
  round(CAST(COUNT(*) AS DOUBLE) / CAST(a.sh_count + b.sh_count - COUNT(*) AS DOUBLE), 6) AS jaccard
FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id, a.sh_count, b.sh_count
HAVING CAST(COUNT(*) AS DOUBLE) / CAST(a.sh_count + b.sh_count - COUNT(*) AS DOUBLE) >= $threshold"""

  def jaccardPairsSql(threshold: Double = 0.5,
                      maxShingleDf: Int = DefaultMaxShingleDf): String =
    s"WITH ${jaccardCtes(maxShingleDf)}\n${jaccardSelect(threshold)}\nORDER BY id_a, id_b"

  /** Connected components over the near-duplicate pair graph: every doc in
    * a dup cluster labeled with the cluster's minimum doc_id — the step
    * that turns pairwise near-dup hits into keep/drop decisions in a
    * training-data pipeline.
    *
    * Iterative min-label propagation WITH POINTER DOUBLING (the
    * large-star/small-star contraction idea expressed on the label forest):
    * each round takes the min over (own label, neighbor labels,
    * label-of-label). Plain neighbor-min converges in O(diameter) rounds;
    * the label-of-label jump halves remaining chain length every round, so
    * convergence is O(log diameter) — the difference between 50 rounds and
    * 6 on a 100 TB near-dup chain. Every label value is itself a node id
    * (labels start as own-id and only ever adopt other nodes' ids), so the
    * jump join is total.
    *
    * Each round is ONE aggregation over the union of three label sources
    * (neighbor labels, label-of-label, self) — min per id — so the round's
    * whole DAG materializes under a single `count()` action that doubles
    * as the convergence check. Rounds cache via `persist` with the
    * PREVIOUS round explicitly unpersisted once the new one is
    * materialized: the earlier eager-localCheckpoint-per-round shape
    * leaked every round's blocks for the lifetime of the session (a
    * repeated-bench warm pass measurably slower than its cold pass), and
    * checkpoint blocks cannot be freed through the DataFrame API. */
  def dupClusters(spark: SparkSession, dir: String, threshold: Double = 0.5,
                  maxRounds: Int = 50,
                  maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    // pairs are EAGERLY materialized (localCheckpoint) BEFORE the
    // union-swap below: the edges plan contains the pairs subtree TWICE
    // (once per union branch), and a lazy persist() would let the two
    // branch tasks race the unpopulated cache on a real cluster — both
    // executors would run the full inverted-index join (BlockManager
    // write-lock dedup only helps within one executor). The checkpoint
    // runs the join exactly once; the pair list it pins is tiny (one row
    // per near-dup pair). No presentation sort — the CC loop only needs
    // the pair SET.
    // stats-honest checkpoint: the CC loop joins labels (one row per
    // NODE) against edges every round; a static broadcast of either off
    // the raw checkpoint's garbage origin stats would be lethal at real
    // node counts (see CheckpointShim — AQE re-earns the broadcast at
    // toy scale from true sizes)
    val pairs = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      jaccardPairsUnsorted(spark, dir, threshold, maxShingleDf)
        .select("id_a", "id_b"))
    val edges = pairs
      .union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
      .persist()
    // initial labeling: least(own id, min direct neighbor) — one
    // aggregation over edges (same cost as the plain distinct), and on
    // clique-shaped dup clusters (the common near-dup case) it is already
    // the fixpoint, so the loop exits after a single confirming round
    // instead of improve+confirm. Every label value is a node id that
    // appears in edges (symmetric), so the pointer-doubling jump join
    // stays total.
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("label"))
      .persist()
    val tInit = System.nanoTime()
    labels.count() // materialize the base relation once
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      System.err.println(f"[cc] init (edges+labels): ${(System.nanoTime() - tInit) / 1e9}%.3f s")
    var prevCached = labels
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      // ONE join resolves both label sources: (key=neighbor, id) rows pull
      // the neighbor's label, (key=own label, id) rows pull the
      // label-of-label (pointer doubling — halves remaining chain length
      // every round, O(log diameter) rounds on long chains)
      val wanting = edges.select(col("dst").as("key"), col("src").as("id"))
        .union(labels.select(col("label").as("key"), col("id")))
      val resolved = wanting
        .join(labels.select(col("id").as("key"), col("label")), "key")
        .select(col("id"), col("label"), lit(false).as("self"))
      val self = labels.select(col("id"), col("label"), lit(true).as("self"))
      val updated = resolved.union(self)
        .groupBy("id")
        .agg(min(col("label")).as("new_label"),
          // each id has exactly one self row — its current label
          max(when(col("self"), col("label"))).as("label"))
        .persist()
      val t0 = System.nanoTime()
      changed = updated.filter(col("new_label") < col("label")).count()
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(f"[cc] round $rounds: ${(System.nanoTime() - t0) / 1e9}%.3f s, changed=$changed")
      prevCached.unpersist(blocking = false)
      prevCached = updated
      labels = updated.select(col("id"), col("new_label").as("label"))
      rounds += 1
    }
    if (changed > 0)
      // a silent non-converged return would label clusters wrongly and
      // still pass row-count checks — fail loudly instead (the graph
      // diameter exceeded maxRounds; long near-dup chains at scale)
      throw new IllegalStateException(
        s"dupClusters did not converge after $maxRounds rounds ($changed labels still " +
          "changing); raise maxRounds — the duplicate-graph diameter exceeds the cap")
    // the result projects the FINAL round's cached relation (tiny: one row
    // per node in the dup graph) — that cache intentionally stays alive to
    // back the returned DataFrame; everything else is freed. Eviction is
    // safe (persist recomputes through lineage; worst case re-reads the
    // corpus — correct, just slow).
    edges.unpersist(blocking = false)
    labels.select(col("id").as("doc_id"), col("label").as("cluster")).orderBy("doc_id")
  }

  /** Oracle: transitive closure via a recursive CTE over the exact-Jaccard
    * edges, cluster = min(self, min reachable). */
  def dupClustersSql(threshold: Double = 0.5,
                     maxShingleDf: Int = DefaultMaxShingleDf): String = s"""
WITH RECURSIVE ${jaccardCtes(maxShingleDf)}, jp AS (
${jaccardSelect(threshold)}
), edges AS (
  SELECT id_a AS s, id_b AS d FROM jp
  UNION ALL
  SELECT id_b, id_a FROM jp
), reach(s, d) AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
SELECT s AS doc_id, least(s, min(d)) AS cluster
FROM reach GROUP BY s ORDER BY doc_id
""".trim

  /** Benchmark decontamination — the cross-corpus leg of near-dup
    * detection: which TRAINING documents contain an EVALUATION document's
    * content (containment = |fp(eval) ∩ fp(train)| / |fp(eval)| — always
    * normalized by the eval side, because a benchmark item embedded
    * verbatim in a long web page is exactly the case that must score 1.0).
    *
    * The eval set here is carved deterministically out of the corpus
    * (doc_id % 17 == 0) so the oracle can reconstruct it; identity pairs
    * are excluded (a document trivially "contaminates" itself). Shape:
    * both sides shingle through the same kernel, the df cap is computed
    * over the COMBINED corpus (the eval rows are a subset of the train
    * relation here, and the oracle's `kept` CTE caps the same combined
    * relation — inert at oracle scale, where cap 1000 > corpus size),
    * and the match is a plain equi-join on the shingle hash: the eval
    * index is tiny by nature (benchmarks are KBs against a 100 TB
    * corpus), so AQE broadcasts it and the train index never shuffles.
    * For a genuine two-corpus deployment — where capping eval vocabulary
    * by train-side frequency would be wrong — use [[contaminationOn]]. */
  def contamination(spark: SparkSession, dir: String, threshold: Double = 0.5,
                    maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    // the eval set is a SUBSET of the corpus here, so the shingle kernel
    // runs exactly ONCE, straight into the fused cap+bucket aggregation
    // (graft_capped_collect — hot keys evaluate to NULL with constant
    // buffer cost); both sides derive from the checkpointed buckets
    graft.plans.CappedCollectLong.ensureRegistered(spark)
    val agged = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      shingleRows(Partitioning.spread(docs(spark, dir).select("doc_id", "text")))
        .withColumnRenamed("shingle", "key")
        .groupBy("key")
        .agg(expr(s"${graft.plans.CappedCollectLong.FuncName}(doc_id, $maxShingleDf)").as("ids"))
        .filter(col("ids").isNotNull))
    val kept = agged.select(col("key"), explode(col("ids")).as("doc_id"))
    val evalKept = kept.filter(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("eval_id"), col("key"))
      .localCheckpoint() // read twice (sizes + join)
    val evalSizes = evalKept.groupBy("eval_id").agg(count(lit(1)).as("n_eval"))
    // NO broadcast hints here: the carved eval side is doc_id % 17 — ~6%
    // of the corpus, data-sized at scale — so forcing a broadcast would
    // OOM exactly where graceful degradation matters. The checkpoint shim
    // keeps stats honest; AQE broadcasts the eval side only while it is
    // measured-small. contaminationOn keeps its explicit broadcasts
    // because THERE eval is contract-tiny (a benchmark, not a carve).
    kept
      .select(col("doc_id").as("train_id"), col("key"))
      .join(evalKept, "key")
      .filter(col("train_id") =!= col("eval_id"))
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("shared"))
      .join(evalSizes, "eval_id")
      .withColumn("containment",
        col("shared").cast("double") / col("n_eval").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("train_id"), col("eval_id"), col("shared"),
        round(col("containment"), 6).as("containment"))
      .orderBy("train_id", "eval_id")
  }

  def contaminationSql(threshold: Double = 0.5,
                       maxShingleDf: Int = DefaultMaxShingleDf): String = s"""
WITH ${jaccardCtes(maxShingleDf)},
eval_kept AS (
  SELECT doc_id AS eval_id, shingle FROM kept WHERE doc_id % 17 = 0
), eval_sizes AS (
  SELECT eval_id, COUNT(*) AS n_eval FROM eval_kept GROUP BY 1
), shared AS (
  SELECT t.doc_id AS train_id, e.eval_id, COUNT(*) AS shared
  FROM kept t JOIN eval_kept e ON t.shingle = e.shingle AND t.doc_id <> e.eval_id
  GROUP BY 1, 2
)
SELECT train_id, eval_id, shared,
  round(CAST(shared AS DOUBLE) / CAST(n_eval AS DOUBLE), 6) AS containment
FROM shared JOIN eval_sizes USING (eval_id)
WHERE CAST(shared AS DOUBLE) / CAST(n_eval AS DOUBLE) >= $threshold
ORDER BY train_id, eval_id
""".trim

  /** Two-relation benchmark decontamination — the real API shape: `train`
    * and `eval` are independent (doc_id, text) relations (ids may overlap
    * numerically; no identity exclusion — separate corpora have no shared
    * identity). Emits (train_id, eval_id, shared, containment) where
    * containment = |train∩eval| / |eval| over 3-gram shingle sets.
    *
    * Semantics vs the carved [[contamination]]: the df cap is computed
    * from the TRAIN side ONLY — a stopword-ish shingle hot in the training
    * corpus is dropped from the index (skew guard), but eval-side set
    * sizes are NEVER capped: n_eval counts every eval shingle, so a
    * benchmark item whose shingles are all train-hot scores low
    * containment rather than 0/0. Scale shape: one fused cap+bucket
    * aggregation over the train side (the 100 TB side), eval shingles
    * equi-join the index (eval is KBs → AQE broadcasts it). */
  def contaminationOn(train: DataFrame, eval: DataFrame, threshold: Double = 0.5,
                      maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    val spark = train.sparkSession
    graft.plans.CappedCollectLong.ensureRegistered(spark)
    val trainKept = shingleRows(train).withColumnRenamed("shingle", "key")
      .groupBy("key")
      .agg(expr(s"${graft.plans.CappedCollectLong.FuncName}(doc_id, $maxShingleDf)").as("ids"))
      .filter(col("ids").isNotNull)
      .select(col("key"), explode(col("ids")).as("train_id"))
    val evalSh = shingleRows(eval)
      .select(col("doc_id").as("eval_id"), col("shingle").as("key"))
      .localCheckpoint() // read twice (sizes + join); eval is the small side
    val evalSizes = evalSh.groupBy("eval_id").agg(count(lit(1)).as("n_eval"))
    // explicit broadcast: eval is contract-tiny (see scale note in doc)
    trainKept
      .join(broadcast(evalSh), "key")
      .groupBy("train_id", "eval_id")
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(evalSizes), "eval_id")
      .withColumn("containment",
        col("shared").cast("double") / col("n_eval").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("train_id"), col("eval_id"), col("shared"),
        round(col("containment"), 6).as("containment"))
      .orderBy("train_id", "eval_id")
  }

  /** Incremental dedup — gate a NEW batch of documents against the
    * existing corpus, the decision a daily-crawl append actually makes:
    * one row per batch document with the exact-duplicate flag (canonical
    * fingerprint seen in the corpus), the best near-dup corpus match by
    * capped-shingle Jaccard (ties → lowest corpus id), and the combined
    * keep/drop verdict.
    *
    * This carved form (batch = doc_id % 13 == 0, corpus = the rest, one
    * relation, SHARED df cap — the exact convention of the jaccard
    * oracle) exists for the driver gate; the deployment shape is
    * [[incrementalDedupOn]]. Scale: one fused cap+bucket aggregation,
    * batch/corpus sides split from the same stats-honest checkpoint, the
    * probe is an equi-join on the 8-byte shingle hash, and the
    * best-match step is [[graft.plans.ArgMaxBest]] — HashAggregate arg-max,
    * no per-batch-doc window sort. */
  def incrementalDedup(spark: SparkSession, dir: String, threshold: Double = 0.5,
                       maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    graft.plans.CappedCollectLong.ensureRegistered(spark)
    graft.plans.ArgMaxBest.ensureRegistered(spark)
    val agged = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      shingleRows(Partitioning.spread(docs(spark, dir).select("doc_id", "text")))
        .withColumnRenamed("shingle", "key")
        .groupBy("key")
        .agg(expr(s"${graft.plans.CappedCollectLong.FuncName}(doc_id, $maxShingleDf)").as("ids"))
        .filter(col("ids").isNotNull))
    val kept = agged.select(col("key"), explode(col("ids")).as("doc_id"))
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val isBatch = col("doc_id") % 13 === 0
    val batchSh = kept.filter(isBatch).select(col("doc_id").as("batch_id"), col("key"))
    val corpusSh = kept.filter(!isBatch).select(col("doc_id").as("corpus_id"), col("key"))
    // unrounded jaccard decides the best match (rounding first could
    // manufacture ties the oracle would break differently); round on output
    val scored = corpusSh.join(batchSh, "key")
      .groupBy("batch_id", "corpus_id")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("batch_id"), col("n").as("nb")), "batch_id")
      .join(sizes.select(col("doc_id").as("corpus_id"), col("n").as("nc")), "corpus_id")
      .withColumn("j", col("shared").cast("double")
        / (col("nb") + col("nc") - col("shared")).cast("double"))
    val best = scored
      .groupBy("batch_id")
      .agg(expr(s"${graft.plans.ArgMaxBest.FuncName}(" +
        "j, corpus_id, shared)").as("best"))
      .select(col("batch_id"), col("best.id").as("dup_of"),
        col("best.score").as("j"))
    val fp = canonicalFp(col("text"))
    val batchFp = docs(spark, dir).filter(isBatch).select(col("doc_id"), fp.as("fp"))
    val corpusFp = docs(spark, dir).filter(!isBatch).select(fp.as("fp"))
      .distinct().withColumn("seen", lit(true))
    batchFp
      .join(corpusFp, Seq("fp"), "left")
      .withColumn("exact_dup", coalesce(col("seen"), lit(false)))
      .join(best, col("doc_id") === col("batch_id"), "left")
      .withColumn("is_dup",
        col("exact_dup") || coalesce(col("j") >= threshold, lit(false)))
      .select(col("doc_id"), col("exact_dup"), col("dup_of"),
        round(col("j"), 6).as("jaccard"), col("is_dup"))
      .orderBy("doc_id")
  }

  /** Oracle: identical carve, cap, unrounded best-match ordering, and
    * canonical-fingerprint exact check over the jaccard CTE chain. */
  def incrementalDedupSql(threshold: Double = 0.5,
                          maxShingleDf: Int = DefaultMaxShingleDf): String = s"""
WITH ${jaccardCtes(maxShingleDf)},
bsh AS (SELECT doc_id AS batch_id, sh_count AS nb, shingle FROM ex WHERE doc_id % 13 = 0),
csh AS (SELECT doc_id AS corpus_id, sh_count AS nc, shingle FROM ex WHERE doc_id % 13 <> 0),
scored AS (
  SELECT b.batch_id, c.corpus_id, COUNT(*) AS shared, b.nb, c.nc,
    CAST(COUNT(*) AS DOUBLE) / CAST(b.nb + c.nc - COUNT(*) AS DOUBLE) AS j
  FROM bsh b JOIN csh c USING (shingle)
  GROUP BY b.batch_id, c.corpus_id, b.nb, c.nc
), best AS (
  SELECT batch_id, corpus_id, j,
    row_number() OVER (PARTITION BY batch_id ORDER BY j DESC, corpus_id ASC) AS rk
  FROM scored
), fps AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
), cfp AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 13 <> 0)
SELECT f.doc_id, (c.fp IS NOT NULL) AS exact_dup, b.corpus_id AS dup_of,
  round(b.j, 6) AS jaccard,
  ((c.fp IS NOT NULL) OR coalesce(b.j >= $threshold, FALSE)) AS is_dup
FROM fps f
LEFT JOIN cfp c ON c.fp = f.fp
LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON b.batch_id = f.doc_id
WHERE f.doc_id % 13 = 0
ORDER BY f.doc_id
""".trim

  /** Two-relation incremental dedup — the deployment shape: `corpus` is
    * the 100 TB side, `batch` the new arrivals. The df cap comes from the
    * CORPUS side only (a corpus-hot shingle is dropped from the index and
    * from corpus set sizes; batch set sizes are NEVER capped — same
    * train-side-only convention as [[contaminationOn]], so a batch doc
    * made of corpus-stopwords scores low Jaccard rather than joining on
    * hot buckets). Jaccard here is |A∩kept(B)| / (|A| + |kept-B| − ∩):
    * asymmetric under the cap by construction; at oracle scale the cap is
    * inert and it degenerates to plain Jaccard. Scale: the corpus index
    * builds in one fused aggregation, the batch probes it with an
    * equi-join, nothing is broadcast on a static guess. */
  def incrementalDedupOn(corpus: DataFrame, batch: DataFrame, threshold: Double = 0.5,
                         maxShingleDf: Int = DefaultMaxShingleDf): DataFrame = {
    val spark = corpus.sparkSession
    graft.plans.CappedCollectLong.ensureRegistered(spark)
    graft.plans.ArgMaxBest.ensureRegistered(spark)
    val corpusKept = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      shingleRows(corpus).withColumnRenamed("shingle", "key")
        .groupBy("key")
        .agg(expr(s"${graft.plans.CappedCollectLong.FuncName}(doc_id, $maxShingleDf)").as("ids"))
        .filter(col("ids").isNotNull)
        .select(col("key"), explode(col("ids")).as("corpus_id")))
    val corpusSizes = corpusKept.groupBy("corpus_id").agg(count(lit(1)).as("nc"))
    val batchSh = org.apache.spark.sql.graft.CheckpointShim.statsHonestLocalCheckpoint(
      shingleRows(batch).select(col("doc_id").as("batch_id"), col("shingle").as("key")))
    val batchSizes = batchSh.groupBy("batch_id").agg(count(lit(1)).as("nb"))
    val best = corpusKept.join(batchSh, "key")
      .groupBy("batch_id", "corpus_id")
      .agg(count(lit(1)).as("shared"))
      .join(batchSizes, "batch_id")
      .join(corpusSizes, "corpus_id")
      .withColumn("j", col("shared").cast("double")
        / (col("nb") + col("nc") - col("shared")).cast("double"))
      .groupBy("batch_id")
      .agg(expr(s"${graft.plans.ArgMaxBest.FuncName}(" +
        "j, corpus_id, shared)").as("best"))
      .select(col("batch_id"), col("best.id").as("dup_of"),
        col("best.score").as("j"), col("best.payload").as("shared"))
    val fp = canonicalFp(coalesce(col("text"), lit("")))
    val corpusFp = corpus.select(fp.as("fp")).distinct().withColumn("seen", lit(true))
    // no presentation sort: this is the deployment/composition form (the
    // streaming ingest gate calls it per micro-batch and immediately
    // appends to parquet — a global orderBy would pay a range exchange
    // per batch for ordering nobody reads). The carved oracle query
    // sorts; interactive callers can orderBy themselves.
    batch.select(col("doc_id"), fp.as("fp"))
      .join(corpusFp, Seq("fp"), "left")
      .withColumn("exact_dup", coalesce(col("seen"), lit(false)))
      .join(best, col("doc_id") === col("batch_id"), "left")
      .withColumn("is_dup",
        col("exact_dup") || coalesce(col("j") >= threshold, lit(false)))
      .select(col("doc_id"), col("exact_dup"), col("dup_of"), col("shared"),
        round(col("j"), 6).as("jaccard"), col("is_dup"))
  }

  // --- MinHash + LSH ---------------------------------------------------

  /** Number of hash functions and LSH banding layout: 32 hashes in 16
    * bands of 2 rows → candidate-pair probability at jaccard s is
    * 1−(1−s²)¹⁶; at s=0.5 that's ≈0.99, at s=0.3 ≈0.78. */
  val NumHashes = 32
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** MinHash signature over a shingle set: for each of 32 affine
    * permutations (a·h + b) mod p with p = 2³¹−1 over MurmurHash3 shingle
    * hashes, the minimum. Primitive kernel — the signature itself has no
    * oracle (the verified OUTPUT does), so the hash only needs to be
    * deterministic. */
  // affine permutation coefficients — shingle-independent, computed once
  private val MinhashA: Array[Long] = Array.tabulate(NumHashes)(i =>
    java.lang.Long.remainderUnsigned(1099511628211L * (2 * i + 1), 2147483646L) + 1)
  private val MinhashB: Array[Long] = Array.tabulate(NumHashes)(i =>
    java.lang.Long.remainderUnsigned(0x9E3779B97F4A7C15L * (i + 1), 2147483647L))

  def minhashSig(sh: Array[String]): Array[Long] = {
    val p = 2147483647L
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var s = 0
    while (s < sh.length) {
      val h = java.lang.Long.remainderUnsigned(
        scala.util.hashing.MurmurHash3.stringHash(sh(s)).toLong & 0xFFFFFFFFL, p)
      var i = 0
      while (i < NumHashes) {
        val v = (h * MinhashA(i) + MinhashB(i)) % p
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      s += 1
    }
    sig
  }

  /** MinHash-LSH candidate pairs verified by exact Jaccard. With the
    * 16×2 banding, recall at the 0.5 threshold is ≈0.99 — the verify step
    * makes every emitted pair exact, so (modulo the tiny recall gap, which
    * is empirically zero on the test corpus) output equals the exact
    * [[jaccardPairs]]. (The oracle's shingle-df cap is inert at oracle
    * scale — cap 1000 > corpus size — so the two sides see the same sets.)
    *
    * Fully distributed — nothing is collected to the driver:
    *   1. shingle+sign per doc in one kernel pass; the shuffle carries only
    *      (bucket, doc_id) rows; candidate pairs generate inside each band
    *      bucket via groupByKey (hot buckets can't form here: a band bucket
    *      only grows with genuinely signature-identical docs, so bucket
    *      size tracks true duplication, not token frequency);
    *   2. exact verification re-joins the (doc_id, shingles) relation on
    *      id_a then id_b — plain equi-joins Catalyst can execute as
    *      broadcast or sort-merge depending on size — and computes the
    *      intersection in a primitive per-row kernel.
    * The shingling kernel runs ONCE: the (doc_id, shingles) relation is
    * localCheckpoint'd and both the banding pass and the verify side read
    * the materialized blocks — the same single-evaluation discipline as
    * BM25/jaccard. Band buckets key on a 64-bit mix of (band, signature
    * slice) — 8-byte shuffle rows instead of ~40-byte strings; a band-key
    * collision can only ADD a candidate pair, and every candidate passes
    * exact-Jaccard verification, so collisions cost a verify row, never
    * correctness.
    *
    * Mega-bucket cap (round 13 — found LIVE by the 5M-doc composed
    * pipeline, PipelineEndToEnd): a band bucket's size tracks TRUE
    * near-duplication, and true duplication can be corpus-scale — a
    * boilerplate-dominated corpus (shared page skeleton, tiny per-doc
    * payload) put ~132k signature-similar docs into single band buckets
    * and the all-pairs enumeration went quadratic (~10^10 candidate
    * tuples in one task, 50 GB heap, single-core). A duplicate CLUSTER of
    * size D needs D−1 edges to dedup, not D²/2: buckets larger than
    * `maxBandBucket` emit a sorted-id CHAIN at strides 1 AND 2
    * ((ids(k−1), ids(k)) and (ids(k−2), ids(k)) — 2D−3 pairs, still O(D))
    * instead of all pairs — keep-one dedup semantics preserved through
    * the same exact verification, and the deliberate boundary that the
    * full pairwise list INSIDE a mega-cluster is not enumerated (it is
    * quadratic in a quantity that scales with the corpus). A chain, NOT
    * a hub star (review r13): a band bucket can contain sub-threshold
    * hangers-on (band match probability is j^rows, not a hash collision),
    * and a star through an outlier MINIMUM id would fail verification on
    * every edge and lose the true cluster's dedup entirely. Stride 2 on
    * top of the chain (review r14): duplicates need not be ADJACENT in id
    * order — a single sub-threshold hanger-on whose id falls BETWEEN two
    * cluster members kills both its incident stride-1 edges, and because
    * every band sorts the same ids the same way, a stride-1-only chain
    * loses that connection in EVERY band the mega-bucket recurs in
    * (systematic, not per-band noise). The stride-2 edge skips over any
    * single interleaved outlier, so disconnecting two true duplicates now
    * needs ≥2 CONSECUTIVE outliers between them in sorted-id order —
    * [[cappedBucketEdges]]' connectivity property, pinned in
    * OperatorsSpec and measured on a constructed just-over-cap bucket in
    * tools/ChainRecallProbe. The default cap is inert at oracle scale
    * (1000 > any sf≤0.1 bucket), so `q_minhash_dedup` is unchanged — the
    * [[DefaultMaxShingleDf]] discipline. */
  val DefaultMaxBandBucket = 1000

  /** Candidate edges for a capped (mega) band bucket: sorted-id chain at
    * strides 1..maxStride — maxStride·D − (1+…+maxStride) pairs, O(D) for
    * constant maxStride (default 2 → 2D−3). Connectivity contract: the
    * graph restricted to any subset S of `ids` stays connected as long as
    * no `maxStride` CONSECUTIVE ids of the sorted array are all outside S
    * (i.e. runs of < maxStride interleaved non-members never disconnect
    * members). `ids` must be sorted ascending. maxStride=1 is the r13
    * chain, kept reachable so ChainRecallProbe can measure what stride 2
    * buys. */
  private[graft] def cappedBucketEdges(ids: Array[Long],
      maxStride: Int = 2): Iterator[(Long, Long)] =
    Iterator.range(1, maxStride + 1).flatMap(s =>
      Iterator.range(s, ids.length).map(j => (ids(j - s), ids(j))))

  def minhashDedup(spark: SparkSession, dir: String, threshold: Double = 0.5,
                   maxBandBucket: Int = DefaultMaxBandBucket,
                   chainMaxStride: Int = 2): DataFrame = {
    import spark.implicits._
    // input spread (r14 opt): shingling + 32-perm signatures otherwise run
    // on the scan's single split; per-row kernel + count-based verify math,
    // so partitioning cannot change any value
    val shingled = Partitioning.spread(
        docs(spark, dir).select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, t) => (id, shingleSet(if (t == null) "" else t)) }
      .localCheckpoint()
    val banded = shingled.flatMap { case (id, sh) =>
      val sig = minhashSig(sh)
      Iterator.range(0, Bands).map { b =>
        var h = 0x9E3779B97F4A7C15L * (b + 1)
        var r = 0
        while (r < RowsPerBand) {
          h ^= sig(b * RowsPerBand + r) * 0xC2B2AE3D27D4EB4FL
          h = java.lang.Long.rotateLeft(h, 27) * 0x9E3779B97F4A7C15L
          r += 1
        }
        (h, id)
      }
    }
    val pairs = banded.groupByKey(_._1).flatMapGroups { (_, it) =>
      val ids = it.map(_._2).toArray.sorted
      if (ids.length <= maxBandBucket)
        for (i <- ids.indices.iterator; j <- Iterator.range(i + 1, ids.length))
          yield (ids(i), ids(j))
      else // mega-bucket: stride-1+2 chain, 2D−3 pairs — see the cap note
        cappedBucketEdges(ids, chainMaxStride)
    }.distinct().toDF("id_a", "id_b")
    // stats-honest view for the verify joins: sh carries the full shingle
    // arrays (the heaviest relation here) — a static broadcast of it off
    // the checkpoint's garbage origin stats would OOM at corpus scale
    val sh = org.apache.spark.sql.graft.CheckpointShim.honestStats(
      shingled.toDF("doc_id", "shingles"))
    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .as[(Long, Long, Array[String], Array[String])]
      .map { case (idA, idB, sa, sb) =>
        val setB = sb.toSet
        var shared = 0L
        sa.foreach(s => if (setB.contains(s)) shared += 1)
        (idA, idB, shared, shared.toDouble / (sa.length + sb.length - shared).toDouble)
      }
      .filter(_._4 >= threshold)
      .toDF("id_a", "id_b", "shared", "jaccard")
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy("id_a", "id_b")
  }

  // --- SimHash ---------------------------------------------------------

  /** 64-bit SimHash signatures for a (doc_id, text) corpus: per-document
    * primitive kernel — distinct word tokens (split on single space keeping
    * empties, first-occurrence distinct; NULL text behaves like ""), each
    * hashed with Spark's own xxHash64 (seed 42, via the Catalyst
    * `XxHash64Function` the `xxhash64` column function evaluates), ±1 votes
    * per bit, bit set when the vote sum is positive.
    *
    * A document is a row, so the whole signature is a NARROW map — no
    * explode row-blowup, no shuffle, and no 64-aggregate codegen: the
    * previous explode + 64 conditional-sum-aggregates shape was
    * whole-stage-codegen'd into a class Janino took ~20 s to compile on
    * first use (the driver's cold bench ate it every round). Signatures are
    * bit-identical to that shape (SimHashDifferentialSpec pins them against
    * an independent XXH64 + voting reimplementation).
    *
    * The token hash is a PARAMETER of the algorithm, not its identity:
    *  - `"xxh64"` (default) — Spark's own xxHash64 (seed 42), the cheap
    *    deployment kernel, pinned differentially (SimHashDifferentialSpec);
    *  - `"md5"`  — the 64 most-significant bits of standard MD5 over the
    *    token's UTF-8 bytes. MD5 is computed identically by every engine
    *    that ships it, which makes THIS variant fully expressible in ANSI
    *    SQL ([[simhashPairsSql]]) and therefore DuckDB-oracle-able
    *    end-to-end — the hash, the ±1 voting, the banding and the Hamming
    *    verify are all pinned by an independent engine, not a
    *    reimplementation in the same test JVM. */
  def simhashSignatures(docsDf: DataFrame, hasher: String = "xxh64"): DataFrame = {
    import docsDf.sparkSession.implicits._
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    require(hasher == "xxh64" || hasher == "md5", s"unknown simhash hasher: $hasher")
    val useMd5 = hasher == "md5"
    // input spread (r14 opt): the per-doc token-hash + voting kernel
    // otherwise runs on the scan's single split; per-row map, no
    // aggregation — partitioning cannot change any signature
    Partitioning.spread(docsDf.select(col("doc_id"), col("text"))).as[(Long, String)]
      .map { case (id, text) =>
        val md = if (useMd5) java.security.MessageDigest.getInstance("MD5") else null
        val toks = (if (text == null) "" else text).split(" ", -1)
        val seen = new java.util.HashSet[String](toks.length * 2)
        val votes = new Array[Int](64)
        var k = 0
        while (k < toks.length) {
          val t = toks(k)
          if (seen.add(t)) {
            val h =
              if (useMd5) {
                // first 8 digest bytes big-endian ≡ the hash's first 16 hex
                // chars — the value the SQL oracle reconstructs digit-wise
                md.reset()
                java.nio.ByteBuffer
                  .wrap(md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)), 0, 8)
                  .getLong
              } else XxHash64Function.hash(UTF8String.fromString(t), StringType, 42L)
            var i = 0
            while (i < 64) {
              if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
              i += 1
            }
          }
          k += 1
        }
        var sig = 0L
        var i = 0
        while (i < 64) { if (votes(i) > 0) sig |= 1L << i; i += 1 }
        (id, sig)
      }
      .toDF("doc_id", "sig")
  }

  /** SimHash near-dup pairs: group by band (4×16-bit chunks — Hamming
    * distance ≤3 guarantees ≥1 identical chunk), verify by popcount of XOR. */
  def simhashPairs(spark: SparkSession, dir: String, maxHamming: Int = 3,
                   hasher: String = "xxh64"): DataFrame = {
    val base = simhashSignatures(docs(spark, dir), hasher)
    val banded = base.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(i =>
        concat_ws(":", lit(i), shiftright(col("sig"), i * 16).bitwiseAND(0xFFFFL))): _*)).as("chunk"))
    val a = banded.select(col("doc_id").as("id_a"), col("sig").as("sig_a"), col("chunk"))
    val b = banded.select(col("doc_id").as("id_b"), col("sig").as("sig_b"), col("chunk"))
    a.join(b, Seq("chunk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sig_a", "sig_b")
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .orderBy("id_a", "id_b")
  }

  /** ANSI SQL for [[simhashPairs]] with `hasher = "md5"` — the full
    * pipeline (tokenize → distinct → hash → ±1 bit votes → 4×16-bit
    * banding → Hamming verify) in one statement DuckDB runs on the raw
    * `documents` table. The 64-bit hash value never materializes as an
    * integer (no unsigned-64 type in ANSI SQL): each bit is read straight
    * out of the MD5 hex string — bit `i` (LSB-first, matching the Scala
    * kernel's `(h >>> i) & 1`) lives in hex digit `16 - i/4` (1-based),
    * nibble bit `i % 4` — and the signature is carried as four 16-bit
    * chunk INTEGERs, which is exactly the banding decomposition anyway. */
  def simhashPairsSql(maxHamming: Int = 3): String = {
    val chunks = (0 until 4).map { c =>
      s"CAST(SUM(CASE WHEN v > 0 AND bit // 16 = $c THEN 1 << (bit % 16) ELSE 0 END) AS INTEGER) AS c$c"
    }.mkString(",\n             ")
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS tok
       |    FROM documents)
       |), th AS (
       |  SELECT doc_id, md5(tok) AS h FROM toks
       |), votes AS (
       |  SELECT doc_id, b.bit,
       |         SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, 16 - b.bit // 4, 1)) - 1)
       |                        >> (b.bit % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS bit) b
       |  GROUP BY doc_id, b.bit
       |), sig AS (
       |  SELECT doc_id,
       |         $chunks
       |  FROM votes GROUP BY doc_id
       |), banded AS (
       |  SELECT doc_id, c0, c1, c2, c3, i.i,
       |         CASE i.i WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS chunk
       |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |         bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1)) +
       |         bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.i = b.i AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |)
       |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
       |FROM pairs WHERE hamming <= $maxHamming
       |ORDER BY id_a, id_b""".stripMargin
  }

  // --- Semantic dedup (SemDeDup) ---------------------------------------

  /** Per-cell target size for the AUTO cluster count of [[semanticDedup]].
    * Semantic dedup's cost is the within-cell quadratic, n·κ for cell size
    * κ — so the right cell count is n/κ (fixed cell size, linear total
    * work), NOT the √n rule search uses (√n cells mean √n-sized cells and
    * n^1.5 pair work). κ=256: 32k float dots per cell, milliseconds per
    * task, and cells stay under [[Similarity.MaxCentroids]] up to
    * n = 2¹⁶·256 ≈ 16.8M vectors per model — past that, shard the corpus
    * or move the assignment to the IMI product cells (documented in
    * `Imi`), exactly as for search. */
  val SemDedupCellSize = 256

  /** Cluster count for semantic dedup over `n` vectors: `⌈n/κ⌉` clamped
    * to the broadcast-model cap. */
  def semanticCellsFor(n: Long): Int =
    math.min(Similarity.MaxCentroids.toLong,
      math.max(1L, math.ceil(n.toDouble / SemDedupCellSize).toLong)).toInt

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023,
    * arXiv:2303.09540): cluster the embedding corpus with k-means, then
    * call a vector a duplicate iff some SAME-CELL neighbor with a LOWER
    * vec_id has cosine ≥ `threshold`. The lowest-id member of every
    * near-duplicate chain survives, so the verdict is deterministic and
    * needs no connected components — clustering localizes the quadratic
    * (the whole point of SemDeDup: all-pairs cosine at corpus scale is
    * unpayable, within-cell it's n·κ).
    *
    * CHAIN-PRUNING SEMANTICS (deliberate deviation from keep-one-per-
    * group): chains prune transitively. In a chain A–B–C where
    * cos(A,B) ≥ τ and cos(B,C) ≥ τ but cos(A,C) < τ, B is dropped
    * (dup_of=A) and C is ALSO dropped (dup_of=B) even though B — C's
    * only qualifying mate — did not survive. The kept set is therefore
    * NOT a τ-cover of the dropped set: a dropped vector may have no
    * kept representative within τ (stricter pruning than reference
    * SemDeDup's one-survivor-per-duplicate-group). `dup_of` records the
    * qualifying EVIDENCE mate, not a surviving representative; resolve
    * chains via [[dupClusters]] when a surviving root per group is
    * needed. Pinned by SemanticDedupSpec's 3-chain case.
    *
    * Output: (vec_id, centroid_id, is_dup, dup_of) — `dup_of` is the
    * LOWEST qualifying lower-id cell-mate (NULL when kept).
    *
    * `nCentroids = 0` → [[semanticCellsFor]] (fixed cell SIZE — see
    * [[SemDedupCellSize]] for why search's √n rule is wrong here).
    * Explicit `nCentroids` trains with the SQL-expressible residue seed,
    * which is what keeps the oracle ([[semanticDedupSql]]) total. */
  def semanticDedup(spark: SparkSession, dir: String, nCentroids: Int = 0,
                    threshold: Double = 0.8): DataFrame = {
    import spark.implicits._
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cells = if (nCentroids == 0) semanticCellsFor(base.count()) else nCentroids
    val cents = Similarity.trainedCentroidArrays(base, cells, Similarity.LloydIters,
      Similarity.resolveSeed(Similarity.DefaultSeed, nCentroids == 0, cells))
    val assigned = base.as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, Similarity.nearestCell(v, cents)._1.toLong, v, Similarity.normP(v)) }
      .toDF("vec_id", "cid", "embedding", "nrm")
    semanticVerdict(assigned, threshold)
  }

  /** [[semanticDedup]] through a PERSISTENT [[IvfIndex]] — the 100 TB
    * shape: the stored assignment relation is bucketed by `cid` and
    * already carries (embedding, nrm), so the within-cell pair join is
    * bucket-local (both sides share the bucketing — NO Exchange on
    * either input, pinned in SemanticDedupSpec) and the verdict is one
    * scan + one tiny aggregate. Build once, re-verdict any time the
    * threshold moves, without re-clustering. Must equal [[semanticDedup]]
    * with the index's cell count exactly — same oracle SQL. */
  def semanticDedupIndexed(spark: SparkSession, tag: String,
                           threshold: Double = 0.8,
                           ordered: Boolean = true): DataFrame = {
    IndexCanary.check(spark, IvfIndex.modelTable(tag), IvfIndex.assignTable(tag))
    spark.catalog.refreshTable(IvfIndex.assignTable(tag))
    semanticVerdict(
      spark.table(IvfIndex.assignTable(tag))
        .select(col("vec_id"), col("cid").cast("long").as("cid"),
          col("embedding"), col("nrm")),
      threshold, ordered)
  }

  /** Shared verdict kernel over an assignment relation
    * (vec_id, cid, embedding, nrm): within-cell lower-id pairs, codegen
    * cosine ([[graft.plans.DotFloat]] with the precomputed norms — the
    * same scoring discipline as `IvfIndex.search`, ulp-identical to the
    * oracle's list-fold), min qualifying cell-mate per vector.
    *
    * `ordered = true` appends a total `ORDER BY vec_id` — required by the
    * oracle contract (deterministic output), but a corpus-width exchange a
    * 10⁹-vector deployment re-verdict does not need: pass `false` there
    * (the verdict itself is per-cell local either way). */
  private[graft] def semanticVerdict(assigned: DataFrame, threshold: Double,
                                     ordered: Boolean = true): DataFrame = {
    val spark = assigned.sparkSession
    graft.plans.DotFloat.ensureRegistered(spark)
    val lhs = assigned.select(col("cid"), col("vec_id").as("id_i"),
      col("embedding").as("va"), col("nrm").as("na"))
    val rhs = assigned.select(col("cid"), col("vec_id").as("id_j"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val dup = lhs.join(rhs, "cid")
      .filter(col("id_j") < col("id_i"))
      .filter(expr(s"${graft.plans.DotFloat.FuncName}(va, vb)")
        / (col("na") * col("nb")) >= threshold)
      .groupBy("id_i").agg(min("id_j").as("dup_of"))
    val verdict = assigned.select(col("vec_id"), col("cid"))
      .join(dup, assigned("vec_id") === dup("id_i"), "left")
      .select(col("vec_id"), col("cid").as("centroid_id"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"))
    if (ordered) verdict.orderBy("vec_id") else verdict
  }

  /** The verdict tail every semantic-dedup oracle shares, given a
    * preceding `assign(vec_id, cid)` CTE: within-cell lower-id pairs over
    * exact cosine, min qualifying neighbor, LEFT-join verdict. */
  private def semanticVerdictSql(threshold: Double): String = s"""pairs AS (
  SELECT ai.vec_id AS id_i, aj.vec_id AS id_j
  FROM assign ai
  JOIN assign aj ON aj.cid = ai.cid AND aj.vec_id < ai.vec_id
  JOIN embeddings a ON a.vec_id = ai.vec_id
  JOIN embeddings b ON b.vec_id = aj.vec_id
  WHERE ${Similarity.CosineSqlExpr} >= $threshold
), dup AS (
  SELECT id_i, MIN(id_j) AS dup_of FROM pairs GROUP BY id_i
)
SELECT s.vec_id, CAST(s.cid AS BIGINT) AS centroid_id,
       d.dup_of IS NOT NULL AS is_dup, d.dup_of
FROM assign s LEFT JOIN dup d ON d.id_i = s.vec_id
ORDER BY s.vec_id"""

  /** ANSI oracle for [[semanticDedup]] with explicit `nCentroids`: the
    * unrolled Lloyd training chain ([[Similarity.centroidCtes]] — the
    * same CTEs every `q_ivf_*` oracle pins), nearest-cell assignment,
    * then the shared verdict tail. Serves [[semanticDedupIndexed]]
    * unchanged — the stored path must reproduce the recompute path
    * bit-for-bit. */
  def semanticDedupSql(nCentroids: Int = 8, threshold: Double = 0.8,
                       dim: Int = Similarity.Dim,
                       iters: Int = Similarity.LloydIters): String = s"""
WITH ${Similarity.centroidCtes(nCentroids, dim, iters)}, dist AS (
  SELECT e.vec_id, c.cid,
    list_sum(list_transform(generate_series(1, $dim),
      i -> (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]) *
           (CAST(e.embedding[i] AS DOUBLE) - c.centroid[i]))) AS dist2
  FROM embeddings e CROSS JOIN cent c
), rk AS (
  SELECT vec_id, cid,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist2 ASC, cid ASC) AS r
  FROM dist
), assign AS (
  SELECT vec_id, cid FROM rk WHERE r = 1
), ${semanticVerdictSql(threshold)}
""".trim

  /** [[semanticDedup]] with the ASSIGNMENT coming from a persistent
    * [[ImiIndex]] — semantic dedup past the flat broadcast-model cap.
    * Why it matters at depth: the κ-rule cell count is n/256, and flat
    * k-means training costs n·cells distance evals per Lloyd round —
    * quadratic in n under the rule (at 2M vectors: 7,813 cells, ~45×
    * the IMI's training work; past 2¹⁶ cells the flat model cannot
    * broadcast AT ALL). The IMI trains two k1-cell half-quantizers
    * (2·k1 ≈ 2·√cells half-distances per vector per round) and its
    * product cells carry the same verdict — same bucket-local pair
    * join, same lowest-id-survivor rule, and the deep-scale probe
    * measured its per-cell recall tax at zero on this corpus family.
    * Must equal the in-memory [[Imi.assign]]-based verdict exactly —
    * the DuckDB oracle composes [[Imi.assignCteSql]] with the shared
    * verdict tail. */
  def semanticDedupImi(spark: SparkSession, tag: String,
                       threshold: Double = 0.8,
                       ordered: Boolean = true): DataFrame = {
    IndexCanary.check(spark, ImiIndex.modelTable(tag), ImiIndex.assignTable(tag))
    spark.catalog.refreshTable(ImiIndex.assignTable(tag))
    semanticVerdict(
      spark.table(ImiIndex.assignTable(tag))
        .select(col("vec_id"), col("cell_id").as("cid"),
          col("embedding"), col("nrm")),
      threshold, ordered)
  }

  /** ANSI oracle for [[semanticDedupImi]]: [[Imi.assignCteSql]]'s product
    * cell assignment + the shared verdict tail. */
  def semanticDedupImiSql(k1: Int = 8, threshold: Double = 0.8,
                          iters: Int = Similarity.LloydIters): String = s"""
WITH ${Imi.assignCteSql(k1, iters)}, ${semanticVerdictSql(threshold)}
""".trim
}
