package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders

/** Bloom-filter deduplication — the constant-memory membership gate the
  * Dolma pipeline runs for document- and paragraph-level exact dedup
  * (Soldaini et al. 2024, arXiv:2402.00159 §4: a Bloom filter over
  * document hashes; the classic structure is Bloom 1970). Where
  * [[Dedup.exact]] shuffles the corpus by content hash and
  * [[ShingleIndex]] keeps a bucketed catalog index, the Bloom gate keeps
  * ONE fixed-size bit array: membership costs k hash probes and zero
  * shuffle, at the price of a tunable false-positive rate and no
  * deletions.
  *
  * Hash family: Kirsch–Mitzenmacher double hashing from ONE md5 digest
  * per text — `pos_i = (h1 + i·h2) % m` with h1/h2 the digest's two
  * 52-bit hex halves (see [[positions]]) — engine-portable, so the
  * DuckDB oracle replays every bit exactly and the false-positive SET
  * (not just its rate) is deterministic and checked.
  *
  * Scale shape (100 TB): the build is one narrow scan aggregated into an
  * `m/64`-long bit array — the typed [[BloomDedup.BitsetAgg]] partials
  * are map-side-combinable via bitwise OR and FIXED-SIZE (m/8 bytes,
  * e.g. 16 KiB at m=2^17) regardless of corpus size, the same
  * dim-bounded-partial discipline as [[QualityClassifier]] training. The
  * gate broadcasts the filter and probes it per document — zero shuffle,
  * so admission scales linearly with executors. Sizing: for n inserted
  * keys and target false-positive rate p, m ≈ −n·ln p / (ln 2)² and
  * k ≈ (m/n)·ln 2; at web scale (10¹⁰ documents, p=10⁻³) that is a
  * ~17 GB filter — past comfortable broadcast range. [[gateRelational]]
  * is the memory-flat gate for that direction (equi-join against the
  * stored words, executors never hold the filter), with the honest
  * bound stated on the method: the position family is Int-m (≤ 2^31
  * bits) and the build is driver-sided, so the full 17 GB regime still
  * needs the Long-m distributed build named there. The broadcast gate
  * stays the default wherever m/8 bytes broadcast comfortably. No false
  * negatives ever: a true duplicate is always caught (spec-pinned).
  *
  * Reference framing: the reference pipeline has no dedup stage at all
  * (SURVEY §2); this sits beside [[Dedup]] as the streaming-friendly,
  * fixed-memory tier of the dedup family. */
object BloomDedup {

  /** Default filter geometry for the oracled corpus query: 2^16 bits /
    * 5 probes holds the sf0.01 build (~1.3k insertions) at fill ≈ 2%,
    * i.e. a PROPERLY sized filter — false positives are demonstrated
    * separately with a deliberately undersized filter (spec + probe),
    * not by mis-sizing the default. */
  val DefaultBits: Int = 1 << 16
  val DefaultHashes: Int = 5

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** 52-bit md5 hash — the shared [[EngineHash]] definition. */
  private def h52(c: Column): Column = EngineHash.h52(c)

  /** The k bit positions of a text by Kirsch–Mitzenmacher double hashing
    * (Kirsch & Mitzenmacher 2006, "Less hashing, same performance"):
    * ONE md5 digest per document yields two independent 52-bit halves
    * h1 (hex chars 1–13) and h2 (chars 14–26), and
    * `pos_i = (h1 + i·h2) % m` for i ∈ [0, k) — asymptotically the same
    * false-positive rate as k independent hashes at a fifth of the
    * hashing cost (md5 over the full text is the dominant per-doc work;
    * the probe's FPR-vs-fill^k table re-verifies the family empirically).
    * No overflow: h1 + k·h2 < 2^52 + 16·2^52 < 2^57. Null texts hash as
    * the empty string (the repo-wide coalesce convention).
    *
    * Deliberately an explicit `array(...)` of k expressions, NOT a
    * `transform(sequence(0, k−1), i → …)` lambda: k is a driver-side Int
    * so unrolling is free, the unrolled form stays in plain whole-stage
    * codegen (no lambda-variable boxing), and — found the hard way — a
    * HOF whose lambda captures a column derived from BOTH sides of a
    * join trips a Catalyst mis-pushdown in Spark 4.1.2: the filter's
    * outer reference is dropped from the predicate's reference set, the
    * predicate is pushed below the join onto the side that cannot
    * resolve it, and execution dies with INTERNAL_ERROR_ATTRIBUTE_NOT_
    * FOUND (pinned by BloomDedupSpec's join-derived-text case). */
  def positions(text: Column, k: Int = DefaultHashes,
                m: Long = DefaultBits.toLong): Column = {
    // Overflow bound on the K-M arithmetic (ADVICE r12): h1 + i*h2 with
    // 52-bit halves needs k*2^52 < 2^63, i.e. k < 2^11 — beyond that the
    // sum wraps negative and the % yields negative positions, whose
    // word_idx rows would collide with persistRelational's -1/-2 geometry
    // sentinels. 1024 (= 2^62 headroom) is far past any useful k (the
    // FPR optimum is k = m/n·ln2, single digits in every shipped regime).
    require(k >= 1 && k <= 1024,
      s"k=$k outside [1, 1024] (k*2^52 must not overflow Long)")
    val hex = md5(coalesce(text, lit("")))
    val h1 = conv(substring(hex, 1, 13), 16, 10).cast("long")
    val h2 = conv(substring(hex, 14, 13), 16, 10).cast("long")
    // m is a Long (round 12): the relational tier's filters legitimately
    // exceed 2^31 bits — position arithmetic was always Long-typed, only
    // the modulus parameter was narrower than the design
    array((0 until k).map(i => (h1 + lit(i.toLong) * h2) % m): _*)
  }

  case class BloomWords(words: Array[Long])

  /** Bit positions → packed bit array, as a typed aggregate: partials are
    * fixed at m/64 longs and merge by bitwise OR, so the build is ONE
    * map-side-combinable pass whatever the corpus size. Kept as the
    * position-level EXECUTABLE REFERENCE for [[HexBitsetAgg]] (the
    * shipped build) — BloomDedupSpec pins the two builds bit-identical. */
  class BitsetAgg(m: Int) extends Aggregator[Long, BloomWords, BloomWords] {
    private val words = (m + 63) >>> 6
    override def zero: BloomWords = BloomWords(new Array[Long](words))
    override def reduce(b: BloomWords, pos: Long): BloomWords = {
      b.words((pos >>> 6).toInt) |= 1L << (pos & 63)
      b
    }
    override def merge(a: BloomWords, b: BloomWords): BloomWords = {
      var i = 0
      while (i < words) { a.words(i) |= b.words(i); i += 1 }
      a
    }
    override def finish(r: BloomWords): BloomWords = r
    override def bufferEncoder = Encoders.product[BloomWords]
    override def outputEncoder = Encoders.product[BloomWords]
  }

  /** [[BitsetAgg]] over the md5 hex digest directly: each reduce call
    * parses the two 52-bit halves and sets all k K-M bits — one input
    * row per DOCUMENT instead of k exploded position rows, and no conv
    * expressions on the columnar side (the gate's hex-scalar discipline
    * applied to the build). */
  class HexBitsetAgg(m: Int, k: Int) extends Aggregator[String, BloomWords, BloomWords] {
    private val words = (m + 63) >>> 6
    override def zero: BloomWords = BloomWords(new Array[Long](words))
    override def reduce(b: BloomWords, hex: String): BloomWords = {
      val h1 = java.lang.Long.parseLong(hex.substring(0, 13), 16)
      val h2 = java.lang.Long.parseLong(hex.substring(13, 26), 16)
      var i = 0
      while (i < k) {
        val p = (h1 + i * h2) % m
        b.words((p >>> 6).toInt) |= 1L << (p & 63)
        i += 1
      }
      b
    }
    override def merge(a: BloomWords, b: BloomWords): BloomWords = {
      var i = 0
      while (i < words) { a.words(i) |= b.words(i); i += 1 }
      a
    }
    override def finish(r: BloomWords): BloomWords = r
    override def bufferEncoder = Encoders.product[BloomWords]
    override def outputEncoder = Encoders.product[BloomWords]
  }

  /** Build the filter over `corpus.text`: returns the packed bit array
    * (driver-side, m/8 bytes — model-sized, like the centroid and NB
    * models; broadcast it to gate). One md5 per document on the columnar
    * side; position arithmetic inside the aggregate. */
  def build(spark: SparkSession, corpus: DataFrame, k: Int = DefaultHashes,
            m: Int = DefaultBits): Array[Long] = {
    import spark.implicits._
    val agg = new HexBitsetAgg(m, k).toColumn.name("bloom")
    corpus
      .select(md5(coalesce(col("text"), lit(""))).as("hex"))
      .as[String]
      .select(agg)
      .collect()(0).words
  }

  /** Gate `arrivals` against a built filter: adds `bloom_dup` — true iff
    * ALL k probed bits are set (possibly-seen; definite-new otherwise).
    * The filter ships as a broadcast variable; the columnar side computes
    * ONE md5 per document and the UDF parses the two 52-bit halves and
    * runs the k-probe loop in JVM — zero shuffle.
    *
    * Why the UDF takes the hex digest and not the [[positions]] array: UDF
    * input projections are evaluated WITHOUT common-subexpression elimination,
    * so handing the UDF the position-array expression re-evaluates the md5
    * under every array element (measured 8–9 s vs 5 s for k independent hashes
    * vs 2 s for this form, at 500k docs — BloomHashAB, a probe last in commit
    * 7edabe5). Rule: feed UDFs pre-reduced scalars; CSE does not reach what a
    * UDF consumes. The K-M arithmetic is duplicated here in JVM form — a
    * divergence from [[positions]] would surface as false NEGATIVES, which the
    * spec and the scale probe both pin. */
  def gate(spark: SparkSession, arrivals: DataFrame, filter: Array[Long],
           k: Int = DefaultHashes, m: Int = DefaultBits): DataFrame = {
    val bc = spark.sparkContext.broadcast(filter)
    val allSetHex = udf { hex: String =>
      val h1 = java.lang.Long.parseLong(hex.substring(0, 13), 16)
      val h2 = java.lang.Long.parseLong(hex.substring(13, 26), 16)
      var i = 0
      var all = true
      while (all && i < k) {
        val p = (h1 + i * h2) % m
        all = (bc.value((p >>> 6).toInt) & (1L << (p & 63))) != 0
        i += 1
      }
      all
    }
    arrivals.withColumn("bloom_dup",
      allSetHex(md5(coalesce(col("text"), lit("")))))
  }

  /** Oracled end-to-end corpus query: build the filter on the md5-fold-0
    * half of the corpus ("seen"), then gate EVERY document — fold-0
    * arrivals are duplicates by construction (their own text is in the
    * filter), fold-1 arrivals are fresh — so the checked relation
    * exercises both verdict polarities, and the EXACT verdict rides
    * beside the Bloom verdict so the false-positive set is part of what
    * the oracle hashes: (doc_id, bloom_dup, exact_dup, false_positive).
    * No-false-negative invariant: exact_dup ⟹ bloom_dup, row by row. */
  def query(spark: SparkSession, dir: String, k: Int = DefaultHashes,
            m: Int = DefaultBits): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        (h52(col("doc_id").cast("string")) % 2).as("fold"))
    val seen = d.filter(col("fold") === 0)
    val filter = build(spark, seen, k, m)
    val seenTexts = seen.select(col("text")).distinct()
      .withColumn("seen_exact", lit(true))
    gate(spark, d, filter, k, m)
      .join(seenTexts, Seq("text"), "left")
      .select(col("doc_id"), col("bloom_dup"),
        coalesce(col("seen_exact"), lit(false)).as("exact_dup"))
      .withColumn("false_positive", col("bloom_dup") && !col("exact_dup"))
      .orderBy("doc_id")
  }

  /** The md5-52 hash in DuckDB — the shared [[EngineHash]] mirror. */
  private def h52Sql(e: String): String = EngineHash.h52Sql(e)

  /** A 52-bit slice of an already-computed md5 hex column, starting at
    * 1-based hex offset `off` — the SQL mirror of the double-hashing
    * halves. Inner lambda variable `hi` (see [[h52Sql]]). */
  private def hexSliceSql(hexCol: String, off: Int): String =
    s"""CAST(list_sum(list_transform(generate_series(1, 13),
      hi -> (strpos('0123456789abcdef', substr($hexCol, ${off - 1} + hi, 1)) - 1)
           * (1::BIGINT << (4 * (13 - hi))))) AS BIGINT)"""

  /** DuckDB mirror of [[query]]: the filter relation is the DISTINCT set
    * of fold-0 bit positions; `bloom_dup` = every probed position found
    * (exactly the semantics of the packed bit array, including the
    * deterministic false positives). */
  def querySql(k: Int = DefaultHashes, m: Long = DefaultBits.toLong): String = s"""
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS text,
    ${h52Sql("doc_id::VARCHAR")} % 2 AS fold
  FROM documents
), dh AS (
  SELECT fold, doc_id,
    ${hexSliceSql("hex", 1)} AS h1,
    ${hexSliceSql("hex", 14)} AS h2
  FROM (SELECT fold, doc_id, md5(text) AS hex FROM d) hx
), pos AS (
  SELECT fold, doc_id,
    unnest(list_transform(generate_series(0, ${k - 1}),
      i -> (h1 + i * h2) % $m)) AS p
  FROM dh
), seen_bits AS (
  SELECT DISTINCT p FROM pos WHERE fold = 0
), hit AS (
  SELECT a.doc_id,
    (min(CASE WHEN s.p IS NULL THEN 0 ELSE 1 END) = 1) AS bloom_dup
  FROM (SELECT doc_id, p FROM pos) a
  LEFT JOIN seen_bits s USING (p)
  GROUP BY a.doc_id
), seen_texts AS (
  SELECT DISTINCT text FROM d WHERE fold = 0
)
SELECT d.doc_id, hit.bloom_dup,
  (st.text IS NOT NULL) AS exact_dup,
  (hit.bloom_dup AND st.text IS NULL) AS false_positive
FROM d
JOIN hit USING (doc_id)
LEFT JOIN seen_texts st USING (text)
ORDER BY d.doc_id
"""

  // ---- persistence: the filter as a catalog table ----------------------

  def filterTable(tag: String): String = s"${tag}_bloom"

  /** Longs per persisted chunk — 8192 longs = 64 KiB of bits per row, so
    * a 16 MiB (m=2^27) filter is ~256 rows. The row-per-word layout this
    * replaced made every load/absorb an O(m)-ROW job: at m=2^27 the
    * 2M-row collect + rewrite dominated the streaming gate's batch wall
    * (16–19 s/batch measured at the 5M-doc corpus — StreamBench
    * bloomgate tier), for what is physically a 16 MiB read/write. */
  private val ChunkLongs = 8192

  /** Persist a filter: the bit words land as chunked BINARY rows of ONE
    * `saveAsTable` together with the geometry (kind ∈ {chunk, m, k}) — a
    * filter can never exist without its geometry (the torn-model
    * discipline of [[QualityClassifier.persist]]). Writers serialize on
    * the index lease. */
  def persist(spark: SparkSession, tag: String, filter: Array[Long],
              m: Int, k: Int): Unit =
    LeaseLock.withTableLock(spark, tag) {
      import spark.implicits._
      // fresh-catalog/stale-warehouse reconciliation — marker-gated, see
      // [[WarehouseTables]] for the mechanism and its assumption boundary
      val t = filterTable(tag)
      WarehouseTables.writeManaged(spark, t)({
        val chunks = filter.grouped(ChunkLongs).zipWithIndex.map { case (ws, i) =>
          val bb = java.nio.ByteBuffer.allocate(ws.length * 8)
          bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
          ws.foreach(bb.putLong)
          ("chunk", i, 0L, bb.array())
        }.toSeq
        val meta = Seq(("m", -1, m.toLong, Array.empty[Byte]),
          ("k", -1, k.toLong, Array.empty[Byte]))
        (chunks ++ meta).toDF("kind", "idx", "num", "bytes")
      })(_.write.mode("overwrite").saveAsTable(t))
    }

  /** Load a persisted filter: (words, m, k). Loud on torn state. */
  def load(spark: SparkSession, tag: String): (Array[Long], Int, Int) = {
    val t = spark.table(filterTable(tag))
    def meta(kind: String): Long = {
      val rows = t.filter(col("kind") === kind).select("num").collect()
      require(rows.length == 1,
        s"${filterTable(tag)}: expected exactly one $kind row, found ${rows.length}")
      rows(0).getLong(0)
    }
    val m = meta("m").toInt
    val k = meta("k").toInt
    val nWords = (m + 63) >>> 6
    val chunks = t.filter(col("kind") === "chunk")
      .select("idx", "bytes").collect()
    val nChunks = (nWords + ChunkLongs - 1) / ChunkLongs
    // the idx SET must be exactly 0..n-1 — a count-only check would let a
    // duplicated idx plus a missing one load a silently zeroed region
    // (false negatives), the opposite of "loud on torn state"
    require(chunks.map(_.getInt(0)).toSet == (0 until nChunks).toSet,
      s"${filterTable(tag)}: chunk idx set is not 0..${nChunks - 1} for m=$m — torn filter table")
    val arr = new Array[Long](nWords)
    chunks.foreach { r =>
      val base = r.getInt(0) * ChunkLongs
      val bb = java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]](1))
      bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = base
      while (bb.remaining() >= 8) { arr(i) = bb.getLong; i += 1 }
    }
    (arr, m, k)
  }

  /** Load only the geometry of a persisted filter — no chunk collect. */
  def loadGeometry(spark: SparkSession, tag: String): (Int, Int) = {
    val t = spark.table(filterTable(tag))
    def meta(kind: String): Long = {
      val rows = t.filter(col("kind") === kind).select("num").collect()
      require(rows.length == 1,
        s"${filterTable(tag)}: expected exactly one $kind row, found ${rows.length}")
      rows(0).getLong(0)
    }
    (meta("m").toInt, meta("k").toInt)
  }

  /** The persisted filter as a (word_idx, bits) relation, derived on the
    * fly from the chunked storage — the distributed view of the bit
    * array for [[gateRelational]]. */
  def wordsRelation(spark: SparkSession, tag: String): DataFrame = {
    val toLongs = udf { bytes: Array[Byte] =>
      val bb = java.nio.ByteBuffer.wrap(bytes)
      bb.order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Long](bytes.length / 8)
      var i = 0
      while (i < out.length) { out(i) = bb.getLong; i += 1 }
      out
    }
    spark.table(filterTable(tag)).filter(col("kind") === "chunk")
      .select(col("idx"), posexplode(toLongs(col("bytes"))))
      .select((col("idx").cast("long") * ChunkLongs + col("pos")).as("word_idx"),
        col("col").as("bits"))
      .filter(col("bits") =!= 0L) // absent words are misses either way
  }

  /** The MEMORY-FLAT gate tier: membership as an equi-join of the
    * arrivals' (position → word, mask) rows against [[wordsRelation]] —
    * executors never hold the filter ("sharding" the filter is exactly
    * Spark partitioning of the words relation, and bucketing the stored
    * table by word_idx would remove the filter-side shuffle). Cost per
    * gate: an O(batch·k)-row shuffle instead of [[gate]]'s zero — pay it
    * when per-executor copies of the m/8-byte broadcast are real memory
    * pressure. Identical verdicts to [[gate]] (same K-M family;
    * spec-pinned row-for-row, and the oracle replays this tier against
    * the same SQL as the broadcast tier).
    *
    * Honest implementation bound: m is Int across the family (≤ 2^31
    * bits = 256 MiB), and [[build]]/[[absorb]] still materialize the
    * array on the driver — so the 17 GB-at-10^10-keys example in the
    * object scaladoc needs, in addition to this gate, a Long-m position
    * family and a distributed build (groupBy(word_idx).agg(bit_or) into
    * sparse chunks). The GATE side of that path is what this method
    * already is; the build side is stated future work, not shipped. */
  def gateRelational(spark: SparkSession, tag: String,
                     arrivals: DataFrame): DataFrame = {
    val (m, k) = loadGeometry(spark, tag)
    gateRelationalOn(arrivals, wordsRelation(spark, tag), m, k)
  }

  /** [[gateRelational]]'s core against ANY words relation
    * `(word_idx, bits)` — the persisted-table form above, or an in-session
    * local relation ([[queryRelational]], which must not leave warehouse
    * state behind). */
  def gateRelationalOn(arrivals: DataFrame, words: DataFrame,
                       m: Long, k: Int): DataFrame = {
    require(!arrivals.columns.contains("__t"),
      "gateRelational reserves the column name __t")
    // verdicts key on the DISTINCT text itself — the verdict is a pure
    // function of the text, so no synthetic row identity is needed (a
    // previous concat-hash row id could collide across rows and merge
    // probe sets — a false-negative hazard in a module whose contract is
    // "no false negatives ever"), and repeated texts probe once
    val norm = arrivals.withColumn("__t", coalesce(col("text"), lit("")))
    val pos = norm.select("__t").distinct()
      .select(col("__t"), explode(positions(col("__t"), k, m)).as("p"))
      .select(col("__t"), shiftright(col("p"), 6).as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("mask"))
    val hits = pos
      .join(words, Seq("word_idx"), "left")
      .groupBy("__t")
      .agg(min(when((col("bits").bitwiseAND(col("mask"))) =!= 0L, 1)
        .otherwise(0)).as("allhit"))
    norm.join(hits, "__t")
      .withColumn("bloom_dup", col("allhit") === 1)
      .drop("__t", "allhit")
  }

  /** [[query]] routed through the relational tier — same oracle SQL as
    * the broadcast tier's query (the tiers are verdict-identical by
    * construction; this pins it cross-engine). */
  def queryRelational(spark: SparkSession, dir: String,
                      k: Int = DefaultHashes, m: Int = DefaultBits): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        (h52(col("doc_id").cast("string")) % 2).as("fold"))
    val seen = d.filter(col("fold") === 0)
    // ADVICE r11: this is a read-only oracle query — the filter words go
    // through an in-session LOCAL relation (1,024 longs at the default
    // geometry), never a warehouse table, so the query is idempotent and
    // leaves zero state. The persisted-table tier stays what
    // [[gateRelational]]/[[persist]] exercise (oracled by the streaming
    // gate specs and q_bloom_dedup's deployment path).
    import spark.implicits._
    val words = build(spark, seen, k, m).toSeq.zipWithIndex
      .collect { case (bits, i) if bits != 0L => (i.toLong, bits) }
      .toDF("word_idx", "bits")
    val seenTexts = seen.select(col("text")).distinct()
      .withColumn("seen_exact", lit(true))
    gateRelationalOn(d.select("doc_id", "text"), words, m, k)
      .join(seenTexts, Seq("text"), "left")
      .select(col("doc_id"), col("bloom_dup"),
        coalesce(col("seen_exact"), lit(false)).as("exact_dup"))
      .withColumn("false_positive", col("bloom_dup") && !col("exact_dup"))
      .orderBy("doc_id")
  }

  /** Fold a new corpus into a persisted filter (the streaming-ingestion
    * shape: gate, then admit + absorb): build over `corpus` with the
    * STORED geometry, OR into the stored words, rewrite under the lease.
    * Bloom filters union losslessly by OR — the result is identical to a
    * fresh build over the concatenated corpora (spec-pinned). */
  def absorb(spark: SparkSession, tag: String, corpus: DataFrame): Unit =
    LeaseLock.withTableLock(spark, tag) {
      val (words, m, k) = load(spark, tag)
      val add = build(spark, corpus, k, m)
      var i = 0
      while (i < words.length) { words(i) |= add(i); i += 1 }
      persist(spark, tag, words, m, k)
    }

  // ---- Long-m distributed tier (round 12) -------------------------------
  //
  // The SCALING r11 boundary, closed: the broadcast tier's build/absorb
  // materialize the m/8-byte array on the driver, capping m at Int bit
  // positions and the driver's memory. The 10^10-key / 1e-3-FPR regime
  // (~17 GB of bits) needs a build that never materializes anywhere:
  // positions → (word_idx, set-bit mask) rows → groupBy(word_idx) with a
  // bit_or partial aggregate → the SPARSE (word_idx, bits) relation the
  // relational gate already consumes. Map-side combine makes the shuffle
  // at most min(corpus·k, m/64) rows; the filter never exists as one
  // object. Persisted BUCKETED by word_idx so the gate-side join prunes
  // its Exchange to the probe side only.

  def relTable(tag: String): String = s"${tag}_bloomrel"

  /** Distributed build: the filter as a sparse (word_idx, bits) relation —
    * no driver materialization, any m up to 2^57 (the K–M arithmetic's
    * 52-bit-halves overflow bound). */
  def buildRelational(corpus: DataFrame, k: Int = DefaultHashes,
                      m: Long = DefaultBits.toLong): DataFrame = {
    require(m > 0 && m < (1L << 57), s"m=$m outside the K-M family's bound")
    corpus
      .select(explode(positions(col("text"), k, m)).as("p"))
      .select(shiftright(col("p"), 6).as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("mask"))
      .groupBy("word_idx").agg(expr("bit_or(mask)").as("bits"))
  }

  /** Persist a relational filter as a word_idx-BUCKETED managed table
    * (geometry rides as sentinel rows word_idx −1 → m, −2 → k — the
    * one-write torn-proof discipline; data rows are always ≥ 0). */
  def persistRelational(spark: SparkSession, tag: String, words: DataFrame,
                        m: Long, k: Int, buckets: Int = 32): Unit =
    LeaseLock.withTableLock(spark, tag) {
      import spark.implicits._
      WarehouseTables.writeManaged(spark, relTable(tag))({
        val meta = Seq((-1L, m), (-2L, k.toLong)).toDF("word_idx", "bits")
        words.select(col("word_idx").cast("long"), col("bits").cast("long"))
          .unionAll(meta)
      })(_.write.mode("overwrite").format("parquet")
        .bucketBy(buckets, "word_idx").sortBy("word_idx")
        .saveAsTable(relTable(tag)))
    }

  /** Load a relational filter: (words relation, m, k). Loud on torn
    * state. The words relation is the live bucketed table — candidates
    * join against it with the filter-side Exchange pruned. */
  def loadRelational(spark: SparkSession, tag: String): (DataFrame, Long, Int) = {
    val t = spark.table(relTable(tag))
    def meta(idx: Long, name: String): Long = {
      val rows = t.filter(col("word_idx") === idx).select("bits").collect()
      require(rows.length == 1,
        s"${relTable(tag)}: expected exactly one $name row, found ${rows.length}")
      rows(0).getLong(0)
    }
    (t.filter(col("word_idx") >= 0), meta(-1L, "m"), meta(-2L, "k").toInt)
  }

  /** Gate arrivals against a PERSISTED relational filter (the stored
    * Long-m deployment shape). */
  def gateRelationalStored(spark: SparkSession, tag: String,
                           arrivals: DataFrame): DataFrame = {
    val (words, m, k) = loadRelational(spark, tag)
    gateRelationalOn(arrivals, words, m, k)
  }

  /** Fold a new corpus into a persisted relational filter: sparse OR by
    * word_idx union + re-aggregate, rewrite under the lease — the same
    * lossless-union property as [[absorb]], never materialized. Rewrites
    * through a staging relation because the overwrite reads its own
    * table. */
  def absorbRelational(spark: SparkSession, tag: String,
                       corpus: DataFrame): Unit =
    LeaseLock.withTableLock(spark, tag) {
      val (words, m, k) = loadRelational(spark, tag)
      val merged = words.unionAll(buildRelational(corpus, k, m))
        .groupBy("word_idx").agg(expr("bit_or(bits)").as("bits"))
      // materialize before the overwrite drops the source files
      val staged = merged.localCheckpoint(true)
      persistRelational(spark, tag, staged, m, k)
      staged.unpersist()
    }

  /** Oracled Long-m query (`q_bloom_distributed`): the exact
    * [[queryRelational]] protocol with the filter built DISTRIBUTED at
    * m = 2^33 — a modulus no Int-position build can represent, so the
    * Long arithmetic is what the oracle hashes. Same relation shape,
    * same SQL template with the Long m. No persistence: the words
    * relation flows straight into the gate (read-only oracle query). */
  def queryDistributed(spark: SparkSession, dir: String,
                       k: Int = DefaultHashes,
                       m: Long = 1L << 33): DataFrame = {
    val d = docs(spark, dir)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
        (h52(col("doc_id").cast("string")) % 2).as("fold"))
    val seen = d.filter(col("fold") === 0)
    val words = buildRelational(seen.select("text"), k, m)
    val seenTexts = seen.select(col("text")).distinct()
      .withColumn("seen_exact", lit(true))
    gateRelationalOn(d.select("doc_id", "text"), words, m, k)
      .join(seenTexts, Seq("text"), "left")
      .select(col("doc_id"), col("bloom_dup"),
        coalesce(col("seen_exact"), lit(false)).as("exact_dup"))
      .withColumn("false_positive", col("bloom_dup") && !col("exact_dup"))
      .orderBy("doc_id")
  }
}
