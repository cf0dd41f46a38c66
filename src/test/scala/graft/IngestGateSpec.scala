package graft

import graft.streaming.IngestGate
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The streaming corpus-ingestion gate end-to-end over two micro-batches:
  * corpus dups dropped, within-batch copies collapsed, a doc ADMITTED in
  * batch 0 must gate batch 1 (the landing zone is the ledger), near-dups
  * dropped with the corpus match in the receipt. */
class IngestGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("two-batch ingest: landing converges, receipts name every arrival") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val corpusDir = s"$root/corpus"
    val landing = s"$root/landing"
    val receiptsDir = s"$root/receipts"
    val ckpt = s"$root/ckpt"
    Seq((1L, "a b c d e f g"), (2L, "x y z w q r s"))
      .toDF("doc_id", "text").write.parquet(s"$corpusDir/documents.parquet")

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("doc_id", "text")
    mem.addData(
      (10L, "a b c d e f g"), // exact dup of corpus doc 1 → drop
      (11L, "fresh new document content entirely unlike others"), // admit
      (12L, "fresh new document content entirely unlike others")) // within-batch copy of 11 → drop
    IngestGate.start(corpusDir, stream, landing, receiptsDir, ckpt)
      .awaitTermination()

    val landed1 = spark.read.parquet(landing).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(landed1.toSeq == Seq(11L), s"batch-0 landing: ${landed1.toSeq}")

    mem.addData(
      (20L, "fresh new document content entirely unlike others"), // exact dup of LANDED 11 → drop
      (21L, "a b c d e f h"), // near dup of corpus doc 1 (j = 2/3) → drop
      (22L, "another wholly distinct body of text to admit"))     // admit
    IngestGate.start(corpusDir, stream, landing, receiptsDir, ckpt)
      .awaitTermination()

    val landed2 = spark.read.parquet(landing).select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(landed2.toSeq == Seq(11L, 22L), s"batch-1 landing: ${landed2.toSeq}")

    val receipts = spark.read.parquet(receiptsDir)
      .collect().map(r => r.getLong(0) -> (
        (r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          r.getBoolean(5), r.getLong(6)))).toMap
    assert(receipts.size == 6, s"one receipt per arrival: $receipts")
    val (e10, d10, dup10, b0) = receipts(10L)
    assert(e10 && dup10 && d10.contains(1L), s"10: ${receipts(10L)}")
    assert(!receipts(11L)._3, "11 must be admitted")
    val (e12, d12, dup12, _) = receipts(12L)
    assert(e12 && dup12 && d12.contains(11L), "12 is a within-batch copy of 11")
    val (e20, d20, dup20, b1) = receipts(20L)
    assert(e20 && dup20, s"20 is an exact dup of the LANDED doc 11: ${receipts(20L)}")
    val (e21, d21, dup21, _) = receipts(21L)
    assert(!e21 && dup21 && d21.contains(1L), s"21 near-dups corpus doc 1: ${receipts(21L)}")
    assert(!receipts(22L)._3, "22 must be admitted")
    assert(b0 != b1, "the two arrivals ran in different micro-batches")
  }

  test("gateBatchIndexed ≡ gateBatch over corpus ∪ landing (real carves)") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // the same text under an index id and a landing id: an arrival near it
    // scores equal j in both relations, and the lower id must win
    val tieA = "ledger entry alpha beta gamma delta epsilon zeta eta theta"
    val tieB = "audit trail one two three four five six seven eight nine"
    val corpus = docs.filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 3 =!= 0)
      .unionByName(Seq((1000005L, tieA), (1000001L, tieB)).toDF("doc_id", "text"))
    val landing = docs.filter(col("doc_id") % 13 =!= 0 && col("doc_id") % 3 === 0)
      .unionByName(Seq((1000003L, tieA), (1000007L, tieB)).toDF("doc_id", "text"))
    val landed = landing.orderBy("doc_id").first().getString(1)
    val batch = docs.filter(col("doc_id") % 13 === 0).unionByName(Seq(
      (2000001L, landed), (2000002L, landed), // exact copy of a landing doc, twice in the batch
      (2000003L, tieA + " iota"), (2000004L, tieB + " ten")).toDF("doc_id", "text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-gate-ix").toString
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    try {
      graft.operators.ShingleIndex.build(corpus, dir, "gix")
      for ((live, union) <- Seq(Some(landing) -> corpus.unionAll(landing), None -> corpus)) {
        val (rIx, kIx) = IngestGate.gateBatchIndexed("gix", live, batch, 0.5)
        val (rUn, kUn) = IngestGate.gateBatch(union, batch, 0.5)
        assert(rIx.columns.toSeq == rUn.columns.toSeq)
        assert(canon(rIx) == canon(rUn), s"landing = ${live.isDefined}")
        assert(canon(kIx.select("doc_id")) == canon(kUn.select("doc_id")))
      }
      val r = IngestGate.gateBatchIndexed("gix", Some(landing), batch, 0.5)._1
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(r(2000001L).getBoolean(1) && r(2000001L).getBoolean(5))
      assert(r(2000002L).getLong(2) == 2000001L, "the in-batch copy names its representative")
      assert(r(2000003L).getLong(2) == 1000003L, "tie: the landing id is lower")
      assert(r(2000004L).getLong(2) == 1000001L, "tie: the index id is lower")
    } finally Seq("gix_occ", "gix_sizes", "gix_fp", "gix_sat")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("indexed two-batch ingest: same convergence, corpus never re-aggregated") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-ix").toString
    val corpus = Seq((1L, "a b c d e f g"), (2L, "x y z w q r s"))
      .toDF("doc_id", "text")
    try {
      graft.operators.ShingleIndex.build(corpus, s"$root/index", "gixs")
      val mem = MemoryStream[(Long, String)]
      val stream = mem.toDF.toDF("doc_id", "text")
      mem.addData(
        (10L, "a b c d e f g"), // exact dup of indexed corpus doc 1 → drop
        (11L, "fresh new document content entirely unlike others")) // admit
      IngestGate.startIndexed("gixs", stream, s"$root/landing",
        s"$root/receipts", s"$root/ckpt").awaitTermination()
      mem.addData(
        (20L, "fresh new document content entirely unlike others"), // dup of LANDED 11 → drop
        (21L, "a b c d e f h"), // near dup of INDEXED doc 1 → drop
        (22L, "another wholly distinct body of text to admit"))     // admit
      IngestGate.startIndexed("gixs", stream, s"$root/landing",
        s"$root/receipts", s"$root/ckpt").awaitTermination()
      val landed = spark.read.parquet(s"$root/landing").select("doc_id")
        .collect().map(_.getLong(0)).sorted
      assert(landed.toSeq == Seq(11L, 22L), s"landing: ${landed.toSeq}")
      val receipts = spark.read.parquet(s"$root/receipts")
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
            r.getBoolean(5)))).toMap
      assert(receipts.size == 5)
      assert(receipts(10L)._1 && receipts(10L)._3 && receipts(10L)._2.contains(1L))
      assert(receipts(20L)._1 && receipts(20L)._3 && receipts(20L)._2.contains(11L))
      assert(!receipts(21L)._1 && receipts(21L)._3 && receipts(21L)._2.contains(1L))
      assert(!receipts(11L)._3 && !receipts(22L)._3)
    } finally Seq("gixs_occ", "gixs_sizes", "gixs_fp")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
