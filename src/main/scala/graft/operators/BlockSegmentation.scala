package graft.operators

import graft.functions.{InvoiceParser, Normalizer}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-document block line counts — the output row of [[BlockSegmentation.lineCounts]]. */
case class BlockLineCounts(header_lines: Long, issuer_lines: Long,
                           recipient_lines: Long, items_lines: Long,
                           financials_lines: Long)

/** SURVEY §2.4 option (b): block segmentation as pure column algebra —
  * `posexplode` the lines, tag marker lines, carry the label forward with a
  * running `last(..., ignoreNulls)` window, then reassemble blocks with a
  * position-sorted collect (ref: robot/core/parser.py:134-208).
  *
  * Granularity caveat vs the UDF variant ([[InvoiceParser.extractBlocks]]):
  * the UDF slices at exact character offsets (a marker mid-line splits the
  * line); this variant tags whole lines. On normalized fiscal documents
  * markers start their own line, so the two agree line-for-line
  * (BlockSegmentationSpec proves it on the synthetic corpus + golden
  * fixture). Cost model: one shuffle on (doc, line-pos) — use when corpus
  * analytics already need the exploded-line relation; the UDF form wins
  * when the document is processed whole. */
object BlockSegmentation {

  /** Line-level marker tag: first matching block type in the reference's
    * MARKER-TABLE order. Note this differs from the UDF's character-offset
    * tie-break when two different marker types match the SAME line — the
    * UDF would split the line at each offset; here the whole line carries
    * the table-first type. Normalized fiscal documents put one marker per
    * line, where both variants agree (BlockSegmentationSpec). */
  /** One alternation regex per block type (4 matches/line, not 13) —
    * shared by the Column tagger and the kernel so the two physical forms
    * cannot drift. */
  private def mergedAlternation(patterns: List[java.util.regex.Pattern]): String =
    patterns.map(p => "(?:" + p.pattern().stripPrefix("(?iu)") + ")")
      .mkString("(?iu)", "|", "")

  private def markerTag(ln: Column): Column =
    InvoiceParser.BlockMarkers.foldLeft(lit(null).cast("string")) {
      case (acc, (blockType, patterns)) =>
        when(acc.isNotNull, acc)
          .when(ln.rlike(mergedAlternation(patterns)), blockType)
          .otherwise(lit(null))
    }

  /** One row per (doc, block) with the block's text reassembled in line
    * order. Blocks absent from a document are absent from the output;
    * NULL text behaves like "" (one empty HEADER row), matching the UDF
    * path. Internal columns carry a `__graft_` prefix so arbitrary
    * caller-supplied id/text column names cannot collide. */
  def segment(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame = {
    val lines = docs.select(col(idCol),
      posexplode_outer(split(coalesce(col(textCol), lit("")), "\n"))
        .as(Seq("__graft_pos", "__graft_ln")))
    val w = Window.partitionBy(idCol).orderBy("__graft_pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lines
      .withColumn("__graft_tag", markerTag(col("__graft_ln")))
      .withColumn("block",
        coalesce(last(col("__graft_tag"), ignoreNulls = true).over(w), lit("HEADER")))
      .groupBy(col(idCol), col("block"))
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("__graft_pos"), col("__graft_ln")))),
          s => s.getField("__graft_ln")),
        "\n").as("content"))
  }

  /** Merged alternation pattern per block type, in the reference's
    * marker-table order — the per-line tag is the FIRST type in this order
    * whose pattern hits the line, identical to [[markerTag]]'s Column form
    * (same [[mergedAlternation]] source). */
  private val MergedMarkerPatterns: List[(String, java.util.regex.Pattern)] =
    InvoiceParser.BlockMarkers.map { case (blockType, patterns) =>
      blockType -> java.util.regex.Pattern.compile(mergedAlternation(patterns))
    }

  /** Line-count kernel: tag each line (first marker-table hit), carry the
    * tag forward, count lines per block — the exact semantics of the
    * windowed variant ([[queryWindowed]], differential-tested in
    * BlockSegmentationSpec) computed document-locally in one pass: no
    * explode, no shuffle, no window. This is the plan that survives 100 TB:
    * a narrow map over documents with fixed-size per-row state. */
  def lineCounts(normText: String): BlockLineCounts =
    lineCountsTagged(normText, graft.functions.ParserScan.firstHitType)

  /** Executable specification for [[lineCounts]]'s tagger: the merged
    * 4-alternation find() per line that [[graft.functions.ParserScan.firstHitType]]'s
    * prefilter scan replaces (differential-tested in ParserScanSpec). */
  def lineCountsReference(normText: String): BlockLineCounts =
    lineCountsTagged(normText, line =>
      MergedMarkerPatterns.iterator
        .filter { case (_, p) => p.matcher(line).find() }
        .map(_._1).nextOption().orNull)

  private def lineCountsTagged(normText: String,
                               tag: String => String): BlockLineCounts = {
    var header = 0L; var issuer = 0L; var recipient = 0L
    var items = 0L; var financials = 0L
    var current = "HEADER"
    // split with -1 keeps trailing empty lines, like Spark's split()
    for (line <- (if (normText == null) "" else normText).split("\n", -1)) {
      val t = tag(line)
      if (t != null) current = t
      current match {
        case "HEADER"     => header += 1
        case "ISSUER"     => issuer += 1
        case "RECIPIENT"  => recipient += 1
        case "ITEMS"      => items += 1
        case "FINANCIALS" => financials += 1
      }
    }
    BlockLineCounts(header, issuer, recipient, items, financials)
  }

  /** Fused normalize → tag → count in ONE UDF call per document;
    * non-deterministic marker pins single evaluation while five struct
    * fields are read downstream (see [[graft.functions.Udfs.normalizeAndParse]]
    * for the CollapseProject rationale). */
  private val normalizeAndCountLines =
    udf((raw: String) => lineCounts(Normalizer.normalizeText(if (raw == null) "" else raw)))
      .asNondeterministic()

  /** Oracled query: segment the synthetic invoice corpus and emit per-doc
    * block line counts — every count is a direct function of the corpus
    * construction, so the oracle is pure CASE arithmetic. Runs the narrow
    * [[lineCounts]] kernel (no shuffle beyond the corpus builder's
    * repartition + the final presentation sort). */
  def query(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    // presentation sort BEFORE the nondeterministic kernel UDF — a final
    // orderBy makes the range sampling job re-run the whole chain (the
    // InvoicePipeline.query rationale; measured there with PipelineSlices, last
    // in commit 7edabe5)
    InvoicePipeline.syntheticCorpus(spark, dir, spread = false)
      .orderBy("doc_id")
      .withColumn("__graft_c", normalizeAndCountLines(col("text")))
      .select(col("doc_id"),
        col("__graft_c.header_lines").as("header_lines"),
        col("__graft_c.issuer_lines").as("issuer_lines"),
        col("__graft_c.recipient_lines").as("recipient_lines"),
        col("__graft_c.items_lines").as("items_lines"),
        col("__graft_c.financials_lines").as("financials_lines"))
  }

  /** The SURVEY §2.4 option-(b) demonstration of the same counts: explode
    * lines, tag with [[markerTag]], carry the label with a running window,
    * conditional-count per block. One (doc, line-pos) shuffle + window —
    * use when corpus analytics already hold the exploded-line relation.
    * Kept as the differential twin of [[lineCounts]]
    * (BlockSegmentationSpec asserts equality on the corpus). */
  def queryWindowed(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val corpus = InvoicePipeline.syntheticCorpus(spark, dir)
      .withColumn("norm", graft.functions.Udfs.normalizeText(col("text")))
      .select("doc_id", "norm")
    val lines = corpus.select(col("doc_id"),
      posexplode_outer(split(coalesce(col("norm"), lit("")), "\n"))
        .as(Seq("__graft_pos", "__graft_ln")))
    val w = Window.partitionBy("doc_id").orderBy("__graft_pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val labeled = lines.withColumn("block",
      coalesce(last(markerTag(col("__graft_ln")), ignoreNulls = true).over(w), lit("HEADER")))
    def cnt(block: String) =
      sum(when(col("block") === block, 1L).otherwise(0L))
        .as(block.toLowerCase(java.util.Locale.ROOT) + "_lines")
    labeled.groupBy("doc_id")
      .agg(cnt("HEADER"), cnt("ISSUER"), cnt("RECIPIENT"), cnt("ITEMS"), cnt("FINANCIALS"))
      .orderBy("doc_id")
  }

  /** Expected counts from the construction: header 5 lines (+1 when the
    * chave line is present), issuer always 3, recipient 3 unless omitted
    * (k%5=0), items marker+3, financials total line + optional líquido +
    * observações. */
  val querySql: String = """
SELECT o_orderkey AS doc_id,
  CAST(5 + CASE WHEN o_orderkey%2=0 THEN 1 ELSE 0 END AS BIGINT) AS header_lines,
  CAST(3 AS BIGINT) AS issuer_lines,
  CAST(CASE WHEN o_orderkey%5=0 THEN 0 ELSE 3 END AS BIGINT) AS recipient_lines,
  CAST(4 AS BIGINT) AS items_lines,
  CAST(2 + CASE WHEN o_orderkey%3=0 THEN 1 ELSE 0 END AS BIGINT) AS financials_lines
FROM orders ORDER BY doc_id
""".trim
}
