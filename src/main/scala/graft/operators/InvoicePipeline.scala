package graft.operators

import graft.functions.{Normalizer, Udfs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship end-to-end operator: EP1+EP2 of the reference
  * (normalize → parse → validate, ref: robot/orchestrator.py:118-298) run as
  * one fused Spark stage over a corpus of invoice documents.
  *
  * Scale design: the whole pipeline is a narrow transformation — document
  * text in, payload struct + trust columns out. No shuffle anywhere; Spark
  * partitions the corpus across executors and each document is independent
  * (the reference's per-document purity contract,
  * tests/e2e/test_pipeline_robustez.py:50-68, is what makes this
  * embarrassingly parallel at 100 TB). The only join in the synthetic-corpus
  * builder is broadcast (customer dim ≪ orders fact).
  */
object InvoicePipeline {

  /** Run the full pipeline over a DataFrame with a `text` column; emits the
    * payload struct plus validate-stage columns.
    *
    * The normalize→parse step runs as ONE fused, single-evaluation UDF
    * (see [[Udfs.normalizeAndParse]] for why); the validate stage is column
    * algebra over the resulting attribute. `norm_text` is re-derived
    * lazily in column algebra only where a caller selects it. */
  def process(docs: DataFrame, textCol: String = "text",
              sourceCol: Column = lit(null).cast("string")): DataFrame = {
    docs
      .withColumn("invoice", Udfs.normalizeAndParse(col(textCol), sourceCol))
      .withColumn("norm_text", Normalizer.normalizeTextCol(col(textCol)))
      .withColumn("checks", TrustScoring.checksCol(col("invoice")))
      .withColumn("validation_issues", TrustScoring.issuesFrom(col("invoice"), col("checks")))
      .withColumn("trust_score", TrustScoring.scoreFrom(col("invoice"), col("checks")))
      .withColumn("status", TrustScoring.status(col("validation_issues"), col("trust_score")))
      .drop("checks")
  }

  /** [[process]] for documents whose text is ALREADY normalized (a caller
    * that normalized once for fingerprinting — e.g. the streaming dedup
    * flow — must not pay the normalization kernel again): parse directly,
    * same validate stage. The parse input contract is identical because
    * `normalizeAndParse` ≡ parse ∘ normalize. */
  def processNormalized(docs: DataFrame, normTextCol: String,
                        sourceCol: Column = lit(null).cast("string")): DataFrame = {
    docs
      .withColumn("invoice", Udfs.parseInvoiceOnce(col(normTextCol), sourceCol))
      .withColumn("checks", TrustScoring.checksCol(col("invoice")))
      .withColumn("validation_issues", TrustScoring.issuesFrom(col("invoice"), col("checks")))
      .withColumn("trust_score", TrustScoring.scoreFrom(col("invoice"), col("checks")))
      .withColumn("status", TrustScoring.status(col("validation_issues"), col("trust_score")))
      .drop("checks")
  }

  // ---------------------------------------------------------------------
  // Synthetic invoice corpus: deterministic construction from orders ⋈
  // customer, used for the DuckDB-oracled differential test — the oracle
  // computes expected parse output directly from the construction
  // arithmetic, so the whole normalize→parse→validate machinery must invert
  // the construction exactly.
  // ---------------------------------------------------------------------

  /** Checksum-valid CNPJs (generated offline with the official mod-11
    * weights, verified against the reference validator). Index = k % 10. */
  val ValidCnpjsFmt: Seq[String] = Seq(
    "00.000.123/0001-22", "00.008.042/0001-79", "00.015.961/0001-70",
    "00.023.880/0001-11", "00.031.799/0001-83", "00.039.718/0001-91",
    "00.047.637/0001-33", "00.055.556/0001-85", "00.063.475/0001-27",
    "00.071.394/0001-79")

  /** Checksum-valid NF-e access keys (44 digits, verified against the
    * reference validator). Index = (k % 8) / 2 for even k. */
  val ValidKeys: Seq[String] = Seq(
    "35241204252011000110550010000000011000000070",
    "35241200000123000122550020000000081000000200",
    "35241200008042000179550030000000151000000332",
    "35241200015961000170550040000000221000000460")

  /** Same keys with the check digit corrupted (+1 mod 10) — must be
    * rejected by layer 6 and yield a NULL chave_acesso. */
  val InvalidKeys: Seq[String] =
    ValidKeys.map(k => k.init + (((k.last - '0') + 1) % 10).toString)

  private val InvalidCnpj = "12.345.678/0001-00" // fails checksum

  /** Spark-side construction of one invoice document per order row.
    * Every arithmetic choice here is mirrored in [[oracleSql]].
    * `spread = false` skips the trailing repartition for callers that
    * immediately range-shuffle the corpus themselves (e.g. [[query]]'s
    * pre-parse sort) — two back-to-back shuffles of the same rows
    * otherwise both execute. */
  def syntheticCorpus(spark: SparkSession, sfDir: String,
                      spread: Boolean = true): DataFrame = {
    val orders = graft.sources.Tables.read(spark, sfDir, "orders")
    val customer = graft.sources.Tables.read(spark, sfDir, "customer")
    val k = col("o_orderkey")

    def centsCol(i: Int): Column = (k * 7 + lit(i) * 31) % 90000 + 10000
    def moneyTok(c: Column): Column = // "NNN,CC" (3-digit int part by construction)
      concat((c / 100).cast("long").cast("string"), lit(","),
        lpad((c % 100).cast("string"), 2, "0"))

    val totCents = centsCol(1) + centsCol(2) + centsCol(3)
    val liqCents = totCents - (k % 9000 + 7)

    val issuerCnpj = when(k % 13 === 0, InvalidCnpj)
      .otherwise(element_at(array(ValidCnpjsFmt.map(lit): _*), (k % 10).cast("int") + 1))
    val recipCnpj = element_at(array(ValidCnpjsFmt.map(lit): _*), ((k + 3) % 10).cast("int") + 1)
    val keyIdx = ((k % 8) / 2).cast("int") + 1
    val keyLine = when(k % 2 === 0,
      concat(lit("Chave de Acesso: "),
        when(k % 11 === 0, element_at(array(InvalidKeys.map(lit): _*), keyIdx))
          .otherwise(element_at(array(ValidKeys.map(lit): _*), keyIdx))))

    val dateBr = date_format(col("o_orderdate"), "dd/MM/yyyy")
    val emissionLine = when(k % 7 === 0, concat(lit("Gerado em: "), dateBr))
      .otherwise(concat(lit("Data de Emissão: "), dateBr, lit(" 10:30:00")))

    val recipientSection = when(k % 5 =!= 0,
      concat(lit("TOMADOR DE SERVIÇOS\nCLIENTE BRASIL COMERCIO SA\nCNPJ: "), recipCnpj))

    val liqLine = when(k % 3 === 0, concat(lit("VALOR LIQUIDO: R$ "), moneyTok(liqCents)))

    val text = concat_ws("\n",
      lit("PREFEITURA MUNICIPAL DE TESTE"),
      lit("NOTA FISCAL DE SERVICOS ELETRONICA - NFS-e"),
      concat(lit("Numero: "), k.cast("string")),
      emissionLine,
      concat(lit("Competência: "), date_format(col("o_orderdate"), "MM/yyyy")),
      keyLine,
      lit("PRESTADOR DE SERVIÇOS"),
      concat(lit("EMPRESA "), upper(col("c_name")), lit(" LTDA")),
      concat(lit("CNPJ: "), issuerCnpj),
      recipientSection,
      lit("DISCRIMINAÇÃO DOS SERVIÇOS"),
      concat(lit("Servico consultoria tipo A 10 horas R$ "), moneyTok(centsCol(1))),
      concat(lit("Servico consultoria tipo B 20 horas R$ "), moneyTok(centsCol(2))),
      concat(lit("Servico consultoria tipo C 30 horas R$ "), moneyTok(centsCol(3))),
      concat(lit("VALOR TOTAL: R$ "), moneyTok(totCents)),
      liqLine,
      lit("OBSERVACOES: contrato interno")
    )

    val built = orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .select(k.as("doc_id"), col("c_mktsegment").as("tenant_id"), text.as("text"))
    // orders is a single small parquet file → one input partition; spread
    // the CPU-bound document work across the cluster (the shuffle moves
    // 150k tiny rows — negligible next to single-core construction)
    if (spread) built.repartition(spark.sparkContext.defaultParallelism) else built
  }

  /** The oracled differential query: construct → normalize → parse →
    * validate → project scalar expectations.
    *
    * The doc_id presentation sort runs BEFORE the parse stage: a final
    * `orderBy` over the parsed relation made the range partitioner's
    * sampling job re-execute the whole nondeterministic-UDF chain (the
    * single-evaluation marker that stops projection duplication also
    * stops the sample pass from pruning the parse — measured +5 s of the
    * query's 12.5 s at sf0.1, PipelineSlices, last in commit 7edabe5). Sorting
    * the corpus costs one shuffle of the cheap construction instead, and every
    * downstream stage ([[process]] + the projection) is a narrow per-row map,
    * so the output order is identical. */
  def query(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = syntheticCorpus(spark, sfDir, spread = false).orderBy("doc_id")
    val out = process(corpus)
    out.select(
      col("doc_id"),
      col("invoice.emission_date").as("emission"),
      col("invoice.competence_date").as("competence"),
      col("invoice.chave_acesso").as("chave"),
      col("invoice.issuer.name").as("issuer_name"),
      col("invoice.issuer.cnpj_cpf").as("issuer_cnpj"),
      col("invoice.recipient.cnpj_cpf").as("recipient_cnpj"),
      size(col("invoice.items")).as("items_count"),
      element_at(col("invoice.items"), 1).getField("description").as("item1_desc"),
      element_at(col("invoice.items"), 1).getField("unit_value").as("item1_value"),
      col("invoice.financials.total").as("total"),
      col("trust_score"), // double, rounded to 2 places like the reference
      col("status"),
      size(col("validation_issues")).as("issues_count")
    ) // doc_id order carried from the pre-parse sort (narrow stages only)
  }

  /** DuckDB oracle: expected outputs computed directly from the
    * construction arithmetic — no parsing involved. */
  def oracleSql: String = {
    val cnpjCase = ValidCnpjsFmt.zipWithIndex
      .map { case (c, i) => s"WHEN ${i} THEN '$c'" }.mkString(" ")
    val keyFmt = ValidKeys.map(_.grouped(4).mkString(" "))
    val keyCase = keyFmt.zipWithIndex
      .map { case (c, i) => s"WHEN ${i} THEN '$c'" }.mkString(" ")
    // thousands-dot formatting for int parts < 1e6 (construction keeps them < 3000)
    def fmtBr(cents: String): String =
      s"(CASE WHEN ($cents)//100 >= 1000 THEN CAST(($cents)//100//1000 AS VARCHAR) || '.' || lpad(CAST(($cents)//100%1000 AS VARCHAR),3,'0') ELSE CAST(($cents)//100 AS VARCHAR) END || ',' || lpad(CAST(($cents)%100 AS VARCHAR),2,'0'))"
    val c1 = "((k*7+31)%90000+10000)"
    val c2 = "((k*7+62)%90000+10000)"
    val c3 = "((k*7+93)%90000+10000)"
    val tot = s"($c1+$c2+$c3)"
    val liq = s"($tot-(k%9000+7))"
    s"""
WITH base AS (
  SELECT o_orderkey AS k, o_orderdate, c_name
  FROM orders JOIN customer ON o_custkey = c_custkey
)
SELECT
  k AS doc_id,
  CASE WHEN k%7=0 THEN strftime(o_orderdate, '%d/%m/%Y')
       ELSE strftime(o_orderdate, '%d/%m/%Y') || ' 10:30:00' END AS emission,
  strftime(o_orderdate, '%m/%Y') AS competence,
  CASE WHEN k%2=0 AND k%11<>0 THEN (CASE (k%8)//2 $keyCase END) ELSE NULL END AS chave,
  'EMPRESA ' || upper(c_name) || ' LTDA' AS issuer_name,
  CASE WHEN k%13=0 THEN NULL ELSE (CASE k%10 $cnpjCase END) END AS issuer_cnpj,
  CASE WHEN k%5=0 THEN NULL ELSE (CASE (k+3)%10 $cnpjCase END) END AS recipient_cnpj,
  3 AS items_count,
  'Servico consultoria tipo A 10 horas' AS item1_desc,
  CAST($c1//100 AS VARCHAR) || ',' || lpad(CAST($c1%100 AS VARCHAR),2,'0') AS item1_value,
  'R$$ ' || (CASE WHEN k%3=0 THEN ${fmtBr(liq)} ELSE ${fmtBr(tot)} END) AS total,
  CAST(CASE WHEN k%13=0 THEN 0.0 WHEN k%5=0 THEN 0.9 ELSE 1.0 END AS DOUBLE) AS trust_score,
  CASE WHEN k%13=0 THEN 'error' WHEN k%5=0 THEN 'partial' ELSE 'success' END AS status,
  (CASE WHEN k%13=0 THEN 1 ELSE 0 END) + (CASE WHEN k%5=0 THEN 1 ELSE 0 END) AS issues_count
FROM base
ORDER BY doc_id
""".trim
  }
}
