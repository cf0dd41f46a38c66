package graft.tools

import graft.functions.{InvoiceParser, Normalizer}
import org.apache.spark.sql.functions._

/** End-to-end smoke driver: runs the normalize→parse→validate parity core as
  * a real Spark job over real parquet test data plus the reference's golden
  * fixture. Usage: `sbt "runMain graft.tools.ParityDemo [sfDir]"`. */
object ParityDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session(_.withExtensions(new graft.plans.GraftExtensions))
    import spark.implicits._

    // 1. Column-algebra normalization over the real documents table.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val norm = docs.select(
      col("doc_id"),
      Normalizer.normalizeTextCol(col("text")).as("norm_text"),
      length(col("text")).as("raw_len"),
      length(Normalizer.normalizeTextCol(col("text"))).as("norm_len"))
    norm.show(5, truncate = 60)
    println(s"[demo] normalized ${norm.count()} documents from $sfDir")

    // 2. Full parse pipeline over invoice-shaped text (golden fixture +
    //    degraded variants), via the struct-returning parse UDF.
    val parseUdf = udf((text: String, src: String) =>
      InvoiceParser.extractFromText(Normalizer.normalizeText(text), Option(src)))
    val fixtures = Seq(
      ("golden", GoldenFixture.text),
      ("no_recipient", GoldenFixture.text.replace("TOMADOR DE SERVIÇOS", "BLOCO REMOVIDO")),
      ("empty", ""),
      ("incomplete", "DOCUMENTO VAZIO SEM DADOS FISCAIS")
    ).toDF("name", "text")
    val parsed = fixtures.select(col("name"),
      parseUdf(col("text"), col("name")).as("invoice"))
    parsed.select(
      col("name"),
      col("invoice.emission_date"),
      col("invoice.competence_date"),
      col("invoice.issuer.cnpj_cpf").as("issuer_cnpj"),
      col("invoice.issuer.name").as("issuer_name"),
      col("invoice.recipient.cnpj_cpf").as("recipient_cnpj"),
      size(col("invoice.items")).as("items"),
      col("invoice.financials.total").as("total")
    ).show(truncate = false)
    parsed.select(explode(col("invoice.items")).as("item"))
      .select("item.description", "item.unit_value").show(truncate = false)

    // 3. Document source: binaryFile scan with encoding detection (S1).
    val srcDir = java.nio.file.Files.createTempDirectory("graft-demo-src").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(srcDir, "utf8.txt"),
      "NOTA ação UTF8".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(srcDir, "latin1.txt"),
      "NOTA ação LATIN1".getBytes("ISO-8859-1"))
    java.nio.file.Files.write(java.nio.file.Paths.get(srcDir, "doc.pdf"), tinyPdf)
    graft.sources.DocumentSource.readDirectory(spark, srcDir)
      .select("path", "encoding", "page_count", "size_bytes").show(5, truncate = 60)
    println("doc.pdf extracted text:")
    graft.sources.DocumentSource.readDirectory(spark, srcDir, glob = "*.pdf")
      .select("text").show(truncate = false)

    // 4. Orchestrated EP2 run: audit trail + envelope.
    val orch = graft.operators.Orchestrate.run(
      Seq(GoldenFixture.text).toDF("text"), tenantCol = lit("demo-tenant"))
    orch.select(col("execution_id"), col("status"), col("trust_score"),
      col("events.stage").as("stages")).show(truncate = false)
    graft.operators.Orchestrate.toEventEnvelope(orch).show(1, truncate = 140)

    // 4b. Destination adapters: ERP + analytics projections (the routing
    //     contract, ref: tests/contract/test_payload_transform.py).
    val processed = graft.operators.InvoicePipeline.process(
      Seq(GoldenFixture.text).toDF("text"))
    graft.operators.PayloadProjections.toErp(processed)
      .select("document_type", "issue_date", "supplier.tax_id", "total_amount")
      .show(truncate = false)
    graft.operators.PayloadProjections.toAnalytics(processed).show(truncate = false)

    // 5. Native expression via SparkSessionExtensions (SQL surface).
    spark.read.parquet(s"$sfDir/customer.parquet").createOrReplaceTempView("customer")
    spark.sql(
      """SELECT cnpj_is_valid('04.252.011/0001-10') AS valid_literal,
        |       count(*) AS checked,
        |       sum(CASE WHEN cnpj_is_valid(c_name) THEN 1 ELSE 0 END) AS names_that_validate
        |FROM customer""".stripMargin).show()
    spark.stop()
  }

  /** A REAL one-page PDF (classic xref-less object stream, uncompressed
    * content) so the demo drives [[graft.sources.PdfTextCodec]] end-to-end. */
  private def tinyPdf: Array[Byte] = {
    val content =
      """BT
72 720 Td
(NOTA FISCAL DEMO) Tj
0 -14 Td
(Emiss\343o: 15/12/2024) Tj
ET"""
    (s"""%PDF-1.4
1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >> endobj
4 0 obj << /Length ${content.length} >>
stream
$content
endstream
endobj
trailer << /Size 5 /Root 1 0 R >>
%%EOF
""").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }
}

object GoldenFixture {
  /** Verbatim canonical NFS-e (ref: tests/e2e/test_pipeline_core.py:62-95). */
  val text: String = """
    PREFEITURA MUNICIPAL DE SÃO PAULO
    NOTA FISCAL DE SERVIÇOS ELETRÔNICA - NFS-e

    Número: 123456
    Data de Emissão: 15/12/2024 10:30:00
    Competência: 12/2024

    PRESTADOR DE SERVIÇOS
    EMPRESA ABC TECNOLOGIA LTDA
    CNPJ: 04.252.011/0001-10
    Inscrição Municipal: 123.456.789-0
    Endereço: Rua Teste, 123 - São Paulo/SP

    TOMADOR DE SERVIÇOS
    CLIENTE XYZ INDÚSTRIA S.A.
    CNPJ: 11.222.333/0001-81
    Endereço: Av Principal, 456 - São Paulo/SP

    DISCRIMINAÇÃO DOS SERVIÇOS
    Desenvolvimento de software customizado        10 HRS    R$ 200,00    R$ 2.000,00
    Consultoria em arquitetura de sistemas         5 HRS    R$ 250,00    R$ 1.250,00
    Treinamento técnico da equipe                  8 HRS    R$ 150,00    R$ 1.200,00

    VALOR TOTAL DOS SERVIÇOS: R$ 4.450,00

    TRIBUTOS:
    ISS (5%): R$ 222,50

    VALOR LÍQUIDO: R$ 4.227,50

    OBSERVAÇÕES:
    Serviços prestados conforme contrato 2024/001
    """
}
