package graft.functions

import graft.model._

import java.util.Locale
import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable.ArrayBuffer
import scala.util.Try

/** Block-segmentation invoice parser (ref: robot/core/parser.py).
  *
  * Pure, deterministic, total functions — one document in, one typed payload
  * out. Designed to run inside a single struct-returning Spark UDF per
  * document (document-local regex algorithms; narrow transformation, no
  * shuffle, partition-parallel at any scale).
  *
  * Regex dialect notes (Python `re` → Java): `(?iu)` replaces
  * `re.IGNORECASE` so case-folding also covers Ç/Ã/É; `.` does not match
  * newlines in either dialect by default; Java supports the same
  * lookbehind/lookahead constructs used by the reference.
  */
object InvoiceParser {

  /** ref: robot/core/parser.py:12-14 */
  val CnpjPattern: Pattern =
    Pattern.compile("\\b\\d{2}\\.?\\d{3}\\.?\\d{3}/?\\.?\\d{4}-?\\d{2}\\b")
  val KeyPattern: Pattern = Pattern.compile("\\b\\d{44}\\b")
  val ValuePattern: Pattern =
    Pattern.compile("R?\\$?\\s*([\\d]{1,3}(?:[.,]\\d{3})*(?:[.,]\\d{2}))")

  /** NFKD-normalize and strip combining marks (ref: robot/core/parser.py:18-20).
    * The reference drops chars with nonzero canonical combining class; the
    * JDK doesn't expose ccc, so we strip non-spacing marks (\p{Mn}) — all
    * accents NFKD produces — while keeping spacing marks (Mc, ccc=0) that
    * Python also keeps (Indic matras etc.). */
  private val NonSpacingMark = Pattern.compile("\\p{Mn}")

  def removeAccents(s: String): String = {
    // ASCII fast path: every ASCII char is NFKD-invariant and none is a
    // non-spacing mark, so the transform is the identity (party names are
    // usually ASCII after uppercasing; NFKD per line was a measurable cost)
    var i = 0
    val n = s.length
    while (i < n && s.charAt(i) < 0x80) i += 1
    if (i == n) return s
    NonSpacingMark.matcher(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKD))
      .replaceAll("")
  }

  /** Generic-label stopword blacklist (ref: robot/core/parser.py:22-30). */
  val InvalidNameTokens: Set[String] = Set(
    "DO", "DE", "DA", "DOS", "DAS", "SERVICO", "SERVICOS", "PRODUTO", "PRODUTOS",
    "PRESTADOR", "TOMADOR", "EMITENTE", "DESTINATARIO",
    "CNPJ", "CPF", "DADOS", "MUNICIPAL", "SECRETARIA", "FAZENDA", "PREFEITURA",
    "NOTA", "FISCAL", "ELETRONICA", "NFSE", "NFE", "NFS-E",
    "NOME", "RAZAO", "SOCIAL", "ENDERECO", "MUNICIPIO", "UF",
    "EMPRESARIAL", "NIF", "INSCRICAO", "ESTADUAL")

  private val UniSpaceRun = Pattern.compile("(?U)\\s+")
  private val TrailingPunct = Pattern.compile("[\\.\\-\\,]+$")

  /** Party-name normalization + semantic rejection of label-only lines
    * (ref: robot/core/parser.py:32-70). */
  def cleanPartyName(name: String): Option[String] = {
    if (name == null || name.isEmpty) return None
    var n = UniSpaceRun.matcher(name).replaceAll(" ") // Python \s is Unicode (NBSP etc.)
    n = n.toUpperCase(Locale.ROOT).trim
    n = TrailingPunct.matcher(n).replaceAll("")
    n = n.trim
    if (n.isEmpty) return None
    val normalized = removeAccents(n)
    val tokens = normalized.split(" ").filter(_.length > 2)
    if (tokens.isEmpty) None
    else if (tokens.forall(InvalidNameTokens.contains)) None
    else Some(n)
  }

  /** Mirror of `re.findall` for 0- or 1-group patterns. */
  private def findAll(p: Pattern, text: String): List[String] = {
    val m = p.matcher(text)
    val out = ArrayBuffer.empty[String]
    while (m.find()) out += (if (m.groupCount() > 0) m.group(1) else m.group())
    out.toList
  }

  private def search(p: Pattern, text: String): Option[Matcher] = {
    val m = p.matcher(text)
    if (m.find()) Some(m) else None
  }

  /** First checksum-valid 44-digit run, scanned globally — the key may sit in
    * header or footer (ref: robot/core/parser.py:78-85). Digit-run-anchored
    * scan ([[ParserScan.digitAnchoredFindAll]]); `\b\d{44}\b` starts at a
    * digit not preceded by a digit. */
  def findKeyValidAccess(text: String): Option[NfeKeyValidation] =
    ParserScan.digitAnchoredFindAll(KeyPattern, text, boundaryStart = true)
      .iterator
      .map(Validators.nfeKeyValidator)
      .find(_.valido)

  /** All checksum-valid CNPJ-shaped tokens in order
    * (ref: robot/core/parser.py:87-94). Digit-run-anchored like the key
    * scan (the pattern opens `\b\d`). */
  def findCnpjs(text: String): List[CnpjValidation] =
    ParserScan.digitAnchoredFindAll(CnpjPattern, text, boundaryStart = true)
      .map(Validators.cnpjValidator).filter(_.valido)

  private val EmissionPatterns = List(
    Pattern.compile("(?iu)EMISS[AÃ]O.*?(\\d{2}/\\d{2}/\\d{4}(?:\\s*\\d{2}:\\d{2}:\\d{2})?)"),
    Pattern.compile("(?iu)DATA\\s+DE\\s+EMISS[AÃ]O.*?(\\d{2}/\\d{2}/\\d{4})"))
  private val BareDate = Pattern.compile("\\b(\\d{2}/\\d{2}/\\d{4})\\b")
  private val CompetencePatterns = List(
    Pattern.compile("(?iu)COMPET[EÊ]NCIA.*?(\\d{2}/\\d{4})"),
    Pattern.compile("(?iu)COMPET[EÊ]NCIA.*?(\\d{2}/\\d{2}/\\d{4})"),
    Pattern.compile("(?iu)COMPET[EÊ]NCIA.*?(\\d{2}-\\d{4})"))

  /** Labeled-pattern priority with bare-date fallback for emission; labeled
    * only for competence (ref: robot/core/parser.py:96-128). */
  def extractEmissionAndCompetence(text: String): (Option[String], Option[String]) = {
    val emission = EmissionPatterns.iterator
      .flatMap(p => search(p, text))
      .map(_.group(1))
      .nextOption()
      .orElse(search(BareDate, text).map(_.group(1)))
    val competence = CompetencePatterns.iterator
      .flatMap(p => search(p, text))
      .map(_.group(1))
      .nextOption()
    (emission, competence)
  }

  /** Block-marker table: 4 block types × 2-4 regex markers
    * (ref: robot/core/parser.py:144-149). Order = reference dict order —
    * position ties resolve by this order (stable sort). */
  val BlockMarkers: List[(String, List[Pattern])] = List(
    "ISSUER" -> List(
      "PRESTADOR\\s+(?:DO|DE)?\\s*SERVI[CÇ]O", "DADOS\\s+DO\\s+PRESTADOR", "EMITENTE"),
    "RECIPIENT" -> List(
      "TOMADOR\\s+(?:DO|DE)?\\s*SERVI[CÇ]O", "DADOS\\s+DO\\s+TOMADOR", "DESTINAT[AÁ]RIO"),
    "ITEMS" -> List(
      "DISCRIMINA[CÇ][AÃ]O\\s+(?:DOS|DE)?\\s*(?:SERVI[CÇ]OS|PRODUTOS)",
      "DESCRI[CÇ][AÃ]O\\s+DOS\\s+SERVI[CÇ]OS"),
    "FINANCIALS" -> List(
      "VALOR\\s+TOTAL", "TOTAL\\s+GERAL", "TRIBUTA[CÇ][AÃ]O", "TOTAL\\s+DO\\s+SERVI[CÇ]O")
  ).map { case (k, ps) => k -> ps.map(p => Pattern.compile("(?iu)" + p)) }

  /** Multi-pattern span scan: find all marker hits, sort by position (stable),
    * slice `[hit_i, hit_{i+1})`; text before the first hit = HEADER; multiple
    * blocks of one type concatenate with `\n`; no hits ⇒ whole text is HEADER
    * (ref: robot/core/parser.py:134-208).
    *
    * Marker hits come from [[ParserScan.findMarkerHits]] — one folded-char
    * prefilter scan instead of 12 whole-document NFA passes (ParseProfile, last
    * in commit 7edabe5: this was 52.6 of the parse's 109 µs/doc); the hit
    * sequence is already in the reference's (position, marker-table) order. The
    * original 12-matcher loop survives as [[extractBlocksReference]], and
    * ParserScanSpec differential-tests the two on adversarial casings and
    * the real corpus. */
  def extractBlocks(text: String): Map[String, String] =
    assembleBlocks(text, ParserScan.findMarkerHits(text))

  /** Executable specification for [[extractBlocks]]: the direct 12-pattern
    * find() loop the prefilter scan replaces. */
  def extractBlocksReference(text: String): Map[String, String] = {
    val found = ArrayBuffer.empty[(Int, String)]
    for ((blockType, patterns) <- BlockMarkers; p <- patterns) {
      val m = p.matcher(text)
      while (m.find()) found += ((m.start(), blockType))
    }
    assembleBlocks(text, found.sortBy(_._1)) // stable: marker-table order on ties
  }

  private def assembleBlocks(text: String,
                             sorted: collection.Seq[(Int, String)]): Map[String, String] = {
    val blocks = scala.collection.mutable.Map(
      "ISSUER" -> "", "RECIPIENT" -> "", "ITEMS" -> "", "FINANCIALS" -> "", "HEADER" -> "")
    if (sorted.isEmpty) {
      blocks("HEADER") = text
      return blocks.toMap
    }
    blocks("HEADER") = text.substring(0, sorted.head._1)
    for (i <- sorted.indices) {
      val (start, blockType) = sorted(i)
      val end = if (i + 1 < sorted.length) sorted(i + 1)._1 else text.length
      val content = text.substring(start, end)
      blocks(blockType) =
        if (blocks(blockType).nonEmpty) blocks(blockType) + "\n" + content
        else content
    }
    blocks.toMap
  }

  /** Extract name + CNPJ from an already-isolated block: first valid CNPJ
    * wins; name = first line that is not itself a CNPJ and survives
    * [[cleanPartyName]] (ref: robot/core/parser.py:214-245). */
  def extractPartyFromBlock(blockText: String): Option[Party] = {
    if (blockText == null || blockText.trim.isEmpty) return None
    val lines = blockText.split("\n", -1).map(_.trim).filter(_.nonEmpty)
    if (lines.isEmpty) return None
    val cnpj = findCnpjs(blockText).headOption.flatMap(_.cnpj_formatado)
    val candidateName = lines.iterator
      // boolean-only validity: the full validator allocates its result
      // struct + error strings per line (ValidatorsSpec pins ≡ .valido)
      .filterNot(graft.plans.CnpjChecksum.isValid)
      .flatMap(cleanPartyName)
      .nextOption()
    Some(Party(name = candidateName, cnpj_cpf = cnpj))
  }

  private val ItemMetadataTokens =
    List("TOTAL", "VALOR", "DATA", "COMPETÊNCIA", "DISCRIMINA")
  private val RsPrefix = Pattern.compile("R\\$\\s*")

  /** Per-line item extraction from the ITEMS block: skip short/metadata
    * lines; fiscal-validate each money token; description = line minus all
    * valid tokens minus `R$`; unit_value = LAST valid token; long valueless
    * lines become continuation items (ref: robot/core/parser.py:247-295). */
  def extractItemsFromBlock(blockText: String): Seq[Item] = {
    if (blockText == null || blockText.isEmpty) return Seq.empty
    val items = ArrayBuffer.empty[Item]
    for (raw <- blockText.split("\n", -1)) {
      val linha = raw.trim
      if (linha.nonEmpty && linha.length >= 10) {
        val upperLn = linha.toUpperCase(Locale.ROOT)
        if (!ItemMetadataTokens.exists(upperLn.contains)) {
          // every ValuePattern capture starts at a digit and the R?\$?\s*
          // prefix is fully optional, so the digit-anchored scan captures
          // exactly what find() would (ParserScanSpec differential)
          val valores =
            ParserScan.digitAnchoredFindAll(ValuePattern, linha, boundaryStart = false)
          val validos = valores.filter(v =>
            Validators.monetaryValueValidator(v, fiscalContext = true).valido)
          if (validos.nonEmpty) {
            var desc = linha
            validos.foreach(v => desc = desc.replace(v, ""))
            desc = RsPrefix.matcher(desc).replaceAll("").trim
            if (desc.nonEmpty)
              items += Item(description = desc,
                unit_value = Some(validos.last), raw = Some(linha))
          } else if (linha.length > 15) {
            items += Item(description = linha, raw = Some(linha))
          }
        }
      }
    }
    items.toSeq
  }

  private val TotalPatterns = List(
    "TOTAL\\s+GERAL\\s*:?\\s*R?\\$?\\s*([\\d\\.,]+)",
    "VALOR\\s+L[IÍ]QUIDO\\s*:?\\s*R?\\$?\\s*([\\d\\.,]+)",
    "VALOR\\s+TOTAL\\s*:?\\s*R?\\$?\\s*([\\d\\.,]+)",
    "TOTAL\\s*:?\\s*R?\\$?\\s*([\\d\\.,]+)",
    "R\\$\\s*([\\d\\.,]+)"
  ).map(p => Pattern.compile("(?iu)" + p))

  /** 5 prioritized total patterns over the FINANCIALS block; first whose
    * FIRST match passes fiscal-BRL validation wins; returns the *formatted*
    * value (ref: robot/core/parser.py:297-319). */
  def extractTotalFromBlock(blockText: String): Option[String] = {
    if (blockText == null || blockText.isEmpty) return None
    TotalPatterns.iterator
      .flatMap(p => search(p, blockText))
      .map(m => Validators.validatorValorFiscalBrasileiro(m.group(1)))
      .collectFirst { case v if v.valido => v.valor_formatado.get }
  }

  /** Top-level parse: segment → scoped extraction, every extractor failure
    * degrading to None/empty instead of failing the document
    * (ref: robot/core/parser.py:321-379). */
  def extractFromText(text: String, sourceFilename: Option[String] = None): InvoiceExtractionResult = {
    val t = if (text == null) "" else text
    val blocks = Try(extractBlocks(t)).getOrElse(Map.empty.withDefaultValue(""))
    def blk(k: String) = blocks.getOrElse(k, "")

    val (emission, competence) =
      Try(extractEmissionAndCompetence(t)).getOrElse((None, None))
    val chave = Try(findKeyValidAccess(t)).toOption.flatten
    val issuer = Try(extractPartyFromBlock(blk("ISSUER"))).toOption.flatten
    val recipient = Try(extractPartyFromBlock(blk("RECIPIENT"))).toOption.flatten
    val total = Try(extractTotalFromBlock(blk("FINANCIALS"))).toOption.flatten
    val items = Try(extractItemsFromBlock(blk("ITEMS"))).getOrElse(Seq.empty)

    InvoiceExtractionResult(
      emission_date = emission,
      competence_date = competence,
      chave_acesso = chave.flatMap(_.chave_formatada),
      issuer = issuer,
      recipient = recipient,
      items = items,
      financials = Financials(total = total),
      raw_text = t,
      source_filename = sourceFilename
    )
  }
}
