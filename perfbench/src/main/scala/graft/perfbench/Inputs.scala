package graft.perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Everything the program receives is built here
  * from the run's seed; nothing is read from outside the run's work
  * directory. Each generator takes its own stream of the seed, so changing
  * one workload's inputs never shifts another's. */
object Inputs {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) + stream))

  /** SplitMix64 finalizer. Seeding SplittableRandom with raw `seed` values
    * would make neighbouring seeds shifted copies of one sequence. */
  private def mix(x: Long): Long = {
    var z = x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A vocabulary of distinct pronounceable lowercase words (4–9 letters).
    * None of them is a Gopher stop word or a language-id marker, so those
    * are planted only where a generator puts them on purpose. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val reserved = Set("the", "be", "to", "of", "and", "that", "have", "with",
      "der", "und", "die", "ist", "is", "el", "la", "los", "es", "le", "et", "est",
      "javascript", "lorem", "ipsum")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val syl = 2 + r.nextInt(3)
      val sb = new StringBuilder
      for (_ <- 0 until syl) {
        sb += cons.charAt(r.nextInt(cons.length)); sb += vows.charAt(r.nextInt(vows.length))
      }
      if (r.nextInt(3) == 0) sb += cons.charAt(r.nextInt(cons.length))
      val w = sb.toString
      if (!reserved(w)) seen += w
    }
    seen.toArray
  }

  // ---------------------------------------------------------------------
  // invoice_etl: invoice documents as PDF / UTF-8 / latin-1 bytes
  // ---------------------------------------------------------------------

  /** One uploaded invoice plus what its construction implies for the
    * pipeline's VALIDATE stage. */
  final case class InvoiceDoc(docId: Long, tenant: String, format: String,
                              bytes: Array[Byte], status: String, trust: Double)

  val Segments: Seq[String] = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  private val Weights1 = Seq(5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2)
  private val Weights2 = 6 +: Weights1
  private val KeyWeights = Seq(4, 3, 2) ++ Seq.fill(5)(Seq(9, 8, 7, 6, 5, 4, 3, 2)).flatten
  private val Ufs = Seq("11", "21", "23", "29", "31", "33", "35", "41", "43", "52", "53")

  private def mod11(digits: String, weights: Seq[Int]): Int = {
    val rest = digits.zip(weights).map { case (d, w) => (d - '0') * w }.sum % 11
    if (rest < 2) 0 else 11 - rest
  }

  private def digits(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(('0' + r.nextInt(10)).toChar).mkString

  /** A checksum-valid 14-digit CNPJ (branch 0001). */
  def validCnpj(r: SplittableRandom): String = {
    var base = digits(r, 8) + "0001"
    while (base.distinct.length == 1) base = digits(r, 8) + "0001"
    val d1 = mod11(base, Weights1)
    val d2 = mod11(base + d1, Weights2)
    s"$base$d1$d2"
  }

  def fmtCnpj(c: String): String =
    s"${c.substring(0, 2)}.${c.substring(2, 5)}.${c.substring(5, 8)}/${c.substring(8, 12)}-${c.substring(12)}"

  /** A 44-digit NF-e access key for `cnpj`, valid or with its check digit
    * corrupted. */
  def nfeKey(r: SplittableRandom, cnpj: String, valid: Boolean): String = {
    val body = Ufs(r.nextInt(Ufs.length)) + "24" + f"${1 + r.nextInt(12)}%02d" + cnpj +
      "55" + digits(r, 3) + digits(r, 9) + "1" + digits(r, 8)
    val rest = body.zip(KeyWeights).map { case (d, w) => (d - '0') * w }.sum % 11
    val dv = if (rest < 2) 0 else 11 - rest
    body + (if (valid) dv else (dv + 1) % 10)
  }

  private def money(cents: Long): String = s"${cents / 100},${f"${cents % 100}%02d"}"

  /** `n` invoices following the construction of
    * `InvoicePipeline.syntheticCorpus` (one NFS-e per order row of an
    * orders ⋈ customer pair), with planted defects: checksum-invalid
    * issuer CNPJs (→ error, trust 0), missing recipient sections
    * (→ partial, trust 0.9), checksum-invalid NF-e keys (rejected, no
    * penalty) and corrupt PDFs (nothing extractable → error, trust 0). */
  def invoices(seed: Long, n: Int): IndexedSeq[InvoiceDoc] = {
    val r = rng(seed, 1)
    val start = java.time.LocalDate.of(1992, 1, 1)
    (0 until n).map { i =>
      val k = 1L + i * 4L + r.nextInt(4)
      val date = start.plusDays(r.nextInt(2400))
      val dateBr = f"${date.getDayOfMonth}%02d/${date.getMonthValue}%02d/${date.getYear}"
      val custName = f"Customer#${1 + r.nextInt(15000)}%09d"
      val tenant = Segments(r.nextInt(Segments.length))
      val invalidIssuer = r.nextInt(100) < 8
      val noRecipient = r.nextInt(100) < 15
      val issuer = validCnpj(r)
      val issuerShown = if (invalidIssuer) {
        val last = ((issuer.last - '0' + 1) % 10).toString
        issuer.init + last
      } else issuer
      val keyLine = r.nextInt(2) match {
        case 0 => None
        case _ => Some("Chave de Acesso: " + nfeKey(r, issuer, valid = r.nextInt(100) >= 20))
      }
      val c1 = 10000L + r.nextInt(90000)
      val c2 = 10000L + r.nextInt(90000)
      val c3 = 10000L + r.nextInt(90000)
      val tot = c1 + c2 + c3
      val liq = if (r.nextInt(3) == 0) Some(tot - (7 + r.nextInt(9000))) else None
      val lines = Seq(
        "PREFEITURA MUNICIPAL DE TESTE",
        "NOTA FISCAL DE SERVICOS ELETRONICA - NFS-e",
        s"Numero: $k",
        if (r.nextInt(7) == 0) s"Gerado em: $dateBr" else s"Data de Emissão: $dateBr 10:30:00",
        f"Competência: ${date.getMonthValue}%02d/${date.getYear}") ++
        keyLine.toSeq ++ Seq(
        "PRESTADOR DE SERVIÇOS",
        s"EMPRESA ${custName.toUpperCase} LTDA",
        s"CNPJ: ${fmtCnpj(issuerShown)}") ++
        (if (noRecipient) Nil
         else Seq("TOMADOR DE SERVIÇOS", "CLIENTE BRASIL COMERCIO SA",
           s"CNPJ: ${fmtCnpj(validCnpj(r))}")) ++ Seq(
        "DISCRIMINAÇÃO DOS SERVIÇOS",
        s"Servico consultoria tipo A 10 horas R$$ ${money(c1)}",
        s"Servico consultoria tipo B 20 horas R$$ ${money(c2)}",
        s"Servico consultoria tipo C 30 horas R$$ ${money(c3)}",
        s"VALOR TOTAL: R$$ ${money(tot)}") ++
        liq.map(l => s"VALOR LIQUIDO: R$$ ${money(l)}").toSeq :+
        "OBSERVACOES: contrato interno"
      // format mix: mostly PDF (half of them Flate-compressed), some
      // plain text in either encoding, a few corrupt uploads
      val pick = r.nextInt(100)
      val format = if (pick < 40) "pdf" else if (pick < 70) "pdf_flate"
        else if (pick < 83) "utf8" else if (pick < 95) "latin1" else "corrupt_pdf"
      val text = lines.mkString("\n")
      val bytes = format match {
        case "pdf" => MiniPdf.write(lines, r.nextInt(2) == 0, flate = false)
        case "pdf_flate" => MiniPdf.write(lines, r.nextInt(2) == 0, flate = true)
        case "utf8" => text.getBytes(StandardCharsets.UTF_8)
        case "latin1" => text.getBytes(StandardCharsets.ISO_8859_1)
        case _ =>
          val junk = new Array[Byte](600 + r.nextInt(600))
          var j = 0
          // letters and spaces only: no digit, so no `N G obj` header can appear
          while (j < junk.length) { junk(j) = (if (r.nextInt(6) == 0) ' ' else 'A' + r.nextInt(26)).toByte; j += 1 }
          "%PDF-1.4\n".getBytes(StandardCharsets.ISO_8859_1) ++ junk
      }
      val (status, trust) =
        if (format == "corrupt_pdf" || invalidIssuer) ("error", 0.0)
        else if (noRecipient) ("partial", 0.9)
        else ("success", 1.0)
      InvoiceDoc(k, tenant, format, bytes, status, trust)
    }
  }

  /** A minimal PDF 1.4 writer: catalog, page tree, one or two pages whose
    * content streams show each line with `Tj` and break lines with `T*`,
    * stored raw or FlateDecode-compressed, with a correct xref table. */
  object MiniPdf {
    private def esc(s: String): String =
      s.flatMap {
        case '(' => "\\("
        case ')' => "\\)"
        case '\\' => "\\\\"
        case c => c.toString
      }

    def write(lines: Seq[String], twoPages: Boolean, flate: Boolean): Array[Byte] = {
      val pages = if (twoPages && lines.length > 4) {
        val (a, b) = lines.splitAt(lines.length / 2); Seq(a, b)
      } else Seq(lines)
      val nPages = pages.length
      // object ids: 1 catalog, 2 pages, 3 font, then (page, content) pairs
      val objs = ArrayBuffer.empty[Array[Byte]]
      def latin(s: String) = s.getBytes(StandardCharsets.ISO_8859_1)
      val kids = (0 until nPages).map(p => s"${4 + 2 * p} 0 R").mkString(" ")
      objs += latin("<< /Type /Catalog /Pages 2 0 R >>")
      objs += latin(s"<< /Type /Pages /Kids [$kids] /Count $nPages >>")
      objs += latin("<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
      pages.zipWithIndex.foreach { case (pl, p) =>
        objs += latin(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] " +
          s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${5 + 2 * p} 0 R >>")
        val content = latin("BT /F1 10 Tf 12 TL 40 800 Td\n" +
          pl.map(l => s"(${esc(l)}) Tj T*").mkString("\n") + "\nET")
        val (data, filter) =
          if (flate) {
            val d = new java.util.zip.Deflater()
            d.setInput(content); d.finish()
            val out = new ByteArrayOutputStream()
            val buf = new Array[Byte](4096)
            while (!d.finished()) out.write(buf, 0, d.deflate(buf))
            d.end()
            (out.toByteArray, " /Filter /FlateDecode")
          } else (content, "")
        objs += (latin(s"<< /Length ${data.length}$filter >>\nstream\n") ++ data ++
          latin("\nendstream"))
      }
      val out = new ByteArrayOutputStream()
      out.write(latin("%PDF-1.4\n"))
      val offsets = objs.zipWithIndex.map { case (body, i) =>
        val off = out.size()
        out.write(latin(s"${i + 1} 0 obj\n")); out.write(body); out.write(latin("\nendobj\n"))
        off
      }
      val xref = out.size()
      out.write(latin(s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"))
      offsets.foreach(o => out.write(latin(f"$o%010d 00000 n \n")))
      out.write(latin(s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n"))
      out.toByteArray
    }
  }

  // ---------------------------------------------------------------------
  // corpus_curation: multi-line pages with planted rule failures and dups
  // ---------------------------------------------------------------------

  final case class CurationDoc(docId: Long, source: String, text: String, kind: String)

  /** Language-id markers and Gopher stop words the pages plant on purpose
    * (the program's marker lists: en the/and/of/is, de der/und/die/ist,
    * es el/la/los/es, fr le/la/et/est; Gopher stops the/be/to/of/and/
    * that/have/with). */
  private val LangWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "die", "ist"),
    "es" -> Seq("el", "los", "es"),
    "fr" -> Seq("le", "et", "est"))
  private val ExtraStops = Seq("to", "with", "be", "have", "that")

  /** Page kinds and their share (per mille). `good` passes C4 and Gopher;
    * each other kind fails exactly one rule. The 8% passing share is the
    * program's measured rule-gate funnel (SCALING.md r12: 5,000 → 383 at
    * sf0.1, 8.0% at 5M docs). */
  val CurationKinds: Seq[(String, Int)] = Seq(
    "good" -> 80, "lorem" -> 153, "brace" -> 153, "fewsent" -> 153,
    "short" -> 153, "nostop" -> 154, "hashy" -> 154)

  /** Exact and near copies, per mille of the corpus. A copy duplicates a
    * uniformly drawn earlier page, so exact copies make up the same 0.5%
    * of the rule survivors, the share exact dedup drops in the measured
    * funnel (SCALING.md r12: 383 → 381). */
  val ExactCopies = 5
  val NearCopies = 5

  final case class Corpus(docs: IndexedSeq[CurationDoc], exactCopies: Int, nearCopies: Int) {
    def goodCount: Int = docs.count(_.kind == "good")
    /** Exact copies of a good page: they pass the rules and are the rows
      * exact dedup must drop. */
    def goodExactCopies: Int = docs.count(_.kind == "good") - docs.filter(_.kind == "good")
      .map(_.text.toLowerCase.split("\\s+").mkString(" ").trim).distinct.length
  }

  def curationCorpus(seed: Long, n: Int): Corpus = {
    val r = rng(seed, 2)
    val vocab = vocabulary(r, 3000)
    val positive = Set("src0", "src1", "src2")
    def line(lang: Seq[String], stop: Option[String], words: Int, src: String, end: String): String = {
      // positive sources favour the first 400 words: the NB classifier
      // then has a real signal to learn
      val base = Seq.fill(words) {
        if (positive(src) && r.nextInt(3) > 0) vocab(r.nextInt(400)) else vocab(r.nextInt(vocab.length))
      }.toBuffer
      base.insert(r.nextInt(base.length), lang(r.nextInt(lang.length)))
      stop.foreach { s =>
        base.insert(r.nextInt(base.length), lang(r.nextInt(lang.length)))
        base.insert(r.nextInt(base.length), s)
      }
      base.mkString(" ") + end
    }
    def punct(): String = Seq(".", "!", "?", ".")(r.nextInt(4))
    def page(kind: String, src: String): String = {
      val (langName, langMarkers) = LangWords(r.nextInt(LangWords.length))
      val nonStopLang = if (langName == "en") LangWords(1)._2 else langMarkers
      // line j carries Gopher stop word j mod 5, so every page that keeps
      // two lines has two distinct stop-word hits
      def stop(j: Int) = Some(ExtraStops(j % ExtraStops.length))
      val good = (0 until 7 + r.nextInt(3)).map(j => line(langMarkers, stop(j), 8 + r.nextInt(4), src, punct()))
      val dropped = Seq.fill(r.nextInt(2))(line(langMarkers, stop(0), 6, src, "")) ++
        (if (r.nextInt(4) == 0) Seq("Please enable javascript to view this page.") else Nil)
      def mix(ls: Seq[String]): String = {
        val b = ls.toBuffer
        dropped.foreach(d => b.insert(1 + r.nextInt(b.length), d))
        b.mkString("\n")
      }
      kind match {
        case "good" => mix(good)
        case "lorem" => mix(good :+ "lorem ipsum dolor sit amet.")
        case "brace" => mix(good :+ "function init() { return state; }")
        case "fewsent" => (good.take(3) ++ good.drop(3).map(_.dropRight(1))).mkString("\n")
        case "short" => (0 until 5).map(j => line(langMarkers, stop(j), 2, src, punct())).mkString("\n")
        case "nostop" => (0 until 8).map(_ => line(nonStopLang, None, 9, src, punct())).mkString("\n")
        case "hashy" => mix(good.map(l => l.dropRight(1) + " #" + vocab(r.nextInt(vocab.length)) +
          " #" + vocab(r.nextInt(vocab.length)) + l.takeRight(1)))
      }
    }
    val total = CurationKinds.map(_._2).sum
    val docs = ArrayBuffer.empty[CurationDoc]
    var exact = 0
    var near = 0
    for (i <- 0 until n) {
      val id = 1L + i
      val roll = r.nextInt(1000)
      if (docs.nonEmpty && roll < ExactCopies) {
        val orig = docs(r.nextInt(docs.length))
        docs += orig.copy(docId = id, source = s"src${r.nextInt(20)}")
        exact += 1
      } else if (docs.nonEmpty && roll < ExactCopies + NearCopies) {
        // near copy: one vocabulary word of the first line swapped (the
        // first line is always one the rules keep, so the copy stays
        // distinct after cleaning)
        val orig = docs(r.nextInt(docs.length))
        val ls = orig.text.split("\n", -1)
        val ws = ls(0).split(" ", -1)
        val at = ws.indices.filter(j => vocab.contains(ws(j)))
        ws(at(r.nextInt(at.length))) = vocab(r.nextInt(vocab.length))
        ls(0) = ws.mkString(" ")
        val t = ls.mkString("\n")
        docs += CurationDoc(id, s"src${r.nextInt(20)}", t, orig.kind)
        near += 1
      } else {
        var pick = r.nextInt(total)
        val kind = CurationKinds.find { case (_, w) => pick -= w; pick < 0 }.get._1
        val src = s"src${r.nextInt(20)}"
        docs += CurationDoc(id, src, page(kind, src), kind)
      }
    }
    Corpus(docs.toIndexedSeq, exact, near)
  }

  // ---------------------------------------------------------------------
  // index_ingest: base corpus + arrival batches with planted duplicates
  // ---------------------------------------------------------------------

  /** Embedding width: the repo's synthetic embedding width. */
  val VecDim = 64

  final case class IngestBase(docs: IndexedSeq[(Long, String)], vecs: IndexedSeq[(Long, Array[Float])],
                              vocab: Array[String], centers: Array[Array[Float]])

  /** Arrival batch: docs with a planted kind (fresh / exact / near) and
    * vectors with a planted kind (fresh / exact / flipped). */
  final case class Batch(id: Long, docs: IndexedSeq[(Long, String, String)],
                         vecs: IndexedSeq[(Long, Array[Float], String)])

  def ingestBase(seed: Long, nDocs: Int, nVecs: Int): IngestBase = {
    val r = rng(seed, 3)
    val vocab = vocabulary(r, 6000)
    val docs = (1 to nDocs).map(i => (i.toLong, randomText(r, vocab)))
    val centers = Array.fill(32)(Array.fill(VecDim)((r.nextDouble() * 2 - 1).toFloat))
    val vecs = (1 to nVecs).map(i => (i.toLong, noisy(r, centers(r.nextInt(centers.length)))))
    IngestBase(docs, vecs, vocab, centers)
  }

  private def randomText(r: SplittableRandom, vocab: Array[String]): String =
    Seq.fill(40 + r.nextInt(40))(vocab(r.nextInt(vocab.length))).mkString(" ")

  private def noisy(r: SplittableRandom, c: Array[Float]): Array[Float] =
    c.map(x => (x + (r.nextDouble() * 2 - 1) * 0.8).toFloat)

  /** Batch `b` of `size` arrivals: 60% fresh, 20% exact copies, 20% near
    * copies (two words replaced) of base-corpus documents; vectors likewise
    * 60% fresh, 20% exact copies of base vectors, 20% copies with dims 1–8
    * negated. Ids are disjoint from the base and from every other batch. */
  def batch(seed: Long, base: IngestBase, b: Long, size: Int): Batch = {
    val r = rng(seed, 1000 + b)
    val pool = base.docs
    val docs = (0 until size).map { i =>
      val id = 10000000L + b * 10000 + i
      r.nextInt(10) match {
        case 0 | 1 => (id, pool(r.nextInt(pool.length))._2, "exact")
        case 2 | 3 =>
          val ws = pool(r.nextInt(pool.length))._2.split(" ")
          ws(r.nextInt(ws.length)) = base.vocab(r.nextInt(base.vocab.length))
          ws(r.nextInt(ws.length)) = base.vocab(r.nextInt(base.vocab.length))
          (id, ws.mkString(" "), "near")
        case _ => (id, randomText(r, base.vocab), "fresh")
      }
    }
    val vecs = (0 until size).map { i =>
      val id = 10000000L + b * 10000 + i
      r.nextInt(10) match {
        case 0 | 1 => (id, base.vecs(r.nextInt(base.vecs.length))._2.clone(), "exact")
        case 2 | 3 =>
          val v = base.vecs(r.nextInt(base.vecs.length))._2.clone()
          for (d <- 0 until 8) v(d) = -v(d)
          (id, v, "flipped")
        case _ => (id, noisy(r, base.centers(r.nextInt(base.centers.length))), "fresh")
      }
    }
    Batch(b, docs, vecs)
  }
}
