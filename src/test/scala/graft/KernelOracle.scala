package graft

import graft.functions.{Modality, Strings, TextAnalysis}
import graft.model._
import graft.tokenize.{Boilerplate, SpanTokenizer}

/** The tokenizer's staged formulation, kept as the oracle of the one-pass
  * kernel: every raw span expands to a `(kind, text, media_ref)` list
  * (regex splits, then cleanup, then normalization, one string per stage),
  * and HTML goes through the regex formulation written in the `Boilerplate`
  * scaladoc. `extract` assembles an `ExtractedDoc` from those lists the way
  * the staged kernel did, except that a null media_ref counts as absent.
  */
object KernelOracle {

  // --- HTML: the regex formulation -------------------------------------

  final case class Block(tag: String, text: String, linkDensity: Double, words: Int)

  private val blockRe = java.util.regex.Pattern.compile(
    "(?is)<(nav|footer|header|h[1-6]|p|li|div)\\b[^>]*>(.*?)</\\1>")
  private val anchorRe = java.util.regex.Pattern.compile("(?is)<a\\b[^>]*>(.*?)</a>")
  private val tagRe = java.util.regex.Pattern.compile("(?s)<[^>]*>")

  private def decodeEntities(s: String): String =
    s.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&nbsp;", " ")

  private def stripTags(html: String): String =
    Strings.normalizeWhitespace(decodeEntities(tagRe.matcher(html).replaceAll(" ")))

  /** cleanOcrText(stripTags(inner)), except that zero-width chars vanish
    * before whitespace collapses (the documented divergence): \u000B and
    * \f are whitespace to stripTags, so they become spaces before cleanup.
    */
  private def blockText(inner: String): String = Strings.normalizeWhitespace(
    Strings.cleanOcrText(decodeEntities(tagRe.matcher(inner).replaceAll(" "))
      .replace('\u000B', ' ').replace('\f', ' ')))

  def blocks(html: String): Seq[Block] = {
    if (html == null || html.isEmpty) return Seq.empty
    val out = Seq.newBuilder[Block]
    val m = blockRe.matcher(html)
    while (m.find()) {
      val inner = m.group(2)
      if (!blockRe.matcher(inner).find()) {
        val text = blockText(inner)
        val a = anchorRe.matcher(inner)
        val linkTexts = Seq.newBuilder[String]
        while (a.find()) linkTexts += stripTags(a.group(1))
        val linkText = linkTexts.result().mkString(" ")
        val tChars = text.length
        val lChars = math.min(linkText.length, tChars)
        val density = if (tChars == 0) 1.0 else lChars.toDouble / tChars
        out += Block(m.group(1).toLowerCase, text, density, TextAnalysis.tokenCountWs(text))
      }
    }
    out.result()
  }

  private def isHeading(b: Block): Boolean = b.tag.length == 2 && b.tag.charAt(0) == 'h'

  private def isBoilerplate(b: Block, cfg: Boilerplate.Config): Boolean = {
    if (b.tag == "nav" || b.tag == "footer" || b.tag == "header") return true
    if (b.text.isEmpty) return true
    if (b.linkDensity > cfg.linkDensityThreshold) return true
    !isHeading(b) && b.words < cfg.minWords
  }

  def mainContent(html: String, cfg: Boilerplate.Config = Boilerplate.Config()): Seq[(String, String)] =
    blocks(html).filterNot(isBoilerplate(_, cfg)).map { b =>
      (if (isHeading(b)) "heading" else "text", b.text)
    }

  // --- the other kinds: the staged helpers -----------------------------

  private val blankLineRe = java.util.regex.Pattern.compile("\\n\\s*\\n")
  private val starRe = java.util.regex.Pattern.compile("\\*")
  private val pipeRe = java.util.regex.Pattern.compile("\\|")

  private def pdfBlocks(text: String): Seq[(String, String)] = {
    if (text == null || text.trim.isEmpty) return Seq.empty
    blankLineRe.split(text).toIndexedSeq
      .map(b => Strings.normalizeWhitespace(Strings.cleanOcrText(b)))
      .filter(_.nonEmpty)
      .map { b =>
        val spaces = b.count(_ == ' ')
        val last = b.charAt(b.length - 1)
        val heading = b.length <= 60 && spaces <= 5 &&
          last != '.' && last != '!' && last != '?'
        (if (heading) SpanKind.Heading else SpanKind.Text, b)
      }
  }

  private def ediSegments(text: String): Seq[String] =
    if (text == null || text.trim.isEmpty) Seq.empty
    else text.split('~').toIndexedSeq
      .map(_.trim).filter(_.nonEmpty)
      .map(seg => starRe.split(seg, -1).map(Strings.normalizeWhitespace).mkString("*"))

  /** Data and total rows' cells, row-major, as the staged TableGrid parse
    * and cellTexts produced them.
    */
  private def tableCells(text: String): Seq[String] = {
    if (text == null || text.trim.isEmpty) return Seq.empty
    text.split('\n').toIndexedSeq.filter(_.nonEmpty).flatMap { line =>
      val (keep, body) =
        if (line.startsWith("H:") || line.startsWith("S:")) (false, "")
        else if (line.startsWith("T:")) (true, line.substring(2))
        else (true, line)
      if (!keep) Seq.empty
      else pipeRe.split(body, -1).toIndexedSeq.map(Strings.normalizeWhitespace)
    }
  }

  private def lines(text: String): Seq[String] =
    if (text == null) Seq.empty
    else text.split('\n').toIndexedSeq.map(Strings.normalizeWhitespace).filter(_.nonEmpty)

  private def ref(raw: Span): String = if (raw.media_ref == null) "" else raw.media_ref

  def expandRaw(raw: Span, cfg: SpanTokenizer.Config): Seq[(String, String, String)] = raw.kind match {
    case SpanKind.Html =>
      mainContent(raw.text, cfg.boilerplate).map { case (k, t) => (k, t, "") }
    case SpanKind.PdfText =>
      pdfBlocks(raw.text).map { case (k, t) => (k, t, "") }
    case SpanKind.TableRaw =>
      tableCells(raw.text).filter(_.nonEmpty).map(t => (SpanKind.TableCell, t, ""))
    case SpanKind.Media =>
      Seq((SpanKind.Figure, "", ref(raw)))
    case SpanKind.Edi =>
      ediSegments(raw.text).map(t => (SpanKind.Text, t, ""))
    case SpanKind.Docx =>
      lines(raw.text).map(t => (SpanKind.Text, t, ""))
    case SpanKind.Sheet =>
      if (raw.text == null) Seq.empty
      else raw.text.split('\n').toIndexedSeq.filter(_.nonEmpty)
        .flatMap(_.split(',').toIndexedSeq
          .map(Strings.normalizeWhitespace).filter(_.nonEmpty))
        .map(t => (SpanKind.TableCell, t, ""))
    case SpanKind.Dicom =>
      lines(raw.text).map(t => (SpanKind.Text, t, "")) :+ ((SpanKind.Figure, "", ref(raw)))
    case other =>
      Seq((SpanKind.Error, s"unsupported_kind:$other", ""))
  }

  def extract(doc: Doc, cfg: SpanTokenizer.Config = SpanTokenizer.default): ExtractedDoc = {
    val ordered = doc.spans.sortBy(_.offset)
    val spans = ordered.flatMap(expandRaw(_, cfg)).zipWithIndex.map {
      case ((k, t, m), i) => Span(k, t, m, i)
    }
    val quality = ordered.map(_.media_ref).filter(m => m != null && m.nonEmpty)
      .map(SpanTokenizer.fakeDecodeQuality)
    val totalWords = spans.filter(s => s.kind == SpanKind.Text || s.kind == SpanKind.Heading)
      .map(s => s.text.count(_ == ' ') + 1).sum
    val analysis = Modality.Analysis(
      hasTables = ordered.exists(_.kind == SpanKind.TableRaw),
      textDensity = if (totalWords < 50) "low" else "moderate")
    ExtractedDoc(doc.doc_id, spans, spans.length,
      spans.count(_.kind == SpanKind.Error),
      Modality.deriveModalities(Some(analysis), quality), Seq(cfg.pathTag))
  }
}
