package graft.tokenize

import graft.functions.{Modality, Strings}
import graft.model._

/** The extraction kernel: one raw document -> ordered extracted spans.
  *
  * Raw kinds handled (SURVEY.md §2.1 multi-format factory,
  * reference src/preprocessing/file_factory.py / base_processor.py:22-50):
  *   html      -> boilerplate-stripped heading/text spans
  *   pdf_text  -> reading-order text blocks (PageImage.text_content analog,
  *                reference src/preprocessing/pdf_processor.py:519-531)
  *   table_raw -> row-major table_cell spans (table_types.py:135-168 order)
  *   media     -> figure span carrying media_ref only (blob never inlined)
  *   edi       -> per-segment text spans (edi_processor.py segment split)
  *   docx, sheet, dicom -> paragraph text, CSV cells, tag lines + pixel figure
  *   other     -> error span (total function; errors become data, not throws)
  *
  * Offsets are assigned INSIDE the kernel as the output ordinal — never from
  * row order after a shuffle (SURVEY.md §7.4 span-order determinism).
  *
  * Pure and deterministic. A `Kernel` walks a document's raw spans once:
  * each kind's scanner splits, cleans and normalizes its text in one pass
  * and appends the spans straight into the kernel's buffer, and the same
  * walk counts errors, words, tables and media quality. `extractPartition`
  * makes one `Kernel` per partition (north-rule mandate: reusable parser
  * per partition), so its builders and tables are allocated once.
  */
object SpanTokenizer {

  final case class Config(
      boilerplate: Boilerplate.Config = Boilerplate.Config(),
      pathTag: String = "tokenize:v1")

  val default: Config = Config()
  /** Alternate "pass-2" settings for the dual-pass reconcile demo. */
  val pass2: Config = Config(
    boilerplate = Boilerplate.Config(linkDensityThreshold = 0.5, minWords = 2),
    pathTag = "tokenize:v2")

  private val headingMax = 60
  /** Spans kept per document; the rest of a runaway doc is dropped. */
  private val maxSpansPerDoc = 1 << 20

  /** (shard, index) parsed from a DocGen media_ref
    * ("s3://graft-corpus/media/<shard>/<doc>_<i>.png"); (0, 0) for foreign
    * refs. The stub decoders key off these numbers with plain arithmetic so
    * the DuckDB oracle can re-derive every stubbed metric from the ref
    * string (graft.OracleX mirrors the formulas).
    */
  private[graft] def refNums(mediaRef: String): (Long, Long) = {
    if (mediaRef == null) return (0L, 0L)
    def numAfter(from: Int, until: Int): Long = {
      var v = 0L; var any = false; var i = from
      while (i < until) {
        val c = mediaRef.charAt(i)
        if (c >= '0' && c <= '9') { v = v * 10 + (c - '0'); any = true } else return if (any) v else 0L
        i += 1
      }
      if (any) v else 0L
    }
    val m = mediaRef.indexOf("/media/")
    val shard = if (m < 0) 0L else numAfter(m + 7, mediaRef.length)
    val us = mediaRef.lastIndexOf('_')
    val dot = mediaRef.lastIndexOf('.')
    val idx = if (us >= 0 && dot > us) numAfter(us + 1, dot) else 0L
    (shard, idx)
  }

  /** FALLBACK — metadata-derived quality metrics (no pixel decode). This is
    * the fast path the in-kernel modality heuristic uses: deterministic
    * per-media metrics from the media_ref's (shard, index) so modality
    * logic, Spark plumbing AND the SQL oracle all see the same values
    * without paying a codec pass per media span inside the tokenizer.
    * REAL pixel-decoded quality lives in ImageKernels.decodePng +
    * ImageKernels.qualityOf (the x29 surface, image_enhancer.py:855-928):
    * PNG bytes through `javax.imageio`, then mean/std/Laplacian-variance on
    * the decoded pixels.
    */
  def fakeDecodeQuality(mediaRef: String): QualityMetrics = {
    val (s, i) = refNums(mediaRef)
    val blur = ((s * 97 + i * 31) % 1000).toDouble   // variance-of-Laplacian analog
    val brightness = ((s * 53 + i * 11) % 256).toDouble
    val contrast = ((s * 29 + i * 7) % 128).toDouble
    QualityMetrics(blur, brightness, contrast)
  }

  /** STUB — media header decode (dimensions/format/frame count). Production
    * slots a real JVM decoder; the fake derives deterministic metadata from
    * the media_ref's (shard, index) so the Spark-side plumbing (schema,
    * per-partition decoder reuse, batch shape) is real, testable and
    * oracle-reproducible without image libs.
    */
  final case class MediaMeta(width: Int, height: Int, format: String, nFrames: Int)

  def fakeDecodeMeta(mediaRef: String): MediaMeta = {
    val (s, i) = refNums(mediaRef)
    val width = 320 + ((s * 17 + i * 41) % 3777).toInt   // 320..4096
    val height = 240 + ((s * 23 + i * 13) % 2921).toInt  // 240..3160
    val format = (((s + i) % 4).toInt: @unchecked) match {
      case 0 => "png"; case 1 => "jpg"; case 2 => "tiff"; case 3 => "mp4"
    }
    val nFrames = if (format == "mp4") 30 + ((s * 7 + i) % 3571).toInt else 1
    MediaMeta(width, height, format, nFrames)
  }

  /** STUB — fax-signal stream inspection (pdf_processor.py:561-629):
    * production reads the XObject dictionaries for BitsPerComponent 1 /
    * CCITTFaxDecode / JBIG2Decode; the fake derives the flags from the
    * media_ref's (shard, index) so the Spark plumbing and the SQL oracle
    * agree. Signal tokens and the is_ccitt = ccitt-or-jbig2 folding mirror
    * the reference exactly.
    */
  final case class FaxSignals(isOneBit: Boolean, isCcitt: Boolean, signals: Seq[String])

  def fakeInspectStreams(mediaRef: String): FaxSignals = {
    val (s, i) = refNums(mediaRef)
    val oneBit = (s + 3 * i) % 5 == 0
    val ccitt = (s + 2 * i) % 7 == 0
    val jbig2 = (s + i) % 11 == 0
    val signals = (if (oneBit) Seq("1-bit-image") else Nil) ++
      (if (ccitt) Seq("ccitt-fax-encoded") else Nil) ++
      (if (jbig2) Seq("jbig2-encoded") else Nil)
    FaxSignals(oneBit, ccitt || jbig2, signals)
  }

  /** Resize-to-fit plan preserving aspect ratio (max side -> target). */
  def resizeFit(w: Int, h: Int, target: Int): (Int, Int) = {
    if (w <= 0 || h <= 0) return (0, 0)
    if (w <= target && h <= target) return (w, h)
    if (w >= h) (target, math.max(1, math.round(h.toDouble * target / w).toInt))
    else (math.max(1, math.round(w.toDouble * target / h).toInt), target)
  }

  /** Uniform frame-sample indices: k frames evenly spaced over n. */
  def sampleFrames(n: Int, k: Int): Seq[Int] =
    if (n <= 0 || k <= 0) Seq.empty
    else if (n <= k) 0 until n
    else (0 until k).map(i => (i.toLong * n / k).toInt)

  /** Tokenize one document. Total: never throws; per-span failures become
    * error spans (error-channel mandate, SURVEY.md §2.1 PDF validation row).
    */
  def extract(doc: Doc, cfg: Config = default): ExtractedDoc = new Kernel(cfg).extract(doc)

  /** Per-partition iterator form for `mapPartitions`: one `Kernel` for all
    * the partition's docs.
    */
  def extractPartition(docs: Iterator[Doc], cfg: Config = default): Iterator[ExtractedDoc] = {
    val kernel = new Kernel(cfg)
    docs.map(kernel.extract)
  }

  /** The tokenizer with its scratch (span buffer, text builder, HTML
    * scanner tables), reused across documents; not thread-safe.
    */
  final class Kernel(cfg: Config) {
    private val out = new SpanBuffer(maxSpansPerDoc)
    private val html = new Boilerplate.Scanner
    private val path = Seq(cfg.pathTag)

    def extract(doc: Doc): ExtractedDoc = {
      // a null spans array (legal in a nullable parquet column) is an empty
      // doc and a null element yields no span, like a null text. parquet/
      // DocGen rows arrive offset-ordered: sort only when needed
      val spans = if (doc.spans == null) Nil else doc.spans
      val ordered = if (offsetOrdered(spans)) spans else spans.filter(_ != null).sortBy(_.offset)
      out.clear()
      var hasTables = false
      var quality = List.empty[QualityMetrics]
      val it = ordered.iterator
      while (it.hasNext) {
        val raw = it.next()
        if (raw != null) {
          out.mark()
          try expand(raw)
          catch {
            case e: Exception =>
              out.rollback()
              out.add(SpanKind.Error, s"tokenize_failed:${e.getClass.getSimpleName}", "")
          }
          if (raw.kind == SpanKind.TableRaw) hasTables = true
          // every raw span carrying a media pointer contributes quality
          // metrics (plain media spans AND dicom pixel data)
          val ref = raw.media_ref
          if (ref != null && !ref.isEmpty) quality = fakeDecodeQuality(ref) :: quality
        }
      }
      val analysis = Modality.Analysis(
        hasTables = hasTables,
        textDensity = if (out.words < 50) "low" else "moderate")
      val modalities = Modality.deriveModalities(Some(analysis), quality.reverse)
      ExtractedDoc(doc.doc_id, out.result(), out.size, out.errors, modalities, path)
    }

    private def expand(raw: Span): Unit = raw.kind match {
      case SpanKind.Html => html.scan(raw.text, cfg.boilerplate, out)
      case SpanKind.PdfText => pdfBlocks(raw.text)
      case SpanKind.TableRaw => tableCells(raw.text)
      case SpanKind.Media => out.add(SpanKind.Figure, "", refOf(raw))
      case SpanKind.Edi => ediSegments(raw.text)
      // docx_processor.py:34-50: paragraphs become text lines; no heading
      // classification (layout understanding is the VLM's job there)
      case SpanKind.Docx => pieces(raw.text, SpanKind.Text, '\n')
      // spreadsheet_processor.py: CSV rows -> cells, blank cells dropped,
      // row-major order preserved
      case SpanKind.Sheet => pieces(raw.text, SpanKind.TableCell, ',')
      case SpanKind.Dicom =>
        // dicom_processor.py: patient/study tag=value metadata lines + the
        // pixel-data frames (here: one figure span carrying the pointer)
        pieces(raw.text, SpanKind.Text, '\n')
        out.add(SpanKind.Figure, "", refOf(raw))
      case other => out.add(SpanKind.Error, s"unsupported_kind:$other", "")
    }

    /** pdf_text blocks in reading order: the text split on blank lines (the
      * regex `\n\s*\n`), each block OCR-cleaned then whitespace-normalized;
      * short unpunctuated blocks become headings.
      */
    private def pdfBlocks(t: String): Unit = if (t != null) {
      val tb = out.text
      tb.reset()
      val n = t.length
      var i = 0
      while (i < n) {
        val c = t.charAt(i)
        if (Strings.ocrPlain(c)) {
          val from = i
          i += 1
          while (i < n && Strings.ocrPlain(t.charAt(i))) i += 1
          tb.append(t, from, i)
        } else if (c == '\n') {
          // the whitespace run from here splits blocks iff it holds another
          // '\n'; either way it adds nothing but a separator
          var r = i + 1
          var blank = false
          while (r < n && Strings.isWs(t.charAt(r))) { if (t.charAt(r) == '\n') blank = true; r += 1 }
          if (blank) { pdfBlock(); tb.reset() } else tb.space()
          i = r
        } else {
          // cleanup before normalizing: \u000B and \f are dropped, not
          // separators, inside a block
          if (!Strings.ocrDropped(c)) {
            if (Strings.isWs(c)) tb.space() else tb.char(Strings.ocrQuote(c))
          }
          i += 1
        }
      }
      pdfBlock()
    }

    private def pdfBlock(): Unit = {
      val tb = out.text
      if (tb.length > 0) {
        val last = tb.lastChar
        val heading = tb.length <= headingMax && tb.spaces <= 5 &&
          last != '.' && last != '!' && last != '?'
        out.addText(if (heading) SpanKind.Heading else SpanKind.Text)
      }
    }

    /** Row-major table cells: header and separator rows dropped, data and
      * total rows kept, each cell normalized, blank cells dropped.
      */
    private def tableCells(t: String): Unit =
      TableGrid.parse(t).rows.foreach { r =>
        // a cell holds no '\n', so it is one piece
        if (!r.isHeaderRow && !r.isSeparatorRow)
          r.cells.foreach(c => pieces(c.text, SpanKind.TableCell, '\n'))
      }

    /** EDI segments: split on `~` and trimmed, fields (split on `*`)
      * whitespace-normalized; blank segments dropped.
      */
    private def ediSegments(t: String): Unit = if (t != null) {
      val tb = out.text
      val n = t.length
      var s = 0
      while (s < n) {
        var e = t.indexOf('~', s)
        if (e < 0) e = n
        var a = s
        var b = e
        while (a < b && t.charAt(a) <= ' ') a += 1 // String.trim
        while (b > a && t.charAt(b - 1) <= ' ') b -= 1
        tb.reset()
        while (a < b) {
          val c = t.charAt(a)
          if (c == '*') tb.delimit('*') else if (Strings.isWs(c)) tb.space() else tb.char(c)
          a += 1
        }
        out.addText(SpanKind.Text)
        s = e + 1
      }
    }

    /** `kind` spans for the pieces of t between '\n's or `sep`s, each
      * whitespace-normalized; blank pieces dropped.
      */
    private def pieces(t: String, kind: String, sep: Char): Unit = if (t != null) {
      val tb = out.text
      tb.reset()
      var i = 0
      while (i < t.length) {
        val c = t.charAt(i)
        if (c == '\n' || c == sep) { out.addText(kind); tb.reset() }
        else if (Strings.isWs(c)) tb.space()
        else tb.char(c)
        i += 1
      }
      out.addText(kind)
    }
  }

  /** A null media_ref is absent, like an empty one. */
  private def refOf(raw: Span): String = if (raw.media_ref == null) "" else raw.media_ref

  /** Whether the non-null spans are in offset order. */
  private def offsetOrdered(spans: Seq[Span]): Boolean = {
    val it = spans.iterator
    var prev = Int.MinValue
    while (it.hasNext) {
      val s = it.next()
      val o = if (s == null) prev else s.offset
      if (o < prev) return false
      prev = o
    }
    true
  }

  /** Per-span provenance (reference src/pipeline/provenance.py:66-171 leaf:
    * page + bbox + source_block_id + extraction_path). Page and bbox follow
    * the synthesized corpus's deterministic rules (DocGen.spanPage/spanBbox,
    * id arithmetic — SQL-mirrorable, OracleX.x27); block ids use the
    * reference's `blk_p{page}_{idx}` form. The x24 IoU tiebreaker runs on
    * these span-attached boxes.
    */
  def provenanceOf(docId: String, span: Span, pathTag: String): Provenance = {
    val id = DocGen.docIdNum(docId)
    val page = DocGen.spanPage(span.offset)
    Provenance(page, DocGen.spanBbox(id, span.offset),
      s"blk_p${page}_${span.offset}", Seq(pathTag))
  }
}
