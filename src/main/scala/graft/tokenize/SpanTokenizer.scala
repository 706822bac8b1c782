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
  *   other     -> error span (total function; errors become data, not throws)
  *
  * Offsets are assigned INSIDE the kernel as the output ordinal — never from
  * row order after a shuffle (SURVEY.md §7.4 span-order determinism).
  *
  * Pure and deterministic; instances are reused per partition via
  * `mapPartitions` (north-rule mandate: reusable parser per partition).
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

  private val blankLineRe = java.util.regex.Pattern.compile("\\n\\s*\\n")
  private val starRe = java.util.regex.Pattern.compile("\\*")

  /** pdf_text blocks: split on blank lines, reading order preserved; short
    * unpunctuated blocks become headings. (Patterns precompiled — hot path.)
    */
  private def pdfBlocks(text: String): Seq[(String, String)] = {
    if (text == null || text.trim.isEmpty) return Seq.empty
    blankLineRe.split(text).toIndexedSeq
      .map(b => Strings.normalizeWhitespace(Strings.cleanOcrText(b)))
      .filter(_.nonEmpty)
      .map { b =>
        // b is whitespace-normalized: words = spaces + 1
        var spaces = 0
        var i = 0
        while (i < b.length) { if (b.charAt(i) == ' ') spaces += 1; i += 1 }
        val last = b.charAt(b.length - 1)
        val heading = b.length <= headingMax && spaces <= 5 &&
          last != '.' && last != '!' && last != '?'
        (if (heading) SpanKind.Heading else SpanKind.Text, b)
      }
  }

  /** EDI segments: split on `~`, fields on `*`, re-joined normalized. */
  private def ediSegments(text: String): Seq[String] =
    if (text == null || text.trim.isEmpty) Seq.empty
    else text.split('~').toIndexedSeq
      .map(_.trim).filter(_.nonEmpty)
      .map(seg => starRe.split(seg, -1).map(Strings.normalizeWhitespace).mkString("*"))

  /** Expand one raw span into extracted (kind, text, media_ref) triples. */
  def expandRaw(raw: Span, cfg: Config): Seq[(String, String, String)] = raw.kind match {
    case SpanKind.Html =>
      Boilerplate.mainContent(raw.text, cfg.boilerplate).map { case (k, t) => (k, t, "") }
    case SpanKind.PdfText =>
      pdfBlocks(raw.text).map { case (k, t) => (k, t, "") }
    case SpanKind.TableRaw =>
      TableGrid.cellTexts(TableGrid.parse(raw.text))
        .filter(_.nonEmpty)
        .map(t => (SpanKind.TableCell, t, ""))
    case SpanKind.Media =>
      Seq((SpanKind.Figure, "", raw.media_ref))
    case SpanKind.Edi =>
      ediSegments(raw.text).map(t => (SpanKind.Text, t, ""))
    case SpanKind.Docx =>
      // docx_processor.py:34-50: paragraphs become text lines; no heading
      // classification (layout understanding is the VLM's job there)
      if (raw.text == null) Seq.empty
      else raw.text.split('\n').toIndexedSeq
        .map(Strings.normalizeWhitespace).filter(_.nonEmpty)
        .map(t => (SpanKind.Text, t, ""))
    case SpanKind.Sheet =>
      // spreadsheet_processor.py: CSV rows -> cells, blank cells dropped,
      // row-major order preserved
      if (raw.text == null) Seq.empty
      else raw.text.split('\n').toIndexedSeq.filter(_.nonEmpty)
        .flatMap(_.split(',').toIndexedSeq
          .map(Strings.normalizeWhitespace).filter(_.nonEmpty))
        .map(t => (SpanKind.TableCell, t, ""))
    case SpanKind.Dicom =>
      // dicom_processor.py: patient/study tag=value metadata lines + the
      // pixel-data frames (here: one figure span carrying the pointer)
      val tags =
        if (raw.text == null) Seq.empty
        else raw.text.split('\n').toIndexedSeq
          .map(Strings.normalizeWhitespace).filter(_.nonEmpty)
          .map(t => (SpanKind.Text, t, ""))
      tags :+ ((SpanKind.Figure, "", raw.media_ref))
    case other =>
      Seq((SpanKind.Error, s"unsupported_kind:$other", ""))
  }

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
    * the decoded pixels. All seven enhancement kernels
    * (graft.functions.ImageKernels: Otsu, opening, despeckle, orientation,
    * deskew, NLM denoise, CLAHE) are real algorithms and run on decoded
    * pixels in specs and on synthetic grids in the plan queries.
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
  def extract(doc: Doc, cfg: Config = default): ExtractedDoc = {
    // fast path: parquet/DocGen rows arrive offset-ordered — skip the
    // per-doc sort allocation unless an out-of-order span is actually seen
    val ordered = doc.spans match {
      case s: scala.collection.IndexedSeq[Span] =>
        var sorted = true
        var i = 1
        while (sorted && i < s.length) {
          if (s(i).offset < s(i - 1).offset) sorted = false
          i += 1
        }
        if (sorted) s else s.sortBy(_.offset)
      case s => s.sortBy(_.offset)
    }
    val out = Seq.newBuilder[Span]
    var n = 0
    var errors = 0
    ordered.foreach { raw =>
      val expanded =
        try expandRaw(raw, cfg)
        catch {
          case e: Exception => Seq((SpanKind.Error, s"tokenize_failed:${e.getClass.getSimpleName}", ""))
        }
      expanded.foreach { case (k, t, m) =>
        if (n < maxSpansPerDoc) {
          if (k == SpanKind.Error) errors += 1
          out += Span(k, t, m, n)
          n += 1
        }
      }
    }
    val spans = out.result()
    // every raw span carrying a media pointer contributes quality metrics
    // (plain media spans AND dicom pixel data)
    val mediaRefs = ordered.filter(_.media_ref.nonEmpty).map(_.media_ref)
    val quality = mediaRefs.map(fakeDecodeQuality)
    val totalWords = spans.iterator.filter(s => s.kind == SpanKind.Text || s.kind == SpanKind.Heading)
      .map(s => s.text.count(_ == ' ') + 1).sum
    val analysis = Modality.Analysis(
      hasTables = ordered.exists(_.kind == SpanKind.TableRaw),
      textDensity = if (totalWords < 50) "low" else "moderate")
    val modalities = Modality.deriveModalities(Some(analysis), quality)
    ExtractedDoc(doc.doc_id, spans, spans.length, errors, modalities, Seq(cfg.pathTag))
  }

  /** Per-partition iterator form for `mapPartitions` (no per-row setup). */
  def extractPartition(docs: Iterator[Doc], cfg: Config = default): Iterator[ExtractedDoc] =
    docs.map(extract(_, cfg))

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
