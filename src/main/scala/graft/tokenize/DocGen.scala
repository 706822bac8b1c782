package graft.tokenize

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{format_string, substring}
import graft.functions.Hashing
import graft.model.{Doc, Span, SpanKind}

/** Deterministic synthesis of the north-rule interleaved text+media input
  * table (FIXTURES.md §1): every document is a pure function of
  * (doc_id, seed text), no RNG state, no wall clock — so the same doc_id
  * always produces the same raw spans at any scale factor and any
  * parallelism. Used to derive the extraction input from the driver-provided
  * `documents` table and to generate standalone bench corpora.
  *
  * All STRUCTURAL choices (payload mix, table quantities/amounts, media
  * shards, EDI control numbers, mega factor) are simple arithmetic on the
  * NUMERIC doc id — deliberately SQL-expressible, so the DuckDB oracle can
  * re-derive every extracted span from the `documents` table alone and the
  * driver machine-checks span-sequence equality end-to-end (the north-rule
  * invariant). graft.OracleX mirrors these formulas; keep them in sync.
  */
object DocGen {

  /** Deterministic pseudo-random stream from a key (free-text synthesis in
    * syntheticDoc only — never for structure the oracle must re-derive).
    */
  private def h(key: String, salt: Int): Long = Hashing.seededHash(Hashing.fnv1a64(key), salt)

  private def chunk(words: IndexedSeq[String], size: Int): Seq[Seq[String]] =
    if (words.isEmpty) Seq.empty else words.grouped(size).toSeq

  def docIdStr(id: Long): String = f"doc_$id%09d"

  /** docIdStr as a Column over a numeric id column (the same format string,
    * which the DuckDB oracle spells `printf('doc_%09d', ...)`).
    */
  def docIdStr(c: Column): Column = format_string("doc_%09d", c)

  /** Build an HTML raw span: nav/footer boilerplate around real paragraphs
    * with a heading — exercises the text-density + link-density classifier.
    */
  def htmlPayload(words: IndexedSeq[String]): String = {
    val title = words.take(3).mkString(" ")
    val paras = chunk(words.drop(3), 12)
      .map(ws => s"<p>${ws.mkString(" ")}</p>").mkString
    s"""<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>""" +
      s"<h1>$title</h1>" + paras +
      s"""<div><a href="/more">Read more</a></div>""" +
      s"""<footer><a href="/privacy">Privacy</a> (c) example</footer>"""
  }

  /** Build a pdf_text raw span: heading + blank-line-separated paragraphs. */
  def pdfPayload(words: IndexedSeq[String]): String = {
    val heading = words.take(4).mkString(" ").toUpperCase
    val paras = chunk(words.drop(4), 15).map(_.mkString(" ") + ".")
    (heading +: paras).mkString("\n\n")
  }

  /** Table quantity/amount formulas — id arithmetic (OracleX mirrors). */
  def tableQty(id: Long, i: Int): Int = ((id * 31 + i * 17) % 9 + 1).toInt
  def tableAmtCents(id: Long, i: Int): Int = ((id * 97 + i * 57) % 90000 + 100).toInt

  /** Build a table_raw grid: header, separator, data rows with deterministic
    * quantities/amounts, and a total row.
    */
  def tablePayload(id: Long, words: IndexedSeq[String]): String = {
    val items = words.take(4).padTo(2, "item")
    val rows = items.zipWithIndex.map { case (w, i) =>
      (w, tableQty(id, i), tableAmtCents(id, i))
    }
    val totalQty = rows.map(_._2).sum
    val totalAmt = rows.map(_._3).sum
    val dataLines = rows.map { case (w, q, a) => f"$w|$q|$$${a / 100}%d.${a % 100}%02d" }
    (Seq("H:item|qty|amount", "S:---|---|---") ++ dataLines :+
      f"T:total|$totalQty|$$${totalAmt / 100}%d.${totalAmt % 100}%02d").mkString("\n")
  }

  def mediaShard(id: Long, i: Int): Long = (id * 131 + i * 7) % 1000

  def mediaRef(id: Long, i: Int): String =
    s"s3://graft-corpus/media/${mediaShard(id, i)}/${docIdStr(id)}_$i.png"

  /** The media blob behind a ref, as REAL PNG bytes: the deterministic
    * synthetic page for the ref's (shard, index) encoded through the JDK's
    * own PNG codec. This is the storage-fetch stand-in (north rule: no
    * external data) — the decode side (ImageKernels.decodePng, x29) runs a
    * real `javax.imageio` round-trip on it, and because PNG is lossless the
    * decoded pixels equal the page arithmetic the SQL oracle re-derives.
    */
  def mediaPngBytes(shard: Long, index: Long): Array[Byte] =
    graft.functions.ImageKernels.encodePng(
      graft.functions.ImageKernels.syntheticPage(shard, index))

  def ediCtl(id: Long): Long = (id * 1009 + 7) % 1000000000L

  def ediPayload(id: Long): String =
    s"ISA*00*${ediCtl(id)}~GS*HP*SENDER*RECEIVER~CLP*${docIdStr(id)}*1*150.00*120.00~SE*4*0001~"

  /** DOCX analog: paragraph texts separated by newlines (docx_processor.py
    * extracts document.xml paragraphs as text lines).
    */
  def docxPayload(words: IndexedSeq[String]): String =
    chunk(words.drop(2), 10).map(_.mkString(" ")).mkString("\n")

  /** Spreadsheet analog: CSV rows of 5 cells from the first 15 words
    * (spreadsheet_processor.py reads CSV rows; blank rows dropped).
    */
  def sheetPayload(words: IndexedSeq[String]): String =
    chunk(words.take(15), 5).map(_.mkString(",")).mkString("\n")

  /** DICOM analog: tag=value metadata lines + a pixel-data media pointer
    * (dicom_processor.py extracts patient/study tags and pixel frames).
    */
  def dicomPayload(id: Long, words: IndexedSeq[String]): String = {
    val modality = Seq("CT", "MR", "XR")((id % 3).toInt)
    val studyDate = java.time.LocalDate.of(2021, 1, 1).plusDays(id % 365)
    s"patient_name=${words.take(2).mkString(" ")}\nmodality=$modality\nstudy_date=$studyDate"
  }

  /** Mega-document factor: every 997th doc gets a 100x span tail to exercise
    * skew handling (FIXTURES.md §1 skew case).
    */
  def megaFactor(id: Long): Int = if (id % 997 == 0) 100 else 1

  /** Per-span provenance arithmetic (reference Provenance leaf,
    * src/pipeline/provenance.py:66-171): the synthesized corpus assigns
    * pages by a fixed 15-extracted-spans-per-page rule and normalized
    * bboxes by id+offset arithmetic — deliberately SQL-expressible so the
    * DuckDB oracle re-derives the whole provenance surface (OracleX.x27).
    */
  def spanPage(offset: Int): Int = offset / 15 + 1

  def spanBbox(id: Long, offset: Int): graft.model.Bbox = {
    val x1 = ((id * 7 + offset * 13) % 80) / 100.0
    val y1 = ((id * 11 + offset * 3) % 80) / 100.0
    graft.model.Bbox(x1, y1, x1 + 0.15, y1 + 0.08)
  }

  /** Numeric id back out of a docIdStr ("doc_%09d"); 0 for foreign ids. */
  def docIdNum(docId: String): Long =
    try docId.stripPrefix("doc_").toLong catch { case _: Exception => 0L }

  /** docIdNum as a Column over a docIdStr column (the nine digits after
    * "doc_"); the query layer and the review sink derive id arithmetic
    * from their string doc_id columns through it.
    */
  def docIdNum(c: Column): Column = substring(c, 5, 9).cast("long")

  /** Synthesize the raw interleaved document for (doc_id, seed text). */
  def synthesize(id: Long, seedText: String): Doc = {
    val words = graft.functions.Strings.splitWs(seedText).toIndexedSeq
    val w = if (words.isEmpty) IndexedSeq("empty", "document", "body") else words
    val spans = Seq.newBuilder[Span]
    var off = 0
    def add(kind: String, text: String, media: String): Unit = {
      spans += Span(kind, text, media, off)
      off += 1
    }
    val mix = id % 6
    add(SpanKind.Html, htmlPayload(w), "")
    if (mix <= 3) add(SpanKind.PdfText, pdfPayload(w.drop(5)), "")
    if (mix % 2 == 0) add(SpanKind.TableRaw, tablePayload(id, w), "")
    if (mix % 3 == 0) add(SpanKind.Media, "", mediaRef(id, 0))
    if (mix == 5) add(SpanKind.Edi, ediPayload(id), "")
    if (id % 7 == 3) add(SpanKind.Docx, docxPayload(w), "")
    if (id % 7 == 5) add(SpanKind.Sheet, sheetPayload(w), "")
    if (id % 11 == 7) add(SpanKind.Dicom, dicomPayload(id, w), mediaRef(id, 200))
    val factor = megaFactor(id)
    if (factor > 1) {
      var i = 0
      while (i < factor) {
        add(SpanKind.PdfText, pdfPayload(w), "")
        if (i % 10 == 0) add(SpanKind.Media, "", mediaRef(id, i + 1))
        i += 1
      }
    }
    Doc(docIdStr(id), spans.result())
  }

  private val loremWords: IndexedSeq[String] =
    ("the data pipeline reads every document and writes ordered spans with " +
      "provenance for each page table cell and figure while the optimizer " +
      "prunes columns and pushes filters into the scan so that large batch " +
      "jobs finish quickly even when a few documents are pathologically big")
      .split(" ").toIndexedSeq

  /** Standalone corpus doc (bench/fixtures): deterministic text from id. */
  def syntheticDoc(i: Long): Doc = {
    val id = docIdStr(i)
    val n = (math.abs(h(id, 7)) % 120 + 20).toInt
    val start = (math.abs(h(id, 8)) % loremWords.length).toInt
    val text = (0 until n).map(k => loremWords((start + k) % loremWords.length)).mkString(" ")
    synthesize(i, text)
  }

  /** Skewed bench corpus (FIXTURES.md §5 bench-skewed): every 4096th doc is
    * a pathological ~2000-page mega-document of raw weight ~1.2 MB. That is
    * below ExtractJob's default heavyWeight (5M), so the benches that run
    * this corpus pass `heavyWeight = 200000` to exercise the isolation path;
    * every other doc is syntheticDoc's and stays light under either.
    */
  def syntheticSkewedDoc(i: Long): Doc = {
    val base = syntheticDoc(i)
    if (i % 4096 != 0) base
    else {
      val start = (math.abs(h(base.doc_id, 11)) % loremWords.length).toInt
      val words = (0 until 80).map(k => loremWords((start + k) % loremWords.length))
      val extra = (0 until 2000).map { j =>
        Span(SpanKind.PdfText, pdfPayload(words.drop(j % 17)), "",
          base.spans.length + j)
      }
      Doc(base.doc_id, base.spans ++ extra)
    }
  }
}
