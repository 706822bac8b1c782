package graft

import graft.model.{Doc, Span, SpanKind}
import graft.tokenize.{Boilerplate, DocGen, SpanBuffer, SpanTokenizer, TableGrid}
import org.scalatest.funsuite.AnyFunSuite

/** Golden span-sequence fixtures — the north-rule invariant is equality on
  * (kind, text, media_ref, order) per document (BASELINE.json input_hint).
  * Fixture truths are hand-derived from the documented reference semantics:
  * table row reconstruction order (table_types.py:135-168), reading-order
  * text blocks (pdf_processor.py:519-531), and published text-density
  * boilerplate classification.
  */
class TokenizeSpec extends AnyFunSuite {

  test("table grid parse + rowsAsMaps (table_to_rows_dict semantics)") {
    val grid = TableGrid.parse(
      "H:name|qty|amount\nS:---|---|---\nAlpha|2|$10.00\nBeta|3|$20.00\nT:Total|5|$30.00")
    assert(grid.headers == Seq("name", "qty", "amount"))
    assert(grid.columnCount == 3)
    val rows = TableGrid.rowsAsMaps(grid)
    // header + separator dropped, total KEPT (reference drops only header/separator)
    assert(rows == Seq(
      Map("name" -> "Alpha", "qty" -> "2", "amount" -> "$10.00"),
      Map("name" -> "Beta", "qty" -> "3", "amount" -> "$20.00"),
      Map("name" -> "Total", "qty" -> "5", "amount" -> "$30.00")))
  }

  test("table grid col_i fallback when no header row") {
    val grid = TableGrid.parse("a|b\nc|d")
    assert(TableGrid.rowsAsMaps(grid) == Seq(
      Map("col_0" -> "a", "col_1" -> "b"),
      Map("col_0" -> "c", "col_1" -> "d")))
  }

  test("boilerplate: link-density and chrome-tag classification") {
    val html =
      """<nav><a href="/">Home</a> <a href="/a">About</a></nav>""" +
        "<h1>Quarterly Report</h1>" +
        "<p>Revenue grew ten percent in the third quarter.</p>" +
        """<div><a href="/x">More</a></div>""" +
        "<footer>(c) corp</footer>"
    val main = Boilerplate.mainContent(html)
    assert(main == Seq(
      ("heading", "Quarterly Report"),
      ("text", "Revenue grew ten percent in the third quarter.")))
  }

  test("boilerplate: short blocks dropped, entities decoded") {
    val main = Boilerplate.mainContent(
      "<p>ok</p><p>Tom &amp; Jerry ran far away together</p>")
    assert(main == Seq(("text", "Tom & Jerry ran far away together")))
  }

  test("boilerplate: a container with a nested block is dropped with its children") {
    // scanning resumes after the container's close tag, so the inner <p>
    // is never matched on its own; only the following sibling survives
    val html = "<div><p>hello world foo bar</p></div><p>after block here now</p>"
    assert(KernelOracle.blocks(html) ==
      Seq(KernelOracle.Block("p", "after block here now", 0.0, 4)))
    assert(Boilerplate.mainContent(html) == Seq(("text", "after block here now")))
  }

  test("HTML scanner work is linear in the page, hostile inputs included") {
    val lorem = "lorem ipsum dolor sit amet consectetur adipiscing "
    def work(html: String): Long = {
      val scanner = new Boilerplate.Scanner
      val out = new SpanBuffer(Int.MaxValue)
      scanner.scan(html, Boilerplate.Config(), out)
      assert(out.size > 0)
      scanner.work
    }
    val inputs: Seq[(String, Int => String)] = Seq(
      "closed <p>" -> (n => s"<p>$lorem</p>" * n),
      "unclosed <p>" -> (n => s"<p>$lorem" * n + "<p>last block here</p>"),
      "unclosed <li>" -> (n => s"<li>$lorem" * n + "<li>last item here</li>"),
      "nested <div>" -> (n => "<div>" * n + "<p>inner block here</p>" + "</div>" * n +
        "<p>after block here</p>"),
      "unclosed <a> in one <p>" -> (n => "<p>" + s"<a href=x>$lorem" * n + "</p>"))
    inputs.foreach { case (name, page) =>
      val (w1, w2) = (work(page(2000)), work(page(4000)))
      assert(w2.toDouble / w1 <= 2.5, s"$name: work $w1 at n, $w2 at 2n")
      assert(w2 <= 8L * page(4000).length, s"$name: $w2 for ${page(4000).length} chars")
    }
  }

  test("a null media_ref counts as absent") {
    def doc(ref: String) = Doc("d", Seq(
      Span(SpanKind.Media, "", ref, 0), Span(SpanKind.PdfText, "Hello world.", ref, 1)))
    val out = SpanTokenizer.extract(doc(null))
    assert(out.spans == Seq(
      Span(SpanKind.Figure, "", "", 0), Span(SpanKind.Text, "Hello world.", "", 1)))
    assert(out == SpanTokenizer.extract(doc("")))
  }

  test("zero-width chars between whitespace collapse to one space (fused rule)") {
    // documented divergence from the staged regex pipeline, which left
    // "alpha  beta" (double space) here — see the Boilerplate scaladoc
    val main = Boilerplate.mainContent(
      "<p>alpha ​ beta gamma delta epsilon</p>")
    assert(main == Seq(("text", "alpha beta gamma delta epsilon")))
    // zero-width chars inside a word vanish without adding spacing
    val inWord = Boilerplate.mainContent(
      "<p>al﻿pha beta gamma delta epsilon</p>")
    assert(inWord == Seq(("text", "alpha beta gamma delta epsilon")))
  }

  test("golden span sequence for a mixed document") {
    val doc = Doc("doc_x", Seq(
      Span(SpanKind.Html,
        """<nav><a href="/">Home</a></nav><h1>Quarterly Report</h1>""" +
          "<p>Revenue grew ten percent in the third quarter.</p>" +
          """<div><a href="/x">More</a></div><footer>(c) corp</footer>""", "", 0),
      Span(SpanKind.PdfText,
        "SUMMARY\n\nThe quarter closed strong with growth across regions.", "", 1),
      Span(SpanKind.TableRaw, "H:item|qty\nS:--|--\nwidget|2\nT:total|2", "", 2),
      Span(SpanKind.Media, "", "s3://m/1.png", 3)))
    val out = SpanTokenizer.extract(doc)
    assert(out.spans == Seq(
      Span(SpanKind.Heading, "Quarterly Report", "", 0),
      Span(SpanKind.Text, "Revenue grew ten percent in the third quarter.", "", 1),
      Span(SpanKind.Heading, "SUMMARY", "", 2),
      Span(SpanKind.Text, "The quarter closed strong with growth across regions.", "", 3),
      Span(SpanKind.TableCell, "widget", "", 4),
      Span(SpanKind.TableCell, "2", "", 5),
      Span(SpanKind.TableCell, "total", "", 6),
      Span(SpanKind.TableCell, "2", "", 7),
      Span(SpanKind.Figure, "", "s3://m/1.png", 8)))
    assert(out.n_spans == 9 && out.n_errors == 0)
    assert(out.modalities.contains("printed") && out.modalities.contains("table"))
    assert(out.extraction_path == Seq("tokenize:v1"))
  }

  test("edi segments") {
    val doc = Doc("d", Seq(Span(SpanKind.Edi, "ISA*00* 123~CLP*x*1~", "", 0)))
    val out = SpanTokenizer.extract(doc)
    assert(out.spans == Seq(
      Span(SpanKind.Text, "ISA*00*123", "", 0),
      Span(SpanKind.Text, "CLP*x*1", "", 1)))
  }

  test("docx paragraphs become text spans (no heading classification)") {
    val doc = Doc("d", Seq(Span(SpanKind.Docx,
      "First paragraph of the letter\n\nSecond  paragraph here", "", 0)))
    val out = SpanTokenizer.extract(doc)
    assert(out.spans == Seq(
      Span(SpanKind.Text, "First paragraph of the letter", "", 0),
      Span(SpanKind.Text, "Second paragraph here", "", 1)))
  }

  test("sheet CSV rows become row-major table cells, blanks dropped") {
    val doc = Doc("d", Seq(Span(SpanKind.Sheet, "a,b,c\n\nd,,f", "", 0)))
    val out = SpanTokenizer.extract(doc)
    assert(out.spans.map(s => (s.kind, s.text)) == Seq(
      ("table_cell", "a"), ("table_cell", "b"), ("table_cell", "c"),
      ("table_cell", "d"), ("table_cell", "f")))
  }

  test("dicom tag lines become text spans plus a pixel-data figure") {
    val doc = Doc("d", Seq(Span(SpanKind.Dicom,
      "patient_name=jane roe\nmodality=CT", "s3://m/px.dcm", 0)))
    val out = SpanTokenizer.extract(doc)
    assert(out.spans == Seq(
      Span(SpanKind.Text, "patient_name=jane roe", "", 0),
      Span(SpanKind.Text, "modality=CT", "", 1),
      Span(SpanKind.Figure, "", "s3://m/px.dcm", 2)))
  }

  test("all eight raw kinds appear across the synthesized corpus") {
    val kinds = (0L until 1000L)
      .flatMap(i => DocGen.syntheticDoc(i).spans.map(_.kind)).toSet
    assert(Set("html", "pdf_text", "table_raw", "media", "edi",
      "docx", "sheet", "dicom").subsetOf(kinds), s"got $kinds")
  }

  test("unknown kind becomes an error span, never a throw") {
    val doc = Doc("d", Seq(Span("weird", "abc", "", 0)))
    val out = SpanTokenizer.extract(doc)
    assert(out.spans.head.kind == SpanKind.Error && out.n_errors == 1)
  }

  test("raw spans re-sorted by input offset before extraction") {
    val a = Doc("d", Seq(
      Span(SpanKind.PdfText, "First block here now.", "", 0),
      Span(SpanKind.PdfText, "Second block here now.", "", 1)))
    val b = Doc("d", a.spans.reverse)
    assert(SpanTokenizer.extract(a).spans == SpanTokenizer.extract(b).spans)
  }

  test("DocGen determinism + mega-doc skew exists") {
    val d1 = DocGen.syntheticDoc(5L)
    val d2 = DocGen.syntheticDoc(5L)
    assert(d1 == d2)
    val sizes = (0L until 3000L).map(i => DocGen.syntheticDoc(i).spans.length)
    assert(sizes.max > 50 * sizes.min, "expected a mega-doc tail")
    // extraction of a mega doc is still bounded + ordered
    val mega = (0L until 3000L).find(i => DocGen.syntheticDoc(i).spans.length > 100).get
    val out = SpanTokenizer.extract(DocGen.syntheticDoc(mega))
    assert(out.spans.map(_.offset) == out.spans.indices)
  }

  test("pass2 config extracts at least as many html blocks") {
    val doc = DocGen.syntheticDoc(17L)
    val p1 = SpanTokenizer.extract(doc, SpanTokenizer.default)
    val p2 = SpanTokenizer.extract(doc, SpanTokenizer.pass2)
    assert(p2.n_spans >= p1.n_spans)
    assert(p2.extraction_path == Seq("tokenize:v2"))
  }
}
