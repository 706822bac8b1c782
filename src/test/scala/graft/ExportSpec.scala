package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Export
import graft.tokenize.{DocGen, SpanTokenizer}

/** Export sinks: round-trip through JSON/parquet and span-order invariance. */
class ExportSpec extends AnyFunSuite with SparkSpec {

  private def extracted = {
    import spark.implicits._
    spark.range(50).map(i => SpanTokenizer.extract(DocGen.syntheticDoc(i)))
  }

  test("flat JSON export round-trips with span order intact")(scratch { out =>
    Export.writeJson(extracted, s"$out/flat")
    val back = spark.read.json(s"$out/flat")
    assert(back.count() == Export.flatSpans(extracted).count())
    // per-doc offsets are exactly 0..n-1 after the round trip
    import spark.implicits._
    val bad = back.select("doc_id", "offset").as[(String, Long)]
      .collect().groupBy(_._1)
      .count { case (_, rows) =>
        rows.map(_._2).sorted.toSeq != (0L until rows.length).toSeq
      }
    assert(bad == 0)
  })

  test("nested JSON export keeps one object per document")(scratch { out =>
    Export.writeJsonNested(extracted, s"$out/nested")
    val back = spark.read.json(s"$out/nested")
    assert(back.count() == 50)
    assert(back.columns.contains("spans"))
  })

  test("markdown export renders headings/figures/cells and round-trips")(scratch { out =>
    import graft.model.{Doc, ExtractedDoc, Span}
    val doc = ExtractedDoc("doc_x", Seq(
      Span("heading", "Title Here", "", 0),
      Span("text", "Body paragraph.", "", 1),
      Span("table_cell", "42", "", 2),
      Span("figure", "", "s3://m/1.png", 3)),
      4, 0, Seq("printed"), Seq("tokenize:v1"))
    val md = Export.renderMarkdown(doc)
    assert(md.startsWith("# doc_x\n"))
    assert(md.contains("\n## Title Here\n") && md.contains("\nBody paragraph.\n"))
    assert(md.contains("| 42 ") && md.contains("![media](s3://m/1.png)"))
    Export.writeMarkdown(extracted, s"$out/md")
    val back = spark.read.parquet(s"$out/md")
    assert(back.count() == 50 && back.columns.toSet == Set("doc_id", "markdown"))
  })

  test("HMAC receipts: mint, verify, tamper detection, keyless path") {
    val artefacts = Map(
      "spans.parquet" -> "span data bytes".getBytes("UTF-8"),
      "metrics.json" -> "{\"n\": 1}".getBytes("UTF-8"))
    val r = Export.mintReceipt(artefacts, Some("secret-key"))
    assert(r.signature.isDefined && r.artefactHashes.size == 2)
    assert(Export.verifyReceipt(r, artefacts, Some("secret-key")))
    // tampered artefact fails
    val tampered = artefacts + ("spans.parquet" -> "evil".getBytes("UTF-8"))
    assert(!Export.verifyReceipt(r, tampered, Some("secret-key")))
    // wrong key fails
    assert(!Export.verifyReceipt(r, artefacts, Some("other-key")))
    // keyless installs still get artefact hashes, no signature
    val unsigned = Export.mintReceipt(artefacts, None)
    assert(unsigned.signature.isEmpty)
    assert(Export.verifyReceipt(unsigned, artefacts, None))
  }

  test("flat parquet export matches the flat DataFrame exactly")(scratch { out =>
    Export.writeFlatParquet(extracted, s"$out/flat")
    val back = spark.read.parquet(s"$out/flat")
    assert(back.exceptAll(Export.flatSpans(extracted)).isEmpty)
    assert(Export.flatSpans(extracted).exceptAll(back).isEmpty)
  })

  test("overlay contract: confidence palette, label format, pixel rects") {
    import graft.model.Bbox
    // bands (bbox_overlay.py:71-79) incl. the boundary values
    assert(Export.confidenceColor(Some(0.85)) == (("green", (76, 175, 80))))
    assert(Export.confidenceColor(Some(0.50)) == (("amber", (255, 193, 7))))
    assert(Export.confidenceColor(Some(0.49)) == (("red", (244, 67, 54))))
    assert(Export.confidenceColor(None) == (("grey", (158, 158, 158))))
    // label: "name (cc%)", Python-round (half-even) on the percentage
    assert(Export.overlayLabel("npi", Some(0.845)) == "npi (84%)")
    assert(Export.overlayLabel("npi", Some(0.875)) == "npi (88%)")
    assert(Export.overlayLabel("npi", None) == "npi")
    // pixel rect: floor, min-1px extent, clamp, degenerate drop
    // (0.3-0.1)*1000 and (0.25-0.2)*800 truncate exactly as Python int():
    // 199.999... -> 199, 39.999... -> 39
    val r = Export.overlayRect("f", Bbox(0.1, 0.2, 0.3, 0.25), Some(0.9),
      pageW = 1000, pageH = 800).get
    assert((r.x0, r.y0, r.x1, r.y1) == ((100, 160, 299, 199)))
    assert(r.color == "green" && r.label == "f (90%)")
    // zero-width bbox still paints a 1px-wide rect
    val thin = Export.overlayRect("f", Bbox(0.5, 0.5, 0.5, 0.6), Some(0.2),
      pageW = 100, pageH = 100).get
    assert(thin.x1 == thin.x0 + 1 && thin.color == "red")
    // beyond-right-edge rect clamps to a 1px corner sliver (kept, as the
    // reference's clamp does); fully-negative coords clamp to zero extent
    // and are dropped
    val corner = Export.overlayRect("f", Bbox(1.2, 1.2, 1.5, 1.5), Some(0.9),
      pageW = 100, pageH = 100).get
    assert((corner.x0, corner.y0, corner.x1, corner.y1) == ((99, 99, 100, 100)))
    assert(Export.overlayRect("f", Bbox(-0.5, -0.5, -0.2, -0.2), Some(0.9),
      pageW = 100, pageH = 100).isEmpty)
  }

  test("overlay draw-list export over x27 provenance + x13 confidence")(scratch { out =>
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val prov = graft.queries.ExtractionQ.x27SpanProvenance(spark, dir)
    val conf = graft.queries.ExtractionQ.x13Routing(spark, dir)
      .select(col("doc_id"), col("confidence"))
    Export.writeOverlayDrawList(prov.join(conf, "doc_id"), s"$out/overlays")
    val back = spark.read.parquet(s"$out/overlays")
    assert(back.count() > 0)
    assert(back.columns.contains("fill_alpha"))
    val row = back.filter(col("color") === "green").limit(1).collect()
    // constants from the visual contract
    assert(back.select("outline_width").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(3))
    assert(back.select("fill_alpha").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(64))
    assert(row.isEmpty || row.head.getAs[String]("label").endsWith("%)"))
  })
}
