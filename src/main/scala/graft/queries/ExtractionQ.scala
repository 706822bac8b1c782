package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Patterns, Strings}
import graft.model.{Doc, ExtractedDoc, SpanKind}
import graft.tokenize.{DocGen, SpanTokenizer, TableGrid}
import T._

/** The north-rule extraction pipeline as queries: interleaved text+media
  * docs -> ordered (kind, text, media_ref, offset) spans, plus the
  * enrichment/validation/reconciliation surfaces (SURVEY.md §2.4-2.5).
  *
  * The raw interleaved table is synthesized deterministically from the
  * driver's `documents` table (FIXTURES.md §1: no external data; every doc a
  * pure function of (doc_id, text)), so these queries scale with the sf dir.
  */
object ExtractionQ {

  /** Raw interleaved docs derived 1:1 from the documents table. */
  def rawDocs(spark: SparkSession, dir: String): Dataset[Doc] = {
    import spark.implicits._
    load(spark, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        DocGen.synthesize(id, text)
      })
  }

  /** Tokenized docs — the extraction kernel over typed partitions with a
    * per-partition reusable tokenizer (no per-row setup).
    */
  def extracted(spark: SparkSession, dir: String,
      cfg: SpanTokenizer.Config = SpanTokenizer.default): Dataset[ExtractedDoc] = {
    import spark.implicits._
    rawDocs(spark, dir).mapPartitions(SpanTokenizer.extractPartition(_, cfg))
  }

  /** Long-format ordered spans — the scored output shape. */
  def x01Spans(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, dir)
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .select(col("doc_id"), col("s.offset").as("offset"), col("s.kind").as("kind"),
        col("s.text").as("text"), col("s.media_ref").as("media_ref"))
      .orderBy("doc_id", "offset")

  /** Per-kind span statistics. */
  def x02SpanStats(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, dir)
      .select(explode(col("spans")).as("s"))
      .groupBy(col("s.kind").as("kind"))
      .agg(count(lit(1)).as("n_spans"),
        sum(length(col("s.text"))).as("sum_chars"))
      .orderBy("kind")

  /** Modality derivation + error channel per document. */
  def x03Modality(spark: SparkSession, dir: String): DataFrame =
    extracted(spark, dir)
      .select(col("doc_id"), concat_ws(",", col("modalities")).as("modalities"),
        col("n_spans"), col("n_errors"),
        concat_ws(",", col("extraction_path")).as("extraction_path"))
      .orderBy("doc_id")

  /** Table row reconstruction (table_to_rows_dict semantics) as long rows. */
  def x04TableRows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    rawDocs(spark, dir)
      .flatMap { d =>
        d.spans.filter(_.kind == SpanKind.TableRaw).flatMap { t =>
          TableGrid.rowsAsMaps(TableGrid.parse(t.text)).zipWithIndex.map {
            case (m, i) =>
              (d.doc_id, t.offset, i,
                m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("|"))
          }
        }
      }
      .toDF("doc_id", "span_offset", "row_idx", "row_kv")
      .orderBy("doc_id", "span_offset", "row_idx")
  }

  /** Media (figure) spans with metadata-derived (fallback) quality metrics
    * + the modality-dispatched enhancement plan (image_enhancer.py:195-298
    * mode selection as a when/otherwise column). The plan strings are
    * executable: graft.functions.ImageKernels.enhance dispatches ALL SEVEN
    * real kernels (Otsu, opening, despeckle, orientation, deskew, NLM
    * denoise, CLAHE). The quality metrics HERE stay ref-arithmetic (the
    * fast modality fallback); decoded-PIXEL quality is the x29 surface.
    */
  def x05MediaQuality(spark: SparkSession, dir: String): DataFrame = {
    val qualityUdf = udf { (ref: String) =>
      val q = SpanTokenizer.fakeDecodeQuality(ref)
      (q.blurScore, q.brightness, q.contrast, q.qualityScore, q.lowContrast)
    }
    extracted(spark, dir)
      .select(col("doc_id"), col("modalities"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === SpanKind.Figure)
      .select(col("doc_id"), col("modalities"), col("s.media_ref").as("media_ref"),
        qualityUdf(col("s.media_ref")).as("q"))
      .select(col("doc_id"), col("media_ref"),
        col("q._1").as("blur_score"), col("q._2").as("brightness"),
        col("q._3").as("contrast"), col("q._4").as("quality_score"),
        col("q._5").as("low_contrast"),
        when(array_contains(col("modalities"), "fax"), "deskew+otsu+open+despeckle")
          .when(array_contains(col("modalities"), "handwritten"), "deskew+denoise_light")
          .when(array_contains(col("modalities"), "visual"), "deskew")
          .otherwise("deskew+denoise+clahe").as("enhancement_plan"))
      .orderBy("doc_id", "media_ref")
  }

  /** Dual-pass reconciliation: tokenizer v1 vs v2, per-doc full-outer merge
    * on span text sets (reconciler pass1 join pass2 shape, SURVEY.md §2.3).
    */
  def x06Reconcile(spark: SparkSession, dir: String): DataFrame = {
    val p1 = extracted(spark, dir, SpanTokenizer.default)
      .select(col("doc_id"), col("spans").as("spans1"))
    val p2 = extracted(spark, dir, SpanTokenizer.pass2)
      .select(col("doc_id"), col("spans").as("spans2"))
    p1.join(p2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(size(col("spans1")), lit(0)).as("n_spans_1"),
        coalesce(size(col("spans2")), lit(0)).as("n_spans_2"),
        transform(coalesce(col("spans1"), array()), s => s.getField("text")).as("t1"),
        transform(coalesce(col("spans2"), array()), s => s.getField("text")).as("t2"))
      .select(col("doc_id"), col("n_spans_1"), col("n_spans_2"),
        size(array_intersect(col("t1"), col("t2"))).as("n_agree"),
        (size(array_intersect(col("t1"), col("t2"))).cast("double") /
          greatest(size(array_union(col("t1"), col("t2"))), lit(1)).cast("double"))
          .as("agreement_rate"))
      .orderBy("doc_id")
  }

  /** Evaluation-metrics join: micro/macro F1 of pass2 against pass1-as-golden
    * over span text sets (metrics.py:147-272 two-level aggregation shape).
    */
  def x07GoldenF1(spark: SparkSession, dir: String): DataFrame = {
    val per = x06Reconcile(spark, dir)
      .withColumn("tp", col("n_agree"))
      .withColumn("fp", greatest(col("n_spans_2") - col("n_agree"), lit(0)))
      .withColumn("fn", greatest(col("n_spans_1") - col("n_agree"), lit(0)))
      .withColumn("doc_f1",
        when(col("tp") * 2 + col("fp") + col("fn") === 0, 1.0)
          .otherwise(col("tp").cast("double") * 2 /
            (col("tp") * 2 + col("fp") + col("fn"))))
    per.agg(
      sum(col("tp")).as("tp"), sum(col("fp")).as("fp"), sum(col("fn")).as("fn"),
      // rounded: double summation order varies with shuffle arrival; noise
      // ~1e-15 << the 1e-6 grid, so the rounded value is deterministic and
      // oracle-exact (micro_f1 is exact integer arithmetic, no rounding)
      round(avg(col("doc_f1")), 6).as("macro_f1"),
      count(lit(1)).as("n_docs"))
      .withColumn("micro_f1", col("tp").cast("double") * 2 /
        (col("tp") * 2 + col("fp") + col("fn")))
  }

  /** Hallucination-pattern suspicion per document over extracted text spans
    * (pattern_detector.py severity-weighted scoring, threshold 0.70).
    */
  def x08Suspicion(spark: SparkSession, dir: String): DataFrame = {
    val scoreUdf = udf { (texts: Seq[String]) => Patterns.suspicionScore(texts) }
    extracted(spark, dir)
      .select(col("doc_id"),
        filter(transform(col("spans"), s => s.getField("text")),
          t => length(t) > 0).as("texts"))
      .select(col("doc_id"), scoreUdf(col("texts")).as("suspicion"))
      .withColumn("is_likely_hallucination",
        col("suspicion") >= Patterns.hallucinationThreshold)
      .orderBy("doc_id")
  }

  /** Cell-type classification + code validation over extracted table cells
    * (TableCell.cell_type semantics, reference src/pipeline/table_types.py:
    * 14-25, backed by the validator library — NPI Luhn validators.py:837-939,
    * CPT ^\d{5}$, currency clean_currency string_utils.py:151-202).
    * Deterministic ladder: npi > code5 > currency (symbol + parse) >
    * number (parse) > empty > text.
    */
  def x10CodeValidation(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Codes
    val cellTypeUdf = udf { (t: String) =>
      val s = if (t == null) "" else t.trim
      if (s.isEmpty) "empty"
      else if (Codes.validateNpi(s)) "npi"
      else if (Codes.validCpt(s)) "code5"
      else if (s.exists("$£€¥".contains(_)) && Strings.cleanCurrency(s).isDefined) "currency"
      else if (Strings.cleanCurrency(s).isDefined) "number"
      else "text"
    }
    extracted(spark, dir)
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === SpanKind.TableCell)
      .groupBy(cellTypeUdf(col("s.text")).as("cell_type"))
      .agg(count(lit(1)).as("n_cells"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("cell_type")
  }

  /** Multimodal media pipeline (decode -> resize plan -> frame sampling)
    * over the opaque media columns: blobs never inline in the shuffle
    * (media_ref pointers only); the decode stage runs as a typed
    * mapPartitions with a per-partition reusable decoder instance — the
    * Scala analog of a batched mapInPandas decode. Decode itself is the
    * documented deterministic STUB (no image/video libs in this container);
    * schema, partitioning and batch shape are real.
    */
  def x12MediaPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    rawDocs(spark, dir)
      .flatMap(d => d.spans.filter(_.media_ref.nonEmpty)
        .map(s => (d.doc_id, s.media_ref)))
      .mapPartitions { it =>
        // reusable per-partition decoder instance (no per-row setup)
        val decode: String => SpanTokenizer.MediaMeta = SpanTokenizer.fakeDecodeMeta
        it.map { case (docId, ref) =>
          val m = decode(ref)
          val (rw, rh) = SpanTokenizer.resizeFit(m.width, m.height, 224)
          val frames = SpanTokenizer.sampleFrames(m.nFrames, 8)
          (docId, ref, m.format, m.width, m.height, rw, rh,
            m.nFrames, frames.mkString(","))
        }
      }
      .toDF("doc_id", "media_ref", "format", "width", "height",
        "resize_w", "resize_h", "n_frames", "sampled_frames")
      .orderBy("doc_id", "media_ref")
  }

  /** Slim (doc_id, modalities, agreement, suspicion, label) score table
    * shared by x11, x13 and x16: BOTH tokenizer configurations run on the
    * same raw document inside one `mapPartitions`, so the whole x-chain is
    * a single map-only input pass — no join, no shuffle of span-text
    * arrays (the naive x13 -> x11 -> (x06 + x08) composition re-ran the
    * kernel 5x across 2 scans + a full-outer join). x06 keeps the explicit
    * full-outer-join formulation as the reconciler JOIN surface; this is
    * its fused scale path, value-identical (set-intersection agreement,
    * pass-1 suspicion). Only ~24 bytes/doc survive, so callers persist
    * this frame freely.
    */
  private def scoredAll(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    rawDocs(spark, dir)
      .mapPartitions { it =>
        it.map { d =>
          val e1 = SpanTokenizer.extract(d, SpanTokenizer.default)
          val e2 = SpanTokenizer.extract(d, SpanTokenizer.pass2)
          val t1 = e1.spans.map(_.text)
          val s1 = t1.toSet
          val s2 = e2.spans.iterator.map(_.text).toSet
          val agreement =
            s1.intersect(s2).size.toDouble / math.max(s1.union(s2).size, 1)
          val susp = Patterns.suspicionScore(t1.filter(_.nonEmpty))
          (e1.doc_id, e1.modalities, agreement, susp,
            if (agreement > 0.9) 1.0 else 0.0)
        }
      }
      .toDF("doc_id", "modalities", "agreement_rate", "suspicion", "label")
  }

  /** Confidence calibration (calibration.py:139-326 semantics): isotonic
    * (PAV) + linear calibrators fit per (profile, tenant) partition —
    * PartitionedCalibrator's key, calibration.py:533-580 — and applied
    * row-wise to the suspicion score (fit parameters broadcast by closure).
    *
    * The fit runs on the PLANTED per-partition calibration sample
    * (Calibration.plantedSample — the analog of the reference's stored
    * calibration table): bounded, corpus-independent and deterministic at
    * any scale or parallelism, so the fit needs no corpus scan and no
    * collect at all (partition count, not corpus size, drives fit cost),
    * and — because the planted labels make the PAV solution closed-form —
    * the fitted isotonic is re-derivable in pure SQL: the whole query is a
    * machine-checked CORRECTNESS row (OracleX.x11), not just a spec golden.
    * Platt (the non-SQL-expressible calibrator) stays spec-pinned in
    * CalibrationSpec on the same planted samples.
    */
  def x11Calibration(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Calibration
    val fits: Map[(Long, Long), Calibration.Isotonic] =
      (for (p <- 0L to 2L; t <- 0L to 1L)
        yield (p, t) -> Calibration.fitIsotonic(Calibration.plantedSample(p, t))).toMap
    val isoUdf = udf { (p: Long, t: Long, x: Double) => fits((p, t))(x) }
    val linUdf = udf { (x: Double) => Calibration.applyLinear(x) }
    val idnum = substring(col("doc_id"), 5, 9).cast("long")
    scoredAll(spark, dir)
      .select(col("doc_id"),
        (idnum % 3).as("profile"),
        (idnum % 2).as("tenant"),
        col("suspicion").as("raw_score"), col("label"),
        isoUdf(idnum % 3, idnum % 2, col("suspicion")).as("isotonic"),
        linUdf(col("suspicion")).as("linear"))
      .orderBy("doc_id")
  }

  /** Routing decision ladder (orchestrator.py:1306-1360): per-doc route in
    * {complete, retry, human_review} from hallucination flag, calibrated
    * confidence level (high >= .85 / medium >= .5) and a deterministic
    * retry budget; flagged rows go to a review sink rather than a loop
    * (batch semantics — SURVEY.md §2.5 routing row). Confidence here is the
    * reference's closed-form linear fallback calibrator (calibration.py
    * linear: 0.85x + 0.05 clamped) applied to the raw confidence
    * (1 - suspicion) — closed-form, so routing needs no fit collect and the
    * whole ladder stays a column expression.
    */
  def x13Routing(spark: SparkSession, dir: String): DataFrame = {
    scoredAll(spark, dir)
      .withColumn("confidence",
        least(lit(1.0), greatest(lit(0.0),
          lit(0.85) * (lit(1.0) - col("suspicion")) + lit(0.05))))
      .withColumn("is_likely_hallucination",
        col("suspicion") >= Patterns.hallucinationThreshold)
      .withColumn("conf_level",
        when(col("confidence") >= 0.85, "high")
          .when(col("confidence") >= 0.5, "medium")
          .otherwise("low"))
      .withColumn("retries_left",
        substring(col("doc_id"), 5, 9).cast("long") % 3 > 0)
      .withColumn("route",
        when(col("is_likely_hallucination"), "human_review")
          .when(col("conf_level") === "high", "complete")
          .when(col("conf_level") === "medium" && col("retries_left"), "retry")
          .otherwise("human_review"))
      .select(col("doc_id"), col("confidence"), col("conf_level"),
        col("is_likely_hallucination"), col("retries_left"), col("route"))
      .orderBy("doc_id")
  }

  /** Review-queue surface: the routing ladder's non-complete rows driven
    * through the durable review sink (pipeline/ReviewSink — DLQ status
    * machine, manifest-committed exactly-once write) and read back from the
    * committed queue table. The sink writes to a fresh temp dir per
    * invocation; resume/idempotence are pinned by ReviewSinkSpec. The read
    * is materialized with `localCheckpoint` (as d06 and e03 do), so the dir
    * is deleted before returning and nothing outlives the call on disk.
    */
  def x26ReviewQueue(spark: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.ReviewSink
    // Rooted in graft.TempRoot so the queue write + read-back stays off the
    // shared system disk when tmpfs is available.
    val outPath =
      java.nio.file.Files.createTempDirectory(graft.TempRoot("graft-review"), "x26")
    val out = outPath.toString
    try {
      ReviewSink.run(spark, x13Routing(spark, dir), out, "x26")
      spark.read.parquet(s"$out/queue")
        .select(col("doc_id"), col("queue"), col("confidence"), col("status"),
          col("attempts"), col("delivered_pass"))
        .orderBy("doc_id")
        .localCheckpoint()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(outPath.toFile)
  }

  /** Deterministic claim-record synthesis for the cross-field /
    * confidence-scoring surfaces: every field is plain arithmetic on the
    * numeric doc id (SQL-mirrorable by OracleX), with planted violations —
    * service date order flips every 7th doc, diagnosis pointer missing
    * every 5th, modifier-without-CPT when id%4==1 and id%3==0, totals off
    * by $2.00 every 11th.
    */
  private[queries] def claimFields(id: Long): Map[String, String] = {
    import graft.tokenize.DocGen
    val birth = java.time.LocalDate.of(1950, 1, 1).plusDays(id % 28000)
    val from = java.time.LocalDate.of(2020, 1, 1).plusDays(id % 365)
    val to = from.plusDays(id % 7 - 1)
    def money(cents: Long): String = f"$$${cents / 100}%d.${cents % 100}%02d"
    val lineCents = (0 until 4).map(i => DocGen.tableAmtCents(id, i).toLong)
    val totalCents = lineCents.sum + (if (id % 11 == 0) 200L else 0L)
    Map(
      "patient_birth_date" -> birth.toString,
      "service_date_from" -> from.toString,
      "service_date_to" -> to.toString,
      "cpt_code" -> (if (id % 3 != 0) "99213" else ""),
      "diagnosis_pointer" -> (if (id % 5 != 0) "A" else ""),
      "modifier" -> (if (id % 4 == 1) "25" else ""),
      "line_1_charges" -> money(lineCents(0)),
      "line_2_charges" -> money(lineCents(1)),
      "line_3_charges" -> money(lineCents(2)),
      "line_4_charges" -> money(lineCents(3)),
      "total_charges" -> money(totalCents))
  }

  /** Cross-field rule engine over per-doc claim records: the CMS-1500 rule
    * pack (date ordering, required-if dependencies, line-charge summation)
    * applied row-wise as a broadcast pack — map-only at any corpus size
    * (reference src/validation/cross_field.py:142-912 semantics,
    * :920-975 CMS-1500 pack).
    */
  def x14CrossField(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.CrossField
    val rules = CrossField.cms1500Rules
    load(spark, dir, "documents")
      .select(col("doc_id").cast("long"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val r = CrossField.validate(rules, claimFields(id))
          (f"doc_$id%09d", r.rulesChecked, r.rulesPassed,
            r.errors.length, r.passed,
            r.violations.map(_.ruleName).sorted.mkString(","))
        }
      }
      .toDF("doc_id", "rules_checked", "rules_passed", "n_errors", "passed", "violated")
      .orderBy("doc_id")
  }

  /** Confidence scorer (confidence.py:125-420): per-field .35/.30/.20/.15
    * blend with validation hard-gate and pattern penalty, critical fields
    * (patient_name, npi) doubled and gating the action ladder. Field inputs
    * are id-derived so the oracle re-derives the whole computation.
    */
  def x15Confidence(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Confidence
    val fieldNames = Seq("patient_name", "npi", "total_charges", "service_date")
    val primes = Seq((3, 7), (5, 11), (13, 17), (19, 23))
    val critical = Set("patient_name", "npi")
    load(spark, dir, "documents")
      .select(col("doc_id").cast("long"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val fields = fieldNames.zip(primes).zipWithIndex.map {
            case ((name, (p, q)), k) =>
              Confidence.fieldConfidence(
                fieldName = name,
                extractionConf = (id * p % 101).toDouble / 100.0,
                agreementScore = (id * q % 101).toDouble / 100.0,
                validationPassed = (id + k) % 7 != 0,
                hasPatternFlag = (id + k) % 13 == 0)
          }
          val o = Confidence.overall(fields, critical, retryCount = (id % 4).toInt)
          (f"doc_$id%09d", o.overallConfidence, o.overallLevel, o.action,
            o.nHigh, o.nMedium, o.nLow)
        }
      }
      .toDF("doc_id", "overall_confidence", "overall_level", "action",
        "n_high", "n_medium", "n_low")
      .orderBy("doc_id")
  }

  /** Critic combiner (critic_combiner.py:40-107): 0.5/0.3/0.2 blend of
    * dual-pass agreement (real pass1-vs-pass2 reconciliation), critic trust
    * (id-derived stand-in for the VLM critic's trust score — the VLM is out
    * of scope) and the worst-of modality penalty (fax .7 / handwritten .6 /
    * visual .4) over the derived modalities.
    */
  def x16Critic(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Confidence
    val combineUdf = udf { (agree: Double, trust: Double, modalities: Seq[String]) =>
      val c = Confidence.combineConfidence(agree, trust, modalities)
      (c.dualPass, c.critic, c.modalityPen, c.rawCombined)
    }
    scoredAll(spark, dir)
      .withColumn("trust",
        (substring(col("doc_id"), 5, 9).cast("long") * 13 % 101).cast("double") / 100.0)
      .withColumn("c", combineUdf(col("agreement_rate"), col("trust"), col("modalities")))
      .select(col("doc_id"), col("c._1").as("dual_pass"), col("c._2").as("critic"),
        col("c._3").as("modality_penalty"), col("c._4").as("raw_combined"))
      .orderBy("doc_id")
  }

  /** Word basis for the golden-eval surfaces, padded to >= 6 words so every
    * index goldenPairs/x25 use exists for ANY document — empty and 1-5-word
    * texts (an anticipated input class: DocGen/OracleX branch for them) get
    * deterministic filler instead of an ArrayIndexOutOfBounds. OracleX
    * mirrors the padding (`w0 || pad[len+1:6]`).
    */
  private[queries] val evalPad =
    IndexedSeq("empty", "document", "body", "gamma", "delta", "omega")
  private[queries] def evalWords(text: String): IndexedSeq[String] = {
    val w0 = Strings.splitWs(text).toIndexedSeq
    if (w0.length >= 6) w0 else w0 ++ evalPad.drop(w0.length)
  }

  /** Deterministic golden/extracted field pairs for the evaluation ladder:
    * (field, match_level, golden, extracted). Planted perturbation classes
    * exercise every level — casing/whitespace drift every 13th doc
    * (NORMALIZED still matches), a dropped trailing char every 17th (FUZZY
    * decides by ratio), +20% amounts every 19th (NUMERIC tolerance breach),
    * a stripped id prefix every 29th (EXACT mismatch), a wrong name every
    * 23rd. All id arithmetic — OracleX mirrors.
    */
  private[queries] def goldenPairs(id: Long, words: IndexedSeq[String])
      : Seq[(String, String, String, String)] = {
    import graft.tokenize.DocGen
    val did = DocGen.docIdStr(id)
    def money(c: Long): String = f"$$${c / 100}%d.${c % 100}%02d"
    def plain(c: Long): String = f"${c / 100}%d.${c % 100}%02d"
    val name = words(0) + " " + words(1)
    val provider = words(2) + " " + words(3)
    val cents = DocGen.tableAmtCents(id, 0).toLong
    Seq(
      ("claim_id", "exact", did,
        if (id % 29 == 0) did.substring(4) else did),
      ("patient_name", "normalized", name,
        if (id % 23 == 0) { if (words.length >= 5) words(4) else "alt" }
        else if (id % 13 == 0) words(0).toUpperCase + "  " + words(1).toUpperCase
        else name),
      ("provider", "fuzzy", provider,
        if (id % 17 == 0) provider.dropRight(1) else provider),
      ("total_charges", "numeric", money(cents),
        if (id % 19 == 0) plain(cents + cents / 5) else plain(cents)))
  }

  /** goldenPairs with the missing/extra planting that makes FP != FN
    * observable (metrics.py:147-272 counts expected / extracted / correct
    * separately): the provider extraction is DROPPED every 41st doc
    * (expected-but-missing -> FN only) and a spurious `auth_code` field with
    * no golden is EXTRACTED every 59th doc (extracted-but-unexpected -> FP
    * only). All id arithmetic; OracleX mirrors with SQL NULLs.
    */
  private[queries] def goldenPairsOpt(id: Long, words: IndexedSeq[String])
      : Seq[(String, String, Option[String], Option[String])] = {
    val base = goldenPairs(id, words).map { case (f, l, g, x) =>
      val xOpt = if (f == "provider" && id % 41 == 0) None else Some(x)
      (f, l, Some(g): Option[String], xOpt)
    }
    if (id % 59 == 0)
      base :+ (("auth_code", "exact", None: Option[String],
        Some("AUTH" + (id % 997)): Option[String]))
    else base
  }

  /** Golden-dataset evaluation join (metrics.py:330-500): a deterministic
    * golden fixture table joined to the extracted values by doc_id, each
    * field compared at its own EXACT / NORMALIZED / FUZZY / NUMERIC match
    * level with Levenshtein-ratio similarity. Presence flags are carried so
    * the downstream per-field aggregation can count expected vs extracted
    * asymmetrically (metrics.py FieldResult.is_expected / is_present).
    */
  def x17GoldenEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.GoldenEval
    load(spark, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = evalWords(text)
        goldenPairsOpt(id, w).map { case (field, level, g, x) =>
          val r = GoldenEval.compareField(g, x, level)
          (graft.tokenize.DocGen.docIdStr(id), field, level,
            g.isDefined, x.isDefined, r.isMatch, r.similarity)
        }
      }
      .toDF("doc_id", "field", "match_level", "golden_present",
        "extracted_present", "is_match", "similarity")
      .orderBy("doc_id", "field")
  }

  /** Per-field evaluation breakdown (metrics.py:233-272 per_field_f1 grain):
    * expected / extracted / correct counted separately per field, so
    * FP = extracted - correct (present-but-wrong or unexpected) and
    * FN = expected - correct (missing or wrong) are asymmetric —
    * precision = correct/extracted, recall = correct/expected, zero-guarded
    * exactly as the reference (0.0 on empty denominators).
    */
  def x18FieldF1(spark: SparkSession, dir: String): DataFrame =
    x17GoldenEval(spark, dir)
      .groupBy(col("field"), col("match_level"))
      .agg(
        sum(col("is_match").cast("long")).as("tp"),
        sum(col("extracted_present").cast("long")).as("n_extracted"),
        sum(col("golden_present").cast("long")).as("n_expected"),
        count(lit(1)).as("n_docs"))
      .withColumn("fp", col("n_extracted") - col("tp"))
      .withColumn("fn", col("n_expected") - col("tp"))
      .withColumn("precision",
        when(col("n_extracted") > 0,
          col("tp").cast("double") / col("n_extracted")).otherwise(0.0))
      .withColumn("recall",
        when(col("n_expected") > 0,
          col("tp").cast("double") / col("n_expected")).otherwise(0.0))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(0.0))
      .select(col("field"), col("match_level"), col("tp"), col("fp"),
        col("fn"), col("n_docs"), col("precision"), col("recall"), col("f1"))
      .orderBy("field")

  /** Deterministic named-field records for the full hallucination detector:
    * planted anomalies per detector — generic name every 53rd doc,
    * cross-field duplicate value every 47th, alphabetic sequence every
    * 41st, truncation every 43rd, all-zero identifier every 31st,
    * sequential identifier every 37th, sequential cross-field triple every
    * 61st (all id arithmetic; OracleX mirrors).
    */
  private[queries] def patientNameOf(id: Long): String =
    if (id % 53 == 0) "john doe"
    else if (id % 47 == 0) "dup value"
    else "alice " + "pqrstuv".charAt((id % 7).toInt)

  /** Normalized primary identifier (x28 dedup key). Object-level, NOT a
    * local def: a local def lifted into a task lambda captures the
    * enclosing module instance and fails task serialization.
    */
  private[queries] def primaryNorm(id: Long): String =
    graft.functions.Strings.splitWs(patientNameOf(id).toLowerCase).mkString(" ")

  private[queries] def recordFields(id: Long): Map[String, String] = Map(
    "patient_name" -> patientNameOf(id),
    "provider_name" -> (if (id % 47 == 0) "dup value"
      else "bob " + "vwxyz".charAt((id % 5).toInt)),
    "notes" -> (if (id % 47 == 0) "dup value"
      else if (id % 41 == 0) "see abcd list"
      else "note " + "abcdefghijk".charAt((id % 11).toInt)),
    "description" -> (if (id % 43 == 0) "partial text..."
      else "full text " + "abcdefghijklm".charAt((id % 13).toInt)),
    "member_id" -> (if (id % 31 == 0) "00000"
      else if (id % 37 == 0) "M34567"
      else "M" + (id * 7 % 100000)),
    "ref_a" -> (if (id % 61 == 0) "101" else (id * 3 % 900 + 100).toString),
    "ref_b" -> (if (id % 61 == 0) "102" else (id * 5 % 900 + 1100).toString),
    "ref_c" -> (if (id % 61 == 0) "103" else (id * 9 % 900 + 2100).toString))

  /** Full hallucination detector over named-field records
    * (pattern_detector.py:340-918): field-name-gated per-field checks
    * (generic names, alphabetic sequences on text fields, truncation,
    * all-zero / sequential identifiers) plus the cross-field repetition and
    * sequential-triple detectors, severity-weighted into a record suspicion.
    */
  def x19RecordSuspicion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .select(col("doc_id").cast("long"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val data = recordFields(id)
          val flags = Patterns.recordFlags(data)
          val susp = Patterns.recordSuspicion(data)
          (graft.tokenize.DocGen.docIdStr(id),
            flags.count(_ == "critical"), flags.count(_ == "high"),
            flags.count(_ == "medium"), susp,
            susp >= Patterns.hallucinationThreshold)
        }
      }
      .toDF("doc_id", "n_critical", "n_high", "n_medium", "suspicion",
        "is_likely_hallucination")
      .orderBy("doc_id")
  }

  /** Modifier / taxonomy / CARC / RARC validator surface
    * (medical_codes.py VALID_MODIFIERS; validators.py:502-560, 763-830,
    * 1356-1430, 1811-1890): id-derived code fields run through the
    * broadcast-whitelist + format validators; planted samples cover valid,
    * format-valid-unknown and invalid classes of each code system.
    */
  def x20CodeChecks(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Codes
    val mods = Array("25", "LT", "ZZ", "5X", "-59", "1")
    val taxos = Array("207Q00000X", "207q00000x", "12345", "ABCD567890")
    val carcs = Array("45", "CO-45", "PR 3", "B45", "XX45", "4567")
    val rarcs = Array("MA01", "N1", "M12", "ma 130", "X1", "MA1234")
    load(spark, dir, "documents")
      .select(col("doc_id").cast("long"))
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val mod = mods((id % 6).toInt)
          val (fmtOk, known) = Codes.checkModifier(mod)
          val taxo = taxos((id % 4).toInt)
          val carc = carcs((id % 6).toInt)
          val rarc = rarcs((id % 6).toInt)
          val rarcNorm = Codes.normalizeRarc(rarc)
          (graft.tokenize.DocGen.docIdStr(id),
            mod, fmtOk, known,
            taxo, Codes.validTaxonomy(taxo),
            carc, Codes.normalizeCarc(carc).orNull,
            rarc, rarcNorm.map(_._1).orNull, rarcNorm.map(_._2).orNull)
        }
      }
      .toDF("doc_id", "modifier", "modifier_format_ok", "modifier_known",
        "taxonomy", "taxonomy_ok", "carc", "carc_norm",
        "rarc", "rarc_norm", "rarc_category")
      .orderBy("doc_id")
  }

  /** Fax-signal stream inspection columns (pdf_processor.py:561-629):
    * is_one_bit / is_ccitt / signal tokens per embedded media stream —
    * the PageImage fax columns feeding downstream fax handling.
    */
  def x21FaxSignals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    rawDocs(spark, dir)
      .flatMap(d => d.spans.filter(_.media_ref.nonEmpty)
        .map(s => (d.doc_id, s.media_ref)))
      .mapPartitions { it =>
        it.map { case (docId, ref) =>
          val f = SpanTokenizer.fakeInspectStreams(ref)
          (docId, ref, f.isOneBit, f.isCcitt, f.signals.mkString(","))
        }
      }
      .toDF("doc_id", "media_ref", "is_one_bit", "is_ccitt", "fax_signals")
      .orderBy("doc_id", "media_ref")
  }

  /** Document segment building (splitter.py:290-332): per-page
    * is_new_document flags fold into (start_page, end_page) segments
    * carrying the first page's document type and the mean page confidence —
    * distributed as a running-flag-sum window + groupBy (the sessionization
    * shape), never a driver-side fold. Confidence is averaged in the exact
    * integer domain (sum of percent points / pages / 100) so the result is
    * summation-order-independent.
    */
  def x22DocSegments(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pages = load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("id"))
      .withColumn("page", explode(sequence(lit(1), (col("id") % 9 + 1).cast("int"))))
      .withColumn("is_new",
        col("page") > 1 && (col("id") * 31 + col("page") * 7) % 5 === 0)
      .withColumn("doc_type",
        element_at(array(lit("cms1500"), lit("ub04"), lit("eob"), lit("unknown")),
          ((col("id") + col("page")) % 4 + 1).cast("int")))
      .withColumn("conf_pct", (col("id") * 11 + col("page") * 3) % 101)
    val w = Window.partitionBy(col("id")).orderBy(col("page"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pages
      .withColumn("segment",
        sum((col("page") === 1 || col("is_new")).cast("int")).over(w))
      .groupBy(col("id"), col("segment"))
      .agg(
        min(col("page")).as("start_page"),
        max(col("page")).as("end_page"),
        min_by(col("doc_type"), col("page")).as("document_type"),
        count(lit(1)).as("n_pages"),
        (sum(col("conf_pct")).cast("double") / count(lit(1)) / 100.0).as("confidence"))
      .select(concat(lit("doc_"), lpad(col("id").cast("string"), 9, "0")).as("doc_id"),
        col("segment").cast("int").as("segment"), col("start_page"), col("end_page"),
        col("document_type"), col("n_pages"), col("confidence"))
      .orderBy("doc_id", "segment")
  }

  /** Document metadata header projection (PDFMetadata analog,
    * pdf_processor.py:62-130, 394-464): content hash, raw-span census,
    * structure flags and the PDF-date parse (D:YYYYMMDDHHmmSS ->
    * ISO date via Dates.parsePdfDate).
    */
  def x23DocMetadata(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    load(spark, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("SHA-256")
        it.map { case (id, text) =>
          val d = DocGen.synthesize(id, text)
          digest.reset()
          val sha = digest.digest(text.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          val creation = java.time.LocalDate.of(2019, 1, 1).plusDays(id % 1000)
          val pdfRaw = "D:" + creation.toString.replace("-", "") + "120000"
          (d.doc_id, sha, d.spans.length,
            d.spans.map(_.kind).distinct.sorted.mkString(","),
            d.spans.exists(_.kind == SpanKind.TableRaw),
            d.spans.exists(_.media_ref.nonEmpty),
            graft.functions.Dates.parsePdfDate(pdfRaw).map(_.toString).orNull)
        }
      }
      .toDF("doc_id", "content_sha256", "n_raw_spans", "raw_kinds",
        "has_tables", "has_media", "creation_date")
      .orderBy("doc_id")
  }

  /** Tiebreaker usage aggregate (reconciler.py:317-319): the 5-step
    * reconciliation ladder applied to id-derived dual-pass field pairs
    * (each branch planted), counted per tiebreaker kind corpus-wide.
    */
  def x24TiebreakerStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Reconcile
    import graft.model.Bbox
    load(spark, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val w0 = Strings.splitWs(text).toIndexedSeq
        val w = if (w0.length >= 4) w0 else IndexedSeq("a", "b", "c", "d")
        // span-ATTACHED boxes (x27 provenance): pass 1 localizes the value
        // to span 0's block; pass 2 to the same block on even ids (IoU = 1,
        // >= the 0.4 threshold) and to the NEIGHBORING span's block on odd
        // ids — same-size boxes shifted by (0.13, 0.03), whose IoU is
        // either ~0.043 or 0 (wrap), always far below 0.4, so the outcome
        // schedule is id arithmetic with no boundary sensitivity
        // (margin machine-checked in ReconcileSpanBoxSpec).
        val b1 = Some(DocGen.spanBbox(id, 0))
        val b2 = Some(DocGen.spanBbox(id, if (id % 2 == 0) 0 else 1))
        val fields = Seq(
          // single-pass vs exact-agreement
          ("alpha", Some(w(0)), (id * 7 % 101).toDouble / 100.0, None: Option[Bbox],
            if (id % 5 == 0) None else Some(w(0)), (id * 3 % 101).toDouble / 100.0,
            None: Option[Bbox]),
          // bbox-overlap vs placeholder-penalty vs last-resort
          ("beta", Some(w(1)), (id * 11 % 101).toDouble / 100.0,
            if (id % 3 == 0) b1 else None,
            if (id % 4 == 0) Some("n/a") else Some(w(2) + "x"),
            (id * 13 % 101).toDouble / 100.0,
            if (id % 3 == 0) b2 else None),
          // missing-side handling
          ("gamma", if (id % 9 == 0) None else Some(w(3)), 0.5, None: Option[Bbox],
            None: Option[String], 0.0, None: Option[Bbox]))
        fields.map { case (f, p1, c1, b1, p2, c2, b2) =>
          val (_, _, tb) = Reconcile.reconcileField(p1, c1, b1, p2, c2, b2)
          (DocGen.docIdStr(id), f, tb)
        }
      }
      .toDF("doc_id", "field", "tiebreaker")
      .groupBy(col("tiebreaker"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("tiebreaker")
  }

  /** Run comparison (benchmark.py:310-355): per-field F1 of a candidate
    * extraction run against a baseline run over the same golden fixture,
    * with deltas and the 0.02 regression/improvement gates.
    */
  def x25RunComparison(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GoldenEval
    import spark.implicits._
    val perRun = load(spark, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = evalWords(text)
        val base = goldenPairs(id, w)
        // candidate run: a different perturbation profile per field — the
        // name breaks more often, the provider less often, totals less often
        val cand = base.map { case (field, level, g, _) =>
          val x2 = field match {
            case "claim_id" => g
            case "patient_name" =>
              if (id % 11 == 0) { if (w.length >= 6) w(5) else "other" } else g
            case "provider" => if (id % 31 == 0) g.dropRight(1) else g
            case _ => // total_charges: strip the $ (numeric-equal), rarely break
              val cents = graft.tokenize.DocGen.tableAmtCents(id, 0).toLong
              val c2 = if (id % 37 == 0) cents + cents / 5 else cents
              f"${c2 / 100}%d.${c2 % 100}%02d"
          }
          (field, level, g, x2)
        }
        (base.map { case (f, l, g, x) =>
          ("baseline", f, GoldenEval.compareField(Some(g), Some(x), l).isMatch)
        } ++ cand.map { case (f, l, g, x) =>
          ("candidate", f, GoldenEval.compareField(Some(g), Some(x), l).isMatch)
        })
      }
      .toDF("run", "field", "is_match")
      .groupBy(col("run"), col("field"))
      .agg(
        sum(col("is_match").cast("long")).as("tp"),
        sum((!col("is_match")).cast("long")).as("fpfn"))
      .withColumn("f1", col("tp").cast("double") * 2 /
        (col("tp") * 2 + col("fpfn") + col("fpfn")))
    val b = perRun.filter(col("run") === "baseline")
      .select(col("field"), col("f1").as("f1_baseline"))
    val c = perRun.filter(col("run") === "candidate")
      .select(col("field"), col("f1").as("f1_candidate"))
    b.join(c, "field")
      .withColumn("delta", col("f1_candidate") - col("f1_baseline"))
      .withColumn("status",
        when(col("delta") < -0.02, "regression")
          .when(col("delta") > 0.02, "improvement")
          .otherwise("stable"))
      .orderBy("field")
  }

  /** Record shape for the consolidated-export surface: the x19 named-field
    * record plus a free-text contact field (an SSN shape planted every 19th
    * doc — the value-pattern masking fallback must catch it in a field
    * whose NAME is not PHI) and an auth code required by the schema but
    * empty every 5th doc (the completeness check's planted gap).
    */
  private[queries] def consolidatedRecord(id: Long): Map[String, String] =
    recordFields(id) ++ Map(
      "contact_info" -> (if (id % 19 == 0) "ssn 123-45-6789" else "call later"),
      "auth_code" -> (if (id % 5 == 0) "" else "A" + (id % 97)))

  private val consolidatedSchema: Seq[(String, Boolean)] = Seq(
    "patient_name" -> true, "provider_name" -> false, "notes" -> false,
    "description" -> false, "member_id" -> true, "ref_a" -> false,
    "ref_b" -> false, "ref_c" -> false, "contact_info" -> false,
    "auth_code" -> true)

  /** Consolidated-export surface (consolidated_export.py + phi_mask.py):
    * per-record PHI masking at the export chokepoint (field-name patterns +
    * the value-shape fallback), completeness validation against the schema,
    * and cross-page duplicate detection by normalized primary identifier
    * (group size via a two-phase aggregate joined back on the key — the
    * distributed form of detect_duplicates' driver-side grouping). All
    * planted outcomes are id arithmetic, so the whole surface is
    * DuckDB-oracled.
    */
  def x28Consolidated(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.PhiMask
    import graft.pipeline.Export
    val ids = load(spark, dir, "documents")
      .select(col("doc_id").cast("long"))
      .as[Long]
    val perDoc = ids
      .mapPartitions { it =>
        it.map { id =>
          val rec = consolidatedRecord(id)
          val masked = PhiMask.maskRecord(rec)
          val maskedFields = rec.keys.toSeq.sorted
            .filter(k => masked(k) != rec(k))
          val c = Export.validateCompleteness(rec, consolidatedSchema)
          (graft.tokenize.DocGen.docIdStr(id), primaryNorm(id),
            maskedFields.mkString(","), c.isComplete,
            c.completenessScore, c.emptyFields.length)
        }
      }
      .toDF("doc_id", "primary_norm", "masked_fields", "is_complete",
        "completeness", "n_empty")
    // Duplicate-group size as a two-phase aggregate: groupBy-count (partial
    // map-side combine absorbs hot names) joined back on the key, with AQE
    // handling any residual join skew. NOT a count().over(Window.partitionBy)
    // — an unbounded window on a skewed natural key (patient names) funnels
    // every "JOHN SMITH" row through one partition at 100 TB. The count side
    // recomputes ONLY the normalized key per doc (not the PHI-mask +
    // completeness work the perDoc side pays) — a cheap second pruned scan
    // instead of persisting the wide frame.
    val groupSizes = ids
      .mapPartitions(_.map(primaryNorm))
      .toDF("primary_norm")
      .groupBy(col("primary_norm"))
      .agg(count(lit(1)).as("dup_group_size"))
    perDoc.join(groupSizes, Seq("primary_norm"))
      .select(col("doc_id"), col("primary_norm"), col("masked_fields"),
        col("is_complete"), col("completeness"), col("n_empty"),
        col("dup_group_size"))
      .orderBy("doc_id")
  }

  /** Decoded-pixel media quality (image_enhancer.py:855-928 analyze_quality):
    * each figure span's blob — real PNG bytes for the ref's synthetic page
    * (DocGen.mediaPngBytes) — is decoded through `javax.imageio` and scored
    * on the DECODED pixels: mean brightness, std-dev contrast, Laplacian
    * variance (blur), the 0-100 composite score and the issue flags. Pure
    * map over figure spans (per-partition codec reuse, no shuffle before
    * the final sort); the PNG round-trip is lossless, so the DuckDB oracle
    * re-derives every metric from the synthetic-page arithmetic bit-exactly
    * (OracleX.x29).
    */
  def x29DecodedQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.ImageKernels
    extracted(spark, dir)
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === SpanKind.Figure)
      .select(col("doc_id"), col("s.media_ref").as("media_ref"))
      .as[(String, String)]
      .mapPartitions(_.map { case (docId, ref) =>
        val (s, i) = SpanTokenizer.refNums(ref)
        val q = ImageKernels.qualityOf(
          ImageKernels.decodePng(DocGen.mediaPngBytes(s, i)))
        (docId, ref, q.brightness, q.contrast, q.lapVar, q.qualityScore,
          q.lowContrast, q.isDark, q.isWashedOut)
      })
      .toDF("doc_id", "media_ref", "brightness", "contrast", "lap_var",
        "quality_score", "low_contrast", "is_dark", "is_washed_out")
      .orderBy("doc_id", "media_ref")
  }

  /** Resized-media statistics (x33): the RESIZE step of the multimodal
    * pipeline (src/preprocessing/image_processor.py:143-149 max-dimension
    * downscale; `_resize_image` :594-613 before VLM dispatch) — every
    * figure blob is decoded (real PNG, as x29) and 2×2 box-downsampled
    * 64→32 in the exact integer domain (cv2.INTER_AREA at factor 2 is the
    * 2×2 box mean; the reference's LANCZOS changes filter taps, not the
    * decode→downscale→stats shape). Output is the
    * resized image's brightness/contrast plus a genuinely computed
    * `mean_preserved` flag (a box filter preserves the mean EXACTLY, even
    * in floating point, because both means are the same integer scaled by
    * a power of two — the flag compares the doubles directly and the
    * oracle re-derives the same comparison). Map-only over figure spans,
    * per-partition codec reuse, blobs never shuffle — same 100 TB shape
    * as x29.
    */
  def x33ResizedStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.ImageKernels
    extracted(spark, dir)
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === SpanKind.Figure)
      .select(col("doc_id"), col("s.media_ref").as("media_ref"))
      .as[(String, String)]
      .mapPartitions(_.map { case (docId, ref) =>
        val (s, i) = SpanTokenizer.refNums(ref)
        val img = ImageKernels.decodePng(DocGen.mediaPngBytes(s, i))
        val rs = ImageKernels.downsampleStats2(img)
        val q = ImageKernels.qualityOf(img)
        (docId, ref, rs.width, rs.height, rs.brightness, rs.contrast,
          rs.brightness == q.brightness)
      })
      .toDF("doc_id", "media_ref", "out_w", "out_h",
        "brightness_ds", "contrast_ds", "mean_preserved")
      .orderBy("doc_id", "media_ref")
  }

  /** Per-span provenance surface (provenance.py:66-171): every extracted
    * span carries (page, normalized bbox, source_block_id, extraction_path)
    * from the kernel — the audit/replay leaf a downstream exporter renders
    * as the confidence-colored bbox overlay. Map-only at any scale.
    */
  def x27SpanProvenance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extracted(spark, dir)
      .flatMap { e =>
        e.spans.map { s =>
          val p = SpanTokenizer.provenanceOf(e.doc_id, s, e.extraction_path.head)
          (e.doc_id, s.offset, s.kind, p.page, p.source_block_id,
            p.bbox.x1, p.bbox.y1, p.bbox.x2, p.bbox.y2,
            p.extraction_path.mkString(","))
        }
      }
      .toDF("doc_id", "offset", "kind", "page", "block_id",
        "x1", "y1", "x2", "y2", "extraction_path")
      .orderBy("doc_id", "offset")
  }

  /** Cross-field sum rule over reconstructed tables: data-row amounts must
    * sum to the total row within 0.01 (cross_field.py nested-sum rule).
    */
  def x09TableSumRule(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    rawDocs(spark, dir)
      .flatMap { d =>
        d.spans.filter(_.kind == SpanKind.TableRaw).map { t =>
          val grid = TableGrid.parse(t.text)
          val amounts = grid.rows.filterNot(r =>
            r.isHeaderRow || r.isSeparatorRow || r.isTotalRow)
            .flatMap(_.cells.lastOption)
            .flatMap(c => Strings.cleanCurrency(c.text))
          val total = grid.rows.find(_.isTotalRow)
            .flatMap(_.cells.lastOption)
            .flatMap(c => Strings.cleanCurrency(c.text))
          val partsSum = amounts.sum
          (d.doc_id, t.offset, partsSum.toDouble,
            total.map(_.toDouble).getOrElse(Double.NaN),
            total.exists(tt => (tt - partsSum).abs <= BigDecimal("0.01")))
        }
      }
      .toDF("doc_id", "span_offset", "parts_sum", "total_cell", "sum_ok")
      .orderBy("doc_id", "span_offset")
  }

  // ---- A/B testing + regression ladder (ab_testing.py / regression.py) ----

  /** Candidate extraction strategy for the A/B surface: no claim-id errors,
    * more name errors (every 11th), a hard provider break (every 43rd — a
    * constant that can never be fuzzy-close to two corpus words), totals
    * identical to baseline. Distinct from x25's candidate profile so the
    * two surfaces plant different outcome mixes.
    */
  private def abCandPairs(id: Long, w: IndexedSeq[String])
      : Seq[(String, String, String, String)] =
    goldenPairs(id, w).map { case (field, level, g, x) =>
      val x2 = field match {
        case "claim_id" => g
        case "patient_name" =>
          if (id % 11 == 0) { if (w.length >= 6) w(5) else "other" } else g
        case "provider" => if (id % 43 == 0) "zzz clinic" else x
        case _ => x // total_charges: identical to baseline
      }
      (field, level, g, x2)
    }

  /** Degraded strategy: claim ids break every 7th doc (vs baseline's 29th);
    * everything else is the baseline extraction.
    */
  private def abBrokenPairs(id: Long, w: IndexedSeq[String])
      : Seq[(String, String, String, String)] =
    goldenPairs(id, w).map { case (field, level, g, x) =>
      if (field == "claim_id")
        (field, level, g, if (id % 7 == 0) g.substring(4) else g)
      else (field, level, g, x)
    }

  /** Cosmetic refactor: per-id match outcomes provably identical to the
    * baseline (the only change is casing on the name's MATCHING branch —
    * invisible at the NORMALIZED level), so every delta is exactly 0.0.
    */
  private def abCosmeticPairs(id: Long, w: IndexedSeq[String])
      : Seq[(String, String, String, String)] =
    goldenPairs(id, w).map { case (field, level, g, x) =>
      if (field == "patient_name" && id % 23 != 0 && id % 13 != 0)
        (field, level, g, x.toUpperCase)
      else (field, level, g, x)
    }

  /** A/B testing surface (x30): four named tests, each running two
    * deterministic extraction strategies over the same golden pairs,
    * classified per `ab_testing.py:29-36` ABOutcome via the reference's
    * decision rule (`ab_testing.py:164-171`): micro-F1 delta (B − A)
    * > 0.02 → b_wins, < −0.02 → a_wins, else no_difference (inconclusive
    * is reserved in the reference enum and never produced by its runner —
    * mirrored here). Per-field regressions/improvements use the same
    * ±0.02 bar as `compare_runs`. The planted strategy mix exercises all
    * three outcomes plus non-empty regression AND improvement lists in the
    * same test. Errors are counted symmetrically (each mismatch is FP+FN,
    * the x25 convention), so micro-F1 = 2tp/(2tp+e+e).
    */
  def x30AbTest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GoldenEval
    import spark.implicits._
    val rows = load(spark, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val w = evalWords(text)
        val p0 = goldenPairs(id, w)
        def hits(ps: Seq[(String, String, String, String)]) =
          ps.map { case (f, l, g, x) =>
            (f, GoldenEval.compareField(Some(g), Some(x), l).isMatch)
          }
        val tests = Seq(
          ("baseline_vs_candidate", p0, abCandPairs(id, w)),
          ("baseline_vs_broken", p0, abBrokenPairs(id, w)),
          ("broken_vs_baseline", abBrokenPairs(id, w), p0),
          ("cosmetic_refactor", p0, abCosmeticPairs(id, w)))
        tests.flatMap { case (t, a, b) =>
          hits(a).map { case (f, m) => (t, "a", f, m) } ++
            hits(b).map { case (f, m) => (t, "b", f, m) }
        }
      }
      .toDF("test_name", "side", "field", "is_match")
    // two-phase: per-field counts (map-side combinable), then one small
    // reduce per test — no per-doc state survives the first aggregate
    val perField = rows
      .groupBy(col("test_name"), col("field"))
      .agg(
        sum(when(col("side") === "a" && col("is_match"), 1L).otherwise(0L)).as("tpa"),
        sum(when(col("side") === "a" && !col("is_match"), 1L).otherwise(0L)).as("ea"),
        sum(when(col("side") === "b" && col("is_match"), 1L).otherwise(0L)).as("tpb"),
        sum(when(col("side") === "b" && !col("is_match"), 1L).otherwise(0L)).as("eb"))
      .withColumn("f1a",
        col("tpa").cast("double") * 2 / (col("tpa") * 2 + col("ea") + col("ea")))
      .withColumn("f1b",
        col("tpb").cast("double") * 2 / (col("tpb") * 2 + col("eb") + col("eb")))
      .withColumn("fdelta", col("f1b") - col("f1a"))
    perField
      .groupBy(col("test_name"))
      .agg(
        (sum("tpa").cast("double") * 2 /
          (sum("tpa") * 2 + sum("ea") + sum("ea"))).as("f1_a"),
        (sum("tpb").cast("double") * 2 /
          (sum("tpb") * 2 + sum("eb") + sum("eb"))).as("f1_b"),
        concat_ws(",",
          array_sort(collect_list(when(col("fdelta") < -0.02, col("field")))))
          .as("regressions"),
        concat_ws(",",
          array_sort(collect_list(when(col("fdelta") > 0.02, col("field")))))
          .as("improvements"))
      .withColumn("f1_delta", col("f1_b") - col("f1_a"))
      .withColumn("outcome",
        when(col("f1_delta") > 0.02, "b_wins")
          .when(col("f1_delta") < -0.02, "a_wins")
          .otherwise("no_difference"))
      .select("test_name", "f1_a", "f1_b", "f1_delta", "outcome",
        "regressions", "improvements")
      .orderBy("test_name")
  }

  /** Schema versioning surface (x32, `src/schemas/versioning.py`): each
    * document evolves the base extraction schema per an id schedule — no
    * change (every 5th), a field added, a field removed, a type change, a
    * required flip — and the row carries the content hashes, the register
    * outcome (changed + bumped semver), the diff classification with the
    * reference's asymmetric is_breaking-vs-bump rules, the summary line,
    * and the migrated result's field/null sets. Map-only; every value is
    * id arithmetic over constant schemas, so DuckDB re-derives all of it
    * (the five canonical hash strings are literals in the oracle).
    */
  def x32SchemaVersioning(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.SchemaVersioning._
    import spark.implicits._
    load(spark, dir, "documents")
      .select(col("doc_id").cast("long"))
      .as[Long]
      .map { id =>
        val v1 = Seq(
          Field("claim_id", "string", required = true),
          Field("patient_name", "string", required = true),
          Field("total", "number", required = true),
          Field("notes", "string", required = false))
        val v2 =
          if (id % 5 == 0) v1
          else (id % 4) match {
            case 0 => v1 :+ Field("auth_code", "string", required = false)
            case 1 => v1.filterNot(_.name == "notes")
            case 2 => v1.map(f =>
              if (f.name == "total") f.copy(fieldType = "string") else f)
            case _ => v1.map(f =>
              if (f.name == "notes") f.copy(required = true) else f)
          }
        val d = diff(v1, v2)
        val (ver, changed) = registerVersion("1.0.0", v1, v2)
        val migrated = migrate(
          v1.map(f => f.name -> (Some("v"): Option[String])).toMap, d)
        (graft.tokenize.DocGen.docIdStr(id), schemaHash(v1), schemaHash(v2),
          changed, d.changes.map(_.changeType).sorted.mkString(","),
          d.isBreaking, ver, d.summary,
          migrated.keys.toSeq.sorted.mkString(","),
          migrated.filter(_._2.isEmpty).keys.toSeq.sorted.mkString(","))
      }
      .toDF("doc_id", "schema_hash_v1", "schema_hash_v2", "changed",
        "change_types", "is_breaking", "new_version", "summary",
        "migrated_fields", "null_fields")
      .orderBy("doc_id")
  }

  /** The persisted regression baseline (`regression.py:208-224`
    * save_baseline/load_baseline): a committed classpath resource in the
    * reference's stored-baseline JSON shape, parsed once per JVM.
    */
  private[graft] lazy val regressionBaseline: (Double, Seq[(String, Double)]) = {
    // classpath first (sbt test / packaged runs); fall back to the source
    // tree for bare `java -cp classes` invocations where `sbt compile`
    // hasn't copied resources
    val txt = Option(getClass.getResourceAsStream("/graft/regression_baseline.json"))
      .map(in => scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      .getOrElse {
        val p = java.nio.file.Paths.get("src/main/resources/graft/regression_baseline.json")
        require(java.nio.file.Files.exists(p), "missing committed baseline fixture")
        java.nio.file.Files.readString(p)
      }
    val micro = """"micro_f1"\s*:\s*([0-9.]+)""".r
      .findFirstMatchIn(txt).map(_.group(1).toDouble).get
    val fields = """"([a-z_]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter(_._1 != "micro_f1").toSeq
    (micro, fields)
  }

  /** Regression-detection severity ladder (x31, `regression.py:24-29,
    * 160-201`): current per-field F1 (the x30 candidate strategy's run)
    * vs the COMMITTED baseline fixture, fields unioned with 0.0 defaults
    * as the reference does. delta < −0.02 → regression with severity
    * critical (|delta| ≥ 0.10) or warning (≥ 0.02); delta > 0.02 →
    * improvement (severity info); else stable. Overall severity = the
    * worst regression severity, overall delta = current micro-F1 −
    * baseline micro-F1 — carried on every row (the report header of
    * RegressionReport, flattened relationally). The baseline plants one
    * of each class: a vanished field (critical), a warning-sized name
    * drop, two improvements, one stable field.
    */
  def x31RegressionLadder(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.GoldenEval
    import spark.implicits._
    val (baseMicro, baseFields) = regressionBaseline
    val current = load(spark, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        abCandPairs(id, evalWords(text)).map { case (f, l, g, x) =>
          (f, GoldenEval.compareField(Some(g), Some(x), l).isMatch)
        }
      }
      .toDF("field", "is_match")
      .groupBy(col("field"))
      .agg(
        sum(when(col("is_match"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("is_match"), 1L).otherwise(0L)).as("e"))
    val baseline = baseFields.toDF("field", "baseline_f1")
    val pf = current
      .withColumn("current_f1",
        col("tp").cast("double") * 2 / (col("tp") * 2 + col("e") + col("e")))
      .join(broadcast(baseline), Seq("field"), "full_outer")
      .withColumn("baseline_f1", coalesce(col("baseline_f1"), lit(0.0)))
      .withColumn("current_f1", coalesce(col("current_f1"), lit(0.0)))
      .withColumn("delta", col("current_f1") - col("baseline_f1"))
      .withColumn("status",
        when(col("delta") < -0.02, "regression")
          .when(col("delta") > 0.02, "improvement")
          .otherwise("stable"))
      .withColumn("severity",
        when(col("status") === "regression",
          when(abs(col("delta")) >= 0.10, "critical").otherwise("warning"))
          .otherwise("info"))
    val overall = pf.agg(
      max(when(col("status") === "regression", 1L).otherwise(0L)).as("any_reg"),
      max(when(col("severity") === "critical", 1L).otherwise(0L)).as("any_crit"),
      (sum("tp").cast("double") * 2 /
        (sum("tp") * 2 + sum("e") + sum("e"))).as("cur_micro"))
    pf.crossJoin(broadcast(overall))
      .withColumn("has_regression", col("any_reg") === 1L)
      .withColumn("overall_severity",
        when(col("any_crit") === 1L, "critical")
          .when(col("any_reg") === 1L, "warning")
          .otherwise("info"))
      .withColumn("overall_f1_delta", col("cur_micro") - lit(baseMicro))
      .select("field", "baseline_f1", "current_f1", "delta", "status",
        "severity", "has_regression", "overall_severity", "overall_f1_delta")
      .orderBy("field")
  }
}
