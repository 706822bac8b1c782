package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Confidence, CrossField}
import graft.functions.CrossField.Rule

/** Cross-field rule engine + confidence scorer goldens, mirroring the
  * reference's tests/unit/test_cross_field.py expectations and
  * src/validation/confidence.py documented behaviors.
  */
class CrossFieldConfidenceSpec extends AnyFunSuite {

  test("date_order: violation, pass, equal-allowed, equal-forbidden, skip-on-missing") {
    val r = Rule("order", "date_order", Seq("a", "b"), allowEqual = true)
    def run(a: String, b: String, allowEqual: Boolean = true) =
      CrossField.validate(Seq(r.copy(allowEqual = allowEqual)),
        Map("a" -> a, "b" -> b)).violations.nonEmpty
    assert(!run("2024-01-01", "2024-02-01"))
    assert(run("2024-02-01", "2024-01-01"))
    assert(!run("2024-01-01", "2024-01-01")) // equal allowed
    assert(run("2024-01-01", "2024-01-01", allowEqual = false))
    // multiple accepted formats (DATE_FORMATS)
    assert(run("02/01/2024", "01/01/2024"))
    assert(!run("20240101", "20240201"))
    // missing / unparseable -> skip (passes)
    assert(!CrossField.validate(Seq(r), Map("a" -> "2024-01-01")).violations.nonEmpty)
    assert(!run("garbage", "2024-01-01"))
  }

  test("sum_validation respects tolerance and currency formatting") {
    val r = Rule("sum", "sum_validation", Seq("l1", "l2", "t"),
      componentFields = Seq("l1", "l2"), totalField = "t", tolerance = 0.01)
    def run(l1: String, l2: String, t: String) =
      CrossField.validate(Seq(r), Map("l1" -> l1, "l2" -> l2, "t" -> t))
    assert(run("$100.00", "$50.25", "$150.25").passed)
    assert(!run("$100.00", "$50.25", "$150.50").passed)
    assert(run("100", "50.255", "150.25").passed) // within 0.01
    // missing total -> skip
    assert(run("1", "2", "").rulesPassed == 1)
  }

  test("nested_sum over line items, skip when no valid items") {
    val r = Rule("ns", "nested_sum_validation", Seq("lines", "t"),
      arrayField = "lines", itemField = "charges", totalField = "t")
    val items = Seq(Map("charges" -> "10.00"), Map("charges" -> "5.50"))
    assert(CrossField.validate(Seq(r), Map("t" -> "15.50"), items).passed)
    assert(!CrossField.validate(Seq(r), Map("t" -> "20.00"), items).passed)
    assert(CrossField.validate(Seq(r), Map("t" -> "20.00"), Nil).passed) // skip
  }

  test("required_if / required_unless / mutual_exclusive / mutual_required") {
    val rif = Rule("rif", "required_if", Seq("trig", "req"),
      triggerField = "trig", requiredField = "req")
    assert(!CrossField.validate(Seq(rif), Map("trig" -> "x", "req" -> "y")).violations.nonEmpty)
    assert(CrossField.validate(Seq(rif), Map("trig" -> "x", "req" -> "")).violations.nonEmpty)
    assert(!CrossField.validate(Seq(rif), Map("trig" -> "", "req" -> "")).violations.nonEmpty)
    // trigger_values variant
    val rtv = rif.copy(triggerValues = Some(Set("A", "B")))
    assert(CrossField.validate(Seq(rtv), Map("trig" -> "A", "req" -> "")).violations.nonEmpty)
    assert(!CrossField.validate(Seq(rtv), Map("trig" -> "C", "req" -> "")).violations.nonEmpty)

    val run = Rule("run", "required_unless", Seq("trig", "req"),
      triggerField = "trig", requiredField = "req")
    assert(CrossField.validate(Seq(run), Map("trig" -> "", "req" -> "")).violations.nonEmpty)
    assert(!CrossField.validate(Seq(run), Map("trig" -> "x", "req" -> "")).violations.nonEmpty)

    val mex = Rule("mex", "mutual_exclusive", Seq("a", "b"))
    assert(CrossField.validate(Seq(mex), Map("a" -> "1", "b" -> "2")).violations.nonEmpty)
    assert(!CrossField.validate(Seq(mex), Map("a" -> "1", "b" -> "")).violations.nonEmpty)

    val mreq = Rule("mreq", "mutual_required", Seq("a", "b", "c"))
    assert(CrossField.validate(Seq(mreq), Map("a" -> "1", "b" -> "", "c" -> "")).violations.nonEmpty)
    assert(!CrossField.validate(Seq(mreq), Map("a" -> "1", "b" -> "2", "c" -> "3")).violations.nonEmpty)
    assert(!CrossField.validate(Seq(mreq), Map("a" -> "", "b" -> "", "c" -> "")).violations.nonEmpty)
  }

  test("value_range: static bounds, field bounds, skip-on-unparseable") {
    val r = Rule("vr", "value_range", Seq("v"), valueField = "v",
      minValue = Some(0.0), maxValue = Some(100.0))
    assert(CrossField.validate(Seq(r), Map("v" -> "50")).passed)
    assert(!CrossField.validate(Seq(r), Map("v" -> "-1")).passed)
    assert(!CrossField.validate(Seq(r), Map("v" -> "101")).passed)
    assert(CrossField.validate(Seq(r), Map("v" -> "n/a")).passed) // skip
    val rf = Rule("vrf", "value_range", Seq("v", "lo"), valueField = "v", minField = "lo")
    assert(!CrossField.validate(Seq(rf), Map("v" -> "5", "lo" -> "10")).passed)
    assert(CrossField.validate(Seq(rf), Map("v" -> "15", "lo" -> "10")).passed)
  }

  test("severity routing: warnings do not fail the result") {
    val r = Rule("warn", "mutual_exclusive", Seq("a", "b"), severity = "warning")
    val res = CrossField.validate(Seq(r), Map("a" -> "1", "b" -> "2"))
    assert(res.violations.map(_.severity) == Seq("warning") && res.errors.isEmpty && res.passed)
  }

  test("CMS-1500 pack: happy claim passes; each planted defect fires its rule") {
    val good = Map(
      "patient_birth_date" -> "1980-05-05", "service_date_from" -> "2024-01-02",
      "service_date_to" -> "2024-01-05", "cpt_code" -> "99213",
      "diagnosis_pointer" -> "A", "modifier" -> "25",
      "line_1_charges" -> "$100.00", "line_2_charges" -> "$50.00",
      "total_charges" -> "$150.00")
    assert(CrossField.validate(CrossField.cms1500Rules, good).passed)
    def firing(m: Map[String, String]) =
      CrossField.validate(CrossField.cms1500Rules, m).violations.map(_.ruleName).toSet
    assert(firing(good + ("patient_birth_date" -> "2024-01-02")) ==
      Set("patient_dob_before_service")) // allow_equal=false: equal fires
    assert(firing(good + ("service_date_to" -> "2023-12-31")) == Set("service_date_order"))
    assert(firing(good + ("diagnosis_pointer" -> "")) == Set("cpt_requires_diagnosis"))
    assert(firing(good + ("cpt_code" -> "") + ("diagnosis_pointer" -> "")) ==
      Set("modifier_requires_cpt"))
    assert(firing(good + ("total_charges" -> "$151.00")) == Set("line_charges_total"))
  }

  test("confidence scorer: blend, penalties, validation hard-gate") {
    // perfect signals -> ~1.0, HIGH
    val perfect = Confidence.fieldConfidence("f", 1.0, 1.0, validationPassed = true,
      hasPatternFlag = false)
    assert(perfect.level == "high" && perfect.combined > 0.99)
    // failed validation caps below HIGH even with perfect other signals
    val gated = Confidence.fieldConfidence("f", 1.0, 1.0, validationPassed = false,
      hasPatternFlag = false)
    assert(gated.level == "medium" && gated.combined <= 0.84)
    // pattern penalty reduces the pattern source by 0.20 * weight
    val flagged = Confidence.fieldConfidence("f", 1.0, 1.0, validationPassed = true,
      hasPatternFlag = true)
    assert(math.abs(perfect.combined - flagged.combined - 0.15 * 0.20) < 1e-9)
  }

  test("confidence overall: critical weighting, missing-required penalty, actions") {
    val hi = Confidence.fieldConfidence("npi", 0.95, 1.0, validationPassed = true,
      hasPatternFlag = false)
    val lo = Confidence.fieldConfidence("other", 0.1, 0.1, validationPassed = false,
      hasPatternFlag = true)
    // healthy criticals -> no penalty; overall weighted 2:1
    val o1 = Confidence.overall(Seq(hi, lo.copy(fieldName = "other")), Set("npi"), 0)
    assert(math.abs(o1.overallConfidence -
      (hi.combined * 2 + lo.combined) / 3.0) < 1e-12)
    // low critical -> missing_required penalty and forced human_review
    val o2 = Confidence.overall(Seq(lo.copy(fieldName = "npi")), Set("npi"), 0)
    assert(o2.action == "human_review")
    assert(o2.overallConfidence <= math.max(0.0, lo.combined - 0.40))
    // medium level + retries left -> retry; exhausted -> human_review
    val med = Confidence.fieldConfidence("f", 0.6, 0.6, validationPassed = true,
      hasPatternFlag = false)
    assert(Confidence.overall(Seq(med), Set.empty, 0).action == "retry")
    assert(Confidence.overall(Seq(med), Set.empty, 2).action == "human_review")
  }

  test("critic combiner: blend + worst-of modality penalties") {
    val base = Confidence.combineConfidence(1.0, 1.0, Seq("printed"))
    assert(base.rawCombined == 1.0 && base.modalityPen == 0.0)
    val fax = Confidence.combineConfidence(1.0, 1.0, Seq("printed", "fax", "visual"))
    assert(fax.modalityPen == 0.7) // worst-of
    assert(math.abs(fax.rawCombined - (0.5 + 0.3 + 0.2 * (1.0 - 0.7))) < 1e-12)
    // clamping
    assert(Confidence.combineConfidence(1.5, -0.2, Nil).dualPass == 1.0)
    assert(Confidence.combineConfidence(1.5, -0.2, Nil).critic == 0.0)
  }
}
