package graft

import graft.functions.{Modality, Reconcile}
import graft.model.{Bbox, QualityMetrics}
import org.scalatest.funsuite.AnyFunSuite

/** Goldens mirror reference tests/unit/test_reconciler.py:75-189 and
  * tests/unit/test_modality.py:25-110.
  */
class ReconcileModalitySpec extends AnyFunSuite {

  test("values_agree goldens") {
    assert(Reconcile.valuesAgree("foo", "foo"))
    assert(Reconcile.valuesAgree("FOO", "foo"))
    assert(Reconcile.valuesAgree("100.0", "100.00001"))   // within 1e-4 relative
    assert(!Reconcile.valuesAgree("100.0", "101.0"))
    assert(Reconcile.valuesAgree(null, null))
    assert(!Reconcile.valuesAgree(null, "x"))
    assert(Reconcile.valuesAgree("  spaced  ", "spaced"))
  }

  test("bbox IoU goldens") {
    val b = Bbox(0.1, 0.1, 0.3, 0.3)
    assert(math.abs(Reconcile.bboxIou(b, b) - 1.0) < 1e-9)
    assert(Reconcile.bboxIou(Bbox(0, 0, 0.1, 0.1), Bbox(0.5, 0.5, 0.6, 0.6)) == 0.0)
    val partial = Reconcile.bboxIou(Bbox(0, 0, 0.4, 0.4), Bbox(0.2, 0.2, 0.6, 0.6))
    assert(math.abs(partial - 0.04 / 0.28) < 1e-9)
    assert(Reconcile.bboxIou(null, Bbox(0, 0, 1, 1)) == 0.0)
    assert(Reconcile.bboxIou(Bbox(0, 0, 0, 1), Bbox(0, 0, 1, 1)) == 0.0)  // degenerate
  }

  test("similarity ladder (dual_pass.py:390-480)") {
    assert(Reconcile.similarity("abc", "abc") == 1.0)
    assert(Reconcile.similarity("ABC  x", "abc x") == 0.99)    // normalized equal
    assert(Reconcile.similarity("100.0", "100.05") == 0.99)    // rel < 0.001
    assert(Reconcile.similarity("100", "100.9") == 0.95)       // rel < 0.01
    assert(Reconcile.similarity("100", "104") == 0.85)         // rel < 0.05
    assert(Reconcile.similarity("100", "109") == 0.70)         // rel < 0.10
    assert(Reconcile.similarity("100", "120") == 0.50)         // rel < 0.25
    assert(Reconcile.similarity("$1,234.56", "1234.56") == 1.0) // currency-normalized
    assert(Reconcile.similarity("(500)", "-500") == 1.0)
  }

  test("tiebreaker ladder (test_reconciler.py tiers)") {
    // tier 1 exact: conf = max + 0.05
    val (v1, c1, t1) = Reconcile.reconcileField(
      Some("Alice"), 0.8, None, Some("Alice"), 0.7, Some(Bbox(0, 0, 0.1, 0.1)))
    assert(v1.contains("Alice") && t1 == "exact_agreement" && math.abs(c1 - 0.85) < 1e-9)
    // numeric tolerance counts as exact
    val (_, _, t2) = Reconcile.reconcileField(
      Some("100.0"), 0.9, None, Some("100.00001"), 0.9, None)
    assert(t2 == "exact_agreement")
    // tier 2 bbox overlap: pass1 wins x0.95
    val box = Bbox(0.1, 0.1, 0.4, 0.4)
    val (v3, c3, t3) = Reconcile.reconcileField(
      Some("100"), 0.7, Some(box), Some("1OO"), 0.6, Some(box))
    assert(v3.contains("100") && t3 == "bbox_overlap" && math.abs(c3 - 0.7 * 0.95) < 1e-9)
    // tier 4 placeholder penalty
    val (v4, _, t4) = Reconcile.reconcileField(
      Some("N/A"), 0.9, None, Some("Alice"), 0.5, None)
    assert(v4.contains("Alice") && t4 == "placeholder_penalty")
    // single pass: no penalty
    val (v5, c5, t5) = Reconcile.reconcileField(Some("x"), 0.6, None, None, 0.0, None)
    assert(v5.contains("x") && c5 == 0.6 && t5 == "single_pass")
    // last resort: higher conf wins at x0.5
    val (v6, c6, t6) = Reconcile.reconcileField(
      Some("abc"), 0.8, None, Some("xyz"), 0.4, None)
    assert(v6.contains("abc") && math.abs(c6 - 0.4) < 1e-9 && t6 == "last_resort")
  }

  test("modality truth table (test_modality.py:25-110)") {
    import Modality._
    assert(deriveModalities(None, Nil) == Seq(Printed))
    assert(deriveModalities(Some(Analysis()), Nil) == Seq(Printed))
    assert(deriveModalities(Some(Analysis(hasHandwriting = true)), Nil)
      .contains(Handwritten))
    assert(deriveModalities(Some(Analysis(hasTables = true)), Nil).contains(Table))
    assert(deriveModalities(Some(Analysis(tableCount = 3)), Nil).contains(Table))
    assert(deriveModalities(Some(Analysis(layoutType = "form")), Nil).contains(Form))
    assert(deriveModalities(Some(Analysis(layoutType = "FORM")), Nil).contains(Form))
    assert(deriveModalities(Some(Analysis(textDensity = "low")), Nil).contains(Visual))
    assert(!deriveModalities(Some(Analysis(textDensity = "low", hasHandwriting = true)), Nil)
      .contains(Visual))
    assert(!deriveModalities(Some(Analysis(textDensity = "low", hasTables = true)), Nil)
      .contains(Visual))
    // fax: all 3 pages low-contrast (contrast<30), low blur, low composite quality
    val fax = Seq(
      QualityMetrics(80.0, 40.0, 10.0),
      QualityMetrics(95.0, 45.0, 12.0),
      QualityMetrics(70.0, 50.0, 8.0))
    assert(deriveModalities(Some(Analysis()), fax).contains(Fax))
    val crisp = Seq(QualityMetrics(800.0, 128.0, 64.0))
    assert(!deriveModalities(Some(Analysis()), crisp).contains(Fax))
    // result always sorted + includes printed
    val all = deriveModalities(
      Some(Analysis(hasHandwriting = true, layoutType = "form")), fax)
    assert(all == all.sorted && all.contains(Printed) && all.contains(Fax)
      && all.contains(Form) && all.contains(Handwritten))
  }
}
