package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Calibration

/** Calibrator goldens (reference calibration.py:139-326 semantics). */
class CalibrationSpec extends AnyFunSuite with SparkSpec {

  test("PAV pools adjacent violators into a monotone step function") {
    // classic PAV example: y = [1, 0] at x = [0.1, 0.2] pools to 0.5
    val iso = Calibration.fitIsotonic(Seq((0.1, 1.0), (0.2, 0.0)))
    assert(iso(0.1) == 0.5 && iso(0.2) == 0.5)
    // already-monotone data is preserved exactly at the knots
    val mono = Calibration.fitIsotonic(Seq((0.0, 0.0), (0.5, 0.5), (1.0, 1.0)))
    assert(mono(0.0) == 0.0 && mono(0.5) == 0.5 && mono(1.0) == 1.0)
    // interpolation between knots
    assert(math.abs(mono(0.25) - 0.25) < 1e-12)
    // clamping outside the fitted range
    assert(mono(-1.0) == 0.0 && mono(2.0) == 1.0)
  }

  test("pooled blocks are constant within their x-range (sklearn thresholds)") {
    // (0,1),(1,0),(2,1): PAV pools the first two into a block spanning
    // [0,1] with y=0.5 — the fit must hold 0.5 across the WHOLE block
    // (sklearn keeps both boundary thresholds), then interpolate to (2,1).
    val iso = Calibration.fitIsotonic(Seq((0.0, 1.0), (1.0, 0.0), (2.0, 1.0)))
    assert(iso(0.0) == 0.5 && iso(0.5) == 0.5 && iso(1.0) == 0.5)
    assert(iso(1.5) == 0.75 && iso(2.0) == 1.0)
    // interior pooled block, same invariant
    val iso2 = Calibration.fitIsotonic(
      Seq((0.0, 0.0), (1.0, 0.8), (2.0, 0.2), (3.0, 1.0)))
    assert(iso2(1.0) == 0.5 && iso2(1.7) == 0.5 && iso2(2.0) == 0.5)
    assert(iso2(2.5) == 0.75)
  }

  test("PAV output is monotone non-decreasing on arbitrary input") {
    val pts = (0 until 200).map { i =>
      val x = i / 200.0
      (x, if (graft.functions.Hashing.mix64(i.toLong) % 2 == 0) 1.0 else 0.0)
    }
    val iso = Calibration.fitIsotonic(pts)
    val applied = (0 to 100).map(i => iso(i / 100.0))
    assert(applied.sliding(2).forall(p => p.head <= p.last + 1e-12))
  }

  test("ties on score are pooled deterministically (order-independent)") {
    val a = Calibration.fitIsotonic(Seq((0.3, 1.0), (0.3, 0.0), (0.7, 1.0)))
    val b = Calibration.fitIsotonic(Seq((0.7, 1.0), (0.3, 0.0), (0.3, 1.0)))
    assert(a.xs.sameElements(b.xs) && a.ys.sameElements(b.ys))
    assert(a(0.3) == 0.5)
  }

  test("planted sample fits to the closed-form per-knot-mean isotonic") {
    // The per-(profile, tenant) planted sample's labels are monotone in the
    // score, so PAV must do no pooling: knots are exactly (k/20, m_k) with
    // m_k = (1[2k >= thr] + 1[2k+1 >= thr]) / 2 — the form the SQL oracle
    // re-derives (OracleX.x11).
    for (p <- 0L to 2L; t <- 0L to 1L) {
      val thr = 20 + 3 * p + 2 * t
      val iso = Calibration.fitIsotonic(Calibration.plantedSample(p, t))
      assert(iso.xs.length == 21, s"($p,$t): pooling occurred")
      (0 to 20).foreach { k =>
        assert(iso.xs(k) == k / 20.0)
        val m = ((if (2 * k >= thr) 1 else 0) + (if (2 * k + 1 >= thr) 1 else 0)) / 2.0
        assert(iso.ys(k) == m, s"($p,$t) knot $k")
      }
    }
    // partitions are observably distinct (tenant dimension is live)
    val a = Calibration.fitIsotonic(Calibration.plantedSample(0, 0))
    val b = Calibration.fitIsotonic(Calibration.plantedSample(0, 1))
    val c = Calibration.fitIsotonic(Calibration.plantedSample(1, 0))
    assert(a(0.52) != b(0.52) && b(0.55) != c(0.55))
  }

  test("x11 output is byte-identical across shuffle parallelism (deterministic fit)") {
    val dir = "/root/testdata/sf0.001"
    def run(parts: String): Seq[String] = withConf("spark.sql.shuffle.partitions", parts) {
      graft.queries.ExtractionQ.x11Calibration(spark, dir)
        .collect().map(_.toString).toSeq
    }
    val a = run("3")
    val b = run("13")
    assert(a == b, "x11 fit sample / outputs depend on partitioning")
  }

  test("linear calibrator matches reference 0.85x + 0.05 with clamps") {
    assert(Calibration.applyLinear(0.0) == 0.05)
    assert(Calibration.applyLinear(1.0) == 0.9)
    assert(Calibration.applyLinear(2.0) == 1.0)
    assert(Calibration.applyLinear(-1.0) == 0.0)
  }
}
