package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.ExtractionQ

/** x30 A/B testing + x31 regression ladder: pins the reference decision
  * semantics (`ab_testing.py:164-171`, `regression.py:118-201`) against the
  * planted strategy profiles — outcome classes, symmetry, the cosmetic
  * zero-delta invariant, and the severity ladder including the
  * vanished-field critical case. The value-level correctness is carried by
  * the DuckDB oracle (SparkEntry.oracleSql x30/x31).
  */
class AbRegressionSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private lazy val ab: Map[String, org.apache.spark.sql.Row] =
    ExtractionQ.x30AbTest(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap

  test("x30 planted strategies produce all three reference outcomes") {
    assert(ab("baseline_vs_broken").getString(4) == "a_wins")
    assert(ab("broken_vs_baseline").getString(4) == "b_wins")
    assert(ab("baseline_vs_candidate").getString(4) == "no_difference")
    assert(ab("cosmetic_refactor").getString(4) == "no_difference")
  }

  test("x30 mirrored test swaps are exactly symmetric") {
    val fwd = ab("baseline_vs_broken")
    val rev = ab("broken_vs_baseline")
    assert(fwd.getDouble(1) == rev.getDouble(2)) // f1_a == mirrored f1_b
    assert(fwd.getDouble(2) == rev.getDouble(1))
    assert(fwd.getDouble(3) == -rev.getDouble(3)) // delta negates exactly
  }

  test("x30 cosmetic refactor has delta exactly 0.0 and empty field lists") {
    val r = ab("cosmetic_refactor")
    assert(r.getDouble(3) == 0.0)
    assert(r.getString(5) == "" && r.getString(6) == "")
  }

  test("x30 no_difference can still carry per-field regressions AND improvements") {
    val r = ab("baseline_vs_candidate")
    assert(r.getString(5).nonEmpty, "expected a per-field regression")
    assert(r.getString(6).nonEmpty, "expected a per-field improvement")
  }

  test("x31 severity ladder: critical on vanished field, warning mid-band, " +
    "stable inside the 0.02 bar; overall = worst regression") {
    val rows = ExtractionQ.x31RegressionLadder(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("auth_code").getString(5) == "critical") // current 0.0, drop 0.88
    assert(rows("auth_code").getDouble(2) == 0.0)
    assert(rows("patient_name").getString(5) == "warning")
    assert(rows("total_charges").getString(4) == "stable")
    assert(rows("claim_id").getString(4) == "improvement")
    assert(rows.values.forall(_.getString(7) == "critical")) // overall
    assert(rows.values.forall(_.getBoolean(6))) // has_regression
    // reference rule: severity classifies |delta| against >= 0.10 / >= 0.02
    rows.values.foreach { r =>
      val (delta, status, sev) = (r.getDouble(3), r.getString(4), r.getString(5))
      if (status == "regression")
        assert(sev == (if (math.abs(delta) >= 0.10) "critical" else "warning"))
      else assert(sev == "info")
    }
  }

  test("x31 baseline fixture parses with the planted field set") {
    val (micro, fields) = ExtractionQ.regressionBaseline
    assert(micro > 0.9 && micro < 1.0)
    assert(fields.map(_._1).toSet ==
      Set("claim_id", "patient_name", "provider", "total_charges", "auth_code"))
  }
}
