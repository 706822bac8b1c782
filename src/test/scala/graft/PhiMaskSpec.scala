package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PhiMask
import graft.pipeline.Export

/** PHI masking + consolidated-export goldens (reference
  * src/security/phi_mask.py usage contract and
  * src/export/consolidated_export.py:86-118).
  */
class PhiMaskSpec extends AnyFunSuite {

  test("module docstring example: name-listed fields redact, amounts survive") {
    val rec = Map("patient_name" -> "John Doe", "ssn" -> "123-45-6789",
      "amount" -> "250.0")
    val masked = PhiMask.maskRecord(rec,
      phiFieldNames = Some(Set("patient_name", "ssn")))
    assert(masked("patient_name") == "[REDACTED]")
    assert(masked("ssn") == "[REDACTED]")
    assert(masked("amount") == "250.0")
  }

  test("field-NAME pattern detection covers the HIPAA fragment list") {
    Seq("patient_first_name", "member_id", "subscriber_dob", "home_address",
      "cell_phone", "work_email", "policy_number", "device_id")
      .foreach(n => assert(PhiMask.isPhiFieldName(n), n))
    Seq("total_charges", "cpt_code", "diagnosis_pointer", "quantity")
      .foreach(n => assert(!PhiMask.isPhiFieldName(n), n))
    // extra caller-supplied fragments extend the set
    assert(PhiMask.isPhiFieldName("case_ref", extra = Seq("case")))
  }

  test("value-shape fallback redacts PHI hiding in non-PHI fields") {
    // SSN / phone / email / street address / date shapes
    Seq("ssn is 123-45-6789", "call 415-555-0123", "a@b.example.com",
      "lives at 42 Main Street", "seen 03/14/1987")
      .foreach(v => assert(PhiMask.redactStringValue(v) == "[REDACTED]", v))
    Seq("call later", "ref 12345", "total $99.50", "note alpha")
      .foreach(v => assert(PhiMask.redactStringValue(v) == v, v))
    val masked = PhiMask.maskRecord(Map("notes" -> "ssn 123-45-6789"))
    assert(masked("notes") == "[REDACTED]")
    // redactValues=false trusts the explicit field list alone
    val trusting = PhiMask.maskRecord(Map("notes" -> "ssn 123-45-6789"),
      phiFieldNames = Some(Set.empty), redactValues = false)
    assert(trusting("notes") == "ssn 123-45-6789")
  }

  test("token masking: JWT / bearer / query-string, inline and whole-value") {
    val jwt = "eyJhbGciOi.eyJzdWIiOjE.sig_part-x"
    assert(PhiMask.redactStringValue(s"auth $jwt done") == "[REDACTED]")
    assert(PhiMask.redactStringValue("Authorization: Bearer abcd1234xyz") == "[REDACTED]")
    assert(PhiMask.redactStringValue("a=1&access_token=s3cr3t&b=2") == "[REDACTED]")
    assert(PhiMask.redactStringValue("plain text") == "plain text")
    assert(PhiMask.redactStringValue(s"k=$jwt") == "[REDACTED]")
  }

  test("record completeness against schema") {
    val schema = Seq("a" -> true, "b" -> true, "c" -> false, "d" -> false)
    val full = Export.validateCompleteness(
      Map("a" -> "1", "b" -> "2", "c" -> "3", "d" -> "4"), schema)
    assert(full.isComplete && full.completenessScore == 1.0)
    val gappy = Export.validateCompleteness(
      Map("a" -> "1", "b" -> "", "c" -> "3", "d" -> ""), schema)
    assert(!gappy.isComplete)
    assert(gappy.missingRequired == Seq("b"))
    assert(gappy.emptyFields == Seq("b", "d"))
    assert(gappy.completenessScore == 0.5)
    // a required field absent from the record entirely is also missing
    val absent = Export.validateCompleteness(Map("a" -> "1"), schema)
    assert(absent.missingRequired == Seq("b"))
  }
}
