package graft

import graft.functions.{Codes, Patterns}
import org.scalatest.funsuite.AnyFunSuite

/** Parity with reference validators (src/schemas/validators.py,
  * src/validation/medical_codes.py) and the hallucination pattern detector
  * (src/validation/pattern_detector.py:151-232).
  */
class CodesPatternsSpec extends AnyFunSuite {

  test("field-name predicates gate the detector (pattern_detector.py:960-1004)") {
    assert(Patterns.isNameField("patient_name") && Patterns.isNameField("Subscriber"))
    assert(!Patterns.isNameField("total_charges"))
    assert(Patterns.isAddressField("billing_address") && !Patterns.isAddressField("notes"))
    assert(Patterns.isIdentifierField("member_id") && Patterns.isIdentifierField("claim_number"))
    assert(Patterns.isTextField("description") && !Patterns.isTextField("ref_a"))
  }

  test("truncation / alphabetic-sequence / identifier detectors") {
    assert(Patterns.isTruncated("cut off here..."))
    assert(Patterns.isTruncated("dash end---") && Patterns.isTruncated("u end___"))
    assert(!Patterns.isTruncated("complete value"))
    assert(Patterns.hasAlphabeticSequence("see ABCD list"))
    assert(Patterns.hasAlphabeticSequence("xx efgh yy") && Patterns.hasAlphabeticSequence("lmnop"))
    assert(!Patterns.hasAlphabeticSequence("abc")) // < 4 alpha chars
    assert(!Patterns.hasAlphabeticSequence("regular text"))
    assert(Patterns.isAllZeroIdentifier("00000") && Patterns.isAllZeroIdentifier("0-0000-0"))
    assert(!Patterns.isAllZeroIdentifier("0000")) // < 5 digits
    assert(!Patterns.isAllZeroIdentifier("00001"))
    assert(Patterns.isSequentialIdentifier("12345") && Patterns.isSequentialIdentifier("M34567"))
    assert(!Patterns.isSequentialIdentifier("54321")) // ascending only (ref :850)
    assert(!Patterns.isSequentialIdentifier("1234"))
  }

  test("named-field flags apply gates; record suspicion sums cross-field too") {
    // generic name fires only on name fields
    assert(Patterns.namedFieldFlags("patient_name", "john doe") == Seq("high"))
    assert(Patterns.namedFieldFlags("ref_a", "john doe").isEmpty)
    // identifier checks fire only on id fields
    assert(Patterns.namedFieldFlags("member_id", "00000") == Seq("medium", "critical"))
    assert(Patterns.namedFieldFlags("notes", "00000") == Seq("medium")) // repetition only
    // cross-field: same value in 3 fields -> one high; triple -> one medium
    val rec = Map("a_notes" -> "dup value", "b_notes" -> "dup value",
      "c_notes" -> "dup value", "ref_x" -> "101", "ref_y" -> "102", "ref_z" -> "103")
    val flags = Patterns.crossFieldFlags(rec)
    assert(flags.count(_ == "high") == 1 && flags.count(_ == "medium") == 1)
    assert(Patterns.recordSuspicion(rec) == math.min(1.0, 0.5 + 0.3))
    // overlapping sequences produce one match per window (ref :885-918 sum)
    val seq4 = Map("r1" -> "201", "r2" -> "202", "r3" -> "203", "r4" -> "204")
    assert(Patterns.crossFieldFlags(seq4).count(_ == "medium") == 2)
  }

  test("NPI modified Luhn (80840 prefix)") {
    assert(Codes.validateNpi("1234567893"))        // validators.py docstring golden
    assert(!Codes.validateNpi("1234567890"))       // bad checksum
    assert(!Codes.validateNpi("9234567893"))       // must start 1|2
    assert(!Codes.validateNpi("123456789"))        // 9 digits
    assert(Codes.validateNpi("123-456-7893"))      // separators stripped
    assert(!Codes.validateNpi(null))
  }

  test("CPT / ICD-10 / HCPCS / NDC / POS shapes") {
    assert(Codes.validCpt("99213"))
    assert(!Codes.validCpt("9921"))
    assert(!Codes.validCpt("A9213"))
  }

  test("placeholder patterns (pattern_detector.py:151-170)") {
    for (v <- Seq("N/A", "na", "TBD", "xxx", "XXXX", "placeholder", "unknown",
        "not applicable", "notavailable", "none", "null", "undefined",
        "to be determined", "pending", "missing", "[value]", "<name>", "___",
        "***", "...."))
      assert(Patterns.isPlaceholder(v), s"expected placeholder: $v")
    for (v <- Seq("Alice Smith", "99213", "real value", ""))
      assert(!Patterns.isPlaceholder(v), s"not placeholder: $v")
  }

  test("generic names/addresses and test data") {
    assert(Patterns.isGenericName("John Doe"))
    assert(Patterns.isGenericName("  jane   smith "))
    assert(!Patterns.isGenericName("Alice Cooper"))
    assert(Patterns.isGenericAddress("123 Main St"))
    assert(!Patterns.isGenericAddress("17 Accacia Ave"))
    assert(Patterns.isTestData("test"))
    assert(Patterns.isTestData("Sample 3"))
    assert(Patterns.isTestData("demo42"))
    assert(!Patterns.isTestData("testimony"))
  }

  test("sequential/repeated digits (test_reconciler.py:120-135)") {
    assert(Patterns.isSequentialDigits("12345"))
    assert(Patterns.isSequentialDigits("54321"))
    assert(!Patterns.isSequentialDigits("99213"))
    assert(Patterns.hasRepeatedDigits("99999"))
    assert(!Patterns.hasRepeatedDigits("9999"))
  }

  test("round numbers + suspicion scoring") {
    // one critical placeholder = 0.8 >= 0.70 threshold
    assert(Patterns.suspicionScore(Seq("N/A", "Alice")) >= Patterns.hallucinationThreshold)
    // clean record scores 0
    assert(Patterns.suspicionScore(Seq("Alice Smith", "42.17")) == 0.0)
    // score capped at 1.0
    assert(Patterns.suspicionScore(Seq("N/A", "TBD", "none", "null")) == 1.0)
  }
}
