package graft.functions

import java.util.regex.Pattern

/** Export-time PHI masking (reference src/security/phi_mask.py): the single
  * chokepoint every export format defers to. Three layers, mirrored:
  *
  *  - field-NAME fragments implying PHI under HIPAA's 18 identifiers
  *    (phi_mask.py:42-78), matched case-insensitive substring;
  *  - value-SHAPE regexes (SSN / US phone / email / street address / date,
  *    phi_mask.py:95-103) that fully redact a matching string value —
  *    defence-in-depth when a PHI value hides in a non-PHI field;
  *  - token shapes (JWT / Authorization header / token-in-query-string,
  *    phi_mask.py:113-138) whole-value redacted in records (a leaked
  *    bearer token compromises an account, so it rides the same
  *    primitive).
  */
object PhiMask {

  val RedactedToken = "[REDACTED]"

  /** phi_mask.py:42-78 — name fragments, case-insensitive substring. */
  val phiFieldPatterns: Seq[String] = Seq(
    "patient", "subscriber", "member", "guarantor", "insured", "name",
    "first_name", "last_name", "middle_name", "dob", "birth", "ssn",
    "social_security", "mrn", "medical_record", "phone", "fax", "email",
    "address", "city", "state", "zip", "postal", "policy_number",
    "member_id", "account_number", "claim_number", "license", "vehicle",
    "fingerprint", "biometric", "photo", "device_id", "url", "ip_address")

  def isPhiFieldName(fieldName: String, extra: Seq[String] = Nil): Boolean = {
    val needle = fieldName.toLowerCase
    (phiFieldPatterns.iterator ++ extra.iterator)
      .exists(p => needle.contains(p.toLowerCase))
  }

  /** phi_mask.py:95-103 — PHI value shapes (search, whole-value redact). */
  val phiValuePatterns: Seq[Pattern] = Seq(
    Pattern.compile("\\b\\d{3}-\\d{2}-\\d{4}\\b"), // SSN
    Pattern.compile("\\b\\d{3}[-.]?\\d{3}[-.]?\\d{4}\\b"), // US phone
    Pattern.compile("\\b[A-Z0-9._%+-]+@[A-Z0-9.-]+\\.[A-Z]{2,}\\b",
      Pattern.CASE_INSENSITIVE), // email
    Pattern.compile("\\b\\d{1,5}\\s+[A-Za-z0-9 ]+\\s+(?:Street|St|Avenue|Ave|Road|Rd|Lane|Ln|Drive|Dr|Boulevard|Blvd)\\b",
      Pattern.CASE_INSENSITIVE), // street address
    Pattern.compile("\\b(0?[1-9]|1[0-2])[/-](0?[1-9]|[12]\\d|3[01])[/-](19|20)\\d{2}\\b")) // date

  /** phi_mask.py:113-138 — token shapes (search, whole-value redact). */
  val tokenPatterns: Seq[Pattern] = Seq(
    Pattern.compile("eyJ[A-Za-z0-9_\\-]+\\.[A-Za-z0-9_\\-]+\\.[A-Za-z0-9_\\-]+"),
    Pattern.compile("(Bearer|Token|Basic)\\s+[A-Za-z0-9_\\-.=+/]{4,}",
      Pattern.CASE_INSENSITIVE),
    Pattern.compile("(refresh_token|access_token|api_key|secret|token|password)=[^&\\s\"']+",
      Pattern.CASE_INSENSITIVE))

  /** Whole-value redaction when any PHI or token shape matches. */
  def redactStringValue(value: String): String =
    if (phiValuePatterns.exists(_.matcher(value).find()) ||
      tokenPatterns.exists(_.matcher(value).find())) RedactedToken
    else value

  /** enforce_mask_phi over a flat record (phi_mask.py:177-244; nested
    * walks reduce to this per-leaf rule): explicit field set OR name
    * patterns decide field-level redaction; string values then pass the
    * value-shape fallback when `redactValues`.
    */
  def maskRecord(record: Map[String, String],
      phiFieldNames: Option[Set[String]] = None,
      extra: Seq[String] = Nil,
      redactValues: Boolean = true): Map[String, String] =
    record.map { case (k, v) =>
      val isPhiField = phiFieldNames match {
        case Some(names) => names.contains(k)
        case None => isPhiFieldName(k, extra)
      }
      val masked =
        if (isPhiField) { if (v == null) null else RedactedToken }
        else if (redactValues && v != null) redactStringValue(v)
        else v
      k -> masked
    }
}
