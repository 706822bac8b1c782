package graft.functions

/** Identifier/code validators. Semantics pinned to the reference's
  * src/schemas/validators.py and src/validation/medical_codes.py
  * (pure arithmetic + regex; original Scala implementation).
  */
object Codes {

  /** Modified Luhn over "80840" + 10-digit NPI (CMS NPI Final Rule).
    * Reference: validators.py:837-871.
    */
  def npiLuhnOk(npi10: String): Boolean = {
    val full = "80840" + npi10
    if (!full.forall(_.isDigit)) return false
    var total = 0
    var idx = 0
    var i = full.length - 1
    while (i >= 0) {
      val v = full.charAt(i) - '0'
      val d =
        if (idx % 2 == 0) v
        else { val x = v * 2; if (x > 9) x - 9 else x }
      total += d
      idx += 1
      i -= 1
    }
    total % 10 == 0
  }

  /** Full NPI validation: strip non-digits, 10 digits, starts 1|2, Luhn.
    * Reference: validators.py:873-939.
    */
  def validateNpi(npi: String): Boolean = {
    if (npi == null) return false
    val s = npi.filter(_.isDigit)
    s.length == 10 && (s.head == '1' || s.head == '2') && npiLuhnOk(s)
  }

  private val cptRe = "^\\d{5}$".r
  /** CPT: exactly 5 digits (validators.py:58). */
  def validCpt(code: String): Boolean =
    code != null && cptRe.findFirstIn(code.trim).isDefined

  /** CPT/HCPCS modifier whitelist (medical_codes.py VALID_MODIFIERS —
    * published CMS set). At cluster scale this set ships as a broadcast
    * lookup.
    */
  val validModifiers: Set[String] = Set(
    "22", "23", "24", "25", "26", "27", "32", "33", "47", "50", "51", "52",
    "53", "54", "55", "56", "57", "58", "59", "62", "63", "66", "73", "74",
    "76", "77", "78", "79", "80", "81", "82", "90", "91", "92", "93", "95",
    "96", "97", "99", "AA", "AD", "AM", "AS", "AT", "AU", "AX", "AY", "AZ",
    "E1", "E2", "E3", "E4", "FA", "F1", "F2", "F3", "F4", "F5", "F6", "F7",
    "F8", "F9", "GA", "GC", "GE", "GG", "GH", "GJ", "GK", "GL", "GM", "GN",
    "GO", "GP", "GQ", "GR", "GS", "GT", "GU", "GV", "GW", "GX", "GY", "GZ",
    "HA", "HB", "HC", "HD", "HE", "HF", "HG", "HH", "HI", "HJ", "HK", "HL",
    "HM", "HN", "HO", "HP", "HQ", "HR", "HS", "HT", "HU", "HV", "HW", "HX",
    "HY", "HZ", "JA", "JB", "JC", "JD", "JE", "JF", "JG", "JW", "K0", "K1",
    "K2", "K3", "K4", "KA", "KB", "KC", "KD", "KE", "KF", "KG", "KH", "KI",
    "KJ", "KK", "KL", "KM", "KN", "KO", "KP", "KQ", "KR", "KS", "KT", "KU",
    "KV", "KW", "KX", "KY", "KZ", "LC", "LD", "LR", "LS", "LT", "P1", "P2",
    "P3", "P4", "P5", "P6", "PA", "PB", "PC", "PD", "PI", "PL", "PM", "PN",
    "PO", "PS", "PT", "Q0", "Q1", "Q2", "Q3", "Q4", "Q5", "Q6", "QA", "QB",
    "QC", "QD", "QE", "QF", "QG", "QH", "QJ", "QK", "QL", "QM", "QN", "QP",
    "QQ", "QR", "QS", "QT", "QW", "QX", "QY", "QZ", "RA", "RB", "RC", "RD",
    "RE", "RI", "RR", "RT", "SA", "SB", "SC", "SD", "SE", "SF", "SG", "SH",
    "SJ", "SK", "SL", "SM", "SN", "SQ", "SS", "ST", "SU", "SV", "SW", "SY",
    "T1", "T2", "T3", "T4", "T5", "T6", "T7", "T8", "T9", "TA", "TB", "TC",
    "TD", "TE", "TF", "TG", "TH", "TJ", "TK", "TL", "TM", "TN", "TP", "TQ",
    "TR", "TS", "TT", "TU", "TV", "TW", "UA", "UB", "UC", "UD", "UE", "UF",
    "UG", "UH", "UI", "UJ", "UK", "UN", "UP", "UQ", "UR", "US", "VP", "XE",
    "XP", "XS", "XU", "ZA", "ZB", "ZC")

  private val modifierRe = "^[A-Z0-9]{2}$".r

  /** Modifier format check + known-set membership: (formatValid, known) —
    * the reference returns WARNING (not INVALID) for format-valid unknown
    * modifiers (validators.py:502-560 docstring).
    */
  def checkModifier(mod: String): (Boolean, Boolean) = {
    if (mod == null) return (false, false)
    val m = mod.trim.toUpperCase.dropWhile(_ == '-')
    val fmt = modifierRe.findFirstIn(m).isDefined
    (fmt, fmt && validModifiers.contains(m))
  }

  private val taxonomyRe = "^[0-9]{2}[0-9A-Z]{8}$".r
  /** Healthcare provider taxonomy: 10 chars, 2 digits + 8 alnum
    * (validators.py:763-830, TAXONOMY_PATTERN with the length gate).
    */
  def validTaxonomy(code: String): Boolean = {
    if (code == null) return false
    val c = code.trim.toUpperCase
    c.length == 10 && taxonomyRe.findFirstIn(c).isDefined
  }

  private val carcRe = "^(CO|CR|OA|PI|PR)?([A-Z]?\\d{1,3})$".r
  /** CARC: optional group code (CO/CR/OA/PI/PR) + 1-3 char code; returns
    * the normalized "GROUP-code" form (validators.py:1356-1430).
    */
  def normalizeCarc(code: String): Option[String] = {
    if (code == null) return None
    val c = code.trim.toUpperCase.replaceAll("[-\\s]+", "")
    carcRe.findFirstMatchIn(c).map { m =>
      Option(m.group(1)) match {
        case Some(g) => s"$g-${m.group(2)}"
        case None => m.group(2)
      }
    }
  }

  private val rarcRe = "^(MA|M|N)(\\d{1,3})$".r
  /** RARC: MA/M/N prefix + 1-3 digits; returns (normalized, category)
    * (validators.py:1811-1890: MA=Alert, M=Modified, N=Supplemental).
    */
  def normalizeRarc(code: String): Option[(String, String)] = {
    if (code == null) return None
    val c = code.trim.toUpperCase.replaceAll("[-\\s]+", "")
    rarcRe.findFirstMatchIn(c).map { m =>
      val cat = m.group(1) match {
        case "MA" => "Alert"; case "M" => "Modified"; case _ => "Supplemental"
      }
      (m.group(1) + m.group(2), cat)
    }
  }
}
