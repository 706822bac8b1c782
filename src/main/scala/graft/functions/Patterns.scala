package graft.functions

import scala.util.matching.Regex

/** Hallucination pattern detection — placeholder/test-data/generic-value
  * regexes and severity-weighted suspicion scoring. Semantics pinned to the
  * reference's src/validation/pattern_detector.py:151-232 (patterns) and
  * :908 (scoring). All regexes are compiled once (object init), mirroring the
  * per-partition precompile mandate of SURVEY.md §2.5.
  */
object Patterns {

  /** Placeholder patterns, case-insensitive (pattern_detector.py:151-170). */
  val placeholderPatterns: Seq[Regex] = Seq(
    "^n/?a$", "^tbd$", "^xxx+$", "^placeholder$", "^unknown$",
    "^not\\s*applicable$", "^not\\s*available$", "^none$", "^null$",
    "^undefined$", "^to\\s*be\\s*determined$", "^pending$", "^missing$",
    "^\\[.*\\]$", "^<.*>$", "^_+$", "^\\*+$", "^\\.{3,}$"
  ).map(p => ("(?i)" + p).r)

  /** Generic/test names (pattern_detector.py:173-187). */
  val genericNames: Set[String] = Set(
    "john doe", "jane doe", "john smith", "jane smith", "test patient",
    "test user", "sample patient", "demo patient", "patient name",
    "first last", "example name", "foo bar", "lorem ipsum")

  /** Generic addresses (pattern_detector.py:190-200). */
  val genericAddresses: Set[String] = Set(
    "123 main st", "123 main street", "456 oak ave", "789 elm st",
    "test address", "sample address", "example street", "po box 123",
    "1234 street name")

  /** Test-data indicators (pattern_detector.py:203-211). */
  val testDataPatterns: Seq[Regex] = Seq(
    "^test\\s*\\d*$", "^sample\\s*\\d*$", "^demo\\s*\\d*$", "^example\\s*\\d*$",
    "^dummy\\s*\\d*$", "^mock\\s*\\d*$", "^fake\\s*\\d*$"
  ).map(p => ("(?i)" + p).r)

  def isPlaceholder(value: String): Boolean = {
    if (value == null) return false
    val v = value.trim
    if (v.isEmpty) return false
    placeholderPatterns.exists(_.findFirstIn(v).isDefined)
  }

  def isGenericName(value: String): Boolean =
    value != null && genericNames.contains(Strings.normalizeWhitespace(value).toLowerCase)

  def isGenericAddress(value: String): Boolean =
    value != null && genericAddresses.contains(Strings.normalizeWhitespace(value).toLowerCase)

  def isTestData(value: String): Boolean = {
    if (value == null) return false
    val v = value.trim
    testDataPatterns.exists(_.findFirstIn(v).isDefined)
  }

  /** Repeated-digit runs like 99999 / 00000 (pattern_detector.py:720). */
  private val repeatedDigitsRe = "(\\d)\\1{4,}".r
  def hasRepeatedDigits(value: String): Boolean =
    value != null && repeatedDigitsRe.findFirstIn(value).isDefined

  /** Ascending/descending digit sequences like 12345 (pattern_detector.py:826). */
  def isSequentialDigits(value: String): Boolean = {
    if (value == null) return false
    val ds = value.filter(_.isDigit)
    if (ds.length < 5) return false
    val asc = ds.sliding(2).forall(p => p(1) - p(0) == 1)
    val desc = ds.sliding(2).forall(p => p(0) - p(1) == 1)
    (asc || desc) && ds.length == value.trim.length
  }

  // ---- field-name predicates (pattern_detector.py:960-1004) ----

  private def anyIn(name: String, inds: Seq[String]): Boolean = {
    val l = if (name == null) "" else name.toLowerCase
    inds.exists(l.contains)
  }
  def isNameField(f: String): Boolean =
    anyIn(f, Seq("name", "patient", "provider", "physician", "subscriber"))
  def isAddressField(f: String): Boolean =
    anyIn(f, Seq("address", "street", "city", "addr", "location"))
  def isIdentifierField(f: String): Boolean =
    anyIn(f, Seq("id", "number", "npi", "ssn", "ein", "member", "policy", "claim"))
  def isTextField(f: String): Boolean =
    anyIn(f, Seq("name", "description", "notes", "comments", "address"))

  /** Truncation indicators (pattern_detector.py:769-795). */
  def isTruncated(value: String): Boolean =
    value != null && Seq("...", "…", "---", "___").exists(value.endsWith)

  /** Alphabetic run sequences like abcd (pattern_detector.py:797-826;
    * caller gates on isTextField).
    */
  def hasAlphabeticSequence(value: String): Boolean = {
    if (value == null) return false
    val alpha = value.toLowerCase.filter(c => c >= 'a' && c <= 'z')
    alpha.length >= 4 &&
      (alpha.contains("abcd") || alpha.contains("efgh") || alpha.contains("lmno"))
  }

  /** All-zero identifier digits, >= 5 digits (pattern_detector.py:828-848). */
  def isAllZeroIdentifier(value: String): Boolean = {
    if (value == null) return false
    val ds = value.filter(_.isDigit)
    ds.length >= 5 && ds.forall(_ == '0')
  }

  /** Ascending sequential identifier digits, >= 5 (pattern_detector.py:850-868). */
  def isSequentialIdentifier(value: String): Boolean = {
    if (value == null) return false
    val ds = value.filter(_.isDigit)
    ds.length >= 5 && (1 until ds.length).forall(i => ds(i) - ds(i - 1) == 1)
  }

  /** Per-field flags with field-name gating — the full
    * _check_field_patterns ladder (generic name/address gated by field
    * kind, alpha sequences by text fields, identifier patterns by id
    * fields; placeholder/test-data/repetition/truncation ungated).
    */
  def namedFieldFlags(field: String, value: String): Seq[String] = {
    var flags = List.empty[String]
    if (isPlaceholder(value)) flags ::= "critical"
    if (isNameField(field) && isGenericName(value)) flags ::= "high"
    if (isAddressField(field) && isGenericAddress(value)) flags ::= "high"
    if (isTestData(value)) flags ::= "high"
    if (hasRepeatedDigits(value)) flags ::= "medium"
    if (isTruncated(value)) flags ::= "medium"
    if (isTextField(field) && hasAlphabeticSequence(value)) flags ::= "medium"
    if (isIdentifierField(field)) {
      if (isAllZeroIdentifier(value)) flags ::= "critical"
      if (isSequentialIdentifier(value)) flags ::= "high"
    }
    flags.reverse
  }

  /** Cross-field flags (pattern_detector.py:385-441): the same non-trivial
    * value in >= 3 fields (high, once per value group) and sorted numeric
    * triples n, n+1, n+2 across fields (medium, once per window).
    */
  def crossFieldFlags(data: Map[String, String]): Seq[String] = {
    val strValues = data.collect {
      case (k, v) if v != null && v.trim.nonEmpty => k -> v.trim.toLowerCase
    }
    val repeated = strValues.values.filter(_.length > 2)
      .groupBy(identity).count(_._2.size >= 3)
    val ints = strValues.values.toSeq
      .flatMap { v =>
        val ds = v.filter(_.isDigit)
        if (ds.isEmpty) None
        else try {
          val n = ds.toLong
          if (n > 0 && n < 1000000) Some(n) else None
        } catch { case _: Exception => None }
      }
      .sorted
    val triples =
      if (ints.length < 3) 0
      else (0 until ints.length - 2).count(i =>
        ints(i + 1) == ints(i) + 1 && ints(i + 2) == ints(i) + 2)
    Seq.fill(repeated)("high") ++ Seq.fill(triples)("medium")
  }

  /** Full record suspicion: per-field gated flags + cross-field flags,
    * severity-weighted and capped at 1 (pattern_detector.py:885-918).
    */
  def recordFlags(data: Map[String, String]): Seq[String] =
    data.toSeq.sortBy(_._1).flatMap { case (f, v) => namedFieldFlags(f, v) } ++
      crossFieldFlags(data)

  def recordSuspicion(data: Map[String, String]): Double =
    math.min(1.0, recordFlags(data).map(severityWeights.getOrElse(_, 0.0)).sum)

  /** Severity weights (pattern_detector.py:225-232). */
  val severityWeights: Map[String, Double] =
    Map("low" -> 0.1, "medium" -> 0.3, "high" -> 0.5, "critical" -> 0.8)

  val hallucinationThreshold: Double = 0.70

  /** Per-field flag severities for a string value; the record score is a
    * capped severity-weighted sum over flagged fields
    * (pattern_detector.py:885-918 shape: score = min(1, sum(weights))).
    */
  def fieldFlags(value: String): Seq[String] = {
    var flags = List.empty[String]
    if (isPlaceholder(value)) flags ::= "critical"
    if (isGenericName(value) || isGenericAddress(value)) flags ::= "high"
    if (isTestData(value)) flags ::= "high"
    if (hasRepeatedDigits(value)) flags ::= "medium"
    if (isSequentialDigits(value)) flags ::= "medium"
    flags.reverse
  }

  def suspicionScore(values: Seq[String]): Double = {
    val s = values.flatMap(fieldFlags).map(severityWeights.getOrElse(_, 0.0)).sum
    math.min(1.0, s)
  }
}
