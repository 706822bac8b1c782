package graft.functions

import java.text.Normalizer

/** String scalar library, semantics pinned to the reference's
  * src/utils/string_utils.py (behavior reproduced from public repo study;
  * implementation is original Scala).
  */
object Strings {

  /** Regex-\s class: [ \t\n\x0B\f\r] — the exact set `split("\\s+")` used. */
  @inline private[graft] def isWs(c: Char): Boolean =
    c <= ' ' && (c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r')

  /** Collapse all whitespace runs to single spaces and trim.
    * Reference: string_utils.py:14-33 (`" ".join(text.split())`).
    * Single-pass scan — this sits on the extraction kernel's hot path, where
    * a per-call `split("\\s+")` would recompile its Pattern every invocation.
    */
  def normalizeWhitespace(text: String): String = {
    if (text == null || text.isEmpty) return ""
    val n = text.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var pendingSpace = false
    while (i < n) {
      val c = text.charAt(i)
      if (isWs(c)) { if (sb.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Whitespace-delimited tokens (fast equivalent of
    * `split("\\s+").filter(_.nonEmpty)`).
    */
  private[graft] def splitWs(text: String): Array[String] = {
    if (text == null || text.isEmpty) return Array.empty
    val out = scala.collection.mutable.ArrayBuilder.make[String]
    val n = text.length
    var i = 0
    while (i < n) {
      while (i < n && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(text.charAt(i))) i += 1
      if (i > start) out += text.substring(start, i)
    }
    out.result()
  }

  /** Count of whitespace-delimited tokens without materializing them. */
  private[graft] def countWsTokens(text: String): Int = {
    if (text == null || text.isEmpty) return 0
    var count = 0
    val n = text.length
    var i = 0
    while (i < n) {
      while (i < n && isWs(text.charAt(i))) i += 1
      if (i < n) { count += 1; while (i < n && !isWs(text.charAt(i))) i += 1 }
    }
    count
  }

  private val namePrefixes =
    Seq("DR.", "DR", "MR.", "MR", "MRS.", "MRS", "MS.", "MS", "MISS")
  private val nameSuffixes = Seq(
    "MD", "M.D.", "DO", "D.O.", "NP", "N.P.", "PA", "P.A.", "RN", "R.N.",
    "PHD", "PH.D.", "JR", "JR.", "SR", "SR.", "II", "III", "IV")

  /** Normalize a person name to "LAST, FIRST MI".
    * Reference: string_utils.py:36-109. Single-pass prefix strip, suffix strip
    * (both " SUF" and ", SUF" endings), then FIRST LAST -> LAST, FIRST.
    */
  def normalizeName(name: String): String = {
    if (name == null || name.isEmpty) return ""
    var n = normalizeWhitespace(name.toUpperCase)
    namePrefixes.foreach { p => if (n.startsWith(p + " ")) n = n.substring(p.length + 1) }
    nameSuffixes.foreach { s =>
      if (n.endsWith(" " + s)) n = n.substring(0, n.length - s.length - 1)
      else if (n.endsWith(", " + s)) n = n.substring(0, n.length - s.length - 2)
    }
    n = n.trim
    if (n.contains(", ")) return n
    val parts = n.split(" ").filter(_.nonEmpty)
    if (parts.length >= 2) s"${parts.last}, ${parts.dropRight(1).mkString(" ")}"
    else n
  }

  private val numberRe = "-?\\d+(?:\\.\\d+)?".r
  private val intRe = "-?\\d+".r

  /** All integer/decimal literals in order. Reference: string_utils.py:112-131. */
  def extractNumbers(text: String): Seq[String] =
    if (text == null || text.isEmpty) Seq.empty
    else numberRe.findAllIn(text).toSeq

  /** All integers in order. Reference: string_utils.py:134-148. */
  def extractIntegers(text: String): Seq[Long] =
    if (text == null || text.isEmpty) Seq.empty
    else intRe.findAllIn(text).map(_.toLong).toSeq

  /** Parse a currency string to a 2+-scale decimal; None on failure.
    * Handles `$1,234.56`, parenthesized negatives `(500.00)`, trailing `-` or
    * `CR` negatives, and `$£€¥` symbols. Reference: string_utils.py:151-202.
    */
  def cleanCurrency(value: String): Option[BigDecimal] = {
    if (value == null) return None
    var v = value.trim
    if (v.isEmpty) return None
    var neg = v.startsWith("(") && v.endsWith(")")
    if (neg) v = v.substring(1, v.length - 1)
    if (v.endsWith("CR") || v.endsWith("-")) {
      neg = true
      v = v.reverse.dropWhile(c => c == 'C' || c == 'R').reverse
      v = v.reverse.dropWhile(_ == '-').reverse.trim
    }
    if (v.startsWith("-")) { neg = true; v = v.substring(1) }
    v = v.replaceAll("[$£€¥]", "").replace(",", "").trim
    if (v.isEmpty) return None
    try {
      val d = BigDecimal(v)
      Some(if (neg) -d else d)
    } catch { case _: NumberFormatException => None }
  }

  /** Truncate to max length at a word boundary with a suffix.
    * Reference: string_utils.py:205-244.
    */
  def truncateText(
      text: String,
      maxLength: Int,
      suffix: String = "...",
      wordBoundary: Boolean = true): String = {
    if (text == null || text.length <= maxLength) return if (text == null) null else text
    val truncLen = maxLength - suffix.length
    if (truncLen <= 0) return suffix.take(maxLength)
    var t = text.take(truncLen)
    if (wordBoundary) {
      val lastSpace = t.lastIndexOf(' ')
      if (lastSpace > 0) t = t.take(lastSpace)
    }
    t.replaceAll("\\s+$", "") + suffix
  }

  /** Classic Levenshtein DP. Reference: string_utils.py:246-277. In Spark
    * plans prefer the built-in `levenshtein()`; this exists for the pure
    * kernel + parity tests.
    */
  def levenshtein(s1: String, s2: String): Int = {
    if (s1.length < s2.length) return levenshtein(s2, s1)
    if (s2.isEmpty) return s1.length
    var prev = (0 to s2.length).toArray
    var i = 0
    while (i < s1.length) {
      val cur = new Array[Int](s2.length + 1)
      cur(0) = i + 1
      var j = 0
      while (j < s2.length) {
        val ins = prev(j + 1) + 1
        val del = cur(j) + 1
        val sub = prev(j) + (if (s1.charAt(i) == s2.charAt(j)) 0 else 1)
        cur(j + 1) = math.min(math.min(ins, del), sub)
        j += 1
      }
      prev = cur
      i += 1
    }
    prev(s2.length)
  }

  /** Similarity ratio = 1 - dist/maxLen. Reference: string_utils.py:324-351. */
  def similarityRatio(s1: String, s2: String, caseSensitive: Boolean = false): Double = {
    val e1 = s1 == null || s1.isEmpty
    val e2 = s2 == null || s2.isEmpty
    if (e1 && e2) return 1.0
    if (e1 || e2) return 0.0
    val (a, b) = if (caseSensitive) (s1, s2) else (s1.toLowerCase, s2.toLowerCase)
    val maxLen = math.max(a.length, b.length)
    1.0 - levenshtein(a, b).toDouble / maxLen
  }

  /** Fuzzy match at a threshold. Reference: string_utils.py:280-321. */
  def fuzzyMatch(s1: String, s2: String, threshold: Double = 0.8): Boolean = {
    val e1 = s1 == null || s1.isEmpty
    val e2 = s2 == null || s2.isEmpty
    if (e1 || e2) return e1 == e2
    similarityRatio(s1, s2) >= threshold
  }

  /** NFD-normalize and drop combining marks. Reference: string_utils.py:354-378. */
  def removeDiacritics(text: String): String = {
    if (text == null || text.isEmpty) return ""
    val norm = Normalizer.normalize(text, Normalizer.Form.NFD)
    norm.filter(c => Character.getType(c) != Character.NON_SPACING_MARK)
  }

  /** Strip control chars, normalize smart quotes, drop zero-width chars.
    * Reference: string_utils.py:381-416.
    */
  def cleanOcrText(text: String): String = {
    if (text == null || text.isEmpty) return ""
    // single pass (hot path)
    val n = text.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      if (!ocrDropped(c)) sb.append(ocrQuote(c))
      i += 1
    }
    sb.toString
  }

  /** cleanOcrText's drop set: control chars except \t \n \r, and the
    * zero-width chars U+200B..U+200D, U+FEFF.
    */
  @inline private[graft] def ocrDropped(c: Char): Boolean =
    (c < ' ' && c != '\t' && c != '\n' && c != '\r') ||
      (c >= '\u200B' && c <= '\u200D') || c == '\uFEFF'

  /** Neither whitespace nor changed by cleanOcrText: the char is copied as
    * is. Every char the two rules touch is at most ' ' or at least U+200B.
    */
  @inline private[graft] def ocrPlain(c: Char): Boolean = c > ' ' && c < '\u200B'

  /** cleanOcrText's quote map: smart quotes to their ASCII forms. */
  @inline private[graft] def ocrQuote(c: Char): Char =
    if (c == '“' || c == '”') '"'
    else if (c == '‘' || c == '’') '\''
    else c

  /** Extract text between two markers. Reference: string_utils.py:419-462. */
  def extractBetween(text: String, start: String, end: String): Option[String] = {
    if (text == null || start == null || end == null || start.isEmpty || end.isEmpty)
      return None
    val si = text.indexOf(start)
    if (si < 0) return None
    val from = si + start.length
    val ei = text.indexOf(end, from)
    if (ei < 0) return None
    Some(text.substring(from, ei))
  }

  /** Pad/truncate to a fixed length (string_utils.py:463-490). */
  def padString(text: String, length: Int, padChar: Char = ' ',
      align: String = "left"): String = {
    val t = if (text == null) "" else text
    if (t.length >= length) return t.take(length)
    val deficit = length - t.length
    align match {
      case "left" => t + padChar.toString * deficit
      case "right" => padChar.toString * deficit + t
      case _ => // center: python str.center puts the extra char on the right
        val l = deficit / 2
        padChar.toString * l + t + padChar.toString * (deficit - l)
    }
  }

  /** Regex split with trimmed non-empty segments; optionally keep the
    * delimiter via lookahead (string_utils.py:492-517).
    */
  def splitOnPattern(text: String, pattern: String,
      keepDelimiter: Boolean = false): Seq[String] = {
    if (text == null || text.isEmpty) return Seq.empty
    val parts =
      if (keepDelimiter) text.split(s"(?=$pattern)", -1)
      else text.split(pattern, -1)
    parts.toIndexedSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Null-safe stringify (string_utils.py:536-553). */
  def safeString(value: Any, default: String = ""): String =
    if (value == null) default
    else try String.valueOf(value) catch { case _: Exception => default }

  /** Boolean field coercion (multi_record.py:284-349 ladder's boolean arm):
    * {true, yes, y, 1, checked, x, on} -> true; {false, no, n, 0, unchecked,
    * off, ""} -> false; anything else unparseable (None).
    */
  def coerceBoolean(value: String): Option[Boolean] = {
    if (value == null) return None
    value.trim.toLowerCase match {
      case "true" | "yes" | "y" | "1" | "checked" | "x" | "on" => Some(true)
      case "false" | "no" | "n" | "0" | "unchecked" | "off" | "" => Some(false)
      case _ => None
    }
  }

  /** PHI masking patterns (hash_utils.py:151-176): (regex, replacement,
    * type), applied as a sequential replace cascade.
    */
  val phiPatterns: Seq[(java.util.regex.Pattern, String, String)] = Seq(
    ("\\b\\d{3}[-\\s]?\\d{2}[-\\s]?\\d{4}\\b", "***-**-****", "SSN"),
    ("\\b\\(?\\d{3}\\)?[-.\\s]?\\d{3}[-.\\s]?\\d{4}\\b", "(***) ***-****", "PHONE"),
    ("\\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Z|a-z]{2,}\\b", "****@****.***", "EMAIL"),
    ("\\b(?:\\d{1,2}[-/]\\d{1,2}[-/]\\d{2,4}|\\d{4}[-/]\\d{1,2}[-/]\\d{1,2})\\b",
      "**/**/****", "DATE"),
    ("\\b1[A-Z0-9]{10}\\b", "***********", "MEDICARE_ID"),
    ("\\bMRN[:\\s]*[A-Z0-9]{6,12}\\b", "MRN: ********", "MRN"),
    ("\\b[12]\\d{9}\\b", "**********", "NPI"),
    ("\\b(?:\\d{4}[-\\s]?){3,4}\\d{1,4}\\b", "****-****-****-****", "CREDIT_CARD"),
    ("\\b(?:Account|Acct)[:\\s#]*[A-Z0-9]{6,15}\\b", "Account: ********", "ACCOUNT"),
    ("\\b(?:Member|Subscriber)[:\\s#]*[A-Z0-9]{6,15}\\b", "Member: ********", "MEMBER_ID"))
    .map { case (p, r, t) =>
      (java.util.regex.Pattern.compile(p, java.util.regex.Pattern.CASE_INSENSITIVE), r, t)
    }

  /** Mask PHI in text; returns (masked text, detected (type, position)
    * pairs). Sequential-replace semantics of hash_utils.py:179-222:
    * detections are found against the ORIGINAL text per pattern, masking is
    * applied cumulatively.
    */
  def maskSensitiveData(text: String): (String, Seq[(String, Int)]) = {
    if (text == null) return ("", Seq.empty)
    var masked = text
    val detected = Seq.newBuilder[(String, Int)]
    phiPatterns.foreach { case (re, repl, kind) =>
      val m = re.matcher(text)
      while (m.find()) detected += ((kind, m.start()))
      masked = re.matcher(masked).replaceAll(
        java.util.regex.Matcher.quoteReplacement(repl))
    }
    (masked, detected.result())
  }
}
