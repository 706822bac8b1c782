package graft.functions

/** Text analysis for large-scale training-data pipelines: language ID
  * (stopword/n-gram heuristic), quality scoring (length/punct/stopword
  * ratios — analog of the reference's density/quality-driven modality logic,
  * src/preprocessing/image_enhancer.py:855-928 and src/agents/modality.py),
  * token counting, and document fingerprinting (rolling hash).
  * All functions are pure and deterministic.
  */
object TextAnalysis {

  /** Whitespace token count (single-pass; no per-call Pattern.compile). */
  def tokenCountWs(text: String): Int = Strings.countWsTokens(text)

  private val nonLetterRe = java.util.regex.Pattern.compile("[^\\p{L}]+")

  private val bpeishRe = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]".r

  /** BPE-ish token estimate: alphabetic runs count ceil(len/4) tokens,
    * each digit and each punctuation char is one token (a common public
    * rule-of-thumb approximation of byte-pair tokenizers).
    */
  def tokenCountBpeish(text: String): Int = {
    if (text == null || text.isEmpty) return 0
    bpeishRe.findAllIn(text).map { m =>
      if (m.head.isLetter) (m.length + 3) / 4 else 1
    }.sum
  }

  /** Minimal per-language stopword lists (public common-word lists). */
  val stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "a", "of", "and", "to", "in", "is", "it", "that", "for", "on", "with", "as"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "un", "una", "los", "las", "por", "con", "para"),
    "de" -> Set("der", "die", "das", "und", "ist", "in", "den", "von", "zu", "mit", "auf", "ein"),
    "fr" -> Set("le", "la", "de", "et", "un", "une", "les", "des", "en", "est", "que", "pour"),
    "it" -> Set("il", "la", "di", "che", "e", "un", "una", "in", "per", "con", "del", "non"))

  /** Language-ID heuristic: score = stopword hit-rate per language; pick the
    * argmax (ties broken by language code order); "und" when no stopword hits.
    */
  def langId(text: String): String = {
    if (text == null || text.trim.isEmpty) return "und"
    val toks = nonLetterRe.split(text.toLowerCase).filter(_.nonEmpty)
    if (toks.isEmpty) return "und"
    val scores = stopwords.map { case (lang, sw) =>
      lang -> toks.count(sw.contains).toDouble / toks.length
    }
    val (best, score) = scores.toSeq.sortBy { case (l, s) => (-s, l) }.head
    if (score <= 0.0) "und" else best
  }

  /** Stopword ratio against the given language's list (en default). */
  def stopwordRatio(text: String, lang: String = "en"): Double = {
    if (text == null || text.trim.isEmpty) return 0.0
    val toks = nonLetterRe.split(text.toLowerCase).filter(_.nonEmpty)
    if (toks.isEmpty) return 0.0
    val sw = stopwords.getOrElse(lang, stopwords("en"))
    toks.count(sw.contains).toDouble / toks.length
  }

  /** Document quality score in [0,1]: blend of length band, punctuation
    * ratio sanity, alpha ratio, mean word length band, and stopword presence.
    * Mirrors the composite-weighting style of the reference's quality_score
    * (image_enhancer.py:918-927) applied to text.
    */
  def qualityScore(text: String): Double = {
    if (text == null || text.trim.isEmpty) return 0.0
    val len = text.length
    val lengthScore =
      if (len < 20) len / 20.0 * 0.5
      else if (len <= 10000) 1.0
      else math.max(0.2, 1.0 - (len - 10000) / 100000.0)
    val punct = text.count(c => "!?.,;:".indexOf(c.toInt) >= 0)
    val punctRatio = punct.toDouble / len
    val punctScore = if (punctRatio <= 0.1) 1.0 else math.max(0.0, 1.0 - (punctRatio - 0.1) * 5)
    val alpha = text.count(_.isLetter)
    val alphaScore = alpha.toDouble / len
    val words = Strings.splitWs(text)
    val meanWord = if (words.isEmpty) 0.0 else words.map(_.length).sum.toDouble / words.length
    val wordScore = if (meanWord >= 3 && meanWord <= 10) 1.0 else 0.5
    val swScore = math.min(1.0, stopwordRatio(text) * 5)
    0.25 * lengthScore + 0.15 * punctScore + 0.25 * alphaScore + 0.15 * wordScore + 0.20 * swScore
  }

  /** Word k-shingles of normalized text. */
  def shingles(text: String, k: Int = 3): Seq[String] = {
    val toks = Strings.normalizeWhitespace(if (text == null) "" else text.toLowerCase)
      .split(" ").filter(_.nonEmpty)
    if (toks.length < k) {
      if (toks.isEmpty) Seq.empty else Seq(toks.mkString(" "))
    } else toks.sliding(k).map(_.mkString(" ")).toSeq
  }

  /** n-gram Jaccard similarity between two texts over word k-shingles. */
  def ngramJaccard(a: String, b: String, k: Int = 3): Double = {
    val sa = shingles(a, k).toSet
    val sb = shingles(b, k).toSet
    if (sa.isEmpty && sb.isEmpty) return 1.0
    if (sa.isEmpty || sb.isEmpty) return 0.0
    sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  /** Full-coverage rolling-hash fingerprint: Karp-Rabin k-gram hashes of
    * the normalized text (a mix64 finalizer per window), folded in order.
    * Every character influences the result, so distinct normalized contents
    * collide only cryptographically-rarely — the exact-dedup grouping key
    * (equal iff normalized texts are equal, in practice).
    */
  def fingerprintFull(text: String, k: Int = 16): String = {
    val t = Strings.normalizeWhitespace(if (text == null) "" else text.toLowerCase)
    if (t.isEmpty) return "0" * 16
    if (t.length <= k) return java.lang.Long.toHexString(Hashing.fnv1a64(t))
    val base = 1000003L
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= base; i += 1 }
    var h = 0L
    var fp = 0xcbf29ce484222325L
    i = 0
    while (i < t.length) {
      if (i >= k) h -= t.charAt(i - k).toLong * pow
      h = h * base + t.charAt(i).toLong
      if (i >= k - 1) fp = Hashing.mix64(fp ^ Hashing.mix64(h))
      i += 1
    }
    java.lang.Long.toHexString(fp)
  }
}
