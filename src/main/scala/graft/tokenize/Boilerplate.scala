package graft.tokenize

import graft.functions.{Strings, TextAnalysis}

/** HTML main-content extraction: block segmentation + text-density /
  * link-density boilerplate classification.
  *
  * Algorithm follows the published Boilerpipe/Kohlschütter block-level
  * text-density + link-density approach (see PAPERS.md); the reference repo
  * has no HTML stripper — this is the capability-equivalent
  * reinterpretation mandated by SURVEY.md §0.
  *
  * Implementation is a hand-rolled single-pass scanner (block finding, tag
  * stripping, entity decoding, whitespace collapsing and OCR cleanup fused
  * into one scan per block). The original regex formulation — equivalent
  * semantics, kept as documentation and pinned by TokenizeSpec goldens —
  * was:
  *   blockRe  = (?is)<(nav|footer|header|h[1-6]|p|li|div)\b[^>]*>(.*?)</\1>
  *   anchorRe = (?is)<a\b[^>]*>(.*?)</a>
  *   tagRe    = (?s)<[^>]*>
  *   text     = cleanOcrText(normalizeWs(decodeEntities(tagRe -> " ")))
  * Profiling showed regex matching (and JDK per-call Pattern state) dominated
  * the extraction kernel, and the kernel's scaling is allocation-bound — the
  * scanner allocates one StringBuilder per block instead of ~15 intermediate
  * strings.
  */
object Boilerplate {

  final case class Block(tag: String, text: String, linkDensity: Double, words: Int)

  final case class Config(
      linkDensityThreshold: Double = 0.33,
      minWords: Int = 3)

  private val blockTags = Set(
    "nav", "footer", "header", "h1", "h2", "h3", "h4", "h5", "h6", "p", "li", "div")

  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  /** `</tag>` (ASCII case-insensitive) in s[from,end); -1 if absent. */
  private def indexOfCloseTag(s: String, from: Int, end: Int, tag: String): Int = {
    val tl = tag.length
    var i = s.indexOf('<', from)
    while (i >= 0 && i + tl + 3 <= end) {
      if (s.charAt(i + 1) == '/' &&
        s.regionMatches(true, i + 2, tag, 0, tl) && s.charAt(i + 2 + tl) == '>')
        return i
      i = s.indexOf('<', i + 1)
    }
    -1
  }

  /** One found block in s[from,end) as (tagLower, innerStart, innerEnd,
    * matchEnd); null if none. Mirrors blockRe's behavior: a candidate
    * `<tag ...>` with no `>` or no matching close fails and scanning resumes
    * at the next `<`.
    */
  private def findBlockBounds(html: String, from: Int, end: Int): (String, Int, Int, Int) = {
    var i = html.indexOf('<', from)
    while (i >= 0 && i < end) {
      val wStart = i + 1
      var wEnd = wStart
      while (wEnd < end && isWordChar(html.charAt(wEnd))) wEnd += 1
      if (wEnd > wStart && wEnd - wStart <= 6) {
        val tag = html.substring(wStart, wEnd).toLowerCase
        if (blockTags.contains(tag)) {
          val gt = html.indexOf('>', wEnd)
          if (gt >= 0 && gt < end) {
            val close = indexOfCloseTag(html, gt + 1, end, tag)
            if (close >= 0) return (tag, gt + 1, close, close + tag.length + 3)
          }
        }
      }
      i = html.indexOf('<', i + 1)
    }
    null
  }

  @inline private def startsWithin(s: String, prefix: String, at: Int, end: Int): Boolean =
    at + prefix.length <= end && s.startsWith(prefix, at)

  /** Decode one entity at s(i)=='&' fully inside s[i,end); returns
    * (char, nextIndex) packed in a long, or -1 if no entity matches. The
    * sequential-replace cascade of the documented formulation
    * ("&amp;lt;" -> "&lt;" -> "<") is preserved: a decoded "&amp;"
    * immediately re-attempts the remaining five entities.
    */
  private def decodeEntityAt(s: String, i: Int, end: Int): Long = {
    @inline def pack(c: Char, next: Int): Long = (c.toLong << 32) | next.toLong
    def nonAmp(at: Int): Long = {
      if (startsWithin(s, "lt;", at, end)) pack('<', at + 3)
      else if (startsWithin(s, "gt;", at, end)) pack('>', at + 3)
      else if (startsWithin(s, "quot;", at, end)) pack('"', at + 5)
      else if (startsWithin(s, "#39;", at, end)) pack('\'', at + 4)
      else if (startsWithin(s, "nbsp;", at, end)) pack(' ', at + 5)
      else -1L
    }
    if (startsWithin(s, "amp;", i + 1, end)) {
      val cascaded = nonAmp(i + 5)
      if (cascaded != -1L) cascaded else pack('&', i + 5)
    } else nonAmp(i + 1)
  }

  /** Fused tag-strip + entity-decode + whitespace-collapse (+ OCR cleanup
    * when `clean`): single pass, one output buffer. Equivalent to
    * cleanOcrText(normalizeWhitespace(decodeEntities(tags -> " "))) with ONE
    * deliberate divergence: a zero-width char (U+200B..U+200D, U+FEFF)
    * BETWEEN whitespace collapses to a single space ("a ​ b" -> "a b"),
    * where the staged pipeline left the double space ("a  b") because the
    * zero-width char split the whitespace run before cleanup removed it.
    * The fused behavior is the intended one (zero-width chars are invisible,
    * so they shouldn't preserve extra spacing); pinned by TokenizeSpec.
    */
  private def extractText(s: String, start: Int, end: Int, clean: Boolean): String = {
    val sb = new java.lang.StringBuilder(end - start)
    var pendingSpace = false
    @inline def sep(): Unit = if (sb.length > 0) pendingSpace = true
    @inline def emit(c: Char): Unit = {
      if (clean && ((c < ' ' && c != '\t' && c != '\n' && c != '\r') ||
        (c >= '\u200B' && c <= '\u200D') || c == '\uFEFF')) ()
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        if (clean && (c == '“' || c == '”')) sb.append('"')
        else if (clean && (c == '‘' || c == '’')) sb.append('\'')
        else sb.append(c)
      }
    }
    var i = start
    while (i < end) {
      val c = s.charAt(i)
      if (c == '<') {
        val gt = s.indexOf('>', i)
        if (gt >= 0 && gt < end) { sep(); i = gt + 1 }
        else { emit('<'); i += 1 }
      } else if (c == '&') {
        val d = decodeEntityAt(s, i, end)
        if (d != -1L) {
          val dc = ((d >>> 32) & 0xffff).toChar
          if (Strings.isWs(dc)) sep() else emit(dc)
          i = (d & 0xffffffffL).toInt
        } else { emit('&'); i += 1 }
      } else if (Strings.isWs(c)) { sep(); i += 1 }
      else { emit(c); i += 1 }
    }
    sb.toString
  }

  /** Total length of the anchor texts in s[start,end) as joined by " "
    * (anchorRe semantics: `<a\b[^>]*>(.*?)</a>`, tag-stripped, no OCR clean).
    */
  private def linkTextLength(s: String, start: Int, end: Int): Int = {
    var total = 0
    var count = 0
    var i = s.indexOf('<', start)
    while (i >= 0 && i < end) {
      val next = i + 1
      if (next < end && (s.charAt(next) == 'a' || s.charAt(next) == 'A') &&
        (next + 1 >= end || !isWordChar(s.charAt(next + 1)))) {
        val gt = s.indexOf('>', next)
        if (gt >= 0 && gt < end) {
          val close = indexOfCloseTag(s, gt + 1, end, "a")
          if (close >= 0) {
            total += extractText(s, gt + 1, close, clean = false).length
            count += 1
            i = s.indexOf('<', close + 4)
          } else i = s.indexOf('<', i + 1)
        } else i = s.indexOf('<', i + 1)
      } else i = s.indexOf('<', i + 1)
    }
    if (count == 0) 0 else total + (count - 1)
  }

  /** Segment an HTML fragment into classified blocks in document order. */
  def blocks(html: String): Seq[Block] = {
    if (html == null || html.isEmpty) return Seq.empty
    val out = Seq.newBuilder[Block]
    val n = html.length
    var pos = 0
    var found = findBlockBounds(html, pos, n)
    while (found != null) {
      val (tag, innerStart, innerEnd, matchEnd) = found
      // a container holding a nested block tag is dropped whole: scanning
      // resumes after its close tag, so its children are never matched
      // either (`<div><p>a</p></div>` yields no block)
      val nested = innerEnd > innerStart &&
        findBlockBounds(html, innerStart, innerEnd) != null
      if (!nested) {
        val text = extractText(html, innerStart, innerEnd, clean = true)
        val tChars = text.length
        val lChars = math.min(linkTextLength(html, innerStart, innerEnd), tChars)
        val density = if (tChars == 0) 1.0 else lChars.toDouble / tChars
        out += Block(tag, text, density, TextAnalysis.tokenCountWs(text))
      }
      pos = matchEnd
      found = findBlockBounds(html, pos, n)
    }
    out.result()
  }

  def isHeading(b: Block): Boolean = b.tag.length == 2 && b.tag.charAt(0) == 'h'

  /** Boilerplate iff: structural chrome tag, OR link density above threshold,
    * OR too few words (headings exempt from the word floor).
    */
  def isBoilerplate(b: Block, cfg: Config = Config()): Boolean = {
    if (b.tag == "nav" || b.tag == "footer" || b.tag == "header") return true
    if (b.text.isEmpty) return true
    if (b.linkDensity > cfg.linkDensityThreshold) return true
    !isHeading(b) && b.words < cfg.minWords
  }

  /** Main-content blocks with their kinds: (kind in {heading, text}, text). */
  def mainContent(html: String, cfg: Config = Config()): Seq[(String, String)] =
    blocks(html).filterNot(isBoilerplate(_, cfg)).map { b =>
      (if (isHeading(b)) "heading" else "text", b.text)
    }
}
