package graft.tokenize

import graft.functions.Strings
import graft.model.SpanKind

/** HTML main-content extraction: block segmentation + text-density /
  * link-density boilerplate classification.
  *
  * Algorithm follows the published Boilerpipe/Kohlschütter block-level
  * text-density + link-density approach (see PAPERS.md); the reference repo
  * has no HTML stripper — this is the capability-equivalent
  * reinterpretation mandated by SURVEY.md §0.
  *
  * The semantics are those of this regex formulation (the test oracle):
  *   blockRe  = (?is)<(nav|footer|header|h[1-6]|p|li|div)\b[^>]*>(.*?)</\1>
  *   anchorRe = (?is)<a\b[^>]*>(.*?)</a>
  *   tagRe    = (?s)<[^>]*>
  *   blocks   = blockRe matches over the page; a match whose inner text
  *              holds another blockRe match is dropped with its children
  *   text     = cleanOcrText(normalizeWs(decodeEntities(tagRe -> " ")))
  *   links    = anchorRe matches over the inner text, each tag-stripped,
  *              decoded and normalized, joined by " "
  * with one deliberate divergence in `text`: a zero-width char (U+200B..
  * U+200D, U+FEFF) between whitespace collapses to one space ("a ​ b" ->
  * "a b"), where the staged form left "a  b" (pinned by TokenizeSpec).
  *
  * `Scanner` computes it in time linear in the page (ParPaRaw's premise:
  * bounded work per input char, whatever the input). One forward pass over
  * the '<'s records the close-tag positions per tag and the candidate opens;
  * each candidate's close is then a pointer advance in its tag's list,
  * because candidates come in page order and their '>' never moves back.
  * "Holds a complete block" is a suffix minimum over the candidates' closes.
  * The per-candidate rescans of the staged scanner were quadratic on
  * unclosed `<p>`/`<li>`/`<a>` and on nested `<div>`s.
  */
object Boilerplate {

  final case class Config(
      linkDensityThreshold: Double = 0.33,
      minWords: Int = 3)

  // Tag ids: below `FirstContent` the chrome tags, which are always
  // boilerplate; `FirstContent` to `LastHeading` the headings.
  private val Names = Array(
    "nav", "footer", "header", "h1", "h2", "h3", "h4", "h5", "h6", "p", "li", "div", "a")
  private val FirstContent = 3
  private val LastHeading = 8
  private val Anchor = 12
  private val NoClose = Int.MaxValue

  /** Main-content blocks with their kinds: (kind in {heading, text}, text). */
  def mainContent(html: String, cfg: Config = Config()): Seq[(String, String)] = {
    val out = new SpanBuffer(Int.MaxValue)
    new Scanner().scan(html, cfg, out)
    out.result().map(s => (s.kind, s.text))
  }

  /** Growable int list, cleared and refilled per page. */
  private final class IntBuf {
    private var a = new Array[Int](8)
    var size = 0
    def clear(): Unit = size = 0
    def +=(v: Int): Unit = {
      if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
      a(size) = v
      size += 1
    }
    def apply(i: Int): Int = a(i)
    def update(i: Int, v: Int): Unit = a(i) = v
    def resize(n: Int): Unit = {
      if (n > a.length) a = new Array[Int](math.max(n, a.length * 2))
      size = n
    }
  }

  /** The scanner with its tables; reused across the pages of a partition,
    * not thread-safe.
    */
  final class Scanner {
    private val closes = Array.fill(Names.length)(new IntBuf)
    private val next = new Array[Int](Names.length)
    // block candidates: '<' position, tag id, first '>' after the name,
    // close position (`NoClose` without one), suffix minimum of the closes
    private val cPos, cTag, cGt, cEnd, cMin = new IntBuf
    // anchor candidates: '<' position, first '>', close position
    private val aPos, aGt, aEnd = new IntBuf
    private var aNext = 0
    private val links = new TextBuilder
    /** Chars and list entries inspected, summed over every page scanned. */
    private[graft] var work = 0L

    /** Appends the main-content blocks of `html` to `out`, in page order. */
    def scan(html: String, cfg: Config, out: SpanBuffer): Unit =
      if (html != null && !html.isEmpty) {
        index(html)
        resolve()
        emit(html, cfg, out)
      }

    /** The forward pass: close-tag positions per tag, candidate opens. */
    private def index(s: String): Unit = {
      closes.foreach(_.clear())
      cPos.clear(); cTag.clear(); cGt.clear(); aPos.clear(); aGt.clear()
      val n = s.length
      var gt = -1 // first '>' at or after the last name end; n: none left
      var i = s.indexOf('<')
      while (i >= 0) {
        if (i + 1 < n && s.charAt(i + 1) == '/') {
          val t = tagAt(s, i + 2, n)
          if (t >= 0) {
            val e = i + 2 + Names(t).length
            if (e < n && s.charAt(e) == '>') closes(t) += i
          }
        } else {
          val t = tagAt(s, i + 1, n)
          if (t >= 0) {
            val e = i + 1 + Names(t).length
            if (boundary(s, e, n)) {
              if (gt < e) {
                gt = s.indexOf('>', e)
                if (gt < 0) gt = n
                work += gt - e
              }
              if (gt < n) {
                if (t == Anchor) { aPos += i; aGt += gt }
                else { cPos += i; cTag += t; cGt += gt }
              }
            }
          }
        }
        i = s.indexOf('<', i + 1)
      }
      work += n
    }

    /** Each candidate's close: the first close of its tag after its '>'. */
    private def resolve(): Unit = {
      java.util.Arrays.fill(next, 0)
      cEnd.clear(); aEnd.clear()
      var k = 0
      while (k < cPos.size) { cEnd += firstClose(cTag(k), cGt(k)); k += 1 }
      k = 0
      while (k < aPos.size) { aEnd += firstClose(Anchor, aGt(k)); k += 1 }
      val nc = cPos.size
      cMin.resize(nc + 1)
      cMin(nc) = NoClose
      k = nc - 1
      while (k >= 0) { cMin(k) = math.min(cEnd(k), cMin(k + 1)); k -= 1 }
      work += cPos.size + aPos.size
    }

    private def firstClose(t: Int, gt: Int): Int = {
      val list = closes(t)
      var p = next(t)
      while (p < list.size && list(p) <= gt) p += 1
      work += p - next(t)
      next(t) = p
      if (p < list.size) list(p) else NoClose
    }

    /** blockRe's matches in page order; the kept ones go to `out`. */
    private def emit(s: String, cfg: Config, out: SpanBuffer): Unit = {
      val nc = cPos.size
      var from = 0  // a match ends here; the next one starts at or after it
      var inner = 0 // first candidate inside the current match
      aNext = 0
      var k = 0
      while (k < nc) {
        val end = cEnd(k)
        if (cPos(k) >= from && end != NoClose) {
          val t = cTag(k)
          val start = cGt(k) + 1
          if (inner <= k) inner = k + 1
          while (inner < nc && cPos(inner) < start) inner += 1
          // a candidate inside [start, end) closing before `end` is a
          // complete block inside this one: the container is dropped whole
          // and matching resumes after it, so its children are dropped too
          val nested = inner < nc && cMin(inner) < end
          if (!nested && t >= FirstContent) block(s, t, start, end, cfg, out)
          from = end + Names(t).length + 3
        }
        k += 1
      }
      work += nc
    }

    /** Classifies the block s[start, end) and appends it unless it is
      * boilerplate: empty, too few words (headings exempt), or link density
      * above the threshold.
      */
    private def block(s: String, t: Int, start: Int, end: Int, cfg: Config, out: SpanBuffer): Unit = {
      val text = out.text
      text.reset()
      appendText(text, s, start, end, clean = true)
      val chars = text.length
      val heading = t <= LastHeading
      if (chars > 0 && (heading || text.spaces + 1 >= cfg.minWords)) {
        val density = math.min(linkChars(s, start, end), chars).toDouble / chars
        if (density <= cfg.linkDensityThreshold)
          out.addText(if (heading) SpanKind.Heading else SpanKind.Text)
      }
    }

    /** Length of the anchor texts in s[start, end) joined by " ". */
    private def linkChars(s: String, start: Int, end: Int): Int = {
      var total = 0
      var count = 0
      var from = start
      var q = aNext
      while (q < aPos.size && aPos(q) < start) q += 1
      while (q < aPos.size && aPos(q) < end) {
        val close = aEnd(q)
        if (aPos(q) >= from && close < end) {
          links.reset()
          appendText(links, s, aGt(q) + 1, close, clean = false)
          total += links.length
          count += 1
          from = close + 4
        }
        q += 1
      }
      work += q - aNext
      aNext = q
      if (count == 0) 0 else total + (count - 1)
    }

    /** Tag-strip + entity-decode + whitespace-collapse of s[start, end)
      * into `tb`, plus OCR cleanup when `clean`.
      */
    private def appendText(tb: TextBuilder, s: String, start: Int, end: Int, clean: Boolean): Unit = {
      var gt = start - 1 // first '>' at or after the last '<'; end: none left
      var i = start
      while (i < end) {
        val c = s.charAt(i)
        if (plainText(c)) {
          val from = i
          i += 1
          while (i < end && plainText(s.charAt(i))) i += 1
          tb.append(s, from, i)
        } else if (c == '<') {
          if (gt < i) {
            gt = i + 1
            while (gt < end && s.charAt(gt) != '>') gt += 1
            work += gt - i
          }
          if (gt < end) { tb.space(); i = gt + 1 }
          else { tb.char('<'); i += 1 }
        } else if (c == '&') {
          val d = decodeEntityAt(s, i, end)
          if (d != -1L) {
            val dc = ((d >>> 32) & 0xffff).toChar
            if (Strings.isWs(dc)) tb.space() else tb.char(dc)
            i = (d & 0xffffffffL).toInt
          } else { tb.char('&'); i += 1 }
        } else if (Strings.isWs(c)) { tb.space(); i += 1 }
        else if (clean && Strings.ocrDropped(c)) i += 1
        else { tb.char(if (clean) Strings.ocrQuote(c) else c); i += 1 }
      }
      work += end - start
    }
  }

  @inline private def plainText(c: Char): Boolean =
    Strings.ocrPlain(c) && c != '<' && c != '&'

  /** Id of the block or anchor tag name starting at s(at), matched ASCII
    * case-insensitively as `(?i)` does; -1 if none. No name is a prefix of
    * another, so at most one matches.
    */
  private def tagAt(s: String, at: Int, n: Int): Int =
    if (at >= n) -1
    else (s.charAt(at) | 0x20).toChar match {
      case 'n' => if (named(s, at, n, 0)) 0 else -1
      case 'f' => if (named(s, at, n, 1)) 1 else -1
      case 'h' =>
        if (named(s, at, n, 2)) 2
        else if (at + 1 < n && s.charAt(at + 1) >= '1' && s.charAt(at + 1) <= '6') 3 + (s.charAt(at + 1) - '1')
        else -1
      case 'p' => 9
      case 'l' => if (named(s, at, n, 10)) 10 else -1
      case 'd' => if (named(s, at, n, 11)) 11 else -1
      case 'a' => Anchor
      case _ => -1
    }

  private def named(s: String, at: Int, n: Int, t: Int): Boolean = {
    val name = Names(t)
    if (at + name.length > n) return false
    var k = 1
    while (k < name.length) {
      val c = s.charAt(at + k)
      val m = name.charAt(k)
      if (c != m && !(m >= 'a' && m <= 'z' && c == m - 32)) return false
      k += 1
    }
    true
  }

  /** The regex `\b` after a tag name. java.util.regex counts a letter, a
    * digit, `_` or a non-spacing mark (which extends the name's last
    * letter) as continuing the word.
    */
  private def boundary(s: String, at: Int, n: Int): Boolean =
    at >= n || {
      val cp = Character.codePointAt(s, at)
      !(cp == '_' || Character.isLetterOrDigit(cp) ||
        Character.getType(cp) == Character.NON_SPACING_MARK)
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
}
