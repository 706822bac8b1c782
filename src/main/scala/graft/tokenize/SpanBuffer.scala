package graft.tokenize

import graft.model.{Span, SpanKind}
import scala.collection.immutable.ArraySeq

/** Whitespace-normalizing text builder shared by the kernel's scanners.
  * `space()` marks a separator and `char(c)` appends, so whitespace runs
  * collapse to one ' ' and both ends are trimmed: the output of
  * `Strings.normalizeWhitespace` with no intermediate string. It counts the
  * spaces it writes, so a span's word count (spaces + 1) needs no second walk.
  */
private[graft] final class TextBuilder {
  private var buf = new Array[Char](256)
  private var len = 0
  private var pending = false
  private var fieldStart = 0
  var spaces = 0

  def reset(): Unit = { len = 0; pending = false; fieldStart = 0; spaces = 0 }

  @inline def space(): Unit = if (len > fieldStart) pending = true

  @inline def char(c: Char): Unit = {
    if (pending) { put(' '); spaces += 1; pending = false }
    put(c)
  }

  /** `char` for each of s[from, to), copied in bulk. */
  def append(s: String, from: Int, to: Int): Unit = {
    if (pending) { put(' '); spaces += 1; pending = false }
    if (len + to - from > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + to - from))
    s.getChars(from, to, buf, len)
    len += to - from
  }

  @inline private def put(c: Char): Unit = {
    if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len * 2)
    buf(len) = c
    len += 1
  }

  /** Ends a field with `c` (EDI's `*`): the field's trailing whitespace is
    * dropped and the next field starts trimmed.
    */
  def delimit(c: Char): Unit = { pending = false; put(c); fieldStart = len }

  def length: Int = len
  def lastChar: Char = buf(len - 1)
  override def toString: String = new String(buf, 0, len)
}

/** The kernel's output buffer for one document: spans get their offsets
  * (the output ordinal) as they are added, and the buffer counts error
  * spans and the words of text and heading spans. It and its `text` builder
  * are scratch, reused across the documents of a partition.
  */
private[graft] final class SpanBuffer(maxSpans: Int) {
  val text = new TextBuilder
  private var spans = new Array[Span](16)
  private var n = 0
  private var markN, markErrors, markWords = 0
  var errors = 0
  var words = 0

  def size: Int = n

  // slots at and past `n` may hold an earlier doc's spans until overwritten
  def clear(): Unit = { n = 0; errors = 0; words = 0 }

  /** Appends a span unless the document is at `maxSpans`. */
  def add(kind: String, t: String, ref: String): Unit =
    if (n < maxSpans) {
      if (n == spans.length) spans = java.util.Arrays.copyOf(spans, n * 2)
      if (kind == SpanKind.Error) errors += 1
      spans(n) = Span(kind, t, ref, n)
      n += 1
    }

  /** Appends the built text as a `kind` span when it is non-empty. */
  def addText(kind: String): Unit =
    if (text.length > 0 && n < maxSpans) {
      if (kind == SpanKind.Text || kind == SpanKind.Heading) words += text.spaces + 1
      add(kind, text.toString, "")
    }

  /** `rollback()` drops every span added since the last `mark()`. */
  def mark(): Unit = { markN = n; markErrors = errors; markWords = words }

  def rollback(): Unit = { n = markN; errors = markErrors; words = markWords }

  /** The document's spans, array-backed (O(1) `size` for the encoder). */
  def result(): ArraySeq[Span] =
    if (n == 0) ArraySeq.empty else ArraySeq.unsafeWrapArray(java.util.Arrays.copyOf(spans, n))
}
