package graft.functions

import graft.model.Bbox

/** Dual-pass reconciliation primitives. Semantics pinned to the reference's
  * src/agents/reconciler.py:153-205 (values_agree, IoU) and
  * src/validation/dual_pass.py:390-480 (similarity ladder).
  */
object Reconcile {

  /** Tier-1 agreement: exact; numeric within 1e-4 relative magnitude;
    * case/whitespace-insensitive string. Reference: reconciler.py:153-170.
    */
  def valuesAgree(a: String, b: String, numericTol: Double = 1e-4): Boolean = {
    if (a == null || b == null) return a == null && b == null
    if (a == b) return true
    (toDouble(a), toDouble(b)) match {
      case (Some(fa), Some(fb)) =>
        val magnitude = math.max(math.max(math.abs(fa), math.abs(fb)), 1.0)
        math.abs(fa - fb) < numericTol * magnitude
      case _ =>
        a.trim.toLowerCase == b.trim.toLowerCase
    }
  }

  private def toDouble(s: String): Option[Double] =
    try Some(s.trim.toDouble) catch { case _: Exception => None }

  /** IoU over normalized (x1,y1,x2,y2); 0.0 on missing/degenerate boxes.
    * Reference: reconciler.py:173-199. Default match threshold 0.4
    * (settings.py:560-566).
    */
  def bboxIou(a: Bbox, b: Bbox): Double = {
    if (a == null || b == null) return 0.0
    if (a.x2 <= a.x1 || a.y2 <= a.y1 || b.x2 <= b.x1 || b.y2 <= b.y1) return 0.0
    val iw = math.max(0.0, math.min(a.x2, b.x2) - math.max(a.x1, b.x1))
    val ih = math.max(0.0, math.min(a.y2, b.y2) - math.max(a.y1, b.y1))
    val inter = iw * ih
    if (inter <= 0.0) return 0.0
    val union = (a.x2 - a.x1) * (a.y2 - a.y1) + (b.x2 - b.x1) * (b.y2 - b.y1) - inter
    if (union <= 0.0) 0.0 else inter / union
  }

  val iouThreshold = 0.4

  /** Normalize for comparison: lower, trim, collapse whitespace.
    * Reference: dual_pass.py:428-440.
    */
  def normalizeValue(v: String): String =
    if (v == null) "" else Strings.normalizeWhitespace(v.trim.toLowerCase)

  /** Extract a number from text, stripping currency/commas/space and
    * handling parenthesized negatives. Reference: dual_pass.py:442-456.
    */
  def extractNumber(text: String): Option[Double] = {
    if (text == null) return None
    var cleaned = text.replaceAll("[$,\\s]", "")
    if (cleaned.startsWith("(") && cleaned.endsWith(")"))
      cleaned = "-" + cleaned.substring(1, cleaned.length - 1)
    try Some(cleaned.toDouble) catch { case _: Exception => None }
  }

  /** Relative-difference similarity ladder. Reference: dual_pass.py:458-480. */
  def numericSimilarity(n1: Double, n2: Double): Double = {
    if (n1 == n2) return 1.0
    if (n1 == 0.0 || n2 == 0.0) return 0.0
    val maxVal = math.max(math.abs(n1), math.abs(n2))
    val rel = math.abs(n1 - n2) / maxVal
    if (rel < 0.001) 0.99
    else if (rel < 0.01) 0.95
    else if (rel < 0.05) 0.85
    else if (rel < 0.10) 0.70
    else if (rel < 0.25) 0.50
    else math.max(0.0, 1.0 - rel)
  }

  /** Full similarity: identical 1.0; normalized-equal 0.99; numeric ladder;
    * else Levenshtein ratio. Reference: dual_pass.py:390-427.
    */
  def similarity(v1: String, v2: String): Double = {
    if (v1 == v2) return 1.0
    val s1 = normalizeValue(v1)
    val s2 = normalizeValue(v2)
    if (s1 == s2) return 0.99
    (extractNumber(s1), extractNumber(s2)) match {
      case (Some(a), Some(b)) => numericSimilarity(a, b)
      case _ => Strings.similarityRatio(s1, s2)
    }
  }

  /** Reconciler placeholder predicate — known placeholder strings, test-data
    * markers, and sequential digit runs (reconciler.py `_is_placeholder`,
    * exercised by tests/unit/test_reconciler.py:120-135).
    */
  def isPlaceholderLike(v: String): Boolean =
    Patterns.isPlaceholder(v) || Patterns.isTestData(v) || Patterns.isSequentialDigits(v)

  /** Deterministic tiebreaker subset (steps 0,1,2,4 + last resort) of the
    * reference's 5-step ladder (reconciler.py:336-541). VLM-dependent steps
    * (bbox roundtrip re-read, FAISS history) are intentionally absent.
    * Returns (value, confidence, tiebreaker).
    */
  def reconcileField(
      p1: Option[String], p1Conf: Double, p1Box: Option[Bbox],
      p2: Option[String], p2Conf: Double, p2Box: Option[Bbox]): (Option[String], Double, String) = {
    (p1, p2) match {
      case (Some(v1), None) => (Some(v1), p1Conf, "single_pass")
      case (None, Some(v2)) => (Some(v2), p2Conf, "single_pass")
      case (None, None) => (None, 0.0, "both_missing")
      case (Some(v1), Some(v2)) =>
        if (valuesAgree(v1, v2))
          (Some(v1), math.min(1.0, math.max(p1Conf, p2Conf) + 0.05), "exact_agreement")
        else {
          val iou = (p1Box, p2Box) match {
            case (Some(a), Some(b)) => bboxIou(a, b)
            case _ => 0.0
          }
          if (iou >= iouThreshold) (Some(v1), p1Conf * 0.95, "bbox_overlap")
          else {
            val p1Bad = isPlaceholderLike(v1)
            val p2Bad = isPlaceholderLike(v2)
            if (p1Bad && !p2Bad) (Some(v2), p2Conf * 0.9, "placeholder_penalty")
            else if (p2Bad && !p1Bad) (Some(v1), p1Conf * 0.9, "placeholder_penalty")
            else if (p1Conf >= p2Conf) (Some(v1), p1Conf * 0.5, "last_resort")
            else (Some(v2), p2Conf * 0.5, "last_resort")
          }
        }
    }
  }
}
