package graft.functions

import graft.model.QualityMetrics

/** Modality derivation — pure per-document aggregate over page analysis and
  * quality metrics. Semantics pinned to the reference's
  * src/agents/modality.py:51-133.
  */
object Modality {

  val Printed = "printed"
  val Handwritten = "handwritten"
  val Table = "table"
  val Form = "form"
  val Fax = "fax"
  val Visual = "visual"

  final case class Analysis(
      hasHandwriting: Boolean = false,
      hasTables: Boolean = false,
      tableCount: Int = 0,
      layoutType: String = "",
      textDensity: String = "")

  /** Sorted, deduped modality set; `printed` always included.
    * Fax heuristic: >= max(1, n/2) low-contrast pages AND avg blur < 150 AND
    * avg quality < 50 (modality.py:97-103).
    */
  def deriveModalities(
      analysis: Option[Analysis],
      quality: Seq[QualityMetrics]): Seq[String] = {
    var modes = Set(Printed)
    analysis.foreach { a =>
      if (a.hasHandwriting) modes += Handwritten
      if (a.hasTables || a.tableCount > 0) modes += Table
      if (a.layoutType.toLowerCase == "form") modes += Form
      if (a.textDensity.toLowerCase == "low" && !a.hasHandwriting && !a.hasTables)
        modes += Visual
    }
    if (quality.nonEmpty) {
      val n = quality.length
      val lowContrast = quality.count(_.lowContrast)
      val avgBlur = quality.map(_.blurScore).sum / math.max(n, 1)
      val avgQuality = quality.map(_.qualityScore).sum / math.max(n, 1)
      if (lowContrast >= math.max(1, n / 2) && avgBlur < 150 && avgQuality < 50)
        modes += Fax
    }
    modes.toSeq.sorted
  }
}
