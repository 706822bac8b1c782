package graft.functions

/** Confidence scoring + critic combining — pure column-style arithmetic.
  *
  * ConfidenceScorer pins the reference's src/validation/confidence.py:
  * 125-420: the .35/.30/.20/.15 source blend (weights normalized by their
  * IEEE sum), the penalty table (validation .30, pattern .20, missing
  * required .40), the validation hard-gate (failed validation caps a field
  * just below HIGH), critical-field double weighting, and the
  * high>=.85 / medium>=.5 action ladder with MAX_RETRIES=2.
  *
  * combineConfidence pins src/validation/critic_combiner.py:40-107: the
  * (0.5, 0.3, 0.2) dual-pass / critic / modality blend with worst-of
  * modality penalties (fax .7, handwritten .6, visual .4).
  */
object Confidence {

  val HighThreshold = 0.85
  val MediumThreshold = 0.50
  val MaxRetries = 2

  // DEFAULT_WEIGHTS normalized by their floating-point sum, exactly as the
  // reference divides by sum(weights.values()) — the sum is 0.999...9 in
  // IEEE, so the normalized weights differ from the literals in the last ulp
  private val rawW = Seq(0.35, 0.30, 0.20, 0.15)
  private val wSum = rawW.foldLeft(0.0)(_ + _)
  val wExtraction: Double = 0.35 / wSum
  val wAgreement: Double = 0.30 / wSum
  val wValidation: Double = 0.20 / wSum
  val wPattern: Double = 0.15 / wSum

  val penaltyValidationFailed = 0.30
  val penaltyPatternDetected = 0.20
  val penaltyMissingRequired = 0.40

  final case class FieldConfidence(
      fieldName: String,
      combined: Double,
      level: String)

  /** Per-field blend (confidence.py:240-323). */
  def fieldConfidence(
      fieldName: String,
      extractionConf: Double,
      agreementScore: Double,
      validationPassed: Boolean,
      hasPatternFlag: Boolean): FieldConfidence = {
    val validationConf = if (validationPassed) 1.0 else 1.0 - penaltyValidationFailed
    val patternConf = if (hasPatternFlag) 1.0 - penaltyPatternDetected else 1.0
    var combined = wExtraction * extractionConf + wAgreement * agreementScore +
      wValidation * validationConf + wPattern * patternConf
    combined = math.max(0.0, math.min(1.0, combined))
    // hard gate: a field that failed validation can never be HIGH
    if (!validationPassed) combined = math.min(combined, HighThreshold - 0.01)
    FieldConfidence(fieldName, combined, levelOf(combined))
  }

  def levelOf(c: Double): String =
    if (c >= HighThreshold) "high" else if (c >= MediumThreshold) "medium" else "low"

  final case class Overall(
      overallConfidence: Double,
      overallLevel: String,
      action: String,
      nHigh: Int,
      nMedium: Int,
      nLow: Int)

  /** Document-level roll-up (confidence.py:325-420): critical fields weigh
    * 2x, low/missing criticals subtract missing_required * (issues /
    * criticals), action ladder from level + retry budget.
    */
  def overall(
      fields: Seq[FieldConfidence],
      criticalFields: Set[String],
      retryCount: Int): Overall = {
    if (fields.isEmpty) return Overall(0.0, "low", "human_review", 0, 0, 0)
    val byName = fields.map(f => f.fieldName -> f).toMap
    var weightedSum = 0.0
    var totalWeight = 0.0
    fields.foreach { f =>
      val w = if (criticalFields.contains(f.fieldName)) 2.0 else 1.0
      weightedSum += f.combined * w
      totalWeight += w
    }
    var conf = if (totalWeight > 0) weightedSum / totalWeight else 0.0
    val criticalIssues = criticalFields.count { cf =>
      byName.get(cf).forall(_.level == "low")
    }
    if (criticalIssues > 0) {
      val penalty = penaltyMissingRequired *
        (criticalIssues.toDouble / math.max(criticalFields.size, 1))
      conf = math.max(0.0, conf - penalty)
    }
    val level = levelOf(conf)
    val action =
      if (criticalIssues > 0) "human_review"
      else if (level == "high") "auto_accept"
      else if (retryCount < MaxRetries) "retry"
      else "human_review"
    Overall(conf, level, action,
      fields.count(_.level == "high"), fields.count(_.level == "medium"),
      fields.count(_.level == "low"))
  }

  // ---- critic combiner (critic_combiner.py) ----

  val modalityPenalties: Map[String, Double] =
    Map("fax" -> 0.7, "handwritten" -> 0.6, "visual" -> 0.4)

  /** Worst-of penalty across active modalities. */
  def modalityPenalty(modalities: Seq[String]): Double =
    if (modalities.isEmpty) 0.0
    else modalities.map(m => modalityPenalties.getOrElse(m, 0.0)).max

  final case class Combined(
      dualPass: Double, critic: Double, modalityPen: Double, rawCombined: Double)

  /** (0.5, 0.3, 0.2) blend, inputs clamped, result clamped. */
  def combineConfidence(
      dualPassAgreement: Double,
      criticTrust: Double,
      modalities: Seq[String],
      weights: (Double, Double, Double) = (0.5, 0.3, 0.2)): Combined = {
    val (wd, wc, wm) = weights
    val dp = math.max(0.0, math.min(1.0, dualPassAgreement))
    val ct = math.max(0.0, math.min(1.0, criticTrust))
    val pen = modalityPenalty(modalities)
    val modalityTerm = math.max(0.0, 1.0 - pen)
    val raw = math.max(0.0, math.min(1.0, wd * dp + wc * ct + wm * modalityTerm))
    Combined(dp, ct, pen, raw)
  }
}
