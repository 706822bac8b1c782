package graft.functions

import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.Locale

/** Cross-field rule engine — logical consistency across extracted fields
  * that single-field validation cannot see. Semantics pinned to the
  * reference's src/validation/cross_field.py:142-912 (rule types, empty /
  * float / date coercions, severity routing) and the CMS-1500 rule pack
  * (:920-1068, exercised by tests/unit/test_cross_field.py).
  *
  * Values arrive as strings (the extraction surface's field map); nested
  * arrays as sequences of field maps. All checks are pure — the Spark
  * surface applies `validate` row-wise over a broadcast rule pack, so rules
  * never shuffle and the pass is map-only at any corpus size.
  *
  * The reference also declares a FORMAT_MATCH rule type (cross_field.py:36)
  * with no checker, builder, or call site — a dead enum member whose rules
  * would fall through `_check_rule`'s dict to None (pass). Omitting it here
  * is behavior-preserving.
  */
object CrossField {

  object Sev { val Error = "error" }

  final case class Rule(
      name: String,
      ruleType: String,
      fields: Seq[String],
      severity: String = Sev.Error,
      // params (subset used per type)
      allowEqual: Boolean = true,
      componentFields: Seq[String] = Nil,
      totalField: String = "",
      tolerance: Double = 0.01,
      arrayField: String = "",
      itemField: String = "",
      triggerField: String = "",
      requiredField: String = "",
      triggerValues: Option[Set[String]] = None,
      valueField: String = "",
      minValue: Option[Double] = None,
      maxValue: Option[Double] = None,
      minField: String = "",
      maxField: String = "")

  final case class Violation(ruleName: String, ruleType: String, severity: String)

  final case class Result(
      violations: Seq[Violation],
      rulesChecked: Int,
      rulesPassed: Int) {
    def errors: Seq[Violation] = violations.filter(_.severity == Sev.Error)
    def passed: Boolean = errors.isEmpty
  }

  /** cross_field.py DATE_FORMATS (strptime order preserved). */
  private val dateFormats: Seq[DateTimeFormatter] = Seq(
    "uuuu-MM-dd", "MM/dd/uuuu", "MM-dd-uuuu", "MM/dd/yy", "dd/MM/uuuu", "uuuuMMdd")
    .map(DateTimeFormatter.ofPattern(_, Locale.US))

  def parseDate(value: String): Option[LocalDate] = {
    if (value == null) return None
    val s = value.trim
    dateFormats.view.flatMap { f =>
      try Some(LocalDate.parse(s, f)) catch { case _: Exception => None }
    }.headOption
  }

  /** `_to_float`: strip $ , and whitespace, then parse. */
  def toFloat(value: String): Option[Double] = {
    if (value == null) return None
    val cleaned = value.replaceAll("[$,\\s]", "")
    if (cleaned.isEmpty) None
    else try Some(cleaned.toDouble) catch { case _: Exception => None }
  }

  /** `_is_empty`: null or blank string (list/map emptiness is the caller's
    * concern on the typed surface).
    */
  def isEmpty(value: Option[String]): Boolean =
    value.forall(v => v == null || v.trim.isEmpty)

  type Data = Map[String, String]
  type Items = Seq[Map[String, String]]

  private def get(data: Data, f: String): Option[String] =
    data.get(f).filter(v => v != null)

  private def checkRule(rule: Rule, data: Data, items: Items): Option[Violation] = {
    def violated = Some(Violation(rule.name, rule.ruleType, rule.severity))
    rule.ruleType match {
      case "date_order" =>
        if (rule.fields.length < 2) None
        else {
          val ev = get(data, rule.fields(0)).filter(_.trim.nonEmpty)
          val lv = get(data, rule.fields(1)).filter(_.trim.nonEmpty)
          (ev.flatMap(parseDate), lv.flatMap(parseDate)) match {
            case (Some(e), Some(l)) =>
              val ok = if (rule.allowEqual) !e.isAfter(l) else e.isBefore(l)
              if (ok) None else violated
            case _ => None // unparseable/missing -> skip (reference behavior)
          }
        }
      case "sum_validation" =>
        get(data, rule.totalField).flatMap(toFloat) match {
          case None => None
          case Some(total) =>
            val s = rule.componentFields
              .flatMap(f => get(data, f).flatMap(toFloat)).sum
            if ((s - total).abs > rule.tolerance) violated else None
        }
      case "nested_sum_validation" =>
        get(data, rule.totalField).flatMap(toFloat) match {
          case None => None
          case Some(total) =>
            val vals = items.flatMap(m => m.get(rule.itemField).flatMap(toFloat))
            if (vals.isEmpty) None // no valid items -> skip
            else if ((vals.sum - total).abs > rule.tolerance) violated
            else None
        }
      case "required_if" =>
        val trigger = get(data, rule.triggerField)
        val triggerMet = rule.triggerValues match {
          case Some(vs) => trigger.exists(vs.contains)
          case None => !isEmpty(trigger)
        }
        if (triggerMet && isEmpty(get(data, rule.requiredField))) violated else None
      case "required_unless" =>
        if (isEmpty(get(data, rule.triggerField)) &&
          isEmpty(get(data, rule.requiredField))) violated
        else None
      case "mutual_exclusive" =>
        if (rule.fields.length < 2) None
        else if (!isEmpty(get(data, rule.fields(0))) &&
          !isEmpty(get(data, rule.fields(1)))) violated
        else None
      case "mutual_required" =>
        if (rule.fields.length < 2) None
        else {
          val has = rule.fields.map(f => !isEmpty(get(data, f)))
          if (has.exists(identity) && !has.forall(identity)) violated else None
        }
      case "value_range" =>
        get(data, rule.valueField).flatMap(toFloat) match {
          case None => None
          case Some(v) =>
            val minV = if (rule.minField.nonEmpty)
              get(data, rule.minField).flatMap(toFloat).orElse(rule.minValue)
            else rule.minValue
            val maxV = if (rule.maxField.nonEmpty)
              get(data, rule.maxField).flatMap(toFloat).orElse(rule.maxValue)
            else rule.maxValue
            if (minV.exists(v < _) || maxV.exists(v > _)) violated else None
        }
      case _ => None
    }
  }

  /** Validate a field map (+ optional nested line items) against a pack. */
  def validate(rules: Seq[Rule], data: Data, items: Items = Nil): Result = {
    val vs = Seq.newBuilder[Violation]
    var checked = 0
    var passed = 0
    rules.foreach { r =>
      checked += 1
      checkRule(r, data, items) match {
        case Some(v) => vs += v
        case None => passed += 1
      }
    }
    Result(vs.result(), checked, passed)
  }

  // ---- rule packs (cross_field.py:920-1068) ----

  val cms1500Rules: Seq[Rule] = Seq(
    Rule("patient_dob_before_service", "date_order",
      Seq("patient_birth_date", "service_date_from"), allowEqual = false),
    Rule("service_date_order", "date_order",
      Seq("service_date_from", "service_date_to"), allowEqual = true),
    Rule("hospitalization_dates", "date_order",
      Seq("hospitalization_from", "hospitalization_to"), allowEqual = true),
    Rule("cpt_requires_diagnosis", "required_if", Seq("cpt_code", "diagnosis_pointer"),
      triggerField = "cpt_code", requiredField = "diagnosis_pointer"),
    Rule("modifier_requires_cpt", "required_if", Seq("modifier", "cpt_code"),
      triggerField = "modifier", requiredField = "cpt_code"),
    Rule("line_charges_total", "sum_validation",
      (1 to 6).map(i => s"line_${i}_charges") :+ "total_charges",
      componentFields = (1 to 6).map(i => s"line_${i}_charges"),
      totalField = "total_charges", tolerance = 0.01))
}
