package graft.pipeline

/** Consolidated-export record checks (reference
  * src/export/consolidated_export.py).
  */
object Export {

  /** Record completeness vs schema (consolidated_export.py:86-118): missing
    * required fields, empty fields, completeness = non-empty / expected.
    */
  final case class Completeness(
      isComplete: Boolean,
      missingRequired: Seq[String],
      emptyFields: Seq[String],
      completenessScore: Double)

  def validateCompleteness(fields: Map[String, String],
      schemaFields: Seq[(String, Boolean)]): Completeness = {
    def empty(v: String): Boolean = v == null || v.isEmpty
    val missingRequired = schemaFields.collect {
      case (name, true) if fields.get(name).forall(empty) => name
    }
    val emptyFields = fields.toSeq.collect { case (n, v) if empty(v) => n }.sorted
    val nonEmpty = fields.size - emptyFields.length
    Completeness(
      isComplete = missingRequired.isEmpty,
      missingRequired = missingRequired,
      emptyFields = emptyFields,
      completenessScore = nonEmpty.toDouble / math.max(schemaFields.length, 1))
  }
}
