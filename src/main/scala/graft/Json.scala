package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON codec of the program: commit manifests, the Bench artifact,
  * Verify's `oracle_sql.json` and x31's baseline constant all go through this
  * mapper (Jackson ships with Spark). Case-class fields map to snake_case
  * keys in declaration order. A record missing a constructor field fails to
  * read rather than defaulting it, so a torn or foreign manifest is never
  * taken as committed; unknown keys are ignored.
  */
object Json {
  val mapper: ObjectMapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
}
