package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.NativeFunctions

/** Production wiring for the native expression library:
  *
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions
  *
  * Injects the codegen'd scalar functions into every session built with the
  * extension, making them available to SQL (`SELECT ws_token_count(text)`)
  * and to `call_function` from the DataFrame API. Local harnesses that build
  * a bare session instead call [[graft.functions.NativeFunctions.ensureRegistered]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    NativeFunctions.All.foreach { case (name, cls, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}
