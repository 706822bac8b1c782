package graft

import org.apache.spark.sql.SparkSession

/** The test JVM's one Spark session and the specs' one scratch-dir helper.
  *
  * Every Spark suite mixes this in, so the session's static confs are the
  * same whichever suite runs first. The session carries no
  * `spark.sql.extensions`: NativeSpec applies `GraftExtensions` to a session
  * of its own.
  */
trait SparkSpec {

  protected final lazy val spark: SparkSession = SparkSpec.session

  /** Run `f` on a fresh dir under `TempRoot("graft-spec")`; the dir is
    * deleted when `f` returns or throws.
    */
  protected def scratch[A](f: String => A): A =
    TempRoot.scratch("graft-spec")(d => f(d.toString))

  /** Run `f` with the runtime conf `key` set to `value`, then restore the
    * value it found.
    */
  protected def withConf[A](key: String, value: String)(f: => A): A = {
    val saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try f
    finally spark.conf.set(key, saved)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
