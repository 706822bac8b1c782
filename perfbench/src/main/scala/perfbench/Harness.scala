package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark run. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    workDir: Path,
    dataDir: Path,
    artifact: Option[Path],
    recordExpected: Option[Path])

/** One timed span of the run, kept in memory and written out at the end. */
final case class SpanRec(name: String, startS: Double, wallS: Double, attrs: Map[String, Any])

/** What a workload hands back: operation counts, metrics by name, and
  * run facts for the artifact.
  */
final class Outcome {
  var attempted = 0
  var failed = 0
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val problems = mutable.ArrayBuffer.empty[String]

  /** Counts one operation; `problems` empty means it was correct. */
  def op(what: String, problems: Seq[String]): Boolean = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      this.problems ++= problems.map(p => s"$what: $p")
      System.err.println(s"[perfbench] $what FAILED: ${problems.mkString("; ")}")
    }
    problems.isEmpty
  }
}

/** Owns the Spark session, the task listener and the span log of a run. */
final class Harness(val opts: Opts) {
  val log = new TaskLog
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val t0 = System.nanoTime()
  private var session: SparkSession = _

  val nproc: Int = Runtime.getRuntime.availableProcessors
  /** The wide leg uses every core in whole groups of four; the narrow leg a
    * quarter of that (4 vs 1 on a 4-core box).
    */
  val wide: Int = 4 * math.max(1, nproc / 4)
  val narrow: Int = wide / 4
  var cores: Int = 0

  def spark: SparkSession = session
  def sc = session.sparkContext
  def now: Double = (System.nanoTime() - t0) / 1e9

  def conf: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.local.dir" -> Residency.tmp.resolve("spark-local").toString,
    "spark.sql.warehouse.dir" -> opts.workDir.resolve("warehouse").toString)

  /** Starts a local session on `n` task threads; returns its start seconds. */
  def start(n: Int): Double = {
    stop()
    cores = n
    val t = System.nanoTime()
    val b = SparkSession.builder().master(s"local[$n]").appName("perfbench")
    conf.foreach { case (k, v) => b.config(k, v) }
    session = b.getOrCreate()
    session.sparkContext.setLogLevel("WARN")
    session.sparkContext.addSparkListener(log)
    (System.nanoTime() - t) / 1e9
  }

  def stop(): Unit = if (session != null) {
    session.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    session = null
    log.clear()
  }

  /** Times `f` as span `name`, attributing its Spark tasks to it. */
  def timed[A](name: String, attrs: Map[String, Any] = Map.empty)(f: => A): (A, Double) = {
    val start = now
    val (a, wall) = TaskLog.timed(sc, name)(f)
    spans += SpanRec(name, start, wall, attrs)
    (a, wall)
  }

  def dir(name: String): Path = {
    val p = opts.workDir.resolve(name)
    Env.deleteTree(p)
    Files.createDirectories(p.getParent)
    p
  }

  def sessionInfo: Map[String, Any] =
    conf.filter(_._1.startsWith("spark.sql.")).toMap + ("master" -> s"local[$cores]")
}
