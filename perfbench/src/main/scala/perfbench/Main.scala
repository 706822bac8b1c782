package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  *   --workload W --seed N --seconds S --trace 0|1 --work-dir D
  *   --data-dir D --expected F [--artifact F] [--record-expected F]
  *
  * Prints the run's figures as one JSON object on the last line of stdout.
  */
object Main {

  val workloads: Seq[String] = ExtractBench.specs.map(_.name) :+ "queries_quarter_sf0.001"

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = a.getOrElse(k, fail(s"missing --$k"))
    val opts = Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      workDir = Paths.get(need("work-dir")).toAbsolutePath,
      dataDir = Paths.get(need("data-dir")).toAbsolutePath,
      artifact = a.get("artifact").map(Paths.get(_)),
      recordExpected = a.get("record-expected").map(Paths.get(_)))
    if (!workloads.contains(opts.workload))
      fail(s"unknown workload ${opts.workload}; known: ${workloads.mkString(", ")}")

    val h = new Harness(opts)
    val o = new Outcome
    val load0 = Env.loadavg
    val t0 = System.nanoTime()
    try {
      ExtractBench.specs.find(_.name == opts.workload) match {
        case Some(s) => ExtractBench.run(h, s, o)
        case None => QueryBench.run(h, Paths.get(need("expected")), o)
      }
      // VmHWM: since the reset before the timed loop, or of the whole run
      o.metrics("peak_rss_mb") = Env.peakRssMb
      if (opts.trace)
        o.metrics("error_rate") = if (o.attempted == 0) 1.0 else o.failed.toDouble / o.attempted
      o.info ++= Seq(
        "nproc" -> h.nproc, "cores_wide" -> h.wide, "cores_narrow" -> h.narrow,
        "mem_total_mb" -> Env.memTotalMb, "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jdk" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "spark" -> org.apache.spark.SPARK_VERSION,
        "spark_conf" -> (if (h.spark == null) Map.empty[String, Any] else h.sessionInfo),
        "loadavg_start" -> load0, "loadavg_end" -> Env.loadavg,
        "run_wall_s" -> (System.nanoTime() - t0) / 1e9,
        "problems" -> o.problems.take(20).toSeq)
    } finally h.stop()

    val result = ListMap(
      "correct" -> (o.failed == 0 && o.attempted > 0),
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "metrics" -> o.metrics,
      "info" -> o.info)
    opts.artifact.foreach { p =>
      Files.createDirectories(p.toAbsolutePath.getParent)
      val spans = h.spans.map(s => ListMap("name" -> s.name, "start_s" -> s.startS,
        "wall_s" -> s.wallS, "attrs" -> s.attrs))
      json.writeValue(p.toFile, result + ("spans" -> spans))
    }
    println(json.writeValueAsString(result))
    System.out.flush()
    sys.exit(0)
  }

  def fail(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(2)
  }
}
