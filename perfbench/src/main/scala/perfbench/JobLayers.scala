package perfbench

import java.nio.file.Path

/** Per-layer figures of one traced `ExtractJob.run`, read from the task
  * listener and the committed output.
  *
  * SQL executions inside the job span are split in two: `write` is each
  * execution that writes job data (every file write except the metrics
  * table), `readback` is everything else, that is the metrics write and
  * the per-bucket collect that read back the freshly written group.
  */
object JobLayers {

  def stageFigures(prefix: String, ts: Seq[TaskRec]): Seq[(String, Double)] = {
    val d = ts.map(_.wallS)
    def p(q: Double) = if (d.isEmpty) 0.0 else Stats.percentile(d, q)
    Seq(
      s"$prefix.tasks" -> ts.length.toDouble,
      s"$prefix.task_p50_s" -> p(50),
      s"$prefix.task_p95_s" -> p(95),
      s"$prefix.task_max_s" -> (if (d.isEmpty) 0.0 else d.max),
      s"$prefix.skew" -> Stats.skew(d),
      s"$prefix.cpu_s" -> ts.map(_.cpuS).sum,
      s"$prefix.gc_s" -> ts.map(_.gcS).sum,
      s"$prefix.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble)
  }

  /** Length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def apply(h: Harness, span: String, docs: Long, startMs: Long, wallS: Double,
      out: Path): Map[String, Double] = {
    val metricsPath = out.resolve("metrics").toString
    val execs = h.log.execs(span)
    val writeIds = execs.filter { x =>
      x.plan.contains("InsertIntoHadoopFsRelationCommand") && !x.plan.contains(metricsPath)
    }.map(_.id).toSet
    val tasks = h.log.tasks(span)
    val (writeTasks, readTasks) = tasks.partition(t => writeIds.contains(t.sqlExec))

    // heavy branch: in the stage that writes the data, tasks that read no
    // input file were fed by the heavy relocation shuffle
    val writingStages = writeTasks.filter(_.outputBytes > 0).map(_.stage).toSet
    val heavyTasks = writeTasks.filter(t => writingStages.contains(t.stage) && t.inputBytes == 0)
    val nonEmpty = heavyTasks.count(_.shuffleReadRecords > 0)

    val endMs = startMs + (wallS * 1e3).toLong
    val stageSpans = h.log.stages(span).map(s => (math.max(s.submitMs, startMs), math.min(s.doneMs, endMs)))
    val gap = math.max(0.0, wallS - covered(stageSpans) / 1e3)

    val data = out.resolve("data")
    val groups = Env.countFiles(data, _ == "_SUCCESS")
    val manifests = Env.countFiles(out.resolve("_manifests"), n => n.startsWith("bucket-") && n.endsWith(".json"))
    Map(
      "write.bytes_out" -> Env.duBytes(data).toDouble,
      "write.files" -> Env.countFiles(data, n => n.startsWith("part-")).toDouble,
      "out_bytes_per_doc" -> Env.duBytes(out).toDouble / docs,
      "commit.groups" -> groups.toDouble,
      "commit.manifests" -> manifests.toDouble,
      "commit.readback_s" -> execs.filterNot(x => writeIds.contains(x.id))
        .map(x => (x.endMs - x.startMs) / 1e3).sum,
      "commit.driver_gap_s" -> gap,
      "heavy.docs" -> heavyTasks.map(_.shuffleReadRecords).sum.toDouble,
      "heavy.tasks" -> heavyTasks.length.toDouble,
      "heavy.tasks_nonempty" -> nonEmpty.toDouble,
      "heavy.useful_ratio" -> Stats.usefulRatio(nonEmpty, heavyTasks.length),
      "heavy.shuffle_bytes" -> writeTasks.map(_.shuffleWriteBytes).sum.toDouble) ++
      stageFigures("stage.write", writeTasks) ++ stageFigures("stage.readback", readTasks)
  }
}

/** Cached RDD blocks and temp-file bytes a run leaves behind, against the
  * level before it.
  */
final class Residency(blocks0: Long, shm0: Long, tmp0: Long) {
  def after(h: Harness): Seq[(String, Double)] = Seq(
    "residency.cached_blocks" -> (Residency.blocks(h) - blocks0).toDouble,
    "residency.shm_bytes" -> (Env.duBytes(Residency.shm) - shm0).toDouble,
    "residency.tmp_bytes" -> (Env.duBytes(Residency.tmp) - tmp0).toDouble)
}

object Residency {
  val shm: Path = java.nio.file.Paths.get("/dev/shm")
  def tmp: Path = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
  def blocks(h: Harness): Long = h.sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum
  def before(h: Harness): Residency =
    new Residency(blocks(h), Env.duBytes(shm), Env.duBytes(tmp))
}
