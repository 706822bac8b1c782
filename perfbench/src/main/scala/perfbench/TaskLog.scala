package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One finished task, attributed to the benchmark span that started it. */
final case class TaskRec(
    span: String,
    stage: Int,
    sqlExec: Long,
    partition: Int,
    wallS: Double,
    cpuS: Double,
    gcS: Double,
    spillBytes: Long,
    shuffleWriteBytes: Long,
    shuffleReadRecords: Long,
    inputBytes: Long,
    outputBytes: Long)

/** One SQL execution (a query action or a write), with wall-clock bounds. */
final case class SqlExec(id: Long, span: String, plan: String, startMs: Long, endMs: Long)

/** One stage, with wall-clock bounds. */
final case class StageRec(id: Int, span: String, submitMs: Long, doneMs: Long)

/** Task-end listener registered by the benchmark. Every task is attributed
  * to the benchmark span named by the `perfbench.span` local property of the
  * thread that submitted its stage. With `detail` off it keeps task records
  * only; with it on it also keeps stage bounds and SQL executions with their
  * physical plans, which is the traced run's extra cost.
  */
final class TaskLog extends SparkListener {
  @volatile var detail: Boolean = false

  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val execSpan = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val taskBuf = ArrayBuffer.empty[TaskRec]
  private val stageBuf = ArrayBuffer.empty[StageRec]
  private val execStart = scala.collection.mutable.Map.empty[Long, (String, Long)]
  private val execBuf = ArrayBuffer.empty[SqlExec]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(TaskLog.SpanKey))).getOrElse("")
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).getOrElse(-1L)
    stageOwner.put(e.stageInfo.stageId, (span, exec))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (detail) {
    val i = e.stageInfo
    val span = Option(stageOwner.get(i.stageId)).map(_._1).getOrElse("")
    synchronized {
      stageBuf += StageRec(i.stageId, span, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val (span, exec) = Option(stageOwner.get(e.stageId)).getOrElse(("", -1L))
    val m = e.taskMetrics
    val info = e.taskInfo
    val rec =
      if (m == null)
        TaskRec(span, e.stageId, exec, info.partitionId, info.duration / 1e3,
          0, 0, 0, 0, 0, 0, 0)
      else
        TaskRec(span, e.stageId, exec, info.partitionId, info.duration / 1e3,
          (m.executorCpuTime + m.executorDeserializeCpuTime) / 1e9,
          m.jvmGCTime / 1e3, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.recordsRead,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    synchronized { taskBuf += rec }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if detail =>
      synchronized { execStart(s.executionId) = (s.physicalPlanDescription, s.time) }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized {
        execStart.remove(s.executionId).foreach { case (plan, t0) =>
          val span = Option(execSpan.get(s.executionId)).getOrElse("")
          execBuf += SqlExec(s.executionId, span, plan, t0, s.time)
        }
      }
    case _ =>
  }

  /** Names the span of every SQL execution seen from its stages. */
  private def execSpans(): Unit =
    stageOwner.values().forEach { case (span, exec) =>
      if (exec >= 0) execSpan.putIfAbsent(exec, span)
    }

  def tasks(span: String): Seq[TaskRec] = synchronized { taskBuf.filter(_.span == span).toSeq }
  def stages(span: String): Seq[StageRec] = synchronized { stageBuf.filter(_.span == span).toSeq }
  def execs(span: String): Seq[SqlExec] = {
    execSpans()
    synchronized {
      execBuf.map(x => x.copy(span = Option(execSpan.get(x.id)).getOrElse(""))).filter(_.span == span).toSeq
    }
  }

  def clear(): Unit = synchronized {
    taskBuf.clear(); stageBuf.clear(); execBuf.clear(); execStart.clear()
    stageOwner.clear(); execSpan.clear()
  }
}

object TaskLog {
  val SpanKey = "perfbench.span"

  def cpuS(ts: Seq[TaskRec]): Double = ts.map(_.cpuS).sum

  /** Runs `f` with its jobs attributed to `span` and returns its result
    * and wall seconds. Afterwards it waits until every task-end event of
    * those jobs has reached the listener (not part of the wall time).
    */
  def timed[A](sc: SparkContext, span: String)(f: => A): (A, Double) = {
    sc.setLocalProperty(SpanKey, span)
    try {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    } finally {
      sc.setLocalProperty(SpanKey, null)
      org.apache.spark.PerfbenchBus.drain(sc)
    }
  }
}
