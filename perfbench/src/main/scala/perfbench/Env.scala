package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Facts about the box and the process, read from /proc and the JVM. */
object Env {
  private def procLines(f: String): Seq[String] =
    try Files.readAllLines(Paths.get(f)).asScala.toSeq
    catch { case _: java.io.IOException => Seq.empty }

  private def kb(file: String, key: String): Long =
    procLines(file).collectFirst {
      case l if l.startsWith(key + ":") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)

  def memTotalMb: Long = kb("/proc/meminfo", "MemTotal") / 1024
  def memAvailableMb: Long = kb("/proc/meminfo", "MemAvailable") / 1024

  /** Peak resident set size of this process (VmHWM). */
  def peakRssMb: Double = kb("/proc/self/status", "VmHWM") / 1024.0

  /** Resets VmHWM to the current RSS, so the next reading covers only what
    * follows. Returns false where the kernel does not allow it.
    */
  def resetPeakRss(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: Exception => false }

  def loadavg: Double =
    procLines("/proc/loadavg").headOption.map(_.split(" ")(0).toDouble).getOrElse(-1.0)

  /** Total GC time of this JVM so far, in seconds. */
  def gcS: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Bytes of all regular files under `p` that this process may read (0 if
    * absent); other processes create and delete files there meanwhile.
    */
  def duBytes(p: Path): Long = {
    var total = 0L
    if (Files.exists(p))
      Files.walkFileTree(p, new java.nio.file.SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
          if (a.isRegularFile) total += a.size
          java.nio.file.FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: java.io.IOException) =
          java.nio.file.FileVisitResult.CONTINUE
      })
    total
  }

  def countFiles(p: Path, pred: String => Boolean): Int =
    if (!Files.exists(p)) 0
    else scala.util.Using.resource(Files.walk(p))(
      _.iterator().asScala.count(f => Files.isRegularFile(f) && pred(f.getFileName.toString)))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(
        _.iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists(_)))
}
