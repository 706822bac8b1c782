package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.reflect.{ClassTag, classTag}
import scala.util.Using

import com.fasterxml.jackson.core.JsonProcessingException

/** Per-bucket commit manifest — the local stand-in for Iceberg
  * snapshot-per-partition checkpointing (SURVEY.md §7: no Iceberg runtime
  * jar ships in this sandbox, so [[LocalManifestStore]] keeps one JSON file
  * per bucket; an Iceberg store would map `commit` to a snapshot commit of
  * the bucket's data files and `committedBuckets` to a snapshot-manifest
  * scan).
  *
  * Commit protocol: manifest JSON is written to a temp file and atomically
  * renamed into place, so a bucket is either fully committed (manifest
  * present + data files written) or will be fully re-run — mirroring the
  * reference's checkpoint/resume contract (src/pipeline/runner.py:251-306).
  */
final case class BucketManifest(
    bucket: Int,
    nDocs: Long,
    nSpans: Long,
    nErrors: Long,
    runId: String)

/** The commit protocol's file machinery, shared by every committer
  * (ExtractJob's group dirs and BucketManifest here, ReviewSink's queue dir
  * and QueueManifest): the record codec (atomic temp-write + rename of the
  * record's JSON, read back as `None` when absent, torn or lacking a field),
  * the prefixed listing that sweeps find stale dirs with, the temp-dir
  * publish and the recursive delete — so protocol hardening lands in one
  * place.
  */
private[pipeline] object Manifests {
  def atomicWriteJson(path: Path, record: AnyRef): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.getParent.resolve("." + path.getFileName.toString + ".tmp")
    Files.write(tmp, graft.Json.mapper.writeValueAsBytes(record))
    Files.move(tmp, path,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The record at `path`; None when absent, torn or lacking a field. */
  def read[T: ClassTag](path: Path): Option[T] =
    if (!Files.exists(path)) None
    else try Some(graft.Json.mapper.readValue(path.toFile,
      classTag[T].runtimeClass.asInstanceOf[Class[T]]))
    catch { case _: JsonProcessingException => None }

  /** Entries of `dir` whose names start with `prefix`; none if `dir` is absent. */
  def list(dir: Path, prefix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Using.resource(Files.list(dir))(
      _.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSeq)

  /** Move a fully written temp dir into place. A target already there is an
    * uncommitted dir from a crashed run (its manifest is absent) and goes.
    */
  def publish(tmp: Path, target: Path): Unit = {
    Files.createDirectories(target.getParent)
    deleteRecursively(target)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p))(
        _.iterator().asScala.toSeq.reverseIterator.foreach(Files.deleteIfExists(_)))
}

/** The bucket manifests of one output dir, under `<outDir>/_manifests`. */
final class LocalManifestStore(outDir: String) {
  private val dir: Path = Paths.get(outDir, "_manifests")
  private def path(bucket: Int): Path = dir.resolve(s"bucket-$bucket.json")

  def committedBuckets(): Set[Int] =
    Manifests.list(dir, "bucket-").map(_.getFileName.toString)
      .collect { case s if s.endsWith(".json") =>
        s.stripPrefix("bucket-").stripSuffix(".json").toInt
      }
      .toSet

  def commit(m: BucketManifest): Unit =
    Manifests.atomicWriteJson(path(m.bucket), m)

  /** Revoke a bucket's commit (used by the crash sweep when its group's data
    * dir had to be deleted: the bucket must reprocess). No-op if absent.
    */
  def revoke(bucket: Int): Unit = Files.deleteIfExists(path(bucket))

  def readManifest(bucket: Int): Option[BucketManifest] =
    Manifests.read[BucketManifest](path(bucket))
}
