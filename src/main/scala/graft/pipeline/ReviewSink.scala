package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.tokenize.DocGen

/** Review-queue sink with dead-letter semantics — the durable landing zone
  * for rows the routing ladder (ExtractionQ.x13Routing) sends away from
  * `complete`. Mirrors the reference's DLQ contract
  * (src/queue/webhook_dlq.py WS-9 status machine; orchestrator routing
  * src/agents/orchestrator.py:1306-1360):
  *
  *   pending -> delivered   (a redelivery attempt succeeds)
  *   pending -> pending     (transient failure: attempts += 1)
  *   pending -> dead        (attempts reaches max_attempts; the entry stops
  *                           being claimed — later passes must NOT resurrect)
  *
  * Scale/commit design: the queue write is ONE atomic-rename commit guarded
  * by a typed queue manifest (same atomic temp-file + rename protocol as the
  * extraction buckets' manifests, but its own record type — queue stats must
  * never be mis-summed into extraction doc/span totals) — re-running the
  * sink over the same outDir is a no-op; a crash between the rename and the
  * manifest commit leaves an uncommitted queue dir the next run sweeps and
  * rewrites. Redelivery passes are narrow map-only column updates (no
  * shuffle, Catalyst collapses the pass chain into one projection); at 10^12
  * docs the queue is a small filtered side table of the routing output.
  *
  * Delivery itself is a documented deterministic STUB (like media decode —
  * no network in this container): attempt `p` for numeric doc id succeeds
  * iff (id + 7p) % 5 == 0. Plain id arithmetic, so the DuckDB oracle
  * re-derives every status / attempts / delivered_pass (graft.OracleX.x26):
  * the first successful pass is p* = (2·id) mod 5 (p* = 0 meaning "pass 5",
  * beyond the horizon) — entries with p* in 1..3 deliver with p*-1 failed
  * attempts; everything else accumulates max_attempts failures and dies.
  */
object ReviewSink {

  /** DLQ bounds: an entry dies after 3 failed attempts; 4 redelivery passes
    * run so the final pass exercises "dead entries are not claimed" (an id
    * whose delivery WOULD succeed at pass 4 must stay dead).
    */
  val MaxAttempts = 3
  val Passes = 4

  /** The queue's durability record — named queue-domain fields, so no reader
    * can confuse delivered/dead counts with extraction doc/span totals.
    */
  final case class QueueManifest(
      nEntries: Long,
      nDelivered: Long,
      nDead: Long,
      runId: String)

  final case class SinkStats(
      nEntries: Long,
      nDelivered: Long,
      nDead: Long,
      committedBefore: Boolean)

  private def manifestPath(outDir: String): Path =
    Paths.get(outDir, "_manifests", "queue.json")

  def readManifest(outDir: String): Option[QueueManifest] =
    Manifests.read[QueueManifest](manifestPath(outDir))

  /** Revoke the queue commit (crash-window testing / forced reprocess). */
  def revoke(outDir: String): Unit = Files.deleteIfExists(manifestPath(outDir))

  /** Enqueue `routed`'s non-complete rows, drive `Passes` redelivery passes,
    * and commit the final queue table to `outDir/queue`. Idempotent: a
    * committed manifest short-circuits the whole run.
    */
  def run(spark: SparkSession, routed: DataFrame, outDir: String,
      runId: String): SinkStats = {
    val root = Paths.get(outDir)
    Files.createDirectories(root)
    // sweep temp debris from a crashed run
    Manifests.list(root, ".tmp-queue").foreach(Manifests.deleteRecursively)
    val queueDir = root.resolve("queue")
    readManifest(outDir) match {
      case Some(m) =>
        return SinkStats(m.nEntries, m.nDelivered, m.nDead, committedBefore = true)
      case None => ()
    }

    var q = routed.filter(col("route") =!= "complete")
      .select(col("doc_id"), col("route").as("queue"), col("confidence"),
        lit(0).as("attempts"), lit("pending").as("status"),
        lit(0).as("delivered_pass"),
        DocGen.docIdNum(col("doc_id")).as("idnum"))
    (1 to Passes).foreach { p =>
      // claim_due analog: only pending entries are attempted
      val pending = col("status") === "pending"
      val succ = (col("idnum") + lit(7L * p)) % 5 === 0
      q = q
        .withColumn("delivered_pass",
          when(pending && succ, lit(p)).otherwise(col("delivered_pass")))
        .withColumn("attempts",
          when(pending && !succ, col("attempts") + 1).otherwise(col("attempts")))
        .withColumn("status",
          when(pending && succ, "delivered")
            .when(pending && col("attempts") >= MaxAttempts, "dead")
            .otherwise(col("status")))
    }

    val tmp = root.resolve(s".tmp-queue-$runId")
    // The queue is a small filtered side table of the routing output;
    // writing it at the routing job's full partition count produces dozens
    // of near-empty files per commit (guide §6 small-files). Coalesce to a
    // fraction of the parallelism — scales with the cluster, and coalesce
    // is a narrow dependency (no extra shuffle).
    val outParts = math.max(1, spark.sparkContext.defaultParallelism / 8)
    // The write counts what it commits: the observed aggregates are merged
    // from the successful write tasks, so no job reads the queue back.
    // `count` of a `when` without `otherwise` is 0, not null, on no rows.
    val written = Observation()
    q.drop("idnum")
      .observe(written, count(lit(1)).as("rows"),
        count(when(col("status") === "delivered", 1)).as("delivered"),
        count(when(col("status") === "dead", 1)).as("dead"))
      .coalesce(outParts)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val counts = written.get
    // replaces an uncommitted queue dir (crash between rename and manifest)
    Manifests.publish(tmp, queueDir)
    def n(k: String) = counts(k).asInstanceOf[Long]
    val stats = SinkStats(n("rows"), n("delivered"), n("dead"), committedBefore = false)
    Manifests.atomicWriteJson(manifestPath(outDir),
      QueueManifest(stats.nEntries, stats.nDelivered, stats.nDead, runId))
    stats
  }
}
