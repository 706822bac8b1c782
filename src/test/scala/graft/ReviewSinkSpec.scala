package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.ReviewSink
import graft.queries.ExtractionQ

/** Review-sink DLQ semantics + exactly-once commit (reference
  * src/queue/webhook_dlq.py status machine: pending -> delivered /
  * pending(attempts+1) / dead at max_attempts; dead entries never claimed).
  */
class ReviewSinkSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("sink enqueues exactly the non-complete routes with DLQ outcomes")(scratch { out =>
    val routed = ExtractionQ.x13Routing(spark, dir)
    val expected = routed.filter(org.apache.spark.sql.functions.col("route") =!= "complete").count()
    val stats = ReviewSink.run(spark, routed, out, "t1")
    assert(!stats.committedBefore)
    assert(stats.nEntries == expected && expected > 0)
    assert(stats.nDelivered + stats.nDead == stats.nEntries)

    val rows = spark.read.parquet(s"$out/queue")
      .select("doc_id", "queue", "status", "attempts", "delivered_pass")
      .collect()
    rows.foreach { r =>
      val id = r.getString(0).stripPrefix("doc_").toLong
      val pstar = (2 * id) % 5
      if (pstar >= 1 && pstar <= 3) {
        assert(r.getString(2) == "delivered", s"id=$id")
        assert(r.getInt(3) == pstar.toInt - 1 && r.getInt(4) == pstar.toInt)
      } else {
        // pstar = 0 (success would be pass 5) or 4: dies at max_attempts.
        // pstar = 4 is the resurrection case — delivery WOULD succeed at
        // pass 4, but a dead entry is never claimed again.
        assert(r.getString(2) == "dead", s"id=$id")
        assert(r.getInt(3) == ReviewSink.MaxAttempts && r.getInt(4) == 0)
      }
      assert(r.getString(1) == "human_review" || r.getString(1) == "retry")
    }
    // both death classes actually occur
    assert(rows.exists(r => r.getString(0).stripPrefix("doc_").toLong % 5 == 2
      && r.getString(2) == "dead"))
  })

  test("re-run over a committed outDir is a no-op; torn dirs are swept")(scratch { out =>
    val routed = ExtractionQ.x13Routing(spark, dir)
    val first = ReviewSink.run(spark, routed, out, "r1")
    val mtime = Files.getLastModifiedTime(
      Files.list(Paths.get(out, "queue")).iterator().next())
    val second = ReviewSink.run(spark, routed, out, "r2")
    assert(second.committedBefore)
    assert((second.nEntries, second.nDelivered, second.nDead) ==
      ((first.nEntries, first.nDelivered, first.nDead)))
    assert(Files.getLastModifiedTime(
      Files.list(Paths.get(out, "queue")).iterator().next()) == mtime,
      "committed queue table was rewritten")

    // crash window: queue dir present but manifest missing -> next run
    // rewrites the table (torn dir swept), exactly-once on the read side;
    // its run id holds JSON metacharacters, which the manifest must keep
    ReviewSink.revoke(out)
    val runId = "r3,\"}"
    val third = ReviewSink.run(spark, routed, out, runId)
    assert(!third.committedBefore && third.nEntries == first.nEntries)
    assert(ReviewSink.readManifest(out).map(_.runId).contains(runId))
    assert(spark.read.parquet(s"$out/queue").count() == first.nEntries)
  })

  test("x26 leaves no queue dir behind once its result is collected") {
    def entries(): Set[String] = {
      val stream = Files.list(TempRoot("graft-review"))
      try stream.iterator().asScala.map(_.getFileName.toString).toSet
      finally stream.close()
    }
    val before = entries()
    val rows = ExtractionQ.x26ReviewQueue(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(entries() == before)
  }

  test("an empty queue commits zero counts")(scratch { out =>
    val routed = ExtractionQ.x13Routing(spark, dir)
      .filter(org.apache.spark.sql.functions.col("route") === "complete")
    val stats = ReviewSink.run(spark, routed, out, "e1")
    assert(stats == ReviewSink.SinkStats(0L, 0L, 0L, committedBefore = false))
    assert(ReviewSink.readManifest(out).contains(ReviewSink.QueueManifest(0L, 0L, 0L, "e1")))
  })
}
