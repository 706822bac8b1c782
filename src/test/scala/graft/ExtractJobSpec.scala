package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Doc
import graft.pipeline.{ExtractJob, LocalManifestStore}
import graft.tokenize.DocGen

/** Resume fixture (FIXTURES.md §6): a run killed after K of B buckets commit
  * must, on re-run, reprocess only B-K buckets; output must contain every
  * doc exactly once with the span-order invariant intact.
  */
class ExtractJobSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docs(n: Int) = {
    import spark.implicits._
    spark.range(n).map(i => DocGen.syntheticDoc(i)).as[Doc]
  }

  test("kill after 2 commit groups, resume processes only the remainder") {
    val out = Files.createTempDirectory("graft_job").toString
    val nDocs = 600
    val cfg = ExtractJob.Config(nBuckets = 16, groupSize = 4, runId = "r1",
      failAfterBucketCommits = Some(8))

    // the crash lands after the third group's data and metrics are written
    // but before any of its manifests, so the resume must sweep that group
    intercept[ExtractJob.SimulatedCrash] {
      ExtractJob.run(spark, docs(nDocs), out, cfg)
    }
    val store = new LocalManifestStore(out)
    val firstBuckets = store.committedBuckets()
    assert(firstBuckets.size == 8)

    // resume with no failure injection, in one group of 8: no same-named
    // group overwrites the torn group's data and metrics dirs, so only the
    // sweep can remove them
    val second = ExtractJob.run(spark, docs(nDocs), out,
      cfg.copy(groupSize = 8, failAfterBucketCommits = None, runId = "r2"))
    assert(second.skippedBuckets.toSet == firstBuckets)
    assert(second.processedBuckets.length == 8)
    assert(firstBuckets ++ second.processedBuckets == (0 until 16).toSet)

    // every doc present exactly once
    val data = spark.read.parquet(s"$out/data")
    assert(data.count() == nDocs)
    assert(data.groupBy("doc_id").count().filter("count > 1").count() == 0)

    // first-run buckets carry run r1 manifests, second-run r2
    assert(firstBuckets.forall(b => store.readManifest(b).exists(_.runId == "r1")))
    assert(second.processedBuckets.forall(b => store.readManifest(b).exists(_.runId == "r2")))

    // manifests agree with the data
    val perBucket = data.groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (0 until 16).foreach { b =>
      assert(store.readManifest(b).map(_.nDocs).contains(perBucket.getOrElse(b, 0L)))
    }

    // a third run is a no-op
    val third = ExtractJob.run(spark, docs(nDocs), out, cfg.copy(failAfterBucketCommits = None))
    assert(third.processedBuckets.isEmpty && third.skippedBuckets.length == 16)

    // span-order invariant on the stored output
    import spark.implicits._
    val bad = data.select("spans").as[Seq[graft.model.Span]]
      .filter(s => s.map(_.offset) != s.indices)
      .count()
    assert(bad == 0)

    // per-partition lineage metrics exist and reconcile with totals
    val metrics = spark.read.parquet(s"$out/metrics")
    assert(metrics.columns.toSet ==
      Set("bucket", "partition_id", "n_docs", "n_spans", "n_errors", "run_id", "group"))
    assert(metricDocs(out) == nDocs)
    // ...and equal the output read back per (bucket, partition), row for row
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq.sorted
    val readBack = data.groupBy("bucket", "partition_id")
      .agg(count(lit(1)), sum("n_spans"), sum("n_errors"))
    assert(rows(metrics.select("bucket", "partition_id", "n_docs", "n_spans", "n_errors")) ==
      rows(readBack))
  }

  private def metricDocs(out: String): Long =
    spark.read.parquet(s"$out/metrics").agg(sum("n_docs")).head().getLong(0)

  test("crash INSIDE the per-bucket commit loop loses no data on resume") {
    // Window: group dir renamed into place, only some of its bucket
    // manifests committed. The sweep must revoke those manifests along with
    // the dir so the whole group reprocesses (exactly-once either way).
    // At heavyWeight 5000 doc 0 (a 100x mega-doc) takes the heavy branch;
    // it sits in bucket 2, which the 3-commit crash commits and the sweep
    // revokes, so the resume's heavy pre-pass must run after the sweep.
    for ((heavyWeight, crashAfter, heavyDocs) <-
        Seq((ExtractJob.Config().heavyWeight, 2, 0L), (5000L, 3, 1L))) {
      val out = Files.createTempDirectory("graft_midcrash").toString
      val nDocs = 400
      val cfg = ExtractJob.Config(nBuckets = 8, groupSize = 4, heavyWeight = heavyWeight,
        runId = "c1", failAfterBucketCommits = Some(crashAfter))
      intercept[ExtractJob.SimulatedCrash] {
        ExtractJob.run(spark, docs(nDocs), out, cfg)
      }
      val store = new LocalManifestStore(out)
      assert(store.committedBuckets().size == crashAfter) // the torn group, part committed

      val second = ExtractJob.run(spark, docs(nDocs), out,
        cfg.copy(failAfterBucketCommits = None, runId = "c2"))
      // the torn group's committed buckets were revoked -> everything reran
      assert(second.skippedBuckets.isEmpty)
      assert(second.processedBuckets.toSet == (0 until 8).toSet)
      assert(second.heavyDocs == heavyDocs)
      val data = spark.read.parquet(s"$out/data")
      assert(data.count() == nDocs)
      assert(data.groupBy("doc_id").count().filter("count > 1").count() == 0)
      // manifests agree with the data after the recovery run
      val perBucket = data.groupBy("bucket").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      (0 until 8).foreach { b =>
        assert(store.readManifest(b).map(_.nDocs).contains(perBucket.getOrElse(b, 0L)))
        assert(store.readManifest(b).exists(_.runId == "c2"))
      }
      // the torn group's metric rows were swept with its data
      assert(metricDocs(out) == nDocs)
    }
  }

  test("mega-docs are isolated onto their own partitions") {
    import spark.implicits._
    // three mega-docs in range: ids 0, 997 and 1994
    val n = 2194
    val megaDocIds: Seq[String] = (0L until n.toLong)
      .filter(i => DocGen.syntheticDoc(i).spans.iterator
        .map(s => s.text.length.toLong + s.media_ref.length).sum >= 5000L)
      .map(i => f"doc_$i%09d")
    assert(megaDocIds.length == 3, s"expected three mega docs in range, got $megaDocIds")
    val isMega = org.apache.spark.sql.functions.col("doc_id").isin(megaDocIds: _*)
    // The layout is set by the scan splits and the heavy doc count alone:
    // the job has no shuffle sized by spark.sql.shuffle.partitions, so two
    // settings give the same partitions.
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val partitionIds = try Seq("8", "64").map { shufflePartitions =>
      spark.conf.set(key, shufflePartitions)
      val out = Files.createTempDirectory("graft_skew").toString
      // low heavy threshold so the synthetic mega tail definitely qualifies
      val cfg = ExtractJob.Config(nBuckets = 4, groupSize = 4, heavyWeight = 5000L,
        runId = "skew")
      val stats = ExtractJob.run(spark, docs(n), out, cfg)
      assert(stats.nDocs == n)
      assert(stats.heavyDocs == megaDocIds.length)
      val data = spark.read.parquet(s"$out/data")
      val megaParts = data.filter(isMega)
        .select("partition_id").as[Int].collect().sorted.toSeq
      // no light doc shares a physical partition with a mega doc
      val partOfLight = data.filter(!isMega)
        .select("partition_id").as[Int].collect().toSet
      assert(megaParts.nonEmpty && megaParts.toSet.intersect(partOfLight).isEmpty,
        s"mega partitions $megaParts must be disjoint from light partitions " +
          s"at $key=$shufflePartitions")
      // one mega-doc per partition, on exactly the first k partitions
      assert(megaParts == megaDocIds.indices,
        s"mega partitions $megaParts at $key=$shufflePartitions")
      megaParts.toSet ++ partOfLight
    } finally spark.conf.set(key, saved)
    assert(partitionIds.distinct.length == 1,
      s"partition ids differ across shuffle partition settings: $partitionIds")
  }
}
