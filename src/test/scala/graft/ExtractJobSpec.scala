package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Doc
import graft.pipeline.{BucketManifest, ExtractJob, LocalManifestStore}
import graft.pipeline.ExtractJob.CrashPoint
import graft.tokenize.DocGen

/** Resume fixture (FIXTURES.md §6): a run killed after K of B buckets commit
  * must, on re-run, reprocess only B-K buckets; output must contain every
  * doc exactly once with the span-order invariant intact.
  */
class ExtractJobSpec extends AnyFunSuite with SparkSpec {

  private def docs(n: Int) = {
    import spark.implicits._
    spark.range(n).map(i => DocGen.syntheticDoc(i)).as[Doc]
  }

  test("kill after 2 commit groups, resume processes only the remainder")(scratch { out =>
    val nDocs = 600
    val cfg = ExtractJob.Config(nBuckets = 16, groupSize = 4, runId = "r1",
      crashAt = Some(CrashPoint.BeforeManifest(8)))

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
      cfg.copy(groupSize = 8, crashAt = None, runId = "r2"))
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
    val third = ExtractJob.run(spark, docs(nDocs), out, cfg.copy(crashAt = None))
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
  })

  private def metricDocs(out: String): Long =
    spark.read.parquet(s"$out/metrics").agg(sum("n_docs")).head().getLong(0)

  test("crash INSIDE the per-bucket commit loop loses no data on resume") {
    // Window: group dir renamed into place, only some of its bucket
    // manifests committed. The sweep must revoke those manifests along with
    // the dir so the whole group reprocesses (exactly-once either way).
    // At heavyWeight 5000 doc 0 (a 100x mega-doc) takes the heavy branch;
    // it sits in bucket 2, which the 3-commit crash commits and the sweep
    // revokes, so the resume must route it to the heavy write again.
    for ((heavyWeight, crashAfter, heavyDocs) <-
        Seq((ExtractJob.Config().heavyWeight, 2, 0L), (5000L, 3, 1L))) scratch { out =>
      val nDocs = 400
      val cfg = ExtractJob.Config(nBuckets = 8, groupSize = 4, heavyWeight = heavyWeight,
        runId = "c1", crashAt = Some(CrashPoint.BeforeManifest(crashAfter)))
      intercept[ExtractJob.SimulatedCrash] {
        ExtractJob.run(spark, docs(nDocs), out, cfg)
      }
      val store = new LocalManifestStore(out)
      assert(store.committedBuckets().size == crashAfter) // the torn group, part committed

      val second = ExtractJob.run(spark, docs(nDocs), out,
        cfg.copy(crashAt = None, runId = "c2"))
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

  test("a crash at every hook point resumes to exactly-once data, manifests and metrics") {
    // Every groupSize dividing 4 buckets, and a crash at each point of each
    // group: after its light write, after its publish, after its metrics
    // file, before each of the 4 manifest commits, and after the heavy write
    // of the group that holds doc 0. Doc 0 is a 100x mega-doc: at
    // heavyWeight 5000 it takes the heavy branch in whichever run processes
    // its bucket. One more state per groupSize has no hook: a crash in the
    // middle of a sweep (point None), which leaves the last group's
    // manifests revoked and its data dir deleted but its metrics dir in
    // place. It is built by hand after a clean run, and resumed one bucket
    // per group, so a metrics dir the sweep missed would count twice.
    val nDocs = 200
    val mega = DocGen.docIdStr(0)
    val megaBucket = Math.floorMod(graft.functions.Hashing.fnv1a64(mega), 4L).toInt
    val crashes = for {
      g <- Seq(1, 2, 4)
      groupPoints = (0 until 4 / g).flatMap { gi =>
        Seq(CrashPoint.AfterLightWrite(gi), CrashPoint.AfterPublish(gi),
          CrashPoint.AfterMetrics(gi)).map(_ -> gi * g)
      }
      heavyPoint = CrashPoint.AfterHeavyWrite(megaBucket / g) -> megaBucket / g * g
      manifestPoints = (0 to 3).map(c => CrashPoint.BeforeManifest(c) -> c / g * g)
      // each point with the number of buckets the crashed run leaves committed
      (point, kept) <- (groupPoints ++ (heavyPoint +: manifestPoints)).map {
        case (p, k) => (Some(p), k)
      } :+ (None -> (4 - g))
    } yield (g, point, kept)
    for ((g, point, kept) <- crashes) scratch { out =>
      val at = s"groupSize $g, crash at ${point.getOrElse("mid-sweep")}"
      val cfg = ExtractJob.Config(nBuckets = 4, groupSize = g, heavyWeight = 5000L,
        runId = "k1", crashAt = point)
      point match {
        case Some(_) =>
          intercept[ExtractJob.SimulatedCrash](ExtractJob.run(spark, docs(nDocs), out, cfg))
        case None =>
          ExtractJob.run(spark, docs(nDocs), out, cfg)
          val last = kept until 4
          val group = s"group=${last.mkString("-")}"
          last.foreach(new LocalManifestStore(out).revoke)
          org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(out, "data", group).toFile)
          assert(Files.isDirectory(Paths.get(out, "metrics", group)), at)
      }
      val resumed = ExtractJob.run(spark, docs(nDocs), out,
        cfg.copy(crashAt = None, runId = "k2", groupSize = if (point.isEmpty) 1 else g))
      // the sweep revokes a torn group, so only whole groups stay committed
      assert(resumed.skippedBuckets == (0 until kept), at)
      val data = spark.read.parquet(s"$out/data")
        .select("doc_id", "bucket", "partition_id", "n_spans", "n_errors").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3).toLong, r.getInt(4).toLong))
      assert(data.map(_._1).sorted.toSeq == (0 until nDocs).map(DocGen.docIdStr(_)), at)
      val store = new LocalManifestStore(out)
      (0 until 4).foreach { b =>
        assert(store.readManifest(b).map(_.nDocs).contains(data.count(_._2 == b).toLong),
          s"$at, bucket $b")
      }
      val metrics = spark.read.parquet(s"$out/metrics")
        .select("bucket", "partition_id", "n_docs", "n_spans", "n_errors").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      val fromData = data.groupBy(d => (d._2, d._3)).map { case ((b, p), ds) =>
        (b, p, ds.length.toLong, ds.map(_._4).sum, ds.map(_._5).sum)
      }
      assert(metrics.toSeq.sorted == fromData.toSeq.sorted, at)
      assert(resumed.heavyDocs == (if (resumed.skippedBuckets.contains(megaBucket)) 0 else 1), at)
    }
  }

  test("rows with a null spans array or null span elements keep manifests = metrics = data") {
    import spark.implicits._
    val nDocs = 200
    val hostile = Seq(
      Doc("null_spans", null),
      Doc("null_element", Seq(null, graft.model.Span("pdf_text", "Hello world.", "", 1))),
      Doc("only_nulls", Seq(null, null)),
      Doc("null_ref_mega", Seq(graft.model.Span("pdf_text", "x" * 6000, null, 0))))
    val input = docs(nDocs).union(hostile.toDS())
    // A doc's reference weight: the UTF-8 bytes of each non-null text and
    // media_ref over its non-null spans. It is heavy iff the weight is at
    // least heavyWeight, whatever the nulls around the bytes.
    def weight(d: Doc): Long = Option(d.spans).toSeq.flatten.filter(_ != null)
      .flatMap(s => Seq(s.text, s.media_ref)).filter(_ != null)
      .map(_.getBytes("UTF-8").length.toLong).sum
    scratch { out =>
      val cfg = ExtractJob.Config(nBuckets = 4, groupSize = 2, heavyWeight = 5000L, runId = "n1")
      val stats = ExtractJob.run(spark, input, out, cfg)
      val total = nDocs + hostile.length
      assert(stats.nDocs == total)
      assert(stats.heavyDocs == input.collect().count(weight(_) >= cfg.heavyWeight))
      val data = spark.read.parquet(s"$out/data")
      assert(data.count() == total)
      val got = data.filter($"doc_id".isin(hostile.map(_.doc_id): _*))
        .select("doc_id", "n_spans", "n_errors").as[(String, Int, Int)].collect().toSet
      assert(got == Set(("null_spans", 0, 0), ("null_element", 1, 0), ("only_nulls", 0, 0),
        ("null_ref_mega", 1, 0)))
      val store = new LocalManifestStore(out)
      val perBucket = data.groupBy("bucket").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      (0 until 4).foreach { b =>
        assert(store.readManifest(b).map(_.nDocs).contains(perBucket.getOrElse(b, 0L)))
      }
      val metrics = spark.read.parquet(s"$out/metrics")
        .groupBy("bucket").agg(sum("n_docs")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(metrics == perBucket)
    }
  }

  test("bucket manifests round-trip any run id; torn or partial ones read as absent")(scratch { out =>
    val store = new LocalManifestStore(out)
    val ids = Seq("a,b", "x}y", "q\"z")
    ids.zipWithIndex.foreach { case (id, b) => store.commit(BucketManifest(b, 5, 7, 0, id)) }
    ids.zipWithIndex.foreach { case (id, b) =>
      assert(store.readManifest(b).contains(BucketManifest(b, 5, 7, 0, id)))
    }
    // the on-disk form that manifests of earlier runs and perfbench's check share
    store.commit(BucketManifest(3, 5, 7, 0, "run"))
    val dir = Paths.get(out, "_manifests")
    assert(Files.readString(dir.resolve("bucket-3.json")) ==
      """{"bucket":3,"n_docs":5,"n_spans":7,"n_errors":0,"run_id":"run"}""")
    Files.writeString(dir.resolve("bucket-4.json"), """{"bucket":4,"n_docs":5""")
    Files.writeString(dir.resolve("bucket-5.json"),
      """{"bucket":5,"n_docs":5,"n_spans":7,"n_errors":0}""")
    assert(store.readManifest(4).isEmpty && store.readManifest(5).isEmpty)
  })

  test("mega-docs are isolated onto their own partitions") {
    import spark.implicits._
    // three mega-docs in range: ids 0, 997 and 1994
    val n = 2194
    val megaDocIds: Seq[String] = (0L until n.toLong)
      .filter(i => DocGen.syntheticDoc(i).spans.iterator
        .map(s => s.text.length.toLong + s.media_ref.length).sum >= 5000L)
      .map(DocGen.docIdStr)
    assert(megaDocIds.length == 3, s"expected three mega docs in range, got $megaDocIds")
    val isMega = org.apache.spark.sql.functions.col("doc_id").isin(megaDocIds: _*)
    // The layout is set by the scan splits and the heavy doc count alone:
    // the job has no shuffle sized by spark.sql.shuffle.partitions, so two
    // settings give the same partitions.
    val key = "spark.sql.shuffle.partitions"
    val partitionIds = Seq("8", "64").map { shufflePartitions =>
      withConf(key, shufflePartitions)(scratch { out =>
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
        // one mega-doc per partition, on the k partitions right after the
        // light write's
        val firstHeavy = partOfLight.max + 1
        assert(megaParts == (firstHeavy until firstHeavy + megaDocIds.length),
          s"mega partitions $megaParts at $key=$shufflePartitions")
        megaParts.toSet ++ partOfLight
      })
    }
    assert(partitionIds.distinct.length == 1,
      s"partition ids differ across shuffle partition settings: $partitionIds")
  }

  test("a doc_id with a heavy row and a light row has each row written once") {
    import spark.implicits._
    // doc 0 is a 100x mega-doc; a second, light row reuses its doc_id
    val twin = DocGen.syntheticDoc(1).copy(doc_id = DocGen.docIdStr(0))
    val input = docs(200).union(Seq(twin).toDS())
    scratch { out =>
      val stats = ExtractJob.run(spark, input, out,
        ExtractJob.Config(nBuckets = 4, groupSize = 4, heavyWeight = 5000L, runId = "d1"))
      assert(stats.nDocs == 201 && stats.heavyDocs == 1)
      val data = spark.read.parquet(s"$out/data")
        .select("doc_id", "n_spans", "n_errors", "partition_id").as[(String, Int, Int, Int)]
        .collect().toSeq
      val direct = input.collect().toSeq.map(graft.tokenize.SpanTokenizer.extract(_))
        .map(e => (e.doc_id, e.n_spans, e.n_errors))
      assert(data.map(d => (d._1, d._2, d._3)).sorted == direct.sorted)
      // the heavy row alone on its partition, the light twin among the light docs
      val megaPart = data.filter(_._1 == twin.doc_id).maxBy(_._2)._4
      assert(data.count(_._4 == megaPart) == 1)
    }
  }

  test("a one-group run with no heavy doc is one Spark job") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    scratch { out =>
      org.apache.spark.ListenerCount.drain(sc)
      sc.addSparkListener(listener)
      try {
        val stats = ExtractJob.run(spark, docs(400), out,
          ExtractJob.Config(nBuckets = 4, groupSize = 4, runId = "j1"))
        assert(stats.nDocs == 400 && stats.heavyDocs == 0)
        org.apache.spark.ListenerCount.drain(sc)
      } finally sc.removeSparkListener(listener)
      assert(jobs.get == 1)
    }
  }
}
