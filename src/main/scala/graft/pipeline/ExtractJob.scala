package graft.pipeline

import java.nio.file.{Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Doc, Span}
import graft.tokenize.SpanTokenizer

/** The end-to-end extraction job (SURVEY.md §4 physical plan), per commit
  * group:
  *
  *   read -> drop committed buckets -> mapPartitions(tokenizer kernel) over
  *   the scan splits, skipping mega-docs -> light write to a temp group dir
  *   -> (only if mega-docs were skipped) heavy write of the mega-docs, one
  *   partition each, into the same dir -> atomic publish -> driver-written
  *   metrics file -> per-bucket commit manifests
  *
  * Scale design decisions, in order of importance at 10^12 docs:
  *  - documents stay single rows end-to-end (extraction is embarrassingly
  *    parallel, map-only; the ONLY planned shuffle is the heavy relocation);
  *  - buckets = hash(doc_id) % B drive resumability (a bucket is the commit
  *    unit recorded in the manifest store; one column, computed once per
  *    row, which the write task reads); buckets are processed in groups
  *    of `groupSize`, and each group's output is written to a temp dir then
  *    atomically renamed to `data/group=<buckets>` — a group is either fully
  *    visible or absent, so a kill loses at most one group of work. In
  *    production the rename is an Iceberg snapshot commit (Checkpoint.scala);
  *    on re-run, group dirs (data and metrics) whose buckets are not all
  *    manifest-committed are swept away before processing, so output rows
  *    and metric rows are exactly-once;
  *  - file count is bounded by tasks-per-group (one file per non-empty task),
  *    NOT tasks x buckets: we deliberately do NOT partitionBy("bucket") at
  *    write time — every scan split holds docs of every bucket, so each task
  *    would emit one small file per bucket, tasks x buckets per group, the
  *    classic small-files failure at 1000 executors. Bucket stays a data
  *    column; the manifest maps buckets -> group dirs for pruned reads;
  *  - skew: doc_weight = total raw payload bytes; the light write skips
  *    every doc at or above `heavyWeight` and records it, and a second write
  *    gives each such mega-doc its own partition (a pathological mega-doc
  *    can't hold a whole partition of normal docs hostage), everything else
  *    stays in the byte-balanced scan splits. The mega-docs thus run after
  *    the light tasks, not before them (the LPT-first union that BASELINE.md's
  *    skew A/B measured was worth it against the old quadratic HTML scanner;
  *    a ~1.2 MB DocGen mega-doc now takes ~17 ms warm), and in return a group
  *    without a mega-doc is one scan and one Spark job;
  *  - lineage: every output row carries extraction_path + the physical
  *    partition id that produced it; the write task counts docs, spans and
  *    error spans per (bucket, partition) as it emits the rows, and the
  *    driver writes those metric rows to `metrics/group=<buckets>` next to
  *    the data (Provenance.extraction_path semantics, reference
  *    src/pipeline/provenance.py:132-139). Metrics are append-only history
  *    keyed by run_id; the authoritative totals live in the bucket manifests,
  *    which are summed from the same counts.
  */
object ExtractJob {

  /** heavyWeight sizing rule (measured, see BASELINE.md skew A/B): isolate a
    * document only when it is a meaningful fraction (~5%) of one partition's
    * total byte budget — below that, the byte-balanced scan splits absorb
    * the skew for free, and isolation's second write (a filtered rescan of
    * the input + a shuffle wave) is a net loss (800k-doc corpus with
    * 0.65k-x megas ran ~20% slower isolated). A group with no doc at or
    * above it pays nothing for the heavy branch.
    * A doc's weight is its payload in UTF-8 bytes (`octet_length` of every
    * span's text and media_ref). The 5M default is ~5% of a 100 MB
    * partition. Both benches (Bench and perfbench) pass 200,000, so that
    * their skewed corpora's ~1.2 MB mega-docs take the heavy branch. At
    * 10^12 docs set it from table stats: heavyWeight ~ 0.05 * totalBytes /
    * inputSplits.
    */
  final case class Config(
      nBuckets: Int = 32,
      groupSize: Int = 8,
      heavyWeight: Long = 5000000L,
      runId: String = "run",
      // test hook: throw SimulatedCrash at this point of the run
      crashAt: Option[CrashPoint] = None) {
    // Output writer options. Dictionary encoding is disabled: extracted
    // span text is high-cardinality, so the dictionary pass burns encoder
    // CPU and memory only to overflow and fall back — measured +13% on the
    // 16-core skew leg with no c4 change (guide §6; snappy page compression
    // still applies).
    def writeOptions: Map[String, String] = Map("parquet.enable.dictionary" -> "false")
  }

  /** Where the `crashAt` test hook throws. `group` is the index of a commit
    * group in this run (0 = the first group it processes), `n` the number
    * of bucket manifests this run has committed so far.
    */
  sealed trait CrashPoint
  object CrashPoint {
    /** The light docs are in the group's temp dir, the mega-docs not yet. */
    final case class AfterLightWrite(group: Int) extends CrashPoint
    /** The temp dir is complete; reached only by a group with a mega-doc. */
    final case class AfterHeavyWrite(group: Int) extends CrashPoint
    /** The data dir is in place, its metrics file not yet. */
    final case class AfterPublish(group: Int) extends CrashPoint
    /** Data and metrics are in place, no manifest of the group yet. */
    final case class AfterMetrics(group: Int) extends CrashPoint
    /** Right before a manifest commit: when `n` is a multiple of `groupSize`
      * this is a torn group like `AfterMetrics`; otherwise it lands inside a
      * group's per-bucket commit loop, the window the sweep's manifest
      * revocation exists for.
      */
    final case class BeforeManifest(n: Int) extends CrashPoint
  }

  /** Thrown by the `crashAt` test hook: a simulated crash. */
  final class SimulatedCrash extends RuntimeException("simulated crash")

  final case class RunStats(
      processedBuckets: Seq[Int],
      skippedBuckets: Seq[Int],
      nDocs: Long,
      nSpans: Long,
      nErrors: Long,
      heavyDocs: Long)

  /** One `metrics` table row (without its run_id): what one write task
    * emitted for one bucket.
    */
  final case class MetricRow(
      bucket: Int,
      partition_id: Int,
      n_docs: Long,
      n_spans: Long,
      n_errors: Long)

  /** One extracted output row (long-lived storage schema). */
  final case class OutRow(
      doc_id: String,
      spans: Seq[Span],
      n_spans: Int,
      n_errors: Int,
      modalities: Seq[String],
      extraction_path: Seq[String],
      partition_id: Int,
      bucket: Int)

  /** The metrics table: `MetricRow` plus run_id, typed as Spark writes a
    * Dataset of them.
    */
  private val metricsSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int32 bucket;
      |  required int32 partition_id;
      |  required int64 n_docs;
      |  required int64 n_spans;
      |  required int64 n_errors;
      |  required binary run_id (STRING);
      |}""".stripMargin)

  /** Write one group's metric rows from the driver as a single parquet file:
    * they are a few rows per task, already in the driver's hands, so a
    * Spark job would only add its scheduling.
    */
  private def writeMetrics(spark: SparkSession, dir: Path, rows: Seq[MetricRow],
      runId: String): Unit = {
    val groups = new SimpleGroupFactory(metricsSchema)
    val writer = ExampleParquetWriter.builder(new HPath(dir.resolve("part-00000.parquet").toUri))
      .withType(metricsSchema).withConf(spark.sparkContext.hadoopConfiguration)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    try rows.foreach { r =>
      writer.write(groups.newGroup().append("bucket", r.bucket)
        .append("partition_id", r.partition_id).append("n_docs", r.n_docs)
        .append("n_spans", r.n_spans).append("n_errors", r.n_errors).append("run_id", runId))
    } finally writer.close()
  }

  /** Sweep stale state from a previous crashed run: temp dirs, and any group
    * dir under `data/` or `metrics/` whose buckets are not ALL
    * manifest-committed (a crash between the group rename and its manifest
    * writes leaves such dirs; their buckets will be reprocessed, so the dirs
    * must go to keep data and metric rows exactly-once).
    *
    * Crash WINDOW inside the per-bucket manifest loop: a group dir can exist
    * with only SOME of its buckets committed. Deleting the dir alone would
    * lose the committed buckets' rows forever (their manifests would still
    * claim them done, so they'd never reprocess) — so sweeping a group dir
    * also REVOKES the manifests of every bucket named in it, making the whole
    * group reprocess. The group is thus the atomic commit unit; bucket
    * manifests within a fully-present group remain the resume granularity.
    * Each root is swept on its own, so a crash mid-sweep (data dir deleted,
    * its metrics dir not yet) leaves an orphan that the next sweep removes
    * by the same rule. Returns the committed set after revocations.
    */
  private def sweepUncommitted(outDir: String, store: LocalManifestStore,
      committed: Set[Int]): Set[Int] = {
    val root = Paths.get(outDir)
    Manifests.list(root, ".tmp-group-").foreach(Manifests.deleteRecursively)
    var alive = committed
    for (sub <- Seq("data", "metrics"); d <- Manifests.list(root.resolve(sub), "group=")) {
      val buckets = d.getFileName.toString.stripPrefix("group=")
        .split('-').flatMap(s => scala.util.Try(s.toInt).toOption)
      if (!buckets.forall(committed.contains)) {
        // Revoke FIRST, then delete: a crash after the revokes leaves a
        // group dir with not-all-committed buckets, which the next sweep
        // deletes and re-revokes safely (idempotent). The reverse order
        // has a window where the data is gone but manifests still claim
        // the committed buckets done — those rows would be lost forever.
        buckets.foreach(store.revoke)
        Manifests.deleteRecursively(d)
        alive = alive -- buckets
      }
    }
    alive
  }

  def run(spark: SparkSession, docs: Dataset[Doc], outDir: String,
      cfg: Config = Config()): RunStats = {
    import spark.implicits._
    val store = new LocalManifestStore(outDir)
    val committed = sweepUncommitted(outDir, store, store.committedBuckets())
    val allBuckets = 0 until cfg.nBuckets
    val remaining = allBuckets.filterNot(committed.contains)
    if (remaining.isEmpty)
      return RunStats(Nil, committed.toSeq.sorted, 0L, 0L, 0L, 0L)

    def crash(p: CrashPoint): Unit = if (cfg.crashAt.contains(p)) throw new SimulatedCrash
    val nB = cfg.nBuckets
    // bucket = fnv1a64(doc_id) mod nBuckets as a COLUMN: a typed
    // map-to-tuple here would deserialize + re-serialize every nested spans
    // array once more per row; a string-only UDF stays on the columnar path
    val bucketUdf = udf((id: String) =>
      Math.floorMod(graft.functions.Hashing.fnv1a64(id), nB.toLong).toInt)
    val keyed = docs.toDF().withColumn("bucket", bucketUdf(col("doc_id")))
    // A doc is heavy when its weight, the total raw payload bytes, is at
    // least heavyWeight. A null text, null media_ref or null span element
    // weighs 0 bytes, as the kernel reads each as absent; a null spans
    // array has a null weight and is light. octet_length, not length: byte
    // count is O(1) on the UTF8 payload while character count rescans every
    // byte, and the weight is a routing heuristic — bytes are, if anything,
    // the truer cost proxy.
    val isHeavy = coalesce(aggregate(col("spans"), lit(0L), (acc, s) =>
      acc + coalesce(octet_length(s.getField("text")).cast("long"), lit(0L)) +
        coalesce(octet_length(s.getField("media_ref")).cast("long"), lit(0L))) >=
      cfg.heavyWeight, lit(false))

    val groups = remaining.grouped(cfg.groupSize).toSeq
    var processed = List.empty[Int]
    var totDocs = 0L; var totSpans = 0L; var totErrors = 0L; var totHeavy = 0L

    groups.zipWithIndex.foreach { case (group, gi) =>
      val gname = group.mkString("-")
      val tmp = Paths.get(outDir, s".tmp-group-$gname")
      // Each write task counts what it emits per bucket and publishes the
      // counts when it ends. Both writes run the kernel in their result
      // stage, and Spark applies a successful result task's accumulator
      // update exactly once (failed and duplicate attempts are dropped), so
      // the metric rows match the committed files without reading them back.
      // The light tasks likewise record every row they skip as heavy, with
      // their write's partition count.
      val counted = spark.sparkContext.collectionAccumulator[MetricRow](s"metrics-$gi")
      val skipped = spark.sparkContext.collectionAccumulator[(String, Int)](s"heavy-$gi")
      // Runs the kernel over `rows` into the temp dir; partition p's rows
      // carry partition_id pidBase + p, and rows where `skipWhen` holds are
      // recorded in `skipped` instead of written.
      def write(rows: DataFrame, skipWhen: Column, pidBase: Int, mode: SaveMode): Unit =
        rows.select(col("doc_id"), col("spans"), col("bucket"), skipWhen)
          .as[(String, Seq[Span], Int, Boolean)]
          .mapPartitions { it =>
            val ctx = TaskContext.get()
            val pid = pidBase + ctx.partitionId()
            val counts = mutable.HashMap.empty[Int, Array[Long]] // docs, spans, errors
            ctx.addTaskCompletionListener[Unit] { _ =>
              counts.foreach { case (b, c) => counted.add(MetricRow(b, pid, c(0), c(1), c(2))) }
            }
            val kernel = new SpanTokenizer.Kernel(SpanTokenizer.default)
            it.filter { case (id, _, _, skip) =>
              if (skip) skipped.add((id, ctx.numPartitions()))
              !skip
            }.map { case (id, spans, b, _) =>
              val e = kernel.extract(Doc(id, spans))
              val c = counts.getOrElseUpdate(b, new Array[Long](3))
              c(0) += 1; c(1) += e.n_spans; c(2) += e.n_errors
              OutRow(e.doc_id, e.spans, e.n_spans, e.n_errors, e.modalities,
                e.extraction_path :+ s"commit_group:$gi", pid, b)
            }
          }
          .write.options(cfg.writeOptions).mode(mode).parquet(tmp.toString)

      // Light docs: the scan splits as they are, mega-docs skipped. The
      // group filter is on the Scala-UDF column `bucket`, which Spark pushes
      // into no scan, so every group rescans the whole input at any scale
      // and with any input layout. The benches run one group.
      write(keyed.filter(col("bucket").isin(group.map(Integer.valueOf): _*)), isHeavy,
        0, SaveMode.Overwrite)
      crash(CrashPoint.AfterLightWrite(gi))

      // Mega-docs: one partition EACH, numbered after the light write's
      // partitions, so no light doc ever shares a partition with a
      // mega-doc — a straggler mega-doc can only delay its own task.
      // `repartitionById` passes the doc's slot in `ids` straight through as
      // its partition id, so no two mega-docs collide. The re-read filters
      // by doc_id (Parquet prunes row groups by its stats) AND weight, so
      // the two writes are an exact split even when a doc_id repeats.
      //
      // The heavy partition count is PINNED (an explicit count makes the
      // shuffle REPARTITION_BY_NUM). A column-only repartition is
      // AQE-coalescible (REPARTITION_BY_COL), and AQE's byte-targeted
      // coalescing was silently undoing this whole layout: measured on the
      // skewed bench corpus at local[16] x 4 waves, the heavy branch's 64
      // partitions coalesced to SIX carrying 14-25 mega-docs EACH — the
      // exact all-megas-through-one-task funnel the isolation exists to
      // prevent. The heavies are relocated rather than written from their
      // scan splits for the same reason: a scan-side-only heavy branch lost
      // ~30% at c16 in round 6, each heavy scan split funnelling its megas
      // through one task. The light branch takes no shuffle: scan splits
      // are byte-balanced (maxPartitionBytes packing) and, with heavy docs
      // skipped, the light work is byte-proportional; a salted light
      // repartition measured slower (OPTIMIZATION_r06.md).
      val heavy = skipped.value.asScala.toSeq
      if (heavy.nonEmpty) {
        val ids = heavy.map(_._1).distinct.sorted
        val slot = element_at(typedLit(ids.zipWithIndex.toMap), col("doc_id"))
        write(keyed.filter(col("doc_id").isin(ids: _*) && isHeavy).repartitionById(ids.length, slot),
          lit(false), heavy.head._2, SaveMode.Append)
        totHeavy += heavy.length
        crash(CrashPoint.AfterHeavyWrite(gi))
      }
      Manifests.publish(tmp, Paths.get(outDir, "data", s"group=$gname"))
      crash(CrashPoint.AfterPublish(gi))

      // Like the data dir, the group's metrics dir counts only once all its
      // buckets' manifests are committed (the sweep removes it otherwise),
      // so a crash mid-write needs no rename to stay exactly-once.
      val rows = counted.value.asScala.toSeq
      writeMetrics(spark, Paths.get(outDir, "metrics", s"group=$gname"), rows, cfg.runId)
      crash(CrashPoint.AfterMetrics(gi))

      val perBucket = rows.groupMapReduce(_.bucket)(r => (r.n_docs, r.n_spans, r.n_errors)) {
        case ((d1, s1, e1), (d2, s2, e2)) => (d1 + d2, s1 + s2, e1 + e2)
      }
      group.foreach { b =>
        crash(CrashPoint.BeforeManifest(processed.length))
        val (d, s, e) = perBucket.getOrElse(b, (0L, 0L, 0L))
        store.commit(BucketManifest(b, d, s, e, cfg.runId))
        totDocs += d; totSpans += s; totErrors += e
        processed = processed :+ b
      }
    }
    RunStats(processed, committed.toSeq.sorted, totDocs, totSpans, totErrors, totHeavy)
  }
}
