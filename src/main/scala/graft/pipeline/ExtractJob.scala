package graft.pipeline

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Doc
import graft.tokenize.SpanTokenizer

/** The end-to-end extraction job (SURVEY.md §4 physical plan):
  *
  *   read -> drop committed buckets -> skew-aware repartition ->
  *   mapPartitions(tokenizer kernel) -> atomic group-dir write ->
  *   metrics + per-bucket commit manifests
  *
  * Scale design decisions, in order of importance at 10^12 docs:
  *  - documents stay single rows end-to-end (extraction is embarrassingly
  *    parallel, map-only; the ONLY planned shuffle is the repartition);
  *  - buckets = hash(doc_id) % B drive resumability (a bucket is the commit
  *    unit recorded in the manifest store); buckets are processed in groups
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
  *  - skew: doc_weight = total raw payload length; docs above `heavyWeight`
  *    are isolated onto their own partitions (a pathological mega-doc can't
  *    hold a whole partition of normal docs hostage), everything else stays
  *    in the byte-balanced scan splits;
  *  - lineage: every output row carries extraction_path + the physical
  *    partition id that produced it; the write task counts docs, spans and
  *    error spans per (bucket, partition) as it emits the rows, and those
  *    metric rows land in `metrics/group=<buckets>` next to the data
  *    (Provenance.extraction_path semantics, reference
  *    src/pipeline/provenance.py:132-139). Metrics are append-only history
  *    keyed by run_id; the authoritative totals live in the bucket manifests,
  *    which are summed from the same counts.
  */
object ExtractJob {

  /** heavyWeight sizing rule (measured, see BASELINE.md skew A/B): isolate a
    * document only when it is a meaningful fraction (~5%) of one partition's
    * total char budget — below that, the byte-balanced scan splits absorb
    * the skew for free, and isolation's extra input scan + shuffle wave is a
    * net loss (800k-doc corpus with 0.65k-x megas ran ~20% slower isolated).
    * Default 5M chars ~ 5% of a 100M-char partition at the bench shape; at
    * 10^12 docs set it from table stats: heavyWeight ~ 0.05 * totalChars /
    * inputSplits.
    */
  final case class Config(
      nBuckets: Int = 32,
      groupSize: Int = 8,
      heavyWeight: Long = 5000000L,
      // Output writer options. Dictionary encoding is disabled by default:
      // extracted span text is high-cardinality, so the dictionary pass
      // burns encoder CPU and memory only to overflow and fall back —
      // measured +13% on the 16-core skew leg with no c4 change (guide §6;
      // snappy page compression still applies).
      writeOptions: Map[String, String] =
        Map("parquet.enable.dictionary" -> "false"),
      runId: String = "run",
      // test hook: simulate a crash once N bucket manifests have been
      // committed in this run (checked before each manifest commit)
      failAfterBucketCommits: Option[Int] = None)

  /** Thrown by the `failAfterBucketCommits` test hook: a simulated crash
    * right before a bucket manifest commit. When N is a multiple of
    * `groupSize` it lands after the next group's data and metrics are in
    * place but before any of its manifests (a torn group); otherwise it
    * lands inside a group's per-bucket commit loop, the window the sweep's
    * manifest revocation exists for.
    */
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
      spans: Seq[graft.model.Span],
      n_spans: Int,
      n_errors: Int,
      modalities: Seq[String],
      extraction_path: Seq[String],
      partition_id: Int,
      bucket: Int)

  def bucketOf(docId: String, nBuckets: Int): Int = {
    val h = graft.functions.Hashing.fnv1a64(docId)
    (((h % nBuckets) + nBuckets) % nBuckets).toInt
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
  private def sweepUncommitted(outDir: String, store: SnapshotStore,
      committed: Set[Int]): Set[Int] = {
    def list(dir: Path, prefix: String): Seq[Path] =
      if (!Files.isDirectory(dir)) Nil
      else scala.util.Using.resource(Files.list(dir))(
        _.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSeq)
    val root = Paths.get(outDir)
    list(root, ".tmp-group-").foreach(Manifests.deleteRecursively)
    var alive = committed
    for (sub <- Seq("data", "metrics"); d <- list(root.resolve(sub), "group=")) {
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

    val nB = cfg.nBuckets
    // bucket computed as a COLUMN: a typed map-to-tuple here would
    // deserialize + re-serialize every nested spans array once more per row;
    // a string-only UDF stays on the columnar path
    val bucketUdf = udf((id: String) => bucketOf(id, nB))
    val keyed = docs.toDF().withColumn("bucket", bucketUdf(col("doc_id")))
    def inBuckets(bs: Seq[Int]) = col("bucket").isin(bs.map(Integer.valueOf): _*)
    // Heavy pre-pass, once per run and after the sweep's revocations: the
    // (doc_id, bucket) of every doc whose weight is at least heavyWeight.
    // Weight = total raw payload bytes, an `aggregate` over the struct
    // column; octet_length, not length: byte count is O(1) on the UTF8
    // payload while character count rescans every byte, and the weight is a
    // routing heuristic — bytes are, if anything, the truer cost proxy. The
    // set is collected: each member is ~5% of a partition's byte budget.
    val heavyIds = keyed.filter(inBuckets(remaining))
      .filter(aggregate(col("spans"), lit(0L), (acc, s) =>
        acc + octet_length(s.getField("text")).cast("long") +
          octet_length(s.getField("media_ref")).cast("long")) >= cfg.heavyWeight)
      .select(col("doc_id"), col("bucket")).as[(String, Int)].collect()
      .groupMap(_._2)(_._1)

    val groups = remaining.grouped(cfg.groupSize).toSeq
    var processed = List.empty[Int]
    var totDocs = 0L; var totSpans = 0L; var totErrors = 0L

    groups.zipWithIndex.foreach { case (group, gi) =>
      // At 10^12 scale this filter is partition pruning on the bucketed
      // input table (each group scans only its own buckets); locally it
      // re-derives the input per group — bench runs use one group.
      val inGroup = keyed.filter(inBuckets(group))
      // Light docs: the scan splits as they are. Heavy docs: one partition
      // EACH — `repartitionById` passes the doc's slot in `ids` straight
      // through as its partition id, so no two mega-docs collide. The union
      // CONCATENATES the two partition sets without another shuffle, so no
      // light doc ever shares a partition with a mega-doc — a straggler
      // mega-doc can only delay its own partition. Routing by id membership
      // makes heavy and light an exact split of the group, and a group with
      // no heavy doc is written as it is.
      //
      // The heavy partition count is PINNED (an explicit count makes the
      // shuffle REPARTITION_BY_NUM). A column-only repartition is
      // AQE-coalescible (REPARTITION_BY_COL), and AQE's byte-targeted
      // coalescing was silently undoing this whole layout: measured on the
      // skewed bench corpus at local[16] x 4 waves, the heavy branch's 64
      // partitions coalesced to SIX carrying 14-25 mega-docs EACH — the
      // exact all-megas-through-one-task funnel the isolation exists to
      // prevent. The heavies are relocated rather than filtered in place
      // for the same reason: a scan-side-only heavy branch lost ~30% at c16
      // in round 6, each heavy scan split funnelling its megas through one
      // task. The light branch takes no shuffle: scan splits are
      // byte-balanced (maxPartitionBytes packing) and, with heavy docs
      // isolated, the light work is byte-proportional; a salted light
      // repartition measured slower (OPTIMIZATION_r06.md).
      val ids = group.flatMap(heavyIds.get).flatten.sorted
      val part = if (ids.isEmpty) inGroup else {
        val isHeavy = col("doc_id").isin(ids: _*)
        // heavy partitions FIRST: union concatenates partition lists and
        // Spark schedules tasks in partition order — longest-processing-
        // time-first lets the mega-doc tasks run while light tasks pack
        // around them instead of starting after the lights drain
        inGroup.filter(isHeavy)
          .repartitionById(ids.length, element_at(typedLit(ids.zipWithIndex.toMap), col("doc_id")))
          .unionByName(inGroup.filter(!isHeavy))
      }
      // Each write task counts what it emits per bucket and publishes the
      // counts when it ends. The write is the job's result stage, and Spark
      // applies a successful result task's accumulator update exactly once
      // (failed and duplicate attempts are dropped), so the metric rows
      // match the committed files without reading them back.
      val counted = spark.sparkContext.collectionAccumulator[MetricRow](s"metrics-$gi")
      val extracted = part.select(col("doc_id"), col("spans")).as[Doc]
        .mapPartitions { it =>
          val ctx = TaskContext.get()
          val pid = ctx.partitionId()
          val counts = mutable.HashMap.empty[Int, Array[Long]] // docs, spans, errors
          ctx.addTaskCompletionListener[Unit] { _ =>
            counts.foreach { case (b, c) => counted.add(MetricRow(b, pid, c(0), c(1), c(2))) }
          }
          SpanTokenizer.extractPartition(it).map { e =>
            val b = bucketOf(e.doc_id, nB)
            val c = counts.getOrElseUpdate(b, new Array[Long](3))
            c(0) += 1; c(1) += e.n_spans; c(2) += e.n_errors
            OutRow(e.doc_id, e.spans, e.n_spans, e.n_errors, e.modalities,
              e.extraction_path :+ s"commit_group:$gi", pid, b)
          }
        }

      val gname = group.mkString("-")
      val tmp = Paths.get(outDir, s".tmp-group-$gname")
      extracted.write.options(cfg.writeOptions)
        .mode(SaveMode.Overwrite).parquet(tmp.toString)
      val target = Paths.get(outDir, "data", s"group=$gname")
      Files.createDirectories(target.getParent)
      Manifests.deleteRecursively(target) // stale uncommitted dir from a crashed run
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)

      // Like the data dir, the group's metrics dir counts only once all its
      // buckets' manifests are committed (the sweep removes it otherwise),
      // so a crash mid-write needs no rename to stay exactly-once.
      val rows = counted.value.asScala.toSeq
      rows.toDF().withColumn("run_id", lit(cfg.runId)).coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/metrics/group=$gname")

      val perBucket = rows.groupMapReduce(_.bucket)(r => (r.n_docs, r.n_spans, r.n_errors)) {
        case ((d1, s1, e1), (d2, s2, e2)) => (d1 + d2, s1 + s2, e1 + e2)
      }
      group.foreach { b =>
        if (cfg.failAfterBucketCommits.exists(processed.length >= _))
          throw new SimulatedCrash
        val (d, s, e) = perBucket.getOrElse(b, (0L, 0L, 0L))
        store.commit(BucketManifest(b, d, s, e, cfg.runId))
        totDocs += d; totSpans += s; totErrors += e
        processed = processed :+ b
      }
    }
    RunStats(processed, committed.toSeq.sorted, totDocs, totSpans, totErrors,
      heavyIds.valuesIterator.map(_.size.toLong).sum)
  }
}
