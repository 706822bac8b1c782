package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions.{col, count, lit, size, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType
import graft.model.Doc
import graft.pipeline.ExtractJob
import graft.tokenize.{DocGen, SpanTokenizer}

/** The `extract_*` workloads: `ExtractJob.run` over a corpus generated from
  * the seed, checked against the tokenizer run directly on the same docs.
  */
object ExtractBench {

  /** @param nDocs corpus size; a multiple of 4096 so every seed's window
    *   holds the same number of skewed-corpus mega-docs
    */
  final case class Spec(name: String, nDocs: Long, skewed: Boolean)

  /** The uniform corpus is large enough that the tokenizer, the encoder
    * and the parquet write take over half of a job, more than the job's
    * cost per commit group. In the skewed corpus the mega-docs set the wall
    * time at a fifth of the size.
    */
  val specs: Seq[Spec] = Seq(
    Spec("extract_uniform", 20 * 4096, skewed = false),
    Spec("extract_skewed", 4 * 4096, skewed = true))

  /** One commit group over all buckets. */
  val NBuckets = 32
  val GroupSize = 32

  /** Untimed whole-corpus jobs before the timed ones. The first job in a
    * JVM runs up to twice as long as a warm one, and the next still runs
    * up to 30% slow; the median of the timed jobs absorbs the latter.
    */
  val Primes = 1

  /** Set-ups of an untraced run; `setup_s` is their median. */
  val Setups = 3

  /** Isolation threshold of the earlier harness: the skewed corpus's ~1.2 MB
    * mega-docs cross it, no uniform doc does.
    */
  val HeavyWeight = 200000L

  /** The corpus is written as this many equal files; the set-up's warm-up
    * job reads the last one, which holds no skewed-corpus mega-doc (those
    * sit at multiples of 4096 from the first doc, in files 0, 4, 8 and 12).
    */
  val CorpusFiles = 16

  val jobConfig: ExtractJob.Config =
    ExtractJob.Config(nBuckets = NBuckets, groupSize = GroupSize,
      heavyWeight = HeavyWeight, runId = "perfbench")

  /** Sums over a table of extracted docs: docs, spans, error spans, and a
    * checksum over `(doc_id, spans)`. Each doc's hash is order-sensitive
    * over its spans; the docs combine by a decimal sum, which does not
    * depend on row order and cannot overflow.
    */
  final case class Digest(docs: Long, spans: Long, errors: Long, checksum: BigDecimal)

  private def digestCols(doc: String => Column): Seq[Column] = Seq(
    count(lit(1)).as("docs"),
    sum(size(doc("spans")).cast("long")).as("spans"),
    sum(doc("n_errors").cast("long")).as("errors"),
    sum(xxhash64(doc("doc_id"), doc("spans")).cast(DecimalType(38, 0))).as("checksum"))

  private def toDigest(get: String => Any): Digest =
    if (get("docs") == 0L) Digest(0, 0, 0, 0)
    else Digest(get("docs").asInstanceOf[Long], get("spans").asInstanceOf[Long],
      get("errors").asInstanceOf[Long], BigDecimal(get("checksum").asInstanceOf[java.math.BigDecimal]))

  /** The digest of a table with the columns of `ExtractedDoc`. */
  def digest(df: DataFrame): Digest = {
    val cols = digestCols(col)
    val r = df.agg(cols.head, cols.tail: _*).head()
    toDigest(r.getAs[Any](_))
  }

  /** @param expect the digest of `SpanTokenizer.extract` run directly on
    *   every doc of the corpus
    */
  final case class Corpus(dir: String, warmFile: String, expect: Digest, heavyDocs: Long)

  /** Writes docs [lo, lo+n) as the corpus table. The same pass runs the
    * tokenizer directly on every generated doc and observes the digest of
    * its output, and counts the docs that cross the heavy threshold in an
    * accumulator (a write's tasks apply their updates exactly once).
    */
  def makeCorpus(h: Harness, skewed: Boolean, lo: Long, n: Long, dir: Path): Corpus = {
    val spark = h.spark
    import spark.implicits._
    val heavyDocs = spark.sparkContext.longAccumulator
    val gen: Long => Doc = if (skewed) DocGen.syntheticSkewedDoc else DocGen.syntheticDoc
    val heavy = HeavyWeight
    val expected = Observation("expected")
    val docs = spark.range(lo, lo + n, 1, CorpusFiles).map { i =>
      val d = gen(i)
      val weight = d.spans.iterator.map(x =>
        x.text.getBytes(StandardCharsets.UTF_8).length.toLong +
          x.media_ref.getBytes(StandardCharsets.UTF_8).length).sum
      if (weight >= heavy) heavyDocs.add(1)
      (d, SpanTokenizer.extract(d))
    }
    val cols = digestCols(c => col(s"_2.$c"))
    docs.observe(expected, cols.head, cols.tail: _*)
      .select(col("_1.*")).write.mode("overwrite").parquet(dir.toString)
    val expect = toDigest(expected.get)
    val last = scala.util.Using.resource(Files.list(dir))(_.iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.max)
    Corpus(dir.toString, last, expect, heavyDocs.sum)
  }

  def runJob(h: Harness, input: String, out: Path): ExtractJob.RunStats = {
    val spark = h.spark
    import spark.implicits._
    ExtractJob.run(spark, spark.read.parquet(input).as[Doc], out.toString, jobConfig)
  }

  private val nDocsRe = "\"n_docs\":\\s*(\\d+)".r

  /** Everything wrong with a committed job output; empty when correct:
    * manifests cover every bucket and total the corpus, metric rows sum to
    * the manifests, and the data's digest equals the direct tokenizer's.
    */
  def verify(h: Harness, c: Corpus, out: Path, stats: ExtractJob.RunStats): Seq[String] = {
    val spark = h.spark
    val e = c.expect
    val problems = Seq.newBuilder[String]
    if (stats.nDocs != e.docs || stats.nSpans != e.spans || stats.nErrors != e.errors)
      problems += s"job reported ${stats.nDocs} docs / ${stats.nSpans} spans / ${stats.nErrors} errors, " +
        s"expected ${e.docs} / ${e.spans} / ${e.errors}"

    val mdir = out.resolve("_manifests")
    val manifests: Map[Int, Long] =
      if (!Files.isDirectory(mdir)) Map.empty
      else scala.util.Using.resource(Files.list(mdir))(_.iterator().asScala.toSeq)
        .map(_.getFileName.toString)
        .collect { case f if f.matches("bucket-\\d+\\.json") =>
          val json = new String(Files.readAllBytes(mdir.resolve(f)), StandardCharsets.UTF_8)
          f.stripPrefix("bucket-").stripSuffix(".json").toInt ->
            nDocsRe.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(-1L)
        }.toMap
    if (manifests.size != NBuckets)
      problems += s"${manifests.size} bucket manifests, expected $NBuckets"
    if (manifests.values.sum != e.docs)
      problems += s"manifests total ${manifests.values.sum} docs, corpus has ${e.docs}"

    val metricRows = spark.read.parquet(out.resolve("metrics").toString)
      .groupBy(col("bucket")).agg(sum(col("n_docs")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val keys = metricRows.keySet ++ manifests.keySet
    val off = keys.filter(k => metricRows.getOrElse(k, 0L) != manifests.getOrElse(k, 0L))
    if (off.nonEmpty)
      problems += s"metric rows disagree with manifests on buckets ${off.toSeq.sorted.take(8).mkString(",")}"

    val got = digest(spark.read.parquet(out.resolve("data").toString))
    if (got != e) problems += s"data holds $got, the direct tokenizer gives $e"
    problems.result()
  }

  /** Runs the job on the whole corpus once as span `name` and checks it;
    * the job's own figures and its wall seconds when it was correct. `keep`
    * sees the output and the wall before the output is deleted.
    */
  def timedJob(h: Harness, c: Corpus, name: String, o: Outcome,
      keep: (Path, Double) => Unit = (_, _) => ()): Option[(ExtractJob.RunStats, Double)] = {
    val out = h.dir(s"out-$name".replace(':', '_'))
    try {
      val (stats, wall) = h.timed(name, attrs = Map("cores" -> h.cores))(runJob(h, c.dir, out))
      val ok = o.op(name, verify(h, c, out, stats))
      if (ok) keep(out, wall)
      if (ok) Some((stats, wall)) else None
    } catch {
      case e: Exception => o.op(name, Seq(e.toString)); None
    } finally Env.deleteTree(out)
  }

  /** An untimed job (a warm-up or a prime) on `input`: only the doc count
    * is checked. Returns its wall seconds, NaN if it failed.
    */
  private def untimedJob(h: Harness, input: String, docs: Long, name: String, o: Outcome): Double = {
    val out = h.dir(s"out-$name".replace(':', '_'))
    try {
      val (stats, wall) = h.timed(name)(runJob(h, input, out))
      if (o.op(name, if (stats.nDocs == docs) Nil else Seq(s"${stats.nDocs} docs, expected $docs")))
        wall
      else Double.NaN
    } catch {
      case e: Exception => o.op(name, Seq(e.toString)); Double.NaN
    } finally Env.deleteTree(out)
  }

  /** The set-up's warm-up: the job on the corpus's last file. */
  private def warmUp(h: Harness, c: Corpus, name: String, o: Outcome): Double =
    untimedJob(h, c.warmFile, c.expect.docs / CorpusFiles, name, o)

  def run(h: Harness, s: Spec, o: Outcome): Unit = {
    val n = s.nDocs
    val lo = (Math.floorMod(h.opts.seed, 1000000L) + 1) * n
    h.start(h.wide)
    // the load generator's work, not timed
    val t = System.nanoTime()
    val corpus = makeCorpus(h, s.skewed, lo, n, h.dir("corpus"))
    o.info ++= Seq("corpus_docs" -> n, "corpus_lo" -> lo,
      "corpus_gen_s" -> (System.nanoTime() - t) / 1e9,
      "corpus_bytes" -> Env.duBytes(Paths.get(corpus.dir)),
      "expect_spans" -> corpus.expect.spans, "expect_errors" -> corpus.expect.errors,
      "expect_heavy_docs" -> corpus.heavyDocs)
    for (i <- 1 to Primes) untimedJob(h, corpus.dir, n, s"prime:$i", o)
    if (h.opts.trace) traced(h, corpus, o)
    else {
      untraced(h, corpus, o)
      // each set-up is a new session and its warm-up job. They follow the
      // timed jobs, so they time the session's start-up, not the JIT's
      // progress
      val setups = (1 to Setups).map(i => h.start(h.wide) + warmUp(h, corpus, s"setup:$i", o))
      o.metrics("setup_s") = Stats.median(setups)
      o.info("setups_s") = setups
    }
  }

  private def untraced(h: Harness, c: Corpus, o: Outcome): Unit = {
    val residency = Residency.before(h)
    Env.resetPeakRss()
    val walls, cpus = ArrayBuffer.empty[Double]
    var rep = 0
    // past the first three, only while every job has been correct: a failed
    // job adds no wall time, and the run must still end in time
    while (rep < 3 || (walls.sum < h.opts.seconds && rep < 40 && o.failed == 0)) {
      val name = s"job:c${h.cores}:$rep"
      timedJob(h, c, name, o).foreach { case (_, w) =>
        walls += w
        cpus += TaskLog.cpuS(h.log.tasks(name))
      }
      rep += 1
    }
    if (walls.nonEmpty) {
      o.metrics("job_s") = Stats.median(walls.toSeq)
      o.metrics("job_cpu_s") = Stats.median(cpus.toSeq)
    }
    o.info ++= Seq("job_walls_s" -> walls.toSeq, "job_cpus_s" -> cpus.toSeq)
    o.info ++= residency.after(h)
  }

  /** The layer ladder: each rung adds one layer of the shipped job. Returns
    * (wall, task CPU) per rung.
    */
  private def rungs(h: Harness, c: Corpus, rep: Int): Seq[(Double, Double)] = {
    val spark = h.spark
    import spark.implicits._
    val tok = SpanTokenizer.default
    def docs = spark.read.parquet(c.dir).as[Doc]
    def noop(df: Dataset[_]): Unit = df.write.format("noop").mode("overwrite").save()
    val steps: Seq[(String, () => Unit)] = Seq(
      "scan" -> (() => noop(spark.read.parquet(c.dir))),
      "decode" -> (() => noop(docs.mapPartitions(it => Iterator.single(it.size.toLong)))),
      "tokenize" -> (() => noop(docs.mapPartitions { it =>
        var spans = 0L
        SpanTokenizer.extractPartition(it, tok).foreach(e => spans += e.n_spans)
        Iterator.single(spans)
      })),
      "encode" -> (() => noop(docs.mapPartitions(SpanTokenizer.extractPartition(_, tok)))),
      "write" -> { () =>
        val out = h.dir(s"rung-write-$rep")
        docs.mapPartitions(SpanTokenizer.extractPartition(_, tok))
          .write.options(jobConfig.writeOptions).parquet(out.toString)
        Env.deleteTree(out)
      })
    steps.map { case (layer, f) =>
      val name = s"rung:$layer:$rep"
      val (_, wall) = h.timed(name)(f())
      (wall, TaskLog.cpuS(h.log.tasks(name)))
    }
  }

  val Layers: Seq[String] = Seq("scan", "decode", "tokenize", "encode", "write", "commit")

  private def traced(h: Harness, c: Corpus, o: Outcome): Unit = {
    val residency = Residency.before(h)
    val ladder = ArrayBuffer.empty[Seq[(Double, Double)]]
    val tracedWalls, plainWalls, plainCpus = ArrayBuffer.empty[Double]
    val plainStats = ArrayBuffer.empty[ExtractJob.RunStats]
    val layerReps = ArrayBuffer.empty[Map[String, Double]]
    for (rep <- 0 until 2) {
      ladder += rungs(h, c, rep)
      // the job with the detailed log on, then off: the difference is the
      // tracing overhead, and the plain run gives the job's figures
      h.log.detail = true
      val name = s"job:traced:$rep"
      val gc0 = Env.gcS
      val startMs = System.currentTimeMillis()
      timedJob(h, c, name, o, keep = (out, wall) => {
        layerReps += JobLayers(h, name, c.expect.docs, startMs, wall, out) + ("jvm.gc_s" -> (Env.gcS - gc0))
        tracedWalls += wall
      })
      h.log.detail = false
      val plain = s"job:plain:$rep"
      timedJob(h, c, plain, o).foreach { case (stats, w) =>
        plainStats += stats
        plainWalls += w
        plainCpus += TaskLog.cpuS(h.log.tasks(plain))
      }
    }
    val n = c.expect.docs.toDouble
    val m = o.metrics
    val rungWall = ladder.transpose.map(r => Stats.median(r.map(_._1).toSeq)).toSeq
    val rungCpu = ladder.transpose.map(r => Stats.median(r.map(_._2).toSeq)).toSeq
    val job = if (plainWalls.isEmpty) 0.0 else Stats.median(plainWalls.toSeq)
    Layers.zip(Stats.selfTimes(rungWall :+ job)).foreach { case (layer, t) => m(s"$layer.self_s") = t }
    val tokCpu = rungCpu(2) - rungCpu(1)
    m("tokenize.docs_per_core_s") = if (tokCpu > 0) n / tokCpu else 0.0
    // as the checked untraced jobs reported them
    plainStats.headOption.foreach { st =>
      m("tokenize.spans_out") = st.nSpans.toDouble
      m("tokenize.error_spans") = st.nErrors.toDouble
    }
    layerReps.headOption.foreach(_.keys.foreach { k => m(k) = Stats.median(layerReps.map(_(k)).toSeq) })
    m("docs_per_s") = if (job > 0) n / job else 0.0
    m("cpu_s_per_mdoc") = if (plainCpus.isEmpty) 0.0 else Stats.median(plainCpus.toSeq) / n * 1e6
    m("trace.overhead_ratio") =
      if (tracedWalls.isEmpty || job <= 0) 0.0 else Stats.median(tracedWalls.toSeq) / job
    residency.after(h).foreach { case (k, v) => m(k) = v }
    o.info ++= Seq("rung_wall_s" -> rungWall, "rung_cpu_s" -> rungCpu,
      "job_plain_s" -> plainWalls.toSeq, "job_traced_s" -> tracedWalls.toSeq)

    // the narrow leg: the same job, once, on a quarter of the cores
    h.start(h.narrow)
    warmUp(h, c, s"warmup:c${h.narrow}", o)
    val narrowWalls = timedJob(h, c, s"job:c${h.narrow}", o).map(_._2).toSeq
    m("docs_per_s_c1") = if (narrowWalls.isEmpty) 0.0 else n / narrowWalls.head
    m("scaling.eff") = Stats.scalingEff(m("docs_per_s"), m("docs_per_s_c1"), h.wide / h.narrow)
    o.info("job_narrow_s") = narrowWalls
  }
}
