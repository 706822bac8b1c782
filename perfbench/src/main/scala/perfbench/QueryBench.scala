package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** The `queries_*` workload: every fourth query of each module of
  * `SparkEntry.queries` (by name), over the bundled tables, in an order
  * shuffled by the seed. Each query is forced
  * with `collect()`, which computes every output column (a `count()` lets
  * the optimizer prune columns nobody reads) and yields the rows the check
  * hashes.
  */
object QueryBench {

  /** The set-up's warm-up query. */
  val WarmUp = Seq("q01_pricing_summary")

  val Modules = Seq("relational", "documents", "embeddings", "streaming", "extraction")

  def module(query: String): String = query.head match {
    case 'q' => "relational"
    case 'd' => "documents"
    case 'e' => "embeddings"
    case 's' => "streaming"
    case _ => "extraction"
  }

  /** Row count and order-insensitive hash of each query's result. */
  final case class Answer(rows: Long, hash: Long)

  def loadExpected(p: Path): Map[String, Answer] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filterNot(l => l.isBlank || l.startsWith("#"))
      .map(_.split("\t")).map(f =>
        f(0) -> Answer(f(1).toLong, java.lang.Long.parseUnsignedLong(f(2), 16))).toMap

  def writeExpected(p: Path, answers: Seq[(String, Answer)]): Unit =
    Files.write(p, ("# query\trows\thash (Checksum.rows, hex)" +: answers.sortBy(_._1).map {
      case (q, a) => f"$q\t${a.rows}\t${a.hash}%016x"
    }).asJava, StandardCharsets.UTF_8)

  def answer(h: Harness, q: String): Answer = {
    val rows = SparkEntry.queries(q)(h.spark, h.opts.dataDir.toString).collect()
    Answer(rows.length, Checksum.rows(rows))
  }

  /** Runs `q` as a span and checks it; its wall and task CPU seconds. */
  def timedQuery(h: Harness, q: String, span: String, expected: Map[String, Answer],
      o: Outcome): Option[(Double, Double)] =
    try {
      val (got, wall) = h.timed(span, attrs = Map("module" -> module(q)))(answer(h, q))
      val want = expected.get(q)
      val ok = o.op(span, want match {
        case None => Seq("no expected answer")
        case Some(w) if w != got =>
          Seq(f"got ${got.rows} rows / ${got.hash}%016x, expected ${w.rows} / ${w.hash}%016x")
        case _ => Nil
      })
      if (ok) Some((wall, TaskLog.cpuS(h.log.tasks(span)))) else None
    } catch {
      case e: Exception => o.op(span, Seq(e.toString)); None
    }

  private def setup(h: Harness, expected: Map[String, Answer], o: Outcome, tag: String): Double = {
    val start = h.start(h.wide)
    start + WarmUp.flatMap(q => timedQuery(h, q, s"warmup:$tag:$q", expected, o)).map(_._1).sum
  }

  /** One pass over every query: (query, wall, cpu) of the correct ones. */
  private def pass(h: Harness, order: Seq[String], tag: String, expected: Map[String, Answer],
      o: Outcome): Seq[(String, Double, Double)] =
    order.flatMap(q => timedQuery(h, q, s"q:$tag:$q", expected, o).map { case (w, c) => (q, w, c) })

  /** The measured queries: every fourth of each module, in name order. A
    * pass over all 90 does not fit the benchmark's time budget.
    */
  def selected: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.groupBy(module).values
      .flatMap(_.zipWithIndex.collect { case (q, i) if i % 4 == 0 => q }).toSeq.sorted

  def run(h: Harness, expectedFile: Path, o: Outcome): Unit = {
    val names = selected
    val order = new scala.util.Random(h.opts.seed).shuffle(names)
    o.info("query_order") = order

    h.opts.recordExpected.foreach { p =>
      h.start(h.wide)
      writeExpected(p, SparkEntry.queries.keys.toSeq.sorted.map(q => q -> answer(h, q)))
      return
    }
    val expected = loadExpected(expectedFile)
    if (h.opts.trace) traced(h, order, expected, o)
    else {
      val setups = (1 to 3).map(i => setup(h, expected, o, i.toString))
      val residency = Residency.before(h)
      Env.resetPeakRss()
      val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double, Double)]]
      while (passes.isEmpty ||
          (passes.map(_.map(_._2).sum).sum < h.opts.seconds && passes.length < 10 && o.failed == 0))
        passes += pass(h, order, passes.length.toString, expected, o)
      o.metrics("setup_s") = Stats.median(setups)
      val full = passes.filter(_.length == names.length)
      if (full.nonEmpty) {
        o.metrics("job_s") = Stats.median(full.map(_.map(_._2).sum).toSeq)
        o.metrics("job_cpu_s") = Stats.median(full.map(_.map(_._3).sum).toSeq)
      }
      o.info ++= Seq("setups_s" -> setups, "passes_s" -> passes.map(_.map(_._2).sum).toSeq)
      o.info ++= residency.after(h)
    }
  }

  private def traced(h: Harness, order: Seq[String], expected: Map[String, Answer], o: Outcome): Unit = {
    setup(h, expected, o, "1")
    // tracing overhead: the warm-up set with and without the detailed log
    val overhead = (0 until 2).map { i =>
      h.log.detail = true
      val on = WarmUp.flatMap(q => timedQuery(h, q, s"warm-traced:$i:$q", expected, o)).map(_._1).sum
      h.log.detail = false
      val off = WarmUp.flatMap(q => timedQuery(h, q, s"warm-plain:$i:$q", expected, o)).map(_._1).sum
      on / off
    }
    val residency = Residency.before(h)
    h.log.detail = true
    val gc0 = Env.gcS
    val done = pass(h, order, "traced", expected, o)
    val m = o.metrics
    m("jvm.gc_s") = Env.gcS - gc0
    m("trace.overhead_ratio") = Stats.median(overhead)
    m("queries.total_s") = done.map(_._2).sum
    m("queries.geomean_s") = if (done.isEmpty) 0.0 else Stats.geomean(done.map(_._2))
    m("queries.cpu_s") = done.map(_._3).sum
    Modules.foreach { mod =>
      val mine = done.filter(d => module(d._1) == mod)
      val ts = mine.flatMap(d => h.log.tasks(s"q:traced:${d._1}"))
      m(s"queries.$mod.s") = mine.map(_._2).sum
      m(s"queries.$mod.cpu_s") = ts.map(_.cpuS).sum
      m(s"queries.$mod.gc_s") = ts.map(_.gcS).sum
      m(s"queries.$mod.shuffle_bytes") = ts.map(_.shuffleWriteBytes).sum.toDouble
      m(s"queries.$mod.tasks") = ts.length.toDouble
    }
    residency.after(h).foreach { case (k, v) => m(k) = v }
    o.info("query_wall_s") = scala.collection.immutable.ListMap(done.map(d => d._1 -> d._2): _*)
  }
}
