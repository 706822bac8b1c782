package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end query surface: every SparkEntry query runs on sf0.001 and
  * returns rows; semantic assertions on the kernel-backed (rows-only)
  * queries that have no DuckDB oracle.
  */
class QueriesSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The session-global state a query could leave behind, by name. Two
    * things are left out on purpose:
    *  - `localCheckpoint` blocks: they are reclaimed only when the
    *    ContextCleaner runs after a GC (ROADMAP item 8), so a count taken
    *    right after the queries says nothing about a leak;
    *  - streaming listener buses: each replay's stateful operator calls
    *    `streams.stateStoreCoordinator` on the per-query session clone
    *    (`StreamExecution.sparkSessionForStream`). That builds the clone's
    *    lazy `StreamingQueryManager`, whose constructor adds a
    *    `StreamingQueryListenerBus` to the SparkContext's bus, and nothing
    *    removes it. A stateless stream adds none (ROADMAP item 5;
    *    StreamingSpec bounds it at one per replay).
    */
  private def globalState(s: SparkSession): Map[String, Set[String]] = {
    def entries(root: String) = scala.util.Using.resource(
      java.nio.file.Files.list(TempRoot(root)))(_.iterator().asScala.map(_.getFileName.toString).toSet)
    Map(
      "functions" -> s.sessionState.functionRegistry.listFunction().map(_.unquotedString).toSet,
      "conf" -> s.conf.getAll.map { case (k, v) => s"$k=$v" }.toSet,
      "tables" -> s.catalog.listTables().collect().map(_.name).toSet,
      "active streams" -> s.streams.active.map(_.id.toString).toSet,
      "cache empty" -> Set(s.sharedState.cacheManager.isEmpty.toString),
      "graft-stream-ckpt" -> entries("graft-stream-ckpt"),
      "graft-review" -> entries("graft-review"))
  }

  /** Every SparkEntry query counted once on a fresh session, with the state
    * above taken before and after.
    */
  private lazy val isolatedRun = {
    val s = spark.newSession()
    val before = globalState(s)
    val counts = SparkEntry.queries.map { case (name, fn) => name -> fn(s, dir).count() }
    (counts, before, globalState(s))
  }

  test("every SparkEntry query returns rows on sf0.001") {
    val empty = isolatedRun._1.filter(_._2 == 0L)
    assert(empty.isEmpty, s"empty results: ${empty.keys.mkString(",")}")
  }

  test("no SparkEntry query mutates session-global state") {
    val (_, before, after) = isolatedRun
    // the shared session carries no spark.sql.extensions, so a query that
    // registered a native function would show up as an added one
    val native = graft.functions.NativeFunctions.All.map(_._1).toSet
    assert(before("functions").intersect(native).isEmpty)
    val changed = before.keys.filter(k => before(k) != after(k)).map(k =>
      s"$k: added ${after(k) -- before(k)}, removed ${before(k) -- after(k)}")
    assert(changed.isEmpty, changed.mkString("; "))
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle map keys are a subset of query keys") {
    val unknown = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }

  test("x01 spans: offsets are dense per doc and kinds are extracted kinds") {
    import spark.implicits._
    val spans = queries.ExtractionQ.x01Spans(spark, dir)
    val kinds = spans.select("kind").distinct().as[String].collect().toSet
    assert(kinds.subsetOf(Set("text", "heading", "table_cell", "figure", "error")))
    val bad = spans.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.expr("max(offset) + 1 as mx"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter("mx != n").count()
    assert(bad == 0, "offsets must be exactly 0..n-1 per document")
  }

  test("x01 spans equal the pure-kernel output (distribution invariance)") {
    import spark.implicits._
    val viaSpark = queries.ExtractionQ.extracted(spark, dir).collect()
      .map(e => e.doc_id -> e.spans).toMap
    val docsLocal = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    docsLocal.foreach { case (id, text) =>
      val pure = graft.tokenize.SpanTokenizer.extract(
        graft.tokenize.DocGen.synthesize(id, text))
      assert(viaSpark(pure.doc_id) == pure.spans)
    }
  }

  test("d06 minhash-lsh recall on planted near-duplicates is exactly 1") {
    import spark.implicits._
    val pairs = queries.DocumentsQ.d06MinhashLsh(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => b == a + 10000000L })
    val expected = spark.read.parquet(s"$dir/documents.parquet")
      .filter(org.apache.spark.sql.functions.expr(
        "size(split(trim(text), '\\\\s+')) >= 40"))
      .count()
    assert(pairs.length == expected, s"planted recall ${pairs.length}/$expected")
  }

  test("d07 simhash finds every rotated variant at hamming 0") {
    import spark.implicits._
    val rows = queries.DocumentsQ.d07Simhash(spark, dir)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.length == nDocs)
    assert(rows.forall { case (a, b, h) => b == a + 10000000L && h == 0 })
  }

  test("e06 embedding dedup finds every planted duplicate, no cartesian") {
    import spark.implicits._
    val rows = queries.EmbeddingsQ.e06EmbeddingNearDup(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.length == nVecs)
    assert(rows.forall { case (a, b) => b == a + 1000000L })
    // plan must contain no cartesian/broadcast-nested-loop pair generation
    val plan = queries.EmbeddingsQ.e06EmbeddingNearDup(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "all-pairs join in e06 plan")
  }

  test("d08 exact jaccard confirms planted variants") {
    val n = queries.DocumentsQ.d08NgramJaccard(spark, dir).count()
    assert(n >= 450, s"planted variants should have jaccard >= 0.3, got $n")
  }

  test("e03 LSH ANN recall vs brute force is reasonable") {
    import spark.implicits._
    val exact = queries.EmbeddingsQ.e02AnnBruteForce(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = queries.EmbeddingsQ.e03AnnLsh(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.15, s"multi-probe LSH recall too low: $recall")
  }

  test("e08 SQ8 quantized ANN closely tracks the float brute-force top-5") {
    import spark.implicits._
    val exact = queries.EmbeddingsQ.e02AnnBruteForce(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sq8 = queries.EmbeddingsQ.e08AnnSq8(spark, dir)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // SQ8 scans every candidate (it compresses memory, not the search
    // space). On this corpus the vectors are near-random, so float top-5
    // margins sit near the 1/255 quantization step and some reordering is
    // inherent — the bar pins "substantially tracks" (measured 0.64 at
    // sf0.001); bit-exactness of the scores themselves is the oracle's job.
    val recall = exact.intersect(sq8).size.toDouble / exact.size
    assert(recall >= 0.5, s"SQ8 recall too low: $recall")
    // quantized scores stay in the cosine range
    val scores = queries.EmbeddingsQ.e08AnnSq8(spark, dir)
      .select("cos_sq8").as[Double].collect()
    assert(scores.forall(s => s >= -1.0000001 && s <= 1.0000001))
  }

  test("x07 golden F1 is high (pass1 vs pass2 mostly agree)") {
    val row = queries.ExtractionQ.x07GoldenF1(spark, dir).collect().head
    val micro = row.getAs[Double]("micro_f1")
    assert(micro > 0.8 && micro <= 1.0, s"micro_f1=$micro")
  }

  test("x09 cross-field sum rule holds on generated tables") {
    val df = queries.ExtractionQ.x09TableSumRule(spark, dir)
    val total = df.count()
    val ok = df.filter("sum_ok").count()
    assert(total > 0 && ok == total, s"sum rule: $ok/$total")
  }

  test("d18 corpus mix honors the per-language gates exactly") {
    import org.apache.spark.sql.functions.{col, countDistinct, max}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val weights = queries.DocumentsQ.mixWeights.toMap
    val expected = docs.flatMap { case (id, lang) =>
      val w = weights(lang)
      val n = if (w <= 100) (if (id % 100 < w) 1 else 0)
              else 1 + (if (id % 100 < w - 100) 1 else 0)
      (1 to n).map(c => (id, lang, c.toLong))
    }.sortBy(t => (t._1, t._3))
    val got = queries.DocumentsQ.d18CorpusMix(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq == expected.toSeq)
    // fr is the upsampled stratum: some doc must appear twice
    val fr = queries.DocumentsQ.d18CorpusMix(spark, dir)
      .filter(col("lang") === "fr")
      .agg(max("copy")).collect().head.getLong(0)
    assert(fr == 2L, s"fr max copy = $fr")
  }

  test("d19 decontamination flags every eval doc (self-overlap) and only 13-gram sharers") {
    import org.apache.spark.sql.functions.{col, size, split, trim}
    val out = queries.DocumentsQ.d19Decontaminate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val evalWithGrams = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 41 === 0)
      .filter(size(split(trim(col("text")), "\\s+")) >= 13)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val flaggedEval = out.filter(_._3).map(_._1).toSet
    assert(flaggedEval == evalWithGrams,
      s"eval docs flagged $flaggedEval != $evalWithGrams")
    assert(out.forall(_._2 >= 1), "a flagged doc must share at least one 13-gram")
  }

  test("d20 holdout split matches an independent md5 recomputation and is dedup-aware") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("lang", "source", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    def bucket(text: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hb = md.digest(text.getBytes("UTF-8")).take(1)
        .map(b => f"${b & 0xff}%02x").mkString
      if (hb < "cd") "train" else if (hb < "e6") "val" else "test"
    }
    val expected = docs.groupBy(d => (d._1, d._2)).map { case ((lang, src), rows) =>
      val splits = rows.map(r => bucket(r._3))
      val (tr, va, te) =
        (splits.count(_ == "train").toLong, splits.count(_ == "val").toLong,
          splits.count(_ == "test").toLong)
      (lang, src, tr, va, te, rows.length.toLong,
        BigDecimal(tr.toDouble / rows.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq.sortBy(t => (t._1, t._2))
    val got = queries.DocumentsQ.d20HoldoutSplit(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == expected, s"got ${got.toSeq}\nexp $expected")
    // dedup-awareness is structural: identical text => identical md5 prefix
    // => identical split; assert the key really is the content hash by
    // checking two equal texts map to the same bucket
    assert(bucket("same words") == bucket("same words"))
  }

  test("d21 repetition stats match a per-document Scala recomputation") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = docs.map { case (id, text) =>
      val w = text.trim.toLowerCase.split("\\s+")
      val grams = if (w.length >= 2) w.sliding(2).map(_.mkString(" ")).toArray
        else Array.empty[String]
      val dist = grams.distinct.length.toLong
      val frac = if (grams.isEmpty) 0.0
        else BigDecimal(1.0 - dist.toDouble / grams.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, w.length.toLong, grams.length.toLong, dist, frac,
        (grams.length - dist) * 25 > grams.length)
    }.sortBy(_._1)
    val got = queries.DocumentsQ.d21RepetitionFilter(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(got.toSeq == expected.toSeq)
    // the corpus draws from a small vocabulary: repetition must actually
    // occur somewhere or the surface is vacuous
    assert(expected.exists(e => e._4 < e._3), "no doc has any repeated 2-gram")
  }

  test("d22 PII scrub detects exactly the planted PII and scrubs it byte-identically") {
    val pats = queries.DocumentsQ.piiPatterns.map { case (k, p) =>
      k -> java.util.regex.Pattern.compile(p)
    }.toMap
    def countOf(p: java.util.regex.Pattern, s: String): Long = {
      val m = p.matcher(s); var n = 0L; while (m.find()) n += 1; n
    }
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val expected = docs.map { case (id, text) =>
      val t = if (id % 7 == 3) {
        val alt = if (id % 2 == 1) s" alt$id@mail.example" else ""
        text + s" contact u$id@mail.example$alt phone 555-${100 + id % 900}-" +
          s"${1000 + id % 9000} ssn ${100 + id % 900}-${10 + id % 90}-${1000 + id % 9000}"
      } else text
      val sc = pats("ssn").matcher(pats("phone").matcher(pats("email").matcher(t)
        .replaceAll("[EMAIL]")).replaceAll("[PHONE]")).replaceAll("[SSN]")
      val md = java.security.MessageDigest.getInstance("MD5")
      val hash = md.digest(sc.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      (id, countOf(pats("email"), t), countOf(pats("phone"), t),
        countOf(pats("ssn"), t), hash, (t.length - sc.length).toLong)
    }.sortBy(_._1)
    val got = queries.DocumentsQ.d22PiiScrub(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5)))
    assert(got.toSeq == expected.toSeq)
    // the planted slice must be non-trivial and detection exact: 1 or 2
    // emails + exactly one phone + one SSN per planted doc, zero elsewhere
    val planted = expected.filter(_._1 % 7 == 3)
    assert(planted.nonEmpty)
    assert(planted.forall(e => (e._2 == 1 || e._2 == 2) && e._3 == 1 && e._4 == 1))
    assert(expected.filterNot(_._1 % 7 == 3).forall(e => e._2 + e._3 + e._4 == 0))
  }

  test("e09 PQ matches an independent driver recomputation; seed vectors self-code") {
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)
    val cents = vecs.take(16).map(_._2)
    def code(e: Array[Float]): Array[Int] = Array.tabulate(4) { s =>
      var best = 0; var bd = Double.MaxValue
      for (cid <- 0 until 16) {
        var d = 0.0; var j = s * 16
        while (j < (s + 1) * 16) {
          val diff = e(j).toDouble - cents(cid)(j).toDouble; d += diff * diff; j += 1
        }
        if (d < bd) { bd = d; best = cid }
      }
      best
    }
    // each seed vector's nearest centroid in every subspace is itself
    (0 until 16).foreach(i => assert(code(vecs(i)._2).forall(_ == i)))
    def dist(q: Array[Float], c: Array[Int]): Double = {
      var s = 0.0; var j = 0
      while (j < 64) {
        val diff = q(j).toDouble - cents(c(j / 16))(j).toDouble; s += diff * diff; j += 1
      }
      s
    }
    val codes = vecs.map { case (id, e) => id -> code(e) }.toMap
    val expected = vecs.filter(_._1 < 20).flatMap { case (qid, q) =>
      vecs.filter(_._1 != qid)
        .map { case (nid, _) => (qid, nid, dist(q, codes(nid))) }
        .sortBy(t => (t._3, t._2)).take(5).zipWithIndex
        .map { case ((a, b, d), i) => (a, b, d, (i + 1).toLong) }
    }.sortBy(t => (t._1, t._4))
    val got = queries.EmbeddingsQ.e09AnnPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.toSeq == expected.toSeq)
  }
}
