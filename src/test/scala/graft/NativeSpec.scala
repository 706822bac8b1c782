package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Encoders, InjectedFunctions, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{NativeFunctions, NativeKernels}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd expression (WsTokenCount) + as-of join edge semantics. */
class NativeSpec extends AnyFunSuite with SparkSpec {

  private def u(s: String) = UTF8String.fromString(s)

  test("kernel counts ws tokens exactly, incl. multibyte and blank") {
    assert(NativeKernels.wsTokenCount(u("a b  c")) == 3)
    assert(NativeKernels.wsTokenCount(u("")) == 0)
    assert(NativeKernels.wsTokenCount(u("  \t\n ")) == 0)
    assert(NativeKernels.wsTokenCount(u(" héllo wörld ")) == 2)
    assert(NativeKernels.wsTokenCount(u("日本\u3000語")) == 1) // U+3000 is not regex-\s
    assert(NativeKernels.wsTokenCount(u("a\u000Bb")) == 1) // VT is NOT RE2-\s (oracle class)
    assert(NativeKernels.wsTokenCount(null) == 0)
  }

  test("expression matches split-idiom through SQL (extensions route) and codegen") {
    import spark.implicits._
    val texts = Seq("one two three", "  lead", "trail  ", "", "多字节 字符 here x")
    val df = texts.toDF("text")
    // The SQL route on a session of this test's own: GraftExtensions
    // applied to extensions of their own, whose functions are registered as
    // a session built with spark.sql.extensions registers them at start.
    val ext = new SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    val sqlSession = spark.newSession()
    assert(!sqlSession.catalog.functionExists("ws_token_count"))
    InjectedFunctions.register(ext, sqlSession.sessionState.functionRegistry)
    sqlSession.createDataset(texts)(Encoders.STRING).toDF("text")
      .createOrReplaceTempView("t_native")
    val viaSql = sqlSession.sql(
      "SELECT text, ws_token_count(text) AS n FROM t_native").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // split() idiom reference (blank-guarded)
    val viaSplit = df.select(col("text"),
        when(trim(col("text")) === "", 0)
          .otherwise(size(split(trim(col("text")), "\\s+"))).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(viaSql == viaSplit)
    // the column builder the queries use agrees
    val viaCall = df.select(col("text"),
        NativeFunctions("ws_token_count", col("text")).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(viaCall == viaSplit)
  }

  test("pq_dist is bit-identical to the scalar reference loop") {
    import spark.implicits._
    val k = 4; val sd = 4; val m = 2 // 8-dim vectors, 2 subspaces of 4
    def f(i: Int, j: Int): Float = ((i * 31 + j * 7) % 17 - 8) / 9.0f
    val cents: Array[Array[Float]] = Array.tabulate(k)(c => Array.tabulate(m * sd)(f(c, _)))
    val rows = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(m * sd)(f(i + 3, _)), Array(i % k, (i + 1) % k))
    }
    // reference = the pre-round-6 Scala UDF loop, verbatim
    def ref(q: Array[Float], code: Array[Int]): Double = {
      var sum = 0.0; var j = 0
      while (j < m * sd) {
        val diff = q(j).toDouble - cents(code(j / sd))(j).toDouble
        sum += diff * diff; j += 1
      }
      sum
    }
    val cbCol = array(cents.toIndexedSeq.map(c =>
      array(c.toIndexedSeq.map(v => lit(v)): _*)): _*)
    val got = rows.toDF("id", "q", "code")
      .select(col("id"), NativeFunctions("pq_dist", col("q"), col("code"), cbCol).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, q, code) =>
      // exact double equality — the expression must replay the UDF op-for-op
      assert(got(id) == ref(q, code), s"pq_dist differs at id=$id")
    }
    // a 7-dim query against 2 codes would drop its trailing dimension: rejected
    val bad = intercept[Exception] {
      Seq((0L, Array.tabulate(m * sd - 1)(f(0, _)), Array(0, 1))).toDF("id", "q", "code")
        .select(NativeFunctions("pq_dist", col("q"), col("code"), cbCol)).collect()
    }
    val causes = Iterator.iterate[Throwable](bad)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("query length 7 is not a multiple of code length 2")), bad)
  }

  test("sq8_cos is bit-identical to the UDF-struct reference") {
    import spark.implicits._
    val rows = (0 until 30).map { i =>
      (i.toLong,
        Array.tabulate(16)(j => ((i * 13 + j * 5) % 256).toLong),
        Array.tabulate(16)(j => ((i * 7 + j * 11) % 256).toLong))
    } :+ ((99L, Array.fill(16)(0L), Array.tabulate(16)(_.toLong))) // zero-norm guard
    // reference = the pre-round-6 UDF + when/otherwise assembly, verbatim
    def ref(a: Array[Long], b: Array[Long]): Double = {
      var dt = 0L; var na = 0L; var nb = 0L; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { dt += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0L || nb == 0L) 0.0
      else dt.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val got = rows.toDF("id", "a", "b")
      .select(col("id"), NativeFunctions("sq8_cos", col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, a, b) =>
      assert(got(id) == ref(a, b), s"sq8_cos differs at id=$id")
    }
  }

  test("expression stays inside whole-stage codegen") {
    import spark.implicits._
    val exec = spark.range(100)
      .select(NativeFunctions("ws_token_count",
        concat(lit("tok "), col("id").cast("string"))))
      .queryExecution.executedPlan
    val codegenProjects = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
        if w.toString.contains("ws_token_count") => w
    }
    assert(codegenProjects.nonEmpty, s"no codegen span in:\n$exec")
  }

  test("float_vec_dot matches the HOF chain bit-exactly and stays codegen'd") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.5f, 2.0f)),
      (Array(0.1f, 0.2f), Array(0.3f, 0.4f)),
      (Array.empty[Float], Array.empty[Float]))
      .toDF("a", "b")
    val both = df.select(
      NativeFunctions("float_vec_dot", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("hof"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}"))
    val exec = spark.range(10)
      .select(NativeFunctions("float_vec_dot",
        array(col("id").cast("float")), array(col("id").cast("float"))))
      .queryExecution.executedPlan
    assert(exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
        if w.toString.contains("float_vec_dot") => w
    }.nonEmpty)
  }

  test("float_vec_dot null semantics mirror the HOF chain") {
    import spark.implicits._
    val df = Seq(
      (Some(Array(Option(1.0f), Option(2.0f))), Some(Array(Option(3.0f), Option(4.0f)))),
      (Some(Array(Option(1.0f), None)), Some(Array(Option(3.0f), Option(4.0f)))), // null element
      (Some(Array(Option(1.0f))), Some(Array(Option(3.0f), Option(4.0f)))),       // length mismatch
      (None, Some(Array(Option(1.0f)))))                                          // null array
      .toDF("a", "b")
    val rows = df.select(
      NativeFunctions("float_vec_dot", col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("hof"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null disagreement: native=${r.get(0)} hof=${r.get(1)}")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
  }

  test("as-of join matches view at identical timestamp (inclusive) and none before") {
    import spark.implicits._
    // user 1: view at t1, purchase at t1 (tie -> inclusive match), purchase at t0 (no view yet)
    val rows = Seq(
      (10L, Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "purchase", 1.0, "{}"),
      (11L, Timestamp.valueOf("2024-01-01 01:00:00"), 1L, "view", 2.5, "{}"),
      (12L, Timestamp.valueOf("2024-01-01 01:00:00"), 1L, "purchase", 3.0, "{}"),
      (13L, Timestamp.valueOf("2024-01-01 02:00:00"), 1L, "purchase", 4.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = scratch { tmp =>
      rows.write.mode("overwrite").parquet(s"$tmp/events.parquet")
      graft.queries.Relational.q20AsofJoin(spark, tmp).collect()
        .map(r => r.getLong(1) -> Option(r.get(2)).map(_.asInstanceOf[Long]))
        .toMap
    }
    assert(out(10L).isEmpty, "purchase before any view must not match")
    assert(out(12L).contains(11L), "equal-timestamp view must match (inclusive)")
    assert(out(13L).contains(11L), "later purchase matches latest prior view")
  }
}
