package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Span

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[1]").appName("DigestSpec")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val a = Span("text", "alpha", "", 0)
  private val b = Span("figure", "", "s3://m/1.png", 1)

  private def digest(docs: Seq[(String, Seq[Span], Int)]) = {
    import spark.implicits._
    ExtractBench.digest(docs.toDF("doc_id", "spans", "n_errors"))
  }

  test("digest counts docs, spans and errors") {
    val d = digest(Seq(("d1", Seq(a, b), 0), ("d2", Seq(a), 2)))
    assert((d.docs, d.spans, d.errors) == (2L, 3L, 2L))
    assert(digest(Nil) == ExtractBench.Digest(0, 0, 0, 0))
  }

  test("digest is order-sensitive over a doc's spans, not over docs") {
    val docs = Seq(("d1", Seq(a, b), 0), ("d2", Seq(b), 0), ("d3", Seq(a), 1))
    val d = digest(docs)
    assert(digest(docs.reverse) == d)
    assert(digest(docs.updated(0, ("d1", Seq(b, a), 0))).checksum != d.checksum)
    assert(digest(docs.updated(1, ("d4", Seq(b), 0))).checksum != d.checksum)
  }
}
