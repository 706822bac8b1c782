package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.DocumentsQ

/** The full near-dup pair surfaces (d06/d07 ...All): incidental base-base
  * discoveries must be PRESENT and distinguishable from the planted recall
  * rows — round-2 verdict item 7 (the oracled queries keep only the planted
  * subset; the operator a production user runs is the full surface).
  */
class NearDupSurfaceSpec extends AnyFunSuite with SparkSpec {

  /** Crafted corpus: docs 1 and 2 are exact duplicates (an incidental
    * base-base near-dup pair by construction: identical shingle sets and
    * identical token bags), doc 3 is unrelated.
    */
  private val dupCorpus: Seq[(Long, String)] = {
    val a = (1 to 50).map(k => s"alpha$k").mkString(" ")
    val c = (1 to 50).map(k => s"omega${k * 7}").mkString(" ")
    Seq((1L, a), (2L, a), (3L, c))
  }

  /** Run `f` on a scratch dir holding `rows` as its `documents` table. */
  private def withCorpus[A](rows: Seq[(Long, String)])(f: String => A): A = scratch { out =>
    import spark.implicits._
    rows.toDF("doc_id", "text").write.parquet(s"$out/documents.parquet")
    f(out)
  }

  test("minhash full surface carries the incidental pair, flagged")(withCorpus(dupCorpus) { dir =>
    val all = DocumentsQ.d06MinhashLshAll(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(all.contains((1L, 2L, false)), s"incidental base-base pair missing: $all")
    assert(all.contains((1L, 10000001L, true)) && all.contains((2L, 10000002L, true)))
    // oracle projection = planted rows only
    val oracled = DocumentsQ.d06MinhashLsh(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oracled == all.filter(_._3).map(t => (t._1, t._2)))
  })

  /** Degenerate corpus: 1001 byte-identical short docs (> maxBucket = 1000,
    * the boilerplate-cluster shape the cap exists for; < 40 words, so d06
    * plants no variants for them — matching real empty-ish docs) plus two
    * normal >= 40-word docs whose planted variants must still surface.
    */
  private val hotCorpus: Seq[(Long, String)] = {
    val boiler = (1 to 20).map(k => s"boiler$k").mkString(" ")
    val normalA = (1 to 50).map(k => s"alpha$k").mkString(" ")
    val normalB = (1 to 50).map(k => s"beta${k * 3}").mkString(" ")
    (100L to 1100L).map(id => (id, boiler)) ++ Seq((1L, normalA), (2L, normalB))
  }

  test("hot-bucket cap FIRES on a >1000-doc degenerate cluster; surface stays sub-quadratic") {
    withCorpus(hotCorpus) { hotDir =>
      // without the cap the 1001 identical docs alone would emit
      // 1001*1000/2 = 500500 candidate pairs; with it they emit none (their
      // every band bucket exceeds maxBucket and is dropped — identical docs
      // are the exact-dedup pass's job, not LSH's)
      val all = DocumentsQ.d06MinhashLshAll(spark, hotDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      val degenerate = all.filter { case (a, b, _) =>
        a >= 100L && a <= 1100L && b >= 100L && b <= 1100L }
      assert(degenerate.isEmpty, s"cap did not fire: ${degenerate.length} cluster pairs")
      assert(all.length <= 10, s"surface not sub-quadratic: ${all.length} pairs")
      // the normal docs' planted recall rows are unaffected by the cap
      val oracled = DocumentsQ.d06MinhashLsh(spark, hotDir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(oracled == Set((1L, 10000001L), (2L, 10000002L)),
        s"planted-pair oracle disturbed: $oracled")

      // same contract on the simhash chunk buckets (d07 plants a variant for
      // EVERY doc, so the degenerate cluster is 2002 signature-identical
      // docs; the cap drops all their pairs — including their own planted
      // rows, the documented trade-off: signature-identical clusters belong
      // to d01/d05 — while normal docs' planted pairs survive)
      val sim = DocumentsQ.d07SimhashAll(spark, hotDir)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(!sim.exists { case (a, b) =>
        (a % 10000000L) >= 100L && (b % 10000000L) >= 100L },
        "simhash cap did not fire on the degenerate cluster")
      assert(sim.toSet == Set((1L, 10000001L), (2L, 10000002L)),
        s"normal planted pairs disturbed: ${sim.toSeq}")
    }
  }

  test("simhash full surface carries the incidental pair, flagged")(withCorpus(dupCorpus) { dir =>
    val all = DocumentsQ.d07SimhashAll(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getBoolean(3)))
    val byPair = all.map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(byPair.get((1L, 2L)).exists { case (h, p) => h == 0 && !p },
      s"incidental Hamming-0 pair missing: ${all.toSeq}")
    assert(byPair.get((1L, 10000001L)).exists { case (h, p) => h == 0 && p })
    val oracled = DocumentsQ.d07Simhash(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oracled == all.filter(_._4).map(t => (t._1, t._2)).toSet)
  })
}
