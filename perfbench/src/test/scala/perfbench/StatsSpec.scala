package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts, independent of input order") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.5)) == 7.5)
    assertThrows[IllegalArgumentException](Stats.median(Nil))
  }

  test("nearest-rank percentile selects an observed value") {
    val xs = (1 to 20).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 10.0)
    assert(Stats.percentile(xs, 95) == 19.0)
    assert(Stats.percentile(xs, 100) == 20.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.percentile(Seq(5.0), 95) == 5.0)
    assertThrows[IllegalArgumentException](Stats.percentile(xs, 0))
  }

  test("skew is slowest task over median task") {
    assert(Stats.skew(Seq(1.0, 1.0, 1.0, 4.0)) == 4.0)
    assert(Stats.skew(Nil) == 0.0)
  }

  test("geomean") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
  }

  test("scaling efficiency is wide rate over ratio times narrow rate") {
    assert(Stats.scalingEff(40000, 10000, 4) == 1.0)
    assert(math.abs(Stats.scalingEff(30000, 10000, 4) - 0.75) < 1e-12)
    assert(Stats.scalingEff(30000, 0, 4) == 0.0)
  }

  test("rung self times telescope back to the full job") {
    val cumulative = Seq(0.7, 0.72, 3.19, 3.49, 5.44, 6.82)
    val self = Stats.selfTimes(cumulative)
    assert(self.length == cumulative.length)
    assert(self.head == 0.7)
    assert(math.abs(self(2) - 2.47) < 1e-9)
    assert(math.abs(self.sum - cumulative.last) < 1e-9)
    assert(Stats.selfTimes(Nil).isEmpty)
  }

  test("useful ratio counts nothing launched as zero") {
    assert(Stats.usefulRatio(16, 256) == 0.0625)
    assert(Stats.usefulRatio(0, 256) == 0.0)
    assert(Stats.usefulRatio(0, 0) == 0.0)
  }

  private val rows = Seq(
    Row("a", 1L, 2.5, Seq(1, 2), Map("x" -> 1, "y" -> 2), null),
    Row("b", 2L, -0.0, Seq(3), Map("z" -> 3), Row(1, "n")),
    Row("b", 2L, -0.0, Seq(3), Map("z" -> 3), Row(1, "n")),
    Row("c", 3L, 1e-300, Nil, Map.empty[String, Int], new java.math.BigDecimal("12.50")))

  test("result hash is stable under row reordering") {
    val h = Checksum.rows(rows)
    rows.permutations.foreach(p => assert(Checksum.rows(p) == h))
  }

  test("result hash sees duplicates, values and map contents") {
    val h = Checksum.rows(rows)
    assert(Checksum.rows(rows.distinct) != h)
    assert(Checksum.rows(rows.updated(0, Row("a", 1L, 2.5, Seq(2, 1), Map("x" -> 1, "y" -> 2), null))) != h)
    val sameMap = rows.updated(0, Row("a", 1L, 2.5, Seq(1, 2), Map("y" -> 2, "x" -> 1), null))
    assert(Checksum.rows(sameMap) == h)
  }

  test("covered time merges overlapping intervals") {
    assert(JobLayers.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(JobLayers.covered(Seq((20L, 30L), (0L, 10L), (10L, 12L))) == 22L)
    assert(JobLayers.covered(Seq((5L, 5L))) == 0L)
  }
}
