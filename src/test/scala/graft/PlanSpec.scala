package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{DocumentsQ, EmbeddingsQ, Relational}

/** Physical-plan shape assertions: the 100 TB contract is about WHICH plan
  * runs, not just its output — filters must reach the parquet scan, small
  * dims must broadcast, scans must prune to the referenced columns, and the
  * tokenizer pipeline must shuffle exactly once. These pin the shapes so a
  * refactor that silently regresses them fails the build.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executed(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // materialize so AQE finalizes the plan
    df.queryExecution.executedPlan
  }

  /** Recursive traversal that descends through AQE roots and query stages
    * (plain collect() stops at stage boundaries).
    */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  test("q06 filters are pushed into the parquet scan") {
    val plan = executed(Relational.q06Forecast(spark, dir))
    val scans = allNodes(plan).collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "[]")).mkString
    assert(pushed.contains("GreaterThanOrEqual") || pushed.contains("LessThan"),
      s"no range filters pushed: $pushed")
  }

  test("q06 scan prunes to the referenced columns only") {
    val plan = executed(Relational.q06Forecast(spark, dir))
    val scan = allNodes(plan).collect { case s: FileSourceScanExec => s }.head
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols == Set("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"),
      s"scan reads $readCols")
  }

  test("q02 joins the customer dim via broadcast (no fact shuffle for the join)") {
    val plan = executed(Relational.q02TopCustomers(spark, dir))
    assert(allNodes(plan).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"no broadcast hash join in:\n$plan")
  }

  test("e02 broadcasts the query set (corpus scanned once, never shuffled for the join)") {
    val plan = executed(EmbeddingsQ.e02AnnBruteForce(spark, dir))
    assert(allNodes(plan).exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"no broadcast join in:\n$plan")
  }

  test("d02 token counts scan only (doc_id, text)") {
    val plan = executed(DocumentsQ.d02TokenCounts(spark, dir))
    val scan = allNodes(plan).collect { case s: FileSourceScanExec => s }.head
    assert(scan.requiredSchema.fieldNames.toSet == Set("doc_id", "text"))
  }

  test("claim-surface queries prune the scan to doc_id only") {
    for (q <- Seq("x14_cross_field", "x15_confidence", "x22_doc_segments")) {
      val plan = executed(SparkEntry.queries(q)(spark, dir))
      val scan = allNodes(plan).collect { case s: FileSourceScanExec => s }.head
      assert(scan.requiredSchema.fieldNames.toSet == Set("doc_id"),
        s"$q scan reads ${scan.requiredSchema.fieldNames.mkString(",")}")
    }
  }

  test("e07 IVF probes broadcast; corpus is never shuffled for the join") {
    val plan = executed(EmbeddingsQ.e07AnnIvf(spark, dir))
    assert(allNodes(plan).exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"no broadcast hash join in:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("x28 dup-group sizing is a two-phase aggregate, not an unbounded window") {
    val plan = executed(graft.queries.ExtractionQ.x28Consolidated(spark, dir))
    // an unbounded count().over(partitionBy(primary_norm)) would appear as a
    // WindowExec — the skewed natural key (patient names) must instead go
    // through partial-aggregate + join-back
    assert(!allNodes(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      s"unbounded window in x28 plan:\n$plan")
    assert(allNodes(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]),
      "no hash aggregate for the group sizes")
  }

  test("d11 top-k is two-phase: no full-vocabulary single-task window") {
    val plan = executed(DocumentsQ.d11TopTokens(spark, dir))
    val windows = allNodes(plan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2, s"expected local+global windows, got ${windows.size}")
    // every window partitioned ONLY by lang (5 values → one task per
    // language) must rank a pre-thinned candidate set, i.e. sit above a
    // local_rank filter — equivalently, at least one window must partition
    // by more than lang (the token-hash split)
    assert(windows.exists(_.partitionSpec.size > 1),
      s"no split-partitioned local window in:\n$plan")
  }

  test("d01 exact dedup shuffles only the hash, not the text") {
    val plan = executed(DocumentsQ.d01ExactDups(spark, dir))
    val shuffles = allNodes(plan).collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty)
    // every shuffled attribute set must exclude the raw text column
    shuffles.foreach { s =>
      val cols = s.child.output.map(_.name)
      assert(!cols.contains("text"), s"raw text shuffled: $cols")
    }
  }

  test("d18 corpus mix joins the weight config via broadcast; no text shuffled") {
    val plan = executed(DocumentsQ.d18CorpusMix(spark, dir))
    val bcast = allNodes(plan).collect { case b: BroadcastHashJoinExec => b }
    assert(bcast.nonEmpty, s"weight dim not broadcast:\n$plan")
    allNodes(plan).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
      assert(!s.child.output.map(_.name).contains("text"),
        "corpus text shuffled in a selection-only query")
    }
  }

  test("d19 decontamination broadcasts the eval shingles (no corpus-side shuffle join)") {
    val plan = executed(DocumentsQ.d19Decontaminate(spark, dir))
    val bcast = allNodes(plan).collect {
      case b: BroadcastHashJoinExec => b
    }
    assert(bcast.nonEmpty, s"eval shingles not broadcast:\n$plan")
  }

  test("d20 holdout split shuffles only post-combine counts, never the text") {
    val plan = executed(DocumentsQ.d20HoldoutSplit(spark, dir))
    allNodes(plan).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
      assert(!s.child.output.map(_.name).contains("text"),
        s"raw text shuffled: ${s.child.output.map(_.name)}")
    }
  }

  test("d21 repetition filter is map-only: the sole exchange is the presentation sort") {
    val plan = executed(DocumentsQ.d21RepetitionFilter(spark, dir))
    val shuffles = allNodes(plan).collect { case s: ShuffleExchangeLike => s }
    shuffles.foreach { s =>
      assert(s.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
        s"non-sort shuffle in a map-only query: ${s.outputPartitioning}")
    }
    val joins = allNodes(plan).collect {
      case b: BroadcastHashJoinExec => b
      case b: BroadcastNestedLoopJoinExec => b
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(joins.isEmpty, "d21 must not join")
  }

  test("d22 PII scrub is map-only: regex work stays in the scan stage, no text shuffled") {
    val plan = executed(DocumentsQ.d22PiiScrub(spark, dir))
    allNodes(plan).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
      val cols = s.child.output.map(_.name)
      assert(!cols.contains("t") && !cols.contains("text"),
        s"document text shuffled in a map-only scrub: $cols")
      assert(s.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
        s"non-sort shuffle: ${s.outputPartitioning}")
    }
  }

  test("e09 PQ broadcasts the query side; embeddings never shuffle (only slim score rows)") {
    val plan = executed(EmbeddingsQ.e09AnnPq(spark, dir))
    val bcast = allNodes(plan).collect {
      case b: BroadcastNestedLoopJoinExec => b
      case b: BroadcastHashJoinExec => b
    }
    assert(bcast.nonEmpty, s"query set not broadcast:\n$plan")
    allNodes(plan).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
      val cols = s.child.output.map(_.name)
      assert(!cols.contains("embedding") && !cols.contains("q_emb"),
        s"raw embeddings shuffled: $cols")
    }
  }

  test("e08 SQ8 broadcasts stats and query codes; corpus scanned, never shuffled for joins") {
    val plan = executed(EmbeddingsQ.e08AnnSq8(spark, dir))
    val nested = allNodes(plan).collect { case b: BroadcastNestedLoopJoinExec => b }
    val hash = allNodes(plan).collect { case b: BroadcastHashJoinExec => b }
    // stats cross-join and the =!= query join are both broadcast nested-loop
    assert(nested.nonEmpty || hash.nonEmpty, s"no broadcast joins in:\n$plan")
    allNodes(plan).collect { case s: ShuffleExchangeLike => s }.foreach { s =>
      assert(!s.child.output.map(_.name).contains("embedding"),
        "raw embeddings shuffled — the scoring join must broadcast the small side")
    }
  }

  test("d13, e01, e08 and e09 plan their native expressions directly") {
    import graft.functions.{FloatVecDot, PqDist, Sq8Cos, WsTokenCount}
    val native = Set[Class[_]](classOf[WsTokenCount], classOf[FloatVecDot],
      classOf[PqDist], classOf[Sq8Cos])
    def nativeIn(df: org.apache.spark.sql.DataFrame): Set[Class[_]] =
      df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case e if native(e.getClass) => e.getClass
      })).toSet
    assert(nativeIn(DocumentsQ.d13NativeTokens(spark, dir)) == Set(classOf[WsTokenCount]))
    assert(nativeIn(EmbeddingsQ.e01Norms(spark, dir)) == Set(classOf[FloatVecDot]))
    assert(nativeIn(EmbeddingsQ.e08AnnSq8(spark, dir)) == Set(classOf[Sq8Cos]))
    assert(nativeIn(EmbeddingsQ.e09AnnPq(spark, dir)) == Set(classOf[PqDist]))
  }
}
