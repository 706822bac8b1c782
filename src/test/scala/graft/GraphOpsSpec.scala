package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraphOps
import graft.queries.DocumentsQ

/** Connected-components dedup clustering (d17): the label-propagation
  * operator on crafted graphs (multi-hop chains that a single pair-join
  * cannot solve, separate components, singletons, parallelism determinism)
  * plus the planted-chain query surface.
  */
class GraphOpsSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)],
      parts: Int = 8): Map[Long, Long] =
    GraphOps.connectedComponents(
        nodes.toDF("node").repartition(parts),
        edges.toDF("src", "dst").repartition(parts))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("ten-node path collapses to one component (multi-round propagation)") {
    // a path 10-11-...-19 has diameter 9: min-label propagation must run
    // ~9 rounds — any single-join implementation fails this
    val nodes = (10L to 19L)
    val edges = (10L until 19L).map(i => (i, i + 1))
    val got = cc(nodes, edges)
    assert(got == nodes.map(_ -> 10L).toMap)
    // every round materializes by localCheckpoint: nothing is left cached
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("separate components, singleton, and duplicate/self edges") {
    val nodes = Seq(1L, 2L, 3L, 7L, 8L, 99L)
    val edges = Seq((1L, 2L), (2L, 3L), (2L, 1L), (7L, 8L), (8L, 8L), (1L, 1L))
    val got = cc(nodes, edges)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 99L -> 99L))
  }

  test("result is identical across partition counts") {
    val nodes = (0L to 30L)
    val edges = (0L until 30L by 3).flatMap(i => Seq((i, i + 1), (i + 1, i + 2)))
    assert(cc(nodes, edges, parts = 2) == cc(nodes, edges, parts = 16))
  }

  test("maxIter bounds the rounds (partial convergence is the contract)") {
    // with maxIter=1 a 3-node path only propagates one hop: the far end
    // keeps its one-hop minimum, NOT the global minimum
    val labels = GraphOps.connectedComponents(
      Seq(1L, 2L, 3L).toDF("node"),
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), maxIter = 1)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }

  test("componentSummary sizes components and elects the min-id keeper") {
    val labels = Seq((5L, 5L), (6L, 5L), (7L, 5L), (9L, 9L)).toDF("node", "component_id")
    val got = GraphOps.componentSummary(labels)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == Set((5L, 5L, 3L, true), (6L, 5L, 3L, false),
      (7L, 5L, 3L, false), (9L, 9L, 1L, true)))
  }

  test("d17 on a crafted corpus: eligible doc forms a 3-chain, short doc a singleton") {
    val a = (1 to 50).map(k => s"alpha$k").mkString(" ")
    val got = scratch { out =>
      Seq((1L, a), (2L, "short doc")).toDF("doc_id", "text")
        .write.parquet(s"$out/documents.parquet")
      DocumentsQ.d17DedupComponents(spark, out)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toList
    }
    assert(got == List(
      (1L, 1L, 3L, true), (2L, 2L, 1L, true),
      (10000001L, 1L, 3L, false), (20000001L, 1L, 3L, false)))
  }
}
