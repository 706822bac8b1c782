package graft.functions

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Distributed graph primitives for the dedup pipeline.
  *
  * The one operator a training-data pipeline needs beyond pair detection is
  * CLUSTERING the detected pairs: near-dup detectors (d06/d07/e06) emit
  * edges, but the keep-one-copy decision needs connected components over
  * those edges plus a deterministic representative per component. The
  * reference has no graph layer (its dedup is per-document comparison,
  * src/extraction/multi_record.py dual-pass reconcile); this is Spark-native
  * scale machinery in the spirit of SURVEY.md §2's LLM-pipeline additions.
  */
object GraphOps {

  /** Connected components by iterative min-label propagation.
    *
    * `nodes`: one column `node:long`. `edges`: columns `src:long`,
    * `dst:long` (undirected; self-loops and duplicates are harmless).
    * Returns (`node`, `component_id`) where component_id = the minimum node
    * id reachable from `node`.
    *
    * Scale shape: each round is one co-partitioned join of the label table
    * with the (symmetrized, checkpointed) edge list plus a min-aggregate —
    * shuffle volume O(|E|) longs per round, never any payload columns.
    * Rounds needed = graph DIAMETER (label information travels one hop per
    * round), and the early-stop check (`changed == 0`) rides on the round's
    * own job as an Observation. Near-dup graphs at corpus scale are forests
    * of tiny star/chain clusters (diameter ≤ ~3), so this converges in 3-4
    * rounds; for adversarial long-path graphs switch the propagation rule to
    * large-star/small-star (Kiveris et al., "Connected Components in
    * MapReduce"), which is O(log n) rounds of the same join+min shape — the
    * rule, not the machinery, is what changes.
    * Materialization: every frame the loop reads is an eager
    * localCheckpoint, so lineage stays one round deep and nothing lands in
    * the CacheManager; unreferenced checkpoint blocks are reclaimed by the
    * ContextCleaner.
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("component_id"))
      .localCheckpoint()
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      // neighbor minimum: join labels onto edge destinations, aggregate per source
      val nbrMin = sym
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min("component_id").as("nbr_min"))
      // carry the previous label through the join so the early-stop count
      // is observed on the round's own checkpoint job, not a second join
      // back onto the label table (one job per round)
      val obs = Observation()
      val next = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"), col("component_id").as("prev"),
          least(col("component_id"), coalesce(col("nbr_min"), col("component_id")))
            .as("component_id"))
        .observe(obs, count(when(col("component_id") =!= col("prev"), true)).as("changed"))
        .localCheckpoint()
      changed = obs.get("changed").asInstanceOf[Long]
      labels = next.select(col("node"), col("component_id"))
      iter += 1
    }
    labels
  }

  /** Component summary + representative selection: per node, its component,
    * the component size, and `keep` (true for the representative — the
    * minimum doc id, the standard keep-oldest dedup rule). Two-phase:
    * component sizes are a groupBy-count joined back on the component key
    * (map-side combine absorbs hot components; no per-component window).
    */
  def componentSummary(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("component_id")
      .agg(count(lit(1)).as("component_size"))
    labels.join(sizes, "component_id")
      .select(col("node").as("doc_id"), col("component_id"),
        col("component_size"), (col("node") === col("component_id")).as("keep"))
  }
}
