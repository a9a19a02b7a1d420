package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-radius multi-source BFS — frontier-expansion reachability
  * over a directed edge set, the fourth iterative graph shape after
  * components (dd6), PageRank (q73) and triangles (q74), and the one
  * whose CONVERGING loop is SQL-oracle-able: hop distances are exact
  * integers and the radius bound makes the DuckDB recursive-CTE
  * mirror terminate, so the data-dependent round count sits under a
  * full hash gate (dd6-style), not just a spec.
  *
  * Loop shape per round (the Pregel frontier pattern, declaratively):
  * one equi-join (frontier ⋈ edges on src) + one distinct + one
  * left-anti join against the visited set — all shuffles on the node
  * key, so AQE handles hub skew as in q73/q74. Each round's frontier
  * and the visited union are snapshotted ([[graft.Snapshots]]):
  * lineage stays one-round deep (an unrolled k-round plan doubles per
  * round), and per-round cost is O(|frontier| · avg-degree +
  * |visited|), never O(|E| · rounds). Superseded snapshots are freed
  * once the round's union is materialized, so live storage is two
  * snapshots, independent of round count, and the result holds one.
  * Snapshots are reliable when the SparkContext has a checkpoint dir
  * (`spark.checkpoint.dir`).
  *
  * Scale shape: at 100 TB you don't run unbounded BFS — components
  * (dd6) answers global reachability; what a pipeline asks per query
  * is the bounded EGO NETWORK ("everything within k hops of these
  * seeds"), whose frontier is bounded by the k-ball, not the graph.
  * The visited set is one row per reached node; edges are snapshotted
  * once and never mutated.
  */
object Bfs {

  /** Min-hop distance from any seed, radius-bounded. `edges` is
    * DIRECTED (src, dst) — symmetrize before calling for undirected
    * semantics. Seeds not present in the graph still appear at hop 0
    * (a seed is reachable from itself). Returns (node, hops: INT),
    * hops ∈ [0, maxHops], one row per reached node — first-visit
    * depth ≡ min distance because a node enters `visited` in the
    * earliest round that reaches it and is anti-joined away after. */
  def hops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val e = graft.Snapshots.take(edges.select(col("src"), col("dst")))
    var visited = graft.Snapshots.take(
      seeds.select(col("node")).distinct().withColumn("hops", lit(0)))
    // round 0's frontier is visited's own snapshot
    var frontier = visited
    var d = 0
    while (d < maxHops && !frontier.isEmpty) {
      d += 1
      val next = graft.Snapshots.take(
        frontier.select(col("node").as("src"))
          .join(e, "src")
          .select(col("dst").as("node")).distinct()
          .join(visited.select(col("node")), Seq("node"), "left_anti")
          .withColumn("hops", lit(d)))
      // re-snapshot the union each round (one O(|visited|) pass — the
      // same order as the anti-join above), so two snapshots are live
      // (visited + frontier), not one per round; only then are the
      // previous round's snapshots safe to free
      val newVisited = graft.Snapshots.take(visited.union(next))
      Seq(visited, frontier).distinct.foreach(graft.Snapshots.free)
      visited = newVisited
      frontier = next
    }
    if (frontier ne visited) graft.Snapshots.free(frontier)
    graft.Snapshots.free(e)
    visited
  }
}
