package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Snapshots.SnapshotOps

/** Degree-oriented triangle enumeration over an undirected edge set.
  *
  * Input: distinct undirected edges as (u, v) with u < v (canonical id
  * order — the caller's dedup convention). Edges are re-oriented lo→hi
  * by DEGREE rank: rank(x) = (deg(x), x) is a strict total order, and
  * every edge points from the lower-ranked endpoint to the higher. A
  * triangle with ranks a ≺ b ≺ c then appears exactly once as the
  * wedge a→b→c closed by a→c, and the wedge join's cost is
  * Σ_b in(b)·out(b) over ORIENTED degrees, where degree orientation
  * bounds every out-degree by O(√m) (the arboricity argument) —
  * O(m^1.5) total, robust to power-law hubs. Orienting by raw id
  * instead leaves a low-id hub with out-degree ≈ deg and a
  * quadratic wedge set; that skew cliff is why this operator orients
  * by degree even though the final triangle SET (and therefore every
  * count) is identical under any total-order orientation.
  *
  * Scale shape: one degree aggregation + two equi-joins to attach
  * degrees, one wedge equi-join, one closing-edge semi-join — all
  * shuffle-hash-partitionable, no nested loops, AQE-skew-splittable.
  * The oriented edge set is localCheckpointed because it feeds three
  * plan inputs (both wedge sides + the closing probe); without it each
  * consumer replays the upstream edge derivation.
  */
object Triangles {

  /** Oriented (lo, hi) edges by (deg, id) rank from canonical (u, v)
    * edges. Exposed for specs that pin the orientation invariant. */
  def orient(edges: DataFrame): DataFrame = {
    val e0 = edges.select(col("u"), col("v"))
    val deg = e0.select(col("u").as("node")).union(e0.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    // u < v by id: on a degree tie the id order stands, so lo = u iff
    // deg(u) <= deg(v) — exactly rank(u) ≺ rank(v)
    e0.join(deg.select(col("node").as("u"), col("dg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("dg").as("dv")), "v")
      .select(
        when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("lo"),
        when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("hi"))
  }

  /** Per-node triangle participation counts (nodes in ≥1 triangle),
    * as (node, n_triangles). */
  def perNodeCounts(edges: DataFrame): DataFrame =
    perNodeCountsOriented(orient(edges).snapshot())

  /** Sorted out-neighbor adjacency of an oriented edge set: one row
    * (lo, nbrs: array<bigint> ASC) per node with out-edges. Corpus-
    * static like the orientation itself — the co-purchase layout
    * materializes it (adj/) so the per-query plan starts at the
    * closing intersection. */
  def adjacencyOf(e: DataFrame): DataFrame =
    e.groupBy(col("lo")).agg(sort_array(collect_list(col("hi"))).as("nbrs"))

  /** The enumeration stage over edges ALREADY oriented lo→hi by
    * (deg, id) rank — builds the adjacency inline. Probe paths with a
    * materialized adjacency call [[perNodeCountsFromAdjacency]]
    * directly and skip this aggregation. */
  def perNodeCountsOriented(e: DataFrame): DataFrame =
    perNodeCountsFromAdjacency(adjacencyOf(e))

  /** FORWARD (edge-iterator) triangle enumeration over the sorted
    * adjacency (round 16; replaces the wedge join + Bloom + closing
    * semi-join of rounds 7–15): a triangle with ranks a ≺ b ≺ c
    * carries oriented edges a→b, a→c, b→c, so for each edge (a, b)
    * the closing nodes are EXACTLY N⁺(a) ∩ N⁺(b) — computed by a
    * two-pointer merge over the sorted neighbor arrays
    * (graft_sorted_intersect, codegen, allocation-free per element).
    * Each triangle is emitted once, at its lowest-ranked edge.
    *
    * Why this beats the wedge join (guide §1.2 — fix the algorithm,
    * not the constants): the wedge plan materialized Σ in·out = 49.2 M
    * join rows at sf0.1 (26:1 against the 1.88 M that close) and paid
    * join machinery + Bloom hashing per wedge — measured 12.5 s
    * executor CPU in the wedge stage alone. The merge does
    * Σ_(a,b)∈E (|N⁺(a)| + |N⁺(b)|) ≈ 133 M primitive comparisons in a
    * tight codegen loop and materializes only real triangles —
    * measured 6.9 s CPU / 1.7 s wall for the whole query vs
    * 14.6 s / 5.6 s. The degree orientation's O(√m) out-degree bound
    * caps both the array sizes and the total merge work at O(m^1.5) —
    * the same arboricity argument as the wedge bound, minus the
    * materialization. Edges appear once per (lo, nbrs) row via
    * explode, so the single self-join on hi attaches the closing side;
    * everything is an equi-join, AQE-skew-splittable, no nested loop.
    * Exactness: the intersection IS the closing-edge test (no filter
    * to verify after); per-node counts fold each triangle's three
    * corners exactly once. */
  def perNodeCountsFromAdjacency(adj: DataFrame): DataFrame = {
    val tri = adj.select(col("lo").as("a"), col("nbrs").as("na"),
        explode(col("nbrs")).as("hi"))
      .join(adj.select(col("lo").as("hi"), col("nbrs").as("nb")), "hi")
      .select(col("a"), col("hi").as("b"),
        explode(call_function("graft_sorted_intersect", col("na"), col("nb"))).as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }
}
