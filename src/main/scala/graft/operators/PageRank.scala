package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-point PageRank — the iterative graph-importance operator
  * (complements dd6's connected components and q70's Markov matrix in
  * the iterative family), with ss10's bit-exactness recipe: ALL
  * arithmetic is 64-bit integer on picorank units (1e-12 of total
  * rank), so a DuckDB oracle unrolling the same rounds hash-matches
  * exactly — no IEEE summation order, no decimal-cast divergence,
  * no libm.
  *
  * Per round, for damping d = num/den (default 85/100):
  *   r'(v) = (15e10 div N) + (num · Σ_{u→v} (r(u) div outdeg(u))) div den
  * Integer floor-division loses < 1 picorank per term — far below any
  * ranking-relevant signal — and both engines share the identical
  * floor semantics on non-negative operands (Spark `div`, DuckDB `//`).
  *
  * Scale shape: one shuffle join (edges ⋈ ranks on src) + one
  * partial-agg'd groupBy(dst) per round — the Pregel message pattern
  * expressed declaratively, so AQE handles hub skew like every other
  * hot-key join here. Rank state is one row per node; edges are the
  * only large table and are never mutated. The registry entry unrolls
  * a FIXED 2 rounds (oracle-able in plain SQL, ss10's unrolled-Lloyd
  * pattern); an iterate-to-convergence variant would reuse dd6's
  * checkpoint loop machinery unchanged.
  */
object PageRank {

  private val Unit_e12 = 1000000000000L // total rank in picorank units
  private val Base_e12 = 150000000000L  // (1 − d) · 1e12 for d = 0.85

  /** One synchronous round: every node of `ranked` = (node, outdeg, r)
    * sends `r div outdeg` along `edges`, the messages are summed per
    * destination and joined onto `nodes` = (node, outdeg, …), whose
    * columns the output keeps beside the new `r`. `n` is the node count.
    * [[ranks]] passes the degree table as `nodes`, so the previous rank
    * frame is referenced once per round; the convergence loop passes
    * its snapshot with the pre-round rank as `old` (dd6's trick: the
    * convergence metric becomes a local scan of the round's own output,
    * not another shuffle join). */
  private[graft] def round(nodes: DataFrame, ranked: DataFrame, edges: DataFrame,
      n: Column): DataFrame = {
    val contrib = edges
      .join(ranked.select(col("node").as("src"), col("outdeg"), col("r")), "src")
      .groupBy(col("dst").as("node"))
      .agg(sum(expr("r div outdeg")).as("s"))
    val newR = (call_function("div", lit(Base_e12), n) +
      expr("(85 * coalesce(s, 0L)) div 100")).as("r")
    nodes.join(contrib, Seq("node"), "left")
      .select(nodes.columns.map(col).toSeq :+ newR: _*)
  }

  /** Ranks after `iters` rounds from a uniform start, over the
    * directed edge set (src, dst). Nodes = every src (callers wanting
    * sink nodes ranked should pre-symmetrize or add self-degree rows).
    * Returns (node, pr_e12: BIGINT picoranks, pagerank: DOUBLE).
    *
    * One plan, built without a job: N is a scalar subquery over the
    * degree table, and each round joins its messages onto the degree
    * table rather than onto the previous rank frame, so the plan grows
    * by one join and one aggregate per round, not by doubling. Fine
    * at the oracle-able 2–3 rounds; for many rounds use
    * [[ranksConverged]], whose per-round lineage truncation keeps the
    * plan constant-size. */
  def ranks(edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
    val n = deg.agg(count(lit(1))).scalar()
    val r0 = deg.select(col("node"), col("outdeg"), call_function("div", lit(Unit_e12), n).as("r"))
    val r = (0 until iters).foldLeft(r0)((r, _) => round(deg, r, e, n))
    r.select(col("node"), col("r").as("pr_e12"),
      (col("r").cast("double") / 1e12).as("pagerank"))
  }

  /** Iterate-to-convergence PageRank — dd6's checkpoint-loop machinery
    * (Dedup.dupGroupLabels) applied to the rank recurrence: run rounds
    * until max_v |r'(v) − r(v)| ≤ tolE12 picoranks, truncating lineage
    * every round so round k's plan is one join + one aggregate over a
    * materialized snapshot, never a k-deep recursive plan (which would
    * re-execute the whole history each action and blow the optimizer
    * up long before 100 TB). The previous rank rides along into the
    * checkpoint so the convergence metric is a LOCAL max over
    * checkpointed rows — no extra shuffle join per round (dd6's `old`
    * trick). Integer picorank arithmetic makes every round bit-exact
    * and engine-independent; for tolE12 ≥ 1 the loop terminates on any
    * graph because the damped map is a 0.85-contraction in L∞ on
    * picorank space. Not SQL-oracle-able (round count is
    * data-dependent) — spec-gated instead: PageRankSpec pins loop ≡
    * unrolled `ranks` at the same round count, the fixed point, and
    * per-round conservation. Snapshots ([[graft.Snapshots]]) are
    * reliable when the SparkContext has a checkpoint dir
    * (`spark.checkpoint.dir`). */
  def ranksConverged(edges: DataFrame, tolE12: Long = 1000L, maxIters: Int = 60): DataFrame =
    ranksConvergedWithRounds(edges, tolE12, maxIters)._1

  /** [[ranksConverged]] with the tolerance RELATIVE to the uniform
    * rank 1e12/N — the scale-free form: the same tolRel stops after
    * ~the same round count at any corpus size (the absolute picorank
    * threshold tightens as N grows, exactly matching how individual
    * ranks shrink). tolRel = 1e-3 means "converged when no node moves
    * by more than 0.1% of the uniform share per round". */
  def ranksConvergedRel(edges: DataFrame, tolRel: Double = 1e-3, maxIters: Int = 60): DataFrame =
    ranksConvergedWithRounds(edges, 1L, maxIters, tolRel)._1

  /** ranksConverged exposing the round count it took — the statistic
    * the x1→x30 scale curve reports (per-round cost should scale with
    * |E|; round COUNT should stay flat, fixed by damping and tol).
    * Effective tolerance = max(tolE12, tolRel·1e12/N). */
  def ranksConvergedWithRounds(edges: DataFrame, tolE12: Long = 1000L, maxIters: Int = 60,
      tolRel: Double = 0.0): (DataFrame, Int) = {
    require(tolE12 >= 1L, s"tolE12 must be ≥ 1 picorank, got $tolE12")
    // snapshot edges once: every round re-reads them, and an upstream
    // candidate-generation plan must not re-execute per round
    val e = graft.Snapshots.take(edges.select(col("src"), col("dst")))
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
    val n = deg.count()
    val tol = math.max(tolE12, (tolRel * (Unit_e12 / n)).toLong)
    var r = graft.Snapshots.take(deg.select(col("node"), col("outdeg"), lit(Unit_e12 / n).as("r")))
    var delta = Long.MaxValue
    var it = 0
    while (delta > tol) {
      if (it >= maxIters)
        throw new IllegalStateException(
          s"PageRank did not reach |Δr|∞ ≤ $tol in $maxIters rounds (last Δ=$delta)")
      val withOld = r.select(col("node"), col("outdeg"), col("r").as("old"))
      val next = graft.Snapshots.take(round(withOld, r, e, lit(n)))
      delta = next.agg(max(abs(col("r") - col("old")))).head().getLong(0)
      // each superseded round is freed once the next is materialized
      graft.Snapshots.free(r)
      r = next
      it += 1
    }
    graft.Snapshots.free(e)
    (r.select(col("node"), col("r").as("pr_e12"),
      (col("r").cast("double") / 1e12).as("pagerank")), it)
  }
}
