package graft

import org.apache.spark.sql.functions.col

import graft.operators.PageRank

/** Fixed-point PageRank: hand-computed fixture, conservation, and the
  * registry binding's determinism. */
class PageRankSpec extends SparkTestBase {
  import spark.implicits._

  test("path graph a→b→c→a: hand-computed two-round picoranks") {
    // directed 3-cycle: every node outdeg 1, N = 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = PageRank.ranks(edges, 2).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // r0 = 1e12/3 = 333333333333
    // r1 = 5e10 + 85*333333333333/100 = 50000000000 + 283333333333 = 333333333333
    // cycle is stationary: r2 identical
    assert(r === Map(1L -> 333333333333L, 2L -> 333333333333L, 3L -> 333333333333L))
  }

  test("star graph: hub drains to spokes and back, hand-computed") {
    // hub 1 ↔ spokes 2,3 (symmetrized): deg(1)=2, deg(2)=deg(3)=1, N=3
    val e0 = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val r1 = PageRank.ranks(edges, 1).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // r0 = 333333333333 each.
    // hub gets both spokes' full rank: s = 333333333333*2 = 666666666666
    //   r(hub) = 5e10 + 85*666666666666/100 = 50000000000+566666666666 = 616666666666
    // each spoke gets hub's r0/2 = 166666666666
    //   r(spoke) = 5e10 + 85*166666666666/100 = 50000000000+141666666666 = 191666666666
    assert(r1(1L) === 616666666666L)
    assert(r1(2L) === 191666666666L && r1(3L) === 191666666666L)
  }

  test("picorank totals are conserved up to floor leakage") {
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("src", "dst")
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val total = PageRank.ranks(edges, 2).agg(org.apache.spark.sql.functions.sum("pr_e12"))
      .head().getLong(0)
    // each floor-div loses < 1 picorank per term; with ≤ 10 edges and
    // 2 rounds the leak is bounded by a few dozen picoranks
    assert(total <= 1000000000000L && total > 1000000000000L - 100L)
  }

  test("convergence loop stops at the cycle's stationary point immediately") {
    // the 3-cycle is stationary from round 1: delta after round 1 is 0,
    // so the loop must stop there and equal the unrolled form exactly
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val (df, rounds) = PageRank.ranksConvergedWithRounds(edges, tolE12 = 1000L)
    assert(rounds === 1)
    val r = df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 333333333333L, 2L -> 333333333333L, 3L -> 333333333333L))
  }

  test("convergence loop ≡ unrolled ranks at the same round count") {
    // the loop is the unrolled recurrence with lineage truncation —
    // bit-identical picoranks at whatever round count it stopped at.
    // Tolerance is LOOSE (10% of uniform) and maxIters is capped: the
    // unrolled comparison plan doubles per round (see ranks scaladoc),
    // so the cross-check must stop within ~10 rounds to stay tractable
    val e0 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val (df, rounds) = PageRank.ranksConvergedWithRounds(edges, 1L, 10, tolRel = 0.1)
    assert(rounds >= 2 && rounds <= 10) // non-trivial graph actually iterates
    val loop = df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val unrolled = PageRank.ranks(edges, rounds).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(loop === unrolled)
  }

  test("converged output is a fixed point within tolerance") {
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("src", "dst")
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    // uniform rank = 1e12/4 = 2.5e11; tolRel 0.1 → tol = 2.5e10
    val tol = 25000000000L
    val (df, rounds) = PageRank.ranksConvergedWithRounds(edges, 1L, 10, tolRel = 0.1)
    // one more unrolled round moves nothing by more than tol — the
    // contraction guarantees later rounds move even less
    val a = df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = PageRank.ranks(edges, rounds + 1).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    a.keys.foreach(k => assert(math.abs(a(k) - b(k)) <= tol))
    // conservation: floor leakage only, never creation
    val total = a.values.sum
    assert(total <= 1000000000000L && total > 1000000000000L - 100000L)
  }

  test("convergence loop throws past maxIters instead of spinning") {
    val e0 = Seq((1L, 2L), (1L, 3L)).toDF("src", "dst")
    val edges = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    val ex = intercept[IllegalStateException] {
      PageRank.ranksConverged(edges, tolE12 = 1L, maxIters = 1)
    }
    assert(ex.getMessage.contains("did not reach"))
  }

  test("pagerankLoop on the driver corpus: same node set as q73, all positive") {
    val loop = graft.queries.CoreQueries.pagerankLoop(spark, Sf0001).collect()
    val q73n = graft.queries.CoreQueries.q73PageRank(spark, Sf0001).count()
    assert(loop.length.toLong === q73n)
    assert(loop.forall(_.getLong(1) > 0))
  }

  test("q73 on the driver corpus: deterministic across runs, ranks positive") {
    val a = graft.queries.CoreQueries.q73PageRank(spark, Sf0001).collect()
    val b = graft.queries.CoreQueries.q73PageRank(spark, Sf0001).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.nonEmpty && a.forall(_.getLong(2) > 0))
  }
}
