package graft

import org.apache.spark.sql.functions._

import graft.functions.BloomOps
import graft.queries.CoreQueries

/** Bloom-filter family (q64): the two guarantees the runtime-filter
  * pattern rests on — NO false negatives (every inserted key passes
  * the membership test, so the pre-filter can never change the exact
  * join's result) and a false-positive rate near theory (so the
  * shuffle-volume win is real) — plus merge determinism (partial
  * aggregates OR into the same bits as a single pass). */
class BloomSpec extends SparkTestBase {

  private def bloomOf(keys: Seq[Long], bits: Int = 1 << 17, k: Int = 5): Array[Byte] = {
    import spark.implicits._
    keys.toDF("id")
      .agg(expr(s"graft_bloom(id, $bits, $k)"))
      .head().getAs[Array[Byte]](0)
  }

  test("no false negatives: every inserted key passes") {
    val keys = (0L until 2000L).map(i => i * 7919L + 13L)
    val bf = bloomOf(keys)
    assert(keys.forall(BloomOps.mightContain(bf, _)))
  }

  test("false-positive rate stays near theory") {
    val n = 2000
    val bits = 1 << 17
    val k = 5
    val bf = bloomOf((0L until n.toLong).map(i => i * 7919L + 13L), bits, k)
    // disjoint probe set (different stride, offset past the insert range)
    val probes = (0L until 20000L).map(i => i * 104729L + 1000000007L)
    val fp = probes.count(BloomOps.mightContain(bf, _))
    val theory = math.pow(1.0 - math.exp(-k.toDouble * n / bits), k)
    assert(fp.toDouble / probes.size < math.max(2 * theory, 1e-3),
      s"fp=$fp/${probes.size}, theory=$theory")
  }

  test("merge is the bitwise OR of partial filters: repartitioned ≡ single-partition") {
    import spark.implicits._
    val keys = (0L until 5000L).map(i => i * 31L)
    val onePass = keys.toDF("id").coalesce(1)
      .agg(expr("graft_bloom(id, 65536, 4)")).head().getAs[Array[Byte]](0)
    val merged = keys.toDF("id").repartition(13)
      .agg(expr("graft_bloom(id, 65536, 4)")).head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(onePass, merged))
  }

  test("misuse fails at analysis time: non-literal or non-positive sizing") {
    import spark.implicits._
    val df = Seq(1L).toDF("id")
    intercept[Exception] { df.agg(expr("graft_bloom(id, id, 5)")).collect() }
    intercept[Exception] { df.agg(expr("graft_bloom(id, 0, 5)")).collect() }
    intercept[Exception] { df.agg(expr("graft_bloom(id, 1024, 0)")).collect() }
  }

  test("q64: bloom pre-filter passes all true matches and prunes most others") {
    import spark.implicits._
    val urgent = Tables.orders(spark, Sf0001)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val bloom = urgent.agg(
      call_function("graft_bloom", col("o_orderkey"), lit(1 << 20), lit(5)).as("bf"))
    val li = Tables.lineitem(spark, Sf0001).select(col("l_orderkey"))
    val total = li.count()
    val afterBloom = li.crossJoin(broadcast(bloom))
      .filter(call_function("graft_might_contain", col("bf"), col("l_orderkey")))
      .count()
    val exact = li.join(urgent, li("l_orderkey") === urgent("o_orderkey"), "left_semi").count()
    assert(afterBloom >= exact, "a false negative would break exactness")
    assert(afterBloom < total, "the pre-filter must actually prune")
    val matchedFrac = exact.toDouble / total
    assert(afterBloom.toDouble / total < matchedFrac + 0.01,
      s"fp leakage: bloom kept $afterBloom of $total, exact $exact")
  }

  test("q64 result matches the bloom-free semi-join plan") {
    val viaBloom = CoreQueries.q64BloomPrune(spark, Sf0001).collect().toSeq
    val urgent = Tables.orders(spark, Sf0001)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val li = Tables.lineitem(spark, Sf0001)
    val direct = li
      .join(urgent, li("l_orderkey") === urgent("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(org.apache.spark.sql.types.DecimalType(18, 6))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag")).collect().toSeq
    assert(viaBloom === direct)
  }
}
