package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.queries.CoreQueries
import graft.sources.ZOrderLayout

/** Z-order layout (q65): the Morton arithmetic, exactness of the box
  * query (cells are a superset, ranges make it exact), and the point
  * of the whole exercise — a 2-D box must PRUNE most of the layout's
  * files via partition pruning, asserted on the scan's numFiles
  * metric, not just on plan text. */
class ZOrderSpec extends SparkTestBase {

  test("bit interleave: driver and column arithmetic agree") {
    import spark.implicits._
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (40000L, 7L))
    val viaCol = pairs.toDF("a", "b")
      .select(ZOrderLayout.zValueCol(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(viaCol === pairs.map { case (a, b) => ZOrderLayout.zValue(a, b) })
    // locality sanity: interleaving maps the grid diagonal monotonically
    assert(ZOrderLayout.zValue(3, 3) < ZOrderLayout.zValue(4, 4))
  }

  test("box query over the layout equals a direct filter on the original") {
    val dir = tempDir("zorder_spec")
    val li = Tables.lineitem(spark, Sf0001)
    ZOrderLayout.writeZOrdered(li, "l_partkey", "l_suppkey", dir, cellBits = 3)
    val got = ZOrderLayout.boxQuery(spark, dir, 20L, 80L, 2L, 6L)
      .select(col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val want = li.filter(col("l_partkey").between(20, 80) && col("l_suppkey").between(2, 6))
      .select(col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === want)
    assert(got.nonEmpty, "degenerate fixture: empty box proves nothing")
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect() // finalize AQE so metrics are real
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectLeaves().collectFirst { case f: FileSourceScanExec => f }.get
  }

  test("a small box reads a small fraction of the layout's files (partition pruning)") {
    val dir = tempDir("zorder_prune")
    ZOrderLayout.writeZOrdered(Tables.lineitem(spark, Sf0001),
      "l_partkey", "l_suppkey", dir, cellBits = 3)
    val all = scanOf(spark.read.parquet(s"$dir/data"))
    val box = scanOf(ZOrderLayout.boxQuery(spark, dir, 20L, 44L, 1L, 2L))
    val (filesAll, filesBox) =
      (all.metrics("numFiles").value, box.metrics("numFiles").value)
    assert(box.toString.contains("PartitionFilters"), box.toString.take(2000))
    assert(filesBox > 0 && filesBox * 2 <= filesAll,
      s"box read $filesBox of $filesAll files — no pruning happened")
  }

  test("n-dim interleave: driver and column arithmetic agree at d=3 and d=4 (round 13)") {
    import spark.implicits._
    val trip = Seq(Seq(0L, 0L, 0L), Seq(1L, 0L, 0L), Seq(0L, 0L, 1L),
      Seq(65535L, 65535L, 65535L), Seq(12345L, 54321L, 777L))
    val viaCol3 = trip.map(_.toArray).toDF("n")
      .select(ZOrderLayout.zValueColN(
        (0 until 3).map(i => element_at(col("n"), i + 1)), 16).as("z"))
      .as[Long].collect().toSeq
    assert(viaCol3 === trip.map(t => ZOrderLayout.zValueN(t, 16)))
    val quad = Seq(Seq(1L, 2L, 3L, 4L), Seq(32767L, 0L, 32767L, 1L))
    val viaCol4 = quad.map(_.toArray).toDF("n")
      .select(ZOrderLayout.zValueColN(
        (0 until 4).map(i => element_at(col("n"), i + 1)), 15).as("z"))
      .as[Long].collect().toSeq
    assert(viaCol4 === quad.map(t => ZOrderLayout.zValueN(t, 15)))
    // z stays non-negative at the widest setting (60 of 63 bits)
    assert(ZOrderLayout.zValueN(Seq(32767L, 32767L, 32767L, 32767L), 15) > 0L)
    // locality: the 3-D grid diagonal maps monotonically
    assert(ZOrderLayout.zValueN(Seq(3L, 3L, 3L), 16) <
      ZOrderLayout.zValueN(Seq(4L, 4L, 4L), 16))
  }

  test("3-D box query equals a direct filter; a small box prunes most files (round 13)") {
    val dir = tempDir("zorder3_spec")
    val li = Tables.lineitem(spark, Sf0001)
    ZOrderLayout.writeZOrderedN(li,
      Seq("l_partkey", "l_suppkey", "l_quantity"), dir, cellBits = 3)
    val got = ZOrderLayout.boxQueryN(spark, dir,
        Seq(20L, 2L, 5L), Seq(80L, 6L, 25L))
      .select(col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val want = li.filter(col("l_partkey").between(20, 80) &&
        col("l_suppkey").between(2, 6) && col("l_quantity").between(5, 25))
      .select(col("l_orderkey"), col("l_linenumber"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === want)
    assert(got.nonEmpty, "degenerate fixture: empty box proves nothing")
    // the pruning pin at n=3: a ~1/8-per-dim box reads a small
    // fraction of the 512-dir layout
    val all = scanOf(spark.read.parquet(s"$dir/data"))
    val box = scanOf(ZOrderLayout.boxQueryN(spark, dir,
      Seq(20L, 1L, 5L), Seq(44L, 2L, 10L)))
    val (filesAll, filesBox) =
      (all.metrics("numFiles").value, box.metrics("numFiles").value)
    assert(box.toString.contains("PartitionFilters"), box.toString.take(2000))
    assert(filesBox > 0 && filesBox * 2 <= filesAll,
      s"3-D box read $filesBox of $filesAll files — no pruning happened")
  }

  test("out-of-domain box bounds clamp to the grid edge — never an empty " +
      "cell list for a domain-covering box (round 14 — ADVICE r13)") {
    // normalizeClamped unit coverage: the mul=gmax regime overflows
    // (v − min) · mul for far-out bounds — raw arithmetic went
    // negative and emptied the per-dim range
    assert(ZOrderLayout.normalizeClamped(Long.MaxValue, 0L, 65535L, 100L, 65535L) === 65535L)
    assert(ZOrderLayout.normalizeClamped(Long.MinValue, 0L, 65535L, 100L, 65535L) === 0L)
    assert(ZOrderLayout.normalizeClamped(50L, 0L, 65535L, 100L, 65535L) ===
      ZOrderLayout.normalize(50L, 0L, 65535L, 100L))
    // end-to-end at both arities: a box with bounds far outside the
    // written domain must return every row (cells = superset contract)
    val dir2 = tempDir("zorder_clamp2")
    val li = Tables.lineitem(spark, Sf0001)
    ZOrderLayout.writeZOrdered(li, "l_partkey", "l_suppkey", dir2, cellBits = 3)
    assert(ZOrderLayout.boxQuery(spark, dir2,
      Long.MinValue, Long.MaxValue, Long.MinValue, Long.MaxValue).count() === li.count())
    val dirN = tempDir("zorder_clampN")
    ZOrderLayout.writeZOrderedN(li,
      Seq("l_partkey", "l_suppkey", "l_quantity"), dirN, cellBits = 3)
    assert(ZOrderLayout.boxQueryN(spark, dirN,
      Seq(Long.MinValue, Long.MinValue, Long.MinValue),
      Seq(Long.MaxValue, Long.MaxValue, Long.MaxValue)).count() === li.count())
    // a half-out-of-domain hi keeps the in-domain rows exact
    val got = ZOrderLayout.boxQueryN(spark, dirN,
        Seq(20L, 2L, 5L), Seq(Long.MaxValue, 6L, 25L)).count()
    val want = li.filter(col("l_partkey") >= 20 &&
      col("l_suppkey").between(2, 6) && col("l_quantity").between(5, 25)).count()
    assert(got === want && got > 0)
  }

  test("q100 registry query matches its own direct-filter twin (round 13)") {
    val viaLayout = CoreQueries.q100Zorder3Box(spark, Sf0001).collect().toSeq
    val li = Tables.lineitem(spark, Sf0001)
    // quantity domain is 1..50 integral → bounds 7..13 (span 49)
    val direct = li
      .filter(col("l_partkey").between(24, 49) && col("l_suppkey").between(1, 2) &&
        col("l_quantity").between(7, 13))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_price"))
      .orderBy(col("l_returnflag")).collect().toSeq
    assert(viaLayout === direct)
    assert(viaLayout.nonEmpty)
  }

  test("q65 registry query matches its own direct-filter twin") {
    val viaLayout = CoreQueries.q65ZorderBox(spark, Sf0001).collect().toSeq
    val li = Tables.lineitem(spark, Sf0001)
    val direct = li
      .filter(col("l_partkey").between(24, 49) && col("l_suppkey").between(1, 2))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("sum_price"))
      .orderBy(col("l_returnflag")).collect().toSeq
    assert(viaLayout === direct)
  }
}
