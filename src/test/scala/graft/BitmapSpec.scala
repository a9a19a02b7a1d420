package graft

import org.apache.spark.sql.functions._

import graft.functions.BitmapOps
import graft.queries.CoreQueries

/** Bitmap-distinct aggregate family (q62): the re-aggregation
  * contract — day bitmaps OR'd together must give EXACTLY the distinct
  * count a direct scan gives — plus buffer-representation edges the
  * query path doesn't exercise (length-mismatched merges, trailing-
  * zero trimming, out-of-domain ids). */
class BitmapSpec extends SparkTestBase {

  test("bitmap cardinality equals countDistinct on every grouping") {
    import spark.implicits._
    val df = Seq(
      (1L, "a"), (2L, "a"), (1L, "a"), (64L, "a"), (65L, "a"),
      (1L, "b"), (128L, "b"), (1000L, "b"), (128L, "b"))
      .toDF("id", "g")
    val got = df.groupBy($"g")
      .agg(expr("graft_bitmap_card(graft_bitmap(id))").as("n"))
      .orderBy($"g").as[(String, Long)].collect()
    assert(got.toSeq === Seq(("a", 4L), ("b", 3L)))
  }

  test("rollup via graft_bitmap_or equals a direct distinct scan") {
    import spark.implicits._
    val events = Tables.events(spark, Sf0001)
    val viaBitmaps = events
      .select(col("event_type"), (col("ts") % 7).as("slice"), col("user_id"))
      .groupBy(col("event_type"), col("slice"))
      .agg(expr("graft_bitmap(user_id)").as("bm"))
      .groupBy(col("event_type"))
      .agg(expr("graft_bitmap_card(graft_bitmap_or(bm))").as("n"))
    val direct = events.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
    val l = viaBitmaps.orderBy(col("event_type")).as[(String, Long)].collect()
    val r = direct.orderBy(col("event_type")).as[(String, Long)].collect()
    assert(l.toSeq === r.toSeq)
    assert(l.nonEmpty)
  }

  test("serialize trims trailing zero words; mismatched lengths merge") {
    val small = new Array[Long](1)
    small(0) = 5L // ids 0 and 2
    val big = new Array[Long](64) // id 100 then zeros beyond
    big(1) = 1L << 36
    val ser = BitmapOps.serialize(big)
    // trailing 62 zero words dropped: 4-byte header + 2 words
    assert(ser.length === 4 + 2 * 8)
    val merged = BitmapOps.orInto(BitmapOps.deserialize(ser), small)
    assert(BitmapOps.cardinality(BitmapOps.serialize(merged)) === 3L)
  }

  test("chunked containers make any id domain exact (q62's layout)") {
    import spark.implicits._
    // ids far beyond MaxBits, straddling several 2^26 containers —
    // the replica corpora shift keys by 1e9, which is what forced the
    // container layout in the first place
    val ids = Seq(3L, 5L, 3L, 1000000235L, 1000000235L, 1000000236L,
      (1L << 40) + 7L, (1L << 40) + 7L, (1L << 41) + 7L)
    val df = ids.toDF("id")
      .selectExpr("id div 65536 AS chunk", "id % 65536 AS pos")
      .groupBy($"chunk").agg(expr("graft_bitmap(pos)").as("bm"))
      .agg(sum(expr("graft_bitmap_card(bm)")).as("n"))
    assert(df.as[Long].head() === ids.distinct.size.toLong)
  }

  test("out-of-domain ids fail fast with the dictionary-encode hint") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(BitmapOps.MaxBits + 1).toDF("id")
        .agg(expr("graft_bitmap(id)")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("dictionary-encode")), e.toString)
  }

  test("q69 rolling 7-day distinct ≡ direct distinct over each window") {
    import spark.implicits._
    val got = CoreQueries.q69RollingDistinct(spark, Sf0001)
      .as[(String, Long)].collect().toSeq
    // brute-force reference: distinct (day, user) pairs, window by scan
    val pairs = Tables.events(spark, Sf0001)
      .select(date_trunc("day", timestamp_micros(expr("ts div 1000"))).cast("date").as("day"),
        col("user_id"))
      .distinct()
      .as[(java.sql.Date, Long)].collect()
    val want = pairs.map(_._1).distinct.sorted((a: java.sql.Date, b: java.sql.Date) => a.compareTo(b))
      .map { d =>
        val lo = java.sql.Date.valueOf(d.toLocalDate.minusDays(6))
        (d.toString,
          pairs.filter(p => !p._1.before(lo) && !p._1.after(d)).map(_._2).distinct.length.toLong)
      }.toSeq
    assert(got === want)
    assert(got.map(_._2).max >= got.map(_._2).min) // windows non-degenerate
  }

  test("q62 day rows and ALL rows are consistent: ALL ≥ max day, ≤ Σ days") {
    val rows = CoreQueries.q62BitmapDistinct(spark, Sf0001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val byType = rows.groupBy(_._1)
    assert(byType.nonEmpty)
    byType.foreach { case (t, rs) =>
      val (alls, days) = rs.partition(_._2 == "ALL")
      assert(alls.size === 1, s"$t: expected exactly one ALL row")
      val all = alls.head._3
      assert(days.nonEmpty && all >= days.map(_._3).max && all <= days.map(_._3).sum,
        s"$t: ALL=$all vs days=${days.map(_._3).toSeq}")
    }
  }
}
