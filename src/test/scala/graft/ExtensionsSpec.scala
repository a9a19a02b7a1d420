package graft

/** GraftExtensions: the session was built with
  * `spark.sql.extensions=graft.GraftExtensions` (SparkTestBase, through
  * `Sessions.confs`), the one place a `graft_*` name is bound, so every
  * native function must resolve from plain SQL text — in a fresh
  * `newSession()` too, which carries the injected functions and no
  * temp function of the shared session. */
class ExtensionsSpec extends SparkTestBase {

  test("injected functions resolve from plain SQL without register()") {
    for (session <- Seq(spark, spark.newSession())) {
      val row = session.sql(
        """SELECT
          | graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |           array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot,
          | graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |              array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos,
          | graft_nfc('café') AS nfc,
          | size(graft_winnow('abcdefghijklmnop', 4, 2)) AS n_fps""".stripMargin).head()
      assert(row.getDouble(0) === 11.0)
      assert(row.getDouble(1) === 1.0)
      assert(row.getString(2) === "café")
      assert(row.getInt(3) > 0)
    }
  }

  test("a new session resolves graft_sorted_intersect / graft_charhist39 and runs q74 / dd12") {
    val fresh = spark.newSession()
    val row = fresh.sql(
      """SELECT
        | graft_sorted_intersect(array(1L, 3L, 5L, 7L), array(3L, 4L, 5L, 8L)) AS common,
        | graft_charhist39('ab, a.1') AS hist""".stripMargin).head()
    assert(row.getSeq[Long](0) === Seq(3L, 5L))
    val hist = row.getSeq[Int](1)
    assert(hist.size === 39)
    // slots: 'a'-'z' 0-25, '0'-'9' 26-35, ' ' 36, '.' 37, ',' 38
    val want = Array.fill(39)(0)
    want(0) = 2; want(1) = 1; want(27) = 1; want(36) = 1; want(37) = 1; want(38) = 1
    assert(hist === want.toSeq)
    def rows(s: org.apache.spark.sql.SparkSession, q: String): Seq[String] =
      SparkEntry.queries(q)(s, Sf0001).collect().map(_.toString).toSeq.sorted
    for (q <- Seq("q74_triangles", "dd12_edit_distance")) {
      val got = rows(fresh, q)
      assert(got.nonEmpty, s"$q returned no rows")
      assert(got === rows(spark, q), s"$q differs between a new session and the shared one")
    }
  }

  test("injected aggregate graft_simhash64 resolves from SQL") {
    import spark.implicits._
    Seq(("a", 1L), ("b", 2L)).toDF("k", "h").createOrReplaceTempView("ext_agg_t")
    val r = spark.sql("SELECT graft_simhash64(h) AS sig FROM ext_agg_t").head()
    assert(!r.isNullAt(0))
  }

  test("naive |x-y| <= k band join is auto-rewritten to an equi-join") {
    import spark.implicits._
    // negatives included on purpose: the rewrite's soundness argument
    // covers `div`'s truncation-toward-zero around 0
    val xs = (-100L until 100L).map(_ * 3L)
    val ys = (-100L until 100L).map(_ * 5L + 1L)
    xs.toDF("x").createOrReplaceTempView("band_a")
    ys.toDF("y").createOrReplaceTempView("band_b")
    val df = spark.sql("SELECT x, y FROM band_a JOIN band_b ON abs(x - y) <= 7")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band join not rewritten:\n$p")
    // multiset compare: a doubled bucket match would duplicate pairs
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val want = (for { x <- xs; y <- ys if math.abs(x - y) <= 7L } yield (x, y)).sorted
    assert(got === want)
  }

  test("band rewrite leaves equi-keyed and non-band joins untouched") {
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("k", "x").createOrReplaceTempView("band_c")
    Seq((1L, 12L), (2L, 99L)).toDF("k", "y").createOrReplaceTempView("band_d")
    // equi key present: band conjunct stays a residual filter
    val eq = spark.sql(
      "SELECT band_c.k, x, y FROM band_c JOIN band_d ON band_c.k = band_d.k AND abs(x - y) <= 5")
    assert(!eq.queryExecution.executedPlan.toString.contains("__graft_band"))
    assert(eq.collect().map(r => r.getLong(0)).toSeq === Seq(1L))
    // float operands: outside the exactness envelope, not rewritten
    Seq(1.5d).toDF("fx").createOrReplaceTempView("band_e")
    Seq(2.0d).toDF("fy").createOrReplaceTempView("band_f")
    val fl = spark.sql("SELECT fx, fy FROM band_e JOIN band_f ON abs(fx - fy) <= 1.0")
    assert(!fl.queryExecution.executedPlan.toString.contains("__graft_band"))
    assert(fl.count() === 1L)
  }
}
