package graft

import org.apache.spark.sql.functions._

import graft.sources.BucketedTables

/** Bucketed-layout spec: the write-once-shuffle-never contract of
  * BucketedTables — a join AND a groupBy on the bucket key must plan
  * with zero Exchange operators (SURVEY.md §5). */
class BucketedJoinSpec extends SparkTestBase {

  test("co-bucketed tables join and aggregate with zero shuffle exchanges") {
    val tmp = tempDir("graft-bucket")
    val li = Tables.lineitem(spark, Sf0001).select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables.orders(spark, Sf0001).select(col("o_orderkey"), col("o_orderpriority"))
    BucketedTables.writeBucketed(li, "li_b", s"$tmp/li", "l_orderkey", 8, Seq("l_orderkey"))
    BucketedTables.writeBucketed(ord, "ord_b", s"$tmp/ord", "o_orderkey", 8, Seq("o_orderkey"))
    // forbid broadcast so the join would otherwise be a shuffled SMJ
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("qty"))
      assert(j.collect().nonEmpty)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("q95 registry entry: zero-exchange bucketed SMJ; warm-start re-register serves identical rows") {
    import graft.queries.SqlQueries
    val df = SqlQueries.q95BucketedJoin(spark, Sf0001)
    val rows = df.collect().toSeq
    assert(rows.size === 5)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin"), p.take(2500))
    // the join itself must exchange NOTHING: the only exchanges allowed
    // are the 5-row priority rollup and the presentation sort
    assert(p.linesIterator.count(_.contains("Exchange")) <= 2,
      s"bucketed join shuffled its inputs:\n${p.take(2500)}")
    // warm start: drop the catalog metadata (simulating a new JVM) —
    // the rebuild must take the metadata-only CREATE TABLE path over
    // the EXISTING bucket files and read back the identical result
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_bk_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir")))
    val bkDirs = try {
      import scala.jdk.CollectionConverters._
      files.iterator().asScala.filter(_.getFileName.toString.startsWith("graft_bk_"))
        .map(d => d -> d.toFile.lastModified()).toMap
    } finally files.close()
    val again = SqlQueries.q95BucketedJoin(spark, Sf0001)
    assert(again.collect().toSeq === rows, "re-registered table diverged")
    // and the files were NOT rewritten (metadata-only re-register)
    bkDirs.foreach { case (dir, mtime) =>
      assert(dir.toFile.lastModified() === mtime,
        s"warm start rewrote bucket files under $dir")
    }
    val p2 = again.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p2.contains("SortMergeJoin") &&
      p2.linesIterator.count(_.contains("Exchange")) <= 2,
      s"re-registered table lost its bucketing:\n${p2.take(2500)}")
  }

  test("bucketed delta append: rows ≡ full rebuild, zero-exchange SMJ survives, warm re-register reads base ⊕ delta") {
    val tmp = tempDir("graft-bkdelta")
    val li = Tables.lineitem(spark, Sf0001).select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables.orders(spark, Sf0001).select(col("o_orderkey"), col("o_orderpriority"))
    val (base, delta) =
      (li.filter(col("l_orderkey") % 4 =!= 0), li.filter(col("l_orderkey") % 4 === 0))
    BucketedTables.writeBucketed(base, "li_d", s"$tmp/li", "l_orderkey", 8, Seq("l_orderkey"))
    BucketedTables.writeBucketed(ord, "ord_d", s"$tmp/ord", "o_orderkey", 8, Seq("o_orderkey"))
    def partFiles() = new java.io.File(s"$tmp/li").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => f.getName -> f.lastModified()).toMap
    val baseFiles = partFiles()
    def tableHash(t: String): java.math.BigDecimal =
      spark.table(t).agg(sum(xxhash64(col("l_orderkey"), col("l_quantity"))
        .cast("decimal(38,0)"))).head().getDecimal(0)
    val fullHash = {
      // a FULL one-shot rebuild of the same content, as the reference point
      BucketedTables.writeBucketed(li, "li_full", s"$tmp/lifull", "l_orderkey", 8,
        Seq("l_orderkey"))
      tableHash("li_full")
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // the delta arrives with its columns DELIBERATELY reordered:
      // insertInto resolves by position, so before the round-12 fix
      // (ADVICE r11) this would have written quantities into the
      // orderkey column with no error — the name-reorder guard inside
      // appendBucketedDelta is what makes this test pass
      BucketedTables.appendBucketedDelta(spark, "li_d",
        delta.select(col("l_quantity"), col("l_orderkey")))
      // base files untouched; every appended file carries a bucket id
      // in its name (the _NNNNN suffix readers derive buckets from)
      val after = partFiles()
      baseFiles.foreach { case (n, m) =>
        assert(after.get(n).contains(m), s"append rewrote base file $n") }
      val appended = (after.keySet -- baseFiles.keySet).toSeq
      assert(appended.nonEmpty)
      appended.foreach(n => assert(n.matches(""".*_\d{5}(\..*)?\.parquet"""),
        s"appended file $n lost its bucket-id name"))
      // content ≡ the full rebuild, row-for-row
      assert(spark.table("li_d").count() === li.count())
      assert(tableHash("li_d") === fullHash, "append diverged from full rebuild")
      // the co-bucketed SMJ still plans with ZERO exchanges over
      // base ⊕ delta, and its answers match the raw-frame join
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def agg(l: org.apache.spark.sql.DataFrame, o: org.apache.spark.sql.DataFrame) =
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority")).agg(sum(col("l_quantity")).as("qty"))
          .orderBy(col("o_orderpriority"))
      val j = agg(spark.table("li_d"), spark.table("ord_d"))
      val got = j.collect().toSeq
      val p = j.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(p.contains("SortMergeJoin"), p.take(2500))
      // the join inputs exchange nothing; only the 5-row priority
      // rollup and presentation sort may
      assert(p.linesIterator.count(_.contains("Exchange")) <= 2,
        s"append broke the zero-exchange contract:\n${p.take(2500)}")
      assert(got === agg(li, ord).collect().toSeq, "bucketed answers diverged from raw join")
      // warm re-register (new JVM shape): metadata-only DDL over the
      // appended directory serves the identical base ⊕ delta content
      spark.sql("DROP TABLE li_d")
      spark.sql(s"CREATE TABLE li_d (${li.schema.toDDL}) USING parquet " +
        "CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey) INTO 8 BUCKETS " +
        s"LOCATION '$tmp/li'")
      assert(tableHash("li_d") === fullHash, "re-register lost the delta")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      Seq("li_d", "ord_d", "li_full").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("source refresh strands the old bucket generation; vacuum reclaims it and warm re-register still works") {
    // the LIVE twin of LayoutVacuumSpec's graft_bk_* regex case
    // (VERDICT r8 #6): build a real bucketed layout, regenerate its
    // source (new size/mtime → new layout key), build again, vacuum —
    // only the current generation's FILES survive, and a fresh-JVM
    // re-register over them (metadata-only DDL) still serves rows
    val scratch = tempDir("graft-bkgen")
    // scope every directory assertion to THIS run's scratch dir: the
    // sanitized dir tag rides the layout name, and earlier suite runs
    // leave graft_bk_t_* generations for OTHER scratch dirs behind —
    // different vacuum groups by design, never reclaimed here
    val scratchTag = scratch.replaceAll("[^A-Za-z0-9.-]", "_")
      .stripPrefix("_").replaceAll("[^A-Za-z0-9_]", "_")
    def writeSource(n: Int): Unit =
      spark.range(n).selectExpr("id AS k", "id * 2 AS v")
        .coalesce(1).write.mode("overwrite").parquet(s"$scratch/t.parquet")
    def build() = BucketedTables.bucketedTable(spark, scratch, "t", "k",
      spark.read.parquet(s"$scratch/t.parquet"), nBuckets = 4)
    writeSource(100)
    // pin a distinct mtime per generation — rewrites inside one
    // filesystem-timestamp tick would otherwise collide keys
    new java.io.File(s"$scratch/t.parquet").setLastModified(1000000000000L)
    assert(build().count() === 100)
    val gen1 = bucketDirsFor("t", scratchTag)
    assert(gen1.nonEmpty)
    writeSource(150)
    new java.io.File(s"$scratch/t.parquet").setLastModified(1000000002000L)
    assert(build().count() === 150)
    val gen2 = bucketDirsFor("t", scratchTag) -- gen1
    assert(gen2.nonEmpty, "source refresh must key a NEW bucket layout")
    // age gen1 past the reader-safety grace (round 15): vacuum spares
    // superseded generations modified within the last hour
    gen1.foreach(d => new java.io.File(d)
      .setLastModified(System.currentTimeMillis - 2 * 3600L * 1000))
    val deleted = LayoutStore.vacuum().toSet
    assert(gen1.forall(deleted.contains),
      s"superseded bucket generation not reclaimed: $gen1 vs deleted $deleted")
    assert(gen1.forall(d => !new java.io.File(d).exists()))
    assert(gen2.forall(d => new java.io.File(d).exists()),
      "vacuum deleted the CURRENT bucket generation")
    // fresh-JVM shape: drop the catalog entry, rebuild must take the
    // metadata-only path over the surviving files
    spark.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_bk_t_"))
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    val mtimes = gen2.map(d => d -> new java.io.File(d).lastModified()).toMap
    assert(build().count() === 150)
    mtimes.foreach { case (d, m) =>
      assert(new java.io.File(d).lastModified() === m,
        s"warm start rewrote bucket files under $d")
    }
  }

  private def bucketDirsFor(table: String, scratchTag: String): Set[String] = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(s"graft_bk_${table}_") &&
        f.getName.contains(scratchTag))
      .map(_.getPath).toSet
  }
}
