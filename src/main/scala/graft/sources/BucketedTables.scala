package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed table layout — the shuffle-amortization tool for 100 TB.
  *
  * A join or aggregation on a bucketed table's bucket key needs NO
  * shuffle: Spark's FileSourceScanExec reports the bucketing as its
  * output partitioning, so a SortMergeJoin of two tables bucketed by
  * the same key into the same bucket count plans with zero Exchange
  * operators on either side, and a groupBy on the bucket key skips its
  * exchange too. The one-time shuffle is paid at WRITE time and then
  * amortized over every downstream query — the right trade for fact
  * tables that are joined on the same key (orderkey, user_id, doc_id)
  * by many consumers. `sortBy` within buckets additionally lets the
  * merge join skip its per-partition sort when each bucket lands in
  * one file.
  *
  * Bucket count is a layout commitment: pick it so one bucket of the
  * LARGEST co-bucketed table fits an executor core's working set at
  * full scale (e.g. ~128 MB–1 GB per bucket), and use the same count
  * for every table in the co-location group — differing counts force a
  * shuffle again (Spark can only coalesce when one count divides the
  * other, spark.sql.bucketing.coalesceBucketsInJoin).
  */
object BucketedTables {

  /** Write `df` as an external bucketed parquet table at `path`,
    * registered as `table` in the session catalog. Bucketing metadata
    * lives in the catalog (parquet itself has no bucket notion), so
    * downstream readers must go through `spark.table(table)`. */
  def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCol: String, nBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .option("path", path)
      .bucketBy(nBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Append a delta batch into a REGISTERED bucketed table — O(delta)
    * maintenance for the last write-once layout that previously had
    * none (round 11 — VERDICT r10 #5). The bucket id is a pure
    * function of the key (the writer's Murmur3 hash mod bucket
    * count), so delta rows land in NEW part-files whose names carry
    * their bucket ids: base files untouched, readers keep deriving
    * bucket membership from file names (the same property that makes
    * the warm re-register sound), and a zero-Exchange co-bucketed SMJ
    * stays zero-Exchange over base ⊕ delta — the append can never
    * mis-bucket without also breaking the full rebuild, because both
    * go through the one writer hash.
    *
    * What appending costs: one more file per touched bucket per
    * append, and once a bucket spans files the scan stops reporting
    * per-bucket SORTED output, so the merge join re-sorts its inputs
    * (it still never re-partitions). The file-count cadence answer
    * for THIS layout is a fresh bucketed rewrite ([[writeBucketed]]),
    * NOT Compact.compactIndex — a round-robin rewrite would emit
    * non-bucket-named files and silently break bucket derivation.
    * Single-writer per layout, like every *AppendDelta. */
  def appendBucketedDelta(spark: org.apache.spark.sql.SparkSession,
      table: String, delta: DataFrame): Unit = {
    // insertInto resolves columns BY POSITION: a delta with the same
    // columns in a different (type-coercible) order would be written
    // silently misaligned — corrupt rows, no error (ADVICE r11). Select
    // into the registered table's order first, which also makes a
    // missing/renamed delta column fail loudly at analysis time.
    val ordered = spark.table(table).columns.toIndexedSeq
      .map(org.apache.spark.sql.functions.col)
    delta.select(ordered: _*).write.mode("append").insertInto(table)
  }

  /** Build-if-missing BUCKETED copy of a source table under the
    * write-once layout convention, returned as a catalog-backed
    * DataFrame whose scan reports the bucketing. The bucket FILES are
    * written once per corpus version (LayoutStore.layoutKey) and survive
    * across JVMs; the catalog METADATA is per-session (parquet itself
    * has no bucket notion, and the default in-memory catalog dies with
    * the JVM), so a warm start re-registers the existing files with
    * `CREATE TABLE … CLUSTERED BY … LOCATION` — a metadata-only DDL,
    * no data movement. Bucket ids ride the writer's part-file names,
    * which is what makes the re-register sound: the reader derives
    * each file's bucket from its name, not from catalog history. */
  def bucketedTable(spark: org.apache.spark.sql.SparkSession, dir: String,
      tableName: String, bucketCol: String, df: => DataFrame,
      nBuckets: Int = 8): DataFrame = {
    val name = layoutName(spark, dir, tableName, nBuckets)
    if (!spark.catalog.tableExists(name)) {
      val path = bucketedPath(spark, dir, tableName, bucketCol, df, nBuckets)
      // registration is always the metadata-only DDL over the
      // published LOCATION — same statement cold and warm
      spark.sql(s"CREATE TABLE $name (${df.schema.toDDL}) USING parquet " +
        s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $nBuckets BUCKETS " +
        s"LOCATION '$path'")
    }
    spark.table(name)
  }

  /** [[bucketedTable]]'s bucket files, build-if-missing, without the
    * catalog registration; the published path returned. The files go
    * through the layout store like every other write-once layout
    * (ADVICE r8): saveAsTable straight into the final path let two
    * concurrent sessions interleave overwrite-deletes and task files,
    * and a reader could observe a mixed/partial directory. The build
    * writes under a session-unique temp table + temp dir, drops the
    * scaffold table (EXTERNAL — the files stay), and the atomic rename
    * publishes a complete directory or nothing. Bucket ids ride the
    * part-file NAMES, so the files survive both the table drop and the
    * rename intact. */
  private[graft] def bucketedPath(spark: org.apache.spark.sql.SparkSession, dir: String,
      tableName: String, bucketCol: String, df: => DataFrame, nBuckets: Int = 8): String = {
    val name = layoutName(spark, dir, tableName, nBuckets)
    graft.LayoutStore.ensure(spark, s"${System.getProperty("java.io.tmpdir")}/$name") { tmp =>
      val scaffold = name + "_bld_" + java.util.UUID.randomUUID().toString.take(8)
      writeBucketed(df, scaffold, tmp, bucketCol, nBuckets, Seq(bucketCol))
      spark.sql(s"DROP TABLE IF EXISTS $scaffold")
    }
  }

  // the sanitized key is the table name too (BucketedJoinSpec pins it)
  private def layoutName(spark: org.apache.spark.sql.SparkSession, dir: String,
      tableName: String, nBuckets: Int): String = {
    val key = graft.LayoutStore.layoutKey(spark, dir, tableName, s"bk$nBuckets")
      .replaceAll("[^A-Za-z0-9_]", "_")
    s"graft_bk_${tableName}_$key"
  }
}
