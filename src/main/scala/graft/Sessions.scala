package graft

import org.apache.spark.sql.SparkSession

/** The one place session settings live: every main, the test suites
  * and the benchmark harness build their session from [[confs]].
  *
  * Engine requirements:
  *  - `spark.sql.extensions=graft.GraftExtensions`: the native
  *    functions and the band-join optimizer rule are installed at
  *    session build, the deployment path for pure-SQL clients.
  *  - session time zone UTC: timestamp outputs and the NTZ→TZ cast in
  *    [[Tables.eventsTsNanos]] must match DuckDB's oracle answers.
  *  - `broadcastTimeout` 1200 s: a contended host intermittently blows
  *    the 300 s default during broadcast exchanges — not a plan problem.
  *  - `spark.sql.legacy.parquet.nanosAsLong=true`: an events table whose
  *    `ts` is parquet TIMESTAMP(NANOS) fails schema inference without
  *    it (Spark has no nanosecond timestamp type); with it the column
  *    reads as INT64 ns, which [[Tables.eventsTsNanos]] passes through.
  *    The loaders rely on this conf rather than setting it themselves.
  *
  * Performance settings (round 15: a large fixed CPU cost per shuffle
  * map task made partition COUNT, not bytes, dominate half the board —
  * sorting 1 M checkpointed rows cost 10.7 s CPU from 64 input
  * partitions vs 1.7 s from 8, identical bytes):
  *  - `bypassMergeThreshold=1`: the bypass shuffle writer opens one
  *    file PER REDUCE PARTITION per map task and concatenates them
  *    with NIO transferTo (mmap/unmap per chunk) — ~7 s CPU for a
  *    32→32-partition shuffle of 1 M (long,long) rows. The sort-based
  *    writer (one file + index per map task) measured 0.44 s → 0.15 s
  *    wall and 7.0 s → 1.0 s CPU on the same data, and is what every
  *    R>200 production shuffle uses anyway.
  *  - `parallelismFirst=false`: AQE coalesces post-shuffle partitions
  *    by SIZE (`advisoryPartitionSizeInBytes`) instead of keeping
  *    ≥ default-parallelism partitions of ≥ 1 MB. The Spark tuning
  *    guide recommends false in production.
  *  - advisory partition size 64 MB: scale-adaptive — at sf0.1 every
  *    tiny exchange collapses to one partition; at 100 TB the same
  *    setting yields thousands. Nothing is tuned to the core count.
  *  - `canChangeCachedPlanOutputPartitioning=true`: extends the same
  *    coalescing to InMemoryRelation materialization — operator-internal
  *    caches (dedup mask groups, ANN probe state) otherwise materialize
  *    at spark.sql.shuffle.partitions tiny partitions and every
  *    downstream exchange pays the per-map-task floor for them.
  *
  * Operators whose per-partition COMPUTE (not bytes) is the cost pin
  * their parallelism explicitly with repartition(N, keys...) — AQE
  * never overrides a user-specified partition count — so size-based
  * coalescing cannot serialize them (Dedup.blockedMaskPairs).
  *
  * Generated code is compiled once per JVM, not once per query:
  *  - `spark.sql.codegen.cache.maxEntries=4096`: a `graft.Bench` board
  *    at sf0.01 (all 201 queries, every layout built cold) compiles 3283
  *    distinct classes, about 2900 when the layouts exist. Spark's
  *    default LRU holds 100, so a repeated query mix evicted and
  *    recompiled (Janino) most of its classes on every pass; 4096 holds
  *    the registry with about 25 % to spare. The price is Metaspace: the
  *    cached classes stay loaded, about 8 KB each (234 MB after that
  *    board with the layouts present, 212 MB with the default).
  *  - `spark.sql.artifact.isolation.enabled=false`: the code cache is
  *    keyed on the executor classloader as well as the source, and with
  *    isolation on every new session (a stream's own session, Spark's
  *    per-query clone of it) gets a loader of its own, so a stream re-run
  *    recompiled every class. graft adds no session artifacts, so every
  *    session shares the executor's default loader, and the executor no
  *    longer keeps one isolated session state per stream run.
  */
object Sessions {
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.broadcastTimeout" -> "1200",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // the registry's generated classes all fit: no recompile on a re-run
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // every session shares one executor classloader, so one code cache
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** `b` with every entry of [[confs]] applied. */
  def perf(b: SparkSession.Builder): SparkSession.Builder =
    confs.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }

  /** The session every main and spec runs under: `local[cpus]` with one
    * shuffle partition per core plus [[confs]], where `cpus` is
    * `SPARK_GRAFT_CPUS`, else the host's core count. */
  def local(): SparkSession = {
    val cpus = hostCpus
    val spark = perf(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Partitions for `bytes` of input: one per
    * `advisoryPartitionSizeInBytes` (64m in [[confs]]), clamped to
    * [1, defaultParallelism]. One partition at sf0.01, every core at
    * 100 TB, with no knob of its own. */
  def widthFor(spark: SparkSession, bytes: Long): Int = {
    val adv = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")).max(1L)
    math.min(spark.sparkContext.defaultParallelism.toLong, (bytes + adv - 1) / adv)
      .max(1L).toInt
  }

  private def hostCpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      sys.error(s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    case None => Runtime.getRuntime.availableProcessors
  }

  /** Releases operator-internal caches between queries: the catalog
    * cache and the localCheckpoint RDDs of iterative operators, which
    * bypass it. Left in place they tax later queries and degrade
    * repeated runs under memory pressure. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(
      org.apache.spark.sql.graftbridge.Releases.unpersistRDD(_, blocking = true))
  }
}
