package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Single place all table reads go through.
  *
  * Every loader is a plain parquet scan: Catalyst sees the scan node
  * directly, so filter pushdown / column pruning / partition pruning
  * work unimpeded. At 100 TB the same loaders point at a partitioned
  * parquet/iceberg root instead of a single file — nothing downstream
  * changes.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The one parquet read of the engine: Spark's parquet read of `path`
    * without the schema-inference job Spark runs on every such call: a
    * one-task job that reads one footer, measured on a 4-core host at
    * ~28 ms of wall per read for ~1.5 ms of task CPU — most of a small
    * query's construction time.
    *
    * The inferred schema is kept in a JVM-wide cache keyed on
    *   - the qualified path;
    *   - a digest of the files Spark itself lists there (name, length,
    *     modification time of every data file, hidden `_`/`.` files
    *     excluded as Spark excludes them), read through the path's
    *     Hadoop `FileSystem`;
    *   - the session confs that change how parquet types map to Spark
    *     types, and `mergeSchema`, which changes which footers are read.
    * Invariant: the key is what Spark would list and read, so any
    * rewrite of the data — new part files, a file replaced in place —
    * misses, and a miss is exactly the plain `spark.read` parquet read,
    * whose schema is then remembered. A hit returns
    * `spark.read.schema(cached).parquet(path)`: Spark skips inference
    * and runs no job, and every read still builds a fresh relation with
    * fresh attribute ids, so self-joins resolve as before.
    *
    * Paths this cannot fingerprint cheaply and exactly — globs, missing
    * paths, and directories with sub-directories (partitioned layouts,
    * streaming sink logs) — keep the uncached read. The inference job
    * runs outside the cache lock; two threads missing on one key both
    * infer and store the same schema. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = schemaKey(spark, path)
    key.flatMap(k => schemaCache.synchronized(Option(schemaCache.get(k)))) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(k => schemaCache.synchronized(schemaCache.put(k, df.schema)))
        df
    }
  }

  /** Entry count bound of the footer-schema cache (LRU beyond it). */
  private val SchemaCacheEntries = 512

  private val schemaCache = new java.util.LinkedHashMap[String, StructType](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, StructType]): Boolean =
      size > SchemaCacheEntries
  }

  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Spark's listing filter (`HadoopFSUtils.shouldFilterOutPathName`):
    * names starting with `_` or `.` are not data, except the parquet
    * summary files; `._COPYING_` files are in flight. */
  private def listedBySpark(name: String): Boolean = {
    val hidden = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    !hidden || name.startsWith("_common_metadata") || name.startsWith("_metadata")
  }

  /** The [[parquet]] cache key, or None where the read stays uncached. */
  private[graft] def schemaKey(spark: SparkSession, path: String): Option[String] = {
    if (path.exists("*?[{\\".contains(_))) return None
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = LayoutStore.status(fs, p).getOrElse(return None)
    val files: Array[FileStatus] =
      if (!status.isDirectory) Array(status)
      else {
        val children = fs.listStatus(status.getPath)
        if (children.exists(_.isDirectory)) return None
        children.filter(f => listedBySpark(f.getPath.getName))
      }
    val md = MessageDigest.getInstance("SHA-256")
    files.map(f => s"${f.getPath.getName}\t${f.getLen}\t${f.getModificationTime}").sorted
      .foreach(line => md.update((line + "\n").getBytes(StandardCharsets.UTF_8)))
    val fingerprint = md.digest().map("%02x".format(_)).mkString
    val confs = SchemaConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString("\t")
    Some(s"${status.getPath}\n$fingerprint\n$confs")
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events with `ts` as INT64 nanoseconds (see [[eventsTsNanos]]). */
  def events(s: SparkSession, d: String): DataFrame = eventsTsNanos(table(s, d, "events"))

  /** events.ts: downstream code uses one fixed convention — INT64
    * nanoseconds since epoch — because exact integer arithmetic (session
    * gaps, LOCF grids, decay ages) must not round. The physical parquet
    * type has varied across testdata generations (TIMESTAMP(NANOS) read
    * as INT64 under nanosAsLong; TIMESTAMP(MICROS) read as
    * TIMESTAMP_NTZ), so normalize at the loader, batch or streaming:
    *   - LONG: already ns, pass through.
    *   - TIMESTAMP / TIMESTAMP_NTZ: `unix_micros(cast(ts as timestamp))
    *     * 1000L` — exact (no doubles), and with session tz UTC the
    *     NTZ→TZ cast is the identity on the underlying micros, matching
    *     DuckDB's `epoch_ns(ts)` on the same file.
    * Cost note: the derived column means a raw min/max ts predicate is
    * no longer pushed into the parquet footer for the timestamp-typed
    * case; at 100 TB you'd partition events by date and prune on the
    * partition column instead, which survives the conversion. */
  private[graft] def eventsTsNanos(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      case other =>
        throw new IllegalStateException(s"events.ts has unsupported type $other")
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Parallelism FLOOR for heavy per-row compute over an unsplittable
    * scan (round 16 — guide §2.5 "input skew: one huge unsplittable
    * file … repartition immediately after the read"). The driver
    * testdata is one single-row-group parquet file per table, so every
    * scan plans exactly ONE task and any compute fused into the scan
    * stage (regex passes, DP verification, map-side partial
    * aggregation of 600 k lineitem rows) runs serial while 31 cores
    * idle — measured wall ≈ CPU across the affected entries. The
    * round-robin exchange this inserts costs one serial pass over the
    * (small) source rows; it pays only where the downstream per-row
    * work dominates, so it is applied at MEASURED sites, not in the
    * loaders. A no-op whenever the source already scans at ≥
    * defaultParallelism — i.e. at 100 TB, where inputs are thousands
    * of splits, this floor vanishes instead of capping parallelism. */
  def computeFloor(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
}
