package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{LayoutStore, Tables}

/** ORC ingestion path — the fourth file format beside CSV
  * (CsvIngest), JSON-lines (CsvIngest.documentsJson) and Avro
  * (AvroIngest), completing the format family a lakehouse ingest
  * layer actually meets.
  *
  * Unlike Avro (which needed a hand-rolled Hadoop-InputFormat bridge
  * because the spark-avro DataSource module isn't shipped), ORC is a
  * FIRST-CLASS Spark source: orc-core/orc-mapreduce ship in the
  * distribution and `spark.read.orc` goes through the vectorized
  * columnar reader with predicate pushdown and column pruning — the
  * same scan-level machinery as parquet. The round-trip is bit-exact
  * for every type the orders table carries: longs and strings are
  * verbatim, IEEE doubles are stored as their 8-byte pattern, and
  * timestamps round-trip at nanosecond precision (micros here).
  *
  * The driver's testdata is parquet, so the query materializes the
  * orders table as ORC once per SF directory (write-once under
  * LayoutStore.cached, keyed on the source so a driver-side
  * regeneration invalidates the copy) and then
  * exercises the real ORC read path. At 100 TB only the loader
  * matters: the scan parallelizes per stripe like any FileFormat
  * source, and aggregate pushdown (min/max/count from stripe
  * statistics) is available to Catalyst when a query reduces to
  * footer stats.
  */
object OrcIngest {

  /** The orders table via the ORC path (parquet → ORC → read back). */
  def ordersOrc(spark: SparkSession, dir: String): DataFrame =
    spark.read.orc(ordersOrcPath(spark, dir))

  /** The orders table's ORC copy, build-if-missing, path returned. */
  private[graft] def ordersOrcPath(spark: SparkSession, dir: String): String =
    LayoutStore.cached(spark, "graft_orc", dir, "orders", "", "orders")(tmp =>
      Tables.orders(spark, dir).write.mode("overwrite").orc(tmp))
}
