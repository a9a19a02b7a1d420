package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.{LayoutStore, Tables}

/** CSV ingestion path.
  *
  * The driver's testdata is parquet, so the CSV query materializes the
  * `customer` table as CSV once per SF directory (tiny dimension
  * table; a write-once layout, LayoutStore.cached) and then
  * exercises the real CSV read path: explicit schema, header,
  * FAILFAST. At 100 TB the loader is what matters — schema is always
  * explicit (inference would be a full extra scan of the data),
  * malformed rows fail loudly instead of silently nulling, and the
  * scan parallelizes per file split like any other FileFormat source.
  */
object CsvIngest {

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  /** Generic CSV reader — single place for read options. */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "FAILFAST")
      .schema(schema)
      .csv(path)

  /** The customer table via the CSV path (parquet → CSV → read back).
    * Doubles survive the round-trip exactly: Spark writes shortest
    * round-trip decimal strings and parses them back to the same
    * bits. */
  def customerCsv(spark: SparkSession, dir: String): DataFrame =
    csv(spark, customerCsvPath(spark, dir), customerSchema)

  /** The customer table's CSV copy, build-if-missing, path returned.
    * Keyed on the SOURCE parquet's size/mtime, not the dir name: a
    * regeneration of customer.parquet must invalidate the CSV copy. */
  private[graft] def customerCsvPath(spark: SparkSession, dir: String): String =
    LayoutStore.cached(spark, "graft_csv", dir, "customer", "", "customer")(tmp =>
      Tables.customer(spark, dir).write.mode("overwrite").option("header", "true").csv(tmp))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Generic JSON-lines reader — explicit schema for the same reasons
    * as CSV (inference = extra scan; FAILFAST = loud corruption). */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("mode", "FAILFAST").schema(schema).json(path)

  /** The documents table via the JSON-lines path (parquet → JSONL →
    * read back): free-text fields exercise JSON string escaping. */
  def documentsJson(spark: SparkSession, dir: String): DataFrame =
    jsonLines(spark, documentsJsonPath(spark, dir), documentsSchema)

  /** The documents table's JSON-lines copy, build-if-missing, path returned. */
  private[graft] def documentsJsonPath(spark: SparkSession, dir: String): String =
    LayoutStore.cached(spark, "graft_json", dir, "documents", "", "documents")(tmp =>
      Tables.documents(spark, dir).write.mode("overwrite").json(tmp))
}
