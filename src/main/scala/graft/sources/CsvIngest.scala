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
  def customerCsv(spark: SparkSession, dir: String): DataFrame = {
    // keyed on the SOURCE parquet's size/mtime, not the dir name: a
    // regeneration of customer.parquet must invalidate the CSV copy
    val out = LayoutStore.cached(spark, "graft_csv", dir, "customer", "", "customer")(tmp =>
      Tables.customer(spark, dir).write.mode("overwrite").option("header", "true").csv(tmp))
    csv(spark, out, customerSchema)
  }

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
  def documentsJson(spark: SparkSession, dir: String): DataFrame = {
    val out = LayoutStore.cached(spark, "graft_json", dir, "documents", "", "documents")(tmp =>
      Tables.documents(spark, dir).write.mode("overwrite").json(tmp))
    jsonLines(spark, out, documentsSchema)
  }
}
