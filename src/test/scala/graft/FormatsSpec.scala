package graft

import org.apache.spark.sql.functions.{col, sum => ssum, xxhash64}

/** Columnar-format interop: the engine's operators are format-agnostic
  * DataFrame plans — ORC round-trips byte-identically and keeps the
  * same pushdown behavior as parquet (the loaders in `Tables` would
  * point at either). */
class FormatsSpec extends SparkTestBase {

  private def contentHash(df: org.apache.spark.sql.DataFrame) =
    df.agg(ssum(xxhash64(col("doc_id"), col("text"), col("lang")).cast("decimal(38,0)")))
      .head().getDecimal(0)

  test("ORC round-trip preserves content and downstream query results") {
    val base = tempDir("graft-orc")
    val docs = Tables.documents(spark, Sf0001)
    docs.write.mode("overwrite").orc(s"$base/docs")
    val orc = spark.read.orc(s"$base/docs")
    assert(orc.count() === docs.count())
    assert(contentHash(orc.select("doc_id", "text", "lang")) ===
      contentHash(docs.select("doc_id", "text", "lang")))
    // an operator over the ORC copy matches the parquet answer
    val a = graft.functions.TextFunctions.tokenStats(docs).collect().map(_.toSeq).toSeq
    val b = graft.functions.TextFunctions.tokenStats(orc).collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("Avro round-trip is value-exact and null-safe") {
    import graft.sources.AvroIngest
    val base = tempDir("graft-avro")
    val sup = Tables.supplier(spark, Sf0001)
    AvroIngest.writeAvro(sup, s"$base/sup")
    val back = AvroIngest.avro(spark, s"$base/sup", AvroIngest.supplierSchema)
    assert(back.count() === sup.count())
    // bit-exact round-trip of long/int/double/string, compared as sets
    val a = sup.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(b === a)
    // nulls survive the union(null, T) encoding
    import spark.implicits._
    val withNulls = Seq((1L, Option("x"), Option(2.5)), (2L, None, None))
      .toDF("id", "s", "v")
    AvroIngest.writeAvro(withNulls, s"$base/nulls")
    val nb = AvroIngest.avro(spark, s"$base/nulls",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType))))
    assert(nb.collect().map(_.toSeq).toSet === withNulls.collect().map(_.toSeq).toSet)
  }

  test("ORC scans get predicate pushdown and column pruning too") {
    val base = tempDir("graft-orc-pd")
    Tables.documents(spark, Sf0001).write.mode("overwrite").orc(s"$base/docs")
    val f = spark.read.orc(s"$base/docs")
      .filter(col("doc_id") > 100).select("doc_id", "lang")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(f.contains("PushedFilters: ["), f)
    assert(f.contains("GreaterThan(doc_id,100"), s"doc_id filter not pushed:\n$f")
    assert(!f.contains("text"), s"ReadSchema not pruned:\n$f")
  }

  test("OrcIngest: orders ORC round-trip is value-exact and layout-cached") {
    import graft.sources.OrcIngest
    val orig = Tables.orders(spark, Sf0001)
    val back = OrcIngest.ordersOrc(spark, Sf0001)
    // bit-exact round-trip of long/string/double/timestamp, as sets
    assert(back.collect().map(_.toSeq).toSet === orig.collect().map(_.toSeq).toSet)
    // write-once: a second call serves the SAME published layout
    // (same physical files), not a rebuilt copy
    def files(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.toSet
    assert(files(OrcIngest.ordersOrc(spark, Sf0001)) === files(back))
  }
}
