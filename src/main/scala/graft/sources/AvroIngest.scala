package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{LayoutStore, Tables}

/** Avro ingestion path.
  *
  * This container ships Avro core + avro-mapred but NOT the
  * `spark-avro` DataSource module, so the loader is built on the
  * public Hadoop-InputFormat bridge instead: an Avro Object Container
  * File is splittable by design (sync markers every block), and
  * `newAPIHadoopFile` + `AvroKeyInputFormat` gives the same per-split
  * scan parallelism the FileFormat path would — at 100 TB each
  * executor reads whole blocks between sync points, no driver
  * involvement. Schema is explicit on read (the writer schema is
  * embedded per file, but the mapping to Spark types must not depend
  * on inference). Records are converted to Rows inside the same map
  * (the input format REUSES its AvroKey instance per record — holding
  * references across records would alias them).
  *
  * Caveat vs the native DataSource: rows pass through a Row encoder
  * instead of landing in Tungsten directly, and there's no column
  * pruning inside a record — acceptable for an ingest-then-convert
  * hop; parquet stays the at-rest format.
  */
object AvroIngest {

  /** Spark schema ↔ Avro schema, for the flat primitive tables this
    * engine ingests (nested/logical types go parquet-native instead). */
  def avroSchema(s: StructType, name: String): Schema = {
    def prim(dt: DataType): Schema = dt match {
      case LongType    => Schema.create(Schema.Type.LONG)
      case IntegerType => Schema.create(Schema.Type.INT)
      case DoubleType  => Schema.create(Schema.Type.DOUBLE)
      case FloatType   => Schema.create(Schema.Type.FLOAT)
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case StringType  => Schema.create(Schema.Type.STRING)
      case other => throw new IllegalArgumentException(s"avro ingest: unsupported $other")
    }
    val fields = s.fields.map { f =>
      val t = if (f.nullable)
        Schema.createUnion(Seq(Schema.create(Schema.Type.NULL), prim(f.dataType)).asJava)
      else prim(f.dataType)
      new Schema.Field(f.name, t, null, null)
    }
    Schema.createRecord(name, null, "graft", false, fields.toSeq.asJava)
  }

  /** DataFrame → Avro container files (one per partition, written by
    * the executors through AvroKeyOutputFormat — the distributed write
    * path, not a driver loop). */
  def writeAvro(df: DataFrame, path: String): Unit = {
    val sparkSchema = df.schema
    val schema = avroSchema(sparkSchema, "record")
    val schemaJson = schema.toString
    val names = sparkSchema.fieldNames
    val rdd = df.rdd.mapPartitions { it =>
      val sch = new Schema.Parser().parse(schemaJson)
      it.map { row =>
        val rec = new GenericData.Record(sch)
        var i = 0
        while (i < names.length) {
          rec.put(names(i), row.get(i))
          i += 1
        }
        (new AvroKey[GenericRecord](rec), NullWritable.get())
      }
    }
    val job = Job.getInstance(df.sparkSession.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, schema)
    rdd.saveAsNewAPIHadoopFile(path, classOf[AvroKey[GenericRecord]],
      classOf[NullWritable], classOf[AvroKeyOutputFormat[GenericRecord]],
      job.getConfiguration)
  }

  /** Avro container files → DataFrame with the given (explicit) schema. */
  def avro(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val names = schema.fieldNames
    val rows = spark.sparkContext.newAPIHadoopFile(
      path, classOf[AvroKeyInputFormat[GenericRecord]],
      classOf[AvroKey[GenericRecord]], classOf[NullWritable])
      .map { case (k, _) =>
        val rec = k.datum()
        // materialize every field NOW (record instance is reused);
        // avro strings arrive as Utf8 — convert to String
        Row.fromSeq(names.toSeq.map { n =>
          rec.get(n) match {
            case u: org.apache.avro.util.Utf8 => u.toString
            case v => v
          }
        })
      }
    spark.createDataFrame(rows, schema)
  }

  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  /** The supplier table via the Avro path (parquet → Avro → read
    * back), materialized once per SF directory. Longs/doubles/strings
    * round-trip bit-exactly through Avro's binary encoding, so the
    * DuckDB oracle over the parquet original must hash-match. */
  def supplierAvro(spark: SparkSession, dir: String): DataFrame = {
    val out = LayoutStore.cached(spark, "graft_avro", dir, "supplier", "", "supplier")(tmp =>
      writeAvro(Tables.supplier(spark, dir), tmp))
    avro(spark, out, supplierSchema)
  }
}
