package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** `Tables.parquet`'s footer-schema cache: a hit runs no Spark job, and
  * every change to what Spark would list or to the type-mapping confs
  * misses and re-infers. Each case plants its own files, so no other
  * suite's reads can have warmed the entry under test. */
class ParquetSchemaCacheSpec extends SparkTestBase {

  /** Spark jobs started while `body` runs, counted after the listener
    * bus has drained. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerDrain.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerDrain.waitUntilEmpty(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def copyTable(name: String, to: String): Unit = {
    Files.copy(Paths.get(s"$Sf0001/$name.parquet"), Paths.get(s"$to/$name.parquet")); ()
  }

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("a second read of the same file starts no Spark job") {
    val dir = tempDir("graft-schemacache-hit")
    copyTable("nation", dir)
    val (first, firstJobs) = jobsDuring(Tables.table(spark, dir, "nation"))
    assert(firstJobs >= 1, "the first read must run Spark's schema-inference job")
    val (second, secondJobs) = jobsDuring(Tables.table(spark, dir, "nation"))
    assert(secondJobs === 0)
    assert(second.schema === first.schema)
    assert(rows(second) === rows(Tables.nation(spark, Sf0001)))
  }

  test("a file rewritten at the same path with another schema reads the new schema") {
    val dir = tempDir("graft-schemacache-rewrite")
    copyTable("nation", dir)
    val path = s"$dir/nation.parquet"
    assert(Tables.parquet(spark, path).schema.fieldNames.toSeq ===
      Seq("n_nationkey", "n_name", "n_regionkey"))
    Files.copy(Paths.get(s"$Sf0001/region.parquet"), Paths.get(path),
      StandardCopyOption.REPLACE_EXISTING)
    val reread = Tables.parquet(spark, path)
    assert(reread.schema.fieldNames.toSeq === Seq("r_regionkey", "r_name"))
    assert(rows(reread) === rows(Tables.region(spark, Sf0001)))

    // a Spark overwrite of a layout directory: new part files, new schema
    import spark.implicits._
    val layout = s"$dir/layout"
    Seq((1L, "a")).toDF("id", "s").write.parquet(layout)
    assert(Tables.parquet(spark, layout).schema.fieldNames.toSeq === Seq("id", "s"))
    Seq((1.5, 2, "b")).toDF("x", "y", "z").write.mode("overwrite").parquet(layout)
    val layoutReread = Tables.parquet(spark, layout)
    assert(layoutReread.schema.fieldNames.toSeq === Seq("x", "y", "z"))
    assert(layoutReread.collect().map(_.toString).toSeq === Seq("[1.5,2,b]"))
  }

  test("the key follows the files Spark lists: a new part file changes it, a marker does not") {
    import spark.implicits._
    val layout = s"${tempDir("graft-schemacache-parts")}/idx"
    Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(layout)
    val k1 = Tables.schemaKey(spark, layout)
    assert(k1.isDefined)
    Files.createFile(Paths.get(s"$layout/_done"))
    assert(Tables.schemaKey(spark, layout) === k1)
    Seq((2L, "b")).toDF("id", "s").coalesce(1).write.mode("append").parquet(layout)
    val k2 = Tables.schemaKey(spark, layout)
    assert(k2.isDefined)
    assert(k2 !== k1)
    assert(Tables.parquet(spark, layout).count() === 2L)

    // partitioned layouts and globs keep the uncached read
    val parted = s"${tempDir("graft-schemacache-parted")}/p"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.partitionBy("s").parquet(parted)
    assert(Tables.schemaKey(spark, parted) === None)
    assert(Tables.parquet(spark, parted).count() === 2L)
    assert(Tables.schemaKey(spark, s"$Sf0001/region.parq*") === None)
  }

  test("type-mapping confs are part of the key: nanosAsLong and inferTimestampNTZ on events.ts") {
    val dir = tempDir("graft-schemacache-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val factory = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try Seq(1L -> 1000000123L, 2L -> 2000000456L).foreach { case (id, ns) =>
      writer.write(factory.newGroup().append("event_id", id).append("ts", ns))
    } finally writer.close()
    val path = s"$dir/events.parquet"

    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assert(Tables.parquet(spark, path).schema("ts").dataType === LongType)
      assert(Tables.events(spark, dir).select("ts").collect().map(_.getLong(0)).sorted.toSeq ===
        Seq(1000000123L, 2000000456L))
    }
    // off: the LongType entry is not served; inference runs and Spark
    // rejects TIMESTAMP(NANOS) as it does without the cache
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      val e = intercept[Exception](Tables.parquet(spark, path))
      assert(messages(e).contains("PARQUET_TYPE_ILLEGAL"), messages(e))
    }

    // the testdata's events.ts is TIMESTAMP(MICROS, isAdjustedToUTC=false)
    val micros = tempDir("graft-schemacache-micros")
    copyTable("events", micros)
    val ntz = withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "true") {
      Tables.parquet(spark, s"$micros/events.parquet").schema("ts").dataType
    }
    val ltz = withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false") {
      Tables.parquet(spark, s"$micros/events.parquet").schema("ts").dataType
    }
    assert(ntz === TimestampNTZType)
    assert(ltz === TimestampType)
    // either way the loader hands out INT64 nanoseconds
    assert(Tables.events(spark, micros).schema("ts").dataType === LongType)
  }

  test("two threads reading one path concurrently both succeed") {
    val dir = tempDir("graft-schemacache-threads")
    copyTable("customer", dir)
    val expected = Tables.customer(spark, Sf0001).count()
    val start = new java.util.concurrent.CountDownLatch(1)
    val reads = (1 to 2).map(_ => Future {
      start.await()
      val df = Tables.table(spark, dir, "customer")
      (df.schema, df.count())
    })
    start.countDown()
    val out = reads.map(Await.result(_, 2.minutes))
    assert(out.map(_._2) === Seq(expected, expected))
    assert(out.map(_._1).distinct.size === 1)
  }
}
