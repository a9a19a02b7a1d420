package graft

import org.apache.spark.sql.types.LongType

import graft.queries.StreamQueries

/** The specs run under the configuration the benchmark and the mains
  * use, and the events loaders leave the caller's session confs alone. */
class SessionsSpec extends SparkTestBase {

  test("the shared test session carries every Sessions.confs entry") {
    Sessions.confs.foreach { case (k, v) =>
      assert(spark.conf.getOption(k) === Some(v), k)
    }
  }

  test("events loaders do not set nanosAsLong; ts is still INT64 ns without it") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    withConf(key, "false") {
      val batch = Tables.events(spark, Sf0001)
      val stream = StreamQueries.eventsStreamFrom(spark, Sf0001, None)
      assert(spark.conf.get(key) === "false")
      assert(batch.schema("ts").dataType === LongType)
      assert(stream.schema("ts").dataType === LongType)
      assert(stream.isStreaming)
    }
  }
}
