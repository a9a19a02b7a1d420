package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated code is compiled once per JVM. A repeated query mix finds
  * every class in the code cache, which `Sessions.confs` sizes above
  * the classes the registry compiles, and a stream's re-run on a new
  * session of its own finds them too, since every session shares the
  * executor's classloader (part of the cache key). */
class CodegenReuseSpec extends SparkTestBase {

  /** perfbench's olap workload. */
  private val olap = Seq("q01_pricing_summary", "q04_star_join", "q07_window_rank",
    "q12_rollup", "q21_sessionize", "q23_csv_ingest", "q24_sql_revenue", "q26_json_ingest",
    "q47_group_topk", "q53_avro_ingest", "q73_pagerank", "q84_incremental_join",
    "q88_orc_ingest", "q95_bucketed_join")

  private val streams = Seq("st1_stream_counts", "st2_stream_enrich", "st7_stream_dedup")

  /** Classes compiled while `body` runs. */
  private def compiled(body: => Unit): Long = {
    val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0
  }

  /** `name` built and written to the noop sink, as `graft.Bench` does. */
  private def run(name: String): Unit = {
    Sessions.clearCaches(spark)
    Bench.sink(SparkEntry.queries(name)(spark, Sf0001))
  }

  test("a second round of the olap queries compiles no class") {
    val first = compiled(olap.foreach(run))
    assert(first > 0L)
    assert(compiled(olap.foreach(run)) === 0L, s"first round compiled $first")
  }

  test("a stream's second run compiles no class") {
    val second = streams.map { q => run(q); q -> compiled(run(q)) }
    assert(second === streams.map(_ -> 0L))
  }
}
