package graft

import java.nio.file.{Files, Paths}

/** `graft.Bench plan` dumps are normalized: two builds of the same
  * query give byte-identical files, so dumps can be diffed across
  * commits. */
class BenchPlanSpec extends SparkTestBase {

  test("two plan dumps of q06 in one session are byte-identical") {
    val (a, b) = (tempDir("graft-plan-a"), tempDir("graft-plan-b"))
    Bench.plan(spark, Sf0001, a, Seq("q06_topk"))
    Bench.plan(spark, Sf0001, b, Seq("q06_topk"))
    val Seq(da, db) = Seq(a, b).map(d => Files.readAllBytes(Paths.get(d, "q06_topk.txt")).toSeq)
    assert(!new String(da.toArray, "UTF-8").startsWith("PLAN FAILED"))
    assert(da === db)
  }

  test("normalizePlan strips expression, plan and RDD ids and call sites") {
    val raw = "Exchange hashpartitioning(k#12L, 4), ENSURE_REQUIREMENTS, [plan_id=345]\n" +
      "Arguments: [k#12L], MapPartitionsRDD[67] at localCheckpoint at Dedup.scala:222, ExistingRDD"
    assert(Bench.normalizePlan(raw) ===
      "Exchange hashpartitioning(k#L, 4), ENSURE_REQUIREMENTS, [plan_id=]\n" +
        "Arguments: [k#L], MapPartitionsRDD[] at localCheckpoint, ExistingRDD")
  }
}
