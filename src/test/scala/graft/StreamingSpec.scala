package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStreams
import graft.streaming.EventStreams.{ClosedSession, Event, SessionUpdate, UserEpoch}

/** §2.F Structured Streaming specs: memory source → memory sink,
  * asserting batch-equivalent semantics (SURVEY.md §2.F). */
class StreamingSpec extends SparkTestBase {

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  test("windowed counts with watermark aggregate per hour/event_type") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    source.addData(
      Event(1, ts(10), 1, "click", 1.0),
      Event(2, ts(20), 1, "click", 2.0),
      Event(3, ts(70), 2, "view", 5.0),
      Event(4, ts(130), 1, "click", 3.0))
    val q = EventStreams.windowedCounts(source.toDF())
      .writeStream.format("memory").queryName("wc").outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("wc").collect()
      .map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows === Set(
      (0L, "click", 2L, 3.0),
      (60L, "view", 1L, 5.0),
      (120L, "click", 1L, 3.0)))
  }

  test("file-source stream: windowed counts equal the batch answer") {
    import spark.implicits._
    val dir = tempDir("graft-stream")
    val data = (1 to 200).map(i =>
      Event(i.toLong, ts(i * 7L), i % 10L, if (i % 3 == 0) "view" else "click", i.toDouble))
    val df = data.toDF()
    df.write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(df.schema).parquet(dir)
    val q = EventStreams.windowedCounts(streamed)
      .writeStream.format("memory").queryName("fwc").outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("fwc").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val want = EventStreams.windowedCounts0Batch(df).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("windowed heavy hitters: hot token exact per window at small vocab") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Timestamp, String)]
    // window [0h,1h): "hot" ×6, others ×1 each; window [1h,2h): "cold" ×3
    source.addData(
      (ts(5), "hot hot hot alpha beta"),
      (ts(25), "hot hot hot gamma"),
      (ts(70), "cold cold cold delta"))
    val q = EventStreams.windowedHotTokens(
        source.toDF().toDF("ts", "text"), capacity = 64)
      .writeStream.format("memory").queryName("hht").outputMode(OutputMode.Update()).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("hht").collect()
      .map(r => (r.getTimestamp(0).getTime / 60000, r.getLong(1), r.getString(2), r.getLong(3)))
    // capacity > vocab → MG never decrements → estimates are exact
    val w0 = rows.filter(_._1 == 0L)
    assert(w0.head._2 === 1L && w0.head._3 === "hot" && w0.head._4 === 6L)
    val w1 = rows.filter(_._1 == 60L)
    assert(w1.head._3 === "cold" && w1.head._4 === 3L)
  }

  test("windowed bitmap distinct: exact across micro-batches, dups collapse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    // batch 1: users 1,2,1 in window 0; batch 2 re-adds user 1 (same
    // window — must NOT double count) and opens window 1 with user 7
    val q = EventStreams.windowedDistinctUsers(source.toDF())
      .writeStream.format("memory").queryName("wdu").outputMode(OutputMode.Update()).start()
    try {
      source.addData(
        Event(1, ts(5), 1, "click", 0), Event(2, ts(10), 2, "click", 0),
        Event(3, ts(15), 1, "click", 0))
      q.processAllAvailable()
      source.addData(Event(4, ts(20), 1, "click", 0), Event(5, ts(70), 7, "view", 0))
      q.processAllAvailable()
    } finally q.stop()
    // memory sink in Update mode keeps every emitted version; the
    // LAST row per group is the current exact count
    val rows = spark.table("wdu").collect()
      .map(r => ((r.getTimestamp(0).getTime / 60000, r.getString(1)), r.getLong(2)))
    val last = rows.zipWithIndex.groupBy(_._1._1).map { case (k, vs) => k -> vs.maxBy(_._2)._1._2 }
    assert(last === Map((0L, "click") -> 2L, (60L, "view") -> 1L))
  }

  test("stream-static enrichment joins dim attributes with no stream state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    source.addData(
      Event(1, ts(1), 1, "click", 1.0),
      Event(2, ts(2), 2, "view", 2.0),
      Event(3, ts(3), 99, "click", 3.0)) // user 99 has no dim row
    val dims = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment")
    val q = EventStreams.enrichedEvents(source.toDF(), dims)
      .writeStream.format("memory").queryName("enr").outputMode(OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("enr").select("event_id", "segment").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(rows === Map(1L -> Some("gold"), 2L -> Some("silver"), 3L -> None))
    // no state: the progress counters report zero state rows
    // (stateOperators is empty for a stateless micro-batch plan)
    assert(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty)
  }

  test("flatMapGroupsWithState emits exactly the closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = EventStreams.closedSessions(source.toDS())
      .writeStream.format("memory").queryName("closed").outputMode(OutputMode.Append()).start()
    try {
      // session A: 0–10min; gap > 30min; session B: 50min, still open
      source.addData(Event(1, ts(0), 1, "a", 0), Event(2, ts(10), 1, "a", 0))
      q.processAllAvailable()
      source.addData(Event(3, ts(50), 1, "a", 0))
      q.processAllAvailable()
      // user 2: two sessions closed inside ONE batch, third open
      source.addData(Event(4, ts(0), 2, "b", 0), Event(5, ts(40), 2, "b", 0), Event(6, ts(80), 2, "b", 0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("closed").as[ClosedSession].collect().toSet
    assert(got === Set(
      ClosedSession(1L, ts(0).getTime, ts(10).getTime, 2L),
      ClosedSession(2L, ts(0).getTime, ts(0).getTime, 1L),
      ClosedSession(2L, ts(40).getTime, ts(40).getTime, 1L)))
  }

  test("native session_window emits gap-closed sessions consistent with the state machine") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = EventStreams.sessionWindows(source.toDS().toDF(), gapMinutes = 30,
        delay = "1 hour")
      .writeStream.format("memory").queryName("swin").outputMode(OutputMode.Append()).start()
    try {
      // user 1: one session of two events (0, 10); user 2: singleton at 5
      source.addData(Event(1, ts(0), 1, "a", 1.0), Event(2, ts(10), 1, "a", 2.0),
        Event(3, ts(5), 2, "b", 4.0))
      q.processAllAvailable()
      // heartbeat advances the watermark past every session's close
      source.addData(Event(99, ts(300), 99, "hb", 0.0))
      q.processAllAvailable()
      source.addData(Event(100, ts(301), 99, "hb", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("swin").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
        r.getLong(3), r.getDouble(4))).toSet
    // session end = last event + gap (window closure semantics)
    assert(got === Set(
      (1L, ts(0).getTime, ts(10).getTime + 30 * 60000L, 2L, 3.0),
      (2L, ts(5).getTime, ts(5).getTime + 30 * 60000L, 1L, 4.0)))
  }

  test("streaming dedup drops redelivered event_ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = EventStreams.dedupedEvents(source.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode(OutputMode.Append()).start()
    try {
      source.addData(Event(1, ts(1000), 1, "a", 0), Event(2, ts(1001), 1, "a", 0),
        Event(1, ts(1000), 1, "a", 0)) // intra-batch redelivery
      q.processAllAvailable()
      source.addData(Event(2, ts(1002), 1, "a", 0), // cross-batch redelivery
        Event(3, ts(1003), 1, "a", 0))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === Seq(1L, 2L, 3L))
  }

  test("event-time timeout closes the open tail and evicts its state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    // gap 30 min, watermark delay 10 min
    val q = EventStreams.closedSessions(source.toDS(), 30, Some("10 minutes"))
      .writeStream.format("memory").queryName("evict").outputMode(OutputMode.Append()).start()
    try {
      // timeline starts at 1000min — epoch 0 would collide with the
      // initial watermark (ts ≤ wm rows are dropped as late)
      // user 1: open session [1000, 1010] — nothing closed yet
      source.addData(Event(1, ts(1000), 1, "a", 0), Event(2, ts(1010), 1, "a", 0))
      q.processAllAvailable()
      // user 9 far in the future pushes the watermark to 1100−10 =
      // 1090min, past user 1's timeout at 1010+30 = 1040min → session
      // must be emitted by TIMEOUT (no further user-1 event arrives).
      source.addData(Event(3, ts(1100), 9, "a", 0))
      q.processAllAvailable()
      source.addData(Event(4, ts(1101), 9, "a", 0)) // extra batch: timeout fires
      q.processAllAvailable()
      // late event for user 1 at 1020min (< watermark 1090) is dropped:
      // must not resurrect or re-extend the closed session
      source.addData(Event(5, ts(1020), 1, "a", 0))
      q.processAllAvailable()
      source.addData(Event(6, ts(1102), 9, "a", 0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("evict").as[ClosedSession].collect().toSet
    assert(got === Set(ClosedSession(1L, ts(1000).getTime, ts(1010).getTime, 2L)))
  }

  test("idle custom state retires via event-time timeout; a returning user re-opens cleanly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    // idle gap 30 min, watermark delay 10 min
    val q = EventStreams.userTotalsRetiring(source.toDS(), 30, "10 minutes")
      .writeStream.format("memory").queryName("retire")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1's first activity epoch: 2 events at 1000/1010 min
      source.addData(Event(1, ts(1000), 1, "a", 3.0), Event(2, ts(1010), 1, "a", 2.0))
      q.processAllAvailable()
      // user 9 at 1100 pushes the watermark to 1090 > 1010+30=1040 →
      // user 1 is provably idle; extra batch lets the timeout fire
      source.addData(Event(3, ts(1100), 9, "b", 1.0))
      q.processAllAvailable()
      source.addData(Event(4, ts(1101), 9, "b", 1.0))
      q.processAllAvailable()
      // user 1's key has LEFT the store: only user 9's row remains
      assert(q.lastProgress.stateOperators(0).numRowsTotal === 1L)
      // user 1 RETURNS at 1200 (on-time: watermark is 1091) → a fresh
      // epoch starting from zero, not a resurrected counter
      source.addData(Event(5, ts(1200), 1, "a", 7.0))
      q.processAllAvailable()
      // advance the watermark past 1200+30 → the second epoch retires
      source.addData(Event(6, ts(1300), 9, "b", 1.0))
      q.processAllAvailable()
      source.addData(Event(7, ts(1301), 9, "b", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("retire").as[UserEpoch].collect()
      .filter(_.user_id == 1L).sortBy(_.first_ts)
    assert(got.toSeq === Seq(
      UserEpoch(1L, 2L, 5000000L, ts(1000).getTime, ts(1010).getTime),
      UserEpoch(1L, 1L, 7000000L, ts(1200).getTime, ts(1200).getTime)))
  }

  test("stream-stream interval join attributes purchases to preceding clicks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = EventStreams.purchaseAttribution(source.toDF())
      .writeStream.format("memory").queryName("attr").outputMode(OutputMode.Append()).start()
    try {
      source.addData(
        Event(1, ts(1000), 1, "click", 0),
        Event(2, ts(1030), 1, "purchase", 9.5), // 30 min after click → match
        Event(3, ts(1070), 1, "purchase", 2.0), // 70 min > 1h horizon → no match
        Event(4, ts(1030), 2, "purchase", 5.0)) // user 2 never clicked
      q.processAllAvailable()
      source.addData(Event(5, ts(1040), 1, "purchase", 1.0)) // cross-batch match
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5))).toSet
    assert(got === Set((1L, 1L, 2L, 9.5), (1L, 1L, 5L, 1.0)))
  }

  test("stream-stream join buffers are watermark-evicted, not lifetime-grown") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = EventStreams.purchaseAttribution(source.toDF())
      .writeStream.format("memory").queryName("attrstate")
      .outputMode(OutputMode.Append()).start()
    try {
      // 3 clicks + 1 purchase buffered (timeline at 1000min — epoch 0
      // would collide with the initial watermark)
      source.addData(
        Event(1, ts(1000), 1, "click", 0), Event(2, ts(1001), 2, "click", 0),
        Event(3, ts(1002), 3, "click", 0), Event(4, ts(1030), 1, "purchase", 7.0))
      q.processAllAvailable()
      val before = q.lastProgress.stateOperators(0).numRowsTotal
      assert(before === 4L)
      // far-ahead events on BOTH sides push the global watermark
      // (min over the click- and purchase-side watermark operators —
      // advancing only one side pins the global watermark and evicts
      // nothing) to 3000−120 = 2880min, past every horizon: clicks
      // (< wm − 1 h) and the old purchase (< wm) must leave the join
      // state; the extra batch lets the store apply eviction under
      // the advanced watermark. Users 8≠9 so no new match emits.
      source.addData(Event(5, ts(3000), 8, "click", 0),
        Event(6, ts(3000), 9, "purchase", 0))
      q.processAllAvailable()
      source.addData(Event(7, ts(3001), 8, "click", 0),
        Event(8, ts(3001), 9, "purchase", 0))
      q.processAllAvailable()
      val after = q.lastProgress.stateOperators(0).numRowsTotal
      // only the four far-ahead rows remain buffered
      assert(after === 4L, s"old buffered rows must evict (state=$after)")
      // and the join itself still attributed the in-horizon purchase
      val got = spark.table("attrstate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5))).toSet
      assert(got === Set((1L, 1L, 4L, 7.0)))
    } finally q.stop()
  }

  test("checkpointed file sink resumes exactly-once across a restart") {
    import spark.implicits._
    val base = tempDir("graft-ckpt")
    val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    val mk = (r: Range) => r.map(i => Event(i.toLong, ts(i.toLong), i % 5L, "click", i.toDouble))
    mk(1 to 100).toDF().write.mode("append").parquet(src)
    val schema = mk(1 to 1).toDF().schema
    // the pipeline under test: file source → checkpointed file sink —
    // the sink's commit log makes replayed batches idempotent, so a
    // stop/restart (or a crash) cannot duplicate or lose rows
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(sink).count() === 100L)
    mk(101 to 150).toDF().write.mode("append").parquet(src)
    run() // restart from the checkpoint: processes ONLY the new files
    val ids = spark.read.parquet(sink).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (1L to 150L))
  }

  test("stateful sessionization matches batch gap semantics across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = EventStreams.sessionize(source.toDS())
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Update()).start()
    try {
      // user 1: events at 0 and 10min (1 session), then 50min (> 30min gap → 2nd session)
      source.addData(Event(1, ts(0), 1, "a", 0), Event(2, ts(10), 1, "a", 0))
      q.processAllAvailable()
      source.addData(Event(3, ts(50), 1, "a", 0), Event(4, ts(55), 2, "b", 0))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("sess").as[SessionUpdate].collect()
      .groupBy(_.user_id).map { case (u, rows) => u -> rows.maxBy(_.n_events) }
    assert(last(1L) === SessionUpdate(1L, 2L, 3L))
    assert(last(2L) === SessionUpdate(2L, 1L, 1L))
  }

  test("sessionize with watermark evicts idle-user counter state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    // gap 30 min, watermark delay 10 min
    val q = EventStreams.sessionize(source.toDS(), 30, Some("10 minutes"))
      .writeStream.format("memory").queryName("sessev").outputMode(OutputMode.Update()).start()
    try {
      // user 1: two events, one session (timeline starts at 1000min —
      // epoch 0 would collide with the initial watermark)
      source.addData(Event(1, ts(1000), 1, "a", 0), Event(2, ts(1010), 1, "a", 0))
      q.processAllAvailable()
      val before = q.lastProgress.stateOperators(0).numRowsTotal
      assert(before === 1L) // user 1's counters are in the store
      // user 9 far in the future pushes the watermark past user 1's
      // timeout at 1010+30 = 1040min → user 1's state must evict
      source.addData(Event(3, ts(1100), 9, "a", 0))
      q.processAllAvailable()
      source.addData(Event(4, ts(1101), 9, "a", 0)) // extra batch: timeout fires
      q.processAllAvailable()
      source.addData(Event(5, ts(1102), 9, "a", 0))
      q.processAllAvailable()
      val after = q.lastProgress.stateOperators(0).numRowsTotal
      assert(after === 1L) // ONLY user 9 remains — user 1 was dropped
      // counters emitted before eviction were still the exact ones
      val u1 = spark.table("sessev").as[SessionUpdate].collect()
        .filter(_.user_id == 1L).maxBy(_.n_events)
      assert(u1 === SessionUpdate(1L, 1L, 2L))
    } finally q.stop()
  }
}
