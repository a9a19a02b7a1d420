package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{BenchCpu, Sessions, SparkEntry}
import graft.queries.{CoreQueries, SqlQueries, PipelineQueries => PQ}
import graft.sources.{AvroIngest, CsvIngest, OrcIngest}

/** JVM half of the benchmark; `perfbench/run.py` launches it, one fresh
  * JVM per run, and turns the record it writes into metrics.
  *
  * A run is a closed loop with one client: the session is built, the
  * workload's layouts are cold-built into the empty layout root
  * (`java.io.tmpdir`), one untimed warm-up pass runs, then
  * timed passes start while less than `--seconds` have passed (at least
  * one). Each pass visits the workload's queries once, in an order drawn
  * from `--seed`. Every query is timed in two parts, construction
  * (`SparkEntry.queries(name)(spark, dir)`) and the noop sink
  * `graft.Bench` uses. The sink's plan carries an `observe` that counts
  * the rows and sums a hash of each one, so the output check reads the
  * same execution that was timed.
  *
  * With `--trace 1` the listeners Spark exposes (jobs, stages, tasks,
  * Catalyst phase times, streaming progress) are recorded as raw
  * events next to the harness's own spans; run.py assembles the span
  * tree. With `--trace 0` only `graft.BenchCpu`'s task-end CPU counter
  * is registered.
  */
object Harness {

  final case class Opts(workload: String, queries: Seq[String], layouts: Seq[String],
      seed: Long, seconds: Double, trace: Boolean, data: String, out: String, cpus: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    def list(k: String) = m.getOrElse(k, "").split(',').toSeq.filter(_.nonEmpty)
    Opts(need("workload"), list("queries"), list("layouts"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("out"),
      m.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt)
  }

  /** The layout families the workloads build, in
    * `PipelineQueries.prebuildLayouts` order, each with the public
    * build-if-missing call that writes it. */
  val layouts: Seq[(String, (SparkSession, String) => Any)] =
    Seq[(String, (SparkSession, String) => Any)](
      ("shidx", (s, d) => PQ.cachedShingleIndex(s, d)),
      ("blidx", (s, d) => PQ.cachedBoilerIndex(s, d, 3)),
      ("simidx", (s, d) => PQ.cachedSimhashIndex(s, d)),
      ("phidx", (s, d) => PQ.cachedPhashIndex(s, d)),
      ("ann_ivf", (s, d) => PQ.cachedAnnIndex(s, d, "ivf")),
      ("ann_ivf_delta", (s, d) => PQ.cachedAnnIndex(s, d, "ivf_delta")),
      ("csv", (s, d) => CsvIngest.customerCsv(s, d)),
      ("json", (s, d) => CsvIngest.documentsJson(s, d)),
      ("avro", (s, d) => AvroIngest.supplierAvro(s, d)),
      ("prgraph", (s, d) => CoreQueries.q73GraphLayout(s, d)),
      ("ivmview", (s, d) => CoreQueries.q84StandingViewPath(s, d)),
      ("orc", (s, d) => OrcIngest.ordersOrc(s, d)),
      ("bucketed", (s, d) => SqlQueries.q95BucketedJoin(s, d)))

  // ---------------------------------------------------------------- clock

  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-ms resolution, comparable with listener times. */
  def nowMs(): Double = baseEpochMs + (System.nanoTime() - baseNano) / 1e6

  // ---------------------------------------------------------------- spans

  /** A harness span; `group` is the Spark job group set while it was open. */
  final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
      val group: String, val start: Double, var end: Double = Double.NaN)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](kind: String, name: String, group: String = null)(body: => T): (T, Span) = {
    val sp = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), kind, name, group,
      nowMs())
    spans += sp
    open = sp :: open
    try (body, sp)
    finally { sp.end = nowMs(); open = open.tail }
  }

  // ------------------------------------------------------------ listeners

  final class StageAgg {
    var submit = 0.0; var complete = 0.0; var numTasks = 0; var failed = false
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L; var waitMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
    var input = 0L; var taskFailures = 0L
  }
  final case class JobRec(id: Int, group: String, start: Double, stages: Seq[Int],
      var end: Double = Double.NaN, var ok: Boolean = true)

  /** Jobs, stages and task metrics; registered only when tracing. */
  final class ExecListener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
    private def stage(id: Int, attempt: Int) = stages.getOrElseUpdate((id, attempt), new StageAgg)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      synchronized {
        val s = stage(e.stageId, e.stageAttemptId)
        s.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) s.taskFailures += 1
        if (s.submit > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submit.toLong)
        if (m != null) {
          s.cpuNs += m.executorCpuTime; s.runMs += m.executorRunTime; s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
          s.input += m.inputMetrics.bytesRead
        }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.submit = i.submissionTime.map(_.toDouble).getOrElse(nowMs())
      s.numTasks = i.numTasks
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      if (s.submit == 0.0) s.submit = i.submissionTime.map(_.toDouble).getOrElse(nowMs())
      s.complete = i.completionTime.map(_.toDouble).getOrElse(nowMs())
      s.numTasks = i.numTasks
      s.failed = i.failureReason.isDefined
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobs(e.jobId) = JobRec(e.jobId, g, e.time.toDouble, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time.toDouble
        j.ok = e.jobResult == JobSucceeded
      }
    }
  }

  final case class CatalystRec(func: String, ok: Boolean,
      phases: Seq[(String, Double, Double)])

  final class PlanListener extends QueryExecutionListener {
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[CatalystRec]()
    private def add(f: String, qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases.toSeq.map { case (n, p) =>
        (n, p.startTimeMs.toDouble, p.endTimeMs.toDouble) }.sortBy(_._2)
      recs.add(CatalystRec(f, ok, ph)); ()
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = add(f, qe, true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(f, qe, false)
  }

  final class StreamListener extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      batches.add(Map(
        "name" -> Option(p.name).getOrElse(""), "batch" -> p.batchId,
        "start" -> start, "end" -> (start + d.getOrElse("triggerExecution", 0L)),
        "durations" -> d,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "input_rows" -> p.numInputRows)); ()
    }
  }

  // ------------------------------------------------------------ outputs

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | _: MapType => true
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case ArrayType(et, _) => needsNorm(et)
    case _ => false
  }

  /** Canonical form for the content digest. Doubles are cast to float,
    * so a last-bit difference from summation order does not change the
    * hash; maps become a sorted array of entry hashes, since Spark does
    * not hash maps and map entry order is not part of the value. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case st: StructType if needsNorm(st) =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) => array_sort(transform(map_entries(c), e =>
      xxhash64(norm(e.getField("key"), kt), norm(e.getField("value"), vt))))
    case _ => c
  }

  /** The timed sink: `graft.Bench`'s noop full-result write, with an
    * `observe` that yields (rows, digest) from the same execution. */
  private def sinkObserved(df: DataFrame, name: String): Observation = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toIndexedSeq.map(f => norm(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val obs = Observation(name)
    named.observe(obs, count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
      .write.format("noop").mode("overwrite").save()
    obs
  }

  private def schemaString(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(",")

  // ---------------------------------------------------------------- files

  private def walk(f: File): Iterator[File] =
    if (f.isDirectory) Iterator(f) ++ Option(f.listFiles()).iterator.flatten.flatMap(walk)
    else Iterator(f)

  private def bytesUnder(root: File): Long = walk(root).filter(_.isFile).map(_.length).sum

  /** Write-once layout directories (named with `Tables.layoutKey`, which
    * embeds a 32-hex digest) and their immediate children. A path that
    * appears here during the timed passes is a layout written there. */
  private val LayoutName = ".*_[0-9a-f]{32}_.*".r
  private def layoutDirs(root: File): Set[String] =
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && LayoutName.matches(f.getName))
      .flatMap(f => f.getName +: Option(f.listFiles()).toSeq.flatten
        .filter(_.isDirectory).map(c => s"${f.getName}/${c.getName}"))
      .toSet

  // ---------------------------------------------------------------- json

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case a: Array[_] => json(a.toSeq)
    case other => json(other.toString)
  }

  // ---------------------------------------------------------------- main

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val names = o.queries
    val unknownQ = names.filterNot(SparkEntry.queries.contains)
    require(names.nonEmpty && unknownQ.isEmpty, s"unknown queries ${unknownQ.mkString(",")}")
    val unknown = o.layouts.filterNot(l => layouts.exists(_._1 == l))
    require(unknown.isEmpty, s"unknown layout families ${unknown.mkString(",")}")
    val rng = new scala.util.Random(o.seed)
    val root = new File(System.getProperty("java.io.tmpdir"))
    val rec = mutable.LinkedHashMap.empty[String, Any]
    rec("workload") = o.workload; rec("seed") = o.seed; rec("cpus") = o.cpus
    rec("trace") = o.trace; rec("queries") = names.size

    val (spark, _) = span("session", "session") {
      Sessions.perf(SparkSession.builder()
        .master(s"local[${o.cpus}]")
        .config("spark.sql.shuffle.partitions", o.cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.broadcastTimeout", "1200")
        .config("spark.ui.enabled", "false"))
        .getOrCreate()
    }
    rec("session_ready_ms") = nowMs()
    rec("spark_version") = spark.version
    rec("java_version") = System.getProperty("java.version")
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val cpuNow = BenchCpu.install(spark)
    val exec = new ExecListener
    val plans = new PlanListener
    val streams = new StreamListener
    if (o.trace) {
      sc.addSparkListener(exec)
      spark.listenerManager.register(plans)
      spark.streams.addListener(streams)
    }
    /** A span whose Spark jobs carry `group`, so the trace can attach them. */
    def grouped[T](kind: String, name: String, group: String)(body: => T): (T, Span) =
      span(kind, name, group) {
        sc.setJobGroup(group, s"$kind $name", interruptOnCancel = false)
        try body finally sc.clearJobGroup()
      }
    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    // ---- setup: cold layout builds into the empty root
    val builds = layouts.filter(l => o.layouts.contains(l._1))
    val built = mutable.LinkedHashMap.empty[String, Any]
    builds.foreach { case (name, build) =>
      clearCaches()
      val c0 = cpuNow()
      val (_, sp) = grouped("layout", name, s"layout:$name") { build(spark, o.data) }
      System.err.println(f"[perfbench] layout $name ${(sp.end - sp.start) / 1e3}%.3f")
      built(name) = Map("wall_s" -> (sp.end - sp.start) / 1e3, "cpu_s" -> (cpuNow() - c0) / 1e9)
    }
    rec("layouts") = built
    if (o.trace) {
      val probe = mutable.LinkedHashMap.empty[String, Double]
      builds.foreach { case (name, build) =>
        val (_, sp) = grouped("probe", name, s"probe:$name") { build(spark, o.data) }
        probe(name) = (sp.end - sp.start) / 1e3
      }
      rec("probe_s") = probe
    }

    // ---- passes
    val results = mutable.ArrayBuffer.empty[Map[String, Any]]
    /** One pass over the queries, in an order drawn from the seed. */
    def runPass(label: String): Map[String, Any] = {
      val order = rng.shuffle(names)
      val (qs, sp) = span("pass", label) {
        order.map { q =>
          clearCaches()
          var rows = -1L; var digest: String = null; var schema: String = null; var err: String = null
          var tc = Double.NaN; var ts = Double.NaN
          val c0 = cpuNow()
          val (_, qsp) = span("query", q) {
            try {
              val (df, csp) = grouped("construct", q, s"$label:construct:$q") {
                SparkEntry.queries(q)(spark, o.data)
              }
              tc = (csp.end - csp.start) / 1e3
              schema = schemaString(df)
              val (obs, ssp) = grouped("sink", q, s"$label:sink:$q") { sinkObserved(df, s"chk_${label}_$q") }
              ts = (ssp.end - ssp.start) / 1e3
              val r = obs.get
              rows = r("n").asInstanceOf[Long]
              def part(k: String) = Option(r(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
              digest = f"${part("hi")}%x-${part("lo")}%x"
            } catch { case e: Throwable =>
              err = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
              System.err.println(s"[perfbench] $label $q FAILED: $err")
            }
          }
          val cpu = (cpuNow() - c0) / 1e9
          System.err.println(f"[perfbench] $label $q construct=$tc%.3f sink=$ts%.3f cpu=$cpu%.3f")
          Map("name" -> q, "wall_s" -> (tc + ts), "span_s" -> (qsp.end - qsp.start) / 1e3,
            "construct_s" -> tc, "sink_s" -> ts, "cpu_s" -> cpu, "ok" -> (err == null),
            "error" -> err, "rows" -> rows, "schema" -> schema, "digest" -> digest)
        }
      }
      Map("label" -> label, "span_s" -> (sp.end - sp.start) / 1e3, "queries" -> qs)
    }
    rec("warmup") = runPass("warmup")
    rec("layout_bytes") = bytesUnder(root)
    rec("setup_end_ms") = nowMs()
    val before = layoutDirs(root)
    // Timed window: complete passes, started while less than --seconds
    // have passed; at least one.
    val t0 = System.nanoTime()
    while (results.isEmpty || (System.nanoTime() - t0) / 1e9 < o.seconds)
      results += runPass(s"p${results.size + 1}")
    rec("measure_s") = (System.nanoTime() - t0) / 1e9
    rec("passes") = results
    rec("layout_misses") = (layoutDirs(root) -- before).toSeq.sorted

    if (o.trace) {
      ListenerDrain.waitUntilEmpty(sc)
      rec("spans") = spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "group" -> s.group, "start" -> s.start, "end" -> s.end))
      exec.synchronized {
        rec("jobs") = exec.jobs.values.map(j => Map("id" -> j.id, "group" -> j.group,
          "start" -> j.start, "end" -> j.end, "ok" -> j.ok, "stages" -> j.stages))
        rec("stages") = exec.stages.map { case ((id, att), s) => Map("id" -> id, "attempt" -> att,
          "start" -> s.submit, "end" -> s.complete, "num_tasks" -> s.numTasks, "failed" -> s.failed,
          "tasks" -> s.tasks, "cpu_ns" -> s.cpuNs, "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
          "wait_ms" -> s.waitMs, "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
          "spill" -> s.spill, "peak_mem" -> s.peakMem, "input" -> s.input,
          "task_failures" -> s.taskFailures) }
      }
      rec("catalyst") = plans.recs.asScala.map(c => Map("func" -> c.func, "ok" -> c.ok,
        "phases" -> c.phases.map { case (p, s, e) => Map("phase" -> p, "start" -> s, "end" -> e) }))
      rec("stream_batches") = streams.batches.asScala.toSeq
    }
    spark.stop()
    Files.write(Paths.get(o.out), json(rec).getBytes(StandardCharsets.UTF_8))
    ()
  }
}
