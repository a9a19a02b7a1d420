package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** The tool main, one subcommand per job:
  *  - no argument, or `board`: the benchmark board — every registry
  *    query timed on `SPARK_GRAFT_SF_DIR` (default sf0.1); one compact
  *    JSON line on stdout, the per-query map in `BENCH_LAST.json`.
  *  - `one <sfDir> <query>...`: the named queries timed like the board,
  *    with the classes each rep compiled (0 once the code cache holds
  *    the query's generated code).
  *  - `rows <sfDir> [<query>...]`: every query's row count, or the
  *    named queries' rows.
  *  - `plan <sfDir> <outDir> <query>...`: each named query's formatted
  *    physical plan after execution (the final adaptive plan),
  *    normalized by [[normalizePlan]], written to `<outDir>/<query>.txt`. */
object Bench {
  /** Full-result sink (round 15 — VERDICT r14 #1). `count()` let
    * Catalyst prune any work whose result doesn't affect the row
    * count: map-heavy entries (tx7's normalize, tx9's PII regexes,
    * mm4's resize, every pure per-row transform) billed at near-zero,
    * and tx11's train-side semi-join read ~0.2 s under count() vs
    * 10.3 s honest — the headline artifact systematically
    * under-measured exactly the shapes a 100 TB pipeline pays for.
    * The noop data source (ScaleBench's sink since round 13)
    * materializes EVERY output column through the full physical plan
    * with no write-side cost. BENCH_r15 is therefore re-baselined:
    * r15-vs-r13/r14 walls are NOT comparable; BASELINE.json carries
    * both sink generations side by side (VERDICT r14 #8). */
  private[graft] def sink(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Timed runs per query; the minimum is reported. The container's
    * host contention swings single samples 3–20×, which made one-pass
    * round-over-round artifacts nearly meaningless for regression
    * detection (round 6: two same-code passes read 147 s and 626 s);
    * min-of-N recovers the plan's intrinsic cost at N× wall-clock.
    * Reps run back-to-back per query (not pass-by-pass) so each
    * query's samples share one cache state. */
  private val Reps = 2

  private val Usage =
    "usage: graft.Bench [board | one <sfDir> <query>... | rows <sfDir> [<query>...] | " +
      "plan <sfDir> <outDir> <query>...]"

  def main(args: Array[String]): Unit = {
    def named(qs: List[String]): List[String] = {
      val unknown = qs.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      qs
    }
    val cmd: SparkSession => Unit = args.toList match {
      case Nil | List("board") => board
      case "one" :: sf :: qs if qs.nonEmpty => val ns = named(qs); one(_, sf, ns)
      case "rows" :: sf :: qs => val ns = named(qs); rows(_, sf, ns)
      case "plan" :: sf :: out :: qs if qs.nonEmpty => val ns = named(qs); plan(_, sf, out, ns)
      case _ => System.err.println(Usage); sys.exit(2)
    }
    val spark = Sessions.local()
    try cmd(spark) finally spark.stop()
  }

  /** One sink run: wall s, executor cpu s, success, and the classes
    * whole-stage and expression codegen compiled during it. */
  private final case class Sample(wall: Double, cpu: Double, ok: Boolean, compiled: Long)

  /** Generated classes compiled in this JVM so far; a code-cache hit
    * compiles nothing. */
  private def compiledNow(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** [[Reps]] sink runs of `name`, each on cleared caches. */
  private def timed(spark: SparkSession, cpuNow: () => Long, sfDir: String,
      name: String): Seq[Sample] =
    (1 to Reps).map { _ =>
      Sessions.clearCaches(spark)
      val c0 = cpuNow()
      val k0 = compiledNow()
      val t0 = System.nanoTime()
      // A failed query must be loud: recording its ~70 ms of
      // throw-latency as a real time once hid a 15-query breakage for
      // two rounds. Keep the time but carry the failure alongside.
      val ok = try { sink(SparkEntry.queries(name)(spark, sfDir)); true }
               catch { case e: Throwable =>
                 System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                 false
               }
      Sample((System.nanoTime() - t0) / 1e9, (cpuNow() - c0) / 1e9, ok, compiledNow() - k0)
    }

  /** The min-wall sample's wall and cpu, and whether every run
    * succeeded. The CPU figure is the min-wall rep's — the (wall, cpu)
    * pair is one observation; pairing min wall with another rep's cpu
    * would report a run that never happened. */
  private def best(samples: Seq[Sample]): (Double, Double, Boolean) = {
    val b = samples.minBy(_.wall)
    (b.wall, b.cpu, samples.forall(_.ok))
  }

  private def board(spark: SparkSession): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Executor CPU-time accounting: BENCH_LAST carries wall AND cpu,
    // and regression reads gate on cpu when wall is ambiguous
    // (VERDICT r11 #1's host-window noise).
    val cpuNow = BenchCpu.install(spark)
    // Warm-up (untimed): JIT + codegen caches + file-system cache, so
    // the first timed query doesn't absorb JVM start-up cost.
    try sink(SparkEntry.queries("q01_pricing_summary")(spark, sfDir))
    catch { case _: Throwable => () }
    // Amortized infrastructure (TIMED SEPARATELY): build-if-missing
    // derived layouts/indexes. Folding a cold index build into the
    // first query that touches it misreads one-off build cost as query
    // cost; at 100 TB these are rebuilt on corpus refresh, not per
    // query, so the bench reports them as their own line.
    // A prebuild failure is non-fatal: queries fall back to their own
    // build-if-missing path (the cost just lands on them, as before).
    val tL = System.nanoTime()
    try graft.queries.PipelineQueries.prebuildLayouts(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] layout prebuild FAILED: ${e.getMessage}")
    }
    val layoutSec = (System.nanoTime() - tL) / 1e9
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val samples = timed(spark, cpuNow, sfDir, name)
      val (wall, cpu, ok) = best(samples)
      (name, wall, cpu, ok, samples.map(_.compiled).sum)
    }
    System.err.println(s"[bench] compiled=${results.map(_._5).sum} classes in the timed runs")
    val failed = results.collect { case (n, _, _, false, _) => n }
    val qs = results.map { case (k, v, _, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val cpuQs = results.map { case (k, _, c, _, _) => s"\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val cpuTotal = results.map(_._3).sum
    // The driver captures only a fixed-size stdout tail: a final line
    // carrying ~90 per-query entries (~4 KB) gets its head cut off and
    // fails to parse. So the FINAL stdout line is compact totals-only;
    // the full per-query map lives exclusively in BENCH_LAST.json.
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","cpu_total_sec":$cpuTotal,"layout_build_sec":$layoutSec,"reps":$Reps,"queries":$qs,"cpu_sec":$cpuQs,"n_failed":${failed.size},"failed":$failedJson,"sf":"$sfDir"}"""
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","cpu_total_sec":$cpuTotal,"layout_build_sec":$layoutSec,"reps":$Reps,"n_queries":${results.size},"n_failed":${failed.size},"sf":"$sfDir"}"""
    // Stop first: Spark shutdown logs (stderr) can't then interleave
    // after the JSON line the driver parses.
    spark.stop()
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_LAST.json"),
      full.getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(compact)
    if (failed.nonEmpty) sys.exit(1)
  }

  private def one(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val cpuNow = BenchCpu.install(spark)
    val failed = names.filterNot { name =>
      // untimed row count for the log line; it also warms the query's
      // code paths before the timed runs
      val n = try SparkEntry.queries(name)(spark, sfDir).count()
              catch { case _: Throwable => -1L }
      val samples = timed(spark, cpuNow, sfDir, name)
      samples.zipWithIndex.foreach { case (r, i) =>
        println(f"[one] $name rep=${i + 1} ${r.wall}%.2fs cpu=${r.cpu}%.2fs compiled=${r.compiled}")
      }
      val (wall, cpu, ok) = best(samples)
      println(f"[one] $name rows=$n $wall%.2fs cpu=$cpu%.2fs${if (ok) "" else " FAILED"}")
      ok
    }
    if (failed.nonEmpty) { spark.stop(); sys.exit(1) }
  }

  private def rows(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    if (names.nonEmpty) names.foreach { n =>
      println(s"[rows] $n:")
      SparkEntry.queries(n)(spark, sfDir).show(500, truncate = false)
    }
    else SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        val n = fn(spark, sfDir).count()
        println(f"[rows] $name%-22s rows=$n%-8d ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch {
        case e: Throwable =>
          println(s"[rows] $name FAILED: ${e.getMessage.linesIterator.take(3).mkString(" | ")}")
      }
    }

  /** A formatted plan without what differs between two builds of the
    * same plan (expression ids, plan ids, RDD ids, `at <File>.scala:<line>`
    * call sites), so dumps from two commits can be diffed. */
  private[graft] def normalizePlan(text: String): String =
    text.replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll(" at [\\w$.]+\\.scala:\\d+", "")

  private[graft] def plan(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val text =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val n = df.collect().length
          s"rows=$n\n" + normalizePlan(df.queryExecution.explainString(FormattedMode))
        } catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      val path = java.nio.file.Paths.get(outDir, s"$name.txt")
      java.nio.file.Files.write(path, text.getBytes("UTF-8"))
      println(s"[plan] $name -> $path")
    }
  }
}
