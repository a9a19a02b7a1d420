package graft
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.queries.{CoreQueries, PipelineQueries, StreamQueries}
import graft.sources.{BucketedTables, Compact}

/** The tool main, one subcommand per job. Every timed cell goes through
  * one loop, [[timed]]: [[Reps]] runs on cleared caches, each after an
  * untimed preparation, reported as the min-wall run's wall and
  * executor CPU, failed when any run threw.
  *
  * Queries:
  *  - no argument, or `board`: the benchmark board — every registry
  *    query timed on `SPARK_GRAFT_SF_DIR` (default sf0.1), after every
  *    layout family is built; one compact JSON line on stdout, the
  *    per-query map in `BENCH_LAST.json`.
  *  - `one <sfDir> <query>...`: the named queries timed like the board,
  *    with the classes each rep compiled (0 once the code cache holds
  *    the query's generated code).
  *  - `rows <sfDir> [<query>...]`: every query's row count, or the
  *    named queries' rows.
  *  - `plan <sfDir> <outDir> <query>...`: each named query's formatted
  *    physical plan after execution (the final adaptive plan),
  *    normalized by [[normalizePlan]], written to `<outDir>/<query>.txt`.
  *
  * Curves, as markdown tables on stdout:
  *  - `scale <q,…> <label=dir>…`: each query's time and row count per
  *    scale point (dirs from `scalegen`) — a scan-shaped operator should
  *    track its input ~linearly; anything super-linear is a
  *    candidate-generation or shuffle-width bug. Besides registry names:
  *    `pr_loop`, `st11_file_sink`, `st12_file_sink`.
  *  - `layouts <fam,…|all> <label=dir>…`: each layout family's cold
  *    build per scale point; see [[layouts]].
  *  - `delta <sfDir> [appends|idempotent|compaction|maintenance|all]`:
  *    delta-append index maintenance against a full rebuild; see [[delta]].
  *  - `recall <label=dir>…`: mean (min) ss8 recall per ANN variant per
  *    scale point. Run it on perturbed `scalegen` dirs: bit-identical
  *    replicas make recall 1.0 by construction.
  *  - `hybrid [sfDir]`: ss11's recall@10 and candidate count over
  *    nprobe × dfCap; see [[hybrid]]. `sfDir` defaults to
  *    `SPARK_GRAFT_SF_DIR`.
  *
  * Operations:
  *  - `scalegen [--perturb[=eps]] <baseDir> <outRoot> [<r>...]`: writes
  *    `<outRoot>/x<r>` (`x<r>p` when perturbed), see [[ScaleGen]];
  *    replicas default to 3 10 30.
  *  - `maintain ivf <path> <reclusterTo> [threshold] | pq <path>
  *    <appendedParquet> [ratioThreshold] | shingle|span|hnsw <path>`:
  *    one [[Maintenance]] cycle, printed as its audit log, then vacuum.
  *  - `compact <dataDir> [targetBytes]`: [[Compact.compactIndex]] on an
  *    index's data dir (…/buckets, …/vectors, …/codes, …/sh, …/masks)
  *    after a run of appends.
  *  - `vacuum [root]`: [[LayoutStore.vacuum]] under `root` (default
  *    `java.io.tmpdir`); run after a source refresh. */
object Bench {
  /** Full-result sink (round 15 — VERDICT r14 #1). `count()` let
    * Catalyst prune any work whose result doesn't affect the row
    * count: map-heavy entries (tx7's normalize, tx9's PII regexes,
    * mm4's resize, every pure per-row transform) billed at near-zero,
    * and tx11's train-side semi-join read ~0.2 s under count() vs
    * 10.3 s honest — the headline artifact systematically
    * under-measured exactly the shapes a 100 TB pipeline pays for.
    * The noop data source materializes EVERY output column through the
    * full physical plan with no write-side cost. BENCH_r15 is therefore
    * re-baselined: r15-vs-r13/r14 walls are NOT comparable;
    * BASELINE.json carries both sink generations side by side
    * (VERDICT r14 #8). */
  private[graft] def sink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Timed runs per cell; the minimum is reported. The container's
    * host contention swings single samples 3–20×, which made one-pass
    * round-over-round artifacts nearly meaningless for regression
    * detection (round 6: two same-code passes read 147 s and 626 s);
    * min-of-N recovers the plan's intrinsic cost at N× wall-clock.
    * Reps run back-to-back per cell (not pass-by-pass) so each cell's
    * samples share one cache state. */
  private[graft] val Reps = 2

  private val Usage =
    """usage: graft.Bench [board | one <sfDir> <query>... | rows <sfDir> [<query>...] |
      |  plan <sfDir> <outDir> <query>... | scale <q,...> <label=dir>... |
      |  layouts <fam,...|all> <label=dir>... |
      |  delta <sfDir> [appends|idempotent|compaction|maintenance|all] |
      |  recall <label=dir>... | hybrid [sfDir] |
      |  scalegen [--perturb[=eps]] <baseDir> <outRoot> [<r>...] |
      |  maintain ivf <path> <reclusterTo> [threshold] | maintain pq <path> <appendedParquet> [ratio] |
      |  maintain shingle|span|hnsw <path> | compact <dataDir> [targetBytes] | vacuum [root]]""".stripMargin

  def main(args: Array[String]): Unit = {
    val cmd = command(args.toList).getOrElse { System.err.println(Usage); sys.exit(2) }
    val spark = Sessions.local()
    val ok = try cmd(spark) finally spark.stop()
    if (!ok) sys.exit(1)
  }

  /** The run `args` names; it returns false when a timed cell failed.
    * None for a malformed command line. */
  private[graft] def command(args: List[String]): Option[SparkSession => Boolean] = {
    def named(qs: Seq[String]): Seq[String] = {
      val unknown = qs.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      qs
    }
    def done(f: SparkSession => Unit): SparkSession => Boolean = s => { f(s); true }
    Some(args match {
      case Nil | List("board") => board
      case "one" :: sf :: qs if qs.nonEmpty => val ns = named(qs); one(_, sf, ns)
      case "rows" :: sf :: qs => val ns = named(qs); done(rows(_, sf, ns))
      case "plan" :: sf :: out :: qs if qs.nonEmpty => val ns = named(qs); done(plan(_, sf, out, ns))
      case "scale" :: qs :: pts if pts.nonEmpty =>
        val fns = qs.split(',').toSeq.map(q => q -> SparkEntry.queries.getOrElse(q,
          scaleExtras.getOrElse(q, throw new IllegalArgumentException(s"unknown query $q"))))
        val ps = points(pts); scale(_, fns, ps)
      case "layouts" :: fams :: pts if pts.nonEmpty =>
        val picked = if (fams == "all") PipelineQueries.layouts else {
          val sel = fams.split(',').toSet
          val unknown = sel -- PipelineQueries.layouts.map(_._1)
          require(unknown.isEmpty, s"unknown layout families: ${unknown.mkString(", ")}")
          PipelineQueries.layouts.filter(l => sel(l._1))
        }
        val ps = points(pts); layouts(_, picked, ps)
      case "delta" :: sf :: section if section.size <= 1 &&
          section.forall(DeltaSections.contains) => delta(_, sf, section.headOption.getOrElse("all"))
      case "recall" :: pts if pts.nonEmpty => val ps = points(pts); recall(_, ps)
      case "hybrid" :: sf if sf.size == 1 || sf.isEmpty && sys.env.contains("SPARK_GRAFT_SF_DIR") =>
        done(hybrid(_, sf.headOption.getOrElse(sys.env("SPARK_GRAFT_SF_DIR"))))
      case "scalegen" :: rest if rest.count(!_.startsWith("--")) >= 2 => done(scalegen(_, rest))
      case "maintain" :: rest if rest.size >= 2 => done(maintain(_, rest))
      case "compact" :: dir :: target if target.size <= 1 => done { s =>
        val rewritten = Compact.compactIndex(s, dir,
          target.headOption.fold(Compact.DefaultTargetBytes)(_.toLong))
        rewritten.foreach { case (d, before, after) =>
          println(s"[compact] $d: $before -> $after files")
        }
        println(s"[compact] ${rewritten.size} dir(s) rewritten")
      }
      case "vacuum" :: root if root.size <= 1 => done { s =>
        val conf = s.sparkContext.hadoopConfiguration
        val deleted = root.headOption.fold(LayoutStore.vacuum(conf = conf))(LayoutStore.vacuum(_, conf))
        println(s"[vacuum] ${deleted.size} superseded layout dir(s) removed")
      }
      case _ => return None
    })
  }

  /** `label=dir` scale points. */
  private def points(args: Seq[String]): Seq[(String, String)] = args.map { a =>
    a.split("=", 2) match {
      case Array(label, dir) => (label, dir)
      case _ => throw new IllegalArgumentException(s"expected <label>=<dir>, got '$a'")
    }
  }

  /** A markdown table on stdout. */
  private def table(header: Seq[String], rows: Seq[Seq[String]]): Unit =
    (header +: header.map(_ => "---") +: rows).foreach(r => println(r.mkString("| ", " | ", " |")))

  /** A markdown table with one row per key and one column per heading;
    * `cells` is keyed (key, heading), "-" where absent. */
  private def pivot(corner: String, keys: Seq[String], headings: Seq[String],
      cells: Map[(String, String), String]): Unit =
    table(corner +: headings, keys.map(k => k +: headings.map(h => cells.getOrElse((k, h), "-"))))

  // ------------------------------------------------------------ timing

  /** One timed run: wall s, executor cpu s, the classes whole-stage and
    * expression codegen compiled during it, and the run's result (None
    * when it threw). */
  private[graft] final case class Sample[+T](wall: Double, cpu: Double, compiled: Long,
      out: Option[T]) {
    def ok: Boolean = out.isDefined
  }

  /** Generated classes compiled in this JVM so far; a code-cache hit
    * compiles nothing. */
  private def compiledNow(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private var cpuReader: (org.apache.spark.SparkContext, () => Long) = (null, null)

  /** `spark`'s executor-CPU reader ([[BenchCpu]]), installed on first use. */
  private def cpuOf(spark: SparkSession): () => Long = synchronized {
    if (cpuReader._1 ne spark.sparkContext) cpuReader = (spark.sparkContext, BenchCpu.install(spark))
    cpuReader._2
  }

  /** The one timing loop: `reps` runs of `run`, each after the untimed
    * `prep` (delete the layout to rebuild, copy the index to mutate) and
    * on cleared caches. */
  private[graft] def timed[T](spark: SparkSession, label: String, prep: => Unit = (),
      reps: Int = Reps)(run: => T): Seq[Sample[T]] = {
    val cpuNow = cpuOf(spark)
    (1 to reps).map { _ =>
      prep
      Sessions.clearCaches(spark)
      val c0 = cpuNow()
      val k0 = compiledNow()
      val t0 = System.nanoTime()
      // A failed run must be loud: recording its ~70 ms of
      // throw-latency as a real time once hid a 15-query breakage for
      // two rounds. Keep the time but carry the failure alongside.
      val out = try Some(run) catch { case e: Throwable =>
        System.err.println(s"[bench] $label FAILED: ${e.getMessage}")
        None
      }
      Sample((System.nanoTime() - t0) / 1e9, (cpuNow() - c0) / 1e9, compiledNow() - k0, out)
    }
  }

  /** The min-wall sample, failed unless every run succeeded. The CPU
    * figure is the min-wall rep's — the (wall, cpu) pair is one
    * observation; pairing min wall with another rep's cpu would report
    * a run that never happened. */
  private[graft] def best[T](samples: Seq[Sample[T]]): Sample[T] = {
    val b = samples.minBy(_.wall)
    if (samples.forall(_.ok)) b else b.copy(out = None)
  }

  /** A timed cell as printed. */
  private def cell(s: Sample[_]): String =
    f"${s.wall}%.2f s (cpu ${s.cpu}%.2f s)" + (if (s.ok) "" else " FAILED")

  // ------------------------------------------------------------ queries

  private def board(spark: SparkSession): Boolean = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Warm-up (untimed): JIT + codegen caches + file-system cache, so
    // the first timed query doesn't absorb JVM start-up cost.
    try sink(SparkEntry.queries("q01_pricing_summary")(spark, sfDir))
    catch { case _: Throwable => () }
    // Amortized infrastructure (TIMED SEPARATELY): build-if-missing
    // derived layouts/indexes. Folding a cold index build into the
    // first query that touches it misreads one-off build cost as query
    // cost; at 100 TB these are rebuilt on corpus refresh, not per
    // query, so the bench reports them as their own line, one stderr
    // line per family. A failed build is non-fatal: the queries that
    // read the layout build it themselves (the cost just lands on them).
    val layoutSec = PipelineQueries.layouts.map { case (fam, build) =>
      val s = best(timed(spark, s"layout $fam", reps = 1)(build(spark, sfDir)))
      System.err.println(f"[layout] $fam ${s.wall}%.1f s cpu=${s.cpu}%.1f s")
      s.wall
    }.sum
    val results = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val samples = timed(spark, name)(sink(SparkEntry.queries(name)(spark, sfDir)))
      (name, best(samples), samples.map(_.compiled).sum)
    }
    System.err.println(s"[bench] compiled=${results.map(_._3).sum} classes in the timed runs")
    val failed = results.collect { case (n, s, _) if !s.ok => n }
    val qs = results.map { case (k, s, _) => s"\"" + k + "\":" + s.wall }
      .mkString("{", ",", "}")
    val cpuQs = results.map { case (k, s, _) => s"\"" + k + "\":" + s.cpu }
      .mkString("{", ",", "}")
    val total = results.map(_._2.wall).sum
    val cpuTotal = results.map(_._2.cpu).sum
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
    failed.isEmpty
  }

  private def one(spark: SparkSession, sfDir: String, names: Seq[String]): Boolean =
    names.map { name =>
      // untimed row count for the log line; it also warms the query's
      // code paths before the timed runs
      val n = try SparkEntry.queries(name)(spark, sfDir).count()
              catch { case _: Throwable => -1L }
      val samples = timed(spark, name)(sink(SparkEntry.queries(name)(spark, sfDir)))
      samples.zipWithIndex.foreach { case (r, i) =>
        println(f"[one] $name rep=${i + 1} ${r.wall}%.2fs cpu=${r.cpu}%.2fs compiled=${r.compiled}")
      }
      val b = best(samples)
      println(f"[one] $name rows=$n ${b.wall}%.2fs cpu=${b.cpu}%.2fs${if (b.ok) "" else " FAILED"}")
      b.ok
    }.forall(identity)

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

  // ------------------------------------------------------------ curves

  /** Components `scale` can time that have no registry entry: a
    * convergence loop's round count is data-dependent, and the file-sink
    * streams are the production sink shape (parquet sink + RocksDB
    * state; the stream runs inside the timed call, the sink then
    * materializes the committed read-back). */
  private val scaleExtras: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pr_loop" -> CoreQueries.pagerankLoop _,
    "st11_file_sink" -> StreamQueries.st11FileSink _,
    "st12_file_sink" -> StreamQueries.st12FileSink _)

  private def scale(spark: SparkSession, queries: Seq[(String, (SparkSession, String) => DataFrame)],
      points: Seq[(String, String)]): Boolean = {
    // warm-up: JIT + codegen caches, so the first cell isn't taxed
    try queries.head._2(spark, points.head._2).count() catch { case _: Throwable => () }
    val rowsCol = s"rows@${points.last._1}"
    val cells = for ((name, fn) <- queries; (label, dir) <- points) yield {
      // One untimed count records output-size linearity. The timed runs
      // use the noop sink: count() would let Catalyst prune whole Window
      // operators and unused projections (a window query "scales flat"
      // under count() because only the scan runs).
      val n = fn(spark, dir).count()
      val s = best(timed(spark, s"$name@$label")(sink(fn(spark, dir))))
      println(f"[scale] $name%-22s $label%-6s rows=$n%-9d ${cell(s)}")
      (name, label, n, s)
    }
    pivot("query", queries.map(_._1), points.map(_._1) :+ rowsCol,
      cells.map(c => (c._1, c._2) -> cell(c._4)).toMap ++
        cells.collect { case (q, l, n, _) if l == points.last._1 => (q, rowsCol) -> n.toString })
    cells.forall(_._4.ok)
  }

  /** `layouts`: each family's cold build per scale point — the direct
    * check that each build is ~linear in its source (`scale` times the
    * probes, so a superlinear build would otherwise hide in
    * `layout_build_sec` until the first re-index). An untimed build
    * first warms dependencies and memoized corpus counts (annNlist), so
    * a timed rebuild measures the build, not the count job; each rep
    * then deletes the published layout. Deleting one ANN variant leaves
    * its siblings, and the last rep republishes the family, so a later
    * board starts from warm layouts. */
  private def layouts(spark: SparkSession, families: Seq[(String, (SparkSession, String) => String)],
      points: Seq[(String, String)]): Boolean = {
    val cells = for ((fam, build) <- families; (label, dir) <- points) yield {
      val path = build(spark, dir)
      val s = best(timed(spark, s"layout $fam@$label", LayoutStore.delete(spark, path))(
        build(spark, dir)))
      println(f"[layout] $fam%-16s $label%-6s ${cell(s)}")
      (fam, label) -> s
    }
    pivot("layout", families.map(_._1), points.map(_._1), cells.map(c => c._1 -> cell(c._2)).toMap)
    cells.forall(_._2.ok)
  }

  private val DeltaSections = Set("appends", "idempotent", "compaction", "maintenance", "all")

  /** `delta`: delta-append index maintenance against its full-rebuild
    * alternative — the line behind "a nightly ingest costs O(|delta|),
    * never O(corpus)". The corpus splits 7/8 base + 1/8 delta (the
    * dd9/ss8 convention); a family's base index is built once, untimed
    * (the standing infrastructure), and every run that mutates an
    * index runs on a fresh copy made in the untimed preparation.
    *  - appends: a full rebuild over the union against appending the
    *    1/8 to the base. At a production delta rate (≪ 1/8 of the
    *    corpus a night) the ratio only widens.
    *  - idempotent: the idempotent twins' existence anti-join over the
    *    plain append on first delivery, and a full replay (appends zero
    *    rows) — the crash-rerun price of closing at-least-once delivery.
    *  - compaction: four disjoint appends fragment the data dirs (LSH
    *    worst: one file per touched bucket dir per append), then one
    *    compactIndex pass rewrites them to byte-targeted files; file
    *    counts and probe times before and after.
    *  - maintenance: the composed nightly cycle ([[Maintenance]]),
    *    quiet vs drifted, phases off the cycle's own audit log. Drift
    *    is planted as a +0.5 shift on every delta coordinate, so the
    *    drifted row always prices the act arm. */
  private def delta(spark: SparkSession, dir: String, section: String): Boolean = {
    def on(s: String): Boolean = section == "all" || section == s
    val work = LayoutStore.scratchDir(spark, "graft-deltabench")
    var n = 0
    def fresh(): String = { n += 1; s"$work/d$n" }
    val samples = ArrayBuffer.empty[Sample[_]]
    def measure[T](label: String, prep: => Unit = ())(run: => T): Sample[T] = {
      val s = best(timed(spark, label, prep)(run))
      samples += s
      s
    }
    /** A cell whose every rep runs `f` on a fresh dir, `proto`'s copy
      * when given. */
    def onFresh[T](label: String, proto: Option[String] = None)(f: String => T): Sample[T] = {
      var p = ""
      measure(label, { p = fresh(); proto.foreach(LayoutStore.copy(spark, _, p)) })(f(p))
    }
    /** A fresh dir holding `build`'s index. */
    def built(build: String => Unit): String = { val p = fresh(); build(p); p }

    val docs = Tables.documents(spark, dir)
    val (docsBase, docsDelta) =
      (docs.filter(col("doc_id") % 8 =!= 0), docs.filter(col("doc_id") % 8 === 0))
    val emb = Tables.embeddings(spark, dir)
    val (embBase, embDelta) =
      (emb.filter(col("vec_id") % 8 =!= 0), emb.filter(col("vec_id") % 8 === 0))
    val dim = emb.selectExpr("size(embedding)").head().getInt(0)
    val liB = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    val (liBase, liDelta) =
      (liB.filter(col("l_orderkey") % 8 =!= 0), liB.filter(col("l_orderkey") % 8 === 0))
    def bkTable(p: String): String = "dbk_" + p.replaceAll("[^A-Za-z0-9]", "_").takeRight(24)
    def writeBk(df: DataFrame, p: String): Unit =
      BucketedTables.writeBucketed(df, bkTable(p), p, "l_orderkey", 8, Seq("l_orderkey"))
    try {
      if (on("appends")) {
        // the containment index probes a shingle index: both generations
        // are built untimed here, so the contain row prices only the
        // candidate probe + CC labeling it adds on top
        lazy val shBase = built(Dedup.shingleWriteIndex(docsBase, 1, _))
        lazy val shFull = built(Dedup.shingleWriteIndex(docs, 1, _))
        // (index, base build, full rebuild, append)
        val fams = Seq[(String, String => Unit, String => Unit, String => Unit)](
          ("shingle", Dedup.shingleWriteIndex(docsBase, 1, _),
            Dedup.shingleWriteIndex(docs, 1, _), Dedup.shingleAppendDelta(docsDelta, 1, _)),
          ("contain", Dedup.containWriteIndex(spark, shBase, docsBase, _, 0.9),
            Dedup.containWriteIndex(spark, shFull, docs, _, 0.9),
            Dedup.containAppendDelta(docsDelta, 1, shBase, _, 0.9)),
          ("ivf", Similarity.ivfWriteIndex(embBase, _), Similarity.ivfWriteIndex(emb, _),
            Similarity.ivfAppendDelta(embDelta, _)),
          ("pq", Similarity.pqWriteIndex(embBase, _, dim), Similarity.pqWriteIndex(emb, _, dim),
            Similarity.pqAppendDelta(embDelta, _)),
          ("lsh", Similarity.lshWriteIndex(embBase, _, dim), Similarity.lshWriteIndex(emb, _, dim),
            Similarity.lshAppendDelta(embDelta, _, dim)),
          ("ivfpq", Similarity.ivfPqWriteIndex(embBase, _, dim),
            Similarity.ivfPqWriteIndex(emb, _, dim), Similarity.ivfPqAppendDelta(embDelta, _)),
          // full = re-shuffle + rewrite the whole fact table; append =
          // hash-route the delta into new bucket-named files, plus the
          // metadata-only re-register a fresh session pays over a copy
          ("bucketed", writeBk(liBase, _), writeBk(liB, _), { p =>
            val t = bkTable(p)
            spark.sql(s"CREATE TABLE $t (${liB.schema.toDDL}) USING parquet " +
              "CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey) INTO 8 BUCKETS " +
              s"LOCATION '$p'")
            BucketedTables.appendBucketedDelta(spark, t, liDelta)
          }))
        table(Seq("index", "full rebuild (union)", "append 1/8 delta", "ratio"),
          fams.map { case (name, base, full, append) =>
            val proto = built(base)
            val tFull = onFresh(s"$name full")(full)
            val tApp = onFresh(s"$name append", Some(proto))(append)
            Seq(name, cell(tFull), cell(tApp), f"${tFull.wall / tApp.wall}%.1fx")
          })
      }

      if (on("idempotent")) {
        // (index, base build, plain append, idempotent append → rows appended)
        val idems = Seq[(String, String => Unit, String => Unit, String => Long)](
          ("ivf", Similarity.ivfWriteIndex(embBase, _), Similarity.ivfAppendDelta(embDelta, _),
            Similarity.ivfAppendDeltaIdempotent(embDelta, _)),
          ("pq", Similarity.pqWriteIndex(embBase, _, dim), Similarity.pqAppendDelta(embDelta, _),
            Similarity.pqAppendDeltaIdempotent(embDelta, _)),
          ("lsh", Similarity.lshWriteIndex(embBase, _, dim), Similarity.lshAppendDelta(embDelta, _, dim),
            Similarity.lshAppendDeltaIdempotent(embDelta, _, dim)),
          ("ivfpq", Similarity.ivfPqWriteIndex(embBase, _, dim),
            Similarity.ivfPqAppendDelta(embDelta, _),
            Similarity.ivfPqAppendDeltaIdempotent(embDelta, _)))
        table(Seq("index", "plain append", "idempotent 1st delivery", "full replay (0 rows)"),
          idems.map { case (name, base, plain, idem) =>
            val proto = built(base)
            val tPlain = onFresh(s"$name plain", Some(proto))(plain)
            val tIdem = onFresh(s"$name idempotent", Some(proto))(idem)
            // a replay runs on an already-ingested copy (first delivery
            // in the preparation) and must append zero rows
            var c = ""
            val tReplay = measure(s"$name replay", {
              c = fresh(); LayoutStore.copy(spark, proto, c); idem(c)
            })(require(idem(c) == 0L, s"$name replay appended rows"))
            Seq(name, cell(tPlain), cell(tIdem), cell(tReplay))
          })
      }

      if (on("compaction")) {
        val q5 = emb.filter(col("vec_id") < 5)
        // (index, base build, i-th of 4 appends, data subdir, probe)
        val cfs = Seq[(String, String => Unit, (Int, String) => Unit, String, String => Long)](
          ("shingle", Dedup.shingleWriteIndex(docsBase, 1, _),
            (i, p) => Dedup.shingleAppendDelta(docs.filter(col("doc_id") % 32 === i * 8), 1, p),
            "sh", p => Dedup.ngramJaccardProbe(spark, p, 0.9).count()),
          ("ivf", Similarity.ivfWriteIndex(embBase, _),
            (i, p) => Similarity.ivfAppendDelta(emb.filter(col("vec_id") % 32 === i * 8), p),
            "vectors", p => Similarity.ivfProbeIndex(spark, p, q5, 10).count()),
          ("lsh", Similarity.lshWriteIndex(embBase, _, dim),
            (i, p) => Similarity.lshAppendDelta(emb.filter(col("vec_id") % 32 === i * 8), p, dim),
            "buckets", p => Similarity.lshProbeIndex(spark, p, q5, dim, 10).count()))
        def fileCount(d: String): Int = LayoutStore.files(spark, d).count { f =>
          val name = f.getPath.getName
          name.endsWith(".parquet") || name.startsWith("part-")
        }
        println()
        table(Seq("index", "files after 4 appends", "probe pre", "compact", "files post",
          "probe post"), cfs.map { case (name, base, appendSlice, sub, probe) =>
          val frag = built { p => base(p); (0 until 4).foreach(appendSlice(_, p)) }
          val tPre = measure(s"$name probe pre")(probe(frag))
          var c = ""
          val tC = onFresh(s"$name compact", Some(frag)) { p =>
            c = p; Compact.compactIndex(spark, s"$p/$sub")
          }
          val tPost = measure(s"$name probe post")(probe(c))
          Seq(name, fileCount(s"$frag/$sub").toString, cell(tPre), cell(tC),
            fileCount(s"$c/$sub").toString, cell(tPost))
        })
      }

      if (on("maintenance")) {
        val shifted = embDelta.select(col("vec_id"),
          expr("transform(embedding, x -> cast(x + 0.5f as float))").as("embedding"))
        def ivfAt(d: DataFrame) =
          built { p => Similarity.ivfWriteIndex(embBase, p); Similarity.ivfAppendDelta(d, p) }
        def pqAt(d: DataFrame) =
          built { p => Similarity.pqWriteIndex(embBase, p, dim); Similarity.pqAppendDelta(d, p) }
        val sh = built { p =>
          Dedup.shingleWriteIndex(docsBase, 1, p); Dedup.shingleAppendDelta(docsDelta, 1, p)
        }
        // threshold 0.5: the synthetic corpus's same-distribution eighth
        // sits at max_drift ~0.14 (sampling noise on small lists), the
        // planted +0.5 shift at ~2.7 — 0.5 separates the regimes so the
        // quiet row prices the KEEP arm and the drifted row the ACT arm
        val cycles = Seq[(String, String, String => Seq[(String, String)])](
          ("ivf quiet", ivfAt(embDelta), Maintenance.ivfCycle(spark, _, fresh(), 0.5)),
          ("ivf drifted", ivfAt(shifted), Maintenance.ivfCycle(spark, _, fresh(), 0.5)),
          ("pq quiet", pqAt(embDelta), Maintenance.pqCycle(spark, _, embDelta, 1.5)),
          ("pq drifted", pqAt(shifted), Maintenance.pqCycle(spark, _, shifted, 1.5)),
          ("shingle", sh, Maintenance.shingleCycle(spark, _)))
        println()
        table(Seq("cycle", "total", "phases"), cycles.map { case (name, proto, cycle) =>
          val s = onFresh(name, Some(proto))(cycle)
          Seq(name, cell(s), s.out.toSeq.flatten.map { case (k, v) => s"$k: $v" }.mkString("; "))
        })
      }
    } finally LayoutStore.delete(spark, work)
    samples.forall(_.ok)
  }

  private def recall(spark: SparkSession, points: Seq[(String, String)]): Boolean = {
    val runs = points.map { case (label, dir) =>
      val s = best(timed(spark, s"ss8@$label")(PipelineQueries.ss8(spark, dir)
        .groupBy(col("variant"))
        .agg(avg(col("recall")), min(col("recall")))
        .collect()))
      println(f"[recall] $label%-6s ss8 ${cell(s)} (the first run builds missing indexes)")
      (label, s)
    }
    val cells = for ((label, s) <- runs; r <- s.out.toSeq.flatten)
      yield (r.getString(0), s"$label mean (min)") -> f"${r.getDouble(1)}%.3f (${r.getDouble(2)}%.2f)"
    pivot("variant", cells.map(_._1._1).distinct.sorted, points.map(p => s"${p._1} mean (min)"),
      cells.toMap)
    runs.forall(_._2.ok)
  }

  /** docs with synthetic boilerplate tokens at dfs ~N/2, ~N/8, ~N/25 —
    * shared with SimilaritySpec so the spec pins what `hybrid` shows. */
  private[graft] def heavyTailDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 2 === 0, lit(" zzboilerhalf")).otherwise(lit("")),
      when(col("doc_id") % 8 === 0, lit(" zzboilereighth")).otherwise(lit("")),
      when(col("doc_id") % 25 === 0, lit(" zzboilerrare")).otherwise(lit(""))))

  /** `hybrid`: sweeps hybridProbe's two candidate-recall knobs — IVF
    * nprobe (dense probe width) × token df-cap (lexical posting width) —
    * against the exhaustive hybridTopK answer: recall@10 and the
    * candidate count per cell (the price of that recall). Every leg is
    * deterministic, so SimilaritySpec's floor can sit just under the
    * chosen operating point. The second table repeats the sweep over
    * [[heavyTailDocs]]: the natural vocabulary saturates at df ≤ 16, so
    * only there do posting lists cross the caps and the candidate
    * column move with dfCap. */
  private def hybrid(spark: SparkSession, dir: String): Unit = {
    val (k, nQueries) = (10, 5)
    val emb = Tables.embeddings(spark, dir)
    // scratch IVF index for the probe path, deleted on exit
    val ivf = LayoutStore.scratchDir(spark, "graft-hybcurve")
    try {
      Similarity.ivfWriteIndex(emb, ivf)
      def sweep(docs: DataFrame, title: String): Unit = {
        val exact = Similarity.hybridTopK(docs, emb, nQueries, k)
          .select(col("query_id"), col("vec_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        println(s"\n### $title")
        table(Seq("nprobe", "dfCap", s"recall@$k", "candidates"),
          for (np <- Seq(1, 2, 4, 8, 16); cap <- Seq(16, 64, 256)) yield {
            val hits = Similarity.hybridProbe(spark, docs, emb, ivf, nQueries, k,
              nprobe = np, dfCap = cap).collect().map(r => (r.getLong(0), r.getLong(2)))
              .count(exact.contains)
            val nCand = Similarity.hybridCandidatesOf(spark, docs, emb, ivf, nQueries,
              nprobe = np, dfCap = cap).count()
            Seq(np.toString, cap.toString, f"${hits.toDouble / exact.size}%.3f", nCand.toString)
          })
      }
      val docs = Tables.documents(spark, dir)
      sweep(docs, s"natural corpus ($dir)")
      sweep(heavyTailDocs(docs), "heavy-tailed token-df corpus (dfCap binds)")
    } finally LayoutStore.delete(spark, ivf)
  }

  // -------------------------------------------------------- operations

  private def scalegen(spark: SparkSession, args: List[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--"))
    val perturbEps = flags.collectFirst {
      case f if f.startsWith("--perturb") =>
        f.split("=", 2) match { case Array(_, e) => e.toDouble; case _ => 0.05 }
    }.getOrElse(0.0)
    val (baseDir, outRoot) = (positional(0), positional(1))
    val replicas = positional.drop(2).map(_.toInt) match { case Nil => List(3, 10, 30); case r => r }
    replicas.foreach { r =>
      val dir = ScaleGen.writeScaled(spark, baseDir, outRoot, r, perturbEps)
      println(s"[scalegen] wrote $dir (base=$baseDir, replicas=$r, perturbEps=$perturbEps)")
    }
  }

  private def maintain(spark: SparkSession, args: List[String]): Unit = {
    val log = args match {
      case "ivf" :: path :: to :: thr if thr.size <= 1 =>
        Maintenance.ivfCycle(spark, path, to, thr.headOption.fold(0.05)(_.toDouble))
      case "pq" :: path :: batch :: thr if thr.size <= 1 =>
        Maintenance.pqCycle(spark, path, Tables.parquet(spark, batch),
          thr.headOption.fold(1.5)(_.toDouble))
      case List("shingle", path) => Maintenance.shingleCycle(spark, path)
      case List("span", path) => Maintenance.spanCycle(spark, path)
      case List("hnsw", path) => Maintenance.hnswCycle(spark, path)
      case _ => throw new IllegalArgumentException(s"bad maintain arguments: ${args.mkString(" ")}")
    }
    log.foreach { case (step, msg) => println(s"[maintenance] $step: $msg") }
    val swept = LayoutStore.vacuum(conf = spark.sparkContext.hadoopConfiguration)
    println(s"[maintenance] vacuum: ${swept.size} superseded layout dir(s) removed")
  }
}
