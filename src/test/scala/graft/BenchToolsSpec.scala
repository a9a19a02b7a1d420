package graft

import org.apache.spark.sql.functions.col

import graft.operators.Dedup

/** `graft.Bench`'s curve and operations subcommands, each run once at
  * sf0.001 on the suite's session with the smallest selection its
  * arguments allow; the printed markdown tables are checked row by row
  * and column by column. */
class BenchToolsSpec extends SparkTestBase {

  /** Runs the subcommand `args` names; (succeeded, stdout lines). */
  private def run(args: String*): (Boolean, Seq[String]) = {
    val cmd = Bench.command(args.toList).getOrElse(fail(s"rejected: ${args.mkString(" ")}"))
    val out = new java.io.ByteArrayOutputStream()
    val ok = Console.withOut(out)(cmd(spark))
    (ok, out.toString("UTF-8").linesIterator.toSeq)
  }

  /** The markdown tables in `lines`, each as its rows of cells (header
    * first, the `---` separator dropped). */
  private def tables(lines: Seq[String]): Seq[Seq[Seq[String]]] = {
    def cells(l: String) = l.stripPrefix("|").stripSuffix("|").split('|').map(_.trim).toSeq
    lines.foldLeft(Vector(Vector.empty[String])) { (acc, l) =>
      if (l.startsWith("|")) acc.init :+ (acc.last :+ l)
      else if (acc.last.isEmpty) acc
      else acc :+ Vector.empty
    }.filter(_.nonEmpty).map(_.map(cells).filterNot(_.forall(_ == "---")))
  }

  private val Timed = """\d+\.\d\d s \(cpu \d+\.\d\d s\)""".r

  private def assertTimed(c: String): Unit =
    assert(Timed.matches(c), s"'$c' is not a timed cell")

  test("command lines: malformed ones are rejected, reps/k arguments are gone") {
    assert(Bench.command(List("scale", "q01_pricing_summary")).isEmpty)
    assert(Bench.command(List("layouts", "csv")).isEmpty)
    assert(Bench.command(List("delta", Sf0001, "appends", "2")).isEmpty)
    assert(Bench.command(List("delta", Sf0001, "bogus")).isEmpty)
    assert(Bench.command(List("hybrid", Sf0001, "10")).isEmpty)
    assert(Bench.command(List("compact")).isEmpty)
    assert(Bench.command(List("bogus")).isEmpty)
    intercept[IllegalArgumentException](Bench.command(List("layouts", "nope", s"x=$Sf0001")))
    intercept[IllegalArgumentException](Bench.command(List("scale", "nope", s"x=$Sf0001")))
    intercept[IllegalArgumentException](Bench.command(List("recall", Sf0001)))
  }

  test("scale: one row per query, a timed cell per point, the row count last") {
    val (ok, out) = run("scale", "q01_pricing_summary", s"x1=$Sf0001")
    assert(ok)
    val Seq(t) = tables(out)
    assert(t.head === Seq("query", "x1", "rows@x1"))
    val Seq(Seq(q, c, n)) = t.tail
    assert(q === "q01_pricing_summary")
    assertTimed(c)
    assert(n.toLong === SparkEntry.queries(q)(spark, Sf0001).count())
  }

  test("layouts: a timed cold rebuild per point; the family is left published, rebuilt") {
    val path = graft.sources.CsvIngest.customerCsvPath(spark, Sf0001)
    val marker = new org.apache.hadoop.fs.Path(s"$path/_done")
    def mtime(): Long = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(marker).getModificationTime
    val before = mtime()
    Thread.sleep(10)
    val (ok, out) = run("layouts", "csv", s"x1=$Sf0001")
    assert(ok)
    val Seq(t) = tables(out)
    assert(t.head === Seq("layout", "x1"))
    val Seq(Seq(fam, c)) = t.tail
    assert(fam === "csv")
    assertTimed(c)
    assert(LayoutStore.exists(spark, marker.toString))
    assert(mtime() > before)
  }

  test("delta compaction: file counts fall, probes and the pass are timed cells") {
    val (ok, out) = run("delta", Sf0001, "compaction")
    assert(ok)
    val Seq(t) = tables(out)
    assert(t.head === Seq("index", "files after 4 appends", "probe pre", "compact",
      "files post", "probe post"))
    assert(t.tail.map(_.head) === Seq("shingle", "ivf", "lsh"))
    t.tail.foreach { case Seq(_, pre, probePre, compact, post, probePost) =>
      assert(post.toInt < pre.toInt)
      Seq(probePre, compact, probePost).foreach(assertTimed)
    }
  }

  test("recall: one row per ss8 variant, mean (min) per point") {
    val (ok, out) = run("recall", s"x1=$Sf0001")
    assert(ok)
    val Seq(t) = tables(out)
    assert(t.head === Seq("variant", "x1 mean (min)"))
    val variants = graft.queries.PipelineQueries.ss8(spark, Sf0001)
      .select(col("variant")).distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(t.tail.map(_.head) === variants)
    t.tail.foreach { case Seq(_, c) =>
      val Array(mean, min) = c.split("[ ()]+").filter(_.nonEmpty).map(_.toDouble)
      assert(0.0 <= min && min <= mean && mean <= 1.0, c)
    }
  }

  test("hybrid: two 15-cell nprobe × dfCap sweeps of recall@10 and candidates") {
    val (ok, out) = run("hybrid", Sf0001)
    assert(ok)
    val ts = tables(out)
    assert(ts.size === 2)
    ts.foreach { t =>
      assert(t.head === Seq("nprobe", "dfCap", "recall@10", "candidates"))
      assert(t.tail.map(r => (r(0).toInt, r(1).toInt)) ===
        (for (np <- Seq(1, 2, 4, 8, 16); cap <- Seq(16, 64, 256)) yield (np, cap)))
      t.tail.foreach(r => assert(r(2).toDouble >= 0.0 && r(2).toDouble <= 1.0 && r(3).toLong > 0))
    }
  }

  test("scalegen writes x<r> with the base tables replicated") {
    val out0 = tempDir("graft-scalegen")
    val (ok, out) = run("scalegen", Sf0001, out0, "2")
    assert(ok)
    assert(out === Seq(s"[scalegen] wrote $out0/x2 (base=$Sf0001, replicas=2, perturbEps=0.0)"))
    assert(Tables.documents(spark, s"$out0/x2").count() ===
      2 * Tables.documents(spark, Sf0001).count())
  }

  test("compact rewrites a fragmented index dir; maintain prints its audit log, then vacuums") {
    val docs = Tables.documents(spark, Sf0001)
    val path = tempDir("graft-benchcompact")
    Dedup.shingleWriteIndex(docs.filter(col("doc_id") % 4 =!= 0), 1, path)
    Dedup.shingleAppendDelta(docs.filter(col("doc_id") % 8 === 0), 1, path)
    Dedup.shingleAppendDelta(docs.filter(col("doc_id") % 8 === 4), 1, path)
    val (ok, out) = run("compact", s"$path/sh")
    assert(ok)
    val Rewritten = """\[compact\] (.+): (\d+) -> (\d+) files""".r
    val dirs = out.collect { case Rewritten(_, a, b) => assert(b.toInt < a.toInt) }
    assert(dirs.nonEmpty && out.last === s"[compact] ${dirs.size} dir(s) rewritten")
    val (ok2, out2) = run("maintain", "shingle", path)
    assert(ok2)
    assert(out2.head.matches("""\[maintenance\] compact: \d+ dir\(s\) rewritten \(.+ s\)"""))
    assert(out2.last.matches("""\[maintenance\] vacuum: \d+ superseded layout dir\(s\) removed"""))
  }

  test("vacuum removes an aged superseded generation under the given root") {
    val root = tempDir("graft-benchvacuum")
    val hex = "0123456789abcdef0123456789abcdef"
    def layout(name: String): java.io.File = {
      val d = new java.io.File(root, name)
      assert(d.mkdirs() && new java.io.File(d, "part-00000.parquet").createNewFile())
      d
    }
    val old = layout(s"graft_shidx_sf_${hex}_100_1000_n1v2")
    assert(old.setLastModified(System.currentTimeMillis - 2 * 3600L * 1000))
    val live = layout(s"graft_shidx_sf_${hex}_120_2000_n1v2")
    val (ok, out) = run("vacuum", root)
    assert(ok)
    assert(out === Seq("[vacuum] 1 superseded layout dir(s) removed"))
    assert(!old.exists() && live.exists())
  }
}
