package graft

import org.apache.spark.sql.SparkSession

/** Time registry queries across scale points (see ScaleGen) and print
  * a time-vs-scale table — the empirical check behind the 100 TB
  * scaladoc claims: a scan-shaped operator should track the input
  * size ~linearly; anything super-linear is a candidate-generation or
  * shuffle-width bug.
  *
  * `runMain graft.ScaleBench <repeat> <q1,q2,...> <label=dir> [...]`
  *
  * Minima of `repeat` runs per cell — single samples on this host
  * swing 3–20× under container contention (BENCH_NOTES.md), so the
  * minimum is the only statistic comparable across scale points.
  * Caches (catalog + persistent RDDs) are cleared between runs so an
  * operator-internal cache never subsidizes a later measurement.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val repeat = args.headOption.map(_.toInt).getOrElse(3)
    val names  = args.drop(1).headOption
      .map(_.split(',').toSeq)
      .getOrElse(Seq("q01_pricing_summary", "q03_join_agg", "q08_window_running",
        "dd2_ngram_jaccard", "dd3_minhash_lsh", "dd6_dup_groups",
        "ss7_ivfpq_ann", "tx16_curate"))
    val points = args.drop(2).map { a =>
      val Array(label, dir) = a.split("=", 2); (label, dir)
    }.toSeq
    val spark = Sessions.local()
    // Non-registry components measurable at scale (SURVEY §2 rows with
    // no oracle-able registry binding — a convergence loop's round
    // count is data-dependent, so it lives here, not in Verify/Bench).
    val extras: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map("pr_loop" -> ((s, d) => graft.queries.CoreQueries.pagerankLoop(s, d)),
        // production sink shape (parquet sink + RocksDB state): the
        // streaming run happens inside the timed fn call; the noop
        // write then materializes the committed read-back + rank
        "st11_file_sink" -> ((s, d) => graft.queries.StreamQueries.st11FileSink(s, d)),
        "st12_file_sink" -> ((s, d) => graft.queries.StreamQueries.st12FileSink(s, d)))
    // warm-up: JIT + codegen caches, so x1's first cell isn't taxed —
    // resolved through the same registry-or-extras lookup as the timed
    // cells, or an extras-first run would silently skip its warm-up
    try SparkEntry.queries.getOrElse(names.head, extras(names.head))(
      spark, points.head._2).count()
    catch { case _: Throwable => () }
    val rows = for (name <- names; (label, dir) <- points) yield {
      val fn = SparkEntry.queries.getOrElse(name, extras(name))
      // One untimed count records output-size linearity. The TIMED runs
      // use the noop sink: count() would let Catalyst prune whole
      // Window operators and unused expensive projections (a window
      // query "scales flat" under count() because only the scan runs);
      // noop materializes every output column without write-side cost.
      val outRows = fn(spark, dir).count()
      val times = (1 to repeat).map { _ =>
        Sessions.clearCaches(spark)
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[scale] $name%-22s $label%-6s rows=$outRows%-9d min=${times.min}%7.2fs  all=${times.map(t => f"$t%.2f").mkString(",")}")
      (name, label, outRows, times.min)
    }
    spark.stop()
    // markdown summary: one row per query, one column per scale point
    val labels = points.map(_._1)
    println(s"| query | ${labels.mkString(" | ")} | rows@${labels.last} |")
    println(s"| --- | ${labels.map(_ => "---").mkString(" | ")} | --- |")
    names.foreach { n =>
      val cells = labels.map(l => rows.find(r => r._1 == n && r._2 == l)
        .map(r => f"${r._4}%.2f s").getOrElse("-"))
      val last = rows.find(r => r._1 == n && r._2 == labels.last).map(_._3).getOrElse(-1L)
      println(s"| $n | ${cells.mkString(" | ")} | $last |")
    }
  }
}
