package graft

import org.apache.spark.sql.SparkSession

/** Time the write-once layout BUILDS across scale points (round 14 —
  * VERDICT r13 #6): ScaleBench curves the registry PROBES, so a
  * superlinear build (the fixed-nlist hnsw trap, VERDICT r13 #1) sits
  * invisibly in layout_build_sec until the first real re-index. This
  * bench deletes a published layout and retimes a cold rebuild,
  * min-of-`repeat`, per scale point — the direct empirical check that
  * each build is ~linear in its source.
  *
  * `runMain graft.LayoutBench <repeat> <fam1,fam2,...|all> <label=dir> [...]`
  *
  * Notes on what is and isn't inside a timed cell:
  *  - memoized corpus counts (annNlist's dd17-pattern key) are warmed
  *    by the first untimed build, so a timed rebuild measures the
  *    BUILD, not the count job — matching production, where the
  *    ingest pipeline already knows its row count;
  *  - deleting an ANN variant's subdir leaves its siblings' published
  *    dirs in place, so each variant is timed independently;
  *  - every family ends the run PRESENT (the last timed rep publishes
  *    it), so a following Bench run starts from warm layouts.
  */
object LayoutBench {
  /** Build-if-missing, returns the published path so the bench can
    * delete it between reps. Order matters only for dependencies:
    * contain reads the shingle index, so shingle precedes it. */
  private[graft] def builders: Seq[(String, (SparkSession, String) => String)] = {
    import graft.queries.{CoreQueries, PipelineQueries => PQ}
    Seq(
      "shingle"    -> ((s, d) => PQ.cachedShingleIndex(s, d)),
      "dupidx_cc"  -> ((s, d) => PQ.groupsIndexPath(s, d, "full", Tables.documents(s, d))),
      "contain"    -> ((s, d) => PQ.cachedContainIndex(s, d)),
      "spanidx"    -> ((s, d) => PQ.cachedSpanIndex(s, d)),
      "simhash"    -> ((s, d) => PQ.cachedSimhashIndex(s, d)),
      "boiler"     -> ((s, d) => PQ.cachedBoilerIndex(s, d, 3)),
      "phash"      -> ((s, d) => PQ.cachedPhashIndex(s, d)),
      "cdc"        -> ((s, d) => PQ.cachedCdcIndex(s, d)),
      "contam"     -> ((s, d) => PQ.cachedContamIndex(s, d, "ascii",
        graft.functions.TextFunctions.tokensExpr)),
      "contam_uni" -> ((s, d) => PQ.cachedContamIndex(s, d, "uni",
        graft.functions.TextFunctions.unicodeTokensExpr)),
      "ann_lsh"    -> ((s, d) => PQ.cachedAnnIndex(s, d, "lsh")),
      "ann_ivf"    -> ((s, d) => PQ.cachedAnnIndex(s, d, "ivf")),
      "ann_pq"     -> ((s, d) => PQ.cachedAnnIndex(s, d, "pq")),
      "ann_ivfpq"  -> ((s, d) => PQ.cachedAnnIndex(s, d, "ivfpq")),
      "ann_hnsw"   -> ((s, d) => PQ.cachedAnnIndex(s, d, "hnsw")),
      "zorder2"    -> ((s, d) => CoreQueries.zorderLayoutPath(s, d)),
      "zorder3"    -> ((s, d) => CoreQueries.zorder3LayoutPath(s, d)),
      "copurchase" -> ((s, d) => CoreQueries.copurchaseLayout(s, d)))
  }

  def main(args: Array[String]): Unit = {
    val repeat = args.headOption.map(_.toInt).getOrElse(2)
    val famSel = args.drop(1).headOption.filterNot(_ == "all").map(_.split(',').toSet)
    val points = args.drop(2).map { a =>
      val Array(label, dir) = a.split("=", 2); (label, dir)
    }.toSeq
    val spark = Sessions.local()
    val picked = builders.filter { case (n, _) => famSel.forall(_.contains(n)) }
    val rows = for ((name, build) <- picked; (label, dir) <- points) yield {
      val path = build(spark, dir) // warm: deps + memoized counts + known path
      val times = (1 to repeat).map { _ =>
        LayoutStore.delete(spark, path)
        Sessions.clearCaches(spark)
        val t0 = System.nanoTime()
        build(spark, dir)
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[layout] $name%-12s $label%-6s min=${times.min}%8.2fs  all=${times.map(t => f"$t%.2f").mkString(",")}")
      (name, label, times.min)
    }
    spark.stop()
    val labels = points.map(_._1)
    println(s"| layout | ${labels.mkString(" | ")} |")
    println(s"| --- | ${labels.map(_ => "---").mkString(" | ")} |")
    picked.foreach { case (n, _) =>
      val cells = labels.map(l => rows.find(r => r._1 == n && r._2 == l)
        .map(r => f"${r._3}%.2f s").getOrElse("-"))
      println(s"| $n | ${cells.mkString(" | ")} |")
    }
  }
}
