package graft

import org.apache.spark.sql.functions._

/** Mean ss8 recall per ANN variant across scale points — the
  * quality-at-scale evidence (round 15 — VERDICT r14 #2). Run against
  * PERTURBED ScaleGen directories (`--perturb`, dirs `x<r>p`), where
  * replica embeddings are deterministically jittered instead of
  * bit-identical: the exact top-k then contains near-but-not-equal
  * neighbors spread across cells, so the curve can actually move —
  * recall 1.0 on unperturbed replicas was a generator artifact, not
  * an index property. Ground truth is ss8's own brute-force top-k on
  * the SAME corpus (annRecallOf), so perturbation never breaks the
  * denominator.
  *
  * `runMain graft.RecallCurve <label=dir> [...]` — one markdown row
  * per variant, one column per point; indexes build-if-missing
  * through the registry's cachedAnnIndex (adaptive nlist), exactly
  * the layouts a production probe would read.
  */
object RecallCurve {
  def main(args: Array[String]): Unit = {
    val points = args.toSeq.map { a =>
      val Array(l, d) = a.split("=", 2); (l, d)
    }
    require(points.nonEmpty, "usage: RecallCurve <label=dir> [...]")
    val spark = Sessions.local()
    val cells = points.flatMap { case (label, dir) =>
      val t0 = System.nanoTime()
      val rows = graft.queries.PipelineQueries.ss8(spark, dir)
        .groupBy(col("variant"))
        .agg(avg(col("recall")).as("mean_recall"),
          min(col("recall")).as("min_recall"),
          count(lit(1)).as("n_queries"))
        .collect()
        .map(r => (r.getString(0), label,
          r.getDouble(1), r.getDouble(2), r.getLong(3)))
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[recall] $label%-6s done in $dt%.1f s (indexes build-if-missing included)")
      rows
    }
    val labels = points.map(_._1)
    val variants = cells.map(_._1).distinct.sorted
    println(s"| variant | ${labels.map(l => s"$l mean (min)").mkString(" | ")} |")
    println(s"| --- | ${labels.map(_ => "---").mkString(" | ")} |")
    variants.foreach { v =>
      val row = labels.map { l =>
        cells.find(c => c._1 == v && c._2 == l)
          .map(c => f"${c._3}%.3f (${c._4}%.2f)").getOrElse("-")
      }
      println(s"| $v | ${row.mkString(" | ")} |")
    }
    spark.stop()
  }
}
