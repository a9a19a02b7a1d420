package graft

import org.apache.spark.sql.functions.{col, concat, lit, when}

import graft.operators.Similarity

/** ss11 OPERATING-POINT curve (round 11 — VERDICT r10 #9): sweep
  * hybridProbe's two candidate-recall knobs — IVF nprobe (dense
  * probe width) × token df-cap (lexical posting width) — against the
  * exhaustive hybridTopK answer, ss14-style. Every leg of both paths
  * is deterministic, so the recall figures are stable run-to-run and
  * the SimilaritySpec floor can sit just under the chosen operating
  * point instead of the historical ≥ 0.5 placeholder.
  *
  * `runMain graft.HybridCurve [sfDir] [k]` — prints one markdown
  * table: recall@k of probe vs exhaustive per (nprobe, dfCap), plus
  * the candidate count per cell (the price of that recall; the
  * pruning ratio is what the probe exists for).
  *
  * Second section (round 12 — VERDICT r11 #6): the same sweep over a
  * HEAVY-TAILED token-df corpus. The natural synthetic vocabulary
  * saturates at df ≤ 16, so the base curve never shows dfCap doing
  * its web-scale job (capping function-word/boilerplate posting
  * lists). The heavy variant appends three synthetic boilerplate
  * tokens at controlled document frequencies (~N/2, ~N/8, ~N/25 —
  * straddling the cap grid) to the corpus AND the query docs, so the
  * lexical probe's posting lists actually cross the caps and the
  * candidate column moves with dfCap — the binding evidence
  * BENCH_NOTES records. SimilaritySpec pins the monotone
  * candidates(cap=16) < candidates(cap=256) fact on a fixture.
  */
object HybridCurve {

  /** docs with synthetic boilerplate tokens at dfs ~N/2, ~N/8, ~N/25 —
    * shared with SimilaritySpec so the spec pins what the curve shows. */
  private[graft] def heavyTailDocs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.withColumn("text", concat(col("text"),
      when(col("doc_id") % 2 === 0, lit(" zzboilerhalf")).otherwise(lit("")),
      when(col("doc_id") % 8 === 0, lit(" zzboilereighth")).otherwise(lit("")),
      when(col("doc_id") % 25 === 0, lit(" zzboilerrare")).otherwise(lit(""))))

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val nQueries = 5
    val spark = Sessions.local()
    val emb = Tables.embeddings(spark, dir)
    // scratch IVF index for the probe path — deleted on exit (the
    // pre-round-12 tool stranded one index per invocation; ADVICE r11)
    val ivf = LayoutStore.scratchDir(spark, "graft-hybcurve")
    try {
      Similarity.ivfWriteIndex(emb, ivf)
      def sweep(docs: org.apache.spark.sql.DataFrame, title: String): Unit = {
        val exact = Similarity.hybridTopK(docs, emb, nQueries, k)
          .select(col("query_id"), col("vec_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        println(s"\n### $title")
        println(s"| nprobe | dfCap | recall@$k | candidates |")
        println(s"| --- | --- | --- | --- |")
        for (np <- Seq(1, 2, 4, 8, 16); cap <- Seq(16, 64, 256)) {
          val probe = Similarity.hybridProbe(spark, docs, emb, ivf, nQueries, k,
            nprobe = np, dfCap = cap)
          val hits = probe.collect().map(r => (r.getLong(0), r.getLong(2)))
            .count(exact.contains)
          val nCand = Similarity.hybridCandidatesOf(spark, docs, emb, ivf, nQueries,
            nprobe = np, dfCap = cap).count()
          println(f"| $np | $cap | ${hits.toDouble / exact.size}%.3f | $nCand |")
        }
      }
      val docs = Tables.documents(spark, dir)
      sweep(docs, s"natural corpus ($dir)")
      sweep(heavyTailDocs(docs), "heavy-tailed token-df corpus (dfCap binds)")
    } finally LayoutStore.delete(spark, ivf)
    spark.stop()
  }
}
