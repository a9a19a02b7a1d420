package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}

import graft.operators.{Dedup, Similarity}
import graft.sources.Compact

/** The NIGHTLY INDEX MAINTENANCE CYCLE — round 9's pieces wired into
  * the one pass a 100 TB deployment actually schedules, instead of
  * four tools a human remembers to run in the right order:
  *
  *   append (done upstream by the ingest job via `*AppendDelta`)
  *     → COMPACT   the fragmented data dirs (Compact.compactIndex —
  *                 file-count ceiling; LSH dirs degrade first)
  *     → OBSERVE   per-list centroid drift (Similarity.centroidDrift —
  *                 needs no query workload, unlike recall)
  *     → DECIDE    max drift vs the caller's threshold
  *     → ACT       ivfRecluster into a FRESH generation directory when
  *                 the threshold trips (bit-identical to a full
  *                 rebuild — the append history leaves no trace)
  *     → RECLAIM   LayoutStore.vacuum sweeps the superseded
  *                 generation (and any other stranded layout).
  *
  * Every step is individually spec-gated elsewhere; this module's own
  * spec pins the COMPOSITION: a quiet corpus compacts and keeps its
  * index (probe byte-identical), a drifted corpus triggers the
  * recluster arm and the new generation serves exactly the full
  * rebuild's answers. Decisions return as an audit log — a scheduler
  * alerts on "reclustered" lines, a dashboard plots the drift number.
  *
  * Why the act arm is IVF-only: IVF is the one index whose at-rest
  * rows carry the RAW vectors, so retraining needs nothing but the
  * index itself. PQ / IVF+PQ store lossy codes — re-deriving a
  * codebook from its own quantization would compound the error — so
  * their act stage is the upstream full build over the source corpus
  * (the same pqWriteIndex/ivfPqWriteIndex call the ingest pipeline
  * owns); LSH has no trained state at all (integer-mix hyperplanes),
  * so its cycle is compaction alone, like the shingle index's.
  */
object Maintenance {

  /** Phase timer: every audit-log line carries its stage's wall
    * seconds, so `graft.Bench delta`'s cycle-pricing table reads the split
    * straight off the one real dispatch (never a re-implemented
    * timing twin that could drift from the cycle it prices). */
  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One cycle over a materialized IVF index at `path`. When max
    * per-list drift exceeds `driftThreshold` (embedding-space units —
    * tune against ss14's recall curve for the corpus), the index is
    * re-trained into `reclusterTo` and that path should replace
    * `path` for subsequent probes (generation swap — the caller owns
    * the pointer, e.g. a layoutKey-versioned directory name).
    * Returns the audit log. */
  def ivfCycle(spark: SparkSession, path: String, reclusterTo: String,
      driftThreshold: Double): Seq[(String, String)] = {
    val (compacted, tC) = timed(Compact.compactIndex(spark, s"$path/vectors"))
    val (drift, tO) = timed(Similarity.centroidDrift(spark, path)
      .collect().map(r => (r.getInt(0), r.getDouble(2))))
    val maxDrift = if (drift.isEmpty) 0.0 else drift.map(_._2).max
    val log = Seq(
      "compact" -> f"${compacted.size} dir(s) rewritten ($tC%.2f s)",
      "observe" -> f"max_drift=$maxDrift%.6f over ${drift.length} lists ($tO%.2f s)")
    if (maxDrift > driftThreshold) {
      val (_, tA) = timed(Similarity.ivfRecluster(spark, path, reclusterTo))
      log :+ ("act" -> (s"reclustered -> $reclusterTo " +
        f"(drift $maxDrift > $driftThreshold) ($tA%.2f s)"))
    } else
      log :+ ("act" -> s"kept (drift $maxDrift <= $driftThreshold)")
  }

  /** One cycle over a materialized PQ (or IVF+PQ) index at `path`:
    * compact the code table, gauge the per-subspace quantization
    * residual of `appended` — the nightly batch's RAW rows, which the
    * ingest job still holds when it calls this — against the
    * build-time base residual (Similarity.pqResidualDrift), and ALERT
    * when any subspace's RMS residual exceeds `ratioThreshold` × its
    * base. The act arm is an alert, never a retrain: PQ rows store
    * lossy codes, so re-deriving a codebook from the index itself
    * would compound quantization error — the documented remedy is the
    * upstream full rebuild (pqWriteIndex over the source corpus) by
    * the job that owns the raw embeddings. The `rmse > thr × base`
    * form also decides sanely when base = 0 (a losslessly-coded
    * corpus: any nonzero residual fires). */
  def pqCycle(spark: SparkSession, path: String,
      appended: org.apache.spark.sql.DataFrame,
      ratioThreshold: Double): Seq[(String, String)] = {
    val (compacted, tC) = timed(Compact.compactIndex(spark, s"$path/codes"))
    val (drift, tO) = timed(Similarity.pqResidualDrift(spark, path, appended)
      .collect().map(r => (r.getInt(0), r.getDouble(2), r.getDouble(3))))
    val worst = drift.filter { case (_, base, rmse) => rmse > ratioThreshold * base }
    val maxRmse = if (drift.isEmpty) 0.0 else drift.map(_._3).max
    val log = Seq(
      "compact" -> f"${compacted.size} dir(s) rewritten ($tC%.2f s)",
      "observe" -> (f"max_rmse=$maxRmse%.6f over ${drift.length} subspaces" +
        f" (${worst.length} past ${ratioThreshold}x base) ($tO%.2f s)"))
    if (worst.nonEmpty)
      log :+ ("act" -> ("ALERT upstream full rebuild required: subspaces " +
        s"${worst.map(_._1).mkString(",")} past ${ratioThreshold}x base residual " +
        "(retraining from codes is unsound)"))
    else
      log :+ ("act" -> s"kept (all ${drift.length} subspaces within ${ratioThreshold}x base)")
  }

  /** One cycle over a materialized shingle index: compaction only —
    * the shingle index has no trained-state drift (df staleness costs
    * prefix SELECTIVITY, never correctness — shingleAppendDelta's
    * contract — and is repriced at the corpus-refresh rebuild). */
  def shingleCycle(spark: SparkSession, path: String): Seq[(String, String)] = {
    val (n, tC) = timed {
      val sh = Compact.compactIndex(spark, s"$path/sh")
      val masks =
        if (LayoutStore.exists(spark, s"$path/masks"))
          Compact.compactIndex(spark, s"$path/masks")
        else Seq.empty
      sh.size + masks.size
    }
    Seq("compact" -> f"$n dir(s) rewritten ($tC%.2f s)")
  }

  /** One cycle over a materialized duplicate-span index (round 13):
    * compaction only — like the shingle cycle, the span index carries
    * no trained state. df/ rows are append-only increments the probe
    * and the append's promotion check SUM, so ingest fragmentation
    * (a few files per batch across spans/, df/, dupset/) is the only
    * decay; compaction preserves rows bit-for-bit and therefore every
    * probe answer. */
  def spanCycle(spark: SparkSession, path: String): Seq[(String, String)] = {
    val (n, tC) = timed {
      Seq("spans", "df", "dupset")
        .map(d => Compact.compactIndex(spark, s"$path/$d").size).sum
    }
    Seq("compact" -> f"$n dir(s) rewritten ($tC%.2f s)")
  }

  /** One cycle over an HNSW-lite graph index (round 14 — VERDICT r13
    * #2/#4): OBSERVE [[graft.operators.Similarity.hnswDrift]]'s two
    * gauges off one aggregate over graph/; DECIDE against the caller's
    * thresholds; ACT with the repair each decay mode admits:
    *
    *  - patch rows (probe-side overhead, answer-preserving to merge):
    *    fold every reverse-edge patch into its node's single graph row
    *    (neighbor lists unioned — exactly what the probe's per-node
    *    union computes on the fly) via the crash-safe in-place swap,
    *    leaving ONE row per vec_id. Probe answers are byte-identical
    *    through the merge (MaintenanceSpec pins it).
    *  - delta mass (graph QUALITY decay — standing lists are frozen
    *    and never re-ranked against arrivals): no cheap repair exists,
    *    so the decide arm emits a REBUILD ALERT (ss16's argument: the
    *    act is a corpus-refresh re-index, priced and scheduled above
    *    this cycle).
    *
    * A quiet corpus (no appends since the last cycle) takes neither
    * arm and the cycle is byte-identical: merge skips when rows ==
    * nodes, compaction rewrites only fragmented dirs. */
  def hnswCycle(spark: SparkSession, path: String,
      rebuildThreshold: Double = 0.10): Seq[(String, String)] = {
    val drift = graft.operators.Similarity.hnswDrift(spark, path).head()
    val (nodes, rows) = (drift.getLong(0), drift.getLong(1))
    val (patchShare, deltaMass) = (drift.getDouble(3), drift.getDouble(4))
    val observe = Seq("observe" ->
      f"nodes=$nodes rows=$rows patch_row_share=$patchShare%.4f delta_mass_frac=$deltaMass%.4f")
    val merge = if (rows > nodes) {
      val (_, tM) = timed {
        val g = Tables.parquet(spark, s"$path/graph")
        Compact.rewriteInPlace(spark, s"$path/graph",
          g.groupBy(col("vec_id"), col("cid1"))
            .agg(expr("array_sort(array_distinct(flatten(collect_list(neighbors))))")
              .as("neighbors")))
      }
      Seq("merge" -> f"${rows - nodes} patch row(s) folded ($tM%.2f s)")
    } else Seq("merge" -> "skipped (one row per node)")
    val alert =
      if (deltaMass > rebuildThreshold)
        Seq("decide" -> f"REBUILD ALERT: delta_mass_frac=$deltaMass%.4f > $rebuildThreshold%.2f — frozen standing lists never re-rank appended mass")
      else Seq("decide" -> f"healthy (delta_mass_frac=$deltaMass%.4f <= $rebuildThreshold%.2f)")
    val (n, tC) = timed(Seq("graph", "emb")
      .map(d => Compact.compactIndex(spark, s"$path/$d").size).sum)
    observe ++ merge ++ alert ++ Seq("compact" -> f"$n dir(s) rewritten ($tC%.2f s)")
  }
}
