package graft

import org.apache.spark.sql.functions.col

import graft.operators.Similarity

/** The composed nightly maintenance cycle (graft.Maintenance) — each
  * stage is spec-gated on its own (CompactSpec, IvfIndexSpec); this
  * pins the COMPOSITION: compaction always runs, the drift gauge
  * decides, the recluster arm fires only past the threshold, and the
  * index serves identical answers through the whole cycle. */
class MaintenanceSpec extends SparkTestBase {

  // 16 duplicated one-hot directions — Lloyd's fixed point, drift
  // exactly 0.0 (ss15's fixture)
  private def fixedPointCorpus = {
    import spark.implicits._
    val pts = (0 until 16).map(i =>
      Array.tabulate(16)(j => if (j == i) (i + 1).toFloat else 0f))
    (0 until 32).map(i => (i.toLong, pts(i % 16).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
  }

  private def shiftedDelta = {
    import spark.implicits._
    (100L until 104L).map(i =>
      (i, Array.tabulate(16)(j => (if (j == 0) 1f else 0f) + 0.1f).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
  }

  private def sameDistDelta = {
    import spark.implicits._
    (200L until 204L).map(i =>
      (i, Array.tabulate(16)(j => if (j == 2) 3f else 0f).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
  }

  test("quiet index: cycle compacts, gauges zero-ish drift, KEEPS; probe byte-identical through the cycle") {
    val dir = tempDir("graft-maint-q")
    Similarity.ivfWriteIndex(fixedPointCorpus, s"$dir/gen1", nlist = 16, iters = 2)
    // a same-distribution append (exact copies of direction 2) moves
    // no mean — drift stays 0.0 — but fragments the cid dir
    Similarity.ivfAppendDelta(sameDistDelta, s"$dir/gen1")
    val q = fixedPointCorpus.filter(col("vec_id") < 3)
    val before = Similarity.ivfProbeIndex(spark, s"$dir/gen1", q, k = 5, nprobe = 16)
      .collect().toSeq
    val log = Maintenance.ivfCycle(spark, s"$dir/gen1", s"$dir/gen2",
      driftThreshold = 0.05).toMap
    assert(!log("compact").startsWith("0 "), log.toString)
    assert(log("act").startsWith("kept"), log.toString)
    assert(!new java.io.File(s"$dir/gen2").exists(),
      "kept cycle must not publish a new generation")
    val after = Similarity.ivfProbeIndex(spark, s"$dir/gen1", q, k = 5, nprobe = 16)
      .collect().toSeq
    assert(after === before)
  }

  test("drifted index: cycle fires the recluster arm; the new generation ≡ a fresh full build") {
    val dir = tempDir("graft-maint-d")
    Similarity.ivfWriteIndex(fixedPointCorpus, s"$dir/gen1", nlist = 16, iters = 2)
    Similarity.ivfAppendDelta(shiftedDelta, s"$dir/gen1")
    val log = Maintenance.ivfCycle(spark, s"$dir/gen1", s"$dir/gen2",
      driftThreshold = 0.05).toMap
    assert(log("act").startsWith("reclustered"), log.toString)
    // the published generation serves exactly what a one-shot build
    // over the union serves (ivfRecluster's bit-equality contract)
    Similarity.ivfWriteIndex(fixedPointCorpus.unionByName(shiftedDelta),
      s"$dir/fresh", nlist = 16, iters = 2)
    val q = fixedPointCorpus.filter(col("vec_id") < 3)
    val a = Similarity.ivfProbeIndex(spark, s"$dir/gen2", q, k = 5, nprobe = 16)
      .collect().toSeq
    val b = Similarity.ivfProbeIndex(spark, s"$dir/fresh", q, k = 5, nprobe = 16)
      .collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  // fixedPointCorpus shifted ONLY in PQ subspace 0 (dims 0–1 at the
  // default m=8 over dim 16): every other subspace's slices remain
  // exact codebook entries, so the gauge must fire on s=0 alone
  private def pqShiftedDelta = {
    import spark.implicits._
    (300L until 304L).map(i =>
      (i, Array.tabulate(16)(j => (if (j == 0) 1f else 0f) +
        (if (j <= 1) 0.5f else 0f)).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
  }

  test("pq cycle: quiet delta keeps; single-subspace shift fires the rebuild ALERT on precisely that subspace") {
    val dir = tempDir("graft-maint-pq")
    // the 16 seeds ARE the 16 distinct directions, so the trained
    // books code the base corpus losslessly — residual floor exactly 0
    Similarity.pqWriteIndex(fixedPointCorpus, s"$dir/idx", dim = 16)
    Similarity.pqAppendDelta(sameDistDelta, s"$dir/idx")
    val q = fixedPointCorpus.filter(col("vec_id") < 3)
    val before = Similarity.pqProbeIndex(spark, s"$dir/idx", q, k = 5)
      .collect().toSeq
    // quiet: appended copies of an existing direction — zero residual
    val quiet = Maintenance.pqCycle(spark, s"$dir/idx", sameDistDelta, 1.5).toMap
    assert(quiet("act").startsWith("kept"), quiet.toString)
    // the cycle's compaction must not perturb what the index serves
    assert(Similarity.pqProbeIndex(spark, s"$dir/idx", q, k = 5)
      .collect().toSeq === before)
    // drifted: the gauge localizes the shift to subspace 0 exactly
    Similarity.pqAppendDelta(pqShiftedDelta, s"$dir/idx")
    val drift = Similarity.pqResidualDrift(spark, s"$dir/idx", pqShiftedDelta)
      .collect()
    assert(drift.length === 8)
    drift.foreach { r =>
      val (s, rmse) = (r.getInt(0), r.getDouble(3))
      assert(r.getDouble(2) === 0.0, s"base floor not 0 on s=$s")
      if (s == 0) assert(rmse > 0.1, s"shifted subspace did not fire: $rmse")
      else assert(rmse === 0.0, s"unshifted subspace $s fired: $rmse")
    }
    val log = Maintenance.pqCycle(spark, s"$dir/idx", pqShiftedDelta, 1.5).toMap
    assert(log("act").contains("ALERT") && log("act").contains("subspaces 0 past"),
      log.toString)
  }

  test("shingle cycle: compaction in place, probe identical, trained df/ untouched") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, Sf0001)
    val dir = tempDir("graft-maint-sh")
    Dedup.shingleWriteIndex(docs.filter(col("doc_id") % 2 === 0), 1, dir)
    Dedup.shingleAppendDelta(docs.filter(col("doc_id") % 2 =!= 0), 1, dir)
    val dfMtime = new java.io.File(s"$dir/df").lastModified()
    val before = Dedup.ngramJaccardProbe(spark, dir, 0.9).collect().toSeq
    val log = Maintenance.shingleCycle(spark, dir).toMap
    assert(!log("compact").startsWith("0 "), log.toString)
    assert(Dedup.ngramJaccardProbe(spark, dir, 0.9).collect().toSeq === before)
    assert(new java.io.File(s"$dir/df").lastModified() === dfMtime)
  }

  test("span cycle: compaction in place, probe identical through it (round 13)") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, Sf0001)
    val dir = tempDir("graft-maint-span")
    Dedup.dupSpansWriteIndex(docs.filter(col("doc_id") % 2 === 0), 10, dir)
    // two ingest batches fragment spans/, df/ and (possibly) dupset/
    Dedup.dupSpansAppendDelta(docs.filter(col("doc_id") % 4 === 1), 10, dir)
    Dedup.dupSpansAppendDelta(docs.filter(col("doc_id") % 4 === 3), 10, dir)
    val before = Dedup.dupSpansProbe(spark, dir).collect().toSeq
    val log = Maintenance.spanCycle(spark, dir).toMap
    assert(!log("compact").startsWith("0 "), log.toString)
    assert(Dedup.dupSpansProbe(spark, dir).collect().toSeq === before)
    // the compacted index still equals a fresh inline computation
    val inline = Dedup.dupSpans(docs, n = 10).collect().toSeq
    assert(Dedup.dupSpansProbe(spark, dir).collect().toSeq.toString ===
      inline.toString)
  }

  test("hnsw cycle: patch merge + compaction preserve every probe answer; " +
      "post-cycle graph has one row per node; drift gauges observe and alert (round 14)") {
    val emb = Tables.embeddings(spark, Sf0001)
    val dir = tempDir("graft-maint-hnsw")
    Similarity.hnswWriteIndex(emb.filter(col("vec_id") % 8 =!= 0), dir)
    // fresh build: both gauges exactly 0.0, quiet cycle takes neither arm
    val fresh = Similarity.hnswDrift(spark, dir).head()
    assert(fresh.getDouble(3) === 0.0 && fresh.getDouble(4) === 0.0)
    val quiet = Maintenance.hnswCycle(spark, dir).toMap
    assert(quiet("merge").startsWith("skipped"), quiet.toString)
    assert(quiet("decide").startsWith("healthy"), quiet.toString)
    Similarity.hnswAppendDelta(emb.filter(col("vec_id") % 8 === 0), dir)
    // appended eighth: delta mass 1/8 of the new total, patches > 0
    val drifted = Similarity.hnswDrift(spark, dir).head()
    assert(drifted.getDouble(3) > 0.0, "append wrote no reverse-edge patches")
    assert(math.abs(drifted.getDouble(4) -
      (drifted.getLong(0) - drifted.getLong(2)).toDouble / drifted.getLong(0)) < 1e-12)
    assert(drifted.getDouble(4) > 0.10, "an appended eighth must trip the 0.10 default")
    val q = emb.filter(col("vec_id") < 5)
    val before = Similarity.hnswProbeIndex(spark, dir, q, 10).collect().toSeq
    val log = Maintenance.hnswCycle(spark, dir).toMap
    assert(!log("merge").startsWith("skipped"), log.toString)
    assert(log("decide").startsWith("REBUILD ALERT"), log.toString)
    assert(Similarity.hnswProbeIndex(spark, dir, q, 10).collect().toSeq === before)
    // the merge's contract: exactly one graph row per node, and the
    // patch gauge resets while delta mass (rebuild-only) persists
    val g = spark.read.parquet(s"$dir/graph")
    assert(g.count() === g.select("vec_id").distinct().count())
    val merged = Similarity.hnswDrift(spark, dir).head()
    assert(merged.getDouble(3) === 0.0 && merged.getDouble(4) === drifted.getDouble(4))
  }
}
