package graft

import org.apache.spark.sql.functions.{col, expr, lit}

import graft.operators.Similarity

/** Materialized IVF index: partitioned layout, pruned probe reads. */
class IvfIndexSpec extends SparkTestBase {

  test("index write → probe equals inline ivfTopK and prunes partitions") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val dir = tempDir("graft-ivf")
    Similarity.ivfWriteIndex(emb, dir, nlist = 16, iters = 2)

    val probe = Similarity.ivfProbeIndex(spark, dir, q, k = 10, nprobe = 2)
    val inline = Similarity.ivfTopK(emb, q, dim = 64, k = 10,
      nlist = 16, nprobe = 2, iters = 2)
    assert(probe.collect().toSeq === inline.collect().toSeq)

    // partition pruning: the cid predicate must land in the scan's
    // PartitionFilters (directory-level pruning at planning time), not
    // as a post-scan data filter. (inputFiles can't show this — it
    // lists the relation's files before pruning.)
    val p = probe.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(l => l.contains("FileScan") && l.contains("vectors"))
    assert(scanLine.exists(_.contains("PartitionFilters: [cid#")),
      s"cid not a partition filter:\n$p")
    assert(scanLine.exists(l => l.contains(" IN (") || l.contains("cid#") && l.contains("=")),
      s"no pruning predicate on the vectors scan:\n$p")
  }

  test("PQ index write → probe equals inline pqTopK; scan reads only codes") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val dir = tempDir("graft-pq")
    Similarity.pqWriteIndex(emb, dir, dim = 64)

    val probe = Similarity.pqProbeIndex(spark, dir, q, k = 10)
    val inline = Similarity.pqTopK(emb, q, dim = 64, k = 10)
    assert(probe.collect().toSeq === inline.collect().toSeq)

    // the probe's corpus-side scan must touch the code table only —
    // no file under the index path carries raw embeddings
    val p = probe.queryExecution.executedPlan.toString
    val codeScan = p.linesIterator.find(l => l.contains("FileScan") && l.contains("codes"))
    assert(codeScan.isDefined, s"no codes FileScan in probe plan:\n$p")
    assert(!codeScan.get.contains("embedding"), s"probe scan reads embeddings:\n$p")
  }

  test("LSH index write → probe equals inline lshTopK and prunes bucket dirs") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val dir = tempDir("graft-lsh")
    Similarity.lshWriteIndex(emb, dir, dim = 64)

    val probe = Similarity.lshProbeIndex(spark, dir, q, dim = 64, k = 10)
    val inline = Similarity.lshTopK(emb, q, dim = 64, k = 10)
    assert(probe.collect().toSeq === inline.collect().toSeq)

    // the bucket predicate must prune directory-level at planning time
    val p = probe.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator.find(l => l.contains("FileScan") && l.contains("buckets"))
    assert(scanLine.exists(_.contains("PartitionFilters: [bucket#")),
      s"bucket not a partition filter:\n$p")
  }

  // ---- Round 8: incremental index maintenance (VERDICT r7 #1) ----
  // For each variant: build the index over a BASE slice, append the
  // DELTA slice via *AppendDelta, and assert (a) probe(base ⊕ delta)
  // is bit-identical to probing a ONE-SHOT index over the union built
  // with the SAME trained state (centroids/codebook — for LSH there is
  // none), and (b) the append touched no base file: every pre-append
  // data file still exists with its exact length. (a) is the
  // correctness claim — appends never change what's probed, only list
  // balance/recall, which ss8's ivf_delta row gauges; (b) is the cost
  // claim's mechanism — per-ingest IO is O(|delta|), never O(corpus).

  /** (path → size) for every data file under `dir`, recursively. */
  private def dataFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
      .filter(f => f.getName.endsWith(".parquet") || f.getName.startsWith("part-"))
      .map(f => f.getPath -> f.length).toMap
  }

  private def assertBaseUntouched(before: Map[String, Long], after: Map[String, Long]): Unit = {
    val touched = before.filter { case (p, len) => after.get(p) != Some(len) }
    assert(touched.isEmpty, s"append rewrote base files: ${touched.keys.take(5)}")
    assert(after.size > before.size, "append added no files")
  }

  private def splitEmb() = {
    val emb = Tables.embeddings(spark, Sf0001)
    (emb, emb.filter(col("vec_id") % 8 =!= 0), emb.filter(col("vec_id") % 8 === 0))
  }

  test("IVF delta append ≡ one-shot union build under the same centroids; base files untouched") {
    val (emb, base, delta) = splitEmb()
    val q = emb.filter(col("vec_id") < 5)
    val dirA = tempDir("graft-ivf-delta")
    Similarity.ivfWriteIndex(base, dirA, nlist = 16, iters = 2)
    val before = dataFiles(s"$dirA/vectors")
    Similarity.ivfAppendDelta(delta, dirA)
    assertBaseUntouched(before, dataFiles(s"$dirA/vectors"))

    val cents = Similarity.readCentroids(spark, s"$dirA/centroids")
    val dirB = tempDir("graft-ivf-union")
    Similarity.ivfWriteIndex(emb, dirB, nlist = 16, iters = 2,
      centroidsOpt = Some(cents))
    val a = Similarity.ivfProbeIndex(spark, dirA, q, k = 10, nprobe = 2).collect().toSeq
    val b = Similarity.ivfProbeIndex(spark, dirB, q, k = 10, nprobe = 2).collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("PQ delta append ≡ one-shot union encode under the same codebook; base files untouched") {
    val (emb, base, delta) = splitEmb()
    val q = emb.filter(col("vec_id") < 5)
    val dirA = tempDir("graft-pq-delta")
    Similarity.pqWriteIndex(base, dirA, dim = 64)
    val before = dataFiles(s"$dirA/codes")
    Similarity.pqAppendDelta(delta, dirA)
    assertBaseUntouched(before, dataFiles(s"$dirA/codes"))

    val books = Similarity.readCodebook(spark, s"$dirA/codebook")
    val dirB = tempDir("graft-pq-union")
    Similarity.pqWriteIndex(emb, dirB, dim = 64, booksOpt = Some(books))
    val a = Similarity.pqProbeIndex(spark, dirA, q, k = 10).collect().toSeq
    val b = Similarity.pqProbeIndex(spark, dirB, q, k = 10).collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("LSH delta append ≡ one-shot union build (hash functions carry no trained state)") {
    val (emb, base, delta) = splitEmb()
    val q = emb.filter(col("vec_id") < 5)
    val dirA = tempDir("graft-lsh-delta")
    Similarity.lshWriteIndex(base, dirA, dim = 64)
    val before = dataFiles(s"$dirA/buckets")
    Similarity.lshAppendDelta(delta, dirA, dim = 64)
    assertBaseUntouched(before, dataFiles(s"$dirA/buckets"))

    val dirB = tempDir("graft-lsh-union")
    Similarity.lshWriteIndex(emb, dirB, dim = 64)
    val a = Similarity.lshProbeIndex(spark, dirA, q, dim = 64, k = 10).collect().toSeq
    val b = Similarity.lshProbeIndex(spark, dirB, q, dim = 64, k = 10).collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("IVF-PQ delta append ≡ one-shot union build under the same coarse+books; base untouched") {
    val (emb, base, delta) = splitEmb()
    val q = emb.filter(col("vec_id") < 5)
    val dirA = tempDir("graft-ivfpq-delta")
    Similarity.ivfPqWriteIndex(base, dirA, dim = 64, nlist = 16)
    val before = dataFiles(s"$dirA/codes")
    Similarity.ivfPqAppendDelta(delta, dirA)
    assertBaseUntouched(before, dataFiles(s"$dirA/codes"))

    val coarse = Similarity.readCentroids(spark, s"$dirA/centroids")
    val books = Similarity.readCodebook(spark, s"$dirA/codebook")
    val dirB = tempDir("graft-ivfpq-union")
    Similarity.ivfPqWriteIndex(emb, dirB, dim = 64, nlist = 16,
      coarseOpt = Some(coarse), booksOpt = Some(books))
    val a = Similarity.ivfPqProbeIndex(spark, dirA, q, k = 10, nprobe = 4).collect().toSeq
    val b = Similarity.ivfPqProbeIndex(spark, dirB, q, k = 10, nprobe = 4).collect().toSeq
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("idempotent appends (lsh, ivfpq): first delivery ≡ plain append; full and subset replays add zero") {
    // st17's exactly-once machinery for the other partitioned layouts:
    // presence of a vec_id in its own target partition proves the
    // prior delivery committed, so any replay appends nothing
    val (emb, base, delta) = splitEmb()
    val q = emb.filter(col("vec_id") < 5)
    val nDelta = delta.count()

    // ivf leg: FULL row-content parity with the plain append — the
    // idempotent path must carry every delta column (label included),
    // not just the probe-visible ones (a probe-only check once let a
    // schema-thinning select through)
    val ivfI = tempDir("graft-ivf-idem")
    val ivfP = tempDir("graft-ivf-plain")
    Similarity.ivfWriteIndex(base, ivfI) // training is deterministic —
    Similarity.ivfWriteIndex(base, ivfP) // both builds share the state
    def ivfRows(p: String): Set[(Long, Seq[Float], Int, Int)] =
      spark.read.parquet(s"$p/vectors")
        .select(col("vec_id"), col("embedding"), col("label"), col("cid"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2), r.getInt(3)))
        .toSet
    assert(Similarity.ivfAppendDeltaIdempotent(delta, ivfI) === nDelta)
    Similarity.ivfAppendDelta(delta, ivfP)
    assert(ivfRows(ivfI) === ivfRows(ivfP), "idempotent ivf append diverged from plain append")
    assert(Similarity.ivfAppendDeltaIdempotent(delta, ivfI) === 0L)
    assert(Similarity.ivfAppendDeltaIdempotent(
      delta.filter(col("vec_id") % 16 === 0), ivfI) === 0L)
    assert(ivfRows(ivfI) === ivfRows(ivfP), "replay changed the index content")

    val lshI = tempDir("graft-lsh-idem")
    val lshP = tempDir("graft-lsh-plain")
    Similarity.lshWriteIndex(base, lshI, dim = 64)
    Similarity.lshWriteIndex(base, lshP, dim = 64)
    assert(Similarity.lshAppendDeltaIdempotent(delta, lshI, dim = 64) === nDelta)
    Similarity.lshAppendDelta(delta, lshP, dim = 64)
    val lshProbe = Similarity.lshProbeIndex(spark, lshI, q, dim = 64, k = 10)
      .collect().toSeq
    assert(lshProbe === Similarity.lshProbeIndex(spark, lshP, q, dim = 64, k = 10)
      .collect().toSeq)
    assert(Similarity.lshAppendDeltaIdempotent(delta, lshI, dim = 64) === 0L)
    assert(Similarity.lshAppendDeltaIdempotent(
      delta.filter(col("vec_id") % 16 === 0), lshI, dim = 64) === 0L)
    assert(Similarity.lshProbeIndex(spark, lshI, q, dim = 64, k = 10)
      .collect().toSeq === lshProbe)

    val pqI = tempDir("graft-ivfpq-idem")
    val pqP = tempDir("graft-ivfpq-plain")
    Similarity.ivfPqWriteIndex(base, pqI, dim = 64, nlist = 16)
    // plain twin must share the SAME trained state for probe parity
    val coarse = Similarity.readCentroids(spark, s"$pqI/centroids")
    val books = Similarity.readCodebook(spark, s"$pqI/codebook")
    Similarity.ivfPqWriteIndex(base, pqP, dim = 64, nlist = 16,
      coarseOpt = Some(coarse), booksOpt = Some(books))
    assert(Similarity.ivfPqAppendDeltaIdempotent(delta, pqI) === nDelta)
    Similarity.ivfPqAppendDelta(delta, pqP)
    val pqProbe = Similarity.ivfPqProbeIndex(spark, pqI, q, k = 10).collect().toSeq
    assert(pqProbe === Similarity.ivfPqProbeIndex(spark, pqP, q, k = 10)
      .collect().toSeq)
    assert(Similarity.ivfPqAppendDeltaIdempotent(delta, pqI) === 0L)
    assert(Similarity.ivfPqAppendDeltaIdempotent(
      delta.filter(col("vec_id") % 16 === 0), pqI) === 0L)
    assert(Similarity.ivfPqProbeIndex(spark, pqI, q, k = 10).collect().toSeq === pqProbe)
  }

  test("an append whose embedding width differs from the index fails, naming both widths") {
    // graft_cosine/graft_dot return null on a length mismatch, so an
    // unchecked narrow delta landed silently: IVF/HNSW rows in the
    // all-null-tie cell, PQ rows with code 0 in every subspace
    val (_, base, delta) = splitEmb()
    val narrow = delta.select(col("vec_id"), expr("slice(embedding, 1, 32)").as("embedding"))
    val ivf = tempDir("graft-width-ivf")
    val pq = tempDir("graft-width-pq")
    val ivfpq = tempDir("graft-width-ivfpq")
    val hnsw = tempDir("graft-width-hnsw")
    Similarity.ivfWriteIndex(base, ivf)
    Similarity.pqWriteIndex(base, pq, dim = 64)
    Similarity.ivfPqWriteIndex(base, ivfpq, dim = 64)
    Similarity.hnswWriteIndex(base, hnsw)
    Seq[(String, () => Any)](
      "ivf plain" -> (() => Similarity.ivfAppendDelta(narrow, ivf)),
      "ivf idempotent" -> (() => Similarity.ivfAppendDeltaIdempotent(narrow, ivf)),
      "pq plain" -> (() => Similarity.pqAppendDelta(narrow, pq)),
      "pq idempotent" -> (() => Similarity.pqAppendDeltaIdempotent(narrow, pq)),
      "ivfpq plain" -> (() => Similarity.ivfPqAppendDelta(narrow, ivfpq)),
      "ivfpq idempotent" -> (() => Similarity.ivfPqAppendDeltaIdempotent(narrow, ivfpq)),
      "hnsw plain" -> (() => Similarity.hnswAppendDelta(narrow, hnsw))
    ).foreach { case (name, append) =>
      val e = intercept[Exception](append())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(m => m.contains("width 32") && m.contains("width 64")),
        s"$name: no message names both widths: ${msgs.mkString(" | ")}")
    }
    val nBase = base.count()
    Seq(s"$ivf/vectors", s"$pq/codes", s"$ivfpq/codes", s"$hnsw/emb", s"$hnsw/graph")
      .foreach(d => assert(spark.read.parquet(d).count() === nBase, s"$d grew"))
  }

  test("flat-PQ idempotent append: vec_id-range partitions close the family's last at-least-once hole") {
    // round 12 — VERDICT r11 #2: the flat code table had no partition
    // column to prune an existence check on; codes now live in
    // vb = vec_id div 2^16 range dirs (a pure function of the primary
    // key), so the check prunes to the batch's own ranges and the
    // SURVEY "documented out" clause is gone.
    val (emb, base, delta) = splitEmb()
    val q = emb.filter(col("vec_id") < 5)
    val nDelta = delta.count()
    val idem = tempDir("graft-pqflat-idem")
    Similarity.pqWriteIndex(base, idem, dim = 64)
    val books = Similarity.readCodebook(spark, s"$idem/codebook")
    // one-shot union encode under the same books = the ground truth
    val union = tempDir("graft-pqflat-union")
    Similarity.pqWriteIndex(emb, union, dim = 64, booksOpt = Some(books))

    val before = dataFiles(s"$idem/codes")
    assert(Similarity.pqAppendDeltaIdempotent(delta, idem) === nDelta)
    assertBaseUntouched(before, dataFiles(s"$idem/codes"))
    val probe = Similarity.pqProbeIndex(spark, idem, q, k = 10).collect().toSeq
    assert(probe === Similarity.pqProbeIndex(spark, union, q, k = 10).collect().toSeq)
    assert(probe.nonEmpty)
    // full replay, subset replay (crash-rerun shapes): append zero
    assert(Similarity.pqAppendDeltaIdempotent(delta, idem) === 0L)
    assert(Similarity.pqAppendDeltaIdempotent(
      delta.filter(col("vec_id") % 16 === 0), idem) === 0L)
    assert(Similarity.pqProbeIndex(spark, idem, q, k = 10).collect().toSeq === probe)
  }

  test("flat-PQ idempotent existence check is vb-PRUNED: a corrupt file in a non-target range is never read") {
    // the pruning claim asserted BEHAVIORALLY, not from the plan: the
    // testdata's vec_ids all land in vb=0, so this fixture spreads a
    // synthetic corpus across three ranges, plants a NON-PARQUET file
    // inside vb=0's directory, and appends a batch targeting only the
    // newest range — a whole-table existence scan would throw on the
    // corrupt footer; the partition-pruned check must succeed. This is
    // exactly the monotone-ingest shape the vb key exists for: the
    // batch's target dirs are the newest range, never the corpus.
    val emb = Tables.embeddings(spark, Sf0001).select(col("vec_id"), col("embedding"))
    val W = graft.operators.Similarity.PqVbRange
    val base = emb.withColumn("vec_id",
      (col("vec_id") % 3) * W + col("vec_id")) // spreads over vb 0..2
    val delta = emb.filter(col("vec_id") < 40)
      .withColumn("vec_id", col("vec_id") + lit(3 * W))
    val dir = tempDir("graft-pqflat-prune")
    graft.operators.Similarity.pqWriteIndex(base, dir, dim = 64)
    assert(new java.io.File(s"$dir/codes/vb=0").isDirectory &&
      new java.io.File(s"$dir/codes/vb=2").isDirectory, "fixture spread failed")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/codes/vb=0/part-corrupt.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    // pruned to vb=3: succeeds despite the landmine in vb=0
    val n = graft.operators.Similarity.pqAppendDeltaIdempotent(delta, dir)
    assert(n === 40L)
    assert(graft.operators.Similarity.pqAppendDeltaIdempotent(delta, dir) === 0L)
    // control: an UNPRUNED read of the code table does hit the landmine
    intercept[Throwable] {
      spark.read.parquet(s"$dir/codes").select("vec_id").collect()
    }
    ()
  }

  test("idempotent appends collapse duplicate vec_ids WITHIN one batch; sequential interleaved batches replay clean") {
    // ADVICE r11: the disk anti-join can't see a vec_id delivered twice
    // INSIDE one batch (an upstream coalescing redeliveries); the twins
    // dropDuplicates on the key at entry. Also pins the single-writer
    // contract's supported shape: two batches from one writer, applied
    // sequentially with interleaved replays, converge to the union with
    // no duplicate rows.
    val (_, base, delta) = splitEmb()
    val b1 = delta.filter(col("vec_id") % 16 === 0)
    val b2 = delta.filter(col("vec_id") % 16 =!= 0)
    val dir = tempDir("graft-ivf-dupbatch")
    Similarity.ivfWriteIndex(base, dir)
    // within-batch duplication: the same rows twice in one DataFrame
    assert(Similarity.ivfAppendDeltaIdempotent(b1.union(b1), dir) === b1.count())
    // interleaved sequential replays: b1 again, then b2, then both
    assert(Similarity.ivfAppendDeltaIdempotent(b1, dir) === 0L)
    assert(Similarity.ivfAppendDeltaIdempotent(b2, dir) === b2.count())
    assert(Similarity.ivfAppendDeltaIdempotent(b2.union(b1), dir) === 0L)
    val ids = spark.read.parquet(s"$dir/vectors").select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids.distinct.size === ids.size, "duplicate vec_ids in the index")
    assert(ids.toSet === (base.select("vec_id").collect().map(_.getLong(0)) ++
      delta.select("vec_id").collect().map(_.getLong(0))).toSet)

    // flat-PQ twin takes the same within-batch collapse
    val pqDir = tempDir("graft-pqflat-dupbatch")
    Similarity.pqWriteIndex(base, pqDir, dim = 64)
    assert(Similarity.pqAppendDeltaIdempotent(b1.union(b1), pqDir) === b1.count())
    val pqIds = spark.read.parquet(s"$pqDir/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(pqIds.distinct.size === pqIds.size, "duplicate vec_ids in the code table")
  }

  test("IVF-PQ index write → probe equals inline ivfPqTopK; pruned code-only scan") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val dir = tempDir("graft-ivfpq")
    Similarity.ivfPqWriteIndex(emb, dir, dim = 64, nlist = 16)

    val probe = Similarity.ivfPqProbeIndex(spark, dir, q, k = 10, nprobe = 4)
    val inline = Similarity.ivfPqTopK(emb, q, dim = 64, k = 10,
      nlist = 16, nprobe = 4)
    assert(probe.collect().toSeq === inline.collect().toSeq)

    // both index properties at once: the cid predicate prunes partition
    // directories at planning time AND the pruned scan reads PQ codes,
    // never raw embeddings
    val p = probe.queryExecution.executedPlan.toString
    val codeScan = p.linesIterator.find(l => l.contains("FileScan") && l.contains("codes"))
    assert(codeScan.isDefined, s"no codes FileScan in probe plan:\n$p")
    assert(codeScan.exists(_.contains("PartitionFilters: [cid#")),
      s"cid not a partition filter:\n$p")
    assert(!codeScan.get.contains("embedding"), s"probe scan reads embeddings:\n$p")
  }

  test("ivfRecluster: re-trained appended index ≡ fresh full build bit-for-bit; append history erased") {
    // round 9 (VERDICT r8 #2) — the ACT of the observe-decide-act
    // loop: retrain over base ⊕ appended deltas, publish a new
    // generation. The contract leans on trainCentroids' order-
    // independent decimal means: centroids are a pure function of the
    // vector SET, so the reclustered index and a one-shot build over
    // the union must agree in every byte that matters — centroid
    // table, per-cid membership, probe output.
    val (emb, base, delta) = splitEmb()
    val q = emb.filter(col("vec_id") < 5)
    val appended = tempDir("graft-ivf-recl-a")
    Similarity.ivfWriteIndex(base, appended, nlist = 16, iters = 2)
    Similarity.ivfAppendDelta(delta, appended)
    val reclustered = tempDir("graft-ivf-recl-b")
    Similarity.ivfRecluster(spark, appended, reclustered, iters = 2)
    val fresh = tempDir("graft-ivf-recl-c")
    Similarity.ivfWriteIndex(emb, fresh, nlist = 16, iters = 2)
    // trained state identical
    assert(Similarity.readCentroids(spark, s"$reclustered/centroids").map(_.toSeq).toSeq ===
      Similarity.readCentroids(spark, s"$fresh/centroids").map(_.toSeq).toSeq)
    // per-list membership identical (the at-rest partitioning)
    def members(p: String) = spark.read.parquet(s"$p/vectors")
      .select(col("cid"), col("vec_id")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    assert(members(reclustered) === members(fresh))
    // probe identical
    val a = Similarity.ivfProbeIndex(spark, reclustered, q, k = 10, nprobe = 2).collect().toSeq
    assert(a === Similarity.ivfProbeIndex(spark, fresh, q, k = 10, nprobe = 2).collect().toSeq)
    assert(a.nonEmpty)
    // (balance DIRECTION is deliberately not asserted: the driver
    // delta is drawn from the same distribution as the base, so the
    // before/after imbalance is measurement noise here — the
    // drifted-delta rebalance effect is BENCH_NOTES evidence, and the
    // bit-equality above already proves the retrain forgot the
    // append history)
  }

  test("ivfRecluster preserves non-default source geometry: nlist is read from the index, never defaulted") {
    // round 10 (ADVICE r9): a recluster that rebuilt a non-default
    // index with a hardcoded nlist=16 would keep the bit-equality
    // contract's words and break its meaning for every such index —
    // geometry must come from the stored centroids table.
    val (emb, base, delta) = splitEmb()
    val appended = tempDir("graft-ivf-recl8-a")
    Similarity.ivfWriteIndex(base, appended, nlist = 8, iters = 2)
    Similarity.ivfAppendDelta(delta, appended)
    val reclustered = tempDir("graft-ivf-recl8-b")
    Similarity.ivfRecluster(spark, appended, reclustered)
    assert(Similarity.readCentroids(spark, s"$reclustered/centroids").length === 8)
    val fresh = tempDir("graft-ivf-recl8-c")
    Similarity.ivfWriteIndex(emb, fresh, nlist = 8, iters = 2)
    assert(Similarity.readCentroids(spark, s"$reclustered/centroids").map(_.toSeq).toSeq ===
      Similarity.readCentroids(spark, s"$fresh/centroids").map(_.toSeq).toSeq)
  }

  test("ss15 centroid drift: exact 0.0 at Lloyd's fixed point; a shifted append drags it up; deterministic") {
    import spark.implicits._
    // 16 distinct DIRECTIONS (assignment is cosine-based, so the
    // points must differ in direction, not scale), each duplicated:
    // seeds pick one copy per direction, every Lloyd mean equals its
    // point exactly (integer values — exact in DECIMAL(18,6) and
    // float), so the trained centroid IS the member mean — drift must
    // be EXACTLY 0.0
    val pts = (0 until 16).map(i =>
      Array.tabulate(16)(j => if (j == i) (i + 1).toFloat else 0f))
    val base = (0 until 32).map(i => (i.toLong, pts(i % 16).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val dir = tempDir("graft-drift")
    Similarity.ivfWriteIndex(base, dir, nlist = 16, iters = 2)
    val d0 = Similarity.centroidDrift(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(d0.nonEmpty)
    assert(d0.forall(_._3 === 0.0),
      s"fresh fixed-point index must have zero drift: ${d0.mkString(",")}")
    // append mass the trainer never saw — shifted copies of point 0 —
    // and ONLY the receiving list's mean moves off its frozen centroid
    val delta = (100L until 104L).map(i => (i, pts(0).map(_ + 0.1f).toSeq))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    Similarity.ivfAppendDelta(delta, dir)
    val d1 = Similarity.centroidDrift(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(d1.exists(_._3 > 0.0), "shifted append must register as drift")
    assert(d1.count(_._3 > 0.0) === 1, "only the receiving list drifts")
    // deterministic: the gauge is a maintenance threshold — re-reads
    // must produce identical bits
    val d2 = Similarity.centroidDrift(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(d1.toSeq === d2.toSeq)
  }

  test("clusterStats over the REAL materialized IVF index: counts conserve across delta append") {
    // ss13's fold applied to the at-rest cid partitions — the
    // re-cluster gauge in numbers: imbalance per list, and how a
    // delta append shifts it. Appends only ADD members, so per-list
    // counts are monotone and the totals conserve exactly.
    val (emb, base, delta) = splitEmb()
    val dir = tempDir("graft-ivf-stats")
    Similarity.ivfWriteIndex(base, dir, nlist = 16, iters = 2)
    val sBase = Similarity.clusterStats(
      spark.read.parquet(s"$dir/vectors"), 16, "cid").collect()
    Similarity.ivfAppendDelta(delta, dir)
    val sDelta = Similarity.clusterStats(
      spark.read.parquet(s"$dir/vectors"), 16, "cid").collect()

    val (nBase, nDelta) = (base.count(), delta.count())
    assert(sBase.map(_.getLong(1)).sum === nBase, "base list counts must sum to the base corpus")
    assert(sDelta.map(_.getLong(1)).sum === nBase + nDelta,
      "appended list counts must sum to base + delta — nothing lost, nothing duplicated")
    // appending never removes: every list is monotone non-decreasing
    val baseByCid = sBase.map(r => r.getInt(0) -> r.getLong(1)).toMap
    sDelta.foreach { r =>
      assert(r.getLong(1) >= baseByCid.getOrElse(r.getInt(0), 0L),
        s"list ${r.getInt(0)} shrank across append")
    }
    // shares are a probability vector; imbalance averages to 1 by
    // construction (Σ n·k/N over k lists = k·Σshare = k... /k = 1)
    val shares = sDelta.map(_.getDouble(2))
    assert(math.abs(shares.sum - 1.0) < 1e-9)
    assert(sDelta.map(_.getDouble(3)).forall(_ > 0.0))
  }

  test("two-level cell scoring (nlist > ExprCellMax): every row assigned once, " +
      "builds deterministic, pruned probe holds a recall floor (round 14)") {
    import spark.implicits._
    // 1200 deterministic pseudo-random directions, nlist = 128 >
    // ExprCellMax = 64 — the coarse→fine join path nothing at the
    // oracle/bench SFs (nlist = 16) ever reaches. This is the regime
    // every 100 TB build lives in (nlist = n/512), so it needs its own
    // pins: assignment totality, build determinism, probe recall.
    def vec(i: Long): Seq[Float] =
      Seq.tabulate(12)(j => math.sin(i * 37 + j * 3).toFloat)
    val corpus = (0L until 1200L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val q = corpus.filter(col("vec_id") < 5)
    val dir = tempDir("graft-ivf-2l")
    Similarity.ivfWriteIndex(corpus, dir, nlist = 128, iters = 2)
    // totality: the final 1:1 join assigns every vector exactly once
    val vecs = spark.read.parquet(s"$dir/vectors")
    assert(vecs.count() === 1200L)
    assert(vecs.select("vec_id").distinct().count() === 1200L)
    assert(spark.read.parquet(s"$dir/centroids").count() === 128L)
    // determinism: a second build lands every row in the same cell
    // (coarse driver k-means, graft_topk comparators, DECIMAL Lloyd
    // sums — all order-independent)
    val dir2 = tempDir("graft-ivf-2l-b")
    Similarity.ivfWriteIndex(corpus, dir2, nlist = 128, iters = 2)
    val a1 = vecs.select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    val a2 = spark.read.parquet(s"$dir2/vectors").select("vec_id", "cid")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(a1.toSeq === a2.toSeq, "two-level assignment must be deterministic")
    // probe (nprobe derives nlist/4 = 32, itself two-level-selected):
    // k rows per query and recall ≥ floor vs the exact answer
    val k = 10
    val probe = Similarity.ivfProbeIndex(spark, dir, q, k)
    val counts = probe.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(counts.length === 5 && counts.forall(_ === k.toLong))
    val exact = Similarity.bruteForceTopK(corpus, q, k)
      .select(col("query_id"), col("vec_id"))
    val hits = probe.select(col("query_id"), col("vec_id"))
      .join(exact, Seq("query_id", "vec_id"), "left_semi").count()
    assert(hits >= 35L, s"two-level IVF recall@$k fell to $hits/50")
  }

  test("two-level assignment totality under hostile rows (round 15 — ADVICE r14): " +
      "zero-norm embeddings keep the expression path's convention, nothing drops") {
    import spark.implicits._
    // The r14 large-nlist path ended in an INNER join: a zero-norm
    // embedding (graft_cosine → null for every centroid → graft_topk
    // empty) silently vanished from IVF/PQ/HNSW builds in exactly the
    // nlist > ExprCellMax regime production runs in. Pin totality AND
    // the degenerate-row convention: both regimes must agree that an
    // all-null score ties to the HIGHEST cid (the expression path's
    // array_sort/reverse behavior).
    def vec(i: Long): Seq[Float] =
      Seq.tabulate(12)(j => math.sin(i * 37 + j * 3).toFloat)
    val corpus = ((0L until 1200L).map(i => (i, vec(i))) :+
        (1200L, Seq.fill(12)(0.0f))) // the hostile row
      .toDF("vec_id", "embedding")
    val dir = tempDir("graft-ivf-zn")
    Similarity.ivfWriteIndex(corpus, dir, nlist = 128, iters = 2)
    val vecs = spark.read.parquet(s"$dir/vectors")
    assert(vecs.count() === 1201L, "zero-norm row must not drop from the build")
    val znCid = vecs.filter(col("vec_id") === 1200L).select("cid").head().getInt(0)
    assert(znCid === 127, s"all-null-tie convention is highest cid, got $znCid")
    // small regime, same convention: nlist = 16 ≤ ExprCellMax
    val dirS = tempDir("graft-ivf-zn-s")
    Similarity.ivfWriteIndex(corpus, dirS, nlist = 16, iters = 2)
    val znS = spark.read.parquet(s"$dirS/vectors")
      .filter(col("vec_id") === 1200L).select("cid").head().getInt(0)
    assert(znS === 15, s"expression-path convention regressed, got $znS")
    // hnsw takes __cells[1] (the secondary cell): the worst-case beam
    // sizing + left-join fallback must hand EVERY node a non-null cid1
    // and a well-defined graph row — including the zero-norm one
    val hDir = tempDir("graft-hnsw-zn")
    Similarity.hnswWriteIndex(corpus, hDir, nlist = 128, iters = 2)
    val embT = spark.read.parquet(s"$hDir/emb")
    assert(embT.count() === 1201L)
    assert(embT.filter(col("cid1").isNull).count() === 0L)
    assert(spark.read.parquet(s"$hDir/graph").count() === 1201L)
  }
}
