package graft

import org.apache.spark.sql.functions._

/** Measure delta-append index maintenance against its full-rebuild
  * alternative — the empirical line behind the round-8 claim that a
  * nightly ingest costs O(|delta|), never O(corpus):
  *
  *   `runMain graft.DeltaBench <sfDir> [reps]`
  *
  * For each materialized-index family the corpus splits 7/8 base +
  * 1/8 delta (the dd9/ss8 convention). The BASE index is built once,
  * untimed (it is the standing infrastructure). Then, min-of-`reps`
  * each: (a) FULL rebuild over the union into a fresh directory —
  * what every ingest cost before round 8 — and (b) *AppendDelta of
  * the 1/8 into a fresh COPY of the base index (copy untimed; the
  * append must see a pristine base each rep, since appending is a
  * mutation). The ratio is the amortization a nightly pipeline
  * realizes; at a production delta rate (≪ 1/8 of corpus/night) it
  * only widens. */
object DeltaBench {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    // section filter (round 11): appends | idempotent | compaction |
    // maintenance | all — the maintenance pricing sweeps scale dirs,
    // where re-running the other sections would dominate the sweep's
    // wall time
    val section = args.drop(2).headOption.getOrElse("all")
    def on(s: String): Boolean = section == "all" || section == s
    val spark = Sessions.local()
    import graft.operators.{Dedup, Similarity}

    val work = LayoutStore.scratchDir(spark, "graft-deltabench")
    var n = 0
    def fresh(): String = { n += 1; s"$work/d$n" }
    def minTime(f: String => Unit): Double =
      (1 to reps).map { _ =>
        Sessions.clearCaches(spark)
        val t0 = System.nanoTime(); f(fresh()); (System.nanoTime() - t0) / 1e9
      }.min
    def minTimeOnCopy(proto: String)(f: String => Unit): Double =
      (1 to reps).map { _ =>
        Sessions.clearCaches(spark)
        val c = fresh()
        LayoutStore.copy(spark, proto, c)
        val t0 = System.nanoTime(); f(c); (System.nanoTime() - t0) / 1e9
      }.min

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
    def writeBk(df: org.apache.spark.sql.DataFrame, p: String): Unit =
      graft.sources.BucketedTables.writeBucketed(df, bkTable(p), p,
        "l_orderkey", 8, Seq("l_orderkey"))

    case class Fam(name: String, buildBase: String => Unit,
        full: String => Unit, append: String => Unit)
    // the containment index probes a shingle index; both generations
    // are prebuilt untimed here — the shingle family row already
    // prices that rebuild, and the contain row should price ONLY the
    // candidate probe + CC labeling it adds on top
    lazy val (shBase, shFull) = {
      val (b, f) = (fresh(), fresh())
      Dedup.shingleWriteIndex(docsBase, 1, b)
      Dedup.shingleWriteIndex(docs, 1, f)
      (b, f)
    }
    val fams = Seq(
      Fam("shingle", p => Dedup.shingleWriteIndex(docsBase, 1, p),
        p => Dedup.shingleWriteIndex(docs, 1, p),
        p => Dedup.shingleAppendDelta(docsDelta, 1, p)),
      // round 15 (VERDICT r14 #6): the board's largest
      // whole-rebuild-on-refresh layout gets the delta-append family
      Fam("contain", p => Dedup.containWriteIndex(spark, shBase, docsBase, p, 0.9),
        p => Dedup.containWriteIndex(spark, shFull, docs, p, 0.9),
        p => Dedup.containAppendDelta(docsDelta, 1, shBase, p, 0.9)),
      Fam("ivf", p => Similarity.ivfWriteIndex(embBase, p),
        p => Similarity.ivfWriteIndex(emb, p),
        p => Similarity.ivfAppendDelta(embDelta, p)),
      Fam("pq", p => Similarity.pqWriteIndex(embBase, p, dim),
        p => Similarity.pqWriteIndex(emb, p, dim),
        p => Similarity.pqAppendDelta(embDelta, p, dim)),
      Fam("lsh", p => Similarity.lshWriteIndex(embBase, p, dim),
        p => Similarity.lshWriteIndex(emb, p, dim),
        p => Similarity.lshAppendDelta(embDelta, p, dim)),
      Fam("ivfpq", p => Similarity.ivfPqWriteIndex(embBase, p, dim),
        p => Similarity.ivfPqWriteIndex(emb, p, dim),
        p => Similarity.ivfPqAppendDelta(embDelta, p, dim)),
      // the bucketed fact layout (round 11 — VERDICT r10 #5): full =
      // re-shuffle + rewrite the whole fact table; append = hash-route
      // the delta into new bucket-named files. The append leg includes
      // the metadata-only re-register a fresh session pays over a
      // copied directory.
      Fam("bucketed", p => writeBk(liBase, p),
        p => writeBk(liB, p),
        p => {
          val t = bkTable(p)
          spark.sql(s"CREATE TABLE $t (${liB.schema.toDDL}) USING parquet " +
            "CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey) INTO 8 BUCKETS " +
            s"LOCATION '$p'")
          graft.sources.BucketedTables.appendBucketedDelta(spark, t, liDelta)
        }))

    if (on("appends")) {
      println(s"| index | full rebuild (union) | append 1/8 delta | ratio |")
      println(s"| --- | --- | --- | --- |")
      fams.foreach { fam =>
        val proto = fresh()
        fam.buildBase(proto)
        val tFull = minTime(fam.full)
        val tApp = minTimeOnCopy(proto)(fam.append)
        println(f"| ${fam.name} | $tFull%.2f s | $tApp%.2f s | ${tFull / tApp}%.1f× |")
      }
    }

    // ---- round 12 (VERDICT r11 #2): the exactly-once premium ----
    // What the idempotent twins' existence anti-join costs over the
    // plain append (first delivery), and what a full replay costs (the
    // check finds everything present, appends zero) — the crash-rerun
    // price a pipeline pays for closing at-least-once redelivery.
    if (on("idempotent")) {
      case class Idem(name: String, buildBase: String => Unit,
          plain: String => Unit, idem: String => Long)
      val idems = Seq(
        Idem("ivf", p => Similarity.ivfWriteIndex(embBase, p),
          p => Similarity.ivfAppendDelta(embDelta, p),
          p => Similarity.ivfAppendDeltaIdempotent(embDelta, p)),
        Idem("pq", p => Similarity.pqWriteIndex(embBase, p, dim),
          p => Similarity.pqAppendDelta(embDelta, p, dim),
          p => Similarity.pqAppendDeltaIdempotent(embDelta, p, dim)),
        Idem("lsh", p => Similarity.lshWriteIndex(embBase, p, dim),
          p => Similarity.lshAppendDelta(embDelta, p, dim),
          p => Similarity.lshAppendDeltaIdempotent(embDelta, p, dim)),
        Idem("ivfpq", p => Similarity.ivfPqWriteIndex(embBase, p, dim),
          p => Similarity.ivfPqAppendDelta(embDelta, p, dim),
          p => Similarity.ivfPqAppendDeltaIdempotent(embDelta, p, dim)))
      println(s"| index | plain append | idempotent 1st delivery | full replay (0 rows) |")
      println(s"| --- | --- | --- | --- |")
      idems.foreach { fam =>
        val proto = fresh()
        fam.buildBase(proto)
        val tPlain = minTimeOnCopy(proto)(p => fam.plain(p))
        val tIdem = minTimeOnCopy(proto)(p => { fam.idem(p); () })
        // replay is timed on an already-ingested copy (first delivery
        // untimed per rep) and must append zero rows
        val tReplay = (1 to reps).map { _ =>
          val c = fresh()
          LayoutStore.copy(spark, proto, c)
          fam.idem(c)
          Sessions.clearCaches(spark)
          val t0 = System.nanoTime()
          require(fam.idem(c) == 0L, s"${fam.name} replay appended rows")
          (System.nanoTime() - t0) / 1e9
        }.min
        println(f"| ${fam.name} | $tPlain%.2f s | $tIdem%.2f s | $tReplay%.2f s |")
      }
    }

    // ---- round 9 (VERDICT r8 #1): the compaction cadence line ----
    // Four disjoint nightly appends fragment the data dirs (LSH worst:
    // one file per touched bucket dir per append), then ONE
    // compactIndex pass rewrites them to byte-targeted files — file
    // counts and a min-of-reps probe before/after show what the
    // cadence buys and that it costs one bounded rewrite.
    case class Cf(name: String, buildBase: String => Unit,
        appendSlice: (Int, String) => Unit, dataSub: String, probe: String => Long)
    val q5 = emb.filter(col("vec_id") < 5)
    val cfs = Seq(
      Cf("shingle", p => Dedup.shingleWriteIndex(docsBase, 1, p),
        (i, p) => Dedup.shingleAppendDelta(
          docs.filter(col("doc_id") % 32 === i * 8), 1, p), "sh",
        p => Dedup.ngramJaccardProbe(spark, p, 0.9).count()),
      Cf("ivf", p => Similarity.ivfWriteIndex(embBase, p),
        (i, p) => Similarity.ivfAppendDelta(
          emb.filter(col("vec_id") % 32 === i * 8), p), "vectors",
        p => Similarity.ivfProbeIndex(spark, p, q5, 10).count()),
      Cf("lsh", p => Similarity.lshWriteIndex(embBase, p, dim),
        (i, p) => Similarity.lshAppendDelta(
          emb.filter(col("vec_id") % 32 === i * 8), p, dim), "buckets",
        p => Similarity.lshProbeIndex(spark, p, q5, dim, 10).count()))
    def fileCount(d: String): Int = LayoutStore.files(spark, d).count { f =>
      val name = f.getPath.getName
      name.endsWith(".parquet") || name.startsWith("part-")
    }
    if (on("compaction")) {
      println()
      println(s"| index | files after 4 appends | probe pre | compact | files post | probe post |")
      println(s"| --- | --- | --- | --- | --- | --- |")
      cfs.foreach { cf =>
        val p = fresh()
        cf.buildBase(p)
        (0 until 4).foreach(i => cf.appendSlice(i, p))
        val filesPre = fileCount(s"$p/${cf.dataSub}")
        def probeMin(): Double = (1 to reps).map { _ =>
          Sessions.clearCaches(spark)
          val t0 = System.nanoTime(); cf.probe(p); (System.nanoTime() - t0) / 1e9
        }.min
        val tPre = probeMin()
        val t0 = System.nanoTime()
        graft.sources.Compact.compactIndex(spark, s"$p/${cf.dataSub}")
        val tC = (System.nanoTime() - t0) / 1e9
        val filesPost = fileCount(s"$p/${cf.dataSub}")
        val tPost = probeMin()
        println(f"| ${cf.name} | $filesPre | $tPre%.2f s | $tC%.2f s | $filesPost | $tPost%.2f s |")
      }
    }

    // ---- round 11 (VERDICT r10 #7): pricing the COMPOSED nightly
    // cycle (graft.Maintenance), quiet vs drifted, phases split out.
    // Each cycle runs against a fresh base ⊕ delta index; the phase
    // seconds come off the cycle's own audit log (the one real
    // dispatch — a re-implemented timing twin could drift from it).
    // Drift is planted as a +0.5 shift on every delta coordinate:
    // unambiguously past any sane threshold, so the drifted row always
    // prices the ACT arm.
    if (on("maintenance")) {
      val shifted = embDelta.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x + 0.5f as float))").as("embedding"))
      println()
      println(s"| cycle | total | phases |")
      println(s"| --- | --- | --- |")
      def row(name: String, f: () => Seq[(String, String)]): Unit = {
        val t0 = System.nanoTime()
        val log = f()
        val tot = (System.nanoTime() - t0) / 1e9
        println(f"| $name | $tot%.2f s | " +
          log.map { case (k, v) => s"$k: $v" }.mkString("; ") + " |")
      }
      def ivfAt(delta: org.apache.spark.sql.DataFrame): String = {
        val p = fresh()
        Similarity.ivfWriteIndex(embBase, p)
        Similarity.ivfAppendDelta(delta, p)
        p
      }
      // threshold 0.5: the driver corpus's same-distribution eighth
      // sits at max_drift ~0.14 (sampling noise on small lists), the
      // planted +0.5 shift at ~2.7 — 0.5 separates the regimes so the
      // quiet row prices the KEEP arm and the drifted row the ACT arm
      val ivfQ = ivfAt(embDelta); val ivfD = ivfAt(shifted)
      row("ivf quiet", () => Maintenance.ivfCycle(spark, ivfQ, fresh(), 0.5))
      row("ivf drifted", () => Maintenance.ivfCycle(spark, ivfD, fresh(), 0.5))
      def pqAt(delta: org.apache.spark.sql.DataFrame): String = {
        val p = fresh()
        Similarity.pqWriteIndex(embBase, p, dim)
        Similarity.pqAppendDelta(delta, p, dim)
        p
      }
      val pqQ = pqAt(embDelta); val pqD = pqAt(shifted)
      row("pq quiet", () => Maintenance.pqCycle(spark, pqQ, embDelta, 1.5))
      row("pq drifted", () => Maintenance.pqCycle(spark, pqD, shifted, 1.5))
      val shP = fresh()
      Dedup.shingleWriteIndex(docsBase, 1, shP)
      Dedup.shingleAppendDelta(docsDelta, 1, shP)
      row("shingle", () => Maintenance.shingleCycle(spark, shP))
    }
    spark.stop()
  }
}
