package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, sum => ssum, xxhash64}

import graft.sources.Compact

/** Compaction: many small files → few size-targeted files, content
  * identical; clustered mode produces disjoint per-file key ranges. */
class CompactSpec extends SparkTestBase {

  private def contentHash(path: String): java.math.BigDecimal =
    spark.read.parquet(path)
      .agg(ssum(xxhash64(col("doc_id"), col("text"), col("lang")).cast("decimal(38,0)")))
      .head().getDecimal(0)

  test("compaction reduces file count, preserves rows and content") {
    val base = tempDir("graft-compact")
    val in = s"$base/in"
    val out = s"$base/out"
    Tables.documents(spark, Sf0001).repartition(50)
      .write.mode("overwrite").parquet(in)
    val inFiles = new java.io.File(in).listFiles.count(_.getName.endsWith(".parquet"))
    assert(inFiles === 50)

    // target ≈ 1/3 of the input → expect 3 output files
    val target = math.max(1L, Compact.dataBytes(spark, in) / 3)
    val n = Compact.compact(spark, in, out, target)
    val outFiles = new java.io.File(out).listFiles.count(_.getName.endsWith(".parquet"))
    assert(outFiles === n && n >= 2 && n <= 4, s"n=$n outFiles=$outFiles")
    assert(spark.read.parquet(out).count() === spark.read.parquet(in).count())
    assert(contentHash(out) === contentHash(in))
  }

  test("indexCompact: LSH bucket dirs collapse to targeted files; probe ≡ pre-compaction; pruning intact") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, Sf0001)
    val path = tempDir("graft-idxcompact")
    // base build + two delta appends — each append lands one more file
    // in every touched bucket dir (the commit-bound LSH shape
    // DeltaBench flagged)
    Similarity.lshWriteIndex(emb.filter(col("vec_id") % 4 =!= 0), path, 64)
    Similarity.lshAppendDelta(emb.filter(col("vec_id") % 8 === 0), path, 64)
    Similarity.lshAppendDelta(emb.filter(col("vec_id") % 8 === 4), path, 64)
    def bucketFiles(): Map[String, Int] =
      new java.io.File(s"$path/buckets").listFiles().toSeq
        .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val before = bucketFiles()
    assert(before.values.exists(_ >= 3), s"appends did not fragment: $before")
    val q = emb.filter(col("vec_id") < 5)
    val probe0 = Similarity.lshProbeIndex(spark, path, q, 64, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val rewritten = Compact.compactIndex(spark, s"$path/buckets")
    assert(rewritten.nonEmpty)
    val after = bucketFiles()
    assert(after.keySet === before.keySet, "compaction changed the partition dirs")
    assert(after.values.forall(_ === 1), s"files not byte-targeted down: $after")
    assert(after.values.sum < before.values.sum)
    // probe is BYTE-IDENTICAL — compaction moved rows between files,
    // nothing else
    val probe1 = Similarity.lshProbeIndex(spark, path, q, 64, 10)
    assert(probe1.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq === probe0)
    // and planning-time partition pruning still fires on the compacted
    // layout — the dirs kept their bucket= names
    val scanLine = probe1.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scanLine.exists(_.contains("PartitionFilters: [bucket#")),
      s"pruning lost after compaction:\n${scanLine.mkString("\n")}")
    // idempotent: a second pass finds nothing to rewrite
    assert(Compact.compactIndex(spark, s"$path/buckets").isEmpty)
  }

  test("indexCompact: unpartitioned shingle sh/ compacts in place; probe ≡; trained df/ untouched") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, Sf0001)
    val path = tempDir("graft-shcompact")
    Dedup.shingleWriteIndex(docs.filter(col("doc_id") % 4 =!= 0), 1, path)
    Dedup.shingleAppendDelta(docs.filter(col("doc_id") % 8 === 0), 1, path)
    Dedup.shingleAppendDelta(docs.filter(col("doc_id") % 8 === 4), 1, path)
    def shFiles(): Int = new java.io.File(s"$path/sh").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val before = shFiles()
    val dfMtime = new java.io.File(s"$path/df").lastModified()
    val probe0 = Dedup.ngramJaccardProbe(spark, path, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val rewritten = Compact.compactIndex(spark, s"$path/sh")
    assert(rewritten.nonEmpty && shFiles() < before)
    assert(Dedup.ngramJaccardProbe(spark, path, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq === probe0)
    // the trained state (df/ — the total order every array was sorted
    // under) is a sibling the pass never names
    assert(new java.io.File(s"$path/df").lastModified() === dfMtime)
  }

  test("indexCompact crash recovery: .old-* with live missing restores; with live present drops; .compact-* never survives") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.xxhash64
    val emb = Tables.embeddings(spark, Sf0001)
    val path = tempDir("graft-crashrec")
    Similarity.lshWriteIndex(emb, path, 64)
    val buckets = new java.io.File(s"$path/buckets")
    // order-independent content fingerprint over ALL rows incl. the
    // partition column — recovery must restore the index EXACTLY
    def bucketsHash(): java.math.BigDecimal = {
      spark.catalog.clearCache()
      val df = spark.read.parquet(buckets.toString)
      df.agg(ssum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
        .head().getDecimal(0)
    }
    val pre = bucketsHash()
    val dirs = buckets.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("bucket=")).sortBy(_.getName)
    assert(dirs.length >= 2)
    val x = dirs(0); val z = dirs(1)
    // state 1 — crash BETWEEN the two renames: `.old-*` is the
    // partition's ONLY data copy (the pre-round-10 sweep deleted it:
    // permanent index loss). Plus the same partition's stray tmp.
    val oldX = new java.io.File(buckets, s".old-deadbeef-${x.getName}")
    assert(x.renameTo(oldX))
    val tmpX = new java.io.File(buckets, s".compact-deadbeef-${x.getName}")
    assert(tmpX.mkdir())
    Files.write(tmpX.toPath.resolve("part-partial.parquet"), Array[Byte](1, 2, 3))
    // state 2 — crash AFTER the swap, before the delete: live dir is
    // the current data; the stale `.old-*` must be dropped, never
    // renamed back over it
    val oldZ = new java.io.File(buckets, s".old-cafebabe-${z.getName}")
    assert(oldZ.mkdir())
    Files.write(oldZ.toPath.resolve("part-stale.parquet"), Array[Byte](9))
    Compact.compactIndex(spark, s"$path/buckets")
    assert(x.exists, "crash-state partition was not restored")
    assert(z.exists, "live partition vanished")
    assert(bucketsHash() === pre, "recovered index content differs from pre-crash")
    val leftovers = buckets.listFiles().map(_.getName)
      .filter(n => n.startsWith(".old-") || n.startsWith(".compact-"))
    assert(leftovers.isEmpty, s"crash leftovers survived: ${leftovers.mkString(",")}")
  }

  test("indexCompact crash recovery: unpartitioned dir restored from shared parent; sibling layouts' leftovers untouched") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, Sf0001)
    val path = tempDir("graft-crashrec-sh")
    Dedup.shingleWriteIndex(docs, 1, path)
    val root = new java.io.File(path)
    val sh = new java.io.File(root, "sh")
    def probe(): Seq[(Long, Long, Double)] = {
      spark.catalog.clearCache()
      Dedup.ngramJaccardProbe(spark, path, 0.9).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    val pre = probe()
    // the unpartitioned swap goes through hidden siblings in the data
    // dir's PARENT (the layout root) — crash between renames leaves
    // sh/ existing only as `.old-*` there
    assert(sh.renameTo(new java.io.File(root, ".old-0badf00d-sh")))
    val tmpSh = new java.io.File(root, ".compact-0badf00d-sh")
    assert(tmpSh.mkdir())
    Files.write(tmpSh.toPath.resolve("part-partial.parquet"), Array[Byte](1))
    // a SIBLING target's leftover in the same shared parent: another
    // pass's state, out of this sweep's scope — must survive untouched
    val sib = new java.io.File(root, ".old-0badf00d-othersib")
    assert(sib.mkdir())
    Files.write(sib.toPath.resolve("keep.parquet"), Array[Byte](7))
    Compact.compactIndex(spark, s"$path/sh")
    assert(sh.exists, "sh/ was not restored from its .old-* copy")
    assert(probe() === pre, "recovered probe differs from pre-crash")
    assert(!new java.io.File(root, ".old-0badf00d-sh").exists)
    assert(!tmpSh.exists, ".compact-* survived the sweep")
    assert(sib.exists, "out-of-scope sibling leftover was swept")
    // the sibling's own pass (its target name) recovers it
    Compact.compactIndex(spark, s"$path/othersib")
    assert(new java.io.File(root, "othersib").exists && !sib.exists)
  }

  test("compact and compactIndex run on a non-file: scheme (graftfs:)") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
    val base = s"graftfs://${tempDir("graft-compact-fs")}"
    def parquetFiles(d: String): Int = {
      val p = new Path(d)
      p.getFileSystem(conf).listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
    }
    def rows(d: String): Seq[String] =
      spark.read.parquet(d).collect().map(_.toString).toSeq.sorted
    val in = s"$base/in"
    Tables.documents(spark, Sf0001).repartition(20).write.parquet(in)
    assert(parquetFiles(in) === 20)
    val want = rows(in)
    // whole-table rewrite, sized by dataBytes' listing of the input
    val out = s"$base/out"
    val n = Compact.compact(spark, in, out, math.max(1L, Compact.dataBytes(spark, in) / 3))
    assert(parquetFiles(out) === n && n < 20, s"n=$n")
    assert(rows(out) === want)
    // in-place rewrite through the hidden-sibling swap
    assert(Compact.compactIndex(spark, in).map(_._2) === Seq(20))
    assert(parquetFiles(in) < 20)
    assert(rows(in) === want)
  }

  test("clustered compaction yields disjoint per-file doc_id ranges") {
    val base = tempDir("graft-compact-cl")
    val in = s"$base/in"
    val out = s"$base/out"
    Tables.documents(spark, Sf0001).repartition(20)
      .write.mode("overwrite").parquet(in)
    Compact.compact(spark, in, out,
      math.max(1L, Compact.dataBytes(spark, in) / 4), clusterBy = Seq("doc_id"))
    // per-file [min,max] of the clustering key must not overlap — that
    // is exactly what lets parquet stats skip whole files on range scans
    import org.apache.spark.sql.functions.{input_file_name, max => smax, min => smin}
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(smin(col("doc_id")).as("lo"), smax(col("doc_id")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length >= 2)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, ranges.mkString(","))
      case _ =>
    }
    assert(contentHash(out) === contentHash(in))
  }
}
