package graft

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame

import graft.operators.Dedup

/** `graftfs:` — the local disk under a scheme only Hadoop resolves.
  * Spark reads and writes there through `fs.graftfs.impl`, while
  * java.io sees nothing at a `graftfs:` path, so a layout-store step
  * that bypasses the Hadoop FileSystem API fails on it. */
class GraftTestFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** The write-once layout protocol ([[LayoutStore]]) run entirely on a
  * non-`file:` scheme: build-if-missing, crash cleanup, publish races,
  * vacuum, source keys and the delta-append batch commit. */
class LayoutStoreSpec extends SparkTestBase {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
  }

  /** A fresh directory, spelled as a `graftfs:` path. */
  private def graftfsDir(prefix: String): String = s"graftfs://${tempDir(prefix)}"

  private def fs: FileSystem =
    new Path("graftfs:///").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(n: Int): DataFrame = spark.range(n).toDF("id")

  /** Every file under `dir`, relative to it, sorted. */
  private def files(dir: String): Seq[String] = {
    val root = fs.makeQualified(new Path(dir)).toString
    LayoutStore.files(spark, dir).map(_.getPath.toString.stripPrefix(root)).sorted
  }

  test("(a) ensure runs its build once across two calls") {
    val path = s"${graftfsDir("graft-store-a")}/layout"
    var builds = 0
    def build(tmp: String): Unit = { builds += 1; rows(3).write.parquet(tmp) }
    assert(LayoutStore.ensure(spark, path)(build) === path)
    assert(LayoutStore.ensure(spark, path)(build) === path)
    assert(builds === 1)
    assert(fs.exists(new Path(s"$path/_done")))
    assert(spark.read.parquet(path).count() === 3L)
  }

  test("(b) a throwing build leaves no .build-* dir behind") {
    val root = graftfsDir("graft-store-b")
    val e = intercept[IllegalStateException] {
      LayoutStore.ensure(spark, s"$root/layout") { tmp =>
        rows(3).write.parquet(tmp)
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage === "build failed")
    assert(fs.listStatus(new Path(root)).isEmpty)
  }

  test("(c) a marker-less layout dir is removed and rebuilt") {
    val path = s"${graftfsDir("graft-store-c")}/layout"
    rows(2).write.parquet(path) // a crashed build's remnant: data, no _done
    LayoutStore.ensure(spark, path)(tmp => rows(5).write.parquet(tmp))
    assert(fs.exists(new Path(s"$path/_done")))
    assert(spark.read.parquet(path).count() === 5L)
  }

  test("(d) publishing onto an existing layout leaves it unchanged and nests no build") {
    val root = graftfsDir("graft-store-d")
    val path = s"$root/layout"
    var winner = Seq.empty[String]
    LayoutStore.ensure(spark, path) { tmp =>
      rows(4).write.parquet(tmp)
      // a concurrent session publishes the same layout first
      LayoutStore.ensure(spark, path)(t => rows(7).write.parquet(t))
      winner = files(path)
    }
    assert(winner.nonEmpty)
    assert(files(path) === winner)
    assert(!files(root).exists(_.contains(".build-")), files(root))
    assert(spark.read.parquet(path).count() === 7L)
  }

  test("(e) vacuum on a graftfs root reclaims an aged superseded generation, keeps the newest") {
    val root = graftfsDir("graft-store-e")
    val hex = "0123456789abcdef0123456789abcdef"
    val oldGen = s"$root/graft_shidx_src_${hex}_100_1000_n1v2"
    val newGen = s"$root/graft_shidx_src_${hex}_120_2000_n1v2"
    Seq(oldGen, newGen).foreach(p => rows(1).write.parquet(p))
    fs.setTimes(new Path(oldGen), System.currentTimeMillis - 2 * 3600L * 1000, -1)
    val deleted = LayoutStore.vacuum(root, spark.sparkContext.hadoopConfiguration)
    assert(deleted === Seq(new Path(oldGen).toString))
    assert(!fs.exists(new Path(oldGen)) && fs.exists(new Path(newGen)))
  }

  test("(f) layoutKey follows a graftfs source's rewrite; a local source keys on java.io's size and mtime") {
    val dir = graftfsDir("graft-store-f")
    def writeSource(n: Int, mtime: Long): String = {
      rows(n).coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
      fs.setTimes(new Path(s"$dir/t.parquet"), mtime, -1)
      LayoutStore.layoutKey(spark, dir, "t", "v1")
    }
    val k1 = writeSource(10, 1000000000000L)
    val k2 = writeSource(20, 1000000002000L)
    assert(k1.endsWith("_1000000000000_v1"), k1)
    assert(k2.endsWith("_1000000002000_v1"), k2)
    assert(k1 !== k2)
    // on the local disk the key carries exactly the values java.io
    // reads, so existing layout names do not change
    val f = new java.io.File(s"$Sf0001/lineitem.parquet")
    assert(LayoutStore.layoutKey(spark, Sf0001, "lineitem")
      .endsWith(s"_${f.length}_${f.lastModified}"))
  }

  test("(g) replaying a batch id through both delta appends on a graftfs index appends nothing") {
    import spark.implicits._
    val work = graftfsDir("graft-store-g")
    val passage = "this licence text is repeated verbatim across many documents today"
    val baseDocs = Seq((1L, s"unique opening words one two three four $passage"),
      (2L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val deltaDocs = Seq((3L, s"another document that quotes the passage $passage"),
      (4L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")

    val spans = s"$work/spans"
    Dedup.dupSpansWriteIndex(baseDocs, 10, spans)
    val spansBase = files(spans)
    Dedup.dupSpansAppendDelta(deltaDocs, 10, spans, Some("st-7"))
    val spansOnce = files(spans)
    assert(spansOnce.exists(_.contains("/bst-7-")))
    assert(spansOnce.size > spansBase.size)
    Dedup.dupSpansAppendDelta(deltaDocs, 10, spans, Some("st-7"))
    assert(files(spans) === spansOnce)

    val tau = 0.8
    Dedup.shingleWriteIndex(baseDocs, 1, s"$work/sh")
    val contain = s"$work/contain"
    Dedup.containWriteIndex(spark, s"$work/sh", baseDocs, contain, tau)
    Dedup.containAppendDelta(deltaDocs, 1, s"$work/sh", contain, tau, Some("st-7"))
    val containOnce = files(contain)
    assert(containOnce.exists(_.startsWith("/_batch_st-7")))
    val pairsOnce = spark.read.parquet(s"$contain/pairs").collect().toSet
    assert(pairsOnce.exists(r => r.getLong(0) == 2L && r.getLong(1) == 4L))
    Dedup.containAppendDelta(deltaDocs, 1, s"$work/sh", contain, tau, Some("st-7"))
    assert(files(contain) === containOnce)
    assert(spark.read.parquet(s"$contain/pairs").collect().toSet === pairsOnce)
  }
}
