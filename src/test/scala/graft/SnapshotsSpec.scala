package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Checkpoints.{dropSnapshotBlocks, withCheckpointDir}

import graft.functions.TextFunctions
import graft.operators.{Bfs, Dedup, PageRank, Similarity}
import graft.queries.{PipelineQueries, StreamQueries}

/** The one truncation helper ([[Snapshots]]): what each operator leaves
  * persisted, reliable ≡ local rows, and what a lost snapshot block
  * does to a query with and without a checkpoint dir. Reliable cases
  * put the dir on the `graftfs:` scheme, off the local disk as far as
  * the code under test can tell. */
class SnapshotsSpec extends SparkTestBase {

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFileSystem].getName)
  }

  /** (local dir, the same dir spelled as a `graftfs:` path). */
  private def graftfsDir(prefix: String): (String, String) = {
    val dir = tempDir(prefix)
    (dir, s"graftfs://$dir")
  }

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  private def sym(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val e = pairs.toDF("src", "dst")
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  private lazy val line = sym((0L until 5L).map(i => (i, i + 1)))
  private lazy val square = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)))

  private def hops(maxHops: Int): DataFrame = {
    import spark.implicits._
    Bfs.hops(line, Seq(0L).toDF("node"), maxHops)
  }

  private def pairsOf(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.get(1).asInstanceOf[Number].longValue)).toSeq.sorted

  test("free rejects a DataFrame that is not a snapshot") {
    val ex = intercept[IllegalArgumentException](Snapshots.free(spark.range(3).toDF()))
    assert(ex.getMessage.contains("not a snapshot"))
  }

  /** One operator: its name, the snapshots its result still reads, a
    * set-up run outside the measurement, the measured run, and the
    * rows the measured run must return. */
  private case class Leak(name: String, live: Int, setUp: () => Unit,
      run: () => Seq[Any], expected: () => Seq[Any])

  test("operators leave persisted only the snapshots their results read; rows unchanged") {
    val emb = Tables.embeddings(spark, Sf0001)
    val base = emb.filter(col("vec_id") % 8 =!= 0)
    val delta = emb.filter(col("vec_id") % 8 === 0)
    lazy val nDelta = Seq(delta.count())
    def appendCase(name: String, build: String => Unit, append: String => Long): Leak = {
      val dir = tempDir(s"graft-snap-$name")
      Leak(name, 0, () => build(dir), () => Seq(append(dir)), () => nDelta)
    }
    val docs = Tables.documents(spark, Sf0001)
    val hnsw = tempDir("graft-snap-hnsw")
    val q = emb.filter(col("vec_id") < 5)
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
    lazy val prRounds = PageRank.ranksConvergedWithRounds(square, 25000000000L, 10)._2
    val cases = Seq(
      appendCase("lsh", Similarity.lshWriteIndex(base, _, dim = 64),
        Similarity.lshAppendDeltaIdempotent(delta, _, dim = 64)),
      appendCase("ivf", Similarity.ivfWriteIndex(base, _),
        Similarity.ivfAppendDeltaIdempotent(delta, _)),
      appendCase("pq", Similarity.pqWriteIndex(base, _, dim = 64),
        Similarity.pqAppendDeltaIdempotent(delta, _)),
      appendCase("ivfpq", Similarity.ivfPqWriteIndex(base, _, dim = 64, nlist = 16),
        Similarity.ivfPqAppendDeltaIdempotent(delta, _)),
      {
        def train() = TextFunctions.weakClassifierTrain(
          docs.filter(!PipelineQueries.isDeltaDoc), PipelineQueries.DsirTargetSources).toSeq
        lazy val w = train()
        Leak("weakClassifierTrain", 0, () => w, () => train(), () => w)
      },
      // 1 = the result's snapshot; the mask path's caches
      // (Dedup.incrementalByMask) go with each batch's union
      Leak("st15CheckpointFrom", 1, () => rows(StreamQueries.st15(spark, Sf0001)),
        () => rows(StreamQueries.st15CheckpointFrom(spark, Sf0001, None)),
        () => rows(StreamQueries.st15(spark, Sf0001))),
      {
        lazy val first = rows(Similarity.mmrDiversify(emb, 4, 10, 5))
        Leak("mmrDiversify", 1, () => first,
          () => rows(Similarity.mmrDiversify(emb, 4, 10, 5)), () => first)
      },
      {
        lazy val first = { Similarity.hnswWriteIndex(base, hnsw, nlist = 4)
          rows(Similarity.hnswProbeIndex(spark, hnsw, q, 5)) }
        Leak("hnswProbeIndex", 1, () => first,
          () => rows(Similarity.hnswProbeIndex(spark, hnsw, q, 5)), () => first)
      },
      Leak("ranksConverged", 1, () => prRounds,
        () => pairsOf(PageRank.ranksConverged(square, 25000000000L, 10)),
        () => pairsOf(PageRank.ranks(square, prRounds).select(col("node"), col("pr_e12")))),
      Leak("Bfs.hops", 1, () => (), () => pairsOf(hops(3)),
        () => Seq(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L)))
    val grew = cases.map { c =>
      c.setUp()
      val expected = c.expected()
      val before = persisted
      val got = c.run()
      val growth = persisted - before
      assert(got === expected, s"${c.name}: rows changed")
      (c.name, growth, c.live)
    }
    val over = grew.filter { case (_, growth, live) => growth > live }
    assert(over.isEmpty, s"(operator, persisted-RDD growth, live snapshots): $over")
  }

  test("reliable snapshots return the local rows: ranksConverged and Bfs.hops on graftfs") {
    val local = (pairsOf(PageRank.ranksConverged(square, 25000000000L, 10)), pairsOf(hops(4)))
    val (dir, fsDir) = graftfsDir("graft-snap-reliable")
    val reliable = withCheckpointDir(fsDir)(
      (pairsOf(PageRank.ranksConverged(square, 25000000000L, 10)), pairsOf(hops(4))))
    assert(reliable === local)
    assert(local._2.size === 5)
    // the reliable path really wrote there
    assert(rddDirs(dir).nonEmpty)
  }

  /** The `rdd-*` checkpoint directories under `dir`. */
  private def rddDirs(dir: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(p => java.nio.file.Files.isDirectory(p) &&
      p.getFileName.toString.startsWith("rdd-")).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
    finally s.close()
  }

  /** dd6's labeling computed inline, over pairs built before `body`
    * chooses the snapshot policy. */
  private lazy val ddDocs = Tables.documents(spark, Sf0001)
  private lazy val ddPairs = Dedup.ngramJaccardPairs(ddDocs, 1, 0.9)
  private lazy val dd6Rows = pairsOf(PipelineQueries.dd6(spark, Sf0001))

  test("a lost snapshot block: reliable snapshots recover, local ones fail (dd6 and Bfs.hops)") {
    val (expected, pairs) = (dd6Rows, ddPairs)
    val (dir, fsDir) = graftfsDir("graft-snap-loss")
    withCheckpointDir(fsDir) {
      val groups = Dedup.dupGroups(ddDocs, pairs)
      assert(dropSnapshotBlocks(groups) > 0)
      assert(pairsOf(groups) === expected)
    }
    // dupGroups freed the superseded rounds and the pairs snapshot:
    // only the result's own label snapshot is left in the dir
    assert(rddDirs(dir).size <= 1, rddDirs(dir).mkString(", "))
    withCheckpointDir(graftfsDir("graft-snap-loss-bfs")._2) {
      val reached = hops(3)
      assert(dropSnapshotBlocks(reached) > 0)
      assert(pairsOf(reached) === Seq(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    }
    // without a checkpoint dir the same loss fails the query
    Seq(Dedup.dupGroups(ddDocs, pairs), hops(3)).foreach { df =>
      assert(dropSnapshotBlocks(df) > 0)
      val ex = intercept[SparkException](df.collect())
      assert(ex.getMessage.contains("Checkpoint block") && ex.getMessage.contains("not found"),
        ex.getMessage)
    }
  }
}
