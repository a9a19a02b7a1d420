package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal}

/** Randomized invariants with a FIXED seed: each test builds one
  * generated corpus (one Spark job per assertion, not one per case —
  * scalacheck-style per-case evaluation would pay Spark's job overhead
  * hundreds of times). Deterministic by construction, so failures
  * reproduce exactly. */
class RandomizedSpec extends SparkTestBase {

  private def rng = new Random(0xC0FFEE)

  /** Printable-ish strings with spaces, punctuation, digits, unicode
    * letters and control chars — the shapes that break tokenizers. */
  private def randText(r: Random, maxLen: Int): String = {
    val alphabet = "abc XYZ09 .,;:!?\t\näöéﬁ 中"
    val n = r.nextInt(maxLen)
    Seq.fill(n)(alphabet(r.nextInt(alphabet.length))).mkString
  }

  test("tx7 normalization is idempotent on generated unicode text") {
    import spark.implicits._
    val r = rng
    val docs = (1L to 200L).map(i => (i, randText(r, 120))).toDF("doc_id", "text")
    val once = TextFunctions.normalizeText(docs)
      .select(col("doc_id"), col("norm_text").as("text"))
    val twice = TextFunctions.normalizeText(once)
    val joined = once.select(col("doc_id"), col("text").as("a"))
      .join(twice.select(col("doc_id"), col("norm_text").as("b")), "doc_id")
    assert(joined.filter(col("a") =!= col("b")).count() === 0L)
  }

  test("dd1 exact dedup partitions any generated corpus") {
    import spark.implicits._
    val r = rng
    // ~40 distinct texts duplicated with random multiplicity
    val base = (0 until 40).map(_ => randText(r, 60))
    val rows = (1L to 300L).map(i => (i, base(r.nextInt(base.size))))
    val docs = rows.toDF("doc_id", "text")
    val out = Dedup.exact(docs).collect()
    // copies sum to the corpus size; keep_id is the min id of its text
    assert(out.map(_.getLong(1)).sum === 300L)
    val byText = rows.groupBy(_._2)
    val minIds = byText.values.map(_.map(_._1).min).toSet
    assert(out.map(_.getLong(0)).toSet === minIds)
  }

  test("tx4 WinnowMinima equals the HOF reference on generated text") {
    val spark2 = spark
    import spark2.implicits._
    val r = rng
    val docs = (1L to 100L).map(i => (i, randText(r, 200))).toDF("doc_id", "text")
    for ((k, w) <- Seq((4, 3), (8, 4))) {
      val fast = TextFunctions.fingerprints(docs, k, w).collect()
        .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
      val ref = WinnowReference.fingerprints(docs, k, w)
        .select(col("doc_id"), size(col("fps")).cast("long"),
          array_min(col("fps")), array_max(col("fps")))
        .collect()
        .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
      assert(fast === ref, s"(k=$k, w=$w)")
    }
  }

  test("tx12 pack ids recompute from the prefix sums on a generated corpus") {
    import spark.implicits._
    val r = rng
    val docs = (1L to 250L)
      .map(i => (i, Seq.fill(r.nextInt(30))("tok").mkString(" "), s"src${r.nextInt(4)}"))
      .toDF("doc_id", "text", "source")
    val budget = 50
    val out = TextFunctions.packDocs(docs, budget).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(2), x.getLong(3)))
    out.groupBy(_._2).values.foreach { rows =>
      val sorted = rows.sortBy(_._1)
      var cum = 0L
      sorted.foreach { case (_, _, nTok, packId) =>
        assert(packId === cum / budget)
        cum += nTok
      }
      // pack ids never decrease in doc order
      assert(sorted.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
  }

  test("dd2/dd3 equal a local brute-force Jaccard on a generated corpus") {
    import spark.implicits._
    val r = rng
    // clustered corpus: 30 base docs, each with 0-3 near-variants made
    // by swapping a couple of tokens — plants true pairs at varied
    // similarities around the threshold
    val vocab = (0 until 120).map(i => s"w$i")
    def doc(): Seq[String] = Seq.fill(14 + r.nextInt(8))(vocab(r.nextInt(vocab.size)))
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 1L
    for (_ <- 0 until 30) {
      val base = doc()
      rows += ((id, base.mkString(" "))); id += 1
      for (_ <- 0 until r.nextInt(4)) {
        val v = base.updated(r.nextInt(base.size), vocab(r.nextInt(vocab.size)))
        rows += ((id, v.mkString(" "))); id += 1
      }
    }
    val docs = rows.toSeq.toDF("doc_id", "text")
    def set(t: String): Set[String] = t.split(" ").toSet
    val t = 0.85
    val expected = (for {
      (a, ta) <- rows; (b, tb) <- rows if a < b
      sa = set(ta); sb = set(tb)
      if (sa & sb).size.toDouble / (sa | sb).size >= t
    } yield (a, b)).toSet
    val dd2 = Dedup.ngramJaccard(docs, 1, t)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val dd3 = Dedup.minhashLsh(docs, t)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(dd2 === expected)
    assert(dd3 === expected)
    assert(expected.nonEmpty)
  }

  test("as-of join equals a local reference on generated event streams") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    val r = rng
    // left: lookups at random times; right: sparse quotes per key with
    // UNIQUE (key, time) — the operator's documented precondition
    val keys = (1 to 8).map(_.toLong)
    val left = (1L to 300L).map(i =>
      (i, keys(r.nextInt(keys.size)), r.nextInt(1000).toLong))
    val right = keys.flatMap { k =>
      r.shuffle((0 until 1000).toList).take(30).map(t => (k, t.toLong, s"p$k-$t"))
    }
    val out = AsOfJoin.asof(
        left.toDF("id", "k", "t"), right.toSeq.toDF("k", "rt", "quote"),
        "k", "t", "rt", Seq("quote"))
      .collect().map(x => x.getLong(0) -> Option(x.getString(3))).toMap
    val byKey = right.groupBy(_._1)
    left.foreach { case (id, k, t) =>
      val expect = byKey(k).filter(_._2 <= t).sortBy(_._2).lastOption.map(_._3)
      assert(out(id) === expect, s"id=$id k=$k t=$t")
    }
  }

  test("BFS hops equal a local reference on generated random graphs") {
    import spark.implicits._
    val r = rng
    // Erdős–Rényi-ish directed graph with ~3 edges per node plus a few
    // isolated seeds — dense enough for multi-hop paths, sparse enough
    // that radius-4 doesn't trivially cover everything
    val n = 120
    val edges = (1 to 3 * n).map(_ => (r.nextInt(n).toLong, r.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val seeds = Seq.fill(5)(r.nextInt(n + 10).toLong).distinct // some off-graph
    val maxHops = 4
    val got = graft.operators.Bfs.hops(
        edges.toDF("src", "dst"), seeds.toDF("node"), maxHops)
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    // local BFS reference over the same directed adjacency
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dist = scala.collection.mutable.Map[Long, Int]()
    seeds.foreach(dist(_) = 0)
    var frontier = seeds.toSet
    for (d <- 1 to maxHops) {
      frontier = frontier.flatMap(x => adj.getOrElse(x, Nil))
        .filterNot(dist.contains)
      frontier.foreach(dist(_) = d)
    }
    assert(got === dist.toMap)
  }

  test("mm4 resize matches the JVM reference on generated text") {
    import spark.implicits._
    val r = rng
    val target = 16
    val rows = (1L to 150L).map(i => (i, randText(r, 80)))
    val out = Multimodal.resizeStub(rows.toDF("doc_id", "text"), target)
      .collect().map(x => x.getLong(0) -> x.getString(3)).toMap
    def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rows.foreach { case (id, t) =>
      val ref =
        if (t.length <= target) t
        else (0 until target).map(i => t.charAt((i.toLong * t.length / target).toInt)).mkString
      assert(out(id) === md5(ref), s"doc $id text=${t.take(40)}…")
    }
  }

  test("dd8 hashed span keys ≡ string keys on generated word corpora") {
    import spark.implicits._
    val r = rng
    // word-shaped docs with heavy shared boilerplate so dup spans are
    // live; lengths straddle the n=10 span threshold
    val vocab = (0 until 400).map(i => s"w$i")
    val boiler = (0 until 15).map(i => s"b$i").mkString(" ")
    val rows = (1L to 250L).map { i =>
      val own = Seq.fill(3 + r.nextInt(25))(vocab(r.nextInt(vocab.size))).mkString(" ")
      (i, if (r.nextBoolean()) s"$own $boiler" else own)
    }
    val docs = rows.toDF("doc_id", "text")
    def out(hash: Boolean) = Dedup.dupSpans(docs, n = 10, hashKeys = hash).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getDouble(3))).toSeq
    val hashed = out(true)
    assert(hashed === out(false))
    assert(hashed.exists(_._3 > 0L)) // the boilerplate creates real dup spans
  }

  test("mm6 CDC chunking is deterministic and complete on generated unicode blobs") {
    import spark.implicits._
    val r = rng
    val docs = (1L to 150L).map(i => (i, randText(r, 400))).filter(_._2.nonEmpty)
      .toDF("doc_id", "text")
    val a = Multimodal.cdcChunkHashes(docs).collect()
      .map(x => x.getLong(0) -> x.getSeq[Long](1).toSet).toMap
    val b = Multimodal.cdcChunkHashes(docs).collect()
      .map(x => x.getLong(0) -> x.getSeq[Long](1).toSet).toMap
    assert(a === b)
    // every non-empty blob chunks into >= 1 piece
    assert(a.values.forall(_.nonEmpty))
    assert(a.nonEmpty)
  }

  test("tx25 rag chunks: coverage/stride/length invariants on generated corpora across (W, S)") {
    import spark.implicits._
    val r = rng
    val docs = (1L to 150L).map(i => (i, randText(r, 400))).toDF("doc_id", "text")
    for ((w, s) <- Seq((8, 8), (16, 8), (5, 3))) {
      val byDoc = TextFunctions.ragChunks(docs, w, s).collect().groupBy(_.getLong(0))
      assert(byDoc.nonEmpty, s"(W=$w, S=$s) produced nothing")
      byDoc.values.foreach { rows =>
        val n = rows.head.getLong(1)
        val sorted = rows.sortBy(_.getLong(2))
        sorted.zipWithIndex.foreach { case (row, i) =>
          // ids dense from 0; starts at exact stride multiples
          assert(row.getLong(2) === i.toLong)
          assert(row.getLong(3) === i.toLong * s)
          // each chunk is exactly the slice it claims: min(W, n - start)
          // tokens, rendered as that many space-joined tokens
          assert(row.getLong(4) === math.min(w.toLong, n - row.getLong(3)))
          assert(row.getString(5).split(' ').count(_.nonEmpty) === row.getLong(4))
        }
        // full coverage: the last chunk ends exactly at the last token,
        // and (with S <= W) no token between chunks is skipped
        assert(sorted.last.getLong(3) + sorted.last.getLong(4) === n)
        assert(sorted.head.getLong(3) === 0L)
      }
    }
  }

  test("equiDepthBoundariesMulti equals sorted-multiset ranks on generated multi-metric data") {
    import spark.implicits._
    val r = rng
    // three metrics with wildly different domains and widths, heavy
    // ties included (small-domain metric) — the shapes that expose an
    // off-by-one in the rank-crossing walk or a width mixup across
    // metrics in the shared pass
    val n = 500
    val rows = (1 to n).flatMap { i =>
      Seq(("a", r.nextInt(20).toLong),              // tiny domain, massive ties
        ("b", r.nextInt(1000000).toLong),           // wide domain
        ("c", (r.nextInt(50) * 1024).toLong))       // clustered values
    }
    val df = rows.toDF("metric", "v")
    for (buckets <- Seq(4, 7, 16)) {
      val out = graft.queries.CoreQueries.equiDepthBoundariesMulti(
        df, buckets, Seq("a" -> 1L, "b" -> 4096L, "c" -> 512L)).collect()
        .map(rw => (rw.getString(0), rw.getLong(1), rw.getLong(2), rw.getLong(3)))
      assert(out.length === 3 * buckets)
      val byMetric = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      out.foreach { case (m, k, rk, boundary) =>
        val sortedVs = byMetric(m)
        val expectRk = (k * sortedVs.length + buckets - 1) / buckets
        assert(rk === expectRk, s"metric $m bucket $k rank")
        assert(boundary === sortedVs((rk - 1).toInt),
          s"metric $m bucket $k: boundary != value at rank $rk")
      }
      // boundaries monotone within each metric
      out.groupBy(_._1).values.foreach { ms =>
        val bs = ms.sortBy(_._2).map(_._4)
        assert(bs.zip(bs.tail).forall { case (x, y) => x <= y })
      }
    }
  }

  test("tx28 boilerplateLines equals a local reference on generated line corpora") {
    import spark.implicits._
    // round 11 rewrote the operator (stored-set probe, single-pass
    // conditional rebuild) — pin it against a brute-force driver
    // reference over corpora with repeated lines, empty lines,
    // all-boilerplate docs and docs of one line
    val r = rng
    val pool = (1 to 12).map(i => s"line $i") ++ Seq("", "NAV | Home | About")
    val docs = (1L to 120L).map { i =>
      val nLines = 1 + r.nextInt(8)
      (i, Seq.fill(nLines)(pool(r.nextInt(pool.length))).mkString("\n"))
    }
    val minDf = 3
    val out = TextFunctions.boilerplateLines(docs.toDF("doc_id", "text"), minDf)
      .collect().map(rw => (rw.getLong(0), rw.getLong(1), rw.getLong(2), rw.getString(3)))
    // reference: boiler set = non-empty lines in >= minDf distinct docs
    val ddf = docs.flatMap { case (id, t) => t.split("\n", -1).filter(_.nonEmpty).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val boiler = ddf.filter(_._2 >= minDf).keySet
    val expect = docs.map { case (id, t) =>
      val lines = t.split("\n", -1)
      val kept = lines.filter(l => !boiler.contains(l))
      (id, lines.length.toLong, lines.count(boiler.contains).toLong, kept.mkString("\n"))
    }.sortBy(_._1)
    assert(out.toSeq === expect)
  }
}
