package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Checkpoints.withCheckpointDir

import graft.operators.Dedup

/** §2.B specs with planted ground truth (SURVEY.md §6). */
class DedupSpec extends SparkTestBase {

  // Planted corpus: 1/2 exact dups; 3 near-dup of 1 (one word changed
  // out of 20 → unigram jaccard 19/21 ≈ 0.905); 4 unrelated; 5/6 exact
  // dups of each other.
  private val base = (1 to 20).map(i => s"w$i").mkString(" ")
  private val near = ((1 to 19).map(i => s"w$i") :+ "changed").mkString(" ")
  private lazy val docs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, base), (2L, base), (3L, near),
      (4L, "completely different text about other things entirely"),
      (5L, "twin alpha beta"), (6L, "twin alpha beta"),
    ).toDF("doc_id", "text")
  }

  // Chain corpus: 1~2 (19/21 ≈ .905) and 2~3 (19/21) but 1≁3 (18/22 ≈
  // .818); 4 unrelated; 5 an exact dup of 1. One transitive group {1,2,3,5}.
  private lazy val chain: DataFrame = {
    import spark.implicits._
    val w = (1 to 20).map(i => s"w$i")
    Seq(
      (1L, w.mkString(" ")),
      (2L, (w.take(19) :+ "x0").mkString(" ")),
      (3L, (w.take(18) ++ Seq("x0", "y0")).mkString(" ")),
      (4L, "totally unrelated content z1 z2 z3 z4 z5 z6"),
      (5L, w.mkString(" ")),
    ).toDF("doc_id", "text")
  }
  private val chainGroups = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 1L)

  test("dd12 edit-distance pairs: planted distances, cross-bucket pair found, brute-force agreement") {
    import spark.implicits._
    // k=3 → bucket width 4. doc 12's length straddles a bucket
    // boundary relative to doc 11 (lengths 8 vs 11 → buckets 2 vs 2;
    // force a genuine cross-bucket case: lengths 7 vs 9 → buckets 1
    // vs 2, dist 2 ≤ k) — the band explode must still find it.
    val fuzz = Seq(
      (10L, "abcdefg", "en"),   // len 7, bucket 1
      (11L, "abcdefgxy", "en"), // len 9, bucket 2; dist(10,11)=2 cross-bucket
      (12L, "abcdefh", "en"),   // len 7; dist(10,12)=1
      (13L, "abcdefg", "de"),   // same text, other lang: blocked out
      (14L, "zzzzzzz", "en"),   // len 7; far from everything
      (15L, "qqqq", "en")       // len 4, bucket 1; dist to 10 > 3
    ).toDF("doc_id", "text", "lang")
    val got = Dedup.editDistancePairs(fuzz, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute-force reference over all same-lang pairs (no blocking)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rows = fuzz.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = (for {
      (ia, ta, la) <- rows; (ib, tb, lb) <- rows
      if ia < ib && la == lb && lev(ta, tb) <= 3
    } yield (ia, ib, lev(ta, tb).toLong)).toSet
    assert(got === want)
    assert(got.contains((10L, 11L, 2L)), "cross-bucket pair missed by the band explode")
    assert(!got.exists(p => p._1 == 13L || p._2 == 13L), "cross-language pair leaked")
  }

  test("dd1 exact dedup groups identical texts, keeps min id") {
    val out = Dedup.exact(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet === Set((1L, 2L), (3L, 1L), (4L, 1L), (5L, 2L)))
  }

  test("dd2 ngram jaccard finds planted near-dups, no false positives") {
    val pairs = Dedup.ngramJaccard(docs, 1, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys === Set((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L)))
    val j13 = pairs.find(p => (p._1, p._2) == (1L, 3L)).get._3
    assert(math.abs(j13 - 19.0 / 21.0) < 1e-12)
    pairs.filter(p => p._1 == 1L && p._2 == 2L).foreach(p => assert(p._3 === 1.0))
  }

  test("dd3 minhash-lsh output equals exact jaccard answer") {
    val exact = Dedup.ngramJaccard(docs, 1, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Dedup.minhashLsh(docs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh === exact)
  }

  test("dd4 simhash: exact dups at hamming 0; near-dup within budget") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byKey = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byKey((1L, 2L)) === 0L) // identical text → identical simhash
    assert(byKey((5L, 6L)) === 0L)
    assert(!byKey.contains((1L, 4L)) && !byKey.contains((2L, 4L)))
  }

  test("dd6 dup groups: transitive closure over near-dup pairs") {
    // transitivity must still put {1,2,3} in ONE group
    val pairs = Dedup.ngramJaccard(chain, 1, 0.9)
    val keys = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!keys.contains((1L, 3L))) // the chain is genuinely non-transitive at pair level
    val groups = Dedup.dupGroups(chain, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups === chainGroups)
  }

  test("dupGroups keeps only its live label snapshot persisted") {
    // superseded round snapshots, the pairs snapshot and the edge cache
    // are freed by the time the labeling is returned
    val pairs = Dedup.ngramJaccard(chain, 1, 0.9)
    pairs.collect()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val groups = Dedup.dupGroups(chain, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups === chainGroups)
    assert(sc.getPersistentRDDs.size <= before + 1)
  }

  test("dd5 embedding near-dup finds planted identical + near vectors") {
    import spark.implicits._
    val dim = 8
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(j => math.sin(seed * 31 + j).toFloat)
    val v1 = vec(1)
    val nearV = v1.zipWithIndex.map { case (x, j) => if (j == 0) x + 0.01f else x }
    val emb = Seq(
      (1L, v1.toSeq), (2L, v1.toSeq), (3L, nearV.toSeq),
      (4L, vec(99).toSeq), (5L, v1.map(-_).toSeq), // antipode: cosine -1
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDup(emb, dim, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)) && keys.contains((1L, 3L)) && keys.contains((2L, 3L)))
    // 5 = exact antipode of 1/2 (cosine −1): must never pair with them
    assert(!keys.exists(p => Set(p._1, p._2) == Set(1L, 5L) ||
      Set(p._1, p._2) == Set(2L, 5L) || Set(p._1, p._2) == Set(3L, 5L)))
    val c12 = pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3
    assert(math.abs(c12 - 1.0) < 1e-9)
  }

  test("dd2 prefix-filter path (vocab > 64) matches a brute-force oracle") {
    import spark.implicits._
    // 120 docs over a 300-token vocabulary → forces the PPJoin path.
    // Doc i = tokens [7i .. 7i+19] mod 300 (overlapping windows give a
    // spread of true jaccards); doc 1000+i = near-dup of doc i.
    def toks(i: Int): Seq[String] = (0 until 20).map(j => s"t${(7 * i + j) % 300}")
    val rows = (0 until 60).map(i => (i.toLong, toks(i).mkString(" "))) ++
      (0 until 60).map(i => ((1000 + i).toLong, (toks(i).drop(1) :+ s"t${(7 * i) % 300}x").mkString(" ")))
    val docs = rows.toDF("doc_id", "text")
    def set(text: String): Set[String] = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSet
    val t = 0.7
    val expected = (for {
      (a, ta) <- rows; (b, tb) <- rows if a < b
      sa = set(ta); sb = set(tb)
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= t
    } yield (a, b)).toSet
    val got = Dedup.ngramJaccard(docs, 1, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(expected.nonEmpty)
  }

  test("dd2 mask path with many distinct masks matches a brute-force oracle") {
    import spark.implicits._
    // 40-token vocabulary (≤ 64 → bitmask path) but 500 docs with
    // near-unique shingle sets, so m = |distinct masks| ≈ n_docs: the
    // round-1 m² nested-loop regime. The Hamming band join must still
    // produce the exact answer (and sub-quadratically).
    def toks(i: Int): Seq[String] = (0 until 12).map(j => s"v${(i * 5 + j * 3) % 40}").distinct
    val rows = (0 until 250).map(i => (i.toLong, toks(i).mkString(" "))) ++
      (0 until 250).map(i => ((1000 + i).toLong, toks(i).reverse.mkString(" "))) // same set, reversed
    val docs = rows.toDF("doc_id", "text")
    def set(text: String): Set[String] = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSet
    val t = 0.8
    val expected = (for {
      (a, ta) <- rows; (b, tb) <- rows if a < b
      sa = set(ta); sb = set(tb)
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= t
    } yield (a, b)).toSet
    val got = Dedup.ngramJaccard(docs, 1, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(expected.size >= 250) // at least the planted same-set pairs
  }

  test("dd2 mask path strategy dispatch: blocked (low τ) and banded (high τ) regimes both exact (round 15)") {
    import spark.implicits._
    // Round-15 optimization: jaccardByMask picks Hamming banding or
    // the blocked triangular self-join from a measured cost probe.
    // Low τ on a small occupied span (17 bands of ~2 bits here) is the
    // blocked regime; high τ (3 wide bands) is the banded one. Both
    // must reproduce the brute-force answer exactly — the strategy
    // may only change the plan, never the pair set.
    def toks(i: Int): Seq[String] = (0 until 12).map(j => s"v${(i * 5 + j * 3) % 40}").distinct
    val rows = (0 until 200).map(i => (i.toLong, toks(i).mkString(" "))) ++
      (0 until 200).map(i => ((1000 + i).toLong, toks(i).reverse.mkString(" ")))
    val docs = rows.toDF("doc_id", "text")
    def set(text: String): Set[String] = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSet
    for (t <- Seq(0.6, 0.95)) {
      val expected = (for {
        (a, ta) <- rows; (b, tb) <- rows if a < b
        sa = set(ta); sb = set(tb)
        j = (sa & sb).size.toDouble / (sa | sb).size
        if j >= t
      } yield (a, b)).toSet
      val got = Dedup.ngramJaccard(docs, 1, t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"tau=$t")
      assert(expected.size >= 200, s"tau=$t") // planted same-set pairs
    }
    // cross-side dispatch (dd9's incrementalByMask): same invariant
    val isDelta = org.apache.spark.sql.functions.col("doc_id") >= 1000L
    for (t <- Seq(0.6, 0.95)) {
      val expected = (for {
        (a, ta) <- rows if a >= 1000; (b, tb) <- rows if b < 1000
        sa = set(ta); sb = set(tb)
        j = (sa & sb).size.toDouble / (sa | sb).size
        if j >= t
      } yield (a, b)).toSet
      val got = Dedup.incrementalDedup(docs, 1, t, isDelta)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected, s"cross tau=$t")
    }
  }

  test("dd2 bigram (n=2) shingles: word-order changes break similarity") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),     // identical → bigram jaccard 1.0
      (3L, "j i h g f e d c b a"),     // same unigrams, reversed order
    ).toDF("doc_id", "text")
    val uni = Dedup.ngramJaccard(d, 1, 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bi = Dedup.ngramJaccard(d, 2, 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uni === Set((1L, 2L), (1L, 3L), (2L, 3L))) // unigram sets identical
    assert(bi === Set((1L, 2L)))                      // bigrams see the reordering
  }

  test("dd3 LSH path (vocab > 64) matches a brute-force oracle") {
    import spark.implicits._
    def toks(i: Int): Seq[String] = (0 until 20).map(j => s"t${(7 * i + j) % 300}")
    val rows = (0 until 60).map(i => (i.toLong, toks(i).mkString(" "))) ++
      (0 until 60).map(i => ((1000 + i).toLong, (toks(i).drop(1) :+ s"t${(7 * i) % 300}x").mkString(" ")))
    val docs = rows.toDF("doc_id", "text")
    def set(text: String): Set[String] = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSet
    // t=0.85: every qualifying pair sits at jaccard 19/21 ≈ 0.905,
    // where the b=16/r=4 banding miss probability is ~2e-8 — the LSH
    // output is deterministically the exact answer.
    val t = 0.85
    val expected = (for {
      (a, ta) <- rows; (b, tb) <- rows if a < b
      sa = set(ta); sb = set(tb)
      if (sa & sb).size.toDouble / (sa | sb).size >= t
    } yield (a, b)).toSet
    val got = Dedup.minhashLsh(docs, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(expected.nonEmpty)
  }

  test("dd8 duplicate spans: planted shared passage detected; short docs drop") {
    import spark.implicits._
    val boiler = "this licence text is repeated verbatim across many documents today"
    val d = Seq(
      (1L, s"unique opening words one two three four $boiler"),
      (2L, s"different preface tokens alpha beta gamma delta $boiler"),
      (3L, "a completely original document with enough tokens to form several spans here now"),
      (4L, "tiny"), // < n tokens → no spans → not in output
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(d, n = 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    // the 10-token boilerplate contributes exactly one shared 10-gram
    assert(out(1L)._2 === 1L && out(2L)._2 === 1L)
    assert(out(3L)._2 === 0L)
  }

  test("dd8 hashed span keys ≡ string span keys on the driver corpus") {
    // The production path shuffles xxhash64(span) (8-byte keys); the
    // string-keyed form is the oracle-exact reference. Identical output
    // unless two distinct spans collide in 64 bits — birthday-bounded
    // at ~S²/2⁶⁵ expected collisions corpus-wide (see dupSpans doc).
    val t = Tables.documents(spark, Sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val hashed = rows(Dedup.dupSpans(t, n = 10, hashKeys = true))
    val exact = rows(Dedup.dupSpans(t, n = 10, hashKeys = false))
    assert(hashed === exact)
    assert(hashed.exists(_._3 > 0L)) // the corpus does contain dup spans
  }

  test("span index: probe ≡ inline dupSpans on the driver corpus (round 13)") {
    // the registry's dd8 probes the materialized graft_spanidx layout;
    // its rows must equal the self-contained inline operator exactly
    val t = Tables.documents(spark, Sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val idx = tempDir("graft-spanidx")
    Dedup.dupSpansWriteIndex(t, 10, idx)
    val probed = rows(Dedup.dupSpansProbe(spark, idx))
    val inline = rows(Dedup.dupSpans(t, n = 10))
    assert(probed === inline)
    assert(probed.exists(_._3 > 0L))
  }

  test("span index delta append: base ⊕ delta probe ≡ full inline rebuild; promotions reach standing docs") {
    import spark.implicits._
    val boiler = "this licence text is repeated verbatim across many documents today"
    // base: doc 1 holds the boilerplate ONCE (df=1 → not duplicated yet)
    val baseDocs = Seq(
      (1L, s"unique opening words one two three four $boiler"),
      (2L, "a completely original document with enough tokens to form several spans here now"),
    ).toDF("doc_id", "text")
    // delta: doc 3 brings the same passage → its span crosses df ≥ 2,
    // which must retro-actively mark STANDING doc 1's span duplicated
    val deltaDocs = Seq(
      (3L, s"different preface tokens alpha beta gamma delta $boiler"),
      (4L, "another fresh and unrelated piece of writing long enough for spans to exist okay"),
    ).toDF("doc_id", "text")
    val idx = tempDir("graft-spanidx-d")
    Dedup.dupSpansWriteIndex(baseDocs, 10, idx)
    Dedup.dupSpansAppendDelta(deltaDocs, 10, idx)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val appended = rows(Dedup.dupSpansProbe(spark, idx))
    val full = rows(Dedup.dupSpans(baseDocs.unionByName(deltaDocs), n = 10))
    assert(appended === full)
    val byDoc = appended.map(r => r._1 -> r._3).toMap
    assert(byDoc(1L) === 1L, "standing doc must see the delta-promoted span")
    assert(byDoc(3L) === 1L)
    // a second append of only-unique content must not re-promote
    val delta2 = Seq((5L, "yet more entirely novel material that shares nothing with prior documents at all")).toDF("doc_id", "text")
    Dedup.dupSpansAppendDelta(delta2, 10, idx)
    val after2 = rows(Dedup.dupSpansProbe(spark, idx))
    val full2 = rows(Dedup.dupSpans(
      baseDocs.unionByName(deltaDocs).unionByName(delta2), n = 10))
    assert(after2 === full2)
  }

  test("span index append is idempotent under crash-and-rerun: no double-counted " +
      "df increments, no phantom promotions (round 14 — ADVICE r13)") {
    import spark.implicits._
    val boiler = "this licence text is repeated verbatim across many documents today"
    // doc 1 holds the passage once: true df=1, must NEVER reach dupset —
    // a double-applied delta df increment is exactly what would promote it
    val baseDocs = Seq(
      (1L, s"unique opening words one two three four $boiler"),
    ).toDF("doc_id", "text")
    val deltaDocs = Seq(
      (6L, "a wholly original delta document long enough to carry several spans of its own"),
    ).toDF("doc_id", "text")
    val idx = tempDir("graft-spanidx-i")
    Dedup.dupSpansWriteIndex(baseDocs, 10, idx)
    Dedup.dupSpansAppendDelta(deltaDocs, 10, idx)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val want = rows(Dedup.dupSpansProbe(spark, idx))
    // (a) full redelivery of an applied batch: marker short-circuits
    Dedup.dupSpansAppendDelta(deltaDocs, 10, idx)
    assert(rows(Dedup.dupSpansProbe(spark, idx)) === want)
    // (b) crash AFTER publish, BEFORE marker: all files landed; rerun
    // must sweep and re-apply to the same state, not double-count
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val markers = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .filter(_.getPath.getName.startsWith("_batch_"))
    assert(markers.length === 1)
    fs.delete(markers.head.getPath, false)
    Dedup.dupSpansAppendDelta(deltaDocs, 10, idx)
    assert(rows(Dedup.dupSpansProbe(spark, idx)) === want)
    // (c) crash MID-publish: marker gone AND one live dir's batch files
    // half-landed (drop the batch's spans/ files, keep its df/ files —
    // the dangerous state: increments present, docs absent)
    val markers2 = fs.listStatus(new org.apache.hadoop.fs.Path(idx))
      .filter(_.getPath.getName.startsWith("_batch_"))
    fs.delete(markers2.head.getPath, false)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/spans"))
      .filter(_.getPath.getName.startsWith("b"))
      .foreach(s => fs.delete(s.getPath, false))
    Dedup.dupSpansAppendDelta(deltaDocs, 10, idx)
    assert(rows(Dedup.dupSpansProbe(spark, idx)) === want)
    // end state still ≡ one-shot rebuild, and doc 1 was never promoted
    assert(want === rows(Dedup.dupSpans(baseDocs.unionByName(deltaDocs), n = 10)))
    assert(want.find(_._1 == 1L).get._3 === 0L,
      "true-df=1 span was promoted — increments double-counted")
  }

  /** Build full-rebuild vs base+append containment indexes over one
    * fixture; returns (pairsFull, pairsInc, labelsFull, labelsInc)
    * plus the append re-run for the idempotency check. */
  private def containAppendRun(baseDocs: org.apache.spark.sql.DataFrame,
      deltaDocs: org.apache.spark.sql.DataFrame, expectMasks: Boolean):
      (Set[(Long, Long, Double)], Set[(Long, Long, Double)],
       Set[(Long, Long)], Set[(Long, Long)]) = {
    val tau = 0.8
    val allDocs = baseDocs.unionByName(deltaDocs)
    val work = tempDir("graft-containd")
    Dedup.shingleWriteIndex(allDocs, 1, s"$work/shFull")
    Dedup.containWriteIndex(spark, s"$work/shFull", allDocs, s"$work/full", tau)
    Dedup.shingleWriteIndex(baseDocs, 1, s"$work/shBase")
    assert(new java.io.File(s"$work/shBase/masks").exists() === expectMasks,
      "fixture drift: representation regime is not what the scenario intends")
    Dedup.containWriteIndex(spark, s"$work/shBase", baseDocs, s"$work/inc", tau)
    Dedup.containAppendDelta(deltaDocs, 1, s"$work/shBase", s"$work/inc", tau)
    def pairs(p: String) = spark.read.parquet(s"$p/pairs")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def labels(p: String) = spark.read.parquet(s"$p/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val out = (pairs(s"$work/full"), pairs(s"$work/inc"),
      labels(s"$work/full"), labels(s"$work/inc"))
    // at-least-once re-delivery: the batch marker makes the append a no-op
    Dedup.containAppendDelta(deltaDocs, 1, s"$work/shBase", s"$work/inc", tau)
    assert((pairs(s"$work/inc"), labels(s"$work/inc")) === (out._2, out._4),
      "re-delivered batch was re-applied")
    out
  }

  test("containment index delta append ≡ full rebuild on the ARRAY path, and " +
      "re-delivery is a no-op (round 15 — VERDICT r14 #6)") {
    import spark.implicits._
    // the >64-distinct-token doc makes smallVocabDict bail: arrays only
    val baseDocs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five"),
      (4L, "one two three four five six seven"),
      (5L, "totally unrelated standalone words here"),
      (6L, (0 until 70).map(i => s"bigtok$i").mkString(" ")),
    ).toDF("doc_id", "text")
    // delta exercises every incremental pair class:
    //  10: delta contained in STANDING 2        (arm 1)
    //  11: STANDING 3 contained in delta        (arm 2) — novel vocab
    //  12: delta contained in delta 11 (+3,+4)  (delta×delta)
    //  13: superset bridge merging groups 1 and 3
    //  14: token-less — singleton labels row, no pairs
    //  15: exact copy of 10 — identical sets, 1.0 both ways
    val deltaDocs = Seq(
      (10L, "zeta eta theta iota"),
      (11L, "one two three four five lambda mu"),
      (12L, "one two three"),
      (13L, "alpha beta gamma delta epsilon one two three four five"),
      (14L, "!!! ???"),
      (15L, "zeta eta theta iota"),
    ).toDF("doc_id", "text")
    val (pf, pi, lf, li) = containAppendRun(baseDocs, deltaDocs, expectMasks = false)
    assert(pf === pi, s"append ≢ rebuild on pairs: ${pf.diff(pi)} / ${pi.diff(pf)}")
    assert(pi.exists(p => p._1 === 10L && p._2 === 2L), "delta⊆standing missing")
    assert(pi.exists(p => p._1 === 3L && p._2 === 11L), "standing⊆delta missing")
    assert(pi.exists(p => p._1 === 12L && p._2 === 11L), "delta⊆delta missing")
    assert(pi.contains((10L, 15L, 1.0)) && pi.contains((15L, 10L, 1.0)),
      "identical-set delta pair missing")
    assert(lf === li, s"append ≢ rebuild on labels: ${lf.diff(li)} / ${li.diff(lf)}")
    // the bridge doc merged the two standing groups down to min id 1
    assert(li.contains((4L, 1L)) && li.contains((3L, 1L)) && li.contains((13L, 1L)))
    assert(li.contains((14L, 14L)), "token-less delta doc must label as a singleton")
  }

  test("containment index delta append ≡ full rebuild on the MASK path " +
      "(round 15 — VERDICT r14 #6: the small-vocab regime where the prefix " +
      "path degenerates)") {
    import spark.implicits._
    // tiny closed vocabulary → masks admitted; base groups {1⊆2},
    // {3⊆4}, {8} — 8 shares component A's tokens (plus nu/xi) but is
    // contained in nothing at base
    val baseDocs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "one two three four five"),
      (4L, "one two three four five six seven"),
      (5L, "totally unrelated standalone words here"),
      (8L, "alpha beta zeta nu xi"),
    ).toDF("doc_id", "text")
    // every delta doc is vocab-closed and single-component (novel
    // vocabulary or a component bridge DEMOTES to the array path —
    // the array scenario covers those):
    //  10: ⊆ standing 2 (arm 1);  15: exact copy of 10
    //  16: ⊇ standing 1 AND ⊇ standing 8 — merges {1,2} with {8}
    //      inside component A (arm 2 + group merge)
    //  17: ⊇ delta 12? no — 12 ⊆ 17 (delta×delta), and 3 ⊆ 17
    //  14: token-less
    val deltaDocs = Seq(
      (10L, "zeta eta theta iota"),
      (12L, "one two three"),
      (14L, "!!! ???"),
      (15L, "zeta eta theta iota"),
      (16L, "alpha beta gamma delta epsilon zeta nu xi"),
      (17L, "one two three four five six"),
    ).toDF("doc_id", "text")
    val (pf, pi, lf, li) = containAppendRun(baseDocs, deltaDocs, expectMasks = true)
    assert(pf === pi, s"append ≢ rebuild on pairs: ${pf.diff(pi)} / ${pi.diff(pf)}")
    assert(pi.exists(p => p._1 === 10L && p._2 === 2L), "delta⊆standing missing")
    assert(pi.exists(p => p._1 === 1L && p._2 === 16L), "standing⊆delta missing")
    assert(pi.exists(p => p._1 === 12L && p._2 === 17L), "delta⊆delta missing")
    assert(pi.contains((10L, 15L, 1.0)) && pi.contains((15L, 10L, 1.0)),
      "identical-set delta pair missing")
    assert(lf === li, s"append ≢ rebuild on labels: ${lf.diff(li)} / ${li.diff(lf)}")
    // 16 merged {1,2} and {8} within one component
    assert(li.contains((8L, 1L)) && li.contains((16L, 1L)) && li.contains((2L, 1L)))
    assert(li.contains((14L, 14L)), "token-less delta doc must label as a singleton")
  }

  test("pre-upgrade sum-derived batch markers are honored on re-delivery " +
      "(round 15 — ADVICE r14)") {
    import spark.implicits._
    // r14 switched the auto-derived batch id from sum(xxhash64) to
    // bit_xor(xxhash64); a standing index still carries sum-derived
    // _batch_ markers, and an at-least-once re-delivery of a
    // pre-upgrade batch must keep matching them or the batch
    // re-applies and double-counts df. The append must honor EITHER.
    val baseDocs = Seq(
      (1L, "unique opening words one two three four five six seven eight nine ten"),
    ).toDF("doc_id", "text")
    val deltaDocs = Seq(
      (6L, "a wholly original delta document long enough to carry several spans of its own"),
      (7L, "another wholly original delta document also long enough for spans to form"),
    ).toDF("doc_id", "text")
    val idx = tempDir("graft-spanidx-l")
    Dedup.dupSpansWriteIndex(baseDocs, 10, idx)
    // plant the LEGACY marker: wrapped-Long sum of the delta's hashes
    // (what the pre-r14 non-ANSI `sum(xxhash64(doc_id))` produced)
    val s = deltaDocs.agg(
      org.apache.spark.sql.functions.expr(
        "sum(cast(xxhash64(doc_id) as decimal(38,0)))")).head().getDecimal(0)
    val m = BigInt(s.toBigInteger).mod(BigInt(1) << 64)
    val l = (if (m >= (BigInt(1) << 63)) m - (BigInt(1) << 64) else m).toLong
    val root = new org.apache.hadoop.fs.Path(idx)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacyMarker = new org.apache.hadoop.fs.Path(root, f"_batch_$l%016x")
    fs.create(legacyMarker).close()
    def docs() = Dedup.dupSpansProbe(spark, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = docs()
    Dedup.dupSpansAppendDelta(deltaDocs, 10, idx) // legacy marker → no-op
    assert(docs() === before, "legacy-marked batch was re-applied")
    // contrast: with the legacy marker gone the same call applies
    fs.delete(legacyMarker, false)
    Dedup.dupSpansAppendDelta(deltaDocs, 10, idx)
    assert(docs().contains(6L) && docs().contains(7L))
  }

  test("dd6 registry probe ≡ inline dupGroups labeling on the driver corpus (round 13)") {
    // VERDICT r12 #1: dd6 now probes the materialized graft_dupidx
    // full labeling; the at-rest rows must equal the inline iterative
    // propagation bit-identically
    val t = Tables.documents(spark, Sf0001)
    val inline = Dedup.dupGroups(t, Dedup.ngramJaccardPairs(t, 1, 0.9))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val probed = graft.queries.PipelineQueries.dd6(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probed === inline)
    assert(probed.nonEmpty)
    assert(probed.length === t.count())
  }

  test("dd2 on unicode text: \\p{L}\\p{N} tokenizer recovers Cyrillic near-dups the ASCII rule cannot see (round 13)") {
    import spark.implicits._
    // 20 whitespace-separated Cyrillic words; docs 1/2 share 19 of
    // them → unigram jaccard 19/21 ≈ 0.905, the planted-corpus shape
    // Cyrillic-only words (no digits — the ASCII rule still extracts
    // [0-9] runs, which would leak tokens into the "empty" side)
    val w = (1 to 20).map(i => s"слв${"абвгдежзиклмнопрстуф".charAt(i - 1)}")
    val d1 = w.mkString(" ")
    val d2 = (w.take(19) :+ "другое").mkString(" ")
    val cyr = Seq(
      (1L, d1), (2L, d2),
      (3L, "совершенно иной текст про другие вещи целиком и полностью без общих слов")
    ).toDF("doc_id", "text")
    // the default ASCII tokenizer collapses every doc to an EMPTY
    // token set — no pairs, silent degradation (VERDICT r12 #3)
    assert(Dedup.ngramJaccard(cyr, 1, 0.9).collect().isEmpty)
    val uni = Dedup.ngramJaccard(cyr, 1, 0.9, Dedup.UnicodeTokensExpr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(uni.map(p => (p._1, p._2)).toSet === Set((1L, 2L)))
    assert(math.abs(uni.head._3 - 19.0 / 21.0) < 1e-12)
  }

  test("dd9/dd10 registry probes (index standing side) ≡ inline cross-side operators (round 13)") {
    // the registry entries read the persisted nondelta shingle index's
    // sh/ arrays for the standing 15/16; output must equal the
    // self-contained inline operators bit-identically
    val docs = Tables.documents(spark, Sf0001)
    val isDelta = graft.queries.PipelineQueries.isDeltaDoc
    val inline9 = Dedup.incrementalDedup(docs, 1, 0.9, isDelta)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val probed9 = graft.queries.PipelineQueries.dd9(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(probed9 === inline9)
    assert(probed9.nonEmpty)
    // dd10's contract is output ≡ a FULL dd6 recompute
    val full = Dedup.dupGroups(docs, Dedup.ngramJaccardPairs(docs, 1, 0.9))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val probed10 = graft.queries.PipelineQueries.dd10(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probed10 === full)
  }

  test("dsuLabels ≡ iterative dupGroups labeling (chain, star, singletons) (round 13)") {
    import spark.implicits._
    // chain 5-3-9-7 (min label 3 must cross every hop), pair chain
    // 20-21-22, isolated nodes label themselves
    val edges = Seq((5L, 3L), (3L, 9L), (9L, 7L), (20L, 21L), (21L, 22L))
      .toDF("doc_a", "doc_b")
    val nodes = (1L to 25L).toDF("doc_id")
    val dsu = Dedup.dsuLabels(nodes, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val loop = Dedup.dupGroups(nodes, edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(dsu === loop)
    assert(dsu(5L) === 3L && dsu(7L) === 3L && dsu(9L) === 3L)
    assert(dsu(20L) === 20L && dsu(22L) === 20L)
    assert(dsu(1L) === 1L)
  }

  test("dd2/dd3 agree on the driver corpus (sf0.001)") {
    val t = Tables.documents(spark, Sf0001)
    val a = Dedup.ngramJaccard(t, 1, 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.minhashLsh(t, 0.9).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("materialized shingle index: probe ≡ inline dd2/dd3 (mask path, driver corpus)") {
    // The driver corpus is tiny-vocab → the index materializes masks/;
    // both probes must reproduce the inline adaptive output exactly.
    val t = Tables.documents(spark, Sf0001)
    val idx = tempDir("graft-shidx")
    Dedup.shingleWriteIndex(t, 1, idx)
    assert(new java.io.File(s"$idx/masks").exists(), "tiny vocab must take the mask representation")
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(triples(Dedup.ngramJaccardProbe(spark, idx, 0.9)) ===
      triples(Dedup.ngramJaccard(t, 1, 0.9)))
    assert(triples(Dedup.minhashLshProbe(spark, idx, 0.9)) ===
      triples(Dedup.minhashLsh(t, 0.9)))
    assert(triples(Dedup.containmentProbe(spark, idx, 0.9)) ===
      triples(Dedup.containment(t, 1, 0.9)))
    assert(triples(Dedup.ngramJaccardProbe(spark, idx, 0.9)).nonEmpty)
  }

  test("materialized shingle index: probe ≡ inline dd2/dd3 (prefix/LSH path, large vocab)") {
    import spark.implicits._
    // > 64 distinct tokens per doc forces the large-vocab exit: the
    // index stores df-sorted arrays (no masks/), dd2 probes by prefix
    // slice, dd3 by MinHash/LSH — all three must agree with inline.
    def toks(i: Int): Seq[String] = (0 until 80).map(j => s"w${(13 * i + j) % 6000}")
    val rows = (0 until 40).map(i => (i.toLong, toks(i).mkString(" "))) ++
      (0 until 40).map(i => ((500 + i).toLong, (toks(i).drop(2) ++ Seq(s"x$i", s"y$i")).mkString(" ")))
    val docs = rows.toDF("doc_id", "text")
    val idx = tempDir("graft-shidx-lv")
    Dedup.shingleWriteIndex(docs, 1, idx)
    assert(!new java.io.File(s"$idx/masks").exists(), "large vocab must store sorted arrays only")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inline2 = pairs(Dedup.ngramJaccard(docs, 1, 0.9))
    assert(pairs(Dedup.ngramJaccardProbe(spark, idx, 0.9)) === inline2)
    assert(pairs(Dedup.minhashLshProbe(spark, idx, 0.9)) ===
      pairs(Dedup.minhashLsh(docs, 0.9)))
    assert(pairs(Dedup.containmentProbe(spark, idx, 0.9)) ===
      pairs(Dedup.containment(docs, 1, 0.9)))
    assert(inline2.nonEmpty) // the planted 78/82-token overlaps qualify
  }

  // ---- Round 8: shingle-index delta append (VERDICT r7 #1) ----

  /** (path → size) for every data file under `dir`, recursively. */
  private def dataFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.startsWith("part-"))
      .map(f => f.getPath -> f.length).toMap
  }

  test("shingle delta append (array path): probe ≡ inline over the union; base files untouched") {
    import spark.implicits._
    // large vocab forces the df-sorted-array representation; the
    // planted near-dups are CROSS base↔delta pairs, so a probe that
    // failed to see appended rows under the shared total order would
    // return empty
    def toks(i: Int): Seq[String] = (0 until 80).map(j => s"w${(13 * i + j) % 6000}")
    val baseDocs = (0 until 40).map(i => (i.toLong, toks(i).mkString(" "))).toDF("doc_id", "text")
    val deltaDocs = (0 until 40).map(i =>
      ((500 + i).toLong, (toks(i).drop(2) ++ Seq(s"x$i", s"y$i")).mkString(" "))).toDF("doc_id", "text")
    val union = baseDocs.union(deltaDocs)
    val idx = tempDir("graft-shidx-delta")
    Dedup.shingleWriteIndex(baseDocs, 1, idx)
    assert(!new java.io.File(s"$idx/masks").exists())
    val before = dataFiles(s"$idx/sh")
    Dedup.shingleAppendDelta(deltaDocs, 1, idx)
    val after = dataFiles(s"$idx/sh")
    assert(before.forall { case (p, len) => after.get(p) == Some(len) },
      "append rewrote base array files")
    assert(after.size > before.size, "append added no files")
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inline = pairs(Dedup.ngramJaccard(union, 1, 0.9))
    assert(pairs(Dedup.ngramJaccardProbe(spark, idx, 0.9)) === inline)
    assert(pairs(Dedup.minhashLshProbe(spark, idx, 0.9)) ===
      pairs(Dedup.minhashLsh(union, 0.9)))
    assert(pairs(Dedup.containmentProbe(spark, idx, 0.9)) ===
      pairs(Dedup.containment(union, 1, 0.9)))
    assert(inline.exists { case (a, b, _) => a < 500 && b >= 500 },
      "planted cross base↔delta pair missing — test fixture broken")
  }

  test("shingle delta append (mask path, known vocab): representation kept, probe ≡ inline union") {
    import spark.implicits._
    val idx = tempDir("graft-shidx-dm")
    Dedup.shingleWriteIndex(docs, 1, idx)
    assert(new java.io.File(s"$idx/masks").exists())
    assert(new java.io.File(s"$idx/dict").exists(), "dict must be persisted beside masks")
    // delta doc = exact dup of doc 1 — every shingle known, one
    // component — the fast path survives the append
    val delta = Seq((7L, base)).toDF("doc_id", "text")
    Dedup.shingleAppendDelta(delta, 1, idx)
    assert(new java.io.File(s"$idx/masks").exists(), "known-vocab delta must NOT demote")
    val union = docs.union(delta)
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val probed = pairs(Dedup.ngramJaccardProbe(spark, idx, 0.9))
    assert(probed === pairs(Dedup.ngramJaccard(union, 1, 0.9)))
    assert(probed.exists { case (a, b, j) => a == 1L && b == 7L && j == 1.0 })
    assert(pairs(Dedup.containmentProbe(spark, idx, 0.9)) ===
      pairs(Dedup.containment(union, 1, 0.9)))
  }

  test("shingle delta append (novel vocab): masks DEMOTED, array probe still ≡ inline union") {
    import spark.implicits._
    val idx = tempDir("graft-shidx-dn")
    Dedup.shingleWriteIndex(docs, 1, idx)
    assert(new java.io.File(s"$idx/masks").exists())
    // novel tokens cannot be represented in the persisted dictionary →
    // the layout must drop to the always-exact array representation,
    // never encode a lossy mask
    val delta = Seq((8L, base + " zz_novel"), (9L, base + " zz_novel")).toDF("doc_id", "text")
    Dedup.shingleAppendDelta(delta, 1, idx)
    assert(!new java.io.File(s"$idx/masks").exists(), "novel-vocab delta must demote masks/")
    assert(!new java.io.File(s"$idx/dict").exists(), "dict must go with masks")
    val union = docs.union(delta)
    def pairs(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val probed = pairs(Dedup.ngramJaccardProbe(spark, idx, 0.9))
    assert(probed === pairs(Dedup.ngramJaccard(union, 1, 0.9)))
    // the 21-token delta twins (J=1.0 with each other, 20/21 ≈ 0.952
    // with docs 1/2) are only visible through appended rows
    assert(probed.exists { case (a, b, _) => a == 8L && b == 9L })
    assert(probed.exists { case (a, b, _) => a < 8L && b >= 8L })
  }

  test("materialized dup-groups index: probe ≡ inline dd7 on the driver corpus") {
    val t = Tables.documents(spark, Sf0001)
    val idx = tempDir("graft-ddidx")
    Dedup.dupGroupsWriteIndex(t, Dedup.ngramJaccardPairs(t, 1, 0.9), idx)
    val inline = graft.queries.PipelineQueries.dd7(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val probed = graft.queries.PipelineQueries.canonicalDocsFromIndex(spark, idx, t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(probed === inline)
    assert(probed.nonEmpty)
  }

  test("dd13 containment verdict: index-probe path ≡ inline containmentGroups") {
    // the registry's dd13 probes a materialized CC labeling over the
    // containment graph (the iterative propagation amortized like
    // dd6/dd7's); this pins that shape against the self-contained
    // inline fold on the driver corpus
    val t = Tables.documents(spark, Sf0001)
    val pairs = Dedup.containment(t, 1, 0.9)
    val inline = Dedup.containmentGroups(t, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toSeq
    val idx = tempDir("graft-cgidx")
    Dedup.dupGroupsWriteIndex(t,
      pairs.toDF("doc_a", "doc_b", "containment"), idx)
    val probed = Dedup.containmentVerdict(pairs, Dedup.dupGroupsReadIndex(spark, idx))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toSeq
    assert(probed === inline)
    assert(probed.nonEmpty)
    // the verdict is O(docs), one row per document, and every
    // wrap group elects exactly one canonical member
    assert(probed.length === t.count())
    val perGroup = probed.groupBy(_._2).values
    assert(perGroup.forall(_.count(_._5) === 1))
  }

  test("contain index: materialized pair set ≡ the inline adaptive containment probe (round 9)") {
    // dd11/dd13 now read pairs/ straight off the contain index
    // generation (VERDICT r8 #3) — the prefix-filtered candidate
    // derivation is build-time cost; the at-rest rows must equal the
    // self-contained inline operator exactly
    val fresh = Dedup.containment(Tables.documents(spark, Sf0001), 1, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val probed = graft.queries.PipelineQueries.dd11(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(probed === fresh)
    assert(probed.nonEmpty)
  }

  test("dd15 group-size bands: partition the corpus exactly; bands agree with the raw group sizes") {
    val docs = Tables.documents(spark, Sf0001)
    val out = graft.queries.PipelineQueries.dd15(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // bands partition the corpus: doc counts sum to |docs|, shares to 1
    assert(out.map(_._3).sum === docs.count())
    assert(math.abs(out.map(_._4).sum - 1.0) < 1e-12)
    assert(out.map(_._1).distinct.length === out.length)
    // cross-check against the raw size distribution off dd6's labeling
    val sizes = graft.queries.PipelineQueries.dd6(spark, Sf0001).collect()
      .groupBy(_.getLong(1)).map(_._2.length)
    def band(sz: Int) = if (sz == 1) "1_singleton" else if (sz == 2) "2_pair"
      else if (sz <= 9) "3_cluster_3_9" else "4_mega_10_plus"
    val expect = sizes.groupBy(band).map { case (b, gs) =>
      b -> (gs.size.toLong, gs.map(_.toLong).sum)
    }
    out.foreach { case (b, ng, nd, _) => assert(expect(b) === ((ng, nd)), s"band $b") }
  }

  test("dd16 threshold curve: counts shrink monotonically in tau; the 0.9 point equals dd2's pair set") {
    val out = graft.queries.PipelineQueries.dd16(spark, Sf0001).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq === Seq(0.7, 0.8, 0.9))
    // relaxing tau only ADDS pairs: all three columns are monotone
    // non-increasing in tau
    out.sliding(2).foreach { case Array((_, p1, d1, s1), (_, p2, d2, s2)) =>
      assert(p1 >= p2 && d1 >= d2 && s1 >= s2, out.mkString(","))
    case _ => }
    // the 0.9 sweep point must agree with dd2's own pair set exactly
    val dd2Pairs = graft.queries.PipelineQueries.dd2(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val at9 = out.find(_._1 == 0.9).get
    assert(at9._2 === dd2Pairs.length.toLong)
    assert(at9._3 === dd2Pairs.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
  }

  test("dupGroups reliable-checkpoint path produces the same labeling") {
    val pairs = Dedup.ngramJaccardPairs(chain, 1, 0.9)
    val ckpt = tempDir("graft-ckpt")
    val reliable = withCheckpointDir(ckpt)(Dedup.dupGroups(chain, pairs, 50).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable === chainGroups)
    // the reliable path actually wrote checkpoint data to the configured dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      .filter(p => java.nio.file.Files.isRegularFile(p)).count()
    assert(wrote > 0)
  }

  test("dd2 component-mask path: disjoint sub-vocabularies match brute force") {
    import spark.implicits._
    // three sub-corpora with DISJOINT 30-token vocabularies: total
    // vocab 90 > 64 (flat mask path impossible), every co-occurrence
    // component 30 tokens (component path engages). This is ScaleGen's
    // replica shape — the case where prefix filtering degenerates.
    def toks(rep: Int, i: Int): Seq[String] =
      (0 until 12).map(j => s"r${rep}t${(3 * i + j) % 30}")
    val originals = for { rep <- 0 until 3; i <- 0 until 40 }
      yield ((rep * 1000 + i).toLong, toks(rep, i).mkString(" "))
    // near-dup: swap one token for an in-vocab absent one (j=11/13 ≈ .846)
    val nears = for { rep <- 0 until 3; i <- 0 until 10 }
      yield ((rep * 1000 + 100 + i).toLong,
        (toks(rep, i).drop(1) :+ s"r${rep}t${(3 * i + 15) % 30}").mkString(" "))
    // exact dup of doc i per replica
    val exacts = for { rep <- 0 until 3; i <- 0 until 5 }
      yield ((rep * 1000 + 200 + i).toLong, toks(rep, i).mkString(" "))
    val rows = originals ++ nears ++ exacts
    val docs = rows.toDF("doc_id", "text")
    val t = 0.8
    def set(s: String): Set[String] = s.split(" ").toSet
    val expected = (for {
      (a, ta) <- rows; (b, tb) <- rows if a < b
      sa = set(ta); sb = set(tb)
      if (sa & sb).size.toDouble / (sa | sb).size >= t
    } yield (a, b)).toSet
    val got = Dedup.ngramJaccard(docs, 1, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
    assert(expected.nonEmpty)
    // the vocabularies are disjoint ⇒ no cross-replica pair may appear
    assert(got.forall { case (a, b) => a / 1000 == b / 1000 })
  }

  test("dd10: delta doc merges standing groups; small-id delta relabels history") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val w = (1 to 18).map(i => s"w$i")
    val u = (1 to 20).map(i => s"u$i")
    val corpus = Seq(
      // index: 5 and 6 are 0.818-similar (SEPARATE groups) until the
      // delta bridge arrives; {60,61} exact dups labeled 60
      (5L, (w ++ Seq("x1", "x2")).mkString(" ")),
      (6L, (w ++ Seq("y1", "y2")).mkString(" ")),
      (60L, u.mkString(" ")), (61L, u.mkString(" ")),
      (20L, "zz1 zz2 zz3 zz4 zz5"),
      // delta: 100 is 0.905-similar to BOTH 5 and 6 → merges them;
      // 50 duplicates {60,61} and, having the smaller id, must
      // relabel the standing members
      (100L, (w ++ Seq("x1", "y1")).mkString(" ")),
      (50L, u.mkString(" ")),
    ).toDF("doc_id", "text")
    val isDelta = col("doc_id") === 100L || col("doc_id") === 50L
    val index = corpus.filter(!isDelta)
    val idxLabels = Dedup.dupGroups(index, Dedup.ngramJaccardPairs(index, 1, 0.9))
    val out = Dedup.incrementalDupGroups(corpus, 1, 0.9, isDelta, idxLabels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(5L -> 5L, 6L -> 5L, 100L -> 5L,
      50L -> 50L, 60L -> 50L, 61L -> 50L, 20L -> 20L))
    // and the general contract: identical to a full recompute
    val full = Dedup.dupGroups(corpus, Dedup.ngramJaccardPairs(corpus, 1, 0.9))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === full)
  }

  test("dd10 ≡ full dd6 recompute on the driver corpus (sf0.001)") {
    import org.apache.spark.sql.functions.{col, md5, substring}
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    val isDelta = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    val index = docs.filter(!isDelta)
    val idxLabels = Dedup.dupGroups(index, Dedup.ngramJaccardPairs(index, 1, 0.9))
    val inc = Dedup.incrementalDupGroups(docs, 1, 0.9, isDelta, idxLabels)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.dupGroups(docs, Dedup.ngramJaccardPairs(docs, 1, 0.9))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full)
    assert(inc.nonEmpty)
  }

  test("dd9 component-mask path ≡ cross-side dd2 on disjoint sub-vocabularies") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // dd2's component fixture shape: vocab 90 > 64, components of 30
    def toks(rep: Int, i: Int): Seq[String] =
      (0 until 12).map(j => s"r${rep}t${(3 * i + j) % 30}")
    val rows = (for { rep <- 0 until 3; i <- 0 until 40 }
      yield ((rep * 1000 + i).toLong, toks(rep, i).mkString(" "))) ++
      (for { rep <- 0 until 3; i <- 0 until 10 }
        yield ((rep * 1000 + 500 + i).toLong,
          (toks(rep, i).drop(1) :+ s"r${rep}t${(3 * i + 15) % 30}").mkString(" ")))
    val docs = rows.toDF("doc_id", "text")
    val t = 0.8
    val isDelta = col("doc_id") % 1000 >= 500
    val inc = Dedup.incrementalDedup(docs, 1, t, isDelta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet // (new, old)
    val full = Dedup.ngramJaccard(docs, 1, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.collect {
      case (a, b) if a % 1000 < 500 && b % 1000 >= 500 => (b, a)
      case (a, b) if a % 1000 >= 500 && b % 1000 < 500 => (a, b)
    }
    assert(inc === expected)
    assert(inc.nonEmpty)
  }

  test("dd9 incremental ≡ cross-side restriction of the full dd2 answer") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // dd2's prefix-path fixture, split: originals = index, 1000+ = delta.
    def toks(i: Int): Seq[String] = (0 until 20).map(j => s"t${(7 * i + j) % 300}")
    val rows = (0 until 60).map(i => (i.toLong, toks(i).mkString(" "))) ++
      (0 until 60).map(i => ((1000 + i).toLong,
        (toks(i).drop(1) :+ s"t${(7 * i) % 300}x").mkString(" ")))
    val docs = rows.toDF("doc_id", "text")
    val t = 0.7
    val inc = Dedup.incrementalDedup(docs, 1, t, col("doc_id") >= 1000L)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet // (old, new)
    // reference: the FULL pair graph, restricted to one endpoint per side
    val full = Dedup.ngramJaccard(docs, 1, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a < 1000L && b >= 1000L }
    assert(inc === expected)
    assert(inc.nonEmpty)
    // nothing intra-delta or intra-index leaks into the incremental answer
    assert(inc.forall { case (old, nw) => old < 1000L && nw >= 1000L })
  }

  test("jaccard prefix path keeps the J = t boundary pair (t·n integral)") {
    import spark.implicits._
    // A = 70 tokens (> 64 distinct ⇒ prefix path, never masks), B = its
    // 63 shared ones: J = 63/70 = 0.9 EXACTLY, and A's 7 private tokens
    // are globally rarest so they fill A's prefix first. 0.9·70 rounds
    // a hair high in IEEE, so a ⌈t·n⌉-based prefix loses the one slot
    // that reaches a shared token and silently drops this pair.
    val bToks = (0 until 63).map(i => f"shared$i%02d")
    val aToks = bToks ++ (0 until 7).map(i => s"only$i")
    val docs = Seq((1L, aToks.mkString(" ")), (2L, bToks.mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.ngramJaccard(docs, 1, 0.9).collect()
    assert(got.length === 1, got.mkString(","))
    assert((got(0).getLong(0), got(0).getLong(1), got(0).getDouble(2)) === ((1L, 2L, 0.9)))
    // the same pair through the cross-side path (doc 1 the delta, so
    // its private tokens sort first at index-side df 0) and through the
    // index probe's slice of the stored df-ordered arrays
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(rowsOf(Dedup.incrementalDedup(docs, 1, 0.9,
      org.apache.spark.sql.functions.col("doc_id") === 1L)) === Seq((1L, 2L, 0.9)))
    val idx = tempDir("graft-boundary-shidx")
    Dedup.shingleWriteIndex(docs, 1, idx)
    assert(rowsOf(Dedup.ngramJaccardProbe(spark, idx, 0.9)) === Seq((1L, 2L, 0.9)))
  }

  test("dd11 containment: asymmetric embeds found, boundary pair kept") {
    import spark.implicits._
    // P = A + 400 filler tokens: C(A,P) = 1.0 while C(P,A) ≈ 0.15 and
    // Jaccard(A,P) ≈ 0.15 — the pair Jaccard dedup structurally misses.
    // E has 10 tokens, 9 inside A∩P: C(E,·) = 0.9 EXACTLY; its one
    // private token is rarest, so a float-(1−τ) prefix would probe only
    // that token and drop both true rows.
    val aToks = (0 until 70).map(i => f"a$i%02d")
    val pToks = aToks ++ (0 until 400).map(i => f"fill$i%03d")
    val eToks = aToks.take(9) :+ "enovel"
    val docs = Seq((1L, aToks.mkString(" ")), (2L, pToks.mkString(" ")),
      (3L, eToks.mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.containment(docs, 1, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set((1L, 2L, 1.0), (3L, 1L, 0.9), (3L, 2L, 0.9)))
  }

  test("dd11 mask path ≡ prefix path on a small-vocabulary corpus") {
    import spark.implicits._
    // ≤64-token vocabulary drives the mask path; re-tokenizing the same
    // corpus with per-doc unique suffixes past 64 distinct per doc would
    // change the sets, so instead compare against a naive JVM reference.
    def toks(i: Int): Seq[String] = (0 until 12).map(j => s"v${(5 * i + j) % 40}")
    val rows = (0 until 50).map(i => (i.toLong, toks(i).distinct.mkString(" ")))
    val docs = rows.toDF("doc_id", "text")
    val tau = 0.8
    val got = Dedup.containment(docs, 1, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sets = rows.map { case (id, t) => id -> t.split(" ").toSet }.toMap
    val want = (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      c = sa.intersect(sb).size.toDouble / sa.size if c >= tau
    } yield (a, b, c)).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("dd4 probe ≡ inline: materialized simhash signatures reproduce the inline pair set") {
    val inline = Dedup.simhashPairs(Tables.documents(spark, Sf0001), 8)
      .collect().toSeq
    val probe = graft.queries.PipelineQueries.dd4(spark, Sf0001).collect().toSeq
    assert(probe === inline)
    assert(probe.nonEmpty)
  }
}
