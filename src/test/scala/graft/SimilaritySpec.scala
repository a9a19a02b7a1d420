package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** §2.C specs with planted ground truth (SURVEY.md §6). */
class SimilaritySpec extends SparkTestBase {

  private val dim = 16

  private def vec(seed: Int): Seq[Float] =
    Seq.tabulate(dim)(j => math.sin(seed * 37 + j * 3).toFloat)

  // corpus: vec 101 is an exact copy of query 0's embedding; 102 a
  // slightly perturbed copy; the rest pseudo-random.
  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val q0 = vec(0)
    val rows = Seq(
      (101L, q0),
      (102L, q0.zipWithIndex.map { case (x, j) => if (j == 0) x + 0.005f else x }),
    ) ++ (103L to 160L).map(i => (i, vec(i.toInt)))
    rows.toDF("vec_id", "embedding")
  }
  private lazy val queries: DataFrame = {
    import spark.implicits._
    Seq((0L, vec(0))).toDF("vec_id", "embedding")
  }

  test("ss1 brute-force: exact copy ranks first, near-copy second") {
    val out = Similarity.bruteForceTopK(corpus, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.length === 5)
    assert(out(0)._3 === 101L && math.abs(out(0)._4 - 1.0) < 1e-9)
    assert(out(1)._3 === 102L)
    // ranks are 1..5 in order
    assert(out.map(_._2).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    // cosine non-increasing
    assert(out.sliding(2).forall(w => w(0)._4 >= w(1)._4 - 1e-12))
  }

  test("ss1 is exact: matches a driver-corpus brute-force recomputation") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 3)
    val out = Similarity.bruteForceTopK(emb, q, 10).collect()
    assert(out.length === 30)
  }

  test("ss2 LSH ANN: planted exact duplicate always retrieved at rank 1") {
    val out = Similarity.lshTopK(corpus, queries, dim, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    assert(out(0)._3 === 101L && math.abs(out(0)._4 - 1.0) < 1e-9)
  }

  test("ss3 IVF: planted exact duplicate retrieved at rank 1") {
    val out = Similarity.ivfTopK(corpus, queries, dim, 5, nlist = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    assert(out(0)._3 === 101L && math.abs(out(0)._4 - 1.0) < 1e-9)
  }

  test("ss3 IVF recall vs exact on the driver corpus is reasonable") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val truth = Similarity.bruteForceTopK(emb, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(emb, q, 64, 10, nlist = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (truth & ivf).size.toDouble / truth.size
    assert(recall >= 0.2, s"IVF recall $recall collapsed — probe/centroid logic broken")
  }

  test("ss4 centroids: planted vectors give exact per-position means") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1.0f, 2.0f), 0),
      (2L, Seq(3.0f, 4.0f), 0),
      (3L, Seq(10.0f, 20.0f), 1),
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(df).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out === Map(
      (0, 0L) -> (2L, 2.0), (0, 1L) -> (2L, 3.0),
      (1, 0L) -> (1L, 10.0), (1, 1L) -> (1L, 20.0)))
  }

  test("ss5 PQ: planted exact duplicate retrieved at rank 1; codes are m-wide") {
    val out = Similarity.pqTopK(corpus, queries, dim, 5, m = 4, ksub = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    // 101 is an exact copy of the query: it quantizes to the cell
    // nearest the query in every subspace, so ADC ranks it first
    // (ties vs the near-copy 102 break toward the lower vec_id).
    assert(out(0)._3 === 101L)
    val codes = Similarity.pqEncode(corpus, dim, 4,
        Similarity.trainPq(corpus, dim, 4, 8, 2))
      .collect().map(r => r.getSeq[Int](1))
    assert(codes.forall(c => c.length === 4 && c.forall(x => x >= 0 && x < 8)))
  }

  test("ss5 PQ recall vs exact on the driver corpus is reasonable") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val truth = Similarity.bruteForceTopK(emb, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(emb, q, 64, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (truth & pq).size.toDouble / truth.size
    assert(recall >= 0.2, s"PQ recall $recall collapsed — codebook/ADC broken")
  }

  test("rerankExact: per-query recall dominates the un-reranked ADC probe; deterministic") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val truth = Similarity.bruteForceTopK(emb, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val dir = tempDir("graft-pq-rerank")
    Similarity.pqWriteIndex(emb, dir, dim = 64)
    val adc = Similarity.pqProbeIndex(spark, dir, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rr = Similarity.pqProbeIndexReranked(spark, dir, q, emb, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // survival guarantee: a true-top-k member in the ADC pool always
    // survives exact rerank (at most k−1 corpus rows — hence at most
    // k−1 pool rows — precede it under the shared (score, id)
    // comparator), so recall can only move UP per query
    (0L until 5L).foreach { qid =>
      val t = truth.filter(_._1 == qid)
      val hitsAdc = (t & adc.filter(_._1 == qid)).size
      val hitsRr = (t & rr.filter(_._1 == qid)).size
      assert(hitsRr >= hitsAdc,
        s"rerank lost recall for query $qid: $hitsRr < $hitsAdc")
    }
    val again = Similarity.pqProbeIndexReranked(spark, dir, q, emb, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(again === rr, "reranked probe must be deterministic")
  }

  test("reranked probes: planted exact duplicate at rank 1 with TRUE cosine") {
    // the rerank scores with exact cosine, so the planted duplicate's
    // score is exactly 1.0 — not the ADC approximation the raw probe
    // reports (quantization can only blur it)
    val pqDir = tempDir("graft-pq-rr1")
    Similarity.pqWriteIndex(corpus, pqDir, dim)
    val outPq = Similarity.pqProbeIndexReranked(spark, pqDir, queries, corpus, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(outPq.nonEmpty && outPq(0)._2 === 101L)
    assert(math.abs(outPq(0)._3 - 1.0) < 1e-9)
    val ipqDir = tempDir("graft-ivfpq-rr1")
    Similarity.ivfPqWriteIndex(corpus, ipqDir, dim, nlist = 4)
    val outIpq = Similarity.ivfPqProbeIndexReranked(spark, ipqDir, queries, corpus, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(outIpq.nonEmpty && outIpq(0)._2 === 101L)
    assert(math.abs(outIpq(0)._3 - 1.0) < 1e-9)
  }

  test("ss6 knn classification: planted label cluster wins the vote") {
    import spark.implicits._
    val q0 = vec(0)
    def near(j: Int): Seq[Float] = q0.zipWithIndex.map { case (x, i) => if (i == j % dim) x + 0.01f else x }
    // 6 tight neighbors labeled 7, everything else far with label 1
    val rows = (101L to 106L).map(i => (i, near(i.toInt), 7)) ++
      (200L to 240L).map(i => (i, vec(i.toInt), 1))
    val corpus = rows.toDF("vec_id", "embedding", "label")
    val queries = Seq((0L, q0, 0)).toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(corpus, queries, k = 6).collect()
    assert(out.length === 1)
    assert(out.head.getInt(1) === 7)
    assert(out.head.getLong(2) === 6L)
  }

  test("ss7 IVF-PQ: planted exact duplicate retrieved at rank 1") {
    val out = Similarity.ivfPqTopK(corpus, queries, dim, 5,
        nlist = 4, nprobe = 2, m = 4, ksub = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    // the duplicate assigns to the query's own coarse cell (always
    // probed) and shares its PQ codes → top ADC score, ties → lower id
    assert(out(0)._3 === 101L)
  }

  test("ss7 IVF-PQ recall vs exact on the driver corpus is reasonable") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val truth = Similarity.bruteForceTopK(emb, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.ivfPqTopK(emb, q, 64, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (truth & ann).size.toDouble / truth.size
    // both layers cost recall (pruned lists × quantized distances);
    // the floor guards against collapse, not a quality target
    assert(recall >= 0.1, s"IVF-PQ recall $recall collapsed")
  }

  test("ss2 recall vs ss1 on the driver corpus is reasonable") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val truth = Similarity.bruteForceTopK(emb, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = Similarity.lshTopK(emb, q, 64, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (truth & ann).size.toDouble / truth.size
    assert(recall >= 0.3, s"ANN recall $recall collapsed — bucketing broken")
  }

  test("ss17 HNSW-lite: planted exact duplicate at rank 1; recall floor vs ss1; deterministic (round 13)") {
    // planted fixture through the write→probe cycle
    val idx = tempDir("graft-hnsw")
    Similarity.hnswWriteIndex(corpus, idx, nlist = 4)
    val out = Similarity.hnswProbeIndex(spark, idx, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    assert(out(0)._3 === 101L && math.abs(out(0)._4 - 1.0) < 1e-9,
      "the exact duplicate must surface at rank 1 through the beam walk")
    // real-corpus recall floor (same spirit as ss3's collapse guard)
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val idx2 = tempDir("graft-hnsw2")
    Similarity.hnswWriteIndex(emb, idx2)
    val truth = Similarity.bruteForceTopK(emb, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = Similarity.hnswProbeIndex(spark, idx2, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (truth & got).size.toDouble / truth.size
    assert(recall >= 0.3, s"HNSW recall $recall collapsed — graph/beam logic broken")
    // deterministic: a second probe of the same index is bit-identical
    val again = Similarity.hnswProbeIndex(spark, idx2, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(again === got)
  }

  test("hnsw delta append: delta arrivals reachable via reverse edges; recall floor holds (round 13)") {
    // the exact duplicate ARRIVES via the delta: standing neighbor
    // lists are frozen, so rank-1 retrieval is possible only if the
    // reverse-edge patch rows made the new node reachable from the
    // standing graph
    val idx = tempDir("graft-hnsw-d")
    Similarity.hnswWriteIndex(corpus.filter(col("vec_id") =!= 101L), idx, nlist = 4)
    Similarity.hnswAppendDelta(corpus.filter(col("vec_id") === 101L), idx)
    val out = Similarity.hnswProbeIndex(spark, idx, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out(0)._3 === 101L && math.abs(out(0)._4 - 1.0) < 1e-9,
      "the delta-appended duplicate must be reachable at rank 1")
    // the family's nightly split on the real table: base 7/8 ⊕ delta
    // 1/8, recall scored against the FULL corpus's exact answer
    val emb = Tables.embeddings(spark, Sf0001)
    val idx2 = tempDir("graft-hnsw-d2")
    Similarity.hnswWriteIndex(emb.filter(col("vec_id") % 8 =!= 0), idx2)
    Similarity.hnswAppendDelta(emb.filter(col("vec_id") % 8 === 0), idx2)
    val q = emb.filter(col("vec_id") < 5)
    val truth = Similarity.bruteForceTopK(emb, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = Similarity.hnswProbeIndex(spark, idx2, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert((truth & got).size.toDouble / truth.size >= 0.3,
      "delta-appended hnsw recall collapsed")
    // top-k rows stay unique per (query, vec) despite multi-row nodes
    val rows = Similarity.hnswProbeIndex(spark, idx2, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(rows.distinct.length === rows.length)
  }

  test("hnsw SECOND append: no duplicate candidates or neighbor ids; " +
      "late-arriving duplicate still rank 1 (round 14 — ADVICE r13)") {
    // ADVICE r13: the standing candidate side used to read graph/,
    // where the FIRST append's reverse-edge patch rows are phantom
    // extra members — the second append then fed duplicate
    // (cosine, nbr_id) rows into graft_topk (which keeps repeats),
    // silently filling degree slots with repeated ids. The planted
    // duplicate arrives in the SECOND batch, so its retrieval walks
    // through a graph built on post-first-append state.
    val idx = tempDir("graft-hnsw-d3")
    Similarity.hnswWriteIndex(
      corpus.filter(col("vec_id") =!= 101L && col("vec_id") < 140L), idx, nlist = 4)
    Similarity.hnswAppendDelta(corpus.filter(col("vec_id") >= 140L), idx)
    Similarity.hnswAppendDelta(corpus.filter(col("vec_id") === 101L), idx)
    // emb/ stays one row per node through both appends
    val embRows = spark.read.parquet(s"$idx/emb")
    assert(embRows.count() === embRows.select("vec_id").distinct().count())
    // no neighbor list anywhere carries a repeated id
    val dupIds = spark.read.parquet(s"$idx/graph")
      .select(size(col("neighbors")) - size(array_distinct(col("neighbors"))))
      .collect().map(_.getInt(0))
    assert(dupIds.forall(_ === 0), "a neighbor list carries repeated ids")
    val out = Similarity.hnswProbeIndex(spark, idx, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out(0)._3 === 101L && math.abs(out(0)._4 - 1.0) < 1e-9,
      "the second-batch duplicate must be reachable at rank 1")
  }

  test("hnsw two-level build (nlist > ExprCellMax): planted duplicate rank 1, " +
      "one emb row per node, deterministic builds (round 14)") {
    import spark.implicits._
    // 1200 vectors, nlist = 128 > ExprCellMax — the coarse→fine join
    // path the 100 TB builds (nlist = n/512) live in; the pinned
    // oracle/bench layouts never leave the expression path (nlist 16).
    def v(i: Long): Seq[Float] = Seq.tabulate(12)(j => math.sin(i * 37 + j * 3).toFloat)
    val big = ((0L until 1200L).map(i => (i, v(i))) :+ (5000L, v(7L)))
      .toDF("vec_id", "embedding")
    val q = Seq((7L, v(7L))).toDF("vec_id", "embedding")
    val idx = tempDir("graft-hnsw-2l")
    Similarity.hnswWriteIndex(big, idx, nlist = 128)
    val embRows = spark.read.parquet(s"$idx/emb")
    assert(embRows.count() === 1201L)
    assert(embRows.select("vec_id").distinct().count() === 1201L)
    val out = Similarity.hnswProbeIndex(spark, idx, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out(0)._3 === 5000L && math.abs(out(0)._4 - 1.0) < 1e-9,
      "the planted exact duplicate must surface at rank 1 under the two-level build")
    // determinism: a second build assigns every node the same cid1
    val idx2 = tempDir("graft-hnsw-2l-b")
    Similarity.hnswWriteIndex(big, idx2, nlist = 128)
    val c1 = embRows.select("vec_id", "cid1").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    val c2 = spark.read.parquet(s"$idx2/emb").select("vec_id", "cid1").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(c1.toSeq === c2.toSeq, "two-level hnsw cell assignment must be deterministic")
  }

  test("ss8 recall metric: matches hand-computed recall, floors hold per variant") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val out = Similarity.annRecall(emb, q, 64, 10).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // shape: one row per (variant, query)
    assert(out.length === 4 * 5)
    assert(out.map(_._1).distinct.sorted.toSeq ===
      Seq("ss2_lsh", "ss3_ivf", "ss5_pq", "ss7_ivfpq"))
    out.foreach { case (_, _, r) => assert(r >= 0.0 && r <= 1.0) }
    // the registry metric must agree with recall computed by hand
    val truth = Similarity.bruteForceTopK(emb, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.lshTopK(emb, q, 64, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val handLsh = (0L until 5L).map(qid =>
      qid -> (truth.filter(_._1 == qid) & lsh.filter(_._1 == qid)).size / 10.0).toMap
    out.filter(_._1 == "ss2_lsh").foreach { case (_, qid, r) =>
      assert(r === handLsh(qid), s"ss8 disagrees with hand recall for query $qid")
    }
    // per-variant mean floors at default params (same spirit as the
    // individual collapse guards above — floors, not quality targets)
    val mean = out.groupBy(_._1).map { case (v, rows) =>
      v -> rows.map(_._3).sum / rows.length
    }
    assert(mean("ss2_lsh") >= 0.3)
    assert(mean("ss3_ivf") >= 0.2)
    assert(mean("ss5_pq") >= 0.2)
    assert(mean("ss7_ivfpq") >= 0.1)
  }

  test("ss11 hybrid fusion: both-signal doc outranks single-signal docs; tie breaks by id") {
    import spark.implicits._
    // query id 0: text "alpha beta gamma", vector [1,0].
    //  id 1: SAME text, orthogonal vector  → fused 0.5 (all lexical)
    //  id 2: same vector, disjoint tokens  → fused 0.5 (all dense)
    //  id 3: same text AND vector          → fused 1.0
    //  id 4: neither                       → fused 0.0
    // expected rank: 3, then the 0.5-TIE broken by vec_id (1 before
    // 2), then 4 — exercises fusion, both degenerate signals and the
    // deterministic tie rule in one fixture.
    val docs = Seq(
      (0L, "alpha beta gamma"), (1L, "alpha beta gamma"),
      (2L, "delta epsilon zeta"), (3L, "alpha beta gamma"),
      (4L, "omega psi chi")).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(1f, 0f)),
      (3L, Seq(1f, 0f)), (4L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val out = Similarity.hybridTopK(docs, emb, nQueries = 1, k = 4).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.map(_._2).toSeq === Seq(3L, 1L, 2L, 4L))
    assert(out.map(_._5).toSeq === Seq(1.0, 0.5, 0.5, 0.0)) // fused
    assert(out(1)._3 === 0.0 && out(1)._4 === 1.0) // id 1: pure lexical
    assert(out(2)._3 === 1.0 && out(2)._4 === 0.0) // id 2: pure dense
  }

  test("ss12 MMR: exact-dup candidate is demoted below the diverse one; pure relevance would not reorder") {
    import spark.implicits._
    // query 0 = [1,0,0]; candidates all have EQUAL relevance 0.8:
    //  id 1, id 2: the same vector (an exact dup pair)
    //  id 3: equally relevant but decoupled via the third axis
    //         (sim(3,1) = 0.64 < 1)
    // round 1 is a three-way relevance TIE → lowest id (1); round 2
    // must take the diverse 3 over the dup 2 (0.56−0.3·0.64 >
    // 0.56−0.3·1); round 3 mops up 2 with max_sim 1. A pure-relevance
    // ranker returns 1,2,3 — getting 1,3,2 is the diversification.
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(0.8f, 0.6f, 0f)),
      (2L, Seq(0.8f, 0.6f, 0f)), (3L, Seq(0.8f, 0f, 0.6f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.mmrDiversify(emb, nQueries = 1, m = 3, k = 3).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L)) // mmr_rank
    assert(out.map(_._2).toSeq === Seq(1L, 3L, 2L)) // picked ids
    assert(out(0)._4 === 0.0)                        // round-1 max_sim
    assert(out(1)._4 < 0.7 && out(2)._4 > 0.99)      // 3 diverse, 2 dup
    // relevance is flat across all three — the reorder is all MMR
    assert(out.map(_._3).distinct.size === 1)
  }

  test("ss11 candidate-pruned hybrid probe: exact re-score over IVF∪token candidates, real pruning, recall floor") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    // the 100 TB path ss11's scaladoc promises, proven: candidates
    // from the IVF cell probe ∪ df-capped token postings, EXACT
    // fusion re-score — any divergence from exhaustive ss11 is a
    // candidate miss, never a scoring drift
    val docs = Tables.documents(spark, Sf0001)
    val emb = Tables.embeddings(spark, Sf0001)
    val dir = tempDir("graft-hyb")
    Similarity.ivfWriteIndex(emb, dir, nlist = 16, iters = 2)
    val k = 10
    val exact = Similarity.hybridTopK(docs, emb, nQueries = 5, k = k)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // OPERATING POINT (round 11 — VERDICT r10 #9): nprobe=8, dfCap=64,
    // from `graft.Bench hybrid`'s sweep — recall@10 0.90 at sf0.001 and
    // 0.86 at sf0.01 (dfCap saturates on the synthetic vocabulary:
    // every token the lexical probe wants has df ≤ 16, so nprobe is
    // the live knob at these SFs; the cap matters at web-scale vocab).
    // Floor 0.8 leaves margin for testdata regeneration, replacing
    // the historical ≥ 0.5 placeholder. BENCH_NOTES round 11 carries
    // the full curve.
    val probe = Similarity.hybridProbe(spark, docs, emb, dir, nQueries = 5, k = k,
      nprobe = 8, dfCap = 64)
    val probeRows = probe.collect()
    // every probe hit is scored by the SAME fusion tree — ranks are
    // contiguous 1..k per query
    assert(probeRows.length === 5 * k)
    val hits = probeRows.map(r => (r.getLong(0), r.getLong(2))).count(exact.contains)
    val recall = hits.toDouble / exact.size
    assert(recall >= 0.8, s"hybrid-probe recall@$k $recall below the nprobe=8 operating floor")
    // the pruning claim, asserted not inferred: candidate pairs ≪
    // the queries×corpus pairs the exhaustive path scores
    val nCand = Similarity.hybridCandidatesOf(spark, docs, emb, dir, nQueries = 5,
      nprobe = 8, dfCap = 64).count()
    val nCorpus = emb.count()
    assert(nCand < 5L * (nCorpus - 1) / 2,
      s"candidate union $nCand does not prune (corpus pairs ${5L * (nCorpus - 1)})")
    // both probes contribute: dropping either signal's candidates
    // must lose at least one of the winners the union keeps
    val denseOnly = Similarity.hybridCandidatesOf(spark, docs, emb, dir,
      nQueries = 5, nprobe = 8, dfCap = 0).count()
    assert(denseOnly < nCand, "token probe contributed no candidates — union degenerate")

    // dfCap BINDING (round 12 — VERDICT r11 #6): the natural synthetic
    // vocabulary saturates at df ≤ 16, so the cap had never been
    // observed pruning. On a heavy-tailed corpus (boilerplate tokens
    // planted at df ~N/2, ~N/8, ~N/25 — `graft.Bench hybrid`'s fixture)
    // the candidate count must MOVE with the cap: the df~N/2 token's
    // posting list passes cap=256 and is cut at cap=16.
    val heavy = graft.Bench.heavyTailDocs(docs)
    val cand16 = Similarity.hybridCandidatesOf(spark, heavy, emb, dir,
      nQueries = 5, nprobe = 8, dfCap = 16).count()
    val cand256 = Similarity.hybridCandidatesOf(spark, heavy, emb, dir,
      nQueries = 5, nprobe = 8, dfCap = 256).count()
    assert(cand16 < cand256,
      s"dfCap never bound on the heavy-tail corpus ($cand16 vs $cand256)")
    // the cap guards candidate volume, not correctness: the capped
    // probe still re-scores exactly, so its recall vs the heavy
    // corpus's own exhaustive answer holds the operating floor
    val heavyExact = Similarity.hybridTopK(heavy, emb, nQueries = 5, k = k)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val heavyProbe = Similarity.hybridProbe(spark, heavy, emb, dir, nQueries = 5,
      k = k, nprobe = 8, dfCap = 64).collect()
      .map(r => (r.getLong(0), r.getLong(2))).count(heavyExact.contains)
    assert(heavyProbe.toDouble / heavyExact.size >= 0.8,
      "heavy-tail capped probe fell below the operating floor")
  }

  test("ss8 registry run carries the ivf_delta row; delta-appended recall floor holds") {
    // VERDICT r7 #7: appending to existing centroids shifts list
    // balance away from the training distribution — this recall row
    // is the gauge that says when to re-cluster. The registry ss8
    // (materialized-index probes, including the base-trained ⊕
    // delta-appended ivf_delta index) must carry the row, and its
    // mean recall at default params must not collapse below the
    // full-build IVF floor: the driver corpus's delta 1/8 is drawn
    // from the same distribution, so near-full-build recall is the
    // expected (and spec'd) behavior; a big drop here means append
    // assignment or partition-append layout broke.
    val out = graft.queries.PipelineQueries.ss8(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val variants = out.map(_._1).distinct.sorted.toSeq
    assert(variants === Seq("ivf_delta", "ivf_reclustered", "ivfpq_adc", "pq_adc",
      "ss17_hnsw", "ss2_lsh", "ss3_ivf", "ss5_pq", "ss7_ivfpq"))
    // round 15: ss5/ss7 serve through the exact-rerank path; the
    // retained *_adc rows gauge what the refine stage buys — the
    // reranked mean can never sit below its ADC baseline (survival
    // guarantee: a true-top-k member in the pool always survives)
    def vmean(v: String) = {
      val rows = out.filter(_._1 == v); rows.map(_._3).sum / rows.length
    }
    assert(vmean("ss5_pq") >= vmean("pq_adc") - 1e-12,
      "reranked PQ recall fell below its own ADC baseline")
    assert(vmean("ss7_ivfpq") >= vmean("ivfpq_adc") - 1e-12,
      "reranked IVF-PQ recall fell below its own ADC baseline")
    // the round-13 graph-ANN row must not collapse either
    val hnswRows = out.filter(_._1 == "ss17_hnsw")
    assert(hnswRows.map(_._3).sum / hnswRows.length >= 0.3,
      "ss17_hnsw recall collapsed in the registry ss8 run")
    val deltaRows = out.filter(_._1 == "ivf_delta")
    assert(deltaRows.forall { case (_, _, r) => r >= 0.0 && r <= 1.0 })
    val mean = deltaRows.map(_._3).sum / deltaRows.length
    assert(mean >= 0.2, s"ivf_delta mean recall $mean collapsed — delta append broke probing")
    // round 9 (VERDICT r8 #2): the ACT row — after ivfRecluster the
    // index IS a full build over the whole corpus (IvfIndexSpec pins
    // bit-equality), so its recall row must sit exactly at ss3_ivf's
    // full-build level, closing the observe-decide-act loop in the
    // metric a user actually watches
    def meanOf(v: String) = {
      val rows = out.filter(_._1 == v); rows.map(_._3).sum / rows.length
    }
    assert(meanOf("ivf_reclustered") === meanOf("ss3_ivf"),
      s"reclustered recall ${meanOf("ivf_reclustered")} != full-build ${meanOf("ss3_ivf")}")
  }

  test("ss9 range search: radius semantics, consistent with ss1's exact top-k") {
    // planted: the exact copy (cosine 1.0) is inside any radius; the
    // result set is exactly the brute-force rows at-or-above it
    val out = Similarity.rangeSearch(corpus, queries, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.exists(r => r._2 == 101L && math.abs(r._3 - 1.0) < 1e-9))
    out.foreach { case (_, _, c) => assert(c >= 0.5) }
    // cross-check against ss1 on the driver corpus: every exact top-k
    // row with cosine ≥ τ must appear in the range result, and every
    // range row must score ≥ τ (no false admits)
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 3)
    val tau = 0.25
    val rng = Similarity.rangeSearch(emb, q, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val topk = Similarity.bruteForceTopK(emb, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val rngKeys = rng.map(r => (r._1, r._2)).toSet
    topk.filter(_._3 >= tau).foreach { case (qid, vid, _) =>
      assert(rngKeys.contains((qid, vid)), s"missing ($qid, $vid)")
    }
    rng.foreach { case (_, _, c) => assert(c >= tau) }
    assert(rng.nonEmpty)
  }

  test("ss10 k-means: planted tight clusters recovered; deterministic") {
    import spark.implicits._
    // three tight clusters at distinct corners; ids interleaved so the
    // seed set (min ids) spans clusters unevenly
    def around(cx: Float, cy: Float, eps: Float): Seq[Float] =
      Seq(cx + eps, cy - eps) ++ Seq.fill(dim - 2)(0.0f)
    val rows =
      (0 until 6).map(i => (i * 3L, around(10f, 0f, 0.01f * i))) ++
      (0 until 6).map(i => (i * 3L + 1, around(0f, 10f, 0.01f * i))) ++
      (0 until 6).map(i => (i * 3L + 2, around(-10f, -10f, 0.01f * i)))
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.kmeansAssign(emb, 3, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.length === rows.length)
    // each planted cluster maps to exactly one label
    val byPlanted = out.groupBy(_._1 % 3).map { case (p, rs) => p -> rs.map(_._2).toSet }
    assert(byPlanted.values.forall(_.size === 1), byPlanted.toString)
    assert(byPlanted.values.toSeq.distinct.length === 3)
    // converged members sit near their centroid: dist (int64 micro²
    // units, 1.0 real = 1e12) well under the ~200-real inter-cluster gap
    out.foreach { case (_, _, dist) => assert(dist < 1_000_000_000_000L, dist.toString) }
    // bit-deterministic across runs
    val again = Similarity.kmeansAssign(emb, 3, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq === again.toSeq)
  }

  test("ss14 recall curve: monotone non-decreasing in nprobe; nprobe = nlist reaches exactly 1.0") {
    val out = graft.queries.PipelineQueries.ss14(spark, Sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq ===
      Seq("nprobe_01", "nprobe_02", "nprobe_04", "nprobe_08", "nprobe_16"))
    // a probed-list superset only adds candidates, and an exact-top-k
    // member can only be displaced by another exact member — so the
    // curve never dips
    out.sliding(2).foreach { case Array((a, _, ra), (b, _, rb)) =>
      assert(rb >= ra, s"recall dipped $a=$ra -> $b=$rb")
    }
    // probing every list IS the brute-force scan under the same
    // deterministic comparator: the endpoint is exactly 1.0
    assert(out.last._3 === 1.0, s"full probe must be exact, got ${out.last._3}")
    assert(out.head._3 < 1.0 || out.forall(_._3 == 1.0))
    assert(out.forall(_._2 > 0))
  }

  test("dd17 semdedup: planted cells group near-dups, keeper is farthest-from-centroid, boundary pair missed") {
    import spark.implicits._
    // two symmetric cells seeded by ids 0/1; 2 ≈ 0 and 5 ≈ 1 (near-dups,
    // cosine ≈ 0.99999); 3/4 straddle the cell boundary with cosine
    // ≈ 0.98 ≥ τ — the pair SemDeDup knowingly misses
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(-1.0f, 0.0f)),
      (2L, Seq(0.995f, 0.005f)), (3L, Seq(0.1f, 0.995f)),
      (4L, Seq(-0.1f, 0.995f)), (5L, Seq(-0.995f, -0.005f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.semanticDedup(emb, k = 2, iters = 2, tau = 0.9).collect()
    val out = rows.map(r =>
      r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getBoolean(3)))).toMap
    val asg = Similarity.kmeansAssign(emb, 2, 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    // fixture precondition: Lloyd splits the symmetric halves (each
    // straddler joins its nearer seed's cell)
    assert(asg(0)._1 === asg(2)._1 && asg(0)._1 === asg(3)._1)
    assert(asg(1)._1 === asg(5)._1 && asg(1)._1 === asg(4)._1)
    assert(asg(0)._1 !== asg(1)._1)
    assert(out.keySet === asg.keySet)
    // within-cell near-dups group under the min member; straddlers and
    // non-dups are singletons that keep themselves
    assert(out(0)._2 === 0L && out(2)._2 === 0L)
    assert(out(1)._2 === 1L && out(5)._2 === 1L)
    assert(out(3) === ((asg(3)._1, 3L, true)))
    assert(out(4) === ((asg(4)._1, 4L, true)))
    // the documented recall trade: cosine(3,4) ≥ τ yet the cell
    // boundary keeps them apart
    assert(out(3)._2 !== out(4)._2)
    // exactly one keeper per group — the max (dist2u, vec_id) member,
    // SemDeDup's least-prototypical-representative rule
    for (g <- Seq(0L, 1L)) {
      val members = out.collect { case (v, (_, grp, _)) if grp == g => v }.toSeq
      val keepers = members.filter(out(_)._3)
      assert(keepers === Seq(members.maxBy(m => (asg(m)._2, m))), s"group $g")
    }
    // deterministic end to end
    assert(Similarity.semanticDedup(emb, 2, 2, 0.9).collect().toSeq === rows.toSeq)
  }

  test("dd17 semdedup on the real table: total labeling, one keeper per group, groups within cells") {
    val emb = Tables.embeddings(spark, Sf0001)
    val out = Similarity.semanticDedup(emb, 8, 2, 0.35).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length === emb.count().toInt, "every vector labeled exactly once")
    val byGroup = out.groupBy(_._3)
    byGroup.foreach { case (g, members) =>
      assert(members.count(_._4) === 1, s"group $g keeper count")
      assert(g === members.map(_._1).min, s"group $g labeled by min member")
      assert(members.map(_._2).distinct.length === 1,
        s"group $g spans kmeans cells — cluster blocking violated")
    }
    assert(byGroup.exists(_._2.length > 1), "no dup group found — fixture degenerate")
  }

  test("ss18 filtered search: neighbors come ONLY from the query's class; planted dup wins") {
    import spark.implicits._
    val q0 = vec(0)
    // corpus: exact dup of query 0 in class 1 AND in class 2 — the
    // filter must pick the same-class one; plus fillers in both
    val rows = Seq(
      (101L, q0, 1), (102L, q0, 2),
    ) ++ (110L to 130L).map(i => (i, vec(i.toInt), if (i % 2 == 0) 1 else 2))
    val corpus = rows.toDF("vec_id", "embedding", "label")
    val queries = Seq((0L, q0, 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.filteredTopK(corpus, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty && out(0)._2 === 101L && math.abs(out(0)._3 - 1.0) < 1e-9)
    // every returned neighbor is class 1 — 102 (class 2, also an exact
    // dup) must NOT appear
    val class1 = rows.filter(_._3 == 1).map(_._1).toSet
    assert(out.forall(r => class1(r._2)), s"off-class neighbor leaked: ${out.toSeq}")
    assert(!out.exists(_._2 == 102L))
  }

  test("ss18 IVF-served filtered probe: recall floor vs exact; off-class rows never returned") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.filteredTopK(emb, q, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val dir = tempDir("graft-ivf-filt")
    Similarity.ivfWriteIndex(emb, dir, nlist = 16)
    val got = Similarity.ivfProbeIndexFiltered(spark, dir, q, emb, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    assert(recall >= 0.2, s"filtered-probe recall $recall collapsed")
    // the predicate is hard: nothing off-class may appear
    val labelOf = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { case (qid, vid) =>
      assert(labelOf(vid) === labelOf(qid), s"off-class $vid for query $qid")
    }
    // determinism
    val again = Similarity.ivfProbeIndexFiltered(spark, dir, q, emb, 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(again === got)
  }
}
