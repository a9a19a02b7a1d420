package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Invariants of the scale-up generator (ScaleGen) — these are what
  * make the time-vs-scale curves in BENCH_NOTES.md trustworthy: if
  * the synthetic corpus didn't scale the WORK linearly, linear TIME
  * curves would prove nothing.
  */
class ScaleGenSpec extends SparkTestBase {

  private lazy val outRoot = tempDir("graft_scale_spec")
  private lazy val x3 = ScaleGen.writeScaled(spark, Sf0001, outRoot, 3)

  test("x3 fact tables triple rows; keys stay unique; dims unchanged") {
    val baseDocs = Tables.documents(spark, Sf0001).count()
    val docs = Tables.documents(spark, x3)
    assert(docs.count() === 3 * baseDocs)
    assert(docs.select("doc_id").distinct().count() === 3 * baseDocs)
    val baseLi = Tables.lineitem(spark, Sf0001).count()
    assert(Tables.lineitem(spark, x3).count() === 3 * baseLi)
    assert(Tables.nation(spark, x3).count() ===
      Tables.nation(spark, Sf0001).count())
  }

  test("cipher keeps replicas text-disjoint and structure-isomorphic") {
    val base = Tables.documents(spark, Sf0001)
    val x3docs = Tables.documents(spark, x3)
    // bijection per replica + no cross-replica collisions ⇒ distinct
    // texts exactly triple (base HAS exact dups; they stay dups)
    assert(x3docs.select("text").distinct().count() ===
      3 * base.select("text").distinct().count())
    // n_chars untouched by a character substitution
    assert(x3docs.agg(sum("n_chars")).head.getLong(0) ===
      3 * base.agg(sum("n_chars")).head.getLong(0))
  }

  test("cipher powers keep every vocab token distinct across 36 replicas") {
    import spark.implicits._
    // the property the component-mask dedup path rests on: replica
    // vocabularies are PAIRWISE DISJOINT — no token of any replica
    // equals any token of any other (36 × |vocab| distinct images)
    val toks = Tables.documents(spark, Sf0001)
      .selectExpr("explode(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS t")
      .distinct().as[String].collect()
    assert(toks.nonEmpty)
    val probe = toks.toSeq.toDF("text")
    val images = (0 until 36).flatMap { r =>
      probe.select(ScaleGen.cipher(col("text"), r)).as[String].collect()
    }
    assert(images.distinct.size === 36 * toks.length)
  }

  test("near-dup pair count scales exactly linearly on the x3 corpus") {
    val basePairs = Dedup.ngramJaccard(
      Tables.documents(spark, Sf0001).select("doc_id", "text"), 3, 0.8).count()
    val x3Pairs = Dedup.ngramJaccard(
      Tables.documents(spark, x3).select("doc_id", "text"), 3, 0.8).count()
    assert(basePairs > 0) // vacuous otherwise
    assert(x3Pairs === 3 * basePairs)
  }

  test("perturbed mode: replica-0 embeddings bit-equal, replica >0 jittered " +
      "within eps, deterministic (round 15 — VERDICT r14 #2)") {
    import spark.implicits._
    val eps = 0.05
    val xp = ScaleGen.writeScaled(spark, Sf0001, outRoot, 3, eps)
    val base = Tables.embeddings(spark, Sf0001)
      .select(col("vec_id"), col("embedding"))
    val pert = Tables.embeddings(spark, xp)
      .select(col("vec_id").as("p_vec_id"), col("embedding").as("p_embedding"))
    val n = base.count()
    assert(pert.count() === 3 * n)
    // replica 0 is the identity: bit-equal arrays
    val r0diff = base.join(pert, col("vec_id") === col("p_vec_id"))
      .filter(col("embedding") =!= col("p_embedding")).count()
    assert(r0diff === 0L, "replica 0 must stay bit-identical to the base")
    // replica 1/2: every dimension within relative eps of its source —
    // and NOT bit-equal (the whole point: ties must break)
    (1 to 2).foreach { i =>
      val j = base.join(pert,
        col("vec_id") + lit(i * ScaleGen.STRIDE) === col("p_vec_id"))
      assert(j.count() === n)
      val viol = j.filter(expr(
        s"exists(zip_with(embedding, p_embedding, (b, p) -> " +
        s"abs(p - b) > $eps * abs(b) + 1e-6), v -> v)")).count()
      assert(viol === 0L, s"replica $i jitter exceeded relative eps")
      val changed = j.filter(col("embedding") =!= col("p_embedding")).count()
      assert(changed === n, s"replica $i must differ from the base per vector")
    }
    // determinism: a second generation is bit-identical
    val xp2root = tempDir("graft_scale_spec2")
    val xp2 = ScaleGen.writeScaled(spark, Sf0001, xp2root, 3, eps)
    val again = Tables.embeddings(spark, xp2)
      .select(col("vec_id").as("p_vec_id"), col("embedding").as("a_embedding"))
    val drift = pert.join(again, "p_vec_id")
      .filter(col("p_embedding") =!= col("a_embedding")).count()
    assert(drift === 0L, "perturbation must be deterministic across runs")
  }

  test("global aggregates scale 3x; dimensional group count does not") {
    val q = (d: String) => Tables.lineitem(spark, d)
      .agg(sum("l_quantity").as("s"), count(lit(1)).as("n")).head
    val (b, s) = (q(Sf0001), q(x3))
    assert(math.abs(s.getDouble(0) - 3 * b.getDouble(0)) < 1e-6)
    assert(s.getLong(1) === 3 * b.getLong(1))
    // joins stay key-correct across the shift: per-nation customer
    // counts triple while the nation group count is unchanged
    val byNation = (d: String) => Tables.customer(spark, d)
      .join(Tables.nation(spark, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").agg(count(lit(1)).as("n"))
    val bn = byNation(Sf0001).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sn = byNation(x3).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sn.keySet === bn.keySet)
    bn.foreach { case (k, v) => assert(sn(k) === 3 * v) }
  }
}
