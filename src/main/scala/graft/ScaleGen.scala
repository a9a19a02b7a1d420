package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes scaled-up copies of a testdata directory so the 100 TB
  * linearity claims can be checked empirically (driver testdata stops
  * at sf0.1 and is read-only; these land under /tmp).
  *
  * `graft.Bench scalegen [--perturb[=eps]] <baseDir> <outRoot> <r>
  * [<r> ...]` writes `<outRoot>/x<r>/<table>.parquet` (`x<r>p` when
  * perturbed) = the base directory replicated r times with disjoint
  * key spaces:
  *
  *  - Fact keys (doc_id, vec_id, event_id, user_id, c_custkey,
  *    o_orderkey/o_custkey, l_orderkey) shift by replica*STRIDE, so
  *    joins stay key-correct and group counts (users, orders, docs)
  *    grow linearly. Dimension tables (region/nation/part/supplier)
  *    and dimension FKs (c_nationkey, l_partkey/l_suppkey) are kept,
  *    so dimensional group-bys keep their cardinality while their
  *    aggregates scale — which is what a bigger corpus looks like.
  *  - Document text is passed through a per-replica substitution
  *    cipher (letters rotated 1..25, digits 0..9 — 250 distinct
  *    ciphers, all replicas distinct). A character bijection is a
  *    token bijection, so every replica's shingle-set structure —
  *    token frequencies, n-gram Jaccard graph, MinHash collision
  *    behaviour — is isomorphic to the base corpus, while shingles
  *    from different replicas (almost surely) never collide. Result:
  *    dedup/near-dup output must scale EXACTLY r×; any super-linear
  *    growth in candidates or time is an algorithmic red flag, not a
  *    data artifact. (Naive replication without the cipher would make
  *    every doc an r-way exact duplicate — r² pair growth by
  *    construction, useless for a linearity test.)
  *  - Embedding vectors are kept bit-identical under shifted vec_ids
  *    by default: ANN/scan cost is what scales with corpus size, and
  *    identical vectors leave centroid training inputs unchanged per
  *    replica. That default makes recall-at-scale near-tautological
  *    (each query's exact top-k is dominated by bit-equal copies any
  *    variant finds — VERDICT r14 #2), so a PERTURBED mode
  *    (`--perturb[=eps]`, default eps 0.05) additionally applies a
  *    deterministic per-(vector, dimension, replica) relative jitter
  *    x → x·(1 + eps·u), u = xxhash64(vec_id, dim, replica)/2^20
  *    folded to (−1, 1). Replica 0 stays the identity. Jittered
  *    copies sit at cosine ≈ 1−O(eps²) of their base — still the
  *    query's true near-neighbors, but no longer bit-equal: centroid
  *    training sees realistic spread, ties break, and the ss8/ss14
  *    recall curves can actually MOVE with scale. Ground truth stays
  *    computable because recall is always measured against the exact
  *    brute-force top-k on the SAME (perturbed) corpus.
  */
object ScaleGen {

  /** Larger than any base key at sf≤1; replica key spaces never overlap. */
  val STRIDE = 1000000000L

  private val Lower  = "abcdefghijklmnopqrstuvwxyz"
  private val Upper  = Lower.toUpperCase
  private val Digits = "0123456789"

  private def splitmix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One fixed pseudo-random 36-CYCLE over the combined [a-z0-9]
    * alphabet (Fisher–Yates order, splitmix-seeded), shared by every
    * replica; replica i applies its i-th power. */
  private val Cycle: Array[Char] = {
    val a = (Lower + Digits).toCharArray
    var s = 0x5EEDC0FFEEL
    for (i <- a.length - 1 to 1 by -1) {
      s = splitmix(s)
      val j = java.lang.Math.floorMod(s, (i + 1).toLong).toInt
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  private val CyclePos: Map[Char, Int] = Cycle.zipWithIndex.toMap
  private def shiftChar(c: Char, k: Int): Char = Cycle((CyclePos(c) + k) % 36)

  /** Per-replica bijective character remap; replica 0 is the identity
    * (the base corpus itself). Replica i applies the i-th POWER of one
    * fixed 36-cycle over [a-z0-9] — the structure that makes replica
    * vocabularies provably disjoint, where ad-hoc choices fail:
    *  - alphabet ROTATIONS admit only 25 distinct letter maps, so
    *    replicas 1 and 26 share every letter-only token (observed:
    *    +27% spurious cross-replica near-dup pairs at r=30);
    *  - INDEPENDENT random permutations collide on short tokens
    *    (single-char images draw from 26 letters — birthday-certain
    *    by r≈10; observed: 307 ≠ 310 distinct tokens at r=10, which
    *    chain-merged vocabulary components past the 64-bit budget);
    *  - powers of a single 36-cycle map every char to 36 PAIRWISE
    *    DISTINCT images across replicas 0..35, and a cross-replica
    *    token collision would need one vocab word to be an exact
    *    σ^k-shift of another — ruled out for the actual corpus by
    *    ScaleGenSpec, which asserts all vocab×36 images distinct.
    * Uppercase maps through the lowercase image (uppercased when the
    * image is a letter); the driver corpus is verified all-lowercase
    * and digit-free, so the char map is a bijection on every text
    * that occurs. Supports up to 36 replicas. */
  def cipher(c: Column, replica: Int): Column =
    if (replica == 0) c
    else {
      require(replica < 36, s"cipher supports at most 36 replicas, got $replica")
      val lp = Lower.map(ch => shiftChar(ch, replica))
      val dp = Digits.map(ch => shiftChar(ch, replica))
      val up = lp.map(ch => if (ch.isLetter) ch.toUpper else ch)
      translate(c, Lower + Upper + Digits, lp + up + dp)
    }

  private def replicate(base: DataFrame, r: Int)(copy: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until r).map(i => copy(base, i)).reduce(_ unionByName _)

  private def shift(c: String, i: Int): Column = (col(c) + lit(i * STRIDE)).as(c)

  /** Deterministic per-replica embedding jitter (see class doc).
    * Codegen-friendly: one transform HOF over the array, xxhash64 per
    * element — no UDF, no randomness source (Date.now/Math.random
    * would break replay; xxhash64 of (base vec_id, dim, replica) is a
    * pure function of the row). Replica 0 (and eps 0) is the identity,
    * so the base corpus inside a perturbed directory stays bit-equal
    * to the unperturbed one. */
  def jitter(emb: Column, vecId: Column, replica: Int, eps: Double): Column =
    if (replica == 0 || eps == 0.0) emb
    else transform(emb, (x, j) => {
      val u = (xxhash64(vecId, j, lit(replica)) % 1048576L).cast("double") / 1048576.0
      (x * (lit(1.0) + lit(eps) * u)).cast("float")
    })

  /** All tables of one scaled directory, as (name, frame) pairs.
    * `perturbEps` > 0 jitters replica > 0 embeddings (VERDICT r14 #2). */
  def scaled(spark: SparkSession, baseDir: String, r: Int,
      perturbEps: Double = 0.0): Seq[(String, DataFrame)] = {
    val docs = replicate(Tables.documents(spark, baseDir), r) { (d, i) =>
      d.select(shift("doc_id", i), cipher(col("text"), i).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    val emb = replicate(Tables.embeddings(spark, baseDir), r) { (d, i) =>
      d.select(shift("vec_id", i),
        jitter(col("embedding"), col("vec_id"), i, perturbEps).as("embedding"),
        col("label"))
    }
    val ev = replicate(Tables.events(spark, baseDir), r) { (d, i) =>
      d.select(shift("event_id", i), col("ts"), shift("user_id", i),
        col("event_type"), col("value"), col("props"))
    }
    val cust = replicate(Tables.customer(spark, baseDir), r) { (d, i) =>
      d.select(shift("c_custkey", i), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }
    val ord = replicate(Tables.orders(spark, baseDir), r) { (d, i) =>
      d.select(shift("o_orderkey", i), shift("o_custkey", i), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    }
    val li = replicate(Tables.lineitem(spark, baseDir), r) { (d, i) =>
      d.select(shift("l_orderkey", i), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
    }
    Seq("documents" -> docs, "embeddings" -> emb, "events" -> ev,
      "customer" -> cust, "orders" -> ord, "lineitem" -> li,
      "region" -> Tables.region(spark, baseDir),
      "nation" -> Tables.nation(spark, baseDir),
      "part" -> Tables.part(spark, baseDir),
      "supplier" -> Tables.supplier(spark, baseDir))
  }

  def writeScaled(spark: SparkSession, baseDir: String, outRoot: String, r: Int,
      perturbEps: Double = 0.0): String = {
    // perturbed dirs get their own name so the two modes' write-once
    // derived layouts (keyed on source path) can never cross-serve
    val dir = if (perturbEps > 0) s"$outRoot/x${r}p" else s"$outRoot/x$r"
    scaled(spark, baseDir, r, perturbEps).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }
}
