package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Snapshots.SnapshotOps

/** §2.B deduplication operators over a documents-shaped table
  * (doc_id: long, text: string).
  *
  * Scale design: nothing here is O(n²) over the corpus. Exact dedup is
  * one hash-partitioned groupBy; near-dup candidate generation is
  * always prefix-filtered / LSH-bucketed (shuffle keyed on
  * shingle/band/signature), so the pairwise work is per-bucket. Hot
  * buckets (stop-shingles) are the skew risk at 100 TB — prefix
  * filtering removes them from candidate generation by construction
  * (ubiquitous shingles have max document frequency, so they sort out
  * of every prefix); residual band-join skew is AQE skew-join's job.
  * Every PPJoin path, inline or over an index, slices arrays sorted
  * under one df order ([[dfOrdered]], [[prefixLen]]).
  */
object Dedup {

  /** The default word tokenizer every dedup/text operator shares —
    * ASCII alphanumeric runs over the lowercased text. On CJK/
    * Cyrillic/Arabic corpora this collapses documents to near-empty
    * token sets; [[UnicodeTokensExpr]] is the drop-in replacement
    * (round 13 — VERDICT r12 #3). */
  private[graft] val AsciiTokensExpr =
    "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"

  /** Unicode-class tokenizer: letter/digit runs in ANY script
    * (\p{L}\p{N} — the same RE2-compatible classes DuckDB accepts, so
    * the choice stays oracle-able). Tokens are whitespace-and-symbol
    * delimited exactly like the ASCII rule; unsegmented CJK text
    * yields one token per contiguous run, which still separates
    * documents far better than the empty set the ASCII rule produces.
    * DedupSpec pins dd2-on-unicode recovering planted Cyrillic
    * near-dups the default tokenizer cannot see. */
  private[graft] val UnicodeTokensExpr =
    """regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+', 0)"""

  private def withShingles(docs: DataFrame, n: Int,
      tokensExpr: String = AsciiTokensExpr): DataFrame =
    withShinglesAll(docs, n, tokensExpr).filter(size(col("shingles")) > 0)

  /** [[withShingles]] WITHOUT the emptiness filter. The filter
    * references the projected column, and Catalyst's filter pushdown
    * re-inlines the whole tokenize + n-gram expression into the
    * predicate — the expensive column is then evaluated TWICE per row
    * (measured 2× on dd8's scan). Callers that cache the projection
    * use this form and filter AFTER the cache barrier, where size()
    * reads the materialized array for free. */
  private def withShinglesAll(docs: DataFrame, n: Int,
      tokensExpr: String = AsciiTokensExpr): DataFrame = {
    val t = tokensExpr
    val toks = expr(t)
    // CASE guard, not greatest(..., 0): sequence(1, 0) DESCENDS in
    // Spark (step defaults to -1 when start > stop), which would feed
    // slice() index 0 and error on any doc shorter than n tokens.
    val sh =
      if (n <= 1) array_distinct(toks)
      else array_distinct(expr(
        s"CASE WHEN size($t) >= $n THEN transform(sequence(1, size($t) - ${n - 1}), " +
        s"i -> concat_ws(' ', slice($t, i, $n))) ELSE CAST(array() AS array<string>) END"))
    docs.select(col("doc_id"), sh.as("shingles"))
  }

  /** dd1: exact duplicate groups — one shuffle keyed on the text. At
    * scale, key on xxhash64(text) first and verify inside groups to
    * cut shuffle width. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  /** Shingled (doc_id, shingles) view of `docs` — exposed so st15's
    * streaming ingest-dedup can materialize the STANDING corpus's
    * token sets once (localCheckpoint) and amortize them across
    * micro-batches, instead of re-tokenizing the base per batch. */
  private[graft] def shingled(docs: DataFrame, n: Int): DataFrame =
    withShingles(docs, n)

  /** One streaming-ingest micro-batch probed against the pre-shingled
    * standing corpus: exact jaccard ≥ threshold pairs with doc_new =
    * batch doc, doc_old = base doc. Candidate generation goes through
    * [[incrementalAdaptive]] — the SAME dispatch as dd9's nightly path
    * (round 8: the first cut hardcoded the prefix path, which is
    * exact-complete for any τ > 0 but DEGENERATES on replicated
    * vocabularies exactly as its own scaladoc warns: 215 s vs dd9's
    * 13 s on the x30 cipher-replica corpus, 7× super-linear; the
    * shared dispatch keeps both ingest paths on one strategy). The
    * union is cached — whichever branch wins references it multiple
    * times (inverted index / mask probe + both verification sides).
    * At production scale both sides come off the persisted shingle
    * index ([[shingleWriteIndex]]'s df/ partition, dd2's probe).
    *
    * The pairs are snapshotted HERE and the union cache released
    * before returning (ADVICE r8): this runs once per micro-batch for
    * the life of the stream, and the cached union embeds the FULL
    * standing-corpus shingles — leaving one MEMORY_AND_DISK entry
    * behind per batch is unbounded storage growth in exactly the
    * long-running ingest scenario this operator serves. The checkpoint
    * is also what st15's verdict fold needs anyway (the CollapseProject
    * re-evaluation lesson in st15From). */
  private[graft] def ingestBatchPairs(baseSh: DataFrame, batch: DataFrame,
      threshold: Double): DataFrame = {
    val union = baseSh.withColumn("is_delta", lit(false))
      .unionByName(withShingles(batch, 1).withColumn("is_delta", lit(true)))
      .cache()
    val pairs = incrementalAdaptive(union, threshold).snapshot()
    // the mask path caches relations built over the union too
    // (incrementalByMask's m/dm/im); they go with it
    org.apache.spark.sql.graftbridge.Releases.uncacheCascading(union)
    pairs
  }

  private val MaxCompVocab = 4096

  /** Dictionary-encoded bitmap representation of the shingle sets,
    * generalized to a PARTITIONED vocabulary: shingles are grouped
    * into co-occurrence components (two shingles connect iff some
    * document contains both), and each component with ≤ 64 members
    * gets its own 64-bit dictionary. A document's shingles always lie
    * in exactly ONE component — the doc itself is a clique through
    * them — so each doc encodes to one (comp, mask) row, and near-dup
    * pairs, which must share a shingle, are always same-component:
    * the pair search never crosses components by construction. That
    * is what makes this path survive corpus REPLICATION: r disjoint
    * sub-corpora (crawl snapshots, languages, template families) are
    * r independent components, each with its own dense 64-bit code
    * space, where the flat ≤64-token path would bail at r=2 and the
    * prefix path degenerates (a tiny per-replica vocabulary makes
    * every "rare" shingle common — prefixes stop pruning and the
    * candidate join goes quadratic; measured 134M candidates on a 3×
    * replica of the sf0.1 corpus). Set ops still collapse to
    * bit_count(a&b)/bit_count(a|b) — codegen'd integer ops per pair,
    * no string arrays on the wire.
    *
    * Probing stays strictly bounded. The 32-row sample bails the
    * moment any single document holds > 64 distinct shingles (its
    * component can never fit) — the real-corpus exit, one narrow
    * scan. Otherwise the vocabulary (≤ MaxCompVocab+1 rows) and the
    * star edge set (per-doc array_min anchor → shingle, distinct,
    * hard-capped) are the only driver collects, and union-find over
    * ≤ MaxCompVocab tokens is driver-side trivia. Any component over
    * 64 tokens ⇒ None ⇒ the PPJoin prefix path. */
  private def smallVocabMasks(sh: DataFrame): Option[DataFrame] =
    smallVocabDict(sh).map(dict => encodeWithDict(sh, dict))

  /** Encode per-doc (comp, mask) rows against an explicit component
    * dictionary — factored out of the vocabulary probe so the SAME
    * dictionary can be persisted with a materialized index and re-used
    * to encode delta batches ([[shingleAppendDelta]]). */
  private def encodeWithDict(sh: DataFrame, dict: Seq[(String, Int, Int)]): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val ids = dict.toDF("sh", "comp", "bit")
    sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
      .join(broadcast(ids), "sh")
      .groupBy("doc_id")
      .agg(min(col("comp")).as("comp"),
        bit_or(expr("shiftleft(CAST(1 AS BIGINT), bit)")).as("mask"))
  }

  /** The vocabulary probe alone: Some(dictionary) when the corpus
    * admits the component-bitmap representation (see the scaladoc
    * above for the bounds), None otherwise. */
  private def smallVocabDict(sh: DataFrame): Option[Seq[(String, Int, Int)]] = {
    val spark = sh.sparkSession
    import spark.implicits._
    val sampled = sh.select(col("shingles")).limit(32).collect()
    val sampleVocab = scala.collection.mutable.HashSet.empty[String]
    var maxDocDistinct = 0
    sampled.foreach { r =>
      val s = r.getSeq[String](0)
      maxDocDistinct = math.max(maxDocDistinct, s.size)
      sampleVocab ++= s
    }
    if (maxDocDistinct > 64 || sampleVocab.size > MaxCompVocab) return None
    val toks = sh.select(explode(col("shingles")).as("sh")).distinct()
      .as[String].limit(MaxCompVocab + 1).collect()
    if (toks.length > MaxCompVocab) return None
    val dict: Seq[(String, Int, Int)] =
      if (toks.length <= 64) {
        toks.sorted.zipWithIndex.map { case (t, i) => (t, 0, i) }.toSeq
      } else {
        // Star edges give full connectivity at O(shingles-per-doc)
        // rows (never the per-doc clique): every shingle links to its
        // document's array_min anchor.
        val edgeCap = 1 << 20
        val edges = sh.select(array_min(col("shingles")).as("a"),
            explode(col("shingles")).as("b"))
          .distinct().as[(String, String)].limit(edgeCap + 1).collect()
        if (edges.length > edgeCap) return None
        val parent = scala.collection.mutable.HashMap.empty[String, String]
        def find(x: String): String = {
          val p = parent.getOrElse(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val comps = toks.groupBy(find).toSeq.sortBy(_._1)
        if (comps.exists(_._2.length > 64)) return None
        comps.zipWithIndex.flatMap { case ((_, ts), ci) =>
          ts.sorted.zipWithIndex.map { case (t, bit) => (t, ci, bit) }
        }
      }
    Some(dict)
  }

  private def maskJaccard(a: Column, b: Column): Column =
    bit_count(a.bitwiseAND(b)).cast("double") / bit_count(a.bitwiseOR(b)).cast("double")

  /** Presentation sort with a single upstream execution (round 15
    * optimization — guide §1.2 "don't compute things you throw
    * away"): a bare `.orderBy` range-partitions, and RangePartitioner
    * SAMPLING executes the ENTIRE upstream plan once before the sort
    * pass executes it again — for the pair operators that is two full
    * candidate-join + verification runs per query. The lazy local
    * checkpoint materializes the pair set on its first computation
    * (the sampling pass) and the sort pass re-reads the stored rows.
    * Output rows and order are identical; only the double execution
    * goes. */
  private def sortedBy(df: DataFrame, cols: Column*): DataFrame =
    df.localCheckpoint(false).orderBy(cols: _*)

  /** Hamming pigeonhole band slices of a 64-bit `mask` column, laid
    * over the OCCUPIED bit span only (round 15 optimization — guide
    * §2.5 skew/§2.3 shuffle bytes): jaccard(A,B) ≥ t bounds
    * |A Δ B| ≤ |A∪B|·(1−t) ≤ pop·(1−t) bits, so ⌊pop(1−t)⌋+1
    * bit-ranges over the occupied span guarantee every qualifying
    * pair agrees exactly on at least one full band. The round-14 form
    * banded all 64 bits with nBands from 64·(1−t): on a corpus whose
    * dictionary occupies only the low 31 bits, every band over the
    * all-zero upper half matched EVERY mask against EVERY mask —
    * measured 25.2 M raw join rows for 28.9 k qualifying pairs at
    * t=0.9 (sf0.1), a ~870× candidate blow-up that the occupied-span
    * layout removes while keeping the guarantee exact. */
  private def hammingBandCols(threshold: Double, span: Int, pop: Int): Seq[Column] = {
    // FP-safe floor (ADVICE r15, high): IEEE rounds pop·(1−t) a hair
    // BELOW exact integer boundaries (t=0.9, pop=10 → 0.999…8 → 0
    // instead of 1), leaving nBands = trueMaxHam — one band short of
    // the pigeonhole requirement, silently dropping boundary pairs
    // with |A Δ B| = trueMaxHam and J exactly = t. The +1e-9 nudge
    // mirrors prefixLen's floor-vs-ceil guard: an extra band is only
    // cost, never a miss.
    val maxHam = math.max(0, math.floor(pop * (1.0 - threshold) + 1e-9).toInt)
    val nBands = maxHam + 1
    val bounds = (0 to nBands).map(k => k * span / nBands)
    (0 until nBands).map { k =>
      val lo = bounds(k); val width = bounds(k + 1) - lo
      val bits = if (width >= 64) -1L else (1L << width) - 1L
      struct(lit(k).as("band"), expr(s"(mask >> $lo) & $bits").as("bv"))
    }
  }

  /** Block count for the blocked all-pairs fallback: B(B+1)/2 = 136
    * triangular block pairs (self) / B salted keys (cross) — enough
    * keys to spread Σm² comparison work over every core, replication
    * factor (B+1)/2 ≈ 8.5 on the (tiny, distinct-mask) block relation. */
  private val MaskPairBlocks = 16

  /** All unordered distinct-mask candidate pairs within each component
    * via a TRIANGULAR BLOCKED self-join — the exact-fallback for the
    * regime where Hamming banding cannot prune (low occupancy + low
    * threshold ⇒ bands of 1–3 bits whose buckets hold ~m/4 masks
    * each): every mask gets a deterministic block b = h(mask) mod B,
    * the (u ≤ v) block-pair grid is keyed (comp, u, v), and each
    * unordered pair materializes EXACTLY once (left fans out over
    * v ≥ b, right over u ≤ b; the diagonal dedups by mask order), so
    * no post-join distinct is needed. Σ_comp m_c²/2 popcount
    * comparisons, spread over B(B+1)/2 keys — never a single-task
    * nested loop, never a per-band re-scan. */
  private def blockedMaskPairs(groups: DataFrame, threshold: Double): DataFrame = {
    val b = MaskPairBlocks
    // the join's cost is per-partition COMPUTE (Σm²/B² popcount
    // comparisons per block pair), invisible to AQE's size-based
    // coalescing — pin the parallelism explicitly so the session-level
    // advisory sizing (Sessions.perf) cannot serialize it
    val p = groups.sparkSession.sparkContext.defaultParallelism
    val blocks = groups.select(col("comp"), col("mask"),
      pmod(xxhash64(col("mask")), lit(b)).cast("int").as("blk"))
    val left = blocks.select(col("comp"), col("blk").as("u"),
      explode(expr(s"sequence(blk, ${b - 1})")).as("v"), col("mask").as("mask_a"))
      .repartition(p, col("comp"), col("u"), col("v"))
    val right = blocks.select(col("comp"),
      explode(expr(s"sequence(0, blk)")).as("u"), col("blk").as("v"),
      col("mask").as("mask_b"))
      .repartition(p, col("comp"), col("u"), col("v"))
    left.join(right, Seq("comp", "u", "v"))
      .filter(col("u") < col("v") || col("mask_a") < col("mask_b"))
      .select(col("comp"), col("mask_a"), col("mask_b"),
        maskJaccard(col("mask_a"), col("mask_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact candidate-volume cost of the banded plan: Σ_bucket C(c,2)
    * over the (comp, band, bv) buckets — ONE linear aggregate over the
    * banded projection (m·nBands rows), computed before committing to
    * a join strategy (guide §1/§3.1: pick the strategy deliberately,
    * from data, not estimates — the uniform-occupancy model is badly
    * wrong here because masks average ~0.7 density, collapsing band
    * values onto near-all-ones). */
  private def bandedPairCost(bands: DataFrame): Long = {
    val r = bands.groupBy("comp", "band", "bv").agg(count(lit(1)).as("c"))
      .agg(sum(expr("c * (c - 1) div 2"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Candidate pairs (columns `a`, `b`) scored on the full shingle
    * sets of `sh` by `score(sh_a, sh_b)`, kept at ≥ `t`; output =
    * (a, b, `name`). The division is set-size ints → one IEEE op →
    * oracle-exact. Callers order the final output. */
  private def verify(cand: DataFrame, sh: DataFrame, a: String, b: String,
      name: String, t: Double)(score: (Column, Column) => Column): DataFrame = {
    val sa = sh.select(col("doc_id").as(a), col("shingles").as("sh_a"))
    val sb = sh.select(col("doc_id").as(b), col("shingles").as("sh_b"))
    cand.join(sa, a).join(sb, b)
      .select(col(a), col(b), score(col("sh_a"), col("sh_b")).as(name))
      .filter(col(name) >= t)
  }

  /** Exact-Jaccard verification: (a, b, jaccard ≥ threshold). */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame, threshold: Double,
      a: String = "doc_a", b: String = "doc_b"): DataFrame =
    verify(cand, sh, a, b, "jaccard", threshold)((x, y) =>
      size(array_intersect(x, y)).cast("double") / size(array_union(x, y)))

  /** Exact-containment verification of (doc_sub, doc_super, …)
    * candidate rows: self pairs and repeats are dropped here, then
    * (doc_sub, doc_super, containment = |A∩B| / |A| ≥ τ). */
  private def verifyContainment(cand: DataFrame, sh: DataFrame, tau: Double): DataFrame =
    verify(cand.filter(col("doc_sub") =!= col("doc_super"))
        .select(col("doc_sub"), col("doc_super")).distinct(),
      sh, "doc_sub", "doc_super", "containment", tau)((x, y) =>
      size(array_intersect(x, y)).cast("double") / size(x))

  /** PPJoin prefix length of an n-element set at threshold t:
    * n − ⌊t·n⌋ + 1, for Jaccard and containment alike (a containment
    * prefix must allow ⌊(1−τ)n⌋ misses, which this bounds too). Not
    * n − ⌈t·n⌉ + 1, and never (1−t) in floating point: when t·n is an
    * exact integer (the J = t boundary pairs) the IEEE product rounds
    * a hair HIGH (0.9·20 → 18.000…04) and 1.0−0.9 a hair LOW, so either
    * form loses the one slot the pigeonhole guarantee needs. floor
    * costs at most one extra probe token; verification keeps output
    * exact. */
  private def prefixLen(n: Column, t: Double): Column = n - floor(n * lit(t)) + lit(1)

  /** Global document frequency (sh, df) of the shingles of `sh`. */
  private def docFreq(sh: DataFrame): DataFrame =
    sh.select(explode(col("shingles")).as("sh")).groupBy("sh").agg(count(lit(1)).as("df"))

  /** Each doc's shingles sorted by (df ASC, shingle ASC) under `dfreq`,
    * shingles `dfreq` lacks at df 0; `keep` columns ride along. Under
    * that one total order every PPJoin prefix is a slice
    * ([[prefixOf]]); prefix filtering is exact under ANY fixed total
    * order, so whose df it is (the corpus', the index side's, a stale
    * persisted one) tunes candidate volume, never the answer. */
  private def dfOrdered(sh: DataFrame, dfreq: DataFrame, keep: String*): DataFrame = {
    val by = ("doc_id" +: keep).map(col)
    sh.select(by :+ explode(col("shingles")).as("sh"): _*)
      .join(dfreq, Seq("sh"), "left")
      .na.fill(0L, Seq("df"))
      .groupBy(by: _*)
      .agg(expr("transform(array_sort(collect_list(struct(df, sh))), x -> x.sh)")
        .as("shingles"))
  }

  /** (`id`, sh) for the [[prefixLen]] first shingles of each
    * [[dfOrdered]] array. */
  private def prefixOf(sorted: DataFrame, t: Double, id: String): DataFrame =
    sorted.select(col("doc_id").as(id), explode(slice(col("shingles"), lit(1),
      prefixLen(size(col("shingles")), t).cast("int"))).as("sh"))

  /** (`id`, sh) for every shingle of each doc. */
  private def tokensOf(sh: DataFrame, id: String): DataFrame =
    sh.select(col("doc_id").as(id), explode(col("shingles")).as("sh"))

  /** PPJoin Jaccard self-join over [[dfOrdered]] arrays: two sets with
    * J ≥ t share a shingle in their prefixes, so candidates are the
    * prefix equi-join, verified on the full sets. */
  private def jaccardSelfPrefix(sorted: DataFrame, threshold: Double): DataFrame = {
    val prefix = prefixOf(sorted, threshold, "doc_id")
    val a = prefix.as("a"); val b = prefix.as("b")
    val cand = a.join(b, col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, sorted, threshold)
  }

  /** Cross-side PPJoin (see [[incrementalDedup]]): delta prefixes ×
    * index prefixes of [[dfOrdered]] arrays carrying `is_delta`;
    * output (doc_new, doc_old, jaccard). */
  private def jaccardCrossPrefix(sorted: DataFrame, threshold: Double): DataFrame = {
    val cand = prefixOf(sorted.filter(col("is_delta")), threshold, "doc_new")
      .join(prefixOf(sorted.filter(!col("is_delta")), threshold, "doc_old"), "sh")
      .select(col("doc_new"), col("doc_old")).distinct()
    verifyJaccard(cand, sorted, threshold, "doc_new", "doc_old")
  }

  /** PPJoin containment self-join over [[dfOrdered]] arrays (dd11's
    * asymmetric rule): the contained side's prefix against the
    * container side's FULL token list. */
  private def containSelfPrefix(sorted: DataFrame, tau: Double): DataFrame =
    verifyContainment(prefixOf(sorted, tau, "doc_sub")
      .join(tokensOf(sorted, "doc_super"), "sh"), sorted, tau)

  /** dd2: all-pairs n-gram Jaccard ≥ threshold, EXACT, via prefix
    * filtering (the PPJoin family): order every doc's shingles by
    * ascending global document frequency and keep only the first
    * n − ⌊t·n⌋ + 1 — two sets with Jaccard ≥ t MUST share a shingle in
    * those prefixes, so the candidate join runs on each doc's rarest
    * ~(1−t) fraction of shingles instead of the full inverted index
    * (where one ubiquitous token alone generates df² pairs — quadratic
    * in the corpus). Candidates are then verified on the full sets, so
    * the output is exactly the naive answer. */
  def ngramJaccard(docs: DataFrame, n: Int, threshold: Double,
      tokensExpr: String = AsciiTokensExpr): DataFrame =
    sortedBy(ngramJaccardPairs(docs, n, threshold, tokensExpr),
      col("doc_a"), col("doc_b"))

  /** ngramJaccard without the output-presentation sort — the
    * composition entry point: dupGroups/dd7 consume the pairs as an
    * edge set, where a global range-partition + sort is pure waste. */
  private[graft] def ngramJaccardPairs(docs: DataFrame, n: Int, threshold: Double,
      tokensExpr: String = AsciiTokensExpr): DataFrame = {
    val sh = withShingles(docs, n, tokensExpr).cache()
    smallVocabMasks(sh) match {
      case Some(masks) => jaccardByMask(masks, threshold)
      case None        => jaccardSelfPrefix(dfOrdered(sh, docFreq(sh)), threshold)
    }
  }

  /** Small-vocab exact all-pairs: docs collapse to their distinct
    * (component, bitmask) first (identical sets are interchangeable;
    * identical-mask pairs are jaccard exactly 1.0 with no comparison
    * at all), and the distinct masks are pair-generated by a Hamming
    * band equi-join, NOT an m×m nested loop: jaccard(A,B) ≥ t bounds
    * the symmetric difference |A Δ B| = |A∪B|·(1−J) ≤ 64·(1−t) bits,
    * so splitting the 64-bit mask into ⌊64(1−t)⌋+1 bit-ranges
    * guarantees (pigeonhole) every qualifying pair agrees EXACTLY on
    * at least one full band. The component id is part of every join
    * key, so disjoint sub-vocabularies never collide — without it,
    * all-zero band slices would pair every doc against every doc of
    * every OTHER component (r² in the replica count).
    * Candidates are popcount-verified, so output = the exact answer
    * while the join stays an equi-join on (comp, band, band-bits) —
    * the same sub-quadratic shape as the LSH paths, but with zero
    * misses. Work is per-bucket; m = |distinct masks| never squares. */
  private def jaccardByMask(masksIn: DataFrame, threshold: Double): DataFrame = {
    val masks = masksIn.cache()
    val groups = masks.groupBy("comp", "mask")
      .agg(collect_list(col("doc_id")).as("ids")).cache()
    // identical sets: jaccard exactly 1.0, all intra-group pairs
    val intra = groups.select(explode(col("ids")).as("da"), col("ids"))
      .select(col("da"), explode(col("ids")).as("db"))
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), lit(1.0).as("jaccard"))
    // Distinct-mask pairs: Hamming pigeonhole banding over the
    // OCCUPIED bit span, or the blocked all-pairs fallback when the
    // measured banded candidate volume is worse (round 15 — guide
    // §1.1/§2.5: the cost probe is two bounded aggregates over the
    // cached distinct-mask relation, and it picked blocked for every
    // τ ∈ {0.7, 0.8, 0.9} on the 31-bit sf0.1 dictionary, where the
    // 64-bit banding produced 25–96 M raw candidates vs C(m,2)=7.7 M).
    // Occupancy geometry + blocked cost come from ONE per-component
    // aggregate (≤ MaxCompVocab rows — driver-bounded): the OR of
    // distinct masks equals the OR of all masks (idempotent), so no
    // separate occupiedBits pass is needed.
    val maskPairs = maskPairsOf(groups, threshold)
    val ga = groups.select(col("comp"), col("mask").as("mask_a"), col("ids").as("ids_a"))
    val gb = groups.select(col("comp"), col("mask").as("mask_b"), col("ids").as("ids_b"))
    val cross = maskPairs.join(ga, Seq("comp", "mask_a")).join(gb, Seq("comp", "mask_b"))
      .select(explode(col("ids_a")).as("da"), col("ids_b"), col("jaccard"))
      .select(col("da"), explode(col("ids_b")).as("db"), col("jaccard"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    intra.union(cross)
  }

  /** Qualifying DISTINCT-MASK pairs (comp, mask_a, mask_b, jaccard ≥
    * threshold) for any frame with one row per (comp, mask) — the
    * shared pair engine of jaccardByMask and the mask-level
    * threshold-curve fold (round 16 refactor; extra columns on
    * `groups` ride along untouched). Strategy dispatch per the
    * measured cost probe: Hamming pigeonhole banding over the OCCUPIED
    * bit span, or the blocked triangular all-pairs fallback when the
    * banded candidate volume is worse. */
  private def maskPairsOf(groups: DataFrame, threshold: Double): DataFrame = {
    // Occupancy geometry + blocked cost come from ONE per-component
    // aggregate (≤ MaxCompVocab rows — driver-bounded): the OR of
    // distinct masks equals the OR of all masks (idempotent), so no
    // separate occupiedBits pass is needed.
    val stats = groups.groupBy("comp")
      .agg(count(lit(1)).as("m"), bit_or(col("mask")).as("orm")).collect()
    val orAll = stats.foldLeft(0L)((a, r) => a | r.getAs[Long]("orm"))
    val (span, pop) =
      if (orAll == 0L) (1, 1)
      else (64 - java.lang.Long.numberOfLeadingZeros(orAll),
        java.lang.Long.bitCount(orAll))
    val blockedCost = stats.foldLeft(0L) { (a, r) =>
      val m = r.getAs[Long]("m"); a + m * (m - 1) / 2
    }
    val bandCols = hammingBandCols(threshold, span, pop)
    val bands = groups.select(col("comp"), col("mask"), explode(array(bandCols: _*)).as("b"))
      .select(col("comp"), col("mask"), col("b.band").as("band"), col("b.bv").as("bv"))
    if (blockedCost <= bandedPairCost(bands))
      blockedMaskPairs(groups, threshold)
    else {
      // same compute-parallelism pin as blockedMaskPairs
      val p = groups.sparkSession.sparkContext.defaultParallelism
      val bp = bands.repartition(p, col("comp"), col("band"), col("bv"))
      val x = bp.as("x"); val y = bp.as("y")
      x.join(y,
          col("x.comp") === col("y.comp") &&
            col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
            col("x.mask") < col("y.mask"))
        .select(col("x.comp").as("comp"),
          col("x.mask").as("mask_a"), col("y.mask").as("mask_b"),
          maskJaccard(col("x.mask"), col("y.mask")).as("jaccard"))
        // filter BEFORE distinct so the dedup shuffle carries only
        // qualifying mask pairs, not the full band-join output
        .filter(col("jaccard") >= threshold)
        .distinct()
    }
  }

  /** Threshold-curve statistics — (tau, n_pairs, n_docs_with_dup) for
    * each τ in `taus`, exact, over a shingle index (round 16, dd16's
    * engine). The mask path folds at the MASK level and never
    * materializes a doc pair: with group sizes g_i,
    *   n_pairs(τ) = Σ_{(i,j): J_ij ≥ τ} g_i·g_j + Σ_{g_i ≥ 2} C(g_i,2)
    * (identical-mask pairs are J = 1.0 ≥ every τ ≤ 1), and a doc has a
    * dup at τ iff its group has a twin (g ≥ 2) or its mask's best
    * qualifying partner reaches τ, so
    *   n_docs_with_dup(τ) = Σ_{i: g_i ≥ 2 ∨ Jmax_i ≥ τ} g_i.
    * Replaces dd16's doc-pair explode + per-doc fold, which expanded
    * the τ_min candidate set to 2.01 M doc pairs × 2 docs × ≤3 τ rows
    * before aggregating (measured 11.6 s executor CPU → the mask fold
    * is bounded by qualifying MASK pairs). The fold consumes the
    * mask-pair relation EXACTLY ONCE (the candidate join is the
    * expensive subplan; a second reference would re-execute it):
    * every qualifying pair explodes to its two member masks carrying
    * np = g_a·g_b (so Σnp per τ double-counts pairs — exact, divides
    * back by 2), unioned with one row per τ for every g ≥ 2 group
    * carrying np = g·(g−1) (identical masks: J = 1.0 ≥ every τ ≤ 1),
    * then folds (comp, mask, τ) → τ. A mask qualifies a doc at τ iff
    * it has a row at τ, so n_docs_with_dup = Σ g over present masks.
    * Counts are exact integers; the large-vocab path keeps the
    * doc-pair fold (pair volume is intrinsic there). τ points the
    * corpus never reaches simply have no output row — the caller
    * restores zeros. */
  def thresholdCurveStats(spark: org.apache.spark.sql.SparkSession,
      path: String, taus: Seq[Double]): DataFrame = {
    val tmin = taus.min
    if (graft.LayoutStore.exists(spark, s"$path/masks")) {
      val g = graft.Tables.parquet(spark, s"$path/masks")
        .groupBy("comp", "mask").agg(count(lit(1)).as("g")).cache()
      val sided = maskPairsOf(g, tmin)
        .join(g.select(col("comp"), col("mask").as("mask_a"), col("g").as("ga")),
          Seq("comp", "mask_a"))
        .join(g.select(col("comp"), col("mask").as("mask_b"), col("g").as("gb")),
          Seq("comp", "mask_b"))
        .select(col("comp"), col("jaccard"), (col("ga") * col("gb")).as("np"),
          explode(array(struct(col("mask_a").as("mask"), col("ga").as("gs")),
            struct(col("mask_b").as("mask"), col("gb").as("gs")))).as("s"))
        .select(col("comp"), col("s.mask").as("mask"), col("s.gs").as("g"),
          col("np"),
          explode(filter(array(taus.map(lit): _*),
            t => col("jaccard") >= t)).as("tau"))
      val twins = g.filter(col("g") >= 2)
        .select(col("comp"), col("mask"), col("g"),
          (col("g") * (col("g") - 1)).as("np"),
          explode(array(taus.map(lit): _*)).as("tau"))
      sided.select("comp", "mask", "g", "np", "tau")
        .unionAll(twins.select("comp", "mask", "g", "np", "tau"))
        .groupBy(col("comp"), col("mask"), col("tau"))
        .agg(sum(col("np")).as("np"), max(col("g")).as("g"))
        .groupBy(col("tau"))
        .agg(expr("sum(np) div 2").as("n_pairs"),
          sum(col("g")).as("n_docs_with_dup"))
    } else {
      ngramJaccardProbePairs(spark, path, tmin)
        .select(col("jaccard"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
        .select(col("doc"),
          explode(filter(array(taus.map(lit): _*), t => col("jaccard") >= t)).as("tau"))
        .groupBy(col("tau"), col("doc")).agg(count(lit(1)).as("c"))
        .groupBy(col("tau"))
        .agg(count(lit(1)).as("n_docs_with_dup"),
          expr("CAST(sum(c) / 2 AS BIGINT)").as("n_pairs"))
        .select(col("tau"), col("n_pairs"), col("n_docs_with_dup"))
    }
  }

  /** Materialized shingle index (round 7) — the corpus-static stage of
    * dd2/dd3, written once per corpus version and probed per run: the
    * last per-run recomputation in the dedup family now that groups/
    * ANN/graph all ride write-once indexes. Layout under `path`:
    *   sh/    — (doc_id, shingles) with each doc's distinct shingles
    *            sorted by (GLOBAL df ASC, shingle ASC): under that
    *            total order the PPJoin prefix for ANY threshold t is
    *            just slice(shingles, 1, n − ⌊t·n⌋ + 1) — the probe
    *            needs no df table, no join, no window. One index
    *            serves every threshold (prefix filtering is correct
    *            under any fixed global order — the same argument as
    *            dd9's index-side-df ordering).
    *   masks/ — (doc_id, comp, mask), present iff the vocabulary
    *            probe admitted the exact-bitmask path at build time;
    *            probes then run the popcount pair machinery with zero
    *            per-run encoding work.
    * Probes dispatch on which representation was materialized, so the
    * inline operators' adaptive behavior is preserved exactly. */
  def shingleWriteIndex(docs: DataFrame, n: Int, path: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = withShingles(docs, n).cache()
    // the component dictionary is PERSISTED beside the masks (round 8):
    // it is the trained state a delta append re-encodes against, the
    // IVF-centroid analogue for the bitmap representation
    smallVocabDict(sh).foreach { dict =>
      encodeWithDict(sh, dict).write.mode("overwrite").parquet(s"$path/masks")
      dict.toDF("sh", "comp", "bit")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/dict")
    }
    val dfreq = docFreq(sh)
    // df stats are PERSISTED (round 8): the total order the arrays were
    // sorted under, so delta appends can sort their docs under the SAME
    // order (prefix filtering is correct under any fixed global order —
    // dd9's index-side-df argument)
    dfreq.write.mode("overwrite").parquet(s"$path/df")
    dfOrdered(sh, dfreq).write.mode("overwrite").parquet(s"$path/sh")
    sh.unpersist(); ()
  }

  /** Append a delta batch to a materialized shingle index WITHOUT
    * rebuilding the base (round 8 — VERDICT r7 #1): per-ingest cost is
    * O(|delta| shingles), never O(corpus).
    *
    * Array representation: the delta's per-doc arrays are sorted under
    * the INDEX-SIDE df order (unseen shingles → df 0, ties by shingle
    * — one well-defined total order over the union vocabulary, shared
    * by every base array and every append batch since df/ is never
    * mutated). Prefix filtering is exact under ANY fixed global order,
    * so probes over base ⊕ delta return EXACTLY the full-corpus
    * answer; what staleness costs is prefix SELECTIVITY (a once-rare
    * shingle arriving en masse still sorts early), degrading probe
    * cost, never correctness — the full rebuild on corpus refresh
    * re-derives the stats.
    *
    * Mask representation (present iff the build admitted it): delta
    * docs are re-encoded against the persisted component dictionary.
    * That is sound only while every delta doc's shingles are KNOWN and
    * lie in ONE component — a doc with novel vocabulary cannot be
    * represented, and one bridging two components would break the
    * pairs-never-cross-components invariant the band join relies on.
    * Either case DEMOTES the layout: masks/ + dict/ are deleted and
    * every probe dispatches to the always-present array path — exact
    * answers either way, the representation is only a fast path. */
  def shingleAppendDelta(deltaDocs: DataFrame, n: Int, path: String): Unit = {
    val spark = deltaDocs.sparkSession
    val sh = withShingles(deltaDocs, n).cache()
    dfOrdered(sh, graft.Tables.parquet(spark, s"$path/df"))
      .write.mode("append").parquet(s"$path/sh")
    if (graft.LayoutStore.exists(spark, s"$path/masks"))
      encodeDelta(sh, graft.Tables.parquet(spark, s"$path/dict")) match {
        case None =>
          graft.LayoutStore.delete(spark, s"$path/masks")
          graft.LayoutStore.delete(spark, s"$path/dict")
        case Some(enc) =>
          enc.select(col("doc_id"), col("comp"), col("mask"))
            .write.mode("append").parquet(s"$path/masks")
          enc.unpersist()
      }
    sh.unpersist(); ()
  }

  /** A delta's shingle sets encoded against a persisted component
    * dictionary: Some(cached (doc_id, comp, mask, …) rows, which the
    * caller unpersists), or None — demoted — when some delta doc has a
    * shingle the dictionary lacks or spans two components
    * ([[shingleAppendDelta]]'s soundness condition). */
  private def encodeDelta(sh: DataFrame, dict: DataFrame): Option[DataFrame] = {
    val enc = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
      .join(broadcast(dict), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("comp")).as("n_known"),
        countDistinct(col("comp")).as("n_comps"),
        min(col("comp")).as("comp"),
        bit_or(expr("shiftleft(CAST(1 AS BIGINT), bit)")).as("mask"))
      .cache()
    val demote = enc
      .filter(col("n_known") < col("n_sh") || col("n_comps") > 1)
      .limit(1).count() > 0
    if (demote) { enc.unpersist(); None } else Some(enc)
  }

  /** dd2 probing a pre-built shingle index: candidates come straight
    * off the stored representation (mask banding, or prefix-by-slice
    * over the df-sorted arrays); output ≡ inline ngramJaccard
    * (DedupSpec pins both paths). */
  def ngramJaccardProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      threshold: Double): DataFrame =
    sortedBy(ngramJaccardProbePairs(spark, path, threshold),
      col("doc_a"), col("doc_b"))

  /** The probe WITHOUT the output-presentation sort — the composition
    * entry point (dd16 aggregates the pairs per threshold, where a
    * global range-partition + sort would be pure waste;
    * ngramJaccardPairs' rationale on the index path). */
  private[graft] def ngramJaccardProbePairs(spark: org.apache.spark.sql.SparkSession,
      path: String, threshold: Double): DataFrame =
    if (graft.LayoutStore.exists(spark, s"$path/masks"))
      jaccardByMask(graft.Tables.parquet(spark, s"$path/masks"), threshold)
    else jaccardSelfPrefix(graft.Tables.parquet(spark, s"$path/sh"), threshold)

  /** dd3 probing the same index — the mask path is shared with dd2
    * (tiny vocabularies make exact popcounts strictly dominate LSH,
    * see minhashLsh); the large-vocab path runs MinHash/LSH off the
    * stored arrays, skipping tokenize + distinct. */
  def minhashLshProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      threshold: Double): DataFrame = {
    val pairs =
      if (graft.LayoutStore.exists(spark, s"$path/masks"))
        jaccardByMask(graft.Tables.parquet(spark, s"$path/masks"), threshold)
      else minhashLshPath(graft.Tables.parquet(spark, s"$path/sh"), threshold)
    sortedBy(pairs, col("doc_a"), col("doc_b"))
  }

  /** dd11 probing the shingle index (round 7 — dd11 was the last
    * inline tokenizer among the top bench singles): mask
    * representation → the popcount containment machinery directly;
    * array representation → [[containSelfPrefix]] on the stored
    * df-ordered arrays. */
  def containmentProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      tau: Double): DataFrame =
    sortedBy(containmentProbePairs(spark, path, tau),
      col("doc_sub"), col("doc_super"))

  /** The probe WITHOUT the presentation sort — what the contain-index
    * BUILD consumes (round 15: the index dump was paying a global sort
    * dd11 re-does on every read anyway). */
  private[graft] def containmentProbePairs(spark: org.apache.spark.sql.SparkSession,
      path: String, tau: Double): DataFrame =
    if (graft.LayoutStore.exists(spark, s"$path/masks"))
      containmentByMask(graft.Tables.parquet(spark, s"$path/masks"), tau)
    else containSelfPrefix(graft.Tables.parquet(spark, s"$path/sh"), tau)

  /** Materialized containment index: the full containment-pair set
    * (probed off a shingle index) plus the CC labeling over the
    * undirected containment graph — the layout dd11/dd13 read (one
    * parquet scan per query; the prefix-filtered candidate derivation
    * and the iterative CC run once per corpus version). `pairs/` holds
    * (doc_sub, doc_super, containment); `labels/` holds the
    * dupGroupsWriteIndex (doc_id, group_id) rows. */
  def containWriteIndex(spark: org.apache.spark.sql.SparkSession,
      shinglePath: String, docs: DataFrame, path: String, tau: Double): Unit = {
    // Parallelism floor on the pair dump (round 15): dd11 re-sorts the
    // ~1 M-row pair scan per query; a size-coalesced single-file
    // layout serializes that scan+sort (0.7 → 6.8 s wall measured).
    // defaultParallelism scales with the cluster — no-op at 100 TB.
    // Round 16: the dump is written RANGE-partitioned and SORTED by
    // dd11's presentation key (guide §6 "sort order on write
    // determines how well readers can skip/consume"). dd11's per-query
    // global sort is this layout's only consumer-side cost, and its
    // reduce side is a TimSort whose comparison count collapses when
    // the input arrives as pre-sorted runs (measured: 12.7 s → ~4 s
    // executor CPU on the 8.28 M-row sf0.1 dump). Sorting once at
    // build time is the amortized-infrastructure trade every other
    // layout here already makes. localCheckpoint first: BOTH the range
    // sampling pass and the write would otherwise re-run the whole
    // prefix-filter candidate probe (the sortedBy lesson).
    val pr = containmentProbePairs(spark, shinglePath, tau).localCheckpoint(false)
    pr.repartitionByRange(spark.sparkContext.defaultParallelism,
        col("doc_sub"), col("doc_super"))
      .sortWithinPartitions(col("doc_sub"), col("doc_super"))
      .write.mode("overwrite").parquet(s"$path/pairs")
    // labels read the JUST-WRITTEN pairs — the propagation loop's
    // per-round lineage then starts from a parquet scan, not the
    // whole candidate-probe plan
    dupGroupsWriteIndex(docs,
      graft.Tables.parquet(spark, s"$path/pairs")
        .select(col("doc_sub").as("doc_a"), col("doc_super").as("doc_b")),
      s"$path/labels")
  }

  /** Cross-side small-vocab containment: [[containmentByMask]]'s
    * signature-level machinery with both candidate arms restricted to
    * DELTA-TOUCHED mask groups (a group is touched when any of its
    * docs is delta) — touched-prefix × full and full-prefix ×
    * touched-full — then the expansion filtered to pairs with a delta
    * ENDPOINT (a touched group also holds standing ids whose
    * standing×standing pairs are already in the base index).
    * Signature-level restriction is what keeps the append delta-cheap
    * in exactly the regime the prefix path degenerates (a tiny shared
    * vocabulary makes every "rare" token common — the smallVocabMasks
    * rationale; measured: the array path cost 8× the mask REBUILD on
    * the sf0.1 corpus before this arm existed). */
  private def containmentByMaskCross(masksIn: DataFrame, tau: Double): DataFrame = {
    val m = masksIn.cache()
    val dIds = m.filter(col("is_delta")).select(col("doc_id")).distinct()
    val groups = m.groupBy("comp", "mask")
      .agg(collect_list(col("doc_id")).as("ids"),
        max(col("is_delta")).as("touched")).cache()
    // intra-mask: identical sets, ordered containment 1.0 both ways
    // around each delta member
    val intra = m.filter(col("is_delta"))
      .select(col("comp"), col("mask"), col("doc_id").as("d_id"))
      .join(groups, Seq("comp", "mask"))
      .select(col("d_id"), explode(col("ids")).as("o_id"))
      .filter(col("d_id") =!= col("o_id"))
    val intraPairs = intra
      .select(col("d_id").as("doc_sub"), col("o_id").as("doc_super"))
      .unionByName(intra.select(col("o_id").as("doc_sub"), col("d_id").as("doc_super")))
      .distinct()
      .withColumn("containment", lit(1.0))
    val (bits, pfx) = maskBitPrefix(groups, tau, "touched")
    val sub = pfx.select(col("comp"), col("mask").as("mask_sub"),
      col("touched").as("sub_t"), col("bit"))
    val full = bits.select(col("comp"), col("mask").as("mask_sup"),
      col("touched").as("sup_t"), col("bit"))
    val cand = sub.filter(col("sub_t")).join(full, Seq("comp", "bit"))
      .unionByName(sub.filter(!col("sub_t"))
        .join(full.filter(col("sup_t")), Seq("comp", "bit")))
    val cross = maskContainPairs(cand, groups, tau)
      // delta-endpoint filter: the delta id set is batch-sized —
      // broadcast flags, never a shuffle of the expansion
      .join(broadcast(dIds.select(col("doc_id").as("doc_sub"),
        lit(true).as("sub_d"))), Seq("doc_sub"), "left")
      .join(broadcast(dIds.select(col("doc_id").as("doc_super"),
        lit(true).as("sup_d"))), Seq("doc_super"), "left")
      .filter(col("sub_d").isNotNull || col("sup_d").isNotNull)
      .select(col("doc_sub"), col("doc_super"), col("containment"))
    intraPairs.unionByName(cross)
  }

  /** Containment pairs with at least one DELTA endpoint — the
    * incremental sibling of [[containSelfPrefix]]. Three pair
    * classes, two candidate arms, both delta-bounded in OUTPUT:
    * delta-contained-in-anything (delta prefixes × the full inverted
    * index — O(|delta_pfx| · df) candidates, incrementalDedup's
    * argument) and standing-contained-in-delta (standing prefixes ×
    * the DELTA's full index — the equi-join's key set is the delta's
    * vocabulary, so only standing prefix rows sharing a delta shingle
    * survive; the standing-side scan is corpus-linear but narrow, the
    * shuffle/verify volume is delta-bounded). Delta×delta pairs ride
    * the first arm. Verification is exact, so the result equals the
    * full rebuild's pairs restricted to delta-touching rows under ANY
    * array order — order only tunes candidate volume. */
  private def containIngestPairs(standSh: DataFrame, deltaSh: DataFrame,
      tau: Double): DataFrame = {
    val all = standSh.unionByName(deltaSh)
    val cand = prefixOf(deltaSh, tau, "doc_sub").join(tokensOf(all, "doc_super"), "sh")
      .unionByName(prefixOf(standSh, tau, "doc_sub").join(tokensOf(deltaSh, "doc_super"), "sh"))
    verifyContainment(cand, all, tau)
  }

  /** Append a delta batch to a materialized containment index WITHOUT
    * rebuilding the base (round 15 — VERDICT r14 #6: `contain` was the
    * board's largest whole-rebuild-on-refresh, 173 s at x30): pair
    * generation is restricted to delta-touching candidates
    * ([[containIngestPairs]]), and the CC labels update by dd10's
    * contraction — new edges are mapped through the standing labels,
    * union-find runs on the contracted (delta-sized) graph, and only
    * the narrow (doc_id, group_id) relation is rewritten, never the
    * candidate probe.
    *
    * Append ≡ rebuild: appended pairs ∪ base pairs = the full-corpus
    * pair set (exact verification, see containIngestPairs), and the
    * relabeling reaches the same min-doc_id fixed point as a fresh CC
    * over the union graph (a merged group's label is the min over its
    * parts' labels; DedupSpec pins both equalities).
    *
    * IDEMPOTENT under crash-and-rerun (the dupSpansAppendDelta
    * protocol): content-hash batch id (or the caller's), `_batch_<id>`
    * marker honored (legacy sum-derived ids included), partial pair
    * files of THIS batch swept before recompute, everything staged
    * then published — pairs by per-file renames under the batch
    * prefix, labels by a next→swap whose orphan (a crash between the
    * two renames) is adopted by the recovery preamble — marker LAST.
    * A re-run AFTER the labels swap converges to the same state: the
    * recomputed edges map through the already-merged labels and the
    * contraction is a fixed point. Single writer per index generation
    * (the family contract).
    *
    * `shinglePath` is the corpus shingle index the base build probed;
    * the delta's arrays are sorted under ITS df order
    * (shingleAppendDelta's contract — df/ is never mutated) and its
    * doc_ids are anti-joined out of the standing side, so the call is
    * correct whether or not shingleAppendDelta already ingested the
    * same batch. */
  def containAppendDelta(deltaDocs: DataFrame, n: Int, shinglePath: String,
      path: String, tau: Double, batchIdOpt: Option[String] = None): Unit = {
    val spark = deltaDocs.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val labelsDir = new org.apache.hadoop.fs.Path(root, "labels")
    val (batchId, legacyIds) = batchIds(deltaDocs, batchIdOpt)
    graft.LayoutStore.commitBatch(spark, path, batchId, legacyIds, Seq("pairs"))(
      stage = { stage =>
        // recovery preamble: adopt a labels generation orphaned by a
        // crash inside a previous publish window (old labels deleted,
        // next not yet renamed); stray next dirs beside live labels
        // are stale
        fs.listStatus(root)
          .filter(_.getPath.getName.startsWith("labels.next-"))
          .foreach { s =>
            if (!fs.exists(labelsDir)) {
              if (!fs.rename(s.getPath, labelsDir))
                throw new IllegalStateException(
                  s"containAppendDelta: orphan adoption rename failed for ${s.getPath}")
            } else fs.delete(s.getPath, true)
          }
        containStage(deltaDocs, n, shinglePath, path, tau, stage)
      },
      // labels by next→swap after the pair files (the preamble covers
      // the gap), before the marker
      beforeMarker = { stage =>
        val next = new org.apache.hadoop.fs.Path(root, s"labels.next-$batchId")
        if (!fs.rename(new org.apache.hadoop.fs.Path(stage, "labels"), next))
          throw new IllegalStateException(
            s"containAppendDelta: labels stage rename failed")
        fs.delete(labelsDir, true)
        if (!fs.rename(next, labelsDir))
          throw new IllegalStateException(
            s"containAppendDelta: labels swap rename failed")
      })
  }

  /** [[containAppendDelta]]'s batch computation: writes the batch's
    * new pairs to `<stage>/pairs` and the full relabeling to
    * `<stage>/labels`. */
  private def containStage(deltaDocs: DataFrame, n: Int, shinglePath: String,
      path: String, tau: Double, stage: String): Unit = {
    val spark = deltaDocs.sparkSession
    // delta arrays under the index-side df order
    val deltaSh = dfOrdered(withShingles(deltaDocs, n),
      graft.Tables.parquet(spark, s"$shinglePath/df")).cache()
    // ALL delta ids, not just shingled ones: a token-less delta doc
    // contributes no pairs but must still get its singleton labels row
    // (the rebuild labels every document)
    val deltaIds = deltaDocs.select(col("doc_id")).distinct()
    // representation dispatch, mirroring the probes: when the shingle
    // index admitted the mask representation, the cross-side mask path
    // is the ONLY delta-cheap one (the prefix path's "rare" tokens are
    // all common in exactly that small-vocab regime); a delta doc with
    // novel vocabulary or bridging components can't be mask-encoded,
    // so that batch falls back to the always-exact array path (the
    // shingle index's own append is what demotes masks/ — this append
    // does not mutate a layout it doesn't own)
    val maskEnc =
      if (!graft.LayoutStore.exists(spark, s"$shinglePath/masks")) None
      else encodeDelta(deltaSh, graft.Tables.parquet(spark, s"$shinglePath/dict"))
    val pairs = maskEnc match {
      case Some(enc) =>
        val standMasks = graft.Tables.parquet(spark, s"$shinglePath/masks")
          .join(deltaIds, Seq("doc_id"), "left_anti")
          .withColumn("is_delta", lit(false))
        val deltaMasks = enc.select(col("doc_id"), col("comp"), col("mask"))
          .withColumn("is_delta", lit(true))
        containmentByMaskCross(standMasks.unionByName(deltaMasks), tau)
      case None =>
        containIngestPairs(graft.Tables.parquet(spark, s"$shinglePath/sh")
          .join(deltaIds, Seq("doc_id"), "left_anti"), deltaSh, tau)
    }
    pairs.write.mode("overwrite").parquet(s"$stage/pairs")
    maskEnc.foreach(_.unpersist())
    // relabel via contraction: standing endpoints collapse to their
    // group labels, so the union-find graph is delta-sized
    val np = graft.Tables.parquet(spark, s"$stage/pairs")
    val baseLabels = graft.Tables.parquet(spark, s"$path/labels")
    val edges = np
      .join(baseLabels.select(col("doc_id").as("doc_sub"), col("group_id").as("g_a")),
        Seq("doc_sub"), "left")
      .join(baseLabels.select(col("doc_id").as("doc_super"), col("group_id").as("g_b")),
        Seq("doc_super"), "left")
      .select(coalesce(col("g_a"), col("doc_sub")).as("doc_a"),
        coalesce(col("g_b"), col("doc_super")).as("doc_b"))
      .snapshot()
    val nodes = deltaIds
      .union(baseLabels.select(col("group_id").as("doc_id"))).distinct()
    val (contracted, labelSnap) =
      if (edges.limit(DsuMaxEdges + 1).count() <= DsuMaxEdges) (dsuLabels(nodes, edges), None)
      else { val (l, snap) = propagateLabels(nodes, edges); (l, Some(snap)) }
    val deltaOut = deltaIds.join(contracted, "doc_id")
    // exclude delta ids from the standing side: after a crash between
    // the labels swap and the marker, the re-read base ALREADY holds
    // them, and the union below must stay one-row-per-doc
    val standOut = baseLabels.join(deltaIds, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("group_id").as("g_old"))
      .join(contracted.select(col("doc_id").as("g_old"), col("group_id")), "g_old")
      .select(col("doc_id"), col("group_id"))
    deltaOut.unionByName(standOut)
      .repartition(col("group_id")).sortWithinPartitions(col("group_id"))
      .write.mode("overwrite").parquet(s"$stage/labels")
    labelSnap.foreach(graft.Snapshots.free)
    graft.Snapshots.free(edges)
    deltaSh.unpersist(); ()
  }

  /** dd11: containment (near-superset) pairs — the ASYMMETRIC dedup
    * relation Jaccard misses: C(A,B) = |A∩B| / |A| ≥ τ says A is
    * (nearly) embedded in B, even when B is far larger — quoted
    * articles, boilerplate-wrapped reposts, documents concatenated
    * into digests. A 50-token post pasted into a 5000-token page has
    * Jaccard ≈ 0.01 (invisible to dd2/dd3) but containment 1.0.
    *
    * Same adaptive two-path shape as dd2, with the prefix rule changed
    * for asymmetry: A may miss at most ⌊(1−τ)·|A|⌋ of its own tokens,
    * so a prefix of A's |A| − ⌊τ·|A|⌋ + 1 ([[prefixLen]]) globally-
    * rarest tokens must hit B
    * — but B can be missed NOWHERE, so the container side is indexed
    * on ALL its tokens, not a prefix. Candidate volume is therefore
    * Σ_token pfx(token)·df(token) — linear in the container index like
    * every inverted-index join, kept sane by df-ascending prefix
    * selection; it never squares in the corpus. Verification divides
    * by |A| only ⇒ output is the exact containment answer, ordered
    * (doc_sub, doc_super) — both directions scored independently, so
    * A⊂B and B⊃A are distinct rows only when each passes its own
    * threshold (equal sets pass both). */
  def containment(docs: DataFrame, n: Int, tau: Double): DataFrame = {
    val sh = withShingles(docs, n).cache()
    val pairs = smallVocabMasks(sh) match {
      case Some(masks) => containmentByMask(masks, tau)
      case None        => containSelfPrefix(dfOrdered(sh, docFreq(sh)), tau)
    }
    sortedBy(pairs, col("doc_sub"), col("doc_super"))
  }

  /** dd13: per-document containment VERDICT — the O(docs) signal a
    * curation pipeline actually consumes (round 8 — VERDICT r7 #5:
    * dd11's pair set is the INTERMEDIATE, 248 M rows at x30; the
    * consumable stage is one row per document). Per doc: its
    * wrap-GROUP id (connected component over the containment graph
    * viewed undirected — min-reachable-doc_id labels, dd6's exact
    * algebra, so groups compose with the canonical/incremental
    * machinery), its containment degrees (n_contains = docs it
    * contains at ≥ τ, n_contained_in = docs containing it), and
    * is_canonical — the member a curator KEEPS per wrap group: fewest
    * containers first (the outermost wrapper — a quote chain's root
    * page, not the quoted post), ties to lowest doc_id; singletons
    * are trivially canonical.
    *
    * Scale: degrees are ONE partial-agg'd shuffle over the pair set
    * (both directions tagged map-side before the union); grouping is
    * the same edge-touching propagation dd6 amortizes; the verdict
    * join + rank are O(docs) with the rank window partitioned by
    * group (no global order). The pair set itself comes from the
    * prefix-filtered probe — never all-pairs. */
  def containmentGroups(docs: DataFrame, pairs: DataFrame): DataFrame = {
    // snap the candidate plan once: it feeds the degree union (two
    // scans) AND the propagation loop (dupGroupLabels would re-run
    // the whole prefix join per round through lineage otherwise)
    val p = pairs.select(col("doc_sub"), col("doc_super")).snapshot()
    containmentVerdictFrom(p, dupGroupLabels(docs,
      p.select(col("doc_sub").as("doc_a"), col("doc_super").as("doc_b"))))
  }

  /** [[containmentGroups]] with the CC labeling supplied from a
    * MATERIALIZED dup-groups index built over the containment graph
    * (dupGroupsWriteIndex on the doc_sub/doc_super edges) — the
    * amortized shape the registry probes: the iterative propagation
    * is the expensive stage and is per-corpus infrastructure like
    * dd6/dd7's, so per-query cost drops to the pair probe + ONE
    * degree shuffle + an O(docs) verdict join. Probe ≡ inline
    * spec-pinned (DedupSpec). */
  def containmentVerdict(pairs: DataFrame, labels: DataFrame): DataFrame =
    containmentVerdictFrom(pairs.select(col("doc_sub"), col("doc_super")), labels)

  private def containmentVerdictFrom(p: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Degrees in ONE pass over the pair set: each pair explodes into
    // its two tagged endpoints MAP-SIDE and partial aggregation
    // collapses them before the shuffle, so the exchange carries
    // O(docs) rows however many pairs went in. (A union of two selects
    // would plan TWO scans — two full candidate-probe evaluations —
    // and checkpointing the pairs to avoid that would materialize the
    // 248 M-row x30 pair set in executor storage; the first cut did
    // exactly that and x10 cost 51 s vs dd11's 14 s probe.)
    val degrees = p
      .select(explode(array(
        struct(col("doc_sub").as("doc_id"), lit(1L).as("sub"), lit(0L).as("sup")),
        struct(col("doc_super").as("doc_id"), lit(0L).as("sub"), lit(1L).as("sup")))).as("e"))
      .groupBy(col("e.doc_id").as("doc_id"))
      .agg(sum(col("e.sub")).as("n_contained_in"), sum(col("e.sup")).as("n_contains"))
    val w = Window.partitionBy(col("group_id"))
      .orderBy(col("n_contained_in"), col("doc_id"))
    labels.join(degrees, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_contained_in", "n_contains"))
      .withColumn("is_canonical", row_number().over(w) === 1)
      .select(col("doc_id"), col("group_id"), col("n_contains"),
        col("n_contained_in"), col("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Small-vocab containment: collapse to distinct (comp, mask) —
    * identical sets are interchangeable, so ordered pairs inside one
    * mask group are containment exactly 1.0 — then probe each mask's
    * [[prefixLen]] rarest BITS against every mask's full bit
    * list (comp-local equi-join on the bit), popcount-verify. Mask
    * collapse is the scale lever: candidate work is in distinct
    * signatures, never documents. */
  private def containmentByMask(masksIn: DataFrame, tau: Double): DataFrame = {
    val groups = masksIn.groupBy("comp", "mask")
      .agg(collect_list(col("doc_id")).as("ids")).cache()
    val intra = groups.select(explode(col("ids")).as("da"), col("ids"))
      .select(col("da"), explode(col("ids")).as("db"))
      .filter(col("da") =!= col("db"))
      .select(col("da").as("doc_sub"), col("db").as("doc_super"),
        lit(1.0).as("containment"))
    val (bits, pfx) = maskBitPrefix(groups, tau)
    val cand = pfx.select(col("comp"), col("mask").as("mask_sub"), col("bit"))
      .join(bits.select(col("comp"), col("mask").as("mask_sup"), col("bit")),
        Seq("comp", "bit"))
    intra.union(maskContainPairs(cand, groups, tau))
  }

  /** The bit rows (comp, mask, `keep`…, bit) of distinct-mask `groups`,
    * cached, and the subset that is each mask's PPJoin prefix
    * ([[prefixLen]] of its popcount) under the per-component
    * (df ASC, bit ASC) order: (bits, prefix). */
  private def maskBitPrefix(groups: DataFrame, tau: Double,
      keep: String*): (DataFrame, DataFrame) = {
    val bits = groups.select((Seq("comp", "mask") ++ keep).map(col) :+
        explode(expr("filter(transform(sequence(0, 63), i -> " +
          "CASE WHEN (mask >> i) & 1 = 1 THEN i ELSE -1 END), i -> i >= 0)")).as("bit"): _*)
      .cache()
    val dfreq = bits.groupBy("comp", "bit").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp"), col("mask")).orderBy(col("df"), col("bit"))
    val pfx = bits.join(dfreq, Seq("comp", "bit"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= prefixLen(bit_count(col("mask")), tau))
    (bits, pfx)
  }

  /** Candidate (comp, mask_sub, mask_sup, …) rows popcount-verified
    * (containment ≥ τ) and expanded to their groups' doc pairs:
    * (doc_sub, doc_super, containment). */
  private def maskContainPairs(cand: DataFrame, groups: DataFrame, tau: Double): DataFrame = {
    val verified = cand
      .filter(col("mask_sub") =!= col("mask_sup"))
      .select(col("comp"), col("mask_sub"), col("mask_sup")).distinct()
      .withColumn("containment",
        bit_count(col("mask_sub").bitwiseAND(col("mask_sup"))).cast("double") /
          bit_count(col("mask_sub")).cast("double"))
      .filter(col("containment") >= tau)
    val ga = groups.select(col("comp"), col("mask").as("mask_sub"), col("ids").as("ids_a"))
    val gb = groups.select(col("comp"), col("mask").as("mask_sup"), col("ids").as("ids_b"))
    verified.join(ga, Seq("comp", "mask_sub")).join(gb, Seq("comp", "mask_sup"))
      .select(explode(col("ids_a")).as("doc_sub"), col("ids_b"), col("containment"))
      .select(col("doc_sub"), explode(col("ids_b")).as("doc_super"), col("containment"))
  }

  /** dd9: incremental dedup — near-dup pairs between a new DELTA batch
    * and the already-deduped INDEX corpus, WITHOUT recomputing the
    * corpus-wide pair graph. This is the nightly-ingest shape: the
    * daily crawl is a sliver of the corpus, and rescanning every
    * historical pair (dd2) to admit it would make ingest cost grow
    * with history instead of with the delta.
    *
    * Same adaptive exact-answer machinery as dd2 — component-local
    * bitmap banding at small vocabularies, PPJoin prefix filtering at
    * real ones, both restricted CROSS-SIDE — with two incremental
    * twists on the prefix path:
    *  - the candidate equi-join is delta-prefixes × index-prefixes
    *    only: candidate volume is O(|delta| · df), never index²;
    *  - the document-frequency ordering comes from the INDEX side
    *    alone. Prefix filtering is correct under ANY global total
    *    order of shingles, so using index-side df (stable statistics a
    *    real pipeline materializes once per corpus version, here a
    *    left join with unseen-shingle df = 0) keeps the guarantee
    *    while the delta batch contributes nothing to the stats pass.
    * Delta-only shingles get df 0 — rarest — which is also the right
    * heuristic: genuinely novel text lands in the prefix and collides
    * with nothing.
    *
    * Output = exactly the dd2 pairs with one endpoint in each split
    * (oracle-verified): (doc_new, doc_old, jaccard). */
  def incrementalDedup(docs: DataFrame, n: Int, threshold: Double,
      isDelta: Column): DataFrame =
    sortedBy(incrementalPairs(docs, n, threshold, isDelta),
      col("doc_new"), col("doc_old"))

  /** [[incrementalDedup]] without the output-presentation sort — the
    * composition entry point (dd10 consumes the pairs as edges). */
  private[graft] def incrementalPairs(docs: DataFrame, n: Int, threshold: Double,
      isDelta: Column): DataFrame = {
    val sh = withShingles(docs, n)
      .join(docs.select(col("doc_id"), isDelta.as("is_delta")), "doc_id")
      .cache()
    incrementalAdaptive(sh, threshold)
  }

  /** The adaptive cross-side dispatch over a pre-shingled (doc_id,
    * shingles, is_delta) relation — same split as dd2/dd3:
    * component-local bitmaps when vocabularies are small (where
    * prefix selectivity dies), the PPJoin cross-side prefix path for
    * real corpora. Shared by [[incrementalPairs]] (nightly dd9) and
    * [[ingestBatchPairs]] (st15's streaming gate) so the two ingest
    * paths can never drift onto different candidate strategies. */
  private def incrementalAdaptive(sh: DataFrame, threshold: Double): DataFrame =
    smallVocabMasks(sh) match {
      case Some(masks) =>
        incrementalByMask(masks.join(
          sh.select(col("doc_id"), col("is_delta")), "doc_id"), threshold)
      case None => jaccardCrossPrefix(
        dfOrdered(sh, docFreq(sh.filter(!col("is_delta"))), "is_delta"), threshold)
    }

  /** dd10: incremental duplicate-GROUP maintenance — fold a delta
    * batch into an existing (doc_id, group_id) labeling without
    * recomputing history. dd9 answers "which delta docs duplicate the
    * corpus"; this maintains dd6's transitive-group view under those
    * arrivals, including the hard part: one delta doc can MERGE
    * several standing groups, and a delta doc with a smaller id must
    * relabel every member of the groups it touches.
    *
    * The trick is contraction: the standing corpus participates as
    * one node PER GROUP (its label), not per document. Edges =
    * delta×index near-dup pairs (mapped old-doc → its group label,
    * via the same adaptive machinery as dd9) plus delta-internal
    * pairs (dd2 on the delta alone). Min-label propagation then runs
    * on this contracted graph — |delta| + |touched groups| nodes, a
    * sliver of the corpus — and index documents re-label through one
    * final join on their old label. Labels are min doc_ids and every
    * group node already IS its group's min, so min over a merged
    * component equals the global min: the output is IDENTICAL to a
    * full dd6 recompute (oracle: the same recursive-closure SQL).
    *
    * The registry entry computes `indexLabels` inline for
    * self-containment; a real nightly pipeline passes
    * [[dupGroupsReadIndex]] output, so per-ingest cost is delta-sized
    * candidate work + the contracted propagation + one label-rewrite
    * join over the index — history is never re-paired. */
  /** Edge-count ceiling for the single-task DSU path: ~4M (doc_a,
    * doc_b) rows ≈ a few hundred MB of hash-map state — comfortably
    * one executor task. Above it the distributed propagation loop
    * takes over (identical labels, just paid in rounds). */
  private[graft] val DsuMaxEdges = 1 << 22

  /** Connected components of a SMALL edge set via one union-find task
    * — dupGroupLabels' exact labeling convention (component label =
    * min reachable doc_id; nodes without an edge label themselves),
    * computed in a single mapPartitions over the coalesced edges
    * instead of an iterative join loop. Correct at any size, but the
    * single task must HOLD the edge-touching node set: callers bound
    * it first ([[DsuMaxEdges]]) — dd10's contracted delta graph,
    * dd17's per-cell working sets. Union-by-min + path compression:
    * roots only ever decrease, so find() emits the component minimum. */
  private[graft] def dsuLabels(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val labels = pairs.select(col("doc_a"), col("doc_b")).as[(Long, Long)]
      .repartition(1)
      .mapPartitions { edges =>
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(a: Long): Long = {
          var r = a
          while (parent(r) != r) r = parent(r)
          var c = a
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edges.foreach { case (a, b) =>
          if (!parent.contains(a)) parent(a) = a
          if (!parent.contains(b)) parent(b) = b
          val ra = find(a); val rb = find(b)
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // snapshot before emitting — find() path-compresses the same
        // map (the semanticDedup iteration-safety rule)
        val ks = parent.keys.toArray
        ks.iterator.map(v => (v, find(v)))
      }
      .toDF("doc_id", "comp")
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("group_id"))
  }

  /** `baseShOpt`: the standing corpus PRE-SHINGLED — the persisted
    * nondelta shingle index's df-sorted sh/ arrays (round 13: dd9/dd10
    * were the last ingest-shaped queries re-tokenizing the standing
    * 15/16 of the corpus per run; st15's streaming gate already reads
    * the index, and the candidate machinery is shared, so the batch
    * twins now do too — per-ingest tokenization is delta-only, the
    * at-scale shape ingestBatchPairs' scaladoc promises). None keeps
    * the self-contained inline path (specs pin probe ≡ inline). */
  def incrementalDupGroups(docs: DataFrame, n: Int, threshold: Double,
      isDelta: Column, indexLabels: DataFrame,
      baseShOpt: Option[DataFrame] = None): DataFrame = {
    val delta = docs.filter(isDelta)
    // The two candidate constructions are independent and each runs
    // bounded driver actions (vocabulary probes, banding cost-probe
    // collects) back-to-back — build them concurrently (round 16;
    // dd10's wall was 4.6 s construction vs 0.7 s execution). Plans
    // and rows are identical to the sequential build.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val crossF = Future(baseShOpt match {
      case Some(baseSh) => ingestBatchPairs(baseSh, delta, threshold)
      case None => incrementalPairs(docs, n, threshold, isDelta)
    })
    val intraF = Future(ngramJaccardPairs(delta, n, threshold))
    val cross = Await.result(crossF, Duration.Inf)
    val intra = Await.result(intraF, Duration.Inf)
    val lab = indexLabels.select(col("doc_id").as("doc_old"), col("group_id"))
    val edges = cross.join(lab, "doc_old")
      .select(col("doc_new").as("doc_a"), col("group_id").as("doc_b"))
      .union(intra.select(col("doc_a"), col("doc_b")))
      // one barrier: the edge plan feeds the DSU (or the fallback
      // loop's own snapshot) AND the size probe below — without it the
      // candidate joins would re-run per consumer (the dd8 fan-out
      // lesson)
      .snapshot()
    val nodes = delta.select(col("doc_id"))
      .union(indexLabels.select(col("group_id").as("doc_id"))).distinct()
    // Round 13 (VERDICT r12 #5): the contracted edge set is DELTA-sized
    // by construction (cross pairs touch a delta doc; intra pairs are
    // delta×delta), so the labeling is a single-task union-find — the
    // dd17 per-cell lesson (5× over iterative propagation when the
    // working set fits one task) applied to the contraction. The
    // iterative loop paid ~3 rounds × 4-5 stages of scheduling floor
    // (~43% of dd10's cost, r11 phase probe) to label a few thousand
    // rows. The size guard keeps the documented boundary: a delta
    // batch whose edge set outgrows one task's memory falls back to
    // the distributed loop (same labels — DedupSpec pins DSU ≡ loop).
    val contracted =
      if (edges.limit(DsuMaxEdges + 1).count() <= DsuMaxEdges)
        dsuLabels(nodes, edges)
      else dupGroupLabels(nodes, edges)
    val deltaOut = delta.select(col("doc_id")).join(contracted, "doc_id")
    val indexOut = indexLabels.select(col("doc_id"), col("group_id").as("g_old"))
      .join(contracted.select(col("doc_id").as("g_old"), col("group_id")), "g_old")
      .select(col("doc_id"), col("group_id"))
    deltaOut.union(indexOut).orderBy(col("doc_id"))
  }

  /** Cross-side variant of [[jaccardByMask]]: the Hamming band
    * equi-join runs DELTA masks against INDEX masks only — identical
    * sets collapse on each side first, no intra-side pair is ever
    * generated, and there is no mask-ordering restriction because the
    * sides are disjoint by construction. */
  private def incrementalByMask(masksIn: DataFrame, threshold: Double): DataFrame = {
    // m/dm/im stay cached for the LIFE of the returned (lazy) query —
    // the result plan references them, so they cannot be unpersisted
    // here. They go with a cascading uncache of the input once the
    // caller has snapshotted the pairs (ingestBatchPairs), else at the
    // `Sessions.clearCaches` every bench rep / Verify entry performs
    // (the same convention as jaccardByMask's masks/groups and the
    // cached index relations; ADVICE r15 low).
    val m = masksIn.cache()
    val dm = m.filter(col("is_delta")).groupBy("comp", "mask")
      .agg(collect_list(col("doc_id")).as("ids_new")).cache()
    val im = m.filter(!col("is_delta")).groupBy("comp", "mask")
      .agg(collect_list(col("doc_id")).as("ids_old")).cache()
    // Same strategy dispatch as [[jaccardByMask]] (round 15): occupied-
    // span banding, with a SALTED bipartite cross as the fallback when
    // the measured banded candidate volume is worse. The cross cost
    // probe sums per-bucket cd·ci products; the blocked cost is
    // Σ_comp md_c·mi_c (each delta×index mask pair compared exactly
    // once — no post-join distinct).
    // Occupancy + blocked cost in ONE bounded aggregate (≤ 2 rows per
    // component — jaccardByMask's merged-probe shape)
    val stats = m.groupBy("comp", "is_delta")
      .agg(countDistinct(col("mask")).as("md"), bit_or(col("mask")).as("orm"))
      .collect()
    val orAll = stats.foldLeft(0L)((a, r) => a | r.getAs[Long]("orm"))
    val (span, pop) =
      if (orAll == 0L) (1, 1)
      else (64 - java.lang.Long.numberOfLeadingZeros(orAll),
        java.lang.Long.bitCount(orAll))
    val blockedCost = stats.groupBy(_.getAs[Any]("comp")).values.map { rs =>
      val d = rs.filter(_.getAs[Boolean]("is_delta")).map(_.getAs[Long]("md")).sum
      val i = rs.filterNot(_.getAs[Boolean]("is_delta")).map(_.getAs[Long]("md")).sum
      d * i
    }.sum
    val bandCols = hammingBandCols(threshold, span, pop)
    def bands(g: DataFrame): DataFrame =
      g.select(col("comp"), col("mask"), explode(array(bandCols: _*)).as("b"))
        .select(col("comp"), col("mask"), col("b.band").as("band"), col("b.bv").as("bv"))
    val bandedCost = {
      val cd = bands(dm).groupBy("comp", "band", "bv").agg(count(lit(1)).as("cd"))
      val ci = bands(im).groupBy("comp", "band", "bv").agg(count(lit(1)).as("ci"))
      val r = cd.join(ci, Seq("comp", "band", "bv"))
        .agg(sum(expr("cd * ci"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val maskPairs =
      if (blockedCost <= bandedCost) {
        val b = MaskPairBlocks
        // compute-parallelism pin — see blockedMaskPairs
        val p = m.sparkSession.sparkContext.defaultParallelism
        val right = im.select(col("comp"), col("mask").as("mask_b"),
          pmod(xxhash64(col("mask")), lit(b)).cast("int").as("v"))
          .repartition(p, col("comp"), col("v"))
        val left = dm.select(col("comp"), col("mask").as("mask_a"),
          explode(expr(s"sequence(0, ${b - 1})")).as("v"))
          .repartition(p, col("comp"), col("v"))
        left.join(right, Seq("comp", "v"))
          .select(col("comp"), col("mask_a"), col("mask_b"),
            maskJaccard(col("mask_a"), col("mask_b")).as("jaccard"))
          .filter(col("jaccard") >= threshold)
      } else {
        val x = bands(dm).as("x"); val y = bands(im).as("y")
        x.join(y,
            col("x.comp") === col("y.comp") && col("x.band") === col("y.band") &&
              col("x.bv") === col("y.bv"))
          .select(col("x.comp").as("comp"),
            col("x.mask").as("mask_a"), col("y.mask").as("mask_b"),
            maskJaccard(col("x.mask"), col("y.mask")).as("jaccard"))
          .filter(col("jaccard") >= threshold)
          .distinct()
      }
    maskPairs
      .join(dm.select(col("comp"), col("mask").as("mask_a"), col("ids_new")),
        Seq("comp", "mask_a"))
      .join(im.select(col("comp"), col("mask").as("mask_b"), col("ids_old")),
        Seq("comp", "mask_b"))
      .select(explode(col("ids_new")).as("doc_new"), col("ids_old"), col("jaccard"))
      .select(col("doc_new"), explode(col("ids_old")).as("doc_old"), col("jaccard"))
  }

  private val MinhashK = 64
  private val Bands = 16 // x 4 rows: P(candidate | s=0.9) ≈ 1 - 3.6e-8

  /** All intra-group pairs (identical sets, jaccard exactly 1.0) plus
    * verified rep-pairs expanded to every cross-group doc pair. */
  private def expandGroups(repPairs: DataFrame, groups: DataFrame): DataFrame = {
    val ga = groups.select(col("rep").as("doc_a"), col("ids").as("ids_a"))
    val gb = groups.select(col("rep").as("doc_b"), col("ids").as("ids_b"))
    val cross = repPairs.join(ga, "doc_a").join(gb, "doc_b")
      .select(explode(col("ids_a")).as("da"), col("ids_b"), col("jaccard"))
      .select(col("da"), explode(col("ids_b")).as("db"), col("jaccard"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("jaccard"))
    val intra = groups.select(explode(col("ids")).as("da"), col("ids"))
      .select(col("da"), explode(col("ids")).as("db"))
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), lit(1.0).as("jaccard"))
    intra.union(cross)
  }

  /** dd3: MinHash + LSH banding, then exact-Jaccard verification of the
    * candidates. With b=16, r=4 a true pair at s ≥ 0.9 is missed with
    * probability < 4e-8, so verified output equals the exact answer
    * while candidate generation stays sub-quadratic (the scale path).
    * Documents with identical shingle sets collapse to one
    * representative before any hashing — exact duplicates are the
    * common case in a dedup corpus, and every collapsed doc removes
    * its whole row of the candidate matrix. */
  def minhashLsh(docs: DataFrame, threshold: Double): DataFrame = {
    val shIn = withShingles(docs, 1).cache()
    val pairs = smallVocabMasks(shIn) match {
      // Tiny vocabulary ⟹ exact bitmask all-pairs strictly dominates
      // LSH: minhash APPROXIMATES set overlap that popcounts compute
      // exactly, and near-identical signatures make every band bucket
      // hot (the self-join degenerates quadratically with no skew
      // remedy). Same exact output either way — LSH is the
      // large-vocabulary scale path, gated by its own spec.
      case Some(masks) => jaccardByMask(masks, threshold)
      case None        => minhashLshPath(shIn, threshold)
    }
    sortedBy(pairs, col("doc_a"), col("doc_b"))
  }

  private def minhashLshPath(shIn: DataFrame, threshold: Double): DataFrame = {
    val all = shIn.select(col("doc_id"), array_sort(col("shingles")).as("shingles"))
    val groups = all.groupBy("shingles")
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("ids"))
      .cache()
    val sh = groups.select(col("rep").as("doc_id"), col("shingles")).cache()
    // ONE string hash per shingle; permutation i = xxhash64 of the
    // 8-byte base hash with seed i — fixed-width input, far cheaper
    // than re-hashing the string 64×, and overflow-free under ANSI.
    val inv = sh.select(col("doc_id"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    val sigCols = (0 until MinhashK).map(i => min(xxhash64(col("h"), lit(i))).as(s"h$i"))
    val sigs = inv.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
    // band j = hash of rows 4j..4j+3; explode to (doc, band, bandhash)
    val bandCols = (0 until Bands).map { j =>
      struct(lit(j).as("band"),
        xxhash64((0 until 4).map(r => col(s"h${4 * j + r}")): _*).as("bh"))
    }
    val bands = sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
    val x = bands.as("x"); val y = bands.as("y")
    val cand = x.join(y,
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    expandGroups(verifyJaccard(cand, sh, threshold), groups)
  }

  /** dd4: 64-bit SimHash over token counts; near-dup pairs = Hamming
    * distance ≤ maxHamming, candidates via 4×16-bit band buckets
    * (catches every pair with ≤3 differing bits exactly, and most up
    * to the requested distance when errors cluster). */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("tok"))
    // ONE aggregate (graft.functions.SimHash64, a long[65] buffer)
    // instead of 64 separate sum((h>>j)&1) columns: the 64-sum form
    // made the generated aggregate class so large that codegen/JIT
    // time dominated the operator (196 s in the round-1 bench).
    // Partial aggregation is preserved — map-side buffers merge by
    // element-wise add — and the aggregate emits the finished
    // majority-rule signature directly.
    toks.withColumn("h", xxhash64(col("tok")))
      .groupBy("doc_id")
      .agg(call_function("graft_simhash64", col("h")).as("simhash"))
  }

  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    simhashPairsFrom(simhash(docs), maxHamming)

  /** The banding stage alone, over (doc_id, simhash) signatures
    * already at rest — the probe path when signatures come off the
    * materialized graft_simidx layout (round 12): the tokenize + hash
    * + majority-vote corpus pass is per-corpus-version infrastructure
    * like every other signature family's, so dd4 probes it instead of
    * recomputing it per query. Probe ≡ inline is spec-pinned. */
  def simhashPairsFrom(sigs: DataFrame, maxHamming: Int): DataFrame = {
    // Collapse identical signatures first: duplicate-heavy corpora put
    // hundreds of docs on one simhash, and a band self-join across
    // them is quadratic in the duplicate count. Intra-group pairs are
    // hamming 0 by construction; the band join then runs on DISTINCT
    // signatures only.
    val groups = sigs.groupBy("simhash")
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("ids"))
      .cache()
    val intra = groups.select(explode(col("ids")).as("da"), col("ids"))
      .select(col("da"), explode(col("ids")).as("db"))
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), lit(0L).as("hamming"))
    val reps = groups.select(col("rep"), col("simhash"))
    val bandCols = (0 until 4).map(k =>
      struct(lit(k).as("band"), expr(s"(simhash >> ${16 * k}) & 65535").as("bv")))
    val bands = reps.select(col("rep"), col("simhash"), explode(array(bandCols: _*)).as("b"))
      .select(col("rep"), col("simhash"), col("b.band").as("band"), col("b.bv").as("bv"))
    val x = bands.as("x"); val y = bands.as("y")
    val repPairs = x.join(y, col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
        col("x.rep") < col("y.rep"))
      .select(col("x.rep").as("rep_a"), col("y.rep").as("rep_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      // filter BEFORE distinct: hamming is computable per joined row,
      // so the dedup shuffle carries only qualifying pairs, not the
      // full band-join output
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val ga = groups.select(col("rep").as("rep_a"), col("ids").as("ids_a"))
    val gb = groups.select(col("rep").as("rep_b"), col("ids").as("ids_b"))
    val cross = repPairs.join(ga, "rep_a").join(gb, "rep_b")
      .select(explode(col("ids_a")).as("da"), col("ids_b"), col("hamming"))
      .select(col("da"), explode(col("ids_b")).as("db"), col("hamming"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    sortedBy(intra.union(cross), col("doc_a"), col("doc_b"))
  }

  /** dd6: duplicate GROUPS — connected components over the near-dup
    * pair graph, every doc labeled with the minimum doc_id reachable
    * from it (singletons label themselves). A dedup pipeline keeps one
    * canonical doc per group; pairs alone can't express transitivity
    * (a~b, b~c ⟹ one group even when a≁c).
    *
    * Algorithm: iterative min-label propagation. Each round is one
    * equi-join (labels ⋈ edges) + one partial-agg min groupBy — both
    * shuffle-partitioned on doc_id, no driver-side graph. Rounds
    * needed = graph diameter, and near-dup components are dense
    * near-cliques (diameter ~2–3); `maxIters` is a safety rail that
    * throws rather than return a wrong (unconverged) labeling.
    * A snapshot per round truncates the lineage so the plan doesn't
    * deepen linearly with rounds. At pathological diameters
    * the standard fix is alternating large-star/small-star rounds
    * (halves diameter per round); not needed for dedup graphs.
    *
    * Snapshots ([[graft.Snapshots]]) are reliable when the
    * SparkContext has a checkpoint dir (`spark.checkpoint.dir`). */
  def dupGroups(docs: DataFrame, pairs: DataFrame, maxIters: Int = 50): DataFrame =
    dupGroupLabels(docs, pairs, maxIters).orderBy(col("doc_id"))

  /** dupGroups without the output-presentation sort (see
    * ngramJaccardPairs — same composition rationale). */
  private[graft] def dupGroupLabels(docs: DataFrame, pairs: DataFrame,
      maxIters: Int = 50): DataFrame =
    propagateLabels(docs, pairs, maxIters)._1

  /** dupGroupLabels and the one snapshot it reads, for a caller that
    * writes the labels and then frees the snapshot. */
  private def propagateLabels(docs: DataFrame, pairs: DataFrame,
      maxIters: Int = 50): (DataFrame, DataFrame) = {
    // snapshot the pair plan ONCE: the symmetric union would
    // otherwise evaluate the (expensive) candidate-join plan twice,
    // and every round would re-plan its whole lineage
    val p = graft.Snapshots.take(pairs.select(col("doc_a"), col("doc_b")))
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .cache()
    // Iterate ONLY over nodes with ≥1 edge: at corpus scale the vast
    // majority of documents are singletons (no near-dup pair), and
    // shuffling their fixed labels through every round is pure waste.
    // The symmetric union covers both endpoints, so src alone spans
    // every non-singleton node; singletons re-attach after the loop.
    var snap = graft.Snapshots.take(edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("comp")))
    var labels = snap
    var changed = 1L
    var it = 0
    // Round structure note (round 12 — VERDICT r11 #3 tried and
    // REJECTED on evidence): folding two edge-hops into each round
    // does cut rounds (dd6 5 → 4, dd10 3 → 2) but measured
    // 2.5× SLOWER (dd6 12.0 → 29.7 s min-of-3 at sf0.1): the second
    // hop and the pointer jump both re-reference the first hop's
    // un-materialized join+agg tree, so hop1 re-evaluates up to 4× per
    // round — the dd8 fan-out lesson inside the loop. Materializing
    // the intermediate costs a second checkpoint per round, which
    // erases the round savings. One hop per round, one barrier, one
    // fan-out of checkpointed rows is the measured optimum.
    //
    // The loop's shuffles are RIGHT-SIZED instead: labels span only the
    // non-singleton docs (thousands of rows at sf0.1), so each round's
    // stages at the session's fact-scale partition count would be
    // per-task scheduling floor, not work. Every shuffle in a round is
    // an explicit repartition(n, key) on both sides of each join (so no
    // planner-inserted shuffle falls back to the session's width), with
    // n sized from the label count (two longs a label). The pairs plan
    // above and the corpus-scale singleton re-attach below run at the
    // session's width.
    val n = graft.Sessions.widthFor(docs.sparkSession, labels.count() * 16L)
    while (changed > 0) {
      if (it >= maxIters)
        throw new IllegalStateException(s"dupGroups did not converge in $maxIters rounds")
      val byDoc = labels.repartition(n, col("doc_id"))
      val nbrMin = edges.repartition(n, col("dst"))
        .join(byDoc.select(col("doc_id").as("dst"), col("comp")), "dst")
        .repartition(n, col("src"))
        .groupBy(col("src").as("doc_id")).agg(min(col("comp")).as("nbr_comp"))
      val relaxed = byDoc.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("comp").as("old"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      // pointer jumping (path halving): comp ← comp(comp). Labels are
      // doc_ids, so comp resolves against the label table itself; this
      // collapses label chains exponentially — O(log diameter) rounds
      // instead of O(diameter) on chain-shaped components.
      val parentComp = relaxed.select(col("doc_id").as("p_id"), col("comp").as("p_comp"))
      // `old` rides along into the checkpoint so the convergence count
      // is a local scan of checkpointed rows, not another shuffle join
      val next = graft.Snapshots.take(relaxed.withColumnRenamed("comp", "c1")
        .repartition(n, col("c1"))
        .join(parentComp, col("c1") === col("p_id"), "left")
        .select(col("doc_id"), col("old"),
          least(col("c1"), coalesce(col("p_comp"), col("c1"))).as("comp")))
      changed = next.filter(col("comp") =!= col("old")).count()
      graft.Snapshots.free(snap)
      snap = next
      labels = next.select(col("doc_id"), col("comp"))
      it += 1
    }
    graft.Snapshots.free(p)
    edges.unpersist()
    (docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("group_id")), snap)
  }

  /** Materialized duplicate-group index: dupGroups' (doc_id, group_id)
    * labeling written once to `path`, mirroring the IVF/PQ index
    * pattern (Similarity.ivfWriteIndex). The iterative CC computation
    * is the expensive stage of a dedup pipeline; downstream consumers
    * (canonical-doc selection, group statistics, per-group sampling)
    * should PROBE this index — one parquet scan — instead of re-running
    * propagation per query. At 100 TB the index is rebuilt on corpus
    * refresh, not per consumer; rows are written sorted by group_id so
    * per-group consumers get clustered reads. */
  def dupGroupsWriteIndex(docs: DataFrame, pairs: DataFrame, path: String,
      maxIters: Int = 50): Unit = {
    val (labels, snap) = propagateLabels(docs, pairs, maxIters)
    labels.repartition(col("group_id"))
      .sortWithinPartitions(col("group_id"))
      .write.mode("overwrite").parquet(path)
    graft.Snapshots.free(snap)
  }

  /** Probe side of the materialized group index. */
  def dupGroupsReadIndex(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    graft.Tables.parquet(spark, path)

  // 6 bits × 8 tables: recall ≈ 99.8% at cosine 0.95 (true near-dups),
  // ~36% at cosine 0.35 — candidates stay sub-quadratic while real
  // duplicates essentially always collide in some table.
  private val HyperplaneBits = 6
  private val HyperplaneTables = 8

  /** Deterministic pseudo-random unit-free hyperplane weights — a
    * splitmix64-style integer mix (public-domain algorithm), no RNG
    * state, so every run/executor derives identical planes. */
  /** dd8: duplicate-SPAN detection — substring-level dedup (the
    * repeated-passage signal exact/doc-level dedup can't see: boilerplate
    * headers, licence blocks, templated paragraphs shared across
    * otherwise-distinct documents). A span is a run of `n` consecutive
    * word tokens; a span is "duplicated" when it occurs in ≥ 2 distinct
    * documents. Output per document: how many of its distinct spans are
    * corpus-duplicated, and the ratio — the filter signal a training
    * pipeline thresholds on.
    *
    * Scale design: two shuffles, both keyed on the span — (1) groupBy
    * span counting distinct docs (per-doc spans are pre-distincted, so
    * count(*) IS the doc frequency; partial-agg'd map-side), (2) the
    * duplicated-span set semi-joins back against per-doc spans. Never
    * all-pairs: cost is O(total spans), the same as one token scan.
    *
    * Shuffle key: by default the span string is replaced map-side by
    * xxhash64(span) — 8-byte shuffle rows instead of the ~(n×7)-byte
    * 10-word text, ~9× less shuffle volume on both exchanges; the
    * string never leaves the scan stage. Counts are identical unless
    * two DISTINCT spans collide in 64 bits: for a corpus with S
    * distinct spans the expected number of colliding pairs is
    * ≈ S²/2⁶⁵ (birthday bound) — at S = 10¹⁰ spans (≈ 100 TB of text)
    * that is ~5×10⁻², i.e. odds-on ZERO collisions corpus-wide, and a
    * single collision only perturbs two docs' counts by one. The
    * string-keyed form stays available (`hashKeys = false`) as the
    * oracle-exact reference; DedupSpec pins hashed ≡ string-keyed on
    * the driver corpus. */
  def dupSpans(docs: DataFrame, n: Int = 10, hashKeys: Boolean = true): DataFrame = {
    // Hash in the SCAN stage (map-side transform over the span array —
    // the string never exists past this projection) and cache the one
    // narrow (doc_id, spans) relation: three consumers read it (span
    // frequencies, the semi-join probe, per-doc span counts), and
    // without the cache each re-runs the tokenize + 10-gram
    // construction — measured 3× the whole operator's cost at sf0.1.
    // Hashed elements make the cached arrays 8 B/span, not ~70 B.
    val spanArr =
      if (hashKeys) expr("transform(shingles, s -> xxhash64(s))")
      else col("shingles")
    // cache BEFORE the emptiness filter: the predicate then reads the
    // materialized array instead of re-inlining the n-gram expression
    val cached = withShinglesAll(docs, n) // distinct n-gram spans per doc
      .select(col("doc_id"), spanArr.as("spans"))
      .cache()
    val sh = cached.filter(size(col("spans")) > 0)
    val perDoc = sh.select(col("doc_id"), explode(col("spans")).as("span"))
    val dup = perDoc.groupBy(col("span")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("span"))
    val hits = perDoc.join(dup, Seq("span"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
    sh.select(col("doc_id"), size(col("spans")).cast("long").as("n_spans"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_span_ratio",
        col("n_dup_spans").cast("double") / col("n_spans"))
      .orderBy(col("doc_id"))
  }

  /** Docs with < n tokens have no spans and drop out (mirrors
    * withShingles' size>0 filter). */
  def dupSpansSql(n: Int): String =
    s"""WITH sh AS (
      | SELECT doc_id,
      |  list_distinct(list_transform(generate_series(1, len(ts) - ${n - 1}),
      |    i -> array_to_string(ts[i:i+${n - 1}], ' '))) AS spans
      | FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
      |       FROM documents)
      | WHERE len(ts) >= $n),
      |per_doc AS (SELECT doc_id, unnest(spans) AS span FROM sh),
      |dup AS (SELECT span FROM per_doc GROUP BY span HAVING COUNT(*) >= 2),
      |hits AS (
      | SELECT p.doc_id, COUNT(*) AS n_dup_spans
      | FROM per_doc p JOIN dup d ON p.span = d.span
      | GROUP BY p.doc_id)
      |SELECT s.doc_id, CAST(len(s.spans) AS BIGINT) AS n_spans,
      | coalesce(h.n_dup_spans, 0) AS n_dup_spans,
      | CAST(coalesce(h.n_dup_spans, 0) AS DOUBLE) / len(s.spans) AS dup_span_ratio
      |FROM sh s LEFT JOIN hits h USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Materialized duplicate-SPAN index (round 13 — VERDICT r12 #2):
    * dd8's tokenize + 10-gram construction and the df ≥ 2 span set are
    * corpus-static, the same argument that moved dd4/mm5/tx28 into
    * write-once layouts. Layout:
    *   spans/  — (doc_id, spans: array<bigint>) hashed per-doc distinct
    *             span arrays (8 B/span; the span string never leaves
    *             the build's scan stage), append-only;
    *   df/     — (span, df) count INCREMENTS, append-only (a span's
    *             true document frequency is the SUM of its rows —
    *             one row after a fresh build, +1 row per delta batch
    *             that carries it);
    *   dupset/ — spans whose cumulative df reached ≥ 2, append-only
    *             (a span is appended exactly once, by the batch that
    *             crosses the threshold).
    * The per-query probe is one spans/ explode + a dupset/ semi-join +
    * one per-doc count — no tokenization, no df aggregation. Probe ≡
    * inline and append ≡ full-rebuild are spec-pinned (DedupSpec). */
  def dupSpansWriteIndex(docs: DataFrame, n: Int, path: String): Unit = {
    val spark = docs.sparkSession
    withShinglesAll(docs, n)
      .select(col("doc_id"), expr("transform(shingles, s -> xxhash64(s))").as("spans"))
      .filter(size(col("spans")) > 0)
      .write.mode("overwrite").parquet(s"$path/spans")
    // df reads the JUST-WRITTEN arrays (contain-index convention): the
    // aggregation's lineage starts from a parquet scan of 8-byte rows,
    // not a second run of the tokenize plan
    graft.Tables.parquet(spark, s"$path/spans")
      .select(explode(col("spans")).as("span"))
      .groupBy(col("span")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/df")
    graft.Tables.parquet(spark, s"$path/df")
      .filter(col("df") >= 2).select(col("span"))
      .write.mode("overwrite").parquet(s"$path/dupset")
  }

  /** dd8 probing the span index: the answer for EVERY doc — including
    * standing docs whose spans a later delta promoted to duplicated —
    * falls out of the spans/ ⋈ dupset/ semi-join, so appends never
    * rewrite history. */
  def dupSpansProbe(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val sh = graft.Tables.parquet(spark, s"$path/spans")
    val dup = graft.Tables.parquet(spark, s"$path/dupset")
    val perDoc = sh.select(col("doc_id"), explode(col("spans")).as("span"))
    val hits = perDoc.join(dup, Seq("span"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_spans"))
    sh.select(col("doc_id"), size(col("spans")).cast("long").as("n_spans"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_span_ratio",
        col("n_dup_spans").cast("double") / col("n_spans"))
      .orderBy(col("doc_id"))
  }

  /** Order-independent content-derived batch id for the idempotent
    * append family. bit_xor, not sum: order-independent AND closed on
    * 64 bits — summing full-range xxhash64 values overflows Long under
    * ANSI mode on any realistically-sized batch. (XOR cancels PAIRS of
    * identical doc_ids; batches are id-sets by the ingest contract, so
    * the only collision channel left is xxhash64 itself.) The pre-r14
    * id was the wrapped Long SUM; a standing index built then still
    * carries sum-derived markers, and an at-least-once re-delivery of
    * a pre-upgrade batch must keep matching them or it re-applies and
    * double-counts increments (ADVICE r14 #3) — so the legacy id
    * (decimal sum wrapped mod 2^64 ≡ the old non-ANSI Long overflow)
    * is returned too and callers honor EITHER marker. New markers are
    * always written under the bit_xor id. */
  private def contentBatchId(docs: DataFrame): (String, Seq[String]) = {
    val r = docs.agg(
      coalesce(expr("bit_xor(xxhash64(doc_id))"), lit(0L)),
      expr("coalesce(sum(cast(xxhash64(doc_id) as decimal(38,0))), cast(0 as decimal(38,0)))")
    ).head()
    val legacy = {
      val m = BigInt(r.getDecimal(1).toBigInteger).mod(BigInt(1) << 64)
      val l = (if (m >= (BigInt(1) << 63)) m - (BigInt(1) << 64) else m).toLong
      f"$l%016x"
    }
    (f"${r.getLong(0)}%016x", Seq(legacy))
  }

  /** The caller's batch id (no legacy ids), else [[contentBatchId]]. */
  private def batchIds(docs: DataFrame, batchIdOpt: Option[String]): (String, Seq[String]) =
    batchIdOpt.fold(contentBatchId(docs))(id => (id, Seq.empty))


  /** Append a delta batch to a span index WITHOUT rebuilding the base
    * (shingleAppendDelta's convention): per-ingest shuffle volume is
    * O(|delta| spans) — the standing df/ side is scanned (columnar
    * 8-byte rows, pruned to the delta's key set by the semi-join's
    * build side), never re-aggregated corpus-wide. A delta span whose
    * cumulative count crosses 2 joins dupset/ exactly once; every
    * probe after that sees the promotion for standing docs too.
    *
    * IDEMPOTENT under crash-and-rerun (round 14 — ADVICE r13): the
    * three outputs are NOT three independent appends (a crash between
    * them followed by a re-run double-counted the batch's df
    * increments, which could promote a true-df=1 span into dupset —
    * permanent divergence from the append ≡ rebuild contract).
    * Instead, the batch is (1) keyed on an order-independent content
    * hash of its doc ids (or the caller's `batchId` — the st-family's
    * at-least-once ingest passes its own), (2) skipped outright when
    * its `_batch_<id>` marker exists, (3) swept of any partial prior
    * application (`b<id>-*` files in the live dirs) BEFORE the df/
    * prior-count read, (4) staged under a hidden dir, then published
    * by per-file renames into the live dirs under the batch prefix,
    * marker last ([[graft.LayoutStore.commitBatch]], the commit
    * containAppendDelta shares). Every crash point re-runs to the same
    * final state.
    * Single writer per index generation (the family contract); the
    * maintenance cycle must not run concurrently with an in-flight
    * append. */
  def dupSpansAppendDelta(deltaDocs: DataFrame, n: Int, path: String,
      batchIdOpt: Option[String] = None): Unit = {
    val (batchId, legacyIds) = batchIds(deltaDocs, batchIdOpt)
    graft.LayoutStore.commitBatch(deltaDocs.sparkSession, path, batchId, legacyIds,
      Seq("spans", "df", "dupset"))(stage = dupSpansStage(deltaDocs, n, path, _))
  }

  /** [[dupSpansAppendDelta]]'s batch computation into `<stage>/{spans,
    * df,dupset}`. The commit has already swept a crashed partial
    * application of this batch, so the df/ prior-count read never sees
    * its own half-landed increments. */
  private def dupSpansStage(deltaDocs: DataFrame, n: Int, path: String,
      stage: String): Unit = {
    val spark = deltaDocs.sparkSession
    val delta = withShinglesAll(deltaDocs, n)
      .select(col("doc_id"), expr("transform(shingles, s -> xxhash64(s))").as("spans"))
      .filter(size(col("spans")) > 0)
      .cache()
    val deltaCounts = delta.select(explode(col("spans")).as("span"))
      .groupBy(col("span")).agg(count(lit(1)).as("c")).cache()
    // cumulative pre-append totals for the DELTA's spans only
    val prior = graft.Tables.parquet(spark, s"$path/df")
      .join(deltaCounts.select(col("span")), Seq("span"), "left_semi")
      .groupBy(col("span")).agg(sum(col("df")).as("prior"))
    deltaCounts.join(prior, Seq("span"), "left")
      .select(col("span"), col("c"), coalesce(col("prior"), lit(0L)).as("prior"))
      .filter(col("prior") < 2 && col("c") + col("prior") >= 2)
      .select(col("span"))
      .write.mode("overwrite").parquet(s"$stage/dupset")
    deltaCounts.select(col("span"), col("c").as("df"))
      .write.mode("overwrite").parquet(s"$stage/df")
    delta.write.mode("overwrite").parquet(s"$stage/spans")
    deltaCounts.unpersist(); delta.unpersist(); ()
  }

  private def planeWeight(table: Int, plane: Int, dim: Int): Float = {
    var z = table.toLong * 1000003L + plane.toLong * 7919L + dim.toLong + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    ((z.toDouble / Long.MaxValue.toDouble)).toFloat // in [-1, 1]
  }

  /** dd5: embedding near-duplicates. Candidates from `HyperplaneTables`
    * independent 16-bit random-hyperplane signatures (equality-joined
    * buckets), verified with the exact codegen cosine. */
  def embeddingDup(emb: DataFrame, dim: Int, threshold: Double): DataFrame = {
    // Plane = ONE array literal (not array(d lits)): keeps plan size
    // and generated code constant in `dim` — see Similarity.planeLit.
    def planeLit(t: Int, p: Int): Column =
      typedlit(Array.tabulate(dim)(j => planeWeight(t, p, j)))
    def sigCol(t: Int): Column = (0 until HyperplaneBits).map { p =>
      when(call_function("graft_dot", col("embedding"), planeLit(t, p)) > 0d, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)
    // One pass computes all table signatures, exploded to (vec_id, t,
    // sig) rows → ONE equi-join keyed on (t, sig) finds candidates in
    // every table at once (vs. 8 self-joins each rescanning the
    // corpus); cosine is scored once per distinct pair, after distinct.
    val bandCols = (0 until HyperplaneTables).map(t =>
      struct(lit(t).as("t"), sigCol(t).as("sig")))
    val bands = emb.select(col("vec_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("vec_id"), col("b.t").as("t"), col("b.sig").as("sig"))
    val x = bands.as("x"); val y = bands.as("y")
    val cand = x.join(y,
        col("x.t") === col("y.t") && col("x.sig") === col("y.sig") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val ea = emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val eb = emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    sortedBy(cand.join(ea, "vec_a").join(eb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        call_function("graft_cosine", col("emb_a"), col("emb_b")).as("cosine"))
      .filter(col("cosine") >= threshold), col("vec_a"), col("vec_b"))
  }

  /** dd12: EXACT edit-distance (Levenshtein) near-dup pairs — the
    * character-level fuzzy-dedup complement to the token-level family
    * (dd2 Jaccard sees word swaps, edit distance sees typo-grade and
    * OCR-grade corruption that keeps token identity mostly intact).
    *
    * All-pairs Levenshtein is doubly ruinous (n² pairs × len² DP per
    * pair), so candidates ride the pigeonhole that dist(a,b) ≤ k
    * forces |len(a)−len(b)| ≤ k: block by (lang, ⌊len/(k+1)⌋), the
    * probe side exploding to its own and both adjacent buckets —
    * q30's band-join shape — so any qualifying pair meets in exactly
    * one bucket (no distinct needed) and the DP runs only on
    * same-language near-length pairs. The shuffle is hash-partitioned
    * on (lang, bucket); dense buckets are AQE skew-split like any
    * equi-join. Output (doc_a, doc_b, dist), doc_a < doc_b.
    *
    * Spark's levenshtein() counts CHARACTERS; DuckDB's counts BYTES —
    * identical on ASCII corpora (the driver testdata is ASCII, so the
    * oracle gate is sound) and divergent on multibyte text, where the
    * Spark behavior is the intended semantic. */
  /** Characters whose per-doc counts feed the cheap L1 pre-filter —
    * the full lowercase-alphanumeric + space/period/comma histogram.
    * Round 15: the original 4-char probe (e/a/t/space) killed <1 % of
    * the length-banded candidates at sf0.1 (same-language ~300-char
    * docs all share those budgets within 2k = 40), so essentially
    * every banded pair still paid the DP; the 39-char histogram
    * kills 92.7 % (257k → 18.8k DP calls, measured) for one extra
    * translate pass per character in the SCAN stage — O(docs), never
    * O(pairs). */
  private val FreqProbeChars: Seq[String] =
    "abcdefghijklmnopqrstuvwxyz0123456789 .,".map(_.toString)

  def editDistancePairs(docs: DataFrame, maxDist: Int = 20): DataFrame = {
    val w = maxDist + 1
    // Cheap NECESSARY condition ahead of the O(len²) DP: one edit op
    // changes any character-count vector by L1 ≤ 2, so dist ≤ k
    // forces Σ|countΔ| ≤ 2k over ANY subset of characters (projecting
    // to a subset only shrinks the L1 — scripts outside the probe set
    // are simply projected away, so the bound holds on any corpus).
    // The counts are derived in ONE pass by the graft_charhist39
    // codegen expression (round 16) — the previous per-char
    // `length(text) − length(translate(text, c, ''))` shape traversed
    // AND copied the whole string 39 times per doc (translate
    // allocates), the dominant cost of the serial base stage (2.0 →
    // 0.4 s stage CPU measured). After the checkpoint the counts are
    // extracted to 39 SCALAR int columns (element_at on the stored
    // array — plain codegen reads, no lambda): a zip_with/aggregate
    // fold over the array was tried in an earlier round and measured
    // 3× SLOWER end-to-end — the higher-order expression knocks the
    // join stage out of whole-stage codegen, and everything
    // downstream (including the banded DP) pays interpreted
    // evaluation. Plain abs-subtract columns keep the stage fused.
    // localCheckpoint materializes the one-pass histogram so the
    // bucket explode and filter don't re-derive it (dupSpans' move
    // for its span arrays; 17.5 s vs 7.3 s measured at sf0.1). The
    // checkpoint is corpus-sized (text rides along for the DP) on
    // EXECUTOR storage — the same order of data movement as the
    // banded join's own shuffle, paid once instead of per consumer;
    // nothing lands on the driver.
    val fq = FreqProbeChars.indices
    // computeFloor was tried here (round 16) and REVERTED after
    // measurement: parallelizing the checkpoint to 32 partitions cut
    // wall 4.4 → 1.5 s but multiplied the banded-join stage's executor
    // CPU 1.9 → 20.4 s (per-matched-row cost rose ~10× under
    // concurrent consumption of the broadcast relation) — the wrong
    // trade for the resource that is scarce at 100 TB. The serial
    // stage is a testdata artifact (single-row-group file); real
    // corpora scan wide.
    val base = docs.select(col("doc_id"), col("text"), col("lang"),
        length(col("text")).as("len"),
        (length(col("text")) / w).cast("int").as("bucket"),
        call_function("graft_charhist39", col("text")).as("hist"))
      .snapshot()
      // scalar extraction AFTER the checkpoint: the stored array is
      // read once per column, the histogram itself never re-derives
      .select(Seq(col("doc_id"), col("text"), col("lang"), col("len"), col("bucket"))
        ++ FreqProbeChars.indices.map(i =>
          element_at(col("hist"), i + 1).as(s"fq$i")): _*)
    val probe = base.select(Seq(col("doc_id").as("doc_a"), col("text").as("text_a"),
        col("lang"), col("len").as("len_a"),
        explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)).as("bucket"))
      ++ fq.map(i => col(s"fq$i").as(s"fqa$i")): _*)
    val build = base.select(Seq(col("doc_id").as("doc_b"), col("text").as("text_b"),
        col("lang"), col("len").as("len_b"), col("bucket"))
      ++ fq.map(i => col(s"fq$i").as(s"fqb$i")): _*)
    sortedBy(probe.join(build, Seq("lang", "bucket"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist &&
        fq.map(i => abs(col(s"fqa$i") - col(s"fqb$i")))
          .reduce(_ + _) <= lit(2 * maxDist))
      .select(col("doc_a"), col("doc_b"),
        // threshold form = BANDED DP: O((2k+1)·n) cells with early
        // exit instead of O(n·m), returning -1 past the threshold —
        // ~25× less DP work at len≈10³, k=20 (measured 253 s → see
        // BENCH_NOTES). Equal to the plain distance whenever ≤ k, so
        // the oracle's full levenshtein stays the same.
        levenshtein(col("text_a"), col("text_b"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist), col("doc_a"), col("doc_b"))
  }
}
