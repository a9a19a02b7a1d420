package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{LayoutStore, Tables}
import graft.functions.TextFunctions
import graft.operators.{Dedup, Multimodal, Similarity}

/** §2.B–§2.E: LLM-training-data pipeline operators bound to the
  * driver's testdata tables, with DuckDB oracles where the semantics
  * are ANSI-SQL-expressible (see each operator's scaladoc for the
  * scale design).
  */
object PipelineQueries {

  // JaccardThreshold and isDeltaDoc are package-visible: st15's
  // streaming ingest-dedup (StreamQueries) must share the SAME
  // threshold and delta-split rule as dd9/dd10 — the scaladoc warning
  // below about site drift applies across files too.
  private[graft] val JaccardThreshold = 0.9
  private val EmbDim = 64
  private val CosineDupThreshold = 0.35
  private[graft] val TopK = 10
  private[graft] val NQueries = 5

  def dd1(s: SparkSession, d: String): DataFrame = Dedup.exact(Tables.documents(s, d))
  val dd1Sql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin

  /** Build-if-missing materialized shingle index (round 7) — dd2/dd3's
    * corpus-static tokenize → shingle → df-order / bitmap-encode stage,
    * same write-once convention as [[cachedGroupsIndex]]. Per-run cost
    * becomes candidate generation + verification off the at-rest
    * representation; the encode pass is amortized infrastructure
    * rebuilt on corpus refresh. Probe ≡ inline is spec-asserted for
    * both representations (DedupSpec). */
  private[graft] def cachedShingleIndex(s: SparkSession, d: String): String =
    // n1v2: +df/ +dict/ (delta-append state, round 8)
    LayoutStore.cached(s, "graft_shidx", d, "documents", "n1v2")(
      Dedup.shingleWriteIndex(Tables.documents(s, d), 1, _))

  /** Shingle index over the STANDING (non-delta) split only — st15's
    * at-rest standing side (round 9 — VERDICT r8 #8: the streaming
    * ingest gate materialized standing token sets via localCheckpoint
    * at stream open, re-tokenizing the corpus per stream; its own
    * scaladoc's 100 TB story says "the persisted shingle index", so
    * now it reads one). Same build machinery as [[cachedShingleIndex]]
    * under its own params token; `shingleAppendDelta` is what keeps it
    * fresh between ingest windows in production. */
  private[graft] def cachedShingleIndexNondelta(s: SparkSession, d: String): String =
    LayoutStore.cached(s, "graft_shidx", d, "documents", "n1v2nd")(
      Dedup.shingleWriteIndex(Tables.documents(s, d).filter(!isDeltaDoc), 1, _))

  def dd2(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardProbe(s, cachedShingleIndex(s, d), JaccardThreshold)

  /** Exact all-pairs Jaccard in DuckDB (quadratic is fine at oracle SF). */
  val ddJaccardSql: String =
    s"""WITH docs AS (
      |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |   CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
      |    (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jaccard
      |  FROM docs a, docs b WHERE a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, jaccard FROM pairs
      |WHERE jaccard >= $JaccardThreshold
      |ORDER BY doc_a, doc_b""".stripMargin

  /** dd3 is LSH-pruned but verification makes output = exact answer
    * (miss probability < 4e-8 per true pair at s ≥ 0.9), so it shares
    * dd2's oracle. */
  def dd3(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshProbe(s, cachedShingleIndex(s, d), JaccardThreshold)

  /** dd6: transitive duplicate groups over the dd2 near-dup graph —
    * the registry query PROBES the materialized dup-groups index
    * (round 13 — VERDICT r12 #1: dd6 was re-running the corpus-static
    * CC labeling inline per query, 46.4 s executor CPU in the driver
    * run — 27% of the whole board — for labels `cachedGroupsIndex(s,
    * d, "full", docs)` already materializes and dd7/dd14/dd15/tx26
    * already probe). The iterative propagation is amortized
    * infrastructure rebuilt on corpus refresh, exactly the dd11/dd13
    * precedent; probe ≡ inline `dupGroups` is spec-pinned (DedupSpec)
    * and the oracle is unchanged. */
  def dd6(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    cachedGroupsIndex(s, d, "full", docs)
      .select(col("doc_id"), col("group_id"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB oracle: same edges (the dd2 oracle as a CTE), connected
    * components via recursive transitive closure, component label =
    * min reachable doc_id. Closure is O(n·component) — fine at oracle
    * SF, which is the only place this SQL runs. */
  val dd6Sql: String =
    s"""WITH RECURSIVE docsets AS (
      |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
      |  FROM documents),
      |prs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM docsets a, docsets b WHERE a.doc_id < b.doc_id
      |   AND CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
      |    (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= $JaccardThreshold),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM prs
      |  UNION ALL SELECT doc_b, doc_a FROM prs),
      |rch(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.dst FROM rch r JOIN edges e ON r.dst = e.src)
      |SELECT src AS doc_id, MIN(dst) AS group_id
      |FROM rch GROUP BY src ORDER BY doc_id""".stripMargin

  /** Build-if-missing materialized dup-groups index over `docs`, same
    * write-once-per-SF-dir convention as q65's z-order layout (keyed on
    * dir + documents.parquet size/mtime so driver-side data regeneration
    * invalidates the cache rather than serving stale labels). This is
    * the production cost shape: the iterative CC labeling is amortized
    * infrastructure rebuilt on corpus refresh, and every consumer
    * (canonical selection, incremental ingest, group stats) PROBES the
    * parquet index — at 100 TB you never re-run propagation per query. */
  private def cachedGroupsIndex(s: SparkSession, d: String, variant: String,
      docs: => DataFrame): DataFrame =
    Dedup.dupGroupsReadIndex(s, groupsIndexPath(s, d, variant, docs))

  /** The dup-groups index's build-if-missing PATH (split out round 14
    * so `graft.Bench layouts` can delete-and-retime the build — VERDICT r13 #6). */
  private[graft] def groupsIndexPath(s: SparkSession, d: String, variant: String,
      docs: => DataFrame): String =
    LayoutStore.cached(s, "graft_dupidx", d, "documents",
        s"j$JaccardThreshold", variant) { tmp =>
      val dset = docs
      Dedup.dupGroupsWriteIndex(dset,
        Dedup.ngramJaccardPairs(dset, 1, JaccardThreshold), tmp)
    }

  /** dd7: canonical document selection — the stage after grouping:
    * per transitive near-dup group keep the BEST document by tx2's
    * quality score (ties → lowest doc_id). Probes the materialized
    * dup-groups index (built once per SF dir): one parquet scan + one
    * broadcast-sized join + one max_by groupBy whose aggregate carries
    * (group, best-doc) partials, so the shuffle is O(|groups|) — no
    * inline connected-components recompute. Inline ≡ probe is
    * spec-asserted (DedupSpec). */
  def dd7(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    canonicalDocs(docs, cachedGroupsIndex(s, d, "full", docs))
  }

  /** The selection stage alone, over any (doc_id, group_id) labeling —
    * the PROBE path when the labeling comes from a materialized
    * dup-groups index (Dedup.dupGroupsWriteIndex): one parquet scan +
    * one broadcast-sized join + one O(|groups|) partial-agg shuffle,
    * no connected-components recompute. Inline dd7 ≡ index-probe dd7
    * is spec-asserted (DedupSpec). */
  def canonicalDocs(docs: DataFrame, groups: DataFrame): DataFrame = {
    val quality = TextFunctions.qualityScore(docs).select(col("doc_id"), col("quality"))
    groups.join(quality, "doc_id")
      .groupBy(col("group_id"))
      .agg(
        max_by(col("doc_id"), struct(col("quality"), (-col("doc_id")).as("tie"))).as("keep_doc"),
        count(lit(1)).as("n_members"),
        max(col("quality")).as("best_quality"))
      .orderBy(col("group_id"))
  }

  /** dd7 probing a pre-built dup-groups index instead of recomputing
    * the propagation inline. */
  def canonicalDocsFromIndex(s: SparkSession, indexPath: String, docs: DataFrame): DataFrame =
    canonicalDocs(docs, Dedup.dupGroupsReadIndex(s, indexPath))

  /** dd6's recursive-closure oracle extended with tx2's quality
    * expression (UNICODE tokenizer since round 15 — dd7 selects by
    * tx2's score, so its oracle follows tx2's regime; the shingle
    * CTE keeps the dedup family's own tokenizer); the per-group
    * argmax mirrors max_by's (quality, −doc_id) ordering via a rank
    * window. */
  val dd7Sql: String =
    s"""WITH RECURSIVE docsets AS (
      |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
      |  FROM documents),
      |prs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM docsets a, docsets b WHERE a.doc_id < b.doc_id
      |   AND CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
      |    (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= $JaccardThreshold),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM prs
      |  UNION ALL SELECT doc_b, doc_a FROM prs),
      |rch(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.dst FROM rch r JOIN edges e ON r.dst = e.src),
      |comp AS (
      |  SELECT src AS doc_id, MIN(dst) AS group_id FROM rch GROUP BY src),
      |qual AS (
      |  SELECT doc_id,
      |   (stop_ratio * 0.5) + ((1.0 - punct_ratio) * 0.3) +
      |    (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2) AS quality
      |  FROM (
      |   SELECT doc_id,
      |    CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
      |    CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
      |    n_tokens
      |   FROM (
      |    SELECT doc_id,
      |     CAST(len(regexp_extract_all(lower(text), '${TextFunctions.UnicodeTokenRe}')) AS BIGINT) AS n_tokens,
      |     CAST(len(list_filter(regexp_extract_all(lower(text), '${TextFunctions.UnicodeTokenRe}'),
      |           t -> t IN (${TextFunctions.stopListSql}))) AS BIGINT) AS n_stop,
      |     CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
      |     CAST(length(text) AS BIGINT) AS n_chars
      |    FROM documents))),
      |ranked AS (
      |  SELECT c.group_id, c.doc_id, q.quality,
      |   row_number() OVER (PARTITION BY c.group_id
      |                      ORDER BY q.quality DESC, c.doc_id ASC) AS rnk
      |  FROM comp c JOIN qual q USING (doc_id))
      |SELECT group_id,
      | MAX(CASE WHEN rnk = 1 THEN doc_id END) AS keep_doc,
      | COUNT(*) AS n_members,
      | MAX(quality) AS best_quality
      |FROM ranked
      |GROUP BY group_id
      |ORDER BY group_id""".stripMargin

  /** The nightly-ingest split rule — a deterministic ~1/16 of doc_ids
    * (md5 first hex digit '0') plays the incoming delta batch, the
    * rest the standing corpus (q32's reproducibility trick). ONE
    * definition shared by dd9, dd10 and the dupidx_nondelta layout: the cache key
    * of the 'nondelta' dup-groups index does not encode this predicate,
    * so a drift between the sites would silently dedup against the
    * wrong standing corpus. */
  private[graft] def isDeltaDoc = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"

  /** dd9's registry shape (round 13): the standing side comes off the
    * persisted nondelta shingle index — the SAME sh/ arrays st15's
    * streaming gate probes, through the SAME ingestBatchPairs dispatch
    * — so per-run tokenization is delta-only. Probe ≡ inline
    * incrementalDedup is spec-pinned; the oracle is unchanged. */
  def dd9(s: SparkSession, d: String): DataFrame =
    Dedup.ingestBatchPairs(
        Tables.parquet(s, s"${cachedShingleIndexNondelta(s, d)}/sh"),
        Tables.documents(s, d).filter(isDeltaDoc), JaccardThreshold)
      .orderBy(col("doc_new"), col("doc_old"))

  /** Naive cross-split all-pairs in DuckDB (quadratic fine at oracle SF). */
  val dd9Sql: String =
    s"""WITH docs AS (
      |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws,
      |   substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0' AS is_delta
      |  FROM documents)
      |SELECT a.doc_id AS doc_new, b.doc_id AS doc_old,
      | CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
      |  (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jaccard
      |FROM docs a, docs b
      |WHERE a.is_delta AND NOT b.is_delta AND len(a.ws) > 0 AND len(b.ws) > 0
      | AND CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
      |  (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= $JaccardThreshold
      |ORDER BY doc_new, doc_old""".stripMargin

  /** dd10: incremental group maintenance over the same md5 split as
    * dd9. The standing corpus's labeling comes from the materialized
    * dup-groups index (built once per SF dir over the non-delta split),
    * so per-invocation cost is the production nightly-ingest shape:
    * delta-sized candidate work + the contracted propagation + one
    * label-rewrite join — history is never re-paired. Output must equal
    * a full dd6 recompute, so it shares dd6's oracle SQL. */
  def dd10(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val indexLabels = cachedGroupsIndex(s, d, "nondelta", docs.filter(!isDeltaDoc))
    Dedup.incrementalDupGroups(docs, 1, JaccardThreshold, isDeltaDoc, indexLabels,
      // standing side pre-shingled off the nondelta index (round 13 —
      // dd9's shape; tokenization is delta-only per ingest)
      Some(Tables.parquet(s, s"${cachedShingleIndexNondelta(s, d)}/sh")))
  }

  /** dd11: asymmetric containment |A∩B|/|A| ≥ τ — catches documents
    * embedded in far larger ones, which Jaccard structurally cannot.
    * Round 9 (VERDICT r8 #3): the PAIR SET itself is per-corpus-version
    * infrastructure and lives in the contain index generation — the
    * registry probe is ONE parquet scan; the prefix-filtered candidate
    * derivation runs once at build time, where dd11 and dd13 were
    * re-deriving it from the shingle index on every query (46.9 s /
    * 62.7 s at x30, the dedup family's worst scale points). */
  def dd11(s: SparkSession, d: String): DataFrame = {
    // Global presentation sort at COMPUTE-pinned parallelism (round
    // 16): `.orderBy` plans a range exchange whose reduce side AQE
    // size-coalesces to 2 tasks at the 64 MB advisory — but this sort
    // is comparison-bound (5 k distinct doc_sub over 8.28 M rows ⇒
    // nearly every prefix comparison ties into the row comparator),
    // not byte-bound, so size coalescing serialized 12.7 s of CPU
    // onto 2 tasks. An explicit repartitionByRange is never coalesced;
    // the count is sized from the scan's own stats (max(cores,
    // bytes/advisory)) so at 100 TB it grows with the relation instead
    // of pinning the local core count. Same rows, same total order.
    val pr = Tables.parquet(s, s"${cachedContainIndex(s, d)}/pairs")
    val adv = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"))
    val p = math.max(s.sparkContext.defaultParallelism,
      (pr.queryExecution.optimizedPlan.stats.sizeInBytes / BigInt(adv.max(1L))).toInt + 1)
    pr.repartitionByRange(p, col("doc_sub"), col("doc_super"))
      .sortWithinPartitions(col("doc_sub"), col("doc_super"))
  }

  val dd11Sql: String =
    s"""WITH docs AS (
      |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
      |  FROM documents)
      |SELECT a.doc_id AS doc_sub, b.doc_id AS doc_super,
      | CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(a.ws) AS containment
      |FROM docs a, docs b
      |WHERE a.doc_id <> b.doc_id AND len(a.ws) > 0
      | AND CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(a.ws)
      |  >= $JaccardThreshold
      |ORDER BY doc_sub, doc_super""".stripMargin

  /** dd13: the containment-GROUPS composition (round 8 — VERDICT r7
    * #5): dd11's directed pair set folded to a per-document verdict —
    * wrap-group id (dd6's CC labels over the undirected containment
    * graph), containment degrees, and the canonical member to keep.
    * Output O(docs) where dd11's is O(pairs); as of round 9 BOTH
    * inputs come off the contain index — the pair scan AND the CC
    * labeling — so the per-query cost is one O(pairs) degree fold +
    * an O(docs) verdict join, with no candidate re-derivation. */
  def dd13(s: SparkSession, d: String): DataFrame = {
    val idx = cachedContainIndex(s, d)
    Dedup.containmentVerdict(
      Tables.parquet(s, s"$idx/pairs"),
      Dedup.dupGroupsReadIndex(s, s"$idx/labels"))
  }

  /** Build-if-missing CONTAINMENT index — `pairs/` (dd11's full
    * directed pair set, the prefix-filtered probe run ONCE at build
    * time) and `labels/` (dd6's CC algebra over the undirected pair
    * graph), one generation under [[cachedGroupsIndex]]'s key
    * convention. Round 9 (VERDICT r8 #3) promoted the pair set into
    * the layout: it is per-corpus-version infrastructure by the same
    * argument as the labels — every consumer (dd11's dump, dd13's
    * degrees + verdict, audits) re-derived it from the shingle index
    * per query, and at x30 that candidate probe was the whole cost.
    * Probe ≡ inline is spec-pinned (DedupSpec). */
  private[graft] def cachedContainIndex(s: SparkSession, d: String): String =
    // contain3 (round 16): pairs/ is range-partitioned + sorted by the
    // (doc_sub, doc_super) presentation key — see containWriteIndex
    LayoutStore.cached(s, "graft_dupidx", d, "documents",
        s"j$JaccardThreshold", "contain3") { tmp =>
      Dedup.containWriteIndex(s, cachedShingleIndex(s, d),
        Tables.documents(s, d), tmp, JaccardThreshold)
    }

  /** dd11's containment-pair CTE + dd6's recursive transitive closure
    * (undirected edges, min-reachable label) + degree counts + the
    * fewest-containers-first canonical rank, all stated relationally.
    * Closure is O(n·component) — oracle SF only. */
  val dd13Sql: String =
    s"""WITH RECURSIVE docsets AS (
      |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
      |  FROM documents),
      |prs AS (
      |  SELECT a.doc_id AS doc_sub, b.doc_id AS doc_super
      |  FROM docsets a, docsets b
      |  WHERE a.doc_id <> b.doc_id AND len(a.ws) > 0
      |   AND CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(a.ws)
      |    >= $JaccardThreshold),
      |edges AS (
      |  SELECT doc_sub AS src, doc_super AS dst FROM prs
      |  UNION ALL SELECT doc_super, doc_sub FROM prs),
      |rch(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.dst FROM rch r JOIN edges e ON r.dst = e.src),
      |grp AS (SELECT src AS doc_id, MIN(dst) AS group_id FROM rch GROUP BY src),
      |subs AS (SELECT doc_sub AS doc_id, COUNT(*) AS n_ci FROM prs GROUP BY 1),
      |sups AS (SELECT doc_super AS doc_id, COUNT(*) AS n_c FROM prs GROUP BY 1),
      |verdict AS (
      |  SELECT g.doc_id, g.group_id,
      |   CAST(COALESCE(sups.n_c, 0) AS BIGINT) AS n_contains,
      |   CAST(COALESCE(subs.n_ci, 0) AS BIGINT) AS n_contained_in
      |  FROM grp g
      |  LEFT JOIN subs ON subs.doc_id = g.doc_id
      |  LEFT JOIN sups ON sups.doc_id = g.doc_id),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY group_id
      |                               ORDER BY n_contained_in, doc_id) AS rk
      |  FROM verdict)
      |SELECT doc_id, group_id, n_contains, n_contained_in,
      | (rk = 1) AS is_canonical
      |FROM ranked ORDER BY doc_id""".stripMargin

  /** dd12: exact Levenshtein near-dup pairs, banded length blocking.
    * The oracle brute-forces same-language near-length pairs — sound
    * because dist ≤ k forces len diff ≤ k (the same pigeonhole the
    * Spark plan's bucketing rides). */
  def dd12(s: SparkSession, d: String): DataFrame =
    Dedup.editDistancePairs(Tables.documents(s, d), maxDist = 20)

  val dd12Sql: String =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      | CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
      |FROM documents a JOIN documents b
      | ON a.lang = b.lang AND a.doc_id < b.doc_id
      | AND abs(length(a.text) - length(b.text)) <= 20
      |WHERE levenshtein(a.text, b.text) <= 20
      |ORDER BY doc_a, doc_b""".stripMargin

  /** dd14: per-source DEDUP SHRINKAGE — the corpus-health number a
    * curation dashboard tracks per ingest source: how much does this
    * source collapse under transitive near-dup grouping? (A crawl
    * slice at 40 % shrinkage is template spam; a curated source near
    * 0 % is pulling its weight.) n_groups counts DISTINCT group
    * labels among the source's docs (a group spanning sources counts
    * for each — the per-source view is what the per-source decision
    * consumes); shrinkage = 1 − groups/docs is one shared
    * divide-then-subtract IEEE tree, bit-exact. Probes the SAME
    * materialized dup-groups index as dd7/dd10 — the CC labeling is
    * amortized infrastructure, never recomputed per query; the
    * registry cost is one O(docs) label join + an O(sources) rollup
    * with map-side partials. */
  def dd14(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"), col("source"))
      .join(cachedGroupsIndex(s, d, "full", docs), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("group_id")).as("n_groups"))
      .withColumn("shrinkage",
        lit(1.0) - col("n_groups").cast("double") / col("n_docs"))
      .orderBy(col("source"))
  }

  /** dd6's recursive-closure labeling rolled up per source; the
    * shrinkage tree is stated identically (CAST(1.0 AS DOUBLE) —
    * DuckDB's bare 1.0 is DECIMAL). */
  /** dd6's recursive-closure group labeling as a reusable CTE chain
    * (ends at `lab`: doc_id, group_id) — shared by dd14's rollup and
    * tx26's split so the oracle-side labeling can never drift from
    * the one definition. */
  private val GroupLabelCtes: String =
    s"""WITH RECURSIVE docsets AS (
      |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
      |  FROM documents),
      |prs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM docsets a, docsets b WHERE a.doc_id < b.doc_id
      |   AND CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
      |    (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= $JaccardThreshold),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM prs
      |  UNION ALL SELECT doc_b, doc_a FROM prs),
      |rch(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.dst FROM rch r JOIN edges e ON r.dst = e.src),
      |lab AS (SELECT src AS doc_id, MIN(dst) AS group_id FROM rch GROUP BY src)""".stripMargin

  val dd14Sql: String =
    s"""$GroupLabelCtes
      |SELECT d.source, COUNT(*) AS n_docs,
      | COUNT(DISTINCT l.group_id) AS n_groups,
      | CAST(1.0 AS DOUBLE) - CAST(COUNT(DISTINCT l.group_id) AS DOUBLE) / COUNT(*) AS shrinkage
      |FROM documents d JOIN lab l USING (doc_id)
      |GROUP BY d.source
      |ORDER BY d.source""".stripMargin

  /** dd15: the same recursive-closure labeling folded to group sizes,
    * banded with the identical CASE, doc_share = the same single
    * divide of exact counts. */
  val dd15Sql: String =
    s"""$GroupLabelCtes,
      |sz AS (SELECT group_id, COUNT(*) AS sz FROM lab GROUP BY group_id),
      |b AS (
      |  SELECT CASE WHEN sz = 1 THEN '1_singleton'
      |              WHEN sz = 2 THEN '2_pair'
      |              WHEN sz <= 9 THEN '3_cluster_3_9'
      |              ELSE '4_mega_10_plus' END AS band, sz
      |  FROM sz),
      |a AS (
      |  SELECT band, COUNT(*) AS n_groups, CAST(SUM(sz) AS BIGINT) AS n_docs
      |  FROM b GROUP BY band),
      |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM a)
      |SELECT band, n_groups, n_docs,
      | CAST(n_docs AS DOUBLE) / n_total AS doc_share
      |FROM a, t
      |ORDER BY band""".stripMargin

  /** dd15 (round 9): duplicate-GROUP SIZE distribution — the shape of
    * the duplication a corpus carries, where dd14 reports only its
    * volume: singletons (unique docs), pairs (mirrors/reposts), small
    * clusters (template families) and 10+ mega-groups (boilerplate
    * explosions — the band a curator investigates first, because one
    * mega-group at size 10⁴ means a template leak, not organic
    * duplication). Probes the SAME materialized dup-groups index as
    * dd7/dd14 (the CC labeling is amortized, never recomputed); one
    * O(docs) label join → O(groups) size aggregate → 4-row band
    * rollup, doc_share as one IEEE divide of exact counts riding a
    * global window over the 4-row aggregate (q87's shape). Band
    * labels carry a sort prefix so both engines order identically. */
  def dd15(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val sizes = docs.select(col("doc_id"))
      .join(cachedGroupsIndex(s, d, "full", docs), "doc_id")
      .groupBy(col("group_id")).agg(count(lit(1)).as("sz"))
    sizes
      .withColumn("band",
        when(col("sz") === 1, "1_singleton")
          .when(col("sz") === 2, "2_pair")
          .when(col("sz") <= 9, "3_cluster_3_9")
          .otherwise("4_mega_10_plus"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_groups"), sum(col("sz")).as("n_docs"))
      .withColumn("n_total",
        sum(col("n_docs")).over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("band"), col("n_groups"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_total")).as("doc_share"))
      .orderBy(col("band"))
  }

  /** dd16 (round 9): the THRESHOLD-TUNING CURVE for near-dup dedup —
    * ss14's nprobe sweep translated to the dedup family: before fixing
    * τ, a curator reads how pair volume and affected-document share
    * move across candidate thresholds (τ 0.7 / 0.8 / 0.9). Too high
    * and template families survive; too low and paraphrase-adjacent
    * docs collapse — this is the table that decision reads.
    *
    * ONE probe serves the whole sweep (round 11 — VERDICT r10 #1: the
    * old shape ran the prefix join once PER τ, 58.9 s at x30 with the
    * constant owned by the τ=0.7 point): the prefix rule at τ_min is
    * complete for every τ ≥ τ_min, and the probe's output carries the
    * EXACT verified jaccard, so pairs(τ) = pairs(τ_min) ∩ {J ≥ τ} — an
    * exact subset, derived by a filter, never a re-probe. Round 16:
    * the fold moved into `Dedup.thresholdCurveStats`, which on the
    * mask representation aggregates at the DISTINCT-MASK level (group
    * sizes × qualifying mask pairs) and never materializes a doc pair
    * — dd16 was expanding the τ_min candidate set to 2.01 M doc pairs
    * × 2 docs × ≤3 τ rows before folding (11.6 s executor CPU; the
    * mask fold is bounded by qualifying MASK pairs, 11.6 → ~1.4 s).
    * τ points the corpus never reaches are restored as zero rows by a
    * 3-row literal left join. Counts exact integers; the share is one
    * IEEE divide by the corpus size (driver scalar, q64's pattern) ⇒
    * every row hashes. */
  def dd16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = cachedShingleIndex(s, d)
    val nDocs = Tables.documents(s, d).count()
    val taus = Seq(0.7, 0.8, 0.9)
    val agg = Dedup.thresholdCurveStats(s, idx, taus)
    taus.toDF("tau").join(agg, Seq("tau"), "left")
      .select(col("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_with_dup"), lit(0L)).as("n_docs_with_dup"),
        (coalesce(col("n_docs_with_dup"), lit(0L)).cast("double") / nDocs)
          .as("dup_doc_share"))
      .orderBy(col("tau"))
  }

  /** dd2's all-pairs CTE swept across the same τ literals; the
    * per-doc appearance fold is restated as UNION ALL + COUNT
    * DISTINCT, n_pairs directly. */
  val dd16Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db,
      |   CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
      |    (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) AS jac
      |  FROM docs a, docs b
      |  WHERE a.doc_id < b.doc_id AND len(a.ws) > 0 AND len(b.ws) > 0),
      |n AS (SELECT COUNT(*) AS c FROM documents),
      |taus AS (SELECT unnest([CAST(0.7 AS DOUBLE), CAST(0.8 AS DOUBLE),
      |                        CAST(0.9 AS DOUBLE)]) AS tau),
      |f AS (SELECT t.tau, p.da, p.db FROM taus t JOIN pairs p ON p.jac >= t.tau),
      |agg AS (SELECT tau, COUNT(*) AS n_pairs FROM f GROUP BY tau),
      |dc AS (
      |  SELECT tau, COUNT(DISTINCT doc) AS nd FROM (
      |    SELECT tau, da AS doc FROM f UNION ALL SELECT tau, db FROM f)
      |  GROUP BY tau)
      |SELECT t.tau, COALESCE(a.n_pairs, 0) AS n_pairs,
      | COALESCE(dc.nd, 0) AS n_docs_with_dup,
      | CAST(COALESCE(dc.nd, 0) AS DOUBLE) / n.c AS dup_doc_share
      |FROM taus t CROSS JOIN n
      |LEFT JOIN agg a ON a.tau = t.tau
      |LEFT JOIN dc ON dc.tau = t.tau
      |ORDER BY t.tau""".stripMargin

  /** Write-once SimHash signature layout — dd4's signatures are
    * per-corpus infrastructure like every other family's (the
    * tokenize+hash+majority-vote pass was the last one recomputed
    * inline per query). */
  private[graft] def cachedSimhashIndex(s: SparkSession, d: String): String =
    LayoutStore.cached(s, "graft_simidx", d, "documents", "v1") { tmp =>
      Dedup.simhash(Tables.documents(s, d))
        .write.mode("overwrite").parquet(s"$tmp/sigs")
    }

  def dd4(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairsFrom(
      Tables.parquet(s, s"${cachedSimhashIndex(s, d)}/sigs"), maxHamming = 8)

  /** Build-if-missing duplicate-span index (round 13 — VERDICT r12
    * #2): dd8's span arrays and df ≥ 2 span set are corpus-static;
    * the registry probe is one explode + semi-join + per-doc count
    * off the at-rest 8-byte rows. Params token carries n. */
  private[graft] def cachedSpanIndex(s: SparkSession, d: String): String =
    LayoutStore.cached(s, "graft_spanidx", d, "documents", "n10v1")(
      Dedup.dupSpansWriteIndex(Tables.documents(s, d), 10, _))

  def dd8(s: SparkSession, d: String): DataFrame =
    Dedup.dupSpansProbe(s, cachedSpanIndex(s, d))

  def dd5(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingDup(Tables.embeddings(s, d), EmbDim, CosineDupThreshold)

  def ss1(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < NQueries), TopK)
  }

  /** ss18 (round 15): filtered vector search — exact same-label top-k
    * (Similarity.filteredTopK); the IVF-served sibling is spec-gated
    * in SimilaritySpec. */
  def ss18(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.filteredTopK(emb, emb.filter(col("vec_id") < NQueries), TopK)
  }

  /** ss1's oracle with the label predicate riding the join. */
  val ss18Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb,
      |   label AS q_label
      |  FROM embeddings WHERE vec_id < $NQueries),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |   list_cosine_similarity(q.q_emb, CAST(e.embedding AS DOUBLE[])) AS cosine
      |  FROM embeddings e, q
      |  WHERE e.vec_id <> q.query_id AND e.label = q.q_label),
      |ranked AS (
      |  SELECT query_id, vec_id, cosine,
      |   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
      |  FROM scored)
      |SELECT query_id, CAST(rnk AS BIGINT) AS "rank", vec_id, cosine
      |FROM ranked WHERE rnk <= $TopK
      |ORDER BY query_id, "rank"""".stripMargin

  /** ss1 is exact, so it oracles against DuckDB's cosine + rank window.
    * CAST to DOUBLE[] is load-bearing: DuckDB then accumulates in
    * double left-to-right exactly like graft_cosine (verified
    * bit-exact); on FLOAT[] it accumulates in float and diverges in
    * the 8th decimal. Ties broken (cosine DESC, vec_id ASC) in both
    * engines. */
  val ss1Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
      |  FROM embeddings WHERE vec_id < $NQueries),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |   list_cosine_similarity(q.q_emb, CAST(e.embedding AS DOUBLE[])) AS cosine
      |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cosine,
      |   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
      |  FROM scored)
      |SELECT query_id, CAST(rnk AS BIGINT) AS "rank", vec_id, cosine
      |FROM ranked WHERE rnk <= $TopK
      |ORDER BY query_id, "rank"""".stripMargin

  /** ss2 probes the materialized LSH index (round 6 — the last ANN
    * variant without one): signatures are computed once at build time,
    * a probe hashes only the query set and prunes to its bucket
    * directories. Probe ≡ inline lshTopK is spec-asserted. */
  def ss2(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshProbeIndex(s, cachedAnnIndex(s, d, "lsh"),
      emb.filter(col("vec_id") < NQueries), EmbDim, TopK)
  }

  /** Cell/list count for the ANN index builds: nlist = max(16,
    * ⌈n/512⌉), dd17's adaptive rule (round 14 — VERDICT r13 #1/#5).
    * A FIXED nlist is the measured superlinear trap twice over: the
    * hnsw build's per-cell neighbor self-join is Σ n_c² = O(n²/nlist)
    * (dd17's fixed-k curve went 2.2 → 22.8 s x1→x30), and a fixed
    * IVF probe fraction nprobe/nlist reads a constant QUARTER of the
    * corpus at any size — 25 TB per probe at 100 TB. With n/512
    * cells both are linear: cells stay ~512 vectors whatever the
    * corpus. n is memoized on the same size/mtime key the write-once
    * layouts use (the dd17 pattern), so no bench rep re-pays the
    * count job. At the oracle/spec SFs (n ≤ 2000) this resolves to
    * 16 — bit-identical to the fixed-parameter layouts the floors
    * were pinned on. */
  private[graft] def annNlist(s: SparkSession, d: String): Int = {
    val n = embCountCache.getOrElseUpdate(
      LayoutStore.layoutKey(s, d, "embeddings", "cnt"), Tables.embeddings(s, d).count())
    math.max(16L, (n + 511) / 512).toInt
  }

  /** Build-if-missing materialized ANN index over the embeddings table
    * — same write-once-per-SF-dir convention as [[cachedGroupsIndex]]
    * (keyed on embeddings.parquet size/mtime). Training an ANN index
    * is amortized infrastructure rebuilt on corpus refresh; serving
    * queries PROBE the at-rest layout (partition-pruned IVF dirs,
    * 8-byte PQ code rows) — at 100 TB nobody re-trains Lloyd per
    * query batch. Probe ≡ inline is spec-asserted per variant
    * (IvfIndexSpec). */
  private[graft] def cachedAnnIndex(s: SparkSession, d: String, variant: String): String = {
    // v4 = adaptive geometry: nlist max(16, ⌈n/512⌉), nprobe
    // nlist/4, m 8, ksub 16, 2 Lloyd iters over EmbDim dims — bump
    // on any change (v1→v2: trainCentroids means moved to
    // order-independent DECIMAL(18,6) sums for the recluster
    // equivalence contract; v2→v3: pq/ivfpq layouts grew residuals/
    // trained state in round 11 WITHOUT a bump — ADVICE r11: a stale
    // cached layout served build-if-missing broke pqResidualDrift
    // with an opaque read error — and round 12 re-partitioned the
    // flat pq code table by the vec_id range key for the idempotent
    // append; v3→v4: round 14 made nlist corpus-adaptive and split
    // the hnsw layout into emb/ + edge-only graph/ + meta/)
    LayoutStore.cached(s, "graft_annidx", d, "embeddings",
        s"v4d$EmbDim", variant) { tmp =>
      val emb = Tables.embeddings(s, d)
      val nlist = annNlist(s, d)
      variant match {
          case "ivf"   => Similarity.ivfWriteIndex(emb, tmp, nlist)
          case "pq"    => Similarity.pqWriteIndex(emb, tmp, EmbDim)
          case "ivfpq" => Similarity.ivfPqWriteIndex(emb, tmp, EmbDim, nlist)
          case "lsh"   => Similarity.lshWriteIndex(emb, tmp, EmbDim)
          // the nightly-maintenance shape (round 8): centroids trained
          // on the base 7/8 of the corpus, the delta 1/8 appended to
          // the existing lists WITHOUT a rebuild — ss8's ivf_delta
          // recall row gauges the list-balance drift this accepts
          case "ivf_delta" =>
            Similarity.ivfWriteIndex(emb.filter(col("vec_id") % 8 =!= 0), tmp, nlist)
            Similarity.ivfAppendDelta(emb.filter(col("vec_id") % 8 === 0), tmp)
          // the ACT stage (round 9 — VERDICT r8 #2): the ivf_delta
          // index re-trained over everything it holds, published as
          // its own generation; ss8's ivf_reclustered row shows the
          // recall recovering to the full-build level
          case "ivf_recluster" =>
            Similarity.ivfRecluster(s, cachedAnnIndex(s, d, "ivf_delta"), tmp)
          // ivf_delta's twin for the PQ family (round 11): codebook
          // trained on the base 7/8, the delta 1/8 encoded against the
          // FROZEN books and appended — ss16 gauges the residual drift
          // this accepts
          case "pq_delta" =>
            Similarity.pqWriteIndex(emb.filter(col("vec_id") % 8 =!= 0), tmp, EmbDim)
            Similarity.pqAppendDelta(emb.filter(col("vec_id") % 8 === 0), tmp)
          // the standing 7/8 WITHOUT its delta — st17's streaming
          // ingest copies this per run and streams the delta eighth in
          case "ivf_base" =>
            Similarity.ivfWriteIndex(emb.filter(col("vec_id") % 8 =!= 0), tmp, nlist)
          // graph ANN (round 13 — VERDICT r12 #7): cell-blocked
          // neighbor lists + hub entry points, beam-searched; nlist
          // MUST scale with the corpus here (VERDICT r13 #1: the
          // build's per-cell self-join is O(n²/nlist) — fixed 16
          // cells is infeasible at 100 TB)
          case "hnsw" => Similarity.hnswWriteIndex(emb, tmp, nlist)
      }
    }
  }

  /** Every write-once derived layout family, in build order (contain
    * reads the shingle index, so shidx precedes it), each with the
    * build-if-missing call that publishes it, returning the published
    * path. Names follow perfbench's `layout.build_s.<family>`. The
    * board builds them all before timing queries, so one-off build
    * cost is reported apart from probe cost; `graft.Bench layouts`
    * deletes and retimes the ones it is given. Each build is keyed on
    * its source's size and mtime, so a present layout is skipped. */
  val layouts: Seq[(String, (SparkSession, String) => String)] = {
    import graft.queries.{CoreQueries => CQ}
    import graft.sources.{AvroIngest, CsvIngest, OrcIngest}
    def ann(v: String): (String, (SparkSession, String) => String) =
      s"ann_$v" -> ((s, d) => cachedAnnIndex(s, d, v))
    Seq[(String, (SparkSession, String) => String)](
      "dupidx_full" -> ((s, d) => groupsIndexPath(s, d, "full", Tables.documents(s, d))),
      "dupidx_nondelta" -> ((s, d) =>
        groupsIndexPath(s, d, "nondelta", Tables.documents(s, d).filter(!isDeltaDoc))),
      "shidx" -> cachedShingleIndex _,
      "shidx_nd" -> cachedShingleIndexNondelta _,
      "contain" -> cachedContainIndex _,
      "spanidx" -> cachedSpanIndex _,
      "cdcidx" -> cachedCdcIndex _,
      "blidx" -> ((s, d) => cachedBoilerIndex(s, d, 3)),
      "simidx" -> cachedSimhashIndex _,
      "phidx" -> cachedPhashIndex _,
      "ctidx_ascii" -> ((s, d) => cachedContamIndex(s, d, "ascii", TextFunctions.tokensExpr)),
      "ctidx_uni" -> ((s, d) => cachedContamIndex(s, d, "uni", TextFunctions.unicodeTokensExpr))) ++
      Seq("ivf", "pq", "ivfpq", "lsh", "ivf_delta", "ivf_recluster", "pq_delta",
        "ivf_base", "hnsw").map(ann) ++
      Seq[(String, (SparkSession, String) => String)](
        "csv" -> CsvIngest.customerCsvPath _,
        "json" -> CsvIngest.documentsJsonPath _,
        "avro" -> AvroIngest.supplierAvroPath _,
        "zorder" -> CQ.zorderLayoutPath _,
        "zorder3" -> CQ.zorder3LayoutPath _,
        "copurchase" -> CQ.copurchaseLayout _,
        "prgraph" -> CQ.q73GraphLayout _,
        "ivmview" -> CQ.q84StandingViewPath _,
        "orc" -> OrcIngest.ordersOrcPath _,
        "bucketed" -> SqlQueries.q95BucketedLayoutPath _)
  }

  def ss3(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfProbeIndex(s, cachedAnnIndex(s, d, "ivf"),
      emb.filter(col("vec_id") < NQueries), TopK)
  }

  def ss4(s: SparkSession, d: String): DataFrame =
    Similarity.labelCentroids(Tables.embeddings(s, d))

  /** Round 15: serves through the ADC→exact-rerank path (the
    * perturbed recall curve showed un-reranked PQ at 0.42 recall once
    * near-twins pack within quantization resolution; the refine stage
    * is the standard fix). ss8 keeps the raw probe as `pq_adc`. */
  def ss5(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.pqProbeIndexReranked(s, cachedAnnIndex(s, d, "pq"),
      emb.filter(col("vec_id") < NQueries), emb, TopK)
  }

  def ss6(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.knnClassify(emb, emb.filter(col("vec_id") < NQueries), TopK)
  }

  /** ss1's exact neighbor CTEs extended with a majority vote; the
    * argmax window mirrors max_by's (n_votes, −label) ordering. */
  val ss6Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
      |  FROM embeddings WHERE vec_id < $NQueries),
      |scored AS (
      |  SELECT q.query_id, e.vec_id,
      |   list_cosine_similarity(q.q_emb, CAST(e.embedding AS DOUBLE[])) AS cosine
      |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id,
      |   row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
      |  FROM scored),
      |votes AS (
      |  SELECT r.query_id, e.label, COUNT(*) AS n_votes
      |  FROM ranked r JOIN embeddings e USING (vec_id)
      |  WHERE r.rnk <= $TopK
      |  GROUP BY r.query_id, e.label)
      |SELECT query_id, label AS pred_label, n_votes FROM (
      | SELECT *, row_number() OVER (PARTITION BY query_id
      |                              ORDER BY n_votes DESC, label) AS r
      | FROM votes)
      |WHERE r = 1
      |ORDER BY query_id""".stripMargin

  /** Round 15: reranked like [[ss5]] — coarse pruning + code-width IO
    * still bound the candidate scan; the refine fetch is
    * |queries|·k·f point rows off the flat store. */
  def ss7(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfPqProbeIndexReranked(s, cachedAnnIndex(s, d, "ivfpq"),
      emb.filter(col("vec_id") < NQueries), emb, TopK)
  }

  /** ss8: recall@k of each ANN variant vs ss1's exact top-k at the
    * registry's default parameters — rows-gated (engine-specific
    * metric), floors pinned in SimilaritySpec. IVF/PQ/IVFPQ evaluate
    * through their materialized-index probe plans (≡ inline by
    * IvfIndexSpec), so the evaluation retrains nothing — LSH included
    * as of round 6 (corpus signatures come off the bucket layout). */
  def ss8(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < NQueries)
    // Index paths resolve (and cold-build) SEQUENTIALLY — the layout
    // publish protocol is single-writer; warm resolution is an
    // existence check.
    val lsh = cachedAnnIndex(s, d, "lsh"); val ivf = cachedAnnIndex(s, d, "ivf")
    val pq = cachedAnnIndex(s, d, "pq"); val ivfpq = cachedAnnIndex(s, d, "ivfpq")
    val ivfDelta = cachedAnnIndex(s, d, "ivf_delta")
    val ivfRecl = cachedAnnIndex(s, d, "ivf_recluster")
    val hnsw = cachedAnnIndex(s, d, "hnsw")
    // Probe CONSTRUCTION is where ss8's wall lives (round 16, measured
    // 5.2 s construct vs 2.2 s execute): each variant runs 2+ driver
    // actions (centroid collect, probed-cid distinct, hnsw beam
    // rounds) back-to-back on an idle 32-core scheduler. The variants
    // are independent — build them concurrently (same plans, same
    // rows; assembly order preserved).
    Similarity.annRecallOf(emb, q, TopK, buildVariants(Seq(
      "ss2_lsh"   -> (() => Similarity.lshProbeIndex(s, lsh, q, EmbDim, TopK)),
      "ss3_ivf"   -> (() => Similarity.ivfProbeIndex(s, ivf, q, TopK)),
      // the REGISTRY serving paths (reranked as of round 15) ...
      "ss5_pq"    -> (() => Similarity.pqProbeIndexReranked(s, pq, q, emb, TopK)),
      "ss7_ivfpq" -> (() => Similarity.ivfPqProbeIndexReranked(s, ivfpq, q, emb, TopK)),
      // ... and the un-reranked ADC rows they superseded, kept as the
      // gauge of what the refine stage buys (the perturbed x30p curve
      // read 0.42 here while the exact-distance variants held ≥0.98)
      "pq_adc"    -> (() => Similarity.pqProbeIndex(s, pq, q, TopK)),
      "ivfpq_adc" -> (() => Similarity.ivfPqProbeIndex(s, ivfpq, q, TopK)),
      // base-trained centroids ⊕ appended delta (VERDICT r7 #7): the
      // recall gauge that says when appended drift warrants re-
      // clustering — scored against the same exact top-k as the rest
      "ivf_delta" -> (() => Similarity.ivfProbeIndex(s, ivfDelta, q, TopK)),
      // the same index AFTER ivfRecluster (round 9 — VERDICT r8 #2):
      // the observe-decide-ACT loop closed — this row must sit at the
      // full-build ivf level again (floor spec'd in SimilaritySpec)
      "ivf_reclustered" -> (() => Similarity.ivfProbeIndex(s, ivfRecl, q, TopK)),
      // graph ANN (round 13): beam search over the materialized
      // neighbor graph — the recall/latency frontier entry
      "ss17_hnsw" -> (() => Similarity.hnswProbeIndex(s, hnsw, q, TopK)))))
  }

  /** Construct independent probe PLANS concurrently (round 16). Each
    * ANN probe constructor runs bounded driver actions (centroid
    * collects, probed-list distincts, beam rounds); sequencing them
    * serialized ss8/ss14's wall on an otherwise idle scheduler.
    * Concurrent job submission from one SparkSession is a supported
    * Spark pattern; every result plan is identical to the sequential
    * build, and assembly order (→ output order) is the caller's Seq
    * order. */
  private def buildVariants(defs: Seq[(String, () => DataFrame)]): Seq[(String, DataFrame)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    defs.map { case (n, f) => n -> Future(f()) }
      .map { case (n, fut) => n -> Await.result(fut, Duration.Inf) }
  }

  /** ss17 (round 13 — VERDICT r12 #7): HNSW-lite graph ANN — beam
    * search over a materialized cell-blocked neighbor graph with hub
    * entry points (Similarity.hnswWriteIndex/hnswProbeIndex). Spec-
    * gated like every ANN sibling (recall floor vs ss1, planted-dup
    * rank-1, determinism — SimilaritySpec); ss8 carries its recall
    * row. */
  def ss17(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.hnswProbeIndex(s, cachedAnnIndex(s, d, "hnsw"),
      emb.filter(col("vec_id") < NQueries), TopK)
  }

  /** ss14: the nprobe→recall TUNING CURVE over the materialized IVF
    * index — the table a user reads before fixing the probe budget
    * (ss8 scores every variant at ONE operating point; this sweeps
    * the IVF knob: recall@k vs nprobe ∈ {1,2,4,8,16}): exact top-k
    * computed ONCE (annRecallOf caches it), each sweep point is one
    * partition-pruned probe of the same on-disk index reading
    * nprobe/nlist of the files. Two invariants make it spec-able
    * without an oracle: per-query recall is MONOTONE non-decreasing
    * in nprobe (a probed-list superset only adds candidates, and an
    * exact-top-k member can only be displaced by another exact
    * member), and nprobe = nlist probes everything ⇒ recall exactly
    * 1.0 (same deterministic comparator as the brute-force side). */
  def ss14(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < NQueries)
    val idx = cachedAnnIndex(s, d, "ivf")
    // concurrent sweep-point construction — ss8's rationale (each
    // probe = 2 sequential driver actions against the same idle pool)
    Similarity.annRecallOf(emb, q, TopK,
      buildVariants(Seq(1, 2, 4, 8, 16).map(np =>
        f"nprobe_$np%02d" -> (() => Similarity.ivfProbeIndex(s, idx, q, TopK, nprobe = np)))))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n_queries"),
        (sum(col("recall")) / count(lit(1))).as("mean_recall"))
      .orderBy(col("variant"))
  }

  /** ss15 (round 9): per-list centroid drift over the delta-appended
    * IVF index — the DECIDE gauge of the observe-decide-act loop
    * (Similarity.centroidDrift; ss8 observes recall, ivfRecluster
    * acts). Rows-gated: the trained centroids are index state, not
    * SQL-derivable; determinism + planted-drift behavior spec'd in
    * IvfIndexSpec. */
  def ss15(s: SparkSession, d: String): DataFrame =
    Similarity.centroidDrift(s, cachedAnnIndex(s, d, "ivf_delta"))

  /** ss16 (round 11): per-subspace PQ codebook residual drift — the
    * delta eighth's raw rows gauged against the frozen codebook's
    * build-time residual floor (see Similarity.pqResidualDrift; the
    * delta split is ivf_delta's, so the two DECIDE gauges read the
    * same nightly shape). Rows + spec gated: the value chain ends in
    * sqrt/divide over DECIMAL-exact means, deterministic run-to-run
    * but not ANSI-SQL-expressible without re-stating Lloyd. */
  def ss16(s: SparkSession, d: String): DataFrame =
    Similarity.pqResidualDrift(s, cachedAnnIndex(s, d, "pq_delta"),
      Tables.embeddings(s, d).filter(col("vec_id") % 8 === 0))

  /** ss11: hybrid lexical+semantic retrieval — fully oracle-gated
    * (both fusion components exact; see Similarity.hybridTopK). The
    * documents and embeddings tables share one id space, so each id
    * carries a text AND a vector; queries are the first NQueries ids
    * (their text is the lexical query, their embedding the dense
    * query). */
  def ss11(s: SparkSession, d: String): DataFrame =
    Similarity.hybridTopK(Tables.documents(s, d), Tables.embeddings(s, d),
      NQueries, TopK)

  /** ss1's DOUBLE[] cosine CTE + dd2's token-set machinery + the same
    * fusion tree (cosine·0.5 + jaccard·0.5, guarded union-0 case),
    * rank (fused DESC, vec_id ASC) ≡ graft_topk's comparator. */
  val ss11Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
      |  FROM documents),
      |c AS (
      |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, t.ws
      |  FROM embeddings e JOIN toks t ON t.doc_id = e.vec_id),
      |q AS (SELECT vec_id AS query_id, emb AS q_emb, ws AS q_ws
      |      FROM c WHERE vec_id < $NQueries),
      |scored AS (
      |  SELECT q.query_id, c.vec_id,
      |   list_cosine_similarity(q.q_emb, c.emb) AS cosine,
      |   CASE WHEN len(q.q_ws) + len(c.ws) - len(list_intersect(q.q_ws, c.ws)) > 0
      |    THEN CAST(len(list_intersect(q.q_ws, c.ws)) AS DOUBLE) /
      |     (len(q.q_ws) + len(c.ws) - len(list_intersect(q.q_ws, c.ws)))
      |    ELSE 0.0 END AS lexical
      |  FROM c, q WHERE c.vec_id <> q.query_id),
      |fused AS (
      |  SELECT *, cosine * 0.5 + lexical * 0.5 AS fused FROM scored),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id
      |                               ORDER BY fused DESC, vec_id) AS rk
      |  FROM fused)
      |SELECT query_id, CAST(rk AS BIGINT) AS "rank", vec_id, cosine, lexical, fused
      |FROM ranked WHERE rk <= $TopK
      |ORDER BY query_id, "rank"""".stripMargin

  /** ss12: MMR-diversified retrieval — fully oracle-gated: the greedy
    * trajectory is bit-determined (see Similarity.mmrDiversify), so
    * the oracle UNROLLS the same k greedy stages as plain SQL, each
    * stage = anti-join remaining, max-sim against the union of prior
    * picks, shared score tree, rank-1 argmax with the same tie rule. */
  private val MmrM = 10
  private val MmrK = 5

  def ss12(s: SparkSession, d: String): DataFrame =
    Similarity.mmrDiversify(Tables.embeddings(s, d), NQueries, MmrM, MmrK)

  val ss12Sql: String = {
    val head = s"""WITH c0 AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM c0 WHERE vec_id < $NQueries),
      |scored AS (
      |  SELECT q.query_id, c.vec_id, list_cosine_similarity(q.q_emb, c.emb) AS rel, c.emb
      |  FROM c0 c, q WHERE c.vec_id <> q.query_id),
      |cand AS (
      |  SELECT query_id, vec_id, rel, emb FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id
      |                                 ORDER BY rel DESC, vec_id) AS rk
      |    FROM scored) WHERE rk <= $MmrM),
      |s1 AS (
      |  SELECT query_id, CAST(1 AS BIGINT) AS mmr_rank, vec_id, rel,
      |   CAST(0.0 AS DOUBLE) AS max_sim, 0.7*rel - 0.3*CAST(0.0 AS DOUBLE) AS mmr_score, emb
      |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |          ORDER BY 0.7*rel - 0.3*CAST(0.0 AS DOUBLE) DESC, vec_id) AS prk
      |        FROM cand) WHERE prk = 1)""".stripMargin
    val stages = (2 to MmrK).map { r =>
      val union = (1 until r).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
      s"""u${r - 1} AS ($union),
      |rem$r AS (
      |  SELECT c.* FROM cand c WHERE NOT EXISTS (
      |    SELECT 1 FROM u${r - 1} u
      |    WHERE u.query_id = c.query_id AND u.vec_id = c.vec_id)),
      |ms$r AS (
      |  SELECT r.query_id, r.vec_id,
      |   MAX(list_cosine_similarity(r.emb, u.emb)) AS max_sim
      |  FROM rem$r r JOIN u${r - 1} u ON u.query_id = r.query_id
      |  GROUP BY r.query_id, r.vec_id),
      |sc$r AS (
      |  SELECT r.query_id, r.vec_id, r.rel, r.emb, m.max_sim,
      |   0.7*r.rel - 0.3*m.max_sim AS mmr_score
      |  FROM rem$r r JOIN ms$r m
      |    ON m.query_id = r.query_id AND m.vec_id = r.vec_id),
      |s$r AS (
      |  SELECT query_id, CAST($r AS BIGINT) AS mmr_rank, vec_id, rel,
      |   max_sim, mmr_score, emb
      |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
      |          ORDER BY mmr_score DESC, vec_id) AS prk
      |        FROM sc$r) WHERE prk = 1)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val all = (1 to MmrK).map(i => s"SELECT * FROM s$i").mkString(" UNION ALL ")
    s"""$head$stages
      |SELECT query_id, mmr_rank, vec_id, rel, max_sim, mmr_score
      |FROM ($all)
      |ORDER BY query_id, mmr_rank""".stripMargin
  }

  private val RangeMinCosine = 0.25

  def ss9(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.rangeSearch(emb, emb.filter(col("vec_id") < NQueries), RangeMinCosine)
  }

  /** ss9 is exact; same bit-exact DOUBLE[] cosine as ss1's oracle. */
  val ss9Sql: String =
    s"""WITH q AS (
      |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
      |  FROM embeddings WHERE vec_id < $NQueries)
      |SELECT q.query_id, e.vec_id,
      | list_cosine_similarity(q.q_emb, CAST(e.embedding AS DOUBLE[])) AS cosine
      |FROM embeddings e, q
      |WHERE e.vec_id <> q.query_id
      | AND list_cosine_similarity(q.q_emb, CAST(e.embedding AS DOUBLE[])) >= $RangeMinCosine
      |ORDER BY query_id, vec_id""".stripMargin

  private val KmeansK = 8
  private val KmeansIters = 2

  def ss10(s: SparkSession, d: String): DataFrame =
    Similarity.kmeansAssign(Tables.embeddings(s, d), KmeansK, KmeansIters)

  /** ss13: CLUSTER-HEALTH STATS — the O(k) index-health rollup a user
    * reads before deciding to re-cluster (the aggregate view behind
    * ss8's ivf_delta recall gauge): per cluster, member count, corpus
    * share, imbalance factor n·k/N (1.0 = perfectly balanced lists;
    * a 3× list is a 3× probe-cost hot spot at fixed nprobe), and mean
    * squared distance to the centroid in micro²-units (list
    * tightness — drift pushes it up). Runs over ss10's EXACT integer
    * kmeans assignment so every column is gate-able: counts are
    * integers, sums of int64 distances accumulate in DECIMAL(38,0)
    * (order-independent), and each IEEE value is ONE shared divide of
    * exactly-agreed operands (the >2⁵³ distance sum string-hops per
    * q54's lesson). The stats fold itself is assignment-agnostic —
    * IvfIndexSpec runs the same shape over the REAL materialized IVF
    * index (base and delta-appended) where the float-trained
    * assignment is spec territory. Plan: one partial-agg'd pass over
    * the assignment to k rows; the total and every ratio ride the
    * k-row aggregate (q87's global-window-on-tiny-aggregate shape). */
  def ss13(s: SparkSession, d: String): DataFrame =
    Similarity.clusterStats(
      Similarity.kmeansAssign(Tables.embeddings(s, d), KmeansK, KmeansIters),
      KmeansK, "cluster", dist2uCol = Some("dist2u"))

  /** ss10's oracle unrolls the SAME two Lloyd rounds the Spark side
    * runs, in the same int64 micro-units: coordinates quantized to
    * DECIMAL(18,6) then ×10⁶ → BIGINT, exact integer squared
    * distances (sum-order-independent), argmin tie-broken on cluster
    * id, half-up means via the shared pmod-floor identity, empty
    * clusters COALESCEd to their previous centroid. Pure integer
    * arithmetic end to end, so assignments AND distances hash
    * bit-exactly. (SUM(BIGINT) is HUGEINT in DuckDB — cast back
    * before reuse.) */
  /** The unrolled two-round integer-kmeans CTE chain, shared by ss10's
    * per-vector oracle and ss13's rollup oracle (one definition — a
    * drift between the two would silently decouple the stats from the
    * assignment they claim to summarize). Ends at `a2` (vec_id,
    * cluster, dist, rn); consumers filter rn = 1. */
  private def kmeansCtes(limitExpr: String): String =
    s"""WITH x AS (
      |  SELECT vec_id, gs - 1 AS pos,
      |   CAST(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS xi
      |  FROM (SELECT vec_id, unnest(embedding) AS v,
      |               generate_subscripts(embedding, 1) AS gs FROM embeddings)),
      |seeds AS (
      |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
      |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $limitExpr)),
      |c0 AS (
      |  SELECT s.cluster, x.pos, x.xi AS c
      |  FROM seeds s JOIN x ON x.vec_id = s.vec_id),
      |d1 AS (
      |  SELECT x.vec_id, c.cluster,
      |   CAST(SUM((x.xi - c.c) * (x.xi - c.c)) AS BIGINT) AS dist
      |  FROM x JOIN c0 c ON c.pos = x.pos
      |  GROUP BY x.vec_id, c.cluster),
      |a1 AS (
      |  SELECT vec_id, cluster,
      |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
      |  FROM d1),
      |m1 AS (
      |  SELECT a.cluster, x.pos, CAST(SUM(x.xi) AS BIGINT) AS s, COUNT(*) AS n
      |  FROM a1 a JOIN x USING (vec_id)
      |  WHERE a.rn = 1
      |  GROUP BY a.cluster, x.pos),
      |c1 AS (
      |  SELECT c0.cluster, c0.pos,
      |   COALESCE(CAST((2*m.s + m.n - ((((2*m.s + m.n) % (2*m.n)) + 2*m.n) % (2*m.n)))
      |                 / (2*m.n) AS BIGINT), c0.c) AS c
      |  FROM c0 LEFT JOIN m1 m ON m.cluster = c0.cluster AND m.pos = c0.pos),
      |d2 AS (
      |  SELECT x.vec_id, c.cluster,
      |   CAST(SUM((x.xi - c.c) * (x.xi - c.c)) AS BIGINT) AS dist
      |  FROM x JOIN c1 c ON c.pos = x.pos
      |  GROUP BY x.vec_id, c.cluster),
      |a2 AS (
      |  SELECT vec_id, cluster, dist,
      |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
      |  FROM d2)""".stripMargin

  /** ss10/ss13's fixed-k instantiation; dd17 instantiates the SAME
    * chain with its adaptive seed-count expression — the unrolled
    * Lloyd arithmetic is k-agnostic (everything joins off seeds). */
  private val KmeansCtes: String = kmeansCtes(KmeansK.toString)

  val ss10Sql: String =
    s"""$KmeansCtes
      |SELECT vec_id, CAST(cluster AS INTEGER) AS cluster, dist AS dist2u
      |FROM a2 WHERE rn = 1
      |ORDER BY vec_id""".stripMargin

  /** ss13's rollup over the same chain; every ratio is one divide of
    * exactly-shared operands (n_total ≪ 2⁵³ so the HUGEINT→DOUBLE
    * hop is exact; the distance sum string-hops, q54's lesson). */
  val ss13Sql: String =
    s"""$KmeansCtes,
      |lab AS (SELECT vec_id, cluster, dist FROM a2 WHERE rn = 1),
      |cs AS (
      |  SELECT cluster, COUNT(*) AS n_vecs,
      |   SUM(CAST(dist AS DECIMAL(38,0))) AS sdec
      |  FROM lab GROUP BY cluster),
      |tot AS (SELECT SUM(n_vecs) AS n_total FROM cs)
      |SELECT CAST(cluster AS INTEGER) AS cluster, n_vecs,
      | CAST(n_vecs AS DOUBLE) / n_total AS share,
      | CAST(n_vecs * $KmeansK AS DOUBLE) / n_total AS imbalance,
      | CAST(CAST(sdec AS VARCHAR) AS DOUBLE) / n_vecs AS mean_dist2u
      |FROM cs, tot
      |ORDER BY cluster""".stripMargin

  /** dd17: SemDeDup — semantic dedup via k-means cluster blocking
    * (Similarity.semanticDedup). Lives in the dd family but rides
    * ss10's kmeans: same K/iters, so the cluster structure a user
    * inspects through ss10/ss13 is the one dd17 blocks with. ORACLE-
    * GATED end to end — the integer-exact Lloyd rounds (ss10's CTEs),
    * the bit-exact cosine (ss1's parity), and dd6's recursive-CTE
    * components compose into one statement; clustering-based dedup
    * almost never gates this strongly. */
  /** Cell budget for dd17's cluster blocking: k = max(KmeansK,
    * ⌈n/512⌉), so cells hold ~512 vectors at ANY corpus size — the
    * SemDeDup contract that keeps pair cost Σ nᶜ² ≈ n·512 LINEAR in
    * the corpus (fixed k measured superlinear: 2.2 → 22.8 s x1→x30;
    * cells grew 30×, pairs 900×). At the oracle-gated SFs n/512 < 8,
    * so k resolves to KmeansK and the unrolled k=8 oracle CTEs state
    * the same computation. Lloyd itself is O(n·k) = O(n²/512) under
    * this rule; at true scale the trainer runs on a sample (the IVF
    * trainer's documented boundary) — at bench scale it's the smaller
    * term. */
  private val SemDedupCellSize = 512L

  /** n is corpus-static per dataset dir — memoized on the same
    * size/mtime key the write-once layouts use, so a bench rep never
    * re-pays the count job. The ORACLE below states the SAME adaptive
    * rule (its seed LIMIT is the GREATEST(K, CEIL(n/512)) subquery),
    * so the two regimes cannot silently diverge however large the
    * oracle corpus grows — the unrolled Lloyd CTE chain is k-agnostic
    * (everything joins off seeds). */
  private val embCountCache = scala.collection.concurrent.TrieMap.empty[String, Long]

  def dd17(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val n = embCountCache.getOrElseUpdate(
      LayoutStore.layoutKey(s, d, "embeddings", "cnt"), emb.count())
    val k = math.max(KmeansK.toLong,
      (n + SemDedupCellSize - 1) / SemDedupCellSize).toInt
    Similarity.semanticDedup(emb, k, KmeansIters, CosineDupThreshold)
  }

  private val SemDedupSeedLimit: String =
    s"(SELECT GREATEST($KmeansK, CAST(CEIL(COUNT(*) / $SemDedupCellSize.0) AS BIGINT)) " +
      "FROM embeddings)"

  val dd17Sql: String =
    s"""${kmeansCtes(SemDedupSeedLimit).replaceFirst("WITH ", "WITH RECURSIVE ")},
      |asg AS (SELECT vec_id, cluster, dist AS dist2u FROM a2 WHERE rn = 1),
      |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |prs AS (
      |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      |  FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      |  JOIN ev ea ON ea.vec_id = a.vec_id
      |  JOIN ev eb ON eb.vec_id = b.vec_id
      |  WHERE list_cosine_similarity(ea.e, eb.e) >= $CosineDupThreshold),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
      |          UNION ALL SELECT doc_b, doc_a FROM prs),
      |rch(src, dst) AS (
      |  SELECT vec_id, vec_id FROM embeddings
      |  UNION
      |  SELECT r.src, e2.dst FROM rch r JOIN edges e2 ON r.dst = e2.src),
      |grp AS (SELECT src AS vec_id, MIN(dst) AS group_id FROM rch GROUP BY src),
      |lab AS (SELECT g.vec_id, a.cluster, g.group_id, a.dist2u
      |        FROM grp g JOIN asg a USING (vec_id)),
      |kp AS (
      |  SELECT group_id, vec_id AS keep_vec FROM (
      |    SELECT group_id, vec_id, row_number() OVER (PARTITION BY group_id
      |      ORDER BY dist2u DESC, vec_id DESC) AS krn
      |    FROM lab) WHERE krn = 1)
      |SELECT l.vec_id, CAST(l.cluster AS INTEGER) AS cluster, l.group_id,
      | (l.vec_id = k.keep_vec) AS keep
      |FROM lab l JOIN kp k USING (group_id)
      |ORDER BY l.vec_id""".stripMargin

  /** Long-form per-label centroids; generate_subscripts aligns with
    * Spark's posexplode (shifted to 0-based). DOUBLE cast before the
    * DECIMAL accumulation mirrors the Spark plan exactly. */
  val ss4Sql: String =
    """SELECT label, CAST(gs - 1 AS BIGINT) AS pos, COUNT(*) AS n_vecs,
      | CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)
      |   / COUNT(*) AS centroid
      |FROM (
      | SELECT label, unnest(embedding) AS v,
      |  generate_subscripts(embedding, 1) AS gs
      | FROM embeddings)
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin

  def tx1(s: SparkSession, d: String): DataFrame = TextFunctions.tokenStats(Tables.documents(s, d))
  def tx2(s: SparkSession, d: String): DataFrame = TextFunctions.qualityScore(Tables.documents(s, d))
  def tx3(s: SparkSession, d: String): DataFrame = TextFunctions.languageId(Tables.documents(s, d))
  def tx4(s: SparkSession, d: String): DataFrame = TextFunctions.fingerprints(Tables.documents(s, d))

  def tx5(s: SparkSession, d: String): DataFrame = TextFunctions.bpeTokenStats(Tables.documents(s, d))
  def tx9(s: SparkSession, d: String): DataFrame = TextFunctions.redactPii(Tables.documents(s, d))
  def tx10(s: SparkSession, d: String): DataFrame = TextFunctions.cleanCorpus(Tables.documents(s, d))
  def tx6(s: SparkSession, d: String): DataFrame = TextFunctions.vocabTopK(Tables.documents(s, d), 100)
  /** Build-if-missing train-side distinct contamination shingle set
    * (round 14): the gate's corpus-static half under the write-once
    * convention, one sub-layout per tokenizer regime. The registry
    * tx11/tx33 then tokenize only the eval tenth per run — probe ≡
    * inline spec-pinned for both regimes (TextFunctionsSpec). */
  private[graft] def cachedContamIndex(s: SparkSession, d: String,
      tag: String, tokens: String): String =
    LayoutStore.cached(s, "graft_ctidx", d, "documents", "n3v1", tag) { tmp =>
      TextFunctions.contaminationTrainSet(Tables.documents(s, d), 3, tokens)
        .write.mode("overwrite").parquet(s"$tmp/train")
    }

  def tx11(s: SparkSession, d: String): DataFrame =
    TextFunctions.contaminationProbe(Tables.documents(s, d),
      Tables.parquet(s, s"${cachedContamIndex(s, d, "uni", TextFunctions.unicodeTokensExpr)}/train"))
  def tx12(s: SparkSession, d: String): DataFrame = TextFunctions.packDocs(Tables.documents(s, d), 512)
  def tx13(s: SparkSession, d: String): DataFrame = TextFunctions.tfidfTopTerms(Tables.documents(s, d), 5)
  def tx14(s: SparkSession, d: String): DataFrame = TextFunctions.rarityScore(Tables.documents(s, d))
  def tx15(s: SparkSession, d: String): DataFrame = TextFunctions.heavyHitters(Tables.documents(s, d))
  def tx16(s: SparkSession, d: String): DataFrame = TextFunctions.curate(Tables.documents(s, d))
  def tx17(s: SparkSession, d: String): DataFrame = TextFunctions.bigramLm(Tables.documents(s, d))
  def tx18(s: SparkSession, d: String): DataFrame = TextFunctions.domainCap(Tables.documents(s, d))
  def tx19(s: SparkSession, d: String): DataFrame = TextFunctions.mixtureSample(Tables.documents(s, d))
  def tx20(s: SparkSession, d: String): DataFrame = TextFunctions.decontaminate(Tables.documents(s, d))
  def tx21(s: SparkSession, d: String): DataFrame = TextFunctions.diversity(Tables.documents(s, d))
  def tx22(s: SparkSession, d: String): DataFrame = TextFunctions.datasheet(Tables.documents(s, d))
  def tx27(s: SparkSession, d: String): DataFrame = TextFunctions.codeSignals(Tables.documents(s, d))
  /** Build-if-missing materialized BOILERPLATE LINE SET (round 11 —
    * VERDICT r10 #6): the O(corpus-lines) df-count aggregation behind
    * tx28 is corpus-static, so it is priced once per corpus version
    * like every other index; the per-query probe is one join + one
    * per-doc rebuild, and the old session-lifetime cache of the full
    * lines relation is retired with the fan-out that needed it.
    * Params token carries minDf: a different threshold is a different
    * set, never a silently-served stale one. */
  private[graft] def cachedBoilerIndex(s: SparkSession, d: String, minDf: Int): String =
    LayoutStore.cached(s, "graft_blidx", d, "documents", s"df${minDf}v1")(
      TextFunctions.boilerplateSet(Tables.documents(s, d), minDf)
        .write.mode("overwrite").parquet(_))

  def tx29(s: SparkSession, d: String): DataFrame =
    TextFunctions.ngramNovelty(Tables.documents(s, d))

  /** tx30 (round 11): per-source NOVELTY-SATURATION CURVE — tx29's
    * doc-grain novelty rolled up to the table a crawl planner reads:
    * per (source, arrival decile), how much NEW content the source
    * still contributes. doc_id is the corpus's arrival order, so the
    * deciles are time slices; a source whose rate collapses by decile
    * 3 is template-bound and not worth re-crawling, one that stays
    * flat keeps paying. Novelty is MICRO-averaged (Σ novel grams /
    * Σ grams, exact integers → ONE divide) — a mean of per-doc IEEE
    * ratios would be a partition-order-dependent double Σ and flake
    * the hash gate, and it would also let ten empty docs outvote one
    * long one.
    *
    * Deciles come from [[CoreQueries.equiDepthBoundariesMulti]] run
    * with SOURCES AS THE METRICS (one machinery, q85/q92's, never a
    * re-derivation): 9 internal doc_id cuts per source off the
    * domain-bucketed pass pair; assignment is a broadcast fan-out of
    * ≤ 9 cut rows per source folded map-side — the per-source global
    * sort an ntile window would need never happens (the fact relation
    * is never window-sorted; q78/q81's argument). doc_id is UNIQUE, so
    * rank comparison ⟺ value comparison and both engines place every
    * doc identically — no tie machinery needed. The distinct-source
    * list is a runtime literal (q64's pattern, bounded by source
    * cardinality). */
  def tx30(s: SparkSession, d: String): DataFrame =
    tx30FromDocs(Tables.documents(s, d))

  /** The operator over any documents relation — exposed so the spec
    * can pin the decile convention on a hand-built corpus. */
  private[graft] def tx30FromDocs(docs: DataFrame): DataFrame = {
    val nov = TextFunctions.ngramNovelty(docs)
      .select(col("doc_id"), col("n_grams"), col("n_novel"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val sources = docs.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    val cuts = graft.queries.CoreQueries.equiDepthBoundariesMulti(
      docs.select(col("source").as("metric"), col("doc_id").as("v")),
      10, sources.map(_ -> 1024L).toSeq)
      .filter(col("bucket") <= 9)
      .select(col("metric").as("source"), col("boundary"))
    nov.join(broadcast(cuts), Seq("source"), "left")
      .groupBy(col("source"), col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"), max(col("n_novel")).as("n_novel"),
        (lit(1L) + count(when(col("doc_id") > col("boundary"), lit(1))))
          .as("decile"))
      .groupBy(col("source"), col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("n_grams"), sum(col("n_novel")).as("n_novel"))
      .select(col("source"), col("decile"), col("n_docs"), col("n_grams"),
        col("n_novel"),
        when(col("n_grams") > 0,
          col("n_novel").cast("double") / col("n_grams")).otherwise(lit(0.0))
          .as("novelty_rate"))
      .orderBy(col("source"), col("decile"))
  }

  /** tx29's oracle body rolled up: row_number per source mirrors the
    * equi-depth rank targets exactly because doc_id is unique. */
  val tx30Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      |  FROM documents),
      |gr AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(ws) >= 3 THEN
      |      list_transform(generate_series(1, len(ws) - 2),
      |        i -> array_to_string(ws[i:i+2], ' '))
      |    ELSE CAST([] AS VARCHAR[]) END)) AS g
      |  FROM toks),
      |first AS (SELECT g, MIN(doc_id) AS first_doc FROM gr GROUP BY g),
      |agg AS (
      |  SELECT gr.doc_id, COUNT(*) AS n_grams,
      |   COUNT(*) FILTER (WHERE f.first_doc = gr.doc_id) AS n_novel
      |  FROM gr JOIN first f USING (g) GROUP BY gr.doc_id),
      |nov AS (
      |  SELECT d.doc_id, d.source,
      |   COALESCE(a.n_grams, 0) AS n_grams, COALESCE(a.n_novel, 0) AS n_novel
      |  FROM documents d LEFT JOIN agg a USING (doc_id)),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
      |   COUNT(*) OVER (PARTITION BY source) AS cnt
      |  FROM nov),
      |ks AS (SELECT unnest(generate_series(1, 9)) AS k),
      |dec AS (
      |  SELECT r.source, r.doc_id, r.n_grams, r.n_novel,
      |   1 + (SELECT COUNT(*) FROM ks
      |        WHERE r.rn > (ks.k * r.cnt + 9) // 10) AS decile
      |  FROM r)
      |SELECT source, CAST(decile AS BIGINT) AS decile,
      | COUNT(*) AS n_docs,
      | CAST(SUM(n_grams) AS BIGINT) AS n_grams,
      | CAST(SUM(n_novel) AS BIGINT) AS n_novel,
      | CASE WHEN SUM(n_grams) > 0
      |  THEN CAST(SUM(n_novel) AS DOUBLE) / SUM(n_grams) ELSE 0.0 END AS novelty_rate
      |FROM dec GROUP BY source, decile
      |ORDER BY source, decile""".stripMargin

  def tx31(s: SparkSession, d: String): DataFrame =
    TextFunctions.unicodeTokenStats(Tables.documents(s, d))

  /** Round 15 (VERDICT r14 #3): the UNICODE tokenizer is now the
    * DEFAULT for every curation-path scorer — tx2/tx6/tx11/tx13/tx14/
    * tx17/tx23 run the `\p{L}\p{N}` rule a multilingual corpus needs
    * (TextFunctions.UnicodeTokenRe; RE2 and Java regex agree on the
    * classes, tx31's parity argument, so the default stays
    * oracle-able). tx32-tx37 are now the ASCII twins: same formulas,
    * same plans, only the tokenizer seam pinned to the legacy
    * `[a-z0-9]+` — they hash-gate the legacy regime so the flip can
    * never silently change it, and on a multilingual corpus the DIFF
    * between default and twin is the measured ASCII under-count. */
  private val AsciiRe = TextFunctions.AsciiTokenRe
  def tx32(s: SparkSession, d: String): DataFrame =
    TextFunctions.qualityScore(Tables.documents(s, d), TextFunctions.tokensExpr)
  def tx33(s: SparkSession, d: String): DataFrame =
    TextFunctions.contaminationProbe(Tables.documents(s, d),
      Tables.parquet(s, s"${cachedContamIndex(s, d, "ascii", TextFunctions.tokensExpr)}/train"),
      3, TextFunctions.tokensExpr)
  def tx34(s: SparkSession, d: String): DataFrame =
    TextFunctions.lmScore(Tables.documents(s, d), TextFunctions.tokensExpr)

  def tx35(s: SparkSession, d: String): DataFrame =
    TextFunctions.vocabTopK(Tables.documents(s, d), 100, TextFunctions.tokensExpr)
  def tx36(s: SparkSession, d: String): DataFrame =
    TextFunctions.tfidfTopTerms(Tables.documents(s, d), 5, TextFunctions.tokensExpr)
  def tx37(s: SparkSession, d: String): DataFrame =
    TextFunctions.rarityScore(Tables.documents(s, d), TextFunctions.tokensExpr)

  /** tx38 (round 15): DSIR-style target-domain selection — the
    * trusted target sample is a fixed curated-source list; the
    * operator keeps the 100 raw docs whose token distribution most
    * resembles it (TextFunctions.dsirSelect). */
  private[graft] val DsirTargetSources = Seq("src0", "src1", "src2")
  def tx38(s: SparkSession, d: String): DataFrame =
    TextFunctions.dsirSelect(Tables.documents(s, d), DsirTargetSources)

  /** tx39 (round 15): weak-label linear quality classifier — batch
    * perceptron on style features against tx38's target-source
    * labels (TextFunctions.weakClassifier). */
  def tx39(s: SparkSession, d: String): DataFrame =
    TextFunctions.weakClassifier(Tables.documents(s, d), DsirTargetSources)

  def tx28(s: SparkSession, d: String): DataFrame =
    TextFunctions.boilerplateStrip(Tables.documents(s, d),
      Tables.parquet(s, cachedBoilerIndex(s, d, minDf = 3)))
  def tx23(s: SparkSession, d: String): DataFrame = TextFunctions.lmScore(Tables.documents(s, d))
  def tx24(s: SparkSession, d: String): DataFrame = TextFunctions.docTopTerms(Tables.documents(s, d), 3)

  /** tx26: LEAKAGE-FREE TRAIN/VAL/TEST SPLIT — the split every
    * benchmark-honest pipeline needs: assignment is by NEAR-DUP GROUP,
    * not by document, so a doc and its near-duplicates land on the
    * SAME side and the val/test sets can never leak paraphrases of
    * training data (doc-level hashing — the naive split — leaks
    * every duplicated document across the boundary; tx11/tx20 then
    * *measure* that contamination, this *prevents* it). Deterministic
    * and reproducible: split = md5 hex bucket of the GROUP label
    * (12/2/2 train/val/test); probes the same materialized dup-groups
    * index as dd7/dd13/dd14 — one O(docs) label join + a map-side
    * CASE, no per-query CC. */
  def tx26(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.select(col("doc_id"))
      .join(cachedGroupsIndex(s, d, "full", docs), "doc_id")
      .withColumn("hx", substring(md5(col("group_id").cast("string")), 1, 1))
      .withColumn("split",
        when(col("hx").isin("c", "d"), "val")
          .when(col("hx").isin("e", "f"), "test")
          .otherwise("train"))
      .select(col("doc_id"), col("group_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  val tx26Sql: String =
    s"""$GroupLabelCtes
      |SELECT doc_id, group_id,
      | CASE WHEN substring(md5(CAST(group_id AS VARCHAR)), 1, 1) IN ('c','d') THEN 'val'
      |      WHEN substring(md5(CAST(group_id AS VARCHAR)), 1, 1) IN ('e','f') THEN 'test'
      |      ELSE 'train' END AS split
      |FROM lab
      |ORDER BY doc_id""".stripMargin
  def tx25(s: SparkSession, d: String): DataFrame = TextFunctions.ragChunks(Tables.documents(s, d), 64, 48)
  def tx7(s: SparkSession, d: String): DataFrame = TextFunctions.normalizeText(Tables.documents(s, d))
  def tx8(s: SparkSession, d: String): DataFrame = TextFunctions.repetitionStats(Tables.documents(s, d))

  def mm1(s: SparkSession, d: String): DataFrame = Multimodal.blobMeta(Tables.documents(s, d))
  def mm3(s: SparkSession, d: String): DataFrame = Multimodal.frameSampleMeta(Tables.documents(s, d))
  def mm2(s: SparkSession, d: String): DataFrame = Multimodal.featureExtractFlat(Tables.documents(s, d))
  def mm4(s: SparkSession, d: String): DataFrame = Multimodal.resizeStub(Tables.documents(s, d))
  /** mm5: the corpus ships no binary media, so the registry query
    * unions each blob with its deterministic "re-encode" twin
    * (lossy-codec stand-in) and recovers the planted original↔twin
    * pairs — recall spec-pinned at 100%. Stub decode is
    * engine-specific byte arithmetic → spec-gated, mm2 policy. */
  /** Write-once perceptual-hash layout over docs ∪ re-encoded twins —
    * the stub derives deterministically from documents, so the layout
    * key on documents alone invalidates correctly; per-blob hashing
    * is the decode-adjacent cost nobody re-pays per dedup query. */
  private[graft] def cachedPhashIndex(s: SparkSession, d: String): String =
    LayoutStore.cached(s, "graft_phidx", d, "documents", "re1") { tmp =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      Multimodal.phash(docs.unionByName(Multimodal.reencodeStub(docs)))
        .write.mode("overwrite").parquet(s"$tmp/sigs")
    }

  def mm5(s: SparkSession, d: String): DataFrame =
    Multimodal.phashNearDupFrom(
      Tables.parquet(s, s"${cachedPhashIndex(s, d)}/sigs"), maxHamming = 8)

  /** mm6: content-defined chunk dedup stats over the blob corpus —
    * chunk boundaries are engine-specific rolling hashes (mm2 policy ⇒
    * rows + spec gate; MultimodalSpec pins shift resilience and a
    * planted shared passage). */
  /** mm7: blob-level near-dup PAIRS by CDC chunk overlap — mm6 says
    * how much of each blob is shared with SOMEONE; this says with
    * WHOM (the re-encode/re-wrap twin detector over opaque media).
    * Rows-gated like mm6 (chunk ids ride Spark's xxhash64 — no
    * oracle engine reproduces them; MultimodalSpec plants the
    * ground truth). */
  /** mm7 probes the write-once CDC chunk index (round 9) — the
    * per-query chunking pass (a full decode-and-scan of the blob
    * tier at 100 TB) is build-time cost; probe ≡ inline spec-pinned,
    * and Multimodal.cdcAppendDelta keeps the layout fresh on ingest
    * (chunk ids carry no trained state, so append ≡ union exactly). */
  def mm7(s: SparkSession, d: String): DataFrame =
    Multimodal.cdcNearDupProbe(s, cachedCdcIndex(s, d), tau = 0.5)

  /** Build-if-missing CDC chunk index over the documents-as-blobs
    * table, [[cachedShingleIndex]]'s convention for §2.E. */
  private[graft] def cachedCdcIndex(s: SparkSession, d: String): String =
    LayoutStore.cached(s, "graft_cdcidx", d, "documents", "v1")(
      Multimodal.cdcWriteIndex(Tables.documents(s, d), _))

  def mm6(s: SparkSession, d: String): DataFrame =
    Multimodal.cdcChunkStats(Tables.documents(s, d))

  /** Rows-gated like mm6/mm7 (xxhash64 chunk ids have no oracle
    * engine); MultimodalSpec plants twin/unique/cross-source blobs
    * and asserts the exact ratios. */
  def mm8(s: SparkSession, d: String): DataFrame =
    Multimodal.cdcDedupBySource(Tables.documents(s, d))

  /** (name, spark-fn, oracle-sql-or-null) for SparkEntry. */
  val all: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("dd1_exact", dd1 _, dd1Sql),
    ("dd2_ngram_jaccard", dd2 _, ddJaccardSql),
    ("dd3_minhash_lsh", dd3 _, ddJaccardSql),
    ("dd4_simhash", dd4 _, null),
    ("dd6_dup_groups", dd6 _, dd6Sql),
    ("dd7_canonical_docs", dd7 _, dd7Sql),
    ("dd5_embed_dup", dd5 _, null),
    ("dd8_dup_spans", dd8 _, Dedup.dupSpansSql(10)),
    ("dd9_incremental", dd9 _, dd9Sql),
    ("dd10_incr_groups", dd10 _, dd6Sql),
    ("dd11_containment", dd11 _, dd11Sql),
    ("dd12_edit_distance", dd12 _, dd12Sql),
    ("dd13_containment_groups", dd13 _, dd13Sql),
    ("dd14_dedup_stats", dd14 _, dd14Sql),
    ("dd15_group_sizes", dd15 _, dd15Sql),
    ("dd16_threshold_curve", dd16 _, dd16Sql),
    ("dd17_semdedup", dd17 _, dd17Sql),
    ("ss1_brute_topk", ss1 _, ss1Sql),
    ("ss2_lsh_ann", ss2 _, null),
    ("ss3_ivf_ann", ss3 _, null),
    ("ss4_label_centroids", ss4 _, ss4Sql),
    ("ss5_pq_ann", ss5 _, null),
    ("ss6_knn_classify", ss6 _, ss6Sql),
    ("ss7_ivfpq_ann", ss7 _, null),
    ("ss8_ann_recall", ss8 _, null),
    ("ss9_range_search", ss9 _, ss9Sql),
    ("ss10_kmeans", ss10 _, ss10Sql),
    ("ss13_cluster_stats", ss13 _, ss13Sql),
    ("ss14_recall_curve", ss14 _, null),
    ("ss15_centroid_drift", ss15 _, null),
    ("ss16_pq_drift", ss16 _, null),
    ("ss17_hnsw_ann", ss17 _, null),
    ("ss18_filtered_search", ss18 _, ss18Sql),
    ("ss11_hybrid_search", ss11 _, ss11Sql),
    ("ss12_mmr_diversify", ss12 _, ss12Sql),
    ("tx1_tokens", tx1 _, TextFunctions.tokenStatsSql),
    ("tx2_quality", tx2 _, TextFunctions.qualityScoreSql),
    ("tx3_langid", tx3 _, TextFunctions.languageIdSql),
    ("tx4_fingerprint", tx4 _, null),
    ("tx5_bpe_tokens", tx5 _, TextFunctions.bpeTokenStatsSql),
    ("tx6_vocab", tx6 _, TextFunctions.vocabTopKSql(100)),
    ("tx7_normalize", tx7 _, TextFunctions.normalizeTextSql),
    ("tx8_repetition", tx8 _, TextFunctions.repetitionStatsSql),
    ("tx9_pii_redact", tx9 _, TextFunctions.redactPiiSql),
    ("tx10_clean_corpus", tx10 _, TextFunctions.cleanCorpusSql(10, 0.05)),
    ("tx11_contamination", tx11 _, TextFunctions.contaminationSql),
    ("tx12_pack", tx12 _, TextFunctions.packDocsSql(512)),
    ("tx13_tfidf", tx13 _, TextFunctions.tfidfTopTermsSql(5)),
    ("tx14_rarity", tx14 _, TextFunctions.rarityScoreSql),
    ("tx15_heavy_hitters", tx15 _, null),
    ("tx16_curate", tx16 _, TextFunctions.curateSql(10, 0.05, 512)),
    ("tx17_bigram_lm", tx17 _, TextFunctions.bigramLmSql),
    ("tx18_domain_cap", tx18 _, TextFunctions.domainCapSql(2)),
    ("tx19_mixture_sample", tx19 _, TextFunctions.mixtureSampleSql),
    ("tx20_decontaminate", tx20 _, TextFunctions.decontaminateSql(8)),
    ("tx21_diversity", tx21 _, TextFunctions.diversitySql),
    ("tx22_datasheet", tx22 _, TextFunctions.datasheetSql),
    ("tx23_lm_score", tx23 _, TextFunctions.lmScoreSql),
    ("tx24_keywords", tx24 _, TextFunctions.docTopTermsSql(3)),
    ("tx25_rag_chunks", tx25 _, TextFunctions.ragChunksSql(64, 48)),
    ("tx26_leakage_split", tx26 _, tx26Sql),
    ("tx27_code_detect", tx27 _, TextFunctions.codeSignalsSql),
    ("tx28_boilerplate_lines", tx28 _, TextFunctions.boilerplateLinesSql(3)),
    ("tx29_ngram_novelty", tx29 _, TextFunctions.ngramNoveltySql),
    ("tx30_source_saturation", tx30 _, tx30Sql),
    ("tx31_unicode_tokens", tx31 _, TextFunctions.unicodeTokenStatsSql),
    ("tx32_quality_ascii", tx32 _, TextFunctions.qualityScoreSqlFor(AsciiRe)),
    ("tx33_contam_ascii", tx33 _, TextFunctions.contaminationSqlFor(AsciiRe)),
    ("tx34_lm_ascii", tx34 _, TextFunctions.lmScoreSqlFor(AsciiRe)),
    ("tx35_vocab_ascii", tx35 _, TextFunctions.vocabTopKSqlFor(100, AsciiRe)),
    ("tx36_tfidf_ascii", tx36 _, TextFunctions.tfidfTopTermsSqlFor(5, AsciiRe)),
    ("tx37_rarity_ascii", tx37 _, TextFunctions.rarityScoreSqlFor(AsciiRe)),
    ("tx38_dsir", tx38 _, TextFunctions.dsirSelectSqlFor(
      TextFunctions.UnicodeTokenRe, DsirTargetSources, 100)),
    ("tx39_weak_classifier", tx39 _, TextFunctions.weakClassifierSqlFor(
      TextFunctions.UnicodeTokenRe, DsirTargetSources)),
    ("mm1_blob_meta", mm1 _, Multimodal.blobMetaSql),
    ("mm2_feature_stub", mm2 _, null),
    ("mm3_frame_sample", mm3 _, Multimodal.frameSampleMetaSql),
    ("mm4_resize_stub", mm4 _, Multimodal.resizeStubSql(Multimodal.ResizeTarget)),
    ("mm5_phash_neardup", mm5 _, null),
    ("mm6_cdc_chunks", mm6 _, null),
    ("mm7_cdc_neardup", mm7 _, null),
    ("mm8_dedup_savings", mm8 _, null),
  )
}
