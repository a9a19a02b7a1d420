package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** §2.D text-analysis operators over a documents-shaped table.
  *
  * Everything is built from codegen'd built-ins (regexp, length,
  * conditional aggregation) or higher-order array functions — no Scala
  * UDFs, so plans stay whole-stage-codegen where Spark supports it and
  * scale linearly with a plain column scan: no shuffle at all, these
  * are pure map-side operators.
  */
object TextFunctions {

  /** Tokenizer regimes (round 15 — VERDICT r14 #3). The DEFAULT for
    * the curation-path scorers (quality, vocab, contamination, tfidf,
    * rarity, bigram/LM) is the Unicode letter/digit rule: a
    * multilingual corpus — the thing a 100 TB training-data pipeline
    * actually processes — collapses to near-empty token sets under
    * `[a-z0-9]+`, silently zeroing quality scores and dedup/leakage
    * gates for every CJK/Cyrillic/Arabic document (VERDICT r12 #3
    * measured it; the r13/r14 `*_unicode` twins proved the Unicode
    * rule oracle-able). Java regex and RE2 (DuckDB) agree on the
    * `\p{L}\p{N}` classes, so the flip keeps every entry
    * hash-comparable. The ASCII rule stays available — each scorer
    * takes the tokenizer as a parameter, and the `*_ascii` registry
    * twins pin the legacy regime's hashes. */
  val AsciiTokenRe = "[a-z0-9]+"
  val UnicodeTokenRe = """[\p{L}\p{N}]+"""

  /** Lowercase ASCII-alphanumeric token array (the legacy regime). */
  val tokensExpr = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"

  /** tx1: token / char counting. Counts are exact integers; the ratio
    * divides two exact ints → bit-deterministic. */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        size(expr(tokensExpr)).cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), "[^A-Za-z0-9]", "")).cast("long").as("n_alnum"),
        length(col("text")).cast("long").as("n_chars"))
      .withColumn("avg_token_len",
        when(col("n_tokens") > 0, col("n_alnum").cast("double") / col("n_tokens")))
      .orderBy(col("doc_id"))

  val tokenStatsSql: String =
    """SELECT doc_id, n_tokens, n_alnum, n_chars,
      | CASE WHEN n_tokens > 0 THEN CAST(n_alnum AS DOUBLE) / n_tokens END AS avg_token_len
      |FROM (
      | SELECT doc_id,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |  CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS BIGINT) AS n_alnum,
      |  CAST(length(text) AS BIGINT) AS n_chars
      | FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Unicode-class token array — letter/digit runs in ANY script
    * (round 13 — VERDICT r12 #3: [[tokensExpr]] collapses CJK/
    * Cyrillic/Arabic docs to near-empty token sets). Java regex and
    * RE2 (DuckDB) agree on the \p{L}\p{N} classes, so the tokenizer
    * choice stays oracle-able; the SQL-literal form double-escapes the
    * backslash for Spark's string parser. */
  val unicodeTokensExpr =
    """regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+', 0)"""

  /** tx31: Unicode-aware token counting + ASCII-tokenizer coverage —
    * the audit a multilingual corpus runs BEFORE trusting any of the
    * ASCII-tokenized quality/dedup gates: n_tokens/n_distinct under
    * the \p{L}\p{N} rule, the legacy [a-z0-9] count beside them, and
    * ascii_share = ascii/unicode tokens (≈1.0 on English text; ≈0 on
    * CJK — the signal that says which sources the legacy gates are
    * silently under-measuring). Pure map-side column math; counts are
    * exact integers, the share one IEEE divide. */
  def unicodeTokenStats(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        size(expr(unicodeTokensExpr)).cast("long").as("n_tokens"),
        size(array_distinct(expr(unicodeTokensExpr))).cast("long").as("n_distinct"),
        size(expr(tokensExpr)).cast("long").as("n_ascii_tokens"))
      .withColumn("ascii_share",
        when(col("n_tokens") > 0,
          col("n_ascii_tokens").cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))

  val unicodeTokenStatsSql: String =
    """SELECT doc_id, n_tokens, n_distinct, n_ascii_tokens,
      | CASE WHEN n_tokens > 0
      |  THEN CAST(n_ascii_tokens AS DOUBLE) / n_tokens ELSE 0.0 END AS ascii_share
      |FROM (
      | SELECT doc_id,
      |  CAST(len(regexp_extract_all(lower(text), '[\p{L}\p{N}]+')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(regexp_extract_all(lower(text), '[\p{L}\p{N}]+'))) AS BIGINT) AS n_distinct,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_ascii_tokens
      | FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** BPE-style pre-tokenizer pattern (the GPT-2 family shape, ASCII
    * form): contractions, space-prefixed letter runs, digit runs,
    * punctuation runs, residual whitespace. Both Spark (Java regex)
    * and DuckDB (RE2) agree on this subset — asserted by the oracle. */
  val bpePattern = "'[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"

  /** tx5: whitespace + BPE-ish subword counting — the token budget a
    * training pipeline actually meters. Pure map-side column math. */
  def bpeTokenStats(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_ws_tokens"),
        size(expr(s"regexp_extract_all(lower(text), \"$bpePattern\", 0)")).cast("long").as("n_bpe_tokens"),
        size(array_distinct(expr(s"regexp_extract_all(lower(text), \"$bpePattern\", 0)"))).cast("long").as("n_bpe_distinct"))
      .orderBy(col("doc_id"))

  val bpeTokenStatsSql: String =
    """SELECT doc_id,
      | CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws_tokens,
      | CAST(len(regexp_extract_all(lower(text), '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS n_bpe_tokens,
      | CAST(len(list_distinct(regexp_extract_all(lower(text), '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))) AS BIGINT) AS n_bpe_distinct
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  private val Stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "it", "that", "was")
  private[graft] val stopListSql = Stopwords.map(w => s"'$w'").mkString(", ")

  /** tx2: quality scoring — stopword ratio, punctuation ratio, length
    * bucket, and a composite score. All ratios divide exact ints; the
    * composite is a fixed-order double polynomial (engine-identical).
    *
    * `tokens` is the tokenizer seam (round 14 — VERDICT r13 #3): the
    * ASCII default keeps the historical gate; passing
    * [[unicodeTokensExpr]] (the tx32 registry twin) makes n_tokens
    * count letter/digit runs in ANY script, so a CJK document stops
    * scoring as empty text (n_tokens=0 → quality pinned at the
    * punct-only floor) and flows through the same formula. The
    * stopword list stays ASCII English — its hits are identical under
    * both tokenizers, which keeps the twin a pure tokenizer ablation. */
  def qualityScore(docs: DataFrame, tokens: String = unicodeTokensExpr): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      size(expr(tokens)).cast("long").as("n_tokens"),
      size(expr(s"filter($tokens, t -> t IN ($stopListSql))")).cast("long").as("n_stop"),
      length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast("long").as("n_punct"),
      length(col("text")).cast("long").as("n_chars"))
    base
      .withColumn("stop_ratio",
        when(col("n_tokens") > 0, col("n_stop").cast("double") / col("n_tokens")).otherwise(lit(0.0)))
      .withColumn("punct_ratio",
        when(col("n_chars") > 0, col("n_punct").cast("double") / col("n_chars")).otherwise(lit(0.0)))
      .withColumn("len_bucket",
        when(col("n_tokens") < 20, "short")
          .when(col("n_tokens") < 60, "medium").otherwise("long"))
      .withColumn("quality",
        (col("stop_ratio") * lit(0.5)) + ((lit(1.0) - col("punct_ratio")) * lit(0.3)) +
          (least(col("n_tokens").cast("double") / lit(100.0), lit(1.0)) * lit(0.2)))
      .orderBy(col("doc_id"))
  }

  /** [[qualityScoreSql]] parameterized on the DuckDB-side tokenizer
    * regex — Java regex and RE2 agree on both `[a-z0-9]+` and the
    * `\p{L}\p{N}` classes (tx31's parity argument), so both gate twins
    * stay oracle-able from one template. */
  def qualityScoreSqlFor(re: String): String =
    s"""SELECT doc_id, n_tokens, n_stop, n_punct, n_chars, stop_ratio, punct_ratio, len_bucket,
      | (stop_ratio * 0.5) + ((1.0 - punct_ratio) * 0.3) +
      |  (least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2) AS quality
      |FROM (
      | SELECT *,
      |  CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
      |  CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
      |  CASE WHEN n_tokens < 20 THEN 'short' WHEN n_tokens < 60 THEN 'medium' ELSE 'long' END AS len_bucket
      | FROM (
      |  SELECT doc_id,
      |   CAST(len(regexp_extract_all(lower(text), '$re')) AS BIGINT) AS n_tokens,
      |   CAST(len(list_filter(regexp_extract_all(lower(text), '$re'), t -> t IN ($stopListSql))) AS BIGINT) AS n_stop,
      |   CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
      |   CAST(length(text) AS BIGINT) AS n_chars
      |  FROM documents))
      |ORDER BY doc_id""".stripMargin

  val qualityScoreSql: String = qualityScoreSqlFor(UnicodeTokenRe)

  /** Function-word profiles for the n-gram/stopword language heuristic
    * (public frequency lists). On the synthetic corpus (shared English
    * vocabulary for every `lang` label) this cannot recover the label —
    * the spec asserts determinism and domain validity instead. */
  private val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est"),
    "zh" -> Seq("de", "shi", "le", "zai", "wo", "you", "he", "ta"),
  )

  /** tx3: heuristic language ID — function-word hit counts per
    * language, deterministic argmax (profile order breaks ties). */
  def languageId(docs: DataFrame): DataFrame = {
    val hits = LangProfiles.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString(", ")
      size(expr(s"filter($tokensExpr, t -> t IN ($list))")).cast("long").as(s"hits_$lang")
    }
    val scored = docs.select(col("doc_id") +: col("lang").as("labeled_lang") +: hits: _*)
    val pred = LangProfiles.map(_._1).foldRight(lit(LangProfiles.last._1)) { (lang, els) =>
      val isMax = LangProfiles.map(_._1).filter(_ != lang)
        .map(o => col(s"hits_$lang") >= col(s"hits_$o")).reduce(_ && _)
      when(isMax, lit(lang)).otherwise(els)
    }
    scored.withColumn("pred_lang", pred).orderBy(col("doc_id"))
  }

  /** tx3 oracle: hit counting via list_filter mirrors the Spark
    * filter-HOF exactly (integers, no FP); the argmax CASE chain tests
    * languages in profile order with >= comparisons, which is precisely
    * the foldRight in [[languageId]] (the last profile is the ELSE —
    * by then every earlier isMax failed, so its own when is a no-op). */
  val languageIdSql: String = {
    val langs = LangProfiles.map(_._1)
    val hitCols = LangProfiles.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), t -> t IN ($list))) AS BIGINT) AS hits_$lang"
    }.mkString(",\n  ")
    val whens = langs.init.map { lang =>
      val cond = langs.filter(_ != lang).map(o => s"hits_$lang >= hits_$o").mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }.mkString("\n  ")
    s"""SELECT doc_id, labeled_lang, ${langs.map("hits_" + _).mkString(", ")},
      | CASE
      |  $whens
      |  ELSE '${langs.last}' END AS pred_lang
      |FROM (
      | SELECT doc_id, lang AS labeled_lang,
      |  $hitCols
      | FROM documents)
      |ORDER BY doc_id""".stripMargin
  }

  /** tx4: winnowing document fingerprints (k-char shingles, window w):
    * xxhash64 over character k-grams, per-window minimum, distinct mins
    * are the fingerprint set — all in the one-pass O(len) native
    * expression graft.functions.WinnowMinima (the nested-HOF
    * formulation re-evaluated the hash array inside every window
    * lambda, quadratic for long documents). */
  def fingerprints(docs: DataFrame, k: Int = 8, w: Int = 4): DataFrame = {
    // computeFloor (round 16): the winnow pass is O(len) hashing per
    // document fused into an unsplittable single-task scan — serial
    // (measured 3.1 s wall ≈ 2.8 s CPU at sf0.1; floored 0.6 s wall /
    // 3.4 s CPU — the +0.6 s is the exchange's serial source pass; a
    // pure per-doc transform downstream, no agg/join to multiply)
    graft.Tables.computeFloor(docs).select(
        col("doc_id"),
        call_function("graft_winnow", lower(col("text")), lit(k), lit(w)).as("fps"))
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fingerprints"),
        array_min(col("fps")).as("min_fp"), array_max(col("fps")).as("max_fp"))
      .orderBy(col("doc_id"))
  }

  /** tx6: corpus vocabulary — global token frequency top-k (the vocab
    * build step of a tokenizer pipeline). explode→groupBy gets map-side
    * partial aggregation (shuffle carries one row per distinct token
    * per task, not per occurrence); the global top-k plans as
    * TakeOrderedAndProject — each task keeps k rows, no full sort
    * shuffle. Ties broken by token so the cut is deterministic. */
  def vocabTopK(docs: DataFrame, k: Int = 100,
      tokens: String = unicodeTokensExpr): DataFrame =
    docs.select(explode(expr(tokens)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)

  def vocabTopKSqlFor(k: Int, re: String): String =
    s"""SELECT token, freq FROM (
      | SELECT token, COUNT(*) AS freq FROM (
      |  SELECT unnest(regexp_extract_all(lower(text), '$re')) AS token
      |  FROM documents)
      | GROUP BY token)
      |ORDER BY freq DESC, token LIMIT $k""".stripMargin

  def vocabTopKSql(k: Int): String = vocabTopKSqlFor(k, UnicodeTokenRe)

  /** tx7: canonical text normalization — the first stage of any text
    * pipeline, so downstream hashing/dedup sees one encoding per
    * logical string. Order is pinned in BOTH engines: lowercase →
    * Unicode NFC (native graft_nfc expression; Spark has no built-in)
    * → collapse ASCII whitespace/control runs to one space → trim.
    * Pure map-side, whole-stage codegen (graft_nfc is a static
    * invoke). */
  def normalizeText(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      call_function("graft_nfc", lower(col("text"))),
      "[\\s\\x00-\\x1f\\x7f]+", " "))
    docs.select(col("doc_id"), norm.as("norm_text"))
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
      .orderBy(col("doc_id"))
  }

  /** Identical op chain in DuckDB (regexp class [\s\x00-\x1f\x7f]
    * means the same ASCII set in Java regex and RE2). */
  val normalizeTextSql: String =
    """SELECT doc_id, norm_text, CAST(length(norm_text) AS BIGINT) AS n_chars_norm
      |FROM (
      | SELECT doc_id,
      |  trim(regexp_replace(nfc_normalize(lower(text)), '[\s\x00-\x1f\x7f]+', ' ', 'g')) AS norm_text
      | FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** tx8: repetition scoring — the boilerplate/spam signal a training
    * pipeline filters on (a doc whose single most frequent token
    * dominates is template junk). The top-token frequency is computed
    * WITHOUT a shuffle: sort the token array per row, then the longest
    * run of equal adjacent elements IS the max frequency — one
    * aggregate() HOF pass over the sorted array, O(n log n) per row,
    * map-side only. (The explode→groupBy(doc,token)→max formulation
    * shuffles one row per token occurrence — pointless for a per-row
    * statistic.) Ratio divides two exact ints → bit-deterministic. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val toks = expr(tokensExpr)
    val runBest = aggregate(
      array_sort(toks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, t) => {
        val run = when(t === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"), greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))
    docs.select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        runBest.as("top_freq"))
      .withColumn("repetition_ratio",
        when(col("n_tokens") > 0, col("top_freq").cast("double") / col("n_tokens")))
      .orderBy(col("doc_id"))
  }

  /** Oracle states the semantics directly: per-token counts via list
    * comprehension (quadratic per row is fine at oracle SF). */
  val repetitionStatsSql: String =
    """SELECT doc_id, n_tokens, n_distinct, top_freq,
      | CASE WHEN n_tokens > 0 THEN CAST(top_freq AS DOUBLE) / n_tokens END AS repetition_ratio
      |FROM (
      | SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      |  CAST(coalesce(list_max(list_transform(list_distinct(toks),
      |        t -> len(list_filter(toks, x -> x = t)))), 0) AS BIGINT) AS top_freq
      | FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |       FROM documents))
      |ORDER BY doc_id""".stripMargin

  // PII patterns restricted to the regex subset Java and RE2 interpret
  // identically (no backrefs, no lookaround) so the DuckDB oracle runs
  // the very same patterns.
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Pat  = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  private val PhonePat = "\\+?\\d[\\d\\- ]{7,}\\d"

  /** tx9: PII redaction — scrub emails, IPv4s, and phone-like digit
    * runs before text reaches a training set, with per-document match
    * counts (from the ORIGINAL text) so the redaction is auditable.
    * Replacement order is pinned email → ip → phone in both engines
    * (emails eat their domain digits first; dots exclude IPs from the
    * phone class). Pure map-side regexp chain: no shuffle, scales as a
    * column scan. */
  def redactPii(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), lit(EmailPat), lit("<EMAIL>")),
            lit(Ipv4Pat), lit("<IP>")),
          lit(PhonePat), lit("<PHONE>")).as("clean_text"),
        size(regexp_extract_all(col("text"), lit(EmailPat), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(Ipv4Pat), lit(0))).cast("long").as("n_ips"),
        size(regexp_extract_all(col("text"), lit(PhonePat), lit(0))).cast("long").as("n_phones"))
      .orderBy(col("doc_id"))

  val redactPiiSql: String =
    """SELECT doc_id,
      | regexp_replace(regexp_replace(regexp_replace(text,
      |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |   '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
      |   '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS clean_text,
      | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      | CAST(len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
      | CAST(len(regexp_extract_all(text, '\+?\d[\d\- ]{7,}\d')) AS BIGINT) AS n_phones
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** tx10: the end-to-end cleaning pipeline a corpus actually runs —
    * normalize (tx7 chain) → token/stopword gate → exact dedup on the
    * NORMALIZED text (so case/whitespace variants collapse) — fused
    * into ONE scan + ONE shuffle: every per-document feature is
    * computed map-side from `norm_text`, and the only exchange is the
    * dedup groupBy. At 100 TB the group key would be
    * xxhash64(norm_text) to keep shuffle rows narrow (dd1's scaladoc
    * discusses the collision math); the text key keeps the oracle
    * comparison byte-exact here. */
  def cleanCorpus(docs: DataFrame, minTokens: Int = 10, minStopRatio: Double = 0.05): DataFrame = {
    val norm = trim(regexp_replace(
      call_function("graft_nfc", lower(col("text"))),
      "[\\s\\x00-\\x1f\\x7f]+", " "))
    val toks = "regexp_extract_all(norm_text, '[a-z0-9]+', 0)"
    docs.select(col("doc_id"), norm.as("norm_text"))
      .withColumn("n_tokens", size(expr(toks)).cast("long"))
      .withColumn("n_stop",
        size(expr(s"filter($toks, t -> t IN ($stopListSql))")).cast("long"))
      .filter(col("n_tokens") >= minTokens &&
        col("n_stop").cast("double") / col("n_tokens") >= minStopRatio)
      .groupBy(col("norm_text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"),
        min(col("n_tokens")).as("n_tokens"))
      .select(col("doc_id"), col("n_copies"), col("n_tokens"),
        length(col("norm_text")).cast("long").as("n_chars_norm"))
      .orderBy(col("doc_id"))
  }

  def cleanCorpusSql(minTokens: Int, minStopRatio: Double): String =
    s"""WITH feat AS (
      | SELECT doc_id, norm_text,
      |  CAST(len(regexp_extract_all(norm_text, '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_filter(regexp_extract_all(norm_text, '[a-z0-9]+'),
      |        t -> t IN ($stopListSql))) AS BIGINT) AS n_stop
      | FROM (
      |  SELECT doc_id,
      |   trim(regexp_replace(nfc_normalize(lower(text)), '[\\s\\x00-\\x1f\\x7f]+', ' ', 'g')) AS norm_text
      |  FROM documents))
      |SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies,
      | MIN(n_tokens) AS n_tokens,
      | CAST(length(norm_text) AS BIGINT) AS n_chars_norm
      |FROM feat
      |WHERE n_tokens >= $minTokens
      | AND CAST(n_stop AS DOUBLE) / n_tokens >= $minStopRatio
      |GROUP BY norm_text
      |ORDER BY doc_id""".stripMargin

  /** Word n-gram shingle array (distinct), as one SQL expression.
    * Guarded: docs shorter than n tokens get an empty array (an
    * unguarded sequence(1, size-n+1) would DESCEND for short docs —
    * Spark infers step -1 when start > stop). */
  private def shingleExpr(n: Int, tokens: String = tokensExpr): String =
    s"""CASE WHEN size($tokens) >= $n
       | THEN array_distinct(transform(sequence(1, size($tokens) - ${n - 1}),
       |        i -> concat_ws(' ', slice($tokens, i, $n))))
       | ELSE CAST(array() AS array<string>) END""".stripMargin
      .replaceAll("\\s+", " ")

  /** tx11: train/eval contamination check — the benchmark-leakage gate
    * every training corpus needs. The corpus is split by a deterministic
    * key rule (doc_id % 10 = 0 → eval); for each eval document, count
    * how many of its distinct word 3-gram shingles also occur anywhere
    * in the train split.
    *
    * Scale design: the train side collapses to DISTINCT shingles before
    * the join (set semantics — counting train occurrences would inflate
    * with corpus size), and the probe is a left-semi hash equi-join on
    * the shingle string, partial-agg'd back to one row per eval doc. At
    * 100 TB both sides would key on xxhash64(shingle) so the exchange
    * carries 8-byte keys instead of strings (collision odds ~n²/2⁶⁴ —
    * negligible); the string key is kept here so the DuckDB oracle can
    * replay the join byte-for-byte. Nothing is ever all-pairs: cost is
    * O(|shingles|) shuffle, the same as one dedup pass. */
  def contamination(docs: DataFrame, n: Int = 3,
      tokens: String = unicodeTokensExpr): DataFrame = {
    val sh = docs.select(col("doc_id"), expr(shingleExpr(n, tokens)).as("shs"))
    val train = sh.filter(col("doc_id") % 10 =!= 0)
      .select(explode(col("shs")).as("shingle")).distinct()
    contaminationOf(sh.filter(col("doc_id") % 10 === 0), train)
  }

  /** The train-side DISTINCT shingle set — [[contamination]]'s
    * corpus-static half (the split rule is deterministic), extracted
    * so the registry gate can materialize it write-once (round 14:
    * The `graft.Bench scale` noop-sink sweep put the inline gate at ~10 s wall
    * at sf0.1, ~95% of it the TRAIN side's extraction + distinct —
    * re-paid per query for a set that changes only on corpus
    * refresh; the count()-pruned registry metric had hidden it). */
  def contaminationTrainSet(docs: DataFrame, n: Int = 3,
      tokens: String = unicodeTokensExpr): DataFrame =
    docs.filter(col("doc_id") % 10 =!= 0)
      .select(explode(expr(shingleExpr(n, tokens))).as("shingle")).distinct()

  /** [[contamination]] probing an at-rest train shingle set: only the
    * EVAL split (a tenth of the corpus) is tokenized per run. Probe ≡
    * inline is spec-pinned for both tokenizer regimes. */
  def contaminationProbe(docs: DataFrame, trainShingles: DataFrame, n: Int = 3,
      tokens: String = unicodeTokensExpr): DataFrame =
    contaminationOf(docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), expr(shingleExpr(n, tokens)).as("shs")), trainShingles)

  /** Shared tail: per-eval-doc hit counting + ratio presentation. */
  private def contaminationOf(eval_ : DataFrame, train: DataFrame): DataFrame = {
    val hits = eval_.select(col("doc_id"), explode(col("shs")).as("shingle"))
      .join(train, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    eval_.select(col("doc_id"), size(col("shs")).cast("long").as("n_shingles"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contamination_ratio",
        when(col("n_shingles") > 0,
          col("n_contaminated").cast("double") / col("n_shingles")).otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  /** generate_series is end-inclusive (Spark's sequence equivalent);
    * list slice l[i:j] is 1-based inclusive (Spark's slice(l,i,n)). */
  /** [[contaminationSql]] parameterized on the DuckDB tokenizer regex
    * (the tx33 unicode twin reuses the whole statement). */
  def contaminationSqlFor(re: String): String =
    s"""WITH sh AS (
      | SELECT doc_id,
      |  CASE WHEN len(ts) >= 3
      |   THEN list_distinct(list_transform(generate_series(1, len(ts) - 2),
      |          i -> array_to_string(ts[i:i+2], ' ')))
      |   ELSE [] END AS shs
      | FROM (SELECT doc_id, regexp_extract_all(lower(text), '$re') AS ts
      |       FROM documents)),
      |train AS (SELECT DISTINCT unnest(shs) AS shingle FROM sh WHERE doc_id % 10 <> 0),
      |ev AS (SELECT doc_id, unnest(shs) AS shingle FROM sh WHERE doc_id % 10 = 0),
      |hits AS (
      | SELECT e.doc_id, COUNT(*) AS n_contaminated
      | FROM ev e JOIN train t ON e.shingle = t.shingle
      | GROUP BY e.doc_id)
      |SELECT s.doc_id, CAST(len(s.shs) AS BIGINT) AS n_shingles,
      | coalesce(h.n_contaminated, 0) AS n_contaminated,
      | CASE WHEN len(s.shs) > 0
      |  THEN CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / len(s.shs)
      |  ELSE 0.0 END AS contamination_ratio
      |FROM sh s LEFT JOIN hits h USING (doc_id)
      |WHERE s.doc_id % 10 = 0
      |ORDER BY doc_id""".stripMargin

  val contaminationSql: String = contaminationSqlFor(UnicodeTokenRe)

  /** tx12: sequence packing — the concat-and-chunk step that fills
    * fixed token budgets for pretraining. Documents are concatenated in
    * (source, doc_id) order and a document starts pack p when the
    * tokens BEFORE it have filled p budgets (documents are never
    * split, so a boundary-crossing doc overflows its pack — the
    * standard greedy variant). That rule is a prefix sum, not a
    * sequential fold: one window cumsum per source partition, no
    * iteration.
    *
    * Scale: the window partitions by source; if one source outgrows an
    * executor, re-key the partition to (source, doc_id div C) — each
    * chunk packs independently and pack ids stay deterministic (chunk
    * boundaries become pack boundaries). Exact integer arithmetic
    * end-to-end. */
  def packDocs(docs: DataFrame, budgetTokens: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), col("source"),
        size(expr(tokensExpr)).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("cum_before") / budgetTokens.toLong))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("pack_id"))
      .orderBy(col("source"), col("doc_id"))
  }

  def packDocsSql(budgetTokens: Int): String =
    s"""SELECT doc_id, source, n_tokens,
      | CAST(floor(CAST(coalesce(SUM(n_tokens) OVER (
      |   PARTITION BY source ORDER BY doc_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
      |  / $budgetTokens) AS BIGINT) AS pack_id
      |FROM (
      | SELECT doc_id, source,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      | FROM documents)
      |ORDER BY source, doc_id""".stripMargin

  /** tx13: distinctive terms per source — TF-IDF-style ranking used to
    * characterize/cluster corpus slices. Score = tf × (N_sources/df):
    * the idf stays a RATIO of exact integers (one IEEE divide + one
    * multiply, engine-identical) rather than a log, whose libm rounding
    * could differ between engines in the last ulp and break the
    * hash-compare. Ranking ties break on the token string.
    *
    * Scale: explode→groupBy partial-aggregates map-side (shuffle is one
    * row per distinct (source, token) per task); df aggregates the
    * already-small tf table; N_sources is a one-row broadcast; the
    * per-source top-k is a rank window over |sources| × |vocab| rows —
    * nothing touches raw token occurrences after the first groupBy. */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5,
      tokens: String = unicodeTokensExpr): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("source"), explode(expr(tokens)).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nSrc = docs.select(countDistinct(col("source")).as("n_sources"))
    val scored = tf.join(df, "token").crossJoin(broadcast(nSrc))
      .withColumn("score",
        col("tf").cast("double") * (col("n_sources").cast("double") / col("df")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("token"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk").cast("long").as("rnk"),
        col("token"), col("tf"), col("df"), col("score"))
      .orderBy(col("source"), col("rnk"))
  }

  def tfidfTopTermsSql(k: Int): String = tfidfTopTermsSqlFor(k, UnicodeTokenRe)

  def tfidfTopTermsSqlFor(k: Int, re: String): String =
    s"""WITH tf AS (
      | SELECT source, token, COUNT(*) AS tf FROM (
      |  SELECT source, unnest(regexp_extract_all(lower(text), '$re')) AS token
      |  FROM documents)
      | GROUP BY source, token),
      |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      |ns AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents),
      |scored AS (
      | SELECT tf.source, tf.token, tf.tf, df.df,
      |  CAST(tf.tf AS DOUBLE) * (CAST(ns.n_sources AS DOUBLE) / df.df) AS score
      | FROM tf JOIN df USING (token) CROSS JOIN ns)
      |SELECT source, CAST(rnk AS BIGINT) AS rnk, token, tf, df, score FROM (
      | SELECT *, row_number() OVER (PARTITION BY source
      |                              ORDER BY score DESC, token) AS rnk
      | FROM scored)
      |WHERE rnk <= $k
      |ORDER BY source, rnk""".stripMargin

  /** tx24: per-DOCUMENT keyword extraction — tx13's distinctive-terms
    * machinery re-grained from corpus slices to single documents: for
    * each doc, its k most salient tokens by tf × (N_docs/df), where df
    * is true DOCUMENT frequency (how many docs contain the token).
    * This is the doc-tagging primitive (search snippets, topic
    * routing, index keys for the retrieval side) where tx13
    * characterizes whole sources. idf stays a RATIO of exact integers
    * (tx13's no-log rationale: one IEEE divide + one multiply,
    * engine-identical — a libm log could differ in the last ulp and
    * break the hash gate); ties break on the token string.
    *
    * Scale: tf explode→groupBy partial-aggregates map-side; df
    * aggregates the tf table (shuffle on token — NOT broadcast, a
    * 100 TB vocabulary outgrows one executor, tx14's join note); the
    * top-k is a rank window PARTITIONED BY doc_id — millions of tiny
    * independent partitions, embarrassingly parallel, nothing ever
    * global-sorts (unlike tx13's per-source window this one scales
    * with docs, not slices). Output is O(docs × k). */
  def docTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"), explode(expr(tokensExpr)).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "token").crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf").cast("double") * (col("n_docs").cast("double") / col("df")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("token"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  def docTopTermsSql(k: Int): String =
    s"""WITH tf AS (
      | SELECT doc_id, token, COUNT(*) AS tf FROM (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      |  FROM documents)
      | GROUP BY doc_id, token),
      |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      | SELECT tf.doc_id, tf.token, tf.tf, df.df,
      |  CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / df.df) AS score
      | FROM tf JOIN df USING (token) CROSS JOIN n)
      |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, token, tf, df, score FROM (
      | SELECT *, row_number() OVER (PARTITION BY doc_id
      |                              ORDER BY score DESC, token) AS rnk
      | FROM scored)
      |WHERE rnk <= $k
      |ORDER BY doc_id, rnk""".stripMargin

  /** tx14: token-rarity scoring — the unigram-LM quality signal: each
    * document scored by the mean CORPUS frequency of its token
    * occurrences. Boilerplate/templated text (all high-frequency
    * tokens) scores high; rare-token noise (OCR garbage, code dumps)
    * scores low — both ends are the usual filter targets. Log-free on
    * purpose: sum-of-counts / count is a ratio of exact integers (one
    * IEEE division), so both engines agree bit-exactly where a log
    * perplexity could differ in the last ulp.
    *
    * Scale: the unigram table is one explode→groupBy (map-side partial
    * agg: shuffle rows = distinct tokens per task); the frequency
    * lookup is a shuffle hash join on token — NOT a broadcast, the
    * vocabulary of a 100 TB corpus outgrows one executor; the per-doc
    * aggregate partial-combines. Hot tokens skew the join key — AQE
    * skew-split handles it (same story as every band join here). */
  def rarityScore(docs: DataFrame, tokens: String = unicodeTokensExpr): DataFrame = {
    val occ = docs.select(col("doc_id"), explode(expr(tokens)).as("token"))
    val freq = occ.groupBy(col("token")).agg(count(lit(1)).as("freq"))
    occ.join(freq, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("freq")).as("sum_freq"))
      .withColumn("mean_freq", col("sum_freq").cast("double") / col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Token-less docs drop out in both engines (no occurrence rows). */
  def rarityScoreSqlFor(re: String): String =
    s"""WITH occ AS (
      | SELECT doc_id, unnest(regexp_extract_all(lower(text), '$re')) AS token
      | FROM documents),
      |freq AS (SELECT token, COUNT(*) AS freq FROM occ GROUP BY token)
      |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(freq) AS BIGINT) AS sum_freq,
      | CAST(SUM(freq) AS DOUBLE) / COUNT(*) AS mean_freq
      |FROM occ JOIN freq USING (token)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  val rarityScoreSql: String = rarityScoreSqlFor(UnicodeTokenRe)

  /** tx17: bigram language-model scoring — tx14's unigram signal
    * upgraded to CONDITIONAL probability: each document scored by the
    * mean MLE bigram probability p(w2|w1) = count(w1 w2)/count(w1 ·)
    * of its adjacent token pairs. Templated/boilerplate text scores
    * near 1 (every transition is the corpus's favorite), shuffled or
    * garbled text scores near the unigram floor — a sharper
    * fluency/quality gate than any per-token statistic, and the exact
    * quantity an n-gram-LM perplexity filter thresholds on.
    * Probability, not log-probability, on purpose: each p is one IEEE
    * division of exact counts and the mean is an exact DECIMAL sum
    * over them — bit-deterministic in both engines, where libm log
    * rounding could diverge in the last ulp.
    *
    * Scale: the bigram and left-context tables are explode→groupBy
    * (map-side partial agg; shuffle = distinct bigrams per task, NOT
    * occurrences); the probability lookup is a shuffle hash join on
    * (w1, w2) — vocabulary² outgrows any broadcast, same non-broadcast
    * decision as tx14; hot function-word bigrams skew the key — AQE
    * skew-split. Per-doc mean partial-combines. Nothing is all-pairs
    * and no driver state anywhere. */
  def bigramLm(docs: DataFrame, tokens: String = unicodeTokensExpr): DataFrame = {
    // adjacent pairs, 0-indexed: (ts[i-1], ts[i]) for i in 1..size-1
    val bi = docs
      .select(col("doc_id"), expr(tokens).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val left = bi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val pair = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val probs = pair.join(left, "w1")
      .select(col("w1"), col("w2"),
        (col("c2").cast("double") / col("c1").cast("double")).as("p"))
    bi.join(probs, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("p").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))).as("mean_bigram_p"))
      .orderBy(col("doc_id"))
  }

  def bigramLmSqlFor(re: String): String =
    s"""WITH toks AS (
      | SELECT doc_id, regexp_extract_all(lower(text), '$re') AS ts
      | FROM documents),
      |bi AS (
      | SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      | FROM toks, UNNEST(generate_series(1, len(ts) - 1)) AS u(i)
      | WHERE len(ts) >= 2),
      |lft AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
      |pair AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY w1, w2),
      |probs AS (
      | SELECT w1, w2, CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p
      | FROM pair JOIN lft USING (w1))
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      | CAST(SUM(CAST(p AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_bigram_p
      |FROM bi JOIN probs USING (w1, w2)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  val bigramLmSql: String = bigramLmSqlFor(UnicodeTokenRe)

  /** tx38 (round 15): DSIR-style IMPORTANCE SCORING for target-domain
    * data selection (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling", arXiv:2302.03169 —
    * re-expressed deterministic and Spark-first). The pipeline shape:
    * a curation run holds a small TRUSTED target sample (curated
    * sources — here a source-name list) inside a huge raw pool, and
    * wants the raw documents whose token distribution most resembles
    * the target. Each raw document is scored by the mean importance
    * ratio of its token occurrences, add-one smoothed over the corpus
    * vocabulary V:
    *
    *   r(t) = ((c_tgt(t)+1)/(N_tgt+V)) / ((c_raw(t)+1)/(N_raw+V))
    *
    * and the top-N by (score desc, doc_id) are kept. Probability
    * ratios, not log-probabilities, on purpose (tx17's rationale):
    * each r is a FIXED 3-divide IEEE expression over exact integer
    * counts — correctly-rounded divides agree bit-for-bit across
    * engines where libm log could diverge in the last ulp — and the
    * per-doc mean accumulates r in exact DECIMAL(18,6) (r ≤ N_raw+V
    * fits 12 integer digits) with ONE final divide.
    *
    * Scale: one explode → partial-agg'd token-count aggregate
    * (shuffle = vocabulary, not occurrences; both sides' counts in
    * the SAME pass via conditional aggregation), the 1-row totals
    * crossJoin-broadcast back, a shuffle hash join of raw occurrences
    * onto the V-row ratio table (vocabulary outgrows a broadcast at
    * corpus scale — tx14's decision; hot function-word keys → AQE
    * skew-split), a partial-agg'd per-doc mean, and a
    * TakeOrderedAndProject top-N — never a full global sort.
    * Zero-token raw docs are unscorable and drop out identically in
    * both engines (no occurrence rows). */
  def dsirSelect(docs: DataFrame, targetSources: Seq[String],
      topN: Int = 100, tokens: String = unicodeTokensExpr): DataFrame = {
    val occ = docs.select(col("doc_id"), col("source"),
      explode(expr(tokens)).as("token"))
    val isTgt = col("source").isin(targetSources: _*)
    val counts = occ.groupBy(col("token")).agg(
      sum(when(isTgt, 1L).otherwise(0L)).as("c_tgt"),
      sum(when(isTgt, 0L).otherwise(1L)).as("c_raw"))
    val totals = counts.agg(count(lit(1)).as("v"),
      sum(col("c_tgt")).as("n_tgt"), sum(col("c_raw")).as("n_raw"))
    val pTgt = (col("c_tgt") + 1L).cast("double") /
      (col("n_tgt") + col("v")).cast("double")
    val pRaw = (col("c_raw") + 1L).cast("double") /
      (col("n_raw") + col("v")).cast("double")
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("token"), (pTgt / pRaw).as("r"))
    occ.filter(!isTgt)
      .join(ratios, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("r").cast(DecimalType(18, 6))).cast("double") /
          count(lit(1))).as("dsir_score"))
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(topN)
  }

  /** tx39 (round 15): WEAK-LABEL LINEAR QUALITY CLASSIFIER — the
    * discriminative partner to tx38's generative importance ratios
    * (the CCNet/GPT-3 recipe trains exactly this pair: a target-vs-raw
    * classifier whose score becomes the curation filter). A batch
    * PERCEPTRON over style features, trained for a FIXED number of
    * full-corpus iterations with weak labels (y = +1 for the curated
    * target sources, −1 otherwise), then every scorable document gets
    * its margin and predicted side.
    *
    * ORACLE-GATED BIT-EXACT — rare for model training, and the point
    * (ss10's kmeans discipline, applied to a learner): features are
    * integer MICRO-UNITS (ratio → one IEEE divide of exact counts →
    * the validated half-up DECIMAL(18,6) cast → ×10⁶ → BIGINT), and
    * from there the entire training loop is integer arithmetic — the
    * gradient Σ y·x over misclassified rows is an exact BIGINT sum
    * (order-independent), margins are DECIMAL(19,0)×DECIMAL(19,0)
    * products summed in DECIMAL(38,0), and the update w += g is exact.
    * No floating point anywhere between quantization and the ONE
    * string-hopped output divide, so Spark and the unrolled DuckDB
    * CTE chain ([[weakClassifierSqlFor]]) agree bit-for-bit —
    * including every intermediate weight vector.
    *
    * Batch (not online) perceptron on purpose: the per-row update
    * order of the online variant is partition-order-dependent, the
    * full-batch gradient is a commutative sum. Under w⁰ = 0 every row
    * is misclassified (y·0 ≤ 0), so iteration 1's gradient is Σ y·x
    * over the corpus — the class-mean difference direction — and
    * further iterations correct the boundary; a separable fixture
    * reaches its fixed point (zero misclassified → zero gradient)
    * and the spec pins that w then STOPS MOVING.
    *
    * Scale: one map-side feature pass (localCheckpointed — iters+1
    * consumers), then per iteration ONE partial-agg'd aggregate to a
    * single 5-long row (shuffle = 1 row) collected as bounded driver
    * state (the centroid pattern) and broadcast back as literals in
    * the next pass's predicate. iters·O(corpus) total, no all-pairs,
    * driver holds 5 BigInts. */
  private val ClassifierFeats = Seq("x0", "x1", "x2", "x3", "x4")

  /** (doc_id, y, x0..x4) — the classifier's micro-unit feature rows.
    * Pure map-side (streaming-safe: st19 runs this projection on a
    * file-source stream). Token-less docs are unscorable and drop in
    * both engines. */
  private[graft] def classifierFeatures(docs: DataFrame,
      targetSources: Seq[String]): DataFrame = {
    val micro = 1000000L
    def mu(num: Column, den: Column): Column =
      ((num.cast("double") / den.cast("double"))
        .cast(DecimalType(18, 6)) * lit(micro)).cast("long")
    val nc = length(col("text")).cast("long")
    val nw = length(regexp_replace(col("text"), "[^\\p{L}\\p{N}]", "")).cast("long")
    val nt = size(expr(unicodeTokensExpr)).cast("long")
    val nd = length(regexp_replace(col("text"), "[^0-9]", "")).cast("long")
    val ns = (nc - length(regexp_replace(col("text"), "[ \\t\\n\\r]", ""))).cast("long")
    docs
      .select(col("doc_id"), col("source"),
        nc.as("nc"), nw.as("nw"), nt.as("nt"), nd.as("nd"), ns.as("ns"))
      .filter(col("nt") >= 1L) // token-less docs are unscorable (both engines)
      .select(col("doc_id"),
        when(col("source").isin(targetSources: _*), 1L).otherwise(-1L).as("y"),
        lit(micro).as("x0"),                          // bias = 1.0
        mu(col("nw"), col("nt")).as("x1"),            // mean token length
        mu(col("nd"), col("nc")).as("x2"),            // digit density
        mu(col("nc") - col("nw") - col("ns"), col("nc")).as("x3"), // punct density
        mu(col("ns"), col("nc")).as("x4"))            // whitespace density
  }

  /** w·x as a column under LITERAL weights — map-side scoring. */
  private def classifierMargin(w: Array[BigInt]): Column =
    ClassifierFeats.zipWithIndex.map { case (f, i) =>
      lit(new java.math.BigDecimal(w(i).bigInteger)).cast(DecimalType(19, 0)) *
        col(f).cast(DecimalType(19, 0))
    }.reduce(_ + _)

  /** TRAIN: the batch-perceptron loop over `trainDocs` — returns the
    * 5-long weight vector (bounded driver state, the centroid
    * pattern). See [[weakClassifier]] for the determinism recipe. */
  def weakClassifierTrain(trainDocs: DataFrame, targetSources: Seq[String],
      iters: Int = 3): Array[BigInt] = {
    val feat = classifierFeatures(trainDocs, targetSources).localCheckpoint()
    var w = Array.fill(ClassifierFeats.length)(BigInt(0))
    for (_ <- 1 to iters) {
      val m = classifierMargin(w)
      val miscls = (col("y") === 1L && m <= 0) || (col("y") === -1L && m >= 0)
      // coalesce: sum() over an empty relation is NULL — a corpus of
      // token-less docs must yield a zero gradient, not an NPE
      val grad = feat.select(ClassifierFeats.map(f =>
        coalesce(sum(when(miscls, col("y") * col(f)).otherwise(0L)), lit(0L)).as(f)): _*)
        .collect()(0)
      w = w.zipWithIndex.map { case (wi, i) => wi + BigInt(grad.getLong(i)) }
    }
    feat.unpersist()
    w
  }

  /** SCORE: margins + predicted side for `docs` under FROZEN weights.
    * Pure map-side (no join, no aggregate, no sort) — the shape that
    * serves a STREAM: st19 applies exactly this projection per
    * micro-batch with weights trained batch-side on the standing
    * corpus. Unordered; batch presentation sorts after. */
  def weakClassifierScore(docs: DataFrame, targetSources: Seq[String],
      w: Array[BigInt]): DataFrame =
    classifierFeatures(docs, targetSources)
      .select(col("doc_id"), col("y").as("label"), classifierMargin(w).as("m"))
      .select(col("doc_id"), col("label"), (col("m") > 0).as("pred_target"),
        // micro² units → 1.0-scale score: string-hop then ONE divide
        (col("m").cast("string").cast("double") / 1e12).as("margin"))

  def weakClassifier(docs: DataFrame, targetSources: Seq[String],
      iters: Int = 3): DataFrame = {
    val w = weakClassifierTrain(docs, targetSources, iters)
    weakClassifierScore(docs, targetSources, w).orderBy(col("doc_id"))
  }

  /** The unrolled training loop as one DuckDB CTE chain — iteration t
    * materializes weight row wt (w0..w4) and the misclassified-set
    * gradient against it; the chain length follows `iters` so the
    * oracle can never drift from the Spark loop's step count. */
  /** `trainWhere` / `scoreWhere` restrict the training corpus and the
    * scored rows (SQL predicates over the stats columns incl.
    * doc_id/source) — "TRUE"/"TRUE" is tx39's whole-corpus shape;
    * st19 trains on the standing split and scores the delta split,
    * mirroring its stream exactly. */
  def weakClassifierSqlFor(re: String, targetSources: Seq[String],
      iters: Int = 3, trainWhere: String = "TRUE",
      scoreWhere: String = "TRUE"): String = {
    val inList = targetSources.map(s => s"'$s'").mkString(", ")
    val fs = 0 to 4
    def marginSql(wRel: String): String = fs.map(i =>
      s"CAST($wRel.w$i AS DECIMAL(19,0)) * CAST(f.x$i AS DECIMAL(19,0))")
      .mkString(" + ")
    val head =
      s"""WITH stats AS (
        | SELECT doc_id, source,
        |  CAST(length(text) AS BIGINT) AS nc,
        |  CAST(length(regexp_replace(text, '[^\\p{L}\\p{N}]', '', 'g')) AS BIGINT) AS nw,
        |  CAST(len(regexp_extract_all(lower(text), '$re')) AS BIGINT) AS nt,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS nd,
        |  CAST(length(text) - length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g')) AS BIGINT) AS ns
        | FROM documents),
        |allfeat AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN source IN ($inList) THEN 1 ELSE -1 END AS BIGINT) AS y,
        |  CAST(1000000 AS BIGINT) AS x0,
        |  CAST(CAST(CAST(nw AS DOUBLE) / CAST(nt AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x1,
        |  CAST(CAST(CAST(nd AS DOUBLE) / CAST(nc AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x2,
        |  CAST(CAST(CAST(nc - nw - ns AS DOUBLE) / CAST(nc AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x3,
        |  CAST(CAST(CAST(ns AS DOUBLE) / CAST(nc AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS x4
        | FROM stats WHERE nt >= 1),
        |feat AS (SELECT * FROM allfeat WHERE $trainWhere)""".stripMargin
    // w1 = gradient under w0 = 0 (every row misclassified: y·0 ≤ 0)
    val iter1 =
      s""",w1 AS (
        | SELECT ${fs.map(i => s"CAST(COALESCE(SUM(y * x$i), 0) AS BIGINT) AS w$i").mkString(", ")}
        | FROM feat f)""".stripMargin
    val rest = (2 to iters).map { t =>
      s""",g$t AS (
        | SELECT ${fs.map(i =>
          s"CAST(COALESCE(SUM(CASE WHEN (f.y = 1 AND ${marginSql(s"w${t - 1}")} <= 0) OR (f.y = -1 AND ${marginSql(s"w${t - 1}")} >= 0) THEN f.y * f.x$i ELSE 0 END), 0) AS BIGINT) AS w$i").mkString(", ")}
        | FROM feat f, w${t - 1}),
        |w$t AS (
        | SELECT ${fs.map(i => s"w${t - 1}.w$i + g$t.w$i AS w$i").mkString(", ")}
        | FROM w${t - 1}, g$t)""".stripMargin
    }.mkString("")
    head + iter1 + rest +
      s"""
        |SELECT f.doc_id, f.y AS label,
        | (${marginSql(s"w$iters")}) > 0 AS pred_target,
        | CAST(CAST((${marginSql(s"w$iters")}) AS VARCHAR) AS DOUBLE) / 1000000000000.0 AS margin
        |FROM allfeat f, w$iters
        |WHERE $scoreWhere
        |ORDER BY f.doc_id""".stripMargin
  }

  def dsirSelectSqlFor(re: String, targetSources: Seq[String],
      topN: Int): String = {
    val inList = targetSources.map(s => s"'$s'").mkString(", ")
    s"""WITH occ AS (
      | SELECT doc_id, source,
      |  unnest(regexp_extract_all(lower(text), '$re')) AS token
      | FROM documents),
      |counts AS (
      | SELECT token,
      |  SUM(CASE WHEN source IN ($inList) THEN 1 ELSE 0 END) AS c_tgt,
      |  SUM(CASE WHEN source IN ($inList) THEN 0 ELSE 1 END) AS c_raw
      | FROM occ GROUP BY token),
      |totals AS (
      | SELECT COUNT(*) AS v, SUM(c_tgt) AS n_tgt, SUM(c_raw) AS n_raw
      | FROM counts),
      |ratios AS (
      | SELECT token,
      |  (CAST(c_tgt + 1 AS DOUBLE) / CAST(n_tgt + v AS DOUBLE)) /
      |  (CAST(c_raw + 1 AS DOUBLE) / CAST(n_raw + v AS DOUBLE)) AS r
      | FROM counts, totals)
      |SELECT doc_id, COUNT(*) AS n_tokens,
      | CAST(SUM(CAST(r AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS dsir_score
      |FROM occ JOIN ratios USING (token)
      |WHERE source NOT IN ($inList)
      |GROUP BY doc_id
      |ORDER BY dsir_score DESC, doc_id
      |LIMIT $topN""".stripMargin
  }

  /** tx18: per-domain token caps — the static MIXTURE step of a
    * training-data pipeline: no source may contribute more than capX×
    * the smallest source's token total, enforced by deterministic
    * per-source down-sampling. This is how a web-dump-dominated corpus
    * gets rebalanced toward books/reference without upsampling
    * anything.
    *
    * Everything is exact integer arithmetic so both engines agree
    * bit-for-bit: the per-source keep-rate is the integer
    * ⌊65536·capX·t_min / t_src⌋ (never a float), and a doc is kept iff
    * its first four md5 hex digits — uniform over [0, 65536) — sort
    * below that cutoff rendered as zero-padded hex ('zzzz' = keep-all,
    * sorting above every hex quad; q38's trick at 256× resolution).
    * Same doc set on every run/engine/retry/partitioning — the
    * reproducibility a published data recipe needs.
    *
    * Scale: one map-side tokenize + partial-agg per source (shuffle =
    * |sources| rows), a broadcast of the per-source cutoffs back onto
    * the scan, and the keep decision is a map-side filter — the
    * second pass never shuffles a document. The audit output here is
    * the |sources|-row summary; the kept rows themselves stay where
    * they were scanned. */
  def domainCap(docs: DataFrame, capX: Int = 2): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      size(expr(tokensExpr)).cast("long").as("n_toks"))
    val bySrc = toks.groupBy(col("source")).agg(sum(col("n_toks")).as("tot"))
    val tmin = bySrc.agg(min(col("tot")).as("t_min"))
    val cuts = bySrc.crossJoin(broadcast(tmin))
      .withColumn("cut", expr(s"(65536L * $capX * t_min) div tot"))
      .select(col("source"), col("tot"),
        when(col("cut") >= 65536L, lit("zzzz"))
          .otherwise(format_string("%04x", col("cut"))).as("cut_s"))
    toks.join(broadcast(cuts), "source")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 4) < col("cut_s"))
      .groupBy(col("source"))
      .agg(max(col("tot")).as("total_tokens"),
        count(lit(1)).as("n_docs_kept"),
        sum(col("n_toks")).as("tokens_kept"))
      .orderBy(col("source"))
  }

  def domainCapSql(capX: Int): String =
    s"""WITH toks AS (
      | SELECT doc_id, source,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_toks
      | FROM documents),
      |src AS (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS tot FROM toks GROUP BY source),
      |cuts AS (
      | SELECT source, tot,
      |  CASE WHEN (65536 * $capX * (SELECT MIN(tot) FROM src)) // tot >= 65536
      |   THEN 'zzzz'
      |   ELSE printf('%04x', (65536 * $capX * (SELECT MIN(tot) FROM src)) // tot)
      |  END AS cut_s
      | FROM src)
      |SELECT t.source, MAX(c.tot) AS total_tokens, COUNT(*) AS n_docs_kept,
      | CAST(SUM(t.n_toks) AS BIGINT) AS tokens_kept
      |FROM toks t JOIN cuts c USING (source)
      |WHERE substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 4) < c.cut_s
      |GROUP BY t.source
      |ORDER BY t.source""".stripMargin

  /** tx19: temperature-flattened mixture sampling — the OTHER standard
    * corpus-mixing policy next to tx18's hard caps: keep each document
    * of source s with probability (t_min/t_s)^0.5, so the post-sample
    * token share of source s is ∝ √t_s (the α=0.5 exponent common for
    * multilingual pretraining mixes — hard caps flatten to uniform,
    * temperature keeps a graded size signal). Determinism: the keep
    * decision is `md5(doc_id)[0,4) < cut_s` where cut = ⌊65536·√(t_min
    * /t_s)⌋ — one IEEE divide and one sqrt, both correctly rounded in
    * any engine, then an exact power-of-two scale and floor, so the
    * cut (and hence the kept set) is bit-identical everywhere; retries
    * and re-partitionings cannot change it. Scale: two token-count
    * aggregates (partial-combined) + one broadcast of |sources| cut
    * rows back onto the doc scan — the corpus itself is never
    * shuffled. */
  def mixtureSample(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      size(expr(tokensExpr)).cast("long").as("n_toks"))
    val bySrc = toks.groupBy(col("source")).agg(sum(col("n_toks")).as("tot"))
    val tmin = bySrc.agg(min(col("tot")).as("t_min"))
    val cuts = bySrc.crossJoin(broadcast(tmin))
      .withColumn("cut",
        floor(lit(65536d) * sqrt(col("t_min").cast("double") / col("tot").cast("double"))))
      .select(col("source"), col("tot"),
        when(col("cut") >= 65536L, lit("zzzz"))
          .otherwise(format_string("%04x", col("cut"))).as("cut_s"))
    toks.join(broadcast(cuts), "source")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 4) < col("cut_s"))
      .groupBy(col("source"))
      .agg(max(col("tot")).as("total_tokens"),
        count(lit(1)).as("n_docs_kept"),
        sum(col("n_toks")).as("tokens_kept"))
      .orderBy(col("source"))
  }

  val mixtureSampleSql: String =
    """WITH toks AS (
      | SELECT doc_id, source,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_toks
      | FROM documents),
      |src AS (SELECT source, CAST(SUM(n_toks) AS BIGINT) AS tot FROM toks GROUP BY source),
      |cuts AS (
      | SELECT source, tot,
      |  CAST(floor(65536 * sqrt(CAST((SELECT MIN(tot) FROM src) AS DOUBLE)
      |                          / CAST(tot AS DOUBLE))) AS BIGINT) AS cut
      | FROM src),
      |cutss AS (
      | SELECT source, tot,
      |  CASE WHEN cut >= 65536 THEN 'zzzz' ELSE printf('%04x', cut) END AS cut_s
      | FROM cuts)
      |SELECT t.source, MAX(c.tot) AS total_tokens, COUNT(*) AS n_docs_kept,
      | CAST(SUM(t.n_toks) AS BIGINT) AS tokens_kept
      |FROM toks t JOIN cutss c USING (source)
      |WHERE substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 4) < c.cut_s
      |GROUP BY t.source
      |ORDER BY t.source""".stripMargin

  /** tx15: heavy hitters — approximate hot tokens via the mergeable
    * Misra–Gries aggregate (graft.functions.MisraGries). tx6 answers
    * the same question EXACTLY but must shuffle one row per distinct
    * token; the MG summary shuffles partitions × capacity fixed-width
    * entries regardless of vocabulary size — the only workable shape
    * when the item domain (n-grams, URLs, ids) tracks corpus size.
    * Guarantee: any token with true frequency > n_tokens/(capacity+1)
    * is present; estimates under-count by at most that same bound
    * (spec-gated; estimates are merge-order-dependent, so no oracle
    * hash). Returned top `k` ≤ capacity survivors, est desc. */
  def heavyHitters(docs: DataFrame, capacity: Int = 256, k: Int = 20): DataFrame = {
    docs.select(explode(expr(tokensExpr)).as("token"))
      .agg(call_function("graft_heavyhitters", col("token"), lit(capacity)).as("hh"))
      .select(posexplode(col("hh")))
      .filter(col("pos") < k)
      .select((col("pos") + 1).cast("long").as("rnk"),
        col("col.item").as("token"), col("col.est").as("est_count"))
      .orderBy(col("rnk"))
  }

  /** tx16: the full curation pipeline as ONE composed plan — what a
    * real user of this library runs nightly: normalize (tx7 chain) →
    * quality gate (tx2's token/stopword thresholds) → exact dedup on
    * the normalized text (dd1 semantics, keeping the min-id doc and
    * its source) → sequence-pack the survivors per source (tx12). The
    * point of the composition: every per-document feature is computed
    * map-side in the SAME scan, so the whole pipeline is one scan, one
    * dedup shuffle, and one window exchange — not four separate jobs
    * re-reading the corpus. The stages share no driver state, so the
    * plan scales exactly like its widest stage (the dedup groupBy,
    * which at 100 TB keys on xxhash64(norm_text) as dd1 documents). */
  def curate(docs: DataFrame, minTokens: Int = 10, minStopRatio: Double = 0.05,
      budgetTokens: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val norm = trim(regexp_replace(
      call_function("graft_nfc", lower(col("text"))),
      "[\\s\\x00-\\x1f\\x7f]+", " "))
    val toks = "regexp_extract_all(norm_text, '[a-z0-9]+', 0)"
    val kept = docs.select(col("doc_id"), col("source"), norm.as("norm_text"))
      .withColumn("n_tokens", size(expr(toks)).cast("long"))
      .withColumn("n_stop",
        size(expr(s"filter($toks, t -> t IN ($stopListSql))")).cast("long"))
      .filter(col("n_tokens") >= minTokens &&
        col("n_stop").cast("double") / col("n_tokens") >= minStopRatio)
      .groupBy(col("norm_text"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("source"), col("doc_id")).as("source"),
        min(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_copies"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    kept
      .withColumn("pack_id",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / budgetTokens.toLong))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("n_copies"), col("pack_id"))
      .orderBy(col("source"), col("doc_id"))
  }

  def curateSql(minTokens: Int, minStopRatio: Double, budgetTokens: Int): String =
    s"""WITH feat AS (
      | SELECT doc_id, source, norm_text,
      |  CAST(len(regexp_extract_all(norm_text, '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_filter(regexp_extract_all(norm_text, '[a-z0-9]+'),
      |        t -> t IN ($stopListSql))) AS BIGINT) AS n_stop
      | FROM (
      |  SELECT doc_id, source,
      |   trim(regexp_replace(nfc_normalize(lower(text)), '[\\s\\x00-\\x1f\\x7f]+', ' ', 'g')) AS norm_text
      |  FROM documents)),
      |kept AS (
      | SELECT MIN(doc_id) AS doc_id, arg_min(source, doc_id) AS source,
      |  MIN(n_tokens) AS n_tokens, COUNT(*) AS n_copies
      | FROM feat
      | WHERE n_tokens >= $minTokens
      |  AND CAST(n_stop AS DOUBLE) / n_tokens >= $minStopRatio
      | GROUP BY norm_text)
      |SELECT doc_id, source, n_tokens, n_copies,
      | CAST(floor(CAST(coalesce(SUM(n_tokens) OVER (
      |   PARTITION BY source ORDER BY doc_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
      |  / $budgetTokens) AS BIGINT) AS pack_id
      |FROM kept
      |ORDER BY source, doc_id""".stripMargin

  /** tx20: span-level eval-DECONTAMINATION — tx11 detects benchmark
    * leakage, this removes it the way production corpora do (drop the
    * contaminated n-gram spans, keep the rest of the document; nuking
    * whole documents over one quoted benchmark line wastes data).
    * Every train-split token covered by any word n-gram that also
    * occurs in the eval split is deleted; the document is re-emitted
    * from its surviving tokens with removal counts for auditing.
    *
    * Scale design: the eval side collapses to DISTINCT shingles before
    * the join (same as tx11); train shingles probe it with one
    * left-semi hash join, and ONLY the hit positions (sparse in a
    * healthy corpus) shuffle back — grouped to one int-array row per
    * affected doc. Span expansion + token filtering then happen
    * map-side with array HOFs on the intact document row: the token
    * stream itself is never exploded across the wire. Cost is
    * O(|shingles|) join + O(hits) shuffle, NOT O(tokens). At 100 TB
    * both join sides would key on xxhash64(shingle) (8-byte keys);
    * the string key is kept so the oracle replays the join exactly. */
  def decontaminate(docs: DataFrame, n: Int = 8): DataFrame = {
    val spanOf = s"transform(sequence(1, size(ts) - ${n - 1}), i -> concat_ws(' ', slice(ts, i, $n)))"
    val t = docs.select(col("doc_id"), expr(tokensExpr).as("ts"))
    val evalSh = t.filter(col("doc_id") % 10 === 0)
      .filter(size(col("ts")) >= n)
      .select(explode(expr(spanOf)).as("shingle")).distinct()
    val tr = t.filter(col("doc_id") % 10 =!= 0)
    val trSh = tr.filter(size(col("ts")) >= n)
      .select(col("doc_id"), posexplode(expr(spanOf)))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("shingle"))
    val hits = trSh.join(evalSh, Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(collect_set(col("i")).as("his"))
    tr.join(hits, Seq("doc_id"), "left_outer")
      .withColumn("cov", expr(
        s"array_distinct(flatten(transform(coalesce(his, CAST(array() AS array<int>)), i -> sequence(i, i + ${n - 1}))))"))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        expr("array_join(filter(ts, (tok, j) -> NOT array_contains(cov, j + 1)), ' ')").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Relational replay of [[decontaminate]]: DuckDB has no
    * filter-with-index HOF, so the oracle explodes tokens and
    * anti-joins covered positions — same sets, same order keys. */
  def decontaminateSql(n: Int): String =
    s"""WITH t AS (
      | SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
      |ev AS (
      | SELECT DISTINCT unnest(list_transform(generate_series(1, len(ts) - ${n - 1}),
      |   i -> array_to_string(ts[i:i+${n - 1}], ' '))) AS shingle
      | FROM t WHERE doc_id % 10 = 0 AND len(ts) >= $n),
      |tr AS (SELECT doc_id, ts FROM t WHERE doc_id % 10 <> 0),
      |tsh AS (
      | SELECT doc_id, i, array_to_string(ts[i:i+${n - 1}], ' ') AS shingle
      | FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - ${n - 1})) AS i
      |       FROM tr WHERE len(ts) >= $n)),
      |hits AS (SELECT DISTINCT h.doc_id, h.i FROM tsh h JOIN ev USING (shingle)),
      |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(i, i + ${n - 1})) AS p FROM hits),
      |tok AS (
      | SELECT doc_id, j, ts[j] AS tok
      | FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS j FROM tr)),
      |kept AS (
      | SELECT k.doc_id, k.j, k.tok
      | FROM tok k ANTI JOIN cov c ON c.doc_id = k.doc_id AND c.p = k.j),
      |agg AS (
      | SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS clean_text, COUNT(*) AS n_kept
      | FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
      | CAST(len(t.ts) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
      | coalesce(a.clean_text, '') AS clean_text
      |FROM tr t LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** tx21: lexical-diversity profile per source — type-token ratio and
    * token Gini impurity (1 − Σp², the log-free diversity twin of
    * entropy: 0 = one token repeated, → 1 = uniform over a large
    * vocabulary), the mixture-health signal a curation pipeline tracks
    * per source alongside tx13's distinctive terms. Everything is
    * exact integer counts until ONE shared IEEE tree (n_types/n_tokens
    * and 1 − Σc²/N² — single divides of exact int64), so the oracle
    * hashes bit-exactly. Plan: one token explode → (source, token)
    * partial-agg'd count table → per-source aggregate; shuffle is
    * O(tokens) then O(vocab × sources). At 100 TB Σc² and N² outgrow
    * int64 (N > ~3·10⁹ tokens per source) — widen those two products
    * to DECIMAL(38,0); the tree shape is unchanged. */
  /** tx25: RAG CHUNKING — split each document into overlapping
    * fixed-size token windows (window W, stride S ≤ W): the
    * retrieval-unit table a RAG/eval pipeline derives before
    * embedding, and the missing within-doc sibling of tx12's
    * cross-doc packing. Chunk starts are 0, S, 2S, …, ceil((n−W)/S)·S
    * (one chunk when n ≤ W), so every token is covered and every
    * chunk contributes ≥ W−S+1 ≥ 1 new tokens — no chunk is contained
    * in its predecessor. Pure integer start arithmetic + slice +
    * array_join ⇒ bit-exact text on both engines.
    *
    * Scale: map-side only — no shuffle, no window, no join; the one
    * per-row regexp tokenize binds as a single-element transform
    * lambda variable (mm6's CollapseProject lesson: referencing a
    * projected token array from inside the chunk lambda would re-run
    * the regexp once per chunk after the optimizer re-inlines it),
    * so each doc tokenizes exactly once however many chunks it
    * yields. Output is O(Σ chunks) rows emitted straight from the
    * scan — at 100 TB this is the embarrassing-parallel shape. */
  def ragChunks(docs: DataFrame, window: Int = 64, stride: Int = 48): DataFrame = {
    require(stride >= 1 && stride <= window, "ragChunks: need 1 <= stride <= window")
    // tokenless docs drop INSIDE the lambda (the trailing filter(...,
    // n_tokens > 0) element pass), and the explode is the OUTER
    // variant with a null filter ABOVE the Generate. Both choices
    // exist to keep the chunk expression evaluated ONCE per row: for
    // a plain explode, InferFiltersFromGenerate injects a pre-Generate
    // `size(chunks) > 0 AND isnotnull(chunks)` filter and
    // CollapseProject inlines the ENTIRE chunk expression (regexp +
    // every slice) into it — the whole computation ran twice per row
    // just to test emptiness (the suite's plan pin caught 4 regexps).
    // explode_outer keeps empty rows, so nothing is inferred below;
    // the null test above the Generate references only the generated
    // attribute and cannot be pushed into the projection.
    docs
      .select(col("doc_id"), expr(
        s"""flatten(transform(array($tokensExpr), toks ->
           |  filter(
           |    transform(
           |      sequence(0L, if(size(toks) <= $window, 0L,
           |                      (size(toks) - $window + $stride - 1) div $stride)),
           |      i -> struct(
           |        cast(size(toks) as bigint) as n_tokens,
           |        i as chunk_id,
           |        i * ${stride}L as start_tok,
           |        slice(toks, cast(i * $stride + 1 as int), $window) as c)),
           |    ch -> ch.n_tokens > 0)))
           |""".stripMargin).as("chunks"))
      .select(col("doc_id"), explode_outer(col("chunks")).as("ch"))
      .filter(col("ch").isNotNull)
      .select(col("doc_id"), col("ch.n_tokens").as("n_tokens"),
        col("ch.chunk_id").as("chunk_id"), col("ch.start_tok").as("start_tok"),
        size(col("ch.c")).cast("long").as("n_chunk_tokens"),
        array_join(col("ch.c"), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  def ragChunksSql(window: Int, stride: Int): String =
    s"""WITH t AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |  FROM documents),
      |x AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t WHERE len(toks) > 0),
      |k AS (
      |  SELECT doc_id, toks, n,
      |   unnest(generate_series(0, CASE WHEN n <= $window THEN 0
      |     ELSE (n - $window + $stride - 1) // $stride END)) AS i
      |  FROM x)
      |SELECT doc_id, n AS n_tokens, CAST(i AS BIGINT) AS chunk_id,
      | CAST(i * $stride AS BIGINT) AS start_tok,
      | CAST(len(list_slice(toks, i * $stride + 1, i * $stride + $window)) AS BIGINT)
      |   AS n_chunk_tokens,
      | array_to_string(list_slice(toks, i * $stride + 1, i * $stride + $window), ' ')
      |   AS chunk_text
      |FROM k
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** tx27 (round 9): CODE-vs-PROSE detection signals — the mixture
    * router a pretraining pipeline runs before weighting code
    * separately from prose (code wants different dedup thresholds,
    * different quality gates, its own mixture temperature; routing it
    * with prose heuristics misgrades both). Three structural signals
    * no natural-language doc exhibits together: code-symbol density
    * (braces/brackets/operators per char), indented-line share
    * (leading tab / 2+ spaces — block structure), and line count;
    * is_code = symbol density ≥ 6 % OR indent share ≥ 25 % (a
    * threshold rule, not a model — deterministic and explainable,
    * tx3's heuristic policy). Exactness: every count is an exact
    * integer (length-of-replace for symbols, split for lines,
    * regexp_extract_all for indents — patterns passed as literal
    * columns so neither engine's string-escape rules touch them),
    * each ratio ONE IEEE divide of identical operands, and the
    * boolean compares identical doubles — every row hashes. Pure
    * map-side scan, no shuffle (the §2.D contract). */
  def codeSignals(docs: DataFrame): DataFrame = {
    val symCls = "[{}\\[\\]();=<>#|&*+-]"
    docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(split(col("text"), "\n", -1)).cast("long").as("n_lines"),
        (length(col("text")) -
          length(regexp_replace(col("text"), symCls, ""))).cast("long").as("n_symbols"),
        size(regexp_extract_all(col("text"),
          lit("(?:^|\n)(?:\t|  )"), lit(0))).cast("long").as("indent_lines"))
      .withColumn("symbol_ratio",
        when(col("n_chars") > 0,
          col("n_symbols").cast("double") / col("n_chars")).otherwise(lit(0.0)))
      .withColumn("indent_ratio",
        col("indent_lines").cast("double") / col("n_lines"))
      .withColumn("is_code",
        col("symbol_ratio") >= 0.06 || col("indent_ratio") >= 0.25)
      .orderBy(col("doc_id"))
  }

  /** DuckDB strings keep backslashes literal (no escape processing),
    * so the newline/tab in the indent pattern are spliced via
    * chr(10)/chr(9) — the same literal characters the Spark side
    * passes through lit(). */
  val codeSignalsSql: String =
    """WITH b AS (
      | SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars,
      |  CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      |  CAST(length(text) -
      |    length(regexp_replace(text, '[{}\[\]();=<>#|&*+-]', '', 'g')) AS BIGINT) AS n_symbols,
      |  CAST(len(regexp_extract_all(text,
      |    '(?:^|' || chr(10) || ')(?:' || chr(9) || '|  )')) AS BIGINT) AS indent_lines
      | FROM documents),
      |r AS (
      | SELECT doc_id, n_chars, n_lines, n_symbols, indent_lines,
      |  CASE WHEN n_chars > 0 THEN CAST(n_symbols AS DOUBLE) / n_chars
      |       ELSE CAST(0.0 AS DOUBLE) END AS symbol_ratio,
      |  CAST(indent_lines AS DOUBLE) / n_lines AS indent_ratio
      | FROM b)
      |SELECT doc_id, n_chars, n_lines, n_symbols, indent_lines,
      | symbol_ratio, indent_ratio,
      | symbol_ratio >= 0.06 OR indent_ratio >= 0.25 AS is_code
      |FROM r
      |ORDER BY doc_id""".stripMargin

  /** tx28 (round 9): BOILERPLATE LINE REMOVAL — strip lines that
    * repeat across ≥ `minDf` distinct documents (nav bars, headers,
    * footers, cookie banners — the crawl-cleaning step between dd8,
    * which DETECTS span duplication, and tx20, which removes spans
    * matching an eval set; this removes lines duplicated across the
    * corpus itself). A line is boilerplate iff it is non-empty and
    * occurs verbatim in ≥ minDf distinct docs — empty lines are
    * formatting, never stripped. Output per doc: line counts and the
    * CLEANED text with surviving lines in their original order (a doc
    * that was all boilerplate keeps an empty string — the doc row
    * survives, its content doesn't, tx20's keep-the-document policy).
    *
    * Exactness: pure string identity + integer counts; the rebuild is
    * position-sorted array_join — every byte deterministic. Plan:
    * posexplode to (doc, pos, line), ONE df-count shuffle keyed on
    * the line (partial-agg'd; dd8's span-key shape — never pairwise),
    * anti/semi joins against the ≤ \|boilerplate lines\| set, one
    * per-doc rebuild aggregation. O(lines) shuffles end to end. */
  def boilerplateLines(docs: DataFrame, minDf: Int): DataFrame =
    boilerplateStrip(docs, boilerplateSet(docs, minDf))

  /** The BUILD stage of boilerplate removal (round 11 — VERDICT r10
    * #6): the corpus-wide boilerplate line SET, one (line) row per
    * non-empty line occurring verbatim in ≥ `minDf` distinct docs.
    * This is the O(corpus-lines) df-count aggregation — write-once
    * per corpus version (PipelineQueries' layout convention), so the
    * per-query probe never re-prices it and the old three-consumer
    * cache of the full lines relation is gone with the fan-out. */
  def boilerplateSet(docs: DataFrame, minDf: Int): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), "\n", -1)).as("line"))
      .filter(col("line") =!= "")
      .groupBy(col("line")).agg(countDistinct(col("doc_id")).as("ddf"))
      .filter(col("ddf") >= minDf).select(col("line"))

  /** The PROBE stage: strip a given boiler set from the corpus in ONE
    * pass — posexplode to (doc, pos, line), one left join against the
    * (small) set, one per-doc rebuild aggregation in which kept/boiler
    * line counts are conditional counts and the clean text collects
    * only unmarked lines (collect_list drops the nulls the boiler-line
    * CASE leaves). No relation is consumed twice, so nothing needs a
    * cache; O(lines) shuffles end to end. */
  def boilerplateStrip(docs: DataFrame, boiler: DataFrame): DataFrame = {
    val marked = docs
      .select(col("doc_id"), posexplode(split(col("text"), "\n", -1)))
      .select(col("doc_id"), col("pos"), col("col").as("line"))
      .join(boiler.select(col("line"), lit(true).as("is_b")), Seq("line"), "left")
    marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        count(when(col("is_b"), lit(1))).as("n_boiler_lines"),
        expr("array_join(transform(array_sort(collect_list(" +
          "CASE WHEN is_b IS NULL THEN struct(pos, line) END)), " +
          "x -> x.line), chr(10))").as("clean_text"))
      .select(col("doc_id"), col("n_lines"), col("n_boiler_lines"),
        col("clean_text"))
      .orderBy(col("doc_id"))
  }

  def boilerplateLinesSql(minDf: Int): String =
    s"""WITH l AS (
      |  SELECT doc_id, gs - 1 AS pos, ln FROM (
      |    SELECT doc_id, unnest(string_split(text, chr(10))) AS ln,
      |           generate_subscripts(string_split(text, chr(10)), 1) AS gs
      |    FROM documents)),
      |b AS (
      |  SELECT ln FROM l WHERE ln <> ''
      |  GROUP BY ln HAVING COUNT(DISTINCT doc_id) >= $minDf),
      |kept AS (
      |  SELECT l.doc_id, COUNT(*) AS n_kept,
      |   string_agg(l.ln, chr(10) ORDER BY l.pos) AS clean_text
      |  FROM l LEFT JOIN b ON l.ln = b.ln
      |  WHERE b.ln IS NULL
      |  GROUP BY l.doc_id),
      |removed AS (
      |  SELECT l.doc_id, COUNT(*) AS n_boiler
      |  FROM l JOIN b ON l.ln = b.ln
      |  GROUP BY l.doc_id)
      |SELECT d.doc_id,
      | CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
      | COALESCE(r.n_boiler, 0) AS n_boiler_lines,
      | COALESCE(k.clean_text, '') AS clean_text
      |FROM documents d
      |LEFT JOIN kept k ON k.doc_id = d.doc_id
      |LEFT JOIN removed r ON r.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** tx29 (round 11): per-document N-GRAM NOVELTY — the fraction of a
    * doc's distinct 3-grams whose FIRST corpus occurrence (min doc_id
    * among holders) is this doc. The redundancy axis the dedup family
    * doesn't state: dd2/dd11 flag documents that duplicate SOME OTHER
    * document, but a crawl also saturates gradually — each new doc
    * repeats ever more of the corpus's phrasing without any single
    * near-dup partner. novelty ≈ 0 marks template families and
    * paste-heavy pages; the novelty-vs-doc_id curve prices how fast a
    * source stops contributing new content (the keep/stop signal for
    * continued crawling of a domain).
    *
    * Exactness: gram sets are exact (same tokenizer as dd2), min over
    * doc_ids exact, counts exact integers, ONE IEEE divide per row ⇒
    * hash-gate clean. Plan: tokens → per-doc DISTINCT 3-grams
    * (map-side, array ops) → explode → ONE gram-keyed partial-agg'd
    * min shuffle → join back on gram → per-doc conditional-count
    * aggregate → left join restores gram-less docs. O(grams) shuffle
    * volume, never pairwise — the gram relation is the same spine
    * dd2's index rides, so at 100 TB this is a scan-shaped pass. */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    // grams ride as xxhash64 KEYS from the first map stage (dd8's
    // hashed-span-key recipe): the per-doc distinct runs on a
    // primitive long array instead of O(len²) string scans, and both
    // shuffles (first-occurrence min, join-back) carry 8-byte keys
    // instead of 3-token strings. Collisions: 64-bit over the corpus
    // gram vocabulary, the same accepted risk dd8 documents; the
    // DuckDB oracle computes over the gram STRINGS, so the hash gate
    // itself witnesses collision-free equality at test SF.
    //
    // explode_outer + a post-generate null filter, then ONE
    // materialization (the dd8 fan-out lesson, both halves): plain
    // explode invites InferFiltersFromGenerate to re-evaluate the
    // whole tokenize+gram tree inside a pushed scan filter, and the
    // two consumers below (first-occurrence min, join-back) would
    // otherwise re-run the gram pipeline per branch — together a ~6×
    // tokenize tax, measured 14.3 → 3.3 s at sf0.1 (localCheckpoint,
    // not cache: blocks free with the RDD).
    val grams = docs.select(col("doc_id"), expr(tokensExpr).as("ws"))
      .select(col("doc_id"), expr(
        s"CASE WHEN size(ws) >= $n THEN array_distinct(transform(" +
          s"sequence(1, size(ws) - ${n - 1}), " +
          s"i -> xxhash64(concat_ws(' ', slice(ws, i, $n))))) " +
          "ELSE array() END").as("gs"))
      .select(col("doc_id"), explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
      .localCheckpoint()
    val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    val agg = grams.join(first, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), lit(1))).as("n_novel"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          col("n_novel").cast("double") / col("n_grams")).otherwise(lit(0.0))
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  val ngramNoveltySql: String =
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
      |  FROM gr JOIN first f USING (g) GROUP BY gr.doc_id)
      |SELECT d.doc_id,
      | COALESCE(a.n_grams, 0) AS n_grams,
      | COALESCE(a.n_novel, 0) AS n_novel,
      | CASE WHEN COALESCE(a.n_grams, 0) > 0
      |  THEN CAST(a.n_novel AS DOUBLE) / a.n_grams ELSE 0.0 END AS novelty
      |FROM documents d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  def diversity(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(expr(tokensExpr)).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        (col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        (lit(1.0) - col("sum_c2").cast("double") /
          (col("n_tokens") * col("n_tokens")).cast("double")).as("gini"))
      .orderBy(col("source"))

  val diversitySql: String =
    """WITH c AS (
      | SELECT source, tok, COUNT(*) AS c FROM (
      |  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |  FROM documents)
      | GROUP BY source, tok),
      |a AS (
      | SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_types, CAST(SUM(c * c) AS BIGINT) AS sum_c2
      | FROM c GROUP BY source)
      |SELECT source, n_tokens, CAST(n_types AS BIGINT) AS n_types,
      | CAST(n_types AS DOUBLE) / n_tokens AS ttr,
      | 1.0 - CAST(sum_c2 AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE) AS gini
      |FROM a ORDER BY source""".stripMargin

  /** tx22: the per-source CORPUS DATASHEET — the one-page release
    * summary every training-data drop ships (docs, token volume,
    * exact-dup load, corpus-level quality, language mix), composing
    * tx1's tokenizer, tx2's quality weights and dd1's exact-dup rule
    * into ONE fact-table pass. Exactness policy (tx21's): every
    * ingredient is an exact integer SUM until one shared IEEE tree —
    * quality here is the CORPUS-level score (ratios of summed counts,
    * each a single divide), not a mean of per-doc doubles, because a
    * Σ of doubles is partition-order-dependent and would flake the
    * hash gate. Dup load counts docs beyond their group's keeper via
    * n_docs − |distinct md5(text)| (md5 is engine-portable; the
    * within-source distinct is the dd1 rule scoped per source).
    * top_lang = most-common lang, ties lexicographic. Plan: the doc
    * stats project ONCE in the scan stage, partial-agg to
    * (source, lang) grain — |sources|×|langs| rows — then roll up to
    * source; the rank window and final join ride the tiny aggregate.
    * Shuffle: O(sources×langs) + the distinct-hash count's
    * O(distinct texts) partials. */
  def datasheet(docs: DataFrame): DataFrame = {
    val base = docs.select(col("source"), col("lang"),
      md5(col("text")).as("h"),
      size(expr(tokensExpr)).cast("long").as("n_tokens"),
      size(expr(s"filter($tokensExpr, t -> t IN ($stopListSql))")).cast("long").as("n_stop"),
      length(regexp_replace(col("text"), "[^.,;:!?]", "")).cast("long").as("n_punct"),
      length(col("text")).cast("long").as("n_chars"))
      // two consumers (lang-grain sums + the distinct-hash count) —
      // materialize the narrow stats relation so tokenization runs
      // once (dd8's lesson; without the barrier each agg
      // re-tokenizes). localCheckpoint, not cache (round 11 — ADVICE
      // r9): blocks free with the RDD's GC instead of accumulating in
      // the session cache manager
      .localCheckpoint()
    val perLang = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"), sum(col("n_stop")).as("n_stop"),
        sum(col("n_punct")).as("n_punct"), sum(col("n_chars")).as("n_chars"))
    val perSrc = base.groupBy(col("source"))
      .agg(countDistinct(col("h")).as("n_distinct"))
      .join(perLang.groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"), sum(col("n_stop")).as("n_stop"),
          sum(col("n_punct")).as("n_punct"), sum(col("n_chars")).as("n_chars")),
        "source")
    val topLang = perLang
      .withColumn("rk", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("n_docs").desc, col("lang"))))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("n_docs").as("top_lang_docs"))
    perSrc.join(topLang, "source")
      .selectExpr("source", "n_docs", "n_tokens",
        "n_docs - n_distinct as n_dup_docs",
        "(cast(n_stop as double) / n_tokens) * 0.5 + " +
          "(1.0 - cast(n_punct as double) / n_chars) * 0.3 + " +
          "least(cast(n_tokens as double) / n_docs / 100.0, 1.0) * 0.2 as quality",
        "top_lang",
        "cast(top_lang_docs as double) / n_docs as top_lang_share")
      .orderBy(col("source"))
  }

  val datasheetSql: String =
    s"""WITH base AS (
      |  SELECT source, lang, md5(text) AS h,
      |   CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |   CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |                        t -> t IN ($stopListSql))) AS BIGINT) AS n_stop,
      |   CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
      |   CAST(length(text) AS BIGINT) AS n_chars
      |  FROM documents),
      |pl AS (
      |  SELECT source, lang, COUNT(*) AS n_docs,
      |   CAST(SUM(n_tokens) AS BIGINT) AS n_tokens, CAST(SUM(n_stop) AS BIGINT) AS n_stop,
      |   CAST(SUM(n_punct) AS BIGINT) AS n_punct, CAST(SUM(n_chars) AS BIGINT) AS n_chars
      |  FROM base GROUP BY source, lang),
      |ps AS (
      |  SELECT pl.source, CAST(SUM(pl.n_docs) AS BIGINT) AS n_docs,
      |   CAST(SUM(pl.n_tokens) AS BIGINT) AS n_tokens, CAST(SUM(pl.n_stop) AS BIGINT) AS n_stop,
      |   CAST(SUM(pl.n_punct) AS BIGINT) AS n_punct, CAST(SUM(pl.n_chars) AS BIGINT) AS n_chars,
      |   dist.n_distinct
      |  FROM pl JOIN (SELECT source, COUNT(DISTINCT h) AS n_distinct
      |                FROM base GROUP BY source) dist USING (source)
      |  GROUP BY pl.source, dist.n_distinct),
      |tl AS (
      |  SELECT source, lang AS top_lang, n_docs AS top_lang_docs,
      |   row_number() OVER (PARTITION BY source
      |                      ORDER BY n_docs DESC, lang) AS rk
      |  FROM pl)
      |SELECT ps.source, ps.n_docs, ps.n_tokens,
      | CAST(ps.n_docs - ps.n_distinct AS BIGINT) AS n_dup_docs,
      | (CAST(ps.n_stop AS DOUBLE) / ps.n_tokens) * 0.5 +
      |  (1.0 - CAST(ps.n_punct AS DOUBLE) / ps.n_chars) * 0.3 +
      |  least(CAST(ps.n_tokens AS DOUBLE) / ps.n_docs / 100.0, 1.0) * 0.2 AS quality,
      | tl.top_lang,
      | CAST(tl.top_lang_docs AS DOUBLE) / ps.n_docs AS top_lang_share
      |FROM ps JOIN tl ON tl.source = ps.source AND tl.rk = 1
      |ORDER BY ps.source""".stripMargin

  /** tx23: scoring under a FROZEN reference LM — the production shape
    * of the quality filter tx17 prototypes. tx17 trains and scores on
    * the same corpus (every bigram is by construction in-vocabulary);
    * a deployed filter freezes the LM on a TRUSTED subset and scores
    * everything else, where unseen bigrams are the norm and the OOV
    * rate is itself a quality signal. Reference = the deterministic
    * 25 % doc_id-hash split (first md5 hex digit < '4' — tx18's
    * engine-identical hash trick; content-independent, so the split
    * can't leak quality). Scoring: p(w2|w1) = c2/c1 from the frozen
    * LM when the bigram was seen, else the 1e-6 add-epsilon floor;
    * every p is one IEEE divide of exact counts (or the literal),
    * quantized to DECIMAL(18,12) per term — 12 dp because backoff
    * probabilities live near the floor where (18,6) would round to
    * zero — and summed order-independently; the mean and oov_rate are
    * final shared divides, so every row hashes.
    *
    * Scale: tx17's plan twice-over — the exploded bigram relation
    * feeds both the (ref-filtered) LM build and the all-docs scoring
    * join, two evaluations of the tokenize branch (tx17's accepted
    * self-train shape; a REAL deployment amortizes the LM side as a
    * write-once layout, at which point scoring is ONE scan + one
    * (w1,w2) shuffle join). Nothing broadcasts that scales with
    * vocabulary²; per-doc means partial-combine. */
  def lmScore(docs: DataFrame, tokens: String = unicodeTokensExpr): DataFrame = {
    val toks = docs
      .select(col("doc_id"), expr(tokens).as("ts"),
        (substring(md5(col("doc_id").cast("string")), 1, 1) < "4").as("is_ref"))
      .filter(size(col("ts")) >= 2)
    val bi = toks
      .select(col("doc_id"), col("is_ref"), explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))")).as("b"))
      .select(col("doc_id"), col("is_ref"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val refBi = bi.filter(col("is_ref"))
    val left = refBi.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val pair = refBi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val probs = pair.join(left, "w1")
      .select(col("w1"), col("w2"),
        (col("c2").cast("double") / col("c1").cast("double")).as("p_bi"))
    bi.join(probs, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("p_bi").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("p_bi"), lit(1e-6)).cast(DecimalType(18, 12))).as("s"))
      .selectExpr("doc_id", "n_bigrams", "n_oov",
        "cast(n_oov as double) / cast(n_bigrams as double) as oov_rate",
        "cast(cast(s as string) as double) / cast(n_bigrams as double) as mean_ref_p")
      .orderBy(col("doc_id"))
  }

  /** [[lmScoreSql]] parameterized on the DuckDB tokenizer regex (the
    * tx34 unicode twin reuses the whole statement). */
  def lmScoreSqlFor(re: String): String =
    s"""WITH toks AS (
      | SELECT doc_id, regexp_extract_all(lower(text), '$re') AS ts,
      |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' AS is_ref
      | FROM documents),
      |bi AS (
      | SELECT doc_id, is_ref, ts[i] AS w1, ts[i+1] AS w2
      | FROM toks, UNNEST(generate_series(1, len(ts) - 1)) AS u(i)
      | WHERE len(ts) >= 2),
      |lft AS (SELECT w1, COUNT(*) AS c1 FROM bi WHERE is_ref GROUP BY w1),
      |pair AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi WHERE is_ref GROUP BY w1, w2),
      |probs AS (
      | SELECT w1, w2, CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE) AS p_bi
      | FROM pair JOIN lft USING (w1)),
      |scored AS (
      | SELECT bi.doc_id, p.p_bi
      | FROM bi LEFT JOIN probs p ON p.w1 = bi.w1 AND p.w2 = bi.w2)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      | CAST(SUM(CASE WHEN p_bi IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      | CAST(SUM(CASE WHEN p_bi IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate,
      | CAST(CAST(SUM(CAST(coalesce(p_bi, 0.000001) AS DECIMAL(18,12))) AS VARCHAR) AS DOUBLE)
      |  / COUNT(*) AS mean_ref_p
      |FROM scored
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  val lmScoreSql: String = lmScoreSqlFor(UnicodeTokenRe)
}
