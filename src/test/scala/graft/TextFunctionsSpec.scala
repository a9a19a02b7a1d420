package graft

import graft.functions.TextFunctions

/** §2.D specs (SURVEY.md §6): hand-computed fixtures + determinism. */
class TextFunctionsSpec extends SparkTestBase {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "The cat sat. The mat!", "en"),
      (2L, "", "en"),
      (3L, "der die und das ist nicht ein zu", "de"),
      (4L, "le la et les des un une est", "fr"),
    ).toDF("doc_id", "text", "lang")
  }

  test("tx1 token stats on a hand-computed fixture") {
    val out = TextFunctions.tokenStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // "The cat sat. The mat!": tokens [the,cat,sat,the,mat]=5, alnum=15, chars=21
    assert(out(1L) === ((5L, 15L, 21L)))
    assert(out(2L) === ((0L, 0L, 0L)))
  }

  test("tx31 unicode tokens: multilingual fixture counted; ASCII coverage exposed (round 13)") {
    import spark.implicits._
    val multi = Seq(
      (1L, "Hello world 42"),              // pure ASCII: unicode ≡ ascii
      (2L, "Привет мир и снова мир"),      // Cyrillic: ascii sees nothing
      (3L, "北京 欢迎 你"),                  // CJK runs: 3 tokens, ascii 0
      (4L, "Straße café 7 naïve"),         // mixed: ascii splits the accents
      (5L, ""),                            // empty: all zero, share 0.0
    ).toDF("doc_id", "text")
    val out = TextFunctions.unicodeTokenStats(multi).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) === ((3L, 3L, 3L, 1.0)))
    assert(out(2L) === ((5L, 4L, 0L, 0.0))) // "мир" repeats → 4 distinct
    assert(out(3L) === ((3L, 3L, 0L, 0.0)))
    // "straße"→1 unicode token but ascii splits at ß: [stra, e];
    // "café" → [caf]; "naïve" → [na, ve]; "7" both → ascii 6 of
    // unicode 4
    assert(out(4L) === ((4L, 4L, 6L, 6.0 / 4.0)))
    assert(out(5L) === ((0L, 0L, 0L, 0.0)))
  }

  test("tx2 quality: stopword/punct ratios on fixture") {
    val r = TextFunctions.qualityScore(docs).collect().find(_.getLong(0) == 1L).get
    // n_tokens=5, n_stop=2 ("the" twice), n_punct=2 (. !), n_chars=21
    assert(r.getLong(1) === 5L && r.getLong(2) === 2L && r.getLong(3) === 2L)
    assert(math.abs(r.getDouble(5) - 0.4) < 1e-12) // stop_ratio
    assert(r.getString(7) === "short")
  }

  test("CJK documents score through the DEFAULT gates; the ascii twins pin " +
      "the legacy regime (round 15 — VERDICT r14 #3)") {
    import spark.implicits._
    // 26 CJK tokens plus one digit run: the ASCII gate sees n_tokens=1
    // ("2024") and the contamination/LM gates see NO shingles at all;
    // the unicode twins run the same formulas on real counts
    val cjkText = ("北京 欢迎 你 来到 美丽 的 中国 首都 这里 有 长城 故宫 和 很多 " +
      "历史 文化 遗产 欢迎 你 再次 来到 北京 参观 学习 交流 2024 年")
    val multi = Seq(
      (9L, cjkText),
      (10L, cjkText), // eval-side twin of 9 (10 % 10 == 0): contaminated
      (11L, "the cat sat on the mat and it was that kind of day in the sun"),
    ).toDF("doc_id", "text")
    // quality: the ASCII twin calls the CJK doc near-empty; the
    // DEFAULT path (unicode since round 15) counts it
    val asciiQ = TextFunctions.qualityScore(multi, TextFunctions.tokensExpr)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uniQ = TextFunctions.qualityScore(multi)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(7))).toMap
    assert(asciiQ(9L) === 1L, "fixture drift: ASCII should see only the digit run")
    assert(uniQ(9L)._1 === 27L && uniQ(9L)._2 === "medium")
    assert(uniQ(11L)._1 === asciiQ(11L), "English rows must agree across twins")
    // contamination: the eval-side CJK duplicate is invisible to the
    // ASCII gate (0 shingles) but fully contaminated under unicode
    val asciiC = TextFunctions.contamination(multi, 3, TextFunctions.tokensExpr)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    val uniC = TextFunctions.contamination(multi)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(asciiC(10L)._1 === 0L, "ASCII gate must see no CJK shingles")
    assert(uniC(10L)._1 > 0L && uniC(10L)._2 === 1.0,
      "unicode gate must flag the verbatim CJK eval duplicate")
    // LM scoring: the CJK doc gets real bigrams through the default
    val uniL = TextFunctions.lmScore(multi)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uniL.contains(9L) && uniL(9L) === 26L)
  }

  test("contamination probe ≡ inline for both tokenizer regimes (round 14): " +
      "the materialized train set changes the plan, never the answer") {
    import graft.queries.PipelineQueries
    val docs = Tables.documents(spark, Sf0001)
    for ((tag, tok) <- Seq("ascii" -> TextFunctions.tokensExpr,
        "uni" -> TextFunctions.unicodeTokensExpr)) {
      val inline = TextFunctions.contamination(docs, 3, tok).collect().toSeq
      val idx = PipelineQueries.cachedContamIndex(spark, Sf0001, tag, tok)
      val probe = TextFunctions.contaminationProbe(docs,
        spark.read.parquet(s"$idx/train"), 3, tok).collect().toSeq
      assert(probe === inline, s"probe diverged from inline under $tag")
    }
  }

  test("CJK vocabulary visible to the DEFAULT vocab/tfidf/rarity; ascii twins " +
      "pin the legacy regime (round 15)") {
    import spark.implicits._
    val multi = Seq(
      (9L, "北京 欢迎 你 北京 欢迎", "zh", "src_a"),
      (11L, "the cat sat on the mat", "en", "src_b"),
    ).toDF("doc_id", "text", "lang", "source")
    // vocab: the ASCII table has no CJK rows; the unicode table counts
    // them with exact frequencies
    val asciiV = TextFunctions.vocabTopK(multi, 100,
      TextFunctions.tokensExpr).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val uniV = TextFunctions.vocabTopK(multi, 100).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(!asciiV.contains("北京"))
    assert(uniV("北京") === 2L && uniV("欢迎") === 2L && uniV("你") === 1L)
    assert(uniV("the") === asciiV("the"), "English vocab must agree across twins")
    // tfidf: src_a gets real distinctive terms instead of no rows
    val asciiT = TextFunctions.tfidfTopTerms(multi, 5,
      TextFunctions.tokensExpr).collect().map(_.getString(0))
    val uniT = TextFunctions.tfidfTopTerms(multi, 5).collect()
      .map(r => (r.getString(0), r.getString(2)))
    assert(!asciiT.contains("src_a"), "fixture drift: ASCII should see no src_a tokens")
    assert(uniT.exists { case (s, t) => s == "src_a" && t == "北京" })
    // rarity: the CJK doc drops out under ASCII (no occurrence rows),
    // scores real mean frequency under unicode: tokens
    // [北京,欢迎,你,北京,欢迎] freqs [2,2,1,2,2] → 9/5
    val asciiR = TextFunctions.rarityScore(multi,
      TextFunctions.tokensExpr).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val uniR = TextFunctions.rarityScore(multi).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(!asciiR.contains(9L))
    assert(math.abs(uniR(9L) - 9.0 / 5.0) < 1e-12)
    assert(uniR(11L) === asciiR(11L), "English rarity must agree across twins")
  }

  test("tx3 langid: function-word fixtures classified; deterministic") {
    val out = TextFunctions.languageId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(7)).toMap
    assert(out(3L) === "de")
    assert(out(4L) === "fr")
    val again = TextFunctions.languageId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(7)).toMap
    assert(out === again)
  }

  test("tx5 BPE-ish counting on a hand-computed fixture") {
    import spark.implicits._
    val d = Seq((1L, "It's 42 degrees, really!")).toDF("doc_id", "text")
    val r = TextFunctions.bpeTokenStats(d).collect().head
    // ws tokens: [It's, 42, degrees,, really!] = 4
    // bpe on "it's 42 degrees, really!":
    //   "it" "'s" " 42" " degrees" "," " really" "!" = 7
    assert(r.getLong(1) === 4L)
    assert(r.getLong(2) === 7L)
    assert(r.getLong(3) === 7L) // all distinct here
  }

  test("tx7 normalize: NFC composes, whitespace collapses, controls strip") {
    import spark.implicits._
    val decomposedCafe = "Café" // e + combining acute
    val d = Seq(
      (1L, s"  $decomposedCafe\t\tTIME line \r\n done "),
      (2L, "café time line done"), // precomposed, already normal
    ).toDF("doc_id", "text")
    val out = TextFunctions.normalizeText(d).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "café time line done")
    assert(out(1L) === out(2L)) // both encodings collapse to one key
  }

  test("tx6 vocab top-k: hand-counted frequencies, deterministic tie-break") {
    import spark.implicits._
    val d = Seq(
      (1L, "b b b a a c"),
      (2L, "a c d"),
    ).toDF("doc_id", "text")
    // freqs: b=3, a=3, c=2, d=1 → order: (a,3),(b,3),(c,2) at k=3
    val out = TextFunctions.vocabTopK(d, 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out === Seq(("a", 3L), ("b", 3L), ("c", 2L)))
  }

  test("tx4 WinnowMinima is bit-identical to the nested-HOF reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, col, lit, lower}
    // edge shapes: empty, shorter than k, between k and k+w, long, repeats
    val fixture = Seq(
      (1L, ""), (2L, "abc"), (3L, "abcdefgh"), (4L, "abcdefghij"),
      (5L, "aaaaaaaaaaaaaaaaaaaaaaaa"), (6L, "The quick brown fox JUMPS over 42 lazy dogs, twice."),
    ).toDF("doc_id", "text")
    val corpus = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
      .union(fixture)
    for ((k, w) <- Seq((8, 4), (3, 2), (5, 7))) {
      val fast = corpus.select(col("doc_id"),
          call_function("graft_winnow", lower(col("text")), lit(k), lit(w)).as("fps"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val ref = WinnowReference.fingerprints(corpus, k, w)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(fast === ref, s"(k=$k, w=$w)")
    }
  }

  test("tx9 redaction scrubs planted emails, IPs, and phone runs") {
    import spark.implicits._
    val d = Seq(
      (1L, "contact bob.smith+spam@example.co.uk or call +1 555-123-4567 now", "en"),
      (2L, "server at 192.168.0.1 responded; backup at 10.0.0.255", "en"),
      (3L, "no pii here at all", "en"),
    ).toDF("doc_id", "text", "lang")
    val out = TextFunctions.redactPii(d).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L)._1 === "contact <EMAIL> or call <PHONE> now")
    assert(out(1L)._2 === 1L && out(1L)._4 === 1L)
    assert(out(2L)._1 === "server at <IP> responded; backup at <IP>")
    assert(out(2L)._3 === 2L)
    assert(out(3L) === (("no pii here at all", 0L, 0L, 0L)))
  }

  test("tx10 clean pipeline collapses case/whitespace variants and gates short docs") {
    import spark.implicits._
    val d = Seq(
      (1L, "The cat and the dog sat in a big house of wonders today", "en"),
      (2L, "the cat  and THE dog sat in a big house  of wonders today", "en"),
      (3L, "tiny doc", "en"),
    ).toDF("doc_id", "text", "lang")
    val out = TextFunctions.cleanCorpus(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // docs 1 and 2 normalize to the same text → one survivor (min id), 2 copies;
    // doc 3 fails the 10-token gate
    assert(out.toSeq === Seq((1L, 2L, 13L)))
  }

  test("tx11 contamination counts planted train/eval shingle overlap") {
    import spark.implicits._
    // eval = doc_id % 10 == 0
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon", "en"),
      (2L, "unrelated text entirely here now", "en"),
      (10L, "alpha beta gamma zeta", "en"),   // shingles: {a b g, b g z} → 1 hit
      (20L, "nothing shared with training docs", "en"),
      (30L, "xx yy", "en"),                   // < 3 tokens → 0 shingles
    ).toDF("doc_id", "text", "lang")
    val out = TextFunctions.contamination(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(10L) === ((2L, 1L, 0.5)))
    assert(out(20L)._2 === 0L)
    assert(out(30L) === ((0L, 0L, 0.0)))
    assert(out.keySet === Set(10L, 20L, 30L)) // train docs not in output
  }

  test("tx12 packing: boundary-crossing docs overflow, never split") {
    import spark.implicits._
    // 4 tokens per doc, budget 10: cum_before = 0,4,8,12 → packs 0,0,0,1
    val d = Seq(
      (1L, "one two three four", "s0"),
      (2L, "one two three four", "s0"),
      (3L, "one two three four", "s0"),
      (4L, "one two three four", "s0"),
      (5L, "one two", "s1"), // separate source packs independently
    ).toDF("doc_id", "text", "source")
    val out = TextFunctions.packDocs(d, budgetTokens = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 0L))
  }

  test("tx13 tfidf ranks a source-exclusive token first") {
    import spark.implicits._
    val d = Seq(
      (1L, "common common zebra zebra zebra", "s0"),
      (2L, "common words only", "s1"),
      (3L, "common words again", "s2"),
    ).toDF("doc_id", "text", "source")
    val out = TextFunctions.tfidfTopTerms(d, 2).collect()
    val s0 = out.filter(_.getString(0) == "s0")
    assert(s0.head.getString(2) === "zebra") // df=1, tf=3 → top score
    // ranks are 1..k and scores non-increasing within a source
    out.groupBy(_.getString(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length).toSeq)
      val scores = sorted.map(_.getDouble(5))
      assert(scores.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    }
  }

  test("tx14 rarity: mean corpus frequency on a hand-computed fixture") {
    import spark.implicits._
    // corpus counts: common=4, rare=1, mid=2, other=1
    val d = Seq(
      (1L, "common common rare", "en"),   // freqs 4,4,1 → mean 3.0
      (2L, "common mid", "en"),           // freqs 4,2 → mean 3.0
      (3L, "common mid other", "en"),     // freqs 4,2,1 → mean 7/3
      (4L, "...", "en"),                  // no tokens → dropped
    ).toDF("doc_id", "text", "lang")
    val out = TextFunctions.rarityScore(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((3L, 9L, 3.0)))
    assert(out(2L) === ((2L, 6L, 3.0)))
    assert(out(3L) === ((3L, 7L, 7.0 / 3.0)))
  }

  test("tx15 heavy hitters: survivor guarantee and error bound on planted data") {
    import spark.implicits._
    // 400 "hot" tokens (40%), 300 "warm" (30%), 300 singleton-ish cold
    val hot = Seq.fill(400)("hot")
    val warm = Seq.fill(300)("warm")
    val cold = (0 until 300).map(i => s"cold$i")
    val docs = (hot ++ warm ++ cold).grouped(20).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" "), "en") }
      .toSeq.toDF("doc_id", "text", "lang")
    val cap = 16
    val out = TextFunctions.heavyHitters(docs, capacity = cap, k = 5).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val n = 1000L
    // freq > n/(cap+1) ≈ 58.8 → hot and warm MUST survive
    assert(out.contains("hot") && out.contains("warm"))
    // MG under-counts by at most n/(cap+1)
    assert(out("hot") <= 400L && out("hot") >= 400L - n / (cap + 1))
    assert(out("warm") <= 300L && out("warm") >= 300L - n / (cap + 1))
    assert(out("hot") >= out("warm"))
  }

  test("tx15 equals exact tx6 counts when capacity exceeds the vocabulary") {
    val docs = Tables.documents(spark, Sf0001)
    // driver corpus vocab ≈ 31 tokens < 256 = capacity → MG never
    // decrements, so estimates are EXACT counts and match tx6
    val hh = TextFunctions.heavyHitters(docs, capacity = 256, k = 10).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    val exact = TextFunctions.vocabTopK(docs, 10).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(hh.toSeq === exact.toSeq)
  }

  test("tx16 curation pipeline: gate, dedup, and packing compose correctly") {
    import spark.implicits._
    val long1 = "The cat and the dog sat in a big house of wonders today"
    val d = Seq(
      (1L, long1, "s0"),
      (2L, long1.toUpperCase + "  ", "s1"), // normalizes to doc 1's text → dropped copy
      (3L, "tiny doc", "s0"),               // fails the 10-token gate
      (4L, "The quick brown fox jumps over a lazy dog near the old barn", "s0"),
    ).toDF("doc_id", "text", "source")
    val out = TextFunctions.curate(d, budgetTokens = 15).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // survivors: doc 1 (2 copies, keeps ITS source s0) and doc 4
    assert(out.keySet === Set(1L, 4L))
    assert(out(1L) === (("s0", 13L, 2L, 0L)))
    // doc 4: cum_before = 13 within s0 → floor(13/15) = pack 0
    assert(out(4L)._1 === "s0" && out(4L)._4 === 0L)
  }

  test("tx16 plans one scan: dedup exchange + pack window, nothing more") {
    val docs = Tables.documents(spark, Sf0001)
    val p = TextFunctions.curate(docs).queryExecution.executedPlan.toString
    // aggregate exchange (dedup), window exchange (re-key by source),
    // and the output-contract range sort — no fourth shuffle, and the
    // corpus parquet is scanned exactly once
    assert("Exchange".r.findAllIn(p).size <= 3, s"extra shuffles:\n$p")
    assert("Scan parquet".r.findAllIn(p).size === 1, s"corpus scanned more than once:\n$p")
  }

  test("tx4 fingerprints: identical texts → identical fingerprint sets") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "a totally different sentence with other words here"),
    ).toDF("doc_id", "text")
    val out = TextFunctions.fingerprints(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) === out(2L))
    assert(out(1L) !== out(3L))
    assert(out(1L)._1 > 0)
  }

  test("tx17 bigram LM: hand-computed conditional probabilities") {
    import spark.implicits._
    // bigrams: d1 = (a,b),(b,a),(a,b),(b,a); d2 = (a,b),(b,c); d3 none
    // counts: c1(a)=3, c1(b)=3; c2(a,b)=3, c2(b,a)=2, c2(b,c)=1
    // p(b|a)=1.0, p(a|b)=2/3→0.666667 (DECIMAL(18,6)), p(c|b)=1/3→0.333333
    val d = Seq(
      (1L, "a b a b a"), (2L, "a b c"), (3L, "x"),
    ).toDF("doc_id", "text")
    val out = TextFunctions.bigramLm(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSet === Set(1L, 2L)) // single-token doc dropped
    val byId = out.map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(1L)._1 === 4L)
    assert(math.abs(byId(1L)._2 - 3.333334 / 4) < 1e-12)
    assert(byId(2L)._1 === 2L)
    assert(math.abs(byId(2L)._2 - 1.333333 / 2) < 1e-12)
    // templated text scores strictly higher than the shuffled variant
    assert(byId(1L)._2 > byId(2L)._2)
  }

  test("tx18 domain caps: exact integer cutoffs, smallest source kept whole") {
    import spark.implicits._
    // A: 60 docs x 5 tokens = 300; B: 4 docs x 5 = 20 (the floor source)
    val corpus = ((1 to 60).map(i => (i.toLong, "one two three four five", "A")) ++
      (101 to 104).map(i => (i.toLong, "one two three four five", "B")))
      .toDF("doc_id", "text", "source")
    val out = TextFunctions.domainCap(corpus, capX = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // B is the floor: rate = 2*20/20 >= 1 → every doc kept
    assert(out("B") === ((20L, 4L, 20L)))
    // A's cutoff = (65536*2*20) div 300 = 8738 = 0x2222; replay the md5
    // keep-decision in the JVM and demand the exact same doc set
    val mdv = java.security.MessageDigest.getInstance("MD5")
    def hex4(id: Long): String =
      mdv.digest(id.toString.getBytes("UTF-8")).take(2).map(b => f"$b%02x").mkString
    val expKept = (1 to 60).count(i => hex4(i.toLong) < "2222")
    assert(out("A") === ((300L, expKept.toLong, expKept * 5L)))
    assert(expKept > 0 && expKept < 60) // the cap actually bit
  }

  test("tx20 decontaminate: exactly the leaked span's tokens are removed") {
    import spark.implicits._
    // eval doc 10 carries the benchmark line; train doc 3 quotes it
    // mid-document; train doc 7 shares no 4-gram with any eval doc
    val leak = "alpha bravo charlie delta" // n = 4 shingle
    val corpus = Seq(
      (10L, s"prefix words $leak suffix words"),
      (3L, s"intro text here $leak and the rest of the doc continues"),
      (7L, "completely different content with no overlap whatsoever")
    ).toDF("doc_id", "text")
    val out = TextFunctions.decontaminate(corpus, n = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(!out.contains(10L)) // eval split not emitted
    // doc 3: only the 4 leaked tokens go; text re-joins around the hole
    assert(out(3L) === ((14L, 4L,
      "intro text here and the rest of the doc continues")))
    // doc 7 untouched
    assert(out(7L)._2 === 0L)
    assert(out(7L)._3 === "completely different content with no overlap whatsoever")
    // overlapping leaked spans: two hits 1 apart remove the union, not 2n
    val corpus2 = Seq(
      (20L, s"$leak echo"), // eval: shingles "alpha bravo charlie delta", "bravo charlie delta echo"
      (1L, s"start $leak echo finish")
    ).toDF("doc_id", "text")
    val out2 = TextFunctions.decontaminate(corpus2, n = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out2(1L) === ((7L, 5L, "start finish")))
  }

  test("tx21 diversity equals a JVM replay; planted extremes bound gini") {
    import spark.implicits._
    // source A: one token repeated -> gini = 1 - 1 = 0, ttr = 1/N
    // source B: all-distinct tokens -> gini = 1 - N/N^2 = 1 - 1/N
    val docs = Seq(
      (1L, "same same same same same same same same", "A"),
      (2L, (1 to 50).map(i => s"tok$i").mkString(" "), "B")
    ).toDF("doc_id", "text", "source")
    val out = TextFunctions.diversity(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("A") === ((8L, 1L, 1.0 / 8, 1.0 - 64.0 / 64.0)))
    assert(out("B") === ((50L, 50L, 1.0, 1.0 - 50.0 / 2500.0)))
    // and on the driver corpus: replay counts in the JVM
    val corpus = Tables.documents(spark, Sf0001)
      .selectExpr("source", "regexp_extract_all(lower(text), '[a-z0-9]+', 0) as ts")
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
    val ref = corpus.groupBy(_._1).map { case (src, rows) =>
      val counts = rows.flatMap(_._2).groupBy(identity).map(_._2.size.toLong)
      val n = counts.sum
      val c2 = counts.map(c => c * c).sum
      src -> ((n, counts.size.toLong,
        counts.size.toLong.toDouble / n, 1.0 - c2.toDouble / (n * n).toDouble))
    }
    val got = TextFunctions.diversity(Tables.documents(spark, Sf0001)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got === ref)
  }

  test("tx22 datasheet: dup count, top-lang tie-break and integer-sum quality on a hand fixture") {
    import spark.implicits._
    val ds = Seq(
      // source "a": 3 docs, two byte-identical (one dup beyond the
      // keeper), langs en/en/fr → top_lang en with share 2/3
      (1L, "the cat sat on the mat", "en", "a"),
      (2L, "the cat sat on the mat", "en", "a"),
      (3L, "completely different words here", "fr", "a"),
      // source "b": two docs, one per lang — the doc-count TIE must
      // break lexicographically (de before fr)
      (4L, "ein text ohne treffer", "de", "b"),
      (5L, "un texte sans rien", "fr", "b"))
      .toDF("doc_id", "text", "lang", "source")
    val out = TextFunctions.datasheet(ds).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getString(5), r.getDouble(6)))).toMap
    val a = out("a")
    assert(a._1 === 3L)             // n_docs
    assert(a._3 === 1L)             // n_dup_docs: 3 docs, 2 distinct texts
    assert(a._5 === "en" && a._6 === 2.0 / 3.0)
    val b = out("b")
    assert(b._3 === 0L)
    assert(b._5 === "de" && b._6 === 0.5) // tie → lexicographically first lang
    // corpus-level quality stays in (0, 1] and is reproducible
    assert(out.values.forall(v => v._4 > 0.0 && v._4 <= 1.0))
    val again = TextFunctions.datasheet(ds).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getString(5), r.getDouble(6)))).toMap
    assert(again === out)
  }

  test("tx23 lm score: reference docs are in-vocabulary by construction; held-out docs hit OOV backoff") {
    import org.apache.spark.sql.functions.{col, md5, substring}
    // the frozen LM is trained on the md5-split reference quarter, so
    // a REFERENCE doc can never meet an unseen bigram (its own bigrams
    // trained the model) — n_oov must be exactly 0 there; and the
    // held-out three quarters must actually exercise the backoff arm
    // or the fixture proves nothing about the train/score split
    val out = TextFunctions.lmScore(Tables.documents(spark, Sf0001))
      .withColumn("is_ref",
        substring(md5(col("doc_id").cast("string")), 1, 1) < "4")
      .collect()
    val (ref, held) = out.partition(_.getBoolean(5))
    assert(ref.nonEmpty && held.nonEmpty)
    assert(ref.forall(_.getLong(2) == 0L), "a reference doc scored OOV bigrams")
    assert(held.exists(_.getLong(2) > 0L), "no held-out doc hit backoff — split degenerate")
    // oov_rate is exactly n_oov/n_bigrams and the mean stays in (0, 1]
    out.foreach { r =>
      assert(r.getDouble(3) === r.getLong(2).toDouble / r.getLong(1).toDouble)
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("tx24 keywords: hand-computed per-doc tf-idf ranks and scores") {
    import spark.implicits._
    // N = 3 docs; df: apple 2, banana 2, cherry 1, dog 1.
    // d1: apple tf2 -> 2*(3/2)=3.0, banana 1*(3/2)=1.5
    // d2: cherry 1*3=3.0, banana 1.5
    // d3: dog 3*3=9.0, apple 1.5
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple dog dog dog")).toDF("doc_id", "text")
    val out = TextFunctions.docTopTerms(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(out === Seq(
      (1L, 1L, "apple", 2L, 2L, 3.0),
      (1L, 2L, "banana", 1L, 2L, 1.5),
      (2L, 1L, "cherry", 1L, 1L, 3.0),
      (2L, 2L, "banana", 1L, 2L, 1.5),
      (3L, 1L, "dog", 3L, 1L, 9.0),
      (3L, 2L, "apple", 1L, 2L, 1.5)))
    // k truncation: with k=1 only each doc's best survives
    val k1 = TextFunctions.docTopTerms(docs, 1).collect().map(_.getString(2)).toSeq
    assert(k1 === Seq("apple", "cherry", "dog"))
  }

  test("tx25 rag chunks: coverage, overlap, and short-doc invariants; tokenize runs once per row") {
    import spark.implicits._
    // 10 tokens, W=4, S=3: starts 0,3,6 -> ceil((10-4)/3)=2 -> 3 chunks
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"),
      (2L, "a b"),          // n <= W: exactly one chunk, the whole doc
      (3L, "..."),          // tokenless: dropped entirely
      (4L, (0 until 9).map(i => s"x$i").mkString(" "))) // n-W divisible by S: starts 0,3,(ceil(5/3)=2)->6
      .toDF("doc_id", "text")
    val out = TextFunctions.ragChunks(docs, window = 4, stride = 3).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))
    assert(out.toSeq === Seq(
      (1L, 0L, 0L, 4L, "t0 t1 t2 t3"),
      (1L, 1L, 3L, 4L, "t3 t4 t5 t6"),
      (1L, 2L, 6L, 4L, "t6 t7 t8 t9"),
      (2L, 0L, 0L, 2L, "a b"),
      (4L, 0L, 0L, 4L, "x0 x1 x2 x3"),
      (4L, 1L, 3L, 4L, "x3 x4 x5 x6"),
      (4L, 2L, 6L, 3L, "x6 x7 x8")))
    // coverage on real data: per doc, last start + its chunk length = n,
    // and consecutive starts differ by exactly the stride
    val real = TextFunctions.ragChunks(Tables.documents(spark, Sf0001), 64, 48)
    val byDoc = real.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.expr("max(start_tok + n_chunk_tokens)").as("covered"),
        org.apache.spark.sql.functions.expr("max(n_tokens)").as("n"),
        org.apache.spark.sql.functions.expr(
          "count(*) = 1 + max(chunk_id) and min(n_chunk_tokens) >= 1").as("dense"))
    assert(byDoc.filter("covered <> n or not dense").count() === 0)
    // the tokenize binds once: exactly one regexp in the physical plan
    val p = real.queryExecution.executedPlan.toString
    assert("regexp_extract_all".r.findAllIn(p).size <= 1,
      s"tokenize re-inlined into the chunk lambda (mm6's recompute class):\n${p.take(2000)}")
  }

  test("tx26 leakage split: every near-dup pair lands on ONE side; splits deterministic and 3-way") {
    import graft.queries.PipelineQueries
    val split = PipelineQueries.tx26(spark, Sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // every doc is assigned exactly once, to a real split
    assert(split.size === Tables.documents(spark, Sf0001).count())
    assert(split.values.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
    // THE property: no near-dup pair crosses the split boundary —
    // checked against the actual dd2 pair set, not the group labels
    val pairs = PipelineQueries.dd2(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a)._2 === split(b)._2,
        s"near-dup pair ($a, $b) split across ${split(a)._2}/${split(b)._2} — leakage")
    }
    // group-level assignment: same group id ⇒ same split
    split.values.groupBy(_._1).foreach { case (g, vs) =>
      assert(vs.map(_._2).toSet.size === 1, s"group $g spans splits")
    }
    // deterministic across runs
    assert(PipelineQueries.tx26(spark, Sf0001).collect().toSeq ===
      PipelineQueries.tx26(spark, Sf0001).collect().toSeq)
  }

  test("tx27 code detection: planted code doc flagged, prose not; hand-computed ratios") {
    import spark.implicits._
    import graft.queries.PipelineQueries
    val code = "def f(x):\n  y = x + 1\n  return [y]\n"
    val prose = "The quick brown fox jumps over the lazy dog near the river bank today."
    val fx = Seq((1L, code), (2L, prose)).toDF("doc_id", "text")
    val out = graft.functions.TextFunctions.codeSignals(fx).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getBoolean(7))).toMap
    // code doc: 4 lines (trailing newline -> empty 4th line)
    val (cChars, cLines, cSyms, cInd, cSymR, cIndR, cIs) = out(1L)
    assert(cChars === code.length.toLong)
    assert(cLines === 4L)
    // symbols in class [{}\[\]();=<>#|&*+-]: ( ) = + [ ] -> 6
    assert(cSyms === 6L)
    assert(cInd === 2L) // two 2-space-indented lines
    assert(cSymR === 6.0 / code.length)
    assert(cIndR === 2.0 / 4.0)
    assert(cIs) // indent_ratio 0.5 >= 0.25
    val (_, pLines, pSyms, pInd, pSymR, pIndR, pIs) = out(2L)
    assert(pLines === 1L && pSyms === 0L && pInd === 0L)
    assert(pSymR === 0.0 && pIndR === 0.0 && !pIs)
    // deterministic on the real corpus, every doc exactly one row
    val real = PipelineQueries.tx27(spark, Sf0001).collect()
    assert(real.length === Tables.documents(spark, Sf0001).count())
    assert(real.toSeq === PipelineQueries.tx27(spark, Sf0001).collect().toSeq)
  }

  test("tx28 boilerplate removal: shared line stripped at df>=3, order kept, empty lines survive") {
    import spark.implicits._
    val nav = "home | products | contact"
    val fx = Seq(
      (1L, s"$nav\nunique alpha\n\nunique beta"),
      (2L, s"$nav\nother gamma"),
      (3L, s"delta text\n$nav"),
      (4L, nav),                       // all boilerplate -> empty clean text
      (5L, "twice repeated\nnobody"),
      (6L, "twice repeated\nelse")    // df 2 < 3 -> kept
    ).toDF("doc_id", "text")
    val out = graft.functions.TextFunctions.boilerplateLines(fx, minDf = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((4L, 1L, "unique alpha\n\nunique beta"))) // order + empty line kept
    assert(out(2L) === ((2L, 1L, "other gamma")))
    assert(out(3L) === ((2L, 1L, "delta text")))
    assert(out(4L) === ((1L, 1L, "")))
    assert(out(5L) === ((2L, 0L, "twice repeated\nnobody")))
    assert(out(6L) === ((2L, 0L, "twice repeated\nelse")))
  }

  test("tx29 n-gram novelty: first holder owns the gram; copies score 0; short docs score 0") {
    import spark.implicits._
    val fx = Seq(
      (1L, "alpha beta gamma delta"),      // grams: a-b-g, b-g-d → both first here → 1.0
      (2L, "alpha beta gamma delta"),      // exact copy → both grams owned by doc 1 → 0.0
      (3L, "alpha beta gamma zeta"),       // a-b-g seen (doc 1), b-g-z new → 1/2
      (4L, "two words"),                   // < 3 tokens → 0 grams, novelty 0
      (5L, "")                             // empty → 0 grams
    ).toDF("doc_id", "text")
    val out = graft.functions.TextFunctions.ngramNovelty(fx).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((2L, 2L, 1.0)))
    assert(out(2L) === ((2L, 0L, 0.0)))
    assert(out(3L) === ((2L, 1L, 0.5)))
    assert(out(4L) === ((0L, 0L, 0.0)))
    assert(out(5L) === ((0L, 0L, 0.0)))
    // duplicated grams WITHIN a doc count once (distinct per doc)
    val rep = Seq((1L, "x y z x y z x y z")).toDF("doc_id", "text")
    val r1 = graft.functions.TextFunctions.ngramNovelty(rep).collect()(0)
    // grams: xyz yzx zxy xyz yzx zxy xyz → distinct {xyz, yzx, zxy}
    assert(r1.getLong(1) === 3L && r1.getLong(2) === 3L && r1.getDouble(3) === 1.0)
  }

  test("tx30 saturation: per-source deciles follow the equi-depth rank convention; novelty micro-averages") {
    import spark.implicits._
    // source A: 10 docs → rank targets rk = (10k+9) div 10 = k, so each
    // doc owns its decile. Docs 1-2 carry fresh grams, 3-10 copy doc 1
    // → novelty_rate 1.0, 1.0, then 0.0 across the tail: the
    // saturation shape the curve exists to show.
    // source B: 3 docs → rk ∈ {1,1,1,2,2,2,3,3,3} places them in
    // deciles 1, 4, 7 (the convention the oracle must mirror exactly).
    val fresh1 = "alpha beta gamma delta"          // 2 grams
    val fresh2 = "epsilon zeta eta theta"          // 2 new grams
    val a = (1L to 10L).map { i =>
      val text = if (i == 1) fresh1 else if (i == 2) fresh2 else fresh1
      (i, "A", text)
    }
    val b = Seq((101L, "B", fresh1), (102L, "B", fresh2), (103L, "B", "iota kappa lambda mu"))
    val docs = (a ++ b).toDF("doc_id", "source", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
    val out = graft.queries.PipelineQueries.tx30FromDocs(docs).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // A: decile i holds doc i alone
    assert(out(("A", 1L)) === ((1L, 2L, 2L, 1.0)))
    assert(out(("A", 2L)) === ((1L, 2L, 2L, 1.0)))
    (3L to 10L).foreach(i => assert(out(("A", i)) === ((1L, 2L, 0L, 0.0)), s"A decile $i"))
    // B: three docs at deciles 1, 4, 7; doc 101/102 repeat A's grams
    // (first holders are A's docs 1-2), 103 is fresh
    assert(out(("B", 1L)) === ((1L, 2L, 0L, 0.0)))
    assert(out(("B", 4L)) === ((1L, 2L, 0L, 0.0)))
    assert(out(("B", 7L)) === ((1L, 2L, 2L, 1.0)))
    assert(out.size === 13)
  }

  test("tx38 DSIR: target-like raw doc outranks off-target; smoothing finite; empty docs drop") {
    import spark.implicits._
    // target sample (sources t*) speaks vocabulary {alpha, beta,
    // gamma}; raw doc 10 reuses it, raw doc 11 is disjoint, raw doc
    // 12 is token-less (unscorable in both engines)
    val corpus = Seq(
      (1L, "alpha beta gamma alpha", "t1"),
      (2L, "beta gamma alpha beta", "t2"),
      (10L, "alpha beta gamma", "r"),
      (11L, "zulu yankee xray", "r"),
      (12L, "!!!", "r"),
    ).toDF("doc_id", "text", "source")
    val out = TextFunctions.dsirSelect(corpus, Seq("t1", "t2"), topN = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // only the two scorable raw docs appear, ordered score desc
    assert(out.map(_._1).toSeq === Seq(10L, 11L))
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(10L)._2 === 3L && byId(11L)._2 === 3L)
    // target-like doc must outrank the disjoint one strictly
    assert(byId(10L)._3 > byId(11L)._3)
    // add-one smoothing keeps unseen-in-target tokens finite and > 0
    assert(byId(11L)._3 > 0.0 && !byId(11L)._3.isInfinite)
    // hand-check doc 11's score: its 3 tokens are raw-only, each with
    // c_tgt=0, c_raw=1; V=6 distinct tokens, N_tgt=8, N_raw=6 (doc 12
    // contributes no tokens) => r = (1/14) / (2/12) per token, and the
    // mean of three equal r values is r itself (DECIMAL(18,6) rounded)
    val r = BigDecimal((1.0 / 14.0) / (2.0 / 12.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(byId(11L)._3 - r) < 1e-12)
    // determinism: a second run returns identical rows
    val again = TextFunctions.dsirSelect(corpus, Seq("t1", "t2"), topN = 10)
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1), r2.getDouble(2)))
    assert(again.toSeq === out.toSeq)
  }

  test("tx39 weak classifier: separable fixture classified; fixed point; empty docs drop") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again", "t1"),
      (2L, "a curated reference paragraph with plain readable words", "t2"),
      (10L, "1 2 3 4 5 6 7 8 9 0", "r"),
      (11L, "!!! ??? ### $$$ 42 %%% @@@ 7", "r"),
      (12L, "....", "r"), // token-less: unscorable, must drop
    ).toDF("doc_id", "text", "source")
    val out = TextFunctions.weakClassifier(corpus, Seq("t1", "t2"), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3)))
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 10L, 11L))
    // after 3 batch iterations the separable fixture is classified:
    // targets strictly positive side, junk strictly negative
    out.foreach { case (id, label, pred, margin) =>
      val isTarget = id < 10L
      assert(label === (if (isTarget) 1L else -1L))
      assert(pred === isTarget, s"doc $id predicted $pred")
      assert(if (isTarget) margin > 0.0 else margin < 0.0, s"doc $id margin $margin")
    }
    // fixed point: iteration 4's misclassified set is empty, so the
    // gradient is zero and extra iterations change NOTHING — the
    // convergence signature of a separable corpus
    val more = TextFunctions.weakClassifier(corpus, Seq("t1", "t2"), iters = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3)))
    assert(more.toSeq === out.toSeq, "converged weights must stop moving")
    // determinism at the registry's step count
    val again = TextFunctions.weakClassifier(corpus, Seq("t1", "t2"), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getDouble(3)))
    assert(again.toSeq === out.toSeq)
  }

  test("graft_charhist39 ≡ the 39 translate length-diffs it replaced (round 16, dd12's prefilter)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789 .,"
    val fixtures = Seq(
      "",                                       // empty
      alphabet,                                 // every slot exactly once
      "aa,, ..00zz99",                          // repeats incl. punctuation slots
      "MixedCASE stays uncounted ABC xyz",      // uppercase must NOT count
      "Привет, мир. naïve café 3.14",           // multi-byte UTF-8 around ASCII hits
      "tab\tand\nnewline are not space",        // only ' ' (0x20) is slot 36
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val hist = fixtures.select(col("id"),
      call_function("graft_charhist39", col("text")).as("h"))
    val viaTranslate = alphabet.map(_.toString).zipWithIndex.map { case (c, i) =>
      (length(col("text")) - length(translate(col("text"), c, ""))).cast("int").as(s"c$i")
    }
    val expect = fixtures.select(col("id") +: viaTranslate: _*).collect()
      .map(r => r.getLong(0) -> (1 to 39).map(r.getInt).toSeq).toMap
    hist.collect().foreach { r =>
      assert(r.getSeq[Int](1) === expect(r.getLong(0)), s"id=${r.getLong(0)}")
    }
  }
}
