package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.E multimodal-column plumbing.
  *
  * Media payloads are opaque `binary` columns with typed metadata —
  * exactly how a 100 TB image/audio corpus rides in parquet. The
  * decode step is STUBBED (no image/audio codecs in this container)
  * with a deterministic byte-level feature extractor, but the
  * Spark-side contract is real: binary column in, fixed-width
  * `array<float>` feature column out, processed in bounded batches per
  * partition (mirroring an Arrow-batch / mapInPandas shape, so a real
  * codec drops in without touching the plan).
  */
object Multimodal {

  /** mm1: binary blob + typed metadata. The blob here is the utf-8
    * encoding of `text` (the container has no real media), but every
    * downstream op treats it as opaque bytes. */
  def blobMeta(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      .select(
        col("doc_id"),
        expr("octet_length(blob)").cast("long").as("n_bytes"),
        md5(col("blob")).as("digest"))
      .orderBy(col("doc_id"))

  val blobMetaSql: String =
    """SELECT doc_id,
      | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      | md5(text) AS digest
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  val FeatureDim = 8
  val BatchSize = 64

  /** Deterministic FNV-1a over bytes — the stand-in "decoder". */
  private def fnv(bytes: Array[Byte], seed: Long): Long = {
    var h = 0xCBF29CE484222325L ^ seed
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xFFL); h *= 0x100000001B3L; i += 1 }
    h
  }

  /** mm2: batched feature extraction over binary blobs via
    * mapPartitions (per-partition batches of `BatchSize`, the same
    * batch contract a Pandas/Arrow UDF would get). Output schema:
    * (doc_id, n_bytes, batch_size, features: array<float>). */
  def featureExtract(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val withBlob = docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("batch_size", IntegerType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rdd = withBlob.rdd.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        // a real decoder would process `batch` as one vectorized call
        batch.iterator.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val feats = Array.tabulate(FeatureDim) { j =>
            ((fnv(bytes, j.toLong) % 100000L).toDouble / 100000.0).toFloat
          }
          Row(id, bytes.length.toLong, batch.size, feats.toSeq)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
      .orderBy(col("doc_id"))
  }

  val FrameBytes = 256
  val FrameStride = 4

  /** mm3: frame sampling over a media blob — every `FrameStride`-th
    * fixed-size frame, the batch shape a video/audio pipeline feeds to
    * a decoder. One explode of a sequence per doc (no shuffle); frame
    * boundaries are pure arithmetic on n_bytes, so the sampling plan is
    * oracle-checkable even though no codec exists in this container.
    * Byte-level frame content (md5 per frame) is spec-gated —
    * MultimodalSpec checks it against a JVM reference. */
  def frameSample(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
      .select(col("doc_id"), expr("octet_length(blob)").cast("long").as("n_bytes"), col("blob"))
      .select(col("doc_id"), col("n_bytes"),
        explode(expr(s"sequence(CAST(0 AS BIGINT), (n_bytes - 1) div $FrameBytes, $FrameStride)")).as("frame_idx"),
        col("blob"))
      .select(col("doc_id"), col("frame_idx"),
        (col("frame_idx") * FrameBytes).as("off"),
        least(lit(FrameBytes.toLong), col("n_bytes") - col("frame_idx") * FrameBytes).as("flen"),
        md5(expr(s"substring(blob, frame_idx * $FrameBytes + 1, $FrameBytes)")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Driver-facing mm3: metadata only (frame_md5 needs byte-level blob
    * slicing the oracle engine lacks; the spec gates it instead). */
  def frameSampleMeta(docs: DataFrame): DataFrame =
    frameSample(docs).drop("frame_md5")

  val frameSampleMetaSql: String =
    s"""SELECT doc_id, frame_idx, frame_idx * $FrameBytes AS off,
      | LEAST($FrameBytes, n_bytes - frame_idx * $FrameBytes) AS flen
      |FROM (
      | SELECT doc_id, n_bytes,
      |  unnest(generate_series(0, (n_bytes - 1) // $FrameBytes, $FrameStride)) AS frame_idx
      | FROM (
      |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents))
      |ORDER BY doc_id, frame_idx""".stripMargin

  val ResizeTarget = 64

  /** mm4: resize — the remaining verb of the decode/extract/resize/
    * frame-sample family. Nearest-neighbor downsample of the payload
    * to a fixed target length: output position i reads source position
    * ⌊i·n/target⌋ (exact integer arithmetic, so both engines pick
    * identical sample points; payloads at or under the target pass
    * through). A real image resize maps (x,y) through the same index
    * arithmetic per axis — the sampling plan, not the pixel math, is
    * what this stub keeps honest. Pure map-side HOF over a sequence:
    * no shuffle, O(target) per row, whole-stage codegen. The payload
    * is resampled at character granularity so the DuckDB oracle can
    * replay the exact sampling (byte-level blob slicing is the one op
    * it lacks); md5 of the resized payload rides along so the gate
    * compares content, not just lengths. */
  def resizeStub(docs: DataFrame, target: Int = ResizeTarget): DataFrame =
    docs.select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n_chars_orig"))
      .withColumn("resized",
        when(col("n_chars_orig") <= target, col("text"))
          .otherwise(expr(
            s"concat_ws('', transform(sequence(0, ${target - 1}), " +
            s"i -> substring(text, cast((cast(i AS BIGINT) * n_chars_orig) div $target AS INT) + 1, 1)))")))
      .select(col("doc_id"), col("n_chars_orig"),
        length(col("resized")).cast("long").as("n_chars_out"),
        md5(col("resized")).as("resized_md5"))
      .orderBy(col("doc_id"))

  def resizeStubSql(target: Int): String =
    s"""SELECT doc_id, n_chars_orig,
      | CAST(length(resized) AS BIGINT) AS n_chars_out,
      | md5(resized) AS resized_md5
      |FROM (
      | SELECT doc_id, n_chars_orig,
      |  CASE WHEN n_chars_orig <= $target THEN text
      |   ELSE array_to_string(list_transform(generate_series(0, ${target - 1}),
      |     i -> text[CAST((i * n_chars_orig) // $target AS INT) + 1]), '')
      |  END AS resized
      | FROM (
      |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars_orig
      |  FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** mm2 driver-facing variant: same extraction, but the feature vector
    * is flattened to scalar columns f0…f7 (plus a canonical string) so
    * the result is sortable/hashable by generic tooling — an
    * `array<float>` cell is not. The array variant above stays the
    * internal API (ANN ops consume arrays). */
  def featureExtractFlat(docs: DataFrame): DataFrame = {
    val base = featureExtract(docs)
    val flat = (0 until FeatureDim).map(j => col("features").getItem(j).as(s"f$j"))
    base.select(Seq(col("doc_id"), col("n_bytes"), col("batch_size")) ++ flat: _*)
      .orderBy(col("doc_id"))
  }

  /** Perceptual hash of a blob — aHash with the DECODE stubbed.
    *
    * A real image pipeline decodes, downscales to 8×8 grayscale, and
    * sets bit i when pixel i beats the mean. Here the "decode" is the
    * deterministic stand-in (no codecs in this container): the blob's
    * bytes are range-partitioned into 64 chunks ("pixels"), each
    * pixel = its chunk's mean byte value. The property that matters —
    * LOCALITY: a small edit anywhere in the payload perturbs few
    * pixels, so near-identical blobs land within a few Hamming bits —
    * survives the stub, which is what lets mm5's band join and the
    * spec's planted near-dups exercise the real pipeline shape. */
  def phashOf(bytes: Array[Byte]): Long = {
    if (bytes.isEmpty) return 0L
    val sums = new Array[Long](64)
    val counts = new Array[Long](64)
    var i = 0
    while (i < bytes.length) {
      val c = ((i.toLong * 64L) / bytes.length).toInt
      sums(c) += bytes(i) & 0xFF
      counts(c) += 1
      i += 1
    }
    var total = 0L
    var b = 0
    while (b < 64) { total += sums(b); b += 1 }
    val mean = total.toDouble / bytes.length
    var h = 0L
    b = 0
    while (b < 64) {
      if (counts(b) > 0 && sums(b).toDouble / counts(b) > mean) h |= 1L << b
      b += 1
    }
    h
  }

  /** (doc_id, phash) via the mm2 batch contract (mapPartitions in
    * BatchSize groups — the shape a vectorized decoder drops into). */
  def phash(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val withBlob = docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("phash", LongType, nullable = false)))
    val rdd = withBlob.rdd.mapPartitions { it =>
      it.grouped(BatchSize).flatMap { batch =>
        batch.iterator.map { r =>
          Row(r.getLong(0), phashOf(r.getAs[Array[Byte]](1)))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic "re-encode" stand-in: a lossy codec round-trip
    * perturbs byte VALUES but preserves payload geometry (length,
    * structure) — modeled as single-character substitutions at 1/3 and
    * 2/3 of the payload. Length-preserving is the load-bearing
    * property: it keeps the perturbation local in chunk space, exactly
    * like compression artifacts and unlike text edits (an insertion
    * shifts every downstream byte — the probe that motivated this:
    * token-level near-dups measure ~32/64 bits apart, i.e. random).
    * Re-encoded ids are original + [[ReencodeOffset]]. */
  val ReencodeOffset = 1000000L

  def reencodeStub(docs: DataFrame): DataFrame =
    docs.select((col("doc_id") + ReencodeOffset).as("doc_id"),
      overlay(
        overlay(col("text"), lit("~"),
          greatest(lit(1), (length(col("text")) / 3).cast("int")), lit(1)),
        lit("~"),
        greatest(lit(1), (length(col("text")) * 2 / 3).cast("int")), lit(1)).as("text"))

  /** mm5: perceptual-hash near-duplicate pairs over media blobs —
    * image-grade dedup for a multimodal corpus (re-encoded, lightly
    * retouched, or resampled assets share most perceptual bits even
    * when their bytes diverge; exact-hash dedup sees nothing).
    *
    * Identical signatures collapse first (duplicate-heavy corpora put
    * many assets on one hash; intra-group pairs are Hamming 0 by
    * construction), then DISTINCT signatures ride the multi-index
    * 1-variant Hamming banding described at [[phashNearDupFrom]]:
    * ⌊k/2⌋+1 bands, probe side expanded with single-bit flips, an
    * equi-join on ~13-bit keys — sound (zero misses), never an
    * all-pairs comparison. Output (doc_a, doc_b, hamming),
    * doc_a < doc_b. */
  def phashNearDup(docs: DataFrame, maxHamming: Int = 8): DataFrame =
    phashNearDupFrom(phash(docs), maxHamming)

  /** The banding stage alone, over (doc_id, phash) signatures already
    * at rest — the probe path when signatures come off the
    * materialized graft_phidx layout (round 12): the per-blob
    * perceptual hash is per-corpus-version infrastructure (at 100 TB
    * nobody re-decodes every asset per dedup query), so mm5 probes it.
    * Probe ≡ inline is spec-pinned. */
  def phashNearDupFrom(sigs: DataFrame, maxHamming: Int = 8): DataFrame = {
    val groups = sigs.groupBy("phash")
      .agg(min(col("doc_id")).as("rep"), collect_list(col("doc_id")).as("ids"))
      .cache()
    val intra = groups.select(explode(col("ids")).as("da"), col("ids"))
      .select(col("da"), explode(col("ids")).as("db"))
      .filter(col("da") < col("db"))
      .select(col("da").as("doc_a"), col("db").as("doc_b"), lit(0L).as("hamming"))
    // Multi-index Hamming banding (HmSearch's 1-variant scheme), round
    // 12: the old k+1 disjoint-band pigeonhole gave only 64/(k+1) ≈ 7
    // key bits per band, so a 246k-distinct-signature corpus (the x30
    // scale point) collapsed into 128 buckets per band → ~2 BILLION
    // false candidates and a 23.6 s probe. Pigeonhole on ⌊k/2⌋+1
    // bands instead: dist ≤ k forces SOME band to differ by ≤ 1 bit
    // (all bands ≥ 2 would total ≥ 2·(⌊k/2⌋+1) > k), so the probe side
    // expands each band value to itself + its single-bit flips and the
    // join stays an equi-join on ~13-bit keys — exactness preserved
    // (zero misses), candidate volume ∝ n²/2¹³ per band instead of
    // n²/2⁷, and the ×14 probe expansion is map-side rows, never a
    // shuffle of the corpus. x30: 23.6 → measured-below s.
    val nBands = maxHamming / 2 + 1
    val bounds = (0 to nBands).map(k => k * 64 / nBands)
    def bandCols(flip: Boolean) = (0 until nBands).flatMap { k =>
      val lo = bounds(k); val width = bounds(k + 1) - lo
      val bits = if (width >= 64) -1L else (1L << width) - 1L
      val base = s"(phash >> $lo) & $bits"
      val variants = if (flip) Seq(base) ++ (0 until width).map(j => s"($base) ^ ${1L << j}")
                     else Seq(base)
      variants.map(v => struct(lit(k).as("band"), expr(v).as("bv")))
    }
    val reps = groups.select(col("rep"), col("phash"))
    def bands(flip: Boolean) =
      reps.select(col("rep"), col("phash"),
          explode(array(bandCols(flip): _*)).as("b"))
        .select(col("rep"), col("phash"), col("b.band").as("band"), col("b.bv").as("bv"))
    // probe side carries the 1-bit variants; index side only the true
    // band values — a (≤1-differing-bit, band) pair meets exactly when
    // the probe's flipped key equals the index's value, in either
    // direction, so rep_a < rep_b keeps one
    val x = bands(flip = true).as("x"); val y = bands(flip = false).as("y")
    val repPairs = x.join(y, col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
        col("x.rep") < col("y.rep"))
      .select(col("x.rep").as("rep_a"), col("y.rep").as("rep_b"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val ga = groups.select(col("rep").as("rep_a"), col("ids").as("ids_a"))
    val gb = groups.select(col("rep").as("rep_b"), col("ids").as("ids_b"))
    val cross = repPairs.join(ga, "rep_a").join(gb, "rep_b")
      .select(explode(col("ids_a")).as("da"), col("ids_b"), col("hamming"))
      .select(col("da"), explode(col("ids_b")).as("db"), col("hamming"))
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    intra.union(cross).orderBy(col("doc_a"), col("doc_b"))
  }

  val ChunkWindow = 16
  val ChunkDivisor = 64 // boundary probability 1/64 per position → mean chunk ≈ 64 B

  /** mm6 machinery: CONTENT-DEFINED chunking of a binary blob — the
    * rolling-hash boundary rule behind rsync/LBFS/FastCDC, and the
    * chunk-level twin of dd8's span dedup for media payloads: a cut
    * falls wherever the hash of the trailing [[ChunkWindow]]-byte
    * window ≡ 0 (mod [[ChunkDivisor]]), so boundaries depend only on
    * LOCAL bytes. Insert or delete bytes anywhere and every chunk
    * outside the edit's neighborhood re-aligns identically — the
    * property that lets a 100 TB blob store dedup re-wrapped /
    * re-muxed media at chunk granularity where whole-blob digests see
    * nothing (spec pins this shift resilience; fixed-size framing
    * (mm3) shifts EVERY downstream frame on a 1-byte insertion).
    * Chunk identity is xxhash64 of the chunk bytes — 8-byte keys on
    * every shuffle from day one (dd8's round-7 lesson), collisions
    * birthday-bounded ≈ S²/2⁶⁵. Chunking is map-side HOF arithmetic
    * in the scan stage: no UDF, no shuffle until the chunk-frequency
    * count. */
  def cdcChunkHashes(docs: DataFrame): DataFrame = {
    val W = ChunkWindow; val D = ChunkDivisor
    // LET-BINDINGS via single-element transform: `blob` and `cuts`
    // must be lambda VARIABLES, not projected columns — CollapseProject
    // re-inlines a projected column into every reference site, and a
    // reference INSIDE a per-element lambda then re-evaluates the whole
    // upstream expression per element (measured: the first cut of this
    // operator re-ran encode() + the full boundary scan per byte
    // position — O(len²), 59 s at sf0.1 for a 0.2 s computation). A
    // lambda variable is bound once per row and read thereafter.
    // CASE guard: sequence(W, len) DESCENDS when len < W (withShingles'
    // lesson); short blobs still form one whole-blob chunk via the cuts.
    val body =
      s"""element_at(transform(array(encode(text, 'UTF-8')), blob ->
         |  element_at(transform(array(
         |    array_sort(array_distinct(concat(
         |      array(0),
         |      CASE WHEN octet_length(blob) >= $W THEN
         |        filter(transform(sequence($W, octet_length(blob)),
         |          i -> IF(pmod(xxhash64(substring(blob, i - ${W - 1}, $W)), $D) = 0, i, -1)),
         |          x -> x > 0)
         |      ELSE CAST(array() AS array<int>) END,
         |      array(octet_length(blob)))))), cuts ->
         |    transform(sequence(1, size(cuts) - 1),
         |      j -> xxhash64(substring(blob, element_at(cuts, j) + 1,
         |                    element_at(cuts, j + 1) - element_at(cuts, j))))),
         |  1)), 1)""".stripMargin
    docs.filter(length(col("text")) > 0)
      .select(col("doc_id"), expr(s"array_distinct($body)").as("chunks"))
  }

  /** mm6: per-blob duplicated-chunk statistics — how much of each blob
    * is chunk-level shared with ≥ 1 other blob (dd8's two-shuffle
    * df ≥ 2 + semi-join shape applied to the CDC chunk hashes).
    * Rows-gated: the boundaries ride Spark's xxhash64, which no
    * oracle engine reproduces (mm2 policy); MultimodalSpec plants a
    * shared passage and an edit-shifted twin instead. */
  def cdcChunkStats(docs: DataFrame): DataFrame = {
    // cache the narrow (doc_id, 8B-element chunks) relation: two
    // consumers (frequency explode, per-doc counts) — dd8's lesson
    val ch = cdcChunkHashes(docs).cache()
    val perDoc = ch.select(col("doc_id"), explode(col("chunks")).as("ch"))
    val dup = perDoc.groupBy(col("ch")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select(col("ch"))
    val hits = perDoc.join(dup, Seq("ch"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_chunks"))
    ch.select(col("doc_id"), size(col("chunks")).cast("long").as("n_chunks"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"))
      .withColumn("dup_chunk_ratio",
        col("n_dup_chunks").cast("double") / col("n_chunks"))
      .orderBy(col("doc_id"))
  }

  /** mm8: per-source CDC DEDUP SAVINGS — the blob-tier twin of dd14's
    * per-source shrinkage, and the number a content-addressed store
    * quotes before onboarding an ingest source: of this source's CDC
    * chunks, how many are redundant at rest (dedup_ratio = 1 −
    * distinct/total — chunk-level storage reclaimed by dedup within
    * the source) and how many also occur in ANOTHER source
    * (cross_source_ratio — the re-wrap/copy contamination signal
    * between ingest feeds). Rides the same shift-resilient chunk ids
    * as mm6/mm7, so a re-muxed copy with a prefix edit still
    * deduplicates from the first re-aligned boundary on.
    *
    * Scale: chunk explode partial-aggregates to (source, chunk)
    * map-side; the per-chunk source count is a second partial-agg'd
    * shuffle over the already-collapsed pairs; output is O(sources).
    * Never pairwise — sharing is counted through the chunk-id
    * grouping, dd8's span-key shape. */
  def cdcDedupBySource(docs: DataFrame): DataFrame = {
    val ch = cdcChunkHashes(docs)
      .select(col("doc_id"), explode(col("chunks")).as("ch"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val sc = ch.groupBy(col("source"), col("ch"))
      .agg(count(lit(1)).as("n"))
    val spread = sc.groupBy(col("ch")).agg(count(lit(1)).as("n_sources"))
    val blobs = ch.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_blobs"))
    sc.join(spread, "ch")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("total_chunks"),
        count(lit(1)).as("distinct_chunks"),
        sum(when(col("n_sources") >= 2, col("n")).otherwise(0L))
          .as("cross_source_chunks"))
      .join(blobs, "source")
      .select(col("source"), col("n_blobs"), col("total_chunks"),
        col("distinct_chunks"),
        (lit(1.0) - col("distinct_chunks").cast("double") / col("total_chunks"))
          .as("dedup_ratio"),
        (col("cross_source_chunks").cast("double") / col("total_chunks"))
          .as("cross_source_ratio"))
      .orderBy(col("source"))
  }

  /** mm7: blob-level near-duplicate PAIRS by CDC chunk-set overlap —
    * mm6 reports how much of each blob is shared with ≥1 other; this
    * reports WITH WHOM: (blob_a, blob_b, chunk-Jaccard ≥ τ), the
    * re-encode/re-wrap twin detector for opaque media. A prefix-edit
    * (re-mux header, metadata rewrite) shifts every byte offset, so
    * whole-blob digests and fixed frames (mm3) see two unrelated
    * blobs — CDC boundaries re-align after the edit and the shared
    * tail chunks carry the match (MultimodalSpec plants exactly that
    * twin).
    *
    * Scale shape is dd2's: candidates come off an inverted chunk
    * index (chunk → blobs) restricted to 2 ≤ df ≤ `dfCap` — df = 1
    * chunks cannot witness a pair, and df > cap chunks are
    * boilerplate (codec padding, zero runs) whose postings would
    * blow up quadratically while carrying ~no evidence (q74's
    * heavy-order cap argument; candidate MISS requires a pair to
    * share ONLY ubiquitous chunks, which at τ ≥ 0.5 means the blobs
    * are boilerplate themselves — capped ≡ uncapped is spec-pinned
    * on the driver corpus + a planted mega-chunk fixture).
    * Verification is EXACT and cap-independent: candidates join back
    * their full chunk arrays and J = |A∩B|/|A∪B| is computed from
    * array_intersect on the real sets, so the cap prunes candidate
    * GENERATION only, never the score. Shuffles: O(chunks) postings
    * + O(candidate pairs); never all-pairs. */
  def cdcNearDupPairs(docs: DataFrame, tau: Double, dfCap: Int = 256): DataFrame =
    cdcNearDupFrom(cdcChunkHashes(docs), tau, dfCap)

  /** Materialized CDC CHUNK index (round 9) — the blob family's
    * shingle-index twin, completing "no index needs a full-corpus
    * rebuild on delta ingest" for §2.E: chunks/ holds (doc_id,
    * distinct chunk-id array), written once per corpus version.
    * Chunk ids are PURE per-row functions of the blob bytes
    * (rolling-hash boundaries + xxhash64 — NO trained state, LSH's
    * argument), so the delta append is a plain file append and
    * probe(base ⊕ delta) ≡ a one-shot union build exactly; there is
    * nothing to drift and nothing to demote. Probes skip the per-query
    * chunking pass entirely — at 100 TB that pass is a full
    * decode-and-scan of the blob tier, the most expensive map stage
    * the family has. */
  def cdcWriteIndex(docs: DataFrame, path: String): Unit =
    cdcChunkHashes(docs).write.mode("overwrite").parquet(s"$path/chunks")

  def cdcAppendDelta(deltaDocs: DataFrame, path: String): Unit =
    cdcChunkHashes(deltaDocs).write.mode("append").parquet(s"$path/chunks")

  /** mm7 probing the chunk index: the pair machinery runs off the
    * stored arrays — zero chunking work per query. Probe ≡ inline is
    * spec-pinned (MultimodalSpec). */
  def cdcNearDupProbe(spark: org.apache.spark.sql.SparkSession, path: String,
      tau: Double, dfCap: Int = 256): DataFrame =
    cdcNearDupFrom(graft.Tables.parquet(spark, s"$path/chunks"), tau, dfCap)

  private def cdcNearDupFrom(chIn: DataFrame, tau: Double, dfCap: Int): DataFrame = {
    // chunks are array_distinct per blob (cdcChunkHashes), so posting
    // rows are (chunk, blob) with no within-blob repeats; the narrow
    // relation caches — three consumers (postings + both verification
    // sides), dd8's fan-out lesson
    val ch = chIn.cache()
    val inv = ch.select(col("doc_id"), explode(col("chunks")).as("c"))
    val keep = inv.groupBy(col("c")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= dfCap).select(col("c"))
    val posting = inv.join(keep, Seq("c"), "left_semi")
    val cand = posting.as("a").join(posting.as("b"),
        col("a.c") === col("b.c") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    cand
      .join(ch.select(col("doc_id").as("doc_a"), col("chunks").as("ca")), "doc_a")
      .join(ch.select(col("doc_id").as("doc_b"), col("chunks").as("cb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ca"), col("cb"))).cast("long"))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("ca")) + size(col("cb")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
