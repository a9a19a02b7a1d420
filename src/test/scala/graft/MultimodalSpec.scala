package graft

import java.security.MessageDigest

import graft.operators.Multimodal

/** §2.E specs (SURVEY.md §6): binary plumbing with deterministic stub. */
class MultimodalSpec extends SparkTestBase {

  private lazy val docs = {
    import spark.implicits._
    (1L to 100L).map(i => (i, s"payload number $i with some body text " * 3))
      .toDF("doc_id", "text")
  }

  test("mm1 blob metadata: byte length + md5 match JVM reference") {
    val r = Multimodal.blobMeta(docs).collect().head
    val bytes = ("payload number 1 with some body text " * 3).getBytes("UTF-8")
    val md5 = MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString
    assert(r.getLong(1) === bytes.length.toLong)
    assert(r.getString(2) === md5)
  }

  test("mm2 feature extraction: fixed dim, bounded batches, deterministic") {
    val out = Multimodal.featureExtract(docs).collect()
    assert(out.length === 100)
    out.foreach { r =>
      assert(r.getSeq[Float](3).length === Multimodal.FeatureDim)
      val bs = r.getInt(2)
      assert(bs >= 1 && bs <= Multimodal.BatchSize)
    }
    // determinism: rerun produces identical features
    val again = Multimodal.featureExtract(docs).collect()
    assert(out.map(_.getSeq[Float](3)).toSeq === again.map(_.getSeq[Float](3)).toSeq)
  }

  test("mm3 frame sampling: boundaries and per-frame md5 match a JVM reference") {
    val out = Multimodal.frameSample(docs).collect()
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val (id, idx, off, flen) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val bytes = texts(id).getBytes("UTF-8")
      assert(idx % Multimodal.FrameStride === 0)
      assert(off === idx * Multimodal.FrameBytes)
      assert(flen === math.min(Multimodal.FrameBytes.toLong, bytes.length - off))
      val frame = bytes.slice(off.toInt, math.min(off + Multimodal.FrameBytes, bytes.length).toInt)
      val md5 = MessageDigest.getInstance("MD5").digest(frame).map("%02x".format(_)).mkString
      assert(r.getString(4) === md5)
    }
    // every doc contributes its frame 0
    assert(out.count(_.getLong(1) == 0L) === docs.count())
  }

  test("mm4 resize: nearest-neighbor sample points match a JVM reference") {
    import spark.implicits._
    val target = 8
    val texts = Seq(
      (1L, "abcdefgh"),                          // == target → pass-through
      (2L, "short"),                             // < target → pass-through
      (3L, "abcdefghijklmnopqrstuvwxyz0123456"), // > target → resampled
    )
    val out = Multimodal.resizeStub(texts.toDF("doc_id", "text"), target)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def ref(t: String): String =
      if (t.length <= target) t
      else (0 until target).map(i => t.charAt((i.toLong * t.length / target).toInt)).mkString
    def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    texts.foreach { case (id, t) =>
      val (nIn, nOut, dig) = out(id)
      assert(nIn === t.length.toLong)
      assert(nOut === math.min(t.length, target).toLong)
      assert(dig === md5(ref(t)))
    }
  }

  test("mm2 flat variant: scalar f0…f7 equal the array elements, no array column") {
    val arr = Multimodal.featureExtract(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    val flat = Multimodal.featureExtractFlat(docs)
    // driver-hashable: every column is scalar
    assert(flat.schema.fields.forall(f => !f.dataType.typeName.startsWith("array")))
    flat.collect().foreach { r =>
      val expect = arr(r.getLong(0))
      (0 until Multimodal.FeatureDim).foreach { j =>
        assert(r.getFloat(3 + j) === expect(j))
      }
    }
  }

  test("mm5 phash locality: small payload edits flip few bits, rewrites flip many") {
    val base = ("the quick brown fox jumps over the lazy dog " * 20).getBytes("UTF-8")
    val retouched = base.clone()
    // a localized "retouch": corrupt one 16-byte run mid-payload
    (400 until 416).foreach(i => retouched(i) = 'Z'.toByte)
    val other = ("entirely different payload with other content " * 20).getBytes("UTF-8")
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(Multimodal.phashOf(base) === Multimodal.phashOf(base.clone()))
    assert(ham(Multimodal.phashOf(base), Multimodal.phashOf(retouched)) <= 4,
      "a localized edit must perturb only nearby chunks")
    assert(ham(Multimodal.phashOf(base), Multimodal.phashOf(other)) > 8,
      "unrelated payloads must not look near-duplicate")
  }

  test("mm5 near-dup pairs: planted retouch found, exact dup at hamming 0, unrelated absent") {
    import spark.implicits._
    val doc = "the quick brown fox jumps over the lazy dog " * 20
    val retouched = doc.updated(400, 'Z').updated(401, 'Z').updated(402, 'Z')
    val docs = Seq(
      (1L, doc), (2L, doc), (3L, retouched),
      (4L, "entirely different payload with other content " * 20),
      (5L, "short odd one out")
    ).toDF("doc_id", "text")
    val got = Multimodal.phashNearDup(docs, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) === 0L, "exact duplicate must be hamming 0")
    assert(got.contains((1L, 3L)) && got.contains((2L, 3L)), "retouched near-dup missed")
    // a tiny retouch may land below hash resolution (hamming 0) —
    // what matters is it's found within the band; the locality test
    // above pins that larger edits DO move bits
    assert(got((1L, 3L)) <= 8L)
    assert(!got.keys.exists(p => p._1 == 4L || p._2 == 4L || p._1 == 5L || p._2 == 5L),
      "unrelated docs must not pair")
    // pigeonhole soundness: band candidates found EVERY pair a
    // brute-force hamming scan finds
    val hashes = Multimodal.phash(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val brute = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 8
    } yield (ia, ib)).toSet
    assert(got.keySet === brute)
  }

  test("mm5 flip-variant banding: planted signatures at hamming 1..8 all recovered (round 13)") {
    // ADVICE r12: the 5-doc text fixture's pairs land at hamming 0 or
    // >8, so the multi-index 1-variant probe path could silently break.
    // Plant synthetic (doc_id, phash) signatures at every distance
    // 1..8, plus the adversarial distance-8 case whose per-band diffs
    // are (1,2,2,2,1) — NO band agrees exactly (k=8 bounds are
    // 0,12,25,38,51,64), so only the single-bit flip variants can meet
    // it — and require the banded output ≡ brute force exactly.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val bases = Array.fill(9)(rnd.nextLong())
    def spread(n: Int): Long =
      (0 until n).map(j => 1L << ((j * 13 + 3) % 64)).reduce(_ | _)
    val planted = (1 to 8).map(i => (bases(i - 1), bases(i - 1) ^ spread(i)))
    val worstMask = (1L << 0) | (1L << 12) | (1L << 13) | (1L << 25) |
      (1L << 26) | (1L << 38) | (1L << 39) | (1L << 51)
    val sigs = (planted :+ ((bases(8), bases(8) ^ worstMask))).zipWithIndex
      .flatMap { case ((a, b), i) => Seq((i * 2 + 100L, a), (i * 2 + 101L, b)) }
    val got = Multimodal.phashNearDupFrom(sigs.toDF("doc_id", "phash"), maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val brute = (for {
      (ia, ha) <- sigs; (ib, hb) <- sigs
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 8
    } yield (ia, ib) -> java.lang.Long.bitCount(ha ^ hb).toLong).toMap
    assert(got === brute)
    (1 to 8).foreach(i => assert(
      got.get((2 * (i - 1) + 100L, 2 * (i - 1) + 101L)).contains(i.toLong),
      s"distance-$i pair missed"))
    assert(got((116L, 117L)) === 8L,
      "the no-band-agrees pair is reachable only through the flip-variant path")
  }

  test("mm5 registry shape: every planted re-encode twin is recovered (recall 1.0)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0))
    val pairs = Multimodal.phashNearDup(
        docs.unionByName(Multimodal.reencodeStub(docs)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = ids.filterNot(id => pairs.contains((id, id + Multimodal.ReencodeOffset)))
    assert(missed.isEmpty, s"planted re-encode pairs missed for ids: ${missed.take(10).mkString(",")}")
  }

  test("mm6 CDC chunking: shift resilience — a prefix insertion preserves downstream chunks") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val body = (1 to 120).map(i => s"word$i").mkString(" ") // ~1 KB of stable bytes
    val docs = Seq(
      (1L, body),
      (2L, s"INSERTED-PREFIX-BYTES $body") // edit strictly before the body
    ).toDF("doc_id", "text")
    val ch = Multimodal.cdcChunkHashes(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val shared = ch(1L) & ch(2L)
    // content-defined boundaries re-align after the edit neighborhood:
    // the two blobs must share most of their chunks…
    assert(shared.size.toDouble / ch(1L).size > 0.6,
      s"CDC failed to re-align: ${shared.size}/${ch(1L).size} shared")
    // …which fixed-size framing structurally cannot (every frame shifts)
    val frames = Multimodal.frameSample(docs).collect()
      .map(r => (r.getLong(0), r.getString(4)))
    val f1 = frames.filter(_._1 == 1L).map(_._2).toSet
    val f2 = frames.filter(_._1 == 2L).map(_._2).toSet
    assert((f1 & f2).isEmpty, "fixed frames unexpectedly aligned across the shift")
  }

  test("mm6 chunk stats: planted shared passage detected; unique doc at ratio 0") {
    import spark.implicits._
    val boiler = (1 to 40).map(i => s"licence$i").mkString(" ") // spans many chunks
    val docs = Seq(
      (1L, s"unique opening alpha beta gamma $boiler"),
      (2L, s"different head tokens delta epsilon zeta $boiler"),
      (3L, "entirely original content with no repetition whatsoever here")
    ).toDF("doc_id", "text")
    val out = Multimodal.cdcChunkStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L)._2 > 0 && out(2L)._2 > 0, s"shared passage missed: $out")
    assert(out(3L)._2 === 0L)
    // determinism: a second run chunks identically
    val again = Multimodal.cdcChunkStats(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(again === out)
  }

  test("mm7 CDC near-dup pairs: prefix-edit twin found above tau; unrelated blobs not paired") {
    import spark.implicits._
    val body = (1 to 120).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, body),
      (2L, s"REMUXED-HEADER-METADATA $body"), // the re-wrap twin: every byte offset shifts
      (3L, "entirely different payload bytes with nothing shared at all whatsoever")
    ).toDF("doc_id", "text")
    val pairs = Multimodal.cdcNearDupPairs(docs, tau = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j >= 0.5 },
      s"planted re-wrap twin missed: ${pairs.mkString(",")}")
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L },
      "unrelated blob spuriously paired")
    // determinism across runs
    assert(Multimodal.cdcNearDupPairs(docs, tau = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq === pairs.toSeq)
  }

  test("mm7 df cap prunes candidate generation only: capped ≡ uncapped, scores exact") {
    import spark.implicits._
    // two near-dup pairs plus a BOILERPLATE run shared by every blob
    // (the mega-chunk: same licence text in all docs → its chunk df =
    // |docs|, the quadratic posting a cap exists to excise). The
    // pairs share plenty of RARE chunks, so candidate generation
    // survives the cap and verification re-scores on the full arrays
    // — output identical with the hot chunk's postings excluded.
    val boiler = (1 to 60).map(i => s"licence$i").mkString(" ")
    val a = (1 to 100).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 100).map(i => s"beta$i").mkString(" ")
    val docs = Seq(
      (1L, s"$a $boiler"), (2L, s"PREFIX $a $boiler"),
      (3L, s"$b $boiler"), (4L, s"OTHERHEAD $b $boiler"),
      (5L, s"plain $boiler"), (6L, s"lone wolf content entirely original"))
      .toDF("doc_id", "text")
    // tau 0.5: boilerplate-ONLY overlap (the (5, ·) pairs, J ≈ 0.37)
    // sits below the gate in BOTH runs — a qualifying pair must share
    // rare chunks, which is precisely the cap's soundness argument
    def run(cap: Int) = Multimodal.cdcNearDupPairs(docs, tau = 0.5, dfCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val uncapped = run(Int.MaxValue)
    val capped = run(4) // the boilerplate chunks (df 5) are excluded from postings
    assert(capped === uncapped,
      s"cap changed output:\ncapped=$capped\nuncapped=$uncapped")
    assert(uncapped.exists { case (x, y, _) => x == 1L && y == 2L })
    assert(uncapped.exists { case (x, y, _) => x == 3L && y == 4L })
  }

  test("mm8 dedup savings: twin blobs halve distinct chunks; cross-source copy flagged") {
    import spark.implicits._
    val x = (1 to 400).map(i => s"xtok$i").mkString(" ")
    val y = (1 to 400).map(i => s"ytok$i").mkString(" ")
    val docs = Seq(
      (1L, x, "srcA"), (2L, x, "srcA"), // exact twin within the source
      (3L, y, "srcB"),                  // unique content
      (4L, x, "srcC"))                  // cross-source copy of A's blob
      .toDF("doc_id", "text", "source")
    val out = Multimodal.cdcDedupBySource(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("srcA", "srcB", "srcC"))
    val a = out("srcA")
    assert(a.getLong(1) === 2L, "srcA blob count")
    assert(a.getLong(2) === 2 * a.getLong(3), "twin blobs: total = 2 x distinct")
    assert(a.getDouble(4) === 0.5, "twin blobs reclaim exactly half")
    assert(a.getDouble(5) === 1.0, "every srcA chunk also lives in srcC")
    val b = out("srcB")
    assert(b.getDouble(4) === 0.0 && b.getDouble(5) === 0.0,
      "unique source neither dedups nor cross-shares")
    val c = out("srcC")
    assert(c.getDouble(4) === 0.0, "single copy has nothing to reclaim in-source")
    assert(c.getDouble(5) === 1.0, "the copy is fully covered by srcA")
    // determinism across runs (chunk ids are pure functions of bytes)
    assert(Multimodal.cdcDedupBySource(docs).collect().toSeq ===
      Multimodal.cdcDedupBySource(docs).collect().toSeq)
  }

  test("CDC chunk index: probe ≡ inline; delta append ≡ union build; base files untouched") {
    // round 9 — the blob family's shingle-index twin: chunk ids carry
    // NO trained state (rolling-hash boundaries + xxhash64 are pure
    // per-row functions of the bytes), so the append-equivalence
    // argument is LSH's, exactly
    val docs = Tables.documents(spark, Sf0001)
    val (base, delta) =
      (docs.filter(org.apache.spark.sql.functions.col("doc_id") % 8 =!= 0),
        docs.filter(org.apache.spark.sql.functions.col("doc_id") % 8 === 0))
    val dir = tempDir("graft-cdcidx")
    Multimodal.cdcWriteIndex(base, dir)
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/chunks"))
        .filter(_.getName.endsWith(".parquet")).map(f => f.getPath -> f.length).toMap
    }
    val before = files()
    Multimodal.cdcAppendDelta(delta, dir)
    val after = files()
    assert(before.forall { case (p, len) => after.get(p).contains(len) },
      "append rewrote base files")
    assert(after.size > before.size)
    val probe = Multimodal.cdcNearDupProbe(spark, dir, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val inline = Multimodal.cdcNearDupPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(probe === inline)
    // and the registry mm7 now serves exactly the inline answer too
    val reg = graft.queries.PipelineQueries.mm7(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(reg === inline)
  }

  test("mm5 probe ≡ inline: materialized phash signatures reproduce the inline pair set") {
    import org.apache.spark.sql.functions.col
    val base = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    val inline = Multimodal.phashNearDup(
      base.unionByName(Multimodal.reencodeStub(base))).collect().toSeq
    val probe = graft.queries.PipelineQueries.mm5(spark, Sf0001).collect().toSeq
    assert(probe === inline)
    assert(probe.nonEmpty)
  }
}
