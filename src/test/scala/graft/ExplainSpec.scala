package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Similarity}
import graft.queries.CoreQueries

/** Plan-shape assertions (SURVEY.md §5/§6): pushdown reaches the scan,
  * dimension joins broadcast, and no operator degenerates to a
  * cartesian product. These are the properties that decide whether the
  * same plan survives 100 TB — asserted here so a regression fails CI,
  * not the cluster. */
class ExplainSpec extends SparkTestBase {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q02: filters push down to the parquet scan; schema pruned") {
    val s = formatted(CoreQueries.q02FilterProject(spark, Sf0001))
    assert(s.contains("PushedFilters: ["), s"no pushdown section:\n$s")
    assert(s.contains("GreaterThanOrEqual(l_quantity,30"), "l_quantity filter not pushed")
    // pruned read schema: none of the untouched lineitem columns appear
    assert(!s.contains("l_comment") && !s.contains("l_returnflag"),
      "ReadSchema not pruned to the projected columns")
  }

  test("q05: explicit dimension broadcast survives to the physical plan") {
    val p = plan(CoreQueries.q05BroadcastJoin(spark, Sf0001))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q04 star join: no cartesian product; all equi-joins") {
    val p = plan(CoreQueries.q04StarJoin(spark, Sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q04 star join: AQE broadcasts every dimension at runtime") {
    val df = CoreQueries.q04StarJoin(spark, Sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // region/nation/customer/supplier are all broadcast-sized; the
    // only shuffle joins left should involve the two fact tables
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.count(_ == '\n') > 0 && p.contains("isFinalPlan=true"), p)
  }

  test("q01: aggregation is partial (map-side combine before shuffle)") {
    val p = plan(CoreQueries.q01PricingSummary(spark, Sf0001))
    assert(p.contains("partial"), s"no partial aggregation phase:\n$p")
  }

  test("whole-stage codegen covers the q01 scan+filter+partial-agg") {
    val df = CoreQueries.q01PricingSummary(spark, Sf0001)
    df.collect() // AQE only materializes the final plan on execution
    val p = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Op" in the plan string; the scan →
    // filter → partial-agg pipeline must sit inside one (stage 1)
    assert(p.contains("*(1) HashAggregate") && p.contains("*(1) Filter"), p)
  }

  test("dd2 inverted-index join is an equi-join, not cartesian") {
    val docs = Tables.documents(spark, Sf0001)
    val p = plan(Dedup.ngramJaccard(docs, 1, 0.9))
    assert(!p.contains("CartesianProduct"), p)
    // the small-vocab mask path must band-join, not nested-loop m×m
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dd3 LSH banding join is an equi-join, not cartesian") {
    val docs = Tables.documents(spark, Sf0001)
    val p = plan(Dedup.minhashLsh(docs, 0.9))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ss1 brute force: query side broadcast, corpus never shuffled") {
    val emb = Tables.embeddings(spark, Sf0001)
    val p = plan(Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10))
    assert(p.contains("Broadcast"), p)
  }

  test("ss1 ranks via partial top-k aggregate, not a rank window") {
    val emb = Tables.embeddings(spark, Sf0001)
    val p = plan(Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10))
    assert(p.contains("graft_topk"), p)
    assert(p.contains("partial_graft_topk"), s"no partial (map-side) top-k phase:\n$p")
    assert(!p.contains("Window"), s"rank window would shuffle every scored row:\n$p")
  }

  test("q27 funnel: anchor aggregate broadcasts against the events scan") {
    val df = CoreQueries.q27Funnel(spark, Sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mm3 frame sampling plans with zero shuffles (map-side explode)") {
    val f = formatted(graft.operators.Multimodal.frameSampleMeta(Tables.documents(spark, Sf0001)))
    // the only Exchange allowed is the final output ordering's sort
    val body = f.split("== Physical Plan ==")(1)
    assert(body.linesIterator.count(_.contains("Exchange")) <= 2, f) // orderBy range partitioning only
    assert(!body.contains("HashAggregate"), f)
  }

  test("q30 band join stays an equi-join on bucket, never a nested loop") {
    val p = plan(CoreQueries.q30BandJoin(spark, Sf0001))
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tx8 repetition is map-side: no shuffle before the output sort") {
    val f = formatted(graft.functions.TextFunctions.repetitionStats(Tables.documents(spark, Sf0001)))
    val body = f.split("== Physical Plan ==")(1)
    // the only Exchange allowed is the final orderBy's range partitioning
    // (formatted mode prints each operator twice: tree line + detail)
    assert(body.linesIterator.count(_.contains("Exchange")) <= 2, f)
    assert(!body.contains("HashAggregate"), f) // aggregate() is the HOF, not an agg operator
  }

  test("q36 latest-event compacts via partial aggregate, not a window sort") {
    val p = plan(CoreQueries.q36LatestEvent(spark, Sf0001))
    assert(!p.contains("Window"), s"window would shuffle+sort every raw event:\n$p")
    assert(p.contains("partial_max_by") || p.contains("partial"),
      s"no map-side combine before the shuffle:\n$p")
  }

  test("ss4 centroids partial-agg the exploded rows before the exchange") {
    val p = plan(Similarity.labelCentroids(Tables.embeddings(spark, Sf0001)))
    assert(p.contains("partial"), s"no map-side combine after posexplode:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q33 outer join matches pre-aggregated sides, not raw fact rows") {
    val df = CoreQueries.q33OuterJoin(spark, Sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // each HashAggregate pair (partial+final) must sit BELOW the outer
    // join: the join input is one row per customer, not per order
    val joinIdx = p.indexOf("FullOuter")
    assert(joinIdx > 0, p)
    assert(p.indexOf("HashAggregate") >= 0 &&
      p.substring(joinIdx).contains("HashAggregate"),
      s"aggregates did not stay below the outer join:\n$p")
  }

  test("q38 stratified sample filters map-side before any exchange") {
    val f = formatted(CoreQueries.q38StratifiedSample(spark, Sf0001))
    val body = f.split("== Physical Plan ==")(1)
    // scan → filter → partial agg → exchange → final agg → sort's
    // exchange: exactly two Exchanges (formatted mode prints each
    // operator twice: tree line + detail), none before the Filter
    assert(body.linesIterator.count(_.contains("Exchange")) <= 4, f)
    val firstEx = body.indexOf("Exchange")
    val firstFil = body.indexOf("Filter")
    assert(firstFil >= 0 && (firstEx < 0 || firstFil > firstEx),
      s"filter should be upstream (printed below) of every exchange:\n$f")
  }

  test("native cosine expression participates in codegen (no UDF)") {
    val emb = Tables.embeddings(spark, Sf0001)
    val df = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
    val p = plan(df)
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("ScalaUDF"), p)
  }

  test("q44 semi/anti probes are hash joins on orderkey, never nested loops") {
    val p = plan(CoreQueries.q44ExclusiveLate(spark, Sf0001))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
  }

  test("tx11 contamination probe is a semi equi-join on the shingle") {
    val docs = Tables.documents(spark, Sf0001)
    val p = plan(graft.functions.TextFunctions.contamination(docs))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("dd8 span-dedup aggregates partial map-side; equi-joins only") {
    val docs = Tables.documents(spark, Sf0001)
    val p = plan(Dedup.dupSpans(docs, 10))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial"), s"span df count not partial-agg'd:\n$p")
  }

  test("q47 per-group top-k runs the partial aggregate, not a window sort") {
    val p = plan(CoreQueries.q47GroupTopK(spark, Sf0001))
    assert(p.contains("partial_graft_topk"), s"no map-side top-k phase:\n$p")
    assert(!p.contains("Window"), s"rank window would sort every order row:\n$p")
  }

  test("q51 multiset ops plan as aggregate+replicate, not a row-level join") {
    val p = plan(CoreQueries.q51MultisetOps(spark, Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // Spark rewrites EXCEPT/INTERSECT ALL via per-key count aggregation
    // + Generate(replicate_rows) — occurrence rows never cross the wire
    assert(p.contains("replicaterows") || p.contains("Generate"), s"no replicate stage:\n$p")
  }

  test("q52 computes all three rank statistics in a single Window operator") {
    val p = plan(CoreQueries.q52RankStats(spark, Sf0001))
    assert("Window".r.findAllIn(p).size === 1, s"rank stats split across windows:\n$p")
  }

  test("tx12 packing plans one window per source partition, no extra exchange") {
    val docs = Tables.documents(spark, Sf0001)
    val df = graft.functions.TextFunctions.packDocs(docs, 512)
    val p = plan(df)
    // exactly one exchange feeds the window (hash by source); the final
    // orderBy adds the output-contract range exchange and nothing else
    assert(p.contains("Window"), p)
    assert("Exchange".r.findAllIn(p).size <= 2, s"unexpected extra shuffles:\n$p")
  }

  test("ss9 range search: queries broadcast, corpus scanned once, no agg state") {
    val emb = Tables.embeddings(spark, Sf0001)
    val f = formatted(Similarity.rangeSearch(emb, emb.filter(col("vec_id") < 3), 0.25))
    val body = f.split("== Physical Plan ==")(1)
    assert(body.contains("Broadcast"), f)
    assert(!body.contains("CartesianProduct"), f)
    // map-side radius filter: no hash repartitioning anywhere — the
    // only exchange is the presentation sort's range partitioning
    assert(!body.contains("Exchange hashpartitioning"), f)
    assert(!body.contains("HashAggregate"), f)
  }

  test("q55 sequence match runs ONE user-keyed aggregate, regex after it") {
    val p = plan(CoreQueries.q55SequenceMatch(spark, Sf0001))
    assert(p.contains("partial"), s"no map-side partial collect phase:\n$p")
    assert(!p.contains("Window"), s"a window sort would shuffle raw events twice:\n$p")
    assert("Exchange".r.findAllIn(p).size <= 2, s"unexpected extra shuffles:\n$p")
  }

  test("q56 MAD: both rejoins broadcast; the fact table is never shuffled") {
    val df = CoreQueries.q56MadOutliers(spark, Sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"group-stats join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dd9 incremental: candidate generation is an equi-join, never nested") {
    import spark.implicits._
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    val p = plan(Dedup.incrementalDedup(docs, 1, 0.9,
      org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.md5(col("doc_id").cast("string")), 1, 1) === "0"))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tx18 domain caps: cutoffs broadcast back; keep-filter precedes the agg") {
    val df = graft.functions.TextFunctions.domainCap(Tables.documents(spark, Sf0001))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial"), s"audit aggregate must partial-combine:\n$p")
  }

  test("q57 overlap join: bucketized to an equi-join, never a nested loop") {
    val df = CoreQueries.q57OverlapJoin(spark, Sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the interval×window overlap predicate rides on the bucket
    // equi-join; a theta-join fallback would be all-pairs at scale
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q58 SCD2 builds the whole history in one Window over one sort") {
    val p = plan(CoreQueries.q58Scd2(spark, Sf0001))
    assert("Window".r.findAllIn(p).size === 1, s"history split across windows:\n$p")
    // one hash exchange into the window + the output-contract range sort
    assert("Exchange".r.findAllIn(p).size <= 2, s"unexpected extra shuffles:\n$p")
  }

  test("q59 MERGE arms ride one shuffle join; delta partial-aggregates") {
    val df = CoreQueries.q59MergeUpsert(spark, Sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("FullOuter"), s"MERGE must be a single full-outer join:\n$p")
    assert(p.contains("partial"), s"delta aggregate must map-side combine:\n$p")
  }

  test("q61 TWA reuses the window's user_id partitioning for the groupBy") {
    val p = plan(CoreQueries.q61TimeWeightedAvg(spark, Sf0001))
    assert("Window".r.findAllIn(p).size === 1, s"interval derivation split:\n$p")
    // window hash exchange is reused by the groupBy (same key); only
    // the presentation sort may add a range exchange on top
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"groupBy re-shuffled what the window already partitioned:\n$p")
  }

  test("q60 profile: four column-pruned scans, partial aggs, no Expand blowup") {
    val p = plan(CoreQueries.q60Profile(spark, Sf0001))
    // one two-phase distinct pass per column: each scan prunes to its
    // single column (same total bytes as one 4-column scan) and the
    // shuffle carries Σ|distinct| value-count pairs — NOT the 4×n-row
    // Expand shuffle of multi-countDistinct-in-one-aggregate (6.1 s →
    // 0.9 s min-of-3 at sf0.1, BENCH_NOTES round 6)
    assert("Scan parquet".r.findAllIn(p).size === 4, s"expected 4 per-column scans:\n$p")
    assert(!p.contains("Expand"), s"profile regressed to the Expand plan:\n$p")
    assert(p.contains("partial_count") || p.contains("partial"),
      s"value counts must partial-agg map-side:\n$p")
    // every scan reads exactly one column
    assert("ReadSchema: struct<[^>]*>".r.findAllIn(p).forall(!_.contains(",")),
      s"a profile scan reads more than its column:\n$p")
  }

  test("q63 LOCF resample: union + ONE window, no per-grid-point join") {
    val p = plan(CoreQueries.q63LocfResample(spark, Sf0001))
    assert("Window".r.findAllIn(p).size === 1, s"LOCF split across windows:\n$p")
    assert(!p.contains("Join"), s"grid fill must ride the window, not a join:\n$p")
  }

  test("dd11 containment candidates ride equi-joins, never a nested loop") {
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    val df = Dedup.containment(docs, 1, 0.9)
    df.queryExecution.executedPlan // force planning
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q64: bloom membership filters the fact side BEFORE the semi-join's exchange") {
    val p = plan(CoreQueries.q64BloomPrune(spark, Sf0001))
    // the pre-filter survives to the physical plan...
    assert(p.contains("graft_might_contain"), p.take(4000))
    // ...and sits on the join's streamed (probe) side: BELOW the
    // semi-join in the tree (map-side, before any exchange), not above
    // it where it would filter already-joined rows
    val joinIdx = p.indexOf("LeftSemi")
    val filterIdx = p.indexOf("graft_might_contain")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"bloom filter must be under the semi-join, not above it:\n${p.take(4000)}")
  }

  test("dd12 edit-distance candidates ride the (lang, bucket) equi-join, never a nested loop") {
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"), col("lang"))
    val p = plan(Dedup.editDistancePairs(docs, 20))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("mm5 phash near-dup candidates ride the band equi-join, never a nested loop") {
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("text"))
    val p = plan(graft.operators.Multimodal.phashNearDup(docs, 8))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q69 rolling distinct: spine broadcasts, bitmap aggs are partial, no nested loop") {
    val df = CoreQueries.q69RollingDistinct(spark, Sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the day-spine semi-join must broadcast (it's tiny) — a shuffled
    // spine join would put an exchange on the KB-scale bitmap stream
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial"), s"bitmap aggregation must map-side combine:\n$p")
  }

  test("ss10 k-means assignment is map-side: no join, no shuffle before the sort") {
    val df = Similarity.kmeansAssign(
      Tables.embeddings(spark, Sf0001), 4, 1)
    val p = plan(df)
    // centroids ride as literals — assignment adds NO join of any kind
    assert(!p.contains("Join"), s"assignment must not join:\n${p.take(3000)}")
    // only exchange: the presentation sort's range partitioning
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"assignment plan has $exchanges exchanges:\n${p.take(3000)}")
  }

  test("tx20 decontaminate: shingle probe is a real hash semi-join; doc rows join hits broadcast-free of tokens") {
    val df = graft.functions.TextFunctions.decontaminate(Tables.documents(spark, Sf0001))
    val p = plan(df)
    assert(p.contains("LeftSemi"), s"eval-shingle probe must be a semi-join:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q70 markov: one window sort; matrix normalization windows the tiny aggregate") {
    val df = CoreQueries.q70MarkovChain(spark, Sf0001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial"), s"transition counts must map-side combine:\n$p")
  }

  test("tx19 mixture sampling broadcasts cuts; corpus is never shuffled") {
    val df = graft.functions.TextFunctions.mixtureSample(Tables.documents(spark, Sf0001))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial"), s"token-count aggregate must map-side combine:\n$p")
  }

  // ---- restored-events-query pins (the 15 queries broken by the ts
  // ---- type drift had no plan protection while red; pin them now)

  test("q20 date agg: partial aggregate; events read prunes to 3 columns") {
    val s = formatted(CoreQueries.q20DateAgg(spark, Sf0001))
    assert(s.contains("partial"), s"no map-side combine:\n$s")
    // props and event_id are untouched — the ns normalization must not
    // defeat column pruning on the rest of the row
    assert(!s.contains("props") && !s.contains("event_id"),
      "events ReadSchema not pruned to ts/event_type/value")
  }

  test("q21 sessionize: ONE window, and the groupBy reuses its user_id shuffle") {
    val df = CoreQueries.q21Sessionize(spark, Sf0001)
    val p = plan(df)
    assert("Window".r.findAllIn(p).length == 1, s"expected exactly one Window:\n$p")
    // lag window partitions by user_id; the session-count groupBy keys
    // on user_id too — a second hash exchange between them would mean
    // Spark failed to reuse the partitioning. Allowed exchanges: the
    // window's hash + the presentation sort's range.
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"groupBy re-shuffled after the window ($exchanges exchanges):\n$p")
  }

  test("q22 as-of join: union+window shape — no range join, no nested loop") {
    val p = plan(CoreQueries.q22AsofJoin(spark, Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of degenerated to a product join:\n$p")
    assert(p.contains("Window"), s"as-of must ride an ordered window:\n$p")
  }

  test("q41 gap fill: spine explodes map-side off the aggregate, join is equi") {
    val p = plan(CoreQueries.q41GapFill(spark, Sf0001))
    assert(p.contains("Generate"), s"sequence+explode spine missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"spine must never cross-join a global calendar:\n$p")
  }

  test("q50 cohort retention: both user aggregates partial; equi-join only") {
    val p = plan(CoreQueries.q50CohortRetention(spark, Sf0001))
    assert(p.contains("partial"), s"cohort anchor must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q62 bitmap distinct: both output grains read the materialized day aggregate, never the fact scan") {
    // round 12: the day-grain barrier moved cache() → localCheckpoint()
    // (freed with the RDD instead of living for the session), so the
    // pin now asserts the PROPERTY the cache pin stood for, directly:
    // the query-time plan reads the materialized day relation on both
    // grains and contains NO events file scan at all — the fact was
    // scanned exactly once, at barrier time.
    val df = CoreQueries.q62BitmapDistinct(spark, Sf0001)
    val p = plan(df)
    assert(p.linesIterator.count(_.contains("Scan ExistingRDD")) >= 2,
      s"day-grain barrier not reused by both grains:\n${p.take(3000)}")
    assert(!p.contains("FileScan"),
      s"an output grain re-scans the fact table:\n${p.take(3000)}")
    assert(p.contains("partial"), s"bitmap aggregate must map-side combine:\n${p.take(3000)}")
  }

  test("q66 HLL rollup: totals merge materialized day sketches, not a fact re-scan") {
    val df = CoreQueries.q66HllRollup(spark, Sf0001)
    val p = plan(df)
    assert(p.linesIterator.count(_.contains("Scan ExistingRDD")) >= 2,
      s"day-sketch barrier not reused by both grains:\n${p.take(3000)}")
    assert(!p.contains("FileScan"),
      s"an output grain re-scans the fact table:\n${p.take(3000)}")
    assert(p.contains("partial"), s"hll_sketch_agg must map-side combine:\n${p.take(3000)}")
  }

  test("q73 pagerank: per-round message aggregation partial-combines; equi-joins only") {
    // Pin the ROUND plan directly — it is the shape that repeats at
    // scale, once per round of the registry plan.
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val withDeg = Seq((1L, 1L, 100L), (2L, 1L, 100L), (3L, 1L, 100L))
      .toDF("node", "outdeg", "r")
    val p = plan(graft.operators.PageRank.round(
      withDeg.select(col("node"), col("outdeg")), withDeg, e, org.apache.spark.sql.functions.lit(3L)))
    assert(p.contains("partial"), s"contribution sums must map-side combine:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"rank propagation degenerated to a product join:\n${p.take(3000)}")
    // and the registry query still ends in the presentation sort
    // (values bit-identical — PageRankSpec pins ranks ≡
    // the convergence loop at the same round count)
    val pq = plan(CoreQueries.q73PageRank(spark, Sf0001))
    assert(pq.contains("Sort"), pq.take(1000))
  }

  test("q74 triangles: forward enumeration is one equi-join + merge intersect, no wedge fan-out") {
    val p = plan(CoreQueries.q74Triangles(spark, Sf0001))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"triangle enumeration degenerated to a product join:\n${p.take(3000)}")
    // round 16: the wedge join + Bloom + closing semi-join was replaced
    // by the forward edge-iterator — for each oriented edge (a, b) the
    // closing nodes are N⁺(a) ∩ N⁺(b), a codegen two-pointer merge over
    // the layout's sorted adjacency arrays. The plan must carry the
    // merge intersect (losing it to a re-derivation would silently
    // re-inflate the enumeration back to the 26:1 wedge fan-out), and
    // no semi-join — the intersection IS the closing-edge test.
    assert(p.contains("graft_sorted_intersect"),
      s"sorted-merge closing intersection missing from the plan:\n${p.take(3000)}")
    assert(!p.contains("LeftSemi"),
      s"wedge-era closing semi-join resurfaced:\n${p.take(3000)}")
  }

  test("q72 decay agg: single events pass, no join, map-side partial agg") {
    val p = plan(CoreQueries.q72DecayAgg(spark, Sf0001))
    // the max-ts anchor is a driver scalar (runtime literal), so the
    // scoring plan itself must contain no join of any kind
    assert(!p.contains("Join"), s"anchor leaked into the plan as a join:\n${p.take(3000)}")
    assert(p.contains("partial"), s"decay aggregate must map-side combine:\n$p")
  }

  test("q75 BFS: frontier round is equi-join + anti-join, never a nested loop") {
    // the loop materializes each round (localCheckpoint), so the final
    // plan is just a union of checkpoint scans — pin the PER-ROUND
    // shape by composing exactly what Bfs.hops executes each round
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val frontier = Seq(1L).toDF("node")
    val visited = Seq(1L).toDF("node")
    val round = frontier.select(col("node").as("src")).join(e, "src")
      .select(col("dst").as("node")).distinct()
      .join(visited, Seq("node"), "left_anti")
    val p = plan(round)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"BFS round degenerated to a product join:\n${p.take(3000)}")
    assert(p.contains("LeftAnti"), s"visited-set exclusion must be an anti-join:\n${p.take(3000)}")
    // the registry query's edge build must also stay equi-join-only
    val q = plan(CoreQueries.q75BfsHops(spark, Sf0001))
    assert(!q.contains("CartesianProduct") && !q.contains("BroadcastNestedLoopJoin"),
      s"edge build degenerated:\n${q.take(3000)}")
  }

  test("q76 listagg: dimension broadcast; collect aggregate partial-combines") {
    val p = plan(CoreQueries.q76Listagg(spark, Sf0001))
    assert(p.contains("BroadcastHashJoin"), s"nation should broadcast:\n${p.take(3000)}")
    assert(p.contains("partial"), s"collect_list must partial-agg map-side:\n$p")
  }

  test("q78 PPS: the fact-table window partitions by bucket; only the tiny offset prefix is single-partition") {
    val df = CoreQueries.q78PpsSample(spark, Sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // exactly one SinglePartition exchange is allowed — the bucket-offset
    // prefix over the |buckets|-row aggregate. A second would mean the
    // fact-table cumsum degenerated to the global-order window.
    val singles = "Exchange SinglePartition".r.findAllIn(p).length
    assert(singles <= 1, s"fact cumsum collapsed to one partition:\n${p.take(3000)}")
    // the per-row running sum must window over the bucket key
    assert(p.contains("windowspecdefinition(bkt"),
      s"fact window must partition by bkt:\n${p.take(3000)}")
  }

  test("q81 corpus shuffle: permutation coordinate rides a bucket-partitioned window, not a global sort") {
    val df = CoreQueries.q81CorpusShuffle(spark, Sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // one SinglePartition exchange allowed: the 256-row bucket-offset
    // prefix. A second means the corpus-wide row_number degenerated to
    // the naive one-partition global-order window.
    val singles = "Exchange SinglePartition".r.findAllIn(p).length
    assert(singles <= 1, s"corpus permutation collapsed to one partition:\n${p.take(3000)}")
    assert(p.contains("windowspecdefinition(bkt"),
      s"position window must partition by bkt:\n${p.take(3000)}")
  }

  test("q82 z-score: window rides the types×days aggregate, fact table never window-sorted") {
    val p = plan(CoreQueries.q82RollingZscore(spark, Sf0001))
    // the window must partition by event_type (over the aggregate) —
    // a global or fact-table window would be the naive cumulative form
    assert(p.contains("windowspecdefinition(event_type"),
      s"z-score window must partition by event_type:\n${p.take(3000)}")
    // the daily collapse partial-aggs map-side before its exchange
    assert(p.contains("partial"), s"daily totals must map-side combine:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dd2 index probe re-tokenizes nothing: the scan reads the materialized representation") {
    // build-if-missing, then the probe plan must contain no regexp
    // tokenization — the whole tokenize/df-order stage is amortized
    // into the write-once shingle index
    val df = graft.queries.PipelineQueries.dd2(spark, Sf0001)
    df.collect()
    val p = plan(df)
    assert(!p.toLowerCase.contains("regexp_extract_all"),
      s"dd2 probe re-tokenized the corpus:\n${p.take(3000)}")
  }

  test("q83 weighted median: bucket pruning broadcasts; no global-order fact window") {
    val df = CoreQueries.q83WeightedMedian(spark, Sf0001)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the crossing bucket reaches the fact scan as a broadcast join,
    // and every window partitions by grp over domain-bounded aggregates
    assert(p.contains("BroadcastHashJoin"), s"bucket prune must broadcast:\n${p.take(3000)}")
    assert(p.contains("windowspecdefinition(grp"),
      s"crossing windows must partition by grp:\n${p.take(3000)}")
    assert("Exchange SinglePartition".r.findAllIn(p).isEmpty,
      s"weighted median collapsed to one partition:\n${p.take(3000)}")
    assert(p.contains("partial"), s"bucket sums must map-side combine:\n${p.take(3000)}")
  }

  test("q84 maintenance: ONE at-rest view scan + exactly three delta joins, never base×base") {
    val df = CoreQueries.q84IncrementalJoin(spark, Sf0001)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"delta maintenance degenerated:\n${p.take(3000)}")
    // the standing view is read from its write-once parquet layout —
    // NOT re-derived from the base tables through lineage or a
    // per-invocation checkpoint (VERDICT r7 #2)
    assert(p.contains("graft_ivmview_"),
      s"standing view must scan the published layout:\n${p.take(3000)}")
    // exactly the three delta-sized joins: a fourth join would be the
    // base-orders⋈base-customer recompute the IVM algebra exists to avoid
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(p).length
    assert(joins === 3, s"expected 3 delta joins, got $joins:\n${p.take(3000)}")
  }

  test("tx21 diversity: token counts partial-agg map-side; no fact-table window") {
    val p = plan(graft.functions.TextFunctions.diversity(
      Tables.documents(spark, Sf0001)))
    assert(p.contains("partial"), s"token counts must map-side combine:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"tx21 needs no window at all:\n${p.take(3000)}")
  }

  test("q79 audit: FK flags ride outer equi-joins; one aggregate per base-table pass") {
    val p = plan(CoreQueries.q79ConstraintAudit(spark, Sf0001))
    // each base table is scanned once for all its row-level checks: the
    // FK flag is a left-outer equi-join and every violation count is a
    // conditional sum in the same aggregate as n_checked
    assert(p.contains("LeftOuter"), s"FK checks must ride outer joins:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"audit degenerated:\n${p.take(3000)}")
    assert(p.contains("partial"), s"audit aggregates must map-side combine:\n${p.take(3000)}")
  }

  test("q77 interval union: both windows and the island groupBy reuse ONE user_id shuffle") {
    val df = CoreQueries.q77IntervalUnion(spark, Sf0001)
    df.collect()
    // AQE prints "== Final Plan ==" then "== Initial Plan ==" — count
    // exchanges only in the final (executed) section
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"interval union must not self-join:\n${p.take(3000)}")
    // both window passes share one (user_id) hash exchange + sort; both
    // groupBys reuse that partitioning (user_id ⊆ their keys); the only
    // other exchange is the final orderBy's range partition. >2 means
    // the plan re-shuffles per analytic step and would melt at 100 TB.
    val exchanges = "(?<!Reused)Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected ≤2 exchanges, got $exchanges:\n${p.take(3000)}")
  }

  test("ss11 hybrid: scoring is map-side with k-heap partials; no nested loop, no fact window") {
    val p = plan(graft.queries.PipelineQueries.ss11(spark, Sf0001))
    // fusion scores stream map-side into graft_topk partial heaps —
    // the corpus is never window-sorted and candidates never explode
    // to a nested loop (queries ride a broadcast)
    assert(p.contains("graft_topk") || p.contains("TopKScoreId"),
      s"per-query k-heap missing:\n${p.take(3000)}")
    assert(p.contains("partial"), s"heap must partial-agg map-side:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("windowspecdefinition"),
      s"hybrid ranking must use heaps, not a corpus window:\n${p.take(3000)}")
  }

  test("dd16: ONE index probe serves the whole τ sweep — higher-τ points are filters, not re-probes") {
    val df = graft.queries.PipelineQueries.dd16(spark, Sf0001)
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Union}
    // candidate generation appears exactly once: the mask path's
    // Hamming band explode or the array path's prefix-slice explode.
    // The old per-τ shape ran it three times (58.9 s at x30, linear in
    // the τ-point count); pairs(τ>τmin) are exact subsets of the τmin
    // probe's verified output, so re-probing is pure redundancy.
    // one probe self-joins its candidate relation, so the generator
    // appears exactly twice (join left + right); the old per-τ shape
    // showed six. Round 15: the mask path's generator is the banded
    // explode OR the blocked fallback's block fan-out
    // (explode(sequence(blk, …)) — see Dedup.blockedMaskPairs).
    val probes = df.queryExecution.optimizedPlan.collect {
      case g: Generate if g.generator.toString.contains("band") ||
        g.generator.toString.contains("shingles") ||
        g.generator.toString.contains("sequence(blk") ||
        g.generator.toString.contains("sequence(0, blk") => g
    }
    assert(probes.size === 2,
      s"expected exactly 1 candidate-generation pass (2 self-join sides), got ${probes.size}")
    // and the per-τ 3-branch union is gone — the three curve rows come
    // out of ONE (τ, doc) aggregation chain
    val fanUnions = df.queryExecution.optimizedPlan.collect {
      case u: Union if u.children.size >= 3 => u
    }
    assert(fanUnions.isEmpty, "per-τ union branches are back")
  }

  test("tx28: probe reads the stored boiler set — no per-query df-count, one pass over the lines") {
    val df = graft.queries.PipelineQueries.tx28(spark, Sf0001)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    val lp = df.queryExecution.optimizedPlan
    // exactly ONE aggregate (the per-doc rebuild): the O(corpus-lines)
    // boilerplate df-count is amortized in the graft_blidx layout, so
    // a second aggregate means the probe re-prices the build
    val aggs = lp.collect { case a: Aggregate => a }
    assert(aggs.size === 1, s"expected 1 aggregate (rebuild only), got ${aggs.size}")
    // and the lines relation explodes once — the old three-consumer
    // fan-out (df count + anti + semi) needed a session-lifetime cache
    val gens = lp.collect { case g: Generate => g }
    assert(gens.size === 1, s"expected 1 line explode, got ${gens.size}")
    val scans = lp.collectLeaves().map(_.toString)
    assert(scans.exists(_.contains("graft_blidx")) ||
      plan(df).contains("graft_blidx"),
      "probe does not read the materialized boiler set")
  }

  test("tx29 novelty: gram-min partial-aggs map-side; equi-joins only, no cartesian") {
    val p = plan(graft.queries.PipelineQueries.tx29(spark, Sf0001))
    // the first-occurrence min must combine map-side — at 100 TB the
    // gram relation is the corpus's token spine and the shuffle must
    // carry (gram, min) partials, not raw gram rows
    assert(p.contains("partial"), s"gram min must map-side combine:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"novelty join degenerated:\n${p.take(3000)}")
    assert(!p.contains("windowspecdefinition"),
      s"first-occurrence must be a groupBy min, not a window over grams:\n${p.take(3000)}")
  }

  test("q87 contribution: ONE orders scan (conditional agg, not per-period scans); cells partial-agg; no cartesian") {
    val p = plan(CoreQueries.q87Contribution(spark, Sf0001))
    // both period revenues come out of one pass — a UNION of two
    // year-filtered scans would read orders twice at 100 TB
    val ordersScans = "orders\\.parquet".r.findAllIn(p).size
    assert(ordersScans == 1, s"expected exactly 1 orders scan, got $ordersScans:\n${p.take(3000)}")
    assert(p.contains("partial"), s"cell sums must map-side combine:\n${p.take(3000)}")
    // total + rank ride windows over the 25-row aggregate — no join
    // machinery should appear past the customer equi-join at all
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q86 changepoint: windows ride the types×days aggregate; fact never window-sorted") {
    val p = plan(CoreQueries.q86Changepoint(spark, Sf0001))
    // same contract as q82: every window partitions by event_type over
    // the tiny daily aggregate, and the daily collapse partial-aggs
    // map-side before its one exchange
    assert(p.contains("windowspecdefinition(event_type"),
      s"CUSUM windows must partition by event_type:\n${p.take(3000)}")
    assert(p.contains("partial"), s"daily totals must map-side combine:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tx22 datasheet: one materialized tokenize pass; rollups partial-agg; rank rides the tiny grain") {
    val df = graft.queries.PipelineQueries.tx22(spark, Sf0001)
    df.collect()
    val p = plan(df)
    // the expensive tokenize stage must be served from the
    // localCheckpoint'd narrow relation — the plan reads the
    // materialized RDD, not N parquet-scan+regexp pipelines
    assert(p.contains("Scan ExistingRDD"),
      s"doc stats must come off the materialized relation:\n${p.take(3000)}")
    assert(p.contains("partial"), s"grain rollups must map-side combine:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the rank window rides (source, lang) — never a document row set
    assert(p.contains("windowspecdefinition(source"),
      s"top-lang rank must partition by source:\n${p.take(3000)}")
  }

  test("mm7 CDC near-dup: equi-join candidates, no nested loop, chunk relation cached") {
    val df = graft.queries.PipelineQueries.mm7(spark, Sf0001)
    df.collect()
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation degenerated to all-pairs:\n${p.take(3000)}")
    assert(p.contains("InMemoryTableScan"),
      s"chunking must run once into the cached relation:\n${p.take(3000)}")
  }

  test("q89 pareto front: staircase on the price aggregate, broadcast-back filter, no dominance self-join") {
    val df = CoreQueries.q89ParetoFront(spark, Sf0001)
    df.collect()
    val p = plan(df)
    // naive skyline is a quadratic NOT-EXISTS self-join — the sweep
    // must never degenerate to a nested-loop/cartesian dominance test
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"skyline degenerated to the quadratic dominance join:\n${p.take(3000)}")
    // surviving front prices come back onto the fact as a broadcast
    assert(p.contains("BroadcastHashJoin"),
      s"front filter must broadcast back:\n${p.take(3000)}")
    // the price groupBy partial-aggregates before the exchange
    assert(p.contains("partial_max"),
      s"per-price max must map-side combine:\n${p.take(3000)}")
  }

  test("q90 attribution: interval join is a user_id hash join, never a cartesian; windows ride purchase partitions") {
    val df = CoreQueries.q90Attribution(spark, Sf0001)
    df.collect()
    val p = plan(df)
    // the trailing-hour band must stay a RESIDUAL on the user_id
    // equi-join — a time-only join degenerates to a cartesian at scale
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated:\n${p.take(3000)}")
    // both the touch count and the recency rank partition by purchase —
    // millions of tiny partitions, nothing global
    assert(p.contains("windowspecdefinition(purchase_id"),
      s"windows must partition by purchase_id:\n${p.take(3000)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"attribution collapsed to one partition:\n${p.take(3000)}")
    // the two event_type filters reach the scans
    assert(formatted(df).contains("EqualTo(event_type,click)"),
      "click filter not pushed to the scan")
  }

  test("dd11/dd13: pair scan comes from the contain index — never a per-query shingle probe") {
    // VERDICT r8 #3: the containment pair set is per-corpus-version
    // infrastructure; the registry queries must read pairs/ (and
    // labels/) off the contain index generation, with ZERO scans of
    // the shingle index — the prefix-filtered candidate join is
    // build-time cost
    val d11 = graft.queries.PipelineQueries.dd11(spark, Sf0001)
    d11.collect()
    // the executed-plan string truncates scan locations, so the layout
    // assertion reads the ANALYZED plan's relation paths instead
    def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toString)
            case _ => Seq.empty
          }
      }.flatten
    val paths11 = scanPaths(d11)
    assert(paths11.exists(_.contains("contain3")),
      s"dd11 must scan the materialized pair set, scans: $paths11")
    assert(!paths11.exists(_.contains("graft_shidx_")),
      s"dd11 re-probed the shingle index per query, scans: $paths11")
    val d13 = graft.queries.PipelineQueries.dd13(spark, Sf0001)
    d13.collect()
    val paths13 = scanPaths(d13)
    assert(paths13.exists(_.contains("contain3")) &&
      !paths13.exists(_.contains("graft_shidx_")),
      s"dd13 must fold the materialized pairs + labels only, scans: $paths13")
    val p13 = plan(d13)
    // the degree fold still partial-aggregates its one pass map-side
    assert(p13.contains("partial_sum"),
      s"dd13 degrees must map-side combine:\n${p13.take(3000)}")
  }

  test("dd6/dd8 registry plans: one index scan each — no per-query tokenize or CC (round 13)") {
    // VERDICT r12 #1/#2: both answers are corpus-static and
    // materialized; the registry plans must be pure probes
    def scanPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          r.relation match {
            case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              f.location.rootPaths.map(_.toString)
            case _ => Seq.empty
          }
      }.flatten
    val d6 = graft.queries.PipelineQueries.dd6(spark, Sf0001)
    d6.collect()
    val paths6 = scanPaths(d6)
    assert(paths6.exists(_.contains("graft_dupidx")),
      s"dd6 must read the materialized labeling, scans: $paths6")
    assert(paths6.forall(_.contains("graft_dupidx")),
      s"dd6 must read ONLY the labeling (no documents scan, no shingle probe): $paths6")
    // no iterative-propagation artifacts: the old inline path's
    // localCheckpoint barriers print as "Scan ExistingRDD" leaves (a
    // literal "localCheckpoint" never appears in a plan string —
    // ADVICE r13 flagged the earlier guard as vacuous), so pin the
    // absence of any in-memory-lineage leaf instead
    assert(!plan(d6).contains("ExistingRDD"),
      "dd6 re-ran the propagation loop per query")
    val d8 = graft.queries.PipelineQueries.dd8(spark, Sf0001)
    d8.collect()
    val paths8 = scanPaths(d8)
    assert(paths8.exists(_.contains("graft_spanidx")),
      s"dd8 must read the span index, scans: $paths8")
    assert(paths8.forall(_.contains("graft_spanidx")),
      s"dd8 must read ONLY spanidx dirs (no per-query tokenize): $paths8")
    // the probe never re-derives spans: no regexp tokenizer in the plan
    assert(!plan(d8).contains("regexp_extract_all"),
      "dd8 re-tokenized per query")
  }

  test("dd14 dedup stats: probes the materialized groups index; rollup partial-aggs") {
    val df = graft.queries.PipelineQueries.dd14(spark, Sf0001)
    df.collect()
    val p = plan(df)
    // the CC labeling is amortized infrastructure — the registry plan
    // must READ the parquet index, never re-run label propagation
    assert(p.contains("graft_dupidx_"),
      s"dd14 must probe the materialized dup-groups index:\n${p.take(3000)}")
    // per-source distinct-group rollup partial-aggregates map-side
    assert(p.contains("partial_count"),
      s"rollup must map-side combine:\n${p.take(3000)}")
  }

  test("q91 acf: fact scans once into the cached daily mart; lag self-join is an equi-join") {
    val df = CoreQueries.q91Autocorrelation(spark, Sf0001)
    df.collect()
    val p = plan(df)
    // both sides of the +lag self-join must read the cached types×days
    // mart — without the cache each side re-derives the aggregate and
    // the 100 TB fact scans twice. (The events FileScan still appears
    // in the plan STRING, inside the printed InMemoryRelation subtree —
    // that's the cache's definition, not a second scan.)
    assert(p.linesIterator.count(_.contains("InMemoryTableScan")) >= 2,
      s"a join side re-derives the daily mart instead of reading the cache:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lag join degenerated:\n${p.take(3000)}")
  }

  test("q92 rfm: scoring plan is windowless — no global ntile/row_number over customers") {
    val df = CoreQueries.q92RfmSegments(spark, Sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the quintile cuts were collected at build time (q64's
    // runtime-literal pattern); the registry plan must be the customer
    // aggregate + broadcast scalar + CASE projection — the naive ntile
    // window would push every customer through ONE partition
    assert(!p.contains("Window"),
      s"rfm scoring regressed to a global rank window:\n${p.take(3000)}")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"more than the one documented 1-row max join:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n${p.take(3000)}")
    // ONE base-aggregate derivation (VERDICT r8 #5): the scoring
    // projection must read the localCheckpoint'd customer aggregate
    // the boundary pass pair already materialized — a plan that
    // re-derives the orders groupBy would scan the fact table a
    // fourth time
    assert(p.contains("Scan ExistingRDD"),
      s"rfm scoring re-derives the customer aggregate instead of the materialized relation:\n${p.take(3000)}")
  }

  test("q93 basket rules: probes the co-purchase layout; top-100 is TakeOrdered, not a global sort") {
    val df = CoreQueries.q93BasketRules(spark, Sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // pair counting AND item frequencies are amortized in the
    // write-once layout (v2 carries items/ + totals/) — the registry
    // plan is a pure index probe that never touches the fact table
    assert(p.contains("graft_copurchase_"),
      s"q93 must probe the materialized co-purchase layout:\n${p.take(3000)}")
    assert(!p.linesIterator.exists(l => l.contains("FileScan") && l.contains("lineitem")),
      s"q93 re-scanned the fact table — item counts must come from the layout:\n${p.take(3000)}")
    assert(!p.contains("Window"),
      s"the capped row_number window is build-time cost, not per-query:\n${p.take(3000)}")
    // bounded top-k: a LIMIT over a total order plans as TakeOrdered
    // (per-partition heaps), not a full sort of the scored edges
    assert(p.contains("TakeOrderedAndProject"),
      s"top-100 must be TakeOrdered:\n${p.take(3000)}")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"more than the one documented 1-row totals join:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n${p.take(3000)}")
  }

  test("q96 ship latency: windows ride the cell aggregate, nothing global; cells partial-agg") {
    val df = CoreQueries.q96ShipLatency(spark, Sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // percentiles come from rank crossings over the (priority, days)
    // aggregate — never a per-group sort of the fact table and never
    // a single-partition window
    assert(p.contains("windowspecdefinition(priority"),
      s"rank crossings must partition by priority:\n${p.take(3000)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"latency percentiles collapsed to one partition:\n${p.take(3000)}")
    assert(p.contains("partial_count"),
      s"cells must map-side combine:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"latency join degenerated:\n${p.take(3000)}")
  }

  test("q97 skew report: TakeOrdered top-10, windowless, one scalar broadcast") {
    val df = CoreQueries.q97SkewReport(spark, Sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // top-10 over the (n_rows desc, key) total order must plan as
    // per-partition heaps, never a global sort or a rank window
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be TakeOrdered:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"no window needed:\n${p.take(3000)}")
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1,
      s"more than the one documented 1-row stats join:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n${p.take(3000)}")
    // per-key counts partial-agg map-side
    assert(p.contains("partial_count"),
      s"key counts must map-side combine:\n${p.take(3000)}")
  }

  test("q94 table diff: one full-outer hash join, no window, no cartesian") {
    val df = CoreQueries.q94TableDiff(spark, Sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("FullOuter"), s"diff must be one full-outer join:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"diff degenerated:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"diff needs no window:\n${p.take(3000)}")
  }

  test("tx24 keywords: top-k window partitions by doc_id; tf partial-aggs; df join not broadcast") {
    val df = graft.functions.TextFunctions.docTopTerms(
      Tables.documents(spark, Sf0001), 3)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the rank window must ride per-doc partitions — a global window
    // would single-partition the whole scored relation
    assert(p.contains("windowspecdefinition(doc_id"),
      s"keyword rank must partition by doc_id:\n${p.take(3000)}")
    // exactly one SinglePartition exchange is legitimate: the 1-row
    // corpus count that broadcasts (q81's ≤1 convention); the scored
    // relation itself must never collapse
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 1,
      s"keywords collapsed to one partition:\n${p.take(3000)}")
    assert(p.contains("partial_count"),
      s"tf must map-side combine:\n${p.take(3000)}")
  }

  test("q99 gini: ranks ride (seg, bucket) partitions, never a per-segment fact sort") {
    val df = CoreQueries.q99GiniConcentration(spark, Sf0001)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // phase 2's local rank must partition by BOTH seg and bkt — the
    // manual range-partition of the global sort; a seg-only window
    // over customers is the q78/q83 cliff this query exists to avoid.
    // One regex over a single windowspecdefinition: two independent
    // contains() would be satisfied by phase 1's seg-partitioned
    // cumulative window (which legitimately ORDERS by bkt) even if
    // the rank window regressed to seg-only
    assert("windowspecdefinition\\(seg#\\d+, bkt#\\d+L?, x#".r.findFirstIn(p).isDefined,
      s"local rank must partition by (seg, bkt) and order by x:\n${p.take(3000)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"gini ranks collapsed to one partition:\n${p.take(3000)}")
    // the bucket-offset table is domain-sized and must broadcast to
    // the fact side
    assert(p.contains("BroadcastHashJoin"),
      s"rank offsets must broadcast:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"bucket counts must map-side combine:\n${p.take(3000)}")
  }

  test("dd17 semdedup: equi-joined cell pairs, one per-cell fold, no iteration artifacts") {
    val df = Similarity.semanticDedup(
      Tables.embeddings(spark, Sf0001), 8, 2, 0.35)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the within-cell pairing is a cluster-keyed equi self-join —
    // never a cartesian over the corpus
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cell pairing degenerated:\n${p.take(3000)}")
    // the labeling is ONE per-cell typed fold (union-find), not dd6's
    // iterative propagation: a MapGroups stage exists, and the final
    // plan carries no checkpoint-scan chain from loop rounds
    assert(p.contains("MapGroups"),
      s"per-cell union-find stage missing:\n${p.take(3000)}")
    // keeper selection map-side combines per group
    assert(p.contains("partial_max"),
      s"keeper max_by must map-side combine:\n${p.take(3000)}")
  }

  test("tx38 DSIR plans: vocabulary-keyed counts partial-agg; totals broadcast; no cartesian blowup") {
    val df = graft.functions.TextFunctions.dsirSelect(
      Tables.documents(spark, Sf0001), Seq("src0", "src1", "src2"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the token-count aggregate must map-side combine (shuffle =
    // vocabulary, not occurrences)
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"token counts must partial-agg:\n${p.take(3000)}")
    // the 1-row totals ride a broadcast, and the deliberate 1-row
    // crossJoin is the ONLY nested-loop shape in the plan: strip the
    // broadcast totals join, then nothing cartesian may remain
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"totals must broadcast:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), s"corpus-side cartesian:\n${p.take(3000)}")
    // top-N must be TakeOrdered, never a full global sort
    assert(p.contains("TakeOrderedAndProject"),
      s"top-N degenerated to a global sort:\n${p.take(3000)}")
  }

  test("tx39 classifier scoring plans map-side (weights are literals)") {
    val df = graft.functions.TextFunctions.weakClassifier(
      Tables.documents(spark, Sf0001), Seq("src0", "src1", "src2"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the scoring pass is one feature projection + literal-weight
    // arithmetic + the presentation sort — no join, no aggregate:
    // the shape that serves a stream (st19)
    assert(!p.contains("Join"), s"scoring must not join:\n${p.take(3000)}")
    assert(!p.contains("HashAggregate"), s"scoring must not aggregate:\n${p.take(3000)}")
  }

  test("reranked PQ probe: pool and queries broadcast, flat store never shuffled") {
    val emb = Tables.embeddings(spark, Sf0001)
    val q = emb.filter(col("vec_id") < 5)
    val dir = tempDir("graft-rr-plan")
    Similarity.pqWriteIndex(emb, dir, dim = 64)
    val df = Similarity.pqProbeIndexReranked(spark, dir, q, emb, 10)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the refine fetch joins the corpus scan against the BROADCAST
    // candidate pool — the corpus must not shuffle for the rerank.
    // (A BroadcastNestedLoopJoin IS expected deeper in the plan: the
    // embedded ADC stage scores codes against the broadcast query
    // side on a non-equi key by design — ss1's shape.)
    assert(p.contains("BroadcastHashJoin"), s"pool must broadcast-join:\n${p.take(3000)}")
    assert(!p.contains("SortMergeJoin"),
      s"rerank shuffled the flat store:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), s"rerank degenerated:\n${p.take(3000)}")
  }
}
