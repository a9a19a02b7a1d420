package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.sources.{AvroIngest, CsvIngest, OrcIngest}

/** SQL-string entry point + CSV-sourced query.
  *
  * The other half of a Spark engine's user surface: `spark.sql(text)`
  * over registered views. q24/q25 are written in the ANSI subset both
  * engines parse, so the SAME string is the Spark plan AND the DuckDB
  * oracle — the strongest possible equivalence gate (any semantic
  * divergence between the two engines on this text shows up as a hash
  * mismatch). Plans produced by spark.sql go through exactly the same
  * Catalyst pipeline as the DataFrame API: pushdown, pruning, AQE all
  * apply unchanged.
  */
object SqlQueries {

  private val ViewTables =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")

  /** Register every testdata table as a temp view (idempotent;
    * `events` goes through Tables.events for the nanos conf). */
  def registerViews(s: SparkSession, dir: String): Unit = {
    ViewTables.foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
    Tables.events(s, dir).createOrReplaceTempView("events")
  }

  /** q24: discounted-revenue aggregate per ship year (TPC-H Q6 shape
    * widened with a GROUP BY). year() is cast to BIGINT because Spark
    * returns INT and DuckDB BIGINT — the cast pins both to one type. */
  val q24Sql: String =
    """SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
      | CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
      |GROUP BY CAST(year(l_shipdate) AS BIGINT)
      |ORDER BY ship_year""".stripMargin

  def q24(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    s.sql(q24Sql)
  }

  /** q25: customer-segment × order-priority revenue with HAVING. */
  val q25Sql: String =
    """SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c.c_mktsegment, o.o_orderpriority
      |HAVING COUNT(*) > 10
      |ORDER BY c_mktsegment, o_orderpriority""".stripMargin

  def q25(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    s.sql(q25Sql)
  }

  /** q23: per-segment aggregate over the CSV-ingested customer table.
    * The oracle reads the parquet original — the CSV round-trip must
    * be value-exact for the hashes to match. */
  def q23(s: SparkSession, d: String): DataFrame =
    CsvIngest.customerCsv(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast(DecimalType(18, 6))).cast("double").as("sum_acctbal"),
        min(col("c_custkey")).as("min_key"),
        max(col("c_custkey")).as("max_key"))
      .orderBy(col("c_mktsegment"))

  val q23Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_customers,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_acctbal,
      | MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q26: per-(lang, source) stats over the JSON-ingested documents
    * table; oracle reads the parquet original, so the JSON string
    * escaping round-trip must be value-exact. */
  def q26(s: SparkSession, d: String): DataFrame =
    CsvIngest.documentsJson(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_text_len"))
      .orderBy(col("lang"), col("source"))

  val q26Sql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      | CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS sum_text_len
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  /** q43: GROUPING SETS — the general form q12 (ROLLUP) and q31 (CUBE)
    * specialize. Three chosen grouping levels in one pass; GROUPING()
    * flags disambiguate a NULL key from an aggregated-away one. Shared
    * SQL text (both engines parse it); the NULLS FIRST ordering is
    * load-bearing — Spark defaults nulls-first ASC, DuckDB nulls-last.
    * Scale: Spark expands grouping sets BEFORE the exchange, so each
    * map task emits partials for all three levels and the shuffle
    * stays one pass over the fact side. */
  val q43Sql: String =
    """SELECT c_mktsegment, o_orderpriority,
      | CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_seg,
      | CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_pri,
      | COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority),
      |                        (c_mktsegment), (o_orderpriority))
      |ORDER BY g_seg, g_pri,
      | c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  def q43(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    s.sql(q43Sql)
  }

  /** q53: per-nation aggregate over the Avro-ingested supplier table.
    * Oracle reads the parquet original — Avro's binary encoding of
    * long/double/string round-trips bit-exactly, so the hashes must
    * match. nationkey is cast to BIGINT on both sides (Spark keeps
    * INT, DuckDB widens). */
  def q53(s: SparkSession, d: String): DataFrame =
    AvroIngest.supplierAvro(s, d)
      .groupBy(col("s_nationkey").cast("long").as("nation_key"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum(col("s_acctbal").cast(DecimalType(18, 6))).cast("double").as("sum_acctbal"),
        min(col("s_suppkey")).as("min_key"),
        max(col("s_suppkey")).as("max_key"))
      .orderBy(col("nation_key"))

  val q53Sql: String =
    """SELECT CAST(s_nationkey AS BIGINT) AS nation_key, COUNT(*) AS n_suppliers,
      | CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sum_acctbal,
      | MIN(s_suppkey) AS min_key, MAX(s_suppkey) AS max_key
      |FROM supplier
      |GROUP BY 1
      |ORDER BY nation_key""".stripMargin

  /** q54: higher-moment summary statistics (stddev / skewness /
    * kurtosis / correlation) per return flag — the profiling query a
    * data-quality dashboard runs. Built-in stddev/skewness/kurtosis
    * accumulate doubles in engine-specific order, so they can never
    * hash-match across engines; instead the power sums Σx..Σx⁴, Σy,
    * Σy², Σxy accumulate EXACTLY (DECIMAL(38,6) — wide enough for
    * Σ(qty·price) at any SF without overflow) and the moments come
    * from one fixed tree of IEEE double ops over those exact sums.
    * SAME SQL text runs in Spark and DuckDB (q24 pattern), so the
    * expression trees are structurally identical and sqrt is
    * correctly-rounded in both — bit-exact hashes. One partial-agg
    * friendly scan: 9 decimal sums, no second pass, no window.
    * The sums convert to double THROUGH A STRING (CAST(x AS STRING)
    * AS DOUBLE): text→double parse is correctly rounded in both
    * engines, while DuckDB's direct decimal→double double-rounds
    * (int128→double, then ×10⁻ˢᶜᵃˡᵉ) and drifts one ulp once a sum
    * exceeds ~16 significant digits — which corr's cancellation then
    * amplifies into a hash mismatch (observed at sf0.01).
    * (l_quantity is integer-valued ≤ 50, so x²..x⁴ are exact in
    * double before the cast; products with price stay well inside
    * the 53-bit mantissa.) */
  val q54Sql: String =
    """WITH s AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sx2,
      |    CAST(CAST(SUM(CAST(l_quantity*l_quantity*l_quantity AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sx3,
      |    CAST(CAST(SUM(CAST(l_quantity*l_quantity*l_quantity*l_quantity AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sx4,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(CAST(l_extendedprice*l_extendedprice AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sy2,
      |    CAST(CAST(SUM(CAST(l_quantity*l_extendedprice AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag),
      |m AS (
      |  SELECT flag, n, sx, sx2, sx3, sx4, sxy,
      |    sx/n AS mx, sy/n AS my,
      |    sx2/n - (sx/n)*(sx/n) AS vx,
      |    sy2/n - (sy/n)*(sy/n) AS vy
      |  FROM s)
      |SELECT flag, CAST(n AS BIGINT) AS n_rows,
      |  mx AS mean_qty,
      |  sqrt(vx) AS std_qty,
      |  (sx3/n - 3.0*mx*(sx2/n) + 2.0*mx*mx*mx) / (sqrt(vx)*sqrt(vx)*sqrt(vx)) AS skew_qty,
      |  (sx4/n - 4.0*mx*(sx3/n) + 6.0*mx*mx*(sx2/n) - 3.0*mx*mx*mx*mx) / (vx*vx) AS kurt_qty,
      |  (sxy/n - mx*my) / (sqrt(vx)*sqrt(vy)) AS corr_qty_price
      |FROM m
      |ORDER BY flag""".stripMargin

  def q54(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    // computeFloor was tried here (round 16) and REVERTED after
    // measurement (the q29/q30/dd12 verdict class): a floored twin
    // view is VALUE-safe (the nine DECIMAL(38,6) sums are exact and
    // order-free, so the shared-text moment tree is untouched), and
    // the partial-agg state is tiny — but the per-row decimal
    // multiply-accumulate ALLOCATES (BigDecimal-backed), and 32
    // concurrent allocating tasks read 9.6–16 s executor CPU vs 1.9 s
    // on the scan-fused serial task (projected 3-column floor,
    // min-of-3, reproduced twice). Wall 2.5 → 2.0 s was not worth a
    // 5× CPU bill; the serial scan is the single-row-group testdata
    // artifact, not the production shape.
    s.sql(q54Sql)
  }

  /** q71: per-group ordinary-least-squares fit — price-vs-size trend
    * per part brand, the grouped regression a metrics store computes
    * for "is this dimension drifting". Engine-native regr_slope /
    * regr_intercept accumulate doubles in engine-specific order and
    * can never hash-match; instead the FIVE power sums (n, Σx, Σx²,
    * Σy, Σxy) accumulate exactly in DECIMAL(38,6) (q54's moment
    * machinery), convert once through the string→double hop, and the
    * slope/intercept come from one fixed IEEE tree shared verbatim by
    * both engines (q24 shared-text pattern) — bit-exact. One
    * partial-agg-friendly scan, |brands| output rows; the double
    * product x·y is a single shared IEEE op per row before the exact
    * decimal cast (dsum's validated shape). */
  val q71Sql: String =
    """WITH s AS (
      |  SELECT p_brand,
      |    CAST(COUNT(*) AS DOUBLE) AS n,
      |    CAST(CAST(SUM(CAST(p_size AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sx,
      |    CAST(CAST(SUM(CAST(p_size*p_size AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sx2,
      |    CAST(CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sy,
      |    CAST(CAST(SUM(CAST(p_size*p_retailprice AS DECIMAL(38,6))) AS STRING) AS DOUBLE) AS sxy
      |  FROM part GROUP BY p_brand)
      |SELECT p_brand, CAST(n AS BIGINT) AS n_rows,
      |  (n*sxy - sx*sy) / (n*sx2 - sx*sx) AS slope,
      |  (sy/n) - ((n*sxy - sx*sy) / (n*sx2 - sx*sx)) * (sx/n) AS intercept
      |FROM s
      |ORDER BY p_brand""".stripMargin

  def q71(s: SparkSession, d: String): DataFrame = {
    registerViews(s, d)
    s.sql(q71Sql)
  }

  /** q88: per-(year, priority) aggregate over the ORC-ingested orders
    * table — ORC completes the format family (CSV/JSON/Avro/ORC) and,
    * unlike Avro, rides Spark's FIRST-CLASS vectorized ORC source
    * (sources/OrcIngest.scala). Oracle reads the parquet original:
    * longs/strings round-trip verbatim, doubles as their IEEE bit
    * pattern, timestamps at nanosecond precision — so the hashes must
    * match. year() cast to BIGINT (Spark INT vs DuckDB BIGINT, q24's
    * pin). */
  def q88(s: SparkSession, d: String): DataFrame =
    OrcIngest.ordersOrc(s, d)
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"),
        col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 6))).cast("double").as("sum_price"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("order_year"), col("o_orderpriority"))

  val q88Sql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, o_orderpriority,
      | COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      | MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      |FROM orders
      |GROUP BY 1, 2
      |ORDER BY order_year, o_orderpriority""".stripMargin

  /** (name, spark-fn, oracle-sql) for SparkEntry. */
  /** q95: CO-BUCKETED ZERO-SHUFFLE JOIN — per-priority revenue off
    * orders⋈lineitem where BOTH sides are bucketed copies on the join
    * key (graft.sources.BucketedTables, 8 buckets, sorted within):
    * the scan itself reports the hash partitioning, so the forced
    * SortMergeJoin plans with ZERO Exchange on either side — the
    * write-once-shuffle-never contract the spec-only bucketed-layout
    * row asserted since round 2, now carried through the oracle gate
    * as a registry query. At 100 TB this is THE fact⋈fact shape: the
    * one-time bucket shuffle is paid at ingest and amortized over
    * every downstream orderkey join; only the 5-row priority rollup
    * and the presentation sort exchange anything. Values exact:
    * counts, integer cents, and one decimal→double hop on an
    * integral-valued quantity sum. */
  def q95BucketedJoin(s: SparkSession, d: String): DataFrame = {
    import graft.sources.BucketedTables
    val li = BucketedTables.bucketedTable(s, d, "lineitem", "l_orderkey", q95Lineitem(s, d))
    val ord = BucketedTables.bucketedTable(s, d, "orders", "o_orderkey", q95Orders(s, d))
    li.hint("merge").join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        sum(expr("cast(round(l_extendedprice * 100) as long)")).as("revenue_cents"))
      .orderBy(col("o_orderpriority"))
  }

  private def q95Lineitem(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))

  private def q95Orders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"))

  /** q95's two bucketed copies, build-if-missing; the lineitem copy's
    * path returned. */
  private[graft] def q95BucketedLayoutPath(s: SparkSession, d: String): String = {
    import graft.sources.BucketedTables
    BucketedTables.bucketedPath(s, d, "orders", "o_orderkey", q95Orders(s, d))
    BucketedTables.bucketedPath(s, d, "lineitem", "l_orderkey", q95Lineitem(s, d))
  }

  val q95Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("q23_csv_ingest", q23 _, q23Sql),
    ("q24_sql_revenue", q24 _, q24Sql),
    ("q25_sql_segment_orders", q25 _, q25Sql),
    ("q26_json_ingest", q26 _, q26Sql),
    ("q43_grouping_sets", q43 _, q43Sql),
    ("q53_avro_ingest", q53 _, q53Sql),
    ("q54_summary_stats", q54 _, q54Sql),
    ("q71_regression", q71 _, q71Sql),
    ("q88_orc_ingest", q88 _, q88Sql),
    ("q95_bucketed_join", q95BucketedJoin _, q95Sql),
  )
}
