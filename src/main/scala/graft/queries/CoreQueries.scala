package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{LayoutStore, Tables}

/** §2.A relational / analytic core.
  *
  * Every query is a declarative DataFrame plan — Catalyst handles
  * predicate pushdown, column pruning and join planning; AQE re-plans
  * shuffles at runtime. Numeric results that the DuckDB oracle
  * hash-compares are made bit-deterministic:
  *
  *   - sums of doubles accumulate via exact DECIMAL(18,6) and only
  *     then cast to double (summation-order independent, identical in
  *     any engine);
  *   - averages divide an exact sum by an exact count (one IEEE
  *     division, deterministic);
  *   - per-row arithmetic stays raw double (IEEE ops on identical
  *     inputs are engine-independent);
  *   - every output carries a total ORDER BY over its key columns.
  *
  * Scale notes (100 TB): all aggregations are partial-agg friendly
  * (plain groupBy/agg, no distinct-then-join); dimension sides of
  * joins (region/nation/supplier/part/customer) are broadcast-sized
  * at any SF — q05 hints it explicitly, elsewhere AQE picks it up;
  * window queries partition by high-cardinality keys so state per
  * partition stays bounded.
  */
object CoreQueries {

  /** Exact sum: accumulate in DECIMAL(18,6), return as double. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  // ---------------------------------------------------------------- q01
  def q01PricingSummary(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.filter(to_date(col("l_shipdate")) <= lit("1998-12-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
      | CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) <= DATE '1998-12-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  def q02FilterProject(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    li.filter(col("l_quantity") >= 30 && col("l_discount") >= 0.05 &&
        to_date(col("l_shipdate")) >= lit("1996-01-01") &&
        to_date(col("l_shipdate")) <= lit("1997-12-31"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"),
        col("l_shipdate").as("ship_date"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
      | l_extendedprice * (1 - l_discount) AS net_price,
      | l_shipdate AS ship_date
      |FROM lineitem
      |WHERE l_quantity >= 30 AND l_discount >= 0.05
      |  AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(l_shipdate AS DATE) <= DATE '1997-12-31'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q03
  def q03JoinAgg(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(s, d).filter(to_date(col("o_orderdate")) < lit("1997-01-01"))
    val l = Tables.lineitem(s, d).filter(to_date(col("l_shipdate")) > lit("1997-01-01"))
    c.join(o, col("c_custkey") === col("o_custkey"))
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate").as("order_date"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), col("o_orderkey"))
      .limit(20)
  }

  val q03Sql: String =
    """SELECT o_orderkey, o_orderdate AS order_date,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND o_orderkey = l_orderkey
      |  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
      |  AND CAST(l_shipdate AS DATE) > DATE '1997-01-01'
      |GROUP BY 1, 2
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- q04
  def q04StarJoin(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val o = Tables.orders(s, d).filter(
      to_date(col("o_orderdate")) >= lit("1996-01-01") && to_date(col("o_orderdate")) <= lit("1996-12-31"))
    r.join(Tables.nation(s, d), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.customer(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(o, col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(s, d),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  val q04Sql: String =
    """SELECT n_name,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM region, nation, customer, orders, lineitem, supplier
      |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey AND c_nationkey = n_nationkey
      |  AND o_custkey = c_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |  AND CAST(o_orderdate AS DATE) <= DATE '1996-12-31'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------- q05
  def q05BroadcastJoin(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("p_brand"))
  }

  val q05Sql: String =
    """SELECT p_brand,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q06
  def q06TopK(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate").as("order_date"))
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(10)
  }

  val q06Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate AS order_date
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q07
  def q07WindowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 2)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val q07Sql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      | FROM orders)
      |WHERE rn <= 2
      |ORDER BY o_custkey, rn""".stripMargin

  // ---------------------------------------------------------------- q08
  def q08WindowRunning(s: SparkSession, d: String): DataFrame = {
    val base = Tables.lineitem(s, d)
      .select(col("l_suppkey"), col("l_shipdate").as("ship_date"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("ship_date"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("running_qty", sum(col("l_quantity")).over(w))
      .orderBy(col("l_suppkey"), col("ship_date"), col("l_orderkey"), col("l_linenumber"))
  }

  val q08Sql: String =
    """SELECT l_suppkey, l_shipdate AS ship_date, l_orderkey, l_linenumber, l_quantity,
      | SUM(l_quantity) OVER (PARTITION BY l_suppkey
      |   ORDER BY l_shipdate, l_orderkey, l_linenumber
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
      |FROM lineitem
      |ORDER BY l_suppkey, ship_date, l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q09
  def q09SemiJoin(s: SparkSession, d: String): DataFrame = {
    val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
    Tables.customer(s, d)
      .join(f, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy(col("c_custkey"))
  }

  val q09Sql: String =
    """SELECT c_custkey, c_name, c_nationkey
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q10
  def q10AntiJoin(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
    Tables.customer(s, d)
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, c_acctbal
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q11
  def q11DistinctAgg(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  val q11Sql: String =
    """SELECT o_orderpriority,
      | COUNT(DISTINCT o_custkey) AS n_customers,
      | COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q12
  def q12Rollup(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d)
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  val q12Sql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_customers,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
      |FROM customer, nation, region
      |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q13
  def q13Pivot(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(dsum(col("l_quantity")))
      .orderBy(col("l_linestatus"))
  }

  val q13Sql: String =
    """SELECT l_linestatus,
      | CAST(SUM(CAST(CASE WHEN l_returnflag = 'A' THEN l_quantity END AS DECIMAL(18,6))) AS DOUBLE) AS "A",
      | CAST(SUM(CAST(CASE WHEN l_returnflag = 'N' THEN l_quantity END AS DECIMAL(18,6))) AS DOUBLE) AS "N",
      | CAST(SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_quantity END AS DECIMAL(18,6))) AS DOUBLE) AS "R"
      |FROM lineitem
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q14
  def q14Percentiles(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  val q14Sql: String =
    """SELECT o_orderpriority,
      | ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      | ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
      | COUNT(*) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q15
  def q15SubqueryAvg(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // l_quantity is integral-valued: its plain double sum is exact
    // (< 2^53), so avg is bit-identical across engines.
    val a = li.agg(avg(col("l_quantity")).as("avg_qty"))
    li.join(broadcast(a))
      .filter(col("l_quantity") > col("avg_qty"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("total_price"))
      .orderBy(col("l_returnflag"))
  }

  val q15Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
      |FROM lineitem
      |WHERE l_quantity > (SELECT AVG(l_quantity) FROM lineitem)
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q16
  def q16SetOps(s: SparkSession, d: String): DataFrame = {
    val a = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val b = Tables.orders(s, d).filter(col("o_totalprice") > 400000).select(col("o_custkey").as("c_custkey"))
    a.union(b).distinct().orderBy(col("c_custkey"))
  }

  val q16Sql: String =
    """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |UNION
      |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q17
  def q17CaseAgg(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        dsum(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("f_total"),
        dsum(when(col("o_orderstatus") === "O", col("o_totalprice"))).as("o_total"),
        count(when(col("o_orderstatus") === "P", lit(1))).as("p_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q17Sql: String =
    """SELECT o_orderpriority,
      | CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS DECIMAL(18,6))) AS DOUBLE) AS f_total,
      | CAST(SUM(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS DECIMAL(18,6))) AS DOUBLE) AS o_total,
      | COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS p_count
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q18
  def q18Having(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("total_bal"))
      .filter(col("n_customers") >= 50)
      .orderBy(col("c_nationkey"))
  }

  val q18Sql: String =
    """SELECT c_nationkey, COUNT(*) AS n_customers,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
      |FROM customer
      |GROUP BY c_nationkey
      |HAVING COUNT(*) >= 50
      |ORDER BY c_nationkey""".stripMargin

  // ---------------------------------------------------------------- q19
  def q19StringOps(s: SparkSession, d: String): DataFrame = {
    Tables.part(s, d)
      .filter(col("p_name").like("%e%"))
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        substring(col("p_type"), 1, 3).as("type_prefix"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"))
      .orderBy(col("p_partkey"))
  }

  val q19Sql: String =
    """SELECT p_partkey,
      | UPPER(p_name) AS name_upper,
      | CAST(LENGTH(p_name) AS INTEGER) AS name_len,
      | CONCAT_WS('|', p_brand, p_type) AS brand_type,
      | SUBSTR(p_type, 1, 3) AS type_prefix,
      | REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS name_novowel
      |FROM part
      |WHERE p_name LIKE '%e%'
      |ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q20
  def q20DateAgg(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .select(date_trunc("day", timestamp_micros(expr("ts div 1000")))
        .cast("timestamp_ntz").as("event_date"),
        col("event_type"), col("value"))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .orderBy(col("event_date"), col("event_type"))
  }

  val q20Sql: String =
    """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS event_date, event_type,
      | COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q21
  def q21Sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // ts stays exact INT64 nanos; 30 min = 1.8e12 ns.
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || (col("ts") - col("prev_ts")) > lit(1800L * 1000L * 1000L * 1000L), 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  val q21Sql: String =
    """SELECT user_id,
      | CAST(SUM(new_session) AS BIGINT) AS n_sessions,
      | COUNT(*) AS n_events
      |FROM (
      | SELECT user_id,
      |  CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      | FROM (
      |  SELECT user_id, ts, event_id,
      |   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events))
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q22
  /** For every click event: the same user's most recent purchase at or
    * before the click (point-in-time lookup via graft's AsOfJoin —
    * union + ordered window, one shuffle, no range join). Purchases
    * pre-aggregate to one row per (user, ts) so the as-of pick is
    * deterministic; ts stays exact INT64 nanos for the comparison and
    * converts to micros timestamp only at the output boundary. */
  def q22AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("p_event_id"),
        max_by(col("value"), col("event_id")).as("p_value"))
    graft.operators.AsOfJoin.asof(clicks, purchases, "user_id", "ts", "ts",
        Seq("p_event_id", "p_value"))
      .select(
        col("event_id"), col("user_id"),
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz").as("click_ts"),
        col("asof_p_event_id").as("p_event_id"),
        col("asof_p_value").as("p_value"))
      .orderBy(col("event_id"))
  }

  val q22Sql: String =
    """WITH clicks AS (
      |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
      |purchases AS (
      |  SELECT user_id, ts, MAX(event_id) AS p_event_id,
      |         arg_max(value, event_id) AS p_value
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
      |SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS click_ts,
      |       p.p_event_id, p.p_value
      |FROM clicks c ASOF LEFT JOIN purchases p
      |  ON c.user_id = p.user_id AND p.ts <= c.ts
      |ORDER BY c.event_id""".stripMargin

  /** (spark-fn, oracle-sql) registry for SparkEntry. */
  // ---------------------------------------------------------------- q27
  /** Funnel: purchases within 24 hours of a user's FIRST click. The
    * anchor aggregate (min click ts per user) is dimension-sized, so
    * AQE broadcasts it against the events scan; ts arithmetic stays
    * exact INT64 nanos. */
  def q27Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val firstClick = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    ev.filter(col("event_type") === "purchase")
      .join(firstClick, "user_id")
      .filter(col("ts") > col("t0") &&
        col("ts") - col("t0") <= lit(24L * 3600L * 1000L * 1000L * 1000L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases_24h"), dsum(col("value")).as("purchase_value"))
      .orderBy(col("user_id"))
  }

  val q27Sql: String =
    """SELECT e.user_id, COUNT(*) AS n_purchases_24h,
      | CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS purchase_value
      |FROM events e
      |JOIN (SELECT user_id, MIN(ts) AS t0 FROM events
      |      WHERE event_type = 'click' GROUP BY user_id) f
      |  ON e.user_id = f.user_id
      |WHERE e.event_type = 'purchase'
      |  AND e.ts > f.t0 AND e.ts <= f.t0 + INTERVAL 24 HOUR
      |GROUP BY e.user_id
      |ORDER BY e.user_id""".stripMargin

  // ---------------------------------------------------------------- q28
  /** Semi-structured props: extract the JSON field k from the event
    * payload and aggregate it per event type. get_json_object is
    * codegen'd path extraction — no parse-to-struct materialization,
    * no UDF. */
  def q28JsonProps(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  val q28Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      | CAST(SUM(k) AS BIGINT) AS sum_k,
      | MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (
      | SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      | FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Approximate count-distinct (HyperLogLog++): the cardinality
    * estimator a 100 TB pipeline uses where exact count-distinct
    * would shuffle every distinct value — the sketch is a fixed-size
    * buffer per group, merged map-side like any partial aggregate.
    * Sketch estimates are engine-specific, so the gate is the spec
    * (≤ 5% relative error vs exact on the driver corpus), not a
    * cross-engine hash. */
  def q29ApproxDistinct(s: SparkSession, d: String): DataFrame = {
    // computeFloor was tried here (round 16) and REVERTED after
    // measurement: the rsd=0.01 HLL++ partial-aggregation buffers are
    // ~20 KB-wide rows, and running the partial agg on 32 tasks
    // instead of the scan-fused single task blew executor CPU
    // 1.5 → 37.7 s (best rep; 460+ s under memory pressure) in the
    // 32-task stage — the wide fixed-width buffers fall out of the
    // hash-agg fast path when duplicated per task. The serial scan is
    // the single-row-group testdata artifact; at 100 TB the scan
    // splits wide and the partial agg parallelizes with it for free.
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
        approx_count_distinct(col("l_suppkey"), 0.01).as("approx_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  // ---------------------------------------------------------------- q30
  /** Band (non-equi) join: per-part neighbor stats over parts whose
    * retail price lies within ±1.0. Bucketized so it's an EQUI-join:
    * bucket width = band width, so a row's band partners can only sit
    * in its own or adjacent price buckets — each probe row explodes to
    * exactly 3 bucket keys and the join shuffles hash-partitioned on
    * bucket. The naive formulation (`abs(a.price-b.price) <= band` with
    * no equi key) plans as a BroadcastNestedLoopJoin — O(n·m) row
    * comparisons, the classic 100 TB scale-killer; here comparisons are
    * confined to genuine near-misses. Dense price regions skew some
    * buckets; AQE's skew-join splitter handles that at runtime. */
  def q30BandJoin(s: SparkSession, d: String): DataFrame = {
    val band = 1.0
    // computeFloor was tried here (round 16) and REVERTED: wall
    // 4.0 → 1.6 s but executor CPU 3.2 → 8.4 s — the 32-way partial
    // aggregate duplicates the per-task hash map over nearly the full
    // a_key domain (every task's band partners span all parts), so the
    // agg exchange carried 32× the partial rows. Serial is the
    // single-row-group testdata artifact, not the 100 TB shape.
    val p = Tables.part(s, d).select(col("p_partkey"), col("p_retailprice"))
    val probe = p.select(
      col("p_partkey").as("a_key"), col("p_retailprice").as("a_price"),
      explode(array(
        floor(col("p_retailprice") / band) - 1,
        floor(col("p_retailprice") / band),
        floor(col("p_retailprice") / band) + 1)).as("bucket"))
    val build = p.select(
      col("p_partkey").as("b_key"), col("p_retailprice").as("b_price"),
      floor(col("p_retailprice") / band).as("bucket"))
    probe.join(build, "bucket")
      .filter(col("a_key") =!= col("b_key") &&
        abs(col("a_price") - col("b_price")) <= band)
      .groupBy(col("a_key").as("p_partkey"))
      .agg(count(lit(1)).as("n_band_neighbors"),
        dsum(col("b_price")).as("sum_neighbor_price"))
      .orderBy(col("p_partkey"))
  }

  /** Oracle states the semantics directly (quadratic is fine at oracle SF). */
  val q30Sql: String =
    """SELECT a.p_partkey, COUNT(*) AS n_band_neighbors,
      | CAST(SUM(CAST(b.p_retailprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_neighbor_price
      |FROM part a JOIN part b
      | ON a.p_partkey <> b.p_partkey
      | AND abs(a.p_retailprice - b.p_retailprice) <= 1.0
      |GROUP BY a.p_partkey
      |ORDER BY a.p_partkey""".stripMargin

  // ---------------------------------------------------------------- q31
  /** CUBE over (returnflag, linestatus): all four grouping levels in
    * one pass. Spark expands the cube BEFORE the partial aggregate, so
    * the shuffle still carries only (group-count × 4) partial rows —
    * no extra scan per level. Labels use COALESCE('ALL') rather than
    * grouping_id() so the oracle doesn't depend on cross-engine bitmask
    * conventions (the data columns are never NULL in this schema). */
  def q31Cube(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n_items"), col("sum_qty"))
      .orderBy(col("flag"), col("status"))

  val q31Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
      | COALESCE(l_linestatus, 'ALL') AS status,
      | COUNT(*) AS n_items,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Deterministic hash sampling: keep a row iff the first hex byte of
    * md5(key) < 0x20 (a 12.5% sample). Unlike rand()-based sampling
    * this is reproducible across runs, engines, partitionings and
    * retries — the property an eval-holdout split needs — and it's a
    * pure map-side filter evaluated inside the scan stage, so the
    * aggregate only sees the sampled 12.5%. */
  def q32HashSample(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "20")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_sampled"),
        dsum(col("o_totalprice")).as("sum_sampled_price"))
      .orderBy(col("o_orderpriority"))

  val q32Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_sampled,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_sampled_price
      |FROM orders
      |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '20'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Stratified deterministic sampling: per-stratum rates on top of
    * q32's md5 trick — rare strata kept whole, dominant ones
    * down-sampled (how a training mix rebalances sources). The first
    * two hex digits of md5(event_id) are uniform over [0,256); each
    * event_type keeps rows below its own cutoff. Same reproducibility
    * story as q32 (stable across runs/engines/retries/partitionings)
    * and still a pure map-side filter in the scan stage — no shuffle
    * until the audit aggregate. */
  // cutoffs are 2-hex-digit strings compared lexicographically (q32's
  // trick): '08' ≈ 3.1%, '20' = 12.5%, 'g0' sorts above every hex pair
  // → keep the whole stratum.
  private val StratRates: Seq[(String, String)] =
    Seq("click" -> "08", "view" -> "20", "purchase" -> "g0")

  def q38StratifiedSample(s: SparkSession, d: String): DataFrame = {
    val bucket = substring(md5(col("event_id").cast("string")), 1, 2)
    val cutoff = StratRates.foldRight(lit("00")) { case ((t, r), els) =>
      when(col("event_type") === t, lit(r)).otherwise(els)
    }
    Tables.events(s, d)
      .filter(bucket < cutoff)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_sampled"), dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  val q38Sql: String = {
    val whens = StratRates.map { case (t, r) => s"WHEN '$t' THEN '$r'" }.mkString(" ")
    s"""SELECT event_type, COUNT(*) AS n_sampled,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE substring(md5(CAST(event_id AS VARCHAR)), 1, 2)
      |      < CASE event_type $whens ELSE '00' END
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin
  }

  // ---------------------------------------------------------------- q39
  /** The remaining window-function family in one pass: lag/lead
    * (neighbor rows), ntile (equi-depth quartiles), first/last value
    * (frame endpoints) over each customer's order sequence. One
    * partitioned sort serves all five functions — Spark evaluates them
    * in a single Window operator, so adding functions to the same
    * (partition, order) spec is free; only a DIFFERENT spec would add
    * another sort. Ordering key (o_orderdate, o_orderkey) is unique →
    * deterministic output. All values are copies of input columns (no
    * FP arithmetic) → bit-exact oracle. */
  def q39WindowFamily(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("timestamp_ntz").as("o_orderdate"),
        col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).as("spend_quartile"),
        first(col("o_orderkey")).over(wFull).as("first_order"),
        last(col("o_orderkey")).over(wFull).as("last_order"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  val q39Sql: String =
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
      | o_totalprice,
      | lag(o_totalprice, 1) OVER w AS prev_price,
      | lead(o_totalprice, 1) OVER w AS next_price,
      | CAST(ntile(4) OVER w AS INTEGER) AS spend_quartile,
      | first_value(o_orderkey) OVER
      |   (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_order,
      | last_value(o_orderkey) OVER
      |   (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Incremental aggregate maintenance (operators.IncrementalAgg):
    * per-customer order stats refreshed from a "delta" partition
    * (1997+) merged into a "base" state (pre-1997) — NO rescan of the
    * base fact rows, just a state merge shuffling O(|customers|) rows.
    * The oracle is a FULL recompute over all orders: the refresh must
    * be bit-identical to it (exact DECIMAL partials make the merge
    * lossless and order-independent). */
  def q40IncrementalAgg(s: SparkSession, d: String): DataFrame = {
    import graft.operators.IncrementalAgg
    val o = Tables.orders(s, d)
    val keys = Seq("o_custkey")
    val ms = Map("price" -> col("o_totalprice"))
    val base = IncrementalAgg.partialState(
      o.filter(year(col("o_orderdate")) < 1997), keys, ms)
    val delta = IncrementalAgg.partialState(
      o.filter(year(col("o_orderdate")) >= 1997), keys, ms)
    IncrementalAgg.finalizeState(
        IncrementalAgg.merge(keys, Seq("price"), base, delta), keys, Seq("price"))
      .orderBy(col("o_custkey"))
  }

  val q40Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_rows,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price
      |FROM orders
      |GROUP BY o_custkey
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q41
  /** Time-series gap filling: each user's daily event counts on a
    * dense calendar spine — missing days appear with zeros. The spine
    * is generated per user from their own [min_day, max_day] via
    * sequence()+explode: row expansion is map-side off a one-row-per-
    * user aggregate, so the spine costs |users|×span rows AFTER
    * aggregation, never a cross join against a global calendar. */
  def q41GapFill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"),
        date_trunc("day", timestamp_micros(expr("ts div 1000"))).cast("date").as("day"),
        col("value"))
    val daily = ev.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("day_value"))
    val spine = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day").cast("timestamp_ntz").as("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("day_value"), lit(0.0)).as("day_value"))
      .orderBy(col("user_id"), col("day"))
  }

  val q41Sql: String =
    """WITH daily AS (
      | SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
      | FROM events GROUP BY 1, 2),
      |spine AS (
      | SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      | FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id))
      |SELECT s.user_id, CAST(s.day AS TIMESTAMP) AS day,
      | COALESCE(d.n_events, 0) AS n_events,
      | COALESCE(d.day_value, 0.0) AS day_value
      |FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
      |ORDER BY s.user_id, s.day""".stripMargin

  // ---------------------------------------------------------------- q42
  /** Equi-width histogram of event values per event_type: bucket =
    * floor(value/50). The bucket id is computed in the scan stage, so
    * the shuffle carries one partial row per (type, bucket) per task —
    * the classic distribution profile at full-corpus scale. */
  def q42Histogram(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), floor(col("value") / 50.0).cast("long").as("bucket"),
        col("value"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("bucket_value"))
      .orderBy(col("event_type"), col("bucket"))

  val q42Sql: String =
    """SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bucket,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS bucket_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q33
  /** Full outer join: 1996 vs 1997 purchaser profiles — customers
    * active in either year, with zero-filled counts on the missing
    * side. Both inputs are partial-agg'd per customer BEFORE the join,
    * so the outer join matches two already-small aggregates instead of
    * raw fact rows (at 100 TB the groupBy-then-join order is the
    * difference between joining billions of order rows and joining
    * one row per customer). */
  def q33OuterJoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def yearly(y: Int, n: String, v: String) =
      o.filter(year(col("o_orderdate")) === y)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as(n), dsum(col("o_totalprice")).as(v))
    yearly(1996, "n_1996", "spend_1996")
      .join(yearly(1997, "n_1997", "spend_1997"), Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        coalesce(col("n_1996"), lit(0L)).as("n_1996"),
        coalesce(col("spend_1996"), lit(0.0)).as("spend_1996"),
        coalesce(col("n_1997"), lit(0L)).as("n_1997"),
        coalesce(col("spend_1997"), lit(0.0)).as("spend_1997"))
      .orderBy(col("o_custkey"))
  }

  val q33Sql: String =
    """SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
      | COALESCE(a.n_1996, 0) AS n_1996,
      | COALESCE(a.spend_1996, 0.0) AS spend_1996,
      | COALESCE(b.n_1997, 0) AS n_1997,
      | COALESCE(b.spend_1997, 0.0) AS spend_1997
      |FROM
      | (SELECT o_custkey, COUNT(*) AS n_1996,
      |   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend_1996
      |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey) a
      |FULL OUTER JOIN
      | (SELECT o_custkey, COUNT(*) AS n_1997,
      |   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend_1997
      |  FROM orders WHERE year(o_orderdate) = 1997 GROUP BY o_custkey) b
      |ON a.o_custkey = b.o_custkey
      |ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q34
  /** Unpivot (melt): wide per-flag aggregates → long (flag, measure,
    * value) triples. Dataset.unpivot is a zero-shuffle row expansion
    * of the (tiny) aggregate output — the shuffle happened once in the
    * groupBy; melting wide metric tables into EAV form for storage or
    * charting is a pure map on top. */
  def q34Unpivot(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        dsum(col("l_discount")).as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure", "value")
      .orderBy(col("l_returnflag"), col("measure"))

  val q34Sql: String =
    """WITH wide AS (
      | SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc
      | FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, measure, value FROM (
      | SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
      | UNION ALL
      | SELECT l_returnflag, 'sum_price', sum_price FROM wide
      | UNION ALL
      | SELECT l_returnflag, 'sum_disc', sum_disc FROM wide)
      |ORDER BY l_returnflag, measure""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Time-RANGE window frame: 7-day trailing average of a customer's
    * daily spend — the frame is bounded by event-TIME distance, not row
    * count (q08's frame is row-based). Spark's rangeBetween needs a
    * numeric ordering key, so the frame orders by epoch seconds; state
    * per window is one running frame per customer partition, bounded by
    * the 7-day span regardless of history length. */
  def q35MovingAvg(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
      .agg(dsum(col("o_totalprice")).as("day_spend"))
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("epoch_s"))
      .rangeBetween(-6L * 86400L, 0L)
    daily
      .withColumn("epoch_s", col("day").cast("timestamp").cast("long"))
      .withColumn("avg_7d",
        (sum(col("day_spend").cast(DecimalType(18, 6))).over(w).cast("double") /
          count(lit(1)).over(w)))
      .select(col("o_custkey"), col("day").cast("timestamp_ntz").as("day"),
        col("day_spend"), col("avg_7d"))
      .orderBy(col("o_custkey"), col("day"))
  }

  val q35Sql: String =
    """WITH daily AS (
      | SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS day_spend
      | FROM orders GROUP BY o_custkey, CAST(o_orderdate AS DATE))
      |SELECT o_custkey, CAST(day AS TIMESTAMP) AS day, day_spend,
      | CAST(SUM(CAST(day_spend AS DECIMAL(18,6))) OVER w AS DOUBLE)
      |   / COUNT(*) OVER w AS avg_7d
      |FROM daily
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
      |             RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, day""".stripMargin

  // ---------------------------------------------------------------- q36
  /** Latest record per key (CDC / upsert compaction): each user's most
    * recent event. Deliberately a groupBy + max_by(struct) rather than
    * a row_number window: the aggregate partial-combines map-side, so
    * each input partition ships at most one candidate row per user to
    * the shuffle — a window would shuffle and SORT every raw event.
    * (ts, event_id) is a unique ordering key, so "latest" is
    * well-defined and both engines agree. ts stays exact INT64 nanos
    * through the aggregate; converted for output. */
  def q36LatestEvent(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("ts"), col("event_id"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("user_id"),
        timestamp_micros(expr("last.ts div 1000")).cast("timestamp_ntz").as("ts"),
        col("last.event_id").as("event_id"),
        col("last.event_type").as("event_type"),
        col("last.value").as("value"))
      .orderBy(col("user_id"))

  val q36Sql: String =
    """SELECT user_id, ts, event_id, event_type, value FROM (
      | SELECT user_id, ts, event_id, event_type, value,
      |  row_number() OVER (PARTITION BY user_id
      |                     ORDER BY ts DESC, event_id DESC) AS rn
      | FROM events)
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Mergeable quantile sketch per group: p50/p90/p99 of event value
    * via percentile_approx (Greenwald-Khanna). Like q29's HLL, the
    * sketch is the 100 TB path — partials merge associatively so the
    * shuffle carries one bounded sketch per (partition, group) instead
    * of the raw values an exact percentile must sort. Sketch internals
    * are engine-specific → no SQL oracle; ApproxSpec gates rank error
    * against the exact quantiles at fixed accuracy. */
  def q37ApproxQuantile(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        percentile_approx(col("value"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(2500)).as("qs"))
      .select(col("event_type"), col("n_events"),
        col("qs")(0).as("p50"), col("qs")(1).as("p90"), col("qs")(2).as("p99"))
      .orderBy(col("event_type"))

  // ---------------------------------------------------------------- q44
  /** Multi-EXISTS/NOT-EXISTS composition (TPC-H Q21 shape): suppliers
    * who were the ONLY late shipper on a multi-supplier order. "Late"
    * = shipped >60 days after the order date. Three passes over the
    * same fact join, all equi-joins on l_orderkey:
    *   1. semi-join: some OTHER supplier has a line on the order;
    *   2. anti-join: no OTHER supplier shipped late on it;
    *   3. dedup (orderkey, suppkey) then count per supplier.
    * Scale: the candidate side is pre-filtered to late lines (a small
    * fraction) before either join, and both probes are hash joins on
    * orderkey with the inequality as a residual filter — never a
    * nested loop. The final groupBy ships one partial count per
    * supplier. */
  def q44ExclusiveLate(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val late = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(to_date(col("l_shipdate")) > date_add(to_date(col("o_orderdate")), 60))
      .select(col("l_orderkey"), col("l_suppkey"))
      .dropDuplicates("l_orderkey", "l_suppkey")
    val lines = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
    val lateO = late.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
    late
      .join(lines, col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"), "left_semi")
      .join(lateO, col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3"), "left_anti")
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
  }

  val q44Sql: String =
    """WITH late AS (
      | SELECT DISTINCT l.l_orderkey, l.l_suppkey
      | FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      | WHERE CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + INTERVAL 60 DAY)
      |SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
      |FROM late l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem l2
      |  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      | AND NOT EXISTS (
      |  SELECT 1 FROM late l3
      |  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
      |GROUP BY s.s_suppkey, s.s_name
      |ORDER BY numwait DESC, s_suppkey""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Collection aggregate: per supplier, the sorted distinct set of
    * part brands they ship, rendered as one canonical string. The
    * driver hash can't compare array columns, so the array is
    * canonicalized (sort_array → concat_ws) — also the honest output
    * for an EAV/export surface. Scale: collect_set partial-merges
    * map-side and is bounded by the brand domain (|brands| ≈ 25), so
    * per-group state is small no matter how many fact rows feed it. */
  def q45BrandSets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("p_brand")))).as("brands"),
        size(collect_set(col("p_brand"))).cast("long").as("n_brands"))
      .orderBy(col("l_suppkey"))

  val q45Sql: String =
    """SELECT l_suppkey,
      | array_to_string(list_sort(list(DISTINCT p_brand)), ',') AS brands,
      | CAST(COUNT(DISTINCT p_brand) AS BIGINT) AS n_brands
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY l_suppkey
      |ORDER BY l_suppkey""".stripMargin

  // ---------------------------------------------------------------- q46
  /** Correlated per-group scalar subquery (TPC-H Q17 shape): revenue
    * from small-quantity outlier lines — quantity below 50% of that
    * PART's average — grouped by brand. q15's subquery is one global
    * scalar; this one correlates per part key, which Catalyst executes
    * as an aggregate-then-rejoin on l_partkey (the same plan written
    * here explicitly). Scale: the per-part average table is |part|
    * rows (partial-agg'd from the fact), the rejoin is an equi-join
    * AQE can broadcast, and the threshold compare (one IEEE multiply)
    * is deterministic in both engines. */
  def q46CorrelatedAvg(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val partAvg = li.groupBy(col("l_partkey").as("pk"))
      .agg((dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(partAvg, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy(col("p_brand"))
  }

  val q46Sql: String =
    """WITH pa AS (
      | SELECT l_partkey AS pk,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty
      | FROM lineitem GROUP BY l_partkey)
      |SELECT p_brand, COUNT(*) AS n_lines,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN pa ON l_partkey = pk
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_quantity < 0.5 * avg_qty
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Per-group top-k WITHOUT a window sort: top-3 orders by price per
    * customer segment through the graft_topk partial aggregate (the
    * same TypedImperativeAggregate ss1 uses for ANN ranking). A
    * row_number window must shuffle and sort EVERY order row to rank
    * them; the aggregate keeps a k-heap per segment per map task, so
    * only partitions×|segments|×k candidate rows reach the exchange —
    * at 100 TB that's the difference between sorting the fact table
    * and shipping a few hundred rows. Tie order (price DESC, orderkey
    * ASC) matches the oracle's window exactly. */
  def q47GroupTopK(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(call_function("graft_topk",
        col("o_totalprice"), col("o_orderkey"), lit(3)).as("tk"))
      .select(col("c_mktsegment"), posexplode(col("tk")))
      .select(col("c_mktsegment"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("o_orderkey"), col("col.score").as("o_totalprice"))
      .orderBy(col("c_mktsegment"), col("rnk"))
  }

  val q47Sql: String =
    """SELECT c_mktsegment, CAST(rnk AS BIGINT) AS rnk, o_orderkey, o_totalprice
      |FROM (
      | SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
      |  row_number() OVER (PARTITION BY c.c_mktsegment
      |                     ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rnk
      | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
      |WHERE rnk <= 3
      |ORDER BY c_mktsegment, rnk""".stripMargin

  // ---------------------------------------------------------------- q48
  /** Skew-salted join under the correctness gate: the salted plan must
    * return EXACTLY what the plain join returns — here the oracle runs
    * the plain SQL join while Spark runs the salted one, so any
    * row-duplication/-loss bug in the salt mechanics is a hash
    * mismatch. (SkewJoinSpec additionally asserts the salt spreads a
    * 90%-hot-key fixture across reducers; this query asserts the
    * semantics on driver data.) */
  def q48SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).withColumnRenamed("c_custkey", "o_custkey")
    graft.operators.SkewJoin.saltedEquiJoin(Tables.orders(s, d), cust, "o_custkey", salt = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val q48Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Ratio-to-report: each (segment, priority) cell's share of its
    * segment's revenue — a whole-partition (unordered) window frame,
    * the shape q39's ordered windows don't cover. The window total
    * sums DECIMAL(18,6), so it is partition-order-independent and the
    * share is one deterministic IEEE division; window state is one
    * accumulator per segment. */
  def q49Share(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderpriority"))
      .agg(dsum(col("o_totalprice")).as("revenue"))
    val w = Window.partitionBy(col("c_mktsegment"))
    cells
      .withColumn("seg_revenue",
        sum(col("revenue").cast(DecimalType(18, 6))).over(w).cast("double"))
      .withColumn("share", col("revenue") / col("seg_revenue"))
      .orderBy(col("c_mktsegment"), col("o_orderpriority"))
  }

  val q49Sql: String =
    """WITH cells AS (
      | SELECT c.c_mktsegment, o.o_orderpriority,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      | GROUP BY c.c_mktsegment, o.o_orderpriority)
      |SELECT c_mktsegment, o_orderpriority, revenue,
      | CAST(SUM(CAST(revenue AS DECIMAL(18,6)))
      |   OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS seg_revenue,
      | revenue / CAST(SUM(CAST(revenue AS DECIMAL(18,6)))
      |   OVER (PARTITION BY c_mktsegment) AS DOUBLE) AS share
      |FROM cells
      |ORDER BY c_mktsegment, o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q50
  private val WeekNs = 604800000000000L // 7 × 86400 × 1e9

  /** Cohort retention — the product-analytics shape q27 (funnel) and
    * q21 (sessions) don't cover: users bucketed by first-seen week,
    * then counted per (cohort, weeks-since-first) activity cell. Week
    * ids are exact integer division of the INT64-nanos timestamp, so
    * both engines bucket identically (min-then-divide ≡ divide-then-min
    * under a monotonic floor-div). Plan: one groupBy(user) for the
    * cohort anchor, one distinct over (user, week) — both partial-agg
    * and shuffle on user_id, so AQE can co-plan the join — then one
    * small aggregate over cohort×offset cells. */
  def q50CohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val first = ev.groupBy(col("user_id"))
      .agg(expr(s"min(ts) div ${WeekNs}L").as("cohort_week"))
    val act = ev.select(col("user_id"), expr(s"ts div ${WeekNs}L").as("wk")).distinct()
    act.join(first, "user_id")
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q50Sql: String =
    s"""WITH f AS (
      | SELECT user_id, epoch_ns(MIN(ts)) // $WeekNs AS cohort_week
      | FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, epoch_ns(ts) // $WeekNs AS wk FROM events)
      |SELECT f.cohort_week, a.wk - f.cohort_week AS week_offset,
      | COUNT(*) AS n_active_users
      |FROM a JOIN f USING (user_id)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Multiset (bag) set operations — the ALL variants q16's
    * distinct-style composition doesn't exercise: EXCEPT ALL keeps
    * per-occurrence multiplicity (a part shipped 5× in 1996 and 2× in
    * 1997 survives 3×), INTERSECT ALL keeps the min multiplicity.
    * Spark plans these as aggregate+generate (count per key, then
    * replicate) — no join of raw rows — so the shuffle carries one row
    * per distinct key per side, not per occurrence. Output aggregates
    * the multiplicities per key with the op tagged, so one result
    * covers both semantics. */
  def q51MultisetOps(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    def keys(y: Int) =
      li.filter(year(to_date(col("l_shipdate"))) === y).select(col("l_partkey"))
    val ex = keys(1996).exceptAll(keys(1997))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
    val in = keys(1996).intersectAll(keys(1997))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
    ex.unionAll(in)
      .select(col("op"), col("l_partkey"), col("n"))
      .orderBy(col("op"), col("l_partkey"))
  }

  val q51Sql: String =
    """WITH a AS (SELECT l_partkey FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1996),
      |b AS (SELECT l_partkey FROM lineitem WHERE year(CAST(l_shipdate AS DATE)) = 1997)
      |SELECT 'except_all' AS op, l_partkey, COUNT(*) AS n
      |FROM (SELECT l_partkey FROM a EXCEPT ALL SELECT l_partkey FROM b)
      |GROUP BY l_partkey
      |UNION ALL
      |SELECT 'intersect_all', l_partkey, COUNT(*)
      |FROM (SELECT l_partkey FROM a INTERSECT ALL SELECT l_partkey FROM b)
      |GROUP BY l_partkey
      |ORDER BY op, l_partkey""".stripMargin

  // ---------------------------------------------------------------- q52
  /** Rank statistics — the normalized ranking functions q39's family
    * (lag/lead/ntile/first/last) doesn't cover: dense_rank,
    * percent_rank ((rank−1)/(n−1)) and cume_dist (rows ≤ current / n)
    * per supplier over account-balance order. All three are exact
    * integer arithmetic plus one IEEE division, so both engines agree
    * bit-exactly; one Window operator serves all three (single sort,
    * single pass — same consolidation argument as q39). */
  def q52RankStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    Tables.supplier(s, d)
      .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"))
      .withColumn("drnk", dense_rank().over(w).cast("long"))
      .withColumn("prnk", percent_rank().over(w))
      .withColumn("cdist", cume_dist().over(w))
      .orderBy(col("s_nationkey"), col("s_suppkey"))
  }

  val q52Sql: String =
    """SELECT s_nationkey, s_suppkey, s_acctbal,
      | CAST(dense_rank() OVER w AS BIGINT) AS drnk,
      | percent_rank() OVER w AS prnk,
      | cume_dist() OVER w AS cdist
      |FROM supplier
      |WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
      |ORDER BY s_nationkey, s_suppkey""".stripMargin

  // ---------------------------------------------------------------- q55
  /** Event-sequence pattern matching (the MATCH_RECOGNIZE shape):
    * each user's events become one ordered type-string, and a regex
    * counts non-overlapping `click (view)* purchase` runs — i.e.
    * conversions that may route through browsing but through nothing
    * else. q27's funnel asks "did B happen within Δt of A"; this asks
    * "did the PATH match", which no per-pair join can express.
    *
    * Determinism: the sort key (ts, event_id) is unique per user, and
    * both engines' regex families (java.util.regex here, RE2 in the
    * oracle) agree on leftmost non-overlapping greedy matching for a
    * pattern with no backtracking ambiguity.
    *
    * Scale: one shuffle keyed on user_id (the same width as any
    * sessionization — each event travels once); per-user state is that
    * user's event count, bounded by activity not corpus size, and the
    * path string is built AFTER the aggregate, map-side. A skewed
    * mega-user is AQE's skew problem, same as q21. */
  def q55SequenceMatch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), " ").as("path"))
      .select(col("user_id"), col("n_events"),
        size(regexp_extract_all(col("path"), lit("click( view)* purchase"), lit(0)))
          .cast("long").as("n_conversions"))
      .orderBy(col("user_id"))
  }

  val q55Sql: String =
    """WITH p AS (
      | SELECT user_id, COUNT(*) AS n_events,
      |  string_agg(event_type, ' ' ORDER BY ts, event_id) AS path
      | FROM events GROUP BY user_id)
      |SELECT user_id, n_events,
      | CAST(len(regexp_extract_all(path, 'click( view)* purchase')) AS BIGINT)
      |  AS n_conversions
      |FROM p ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q56
  /** Robust outlier detection via MAD (median absolute deviation) —
    * the heavy-tail-safe complement to q54's moment statistics: a
    * single fat order shifts stddev arbitrarily but moves the median
    * and MAD not at all, so "dev > 3·MAD" flags genuine anomalies
    * instead of inflating its own yardstick. Three stages: per-group
    * median, deviations via a broadcast join back, per-group MAD, then
    * one counting pass — group medians are |groups| rows, so both
    * rejoins broadcast and the fact table is scanned, never shuffled,
    * in every stage (the groupBy aggregates partial-combine).
    *
    * Determinism: medians are interpolated doubles rounded to 4
    * decimals in BOTH engines (q14's convention) BEFORE re-entering
    * arithmetic, so the dev and the 3·MAD comparison see bit-identical
    * inputs — the strict > can't flip between engines. Exact
    * percentile buffers each group's values (fine for bounded groups);
    * at unbounded scale swap in q37's mergeable sketch. */
  def q56MadOutliers(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderpriority"),
      col("o_totalprice").cast("double").as("v"))
    val med = o.groupBy(col("o_orderpriority"))
      .agg(round(expr("percentile(v, 0.5)"), 4).as("med"))
    val dev = o.join(broadcast(med), "o_orderpriority")
      .withColumn("dev", abs(col("v") - col("med")))
    val mad = dev.groupBy(col("o_orderpriority"))
      .agg(round(expr("percentile(dev, 0.5)"), 4).as("mad"))
    dev.join(broadcast(mad), "o_orderpriority")
      .groupBy(col("o_orderpriority"))
      .agg(min(col("med")).as("med"), min(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        sum(when(col("dev") > col("mad") * lit(3.0), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("o_orderpriority"))
  }

  val q56Sql: String =
    """WITH o AS (
      | SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS v FROM orders),
      |med AS (
      | SELECT o_orderpriority, ROUND(quantile_cont(v, 0.5), 4) AS med
      | FROM o GROUP BY o_orderpriority),
      |dev AS (
      | SELECT o.o_orderpriority, abs(v - med) AS dev, med
      | FROM o JOIN med USING (o_orderpriority)),
      |mad AS (
      | SELECT o_orderpriority, ROUND(quantile_cont(dev, 0.5), 4) AS mad
      | FROM dev GROUP BY o_orderpriority)
      |SELECT d.o_orderpriority, MIN(d.med) AS med, MIN(m.mad) AS mad,
      | COUNT(*) AS n,
      | CAST(SUM(CASE WHEN d.dev > m.mad * 3.0 THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_outliers
      |FROM dev d JOIN mad m USING (o_orderpriority)
      |GROUP BY d.o_orderpriority
      |ORDER BY d.o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q57
  private val SixHoursNs = 21600000000000L
  private val ThreeHoursNs = 10800000000000L

  /** Interval-OVERLAP join — the range-join family member q22 (as-of:
    * latest before) and q30 (band: within ±ε) don't cover: which user
    * activity spans [first_ts, last_ts] intersect each 6-hour
    * maintenance window (offset 3 h so windows never align with the
    * bucket grid — the overlap test is real, not bucket equality).
    * Planned as the bucketized equi-join: intervals explode to the
    * 6-hour buckets they touch, windows to the (two) buckets they
    * straddle, candidates join on the bucket, and the exact overlap
    * predicate verifies — never a nested loop. Bucket fan-out is
    * bounded by interval length / 6 h, the standard range-join
    * tradeoff (pick bucket ≈ median interval length at scale).
    * All-integer ns arithmetic ⇒ bit-exact oracle. */
  def q57OverlapJoin(s: SparkSession, d: String): DataFrame = {
    val iv = Tables.events(s, d).groupBy(col("user_id"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
    val bounds = iv.agg(min(col("s")).as("lo"), max(col("e")).as("hi"))
    val wins = bounds.select(explode(
        expr(s"sequence(lo div ${SixHoursNs}L, hi div ${SixHoursNs}L)")).as("win_id"))
      .select(col("win_id"),
        (col("win_id") * SixHoursNs + ThreeHoursNs).as("ws"),
        ((col("win_id") + lit(1L)) * SixHoursNs + ThreeHoursNs).as("we"))
    val winB = wins.select(col("win_id"), col("ws"), col("we"),
      explode(array(col("win_id"), col("win_id") + lit(1L))).as("b"))
    val ivB = iv.select(col("user_id"), col("s"), col("e"),
      explode(expr(s"sequence(s div ${SixHoursNs}L, e div ${SixHoursNs}L)")).as("b"))
    ivB.join(winB, "b")
      .filter(col("s") < col("we") && col("e") >= col("ws"))
      .select(col("win_id"), col("ws"), col("we"), col("user_id")).distinct()
      .groupBy(col("win_id"), col("ws"), col("we"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("win_id"))
  }

  val q57Sql: String =
    s"""WITH iv AS (
      | SELECT user_id, epoch_ns(MIN(ts)) AS s, epoch_ns(MAX(ts)) AS e
      | FROM events GROUP BY user_id),
      |b AS (SELECT MIN(s) AS lo, MAX(e) AS hi FROM iv),
      |wins AS (
      | SELECT t.k AS win_id, t.k * $SixHoursNs + $ThreeHoursNs AS ws,
      |  (t.k + 1) * $SixHoursNs + $ThreeHoursNs AS we
      | FROM b, UNNEST(generate_series(lo // $SixHoursNs, hi // $SixHoursNs)) AS t(k))
      |SELECT w.win_id, w.ws, w.we, COUNT(*) AS n_users
      |FROM wins w JOIN iv ON iv.s < w.we AND iv.e >= w.ws
      |GROUP BY 1, 2, 3
      |ORDER BY win_id""".stripMargin

  // ---------------------------------------------------------------- q58
  /** SCD type-2 history construction from a change stream — the
    * warehouse-dimension shape none of q36 (latest only) or q39
    * (window family) produce: every event becomes a validity row
    * [valid_from, valid_to) with the successor's timestamp as its
    * expiry and NULL marking the current row. One lead() over one
    * partitioned sort; unique (ts, event_id) ordering ⇒ deterministic;
    * values are copies of input columns ⇒ bit-exact oracle. At scale
    * this is the standard one-shuffle window — history length per key
    * bounds nothing global. */
  def q58Scd2(s: SparkSession, d: String): DataFrame = {
    // µs-truncated validity bounds: the oracle engine reads parquet
    // ns-timestamps at µs precision, so BOTH sides sort and emit on
    // `ts div 1000` (q36's convention) — identical order, identical values
    Tables.events(s, d)
      .select(col("user_id"),
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz").as("valid_from"),
        col("event_id"), col("value"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("valid_from"), col("event_id"))))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("valid_from"), col("valid_to"),
        col("event_id"), col("value"), col("is_current"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  val q58Sql: String =
    """SELECT user_id, ts AS valid_from,
      | lead(ts) OVER w AS valid_to,
      | event_id, value,
      | lead(ts) OVER w IS NULL AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  // ---------------------------------------------------------------- q59
  /** MERGE INTO (CDC-apply / upsert) semantics as one full-outer join —
    * the warehouse maintenance shape: a base dimension (customers of
    * nations 0–14) absorbs a change batch (per-customer 1997+ revenue).
    * WHEN MATCHED → balance += delta; WHEN NOT MATCHED BY TARGET →
    * insert a placeholder row; WHEN NOT MATCHED BY SOURCE → keep.
    * The three MERGE arms become coalesce/CASE over the join, so the
    * whole statement is one shuffle join plus one partial-agg shuffle —
    * no per-row lookups, no driver loop; at 100 TB both sides hash-
    * partition on the key and AQE handles any delta skew. Balance math
    * stays in exact DECIMAL(18,6) until the final double cast. */
  def q59MergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d).filter(col("c_nationkey") < 15)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val delta = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("date"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 6))).as("delta_rev"),
        count(lit(1)).as("n_orders"))
    base.join(delta, base("c_custkey") === delta("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        coalesce(col("c_name"), lit("(new)")).as("name"),
        (coalesce(col("c_acctbal").cast(DecimalType(18, 6)), lit(0).cast(DecimalType(18, 6)))
          + coalesce(col("delta_rev").cast(DecimalType(18, 6)), lit(0).cast(DecimalType(18, 6))))
          .cast(DecimalType(18, 6)).cast("double").as("balance"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        when(col("c_custkey").isNull, "insert")
          .when(col("o_custkey").isNull, "keep")
          .otherwise("update").as("action"))
      .orderBy(col("custkey"))
  }

  val q59Sql: String =
    """WITH base AS (
      | SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_nationkey < 15),
      |delta AS (
      | SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS delta_rev,
      |  COUNT(*) AS n_orders
      | FROM orders WHERE o_orderdate >= DATE '1997-01-01' GROUP BY o_custkey)
      |SELECT COALESCE(b.c_custkey, d.o_custkey) AS custkey,
      | COALESCE(b.c_name, '(new)') AS name,
      | CAST(CAST(COALESCE(CAST(b.c_acctbal AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6)))
      |  + COALESCE(CAST(d.delta_rev AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6)))
      |  AS DECIMAL(18,6)) AS DOUBLE) AS balance,
      | COALESCE(d.n_orders, 0) AS n_orders,
      | CASE WHEN b.c_custkey IS NULL THEN 'insert'
      |      WHEN d.o_custkey IS NULL THEN 'keep'
      |      ELSE 'update' END AS action
      |FROM base b FULL OUTER JOIN delta d ON b.c_custkey = d.o_custkey
      |ORDER BY custkey""".stripMargin

  // ---------------------------------------------------------------- q61
  /** Time-weighted average — the IoT/finance aggregate a plain AVG gets
    * wrong: each reading holds until the next one, so it contributes
    * value × holding-duration. One lead() window (same single shuffle
    * as q58) derives the µs holding interval, then one partial-agg
    * groupBy forms Σ(value·dt) / Σ(dt). Both sums accumulate in exact
    * DECIMAL — order-independent across any partitioning — and the
    * DECIMAL→DOUBLE hop goes through a string render (correctly
    * rounded in both engines; a direct 128-bit→double cast is not at
    * >16 significant digits). Timestamps are compared at µs precision
    * on both sides (q58's convention). */
  def q61TimeWeightedAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("tus"), col("value"))
      .withColumn("dt", lead(col("tus"), 1).over(w) - col("tus"))
      .filter(col("dt").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        // width 19 forces the oracle engine onto its int128 multiply
        // path (width ≤ 18 decimals multiply in int64 and overflow)
        sum(col("value").cast(DecimalType(19, 6)) * col("dt").cast(DecimalType(19, 0)))
          .cast("string").cast("double").as("sum_vdt"),
        sum(col("dt")).as("sum_dt"))
      .select(col("user_id"),
        (col("sum_vdt") / col("sum_dt").cast("double")).as("twa"), col("sum_dt"))
      .orderBy(col("user_id"))
  }

  val q61Sql: String =
    """WITH iv AS (
      | SELECT user_id, epoch_us(ts) AS tus, value,
      |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |   - epoch_us(ts) AS dt
      | FROM events)
      |SELECT user_id,
      | CAST(CAST(SUM(CAST(value AS DECIMAL(19,6)) * CAST(dt AS DECIMAL(19,0))) AS VARCHAR) AS DOUBLE)
      |  / CAST(SUM(dt) AS DOUBLE) AS twa,
      | CAST(SUM(dt) AS BIGINT) AS sum_dt
      |FROM iv WHERE dt IS NOT NULL
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q60
  /** Column profiling — the data-quality summary every ingestion run
    * wants: per-column null count, EXACT distinct count, min and max.
    * Planned as one TWO-PHASE pass per column (groupBy(value) partial
    * counts, then a tiny final aggregate over the distinct values) and
    * unioned: each scan is column-pruned to its single column, so the
    * four scans read the same total bytes as one four-column scan,
    * while the shuffle carries only Σ|distinct| value-count pairs —
    * strictly smaller than the 4×n-row Expand shuffle Catalyst plans
    * for multi-countDistinct in one aggregate (the round-5 shape:
    * 6.1 s min-of-3 → this plan, measured below in BENCH_NOTES).
    * Null counts ride the null group's partial count; at 100 TB each
    * column profile is an independent partial-agg'd job a scheduler
    * can run concurrently. Min/max render through engine-agreed
    * formats: fixed-scale DECIMAL strings for numerics, ISO dates —
    * double→string shortest-round-trip formatting differs between
    * engines, fixed-scale does not. */
  def q60Profile(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    def profile(cname: String, fmt: Column => Column): DataFrame =
      li.select(col(cname)).groupBy(col(cname)).agg(count(lit(1)).as("cnt"))
        .agg(
          sum(col("cnt")).as("n_rows"),
          sum(when(col(cname).isNull, col("cnt")).otherwise(0L)).as("n_nulls"),
          count(when(col(cname).isNotNull, lit(1))).as("n_distinct"),
          min(fmt(col(cname))).cast("string").as("min_s"),
          max(fmt(col(cname))).cast("string").as("max_s"))
        .select(lit(cname).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_s"), col("max_s"))
    def dec(c: Column) = c.cast(DecimalType(18, 6))
    profile("l_extendedprice", dec)
      .union(profile("l_quantity", dec))
      .union(profile("l_returnflag", identity))
      .union(profile("l_shipdate", _.cast("date")))
      .orderBy(col("col_name"))
  }

  val q60Sql: String =
    """WITH a AS (
      | SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
      |  COUNT(DISTINCT l_quantity) AS q_dist,
      |  CAST(MIN(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS q_min,
      |  CAST(MAX(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS q_max,
      |  CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS e_nulls,
      |  COUNT(DISTINCT l_extendedprice) AS e_dist,
      |  CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS e_min,
      |  CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS e_max,
      |  CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_nulls,
      |  COUNT(DISTINCT l_shipdate) AS d_dist,
      |  CAST(CAST(MIN(l_shipdate) AS DATE) AS VARCHAR) AS d_min,
      |  CAST(CAST(MAX(l_shipdate) AS DATE) AS VARCHAR) AS d_max,
      |  CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_nulls,
      |  COUNT(DISTINCT l_returnflag) AS f_dist,
      |  MIN(l_returnflag) AS f_min, MAX(l_returnflag) AS f_max
      | FROM lineitem)
      |SELECT t.col_name, a.n_rows, t.n_nulls, t.n_distinct, t.min_s, t.max_s
      |FROM a, (
      | SELECT 'l_quantity' AS col_name, q_nulls AS n_nulls, q_dist AS n_distinct,
      |  q_min AS min_s, q_max AS max_s FROM a
      | UNION ALL SELECT 'l_extendedprice', e_nulls, e_dist, e_min, e_max FROM a
      | UNION ALL SELECT 'l_shipdate', d_nulls, d_dist, d_min, d_max FROM a
      | UNION ALL SELECT 'l_returnflag', f_nulls, f_dist, f_min, f_max FROM a) t
      |ORDER BY t.col_name""".stripMargin

  // ---------------------------------------------------------------- q63
  private val SixHoursUs = 21600000000L

  /** Resample to a fixed 6-hour grid with LOCF (last observation
    * carried forward) — the sensor/market-data downsampling q41's
    * zero-fill gap-fill doesn't cover: each grid point reports the
    * most recent reading at-or-before it, not zero. Planned as one
    * union (observations ⊕ per-user grid points off the min/max
    * aggregate) + ONE running `last(ignoreNulls)` window — grid rows
    * carry null values, so the window fills them from the preceding
    * observation; a range/as-of join per grid point would shuffle the
    * observations once per grid resolution instead. Grid rows per user
    * are bounded by span/6 h; the window state is one value. Ordering
    * at a tied timestamp puts observations BEFORE the grid point
    * (is_obs DESC) so an exactly-on-grid reading is visible to it;
    * event_id (null for grid rows) is coalesced to MaxLong on both
    * engines so null-ordering conventions can't diverge. Values are
    * untouched doubles ⇒ bit-exact oracle. */
  def q63LocfResample(s: SparkSession, d: String): DataFrame = {
    val obs = Tables.events(s, d).select(col("user_id"),
      expr("ts div 1000").as("tus"), col("event_id"), col("value"))
    val grid = obs.groupBy(col("user_id"))
      .agg(min(col("tus")).as("lo"), max(col("tus")).as("hi"))
      .select(col("user_id"), explode(
        expr(s"sequence(lo div ${SixHoursUs}L + 1, hi div ${SixHoursUs}L)")).as("cell"))
      .select(col("user_id"), (col("cell") * SixHoursUs).as("tus"),
        lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"),
        lit(0).as("is_obs"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("is_obs").desc,
        coalesce(col("event_id"), lit(Long.MaxValue)))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs.withColumn("is_obs", lit(1)).unionByName(grid)
      .withColumn("locf_value", last(col("value"), ignoreNulls = true).over(w))
      .filter(col("is_obs") === 0)
      .select(col("user_id"), col("tus").as("grid_us"), col("locf_value"))
      .orderBy(col("user_id"), col("grid_us"))
  }

  val q63Sql: String =
    s"""WITH obs AS (
      | SELECT user_id, epoch_us(ts) AS tus, event_id, value, 1 AS is_obs
      | FROM events),
      |grid AS (
      | SELECT user_id, t.k * $SixHoursUs AS tus,
      |  CAST(NULL AS BIGINT) AS event_id, CAST(NULL AS DOUBLE) AS value, 0 AS is_obs
      | FROM (SELECT user_id, MIN(tus) AS lo, MAX(tus) AS hi FROM obs GROUP BY user_id) b,
      |  UNNEST(generate_series(lo // $SixHoursUs + 1, hi // $SixHoursUs)) AS t(k)),
      |u AS (SELECT * FROM obs UNION ALL BY NAME SELECT * FROM grid)
      |SELECT user_id, tus AS grid_us,
      | last_value(value IGNORE NULLS) OVER (
      |  PARTITION BY user_id
      |  ORDER BY tus, is_obs DESC, COALESCE(event_id, 9223372036854775807)
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
      |FROM u
      |QUALIFY is_obs = 0
      |ORDER BY user_id, grid_us""".stripMargin

  // ---------------------------------------------------------------- q62
  /** Exact distinct users per (event_type, day) AND per event_type —
    * where the rollup level is computed by RE-AGGREGATING the day
    * bitmaps (graft_bitmap_or), not by re-scanning events. This is the
    * OLAP bitmap-distinct pattern: COUNT(DISTINCT) can't roll up, a
    * bitmap of ids can — so the 100 TB fact scan happens exactly once,
    * and every coarser grain (week, month, all-time, ad-hoc ranges)
    * merges KB-sized summaries. The day-grain aggregate is cached
    * because both output levels read it; in production it would be a
    * materialized table. Oracle: GROUPING SETS of COUNT(DISTINCT) —
    * exact equality, not approximation. */
  def q62BitmapDistinct(s: SparkSession, d: String): DataFrame = {
    // Chunked container layout (roaring's scheme, made explicit): ids
    // split into (id div 2^16) container key × (id mod 2^16) bitmap
    // position, so ANY 64-bit id domain works without a dictionary —
    // containers are disjoint id ranges, so cardinalities SUM exactly
    // across them, and rollups OR bitmaps within a container as
    // before. 2^16 is roaring's container width for the same reason:
    // the dense buffer is at most 8 KB no matter where ids cluster
    // (2^26 measured 10× slower on shifted-key replicas — every
    // group's buffer grew to the multi-MB high-water position).
    val day = Tables.events(s, d)
      .select(col("event_type"),
        date_trunc("day", timestamp_micros(expr("ts div 1000"))).cast("date").as("day"),
        expr("user_id div 65536").as("chunk"),
        expr("user_id % 65536").as("pos"))
      .groupBy(col("event_type"), col("day"), col("chunk"))
      .agg(expr("graft_bitmap(pos)").as("bm"))
      .localCheckpoint()  // r11 barrier convention: freed with the RDD, not session-immortal
    val days = day.groupBy(col("event_type"), col("day"))
      .agg(sum(expr("graft_bitmap_card(bm)")).as("n_users"))
      .select(col("event_type"), col("day").cast("string").as("day"), col("n_users"))
    val totals = day.groupBy(col("event_type"), col("chunk"))
      .agg(expr("graft_bitmap_or(bm)").as("bm"))
      .groupBy(col("event_type"))
      .agg(sum(expr("graft_bitmap_card(bm)")).as("n_users"))
      .select(col("event_type"), lit("ALL").as("day"), col("n_users"))
    days.unionByName(totals).orderBy(col("event_type"), col("day"))
  }

  val q62Sql: String =
    """WITH e AS (
      | SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      | FROM events)
      |SELECT event_type, COALESCE(CAST(day AS VARCHAR), 'ALL') AS day,
      | COUNT(DISTINCT user_id) AS n_users
      |FROM e
      |GROUP BY GROUPING SETS ((event_type, day), (event_type))
      |ORDER BY event_type, day""".stripMargin

  /** q64: Bloom-filter runtime semi-join pruning.
    *
    * Revenue of lineitems belonging to URGENT orders. The exact answer
    * comes from the semi-join; the Bloom filter of the (filtered)
    * build-side keys is broadcast as a one-row relation and applied
    * map-side to the fact table BEFORE the join's exchange, so at
    * 100 TB the shuffle carries only probable matches (~1/5 of rows
    * here, arbitrarily selective in production). False positives are
    * swallowed by the exact join that follows; false negatives cannot
    * happen (BloomSpec pins both), so the oracle is the plain
    * semi-join SQL. Sized m=2^20 bits / k=5 for ~15k build keys at
    * sf0.01 → fp ≈ 2e-6; both knobs are explicit for full-scale
    * sizing. Spark's own runtime bloom join does this same rewrite
    * behind a flag; this is the explicit, composable form.
    *
    * The filter is materialized driver-side (one ~128 KB value) and
    * embedded as a LITERAL predicate — exactly how Spark executes its
    * own runtime-filter scalar subqueries. A lazy cross-join form was
    * measured instead to have PushDownLeftSemiAntiJoin reorder the
    * semi-join BELOW the bloom filter, neutralizing it; the literal
    * form pins the filter to the fact scan, under the join's exchange
    * (ExplainSpec-asserted).
    */
  def q64BloomPrune(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bf = urgent.agg(
      call_function("graft_bloom", col("o_orderkey"), lit(1 << 20), lit(5)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val pruned = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"), col("l_discount"))
      .filter(call_function("graft_might_contain", lit(bf), col("l_orderkey")))
    pruned
      .join(urgent, pruned("l_orderkey") === urgent("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))
  }

  val q64Sql: String =
    """SELECT l_returnflag,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      | COUNT(*) AS n_items
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q65: 2-D box query over a Z-order clustered layout.
    *
    * lineitem laid out on the (l_partkey, l_suppkey) Morton curve
    * (sources/ZOrderLayout.scala), then a part×supplier box summed per
    * return flag. The cell IN-list prunes whole directories
    * (PartitionFilters — ZOrderSpec asserts files read ≪ files total)
    * and the curve sort makes row-group stats tight inside surviving
    * cells; the exact range predicates keep the result identical to a
    * plain filter, so the oracle is the box SQL over the original
    * table. Layout build is once per SF dir (a write-once layout),
    * the 100 TB pattern where one layout pass amortizes over
    * every box query after it. Box spans ~1/16 of each dimension at
    * any SF (fractional bounds off the table's own min/max).
    */
  /** q65's z-order layout, build-if-missing, path returned (split out
    * round 14 so `graft.Bench layouts` can delete-and-retime the build). */
  private[graft] def zorderLayoutPath(s: SparkSession, d: String): String = {
    import graft.sources.ZOrderLayout
    LayoutStore.cached(s, "graft_zorder", d, "lineitem", "", "lineitem")(tmp =>
      ZOrderLayout.writeZOrdered(Tables.lineitem(s, d), "l_partkey", "l_suppkey", tmp))
  }

  def q65ZorderBox(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ZOrderLayout
    val path = zorderLayoutPath(s, d)
    val m = ZOrderLayout.readMeta(s, path)
    // box = [min + span/8, min + span/4] on each dim: SF-independent
    // shape; true max from the data (meta holds bucket widths, not max)
    val Array(trueMaxA, trueMaxB) = Tables.lineitem(s, d)
      .agg(max(col("l_partkey")).cast("long"), max(col("l_suppkey")).cast("long"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    def bounds(min: Long, hi: Long): (Long, Long) = {
      val span = hi - min
      (min + span / 8, min + span / 4)
    }
    val (loA, hiA) = bounds(m.minA, trueMaxA)
    val (loB, hiB) = bounds(m.minB, trueMaxB)
    ZOrderLayout.boxQuery(s, path, loA, hiA, loB, hiB)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** q100: 3-D box query over an n-dim Z-order layout (round 13 —
    * VERDICT r12 #6): lineitem on the (l_partkey, l_suppkey,
    * l_quantity) Morton curve via ZOrderLayout.writeZOrderedN — the
    * generated per-bit interleave at gridBits = 16, cellBits 3 → 512
    * partition dirs, a box spanning ~1/8 of each dimension touches ~8
    * of them (directory pruning before a file is even listed; the
    * numFiles pin is ZOrderSpec's n=3 assertion). Exact range
    * predicates keep the result identical to a plain filter, so the
    * oracle is the box SQL over the original table — q65's contract
    * one dimension up. l_quantity is integral-valued DOUBLE; both
    * engines CAST to BIGINT before the bounds arithmetic. */
  /** q100's 3-D z-order layout, build-if-missing, path returned. */
  private[graft] def zorder3LayoutPath(s: SparkSession, d: String): String = {
    import graft.sources.ZOrderLayout
    LayoutStore.cached(s, "graft_zorder", d, "lineitem", "n3v1", "lineitem3")(tmp =>
      ZOrderLayout.writeZOrderedN(Tables.lineitem(s, d),
        Seq("l_partkey", "l_suppkey", "l_quantity"), tmp))
  }

  def q100Zorder3Box(s: SparkSession, d: String): DataFrame = {
    import graft.sources.ZOrderLayout
    val path = zorder3LayoutPath(s, d)
    val m = ZOrderLayout.readMetaN(s, path)
    val mx = Tables.lineitem(s, d)
      .agg(max(col("l_partkey")).cast("long"), max(col("l_suppkey")).cast("long"),
        max(col("l_quantity")).cast("long"))
      .head().toSeq.map(_.asInstanceOf[Long])
    val bounds = m.mins.zip(mx).map { case (mn, hi) =>
      val span = hi - mn; (mn + span / 8, mn + span / 4)
    }
    ZOrderLayout.boxQueryN(s, path, bounds.map(_._1), bounds.map(_._2))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }

  /** q65's oracle one dimension up — the quantity bound runs through
    * the same CAST-to-BIGINT truncation as the Spark side. */
  val q100Sql: String =
    """WITH b AS (
      | SELECT MIN(l_partkey) AS mina, MAX(l_partkey) AS maxa,
      |        MIN(l_suppkey) AS minb, MAX(l_suppkey) AS maxb,
      |        MIN(CAST(l_quantity AS BIGINT)) AS minc,
      |        MAX(CAST(l_quantity AS BIGINT)) AS maxc
      | FROM lineitem)
      |SELECT l_returnflag, COUNT(*) AS n_items,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      |FROM lineitem, b
      |WHERE l_partkey BETWEEN mina + (maxa - mina) // 8 AND mina + (maxa - mina) // 4
      |  AND l_suppkey BETWEEN minb + (maxb - minb) // 8 AND minb + (maxb - minb) // 4
      |  AND CAST(l_quantity AS BIGINT)
      |       BETWEEN minc + (maxc - minc) // 8 AND minc + (maxc - minc) // 4
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Oracle twin of q65's fractional box bounds (span/8 .. span/4). */
  val q65Sql: String =
    """WITH b AS (
      | SELECT MIN(l_partkey) AS mina, MAX(l_partkey) AS maxa,
      |        MIN(l_suppkey) AS minb, MAX(l_suppkey) AS maxb
      | FROM lineitem)
      |SELECT l_returnflag, COUNT(*) AS n_items,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      |FROM lineitem, b
      |WHERE l_partkey BETWEEN mina + (maxa - mina) // 8 AND mina + (maxa - mina) // 4
      |  AND l_suppkey BETWEEN minb + (maxb - minb) // 8 AND minb + (maxb - minb) // 4
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q66: re-aggregatable APPROXIMATE distinct via HLL sketches — the
    * companion to q62's exact bitmaps at the other end of the
    * space/exactness trade. Day-grain Datasketches HLL sketches
    * (hll_sketch_agg, lgK=14 → ~16 KB, ±0.8% typical) union into the
    * all-time grain with hll_union_agg without re-reading the fact
    * table; at 100 TB the materialized day sketches make any
    * time-range distinct a KB-scale merge, and unlike the bitmap
    * family the state is FIXED-size per group regardless of id
    * domain. Sketch bytes are engine-specific, so the gate is the
    * spec (≤ 2% vs exact at lgK=14, plus rollup ≡ one-shot sketch),
    * not a cross-engine hash — same policy as q29/q37. */
  def q66HllRollup(s: SparkSession, d: String): DataFrame = {
    val day = Tables.events(s, d)
      .select(col("event_type"),
        date_trunc("day", timestamp_micros(expr("ts div 1000"))).cast("date").as("day"),
        col("user_id"))
      .groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      .localCheckpoint()  // r11 barrier convention: freed with the RDD, not session-immortal
    val days = day.select(col("event_type"), col("day").cast("string").as("day"),
      expr("hll_sketch_estimate(sk)").as("n_users"))
    val totals = day.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("n_users"))
      .select(col("event_type"), lit("ALL").as("day"), col("n_users"))
    days.unionByName(totals).orderBy(col("event_type"), col("day"))
  }

  /** q67: re-aggregatable APPROXIMATE quantiles via KLL sketches —
    * the third mergeable-summary family after q62 (exact distinct)
    * and q66 (approx distinct). Month-grain sketches of order value
    * per priority (graft_kll) roll up to all-time quantiles with
    * graft_kll_merge — no fact re-scan, any later time-range
    * percentile question is a KB-scale merge. p50/p95/p99 per grain.
    * KLL compaction is randomized, so estimates are stable only
    * within the ~1.65% rank-error bound → spec-gated (q29 policy). */
  def q67KllRollup(s: SparkSession, d: String): DataFrame = {
    val month = Tables.orders(s, d)
      .select(col("o_orderpriority"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month"),
        col("o_totalprice"))
      .groupBy(col("o_orderpriority"), col("month"))
      .agg(expr("graft_kll(o_totalprice)").as("sk"))
      .localCheckpoint()  // r11 barrier convention: freed with the RDD, not session-immortal
    def quantiles(skCol: String): Seq[Column] = Seq(
      expr(s"graft_kll_quantile($skCol, 0.5)").as("p50"),
      expr(s"graft_kll_quantile($skCol, 0.95)").as("p95"),
      expr(s"graft_kll_quantile($skCol, 0.99)").as("p99"))
    val months = month.select(Seq(col("o_orderpriority"),
      col("month").cast("string").as("month")) ++ quantiles("sk"): _*)
    val totals = month.groupBy(col("o_orderpriority"))
      .agg(expr("graft_kll_merge(sk)").as("sk_all"))
      .select(Seq(col("o_orderpriority"), lit("ALL").as("month")) ++ quantiles("sk_all"): _*)
    months.unionByName(totals).orderBy(col("o_orderpriority"), col("month"))
  }

  /** q68: audience-overlap matrix via theta sketches — approximate
    * distinct over SET EXPRESSIONS, the one sketch capability q66's
    * HLL lacks (union-only): "users who did A AND B" / "A but not B"
    * without a shuffle-everything exact distinct join. ONE fact pass
    * builds a user-id sketch per event type; every pairwise overlap
    * is then a KB-scale sketch intersection on a tiny broadcast
    * self-join — at 100 TB the segment sketches are materialized
    * once and every audience question after that touches no raw ids.
    * RSE ≈ 1.6% at the default 4096 nominal entries; estimates are
    * seed-specific → spec-gated (q29 policy). */
  def q68ThetaOverlap(s: SparkSession, d: String): DataFrame = {
    val sk = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(expr("graft_theta(user_id)").as("sk"))
    val a = sk.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = sk.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    a.crossJoin(broadcast(b)).filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        expr("graft_theta_estimate(sk_a)").as("est_a"),
        expr("graft_theta_estimate(sk_b)").as("est_b"),
        expr("graft_theta_estimate(graft_theta_intersect(sk_a, sk_b))").as("est_both"),
        expr("graft_theta_estimate(graft_theta_anotb(sk_a, sk_b))").as("est_only_a"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q69: rolling 7-day distinct users per day (the DAU/WAU board) —
    * the sliding-window form of q62's bitmap rollup, and the query
    * COUNT(DISTINCT) OVER a RANGE frame cannot answer at scale
    * (Spark refuses distinct window aggregates; the naive self-join
    * re-scans the fact table 7×). One fact pass builds day-grain
    * chunked bitmaps (q62's roaring-style (div 2^16, mod 2^16)
    * layout); each day bitmap then contributes to the 7 target days
    * it covers — a 7× replication of KB-scale summaries, not of fact
    * rows — and per-target-day OR-merge + popcount gives EXACT
    * windowed distincts. Target days clip to days that exist
    * (broadcast semi-join against the day spine, itself read off the
    * cached day aggregate). At 100 TB the day bitmaps are a
    * materialized table and any window length is the same cheap
    * merge. Oracle: DuckDB windowed COUNT(DISTINCT) via a spine
    * range join — exact equality. */
  def q69RollingDistinct(s: SparkSession, d: String): DataFrame = {
    val day = Tables.events(s, d)
      .select(date_trunc("day", timestamp_micros(expr("ts div 1000"))).cast("date").as("day"),
        expr("user_id div 65536").as("chunk"),
        expr("user_id % 65536").as("pos"))
      .groupBy(col("day"), col("chunk"))
      .agg(expr("graft_bitmap(pos)").as("bm"))
      .localCheckpoint()  // r11 barrier convention: freed with the RDD, not session-immortal
    val spine = day.select(col("day")).distinct()
    val contrib = day
      .select(col("day"), col("chunk"), col("bm"), explode(sequence(lit(0), lit(6))).as("off"))
      .select(date_add(col("day"), col("off")).as("day"), col("chunk"), col("bm"))
    contrib.join(broadcast(spine), Seq("day"), "left_semi")
      .groupBy(col("day"), col("chunk"))
      .agg(expr("graft_bitmap_or(bm)").as("bm"))
      .groupBy(col("day"))
      .agg(sum(expr("graft_bitmap_card(bm)")).as("n_users_7d"))
      .select(col("day").cast("string").as("day"), col("n_users_7d"))
      .orderBy(col("day"))
  }

  val q69Sql: String =
    """WITH e AS (
      | SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      | FROM events),
      |d AS (SELECT DISTINCT day FROM e)
      |SELECT CAST(d.day AS VARCHAR) AS day, COUNT(DISTINCT e.user_id) AS n_users_7d
      |FROM d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
      |GROUP BY d.day
      |ORDER BY day""".stripMargin

  /** q70: first-order Markov transition matrix over the event stream —
    * P(next event type | current) per user journey, the sequence-
    * analytics summary behind "what do users do after a click".
    *
    * One user-keyed shuffle sorts each user's history (ts, then
    * event_id for deterministic tie order — both engines share the
    * key); lead() pairs consecutive events map-side after the sort,
    * and the (from, to) count matrix is |types|² rows — the
    * per-from-type normalization window runs on that tiny matrix, not
    * on raw events. Probability is one IEEE divide of two exact
    * integers, so the oracle hashes bit-exactly. At 100 TB this is
    * the canonical shape: shuffle O(events) once, aggregate to a
    * constant-size summary, post-process the summary. */
  def q70MarkovChain(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    val counts = pairs.groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    counts
      .withColumn("n_from", sum(col("n_transitions")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        (col("n_transitions").cast("double") / col("n_from")).as("prob"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val q70Sql: String =
    """WITH pairs AS (
      | SELECT event_type AS from_type,
      |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      | FROM events),
      |counts AS (
      | SELECT from_type, to_type, COUNT(*) AS n_transitions
      | FROM pairs WHERE to_type IS NOT NULL
      | GROUP BY from_type, to_type)
      |SELECT from_type, to_type, n_transitions,
      | CAST(n_transitions AS DOUBLE) /
      |   SUM(n_transitions) OVER (PARTITION BY from_type) AS prob
      |FROM counts
      |ORDER BY from_type, to_type""".stripMargin

  /** q72: exponential time-decay aggregation — recency-weighted
    * engagement per event type with a 1-day half-life, the scoring
    * shape behind trending/decay dashboards. Cross-engine exactness
    * without a single libm call: the decay weight 2^(−age_days) is a
    * POWER OF TWO, so `value / (1 << age)` is pure exponent
    * arithmetic in IEEE — exact scaling, no rounding at all — and the
    * decayed values then ride the validated dsum DECIMAL cast. Ages
    * beyond 62 days clamp to weight 0 (they're below 2⁻⁶² of a unit —
    * sub-noise by construction, and the clamp keeps the shift in
    * range). The anchor (max ts) is ONE driver scalar from a
    * column-pruned scan — q64's runtime-literal pattern — so the main
    * scan stays a single pass with a map-side partial agg. */
  def q72DecayAgg(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val maxNs = ev.agg(max(col("ts"))).head().getLong(0)
    ev.select(col("event_type"), col("value"),
        expr(s"(${maxNs}L - ts) div 86400000000000").as("age"))
      .withColumn("decayed",
        when(col("age") <= 62,
          col("value") / expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(age AS INT)) AS DOUBLE)"))
          .otherwise(lit(0.0)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("decayed")).as("decayed_value"),
        dsum(col("value")).as("raw_value"))
      .orderBy(col("event_type"))
  }

  val q72Sql: String =
    """WITH mx AS (SELECT MAX(epoch_ns(ts)) AS maxns FROM events),
      |e AS (
      | SELECT event_type, value,
      |  (mx.maxns - epoch_ns(ts)) // 86400000000000 AS age
      | FROM events, mx)
      |SELECT event_type, COUNT(*) AS n_events,
      | CAST(SUM(CAST(CASE WHEN age <= 62
      |   THEN value / CAST(CAST(1 AS BIGINT) << age AS DOUBLE)
      |   ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE) AS decayed_value,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS raw_value
      |FROM e GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q73: PageRank over the bipartite customer↔purchased-part graph
    * (edges = distinct (custkey, partkey) purchase links via
    * orders⋈lineitem, symmetrized so both sides rank) — "which parts
    * anchor the catalog / which customers anchor demand", the iterative
    * graph-importance shape alongside dd6's components and q70's
    * Markov matrix. Two unrolled synchronous rounds in 64-bit
    * fixed-point picorank arithmetic (operators/PageRank.scala): every
    * step is integer floor-div/multiply/add shared verbatim by the
    * DuckDB oracle, so the gate is a bit-exact hash, not a tolerance.
    * Node ids namespace the two sides onto one key space (2c / 2p+1 —
    * collision-free, order-preserving per side). */
  /** q73's symmetrized bipartite purchase graph, shared with the
    * convergence-loop variant below. */
  private def q73EdgesInline(s: SparkSession, d: String): DataFrame = {
    val e0 = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_partkey") * 2 + 1).as("dst"))
      .distinct()
    e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** q73's bipartite customer–part rank graph, MATERIALIZED (round
    * 16): the edge derivation (lineitem⋈orders → distinct →
    * symmetrize) is corpus-static — the copurchase amortization
    * argument — so the join + distinct are paid once per corpus
    * version and every rank run (q73's 2 unrolled rounds, the
    * convergence loop, `graft.Bench scale`'s pr curves) starts from a parquet
    * scan (q73 measured 3.0 → 2.1 s wall / 3.3 → 1.3 s CPU at sf0.1).
    * Keyed on BOTH source tables (q84's two-table convention).
    * NO parallelism floor on the write (unlike copurchase/contain,
    * whose consumers fan out compute at scan width): every consumer
    * here immediately shuffles on the edge's source, so extra input
    * splits only buy per-map-task exchange overhead — measured
    * repartition(32) at write: 8.0 s executor CPU per q73 run vs
    * 1.3 s from the size-coalesced layout. */
  private[graft] def q73GraphLayout(s: SparkSession, d: String): String = {
    val (oLen, oMtime) = LayoutStore.sourceStat(s, s"$d/orders.parquet")
    LayoutStore.cached(s, "graft_prgraph", d, "lineitem", s"v1o$oLen-$oMtime") { tmp =>
      q73EdgesInline(s, d).write.mode("overwrite").parquet(tmp)
    }
  }

  private def q73Edges(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, q73GraphLayout(s, d))

  def q73PageRank(s: SparkSession, d: String): DataFrame =
    graft.operators.PageRank.ranks(q73Edges(s, d), 2)
      .select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("part")).as("kind"),
        expr("node div 2").as("entity_id"), col("pr_e12"), col("pagerank"))
      .orderBy(col("kind"), col("entity_id"))

  /** Iterate-to-convergence PageRank over q73's graph — the SURVEY §2
    * non-registry component behind q73's fixed-round oracle row (round
    * count is data-dependent, so no SQL oracle; PageRankSpec gates it,
    * `graft.Bench scale` curves it as `pr_loop`). Tolerance is RELATIVE (no
    * node moves > 0.1% of the uniform share per round), so the round
    * count stays ~flat across SF dirs — the scale-free stopping rule. */
  def pagerankLoop(s: SparkSession, d: String): DataFrame =
    graft.operators.PageRank.ranksConvergedRel(q73Edges(s, d), tolRel = 1e-3)

  val q73Sql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT o_custkey * 2 AS src, l_partkey * 2 + 1 AS dst
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
      |deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY src),
      |n AS (SELECT COUNT(*) AS n FROM deg),
      |r0 AS (SELECT node, outdeg, 1000000000000 // n.n AS r FROM deg CROSS JOIN n),
      |s1 AS (SELECT e.dst AS node, CAST(SUM(r0.r // r0.outdeg) AS BIGINT) AS s
      |       FROM e JOIN r0 ON e.src = r0.node GROUP BY e.dst),
      |r1 AS (SELECT deg.node, deg.outdeg,
      |        (150000000000 // n.n) + (85 * COALESCE(s1.s, 0)) // 100 AS r
      |       FROM deg CROSS JOIN n LEFT JOIN s1 ON deg.node = s1.node),
      |s2 AS (SELECT e.dst AS node, CAST(SUM(r1.r // r1.outdeg) AS BIGINT) AS s
      |       FROM e JOIN r1 ON e.src = r1.node GROUP BY e.dst),
      |r2 AS (SELECT deg.node, deg.outdeg,
      |        (150000000000 // n.n) + (85 * COALESCE(s2.s, 0)) // 100 AS r
      |       FROM deg CROSS JOIN n LEFT JOIN s2 ON deg.node = s2.node)
      |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'part' END AS kind,
      | node // 2 AS entity_id, CAST(r AS BIGINT) AS pr_e12,
      | CAST(r AS DOUBLE) / 1e12 AS pagerank
      |FROM r2
      |ORDER BY kind, entity_id""".stripMargin

  /** q74: triangle counting on the part co-purchase graph (parts
    * appearing in the same order; "frequently bundled triples") — the
    * third classic iterative/graph shape after components (dd6) and
    * PageRank (q73), and the standard test of whether a join plan
    * explodes at scale. Edges are ORIENTED lo→hi by DEGREE rank
    * (deg, then partkey as the tie-break — a strict total order), so
    * each triangle is generated exactly once as rank-a ≺ b ≺ c and
    * the wedge set is bounded by Σ out·in over DEGREE-oriented
    * degrees — out-degree under degree orientation is O(√m)
    * (arboricity bound), giving the textbook O(m^1.5) wedge bound
    * that survives power-law hubs; id-orientation (rounds ≤5) let a
    * low-id hub keep out-degree ≈ deg and blow the wedge join up
    * quadratically. The triangle SET is orientation-invariant, so the
    * oracle output is unchanged — only both engines' edge CTEs carry
    * the same (deg, id) orientation. Wedges confirm the closing edge
    * via a semi-join — all equi-joins, exact integer counts,
    * bit-exact hash gate. The edge set comes from the write-once
    * [[copurchaseEdges]] index (the self-join paid once per corpus
    * version, shared with q75); the oriented edges are additionally
    * localCheckpointed because they are used three times (both wedge
    * sides + the closing probe) and each use would otherwise replay
    * the index scan + degree join. Output: per-part triangle
    * participation (parts in ≥1 triangle). */
  /** Build-if-missing materialized co-purchase edge index: (u, v, c)
    * with u < v over parts, c = number of distinct orders bundling
    * both — the O(|li|²/orders) self-join is paid ONCE per corpus
    * version (write-once parquet keyed on lineitem size/mtime, the
    * dd7/q65 layout convention) and every graph query (q74 triangles,
    * q75 BFS) probes the index. At 100 TB the edge list is amortized
    * infrastructure rebuilt on corpus refresh, not recomputed per
    * query — the same cost shape as the dup-groups and ANN indexes;
    * Bench's layout phase pre-builds it so query times measure probes. */
  /** Heavy-order guard for the co-purchase build: the per-order
    * self-join makes O(k²) pairs for a k-item order — invisible on
    * TPC-H (k ≤ 7) but quadratic on a real basket corpus where one
    * thousand-item wholesale order alone would emit ~500k pairs and a
    * single skewed reducer. Orders keep at most this many DISTINCT
    * parts (deterministic lowest-partkey selection, so the build is
    * reproducible); per-order work is then bounded by cap² no matter
    * the corpus. The bias is confined to parts truncated from
    * mega-orders — the weakest co-purchase signal there is, since a
    * basket of thousands bundles everything with everything. Capped ≡
    * uncapped on the driver corpus is spec-pinned (TrianglesSpec). */
  private val MaxOrderItems = 64

  /** The edge build itself, over any (l_orderkey, l_partkey) frame —
    * exposed for the cap spec. */
  /** Distinct (order, part) rows with heavy orders clipped to the
    * `cap` lowest partkeys — the shared base for edges, item
    * frequencies and order totals (ONE definition: supports computed
    * from a different item set than the pair counts would make q93's
    * confidences internally inconsistent). */
  private[graft] def cappedDistinctItems(li0: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_partkey"))
    li0.select(col("l_orderkey"), col("l_partkey")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap).drop("rn")
  }

  private def copurchasePairsOf(li: DataFrame): DataFrame =
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))

  private[graft] def copurchaseEdgesFrom(li0: DataFrame, cap: Int): DataFrame =
    copurchasePairsOf(cappedDistinctItems(li0, cap))

  /** The co-purchase layout root: edges/ (u, v, c) plus oriented/
    * (lo, hi) — the (deg, id) orientation is corpus-static, so the
    * degree aggregation + attach joins are paid at build time and
    * q74 starts at the wedge join (round 7; orientation was the last
    * per-run recompute in the graph family). */
  private[graft] def copurchaseLayout(s: SparkSession, d: String): String = {
    // params v2 (round 8): the layout additionally carries items/
    // (capped per-item order frequency) and totals/ (1-row distinct
    // order count) so q93's rule scoring is a PURE index probe — the
    // capped row_number window over lineitem is build-time cost, not
    // per-query; the bumped params key retires v1 dirs via vacuum.
    // o4 (round 16): + adj/ (sorted out-neighbor arrays — the forward
    // triangle enumeration's input, corpus-static like the orientation
    // itself), − bloomstats/ (the wedge Bloom died with the wedge
    // join; Triangles.perNodeCountsFromAdjacency)
    LayoutStore.cached(s, "graft_copurchase", d, "lineitem",
        s"cap${MaxOrderItems}o4") { tmp =>
      val li = cappedDistinctItems(Tables.lineitem(s, d), MaxOrderItems)
        .localCheckpoint() // edges + items + totals must not re-run the cap window
      val e = copurchasePairsOf(li).localCheckpoint() // two writes below must not re-run the self-join
      // Parallelism floor on the probe-heavy relations (round 15): the
      // wedge join is a broadcast join, so q74 runs at the ORIENTED
      // scan's split count — a size-coalesced single-file layout
      // serializes the 49 M-wedge fan-out (12.7 s wall measured vs
      // 3.1 s from a multi-file layout). defaultParallelism scales
      // with the cluster, so at 100 TB this floor is a no-op (the
      // relation has far more partitions than cores already).
      val p = s.sparkContext.defaultParallelism
      e.repartition(p).write.mode("overwrite").parquet(s"$tmp/edges")
      graft.operators.Triangles.orient(e.select(col("u"), col("v")))
        .repartition(p).write.mode("overwrite").parquet(s"$tmp/oriented")
      // adjacency off the just-written orientation (parquet snapshot =
      // lineage cut); repartitioned so the per-query explode + merge
      // fan-out runs parallel even though the relation is tiny on disk
      graft.operators.Triangles.adjacencyOf(Tables.parquet(s, s"$tmp/oriented"))
        .repartition(p).write.mode("overwrite").parquet(s"$tmp/adj")
      li.groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(s"$tmp/items")
      li.agg(countDistinct(col("l_orderkey")).as("orders"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/totals")
    }
  }

  def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, s"${copurchaseLayout(s, d)}/edges")

  def copurchaseOriented(s: SparkSession, d: String): DataFrame =
    Tables.parquet(s, s"${copurchaseLayout(s, d)}/oriented")

  def q74Triangles(s: SparkSession, d: String): DataFrame =
    // forward enumeration off the materialized sorted adjacency — the
    // per-query plan is one scan + one equi-join + the codegen merge
    // intersection (Triangles.perNodeCountsFromAdjacency's scaladoc
    // has the measured 49.2 M-wedge vs 1.88 M-triangle story)
    graft.operators.Triangles.perNodeCountsFromAdjacency(
        Tables.parquet(s, s"${copurchaseLayout(s, d)}/adj"))
      .select(col("node").as("p_partkey"), col("n_triangles"))
      .orderBy(col("p_partkey"))

  val q74Sql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey < b.l_partkey),
      |deg AS (
      |  SELECT node, COUNT(*) AS dg
      |  FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
      |  GROUP BY node),
      |e AS (
      |  SELECT CASE WHEN du.dg <= dv.dg THEN e0.u ELSE e0.v END AS lo,
      |         CASE WHEN du.dg <= dv.dg THEN e0.v ELSE e0.u END AS hi
      |  FROM e0 JOIN deg du ON e0.u = du.node JOIN deg dv ON e0.v = dv.node),
      |tri AS (
      |  SELECT x.lo AS a, x.hi AS b, y.hi AS c
      |  FROM e x JOIN e y ON x.hi = y.lo
      |  WHERE EXISTS (SELECT 1 FROM e z WHERE z.lo = x.lo AND z.hi = y.hi)),
      |m AS (
      |  SELECT a AS p FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
      |SELECT p AS p_partkey, COUNT(*) AS n_triangles
      |FROM m GROUP BY p
      |ORDER BY p""".stripMargin

  /** q75: bounded-radius multi-source BFS over the SPARSIFIED part
    * co-purchase graph (pairs bundled in ≥ 2 distinct orders — the
    * q74 graph minus its one-off noise edges), seeds = all parts of
    * one brand: "everything within 4 recommendation hops of this
    * brand". This is the first CONVERGING loop under the full hash
    * gate (dd6's recursive-CTE oracle pattern applied to hop
    * distances): the Spark side iterates frontier expansion with
    * per-round lineage truncation (operators/Bfs.scala) and stops
    * when the frontier drains or the radius caps — a data-dependent
    * round count — while the DuckDB mirror is a radius-bounded
    * recursive CTE taking MIN(dist). Hop counts are exact integers,
    * so the gate is bit-exact. Scale: the k-ball frontier bounds
    * per-round work; visited is one row per reached node. */
  def q75BfsHops(s: SparkSession, d: String): DataFrame = {
    val co = copurchaseEdges(s, d).filter(col("c") >= 2)
    val e = co.select(col("u").as("src"), col("v").as("dst"))
      .union(co.select(col("v").as("src"), col("u").as("dst")))
    val seeds = Tables.part(s, d).filter(col("p_brand") === "Brand#4")
      .select(col("p_partkey").as("node"))
    graft.operators.Bfs.hops(e, seeds, maxHops = 4)
      .select(col("node").as("p_partkey"), col("hops").cast("long").as("hops"))
      .orderBy(col("p_partkey"))
  }

  val q75Sql: String =
    """WITH RECURSIVE e0 AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |  WHERE a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
      |e AS (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v, u FROM e0),
      |seeds AS (SELECT p_partkey AS node FROM part WHERE p_brand = 'Brand#4'),
      |rch(node, dist) AS (
      |  SELECT node, 0 FROM seeds
      |  UNION
      |  SELECT e.dst, r.dist + 1 FROM rch r JOIN e ON e.src = r.node
      |  WHERE r.dist < 4)
      |SELECT node AS p_partkey, CAST(MIN(dist) AS BIGINT) AS hops
      |FROM rch GROUP BY node ORDER BY p_partkey""".stripMargin

  /** q76: ordered string/array aggregation (LISTAGG / string_agg —
    * the ANSI 2016 feature every warehouse user reaches for): per
    * nation, its suppliers' names as one comma-joined SORTED string.
    * collect_list's order is partition-nondeterministic by design, so
    * the deterministic form is collect → array_sort → array_join —
    * exactly what DuckDB's string_agg(... ORDER BY ...) states
    * declaratively. Scale: the aggregate's state is the per-group
    * value list — safe when groups are bounded (25 nations); for
    * unbounded groups the q47 top-k heap shape is the right tool. */
  def q76Listagg(s: SparkSession, d: String): DataFrame = {
    val sup = Tables.supplier(s, d)
    val nat = Tables.nation(s, d)
    sup.join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        array_join(array_sort(collect_list(col("s_name"))), ",").as("suppliers"))
      .orderBy(col("n_name"))
  }

  val q76Sql: String =
    """SELECT n.n_name, COUNT(*) AS n_suppliers,
      | string_agg(s.s_name, ',' ORDER BY s.s_name) AS suppliers
      |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin

  /** q77: interval union / coverage — per user, total time covered by
    * the union of that user's event intervals [ts, ts + 10 min),
    * overlapping and touching intervals merged (the sweep-line
    * "merge overlapping intervals" analytic, distinct from q21's
    * gap-sessionization and q57's overlap JOIN). One window pass:
    * an interval opens a new island iff it starts strictly after the
    * running max end of all earlier intervals; islands then aggregate
    * as max(end) − min(start). All arithmetic on int64 ns — exact in
    * both engines. Scale: single window partitioned by the
    * high-cardinality user key; no self-join (the naive pairwise
    * overlap test is O(n²) per user). */
  def q77IntervalUnion(s: SparkSession, d: String): DataFrame = {
    val tenMinNs = 600000000000L
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        (col("ts") + lit(tenMinNs)).as("end_ns"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val isl = ev.withColumn("prev_max_end", max(col("end_ns")).over(w))
      .withColumn("new_island",
        when(col("prev_max_end").isNull || col("ts") > col("prev_max_end"), 1L)
          .otherwise(0L))
    val wid = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl.withColumn("island", sum(col("new_island")).over(wid))
      .groupBy(col("user_id"), col("island"))
      .agg(min(col("ts")).as("s0"), max(col("end_ns")).as("e1"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("e1") - col("s0")).as("covered_ns"))
      .orderBy(col("user_id"))
  }

  val q77Sql: String =
    """WITH iv AS (
      |  SELECT user_id, epoch_ns(ts) AS t, event_id,
      |   epoch_ns(ts) + 600000000000 AS end_ns
      |  FROM events),
      |marked AS (
      |  SELECT user_id, t, end_ns, event_id,
      |   CASE WHEN MAX(end_ns) OVER (PARTITION BY user_id ORDER BY t, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |     OR t > MAX(end_ns) OVER (PARTITION BY user_id ORDER BY t, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |    THEN 1 ELSE 0 END AS new_island
      |  FROM iv),
      |isl AS (
      |  SELECT user_id, t, end_ns,
      |   SUM(new_island) OVER (PARTITION BY user_id ORDER BY t, event_id
      |     ROWS UNBOUNDED PRECEDING) AS island
      |  FROM marked),
      |g AS (
      |  SELECT user_id, island, MIN(t) AS s0, MAX(end_ns) AS e1
      |  FROM isl GROUP BY user_id, island)
      |SELECT user_id, COUNT(*) AS n_islands,
      | CAST(SUM(e1 - s0) AS BIGINT) AS covered_ns
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q78: systematic PPS (probability-proportional-to-size) weighted
    * sampling — the weighted tier of the sampling family (q32 hash,
    * q38 stratified, tx19 mixture): walk the cumulative-weight axis
    * and take one unit each time it crosses a multiple of W/k, so
    * every order's selection probability is k·w/W and the sample size
    * is k ± 1 at ANY corpus size. Fully deterministic and integer-
    * exact: weights are cent units (round(price·100) — positive, so
    * HALF_UP ≡ away-from-zero in both engines), the crossing test is
    * (cum·k) div W > ((cum−w)·k) div W in int64 floor division.
    *
    * The running total is a DISTRIBUTED PREFIX SUM, not a global-order
    * window (which Catalyst plans as ONE partition — the classic
    * scale cliff of naive cumulative SQL): rows bucket by key range,
    * per-bucket sums aggregate small, the bucket-offset prefix is a
    * broadcast-sized scan, and the within-bucket window partitions by
    * bucket — every stage parallel. The oracle states the naive
    * global cumsum, which is the same number. */
  def q78PpsSample(s: SparkSession, d: String): DataFrame = {
    val k = 1000L
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 100) as long)").as("w"))
    // bucket width keeps |buckets| broadcast-sized at any SF while the
    // per-bucket window stays wide enough to parallelize
    val b = o.withColumn("bkt", expr("o_orderkey div 4096"))
    val offsets = b.groupBy(col("bkt")).agg(sum(col("w")).as("bsum"))
      .withColumn("off",
        coalesce(sum(col("bsum")).over(
          Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("bkt"), col("off"))
    val wInBkt = Window.partitionBy(col("bkt")).orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = b.join(broadcast(offsets), "bkt")
      .withColumn("cum", col("off") + sum(col("w")).over(wInBkt))
    val total = o.agg(sum(col("w"))).head().getLong(0) // driver scalar (q64 pattern)
    // int64 floor division (`div`) keeps the crossing test exact —
    // double division would round past 2^53. Headroom: cum·k must stay
    // < 2^63, which holds through ~10^15 total cents × k=1000 (well
    // past 100 TB of orders); beyond that, segment the weight axis or
    // widen the product to DECIMAL(38,0)
    cum.filter(expr(s"(cum * $k) div $total > ((cum - w) * $k) div $total"))
      .select(col("o_orderkey"), col("w"), col("cum"))
      .orderBy(col("o_orderkey"))
  }

  val q78Sql: String =
    """WITH w AS (
      |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS w
      |  FROM orders),
      |c AS (
      |  SELECT o_orderkey, w,
      |   SUM(w) OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM w),
      |t AS (SELECT CAST(SUM(w) AS BIGINT) AS total FROM w)
      |SELECT o_orderkey, w, CAST(cum AS BIGINT) AS cum
      |FROM c, t
      |WHERE (cum * 1000) // total > ((cum - w) * 1000) // total
      |ORDER BY o_orderkey""".stripMargin

  /** q79: cross-table constraint audit — the data-quality gate an
    * ingestion pipeline runs before publishing a corpus version:
    * referential integrity (orders→customer, lineitem→orders, via
    * anti-joins — never a row-by-row lookup), key uniqueness
    * (count vs distinct), domain checks (positive amounts, value
    * ranges) and null rates, one row per named check. Each check is
    * a partial-agg'd scan or a broadcast/shuffle anti-join; the
    * report is a fixed-size union. At 100 TB each check is exactly
    * as expensive as its underlying scan — nothing quadratic, and
    * independent checks share nothing so a scheduler can run them
    * concurrently. */
  def q79ConstraintAudit(s: SparkSession, d: String): DataFrame =
    constraintAudit(Tables.orders(s, d), Tables.lineitem(s, d),
      Tables.customer(s, d))

  /** The audit over arbitrary frames (spec feeds planted-violation
    * fixtures; the clean driver corpus must report all-zero). Each
    * base table is scanned ONCE for all its row-level checks: the FK
    * flag rides a left join against the (distinct) referenced keys and
    * every violation count is a conditional sum in the SAME aggregate
    * that computes n_checked — no standalone count() actions, which
    * would otherwise re-scan orders and lineitem once per label. Key
    * uniqueness is the one check needing its own (two-phase,
    * single-column) pass, and its n_checked = Σ group sizes rides
    * that aggregate too. */
  def constraintAudit(o: DataFrame, li: DataFrame, c: DataFrame): DataFrame = {
    def rows3(agg: DataFrame, stack: String): DataFrame =
      agg.selectExpr(s"stack($stack) AS (check_name, n_violations, n_checked)")
    val liAgg = li
      .join(o.select(col("o_orderkey").as("fk_ok")).distinct(),
        li("l_orderkey") === col("fk_ok"), "left_outer")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("fk_ok").isNull, 1L).otherwise(0L)), lit(0L)).as("fk"),
        coalesce(sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)), lit(0L)).as("qty"),
        coalesce(sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)), lit(0L))
          .as("nulldate"))
    val oAgg = o
      .join(c.select(col("c_custkey").as("fk_ck")).distinct(),
        o("o_custkey") === col("fk_ck"), "left_outer")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("fk_ck").isNull, 1L).otherwise(0L)), lit(0L)).as("fk"),
        coalesce(sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)), lit(0L))
          .as("price"))
    val dupRow = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("nk"))
      .agg(coalesce(sum(when(col("nk") > 1, 1L).otherwise(0L)), lit(0L)).as("dups"),
        coalesce(sum(col("nk")), lit(0L)).as("n"))
      .select(lit("orders_key_unique").as("check_name"),
        col("dups").as("n_violations"), col("n").as("n_checked"))
    rows3(liAgg,
      """3, 'lineitem_orderkey_fk', fk, n,
        | 'lineitem_qty_range', qty, n,
        | 'lineitem_shipdate_null', nulldate, n""".stripMargin)
      .union(rows3(oAgg,
        """2, 'orders_custkey_fk', fk, n,
          | 'orders_price_positive', price, n""".stripMargin))
      .union(dupRow)
      .orderBy(col("check_name"))
  }

  val q79Sql: String =
    """SELECT 'lineitem_orderkey_fk' AS check_name,
      | (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
      |   (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_violations,
      | (SELECT COUNT(*) FROM lineitem) AS n_checked
      |UNION ALL SELECT 'lineitem_qty_range',
      | (SELECT COUNT(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50),
      | (SELECT COUNT(*) FROM lineitem)
      |UNION ALL SELECT 'lineitem_shipdate_null',
      | (SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL),
      | (SELECT COUNT(*) FROM lineitem)
      |UNION ALL SELECT 'orders_custkey_fk',
      | (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
      |   (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      | (SELECT COUNT(*) FROM orders)
      |UNION ALL SELECT 'orders_key_unique',
      | (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
      |    GROUP BY o_orderkey HAVING COUNT(*) > 1)),
      | (SELECT COUNT(*) FROM orders)
      |UNION ALL SELECT 'orders_price_positive',
      | (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0),
      | (SELECT COUNT(*) FROM orders)
      |ORDER BY check_name""".stripMargin

  /** q80: longest consecutive-day activity streak per user — the
    * run-length form of gaps-and-islands (q21 sessionizes by time gap,
    * q77 unions intervals; this counts maximal runs of adjacent
    * ACTIVE DAYS, the retention metric "longest daily streak"). The
    * classic day − row_number() island key makes consecutive days
    * share a group; all integer day arithmetic ⇒ bit-exact. One
    * distinct (the (user, day) collapse bounds everything downstream
    * by active-days, not events), one window, two partial-agg'd
    * groupBys — all partitioned by the high-cardinality user key. */
  def q80LongestStreak(s: SparkSession, d: String): DataFrame = {
    val dayNs = 86400000000000L
    val days = Tables.events(s, d)
      .select(col("user_id"), expr(s"ts div $dayNs").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days.withColumn("grp", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        sum(col("len")).as("n_active_days"))
      .orderBy(col("user_id"))
  }

  val q80Sql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
      |  FROM events),
      |g AS (
      |  SELECT user_id, day,
      |   day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM d),
      |s AS (SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY 1, 2)
      |SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
      | CAST(SUM(len) AS BIGINT) AS n_active_days
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q81: deterministic seeded corpus shuffle — the reproducible
    * training-order permutation every pretraining run applies after
    * curation (the last member of the sampling/packing family: q32
    * holdout, q38 strata, q78 PPS, tx12 pack, tx19 mixture — this one
    * ORDERS the kept corpus). The permutation key is md5(seed ‖ ':' ‖
    * doc_id): change the seed, get an independent order; rerun the
    * same seed, get bit-identical batches on any cluster size.
    *
    * The global position is NEVER a single-partition sort: the key's
    * leading hex byte is its most-significant range, so bucketing on
    * it makes bucket-order concatenation ≡ global key order — q78's
    * distributed-prefix-sum recipe applied to row COUNTS. Per-bucket
    * counts aggregate to a 256-row broadcast offset prefix; each row's
    * position is its bucket offset + its rank within the
    * bucket-partitioned window. At 100 TB this is one hash shuffle on
    * bkt (≈ corpus/256 per reducer, AQE-splittable) + a KB-sized
    * prefix — the physical write order for training shards falls out
    * of writing the buckets in key order. The oracle states the naive
    * global row_number(), which is the same coordinate. */
  def q81CorpusShuffle(s: SparkSession, d: String): DataFrame = {
    val seed = 42
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat(lit(s"$seed:"), col("doc_id").cast("string"))).as("skey"))
    val b = keyed.withColumn("bkt",
      expr("conv(substring(skey, 1, 2), 16, 10)").cast("long"))
    val offsets = b.groupBy(col("bkt")).agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(
        Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("bkt"), col("off"))
    val wInBkt = Window.partitionBy(col("bkt")).orderBy(col("skey"), col("doc_id"))
    b.join(broadcast(offsets), "bkt")
      .withColumn("pos", col("off") + row_number().over(wInBkt))
      .select(col("pos"), col("doc_id"), col("skey"))
      .orderBy(col("pos"))
  }

  /** Same md5 text in DuckDB (lowercase hex in both engines — the
    * q32/q38 sampling convention); the naive global window states the
    * coordinate the distributed plan computes. */
  val q81Sql: String =
    """WITH k AS (
      |  SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS skey
      |  FROM documents)
      |SELECT CAST(row_number() OVER (ORDER BY skey, doc_id) AS BIGINT) AS pos,
      | doc_id, skey
      |FROM k ORDER BY pos""".stripMargin

  /** q82: rolling z-score anomaly detection — each (event_type, day)'s
    * total scored against its own trailing 7-day window (q35's moving
    * average extended to second moments: mean AND variance per frame,
    * the monitoring primitive behind "today's volume is 3σ off
    * trend"). The RANGE frame over the integer day index handles
    * calendar gaps (6 PRECEDING means six calendar days, not six
    * rows). Bit-exact cross-engine: daily totals and both window
    * power sums Σv, Σv² accumulate in DECIMAL (order-independent),
    * convert once via the string hop (a direct decimal→double cast
    * double-rounds past ~16 significant digits — q54's lesson), and
    * mean/std/z come from ONE fixed IEEE tree stated identically in
    * both engines; greatest(·,0) guards the catastrophic-cancellation
    * corner where var underflows to −ε. The SQUARE is pinned exact on
    * both engines (ADVICE r7): the operands are first cast down so the
    * product carries its full scale-12 value with NO rounding anywhere
    * — Spark squares DECIMAL(16,6) operands into an exact (33,12)
    * (inside the 38-digit cap, so the precision-loss rule never fires,
    * where squaring the raw DECIMAL(28,6) daily total was silently
    * rounded back to 6 dp), and the oracle squares DECIMAL(19,6)
    * operands into an exact int128-backed (38,12) (a (16,6) operand
    * pair overflows DuckDB's int64 multiply path). Exact ⇒ equal,
    * whatever each engine's result scale prints as — invisible on
    * ≤2-dp value data, a hash flake on anything finer. Data contract
    * of the (16,6) hop: |daily total| < 10^10, i.e. the narrowing cast
    * itself is exact — orders of magnitude of headroom on per-(type,
    * day) sums of unit-scale values.
    * z is NULL until the frame has
    * ≥ 4 days and a positive spread — a 1-day-old series has no trend
    * to deviate from. Plan: one partial-agg'd scan to |types|×|days|
    * rows, one window over the tiny aggregate — the fact table is
    * never window-sorted. */
  def q82RollingZscore(s: SparkSession, d: String): DataFrame = {
    val dayNs = 86400000000000L
    zscoreOf(Tables.events(s, d)
      .groupBy(col("event_type"), expr(s"ts div $dayNs").as("day"))
      .agg(sum(col("value").cast("double").cast(DecimalType(18, 6))).as("v_dec")))
  }

  /** q82's scoring sub-chain alone, over any (event_type, day, v_dec)
    * daily series — extracted (round 8) so st14 can run the IDENTICAL
    * decimal power sums + IEEE tree over a STREAMING-committed day
    * mart: one scoring definition, two execution paths, one oracle
    * algebra. */
  private[graft] def zscoreOf(daily: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("n7", count(lit(1)).over(w))
      .withColumn("s1", sum(col("v_dec")).over(w))
      .withColumn("v16", col("v_dec").cast(DecimalType(16, 6)))
      .withColumn("s2", sum(col("v16") * col("v16")).over(w))
      .selectExpr("event_type", "day",
        "cast(cast(v_dec as string) as double) as day_value", "n7",
        "cast(cast(s1 as string) as double) as s1d",
        "cast(cast(s2 as string) as double) as s2d")
      .selectExpr("event_type", "day", "day_value", "n7",
        "s1d / n7 as mean7",
        "sqrt(greatest(s2d / n7 - (s1d / n7) * (s1d / n7), 0.0)) as std7")
      .selectExpr("event_type", "day", "day_value", "n7", "mean7", "std7",
        "case when n7 >= 4 and std7 > 0.0 then (day_value - mean7) / std7 end as z")
      .withColumn("is_anomaly",
        coalesce(abs(col("z")) > 2.0, lit(false)))
      .orderBy(col("event_type"), col("day"))
  }

  val q82Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |   SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(18,6))) AS v_dec
      |  FROM events GROUP BY 1, 2),
      |win AS (
      |  SELECT event_type, day, v_dec,
      |   COUNT(*) OVER w AS n7, SUM(v_dec) OVER w AS s1,
      |   SUM(CAST(v_dec AS DECIMAL(19,6)) * CAST(v_dec AS DECIMAL(19,6))) OVER w AS s2
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)),
      |hop AS (
      |  SELECT event_type, day,
      |   CAST(CAST(v_dec AS VARCHAR) AS DOUBLE) AS day_value,
      |   CAST(n7 AS BIGINT) AS n7,
      |   CAST(CAST(s1 AS VARCHAR) AS DOUBLE) AS s1d,
      |   CAST(CAST(s2 AS VARCHAR) AS DOUBLE) AS s2d
      |  FROM win),
      |m AS (
      |  SELECT event_type, day, day_value, n7,
      |   s1d / n7 AS mean7,
      |   sqrt(greatest(s2d / n7 - (s1d / n7) * (s1d / n7), 0.0)) AS std7
      |  FROM hop)
      |SELECT event_type, day, day_value, n7, mean7, std7,
      | CASE WHEN n7 >= 4 AND std7 > 0.0 THEN (day_value - mean7) / std7 END AS z,
      | coalesce(abs(CASE WHEN n7 >= 4 AND std7 > 0.0
      |                   THEN (day_value - mean7) / std7 END) > 2.0,
      |          FALSE) AS is_anomaly
      |FROM m ORDER BY event_type, day""".stripMargin

  /** q83: EXACT weighted median per group (revenue-weighted "typical
    * price" — the weighted tier of the quantile family: q14 exact
    * unweighted, q37/q67 sketched; a weighted median is what "half the
    * QUANTITY trades at or below this price" means). Lower weighted
    * median: smallest value v with cumweight(≤ v) ≥ ⌈W/2⌉, integer
    * cent values × integer weights ⇒ bit-exact.
    *
    * The naive plan is a per-group ORDER BY value window over the FACT
    * table — with few groups that is a handful of giant sorted
    * partitions (the q78 cliff, per-group). Instead, two-phase domain
    * bucketing: (1) one partial-agg'd scan to (group, value-bucket)
    * weight sums — a DOMAIN-sized aggregate, independent of row count
    * — whose per-group running total locates the one bucket containing
    * the crossing; (2) a second scan prunes to rows IN that bucket per
    * group (broadcast semi-join filter), and the exact crossing walks
    * the tiny within-bucket value ladder. No fact-table sort at any
    * point; every window rides domain-bounded aggregates. */
  def q83WeightedMedian(s: SparkSession, d: String): DataFrame = {
    val BucketCents = 16384L
    val base = Tables.lineitem(s, d).select(
      col("l_returnflag").as("grp"),
      expr("cast(round(l_extendedprice * 100) as long)").as("v"),
      expr("cast(l_quantity as long)").as("wt"))
    val bucketed = base.withColumn("bkt", expr(s"v div $BucketCents"))
    val bsum = bucketed.groupBy(col("grp"), col("bkt")).agg(sum(col("wt")).as("bw"))
    val wg = Window.partitionBy(col("grp"))
    val wc = Window.partitionBy(col("grp")).orderBy(col("bkt"))
    // target = the first bucket whose running weight reaches ⌈W/2⌉;
    // off = weight strictly below it — all on the domain aggregate
    val marked = bsum
      .withColumn("tw", sum(col("bw")).over(wg))
      .withColumn("cw", sum(col("bw")).over(wc))
      .withColumn("target", expr("(tw + 1) div 2"))
      .filter(col("cw") >= col("target"))
      .groupBy(col("grp"))
      .agg(min_by(struct(col("bkt"), (col("cw") - col("bw")).as("off"),
        col("target"), col("tw")), col("bkt")).as("t"))
      .select(col("grp"), col("t.bkt").as("bkt"), col("t.off").as("off"),
        col("t.target").as("target"), col("t.tw").as("tw"))
    val wv = Window.partitionBy(col("grp")).orderBy(col("v"))
    bucketed.join(broadcast(marked), Seq("grp", "bkt"))
      .groupBy(col("grp"), col("v"), col("off"), col("target"), col("tw"))
      .agg(sum(col("wt")).as("wsum"))
      .withColumn("cum", col("off") + sum(col("wsum")).over(wv))
      .filter(col("cum") >= col("target"))
      .groupBy(col("grp"))
      .agg(min(col("v")).as("median_cents"), max(col("tw")).as("total_weight"))
      .orderBy(col("grp"))
  }

  /** The naive global-window statement of the same crossing. */
  val q83Sql: String =
    """WITH w AS (
      |  SELECT l_returnflag AS grp,
      |   CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
      |   CAST(l_quantity AS BIGINT) AS wt
      |  FROM lineitem),
      |c AS (SELECT grp, v, CAST(SUM(wt) AS BIGINT) AS wv FROM w GROUP BY grp, v),
      |t AS (SELECT grp, CAST(SUM(wv) AS BIGINT) AS tw FROM c GROUP BY grp),
      |cum AS (
      |  SELECT grp, v, CAST(SUM(wv) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cw
      |  FROM c)
      |SELECT cum.grp AS grp, MIN(v) AS median_cents, MAX(t.tw) AS total_weight
      |FROM cum JOIN t ON cum.grp = t.grp
      |WHERE cw >= (t.tw + 1) // 2
      |GROUP BY cum.grp
      |ORDER BY grp""".stripMargin

  /** q84: incremental JOIN-view maintenance — the join-algebra leg of
    * the IVM family (q40 maintains aggregates, q59 applies MERGE; this
    * maintains a materialized equi-JOIN under two-sided inserts):
    *   (O ∪ ΔO) ⋈ (C ∪ ΔC) = V ∪ ΔO⋈C ∪ O⋈ΔC ∪ ΔO⋈ΔC
    * so refreshing the standing view V costs three DELTA-sized joins —
    * each with one sliver side, broadcastable at real delta rates —
    * and never re-joins base×base. The deltas are the reproducible md5
    * split (q32's trick: orders/customers whose key hashes to a '0'
    * first digit play the nightly batch). V itself is a WRITE-ONCE
    * PARQUET LAYOUT (round 8 — VERDICT r7 #2: the round-7 form
    * localCheckpointed V, which kept maintenance off the view's
    * LINEAGE but still re-derived V from the base tables on every
    * invocation; the cost claim was demonstrated inside one job, not
    * realized across runs). The view is built once per corpus version
    * under LayoutStore.layoutKey (keyed on BOTH source parquets — a refresh
    * of either invalidates it) and the maintenance query reads it at
    * rest: per-refresh cost is one view scan + three delta-sized
    * joins, with no base-orders⋈base-customer join anywhere in the
    * plan (ExplainSpec pins exactly three joins + the layout scan).
    * Oracle = the full recompute stated in SQL; bit-identical because
    * a join of exact columns is set algebra — the three delta terms
    * partition exactly the rows the full join adds. */
  private def q84Splits(s: SparkSession, d: String) = {
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice"))
    val c = Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
      col("c_mktsegment"))
    val oDelta = substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0"
    val cDelta = substring(md5(col("c_custkey").cast("string")), 1, 1) === "0"
    (o.filter(!oDelta), o.filter(oDelta), c.filter(!cDelta), c.filter(cDelta))
  }

  private def q84Join(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
        col("c_mktsegment"), col("o_totalprice"))

  /** Build-if-missing standing view V = base-orders ⋈ base-customer,
    * published via the atomic layout convention. Keyed on the
    * size/mtime of BOTH inputs: layoutKey fingerprints orders, the
    * params token appends customer's raw fingerprint. */
  private[graft] def q84StandingViewPath(s: SparkSession, d: String): String = {
    val (cLen, cMtime) = LayoutStore.sourceStat(s, s"$d/customer.parquet")
    LayoutStore.cached(s, "graft_ivmview", d, "orders", s"v1c$cLen-$cMtime") { tmp =>
      val (oBase, _, cBase, _) = q84Splits(s, d)
      q84Join(oBase, cBase).write.parquet(tmp)
    }
  }

  def q84IncrementalJoin(s: SparkSession, d: String): DataFrame = {
    val standing = Tables.parquet(s, q84StandingViewPath(s, d)) // the view at rest
    val (oBase, oNew, cBase, cNew) = q84Splits(s, d)
    standing
      .union(q84Join(oNew, cBase))
      .union(q84Join(oBase, cNew))
      .union(q84Join(oNew, cNew))
      .orderBy(col("o_orderkey"))
  }

  val q84Sql: String =
    """SELECT o_orderkey, o_custkey, c_name, c_mktsegment, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** q85: EXACT equi-depth histogram boundaries — the statistics a
    * cost-based optimizer collects (q42 buckets the VALUE axis
    * equi-width; this buckets the POPULATION equi-depth: boundary k =
    * the value at rank ⌈k·N/B⌉, so each of the B buckets holds the
    * same row count). q83's two-phase domain bucketing generalized to
    * B simultaneous rank targets: one partial-agg'd scan → domain
    * bucket counts, whose running total locates every target's
    * crossing bucket at once (a 16-row broadcast); the second scan
    * prunes to the ≤ B crossing buckets, and each boundary is the
    * smallest value whose cumulative count reaches its rank — windows
    * partition by target k, so even the crossing walk is parallel.
    * Integer cents + integer ranks ⇒ bit-exact; ties are harmless
    * (the VALUE at a rank is well-defined however equal values are
    * ordered). No global sort of fact rows at any point — the naive
    * plan (row_number over ORDER BY value) is one partition of the
    * whole table. */
  def q85EquiDepthHist(s: SparkSession, d: String): DataFrame =
    equiDepthBoundaries(
      Tables.lineitem(s, d)
        .select(expr("cast(round(l_extendedprice * 100) as long)").as("v")),
      buckets = 16, bucketWidth = 16384L)

  /** The boundary machinery over any single LONG column `v` — exposed
    * for the ties spec (l_quantity: 50 distinct values across
    * thousands of rows, so every boundary lands inside a tie run).
    * Thin single-metric view of [[equiDepthBoundariesMulti]] — one
    * machinery, so q85 and q92 cannot drift. */
  private[graft] def equiDepthBoundaries(values: DataFrame, buckets: Int,
      bucketWidth: Long): DataFrame =
    equiDepthBoundariesMulti(
      values.select(lit("v").as("metric"), col("v")), buckets,
      Seq("v" -> bucketWidth))
      .drop("metric")

  /** MULTI-METRIC equi-depth boundaries in ONE pass pair (round 9 —
    * VERDICT r8 #5: q92 ran the whole machinery once per R/F/M metric,
    * three separate count+domain+target passes over the same customer
    * aggregate). Input is the unpivoted (metric, v) long form; each
    * metric carries its own domain-bucket width (the per-metric scale
    * knob — recency is small-integer days, monetary is cents). All
    * metrics' B rank targets resolve together:
    *   pass 1 — ONE partial-agg'd scan to the per-(metric, bkt) domain
    *     aggregate (tiny, cached); per-metric totals ride it as
    *     max(cum), so the old separate count() pass is gone entirely;
    *   pass 2 — only rows in each target's own domain bucket join back
    *     (broadcast of B×|metrics| target rows) and a per-(metric, k)
    *     window walks the within-bucket value counts to the exact rank
    *     crossing.
    * Windows partition by metric / (metric, k) over DOMAIN AGGREGATES
    * only — the input relation is never globally sorted (q85's
    * argument, metric-parallel). */
  private[graft] def equiDepthBoundariesMulti(values: DataFrame, buckets: Int,
      widths: Seq[(String, Long)]): DataFrame = {
    val s = values.sparkSession
    import s.implicits._
    val wdf = widths.toDF("metric", "w")
    val bucketed = values.join(broadcast(wdf), "metric")
      .withColumn("bkt", expr("v div w"))
    val wc = Window.partitionBy(col("metric")).orderBy(col("bkt"))
    // materialized once: the domain aggregate feeds the per-metric
    // totals AND the target resolution — without the barrier each
    // reference re-scans the input relation (the dd8 fan-out lesson).
    // localCheckpoint, not cache (round 11 — ADVICE r9): the blocks
    // free with the RDD's GC instead of accumulating in the session
    // cache manager for its lifetime; the aggregate is
    // |metrics|×|domain buckets| rows, executor-trivial either way
    val cumB = bucketed.groupBy(col("metric"), col("bkt")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wc))
      .localCheckpoint()
    val ks = cumB.groupBy(col("metric")).agg(max(col("cum")).as("n"))
      .crossJoin(s.range(1, buckets + 1).select(col("id").as("k")))
      .select(col("metric"), col("k"),
        expr(s"(k * n + ${buckets - 1}) div $buckets").as("rk"))
    val targets = ks.join(cumB, Seq("metric")).filter(col("cum") >= col("rk"))
      .groupBy(col("metric"), col("k"), col("rk"))
      .agg(min_by(struct(col("bkt"), (col("cum") - col("c")).as("off")), col("bkt")).as("t"))
      .select(col("metric"), col("k"), col("rk"),
        col("t.bkt").as("bkt"), col("t.off").as("off"))
    val wv = Window.partitionBy(col("metric"), col("k")).orderBy(col("v"))
    bucketed.join(broadcast(targets), Seq("metric", "bkt"))
      .groupBy(col("metric"), col("k"), col("rk"), col("off"), col("v"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", col("off") + sum(col("c")).over(wv))
      .filter(col("cum") >= col("rk"))
      .groupBy(col("metric"), col("k"))
      .agg(min(col("rk")).as("target_rank"), min(col("v")).as("boundary"))
      .select(col("metric"), col("k").as("bucket"), col("target_rank"), col("boundary"))
      .orderBy(col("metric"), col("bucket"))
  }

  /** The naive global row_number statement of the same boundaries. */
  val q85Sql: String =
    """WITH w AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
      |n AS (SELECT COUNT(*) AS c FROM w),
      |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM w),
      |ks AS (SELECT unnest(generate_series(1, 16)) AS k)
      |SELECT ks.k AS bucket,
      | CAST((ks.k * n.c + 15) // 16 AS BIGINT) AS target_rank,
      | r.v AS boundary
      |FROM ks, n
      |JOIN r ON r.rn = (ks.k * n.c + 15) // 16
      |ORDER BY bucket""".stripMargin

  /** q86: CUSUM CHANGEPOINT detection per event_type — the day where
    * the cumulative deviation from the series mean peaks (the level-
    * shift detector a monitoring pipeline runs beside q82's rolling
    * z-score: z flags outlier DAYS, CUSUM flags the day the regime
    * CHANGED). Exactness is the whole design: the mean μ = T/n would
    * be an early IEEE divide, so the deviation is scaled by n —
    * dev_d = n·S_d − i·T (S_d = prefix sum, i = day index, T = total,
    * all exact DECIMAL; n·μ-centered CUSUM without ever dividing) —
    * and the argmax over |dev_d| compares exact decimals, so the
    * chosen day is bit-determined; ONE final divide states the peak
    * in natural units. Widths pinned on BOTH engines: operands cast
    * to (28,6)×(6,0) so products stay (34,6) ≤ 38 digits exact —
    * DuckDB's window SUM widens to (38,6) and Spark's to (28,6), so
    * without the down-cast one engine would overflow-round where the
    * other doesn't (q82's lesson at the multiply). Ties → earliest
    * day (max_by struct with negated index ≡ rank ORDER BY abs DESC,
    * day ASC). Plan: one partial-agg'd scan to |types|×|days| rows;
    * windows + argmax ride the tiny aggregate — the fact table is
    * never window-sorted (q82's shape). */
  def q86Changepoint(s: SparkSession, d: String): DataFrame = {
    val dayNs = 86400000000000L
    changepointOf(Tables.events(s, d)
      .groupBy(col("event_type"), expr(s"ts div $dayNs").as("day"))
      .agg(sum(col("value").cast("double").cast(DecimalType(18, 6))).as("v")))
  }

  /** The scaled-CUSUM argmax alone, over any (event_type, day, v)
    * daily series — extracted so the spec can drive it with planted
    * level shifts and tie fixtures (q85's boundary-helper policy). */
  private[graft] def changepointOf(daily: DataFrame): DataFrame = {
    val ord = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val whole = Window.partitionBy(col("event_type"))
    val scored = daily
      .withColumn("s", sum(col("v")).over(ord).cast(DecimalType(28, 6)))
      .withColumn("i", row_number().over(ord).cast(DecimalType(6, 0)))
      .withColumn("t", sum(col("v")).over(whole).cast(DecimalType(28, 6)))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("dev",
        col("n").cast(DecimalType(6, 0)) * col("s") - col("i") * col("t"))
    scored.groupBy(col("event_type"))
      .agg(
        max_by(struct(col("day"), col("dev")),
          struct(abs(col("dev")), (-col("i")).cast(DecimalType(7, 0)))).as("m"),
        max(col("n")).as("n_days"))
      .selectExpr("event_type", "m.day as change_day", "n_days",
        "cast(cast(m.dev as string) as double) / cast(n_days as double) as cusum_peak")
      .orderBy(col("event_type"))
  }

  /** Same scaled-deviation algebra in DuckDB: window sums down-cast to
    * the shared (28,6)/(6,0) operand widths before the multiply, rank
    * window restates max_by's (|dev| desc, day asc) tie rule, one
    * final double divide. */
  val q86Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |   SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(18,6))) AS v
      |  FROM events GROUP BY 1, 2),
      |scored AS (
      |  SELECT event_type, day,
      |   CAST(COUNT(*) OVER p AS DECIMAL(6,0)) * CAST(SUM(v) OVER o AS DECIMAL(28,6))
      |    - CAST(row_number() OVER o AS DECIMAL(6,0)) * CAST(SUM(v) OVER p AS DECIMAL(28,6)) AS dev,
      |   COUNT(*) OVER p AS n
      |  FROM daily
      |  WINDOW o AS (PARTITION BY event_type ORDER BY day),
      |         p AS (PARTITION BY event_type)),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |                               ORDER BY abs(dev) DESC, day) AS rk
      |  FROM scored)
      |SELECT event_type, day AS change_day, CAST(n AS BIGINT) AS n_days,
      | CAST(CAST(dev AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS cusum_peak
      |FROM ranked WHERE rk = 1
      |ORDER BY event_type""".stripMargin

  /** q87: CONTRIBUTION decomposition — "revenue moved from 1999 to
    * 2000; WHICH (segment × priority) cells drove it?", the root-cause
    * breakdown an analytics engine answers right after q86 says a
    * shift happened (CUSUM finds WHEN, this finds WHO). Per cell:
    * exact revenue in each period, the exact DECIMAL delta, its signed
    * share of the total change, ranked by |delta|. Exactness: period
    * revenues are conditional DECIMAL sums in ONE pass (a per-period
    * scan would read orders twice), delta and total stay DECIMAL
    * (order-independent), the rank compares exact decimals with a
    * (|delta| desc, segment, priority) tie rule, and the only IEEE
    * ops are the final string-hop casts and ONE shared divide for the
    * share — both engines run the identical tree, so every row
    * hashes. Plan at 100 TB: the year filter pushes to the orders
    * scan, the customer join shuffles on custkey (dimension scales
    * with the fact — q03's non-broadcast call), the conditional agg
    * partial-combines to |segments×priorities| rows map-side, and the
    * total + rank both ride GLOBAL windows over that tiny aggregate —
    * windows, not a second aggregate branch, because a separate
    * `cells.agg(sum)` branch re-derives the whole scan+join pipeline
    * (the plan literally scans orders twice); one single-partition
    * exchange of 25 rows is free, a doubled 100 TB scan is not. */
  def q87Contribution(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(18, 6)
    def rev(yr: Int): Column =
      sum(when(col("yr") === yr, col("o_totalprice").cast(dec))
        .otherwise(lit(0).cast(dec)))
    val o = Tables.orders(s, d)
      .withColumn("yr", year(col("o_orderdate")))
      .filter(col("yr").isin(1999, 2000))
      .select(col("o_custkey"), col("o_orderpriority"), col("o_totalprice"), col("yr"))
    val cells = o
      .join(Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"),
        col("o_orderpriority").as("priority"))
      .agg(rev(1999).as("rev_a"), rev(2000).as("rev_b"))
      .withColumn("delta", col("rev_b") - col("rev_a"))
    val rk = Window.orderBy(abs(col("delta")).desc, col("segment"), col("priority"))
    cells
      .withColumn("total_delta", sum(col("delta")).over(Window.partitionBy()))
      .withColumn("rank", row_number().over(rk).cast("long"))
      .selectExpr("rank", "segment", "priority",
        "cast(cast(rev_a as string) as double) as rev_a",
        "cast(cast(rev_b as string) as double) as rev_b",
        "cast(cast(delta as string) as double) as delta",
        "cast(cast(delta as string) as double) / cast(cast(total_delta as string) as double) as share_of_change")
      .orderBy(col("rank"))
  }

  /** The same one-pass conditional-sum decomposition; DECIMAL widths
    * agree at (18,6) per term so both engines' sums are exact, and the
    * share divide happens on the same string-hopped doubles. */
  val q87Sql: String =
    """WITH cells AS (
      |  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
      |   SUM(CASE WHEN year(o_orderdate) = 1999
      |            THEN CAST(o_totalprice AS DECIMAL(18,6))
      |            ELSE CAST(0 AS DECIMAL(18,6)) END) AS rev_a,
      |   SUM(CASE WHEN year(o_orderdate) = 2000
      |            THEN CAST(o_totalprice AS DECIMAL(18,6))
      |            ELSE CAST(0 AS DECIMAL(18,6)) END) AS rev_b
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE year(o_orderdate) IN (1999, 2000)
      |  GROUP BY 1, 2),
      |d AS (SELECT *, rev_b - rev_a AS delta FROM cells),
      |t AS (SELECT SUM(delta) AS total_delta FROM d)
      |SELECT CAST(row_number() OVER (ORDER BY abs(delta) DESC, segment, priority) AS BIGINT) AS "rank",
      | segment, priority,
      | CAST(CAST(rev_a AS VARCHAR) AS DOUBLE) AS rev_a,
      | CAST(CAST(rev_b AS VARCHAR) AS DOUBLE) AS rev_b,
      | CAST(CAST(delta AS VARCHAR) AS DOUBLE) AS delta,
      | CAST(CAST(delta AS VARCHAR) AS DOUBLE) / CAST(CAST(total_delta AS VARCHAR) AS DOUBLE) AS share_of_change
      |FROM d, t
      |ORDER BY "rank"""".stripMargin

  /** q89: PARETO FRONT (skyline) — the parts no other part beats on
    * BOTH axes (cheaper-or-equal price AND larger-or-equal size, strict
    * somewhere): the multi-objective shortlist query ("show me the
    * efficient frontier") that no single ORDER BY can express. The 2-D
    * front has an exact one-sweep characterization this plan exploits
    * instead of the naive NOT-EXISTS self-join: a part (p, s) is
    * non-dominated iff (a) s exceeds the best size among STRICTLY
    * cheaper parts and (b) s equals the best size AT its own price —
    * (a) kills any strictly-cheaper dominator (price already strict),
    * (b) kills any same-price larger one (size strict), and equal
    * (price, size) duplicates dominate nothing (no strict axis) so
    * both stay on the front. Membership is pure comparison on STORED
    * values — no arithmetic, so both engines pick bit-identical rows.
    * Plan: groupBy(price) collapses the fact to |distinct prices| rows
    * map-side; the running best-of-cheaper is a window over that
    * aggregate ordered by price (ROWS … 1 PRECEDING = strictly-cheaper
    * groups, because rows ARE price groups) — q82's window-rides-the-
    * aggregate shape, never sorting the fact; the surviving front
    * prices (a monotone staircase, ≤ |distinct sizes| rows by
    * construction — each must raise the running max) broadcast back
    * onto the fact scan as a join filter. At 100 TB with a dense price
    * domain, pre-bucket the price axis (q81's range-bucket trick) and
    * prune whole buckets whose best size loses to a cheaper bucket's
    * running max before the exact sweep. */
  def q89ParetoFront(s: SparkSession, d: String): DataFrame =
    paretoFrontOf(Tables.part(s, d))

  /** The staircase sweep alone, over any parts-shaped relation —
    * extracted so the spec can drive it with hand-built dominance
    * fixtures (q85's boundary-helper policy). */
  private[graft] def paretoFrontOf(part: DataFrame): DataFrame = {
    val grp = part.groupBy(col("p_retailprice").as("price"))
      .agg(max(col("p_size")).as("gmax"))
    val w = Window.orderBy(col("price")).rowsBetween(Window.unboundedPreceding, -1)
    val front = grp
      .withColumn("run_before", max(col("gmax")).over(w))
      .filter(col("run_before").isNull || col("gmax") > col("run_before"))
      .select(col("price"), col("gmax"))
    part.join(broadcast(front),
        col("p_retailprice") === col("price") && col("p_size") === col("gmax"))
      .select(col("p_partkey"), col("p_brand"),
        col("p_size").cast("long").as("p_size"), col("p_retailprice"))
      .orderBy(col("p_retailprice"), col("p_partkey"))
  }

  /** Same staircase sweep in DuckDB; p_size cast to BIGINT on both
    * sides (Spark INT vs DuckDB widening, q53's pin). The double
    * equality joins compare STORED bit patterns — no arithmetic ever
    * touches the values. */
  val q89Sql: String =
    """WITH g AS (
      |  SELECT p_retailprice AS price, MAX(p_size) AS gmax
      |  FROM part GROUP BY 1),
      |r AS (
      |  SELECT price, gmax,
      |   MAX(gmax) OVER (ORDER BY price
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run_before
      |  FROM g),
      |f AS (SELECT price, gmax FROM r
      |      WHERE run_before IS NULL OR gmax > run_before)
      |SELECT p.p_partkey, p.p_brand, CAST(p.p_size AS BIGINT) AS p_size,
      | p.p_retailprice
      |FROM part p JOIN f ON p.p_retailprice = f.price AND p.p_size = f.gmax
      |ORDER BY p.p_retailprice, p.p_partkey""".stripMargin

  /** q90: MULTI-TOUCH ATTRIBUTION — the credit-assignment table
    * behind "which clicks get credit for this purchase": for each
    * purchase, the user's clicks in the trailing 1-hour window (st5's
    * interval-join semantics, exact INT64-ns arithmetic — the batch
    * twin of the streaming attribution pipeline in §2.F) share the
    * conversion equally. Emits the ASSIGNMENT (purchase, click,
    * n_touches, recency rank, credit = 1/n) rather than per-click
    * credit SUMS — deliberately: credit is ONE shared IEEE divide per
    * row (bit-exact on both engines), while summing 1/n doubles across
    * purchases would be partition-order-dependent; a consumer
    * re-aggregates in DECIMAL at whatever grain it needs. Recency rank
    * ties break on click_id — bit-determined. Plan at 100 TB: the two
    * type filters push to the scan; the interval join is a user_id
    * hash join with the time band as a residual (never a cartesian;
    * bot-user skew → AQE skew-split, q48's salting as the manual
    * fallback); both windows partition by purchase_id — millions of
    * tiny partitions, nothing global. */
  def q90Attribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("ts").as("cts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("ts").as("pts"))
    val hourNs = 3600L * 1000000000L
    val pairs = clicks.join(purchases,
      col("cu") === col("pu") && col("pts") >= col("cts") &&
        col("pts") <= col("cts") + lit(hourNs))
    val wp = Window.partitionBy(col("purchase_id"))
    val wr = Window.partitionBy(col("purchase_id"))
      .orderBy(col("cts").desc, col("click_id"))
    pairs
      .withColumn("n_touches", count(lit(1)).over(wp))
      .withColumn("touch_rank", row_number().over(wr).cast("long"))
      .withColumn("credit", lit(1.0) / col("n_touches"))
      .select(col("purchase_id"), col("click_id"), col("cu").as("user_id"),
        col("n_touches"), col("touch_rank"), col("credit"))
      .orderBy(col("purchase_id"), col("touch_rank"))
  }

  /** Same interval join + windows in DuckDB; the credit divide is
    * CAST(1.0 AS DOUBLE)/n because a bare 1.0 is DECIMAL there
    * (decimal division would diverge from Spark's double). */
  val q90Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tns FROM events),
      |pairs AS (
      |  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
      |   c.user_id, c.tns AS cts
      |  FROM e c JOIN e p ON c.user_id = p.user_id
      |   AND p.tns >= c.tns AND p.tns <= c.tns + 3600000000000
      |  WHERE c.event_type = 'click' AND p.event_type = 'purchase')
      |SELECT purchase_id, click_id, user_id,
      | COUNT(*) OVER (PARTITION BY purchase_id) AS n_touches,
      | CAST(row_number() OVER (PARTITION BY purchase_id
      |                         ORDER BY cts DESC, click_id) AS BIGINT) AS touch_rank,
      | CAST(1.0 AS DOUBLE) / COUNT(*) OVER (PARTITION BY purchase_id) AS credit
      |FROM pairs
      |ORDER BY purchase_id, touch_rank""".stripMargin

  /** q91: AUTOCORRELATION (ACF at lags 1–7) of each event type's daily
    * total — the seasonality detector beside q82's outlier z-score and
    * q86's level-shift CUSUM: a strong lag-7 spike says "weekly
    * rhythm", a slowly decaying curve says "trend not yet removed".
    * Pearson r over the (day, day+lag) pairs via the computational
    * form r = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)).
    * Exactness contract (q82's recipe): daily totals accumulate in
    * DECIMAL(18,6); the cross/power products are pinned (16,6)×(16,6)
    * → exact (33,12) under Spark's 38-digit cap (DuckDB mirrors at
    * (19,6)² → int128 (38,12)); the five sums are order-independent
    * decimals that string-hop to double (q54's >16-digit lesson), and
    * the whole r tree is IEEE stated identically in both engines — so
    * every coefficient hashes. r is NULL when fewer than 8 pairs
    * overlap or either variance term is ≤ 0 (constant series).
    *
    * Plan at 100 TB: ONE events scan partial-aggregates to the
    * types×days mart, which is cached and self-joined at +lag — both
    * join sides read the InMemoryRelation, so the fact is never
    * scanned twice (plan-pinned); everything after the first groupBy
    * touches |types|×|days| rows. Missing days drop pairs on both
    * engines identically (no gap-fill — compose q41 upstream if the
    * series needs it). */
  def q91Autocorrelation(s: SparkSession, d: String): DataFrame = {
    val dayNs = 86400000000000L
    acfOf(Tables.events(s, d)
      .groupBy(col("event_type"), expr(s"ts div $dayNs").as("day"))
      .agg(sum(col("value").cast("double").cast(DecimalType(18, 6))).as("v")))
  }

  /** q91's scoring core over any (event_type, day, v) daily series —
    * extracted so the spec can plant exact-period and constant
    * fixtures against the same decimal sums + IEEE tree. */
  private[graft] def acfOf(dailyIn: DataFrame): DataFrame = {
    // The (16,6) Spark-side pin vs the oracle's (19,6) is exact only
    // while |daily total| < 10¹⁰ (the (16,6) integral domain). Beyond
    // it the two engines would DIVERGE SILENTLY — Spark nulls (or
    // ANSI-errors) the down-cast while DuckDB keeps the value — so the
    // guard fails loudly map-side instead (ADVICE r8): a corpus whose
    // daily sums outgrow the domain needs the widths re-pinned, not a
    // quiet null in one engine.
    val daily = dailyIn
      .withColumn("v16",
        when(abs(col("v")) < lit(10000000000L),
          col("v").cast(DecimalType(16, 6)))
          .otherwise(raise_error(concat(
            lit("q91 acf: |daily total| >= 1e10 overflows the pinned DECIMAL(16,6) — re-pin the cross-engine widths: "),
            col("v").cast("string")))))
      .cache()
    val lags = daily.select(col("event_type"), col("day"), col("v16"),
      explode(expr("sequence(1, 7)")).as("lag"))
    val pairs = lags.alias("a").join(daily.alias("b"),
      col("a.event_type") === col("b.event_type") &&
        col("b.day") === col("a.day") + col("a.lag"))
      .select(col("a.event_type").as("event_type"), col("a.lag").as("lag"),
        col("a.v16").as("x"), col("b.v16").as("y"))
    pairs.groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .selectExpr("event_type", "cast(lag as bigint) as lag", "n_pairs",
        "cast(cast(sx as string) as double) as sxd",
        "cast(cast(sy as string) as double) as syd",
        "cast(cast(sxx as string) as double) as sxxd",
        "cast(cast(syy as string) as double) as syyd",
        "cast(cast(sxy as string) as double) as sxyd")
      .selectExpr("event_type", "lag", "n_pairs",
        """case when n_pairs >= 8
          |      and n_pairs * sxxd - sxd * sxd > 0.0
          |      and n_pairs * syyd - syd * syd > 0.0
          | then (n_pairs * sxyd - sxd * syd)
          |      / sqrt((n_pairs * sxxd - sxd * sxd) * (n_pairs * syyd - syd * syd))
          | end as acf""".stripMargin)
      .orderBy(col("event_type"), col("lag"))
  }

  val q91Sql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |   SUM(CAST(CAST(value AS DOUBLE) AS DECIMAL(18,6))) AS v
      |  FROM events GROUP BY 1, 2),
      |lagged AS (
      |  SELECT a.event_type, l.lag, CAST(a.v AS DECIMAL(19,6)) AS x,
      |   CAST(b.v AS DECIMAL(19,6)) AS y
      |  FROM daily a
      |  CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
      |  JOIN daily b ON b.event_type = a.event_type AND b.day = a.day + l.lag),
      |sums AS (
      |  SELECT event_type, lag, COUNT(*) AS n_pairs,
      |   SUM(x) AS sx, SUM(y) AS sy,
      |   SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      |  FROM lagged GROUP BY 1, 2),
      |hop AS (
      |  SELECT event_type, CAST(lag AS BIGINT) AS lag, n_pairs,
      |   CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
      |   CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
      |   CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
      |   CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd,
      |   CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd
      |  FROM sums)
      |SELECT event_type, lag, n_pairs,
      | CASE WHEN n_pairs >= 8
      |       AND n_pairs * sxxd - sxd * sxd > 0.0
      |       AND n_pairs * syyd - syd * syd > 0.0
      |  THEN (n_pairs * sxyd - sxd * syd)
      |       / sqrt((n_pairs * sxxd - sxd * sxd) * (n_pairs * syyd - syd * syd))
      |  END AS acf
      |FROM hop
      |ORDER BY event_type, lag""".stripMargin

  /** q92: RFM SEGMENTATION — the classic customer-value grid: per
    * customer, Recency (days since last order vs the corpus's last
    * order day), Frequency (order count) and Monetary (lifetime cents),
    * each scored into exact population QUINTILES, r·100+f·10+m as the
    * segment code (555 = best). Scores use EXACT equi-depth boundaries
    * at ranks ⌈k·N/5⌉ — q85's two-phase domain bucketing, NOT a global
    * ntile window (the naive plan row_numbers every customer through
    * ONE partition; all three metrics' boundaries resolve in ONE
    * multi-metric domain-bucketed pass pair over the unpivoted
    * customer aggregate — round 9, VERDICT r8 #5 — and 12 collected
    * longs of driver state, q64's runtime-literal pattern). bucket(v) = 1 + #{cuts < v}: assignment is a map-side
    * CASE against broadcast literals, ties share a bucket on both
    * engines (duplicate cut values collapse bucket labels — a
    * deterministic, engine-identical rule; frequency's small domain
    * does this routinely). Recency is integer day arithmetic off one
    * broadcast 1-row global max (the documented ≤1-BNLJ scalar join);
    * monetary is exact integer cents (q83's convention). Everything
    * IEEE-free ⇒ every row hashes. */
  def q92RfmSegments(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey").as("custkey"),
      to_date(col("o_orderdate")).as("od"),
      expr("cast(round(o_totalprice * 100) as long)").as("cents"))
    val cust = o.groupBy(col("custkey"))
      .agg(max(col("od")).as("last_od"), count(lit(1)).as("frequency"),
        sum(col("cents")).as("monetary_cents"))
    // ONE derivation of the customer aggregate (round 9 — VERDICT r8
    // #5): the barrier serves the single unpivoted boundary pass pair
    // AND the final scoring projection; the old shape re-derived the
    // orders groupBy nine times (3 metrics × count/domain/target).
    // localCheckpoint, not cache (round 11 — ADVICE r9): blocks free
    // with the RDD's GC, never pinning the session cache manager
    val base = cust.crossJoin(broadcast(o.agg(max(col("od")).as("mxd"))))
      .withColumn("recency_days", datediff(col("mxd"), col("last_od")).cast("long"))
      .select(col("custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"))
      .localCheckpoint()
    // all three metrics' quintile cuts resolve in one multi-metric
    // pass pair over the unpivoted (metric, v) form — map-side
    // explode, never a join of three separate boundary plans
    val cutRows = equiDepthBoundariesMulti(
      base.select(explode(array(
        struct(lit("r").as("metric"), col("recency_days").as("v")),
        struct(lit("f").as("metric"), col("frequency").as("v")),
        struct(lit("m").as("metric"), col("monetary_cents").as("v")))).as("e"))
        .select(col("e.metric").as("metric"), col("e.v").as("v")),
      5, Seq("r" -> 16L, "f" -> 1L, "m" -> (1L << 20)))
      .filter(col("bucket") <= 4)
      .select(col("metric"), col("boundary")).collect() // 12 longs (q64's runtime-literal pattern)
    def cutsOf(m: String): Seq[Long] =
      cutRows.filter(_.getString(0) == m).map(_.getLong(1)).toSeq
    def bucket(metric: String, cs: Seq[Long]): Column =
      cs.map(c => when(col(metric) > c, 1L).otherwise(0L))
        .foldLeft(lit(1L))(_ + _)
    base
      .withColumn("r", lit(6L) - bucket("recency_days", cutsOf("r")))
      .withColumn("f", bucket("frequency", cutsOf("f")))
      .withColumn("m", bucket("monetary_cents", cutsOf("m")))
      .withColumn("rfm_score", col("r") * 100 + col("f") * 10 + col("m"))
      .orderBy(col("custkey"))
  }

  /** Same boundaries via the naive global row_number (q85's oracle
    * statement), same >-cut counting — correlated COUNT against the
    * 4-row cut sets. */
  val q92Sql: String =
    """WITH o AS (
      |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS od,
      |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |cust AS (
      |  SELECT custkey, MAX(od) AS last_od, COUNT(*) AS frequency,
      |   SUM(cents) AS monetary_cents
      |  FROM o GROUP BY custkey),
      |mx AS (SELECT MAX(od) AS mxd FROM o),
      |base AS (
      |  SELECT custkey, CAST(mxd - last_od AS BIGINT) AS recency_days,
      |   frequency, CAST(monetary_cents AS BIGINT) AS monetary_cents
      |  FROM cust, mx),
      |n AS (SELECT COUNT(*) AS c FROM base),
      |ks AS (SELECT unnest(generate_series(1, 4)) AS k),
      |rr AS (SELECT recency_days AS v, row_number() OVER (ORDER BY recency_days) AS rn FROM base),
      |ff AS (SELECT frequency AS v, row_number() OVER (ORDER BY frequency) AS rn FROM base),
      |mm AS (SELECT monetary_cents AS v, row_number() OVER (ORDER BY monetary_cents) AS rn FROM base),
      |rcut AS (SELECT rr.v FROM ks CROSS JOIN n JOIN rr ON rr.rn = (ks.k * n.c + 4) // 5),
      |fcut AS (SELECT ff.v FROM ks CROSS JOIN n JOIN ff ON ff.rn = (ks.k * n.c + 4) // 5),
      |mcut AS (SELECT mm.v FROM ks CROSS JOIN n JOIN mm ON mm.rn = (ks.k * n.c + 4) // 5),
      |scored AS (
      |  SELECT custkey, recency_days, frequency, monetary_cents,
      |   6 - (1 + (SELECT COUNT(*) FROM rcut WHERE base.recency_days > rcut.v)) AS r,
      |   1 + (SELECT COUNT(*) FROM fcut WHERE base.frequency > fcut.v) AS f,
      |   1 + (SELECT COUNT(*) FROM mcut WHERE base.monetary_cents > mcut.v) AS m
      |  FROM base)
      |SELECT custkey, recency_days, frequency, monetary_cents,
      | r, f, m, r * 100 + f * 10 + m AS rfm_score
      |FROM scored
      |ORDER BY custkey""".stripMargin

  /** q93: ASSOCIATION RULES (market-basket) — support, directional
    * confidence and lift for co-purchased part pairs, top-100 by lift:
    * "customers who buy u also buy v" with the statistical strength
    * that separates signal from popularity (lift > 1 ⇔ the pair beats
    * independence). A PURE INDEX PROBE: edges/, items/ (capped
    * per-item order frequency) and totals/ all live in the write-once
    * co-purchase layout shared with q74/q75 (round 8 v2 — the first
    * cut re-ran the capped row_number window over lineitem per query;
    * now the fact table isn't touched at all), so the registry cost
    * is an O(edges) scoring join over three layout scans.
    * All ratios are single IEEE divides of exact int64 counts/products
    * (n_ab·N and n_a·n_b stay < 2⁵³), so every row hashes; top-100
    * rides (lift DESC, u, v) — a total order, both engines pick the
    * same rows via TakeOrdered, never a global sort. The cap shares
    * q74's convention: heavy orders clip to the 64 lowest partkeys
    * (capped ≡ uncapped on gate data, TrianglesSpec's mega-order
    * fixture owns the boundary), and n_orders/n_item use the SAME
    * capped item set so supports stay internally consistent. */
  def q93BasketRules(s: SparkSession, d: String): DataFrame = {
    val root = copurchaseLayout(s, d)
    val items = Tables.parquet(s, s"$root/items")
    val totals = Tables.parquet(s, s"$root/totals")
    copurchaseEdges(s, d).withColumnRenamed("c", "n_ab")
      .filter(col("n_ab") >= 2)
      .join(items.select(col("l_partkey").as("u"), col("cnt").as("n_a")), "u")
      .join(items.select(col("l_partkey").as("v"), col("cnt").as("n_b")), "v")
      .crossJoin(broadcast(totals))
      .selectExpr("u", "v", "n_ab", "n_a", "n_b",
        "cast(n_ab as double) / orders as support",
        "cast(n_ab as double) / n_a as conf_uv",
        "cast(n_ab as double) / n_b as conf_vu",
        "cast(n_ab * orders as double) / (n_a * n_b) as lift")
      .orderBy(desc("lift"), col("u"), col("v"))
      .limit(100)
  }

  /** Uncapped restatement (no gate-data order exceeds the cap —
    * q74's oracle convention); identical single-divide trees. */
  val q93Sql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |n AS (SELECT COUNT(DISTINCT l_orderkey) AS orders FROM li),
      |ic AS (SELECT l_partkey, COUNT(*) AS cnt FROM li GROUP BY 1),
      |pr AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS n_ab
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2)
      |SELECT u, v, n_ab, ia.cnt AS n_a, ib.cnt AS n_b,
      | CAST(n_ab AS DOUBLE) / orders AS support,
      | CAST(n_ab AS DOUBLE) / ia.cnt AS conf_uv,
      | CAST(n_ab AS DOUBLE) / ib.cnt AS conf_vu,
      | CAST(n_ab * orders AS DOUBLE) / (ia.cnt * ib.cnt) AS lift
      |FROM pr JOIN ic ia ON pr.u = ia.l_partkey
      |        JOIN ic ib ON pr.v = ib.l_partkey
      |        CROSS JOIN n
      |WHERE n_ab >= 2
      |ORDER BY lift DESC, u, v
      |LIMIT 100""".stripMargin

  /** q94: TABLE DIFF (snapshot compare / CDC derivation) — given two
    * versions of a keyed table, emit the change feed: I/U/D rows with
    * the column-level change set. The REVERSE of q59's MERGE (that
    * applies a change batch; this derives one), and the audit tool
    * behind "what did last night's load actually change". The second
    * snapshot is derived deterministically from the first (md5 hex
    * bucket of the key: '0' → churned, '1'–'3' → balance +100.00,
    * '4' → segment rewrite, 'f' → a new key): both engines rebuild
    * the identical v2, so the diff itself — presence flags off one
    * full-outer join, CASE typing, changed-column list — is the
    * entire algebra under test. changed_cols emits as a
    * comma-joined string in a FIXED column order (set semantics with
    * deterministic rendering). Plan at 100 TB: ONE full-outer
    * hash join on the key (both sides hash-partition; AQE handles
    * skew), map-side CASE projection, unchanged rows dropped before
    * the presentation sort — no window, no second scan of either
    * snapshot beyond the derivation itself. */
  def q94TableDiff(s: SparkSession, d: String): DataFrame = {
    val (v1, v2) = q94Snapshots(s, d)
    q94DiffOf(v1, v2)
  }

  /** The two deterministic snapshot versions (see [[q94TableDiff]]). */
  private[graft] def q94Snapshots(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val v1 = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val h = substring(md5(col("c_custkey").cast("string")), 1, 1)
    val hv = v1.withColumn("h", h)
    val v2 = hv.filter(col("h") =!= "0")
      .select(col("c_custkey"),
        when(col("h").isin("1", "2", "3"), col("c_acctbal") + lit(100.0))
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("h") === "4", lit("CHURN_RISK"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      .unionByName(hv.filter(col("h") === "f")
        .select((col("c_custkey") + lit(10000000L)).as("c_custkey"),
          col("c_acctbal"), lit("NEW").as("c_mktsegment")))
    (v1, v2)
  }

  /** The diff algebra alone, over any two (c_custkey, c_acctbal,
    * c_mktsegment) snapshots — extracted so the spec can prove the
    * inverse law: apply(v1, diff(v1, v2)) ≡ v2. */
  private[graft] def q94DiffOf(v1: DataFrame, v2: DataFrame): DataFrame = {
    val a = v1.select(col("c_custkey").as("k"), lit(true).as("in_a"),
      col("c_acctbal").as("old_acctbal"), col("c_mktsegment").as("old_seg"))
    val b = v2.select(col("c_custkey").as("k"), lit(true).as("in_b"),
      col("c_acctbal").as("new_acctbal"), col("c_mktsegment").as("new_seg"))
    a.join(b, Seq("k"), "full_outer")
      .select(col("k").as("custkey"),
        when(col("in_b").isNull, "D").when(col("in_a").isNull, "I")
          .otherwise("U").as("change_type"),
        when(col("in_a").isNotNull && col("in_b").isNotNull,
          array_join(filter(array(
            when(col("old_acctbal") =!= col("new_acctbal"), "c_acctbal"),
            when(col("old_seg") =!= col("new_seg"), "c_mktsegment")),
            x => x.isNotNull), ","))
          .otherwise("").as("changed_cols"),
        col("old_acctbal"), col("new_acctbal"), col("old_seg"), col("new_seg"))
      .filter(col("change_type") =!= "U" || col("changed_cols") =!= "")
      .orderBy(col("custkey"))
  }

  val q94Sql: String =
    """WITH v1 AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
      |hv AS (
      |  SELECT c_custkey, substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1) AS h,
      |   c_acctbal, c_mktsegment FROM customer),
      |v2 AS (
      |  SELECT c_custkey,
      |   CASE WHEN h IN ('1','2','3') THEN c_acctbal + CAST(100.0 AS DOUBLE)
      |        ELSE c_acctbal END AS c_acctbal,
      |   CASE WHEN h = '4' THEN 'CHURN_RISK' ELSE c_mktsegment END AS c_mktsegment
      |  FROM hv WHERE h <> '0'
      |  UNION ALL
      |  SELECT c_custkey + 10000000, c_acctbal, 'NEW' FROM hv WHERE h = 'f'),
      |j AS (
      |  SELECT coalesce(a.c_custkey, b.c_custkey) AS custkey,
      |   a.c_custkey IS NOT NULL AS in_a, b.c_custkey IS NOT NULL AS in_b,
      |   a.c_acctbal AS old_acctbal, b.c_acctbal AS new_acctbal,
      |   a.c_mktsegment AS old_seg, b.c_mktsegment AS new_seg
      |  FROM v1 a FULL OUTER JOIN v2 b ON a.c_custkey = b.c_custkey)
      |SELECT custkey,
      | CASE WHEN NOT in_b THEN 'D' WHEN NOT in_a THEN 'I' ELSE 'U' END AS change_type,
      | CASE WHEN in_a AND in_b THEN array_to_string(list_filter([
      |    CASE WHEN old_acctbal <> new_acctbal THEN 'c_acctbal' END,
      |    CASE WHEN old_seg <> new_seg THEN 'c_mktsegment' END],
      |   x -> x IS NOT NULL), ',')
      |  ELSE '' END AS changed_cols,
      | old_acctbal, new_acctbal, old_seg, new_seg
      |FROM j
      |WHERE NOT (in_a AND in_b)
      |   OR old_acctbal <> new_acctbal OR old_seg <> new_seg
      |ORDER BY custkey""".stripMargin

  /** q96: FULFILLMENT SLA — exact per-priority percentiles (p50/p90/
    * p99) of order→ship latency plus the late share: the operations
    * dashboard behind "are URGENT orders actually shipping faster".
    * EXACT percentiles without any per-group sort: latency is integer
    * days over a tiny natural domain, so the fact collapses to
    * (priority, days) cells in one partial-agg'd pass and every
    * percentile is a rank crossing (⌈q·n/100⌉, integer arithmetic
    * shared verbatim with the oracle) over the |priorities|×|days|
    * aggregate — q83/q85's domain-bucketing recipe at its simplest,
    * vs the naive percentile plan that window-sorts every lineitem
    * row per group. The only IEEE op is the late-share's single
    * divide of exact counts. Plan at 100 TB: one orderkey shuffle
    * join, map-side cell combine, windows over ≤ a few hundred rows
    * per priority. */
  def q96ShipLatency(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_orderpriority").as("priority"), to_date(col("o_orderdate")).as("od"))
    val l = Tables.lineitem(s, d).select(col("l_orderkey"),
      to_date(col("l_shipdate")).as("sd"))
    val cells = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("priority"), datediff(col("sd"), col("od")).cast("long").as("days"))
      .groupBy(col("priority"), col("days")).agg(count(lit(1)).as("c"))
    val cum = cells
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("priority")).orderBy(col("days"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("priority"))))
    cum.groupBy(col("priority"))
      .agg(max(col("n")).as("n_items"),
        min(when(col("cum") >= expr("(n * 50 + 99) div 100"), col("days"))).as("p50_days"),
        min(when(col("cum") >= expr("(n * 90 + 99) div 100"), col("days"))).as("p90_days"),
        min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("days"))).as("p99_days"),
        (sum(when(col("days") > 30, col("c")).otherwise(0L)).cast("double") /
          max(col("n"))).as("pct_late"))
      .orderBy(col("priority"))
  }

  val q96Sql: String =
    """WITH lat AS (
      |  SELECT o.o_orderpriority AS priority,
      |   CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE) AS BIGINT) AS days
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |cells AS (
      |  SELECT priority, days, COUNT(*) AS c FROM lat GROUP BY 1, 2),
      |cum AS (
      |  SELECT priority, days, c,
      |   SUM(c) OVER (PARTITION BY priority ORDER BY days) AS cum,
      |   SUM(c) OVER (PARTITION BY priority) AS n
      |  FROM cells)
      |SELECT priority, CAST(MAX(n) AS BIGINT) AS n_items,
      | MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN days END) AS p50_days,
      | MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN days END) AS p90_days,
      | MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN days END) AS p99_days,
      | CAST(SUM(CASE WHEN days > 30 THEN c ELSE 0 END) AS DOUBLE) / MAX(n) AS pct_late
      |FROM cum
      |GROUP BY priority
      |ORDER BY priority""".stripMargin

  /** q97 (round 9): JOIN-KEY SKEW REPORT — the diagnostic read BEFORE
    * reaching for q48's salting or trusting AQE's skew split: the
    * top-10 heaviest join keys with their row share and skew factor
    * n·|keys|/N (1.0 = uniform; a 50× key is the one that parks a
    * straggler task for the whole stage). One partial-agg'd pass to
    * the per-key counts; |keys| and N ride a broadcast 1-row
    * aggregate (the documented ≤1-BNLJ scalar join); top-10 is the
    * (n_rows DESC, key ASC) total order through TakeOrdered
    * per-partition heaps — never a global sort or a window. Both IEEE
    * values are single divides of exact int64 operands (n·|keys| ≪
    * 2⁵³) ⇒ every row hashes. At 100 TB this runs on a SAMPLE or on
    * the partial-agg'd key counts of a prior run — either way the
    * heavy hitters dominate any sample (tx15's sketch is the
    * streaming twin). */
  def q97SkewReport(s: SparkSession, d: String): DataFrame = {
    val k = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("key")).agg(count(lit(1)).as("n_rows"))
    val stats = k.agg(count(lit(1)).as("n_keys"), sum(col("n_rows")).as("n_total"))
    k.crossJoin(broadcast(stats))
      .select(col("key"), col("n_rows"),
        (col("n_rows").cast("double") / col("n_total")).as("share"),
        ((col("n_rows") * col("n_keys")).cast("double") / col("n_total"))
          .as("skew_factor"))
      .orderBy(col("n_rows").desc, col("key")).limit(10)
  }

  val q97Sql: String =
    """WITH k AS (
      |  SELECT o_custkey AS key, COUNT(*) AS n_rows FROM orders GROUP BY 1),
      |s AS (SELECT COUNT(*) AS n_keys, CAST(SUM(n_rows) AS BIGINT) AS n_total FROM k)
      |SELECT key, n_rows,
      | CAST(n_rows AS DOUBLE) / n_total AS share,
      | CAST(n_rows * n_keys AS DOUBLE) / n_total AS skew_factor
      |FROM k, s
      |ORDER BY n_rows DESC, key
      |LIMIT 10""".stripMargin

  /** q98 (round 9): COHORT LTV CURVE — per acquisition cohort (the
    * calendar month of a customer's FIRST order) and months-of-age,
    * the active-customer count, period revenue and cumulative revenue,
    * with LTV-per-customer dividing by the cohort's FIXED size (the
    * denominator a finance model wants: value per acquired customer,
    * not per survivor — q50's retention matrix priced in cents).
    * Exactness: months ride integer year·12+month arithmetic, revenue
    * is exact integer cents (q83's convention), the running total is
    * an integer window over the cohorts×ages aggregate, and the one
    * IEEE value is a single divide of exact int64 operands. Plan: one
    * custkey-keyed join of orders against the per-customer first-month
    * aggregate (dimension scales with fact — never broadcast), cells
    * partial-agg map-side, windows ride the tiny cohort×age aggregate
    * partitioned by cohort — no global window, no fact sort. */
  def q98CohortLtv(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey").as("ck"),
      (year(to_date(col("o_orderdate"))) * 12 +
        month(to_date(col("o_orderdate")))).as("ym"),
      expr("cast(round(o_totalprice * 100) as long)").as("cents"))
    val first = o.groupBy(col("ck")).agg(min(col("ym")).as("cym"))
    val cohortSize = first.groupBy(col("cym")).agg(count(lit(1)).as("n_customers"))
    val cells = o.join(first, "ck")
      .groupBy(col("cym"), (col("ym") - col("cym")).cast("long").as("age_months"))
      .agg(countDistinct(col("ck")).as("n_active"),
        sum(col("cents")).as("revenue_cents"))
    val w = Window.partitionBy(col("cym")).orderBy(col("age_months"))
    cells.withColumn("cum_revenue_cents", sum(col("revenue_cents")).over(w))
      .join(cohortSize, "cym")
      .select(col("cym").cast("long").as("cohort_ym"), col("age_months"),
        col("n_active"), col("revenue_cents"), col("cum_revenue_cents"),
        col("n_customers"),
        (col("cum_revenue_cents").cast("double") / col("n_customers"))
          .as("ltv_cents_per_customer"))
      .orderBy(col("cohort_ym"), col("age_months"))
  }

  val q98Sql: String =
    """WITH o AS (
      |  SELECT o_custkey AS ck,
      |   year(CAST(o_orderdate AS DATE)) * 12 + month(CAST(o_orderdate AS DATE)) AS ym,
      |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |f AS (SELECT ck, MIN(ym) AS cym FROM o GROUP BY ck),
      |cs AS (SELECT cym, COUNT(*) AS n_customers FROM f GROUP BY cym),
      |cells AS (
      |  SELECT f.cym, CAST(o.ym - f.cym AS BIGINT) AS age_months,
      |   COUNT(DISTINCT o.ck) AS n_active,
      |   CAST(SUM(o.cents) AS BIGINT) AS revenue_cents
      |  FROM o JOIN f USING (ck)
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT *, CAST(SUM(revenue_cents) OVER (PARTITION BY cym
      |    ORDER BY age_months) AS BIGINT) AS cum_revenue_cents
      |  FROM cells)
      |SELECT CAST(c.cym AS BIGINT) AS cohort_ym, c.age_months, c.n_active,
      | c.revenue_cents, c.cum_revenue_cents, cs.n_customers,
      | CAST(c.cum_revenue_cents AS DOUBLE) / cs.n_customers AS ltv_cents_per_customer
      |FROM cum c JOIN cs USING (cym)
      |ORDER BY cohort_ym, age_months""".stripMargin

  // ---------------------------------------------------------------- q99
  /** q99: revenue CONCENTRATION per market segment — exact Gini
    * coefficient + top-decile revenue share over per-customer revenue.
    * Concentration is the metric behind every "cap the heavy domains"
    * decision (tx18's cap, tx19's mixture): it says HOW skewed a
    * source's mass is before you pick the cap. Gini via the rank
    * formula G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over ascending-sorted x.
    *
    * Σ i·xᵢ needs every row's GLOBAL rank within its segment, and the
    * naive plan is a per-segment ORDER BY window over all customers —
    * a handful of giant sorted partitions (the q78/q83 cliff: segment
    * cardinality is 5 at any scale). Instead the rank is computed
    * DISTRIBUTED, q83's two-phase domain-bucketing generalized from
    * "locate one crossing" to "number every row": (1) one partial-agg
    * scan to (segment, revenue-bucket) counts — a domain-sized
    * aggregate — whose running count gives each bucket its rank OFFSET
    * (rows in lower buckets); (2) each row's local row_number within
    * its (segment, bucket) — partitions are bucket-sized, the manual
    * range-partition of a global sort — plus the offset is the exact
    * global rank. Equal revenues contribute identically to Σ i·x under
    * any tie order (values equal ⇒ rank swap is a no-op), and the
    * top-decile boundary is made deterministic by the (revenue,
    * custkey) tie-break mirrored in the oracle. All mass arithmetic is
    * integer cents; per-product i·x fits int64 (rank < 2³³, cents
    * < 2³⁰), the Σ accumulates in DECIMAL(38,0) — exact at any SF —
    * and only the final ratios divide in double, mirrored op-for-op.
    * The bucket width (2²² cents ≈ $42k) is the balance knob: buckets
    * are range-disjoint, so a skewed revenue distribution concentrates
    * rows in few buckets and the width is what you shrink. */
  def q99GiniConcentration(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as long)")).as("x"))
    val seg = rev.join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("ck") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("ck"),
        col("x"), expr("x div 4194304").as("bkt"))
    // phase 1: domain-sized (seg, bucket) aggregate → rank offsets
    val wseg = Window.partitionBy(col("seg"))
    val wcum = Window.partitionBy(col("seg")).orderBy(col("bkt"))
    val off = seg.groupBy(col("seg"), col("bkt"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("below", sum(col("cnt")).over(wcum) - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(wseg))
      .select(col("seg"), col("bkt"), col("below"), col("n"))
    // phase 2: local rank within the range-disjoint bucket + offset
    // = exact global rank; partitions are bucket-sized, never segment-sized
    val wloc = Window.partitionBy(col("seg"), col("bkt"))
      .orderBy(col("x"), col("ck"))
    val ranked = seg.join(broadcast(off), Seq("seg", "bkt"))
      .withColumn("i", col("below") + row_number().over(wloc))
    val a = ranked.groupBy(col("seg"))
      .agg(max(col("n")).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).as("sx"),
        sum((col("i") * col("x")).cast(DecimalType(38, 0))).as("six"),
        sum(when(col("i") > col("n") - expr("n div 10"), col("x"))
          .otherwise(lit(0L)).cast(DecimalType(38, 0))).as("topx"))
    a.select(col("seg").as("c_mktsegment"),
        col("n").as("n_cust"),
        (col("sx").cast("double") / lit(100.0)).as("total_revenue"),
        ((lit(2.0) * col("six").cast("double"))
          / (col("n").cast("double") * col("sx").cast("double"))
          - (col("n") + lit(1L)).cast("double") / col("n").cast("double"))
          .as("gini"),
        (col("topx").cast("double") / col("sx").cast("double"))
          .as("top10_share"))
      .orderBy(col("c_mktsegment"))
  }

  /** The naive per-segment window statement of the same ranks. */
  val q99Sql: String =
    """WITH rev AS (
      |  SELECT o_custkey AS ck,
      |   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |s AS (
      |  SELECT c.c_mktsegment AS seg, r.ck, r.x
      |  FROM rev r JOIN customer c ON r.ck = c.c_custkey),
      |rk AS (
      |  SELECT seg, ck, x,
      |   row_number() OVER (PARTITION BY seg ORDER BY x, ck) AS i,
      |   COUNT(*) OVER (PARTITION BY seg) AS n
      |  FROM s),
      |a AS (
      |  SELECT seg, MAX(n) AS n,
      |   CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
      |   CAST(SUM(CAST(i * x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS six,
      |   CAST(SUM(CASE WHEN i > n - (n // 10)
      |            THEN CAST(x AS DECIMAL(38,0))
      |            ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)) AS topx
      |  FROM rk GROUP BY seg)
      |SELECT seg AS c_mktsegment, CAST(n AS BIGINT) AS n_cust,
      | CAST(CAST(sx AS VARCHAR) AS DOUBLE) / 100.0 AS total_revenue,
      | (2.0 * CAST(CAST(six AS VARCHAR) AS DOUBLE))
      |   / (CAST(n AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
      |   - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE) AS gini,
      | CAST(CAST(topx AS VARCHAR) AS DOUBLE)
      |   / CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS top10_share
      |FROM a ORDER BY c_mktsegment""".stripMargin

  val all: Seq[(String, (SparkSession, String) => DataFrame, String)] = Seq(
    ("q01_pricing_summary", q01PricingSummary _, q01Sql),
    ("q02_filter_project", q02FilterProject _, q02Sql),
    ("q03_join_agg", q03JoinAgg _, q03Sql),
    ("q04_star_join", q04StarJoin _, q04Sql),
    ("q05_broadcast_join", q05BroadcastJoin _, q05Sql),
    ("q06_topk", q06TopK _, q06Sql),
    ("q07_window_rank", q07WindowRank _, q07Sql),
    ("q08_window_running", q08WindowRunning _, q08Sql),
    ("q09_semi_join", q09SemiJoin _, q09Sql),
    ("q10_anti_join", q10AntiJoin _, q10Sql),
    ("q11_distinct_agg", q11DistinctAgg _, q11Sql),
    ("q12_rollup", q12Rollup _, q12Sql),
    ("q13_pivot", q13Pivot _, q13Sql),
    ("q14_percentiles", q14Percentiles _, q14Sql),
    ("q15_subquery_avg", q15SubqueryAvg _, q15Sql),
    ("q16_set_ops", q16SetOps _, q16Sql),
    ("q17_case_agg", q17CaseAgg _, q17Sql),
    ("q18_having", q18Having _, q18Sql),
    ("q19_string_ops", q19StringOps _, q19Sql),
    ("q20_date_agg", q20DateAgg _, q20Sql),
    ("q21_sessionize", q21Sessionize _, q21Sql),
    ("q22_asof_join", q22AsofJoin _, q22Sql),
    ("q27_funnel", q27Funnel _, q27Sql),
    ("q28_json_props", q28JsonProps _, q28Sql),
    ("q29_approx_distinct", q29ApproxDistinct _, null),
    ("q30_band_join", q30BandJoin _, q30Sql),
    ("q31_cube", q31Cube _, q31Sql),
    ("q32_hash_sample", q32HashSample _, q32Sql),
    ("q33_outer_join", q33OuterJoin _, q33Sql),
    ("q34_unpivot", q34Unpivot _, q34Sql),
    ("q35_moving_avg", q35MovingAvg _, q35Sql),
    ("q36_latest_event", q36LatestEvent _, q36Sql),
    ("q37_approx_quantile", q37ApproxQuantile _, null),
    ("q38_stratified_sample", q38StratifiedSample _, q38Sql),
    ("q39_window_family", q39WindowFamily _, q39Sql),
    ("q40_incremental_agg", q40IncrementalAgg _, q40Sql),
    ("q41_gap_fill", q41GapFill _, q41Sql),
    ("q42_histogram", q42Histogram _, q42Sql),
    ("q44_exclusive_late", q44ExclusiveLate _, q44Sql),
    ("q45_brand_sets", q45BrandSets _, q45Sql),
    ("q46_correlated_avg", q46CorrelatedAvg _, q46Sql),
    ("q47_group_topk", q47GroupTopK _, q47Sql),
    ("q48_salted_join", q48SaltedJoin _, q48Sql),
    ("q49_share", q49Share _, q49Sql),
    ("q50_cohort_retention", q50CohortRetention _, q50Sql),
    ("q51_multiset_ops", q51MultisetOps _, q51Sql),
    ("q52_rank_stats", q52RankStats _, q52Sql),
    ("q55_sequence_match", q55SequenceMatch _, q55Sql),
    ("q56_mad_outliers", q56MadOutliers _, q56Sql),
    ("q57_overlap_join", q57OverlapJoin _, q57Sql),
    ("q58_scd2", q58Scd2 _, q58Sql),
    ("q59_merge_upsert", q59MergeUpsert _, q59Sql),
    ("q60_profile", q60Profile _, q60Sql),
    ("q61_time_weighted_avg", q61TimeWeightedAvg _, q61Sql),
    ("q62_bitmap_distinct", q62BitmapDistinct _, q62Sql),
    ("q63_locf_resample", q63LocfResample _, q63Sql),
    ("q64_bloom_prune", q64BloomPrune _, q64Sql),
    ("q65_zorder_box", q65ZorderBox _, q65Sql),
    ("q100_zorder3_box", q100Zorder3Box _, q100Sql),
    ("q66_hll_rollup", q66HllRollup _, null),
    ("q67_kll_rollup", q67KllRollup _, null),
    ("q68_theta_overlap", q68ThetaOverlap _, null),
    ("q69_rolling_distinct", q69RollingDistinct _, q69Sql),
    ("q70_markov_chain", q70MarkovChain _, q70Sql),
    ("q72_decay_agg", q72DecayAgg _, q72Sql),
    ("q73_pagerank", q73PageRank _, q73Sql),
    ("q74_triangles", q74Triangles _, q74Sql),
    ("q75_bfs_hops", q75BfsHops _, q75Sql),
    ("q76_listagg", q76Listagg _, q76Sql),
    ("q77_interval_union", q77IntervalUnion _, q77Sql),
    ("q78_pps_sample", q78PpsSample _, q78Sql),
    ("q79_constraint_audit", q79ConstraintAudit _, q79Sql),
    ("q80_longest_streak", q80LongestStreak _, q80Sql),
    ("q81_corpus_shuffle", q81CorpusShuffle _, q81Sql),
    ("q82_rolling_zscore", q82RollingZscore _, q82Sql),
    ("q83_weighted_median", q83WeightedMedian _, q83Sql),
    ("q84_incremental_join", q84IncrementalJoin _, q84Sql),
    ("q85_equidepth_hist", q85EquiDepthHist _, q85Sql),
    ("q86_changepoint", q86Changepoint _, q86Sql),
    ("q87_contribution", q87Contribution _, q87Sql),
    ("q89_pareto_front", q89ParetoFront _, q89Sql),
    ("q90_attribution", q90Attribution _, q90Sql),
    ("q91_autocorrelation", q91Autocorrelation _, q91Sql),
    ("q92_rfm_segments", q92RfmSegments _, q92Sql),
    ("q93_basket_rules", q93BasketRules _, q93Sql),
    ("q94_table_diff", q94TableDiff _, q94Sql),
    ("q96_ship_latency", q96ShipLatency _, q96Sql),
    ("q97_skew_report", q97SkewReport _, q97Sql),
    ("q98_cohort_ltv", q98CohortLtv _, q98Sql),
    ("q99_gini_concentration", q99GiniConcentration _, q99Sql),
  )
}
