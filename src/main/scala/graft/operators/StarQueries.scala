package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Registry, Tables}

/** Relational breadth over the driver's TPC-H-ish star schema
  * (SURVEY.md §7.3 step 2): filters/projection pushdown, broadcast +
  * shuffle joins, semi/anti joins, rollup/cube, window functions,
  * top-k, set ops, scalar functions, distinct aggregation. Every query
  * has DuckDB oracle SQL.
  *
  * Float-determinism rule used throughout: double-typed measures are
  * summed as `DECIMAL` (exact, associative — immune to partial-agg
  * ordering differences between Spark and DuckDB) and cast back to
  * `DOUBLE`, so the driver's hash compare is bit-stable. Transcendental
  * functions (ln/exp/pow) are kept out of oracle-compared outputs —
  * libm results aren't identical across engines; sqrt/abs/round are
  * IEEE-deterministic and fine.
  *
  * Scale notes (100 TB):
  *  - dimension joins (`region`, `nation`, small `customer` slices) are
  *    explicit `broadcast()` — no shuffle of the fact table;
  *  - fact-fact joins (lineitem⋈orders) shuffle on the join key and
  *    rely on AQE for skew splitting; at 100 TB both sides would be
  *    bucketed on orderkey at write time to eliminate the exchange;
  *  - window queries partition by a bounded key (nation, user) so state
  *    per task stays small; global sorts appear only after aggregation
  *    has reduced cardinality.
  */
object StarQueries {

  import Agg.dsum

  val queries: Map[String, (SparkSession, String) => DataFrame] = Registry.of(

    // TPC-H Q1 shape: wide aggregation, predicate pushed to the scan.
    "q1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") < to_timestamp(lit("2000-01-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // GROUPING()/GROUPING_ID disambiguation — the piece that makes
    // rollup output machine-readable when group keys can themselves
    // be NULL (a nullable key needs the grouping bits to tell "NULL
    // value at this level" from "this level rolled up"). Spark's
    // grouping_id() bit order = grouping-column order, mirrored by
    // DuckDB's GROUPING(a, b) — both emit 2·grouping(a) + grouping(b).
    // NULLS FIRST is pinned explicitly: Spark defaults nulls-first,
    // DuckDB nulls-last.
    "q_grouping_id" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("long").as("gid"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"),
          count(lit(1)).as("n_items"))
        .select("l_returnflag", "l_linestatus", "gid", "g_flag",
          "g_status", "n_items")
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }),

    // Projection + filter: both must reach the parquet scan
    // (PushedFilters / ReadSchema in .explain).
    "q_filter_project" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") < to_timestamp(lit("1996-01-01")) && col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Dim-dim-fact chain with explicit broadcasts: zero fact shuffles
    // before the aggregation exchange.
    "q_join_broadcast" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"))
        .orderBy("r_name")
    }),

    // Fact-fact equi-join (shuffle/sort-merge; AQE re-plans at runtime).
    "q_join_large" -> ((s, dir) => {
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("o_orderpriority")
    }),

    // Left-semi join == EXISTS.
    "q_join_semi" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir).filter(col("l_quantity") > 49)
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    // Left-anti join == NOT EXISTS: customers with no open ('O') order.
    "q_join_anti" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // FULL OUTER join: both unmatched sides preserved. The aggregate
    // classifies rows into matched / customer-only / order-only, so
    // the null-extension behavior on each side is what's checked.
    "q_join_outer" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .agg(
          count(lit(1)).as("n_rows"),
          count(when(col("o_orderkey").isNull, 1)).as("n_customer_only"),
          count(when(col("c_custkey").isNull, 1)).as("n_order_only"),
          count(when(col("o_orderkey").isNotNull && col("c_custkey").isNotNull, 1))
            .as("n_matched"))
    }),

    // ROLLUP over nation ⋈ customer; grouping() flags disambiguate the
    // subtotal rows; NULLS FIRST pinned on both sides.
    "q_rollup" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .rollup(col("n_name"), col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_acctbal"),
          grouping(col("n_name")).cast("int").as("g_nation"),
          grouping(col("c_mktsegment")).cast("int").as("g_segment"))
        .orderBy(asc_nulls_first("n_name"), asc_nulls_first("c_mktsegment"))
    }),

    // CUBE over lineitem flags.
    "q_cube" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_flag"),
          grouping(col("l_linestatus")).cast("int").as("g_status"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    // Window rank: top-5 spenders per nation. The window ORDER BY
    // includes the unique custkey so ranks are tie-free/deterministic.
    "q_window_rank" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val spend = c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy(col("c_nationkey"), col("c_custkey"))
        .agg(dsum(col("o_totalprice")).as("spend"))
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("spend").desc, col("c_custkey").asc)
      spend.withColumn("rk", rank().over(w))
        .filter(col("rk") <= 5)
        .select(col("c_nationkey"), col("c_custkey"), col("spend"), col("rk"))
        .orderBy("c_nationkey", "rk")
    }),

    // Moving window over daily revenue: 7-day trailing sum + lag.
    "q_window_moving" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(dsum(col("o_totalprice")).as("daily"))
      val w = Window.orderBy(col("day"))
      daily
        .withColumn("ma7",
          sum(col("daily").cast(DecimalType(18, 2))).over(w.rowsBetween(-6, 0)).cast("double"))
        .withColumn("prev_daily", lag(col("daily"), 1).over(w))
        .orderBy("day")
    }),

    // Top-k: global sort + limit (Spark plans TakeOrderedAndProject —
    // no full sort materialization).
    "q_topk" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // Set ops over custkey sets.
    "q_union" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey"))
        .union(c.filter(col("c_acctbal") > 9000).select(col("c_custkey")))
        .distinct()
        .orderBy("c_custkey")
    }),
    "q_except" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      c.filter(col("c_acctbal") > 9000).select(col("c_custkey"))
        .except(c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey")))
        .orderBy("c_custkey")
    }),
    "q_intersect" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      c.filter(col("c_acctbal") > 9000).select(col("c_custkey"))
        .intersect(c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey")))
        .orderBy("c_custkey")
    }),

    // Multiset (ALL) set operations: duplicates carry multiplicity, so
    // the orderstatus bag intersect/except counts differ from the
    // distinct forms — that difference is what the aggregate checks.
    "q_setops_all" -> ((s, dir) => {
      // Single-pass multiset algebra: both ALL-ops are functions of the
      // per-key multiplicities — |A ∩all B| = min(na, nb) and
      // |A \all B| = max(na − nb, 0) — so ONE scan + ONE groupBy
      // replaces two set-op exchanges over the same table (each
      // intersectAll/exceptAll plans its own pair of shuffles). A key
      // appears in a set-op result only with multiplicity > 0, hence
      // the final filter.
      val o = Tables.orders(s, dir)
      o.select(col("o_orderstatus"),
          (col("o_totalprice") > 150000).cast("long").as("in_a"),
          (col("o_orderpriority") === "1-URGENT").cast("long").as("in_b"))
        .groupBy(col("o_orderstatus"))
        .agg(sum(col("in_a")).as("na"), sum(col("in_b")).as("nb"))
        .select(col("o_orderstatus"), explode(array(
          struct(lit("intersect_all").as("op"),
            least(col("na"), col("nb")).as("n")),
          struct(lit("except_all").as("op"),
            greatest(col("na") - col("nb"), lit(0L)).as("n")))).as("x"))
        .select(col("x.op").as("op"), col("o_orderstatus"), col("x.n").as("n"))
        .filter(col("n") > 0)
        .orderBy("op", "o_orderstatus")
    }),

    // Scalar function surface: string / date / IEEE-safe math.
    "q_scalar_funcs" -> ((s, dir) => {
      Tables.part(s, dir)
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_u"),
          lower(col("p_type")).as("type_l"),
          substring(col("p_name"), 1, 8).as("name_pfx"),
          length(col("p_name")).as("name_len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          abs(col("p_size") - lit(25)).as("size_dist"),
          sqrt(col("p_size").cast("double")).as("size_sqrt"),
          ceil(col("p_retailprice")).as("price_ceil"),
          floor(col("p_retailprice")).as("price_floor"))
        .orderBy("p_partkey")
    }),

    // Date-part functions over orders.
    "q_date_funcs" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("yr", "mo")
    }),

    // Exact distinct aggregation (Catalyst expands to a two-phase plan).
    "q_distinct_agg" -> ((s, dir) => {
      Tables.orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    })
  )

  private val dsumSql = OracleSql.dsum _

  val oracleSql: Map[String, String] = Registry.of(
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  ${dsumSql("l_quantity")} / count(*) AS avg_qty,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_grouping_id" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus)
         |    AS BIGINT) AS gid,
         |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
         |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
         |  count(*) AS n_items
         |FROM lineitem
         |GROUP BY ROLLUP (l_returnflag, l_linestatus)
         |ORDER BY gid, l_returnflag NULLS FIRST,
         |  l_linestatus NULLS FIRST""".stripMargin,
    "q_join_broadcast" ->
      s"""SELECT r_name, count(*) AS n_customers, ${dsumSql("c_acctbal")} AS sum_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q_join_large" ->
      s"""SELECT o_orderpriority,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_semi" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_outer" ->
      """SELECT count(*) AS n_rows,
        |  count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_customer_only,
        |  count(CASE WHEN c_custkey IS NULL THEN 1 END) AS n_order_only,
        |  count(CASE WHEN o_orderkey IS NOT NULL AND c_custkey IS NOT NULL
        |             THEN 1 END) AS n_matched
        |FROM customer
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
        |  ON c_custkey = o_custkey""".stripMargin,
    "q_rollup" ->
      s"""SELECT n_name, c_mktsegment,
         |  count(*) AS n_customers, ${dsumSql("c_acctbal")} AS sum_acctbal,
         |  CAST(GROUPING(n_name) AS INT) AS g_nation,
         |  CAST(GROUPING(c_mktsegment) AS INT) AS g_segment
         |FROM customer JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY ROLLUP(n_name, c_mktsegment)
         |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,
    "q_cube" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  count(*) AS n_items, ${dsumSql("l_quantity")} AS sum_qty,
         |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
         |  CAST(GROUPING(l_linestatus) AS INT) AS g_status
         |FROM lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_window_rank" ->
      s"""SELECT c_nationkey, c_custkey, spend, rk FROM (
         |  SELECT c_nationkey, c_custkey, spend,
         |         rank() OVER (PARTITION BY c_nationkey
         |                      ORDER BY spend DESC, c_custkey ASC) AS rk
         |  FROM (SELECT c_nationkey, c_custkey,
         |               ${dsumSql("o_totalprice")} AS spend
         |        FROM customer JOIN orders ON c_custkey = o_custkey
         |        GROUP BY c_nationkey, c_custkey))
         |WHERE rk <= 5 ORDER BY c_nationkey, rk""".stripMargin,
    "q_window_moving" ->
      s"""SELECT day, daily,
         |  CAST(sum(CAST(daily AS DECIMAL(18,2)))
         |       OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         |       AS DOUBLE) AS ma7,
         |  lag(daily, 1) OVER (ORDER BY day) AS prev_daily
         |FROM (SELECT CAST(o_orderdate AS DATE) AS day,
         |             ${dsumSql("o_totalprice")} AS daily
         |      FROM orders GROUP BY 1)
         |ORDER BY day""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q_union" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 9000
        |ORDER BY c_custkey""".stripMargin,
    "q_except" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 9000
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |ORDER BY c_custkey""".stripMargin,
    "q_intersect" ->
      """SELECT c_custkey FROM customer WHERE c_acctbal > 9000
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |ORDER BY c_custkey""".stripMargin,
    "q_setops_all" ->
      """WITH a AS (SELECT o_orderstatus FROM orders WHERE o_totalprice > 150000),
        |b AS (SELECT o_orderstatus FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT 'intersect_all' AS op, o_orderstatus, count(*) AS n
        |FROM (SELECT o_orderstatus FROM a INTERSECT ALL SELECT o_orderstatus FROM b)
        |GROUP BY 2
        |UNION ALL
        |SELECT 'except_all', o_orderstatus, count(*)
        |FROM (SELECT o_orderstatus FROM a EXCEPT ALL SELECT o_orderstatus FROM b)
        |GROUP BY 2
        |ORDER BY op, o_orderstatus""".stripMargin,
    "q_scalar_funcs" ->
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_u,
        |  lower(p_type) AS type_l,
        |  substr(p_name, 1, 8) AS name_pfx,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  CAST(abs(p_size - 25) AS INT) AS size_dist,
        |  sqrt(CAST(p_size AS DOUBLE)) AS size_sqrt,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(p_retailprice) AS BIGINT) AS price_floor
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_date_funcs" ->
      s"""SELECT CAST(year(o_orderdate) AS INT) AS yr,
         |  CAST(month(o_orderdate) AS INT) AS mo,
         |  count(*) AS n_orders, ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,
    "q_distinct_agg" ->
      """SELECT o_orderpriority,
        |  count(DISTINCT o_custkey) AS n_custs,
        |  count(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )
}
