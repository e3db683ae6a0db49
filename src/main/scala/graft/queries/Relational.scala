package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import QueryDsl._

/** The relational operator inventory (SURVEY.md §2.3–2.8), each entry
  * paired with an ANSI-SQL oracle the driver runs in DuckDB.
  *
  * The reference delegates all relational work to Catalyst
  * (SURVEY §2.4/§4.1: it implements no join, no optimizer rule); this
  * inventory declares + oracle-tests the surface a user of the rebuilt
  * engine gets: scan/filter/project, all join types, aggregation
  * (plain/distinct/cube/rollup/grouping sets), windows, sorts/limits,
  * set ops, scalar function families, explode, subqueries.
  */
object Relational {

  /** (name, query, oracle SQL — None means rows-only check) */
  val entries: List[(String, Q, Option[String])] = List(

    // ---- scan + agg: TPC-H Q1 pricing summary --------------------------
    ("q01_pricing_summary",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            dsum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
            davg(col("l_quantity")).as("avg_qty"),
            davg(col("l_extendedprice")).as("avg_price"),
            davg(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        ${sqlDsum("l_quantity")} AS sum_qty,
        ${sqlDsum("l_extendedprice")} AS sum_base_price,
        ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
        ${sqlDsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
        ${sqlDavg("l_quantity")} AS avg_qty,
        ${sqlDavg("l_extendedprice")} AS avg_price,
        ${sqlDavg("l_discount")} AS avg_disc,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    // ---- filter + projection (predicate/column pushdown to parquet) ----
    ("q02_filter_project",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem WHERE l_quantity >= 45 AND l_returnflag = 'R'
        ORDER BY l_orderkey, l_linenumber""")),

    // ---- 3-way join + agg + top-k: TPC-H Q3 shipping priority ----------
    ("q03_top_orders",
      (s, dir) => {
        val cutoff = lit("1997-01-01").cast("timestamp")
        val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val ord = t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
        val li = t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .select(col("l_orderkey"), unix_timestamp(col("o_orderdate")).as("orderdate_ts"), col("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, CAST(epoch(o_orderdate) AS BIGINT) AS orderdate_ts,
        ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // ---- semi join (EXISTS): TPC-H Q4 order priority -------------------
    ("q04_order_priority",
      (s, dir) => {
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val li = t(s, dir, "lineitem").filter(col("l_quantity") > 40)
        ord.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 40)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- 6-way star join (broadcast dims): TPC-H Q5 flavor -------------
    ("q05_region_revenue",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .filter(col("r_name") === "ASIA")
          .groupBy(col("n_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("n_name"))
      },
      Some(s"""SELECT n_name, ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name ORDER BY n_name""")),

    // ---- single-scan filtered global agg: TPC-H Q6 ---------------------
    ("q06_revenue_delta",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
                col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
                col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
             count(lit(1)).as("n")),
      Some(s"""SELECT ${sqlDsum("l_extendedprice * l_discount")} AS revenue, COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    // ---- left outer join preserving empty orders -----------------------
    ("q07_join_left",
      (s, dir) => t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"), "left")
        .groupBy(col("o_orderkey"))
        .agg(count(col("l_orderkey")).as("n_lines"),
             dsum(coalesce(col("l_quantity"), lit(0.0))).as("total_qty"))
        .orderBy(col("o_orderkey")),
      Some(s"""SELECT o_orderkey, COUNT(l_orderkey) AS n_lines,
        ${sqlDsum("COALESCE(l_quantity, 0.0)")} AS total_qty
        FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderkey ORDER BY o_orderkey""")),

    // ---- full outer join of two pre-aggregates -------------------------
    ("q08_join_full",
      (s, dir) => {
        val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("ck"))
          .agg(count(lit(1)).as("n_cust"))
        val sup = t(s, dir, "supplier").groupBy(col("s_nationkey").as("sk"))
          .agg(count(lit(1)).as("n_supp"))
        c.join(sup, col("ck") === col("sk"), "full_outer")
          .select(coalesce(col("ck"), col("sk")).cast("long").as("nationkey"),
                  coalesce(col("n_cust"), lit(0L)).as("n_cust"),
                  coalesce(col("n_supp"), lit(0L)).as("n_supp"))
          .orderBy(col("nationkey"))
      },
      Some("""SELECT CAST(COALESCE(c.k, s.k) AS BIGINT) AS nationkey,
        COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
        FROM (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
        FULL OUTER JOIN (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
        ON c.k = s.k ORDER BY nationkey""")),

    // ---- anti join (NOT EXISTS): customers with no 1995 order ----------
    ("q09_join_anti",
      (s, dir) => {
        val o95 = t(s, dir, "orders").filter(year(col("o_orderdate")) === 1995)
        t(s, dir, "customer")
          .join(o95, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND EXTRACT(year FROM o_orderdate) = 1995)
        ORDER BY c_custkey""")),

    // ---- cross join ----------------------------------------------------
    ("q10_join_cross",
      (s, dir) => t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select(col("r_name"), col("n_name"))
        .orderBy(col("r_name"), col("n_name")),
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
        ORDER BY r_name, n_name""")),

    // ---- window: row_number top-k per group ----------------------------
    ("q11_window_topk",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_custkey"), col("rn"))
      },
      Some("""SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""")),

    // ---- window: running sum (exact decimal frame agg) -----------------
    ("q12_window_running",
      (s, dir) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "lineitem")
          .withColumn("running_rev",
            sum(col("l_extendedprice").cast(DecimalType(28, 4))).over(w).cast("double"))
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_rev"))
          .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,4)))
             OVER (PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_rev
        FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""")),

    // ---- window: lag / lead --------------------------------------------
    ("q13_window_lag",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("prev_price", coalesce(lag(col("o_totalprice"), 1).over(w), lit(0.0)))
          .withColumn("next_price", coalesce(lead(col("o_totalprice"), 1).over(w), lit(0.0)))
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
                  col("prev_price"), col("next_price"))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
        COALESCE(LAG(o_totalprice) OVER w, 0.0) AS prev_price,
        COALESCE(LEAD(o_totalprice) OVER w, 0.0) AS next_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        ORDER BY o_custkey, o_orderkey""")),

    // ---- cube ----------------------------------------------------------
    ("q14_cube",
      (s, dir) => t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
                coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
                col("n"), col("sum_qty"))
        .orderBy(col("rf"), col("ls")),
      Some(s"""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        COALESCE(l_linestatus, 'ALL') AS ls,
        COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        ORDER BY rf, ls""")),

    // ---- rollup over date hierarchy ------------------------------------
    ("q15_rollup",
      (s, dir) => t(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("y"),
                month(col("o_orderdate")).cast("long").as("m"),
                col("o_totalprice"))
        .rollup(col("y"), col("m"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .select(coalesce(col("y"), lit(-1L)).as("y"),
                coalesce(col("m"), lit(-1L)).as("m"),
                col("n"), col("sum_price"))
        .orderBy(col("y"), col("m")),
      Some(s"""SELECT COALESCE(y, -1) AS y, COALESCE(m, -1) AS m,
        COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
        FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
                     CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
                     o_totalprice FROM orders)
        GROUP BY ROLLUP(y, m) ORDER BY y, m""")),

    // ---- grouping sets (via SQL surface) -------------------------------
    ("q16_grouping_sets",
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("orders_gs")
        s.sql(s"""SELECT COALESCE(o_orderstatus, 'ALL') AS st,
          COALESCE(o_orderpriority, 'ALL') AS pri,
          COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
          FROM orders_gs
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          ORDER BY st, pri""")
      },
      Some(s"""SELECT COALESCE(o_orderstatus, 'ALL') AS st,
        COALESCE(o_orderpriority, 'ALL') AS pri,
        COUNT(*) AS n, ${sqlDsum("o_totalprice")} AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY st, pri""")),

    // ---- set ops: union / intersect / except ---------------------------
    ("q17_set_ops",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_nationkey").cast("long").as("k"))
        val sup = t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("k"))
        val u = c.union(sup).distinct().withColumn("op", lit("union"))
        val i = c.intersect(sup).withColumn("op", lit("intersect"))
        val e = c.distinct().except(sup).withColumn("op", lit("except"))
        u.union(i).union(e).select(col("op"), col("k")).orderBy(col("op"), col("k"))
      },
      Some("""WITH c AS (SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS k FROM customer),
        s AS (SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS k FROM supplier)
        SELECT op, k FROM (
          SELECT 'union' AS op, k FROM (SELECT k FROM c UNION SELECT k FROM s)
          UNION ALL SELECT 'intersect', k FROM (SELECT k FROM c INTERSECT SELECT k FROM s)
          UNION ALL SELECT 'except', k FROM (SELECT k FROM c EXCEPT SELECT k FROM s))
        ORDER BY op, k""")),

    // ---- distinct aggregation ------------------------------------------
    ("q18_distinct_agg",
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
             count(lit(1)).as("n"))
        .orderBy(col("o_orderstatus")),
      Some("""SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // ---- having + uncorrelated scalar subquery (scale-free threshold:
    // parts 30% busier than the average part) --------------------------
    ("q19_having_subquery",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val thr = li.agg((count(lit(1)) * 1.3 / countDistinct(col("l_partkey"))).as("thr"))
        li.groupBy(col("l_partkey"))
          .agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(thr))
          .filter(col("n") > col("thr"))
          .select(col("l_partkey"), col("n"))
          .orderBy(col("l_partkey"))
      },
      Some("""SELECT l_partkey, COUNT(*) AS n FROM lineitem GROUP BY l_partkey
        HAVING COUNT(*) > (SELECT COUNT(*) * 1.3 / COUNT(DISTINCT l_partkey) FROM lineitem)
        ORDER BY l_partkey""")),

    // ---- IN subquery ---------------------------------------------------
    ("q20_in_subquery",
      (s, dir) => {
        val bld = t(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
        t(s, dir, "orders")
          .join(broadcast(bld), col("o_custkey") === col("c_custkey"), "left_semi")
          .filter(col("o_totalprice") > 400000.0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderkey"))
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          AND o_totalprice > 400000.0
        ORDER BY o_orderkey""")),

    // ---- scalar string functions ---------------------------------------
    ("q21_scalar_string",
      (s, dir) => t(s, dir, "part")
        .select(col("p_partkey"),
                upper(col("p_name")).as("uname"),
                lower(col("p_brand")).as("lbrand"),
                substring(col("p_type"), 1, 5).as("t5"),
                length(col("p_name")).cast("long").as("name_len"),
                concat(col("p_brand"), lit(":"), col("p_type")).as("bt"))
        .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, UPPER(p_name) AS uname, LOWER(p_brand) AS lbrand,
        SUBSTRING(p_type, 1, 5) AS t5, CAST(LENGTH(p_name) AS BIGINT) AS name_len,
        CONCAT(p_brand, ':', p_type) AS bt
        FROM part ORDER BY p_partkey""")),

    // ---- scalar math/date functions + CASE WHEN ------------------------
    ("q22_scalar_mathdate",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 100 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
                year(col("l_shipdate")).cast("long").as("y"),
                month(col("l_shipdate")).cast("long").as("m"),
                dayofmonth(col("l_shipdate")).cast("long").as("d"),
                abs(col("l_discount") - 0.05).as("ad"),
                floor(col("l_extendedprice")).cast("double").as("fe"),
                ceil(col("l_quantity")).cast("double").as("cq"),
                sqrt(col("l_quantity")).as("sq"),
                when(col("l_quantity") < 10, "low")
                  .when(col("l_quantity") < 40, "mid")
                  .otherwise("high").as("band"))
        .orderBy(col("l_orderkey"), col("l_linenumber")),
      Some("""SELECT l_orderkey, l_linenumber,
        CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS y,
        CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS m,
        CAST(EXTRACT(day FROM l_shipdate) AS BIGINT) AS d,
        ABS(l_discount - 0.05) AS ad,
        CAST(FLOOR(l_extendedprice) AS DOUBLE) AS fe,
        CAST(CEIL(l_quantity) AS DOUBLE) AS cq,
        SQRT(l_quantity) AS sq,
        CASE WHEN l_quantity < 10 THEN 'low'
             WHEN l_quantity < 40 THEN 'mid' ELSE 'high' END AS band
        FROM lineitem WHERE l_orderkey % 100 = 0
        ORDER BY l_orderkey, l_linenumber""")),

    // ---- explode / unnest (generator) ----------------------------------
    ("q23_explode_tokens",
      (s, dir) => t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50),
      Some("""SELECT token, COUNT(*) AS n FROM (
        SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> '' GROUP BY token ORDER BY n DESC, token LIMIT 50""")),

    // ---- time-bucketed event aggregation (streaming-shaped, batch) -----
    ("q24_events_hourly",
      (s, dir) => t(s, dir, "events")
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hour_ts"),
                 col("event_type"))
        .agg(count(lit(1)).as("n"), davg(col("value")).as("avg_value"))
        .orderBy(col("hour_ts"), col("event_type")),
      Some(s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        event_type, COUNT(*) AS n, ${sqlDavg("value")} AS avg_value
        FROM events GROUP BY 1, 2 ORDER BY hour_ts, event_type""")),

    // ---- dedup by key (deterministic representative) -------------------
    ("q25_events_dedup",
      (s, dir) => t(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("event_id")).as("first_event"), count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("event_type")),
      Some("""SELECT user_id, event_type, MIN(event_id) AS first_event, COUNT(*) AS n
        FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type""")),

    // ---- json-ish regexp extraction over the props column --------------
    ("q37_props_extract",
      (s, dir) => t(s, dir, "events")
        .select(col("event_type"),
          regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
             max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        MAX(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- date arithmetic: ship delay in days ---------------------------
    ("q38_date_arith",
      (s, dir) => t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("delay_days"))
        .groupBy(col("delay_days"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("delay_days")),
      Some("""SELECT CAST(datediff('day', o_orderdate, l_shipdate) AS BIGINT) AS delay_days,
        COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY delay_days""")),

    // ---- null handling: coalesce / nullif over outer-join nulls --------
    ("q39_null_handling",
      (s, dir) => {
        val li95 = t(s, dir, "lineitem")
          .filter(year(col("l_shipdate")) === 1995)
          .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("n_lines"))
        t(s, dir, "orders")
          .join(li95, col("o_orderkey") === col("k"), "left")
          .select(
            coalesce(col("n_lines"), lit(0L)).as("lines_95"),
            when(col("n_lines").isNull, "none").otherwise("some").as("bucket"),
            nullif(col("o_orderstatus"), lit("O")).as("status_or_null"))
          .groupBy(col("bucket"), col("status_or_null"))
          .agg(count(lit(1)).as("n"), sum(col("lines_95")).as("total_lines"))
          .select(col("bucket"), coalesce(col("status_or_null"), lit("-")).as("status"),
                  col("n"), col("total_lines"))
          .orderBy(col("bucket"), col("status"))
      },
      Some("""SELECT bucket, COALESCE(status_or_null, '-') AS status,
        COUNT(*) AS n, CAST(SUM(lines_95) AS BIGINT) AS total_lines FROM (
          SELECT COALESCE(n_lines, 0) AS lines_95,
                 CASE WHEN n_lines IS NULL THEN 'none' ELSE 'some' END AS bucket,
                 NULLIF(o_orderstatus, 'O') AS status_or_null
          FROM orders LEFT JOIN (
            SELECT l_orderkey AS k, COUNT(*) AS n_lines FROM lineitem
            WHERE EXTRACT(year FROM l_shipdate) = 1995 GROUP BY 1) li
          ON o_orderkey = k)
        GROUP BY bucket, status_or_null ORDER BY bucket, status""")),

    // ---- approximate distinct via a KMV bottom-k sketch: the k
    // smallest distinct mix64(fnv64(value)) hashes per group, estimate
    // (k-1)·2^62 div kth — exact integer arithmetic end to end, so the
    // whole sketch (unlike an HLL register file) replays bit-for-bit
    // in DuckDB through the HashSql mirror. Map-side combined: each
    // map partition ships ≤ k longs per group where countDistinct
    // must shuffle every distinct value. (Built-in HLL accuracy is
    // asserted in RelationalSmokeSpec — its registers are engine-
    // specific by design, so it stays out of the hash gate.) ----
    ("q40_approx_distinct",
      (s, dir) => {
        val kmv = udaf(new graft.functions.KmvAggregator(64))
        // native codegen'd content hash — the value hashing stays
        // inside WholeStageCodegen, no closure-UDF boundary
        graft.functions.ContentHashExpression.register(s)
        val h62 = (c: org.apache.spark.sql.Column) => shiftrightunsigned(
          graft.functions.ContentHashExpression.contentHash64(c), 2)
        t(s, dir, "lineitem")
          .filter(col("l_partkey").isNotNull)
          .select(col("l_returnflag"), col("l_partkey"),
            h62(col("l_partkey").cast("string")).as("h"))
          .groupBy(col("l_returnflag"))
          .agg(kmv(col("h")).as("sk"),
               countDistinct(col("l_partkey")).as("exact_parts"))
          .select(col("l_returnflag"),
            size(col("sk")).cast("long").as("k_used"),
            element_at(col("sk"), -1).as("kth_hash"),
            when(size(col("sk")) < 64, size(col("sk")).cast("long"))
              .otherwise(expr(
                "CAST((CAST(63 AS DECIMAL(38,0)) * CAST(4611686018427387904 AS DECIMAL(38,0)))" +
                " div CAST(element_at(sk, -1) AS DECIMAL(38,0)) AS BIGINT)"))
              .as("approx_parts"),
            col("exact_parts"))
          .orderBy(col("l_returnflag"))
      },
      Some {
        import graft.pipeline.HashSql._
        s"""WITH d AS (SELECT DISTINCT l_returnflag, CAST(l_partkey AS VARCHAR) AS pv
          FROM lineitem WHERE l_partkey IS NOT NULL),
        f AS (SELECT l_returnflag, ${fnv64("pv")} AS h FROM d),
        m1 AS (SELECT l_returnflag, ${mixStage1("h")} AS h FROM f),
        m2 AS (SELECT l_returnflag, ${mixStage2("h")} AS h FROM m1),
        m3 AS (SELECT l_returnflag, ${mixStage3("h")} AS h FROM m2),
        hh AS (SELECT l_returnflag, CAST(${mixStage4("h")} // 4 AS BIGINT) AS h FROM m3),
        hd AS (SELECT DISTINCT l_returnflag, h FROM hh),
        rk AS (SELECT l_returnflag, h,
          ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn FROM hd),
        sk AS (SELECT l_returnflag, MAX(h) AS kth_hash, COUNT(*) AS k_used
          FROM rk WHERE rn <= 64 GROUP BY l_returnflag),
        ex AS (SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts
          FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY l_returnflag)
        SELECT s.l_returnflag, CAST(s.k_used AS BIGINT) AS k_used, s.kth_hash,
          CAST(CASE WHEN s.k_used < 64 THEN s.k_used
               ELSE (63 * CAST(4611686018427387904 AS HUGEINT))
                    // CAST(s.kth_hash AS HUGEINT) END AS BIGINT) AS approx_parts,
          CAST(ex.exact_parts AS BIGINT) AS exact_parts
        FROM sk s JOIN ex ON ex.l_returnflag = s.l_returnflag
        ORDER BY s.l_returnflag"""
      }),

    // ---- the exact half of q40 under the hash gate: same distinct
    // aggregation, HLL column dropped so the row is oracle-checkable
    // (the sketch itself stays rows-only above — HLL registers differ
    // across engines by design) ----
    ("q40_exact_distinct",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact_parts"))
        .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- ordered string aggregation ------------------------------------
    ("q47_string_agg",
      (s, dir) => t(s, dir, "nation")
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
             count(lit(1)).as("n"))
        .orderBy(col("r_name")),
      Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
        COUNT(*) AS n
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    // ---- conditional / filtered aggregation ----------------------------
    ("q48_conditional_agg",
      (s, dir) => t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(when(col("o_orderstatus") === "F", 1)).as("n_finished"),
          count(when(col("o_totalprice") > 250000.0, 1)).as("n_big"),
          dsum(when(col("o_orderstatus") === "F", col("o_totalprice")).otherwise(0.0)).as("finished_value"))
        .orderBy(col("o_orderpriority")),
      Some(s"""SELECT o_orderpriority,
        COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
        COUNT(*) FILTER (WHERE o_totalprice > 250000.0) AS n_big,
        ${sqlDsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END")} AS finished_value
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- correlated aggregate subquery (TPC-H Q17 shape) ---------------
    ("q49_small_quantity",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val perPart = li.groupBy(col("l_partkey").as("pk"))
          .agg((davg(col("l_quantity")) * 0.2).as("threshold"))
        li.join(broadcast(t(s, dir, "part").filter(col("p_brand") === "Brand#1")),
            col("l_partkey") === col("p_partkey"))
          .join(perPart, col("l_partkey") === col("pk"))
          .filter(col("l_quantity") < col("threshold"))
          .agg(dsum(col("l_extendedprice")).as("total_price"), count(lit(1)).as("n"))
      },
      Some(s"""SELECT ${sqlDsum("l_extendedprice")} AS total_price, COUNT(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#1'
          AND l_quantity < (
            SELECT 0.2 * (${sqlDavg("l2.l_quantity")})
            FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey)""")),

    // ---- distribution of counts (TPC-H Q13 shape: agg of an agg) -------
    ("q50_order_distribution",
      (s, dir) => {
        val perCust = t(s, dir, "customer")
          .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
        perCust.groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    // ---- returned-item revenue per customer, top-20 (TPC-H Q10 shape) --
    ("q52_returned_items",
      (s, dir) => {
        val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        val ord = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some(s"""SELECT c_custkey, c_name,
        ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ---- promo revenue share (TPC-H Q14 shape: ratio of CASE-sums) -----
    ("q53_promo_share",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
                  col("l_shipdate") < lit("1996-07-01").cast("timestamp"))
        li.join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
          .agg(
            dsum(when(col("p_type") === "PROMO",
              col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(0.0)).as("promo_rev"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_rev"))
          .withColumn("promo_share", col("promo_rev") / col("total_rev"))
      },
      Some(s"""SELECT
        ${sqlDsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS promo_rev,
        ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS total_rev,
        (${sqlDsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")})
          / (${sqlDsum("l_extendedprice * (1.0 - l_discount)")}) AS promo_share
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'""")),

    // ---- sessionization: session_window vs gaps-and-islands oracle -----
    // (the batch face of EventStreams.sessionWindows; 30-minute gap)
    ("q51_sessionization",
      (s, dir) => t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("session_start"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH marked AS (
          SELECT user_id, ts,
            CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
          FROM events),
        sessions AS (
          SELECT user_id, ts,
            SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, new_session
                                   ROWS UNBOUNDED PRECEDING) AS session_id
          FROM marked)
        SELECT user_id,
          CAST(epoch(date_trunc('second', MIN(ts))) AS BIGINT) AS session_start,
          COUNT(*) AS n_events
        FROM sessions GROUP BY user_id, session_id
        ORDER BY user_id, session_start""")),

    // ---- SCD2 version history: event-sourced state becomes
    // effective-dated version rows (valid_from, valid_to, is_current)
    // — the warehouse "time travel" dimension shape. One shuffle on
    // user_id + one window; ties broken by event_id so LEAD is
    // deterministic; valid_to coalesces to -1 (open version) so the
    // BIGINT column never carries NULL (null int columns decay to
    // float64 in both pandas readers and would soften the hash gate) ----
    ("q111_scd2_history",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("vf"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("vf"), col("event_id"))
        ev.withColumn("vt", coalesce(lead(col("vf"), 1).over(w), lit(-1L)))
          .withColumn("is_current",
            when(col("vt") === lit(-1L), 1L).otherwise(0L))
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("vf").as("valid_from_us"), col("vt").as("valid_to_us"),
            col("is_current"))
          .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
      },
      Some("""WITH ev AS (SELECT user_id, event_id, event_type,
            epoch_us(ts) AS vf FROM events),
        v AS (SELECT user_id, event_id, event_type, vf,
            COALESCE(LEAD(vf) OVER (PARTITION BY user_id
              ORDER BY vf, event_id), -1) AS vt
          FROM ev)
        SELECT user_id, event_id, event_type,
          CAST(vf AS BIGINT) AS valid_from_us,
          CAST(vt AS BIGINT) AS valid_to_us,
          CAST(CASE WHEN vt = -1 THEN 1 ELSE 0 END AS BIGINT) AS is_current
        FROM v ORDER BY user_id, valid_from_us, event_id""")),

    // ---- unpivot/melt: wide metric columns → long (metric, value)
    // rows via Dataset.unpivot (compiles to Expand — each input row
    // emits one row per metric in-place, no shuffle before the agg) ----
    ("q64_unpivot",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(Array.empty[org.apache.spark.sql.Column],
          Array(col("l_discount"), col("l_extendedprice"), col("l_quantity"), col("l_tax")),
          "metric", "value")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"),
          min(col("value")).cast("double").as("min_value"),
          max(col("value")).cast("double").as("max_value"))
        .orderBy(col("metric")),
      Some(s"""WITH m AS (
          SELECT 'l_discount' AS metric, l_discount AS value FROM lineitem
          UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
          UNION ALL SELECT 'l_quantity', l_quantity FROM lineitem
          UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
        SELECT metric, COUNT(*) AS n, ${sqlDsum("value")} AS total,
          CAST(MIN(value) AS DOUBLE) AS min_value,
          CAST(MAX(value) AS DOUBLE) AS max_value
        FROM m GROUP BY metric ORDER BY metric""")),

    // ---- skew-resistant equi-join through PartitionUtil.saltedJoin:
    // events (hot user_ids melt a single sort-merge task at scale) join
    // the customer dim on a salted key — the salt spreads each hot key
    // over 8 tasks and never changes the result, which is what the
    // plain-join oracle proves --------------------------------------
    ("q68_skew_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val dim = t(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        graft.pipeline.PartitionUtil.saltedJoin(ev, dim, "user_id", buckets = 8)
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_events,
        ${sqlDsum("e.value")} AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // ---- ranking window family: ntile / percent_rank / cume_dist /
    // first_value share one window spec → ONE shuffle+sort serves all
    // four (the ratios are exact integer divisions, bit-equal in both
    // engines) ---------------------------------------------------------
    ("q69_window_funcs",
      (s, dir) => {
        val w = Window.partitionBy(col("c_nationkey"))
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"),
            ntile(4).over(w).cast("long").as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"),
            first(col("c_custkey")).over(w).cast("long").as("richest"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_nationkey,
        CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        percent_rank() OVER w AS pct_rank,
        cume_dist() OVER w AS cume,
        CAST(first_value(c_custkey) OVER w AS BIGINT) AS richest
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
        ORDER BY c_custkey""")),

    // ---- time-RANGE rolling window: trailing-7-day revenue. The frame
    // sums 1e-4-grid BIGINTs, so the running total is exact regardless
    // of the engines' frame-evaluation order (a double window-sum would
    // be order-sensitive); the single global window runs on the tiny
    // daily aggregate, not the fact table -------------------------------
    ("q70_rolling_window",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy((unix_timestamp(date_trunc("day", col("o_orderdate"))) / 86400)
            .cast("long").as("day_idx"))
          .agg(sum(floor(col("o_totalprice") * 10000.0).cast("long")).as("rev_grid"))
        val w = Window.orderBy(col("day_idx")).rangeBetween(-6, Window.currentRow)
        daily.select(col("day_idx"),
            (sum(col("rev_grid")).over(w).cast("double") / 10000.0).as("rev_7d"))
          .orderBy(col("day_idx"))
      },
      Some("""WITH daily AS (
          SELECT CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT) // 86400 AS day_idx,
            SUM(CAST(FLOOR(o_totalprice * 10000.0) AS BIGINT)) AS rev_grid
          FROM orders GROUP BY 1)
        SELECT day_idx,
          CAST(SUM(rev_grid) OVER (ORDER BY day_idx
            RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) / 10000.0 AS rev_7d
        FROM daily ORDER BY day_idx""")),

    // ---- JSON path extraction over the props column (the parsed
    // counterpart of q37's regexp extraction) ---------------------------
    ("q71_json_extract",
      (s, dir) => t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"),
          count_distinct(col("k")).as("n_distinct_k"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_distinct_k
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- exact percentiles (integer-valued input → interpolation exact)
    ("q41_percentile",
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("li_pct")
        s.sql("""SELECT l_returnflag,
          CAST(percentile(l_quantity, 0.5) AS DOUBLE) AS median_qty,
          CAST(percentile(l_quantity, 0.9) AS DOUBLE) AS p90_qty
          FROM li_pct GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""SELECT l_returnflag,
        CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS median_qty,
        CAST(quantile_cont(l_quantity, 0.9) AS DOUBLE) AS p90_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- bucketed co-located join: the ingest-time answer to the
    // recurring-shuffle problem. Both fact tables are written ONCE
    // bucketed by the join key (`bucketBy(8, orderkey)` — at 100 TB
    // that is the one shuffle, paid at ingest); every later join AND
    // per-key aggregation is then exchange-free: the bucketed scans
    // report hashpartitioning(orderkey, 8), SortMergeJoin consumes it
    // directly, and the per-orderkey aggregate reuses it again.
    // PlanShapeSpec asserts the join+agg plan contains NO Exchange node of
    // any kind. The oracle is the plain (shuffling) join in DuckDB —
    // proof that co-location changes the plan, not the answer. ---------
    ("q101_bucketed_join",
      (s, dir) => {
        val key = java.nio.file.Paths.get(dir).getFileName.toString
          .replaceAll("[^A-Za-z0-9]", "_")
        val base = s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_$key"
        val (liTbl, ordTbl) = (s"li_bkt_$key", s"ord_bkt_$key")
        // the ingest is ONE-TIME by design (that's the whole point of
        // bucketing) — skip it when both tables' _SUCCESS markers are
        // already on disk (the input is deterministic and the dir is
        // sf-keyed), and merely re-register the external-table metadata
        // in a fresh catalog. A missing/partial write rebuilds.
        val basePath = new org.apache.hadoop.fs.Path(base)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        val written = Seq("lineitem", "orders").forall(t0 =>
          fs.exists(new org.apache.hadoop.fs.Path(s"$base/$t0/_SUCCESS")))
        if (!written) {
          s.sql(s"DROP TABLE IF EXISTS $liTbl")
          s.sql(s"DROP TABLE IF EXISTS $ordTbl")
          fs.delete(basePath, true)
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"))
            .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", s"$base/lineitem").saveAsTable(liTbl)
          t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
            .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", s"$base/orders").saveAsTable(ordTbl)
        } else {
          if (!s.catalog.tableExists(liTbl))
            s.sql(s"""CREATE TABLE $liTbl (l_orderkey BIGINT, l_extendedprice DOUBLE)
              USING PARQUET CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey)
              INTO 8 BUCKETS LOCATION '$base/lineitem'""")
          if (!s.catalog.tableExists(ordTbl))
            s.sql(s"""CREATE TABLE $ordTbl (o_orderkey BIGINT, o_orderpriority STRING)
              USING PARQUET CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey)
              INTO 8 BUCKETS LOCATION '$base/orders'""")
        }
        // hint("merge") keeps the planner on SortMergeJoin (a broadcast
        // would hide the co-location this query exists to demonstrate)
        s.table(liTbl).hint("merge")
          .join(s.table(ordTbl), col("l_orderkey") === col("o_orderkey"))
          .filter(col("o_orderpriority") === "1-URGENT")
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
          .orderBy(col("l_orderkey"))
          .limit(100)
      },
      Some(s"""SELECT l_orderkey, COUNT(*) AS n_items,
        ${sqlDsum("l_extendedprice")} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_orderkey ORDER BY l_orderkey LIMIT 100""")),

    // ---- hive-style partition pruning: orders land partitioned by
    // month at ingest (`partitionBy("o_month")` — the standard layout
    // for a 100 TB time-series lake); a one-month query then touches
    // ONE directory — the filter resolves against the file index
    // (PartitionFilters in the scan), zero data files from other
    // months are opened, let alone read. PlanShapeSpec asserts the
    // PartitionFilters entry. The oracle filters the unpartitioned
    // table — layout changes the IO, not the answer. -------------------
    ("q105_partition_pruning",
      (s, dir) => {
        val key = java.nio.file.Paths.get(dir).getFileName.toString
          .replaceAll("[^A-Za-z0-9]", "_")
        val base = s"${System.getProperty("java.io.tmpdir")}/graft_partitioned_$key"
        // one-time ingest, same skip rule as q101
        val basePath = new org.apache.hadoop.fs.Path(base)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$base/_SUCCESS")))
          t(s, dir, "orders")
            .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
            .write.mode("overwrite").partitionBy("o_month").parquet(base)
        s.read.parquet(base)
          .filter(col("o_month") === "1995-03")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
          .orderBy(col("o_orderpriority"))
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
        ${sqlDsum("o_totalprice")} AS revenue
        FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- Z-order (Morton) clustered layout: a lake can only be SORTED
    // one way, but 2-D box queries (customer range × date range) want
    // locality in BOTH columns. The ingest computes the codegen'd
    // `z_order(o_custkey, o_day)` curve value, range-partitions and
    // sorts by it (one-time, like q101/q105) — so parquet min/max
    // footer stats prune files/row-groups on EITHER predicate.
    // ScaleTechniquesSpec counts file-level hits: the box touches a
    // fraction of the z-laid files but every single-column-sorted file
    // range. Layout never changes the answer: the oracle filters the
    // unpartitioned table. -----------------------------------------------
    ("q106_zorder_scan",
      (s, dir) => {
        graft.functions.ZOrderExpression.register(s)
        val key = java.nio.file.Paths.get(dir).getFileName.toString
          .replaceAll("[^A-Za-z0-9]", "_")
        val base = s"${System.getProperty("java.io.tmpdir")}/graft_zorder_$key"
        val basePath = new org.apache.hadoop.fs.Path(base)
        val fs = basePath.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(new org.apache.hadoop.fs.Path(s"$base/_SUCCESS")))
          t(s, dir, "orders")
            // epoch contract: 1995-01-01 IS the measured corpus minimum
            // of o_orderdate at sf0.001, sf0.01 and sf0.1 (verified
            // against the regenerated testdata), so o_day >= 0 for
            // every row. z_order REQUIRES non-negative axes; if a
            // future regeneration moves the minimum earlier, the
            // throw-on-negative guard in ZOrderUtil.interleave fails
            // the ingest loudly instead of silently wrapping — update
            // the epoch here AND in the oracle SQL below together.
            .withColumn("o_day",
              datediff(col("o_orderdate"), to_date(lit("1995-01-01"))).cast("long"))
            .withColumn("zval",
              graft.functions.ZOrderExpression.zOrder(col("o_custkey"), col("o_day")))
            .repartitionByRange(16, col("zval"))
            .sortWithinPartitions(col("zval"))
            // overwrite: a crashed partial write (dir exists, no
            // _SUCCESS) must rebuild, not fail ErrorIfExists (q105's
            // rule; the _SUCCESS check above is the skip condition)
            .write.mode("overwrite").parquet(base)
        s.read.parquet(base)
          .filter(col("o_custkey").between(100, 300) && col("o_day").between(100, 200))
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
          .orderBy(col("o_orderstatus"))
      },
      Some(s"""SELECT o_orderstatus, COUNT(*) AS n_orders,
        ${sqlDsum("o_totalprice")} AS revenue
        FROM orders
        WHERE o_custkey BETWEEN 100 AND 300
          AND date_diff('day', DATE '1995-01-01', o_orderdate) BETWEEN 100 AND 200
        GROUP BY o_orderstatus ORDER BY o_orderstatus"""))
  ,

    // ---- HDR-histogram quantile sketch (Gil Tene's HdrHistogram
    // bucketing: exact below 2^5, then 16 log-spaced sub-buckets per
    // power of two — ≤3.2% relative error): the MERGEABLE bounded-
    // memory quantile structure telemetry pipelines use where exact
    // percentile_disc (q41/q98) needs the full value multiset. The
    // whole sketch is integer arithmetic (bucket = value truncated to
    // its top 5 bits via length(bin(x))), so unlike t-digest/GK —
    // whose results depend on merge order — it replays bit-for-bit in
    // DuckDB. State: ≤ ~500 buckets per group at ANY corpus size; the
    // quantile walk's window runs over that bounded relation, never
    // the data. p50/p90/p99 bucket bounds per return flag, with the
    // per-group totals the estimate divides. --------------------------
    ("q147_hdr_quantiles",
      (s, dir) => hdrQuantiles(s,
        t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
          expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("x")))
        .select(col("g").as("l_returnflag"), col("p"),
          col("est_lo"), col("est_hi"), col("n_total"))
        .orderBy(col("l_returnflag"), col("p")),
      Some("""WITH v AS (SELECT l_returnflag AS g, CAST(floor(l_extendedprice * 100) AS BIGINT) AS x
          FROM lineitem WHERE CAST(floor(l_extendedprice * 100) AS BIGINT) >= 1),
        b AS (SELECT g, x, CASE WHEN x < 32 THEN CAST(1 AS BIGINT)
            ELSE CAST(power(2, length(printf('%b', x)) - 5) AS BIGINT) END AS w FROM v),
        h AS (SELECT g, (x // w) * w AS lb, COUNT(*) AS c FROM b GROUP BY 1, 2),
        cum AS (SELECT g, lb, c,
            SUM(c) OVER (PARTITION BY g ORDER BY lb) AS cum,
            SUM(c) OVER (PARTITION BY g) AS tot FROM h),
        q AS (SELECT g, p, MIN(lb) AS est_lo, CAST(MAX(tot) AS BIGINT) AS n_total
          FROM cum CROSS JOIN (VALUES (50), (90), (99)) t(p)
          WHERE 100 * cum >= p * tot GROUP BY 1, 2)
        SELECT g AS l_returnflag, CAST(p AS BIGINT) AS p, est_lo,
          CASE WHEN est_lo < 32 THEN est_lo
            ELSE est_lo + CAST(power(2, length(printf('%b', est_lo)) - 5) AS BIGINT) - 1
          END AS est_hi, n_total
        FROM q ORDER BY l_returnflag, p""")),

    // ---- Bloom-filter pre-join — the explicit form of the runtime-
    // filter shuffle reduction (Spark's own bloom injection only
    // rewrites shuffle-join probes; this composes anywhere): the
    // high-balance supplier keys pack into a 64 Kbit / 3-hash Bloom
    // (one map-side-combined bit_or agg, KB-sized broadcast), lineitem
    // rows that CANNOT match drop before any exchange, and the exact
    // semi join afterwards removes the false positives — bit-identical
    // to the plain semi join the oracle runs, which is exactly what
    // makes the technique gate-checkable. The 100 TB case: a build
    // side too big to broadcast raw whose Bloom still fits. ----------
    ("q149_bloom_prejoin",
      (s, dir) => {
        val dim = t(s, dir, "supplier").filter(col("s_acctbal") > 5000.0)
          .select(col("s_suppkey"))
        val kept = graft.pipeline.PartitionUtil.bloomSemiJoin(
          t(s, dir, "lineitem"), dim, "l_suppkey", "s_suppkey")
        kept.groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
          .orderBy(col("l_returnflag"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n, ${sqlDsum("l_quantity")} AS qty
        FROM lineitem
        WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000.0)
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- Deequ-style data-quality audit — the constraint sweep a
    // 100 TB ingest runs before promoting a snapshot: completeness
    // (nulls), uniqueness (duplicate PKs), referential integrity
    // (orphan FKs), domain ranges, freshness — each as ONE BIGINT
    // violation count. Per-table checks fold into a SINGLE conditional-
    // aggregation scan (map-side combined — 5 checks cost one pass,
    // not 5); uniqueness rides the same scan as count-distinct; the
    // FK check is the only join, a broadcast-able anti join on the PK.
    // One tiny union of scalars at the end. ---------------------------
    ("q150_dq_audit",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        val oScan = o.agg(
          count(lit(1)).as("orders_rows"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("orders_null_custkey"),
          (count(lit(1)) - countDistinct(col("o_orderkey"))).as("orders_dup_pk"),
          sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("orders_nonpos_price"),
          sum(when(col("o_orderdate") > lit("2001-08-01").cast("timestamp"), 1L)
            .otherwise(0L)).as("orders_stale_dates"))
        val liScan = li.agg(
          count(lit(1)).as("lineitem_rows"),
          sum(when(col("l_quantity") < 1.0 || col("l_quantity") > 50.0, 1L)
            .otherwise(0L)).as("lineitem_qty_range"),
          sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.5, 1L)
            .otherwise(0L)).as("lineitem_discount_range"))
        // orphan = a NON-NULL key with no parent (a NULL FK is the
        // completeness check's finding, not a referential one — and
        // SQL's NOT IN drops NULL probes, so the isNotNull filter is
        // also what keeps both engines counting the same rows)
        val orphans = li.filter(col("l_orderkey").isNotNull)
          .join(o.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("lineitem_orphan_fk"))
        val unpivot = (d: DataFrame) => {
          val cols = d.columns
          d.select(explode(array(cols.map(c =>
            struct(lit(c).as("check_name"), col(c).cast("long").as("violations"))): _*)).as("kv"))
            .select(col("kv.check_name"), col("kv.violations"))
        }
        unpivot(oScan).union(unpivot(liScan)).union(unpivot(orphans))
          .orderBy(col("check_name"))
      },
      Some("""WITH o AS (SELECT COUNT(*) AS orders_rows,
            SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS orders_null_custkey,
            COUNT(*) - COUNT(DISTINCT o_orderkey) AS orders_dup_pk,
            SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END) AS orders_nonpos_price,
            SUM(CASE WHEN o_orderdate > TIMESTAMP '2001-08-01 00:00:00' THEN 1 ELSE 0 END) AS orders_stale_dates
          FROM orders),
        l AS (SELECT COUNT(*) AS lineitem_rows,
            SUM(CASE WHEN l_quantity < 1.0 OR l_quantity > 50.0 THEN 1 ELSE 0 END) AS lineitem_qty_range,
            SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.5 THEN 1 ELSE 0 END) AS lineitem_discount_range
          FROM lineitem),
        f AS (SELECT COUNT(*) AS lineitem_orphan_fk FROM lineitem
          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)),
        u AS (
          SELECT 'orders_rows' AS check_name, CAST(orders_rows AS BIGINT) AS violations FROM o
          UNION ALL SELECT 'orders_null_custkey', CAST(orders_null_custkey AS BIGINT) FROM o
          UNION ALL SELECT 'orders_dup_pk', CAST(orders_dup_pk AS BIGINT) FROM o
          UNION ALL SELECT 'orders_nonpos_price', CAST(orders_nonpos_price AS BIGINT) FROM o
          UNION ALL SELECT 'orders_stale_dates', CAST(orders_stale_dates AS BIGINT) FROM o
          UNION ALL SELECT 'lineitem_rows', CAST(lineitem_rows AS BIGINT) FROM l
          UNION ALL SELECT 'lineitem_qty_range', CAST(lineitem_qty_range AS BIGINT) FROM l
          UNION ALL SELECT 'lineitem_discount_range', CAST(lineitem_discount_range AS BIGINT) FROM l
          UNION ALL SELECT 'lineitem_orphan_fk', CAST(lineitem_orphan_fk AS BIGINT) FROM f)
        SELECT check_name, violations FROM u ORDER BY check_name"""))
  )

  /** The q147 HDR-histogram quantile sketch over an arbitrary
    * (g: group, x: BIGINT value ≥ 1) relation — rows with x < 1 are
    * dropped (HdrHistogram tracks positive values). Returns one row
    * per (g, p∈{50,90,99}) with the bucket bounds [est_lo, est_hi]
    * containing the exact percentile_disc value and the group total.
    * Exposed for ScaleProbe: the sketch agg is the only corpus-scale
    * stage; everything downstream is over ≤16·log2(max) buckets/group. */
  def hdrQuantiles(s: SparkSession, gx: DataFrame): DataFrame = {
    val sub = 32 // 2^5: exact region bound and sub-bucket resolution
    val v = gx
      .filter(col("x") >= 1)
      .withColumn("w", expr(
        s"CASE WHEN x < $sub THEN CAST(1 AS BIGINT) " +
          s"ELSE CAST(power(2, length(bin(x)) - 5) AS BIGINT) END"))
      .withColumn("lb", expr("(x div w) * w"))
    val hist = v.groupBy(col("g"), col("lb"))
      .agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("g"))
          .orderBy(col("lb")).rowsBetween(Long.MinValue, 0)))
      .withColumn("tot", sum(col("c")).over(
        Window.partitionBy(col("g"))))
    cum.crossJoin(s.range(1).select(explode(array(lit(50), lit(90), lit(99))).as("p")))
      .filter(expr("100 * cum >= p * tot"))
      .groupBy(col("g"), col("p"))
      .agg(min(col("lb")).as("est_lo"), max(col("tot")).as("n_total"))
      .withColumn("est_hi", expr(
        s"CASE WHEN est_lo < $sub THEN est_lo " +
          s"ELSE est_lo + CAST(power(2, length(bin(est_lo)) - 5) AS BIGINT) - 1 END"))
      .select(col("g"), col("p").cast("long").as("p"),
        col("est_lo"), col("est_hi"), col("n_total"))
  }
}
