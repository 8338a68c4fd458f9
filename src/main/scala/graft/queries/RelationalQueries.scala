package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** The relational operator suite — one oracle-checked query per operator
  * family of SURVEY.md §2.B/§2.C, expressed over the driver testdata
  * tables (TESTDATA.md).
  *
  * Conventions that make the DuckDB hash-compare deterministic:
  *   - Sums over doubles are computed as `SUM(CAST(x AS DECIMAL))`:
  *     decimal addition is exact and associative, so the result is
  *     identical regardless of Spark's partial-aggregation order and
  *     identical to DuckDB's. The final value is cast back to DOUBLE so
  *     both engines emit the same physical type.
  *   - Averages are derived as `CAST(sum_dec AS DOUBLE)/count` (single
  *     deterministic float division), never engine-native AVG on double.
  *   - Every query has a total ORDER BY on key columns.
  *   - `events.ts` is compared/grouped at date granularity (the parquet
  *     carries nanoseconds, Spark truncates to µs — see Tables.events).
  *
  * Scale notes: all aggregations are partial-agg friendly (hash agg with
  * map-side combine); the join queries broadcast the dimension side
  * automatically (region/nation/customer are far below the broadcast
  * threshold at any SF; at 100 TB the fact-side scans stay pruned to the
  * referenced columns only).
  */
object RelationalQueries {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))
  private def dec4(c: Column): Column = c.cast(DecimalType(18, 4))
  private def asDouble(c: Column): Column = c.cast("double")

  import Gate.Q

  /** q01 — scan + filter + multi-key hash aggregate (B1,B2,B3,B5,B19):
    * TPC-H Q1-shaped pricing summary. Ref: analysis.ipynb cell 9 (grouped
    * conditional sums over events) generalized to lineitem. */
  val q01PricingSummary: Q = (s, dir) => {
    val l = Tables.lineitem(s, dir)
    l.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec2(col("l_quantity"))).as("sq"),
        sum(dec2(col("l_extendedprice"))).as("sbp"),
        sum(dec4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sdp"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        asDouble(col("sq")).as("sum_qty"),
        asDouble(col("sbp")).as("sum_base_price"),
        asDouble(col("sdp")).as("sum_disc_price"),
        round(asDouble(col("sq")) / col("count_order"), 6).as("avg_qty"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q02 — filter with IN / IS NOT NULL / comparison + expression
    * projection (B1,B2,C4,C6). Ref: analysis.ipynb cells 8,10 WHERE
    * clauses. */
  val q02FilterProject: Q = (s, dir) => {
    Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "view") &&
        col("value").isNotNull && col("value") > 50)
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        // no ROUND: v*1.1 can land exactly on a half-cent where Spark
        // (HALF_UP on the shortest decimal repr) and DuckDB disagree —
        // raw IEEE multiplication is bit-identical in both engines
        (col("value") * 1.1).as("adj_value"),
        to_date(col("ts")).as("event_date"))
      .orderBy("event_id")
  }

  val q02Oracle: String =
    """SELECT event_id, user_id, event_type,
      |  value * 1.1 AS adj_value,
      |  CAST(ts AS DATE) AS event_date
      |FROM events
      |WHERE event_type IN ('purchase','view') AND value IS NOT NULL AND value > 50
      |ORDER BY event_id""".stripMargin

  /** q03 — multiple COUNT(DISTINCT) in one aggregate (B6; Catalyst plans
    * this via Expand). Ref: analysis.ipynb cells 7, 18. */
  val q03MultiDistinct: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(
        countDistinct(col("event_type")).as("distinct_types"),
        countDistinct(to_date(col("ts"))).as("active_days"),
        count(lit(1)).as("total_events"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy("user_id")
  }

  val q03Oracle: String =
    """SELECT user_id,
      |  COUNT(DISTINCT event_type) AS distinct_types,
      |  COUNT(DISTINCT CAST(ts AS DATE)) AS active_days,
      |  COUNT(*) AS total_events,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** q04 — conditional aggregation: SUM(CASE…), COUNT(CASE…),
    * COUNT(DISTINCT CASE…) (B7,C8). Ref: analysis.ipynb cells 9, 20. */
  val q04ConditionalAgg: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(
        asDouble(sum(when(col("event_type") === "purchase", dec2(col("value")))
          .otherwise(dec2(lit(0))))).as("purchase_value"),
        count(when(col("event_type") === "error", lit(1))).as("error_events"),
        countDistinct(when(col("event_type") === "purchase", to_date(col("ts"))))
          .as("purchase_days"))
      .orderBy("user_id")
  }

  val q04Oracle: String =
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_events,
      |  COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END) AS purchase_days
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** q05 — multi-way inner equi-join over the star schema with
    * aggregation (B10,B13). nation/region are broadcast (tiny dims);
    * orders⋈customer shuffles on the key — at 100 TB that's the one
    * required shuffle and it is partial-aggregated map-side first. */
  val q05JoinAgg: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = broadcast(Tables.nation(s, dir))
    val r = broadcast(Tables.region(s, dir))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("order_count"),
        asDouble(sum(dec2(col("o_totalprice")))).as("revenue"))
      .orderBy("r_name", "n_name")
  }

  val q05Oracle: String =
    """SELECT r_name, n_name,
      |  COUNT(*) AS order_count,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** q06 — left outer join + NULLIF/ROUND guard arithmetic (B12,C6,C7,C9).
    * Ref: analysis.ipynb cell 10 (users LEFT JOIN watch times). */
  val q06LeftJoin: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val perCust = o.groupBy("o_custkey").agg(
      count(lit(1)).as("order_count"),
      sum(dec2(col("o_totalprice"))).as("spend_dec"))
    c.join(perCust, c("c_custkey") === perCust("o_custkey"), "left")
      .select(
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        coalesce(col("order_count"), lit(0L)).as("order_count"),
        coalesce(asDouble(col("spend_dec")), lit(0.0)).as("total_spend"),
        // no ROUND here: sum/count can land exactly on a half-cent, where
        // Spark (HALF_UP) and DuckDB disagree; raw IEEE division of the
        // identical operands is bit-deterministic in both engines.
        (asDouble(col("spend_dec")) / nullif(col("order_count"), lit(0)))
          .as("avg_order_value"))
      .orderBy("c_custkey")
  }

  val q06Oracle: String =
    """SELECT c_custkey, c_name, c_mktsegment,
      |  COALESCE(order_count, 0) AS order_count,
      |  COALESCE(CAST(spend_dec AS DOUBLE), 0.0) AS total_spend,
      |  CAST(spend_dec AS DOUBLE) / NULLIF(order_count, 0) AS avg_order_value
      |FROM customer
      |LEFT JOIN (
      |  SELECT o_custkey, COUNT(*) AS order_count,
      |         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec
      |  FROM orders GROUP BY o_custkey
      |) po ON c_custkey = po.o_custkey
      |ORDER BY c_custkey""".stripMargin

  /** q07 — SQL-text path: GROUP BY ordinal + HAVING on an aggregate
    * (B4,B9,A22). Ref: analysis.ipynb cell 8. */
  val q07OrdinalHaving: Q = (s, dir) => {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  COUNT(DISTINCT l_orderkey) AS order_keys,
        |  COUNT(*) AS line_count
        |FROM lineitem
        |GROUP BY 1, 2
        |HAVING COUNT(DISTINCT l_orderkey) > 10
        |ORDER BY 1, 2""".stripMargin)
  }

  val q07Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  COUNT(DISTINCT l_orderkey) AS order_keys,
      |  COUNT(*) AS line_count
      |FROM lineitem
      |GROUP BY 1, 2
      |HAVING COUNT(DISTINCT l_orderkey) > 10
      |ORDER BY 1, 2""".stripMargin

  /** q08 — ordered string aggregation within groups (B8). The reference
    * uses DuckDB GROUP_CONCAT(… ORDER BY …) (analysis.ipynb cell 8);
    * Spark-first form is a sorted collect_set + array_join — pure
    * built-ins, stays in codegen, no UDAF. */
  val q08StringAgg: Q = (s, dir) => {
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(
        array_join(array_sort(collect_set(col("event_type"))), ",").as("event_types"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy("user_id")
  }

  val q08Oracle: String =
    """SELECT user_id,
      |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
      |  COUNT(DISTINCT event_type) AS n_types
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** q09 — ROW_NUMBER window + top-1-per-group filter (B15,B17). Ref:
    * analysis.ipynb cell 15 (dominant genre). Deterministic tiebreak on
    * event_id. */
  val q09WindowTop1: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id").asc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id").as("top_event_id"),
        col("event_type"), col("value").as("top_value"))
      .orderBy("user_id")
  }

  val q09Oracle: String =
    """SELECT user_id, event_id AS top_event_id, event_type, value AS top_value
      |FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
      |  FROM events
      |) t WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** q10 — SELECT DISTINCT (B18). Ref: analysis.ipynb cells 6, 20. */
  val q10Distinct: Q = (s, dir) => {
    Tables.events(s, dir)
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type")
  }

  val q10Oracle: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** q11 — top-k: ORDER BY … DESC LIMIT k (B19,B20 —
    * TakeOrderedAndProject: no global sort at scale). Ref: analysis.ipynb
    * cell 7. Deterministic tiebreak on o_orderkey. */
  val q11TopK: Q = (s, dir) => {
    Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
  }

  val q11Oracle: String =
    """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 10""".stripMargin

  /** q12 — uncorrelated scalar subquery (B16). Ref: analysis.ipynb cell
    * 19 (pct of total distinct users). */
  val q12ScalarSubquery: Q = (s, dir) => {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT event_type,
        |  COUNT(DISTINCT user_id) AS unique_users,
        |  CAST(ROUND(100.0 * COUNT(DISTINCT user_id) /
        |        (SELECT COUNT(DISTINCT user_id) FROM events), 1)
        |    AS DOUBLE) AS user_pct
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)
  }

  val q12Oracle: String =
    """SELECT event_type,
      |  COUNT(DISTINCT user_id) AS unique_users,
      |  -- CAST: Spark types ROUND(decimal) as DECIMAL, DuckDB as DOUBLE;
      |  -- align both to DOUBLE so the type-sensitive driver hash agrees
      |  CAST(ROUND(100.0 * COUNT(DISTINCT user_id) /
      |        (SELECT COUNT(DISTINCT user_id) FROM events), 1)
      |    AS DOUBLE) AS user_pct
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q13 — multi-CTE retention funnel with a non-equi (theta) join:
    * equi key + two range predicates (B11,B14). This is the shape of the
    * reference's Q2 "subsequent sessions within 3 days" join
    * (analysis.ipynb cell 14): Spark plans the equi key as the join key
    * and carries the range conjuncts as a residual condition — never a
    * cartesian product. */
  val q13CteRetention: Q = (s, dir) => {
    Tables.registerAll(s, dir)
    s.sql(
      """WITH first_day AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_date
        |  FROM events GROUP BY user_id
        |),
        |active_3d AS (
        |  SELECT f.user_id, COUNT(*) AS later_events
        |  FROM first_day f
        |  JOIN events e
        |    ON f.user_id = e.user_id
        |   AND CAST(e.ts AS DATE) > f.first_date
        |   AND CAST(e.ts AS DATE) <= date_add(f.first_date, 3)
        |  GROUP BY f.user_id
        |)
        |SELECT
        |  COUNT(*) AS total_users,
        |  COUNT(a.user_id) AS retained_users,
        |  CAST(100.0 AS DOUBLE) * COUNT(a.user_id) / COUNT(*) AS retention_pct
        |FROM first_day f
        |LEFT JOIN active_3d a ON f.user_id = a.user_id""".stripMargin)
  }

  val q13Oracle: String =
    """WITH first_day AS (
      |  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_date
      |  FROM events GROUP BY user_id
      |),
      |active_3d AS (
      |  SELECT f.user_id, COUNT(*) AS later_events
      |  FROM first_day f
      |  JOIN events e
      |    ON f.user_id = e.user_id
      |   AND CAST(e.ts AS DATE) > f.first_date
      |   AND CAST(e.ts AS DATE) <= f.first_date + 3
      |  GROUP BY f.user_id
      |)
      |SELECT
      |  COUNT(*) AS total_users,
      |  COUNT(a.user_id) AS retained_users,
      |  CAST(100.0 AS DOUBLE) * COUNT(a.user_id) / COUNT(*) AS retention_pct
      |FROM first_day f
      |LEFT JOIN active_3d a ON f.user_id = a.user_id""".stripMargin

  /** q14 — UNION (distinct) of two heterogeneous projections (B21 — noted
    * absent in the reference, provided for completeness). */
  val q14Union: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    val sup = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("id"), col("s_name").as("name"))
    c.union(sup).distinct().orderBy("id", "name")
  }

  val q14Oracle: String =
    """SELECT c_custkey AS id, c_name AS name FROM customer
      |UNION
      |SELECT s_suppkey AS id, s_name AS name FROM supplier
      |ORDER BY id, name""".stripMargin

  /** q26 — INTERSECT and EXCEPT with DISTINCT semantics (completing the
    * B21 set-op family next to q14's UNION / q18's UNION ALL): customer
    * keys partitioned into those that appear among order custkeys
    * (INTERSECT) and those that never ordered (EXCEPT), tagged and
    * recombined. Spark's Dataset.intersect/except ARE the distinct set
    * ops — planned as aggregate + left-semi / left-anti joins, so no
    * operator here can go quadratic. */
  val q26SetOps: Q = (s, dir) => {
    val c = Tables.customer(s, dir).select(col("c_custkey").as("id"))
    val o = Tables.orders(s, dir).select(col("o_custkey").as("id"))
    c.intersect(o).select(lit("with_orders").as("tag"), col("id"))
      .union(c.except(o).select(lit("no_orders").as("tag"), col("id")))
      .orderBy("tag", "id")
  }

  val q26Oracle: String =
    """SELECT 'with_orders' AS tag, id FROM (
      |  SELECT c_custkey AS id FROM customer
      |  INTERSECT
      |  SELECT o_custkey AS id FROM orders)
      |UNION ALL
      |SELECT 'no_orders' AS tag, id FROM (
      |  SELECT c_custkey AS id FROM customer
      |  EXCEPT
      |  SELECT o_custkey AS id FROM orders)
      |ORDER BY tag, id""".stripMargin

  /** q27 — explicit GROUPING SETS with grouping() disambiguation,
    * completing the grouping-lattice family next to q15's ROLLUP and
    * q24's CUBE: per-status totals, per-priority totals, and the grand
    * total in one pass. `gid` is composed from per-column grouping()
    * bits (identical semantics in both engines, unlike the engine-
    * specific grouping_id aggregates) — it distinguishes a genuine NULL
    * key from a super-aggregate row, which COALESCE alone cannot.
    * Planned as one Expand + partial hash aggregate like rollup/cube:
    * map-side combinable, one exchange, no lattice re-scan. */
  val q27GroupingSets: Q = (s, dir) =>
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        (grouping(col("o_orderstatus")) * 2 + grouping(col("o_orderpriority")))
          .cast("int").as("gid"),
        count(lit(1)).as("n"),
        asDouble(sum(dec2(col("o_totalprice")))).as("sum_total"))
      .select(
        col("gid"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("sum_total"))
      .orderBy("gid", "status", "priority")

  val q27Oracle: String =
    """SELECT CAST(GROUPING(o_orderstatus)*2 + GROUPING(o_orderpriority) AS INT) AS gid,
      |  COALESCE(o_orderstatus, 'ALL') AS status,
      |  COALESCE(o_orderpriority, 'ALL') AS priority,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY gid, status, priority""".stripMargin

  /** q28 — the ranking/distribution window family (ntile, percent_rank,
    * cume_dist, lead, nth_value, first/last over an unbounded frame),
    * broadening B15/B17 beyond q09's row_number argmax and q20's
    * running frames. All eight functions share ONE partitioning and
    * ordering, so the plan is a single sort-shuffle feeding stacked
    * Window operators — no per-function exchange. The ordering
    * (o_totalprice, o_orderkey) is total within each partition, so the
    * rank-derived doubles ((rank-1)/(n-1), cumulative fraction) are the
    * same IEEE values in both engines. */
  val q28WindowSuite: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"), col("o_orderpriority").as("priority"),
        ntile(4).over(w).as("ntile4"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        lead(col("o_orderkey"), 2).over(w).as("lead2"),
        nth_value(col("o_orderkey"), 3).over(wf).as("nth3"),
        first(col("o_orderkey")).over(wf).as("first_key"),
        last(col("o_orderkey")).over(wf).as("last_key"))
      .orderBy("o_orderkey")
  }

  val q28Oracle: String =
    """SELECT o_orderkey,
      |  o_orderpriority AS priority,
      |  NTILE(4) OVER w AS ntile4,
      |  PERCENT_RANK() OVER w AS pr,
      |  CUME_DIST() OVER w AS cd,
      |  LEAD(o_orderkey, 2) OVER w AS lead2,
      |  NTH_VALUE(o_orderkey, 3) OVER wf AS nth3,
      |  FIRST_VALUE(o_orderkey) OVER wf AS first_key,
      |  LAST_VALUE(o_orderkey) OVER wf AS last_key
      |FROM orders
      |WINDOW
      |  w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
      |  wf AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_orderkey""".stripMargin

  /** q29 — CORRELATED scalar aggregate subquery (extending B16 beyond
    * q12's uncorrelated form): orders costing more than 2× their own
    * customer's average order price. The Spark side is the decorrelated
    * plan Catalyst itself produces for such subqueries — per-customer
    * aggregate joined back and filtered — written with the join explicit
    * so the shape is locked: ONE exchange for the aggregate, the join
    * co-partitioned on the same key, never a per-row re-scan of orders.
    * Cross-engine exactness: the predicate is the integer-exact
    * rearrangement `price·n > 2·sum` over DECIMAL(18,2) (avoiding the
    * engine-specific rounding of an AVG), and the reported average is
    * the IEEE double `sum/n` computed identically on both sides. */
  val q29CorrelatedSubquery: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        dec2(col("o_totalprice")).as("price"))
    val perCust = o.groupBy(col("o_custkey").as("ck"))
      .agg(count(lit(1)).as("n"), sum(col("price")).as("s"))
    o.join(perCust, col("o_custkey") === col("ck"))
      .filter(col("price") * col("n") > col("s") * 2)
      .select(
        col("o_orderkey"), col("o_custkey"),
        asDouble(col("price")).as("price"),
        (asDouble(col("s")) / col("n")).as("cust_avg"))
      .orderBy("o_orderkey")
  }

  val q29Oracle: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
      |  CAST((SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
      |        FROM orders o2 WHERE o2.o_custkey = o.o_custkey) AS DOUBLE)
      |    / (SELECT COUNT(*) FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
      |    AS cust_avg
      |FROM orders o
      |WHERE CAST(o_totalprice AS DECIMAL(18,2))
      |        * (SELECT COUNT(*) FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
      |      > 2 * (SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
      |             FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  /** q30 — INTERSECT ALL / EXCEPT ALL (multiset semantics, completing
    * B21 next to q26's DISTINCT forms): the multiset of customer keys
    * with finished ('F') orders intersected with / minus the multiset
    * with open ('O') orders — a customer with three F and one O order
    * contributes min(3,1)=1 row to the intersection and 3−1=2 rows to
    * the difference. Spark plans both as a counted hash aggregate +
    * generate (replicate_rows), NOT a join — one exchange per input,
    * output proportional to the multiset counts, nothing quadratic. */
  val q30SetOpsAll: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("id"))
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("id"))
    f.intersectAll(open).select(lit("both").as("tag"), col("id"))
      .union(f.exceptAll(open).select(lit("f_only").as("tag"), col("id")))
      .orderBy("tag", "id")
  }

  val q30Oracle: String =
    """SELECT 'both' AS tag, id FROM (
      |  SELECT o_custkey AS id FROM orders WHERE o_orderstatus = 'F'
      |  INTERSECT ALL
      |  SELECT o_custkey AS id FROM orders WHERE o_orderstatus = 'O')
      |UNION ALL
      |SELECT 'f_only' AS tag, id FROM (
      |  SELECT o_custkey AS id FROM orders WHERE o_orderstatus = 'F'
      |  EXCEPT ALL
      |  SELECT o_custkey AS id FROM orders WHERE o_orderstatus = 'O')
      |ORDER BY tag, id""".stripMargin

  /** q15 — ROLLUP grouping sets (B22 — absent from the reference,
    * provided for engine completeness): revenue at (region, nation),
    * per-region subtotal, and grand total. */
  val q15Rollup: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = broadcast(Tables.nation(s, dir))
    val r = broadcast(Tables.region(s, dir))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("order_count"),
        asDouble(sum(dec2(col("o_totalprice")))).as("revenue"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("order_count"), col("revenue"))
      .orderBy("region", "nation")
  }

  val q15Oracle: String =
    """SELECT COALESCE(r_name, 'ALL') AS region,
      |  COALESCE(n_name, 'ALL') AS nation,
      |  COUNT(*) AS order_count,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  /** q16 — scalar string functions: split_part, ||-concat, substring,
    * length, CASE (C1,C2,C3,C8). Ref: analysis.ipynb cells 6-8 session-id
    * parsing. */
  val q16StringFuncs: Q = (s, dir) => {
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        expr("split_part(source, 'c', 2)").as("src_num"),
        concat(col("lang"), lit("_"), col("source")).as("lang_src"),
        substring(col("text"), 1, 10).as("prefix"),
        length(col("text")).as("text_len"),
        when(col("n_chars") > 300, lit("long")).otherwise(lit("short")).as("size_class"))
      .orderBy("doc_id")
  }

  val q16Oracle: String =
    """SELECT doc_id,
      |  split_part(source, 'c', 2) AS src_num,
      |  lang || '_' || source AS lang_src,
      |  SUBSTRING(text, 1, 10) AS prefix,
      |  LENGTH(text) AS text_len,
      |  CASE WHEN n_chars > 300 THEN 'long' ELSE 'short' END AS size_class
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** q17 — date functions: cast-to-date, date arithmetic (+INTERVAL),
    * year extraction, month truncation (C4,C5). Ref: analysis.ipynb cell
    * 14 DATE_ADD retention window. */
  val q17DateFuncs: Q = (s, dir) => {
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        date_add(to_date(col("o_orderdate")), 30).as("due_date"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        trunc(col("o_orderdate"), "month").as("order_month"))
      .orderBy("o_orderkey")
  }

  val q17Oracle: String =
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS order_date,
      |  CAST(o_orderdate AS DATE) + 30 AS due_date,
      |  CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** q18 — semi/anti joins (EXISTS / NOT EXISTS): customers with at
    * least one high-value order vs. customers with no orders at all.
    * left_semi/left_anti never materialize the right side's columns —
    * at scale they beat IN-subquery rewrites by shuffling only keys. */
  val q18SemiAnti: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val big = o.filter(col("o_totalprice") > 100000)
    val withBig = c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), lit("has_big_order").as("segment"))
    val noOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), lit("no_orders").as("segment"))
    withBig.unionAll(noOrders).orderBy("c_custkey", "segment")
  }

  val q18Oracle: String =
    """SELECT c_custkey, c_name, 'has_big_order' AS segment
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
      |UNION ALL
      |SELECT c_custkey, c_name, 'no_orders' AS segment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey, segment""".stripMargin

  /** q19 — semi-structured JSON extraction from a string column
    * (events.props): get_json_object path extraction + typed cast +
    * aggregation over the extracted value. At scale this is the schema-
    * on-read escape hatch for ragged event payloads. */
  val q19JsonExtract: Q = (s, dir) => {
    Tables.events(s, dir)
      .select(
        col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("user_id")
      .agg(
        count(col("k")).as("n_props"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).cast("long").as("sum_k"))
      .orderBy("user_id")
  }

  val q19Oracle: String =
    """SELECT user_id,
      |  COUNT(CAST(props->>'k' AS INTEGER)) AS n_props,
      |  MIN(CAST(props->>'k' AS INTEGER)) AS min_k,
      |  MAX(CAST(props->>'k' AS INTEGER)) AS max_k,
      |  CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** q20 — window analytics beyond ROW_NUMBER: LAG for gap-to-previous
    * and an unbounded-preceding running sum per customer over order
    * time. One window partition shuffle serves both functions. */
  val q20WindowRunning: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(s, dir)
      .withColumn("prev_order_date", lag(to_date(col("o_orderdate")), 1).over(w))
      .withColumn("running_spend",
        asDouble(sum(dec2(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      .select(
        col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        col("prev_order_date"), col("running_spend"))
      .orderBy("o_custkey", "o_orderkey")
  }

  val q20Oracle: String =
    """SELECT o_custkey, o_orderkey,
      |  CAST(o_orderdate AS DATE) AS order_date,
      |  LAG(CAST(o_orderdate AS DATE), 1) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev_order_date,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** q21 — distributed as-of (backward) join (the event-alignment
    * operator Spark lacks natively; see operators.AsOfJoin for the
    * one-shuffle union-window plan): every purchase event matched to the
    * user's latest click at-or-before it. Timestamps compare at µs
    * granularity — Spark truncates the parquet's nanoseconds via
    * `unix_micros`, DuckDB via `epoch_us`, identically — with event_id
    * as the deterministic tiebreak inside one microsecond. */
  val q21AsOfJoin: Q = (s, dir) => {
    import graft.operators.AsOfJoin
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("value").as("click_value"))
    AsOfJoin.backward(purchases, clicks,
        keyCol = "user_id", tsCol = "ts_us", tieCol = "click_id")
      .select(
        col("purchase_id"), col("user_id"),
        col("ts_us").as("purchase_ts_us"),
        col("asof.click_id").as("click_id"),
        col("asof.ts_us").as("click_ts_us"),
        col("asof.click_value").as("click_value"))
      .orderBy("purchase_id")
  }

  val q21Oracle: String =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pts
      |  FROM events WHERE event_type = 'purchase'
      |), c AS (
      |  SELECT event_id AS click_id, user_id, epoch_us(ts) AS cts, value AS click_value
      |  FROM events WHERE event_type = 'click'
      |), ranked AS (
      |  SELECT p.purchase_id, p.user_id, p.pts, c.click_id, c.cts, c.click_value,
      |    row_number() OVER (PARTITION BY p.purchase_id
      |                       ORDER BY c.cts DESC, c.click_id DESC) AS rn
      |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.cts <= p.pts
      |)
      |SELECT purchase_id, user_id, pts AS purchase_ts_us,
      |  click_id, cts AS click_ts_us, click_value
      |FROM ranked WHERE rn = 1
      |ORDER BY purchase_id""".stripMargin

  /** q22 — pure range join (point-in-interval with NO equi key; see
    * operators.RangeJoin for the bucketized plan that avoids Spark's
    * BroadcastNestedLoopJoin): for every distinct order date, how many
    * shipment windows [l_shipdate, l_shipdate + 5·l_linenumber days]
    * were open. Both engines derive the same interval end
    * deterministically from the row. */
  val q22RangeJoin: Q = (s, dir) => {
    import graft.operators.RangeJoin
    def days(c: Column): Column =
      datediff(to_date(c), to_date(lit("1970-01-01"))).cast("long")
    val pts = Tables.orders(s, dir)
      .select(to_date(col("o_orderdate")).as("order_date")).distinct()
      .withColumn("d", days(col("order_date")))
    val iv = Tables.lineitem(s, dir).select(
      days(col("l_shipdate")).as("st"),
      (days(col("l_shipdate")) + col("l_linenumber") * 5).as("en"))
    val matches = RangeJoin
      .pointInInterval(pts, iv, "d", "st", "en", bucketWidth = 16)
      .groupBy("order_date").agg(count(lit(1)).as("n_open"))
    pts.select("order_date")
      .join(matches, Seq("order_date"), "left")
      .select(col("order_date"),
        coalesce(col("n_open"), lit(0L)).as("n_open"))
      .orderBy("order_date")
  }

  val q22Oracle: String =
    """WITH pts AS (
      |  SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date FROM orders
      |), iv AS (
      |  SELECT CAST(l_shipdate AS DATE) AS st,
      |         CAST(l_shipdate AS DATE) + INTERVAL (l_linenumber * 5) DAY AS en
      |  FROM lineitem
      |)
      |SELECT p.order_date, count(i.st) AS n_open
      |FROM pts p LEFT JOIN iv i
      |  ON i.st <= p.order_date AND p.order_date <= i.en
      |GROUP BY p.order_date
      |ORDER BY order_date""".stripMargin

  /** Name → query map consumed by SparkEntry. */
  /** q24 — CUBE aggregation: all 2^n grouping combinations of
    * (returnflag, linestatus), the full-lattice sibling of q15's rollup.
    * Decimal-cast sums per the cross-engine convention.
    *
    * NOT `.cube(...)`: Spark's physical CUBE expands every input row ×4
    * (one copy per grouping set, the Expand operator) BEFORE the partial
    * aggregate — 4× the scan volume through the hash map, the dominant
    * term of this gate (850 ms of a 1.05 s single job at sf0.1; at
    * 100 TB it is 4× the shuffle write too). COUNT and the decimal SUM
    * are decomposable and decimal addition is exact, so the three
    * coarser grouping sets are derived FROM the finest-level base
    * aggregate instead: one 1×-volume scan + map-side partial, then the
    * CUBE runs over the ≤|rf|·|ls| base rows — where its Expand is free
    * (×4 of 6 rows, not of 600 M). The fine grouping set re-aggregates
    * single base rows, so the values are bit-identical to physical CUBE
    * over the raw table: long counts re-sum exactly, Decimal(18,2) sums
    * widen without rounding, and the double cast happens once at the
    * end, after all exact arithmetic. */
  val q24Cube: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n0"), sum(dec2(col("l_quantity"))).as("s0"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("n0")).as("n"), asDouble(sum(col("s0"))).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
        coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
        col("n"), col("sum_qty"))
      .orderBy("rf", "ls")

  val q24Oracle: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
      |  COALESCE(l_linestatus, 'ALL') AS ls,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY rf, ls""".stripMargin

  /** q25 — PIVOT: wide per-linestatus revenue columns via the DataFrame
    * pivot API (explicit value list, so the plan is a single pass with
    * no distinct-values pre-query); the oracle is the conditional-
    * aggregation closed form. */
  val q25Pivot: Q = (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(asDouble(sum(dec2(col("l_extendedprice")))))
      .select(col("l_returnflag"),
        coalesce(col("F"), lit(0.0)).as("rev_f"),
        coalesce(col("O"), lit(0.0)).as("rev_o"))
      .orderBy("l_returnflag")

  val q25Oracle: String =
    """SELECT l_returnflag,
      |  COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'F'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS rev_f,
      |  COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'O'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2)) END) AS DOUBLE), 0.0) AS rev_o
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q23 — exact percentile aggregation (median / p90 / p99 per group),
    * beyond the reference's surface but a standard OLAP op.
    *
    * Deliberately NOT Spark's `percentile` aggregate: that collects a
    * per-group value buffer (ObjectHashAggregate) — 3.7s at sf0.1 and an
    * OOM at 100 TB group sizes. And since round 17, deliberately not
    * the full per-group window SORT either (n·log n over every row —
    * the round-16 floor ledger's two ~350 ms sort jobs and the sf1
    * sweep's 4.9×/decade slope): exact SELECTION via a two-pass
    * histogram. Pass 1 aggregates per-group (count, min, max); pass 2
    * histograms each group into 1024 value-range buckets (one
    * map-side-combinable aggregation, ≤ |groups|·1024 rows) whose
    * exclusive prefix counts locate the bucket holding each wanted
    * boundary rank; only rows in those ≤ 6 buckets per group (expected
    * 6·n/1024 rows) are ranked — global rank = bucket prefix +
    * in-bucket row_number, valid because the bucket index is monotone
    * in x and ties share a bucket. Every pass is a scan or a tiny
    * shuffle: no corpus-sized sort anywhere, at any group size. The
    * boundary values then interpolate as before — `lo + (hi − lo)·frac`,
    * the same formula as DuckDB's quantile_cont, with both sides
    * through roundFixed(6) (the shared fixed-point idiom) so FP
    * term-order differences collapse; the oracle gate certifies the
    * concrete values. A single-valued group (min = max) degrades to
    * one bucket = the old full-group rank — correct, just not pruned. */
  val q23Percentiles: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.roundFixed
    val ps = Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")
    val nBuckets = 1024
    val l = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("rf"), col("l_extendedprice").as("x"))
    // pass 1: per-group count + value range; boundary ranks lo_*+1 and
    // lo_*+2 (1-based) bracket each percentile as before
    val marks = l.groupBy("rf")
      .agg(count(lit(1)).as("n"), min("x").as("mn"), max("x").as("mx"))
      .select(col("rf") +: col("n") +: col("mn") +: col("mx") +:
        ps.map { case (p, nm) =>
          floor((col("n") - 1) * lit(p)).cast("long").as(s"lo_$nm") }: _*)
    val range = marks.select("rf", "mn", "mx")
    // deterministic bucket of x — a pure function of (x, mn, mx), so the
    // histogram pass and the rank pass assign identically; monotone in x
    def bucketOf(x: Column): Column = {
      val xd = x.cast("double"); val mn = col("mn").cast("double")
      val w = (col("mx").cast("double") - mn) / nBuckets
      when(col("mx") === col("mn"), lit(0L))
        .otherwise(least(floor((xd - mn) / w).cast("long"), lit(nBuckets - 1L)))
    }
    // pass 2: per-(group, bucket) counts → exclusive prefix over the
    // TINY histogram (a window over ≤ |groups|·1024 rows, never the
    // corpus); keep only buckets containing a wanted boundary rank
    val hist = l.join(broadcast(range), "rf")
      .groupBy(col("rf"), bucketOf(col("x")).as("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", coalesce(sum("cnt").over(
        Window.partitionBy("rf").orderBy("b")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val targets = hist.join(broadcast(marks.drop("mn", "mx")), "rf")
      .filter(ps.map { case (_, nm) =>
        (col(s"lo_$nm") + 1 > col("cum") &&
          col(s"lo_$nm") + 1 <= col("cum") + col("cnt")) ||
        (col(s"lo_$nm") + 2 > col("cum") &&
          col(s"lo_$nm") + 2 <= col("cum") + col("cnt")) }
        .reduce(_ || _))
      .select(col("rf"), col("b"), col("cum"))
    // pass 3: rank ONLY inside target buckets; row_number ties on equal
    // x are arbitrary, but the rank→value map over a sorted multiset is
    // deterministic regardless
    val ranked = l.join(broadcast(range), "rf")
      .withColumn("b", bucketOf(col("x")))
      .drop("mn", "mx")
      .join(broadcast(targets), Seq("rf", "b"))
      .withColumn("rn", col("cum") + row_number().over(
        Window.partitionBy("rf", "b").orderBy("x")))
    val needed = ps.map { case (_, nm) =>
      col("rn") === col(s"lo_$nm") + 1 || col("rn") === col(s"lo_$nm") + 2 }
      .reduce(_ || _)
    def interp(p: Double, nm: String): Column = {
      val frac = (col("n") - 1) * lit(p) - col(s"lo_$nm").cast("double")
      val vlo = max(when(col("rn") === col(s"lo_$nm") + 1, col("x")))
      val vhi = max(when(col("rn") === col(s"lo_$nm") + 2, col("x")))
      roundFixed(vlo + (coalesce(vhi, vlo) - vlo) * frac, 6).as(nm)
    }
    ranked.join(broadcast(marks.drop("mn", "mx")), "rf")
      .filter(needed)
      // lo_* are functions of rf; grouping by them keeps the frac terms
      // legal outside aggregate functions
      .groupBy(col("rf").as("l_returnflag"), col("n"),
        col("lo_p50"), col("lo_p90"), col("lo_p99"))
      .agg(interp(0.5, "p50"), interp(0.9, "p90"), interp(0.99, "p99"))
      .select(col("l_returnflag"), col("p50"), col("p90"), col("p99"), col("n"))
      .orderBy("l_returnflag")
  }

  val q23Oracle: String =
    """SELECT l_returnflag,
      |  floor(quantile_cont(l_extendedprice, 0.5) * 1e6 + 0.5) / 1e6 AS p50,
      |  floor(quantile_cont(l_extendedprice, 0.9) * 1e6 + 0.5) / 1e6 AS p90,
      |  floor(quantile_cont(l_extendedprice, 0.99) * 1e6 + 0.5) / 1e6 AS p99,
      |  count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q01_pricing_summary", q01PricingSummary, Some(q01Oracle)),
    Gate("q02_filter_project", q02FilterProject, Some(q02Oracle)),
    Gate("q03_multi_distinct", q03MultiDistinct, Some(q03Oracle)),
    Gate("q04_conditional_agg", q04ConditionalAgg, Some(q04Oracle)),
    Gate("q05_join_agg", q05JoinAgg, Some(q05Oracle)),
    Gate("q06_left_join", q06LeftJoin, Some(q06Oracle)),
    Gate("q07_ordinal_having", q07OrdinalHaving, Some(q07Oracle)),
    Gate("q08_string_agg", q08StringAgg, Some(q08Oracle)),
    Gate("q09_window_top1", q09WindowTop1, Some(q09Oracle)),
    Gate("q10_distinct", q10Distinct, Some(q10Oracle)),
    Gate("q11_topk", q11TopK, Some(q11Oracle)),
    Gate("q12_scalar_subquery", q12ScalarSubquery, Some(q12Oracle)),
    Gate("q13_cte_retention", q13CteRetention, Some(q13Oracle)),
    Gate("q14_union", q14Union, Some(q14Oracle)),
    Gate("q15_rollup", q15Rollup, Some(q15Oracle)),
    Gate("q16_string_funcs", q16StringFuncs, Some(q16Oracle)),
    Gate("q17_date_funcs", q17DateFuncs, Some(q17Oracle)),
    Gate("q18_semi_anti", q18SemiAnti, Some(q18Oracle)),
    Gate("q19_json_extract", q19JsonExtract, Some(q19Oracle)),
    Gate("q20_window_running", q20WindowRunning, Some(q20Oracle)),
    Gate("q21_asof_join", q21AsOfJoin, Some(q21Oracle)),
    Gate("q22_range_join", q22RangeJoin, Some(q22Oracle)),
    Gate("q23_percentiles", q23Percentiles, Some(q23Oracle)),
    Gate("q24_cube", q24Cube, Some(q24Oracle)),
    Gate("q25_pivot", q25Pivot, Some(q25Oracle)),
    Gate("q26_set_ops", q26SetOps, Some(q26Oracle)),
    Gate("q27_grouping_sets", q27GroupingSets, Some(q27Oracle)),
    Gate("q28_window_suite", q28WindowSuite, Some(q28Oracle)),
    Gate("q29_correlated_subquery", q29CorrelatedSubquery, Some(q29Oracle)),
    Gate("q30_set_ops_all", q30SetOpsAll, Some(q30Oracle)))
}
