package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Relational operator gates over the TPC-H-shaped tables and `events`:
  * salted aggregation, Bloom-pruned join, sessionization, Z-order keys,
  * min-max normalization and the SCD2 merge. */
object OpsQueries {
  import Gate.Q
  import Shared._

  /** op_salted_agg — two-phase salted aggregation (operators.Skew) under
    * the cross-engine gate: the salted decomposition must be EXACTLY the
    * plain GROUP BY (sums go through decimal, so partial-merge order
    * cannot shift the value). Proves the skew-mitigation rewrite is
    * algebraically invisible, not just spec-plausible. */
  val opSaltedAgg: Q = (s, dir) => {
    import org.apache.spark.sql.types.DecimalType
    graft.operators.Skew.saltedAggregate(
      Tables.events(s, dir),
      keys = Seq("event_type"),
      aggs = Map(
        "sum_value" -> (col("value").cast(DecimalType(18, 2)), "sum"),
        "n" -> (lit(1), "count"),
        "min_value" -> (col("value"), "min"),
        "max_value" -> (col("value"), "max")),
      saltFactor = 8)
      .select(col("event_type"),
        col("sum_value").cast("double").as("sum_value"),
        col("n"), col("min_value"), col("max_value"))
      .orderBy("event_type")
  }

  val opSaltedAggOracle: String =
    """SELECT event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  COUNT(*) AS n,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** op_bloom_join — Bloom-pruned selective join (operators.BloomJoin):
    * lineitem (fact) joined to the p_size = 1 slice of part (~2% of
    * keys). The Bloom filter of the dim keys rides into the fact scan as
    * a plan-literal projection filter, so non-matching fact rows die
    * BEFORE the exchange. The gate is the exactness contract itself: a
    * Bloom filter has no false negatives and the equi-join eliminates
    * false positives, so the oracle is the plain UN-pruned join — the
    * rewrite must be row-for-row invisible. Sums go through decimal so
    * partial-merge order cannot shift values cross-engine. */
  val opBloomJoin: Q = (s, dir) => {
    import org.apache.spark.sql.types.DecimalType
    val dim = Tables.part(s, dir)
      .filter(col("p_size") === 1)
      .select(col("p_partkey"), col("p_brand"))
    val fact = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    graft.operators.BloomJoin.bloomPrunedJoin(fact, dim, "l_partkey", "p_partkey")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast(DecimalType(18, 2)))
          .cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast("double").as("sum_price"))
      .orderBy("p_brand")
  }

  val opBloomJoinOracle: String =
    """SELECT p_brand,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size = 1
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** op_sessionize — gap-based sessionization of the events stream
    * (30-minute silence closes a session), the batch twin of the
    * streaming flatMapGroupsWithState sessionizer
    * (streaming.StreamingIngest — StreamingIngestSpec asserts the two
    * agree on a replayed fixture). Session bounds emitted as epoch
    * MICROS bigints, the q21_asof_join cross-engine timestamp
    * convention. One shuffle: the lag window and the running
    * session-number sum share the (user_id, event_time) sort, and the
    * session aggregate groups within the same partitioning. */
  val opSessionize: Q = (s, dir) =>
    graft.streaming.StreamingIngest
      .sessionizeEvents(Tables.events(s, dir), "ts", gapMinutes = 30)
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")

  val opSessionizeOracle: String =
    """WITH e AS (
      |  SELECT user_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM events),
      |f AS (
      |  SELECT user_id, ts,
      |    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END AS new_sess
      |  FROM e),
      |g AS (
      |  SELECT user_id, ts,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess_no
      |  FROM f)
      |SELECT user_id,
      |  epoch_us(min(ts)) AS session_start_us,
      |  epoch_us(max(ts)) AS session_end_us,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM g GROUP BY user_id, sess_no
      |ORDER BY user_id, session_start_us""".stripMargin

  /** op_zorder — multi-dimensional layout clustering (operators.Layout):
    * the Morton interleave key over (custkey, orderkey). Pure unrolled
    * integer shifts — bit-identical in any engine; the layout WRITE path
    * (range partition + sort by this key) is asserted in LayoutSpec. */
  private val ZBits = 21

  val opZorder: Q = (s, dir) =>
    Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"),
      graft.operators.Layout.zorderKey(
        col("o_custkey"), col("o_orderkey"), ZBits).as("zkey"))
      .orderBy("zkey", "o_orderkey")

  val opZorderOracle: String = {
    val zTerms = (0 until ZBits).map(i =>
      s"(((o_custkey >> $i) & 1) << ${2 * i}) + (((o_orderkey >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""SELECT o_orderkey, o_custkey, CAST($zTerms AS BIGINT) AS zkey
       |FROM orders
       |ORDER BY zkey, o_orderkey""".stripMargin
  }

  /** op_zorder3 — the n-column fold (round-robin interleave, bit i of
    * column j at position i·n+j) hash-locked on lineitem's three keys;
    * 3·ZBits3 = 45 bits. The 2-column gate above pins the classic
    * interleave; this pins the generalization LayoutSpec layout-tests. */
  private val ZBits3 = 15

  val opZorder3: Q = (s, dir) =>
    Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
      graft.operators.Layout.zorderKey(
        Seq(col("l_orderkey"), col("l_partkey"), col("l_suppkey")), ZBits3).as("zkey"))
      .orderBy("zkey", "l_orderkey", "l_linenumber")

  val opZorder3Oracle: String = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey")
    val zTerms = (for { i <- 0 until ZBits3; (c, j) <- cols.zipWithIndex }
      yield s"((($c >> $i) & 1) << ${i * 3 + j})").mkString(" + ")
    s"""SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
       |  CAST($zTerms AS BIGINT) AS zkey
       |FROM lineitem
       |ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin
  }

  /** ft_normalize — per-dimension min-max embedding normalization
    * (operators.Features): exact min/max aggregates + one correctly-
    * rounded rescale per component, so even the double outputs
    * hash-match cross-engine. */
  val ftNormalize: Q = (s, dir) =>
    graft.operators.Features.minMaxNormalize(
      Tables.embeddings(s, dir), "vec_id", "embedding")
      .orderBy("vec_id", "pos")

  val ftNormalizeOracle: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |x AS (
       |  SELECT vec_id, CAST(i.idx AS BIGINT) AS pos, v[i.idx + 1] AS x
       |  FROM e, range($EmbDim) i(idx)
       |), st AS (
       |  SELECT pos, min(x) AS mn, max(x) AS mx FROM x GROUP BY 1
       |)
       |SELECT vec_id, x.pos,
       |  CASE WHEN mx = mn THEN 0.0 ELSE (x - mn) / (mx - mn) END AS x_norm
       |FROM x JOIN st USING (pos)
       |ORDER BY vec_id, pos""".stripMargin

  /** op_merge_scd2 — SCD2 incremental merge (operators.Merge): customer
    * is the dimension, per-customer order totals are the change batch
    * (plus synthetic brand-new keys to exercise the insert branch).
    * Tracked value goes through DECIMAL(18,2) on both sides, so change
    * detection and outputs are exact. */
  val opMergeScd2: Q = (s, dir) => {
    import org.apache.spark.sql.types.DecimalType
    val base = Tables.customer(s, dir).select(
      col("c_custkey").as("custkey"),
      col("c_mktsegment").as("segment"),
      col("c_acctbal").cast(DecimalType(18, 2)).as("acctbal"),
      to_date(lit("2024-01-01")).as("valid_from"),
      to_date(lit("2099-12-31")).as("valid_to"),
      lit(true).as("is_current"))
    val fromOrders = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2)))
        .cast(DecimalType(18, 2)).as("acctbal"))
    val newKeys = Tables.customer(s, dir)
      .filter(pmod(col("c_custkey"), lit(100)) === 0)
      .select((col("c_custkey") + 1000000).as("custkey"),
        lit(java.math.BigDecimal.ZERO).cast(DecimalType(18, 2)).as("acctbal"))
    graft.operators.Merge.scd2Merge(
      base, fromOrders.unionByName(newKeys), "custkey",
      trackedCols = Seq("acctbal"), attrCols = Seq("segment"),
      effectiveDate = "2024-06-01", endOfTime = "2099-12-31")
      .select(col("custkey"), col("segment"),
        col("acctbal").cast("double").as("acctbal"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy("custkey", "valid_from")
  }

  val opMergeScd2Oracle: String =
    """WITH base AS (
      |  SELECT c_custkey AS custkey, c_mktsegment AS segment,
      |    CAST(c_acctbal AS DECIMAL(18,2)) AS acctbal,
      |    DATE '2024-01-01' AS valid_from, DATE '2099-12-31' AS valid_to,
      |    TRUE AS is_current
      |  FROM customer
      |), upd AS (
      |  SELECT o_custkey AS custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS acctbal
      |  FROM orders GROUP BY 1
      |  UNION ALL
      |  SELECT c_custkey + 1000000, CAST(0 AS DECIMAL(18,2))
      |  FROM customer WHERE c_custkey % 100 = 0
      |), j AS (
      |  SELECT b.custkey AS bk, u.custkey AS uk, b.segment AS segment,
      |    b.acctbal AS bbal, u.acctbal AS ubal,
      |    b.valid_from AS valid_from, b.valid_to AS valid_to
      |  FROM base b FULL OUTER JOIN upd u ON b.custkey = u.custkey
      |)
      |SELECT custkey, segment, CAST(acctbal AS DOUBLE) AS acctbal,
      |  valid_from, valid_to, is_current
      |FROM (
      |  SELECT bk AS custkey, segment, bbal AS acctbal, valid_from, valid_to,
      |    TRUE AS is_current
      |  FROM j WHERE bk IS NOT NULL AND (uk IS NULL OR bbal IS NOT DISTINCT FROM ubal)
      |  UNION ALL
      |  SELECT bk, segment, bbal, valid_from, DATE '2024-06-01', FALSE
      |  FROM j WHERE bk IS NOT NULL AND uk IS NOT NULL AND bbal IS DISTINCT FROM ubal
      |  UNION ALL
      |  SELECT uk, segment, ubal, DATE '2024-06-01', DATE '2099-12-31', TRUE
      |  FROM j WHERE uk IS NOT NULL AND (bk IS NULL OR bbal IS DISTINCT FROM ubal)
      |)
      |ORDER BY custkey, valid_from""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("op_salted_agg", opSaltedAgg, Some(opSaltedAggOracle)),
    Gate("op_bloom_join", opBloomJoin, Some(opBloomJoinOracle), (3, "bloom")),
    Gate("op_sessionize", opSessionize, Some(opSessionizeOracle)),
    Gate("op_zorder", opZorder, Some(opZorderOracle)),
    Gate("op_zorder3", opZorder3, Some(opZorder3Oracle)),
    Gate("ft_normalize", ftNormalize, Some(ftNormalizeOracle)),
    Gate("op_merge_scd2", opMergeScd2, Some(opMergeScd2Oracle)))
}
