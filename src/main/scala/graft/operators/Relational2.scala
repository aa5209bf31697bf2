package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Second wave of relational operators (SURVEY §2A extension): semi/anti
  * joins, exact interpolated quantiles, JSON extraction, CUBE, and a
  * TPC-H Q10-style top-k. Same parity discipline as Relational.
  */
object Relational2 {

  private def dec(c: String, p: Int, s: Int) = col(c).cast(DecimalType(p, s))
  private val one = lit(1.00).cast(DecimalType(3, 2))

  /** Customer coverage per segment via semi/anti joins — the EXISTS /
    * NOT EXISTS pair. Spark plans these as broadcast semi/anti joins on
    * the orders key set; no row duplication, no distinct needed.
    */
  def qSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ordKeys = Tables.orders(spark, dir).select(col("o_custkey"))
    val withO = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_orders"))
    val withoutO = cust.join(ordKeys, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_without_orders"))
    cust.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))
      .join(withO, Seq("c_mktsegment"), "left")
      .join(withoutO, Seq("c_mktsegment"), "left")
      .select(col("c_mktsegment"),
        col("n_customers"),
        coalesce(col("n_with_orders"), lit(0L)).as("n_with_orders"),
        coalesce(col("n_without_orders"), lit(0L)).as("n_without_orders"))
      .orderBy(col("c_mktsegment"))
  }

  val qSemiAntiSql: String =
    """SELECT c_mktsegment,
      |  count(*) AS n_customers,
      |  CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
      |  CAST(sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders
      |FROM customer
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Exact interpolated quantiles of event value per type. Spark's
    * `percentile` and DuckDB's `quantile_cont` share the (n-1)*p linear
    * interpolation over the sorted set — identical doubles. Exact
    * percentile sorts per group; the approx_percentile sketch is the
    * 100 TB swap-in (same plan shape, no sort).
    */
  def qQuantiles(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.25D, 0.5D, 0.75D, 0.95D))").as("qs"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        element_at(col("qs"), 1).as("p25"),
        element_at(col("qs"), 2).as("p50"),
        element_at(col("qs"), 3).as("p75"),
        element_at(col("qs"), 4).as("p95"))
      .orderBy(col("event_type"))
  }

  val qQuantilesSql: String =
    """SELECT event_type, n,
      |  qs[1] AS p25, qs[2] AS p50, qs[3] AS p75, qs[4] AS p95
      |FROM (
      |  SELECT event_type, count(*) AS n, quantile_cont("value", [0.25, 0.5, 0.75, 0.95]) AS qs
      |  FROM events GROUP BY event_type) t(event_type, n, qs)
      |ORDER BY event_type""".stripMargin

  /** RFM customer segmentation — the classic warehouse mart query
    * (recency / frequency / monetary quintiles → segment code): per
    * customer with orders, days since last order (against the corpus
    * max date — deterministic, no wall clock), order count, exact
    * decimal spend; each dimension quintile-scored with a custkey
    * tiebreak so the boundaries are bit-stable; output is the
    * segment-level rollup (125 possible codes — aggregate-sized).
    *
    * Shape: one orders scan → per-customer agg (localCheckpointed:
    * counted once, ranked three ways); each dimension gets a
    * DISTRIBUTED global rank (GlobalRank: parallel range exchange +
    * partition offsets — never a single-partition window) and the quintile
    * falls out of the closed-form ntile(rank, n) arithmetic. Bit-exact
    * ntile semantics — the oracle keeps the literal `ntile` window —
    * with no data-sized WindowExec anywhere in the plan.
    */
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    val maxDate = Tables.orders(spark, dir)
      .agg(unix_micros(max(col("o_orderdate")).cast("timestamp")).as("max_us"))
    val perCust = Tables.orders(spark, dir)
      .crossJoin(broadcast(maxDate))
      .groupBy(col("o_custkey"))
      .agg(
        expr("CAST((any_value(max_us) - unix_micros(CAST(max(o_orderdate) AS TIMESTAMP))) DIV 86400000000 AS BIGINT)")
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast(DecimalType(14, 2))).as("monetary_d"))
      .localCheckpoint()
    val n = perCust.count()
    val ranked = GlobalRank.withGlobalRanks(perCust, n, Seq(
      ("r_rank", Seq(col("recency_days"), col("o_custkey"))),
      ("f_rank", Seq(col("frequency").desc, col("o_custkey"))),
      ("m_rank", Seq(col("monetary_d").desc, col("o_custkey")))))
    val scored = ranked
      .withColumn("r_score", GlobalRank.ntileFromRank(5, n, "r_rank"))
      .withColumn("f_score", GlobalRank.ntileFromRank(5, n, "f_rank"))
      .withColumn("m_score", GlobalRank.ntileFromRank(5, n, "m_rank"))
    scored.groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("monetary_d")).cast(DoubleType).as("segment_revenue"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  val qRfmSql: String =
    """WITH mx AS (SELECT epoch_us(max(o_orderdate)) AS max_us FROM orders),
      |per_cust AS (
      |  SELECT o_custkey,
      |    CAST((any_value(mx.max_us) - epoch_us(max(o_orderdate))) // 86400000000 AS BIGINT) AS recency_days,
      |    count(*) AS frequency,
      |    sum(CAST(o_totalprice AS DECIMAL(14,2))) AS monetary_d
      |  FROM orders, mx GROUP BY o_custkey),
      |scored AS (
      |  SELECT *,
      |    CAST(ntile(5) OVER (ORDER BY recency_days, o_custkey) AS INTEGER) AS r_score,
      |    CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_score,
      |    CAST(ntile(5) OVER (ORDER BY monetary_d DESC, o_custkey) AS INTEGER) AS m_score
      |  FROM per_cust)
      |SELECT r_score, f_score, m_score, count(*) AS n_customers,
      |  CAST(sum(monetary_d) AS DOUBLE) AS segment_revenue
      |FROM scored GROUP BY 1, 2, 3
      |ORDER BY r_score, f_score, m_score""".stripMargin

  /** Customer-spend concentration (Lorenz deciles): how top-heavy is
    * revenue — per spend decile, customer count, exact-decimal spend,
    * spend share and cumulative share in ppm. The whale-vs-longtail
    * question every marketplace/abuse/capacity analysis starts from
    * (and RFM's aggregate complement: that one labels customers, this
    * measures the inequality itself).
    *
    * Shape: one orders scan → customer-sized agg → DISTRIBUTED decile
    * assignment (GlobalRank: parallel range exchange + rank offsets +
    * closed-form ntile arithmetic, custkey tiebreak — bit-stable decile
    * boundaries, no single-partition window) → 10-row rollup with a
    * 10-row cumulative window (aggregate-sized: benign). Shares in
    * ppm by integer division over decimal-exact cents: every share
    * cell integer-exact (the spend columns stay DECIMAL→DOUBLE).
    */
  def qSpendDeciles(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(14, 2))).as("spend_d"))
      .localCheckpoint()
    val n = perCust.count()
    val deciled = GlobalRank
      .withGlobalRanks(perCust, n, Seq("c_rank" -> Seq(col("spend_d"), col("o_custkey"))))
      .withColumn("decile", GlobalRank.ntileFromRank(10, n, "c_rank"))
    deciled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("spend_d")).as("dec_spend"),
        expr("CAST(sum(spend_d) * 100 AS BIGINT)").as("dec_cents"))
      .select(col("decile"), col("n_customers"),
        col("dec_spend").cast(DoubleType).as("decile_spend"),
        expr("""CAST(dec_cents * 1000000 DIV
               |  sum(dec_cents) OVER () AS BIGINT)""".stripMargin).as("share_ppm"),
        expr("""CAST(sum(dec_cents) OVER (ORDER BY decile) * 1000000 DIV
               |  sum(dec_cents) OVER () AS BIGINT)""".stripMargin).as("cum_share_ppm"))
      .orderBy(col("decile"))
  }

  val qSpendDecilesSql: String =
    """WITH per_cust AS (
      |  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(14,2))) AS spend_d
      |  FROM orders GROUP BY o_custkey),
      |deciled AS (
      |  SELECT spend_d,
      |    CAST(ntile(10) OVER (ORDER BY spend_d, o_custkey) AS INTEGER) AS decile
      |  FROM per_cust),
      |g AS (
      |  SELECT decile, count(*) AS n_customers,
      |    sum(spend_d) AS dec_spend,
      |    CAST(sum(spend_d) * 100 AS BIGINT) AS dec_cents
      |  FROM deciled GROUP BY decile)
      |SELECT decile, n_customers,
      |  CAST(dec_spend AS DOUBLE) AS decile_spend,
      |  CAST((dec_cents * 1000000) // sum(dec_cents) OVER () AS BIGINT) AS share_ppm,
      |  CAST((sum(dec_cents) OVER (ORDER BY decile) * 1000000) // sum(dec_cents) OVER () AS BIGINT) AS cum_share_ppm
      |FROM g ORDER BY decile""".stripMargin

  /** JSON property extraction from the events.props payload column:
    * per event_type, sum and distinct-count of the numeric `k` property.
    */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy(col("event_type"))
  }

  val qJsonExtractSql: String =
    """SELECT event_type,
      |  count(k) AS n_with_k,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  count(DISTINCT k) AS n_distinct_k
      |FROM (
      |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** CUBE over (returnflag, linestatus) — all 4 grouping combinations in
    * one pass (complements ROLLUP in qRollupOrders).
    */
  def qCubeLineitem(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum(dec("l_quantity", 12, 2)).cast(DoubleType).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_lines"), col("sum_qty"))
      .orderBy(col("returnflag"), col("linestatus"))
  }

  val qCubeSql: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
      |  coalesce(l_linestatus, 'ALL') AS linestatus,
      |  count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** TPC-H Q10-style: top-20 customers by revenue from returned items.
    * Fact join shuffles on orderkey; customer dimension broadcast;
    * bounded top-k via TakeOrderedAndProject.
    */
  def q10ReturnedCustomers(spark: SparkSession, dir: String): DataFrame = {
    val revenue = (dec("l_extendedprice", 12, 2) *
      (one - dec("l_discount", 4, 2)).cast(DecimalType(4, 2))).cast(DecimalType(18, 4))
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .agg(sum(revenue).cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1.00 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(4,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_mktsegment
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin
}
