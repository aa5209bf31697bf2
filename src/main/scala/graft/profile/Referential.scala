package graft.profile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Referential-integrity validation — the checking half of the key story
  * (KeyInference DISCOVERS edges; this VALIDATES declared or inferred
  * edges against the data): per FK edge, child rows/keys, orphan keys
  * (child values absent from the parent), orphan rows and the orphan-row
  * ppm. A lake has no engine to reject a dangling key, so the survey has
  * to count them — the reference records declared FKs but never audits
  * them (models.rs stops at metadata; this is the data-side audit).
  *
  * Shape per edge: child side aggregates to one row PER DISTINCT KEY
  * (map-side partial — the shuffle carries (key, count), bounded by key
  * cardinality) before the left-anti join against the parent's distinct
  * keys; dimension parents broadcast, fact-sized parents stay shuffled
  * equi-joins under AQE. Orphan rows come from summing the pre-aggregated
  * counts, so no second child scan.
  */
object Referential {

  /** Declared/inferred FK edges of the lake (child, childCol, parent, parentCol). */
  val edges: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"))

  /** One edge's audit over arbitrary frames (spec plants orphan fixtures
    * through this seam).
    */
  private[graft] def auditEdge(child: DataFrame, childCol: String,
                               parent: DataFrame, parentCol: String): DataFrame = {
    val keyed = child.filter(col(childCol).isNotNull)
      .groupBy(col(childCol).cast("long").as("k"))
      .agg(count(lit(1)).as("n_rows_key"))
    val parents = parent.select(col(parentCol).cast("long").as("k")).distinct()
    val orphans = keyed.join(parents, Seq("k"), "left_anti")
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_orphan_keys"),
        coalesce(sum(col("n_rows_key")), lit(0L)).as("n_orphan_rows"))
    val totals = keyed
      .agg(count(lit(1)).as("n_child_keys"), sum(col("n_rows_key")).as("n_child_rows"))
    totals.crossJoin(orphans) // two 1-row frames
  }

  /** All edges audited in ONE fused pipeline (r14.2): the per-edge
    * union shape planned 8 independent aggregate trees — 53 Spark jobs
    * for 65 tasks and <1 MB of shuffle (Meter), i.e. the cost was AQE
    * stage scheduling, not data, and lineitem was scanned once per
    * edge. Here each child table is scanned ONCE, its edge columns
    * explode to (eid, k) rows, and every edge rides one shared
    * (eid, k)-keyed count exchange; parent key sets union the same way
    * into one distinct, and the orphan anti-join is co-partitioned on
    * (eid, k) — no further exchange. Per-edge semantics are unchanged:
    * keys are disjoint across eids, so counts, orphan sets and sums per
    * edge are exactly auditEdge's (the spec seam above still pins the
    * single-edge semantics; the oracle gates this fused plan). The
    * degenerate zero-child-key edge keeps its auditEdge presentation
    * (n_child_rows NULL, counts 0, ppm NULL) via the left join from the
    * edge list. Same bytes at lake scale, ~8× fewer driver-side plans.
    */
  def qualityReferential(spark: SparkSession, dir: String): DataFrame = {
    val idx = edges.zipWithIndex
    val childKeyed = idx.groupBy(_._1._1).toSeq.map { case (ct, es) =>
      val tbl = Tables.table(spark, dir, ct)
      val eks = es.map { case ((_, cc, _, _), i) =>
        struct(lit(i).as("eid"), col(cc).cast("long").as("k"))
      }
      tbl.select(explode(array(eks: _*)).as("ek"))
        .select(col("ek.eid").as("eid"), col("ek.k").as("k"))
        .filter(col("k").isNotNull)
    }.reduce(_ unionByName _)
      .groupBy(col("eid"), col("k"))
      .agg(count(lit(1)).as("n_rows_key"))
    val parents = idx.groupBy(_._1._3).toSeq.map { case (pt, es) =>
      val tbl = Tables.table(spark, dir, pt)
      val eks = es.map { case ((_, _, _, pc), i) =>
        struct(lit(i).as("eid"), col(pc).cast("long").as("k"))
      }
      tbl.select(explode(array(eks: _*)).as("ek"))
        .select(col("ek.eid").as("eid"), col("ek.k").as("k"))
    }.reduce(_ unionByName _).distinct()
    val totals = childKeyed.groupBy(col("eid"))
      .agg(count(lit(1)).as("n_child_keys"),
        sum(col("n_rows_key")).as("n_child_rows"))
    val orphans = childKeyed.join(parents, Seq("eid", "k"), "left_anti")
      .groupBy(col("eid"))
      .agg(count(lit(1)).as("n_orphan_keys"),
        sum(col("n_rows_key")).as("n_orphan_rows"))
    import spark.implicits._
    val meta = idx.map { case ((ct, cc, pt, pc), i) => (i, ct, cc, pt, pc) }
      .toDF("eid", "child_table", "child_column", "parent_table",
        "parent_column")
    broadcast(meta)
      .join(totals, Seq("eid"), "left_outer")
      .join(orphans, Seq("eid"), "left_outer")
      .select(col("child_table"), col("child_column"),
        col("parent_table"), col("parent_column"),
        col("n_child_rows"),
        coalesce(col("n_child_keys"), lit(0L)).as("n_child_keys"),
        coalesce(col("n_orphan_keys"), lit(0L)).as("n_orphan_keys"),
        coalesce(col("n_orphan_rows"), lit(0L)).as("n_orphan_rows"),
        expr("CAST(coalesce(n_orphan_rows, 0) * 1000000 DIV n_child_rows AS BIGINT)")
          .as("orphan_row_ppm"))
      .orderBy(col("child_table"), col("child_column"))
  }

  /** JOIN-CARDINALITY profile per FK edge — the fan-out statistics an
    * optimizer (and a capacity planner) wants before joining two tables
    * it has never seen: per parent key, how many children? Emits
    * parents, matched parents, childless ppm, min/max fan-out over
    * matched parents, average fan-out in exact ppm and the max/avg skew
    * ratio in ppm — the number that says "this join has a hot key"
    * (skew ≫ 1e6 ⇒ salting / AQE skew-join territory; the q_salted_agg
    * connection). Every cell is integer-exact (DECIMAL(38,0) products
    * before the floor division — no long overflow at lake scale).
    *
    * Shape per edge: the SAME child pre-aggregation as the referential
    * audit (one row per distinct key rides the shuffle), LEFT-joined
    * FROM the parent's distinct keys so childless parents count; one
    * 1-row aggregate. Orphan child keys (referential's domain) are
    * excluded by construction.
    */
  private[graft] def fanoutEdge(child: DataFrame, childCol: String,
                                parent: DataFrame, parentCol: String): DataFrame = {
    val keyed = child.filter(col(childCol).isNotNull)
      .groupBy(col(childCol).cast("long").as("k"))
      .agg(count(lit(1)).as("n_children"))
    val parents = parent.filter(col(parentCol).isNotNull)
      .select(col(parentCol).cast("long").as("k")).distinct()
    parents.join(keyed, Seq("k"), "left_outer")
      .select(coalesce(col("n_children"), lit(0L)).as("n_children"))
      .agg(count(lit(1)).as("n_parents"),
        sum(when(col("n_children") > 0, 1L).otherwise(0L)).as("n_matched_parents"),
        sum(col("n_children")).as("n_child_rows"),
        min(when(col("n_children") > 0, col("n_children"))).as("min_f"),
        max(col("n_children")).as("max_f"))
  }

  /** All edges profiled in ONE fused pipeline (r14, the
    * qualityReferential device above): same (eid, k) explode-and-share
    * shape — each child table scanned once, one shared keyed-count
    * exchange, parents LEFT-join the counts co-partitioned on (eid, k),
    * one 8-row per-eid rollup. fanoutEdge (the spec seam) pins the
    * single-edge semantics; keys are disjoint across eids so per-edge
    * values are exactly fanoutEdge's, and orphan child keys still drop
    * out via the left join FROM parents. The oracle gates the fused
    * plan per edge.
    */
  def profileJoinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val idx = edges.zipWithIndex
    val childKeyed = idx.groupBy(_._1._1).toSeq.map { case (ct, es) =>
      val tbl = Tables.table(spark, dir, ct)
      val eks = es.map { case ((_, cc, _, _), i) =>
        struct(lit(i).as("eid"), col(cc).cast("long").as("k"))
      }
      tbl.select(explode(array(eks: _*)).as("ek"))
        .select(col("ek.eid").as("eid"), col("ek.k").as("k"))
        .filter(col("k").isNotNull)
    }.reduce(_ unionByName _)
      .groupBy(col("eid"), col("k"))
      .agg(count(lit(1)).as("n_children"))
    val parents = idx.groupBy(_._1._3).toSeq.map { case (pt, es) =>
      val tbl = Tables.table(spark, dir, pt)
      val eks = es.map { case ((_, _, _, pc), i) =>
        struct(lit(i).as("eid"), col(pc).cast("long").as("k"))
      }
      tbl.select(explode(array(eks: _*)).as("ek"))
        .select(col("ek.eid").as("eid"), col("ek.k").as("k"))
        .filter(col("k").isNotNull)
    }.reduce(_ unionByName _).distinct()
    val perEdge = parents.join(childKeyed, Seq("eid", "k"), "left_outer")
      .select(col("eid"),
        coalesce(col("n_children"), lit(0L)).as("n_children"))
      .groupBy(col("eid"))
      .agg(count(lit(1)).as("n_parents"),
        sum(when(col("n_children") > 0, 1L).otherwise(0L))
          .as("n_matched_parents"),
        sum(col("n_children")).as("n_child_rows"),
        min(when(col("n_children") > 0, col("n_children"))).as("min_f"),
        max(col("n_children")).as("max_f"))
    import spark.implicits._
    val meta = idx.map { case ((ct, cc, pt, pc), i) => (i, ct, cc, pt, pc) }
      .toDF("eid", "child_table", "child_column", "parent_table",
        "parent_column")
    // LEFT from meta: an edge whose parent has no non-null keys has no
    // perEdge row but still gets its one row (n_parents 0), as the
    // oracle's ungrouped aggregate does. No broadcast hint: a left outer
    // join cannot build its preserved side; AQE broadcasts the 8-row
    // perEdge instead.
    meta.join(perEdge, Seq("eid"), "left_outer")
      .select(col("child_table"), col("child_column"),
          col("parent_table"), col("parent_column"),
          coalesce(col("n_parents"), lit(0L)).as("n_parents"),
          col("n_matched_parents"),
          expr("""CAST(CAST((n_parents - n_matched_parents) AS DECIMAL(38,0)) * 1000000
                 |  DIV n_parents AS BIGINT)""".stripMargin).as("childless_ppm"),
          coalesce(col("min_f"), lit(0L)).as("min_fanout"),
          col("max_f").as("max_fanout"),
          expr("""CAST(coalesce(CAST(n_child_rows AS DECIMAL(38,0)) * 1000000
                 |  DIV nullif(n_matched_parents, 0), 0) AS BIGINT)""".stripMargin)
            .as("avg_fanout_ppm"),
          expr("""CAST(coalesce(CAST(max_f AS DECIMAL(38,0)) * n_matched_parents * 1000000
                 |  DIV nullif(n_child_rows, 0), 0) AS BIGINT)""".stripMargin)
            .as("max_over_avg_ppm"))
      .orderBy(col("child_table"), col("child_column"))
  }

  val profileJoinCardinalitySql: String =
    edges.map { case (ct, cc, pt, pc) =>
      val matched = "sum(CASE WHEN n_children > 0 THEN 1 ELSE 0 END)"
      s"""SELECT '$ct' AS child_table, '$cc' AS child_column,
         |  '$pt' AS parent_table, '$pc' AS parent_column,
         |  count(*) AS n_parents,
         |  CAST($matched AS BIGINT) AS n_matched_parents,
         |  CAST(((count(*) - $matched) * 1000000) // count(*) AS BIGINT) AS childless_ppm,
         |  CAST(coalesce(min(CASE WHEN n_children > 0 THEN n_children END), 0) AS BIGINT) AS min_fanout,
         |  CAST(max(n_children) AS BIGINT) AS max_fanout,
         |  CAST(coalesce((CAST(sum(n_children) AS HUGEINT) * 1000000)
         |    // nullif($matched, 0), 0) AS BIGINT) AS avg_fanout_ppm,
         |  CAST(coalesce((CAST(max(n_children) AS HUGEINT) * $matched * 1000000)
         |    // nullif(sum(n_children), 0), 0) AS BIGINT) AS max_over_avg_ppm
         |FROM (
         |  SELECT coalesce(c.n_children, 0) AS n_children
         |  FROM (SELECT DISTINCT CAST($pc AS BIGINT) AS k FROM $pt WHERE $pc IS NOT NULL) p
         |  LEFT JOIN (SELECT CAST($cc AS BIGINT) AS k, count(*) AS n_children
         |             FROM $ct WHERE $cc IS NOT NULL GROUP BY 1) c USING (k))""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY child_table, child_column")

  val qualityReferentialSql: String =
    edges.map { case (ct, cc, pt, pc) =>
      s"""SELECT '$ct' AS child_table, '$cc' AS child_column,
         |  '$pt' AS parent_table, '$pc' AS parent_column,
         |  CAST(sum(n_rows_key) AS BIGINT) AS n_child_rows,
         |  count(*) AS n_child_keys,
         |  CAST(sum(CASE WHEN orphan THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_keys,
         |  CAST(coalesce(sum(CASE WHEN orphan THEN n_rows_key ELSE 0 END), 0) AS BIGINT) AS n_orphan_rows,
         |  CAST((coalesce(sum(CASE WHEN orphan THEN n_rows_key ELSE 0 END), 0) * 1000000)
         |    // sum(n_rows_key) AS BIGINT) AS orphan_row_ppm
         |FROM (
         |  SELECT CAST($cc AS BIGINT) AS k, count(*) AS n_rows_key,
         |    CAST($cc AS BIGINT) NOT IN (SELECT CAST($pc AS BIGINT) FROM $pt WHERE $pc IS NOT NULL) AS orphan
         |  FROM $ct WHERE $cc IS NOT NULL GROUP BY 1)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY child_table, child_column")

  // -------------------------------------------------------- reconciliation
  //
  // Fact-to-fact TOTALS reconciliation — the warehouse audit that
  // catches what referential integrity can't: keys can all resolve while
  // the MONEY disagrees (partial loads, double-applied discounts, a
  // drifted derivation). Per order status: does o_totalprice equal the
  // TPC-H derivation Σ extendedprice·(1−discount)·(1+tax) over the
  // order's lines, within 1%? Report: order count, orders with no lines,
  // within-tolerance count, mismatches, worst relative diff and the
  // total absolute money gap. (On this synthetic testdata the invariant
  // is mostly broken — which is exactly what the detector is for.)
  //
  // Exactness contract: the per-order recompute is an exact DECIMAL
  // chain; the tolerance test compares decimals against 0.01·t (never a
  // float epsilon, and never a decimal×100 that could overflow precision
  // 38 and round); doubles appear only in the report edge. One
  // order-keyed aggregation of lineitem + one left join + a status-keyed
  // rollup — the q18 co-shuffle family, 3-row output.

  def qualityReconciliation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    def dec(c: String, p: Int, s: Int) = col(c).cast(DecimalType(p, s))
    val one = lit(new java.math.BigDecimal("1.00"))
    val tol = lit(new java.math.BigDecimal("0.01"))
    // comp clamped to DECIMAL(30,8): a sum left at width 38 would push
    // the (comp - t) subtraction past 38 digits, which DuckDB resolves
    // by silently degrading the whole chain to DOUBLE (order-dependent
    // sums, parity lost); per-order totals fit 30 digits with room
    val comp = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec("l_extendedprice", 18, 4) *
        (one - dec("l_discount", 4, 2)) * (one + dec("l_tax", 4, 2)))
        .cast(DecimalType(30, 8)).as("comp"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        dec("o_totalprice", 12, 2).as("t"))
      .join(comp, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("comp").isNull, 1L).otherwise(0L)).as("n_no_lines"),
        sum(when(col("comp").isNotNull &&
          abs(col("comp") - col("t")) <= col("t") * tol, 1L).otherwise(0L))
          .as("n_within_1pct"),
        sum(when(col("comp").isNotNull &&
          abs(col("comp") - col("t")) > col("t") * tol, 1L).otherwise(0L))
          .as("n_mismatch"),
        max(when(col("comp").isNotNull,
          abs(col("comp") - col("t")).cast(DoubleType) / col("t").cast(DoubleType)))
          .as("max_rel_diff"),
        // money edge at scale 2: a scale-8 total carries 17 significant
        // digits — past double precision, where the two engines' decimal
        // → double conversions round differently
        round(sum(when(col("comp").isNotNull, abs(col("comp") - col("t")))), 2)
          .cast(DoubleType).as("sum_abs_diff"))
      .orderBy(col("o_orderstatus"))
  }

  val qualityReconciliationSql: String =
    """WITH c AS (
      |  SELECT l_orderkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
      |      * (1.00 - CAST(l_discount AS DECIMAL(4,2)))
      |      * (1.00 + CAST(l_tax AS DECIMAL(4,2)))) AS DECIMAL(30,8)) AS comp
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o.o_orderstatus, CAST(o.o_totalprice AS DECIMAL(12,2)) AS t, c.comp
      |  FROM orders o LEFT JOIN c ON o.o_orderkey = c.l_orderkey)
      |SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CASE WHEN comp IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lines,
      |  CAST(sum(CASE WHEN comp IS NOT NULL AND abs(comp - t) <= t * 0.01
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1pct,
      |  CAST(sum(CASE WHEN comp IS NOT NULL AND abs(comp - t) > t * 0.01
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
      |  max(CASE WHEN comp IS NOT NULL
      |    THEN CAST(abs(comp - t) AS DOUBLE) / CAST(t AS DOUBLE) END) AS max_rel_diff,
      |  CAST(round(sum(CASE WHEN comp IS NOT NULL THEN abs(comp - t) END), 2)
      |    AS DOUBLE) AS sum_abs_diff
      |FROM j GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin
}
