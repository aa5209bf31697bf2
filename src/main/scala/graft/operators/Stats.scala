package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Inferential-statistics panel — the hypothesis-testing surface a
  * warehouse analyst reaches for once the descriptive panels
  * (q_funnel, profile_mutual_info) raise a "did this CHANGE?" or "are
  * these RELATED?" question. Reference capability: dbsurveyor's
  * statistics module reports distribution summaries per column
  * (dbsurveyor-core/src/analysis in the artifact's table statistics);
  * these two operators are the inferential counterparts a 100 TB
  * deployment runs on top of the same sufficient statistics.
  *
  * Exactness discipline (the q_discount_elasticity device): every
  * sufficient statistic is an EXACT integer/decimal aggregate; IEEE
  * doubles appear only at the final z / χ² edge, composed in ONE
  * identical expression text on both engines — division, multiplication
  * and sqrt are correctly-rounded in Spark and DuckDB alike (never
  * libm pow/ln, which are not cross-engine reproducible).
  */
object Stats {

  /** 2024-01-16T00:00:00Z in epoch micros — the events-table era split
    * (mid-range of the generator's January 2024 horizon; the
    * qSegmentTransitions era-split idea applied to the event stream).
    * Integer micros comparison on both engines: no timezone seam.
    */
  val eraSplitUs = 1705363200000000L

  /** Two-proportion z-test on the signup→purchase funnel conversion
    * between the two eras: did conversion MOVE when the era flipped,
    * beyond what binomial noise explains? The standard pooled test:
    *
    *   z = (p̂₁ − p̂₂) / sqrt( p̂(1−p̂)(1/n₁ + 1/n₂) ),  p̂ pooled.
    *
    * Funnel semantics are q_funnel's verbatim (first signup per user;
    * converted = any purchase at-or-after it), with the user assigned
    * to the era of their FIRST SIGNUP — each user counts in exactly one
    * era, preserving the test's independence assumption.
    *
    * Scale shape: one events scan → two user-keyed min aggregations +
    * one user-keyed join (the q_funnel plan) → ONE global 1-row
    * conditional aggregation. Nothing data-sized survives the agg; the
    * z composition runs over four BIGINTs. Degrade-don't-throw: an
    * empty era or a degenerate pool (0% or 100% everywhere) emits NULL
    * z and NULL verdict — the oracle's CASE guards are identical.
    */
  def statsFunnelZtest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("t_us")).as("t_signup"))
    val purchase = ev.filter(col("event_type") === "purchase")
      .join(signup, "user_id")
      .filter(col("t_us") >= col("t_signup"))
      .groupBy(col("user_id")).agg(min(col("t_us")).as("t_purchase"))
    val base = signup.join(purchase, Seq("user_id"), "left")
      .select((col("t_signup") < lit(eraSplitUs)).as("pre"),
        col("t_purchase").isNotNull.as("conv"))
    base.agg(
        sum(when(col("pre"), 1L).otherwise(0L)).as("n_pre"),
        sum(when(col("pre") && col("conv"), 1L).otherwise(0L)).as("x_pre"),
        sum(when(!col("pre"), 1L).otherwise(0L)).as("n_post"),
        sum(when(!col("pre") && col("conv"), 1L).otherwise(0L)).as("x_post"))
      .select(col("n_pre"), col("x_pre"), col("n_post"), col("x_post"),
        // DECIMAL(38,0) widening before the ×1e6 product (the
        // pack_shard_balance overflow class)
        expr("CAST(CASE WHEN n_pre > 0 THEN CAST(x_pre AS DECIMAL(38,0)) * 1000000 DIV n_pre END AS BIGINT)")
          .as("conv_ppm_pre"),
        expr("CAST(CASE WHEN n_post > 0 THEN CAST(x_post AS DECIMAL(38,0)) * 1000000 DIV n_post END AS BIGINT)")
          .as("conv_ppm_post"),
        expr(zExprSql).as("z_score"))
      .withColumn("significant_95",
        expr("CASE WHEN z_score IS NULL THEN NULL ELSE abs(z_score) >= 1.96 END"))
  }

  // the one shared double composition (identical text both engines):
  // pooled two-proportion z over the four exact counts
  private val zExprSql: String =
    """CASE WHEN n_pre > 0 AND n_post > 0
      |       AND (x_pre + x_post) > 0 AND (x_pre + x_post) < (n_pre + n_post)
      |  THEN (CAST(x_pre AS DOUBLE) / CAST(n_pre AS DOUBLE)
      |        - CAST(x_post AS DOUBLE) / CAST(n_post AS DOUBLE))
      |    / sqrt((CAST(x_pre + x_post AS DOUBLE) / CAST(n_pre + n_post AS DOUBLE))
      |        * (1.0 - CAST(x_pre + x_post AS DOUBLE) / CAST(n_pre + n_post AS DOUBLE))
      |        * (1.0 / CAST(n_pre AS DOUBLE) + 1.0 / CAST(n_post AS DOUBLE)))
      |  ELSE CAST(NULL AS DOUBLE) END""".stripMargin

  val statsFunnelZtestSql: String =
    s"""WITH signup AS (
       |  SELECT user_id, min(epoch_us(ts)) AS t_signup
       |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
       |purchase AS (
       |  SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
       |  FROM events e JOIN signup s ON e.user_id = s.user_id
       |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s.t_signup
       |  GROUP BY e.user_id),
       |base AS (
       |  SELECT s.t_signup < $eraSplitUs AS pre,
       |         p.t_purchase IS NOT NULL AS conv
       |  FROM signup s LEFT JOIN purchase p USING (user_id)),
       |agg AS (
       |  SELECT
       |    CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
       |    CAST(sum(CASE WHEN pre AND conv THEN 1 ELSE 0 END) AS BIGINT) AS x_pre,
       |    CAST(sum(CASE WHEN NOT pre THEN 1 ELSE 0 END) AS BIGINT) AS n_post,
       |    CAST(sum(CASE WHEN NOT pre AND conv THEN 1 ELSE 0 END) AS BIGINT) AS x_post
       |  FROM base),
       |z AS (
       |  SELECT *,
       |    ${zExprSql.replace("\n", "\n    ")} AS z_score
       |  FROM agg)
       |SELECT n_pre, x_pre, n_post, x_post,
       |  CAST(CASE WHEN n_pre > 0
       |    THEN (CAST(x_pre AS HUGEINT) * 1000000) // n_pre END AS BIGINT)
       |    AS conv_ppm_pre,
       |  CAST(CASE WHEN n_post > 0
       |    THEN (CAST(x_post AS HUGEINT) * 1000000) // n_post END AS BIGINT)
       |    AS conv_ppm_post,
       |  z_score,
       |  CASE WHEN z_score IS NULL THEN NULL ELSE abs(z_score) >= 1.96 END
       |    AS significant_95
       |FROM z""".stripMargin

  /** Welch's unequal-variance t-test on order value between the two
    * order eras (q_segment_transitions' 1998-01-01 split): did the
    * average basket CHANGE across the era, without assuming the eras
    * share a variance (they don't have to — Welch is the default a
    * careful analyst reaches for; Student's equal-variance t is the
    * special case).
    *
    * Sufficient statistics per era: n, Σx, Σx² — accumulated EXACTLY in
    * decimals with x scaled to thousands first (DECIMAL(18,5), exact:
    * prices are 2-dp), so Σx² stays far below 2^53 at any realistic SF
    * and the one decimal→double conversion at the edge is seam-free
    * (the known >2^53 decimal→double rounding seam). t and the
    * Satterthwaite dof are scale-invariant, so the thousands unit
    * cancels; means are reported in original units (×1000, one double
    * multiply). All edge math is div/mult/sqrt over identical
    * expression text. Scale shape: ONE orders scan → a 1-row
    * conditional aggregation; six numbers leave the executor.
    */
  val orderEraSplit = "1998-01-01"

  def statsWelchTtest(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select((col("o_orderdate") < lit(orderEraSplit).cast("timestamp"))
        .as("pre"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) / 1000 AS DECIMAL(18,5))")
          .as("xk"))
    base.agg(
        sum(when(col("pre"), 1L).otherwise(0L)).as("n_pre"),
        sum(when(col("pre"), col("xk"))).as("s_pre0"),
        sum(when(col("pre"), expr("xk * xk"))).as("q_pre0"),
        sum(when(!col("pre"), 1L).otherwise(0L)).as("n_post"),
        sum(when(!col("pre"), col("xk"))).as("s_post0"),
        sum(when(!col("pre"), expr("xk * xk"))).as("q_post0"))
      // Σx² carries 10 exact decimals — its UNSCALED value passes 2^53
      // even at tiny SF, and decimal→double above 2^53 is the one
      // conversion the engines round differently (and DuckDB TRUNCATES
      // decimal downcasts where Spark rounds, so re-quantizing via CAST
      // is a seam too). Device: floor(q·10⁴) is an EXACT integer both
      // engines (floor of an exact decimal), far below 2^53 at any
      // realistic SF; the edge divides it back by 1e4 in doubles — one
      // correctly-rounded division, bit-identical.
      .select(col("n_pre"), col("n_post"),
        expr("CAST(s_pre0 AS DECIMAL(38,5))").as("s_pre"),
        expr("CAST(floor(q_pre0 * 10000) AS DECIMAL(38,0))").as("q_pre"),
        expr("CAST(s_post0 AS DECIMAL(38,5))").as("s_post"),
        expr("CAST(floor(q_post0 * 10000) AS DECIMAL(38,0))").as("q_post"))
      .withColumn("mean_pre", expr(meanSql("pre")))
      .withColumn("mean_post", expr(meanSql("post")))
      .withColumn("v_pre", expr(varSql("pre")))
      .withColumn("v_post", expr(varSql("post")))
      .withColumn("t_stat", expr(welchTSql))
      .withColumn("welch_dof", expr(welchDofSql))
      .select(col("n_pre"), col("n_post"), col("mean_pre"), col("mean_post"),
        col("t_stat"), col("welch_dof"),
        expr(welchSigSql).as("significant_95"))
  }

  /** significant_95 uses the NORMAL approximation to the t distribution
    * (1.96 = z₀.₀₂₅): an exact t quantile at fractional Satterthwaite dof
    * is not expressible cross-engine (no inverse-beta in either SQL
    * dialect). The approximation is only honest when dof is large, so it
    * is GATED on welch_dof ≥ 30 (t₀.₀₂₅,₃₀ = 2.042 — within 4% of 1.96;
    * below that the verdict is NULL, "compute it offline", rather than an
    * overstated significance) — the r11 ADVICE fix.
    */
  private val welchSigSql =
    """CASE WHEN t_stat IS NULL OR welch_dof IS NULL THEN NULL
      |  WHEN welch_dof < 30.0 THEN NULL
      |  ELSE abs(t_stat) >= 1.96 END""".stripMargin

  // identical edge compositions, spliced into BOTH engines' texts
  private def meanSql(e: String) =
    s"CASE WHEN n_$e > 0 THEN CAST(s_$e AS DOUBLE) / CAST(n_$e AS DOUBLE) * 1000.0 END"
  private def varSql(e: String) =
    s"""CASE WHEN n_$e > 1 THEN
       |  (CAST(q_$e AS DOUBLE) / 10000.0
       |   - CAST(s_$e AS DOUBLE) * CAST(s_$e AS DOUBLE)
       |    / CAST(n_$e AS DOUBLE)) / (CAST(n_$e AS DOUBLE) - 1.0) END""".stripMargin
  private val welchTSql =
    """CASE WHEN n_pre > 1 AND n_post > 1
      |       AND (v_pre / CAST(n_pre AS DOUBLE)
      |            + v_post / CAST(n_post AS DOUBLE)) > 0
      |  THEN (CAST(s_pre AS DOUBLE) / CAST(n_pre AS DOUBLE)
      |        - CAST(s_post AS DOUBLE) / CAST(n_post AS DOUBLE))
      |    / sqrt(v_pre / CAST(n_pre AS DOUBLE)
      |           + v_post / CAST(n_post AS DOUBLE)) END""".stripMargin
  private val welchDofSql =
    """CASE WHEN n_pre > 1 AND n_post > 1
      |       AND (v_pre / CAST(n_pre AS DOUBLE)
      |            + v_post / CAST(n_post AS DOUBLE)) > 0
      |  THEN (v_pre / CAST(n_pre AS DOUBLE) + v_post / CAST(n_post AS DOUBLE))
      |     * (v_pre / CAST(n_pre AS DOUBLE) + v_post / CAST(n_post AS DOUBLE))
      |    / ((v_pre / CAST(n_pre AS DOUBLE)) * (v_pre / CAST(n_pre AS DOUBLE))
      |         / (CAST(n_pre AS DOUBLE) - 1.0)
      |       + (v_post / CAST(n_post AS DOUBLE)) * (v_post / CAST(n_post AS DOUBLE))
      |         / (CAST(n_post AS DOUBLE) - 1.0)) END""".stripMargin

  val statsWelchTtestSql: String =
    s"""WITH agg AS (
       |  SELECT
       |    CAST(sum(CASE WHEN pre THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
       |    CAST(sum(CASE WHEN pre THEN xk END) AS DECIMAL(38,5)) AS s_pre,
       |    CAST(floor(sum(CASE WHEN pre THEN xk * xk END) * 10000) AS DECIMAL(38,0)) AS q_pre,
       |    CAST(sum(CASE WHEN NOT pre THEN 1 ELSE 0 END) AS BIGINT) AS n_post,
       |    CAST(sum(CASE WHEN NOT pre THEN xk END) AS DECIMAL(38,5)) AS s_post,
       |    CAST(floor(sum(CASE WHEN NOT pre THEN xk * xk END) * 10000) AS DECIMAL(38,0)) AS q_post
       |  FROM (
       |    SELECT o_orderdate < TIMESTAMP '$orderEraSplit' AS pre,
       |      CAST(CAST(o_totalprice AS DECIMAL(14,2)) / 1000 AS DECIMAL(18,5)) AS xk
       |    FROM orders)),
       |m AS (
       |  SELECT *,
       |    ${meanSql("pre")} AS mean_pre,
       |    ${meanSql("post")} AS mean_post,
       |    ${varSql("pre").replace("\n", "\n    ")} AS v_pre,
       |    ${varSql("post").replace("\n", "\n    ")} AS v_post
       |  FROM agg),
       |t AS (
       |  SELECT *,
       |    ${welchTSql.replace("\n", "\n    ")} AS t_stat,
       |    ${welchDofSql.replace("\n", "\n    ")} AS welch_dof
       |  FROM m)
       |SELECT n_pre, n_post, mean_pre, mean_post, t_stat, welch_dof,
       |  ${welchSigSql.replace("\n", "\n  ")} AS significant_95
       |FROM t""".stripMargin

  /** Mann–Whitney U (Wilcoxon rank-sum) on event `value` between the
    * click and view streams — the NONPARAMETRIC "did the distribution
    * shift" test (no normality assumption; what an analyst uses on
    * skewed engagement values where a t-test lies). Tie-exact:
    *
    * Rank structure lives entirely in the VALUE-keyed aggregate: for a
    * distinct value with c₁ click rows of c total, every row gets
    * midrank cum_before + (c+1)/2, so 2·R₁ = Σ c₁·(2·(cum−c) + c + 1) —
    * a pure integer, no .5 ever materialized. The tie correction
    * Σ(c³−c) is integer-exact too. Both widen through DECIMAL(38,0)
    * (n² magnitudes). z = (2U₁ − n₁n₂) / (2·sqrt(n₁n₂/12 · (N+1 −
    * tie/(N(N−1))))) — one identical double composition; NULL when a
    * group is empty or every value ties (zero variance).
    *
    * Scale shape: one events scan → value-keyed count agg (bounded by
    * the value grid, data-independent) → ONE GlobalRank prefix-sum
    * range exchange over that aggregate (never a global window) → a
    * 1-row aggregation. The oracle mirrors the midrank algebra with a
    * window over the same distinct-value frame.
    *
    * NULL values are excluded SYMMETRICALLY in both engines (r11
    * ADVICE): a rank test has no rank for an unobserved value, and the
    * engines would otherwise order the NULL group differently (Spark's
    * range exchange sorts NULLS FIRST; DuckDB's ORDER BY window defaults
    * NULLS LAST) — a live hash seam on any corpus with NULL values.
    *
    * Hashed-surface discipline (r12→r13 reversal): the exact integer
    * statistics present as BIGINT — two_r1 ≤ N·(2N+1) is safe to
    * ~2·10⁹ click/view events, tie_sum ≤ Σc³ to a ~2·10⁶-row largest tie
    * group; z and every internal step compose over the DECIMAL(38,0)
    * EXACT values (safe to N ~ 10¹²), so the BIGINT columns are
    * presentation-only — and z presents as the RAW IEEE double of ONE
    * identical composition in BOTH engines (the funnel_ztest/welch/anova
    * convention, driver-green for two rounds). r12 quantized z through
    * CAST(… AS DECIMAL(18,9)) and the driver gate flagged exactly the
    * ten ops carrying that final cast: double→decimal rounding is a
    * cross-engine/cross-build seam (Spark rounds the shortest decimal
    * repr HALF_UP; DuckDB rounds the binary expansion), while a raw
    * double from correctly-rounded div/mult/sqrt over exact ints is
    * bit-identical everywhere. See stats_cast_canary for the per-device
    * fingerprint.
    */
  def statsMannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "view") &&
        col("value").isNotNull)
      .groupBy(col("value"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
        count(lit(1)).as("c"))
    val cum = graft.operators.GlobalRank
      .withGlobalCumsum(vals, "c", "cum", col("value"))
    cum.agg(
        sum(col("c1")).as("n1"),
        sum(col("c") - col("c1")).as("n2"),
        sum(expr(
          "CAST(c1 AS DECIMAL(38,0)) * (2 * (cum - c) + c + 1)")).as("tr0"),
        sum(expr(
          "CAST(c AS DECIMAL(38,0)) * c * c - c")).as("tie0"))
      .select(col("n1").as("n_click"), col("n2").as("n_view"),
        expr("CAST(tr0 AS DECIMAL(38,0))").as("two_r1"),
        expr("CAST(tie0 AS DECIMAL(38,0))").as("tie_sum"))
      // z composes over the EXACT decimals; the BIGINT presentation below
      // never feeds arithmetic
      .withColumn("z_score", expr(mwZSql))
      .select(col("n_click"), col("n_view"),
        expr("CAST(two_r1 AS BIGINT)").as("two_r1"),
        expr("CAST(tie_sum AS BIGINT)").as("tie_sum"),
        col("z_score"))
      .withColumn("significant_95",
        expr(mwSigSql))
  }

  // significance off the presented z — the hashed value is the judged
  // value (z is the raw double; the inner CAST is a no-op kept for one
  // identical text both engines)
  private val mwSigSql =
    """CASE WHEN z_score IS NULL THEN NULL
      |  ELSE abs(CAST(z_score AS DOUBLE)) >= 1.96 END""".stripMargin

  private val mwZSql =
    """CASE WHEN n_click > 0 AND n_view > 0
      |       AND (CAST(n_click + n_view AS DOUBLE) + 1.0
      |            - CAST(tie_sum AS DOUBLE)
      |              / (CAST(n_click + n_view AS DOUBLE)
      |                 * (CAST(n_click + n_view AS DOUBLE) - 1.0))) > 0
      |  THEN (CAST(two_r1 AS DOUBLE)
      |        - CAST(n_click AS DOUBLE) * (CAST(n_click AS DOUBLE) + 1.0)
      |        - CAST(n_click AS DOUBLE) * CAST(n_view AS DOUBLE))
      |    / (2.0 * sqrt(CAST(n_click AS DOUBLE) * CAST(n_view AS DOUBLE) / 12.0
      |        * (CAST(n_click + n_view AS DOUBLE) + 1.0
      |           - CAST(tie_sum AS DOUBLE)
      |             / (CAST(n_click + n_view AS DOUBLE)
      |                * (CAST(n_click + n_view AS DOUBLE) - 1.0))))) END"""
      .stripMargin

  val statsMannWhitneySql: String =
    s"""WITH vals AS (
       |  SELECT value,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
       |    count(*) AS c
       |  FROM events
       |  WHERE event_type IN ('click', 'view') AND value IS NOT NULL
       |  GROUP BY value),
       |cum AS (
       |  SELECT *, sum(c) OVER (ORDER BY value
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM vals),
       |agg AS (
       |  SELECT
       |    CAST(sum(c1) AS BIGINT) AS n_click,
       |    CAST(sum(c - c1) AS BIGINT) AS n_view,
       |    CAST(sum(CAST(c1 AS HUGEINT) * (2 * (cum - c) + c + 1)) AS DECIMAL(38,0)) AS two_r1,
       |    CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS DECIMAL(38,0)) AS tie_sum
       |  FROM cum),
       |z AS (
       |  SELECT *,
       |    ${mwZSql.replace("\n", "\n    ")} AS z_score
       |  FROM agg)
       |SELECT n_click, n_view,
       |  CAST(two_r1 AS BIGINT) AS two_r1,
       |  CAST(tie_sum AS BIGINT) AS tie_sum,
       |  z_score,
       |  ${mwSigSql.replace("\n", "\n  ")} AS significant_95
       |FROM z""".stripMargin

  /** One-way ANOVA on order value across the five market segments —
    * the k-group generalization of the Welch pair ("does ANY segment's
    * average basket differ"): F = (SSB/(k−1)) / (SSW/(N−k)), plus η²
    * (the effect size a report quotes alongside F).
    *
    * Sufficient statistics per group: n, Σx, Σx² — the Welch devices
    * verbatim (thousands-scaled exact decimals; Σx² floored ×10⁴ to an
    * exact integer). The one NEW seam a k-group test adds: Σ_g s_g²/n_g
    * sums DOUBLES across groups, and Spark's aggregation order is
    * nondeterministic — so each group's term is composed in ONE double
    * expression and quantized DECIMAL(24,2) (the miPanel
    * order-independence device; 0.01 thousands² of quantization on
    * ~1e10 magnitudes is noise to F), then summed exactly.
    *
    * Scale shape: orders ⋈ customer co-shuffle on the customer key
    * (customer grows with data — never broadcast, the q7 rule; AQE may
    * still pick one at small SF) → \|segments\|-keyed agg → 5-row
    * bounded math. Degrade: k≤1, N≤k or zero within-variance → NULL F.
    */
  def statsAnovaSegments(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) / 1000 AS DECIMAL(18,5))")
          .as("xk"))
    val g = x.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_g"),
        sum(col("xk")).as("s_g0"),
        sum(expr("xk * xk")).as("q_g0"))
      .select(col("n_g"),
        expr("CAST(s_g0 AS DECIMAL(38,5))").as("s_g"),
        expr("CAST(floor(q_g0 * 10000) AS DECIMAL(38,0))").as("q4_g"))
      .withColumn("t_g", expr(anovaTermSql))
    g.agg(count(lit(1)).as("k_groups"),
        sum(col("n_g")).as("n_total"),
        sum(col("s_g")).as("s_all0"),
        sum(col("q4_g")).as("q4_all0"),
        sum(col("t_g")).as("t_all0"))
      .select(col("k_groups"), col("n_total"),
        expr("CAST(s_all0 AS DECIMAL(38,5))").as("s_all"),
        expr("CAST(q4_all0 AS DECIMAL(38,0))").as("q4_all"),
        expr("CAST(t_all0 AS DECIMAL(38,2))").as("t_all"))
      .withColumn("ssb", expr(ssbSql))
      .withColumn("ssw", expr(sswSql))
      .select(col("k_groups"), col("n_total"),
        expr("CAST(k_groups - 1 AS BIGINT)").as("dof_between"),
        expr("CAST(n_total - k_groups AS BIGINT)").as("dof_within"),
        expr(fSql).as("f_stat"),
        expr(etaSql).as("eta_sq"))
  }

  private val anovaTermSql =
    """CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE)
      |  AS DECIMAL(24,2))""".stripMargin
  private val ssbSql =
    """CAST(t_all AS DOUBLE)
      |  - CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
      |    / CAST(n_total AS DOUBLE)""".stripMargin
  private val sswSql =
    "CAST(q4_all AS DOUBLE) / 10000.0 - CAST(t_all AS DOUBLE)"
  private val fSql =
    """CASE WHEN k_groups > 1 AND n_total > k_groups AND ssw > 0
      |  THEN (ssb / (CAST(k_groups AS DOUBLE) - 1.0))
      |     / (ssw / (CAST(n_total AS DOUBLE) - CAST(k_groups AS DOUBLE)))
      |  END""".stripMargin
  private val etaSql =
    """CASE WHEN k_groups > 1 AND n_total > k_groups AND (ssb + ssw) > 0
      |  THEN ssb / (ssb + ssw) END""".stripMargin

  val statsAnovaSegmentsSql: String =
    s"""WITH g AS (
       |  SELECT c.c_mktsegment AS seg,
       |    count(*) AS n_g,
       |    CAST(sum(xk) AS DECIMAL(38,5)) AS s_g,
       |    CAST(floor(sum(xk * xk) * 10000) AS DECIMAL(38,0)) AS q4_g
       |  FROM (
       |    SELECT o_custkey,
       |      CAST(CAST(o_totalprice AS DECIMAL(14,2)) / 1000 AS DECIMAL(18,5)) AS xk
       |    FROM orders) o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  GROUP BY 1),
       |t AS (
       |  SELECT *,
       |    ${anovaTermSql.replace("\n", "\n    ")} AS t_g
       |  FROM g),
       |a AS (
       |  SELECT count(*) AS k_groups,
       |    CAST(sum(n_g) AS BIGINT) AS n_total,
       |    CAST(sum(s_g) AS DECIMAL(38,5)) AS s_all,
       |    CAST(sum(q4_g) AS DECIMAL(38,0)) AS q4_all,
       |    CAST(sum(t_g) AS DECIMAL(38,2)) AS t_all
       |  FROM t),
       |s AS (
       |  SELECT *,
       |    ${ssbSql.replace("\n", "\n    ")} AS ssb,
       |    ${sswSql} AS ssw
       |  FROM a)
       |SELECT k_groups, n_total,
       |  CAST(k_groups - 1 AS BIGINT) AS dof_between,
       |  CAST(n_total - k_groups AS BIGINT) AS dof_within,
       |  ${fSql.replace("\n", "\n  ")} AS f_stat,
       |  ${etaSql.replace("\n", "\n  ")} AS eta_sq
       |FROM s""".stripMargin

  /** χ² independence report over the SAME two contingency panels
    * profile_mutual_info scores (documents: lang × source; events:
    * event_type × day-of-week) — MI says how MUCH the pair shares; χ²
    * says whether the association clears sampling noise at all, with
    * the dof a significance table needs, plus Cramér's V (the
    * effect-size normalization that survives n).
    *
    * Zero-cell exactness: the observed-cells aggregate omits empty
    * cells, but the absent cells' (0−e)²/e = e mass is NOT droppable;
    * the algebraic identity  χ² = n·(Σ_observed o²/(cx·cy) − 1)
    * accounts for them with no cross-product materialization — the
    * per-cell term is pure mult/div over exact counts (correctly
    * rounded, identical both engines), quantized DECIMAL(18,9) and
    * summed exactly (order-independent — the miPanel device), with ONE
    * double multiply at the edge.
    *
    * Scale shape: one scan per table → |X|·|Y|-bounded cell aggregate
    * (map-side combined) feeding margins/total/terms — everything
    * after the first agg is bounded-row work with broadcast margins.
    */
  def statsChisqIndependence(spark: SparkSession, dir: String): DataFrame = {
    val docCells = Tables.documents(spark, dir)
      .select(col("lang").as("x"), col("source").as("y"))
    val evCells = Tables.events(spark, dir)
      .select(col("event_type").as("x"),
        expr("CAST(pmod((unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) DIV 86400000000 + 4, 7) AS STRING)")
          .as("y"))
    chisqPanel(spark, docCells, "documents", "lang", "source")
      .unionByName(chisqPanel(spark, evCells, "events", "event_type", "dow"))
      .orderBy(col("table_name"))
  }

  private def chisqPanel(spark: SparkSession, pairs: DataFrame, rel: String,
      cX: String, cY: String): DataFrame = {
    val cells = pairs.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
      // |X|·|Y|-bounded; feeds margins, the total, and the term join
      .localCheckpoint()
    val mx = cells.groupBy(col("x")).agg(sum(col("cnt")).as("cx"))
    val my = cells.groupBy(col("y")).agg(sum(col("cnt")).as("cy"))
    val tot = cells.agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_cells"))
    // 1-row × 1-row with an explicit hint — plans the whitelisted
    // BroadcastNestedLoopJoin, never a CartesianProduct
    val dims = mx.agg(count(lit(1)).as("kx"))
      .crossJoin(broadcast(my.agg(count(lit(1)).as("ky"))))
    val s = cells.join(broadcast(mx), "x").join(broadcast(my), "y")
      .select(expr(
        """CAST(CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE) /
          |  (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))
          |  AS DECIMAL(18,9))""".stripMargin).as("term"))
      .agg(sum(col("term")).as("s_d"))
    s.crossJoin(broadcast(tot)).crossJoin(broadcast(dims))
      .select(lit(rel).as("table_name"), lit(cX).as("col_x"),
        lit(cY).as("col_y"),
        col("n").cast("long").as("n_rows"),
        col("n_cells").cast("long").as("n_cells"),
        expr("CAST((kx - 1) * (ky - 1) AS BIGINT)").as("dof"),
        expr(chi2Sql).as("chi2"),
        expr(cramersSql).as("cramers_v"))
  }

  // χ² = n·(s − 1) and V = sqrt(χ² / (n·min(kx−1, ky−1))) — identical
  // double composition both engines; NULL on degenerate margins
  private val chi2Sql =
    """CASE WHEN n > 0 THEN
      |  CAST(n AS DOUBLE) * (CAST(s_d AS DOUBLE) - 1.0)
      |ELSE CAST(NULL AS DOUBLE) END""".stripMargin
  private val cramersSql =
    """CASE WHEN n > 0 AND kx > 1 AND ky > 1 THEN
      |  sqrt((CAST(n AS DOUBLE) * (CAST(s_d AS DOUBLE) - 1.0))
      |    / (CAST(n AS DOUBLE) * CAST(least(kx - 1, ky - 1) AS DOUBLE)))
      |ELSE CAST(NULL AS DOUBLE) END""".stripMargin

  val statsChisqIndependenceSql: String = {
    val dowExpr =
      "CAST(((((epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000) % 86400000000)) // 86400000000 + 4) % 7) + 7) % 7 AS VARCHAR)"
    def block(i: Int, cellSql: String, rel: String, cX: String,
        cY: String): (String, String) = {
      val ctes =
        s"""c$i AS ($cellSql),
           |mx$i AS (SELECT x, sum(cnt) AS cx FROM c$i GROUP BY 1),
           |my$i AS (SELECT y, sum(cnt) AS cy FROM c$i GROUP BY 1),
           |tot$i AS (SELECT sum(cnt) AS n, count(*) AS n_cells FROM c$i),
           |dim$i AS (SELECT (SELECT count(*) FROM mx$i) AS kx,
           |                 (SELECT count(*) FROM my$i) AS ky),
           |s$i AS (
           |  SELECT sum(CAST(CAST(cnt AS DOUBLE) * CAST(cnt AS DOUBLE) /
           |    (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))
           |    AS DECIMAL(18,9))) AS s_d
           |  FROM c$i JOIN mx$i USING (x) JOIN my$i USING (y))""".stripMargin
      val sel =
        s"""SELECT '$rel' AS table_name, '$cX' AS col_x, '$cY' AS col_y,
           |  CAST(n AS BIGINT) AS n_rows, CAST(n_cells AS BIGINT) AS n_cells,
           |  CAST((kx - 1) * (ky - 1) AS BIGINT) AS dof,
           |  ${chi2Sql.replace("\n", "\n  ")} AS chi2,
           |  ${cramersSql.replace("\n", "\n  ")} AS cramers_v
           |FROM s$i, tot$i, dim$i""".stripMargin
      (ctes, sel)
    }
    val (c1, s1) = block(1,
      "SELECT lang AS x, source AS y, count(*) AS cnt FROM documents GROUP BY 1, 2",
      "documents", "lang", "source")
    val (c2, s2) = block(2,
      s"SELECT event_type AS x, $dowExpr AS y, count(*) AS cnt FROM events GROUP BY 1, 2",
      "events", "event_type", "dow")
    s"""WITH $c1,
       |$c2
       |$s1
       |UNION ALL
       |$s2
       |ORDER BY table_name""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Rank-based panel (r12): Spearman ρ and Kruskal–Wallis H — the two
  // siblings the r11 devices already pay for (GlobalRank midranks +
  // exact integer sufficient statistics).
  // ---------------------------------------------------------------------

  /** The >2^53 LADDER device: rank-statistic magnitudes grow as N² (group
    * rank-sum deviations) and N³ (rank sums of squares), and an exact
    * decimal whose value exceeds 2^53 converts to double DIFFERENTLY in
    * the two engines (last-ulp; the §6 rule-8 seam, bitten at sf1 in
    * r11's Welch rehearsal). Device: integer-FLOOR-divide the exact
    * statistic by a power of 10 chosen by a CASE ladder over N — both
    * engines truncate integer division toward zero (Spark `DIV`, DuckDB
    * `//`; verified), so the quotient is the same exact integer < 2^53 on
    * both sides, and its double conversion is seam-free. The divisor
    * re-multiplies inside the one shared double composition (an exact
    * power-of-10 double). Relative truncation error ≤ divisor/statistic —
    * ~1e-12 on N³-magnitude denominators, and bounded by design on the
    * N²-magnitude group deviations (the ladders keep quotients in the
    * 1e6–1e7 range). Cross-engine the truncation is IDENTICAL, so the
    * hash gate sees one value.
    */
  private def ladder3Sql(n: String): String =
    s"""CASE WHEN $n <= 100000 THEN 1
       |  WHEN $n <= 1000000 THEN 1000
       |  WHEN $n <= 10000000 THEN 1000000
       |  WHEN $n <= 100000000 THEN 1000000000
       |  WHEN $n <= 1000000000 THEN 1000000000000
       |  ELSE 1000000000000000 END""".stripMargin

  private def ladder2Sql(n: String): String =
    s"""CASE WHEN $n <= 3000 THEN 1
       |  WHEN $n <= 30000 THEN 100
       |  WHEN $n <= 300000 THEN 10000
       |  WHEN $n <= 3000000 THEN 1000000
       |  WHEN $n <= 30000000 THEN 100000000
       |  WHEN $n <= 300000000 THEN 10000000000
       |  ELSE 1000000000000 END""".stripMargin

  /** Engine-specific exact integer division over a wide decimal: Spark's
    * `DIV` returns BIGINT (quotients here are ladder-bounded < 2^53, so
    * it never overflows); DuckDB routes through HUGEINT so the dividend
    * never degrades to double. Both truncate toward zero.
    */
  private val sparkIntDiv: (String, String) => String =
    (a, b) => s"($a DIV $b)"
  private val duckIntDiv: (String, String) => String =
    (a, b) => s"(CAST($a AS HUGEINT) // $b)"

  /** Numeric columns of the Spearman panel — the first three of
    * profile_correlations' Pearson panel, so an analyst reads monotone
    * (rank) association next to linear association over the same pairs.
    */
  val spearmanCols: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount")

  private val spearmanPairs: Seq[(Int, Int)] =
    for { i <- spearmanCols.indices; j <- spearmanCols.indices if i < j }
      yield (i, j)

  /** Spearman rank correlation over the lineitem numeric panel — the
    * monotone-association sibling of profile_correlations (Pearson):
    * what an analyst reaches for when the scatter is curved or
    * heavy-tailed and "correlation" should mean "do the RANKS move
    * together". Tie-exact: Pearson over MIDRANKS is the standard
    * tie-corrected Spearman, and with u = 2·midrank − (N+1) (an exact
    * integer: 2·midrank = 2·cum_before + c + 1 from the value-keyed
    * count aggregate, the stats_mannwhitney device) the marginals center
    * exactly (Σ c·u = 0), so ρ = Σ uₓu_y / sqrt(Σ uₓ² · Σ u_y²) over
    * exact DECIMAL(38,0) sums (≤ N³ — exact to N ~ 10¹²).
    *
    * Rows with a NULL in ANY panel column are excluded LISTWISE (one
    * shared N, one rank universe per column — the same exclusion both
    * engines, the mannwhitney NULL discipline).
    *
    * Scale shape: one lineitem scan per marginal count aggregate (3,
    * each bounded by its value grid) + GlobalRank prefix-sum range
    * exchanges (never a global window); the row-level frame joins the
    * three rank tables by value equijoin (small grids broadcast
    * themselves under AQE) and feeds ONE 1-row aggregation computing
    * every pair's sums in a single pass (the profile_correlations
    * shape). The edge: the [[ladder3Sql]] device divides each N³-scale
    * sum to < 2^53, then ONE identical double composition per pair,
    * presented RAW (the r13 presentation reversal — see the
    * statsMannWhitney scaladoc; the r12 DECIMAL(18,9) quantization was
    * itself the cross-build hash seam).
    */
  def statsSpearman(spark: SparkSession, dir: String): DataFrame = {
    val cs = spearmanCols
    // the 3-column projection feeds the count, all three value-grid
    // aggregates and the final row-level join: persisted so lineitem is
    // scanned once; the three independent grid→cumsum chains overlap
    // from driver futures, and Future.sequence keeps column order
    val base = Tables.fanOut(
      Tables.lineitem(spark, dir)
        .select(cs.map(col): _*)
        .filter(cs.map(col(_).isNotNull).reduce(_ && _)),
      col(cs.head))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTot = base.agg(count(lit(1)).as("n_all")).localCheckpoint()
    val ranks = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(cs.zipWithIndex.map { case (c, i) =>
        Future {
          val vals = base.groupBy(col(c)).agg(count(lit(1)).as("c_cnt"))
          val cum = GlobalRank.withGlobalCumsum(vals, "c_cnt", "cum", col(c))
          cum.crossJoin(broadcast(nTot))
            .select(col(c), expr("2 * cum - c_cnt - n_all").as(s"u_$i"))
        }
      }), Duration.Inf)
    }
    val joined = ranks.zipWithIndex.foldLeft(base) { case (df, (r, i)) =>
      df.join(r, cs(i))
    }
    val aggs =
      Seq(count(lit(1)).cast("long").as("n_pair")) ++
        cs.indices.map(i => sum(
          expr(s"CAST(u_$i AS DECIMAL(38,0)) * u_$i")).as(s"s_${i}_$i")) ++
        spearmanPairs.map { case (i, j) => sum(
          expr(s"CAST(u_$i AS DECIMAL(38,0)) * u_$j")).as(s"s_${i}_$j") }
    val s = joined.agg(aggs.head, aggs.tail: _*)
      .withColumn("dd", expr(ladder3Sql("n_pair")))
    val structs = spearmanPairs.map { case (i, j) =>
      struct(lit(cs(i)).as("col_x"), lit(cs(j)).as("col_y"),
        col("n_pair").as("n_pair"),
        expr(spearmanRhoSql(sparkIntDiv)(s"s_${i}_$j", s"s_${i}_$i",
          s"s_${j}_$j")).as("rho_spearman"))
    }
    s.select(explode(array(structs: _*)).as("p"))
      .select(col("p.col_x").as("col_x"), col("p.col_y").as("col_y"),
        col("p.n_pair").as("n_pair"),
        col("p.rho_spearman").as("rho_spearman"))
      .orderBy(col("col_x"), col("col_y"))
  }

  // ρ = A/sqrt(B·C) over the ladder-reduced exact sums; NULL when either
  // marginal has zero rank variance (a constant column)
  private def spearmanRhoSql(intdiv: (String, String) => String)(
      a: String, b: String, c: String): String = {
    val (aq, bq, cq) = (intdiv(a, "dd"), intdiv(b, "dd"), intdiv(c, "dd"))
    s"""CASE WHEN $bq > 0 AND $cq > 0
       |  THEN CAST($aq AS DOUBLE)
       |    / sqrt(CAST($bq AS DOUBLE) * CAST($cq AS DOUBLE))
       |END""".stripMargin
  }

  val statsSpearmanSql: String = {
    val cs = spearmanCols
    val notNull = cs.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val baseCols = cs.zipWithIndex.map { case (c, i) => s"$c AS x$i" }
      .mkString(", ")
    val rankCtes = cs.indices.map { i =>
      s"""v$i AS (SELECT x$i, count(*) AS c FROM base GROUP BY 1),
         |r$i AS (SELECT x$i,
         |  CAST(2 * sum(c) OVER (ORDER BY x$i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    - c - (SELECT n_all FROM tot) AS BIGINT) AS u_$i
         |  FROM v$i)""".stripMargin
    }.mkString(",\n")
    val joins = cs.indices.map(i => s"JOIN r$i USING (x$i)").mkString(" ")
    val sums =
      cs.indices.map(i =>
        s"CAST(sum(CAST(u_$i AS HUGEINT) * u_$i) AS DECIMAL(38,0)) AS s_${i}_$i") ++
        spearmanPairs.map { case (i, j) =>
          s"CAST(sum(CAST(u_$i AS HUGEINT) * u_$j) AS DECIMAL(38,0)) AS s_${i}_$j" }
    val selects = spearmanPairs.map { case (i, j) =>
      s"""SELECT '${cs(i)}' AS col_x, '${cs(j)}' AS col_y, n_pair,
         |  ${spearmanRhoSql(duckIntDiv)(s"s_${i}_$j", s"s_${i}_$i", s"s_${j}_$j")
             .replace("\n", "\n  ")} AS rho_spearman
         |FROM d""".stripMargin
    }
    s"""WITH base AS (
       |  SELECT $baseCols FROM lineitem WHERE $notNull),
       |tot AS (SELECT count(*) AS n_all FROM base),
       |$rankCtes,
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_pair,
       |  ${sums.mkString(",\n  ")}
       |  FROM base $joins),
       |d AS (SELECT *,
       |  ${ladder3Sql("n_pair").replace("\n", "\n  ")} AS dd
       |  FROM s)
       |${selects.mkString("\nUNION ALL\n")}
       |ORDER BY col_x, col_y""".stripMargin
  }

  /** Kruskal–Wallis H across the five market segments on order value —
    * the k-group Mann–Whitney (does ANY segment's basket DISTRIBUTION
    * sit higher), and the rank-based sibling of stats_anova_segments for
    * skewed values where the F-test's normality assumption lies.
    *
    * Tie-exact midrank formulation: with u = 2·midrank − (N+1) per
    * distinct value (exact integers, the stats_mannwhitney device),
    *   H = (N−1) · Σ_g wᵍ²/nᵍ / Σᵥ cᵥ·uᵥ²   where wᵍ = Σᵥ c_gᵥ·uᵥ,
    * which IS the classic tie-corrected H (the centered SST identity
    * Σc·u²/4 = (N³−N−Σ(c³−c))/12). Sufficient statistics are exact
    * decimals: wᵍ ≤ N² per group, SST·4 ≤ N³ global. The [[ladder2Sql]]
    * device floor-divides wᵍ before squaring (quotients ≤ ~10⁷, squares
    * < 2^53, per-group terms wq²DIV nᵍ are exact BIGINTs — their sum is
    * ORDER-INDEPENDENT, the anova t_g concern solved without a double
    * sum), [[ladder3Sql]] reduces the denominator, and ONE shared double
    * composition emits H as a raw double (r13 reversal — see the
    * statsMannWhitney scaladoc). Truncation error is
    * ~√N/10⁷ RELATIVE on a null-effect H (identical both engines) —
    * orders of magnitude below H's own sampling noise at any N.
    *
    * significant_95 compares H to the χ²(dof) 0.95 critical value via a
    * dof≤10 CASE lookup (3.841 … 18.307) — an exact-quantile χ² isn't
    * expressible cross-engine; beyond dof 10 the verdict is NULL.
    * Degenerate inputs (k ≤ 1, all values tied → zero rank variance)
    * emit NULL H, never a division by zero.
    *
    * Scale shape: orders ⋈ customer co-shuffle (the anova plan) → one
    * value-keyed count aggregate + GlobalRank prefix sum (never a global
    * window) → (segment, value)-keyed aggregate joined to the rank table
    * → |segments|-row bounded math → 1-row edge.
    */
  def statsKruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_totalprice").as("v"))
      .filter(col("v").isNotNull)
    val vals = x.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val cum = GlobalRank.withGlobalCumsum(vals, "c", "cum", col("v"))
    val nTot = cum.agg(sum(col("c")).cast("long").as("n_all")).localCheckpoint()
    val rt = cum.crossJoin(broadcast(nTot))
      .select(col("v"), expr("2 * cum - c - n_all").as("u"), col("c"),
        col("n_all"))
    val sst = rt.agg(
      sum(expr("CAST(c AS DECIMAL(38,0)) * u * u")).as("t4_0"),
      max(col("n_all")).as("n_total"))
    val g = x.groupBy(col("seg"), col("v")).agg(count(lit(1)).as("c_gv"))
      .join(rt.select(col("v"), col("u")), "v")
      .groupBy(col("seg"))
      .agg(sum(col("c_gv")).as("n_g"),
        sum(expr("CAST(c_gv AS DECIMAL(38,0)) * u")).as("w_g"))
    val terms = g.crossJoin(broadcast(sst))
      .withColumn("ddw", expr(ladder2Sql("n_total")))
      .withColumn("tq_g", expr(kwTermSql(sparkIntDiv)))
    terms.agg(count(lit(1)).cast("long").as("k_groups"),
        max(col("n_total")).as("n_total"),
        sum(col("tq_g")).cast("long").as("a4_0"),
        max(col("ddw")).as("ddw"),
        max(col("t4_0")).as("t4_0"))
      .withColumn("dd3", expr(ladder3Sql("n_total")))
      .withColumn("h_stat", expr(kwHSql(sparkIntDiv)))
      .withColumn("epsilon_sq", expr(kwEpsSql))
      .withColumn("significant_95", expr(kwSigSql))
      .select(col("k_groups"), col("n_total"),
        expr("CAST(k_groups - 1 AS BIGINT)").as("dof"),
        col("h_stat"), col("epsilon_sq"), col("significant_95"))
  }

  // per-group exact integer term: (w/ddw)² DIV n — order-independent sum
  private def kwTermSql(intdiv: (String, String) => String): String = {
    val wq = intdiv("w_g", "ddw")
    intdiv(s"($wq * $wq)", "n_g")
  }

  // H = (N−1)·(A4·ddw²)/T4 — the 4s of SSB·4 and SST·4 cancel
  private def kwHSql(intdiv: (String, String) => String): String = {
    val tq = intdiv("t4_0", "dd3")
    s"""CASE WHEN k_groups > 1 AND n_total > 1 AND $tq > 0
       |  THEN (CAST(n_total AS DOUBLE) - 1.0)
       |    * CAST(a4_0 AS DOUBLE)
       |    * CAST(ddw AS DOUBLE) * CAST(ddw AS DOUBLE)
       |    / (CAST($tq AS DOUBLE) * CAST(dd3 AS DOUBLE))
       |  END""".stripMargin
  }

  private val kwEpsSql =
    """CASE WHEN h_stat IS NULL OR n_total <= 1 THEN NULL
      |  ELSE CAST(h_stat AS DOUBLE)
      |    / (CAST(n_total AS DOUBLE) - 1.0) END"""
      .stripMargin

  // χ²(dof) 0.95 critical values, dof 1..10 (Abramowitz & Stegun tables)
  private val kwSigSql =
    """CASE WHEN h_stat IS NULL OR k_groups - 1 < 1 OR k_groups - 1 > 10
      |  THEN NULL
      |  ELSE CAST(h_stat AS DOUBLE) >= (CASE k_groups - 1
      |    WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
      |    WHEN 4 THEN 9.488 WHEN 5 THEN 11.070 WHEN 6 THEN 12.592
      |    WHEN 7 THEN 14.067 WHEN 8 THEN 15.507 WHEN 9 THEN 16.919
      |    ELSE 18.307 END) END""".stripMargin

  /** Mood's median test across the five market segments on order value —
    * the quantile-robust k-group test (does ANY segment put more than
    * its share of orders ABOVE the grand median): where Kruskal–Wallis
    * weighs the whole rank distribution, the median test only asks
    * about the 50% split, so single extreme orders cannot move it at
    * all — the "is the middle of the business shifting" question.
    *
    * Grand median by the house nearest-rank device: the smallest
    * distinct value whose GlobalRank prefix-sum count reaches rank
    * (n+1) DIV 2 — pure integer rank algebra, identical both engines
    * (never an interpolated percentile, which is a float seam). Each
    * group then splits into exact counts above/at-or-below the median
    * and the k×2 contingency table scores with the
    * stats_chisq_independence zero-cell identity χ² = N·(Σ o²/(r·c) − 1)
    * — per-cell terms floor-scaled to exact ppb BIGINTs (rule-9:
    * floor(term·10⁹) of an identical IEEE double composition — r14
    * closed the last internal CAST(double AS DECIMAL(18,9)) seam the
    * r13 reversal removed everywhere else; each term ≤ 2 since both
    * cell fractions are ≤ 1, so the scaled sum stays far inside BIGINT
    * at any N) and summed exactly over the 2k bounded cells, re-divided
    * in the final raw-double composition. χ² presents as the raw
    * double of the final composition (r13 reversal — see the
    * statsMannWhitney scaladoc); significance via the χ²(dof ≤ 10)
    * critical-value CASE (the
    * stats_kruskal_wallis convention). Degenerate inputs (k ≤ 1, every
    * value above-split empty or full — a zero margin) emit NULL.
    *
    * Scale shape: the anova/KW orders ⋈ customer co-shuffle → value-grid
    * count aggregate + ONE GlobalRank prefix sum → a 1-row median frame
    * broadcast into the |segments|-keyed conditional aggregate →
    * bounded-row math.
    */
  def statsMedianTest(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_totalprice").as("v"))
      .filter(col("v").isNotNull)
    val vals = x.groupBy(col("v")).agg(count(lit(1)).as("c"))
    val cum = GlobalRank.withGlobalCumsum(vals, "c", "cum", col("v"))
    val nTot = cum.agg(sum(col("c")).cast("long").as("n_all")).localCheckpoint()
    val med = cum.crossJoin(broadcast(nTot))
      .filter(expr("cum >= (n_all + 1) DIV 2"))
      .agg(min(col("v")).as("med_v"))
    val g = x.crossJoin(broadcast(med))
      .groupBy(col("seg"))
      .agg(sum(when(col("v") > col("med_v"), 1L).otherwise(0L)).as("n_hi"),
        count(lit(1)).as("n_g"))
      .withColumn("n_lo", expr("n_g - n_hi"))
    val tot = g.agg(sum(col("n_hi")).cast("long").as("t_hi"),
      sum(col("n_lo")).cast("long").as("t_lo"),
      sum(col("n_g")).cast("long").as("n_total"),
      count(lit(1)).cast("long").as("k_groups"))
    g.crossJoin(broadcast(tot))
      .select(col("k_groups"), col("n_total"),
        expr(medianCellSql).as("term"))
      .groupBy(col("k_groups"), col("n_total"))
      .agg(sum(col("term")).as("term_sum"))
      .crossJoin(broadcast(med))
      .withColumn("chi2", expr(medianChi2Sql))
      .select(col("k_groups"), col("n_total"),
        col("med_v").as("median_value"),
        expr("CAST(k_groups - 1 AS BIGINT)").as("dof"),
        col("chi2"),
        expr(medianSigSql).as("significant_95"))
  }

  // Σ o²/(row·col) over the k×2 observed cells, each term one double
  // composition floor-scaled to an exact ppb BIGINT (rule-9: floor of
  // an identical IEEE double after identical ops is build-independent —
  // the DECIMAL(18,9) per-cell cast this replaced was the exact HALF_UP
  // vs binary-expansion seam the grid canary's rows 3/8 exhibit; order-
  // independent exact sum over the 2k bounded cells, each term ≤ 2 so
  // the scaled sum is ≤ 4k·10⁹); zero margins degrade the whole
  // statistic to NULL via the guard below
  private val medianCellSql =
    """CASE WHEN t_hi > 0 AND t_lo > 0 AND n_g > 0 THEN
      |  CAST(floor((CAST(n_hi AS DOUBLE) * CAST(n_hi AS DOUBLE)
      |      / (CAST(n_g AS DOUBLE) * CAST(t_hi AS DOUBLE))
      |    + CAST(n_lo AS DOUBLE) * CAST(n_lo AS DOUBLE)
      |      / (CAST(n_g AS DOUBLE) * CAST(t_lo AS DOUBLE)))
      |    * 1000000000.0) AS BIGINT)
      |END""".stripMargin
  private val medianChi2Sql =
    """CASE WHEN k_groups > 1 AND n_total > 0 AND term_sum IS NOT NULL THEN
      |  CAST(n_total AS DOUBLE)
      |    * (CAST(term_sum AS DOUBLE) / 1000000000.0 - 1.0)
      |END""".stripMargin
  private val medianSigSql =
    """CASE WHEN chi2 IS NULL OR k_groups - 1 < 1 OR k_groups - 1 > 10
      |  THEN NULL
      |  ELSE CAST(chi2 AS DOUBLE) >= (CASE k_groups - 1
      |    WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
      |    WHEN 4 THEN 9.488 WHEN 5 THEN 11.070 WHEN 6 THEN 12.592
      |    WHEN 7 THEN 14.067 WHEN 8 THEN 15.507 WHEN 9 THEN 16.919
      |    ELSE 18.307 END) END""".stripMargin

  val statsMedianTestSql: String =
    s"""WITH x AS (
       |  SELECT c.c_mktsegment AS seg, o.o_totalprice AS v
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  WHERE o.o_totalprice IS NOT NULL),
       |vals AS (SELECT v, count(*) AS c FROM x GROUP BY 1),
       |tot0 AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM vals),
       |cum AS (SELECT v, c,
       |  sum(c) OVER (ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM vals),
       |med AS (SELECT min(v) AS med_v FROM cum
       |  WHERE cum >= ((SELECT n_all FROM tot0) + 1) // 2),
       |g AS (SELECT seg,
       |  CAST(sum(CASE WHEN v > (SELECT med_v FROM med) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hi,
       |  count(*) AS n_g
       |  FROM x GROUP BY 1),
       |g2 AS (SELECT seg, n_hi, n_g, n_g - n_hi AS n_lo FROM g),
       |tot AS (SELECT CAST(sum(n_hi) AS BIGINT) AS t_hi,
       |  CAST(sum(n_lo) AS BIGINT) AS t_lo,
       |  CAST(sum(n_g) AS BIGINT) AS n_total,
       |  CAST(count(*) AS BIGINT) AS k_groups FROM g2),
       |terms AS (SELECT k_groups, n_total,
       |  ${medianCellSql.replace("\n", "\n  ")} AS term
       |  FROM g2, tot),
       |agg AS (SELECT k_groups, n_total, sum(term) AS term_sum
       |  FROM terms GROUP BY 1, 2),
       |res AS (SELECT *,
       |  ${medianChi2Sql.replace("\n", "\n  ")} AS chi2
       |  FROM agg, med)
       |SELECT k_groups, n_total, med_v AS median_value,
       |  CAST(k_groups - 1 AS BIGINT) AS dof, chi2,
       |  ${medianSigSql.replace("\n", "\n  ")} AS significant_95
       |FROM res""".stripMargin

  /** Brown–Forsythe (median-centered Levene) test across the five market
    * segments on order value — the VARIANCE-homogeneity sibling of
    * stats_anova_segments: anova asks whether any segment's MEAN sits
    * apart; this asks whether any segment's SPREAD does (a dispersion
    * shift is what anova's own F assumes away, so an analyst runs this
    * first), robust to heavy tails because the centering is each
    * group's MEDIAN, not its mean.
    *
    * Exactness: group medians come from the house nearest-rank device —
    * the per-group value-grid prefix sum (ONE GlobalRank range exchange
    * over (seg, v); within-group cum = global cum − the group's
    * preceding total, a k-row broadcast) — so med_g is an exact
    * DECIMAL both engines, never an interpolated percentile. The
    * absolute deviations z = |v − med_g| are exact decimals of the
    * anova xk magnitude, so the ENTIRE statsAnovaSegments sufficient-
    * statistic pipeline (per-group exact sums, the floor(q·10⁴) >2^53
    * device, the shared ssb/ssw/F composition) applies verbatim over z;
    * W presents as the raw double of that one composition (r13
    * reversal — see the statsMannWhitney scaladoc).
    * significant_95 uses the asymptotic (k−1)·W → χ²(k−1) device GATED
    * on dof_within ≥ 30 (the stats_welch_ttest convention — below the
    * gate the verdict is NULL, not an overstated cutoff).
    *
    * Scale shape: the anova orders ⋈ customer co-shuffle → value-grid
    * count aggregate + ONE composite-key GlobalRank prefix sum (never a
    * per-group window over data) → k-row median broadcast back into the
    * row stream → |segments|-row bounded math → 1-row edge.
    */
  def statsBrownForsythe(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_totalprice").as("v"))
      .filter(col("v").isNotNull)
    val vals = x.groupBy(col("seg"), col("v")).agg(count(lit(1)).as("c"))
    val cum = GlobalRank.withGlobalCumsum(vals, "c", "cum", col("seg"), col("v"))
    val segTot = cum.groupBy(col("seg"))
      .agg(max(col("cum")).as("cum_end"), sum(col("c")).cast("long").as("n_g0"))
    val med = cum.join(broadcast(segTot), "seg")
      .filter(expr("cum - (cum_end - n_g0) >= (n_g0 + 1) DIV 2"))
      .groupBy(col("seg")).agg(min(col("v")).as("med_g"))
    val a = x.join(broadcast(med), "seg")
      .select(col("seg"),
        expr("CAST(abs(CAST(v AS DECIMAL(14,2)) - med_g) / 1000 AS DECIMAL(18,5))")
          .as("zk"))
    val g = a.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_g"),
        sum(col("zk")).as("s_g0"),
        sum(expr("zk * zk")).as("q_g0"))
      .select(col("n_g"),
        expr("CAST(s_g0 AS DECIMAL(38,5))").as("s_g"),
        expr("CAST(floor(q_g0 * 10000) AS DECIMAL(38,0))").as("q4_g"))
      .withColumn("t_g", expr(anovaTermSql))
    val medStats = med.agg(min(col("med_g")).as("med_min"),
      max(col("med_g")).as("med_max")).localCheckpoint()
    g.agg(count(lit(1)).as("k_groups"),
        sum(col("n_g")).as("n_total"),
        sum(col("s_g")).as("s_all0"),
        sum(col("q4_g")).as("q4_all0"),
        sum(col("t_g")).as("t_all0"))
      .select(col("k_groups"), col("n_total"),
        expr("CAST(s_all0 AS DECIMAL(38,5))").as("s_all"),
        expr("CAST(q4_all0 AS DECIMAL(38,0))").as("q4_all"),
        expr("CAST(t_all0 AS DECIMAL(38,2))").as("t_all"))
      .withColumn("ssb", expr(ssbSql))
      .withColumn("ssw", expr(sswSql))
      .withColumn("w_stat", expr(bfWSql))
      .crossJoin(broadcast(medStats))
      .select(col("k_groups"), col("n_total"),
        expr("CAST(k_groups - 1 AS BIGINT)").as("dof_between"),
        expr("CAST(n_total - k_groups AS BIGINT)").as("dof_within"),
        col("med_min"), col("med_max"), col("w_stat"),
        expr(bfSigSql).as("significant_95"))
  }

  // the anova F composition over the deviation stream, presented raw —
  // the funnel_ztest/welch/anova hashed-surface convention
  private val bfWSql: String = fSql
  private val bfSigSql =
    """CASE WHEN w_stat IS NULL OR n_total - k_groups < 30
      |    OR k_groups - 1 < 1 OR k_groups - 1 > 10 THEN NULL
      |  ELSE (CAST(k_groups AS DOUBLE) - 1.0) * CAST(w_stat AS DOUBLE)
      |    >= (CASE k_groups - 1
      |    WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
      |    WHEN 4 THEN 9.488 WHEN 5 THEN 11.070 WHEN 6 THEN 12.592
      |    WHEN 7 THEN 14.067 WHEN 8 THEN 15.507 WHEN 9 THEN 16.919
      |    ELSE 18.307 END) END""".stripMargin

  val statsBrownForsytheSql: String =
    s"""WITH x AS (
       |  SELECT c.c_mktsegment AS seg, o.o_totalprice AS v
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  WHERE o.o_totalprice IS NOT NULL),
       |vals AS (SELECT seg, v, count(*) AS c FROM x GROUP BY 1, 2),
       |cum AS (SELECT seg, v, c,
       |  sum(c) OVER (PARTITION BY seg ORDER BY v
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wcum,
       |  sum(c) OVER (PARTITION BY seg) AS n_g0
       |  FROM vals),
       |med AS (SELECT seg, min(v) AS med_g FROM cum
       |  WHERE wcum >= (n_g0 + 1) // 2 GROUP BY 1),
       |a AS (SELECT x.seg,
       |  CAST(abs(CAST(x.v AS DECIMAL(14,2)) - m.med_g) / 1000 AS DECIMAL(18,5)) AS zk
       |  FROM x JOIN med m ON x.seg = m.seg),
       |g AS (SELECT seg, count(*) AS n_g,
       |  CAST(sum(zk) AS DECIMAL(38,5)) AS s_g,
       |  CAST(floor(sum(zk * zk) * 10000) AS DECIMAL(38,0)) AS q4_g
       |  FROM a GROUP BY 1),
       |t AS (SELECT *,
       |  ${anovaTermSql.replace("\n", "\n  ")} AS t_g
       |  FROM g),
       |agg AS (SELECT count(*) AS k_groups,
       |  CAST(sum(n_g) AS BIGINT) AS n_total,
       |  CAST(sum(s_g) AS DECIMAL(38,5)) AS s_all,
       |  CAST(sum(q4_g) AS DECIMAL(38,0)) AS q4_all,
       |  CAST(sum(t_g) AS DECIMAL(38,2)) AS t_all
       |  FROM t),
       |ms AS (SELECT min(med_g) AS med_min, max(med_g) AS med_max FROM med),
       |s AS (SELECT *,
       |  ${ssbSql.replace("\n", "\n  ")} AS ssb,
       |  ${sswSql} AS ssw
       |  FROM agg),
       |w AS (SELECT *,
       |  ${bfWSql.replace("\n", "\n  ")} AS w_stat
       |  FROM s)
       |SELECT k_groups, n_total,
       |  CAST(k_groups - 1 AS BIGINT) AS dof_between,
       |  CAST(n_total - k_groups AS BIGINT) AS dof_within,
       |  med_min, med_max, w_stat,
       |  ${bfSigSql.replace("\n", "\n  ")} AS significant_95
       |FROM w, ms""".stripMargin

  /** Kendall's τ-b between daily event volume and daily event value over
    * the events stream — the BOUNDED-series monotone-association test
    * ("do busier days also transact more"), the concordance-based
    * sibling of stats_spearman: τ counts order agreements pair-by-pair,
    * so it is the statistic of record for short ordinal series where ρ's
    * moment algebra over-weights a single extreme day.
    *
    * The series is day-grained by construction, so n_days is bounded by
    * the time horizon (thousands, not data-sized) REGARDLESS of corpus
    * size: the data-sized work is one exact day-keyed aggregation
    * (count + DECIMAL(12,2) value sum, the events presentation device);
    * the O(n_days²) concordance tally runs over the bounded series via
    * a broadcast self-join (the deliberate bounded BNLJ pattern — for
    * data-sized series use stats_spearman, whose rank algebra is
    * linear). Days whose value sum is NULL (no non-NULL values) are
    * excluded listwise, both engines.
    *
    * All sufficient statistics are exact BIGINT pair counts:
    * concordant, discordant, ties_x, ties_y (tie pairs counted on each
    * marginal, the τ-b denominator convention n0−T). The z variance is
    * TIE-CORRECTED (r12 ADVICE: daily counts tie frequently, and the
    * no-ties n(n−1)(2n+5) variance overstates significance): var18 =
    * n(n−1)(2n+5) − Σ tₓ(tₓ−1)(2tₓ+5) − Σ t_y(t_y−1)(2t_y+5) over the
    * marginal tie-GROUP sizes — the stats_theil_sen MK device applied
    * to both margins (the joint O(1/n) cross terms of the full tie
    * variance are omitted; documented approximation). τ-b and the
    * continuity-corrected z present as RAW doubles of ONE shared
    * composition each (the r13 presentation reversal — see the
    * statsMannWhitney scaladoc); significant_95 reads the presented z,
    * gated on n_days ≥ 30 (the Welch convention; below the gate the
    * verdict is NULL).
    */
  def statsKendallTau(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(value AS DECIMAL(12,2))")).as("y"))
      .filter(col("y").isNotNull)
    val d2 = daily.select(col("day").as("day_b"), col("x").as("x_b"),
      col("y").as("y_b"))
    val tallies = daily.join(broadcast(d2), col("day") < col("day_b"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when((col("x") < col("x_b") && col("y") < col("y_b"))
          || (col("x") > col("x_b") && col("y") > col("y_b")), 1L)
          .otherwise(0L)).as("concordant"),
        sum(when((col("x") < col("x_b") && col("y") > col("y_b"))
          || (col("x") > col("x_b") && col("y") < col("y_b")), 1L)
          .otherwise(0L)).as("discordant"),
        sum(when(col("x") === col("x_b"), 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("y") === col("y_b"), 1L).otherwise(0L)).as("ties_y"))
    val nDays = daily.agg(count(lit(1)).cast("long").as("n_days"))
      .localCheckpoint()
    val tieX = daily.groupBy(col("x")).agg(count(lit(1)).as("tc"))
      .agg(sum(expr("tc * (tc - 1) * (2 * tc + 5)")).cast("long")
        .as("tie18_x"))
    val tieY = daily.groupBy(col("y")).agg(count(lit(1)).as("tc"))
      .agg(sum(expr("tc * (tc - 1) * (2 * tc + 5)")).cast("long")
        .as("tie18_y"))
    tallies.crossJoin(broadcast(nDays))
      .crossJoin(broadcast(tieX)).crossJoin(broadcast(tieY))
      .withColumn("var18", expr(kendallVarSql))
      .withColumn("tau_b", expr(kendallTauSql))
      .withColumn("z_approx", expr(kendallZSql))
      .select(col("n_days"), col("n_pairs"), col("concordant"),
        col("discordant"), col("ties_x"), col("ties_y"), col("var18"),
        col("tau_b"), col("z_approx"),
        expr(kendallSigSql).as("significant_95"))
  }

  // τ-b = (C−D)/sqrt((n0−Tx)(n0−Ty)) — NULL when either marginal is
  // fully tied (zero effective pairs)
  private val kendallTauSql =
    """CASE WHEN n_pairs - ties_x > 0 AND n_pairs - ties_y > 0
      |  THEN CAST(concordant - discordant AS DOUBLE)
      |    / sqrt(CAST(n_pairs - ties_x AS DOUBLE)
      |         * CAST(n_pairs - ties_y AS DOUBLE))
      |END""".stripMargin
  // tie-corrected ×18 variance of S (both-margin MK correction; exact
  // BIGINT — n_days is horizon-bounded, magnitudes ≤ 2n³)
  private val kendallVarSql =
    """CAST(CASE WHEN n_days > 1
      |  THEN n_days * (n_days - 1) * (2 * n_days + 5)
      |    - coalesce(tie18_x, 0) - coalesce(tie18_y, 0)
      |END AS BIGINT)""".stripMargin
  // continuity-corrected normal z over the tie-corrected variance —
  // the stats_theil_sen MK composition; div/mult/sqrt only
  private val kendallZSql =
    """CASE WHEN var18 IS NOT NULL AND var18 > 0
      |  THEN (CAST(concordant - discordant AS DOUBLE)
      |      - (CASE WHEN concordant > discordant THEN 1.0
      |              WHEN concordant < discordant THEN -1.0 ELSE 0.0 END))
      |    / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |END""".stripMargin
  private val kendallSigSql =
    """CASE WHEN z_approx IS NULL OR n_days < 30 THEN NULL
      |  ELSE abs(CAST(z_approx AS DOUBLE)) >= 1.96 END""".stripMargin

  val statsKendallTauSql: String =
    s"""WITH daily AS (
       |  SELECT date_trunc('day', ts) AS day,
       |    CAST(count(*) AS BIGINT) AS x,
       |    sum(CAST(value AS DECIMAL(12,2))) AS y
       |  FROM events GROUP BY 1),
       |d AS (SELECT * FROM daily WHERE y IS NOT NULL),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d),
       |tx AS (SELECT CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT)
       |  AS tie18_x FROM (SELECT count(*) AS tc FROM d GROUP BY x)),
       |ty AS (SELECT CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT)
       |  AS tie18_y FROM (SELECT count(*) AS tc FROM d GROUP BY y)),
       |t AS (SELECT
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
       |    OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT)
       |    AS concordant,
       |  CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
       |    OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT)
       |    AS discordant,
       |  CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
       |  CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
       |  FROM d a JOIN d b ON a.day < b.day),
       |v AS (SELECT t.*, nd.n_days, tx.tie18_x, ty.tie18_y,
       |  ${kendallVarSql.replace("\n", "\n  ")} AS var18
       |  FROM t, nd, tx, ty),
       |z AS (SELECT *,
       |  ${kendallTauSql.replace("\n", "\n  ")} AS tau_b,
       |  ${kendallZSql.replace("\n", "\n  ")} AS z_approx
       |  FROM v)
       |SELECT n_days, n_pairs, concordant, discordant, ties_x, ties_y,
       |  var18, tau_b, z_approx,
       |  ${kendallSigSql.replace("\n", "\n  ")} AS significant_95
       |FROM z""".stripMargin

  /** Friedman test of day-of-week effect on daily event value — the
    * REPEATED-MEASURES rank test (k = 7 weekday treatments ranked
    * WITHIN each week block, so week-to-week level shifts cancel by
    * design): the question stats_kruskal_wallis cannot ask, because its
    * groups must be independent — here every week contributes one
    * observation to every treatment, and the blocking removes the
    * between-week variance before the ranks are compared. The analyst
    * read: "does the weekly rhythm exist, net of growth/season".
    *
    * Calendar-seam-free blocking: day_num = epoch-microseconds DIV
    * 86400000000 (pure integer, both engines — never a week-of-year
    * function, whose ISO conventions differ); block = day_num DIV 7,
    * treatment = day_num % 7. Blocks missing any of the 7 days (horizon
    * edges, all-NULL-value days excluded listwise) are dropped whole —
    * an incomplete block has no within-block ranking.
    *
    * Tie-exact integer algebra: within a 7-row block, the DOUBLED
    * midrank s = 2·(#less) + (#equal incl. self) + 1 is an exact
    * integer from the block self-join (7×7 bounded rows per block), and
    * the tie-corrected Friedman statistic is a pure integer ratio:
    *   χ²_F = (k−1)·Σ_j (2R_j − n(k+1))² / (Σ s² − n·k·(k+1)²)
    * (the classic 12/(nk(k+1)) form when no ties — the scaled-by-4
    * identity). Magnitudes ≤ (2kn)² — horizon-bounded, no ladder
    * needed. The centering term n(k+1) is computed from the DATA's
    * treatment count (k_treat cross-joined into the per-treatment
    * aggregate — r12 ADVICE: the former hardcoded n_j·8 was correct
    * only under the k=7 complete-block invariant). χ²_F and Kendall's
    * W = χ²/(n(k−1)) present as raw doubles of one composition each
    * (the r13 presentation reversal — see the statsMannWhitney
    * scaladoc); significant_95 via the χ²(dof ≤ 10) CASE.
    * Degenerate inputs (no complete block, every block fully tied →
    * zero denominator) emit NULL.
    *
    * Scale shape: the data-sized work is ONE day-keyed exact aggregate;
    * everything after is horizon-bounded (≤ thousands of rows): the
    * block self-join is 7×7 per block, the treatment aggregate is
    * 7 rows, the edge is 1 row.
    */
  def statsFriedman(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(expr("unix_micros(date_trunc('DAY', ts)) DIV 86400000000")
        .as("day_num"))
      .agg(sum(expr("CAST(value AS DECIMAL(12,2))")).as("y"))
      .filter(col("y").isNotNull)
      .select(expr("day_num DIV 7").as("blk"),
        expr("day_num % 7").as("dow"), col("y"))
    val complete = daily.groupBy(col("blk"))
      .agg(count(lit(1)).as("n_in_blk")).filter(col("n_in_blk") === 7)
      .select(col("blk"))
    val d = daily.join(complete, "blk")
    val s = d.join(d.select(col("blk"), col("y").as("y_o")), "blk")
      .groupBy(col("blk"), col("dow"), col("y"))
      .agg(sum(when(col("y_o") < col("y"), 2L).otherwise(0L)).as("less2"),
        sum(when(col("y_o") === col("y"), 1L).otherwise(0L)).as("eq"))
      .select(col("blk"), col("dow"),
        expr("less2 + eq + 1").as("s"))
    val perDow = s.groupBy(col("dow"))
      .agg(sum(col("s")).as("r2_j"), sum(expr("s * s")).as("s2_j"),
        count(lit(1)).cast("long").as("n_j"))
    // the centering term n_j·(k+1) reads the DATA's treatment count —
    // a 1-row cross join, never a hardcoded blocking grain
    val kk = perDow.agg(count(lit(1)).cast("long").as("k_treat"))
    perDow.crossJoin(broadcast(kk))
      .agg(max(col("k_treat")).as("k_treat"),
        max(col("n_j")).as("n_blocks"),
        sum(expr("CAST((r2_j - n_j * (k_treat + 1)) AS DECIMAL(38,0)) * (r2_j - n_j * (k_treat + 1))"))
          .as("num4"),
        sum(col("s2_j")).as("a4"))
      .withColumn("k_treat", expr("coalesce(k_treat, 0)"))
      .withColumn("chi2_f", expr(friedmanChi2Sql))
      .select(col("n_blocks"), col("k_treat"),
        expr("CAST(CASE WHEN k_treat > 0 THEN k_treat - 1 END AS BIGINT)")
          .as("dof"),
        col("chi2_f"),
        expr(friedmanWSql).as("kendalls_w"),
        expr(friedmanSigSql).as("significant_95"))
  }

  // χ²_F = (k−1)·num4 / (a4 − n·k·(k+1)²); num4 already carries the
  // (2R_j − n(k+1))² scaling, with k READ from the data (the kk cross
  // join). NULL when no block survives or the denominator is 0 (every
  // block fully tied). Presented raw (the r13 reversal).
  private val friedmanChi2Sql =
    """CASE WHEN k_treat > 1 AND n_blocks > 0
      |    AND (CAST(a4 AS DOUBLE)
      |         - CAST(n_blocks * k_treat AS DOUBLE)
      |           * CAST((k_treat + 1) * (k_treat + 1) AS DOUBLE)) > 0
      |  THEN (CAST(k_treat AS DOUBLE) - 1.0) * CAST(num4 AS DOUBLE)
      |    / (CAST(a4 AS DOUBLE)
      |       - CAST(n_blocks * k_treat AS DOUBLE)
      |         * CAST((k_treat + 1) * (k_treat + 1) AS DOUBLE))
      |END""".stripMargin
  private val friedmanWSql =
    """CASE WHEN chi2_f IS NULL OR n_blocks = 0 OR k_treat <= 1 THEN NULL
      |  ELSE CAST(chi2_f AS DOUBLE)
      |    / (CAST(n_blocks AS DOUBLE) * (CAST(k_treat AS DOUBLE) - 1.0))
      |  END""".stripMargin
  private val friedmanSigSql =
    """CASE WHEN chi2_f IS NULL OR k_treat - 1 < 1 OR k_treat - 1 > 10
      |  THEN NULL
      |  ELSE CAST(chi2_f AS DOUBLE) >= (CASE k_treat - 1
      |    WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
      |    WHEN 4 THEN 9.488 WHEN 5 THEN 11.070 WHEN 6 THEN 12.592
      |    WHEN 7 THEN 14.067 WHEN 8 THEN 15.507 WHEN 9 THEN 16.919
      |    ELSE 18.307 END) END""".stripMargin

  val statsFriedmanSql: String =
    s"""WITH daily0 AS (
       |  SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    sum(CAST(value AS DECIMAL(12,2))) AS y
       |  FROM events GROUP BY 1),
       |daily AS (
       |  SELECT day_num // 7 AS blk, day_num % 7 AS dow, y
       |  FROM daily0 WHERE y IS NOT NULL),
       |complete AS (
       |  SELECT blk FROM daily GROUP BY blk HAVING count(*) = 7),
       |d AS (SELECT daily.* FROM daily JOIN complete USING (blk)),
       |s AS (
       |  SELECT a.blk, a.dow,
       |    CAST(sum(CASE WHEN b.y < a.y THEN 2 ELSE 0 END)
       |      + sum(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) + 1 AS BIGINT) AS s
       |  FROM d a JOIN d b USING (blk)
       |  GROUP BY a.blk, a.dow, a.y),
       |perdow AS (
       |  SELECT dow, CAST(sum(s) AS BIGINT) AS r2_j,
       |    CAST(sum(s * s) AS BIGINT) AS s2_j,
       |    CAST(count(*) AS BIGINT) AS n_j
       |  FROM s GROUP BY dow),
       |kk AS (SELECT CAST(count(*) AS BIGINT) AS k_treat FROM perdow),
       |agg AS (
       |  SELECT CAST(coalesce(max(kk.k_treat), 0) AS BIGINT) AS k_treat,
       |    max(n_j) AS n_blocks,
       |    CAST(sum(CAST((r2_j - n_j * (kk.k_treat + 1)) AS HUGEINT)
       |        * (r2_j - n_j * (kk.k_treat + 1)))
       |      AS DECIMAL(38,0)) AS num4,
       |    CAST(sum(s2_j) AS DECIMAL(38,0)) AS a4
       |  FROM perdow, kk),
       |res AS (SELECT *,
       |  ${friedmanChi2Sql.replace("\n", "\n  ")} AS chi2_f
       |  FROM agg)
       |SELECT n_blocks, k_treat,
       |  CAST(CASE WHEN k_treat > 0 THEN k_treat - 1 END AS BIGINT) AS dof,
       |  chi2_f,
       |  ${friedmanWSql.replace("\n", "\n  ")} AS kendalls_w,
       |  ${friedmanSigSql.replace("\n", "\n  ")} AS significant_95
       |FROM res""".stripMargin

  /** Theil–Sen robust trend + Mann–Kendall trend test on the daily
    * event-value series — the trend kit an analyst runs when
    * events_ewma_forecast's adaptive baseline says "something moved"
    * and the question becomes "is there a MONOTONE trend, and how
    * steep": Sen's slope (the median of all pairwise slopes — one wild
    * day moves it not at all, where OLS chases it) with the
    * Mann–Kendall S test (Kendall's τ machinery against TIME itself)
    * for the significance verdict.
    *
    * Exactness: the series is the stats_kendall_tau daily aggregate
    * (exact DECIMAL(12,2) sums, NULL-day listwise exclusion); S and the
    * tie-corrected ×18 variance (n(n−1)(2n+5) − Σ tᵧ(tᵧ−1)(2tᵧ+5)) are
    * exact BIGINTs; pairwise slopes are IEEE doubles composed
    * identically both engines (decimal→double under the §6 rule-8
    * digit bound, one shared division), so the nearest-rank median —
    * the house integer-rank device over the SORTED bounded slope set —
    * selects the same double on both sides; sen_slope and the MK z
    * (continuity-corrected, the documented normal approximation gated
    * n ≥ 10) present as RAW doubles (the r13 presentation reversal —
    * see the statsMannWhitney scaladoc), trend reads the presented z.
    * Degenerate inputs (< 2 days, all-tied values → zero variance)
    * emit NULL slope/z and NULL trend.
    *
    * Scale shape: the data-sized work is ONE day-keyed aggregate; the
    * O(days²) slope/concordance set and its median rank run over the
    * horizon-BOUNDED series (the stats_kendall_tau boundedness
    * argument; the median window sorts ≤ ~10⁵ bounded rows).
    */
  def statsTheilSen(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(expr("unix_micros(date_trunc('DAY', ts)) DIV 86400000000")
        .as("day_num"))
      .agg(sum(expr("CAST(value AS DECIMAL(12,2))")).as("y"))
      .filter(col("y").isNotNull)
    val b = daily.select(col("day_num").as("day_b"), col("y").as("y_b"))
    val pairs = daily.join(broadcast(b), col("day_num") < col("day_b"))
      .select(col("day_num"), col("day_b"), col("y"), col("y_b"),
        expr("(CAST(y_b AS DOUBLE) - CAST(y AS DOUBLE)) / CAST(day_b - day_num AS DOUBLE)")
          .as("slope"))
      .localCheckpoint()
    val tallies = pairs.agg(count(lit(1)).as("n_pairs"),
      sum(when(col("y_b") > col("y"), 1L)
        .when(col("y_b") < col("y"), -1L).otherwise(0L)).cast("long").as("s_stat"))
    // the median rank rides the GlobalRank range exchange — bounded here,
    // but the device keeps the shape scale-safe (and the class-guard
    // clean) if a caller ever feeds a finer-than-day series
    val med = GlobalRank
      .withGlobalRank(pairs, "rk", col("slope"), col("day_num"), col("day_b"))
      .crossJoin(broadcast(tallies.select(col("n_pairs").as("m"))))
      .filter(expr("rk >= (m + 1) DIV 2")).agg(min(col("slope")).as("sen_raw"))
    val ties = daily.groupBy(col("y")).agg(count(lit(1)).as("tc"))
      .agg(sum(expr("tc * (tc - 1) * (2 * tc + 5)")).cast("long").as("tie18"),
        count(lit(1)).cast("long").as("n_vals"))
    val nd = daily.agg(count(lit(1)).cast("long").as("n_days"))
    tallies.crossJoin(broadcast(nd)).crossJoin(broadcast(ties))
      .crossJoin(broadcast(med))
      .withColumn("var18",
        expr("CAST(CASE WHEN n_days > 1 THEN n_days * (n_days - 1) * (2 * n_days + 5) - coalesce(tie18, 0) END AS BIGINT)"))
      .withColumn("z_mk", expr(theilZSql))
      .select(col("n_days"), col("n_pairs"), col("s_stat"),
        col("var18"),
        expr("CASE WHEN n_pairs > 0 THEN sen_raw END").as("sen_slope"),
        col("z_mk"),
        expr(theilTrendSql).as("trend"))
  }

  // continuity-corrected MK z over the ×18 exact variance; NULL below
  // the n >= 10 normal-approximation gate or at zero variance
  private val theilZSql =
    """CASE WHEN n_days >= 10 AND var18 > 0
      |  THEN (CAST(s_stat AS DOUBLE)
      |      - (CASE WHEN s_stat > 0 THEN 1.0
      |              WHEN s_stat < 0 THEN -1.0 ELSE 0.0 END))
      |    / sqrt(CAST(var18 AS DOUBLE) / 18.0)
      |END""".stripMargin
  private val theilTrendSql =
    """CASE WHEN z_mk IS NULL THEN CAST(NULL AS STRING)
      |  WHEN CAST(z_mk AS DOUBLE) >= 1.96 THEN 'increasing'
      |  WHEN CAST(z_mk AS DOUBLE) <= -1.96 THEN 'decreasing'
      |  ELSE 'none' END""".stripMargin

  val statsTheilSenSql: String =
    s"""WITH daily0 AS (
       |  SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    sum(CAST(value AS DECIMAL(12,2))) AS y
       |  FROM events GROUP BY 1),
       |d AS (SELECT * FROM daily0 WHERE y IS NOT NULL),
       |pairs AS (
       |  SELECT a.day_num, b.day_num AS day_b, a.y, b.y AS y_b,
       |    (CAST(b.y AS DOUBLE) - CAST(a.y AS DOUBLE))
       |      / CAST(b.day_num - a.day_num AS DOUBLE) AS slope
       |  FROM d a JOIN d b ON a.day_num < b.day_num),
       |tallies AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN y_b > y THEN 1 WHEN y_b < y THEN -1 ELSE 0 END)
       |    AS BIGINT) AS s_stat
       |  FROM pairs),
       |ranked AS (SELECT slope,
       |  row_number() OVER (ORDER BY slope, day_num, day_b) AS rk
       |  FROM pairs),
       |med AS (SELECT min(slope) AS sen_raw FROM ranked
       |  WHERE rk >= ((SELECT n_pairs FROM tallies) + 1) // 2),
       |ties AS (SELECT
       |  CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie18
       |  FROM (SELECT count(*) AS tc FROM d GROUP BY y)),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM d),
       |a AS (SELECT t.*, n.n_days, x.tie18, m.sen_raw
       |  FROM tallies t, nd n, ties x, med m),
       |v AS (SELECT *,
       |  CAST(CASE WHEN n_days > 1
       |    THEN n_days * (n_days - 1) * (2 * n_days + 5) - coalesce(tie18, 0)
       |    END AS BIGINT) AS var18
       |  FROM a),
       |z AS (SELECT *,
       |  ${theilZSql.replace("\n", "\n  ")} AS z_mk
       |  FROM v)
       |SELECT n_days, n_pairs, s_stat, var18,
       |  CASE WHEN n_pairs > 0 THEN sen_raw END AS sen_slope,
       |  z_mk,
       |  ${theilTrendSql.replace("\n", "\n  ")} AS trend
       |FROM z""".stripMargin

  /** Jarque–Bera normality test on order value — the distribution-shape
    * gate of the parametric panel: stats_welch_ttest and
    * stats_anova_segments assume roughly-normal residuals; this reports
    * whether the value distribution's skewness/kurtosis reject that
    * outright (and by how much), the "should I trust the t/F panel or
    * read the rank panel instead" answer. JB = n/6·(g₁² + g₂²/4) with
    * g₁ = m₃/m₂^{3/2}, g₂ = m₄/m₂² − 3.
    *
    * Exactness (the profile_correlations moment kit, one degree up —
    * and a quartic decimal product BLOWS the 38-digit width rule in
    * both engines with DIFFERENT loss behavior, §6 rule-7, so the
    * moments run on pure INTEGERS instead): x is the DOLLAR-truncated
    * order value (cents DIV 100 — identical truncation both engines; a
    * documented quantization of the measured variable, statistically
    * invisible at ~10⁵-dollar spreads), centered at the fixed domain
    * constant 150 000 (skewness/kurtosis are affine-invariant); the
    * four raw power sums are exact DECIMAL(38,0) integer sums (|x|⁴ ≤
    * 1.3e23/row — 38 digits hold to n ~ 10¹⁵); a CASE-over-n LADDER per
    * moment integer-divides each sum < 2^53 before its ONE double
    * conversion (divisors re-multiply inside the shared composition —
    * exact powers of 10); central moments compose from the raw sums via
    * the standard identities (m₂ = S₂/n − m², m₃ = S₃/n − 3m·S₂/n +
    * 2m³, m₄ = S₄/n − 4m·S₃/n + 6m²·S₂/n − 3m⁴) in div/mult/sqrt-only
    * IEEE — deterministic both engines; JB, g₁, g₂ present RAW
    * (§6 rule-10).
    * significant_95 compares JB to the χ²(2) 0.95 critical value 5.991,
    * GATED on n ≥ 2000 (the JB χ² approximation is notoriously
    * anti-conservative below that — documented convention; below the
    * gate the verdict is NULL). Degenerate inputs (n ≤ 1, zero
    * variance) emit NULL statistics.
    *
    * Scale shape: ONE orders scan → a 1-row exact aggregate; everything
    * after is driver-free 1-row math.
    */
  def statsJarqueBera(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.orders(spark, dir)
      .filter(col("o_totalprice").isNotNull)
      .select(expr(
        "CAST(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) DIV 100 - 150000 AS BIGINT)")
        .as("xd"))
    x.agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("xd")).cast("long").as("s1"),
        expr("CAST(sum(CAST(xd AS DECIMAL(38,0)) * xd) AS DECIMAL(38,0))")
          .as("s2"),
        expr("CAST(sum(CAST(xd AS DECIMAL(38,0)) * xd * xd) AS DECIMAL(38,0))")
          .as("s3"),
        expr("CAST(sum(CAST(xd AS DECIMAL(38,0)) * xd * xd * xd) AS DECIMAL(38,0))")
          .as("s4"))
      .withColumn("d2", expr(jbLadderSql("n_rows", 20000L, 1L)))
      .withColumn("d3", expr(jbLadderSql("n_rows", 30L, 1000L)))
      .withColumn("d4", expr(jbLadderSql("n_rows", 1L, 100000000L)))
      .withColumn("skewness", expr(jbSkewSql(sparkIntDiv)))
      .withColumn("kurtosis_excess", expr(jbKurtSql(sparkIntDiv)))
      .withColumn("jb_stat", expr(jbStatSql))
      .select(col("n_rows"), col("skewness"), col("kurtosis_excess"),
        col("jb_stat"), expr(jbSigSql).as("significant_95"))
  }

  // per-moment >2^53 ladders with |xd| ≤ 6e5 (dollar-truncated,
  // centered): Sk ≤ n·(6e5)^k, so each moment divides by a FIXED floor
  // mult ≈ (6e5)^k/2^53 (1 / 10³ / 10⁸ for k = 2/3/4) times a
  // CASE-over-n factor stepping ×100 per two decades past the moment's
  // base threshold — quotients stay under 2^53 at any n (ELSE branch
  // covers n to ~10¹⁰⁺, documented), relative truncation ≤ ~1e-11 on
  // typical moments, identical both engines (integer division
  // truncates toward zero in both).
  private def jbLadderSql(n: String, base: Long, mult: Long): String = {
    val steps = (0 to 4).map { k =>
      s"WHEN $n <= ${base * math.pow(100, k).toLong} THEN ${mult * math.pow(100, k).toLong}"
    }
    s"""CASE ${steps.head}
       |  ${steps.tail.mkString("\n  ")}
       |  ELSE ${mult * 10000000000L} END""".stripMargin
  }

  // shared double composition over the ladder-reduced exact integers:
  // rk = Sk/n as a double = (Sk DIV dk) · dk / n, central moments by
  // the standard raw→central identities
  private def jbCentralSql(intdiv: (String, String) => String,
      which: String): String = {
    def r(s: String, d: String) =
      s"(CAST(${intdiv(s, d)} AS DOUBLE) * CAST($d AS DOUBLE) / CAST(n_rows AS DOUBLE))"
    val m = r("s1", "d2")
    val r2 = r("s2", "d2")
    val r3 = r("s3", "d3")
    val r4 = r("s4", "d4")
    which match {
      case "m2" => s"($r2 - $m * $m)"
      case "m3" => s"($r3 - 3.0 * $m * $r2 + 2.0 * $m * $m * $m)"
      case "m4" =>
        s"($r4 - 4.0 * $m * $r3 + 6.0 * $m * $m * $r2 - 3.0 * $m * $m * $m * $m)"
    }
  }

  private def jbSkewSql(intdiv: (String, String) => String): String = {
    val m2 = jbCentralSql(intdiv, "m2")
    val m3 = jbCentralSql(intdiv, "m3")
    s"""CASE WHEN n_rows > 1 AND $m2 > 0
       |  THEN $m3 / ($m2 * sqrt($m2))
       |END""".stripMargin
  }
  private def jbKurtSql(intdiv: (String, String) => String): String = {
    val m2 = jbCentralSql(intdiv, "m2")
    val m4 = jbCentralSql(intdiv, "m4")
    s"""CASE WHEN n_rows > 1 AND $m2 > 0
       |  THEN $m4 / ($m2 * $m2) - 3.0
       |END""".stripMargin
  }
  private val jbStatSql =
    """CASE WHEN skewness IS NOT NULL AND kurtosis_excess IS NOT NULL
      |  THEN CAST(n_rows AS DOUBLE) / 6.0
      |    * (skewness * skewness
      |       + kurtosis_excess * kurtosis_excess / 4.0)
      |END""".stripMargin
  private val jbSigSql =
    """CASE WHEN jb_stat IS NULL OR n_rows < 2000 THEN NULL
      |  ELSE CAST(jb_stat AS DOUBLE) >= 5.991 END""".stripMargin

  val statsJarqueBeraSql: String =
    s"""WITH x AS (
       |  SELECT CAST(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
       |    AS BIGINT) // 100 - 150000 AS BIGINT) AS xd
       |  FROM orders WHERE o_totalprice IS NOT NULL),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(xd) AS BIGINT) AS s1,
       |    CAST(sum(CAST(xd AS HUGEINT) * xd) AS DECIMAL(38,0)) AS s2,
       |    CAST(sum(CAST(xd AS HUGEINT) * xd * xd) AS DECIMAL(38,0)) AS s3,
       |    CAST(sum(CAST(xd AS HUGEINT) * xd * xd * xd) AS DECIMAL(38,0))
       |      AS s4
       |  FROM x),
       |d AS (SELECT *,
       |  ${jbLadderSql("n_rows", 20000L, 1L).replace("\n", "\n  ")} AS d2,
       |  ${jbLadderSql("n_rows", 30L, 1000L).replace("\n", "\n  ")} AS d3,
       |  ${jbLadderSql("n_rows", 1L, 100000000L).replace("\n", "\n  ")} AS d4
       |  FROM s),
       |g AS (SELECT *,
       |  ${jbSkewSql(duckIntDiv).replace("\n", "\n  ")} AS skewness,
       |  ${jbKurtSql(duckIntDiv).replace("\n", "\n  ")} AS kurtosis_excess
       |  FROM d),
       |j AS (SELECT *,
       |  ${jbStatSql.replace("\n", "\n  ")} AS jb_stat
       |  FROM g)
       |SELECT n_rows, skewness, kurtosis_excess, jb_stat,
       |  ${jbSigSql.replace("\n", "\n  ")} AS significant_95
       |FROM j""".stripMargin

  /** Wald–Wolfowitz runs test on the daily event-value mean — the
    * RANDOMNESS check of the bounded-series panel ("is the day-to-day
    * path a coin flip around its median, or does it streak/alternate"):
    * stats_theil_sen asks for a monotone trend, quality_cusum_drift for
    * a sustained level shift; this asks the weaker-but-broader question
    * whose rejection flags EITHER clustering (too few runs — regimes,
    * drift) or over-alternation (too many — negative autocorrelation,
    * e.g. a batch/backfill see-saw).
    *
    * Exactness: the series is the quality_cusum_drift daily aggregate
    * (mu6 = cents·10⁴ DIV n exact integer µ-units); the split point is
    * the nearest-rank MEDIAN of the daily mu6 values (the house integer
    * rank device — never an interpolated percentile); days EQUAL to the
    * median are excluded (the standard dichotomization, documented —
    * both engines exclude identically since mu6 is an exact integer).
    * n_above/n_below and the run count R are exact BIGINTs (R = 1 + Σ
    * sign-changes over the day-ordered LAG — the horizon-bounded window
    * class, day_num grain); z = (R − μ_R)/σ_R with μ_R = 2n₁n₂/N + 1,
    * σ_R² = 2n₁n₂(2n₁n₂−N)/(N²(N−1)) presents as the RAW double of ONE
    * identical composition (§6 rule-10); significant_95 gated on
    * min(n₁,n₂) ≥ 10 (the normal-approximation convention). Degenerate
    * inputs (empty series, all days tied at the median → N = 0, or a
    * one-sided split → σ undefined) emit NULL z and NULL verdict.
    *
    * Scale shape: the data-sized work is ONE day-keyed exact aggregate;
    * the median rank and the LAG window run over the horizon-BOUNDED
    * daily series (the cusum boundedness argument).
    */
  def statsRunsTest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(expr("unix_micros(date_trunc('DAY', ts)) DIV 86400000000")
        .as("day_num"), col("value"))
      .groupBy(col("day_num"))
      .agg(count(lit(1)).as("n_d"),
        expr("CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS DECIMAL(38,0))")
          .as("cents_d"))
      .select(col("day_num"),
        expr("CAST(cents_d * 10000 DIV n_d AS BIGINT)").as("mu6"))
    val vals = daily.groupBy(col("mu6")).agg(count(lit(1)).as("c"))
    val cum = GlobalRank.withGlobalCumsum(vals, "c", "cum", col("mu6"))
    val nTot = cum.agg(sum(col("c")).cast("long").as("n_days"))
      .localCheckpoint()
    val med = cum.crossJoin(broadcast(nTot))
      .filter(expr("cum >= (n_days + 1) DIV 2"))
      .agg(min(col("mu6")).as("med_mu6")).localCheckpoint()
    val signed = daily.crossJoin(broadcast(med))
      .filter(col("mu6") =!= col("med_mu6"))
      .select(col("day_num"),
        when(col("mu6") > col("med_mu6"), 1L).otherwise(-1L).as("sgn"))
    val w = Window.orderBy(col("day_num"))
    val runs = signed
      .withColumn("prev", lag(col("sgn"), 1).over(w))
      .agg(
        sum(when(col("sgn") === 1L, 1L).otherwise(0L)).cast("long")
          .as("n_above"),
        sum(when(col("sgn") === -1L, 1L).otherwise(0L)).cast("long")
          .as("n_below"),
        expr("CAST(sum(CASE WHEN prev IS NULL OR sgn != prev THEN 1 ELSE 0 END) AS BIGINT)")
          .as("n_runs"))
    runs.crossJoin(broadcast(med)).crossJoin(broadcast(nTot))
      .select(col("n_days"), col("med_mu6"),
        expr("coalesce(n_above, 0)").as("n_above"),
        expr("coalesce(n_below, 0)").as("n_below"),
        expr("coalesce(n_runs, 0)").as("n_runs"))
      .withColumn("z_runs", expr(runsZSql))
      .withColumn("significant_95", expr(runsSigSql))
  }

  // z over the exact (n1, n2, R): μ = 2n1n2/N + 1, σ² = 2n1n2(2n1n2−N)
  // / (N²(N−1)) — div/mult/sqrt only, ONE identical composition, raw
  private val runsZSql =
    """CASE WHEN n_above > 0 AND n_below > 0 AND n_above + n_below > 1
      |    AND (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
      |         * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
      |            - CAST(n_above + n_below AS DOUBLE))) > 0
      |  THEN (CAST(n_runs AS DOUBLE)
      |      - (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
      |         / CAST(n_above + n_below AS DOUBLE) + 1.0))
      |    / sqrt(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
      |        * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
      |           - CAST(n_above + n_below AS DOUBLE))
      |        / (CAST(n_above + n_below AS DOUBLE)
      |           * CAST(n_above + n_below AS DOUBLE)
      |           * (CAST(n_above + n_below AS DOUBLE) - 1.0)))
      |END""".stripMargin
  private val runsSigSql =
    """CASE WHEN z_runs IS NULL OR least(n_above, n_below) < 10 THEN NULL
      |  ELSE abs(CAST(z_runs AS DOUBLE)) >= 1.96 END""".stripMargin

  val statsRunsTestSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    CAST(CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS HUGEINT)
       |      * 10000 // count(*) AS BIGINT) AS mu6
       |  FROM events WHERE value IS NOT NULL GROUP BY 1),
       |vals AS (SELECT mu6, count(*) AS c FROM daily GROUP BY 1),
       |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_days FROM vals),
       |cum AS (SELECT mu6, c,
       |  sum(c) OVER (ORDER BY mu6
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM vals),
       |med AS (SELECT min(mu6) AS med_mu6 FROM cum
       |  WHERE cum >= ((SELECT n_days FROM nt) + 1) // 2),
       |signed AS (SELECT day_num,
       |  CASE WHEN mu6 > (SELECT med_mu6 FROM med) THEN 1 ELSE -1 END AS sgn
       |  FROM daily WHERE mu6 != (SELECT med_mu6 FROM med)),
       |lagged AS (SELECT sgn,
       |  lag(sgn) OVER (ORDER BY day_num) AS prev
       |  FROM signed),
       |r AS (SELECT
       |  CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
       |  CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       |  CAST(sum(CASE WHEN prev IS NULL OR sgn != prev THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_runs
       |  FROM lagged),
       |z AS (SELECT nt.n_days, med.med_mu6,
       |  coalesce(r.n_above, 0) AS n_above,
       |  coalesce(r.n_below, 0) AS n_below,
       |  coalesce(r.n_runs, 0) AS n_runs
       |  FROM r, med, nt),
       |f AS (SELECT *,
       |  ${runsZSql.replace("\n", "\n  ")} AS z_runs
       |  FROM z)
       |SELECT n_days, med_mu6, n_above, n_below, n_runs, z_runs,
       |  ${runsSigSql.replace("\n", "\n  ")} AS significant_95
       |FROM f""".stripMargin

  /** Driver-environment cast canary (r12 VERDICT #2) — a BOUNDED literal
    * grid exercising each presentation device the gated queries rely on,
    * so a cross-build divergence pinpoints WHICH device the driver's
    * engines disagree on instead of costing a round per theory:
    *
    *   - `as_double`  — string→double parse (correctly rounded, both)
    *   - `dec9_spark` / `dec9_duck` — the §6 rule-8 double→DECIMAL(18,9)
    *                    cast, fingerprinted PER ENGINE: Spark rounds the
    *                    double's SHORTEST decimal repr HALF_UP; DuckDB
    *                    rounds the full binary expansion — they disagree
    *                    on grid rows 3 ("1.0000000005" → 1.000000001 vs
    *                    1.000000000) and 8 ("987654321.123456789" →
    *                    …6800 vs …6896) in THIS container already, which
    *                    is why a naive computed-vs-computed dec9 column
    *                    can never gate green and why r13 removed the
    *                    device from every gated output. Here each side
    *                    COMPUTES its own cast and is compared against
    *                    the OTHER side's recorded expectation (the
    *                    spark9/duck9 grid constants): dec9_spark is
    *                    computed by Spark and presented as a literal by
    *                    the oracle; dec9_duck vice-versa. Green locally
    *                    by construction; a red cell in the driver env
    *                    names WHICH engine's rounding build moved.
    *   - `floor_ppb`  — the rule-9 floor-scaled BIGINT device (floor of
    *                    an identical IEEE double after an identical
    *                    multiply — build-independent by design)
    *   - `intdiv_wide`— wide-decimal integer division (Spark DIV over
    *                    DECIMAL(38,0) vs DuckDB HUGEINT `//`)
    *   - `comp_raw`   — a raw-double sqrt/div composition (the
    *                    funnel_ztest device — correctly-rounded IEEE,
    *                    expected bit-identical everywhere)
    *
    * Reads NO table (the literal grid is the fixture — `dir` unused);
    * costs nothing at any SF. A red canary row in CORRECTNESS is the
    * diagnostic, not a defect: its per-column diff names the device.
    *
    * r14 (VERDICT r13 #1): the combined grid is DEMOTED to test-only —
    * CORRECTNESS carries one hash bit per KEY, so a red on the 12×8
    * grid named nothing. The gate now carries six single-device
    * projections of the same grid (canary_parse / canary_floor /
    * canary_intdiv / canary_comp are build-independent — a red one is
    * a REAL defect; canary_dec9_spark / canary_dec9_duck are
    * expectation-pinned — whichever reads red names the engine whose
    * build moved). The red SET is the diagnosis, readable straight off
    * the CORRECTNESS key list. Round14Spec identity-tests this combined
    * view against the six projections.
    */
  def statsCastCanary(spark: SparkSession, dir: String): DataFrame = {
    val df = spark.createDataFrame(canaryGrid)
      .toDF("id", "src", "spark9", "duck9")
    df.select(col("id"), col("src"),
        expr("CAST(src AS DOUBLE)").as("as_double"),
        expr("CAST(CAST(src AS DOUBLE) AS DECIMAL(18,9))").as("dec9_spark"),
        expr("CAST(duck9 AS DECIMAL(18,9))").as("dec9_duck"),
        expr("CAST(floor(CAST(src AS DOUBLE) * 1000000000.0) AS BIGINT)")
          .as("floor_ppb"),
        expr("CAST(CAST(id AS DECIMAL(38,0)) * 1000000007 DIV 97 AS BIGINT)")
          .as("intdiv_wide"),
        expr("sqrt(abs(CAST(src AS DOUBLE))) / (1.0 + abs(CAST(src AS DOUBLE)))")
          .as("comp_raw"))
      .orderBy(col("id"))
  }

  /** The canary grid — (id, src, spark-expected dec9, duck-expected
    * dec9): tie-boundary magnitudes for the dec9 device (a 10th decimal
    * digit of 5 in the shortest repr — the HALF_UP-vs-binary
    * discriminator), a HALF_EVEN discriminator (2.5e-9), signed values
    * (HALF_UP rounds away from zero; floor goes toward −∞), a
    * 2^20+2^-30 exact-binary row, and exact/no-rounding controls. The
    * expectation constants were recorded from Spark 4.1.2 and the
    * container's DuckDB on 2026-08-16; rows 3 and 8 are the live
    * engine-disagreement exhibits.
    */
  private val canaryGrid: Seq[(Long, String, String, String)] = Seq(
    (1L, "0.1234567895", "0.123456790", "0.123456790"),
    (2L, "3.9999999995", "4.000000000", "4.000000000"),
    (3L, "1.0000000005", "1.000000001", "1.000000000"),
    (4L, "0.0000000025", "0.000000003", "0.000000003"),
    (5L, "-0.1234567895", "-0.123456790", "-0.123456790"),
    (6L, "123.456789012345", "123.456789012", "123.456789012"),
    (7L, "0.1", "0.100000000", "0.100000000"),
    (8L, "987654321.123456789", "987654321.123456800",
      "987654321.123456896"),
    (9L, "7.25", "7.250000000", "7.250000000"),
    (10L, "0.3333333333333333", "0.333333333", "0.333333333"),
    (11L, "1048576.000000000931322574615478515625", "1048576.000000001",
      "1048576.000000001"),
    (12L, "-3.9999999995", "-4.000000000", "-4.000000000"))

  private val canaryValuesSql: String = canaryGrid.map {
    case (i, s, sp, du) => s"($i, '$s', '$sp', '$du')" }.mkString(",\n    ")

  private def canaryBase(spark: SparkSession): DataFrame =
    spark.createDataFrame(canaryGrid).toDF("id", "src", "spark9", "duck9")

  private def canaryDeviceSql(selectList: String): String =
    s"""SELECT CAST(id AS BIGINT) AS id, $selectList
       |FROM (VALUES
       |    $canaryValuesSql) t(id, src, spark9, duck9)
       |ORDER BY id""".stripMargin

  /** Single-device canary projections (r14, VERDICT r13 #1) — each a
    * gated key over the SAME literal grid so the driver's red set names
    * the device. The first four are build-independent (IEEE-correctly-
    * rounded parse / multiply+floor / exact wide-integer division / a
    * raw sqrt-div composition): a red on any of them in ANY environment
    * is a real engine defect, not build skew. Costs nothing at any SF
    * (12 literal rows, no table read — `dir` unused).
    */
  def canaryParse(spark: SparkSession, dir: String): DataFrame =
    canaryBase(spark).select(col("id"), col("src"),
      expr("CAST(src AS DOUBLE)").as("as_double")).orderBy(col("id"))

  val canaryParseSql: String =
    canaryDeviceSql("src,\n  CAST(src AS DOUBLE) AS as_double")

  def canaryFloor(spark: SparkSession, dir: String): DataFrame =
    canaryBase(spark).select(col("id"),
      expr("CAST(floor(CAST(src AS DOUBLE) * 1000000000.0) AS BIGINT)")
        .as("floor_ppb")).orderBy(col("id"))

  val canaryFloorSql: String = canaryDeviceSql(
    "CAST(floor(CAST(src AS DOUBLE) * 1000000000.0) AS BIGINT)\n    AS floor_ppb")

  def canaryIntdiv(spark: SparkSession, dir: String): DataFrame =
    canaryBase(spark).select(col("id"),
      expr("CAST(CAST(id AS DECIMAL(38,0)) * 1000000007 DIV 97 AS BIGINT)")
        .as("intdiv_wide")).orderBy(col("id"))

  val canaryIntdivSql: String = canaryDeviceSql(
    "CAST(CAST(id AS HUGEINT) * 1000000007 // 97 AS BIGINT)\n    AS intdiv_wide")

  def canaryComp(spark: SparkSession, dir: String): DataFrame =
    canaryBase(spark).select(col("id"),
      expr("sqrt(abs(CAST(src AS DOUBLE))) / (1.0 + abs(CAST(src AS DOUBLE)))")
        .as("comp_raw")).orderBy(col("id"))

  val canaryCompSql: String = canaryDeviceSql(
    "sqrt(abs(CAST(src AS DOUBLE))) / (1.0 + abs(CAST(src AS DOUBLE)))\n    AS comp_raw")

  /** Expectation-pinned dec9 fingerprints: canary_dec9_spark COMPUTES
    * the double→DECIMAL(18,9) cast in Spark and the oracle presents the
    * recorded Spark-4.1.2 constant — a red means the DRIVER'S SPARK
    * build rounds the cast differently than the build container.
    * canary_dec9_duck is the mirror: Spark presents the recorded DuckDB
    * constant, the oracle computes its own cast — a red names the
    * driver's DUCKDB build. Green locally by construction (constants
    * recorded 2026-08-16 in this container); at most these two keys may
    * read red in a skewed driver env, and which one is, is the
    * diagnosis.
    */
  def canaryDec9Spark(spark: SparkSession, dir: String): DataFrame =
    canaryBase(spark).select(col("id"),
      expr("CAST(CAST(src AS DOUBLE) AS DECIMAL(18,9))").as("dec9_spark"))
      .orderBy(col("id"))

  val canaryDec9SparkSql: String =
    canaryDeviceSql("CAST(spark9 AS DECIMAL(18,9)) AS dec9_spark")

  def canaryDec9Duck(spark: SparkSession, dir: String): DataFrame =
    canaryBase(spark).select(col("id"),
      expr("CAST(duck9 AS DECIMAL(18,9))").as("dec9_duck"))
      .orderBy(col("id"))

  val canaryDec9DuckSql: String = canaryDeviceSql(
    "CAST(CAST(src AS DOUBLE) AS DECIMAL(18,9)) AS dec9_duck")

  val statsCastCanarySql: String = {
    val rows = canaryValuesSql
    s"""SELECT CAST(id AS BIGINT) AS id, src,
       |  CAST(src AS DOUBLE) AS as_double,
       |  CAST(spark9 AS DECIMAL(18,9)) AS dec9_spark,
       |  CAST(CAST(src AS DOUBLE) AS DECIMAL(18,9)) AS dec9_duck,
       |  CAST(floor(CAST(src AS DOUBLE) * 1000000000.0) AS BIGINT)
       |    AS floor_ppb,
       |  CAST(CAST(id AS HUGEINT) * 1000000007 // 97 AS BIGINT)
       |    AS intdiv_wide,
       |  sqrt(abs(CAST(src AS DOUBLE))) / (1.0 + abs(CAST(src AS DOUBLE)))
       |    AS comp_raw
       |FROM (VALUES
       |    $rows) t(id, src, spark9, duck9)
       |ORDER BY id""".stripMargin
  }

  val statsKruskalWallisSql: String =
    s"""WITH x AS (
       |  SELECT c.c_mktsegment AS seg, o.o_totalprice AS v
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  WHERE o.o_totalprice IS NOT NULL),
       |vals AS (SELECT v, count(*) AS c FROM x GROUP BY 1),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_all FROM vals),
       |rt AS (SELECT v, c,
       |  CAST(2 * sum(c) OVER (ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    - c - (SELECT n_all FROM tot) AS HUGEINT) AS u
       |  FROM vals),
       |sst AS (SELECT
       |  CAST(sum(CAST(c AS HUGEINT) * u * u) AS DECIMAL(38,0)) AS t4_0,
       |  (SELECT n_all FROM tot) AS n_total
       |  FROM rt),
       |g AS (SELECT seg, CAST(sum(c_gv) AS BIGINT) AS n_g,
       |  CAST(sum(CAST(c_gv AS HUGEINT) * u) AS DECIMAL(38,0)) AS w_g
       |  FROM (SELECT seg, v, count(*) AS c_gv FROM x GROUP BY 1, 2) gv
       |  JOIN rt USING (v) GROUP BY 1),
       |terms AS (SELECT g.*, sst.n_total, sst.t4_0,
       |  ${ladder2Sql("sst.n_total").replace("\n", "\n  ")} AS ddw
       |  FROM g, sst),
       |tq AS (SELECT *, ${kwTermSql(duckIntDiv)} AS tq_g FROM terms),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
       |  max(n_total) AS n_total,
       |  CAST(sum(tq_g) AS BIGINT) AS a4_0,
       |  max(ddw) AS ddw, max(t4_0) AS t4_0 FROM tq),
       |h0 AS (SELECT *,
       |  ${ladder3Sql("n_total").replace("\n", "\n  ")} AS dd3 FROM a),
       |h1 AS (SELECT *,
       |  ${kwHSql(duckIntDiv).replace("\n", "\n  ")} AS h_stat FROM h0)
       |SELECT k_groups, n_total,
       |  CAST(k_groups - 1 AS BIGINT) AS dof,
       |  h_stat,
       |  ${kwEpsSql.replace("\n", "\n  ")} AS epsilon_sq,
       |  ${kwSigSql.replace("\n", "\n  ")} AS significant_95
       |FROM h1""".stripMargin
}
