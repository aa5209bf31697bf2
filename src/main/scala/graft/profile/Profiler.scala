package graft.profile

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.Tables

/** Schema/catalog profiling — the Spark-side equivalent of the reference's
  * schema collection (dbsurveyor-core/src/models.rs:65-460: tables, columns,
  * row counts). Parquet already carries the typed schema, so profiling is
  * about the data: row counts, per-column null/distinct/min/max.
  *
  * Scale notes: `profileTable` is a single wide aggregation (one scan);
  * exact per-column distincts expand the aggregate — at cluster scale swap
  * `countDistinct` for `approx_count_distinct` (same plan shape, sketch
  * merge instead of expand). Catalog profiling is one tiny agg per table —
  * embarrassingly parallel.
  */
object Profiler {

  /** Per-table row count + column count over the whole catalog. */
  def profileCatalog(spark: SparkSession, dir: String): DataFrame = {
    Tables.all.map { name =>
      val df = Tables.table(spark, dir, name)
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(name).as("table_name"), col("n_rows"),
          lit(df.schema.length).cast("long").as("n_cols"))
    }.reduce(_ unionByName _).orderBy(col("table_name"))
  }

  val catalogSql: String = {
    // column counts mirror the parquet schemas (static per the data model)
    val nCols = Map("region" -> 2, "nation" -> 3, "customer" -> 5,
      "supplier" -> 4, "part" -> 6, "orders" -> 6, "lineitem" -> 11,
      "events" -> 6, "documents" -> 5, "embeddings" -> 3)
    Tables.all.map { t =>
      s"SELECT '$t' AS table_name, count(*) AS n_rows, CAST(${nCols(t)} AS BIGINT) AS n_cols FROM $t"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
  }

  /** Per-column profile of a DataFrame: non-null count, exact distinct
    * count, min/max rendered as strings.
    *
    * Shape: one aggregation branch PER COLUMN, unioned. N simultaneous
    * `countDistinct`s in a single agg would plan an Expand that multiplies
    * every input row N+1 times (measured 67 s vs 3 s at sf0.1); per-column
    * branches instead let parquet column pruning feed each branch exactly
    * one column, so total I/O equals one full-table scan and each branch
    * is a cheap independent hash-agg — they run concurrently.
    */
  def profileTable(df: DataFrame): DataFrame = {
    df.schema.fields.map { f =>
      df.select(col(f.name)).agg(
        count(col(f.name)).as("n_nonnull"),
        countDistinct(col(f.name)).as("n_distinct"),
        min(col(f.name)).cast(StringType).as("min_str"),
        max(col(f.name)).cast(StringType).as("max_str"))
        .select(lit(f.name).as("column_name"), col("n_nonnull"),
          col("n_distinct"), col("min_str"), col("max_str"))
    }.reduce(_ unionByName _).orderBy(col("column_name"))
  }

  def profileLineitem(spark: SparkSession, dir: String): DataFrame =
    profileTable(Tables.lineitem(spark, dir))

  /** Sketch-based profile — the 100 TB swap-in for `profileTable`:
    * `approx_count_distinct` (HLL++) sketches merge in ONE aggregation
    * pass with no Expand and no per-column branches, and
    * `percentile_approx` (KLL-ish) replaces the exact sort. Sketches are
    * not bit-reproducible across engines, so this entry has no DuckDB
    * oracle (driver records the weaker rows-check); accuracy is asserted
    * in ProfilerSpec against the exact profile.
    */
  def profileTableApprox(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, NumericType}
    val fields = df.schema.fields
    val aggs = fields.flatMap { f =>
      Seq(count(col(f.name)).as(s"nn_${f.name}"),
        approx_count_distinct(col(f.name), 0.02).as(s"nd_${f.name}"),
        (f.dataType match {
          case _: NumericType =>
            percentile_approx(col(f.name).cast(DoubleType), lit(0.5), lit(250))
          case _ => lit(null).cast(DoubleType)
        }).as(s"p50_${f.name}"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val structs = fields.map { f =>
      struct(lit(f.name).as("column_name"),
        col(s"nn_${f.name}").as("n_nonnull"),
        col(s"nd_${f.name}").as("approx_distinct"),
        col(s"p50_${f.name}").as("approx_p50"))
    }
    one.select(inline(array(structs: _*))).orderBy(col("column_name"))
  }

  def profileLineitemApprox(spark: SparkSession, dir: String): DataFrame =
    profileTableApprox(
      Tables.fanOut(Tables.lineitem(spark, dir), col("l_orderkey")))

  val lineitemProfileSql: String = {
    val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
    cols.map { c =>
      s"""SELECT '$c' AS column_name, count($c) AS n_nonnull,
         |count(DISTINCT $c) AS n_distinct,
         |CAST(min($c) AS VARCHAR) AS min_str,
         |CAST(max($c) AS VARCHAR) AS max_str FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** Pairwise Pearson correlation matrix over lineitem's numeric columns
    * — the profiling surface's relationship detector (flags derived /
    * redundant columns a schema survey can't see; the reference's
    * profiling stops at per-column stats, this is the cross-column
    * extension).
    *
    * Exactness contract: never a double sum (order-dependent at any
    * partition count). All 21 sums (5 Σx, 5 Σx², 10 Σxy, n) are EXACT
    * decimal aggregates in ONE aggregation over one scan — plain sums,
    * no countDistinct, so no Expand (PLANS.md risk #1), unpivoted by
    * exploding a 10-element struct array on the ONE aggregated row.
    *
    * r12 seam fix (caught by the sf1 sweep, the Welch Σx² class):
    * raw-moment money sums cross 2^53 UNSCALED at one decade up
    * (Σ price² ≈ 6·10¹⁶ at sf1), and decimal→double conversion above
    * 2^53 rounds differently per engine — profile_correlations was the
    * one remaining op converting such sums raw (measured: an 11th-digit
    * corr_r divergence at sf1). Fix = the composed house devices,
    * exploiting Pearson's invariance under positive affine maps:
    * (1) each column is SHIFTED and SCALED by fixed domain constants
    * ([[corrXk]]) so sums sit at spread scale (Σx² ~ n·var, not
    * n·E[x²]); (2) each exact decimal sum floors ×10⁴ to an exact
    * integer (the Welch device — floor is toward −∞ in BOTH engines, so
    * negative shifted sums stay identical); (3) a CASE-over-n LADDER
    * (the stats_spearman device) integer-divides the moments below 2^53
    * at ANY n, with the divisor re-multiplied inside the one shared
    * double composition; (4) corr_r presents as the RAW double of that
    * composition — the r13 reversal of the r12 DECIMAL(18,9)
    * quantization, which was itself the cross-build hash seam (this op
    * is the controlled A/B: driver-green in r11 presenting the raw
    * double, driver-red in r12 after the quantization; see the
    * statsMannWhitney scaladoc and stats_cast_canary).
    */
  val corrCols: Seq[String] = Seq("l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_linenumber")

  /** Fixed affine normalization per column: thousands-scale the money
    * column, shift every column near its domain center. Constants are
    * FIXED (never data-derived — a data-derived center would itself be a
    * cross-engine seam); any positive-scale affine map leaves Pearson r
    * unchanged, the constants only tame magnitudes.
    */
  private val corrXk: Seq[(String, String)] = Seq(
    ("l_quantity",
      "CAST(CAST(l_quantity AS DECIMAL(14,2)) - 25 AS DECIMAL(18,5))"),
    ("l_extendedprice",
      "CAST(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) / 1000 AS DECIMAL(18,5)) - 50 AS DECIMAL(18,5))"),
    ("l_discount",
      "CAST(CAST(l_discount AS DECIMAL(14,2)) - 0.05 AS DECIMAL(18,5))"),
    ("l_tax",
      "CAST(CAST(l_tax AS DECIMAL(14,2)) - 0.04 AS DECIMAL(18,5))"),
    ("l_linenumber",
      "CAST(CAST(l_linenumber AS DECIMAL(14,2)) - 4 AS DECIMAL(18,5))"))

  // shifted-moment magnitudes are n·var ~ n·10³·10⁴(floor scale): < 2^53
  // to n ≈ 5·10⁸ undivided; each decade beyond divides by another 10²
  private def corrLadderSql(n: String): String =
    s"""CASE WHEN $n <= 500000000 THEN 1
       |  WHEN $n <= 50000000000 THEN 100
       |  WHEN $n <= 5000000000000 THEN 10000
       |  ELSE 1000000 END""".stripMargin

  /** r over the ladder-reduced integer moments. With A = floor(S·10⁴)
    * DIV dd for each moment and dq = dd/10⁴, every term of
    * (n·Sxy − SxSy)/sqrt((n·Sxx − Sx²)(n·Syy − Sy²)) carries one factor
    * 10⁴/dd, which cancels between numerator and the sqrt — so the
    * composition below equals Pearson's r on the exact sums up to the
    * ~1e-12 relative floor/ladder truncation, identically in both
    * engines (the divisions are exact integer ops; everything double is
    * deterministic IEEE arithmetic on < 2^53 inputs).
    */
  private def corrRSql(intdiv: (String, String) => String)(
      i: Int, j: Int): String = {
    def d(x: String) = s"CAST(${intdiv(x, "dd")} AS DOUBLE)"
    val dq = "(CAST(dd AS DOUBLE) / 10000.0)"
    val nD = "CAST(n AS DOUBLE)"
    def den(k: Int) =
      s"($nD * ${d(s"s_${k}_$k")} - ${d(s"b_$k")} * ${d(s"b_$k")} * $dq)"
    s"""CASE WHEN ${den(i)} > 0 AND ${den(j)} > 0
       |  THEN ($nD * ${d(s"s_${i}_$j")} - ${d(s"b_$i")} * ${d(s"b_$j")} * $dq)
       |    / sqrt(${den(i)} * ${den(j)})
       |END""".stripMargin
  }

  private val corrIntDivSpark: (String, String) => String =
    (a, b) => s"($a DIV $b)"
  private val corrIntDivDuck: (String, String) => String =
    (a, b) => s"(CAST($a AS HUGEINT) // $b)"

  /** Temporal freshness profile of the time-bearing tables — the
    * "is this source still flowing, and how fast" survey row (staleness
    * and arrival-rate are the first questions against an unfamiliar
    * warehouse; the reference's per-table metadata stops at row counts).
    * One tiny agg per table; bounds in epoch MICROseconds (events.ts is
    * parquet ns — both engines truncate to µs, the TESTDATA contract);
    * span and rows/day via BIGINT integer division, integer-exact.
    */
  def profileFreshness(spark: SparkSession, dir: String): DataFrame = {
    val specs = Seq(("events", "ts"), ("lineitem", "l_shipdate"),
      ("orders", "o_orderdate"))
    specs.map { case (t, c) =>
      Tables.table(spark, dir, t)
        .agg(count(lit(1)).as("n_rows"),
          // lineitem/orders parquet ts is NTZ; the session is pinned UTC,
          // so the cast to instant-typed TIMESTAMP is the identity
          unix_micros(min(col(c)).cast("timestamp")).as("min_us"),
          unix_micros(max(col(c)).cast("timestamp")).as("max_us"))
        .select(lit(t).as("table_name"), lit(c).as("time_column"),
          col("n_rows"), col("min_us"), col("max_us"),
          expr("CAST((max_us - min_us) DIV 86400000000 AS BIGINT)").as("span_days"),
          expr("""CAST(CASE WHEN max_us > min_us
                 |  THEN n_rows * 86400000000 DIV (max_us - min_us)
                 |  ELSE NULL END AS BIGINT)""".stripMargin).as("rows_per_day"))
    }.reduce(_ unionByName _).orderBy(col("table_name"))
  }

  /** Shannon entropy of the categorical columns — the information
    * density a schema survey uses to separate enum-like columns (low
    * entropy), identifier-like columns (entropy ≈ log n) and candidate
    * redaction targets; per column: distinct values, entropy in nats,
    * and the normalized ratio against the log(distinct) maximum.
    *
    * Shape: one value-distribution agg per column (each scan pruned to
    * one column), then the entropy term sum runs over the
    * |distinct values| aggregate. Determinism: the psi contract — ln
    * of exact integer-ratio doubles, each term quantized to
    * DECIMAL(18,9) so the term SUM is exact and order-independent;
    * single-valued columns emit entropy 0 exactly.
    */
  val entropyCols: Seq[(String, String)] = Seq(
    ("lineitem", "l_returnflag"), ("lineitem", "l_linestatus"),
    ("orders", "o_orderstatus"), ("orders", "o_orderpriority"),
    ("events", "event_type"), ("documents", "lang"),
    ("documents", "source"))

  def profileEntropy(spark: SparkSession, dir: String): DataFrame = {
    entropyCols.map { case (t, c) =>
      Tables.table(spark, dir, t)
        .groupBy(col(c).as("v")).agg(count(lit(1)).as("n"))
        // term computed over the |distinct|-row aggregate, THEN summed
        // (a window can't nest inside an aggregate)
        .select(col("n"), expr(
          """CAST(-(CAST(n AS DOUBLE) / sum(n) OVER ()) *
            |  ln(CAST(n AS DOUBLE) / sum(n) OVER ()) AS DECIMAL(18,9))""".stripMargin)
          .as("term"))
        .agg(count(lit(1)).as("n_distinct"), sum(col("n")).as("n_rows"),
          sum(col("term")).as("ent_d"))
        .select(lit(t).as("table_name"), lit(c).as("column_name"),
          col("n_distinct"), col("n_rows"),
          col("ent_d").cast("double").as("entropy_nats"))
    }.reduce(_ unionByName _)
      .withColumn("entropy_ratio",
        expr("""CASE WHEN n_distinct <= 1 THEN CAST(0 AS DOUBLE)
               |  ELSE CAST(CAST(entropy_nats / ln(CAST(n_distinct AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE) END""".stripMargin))
      .orderBy(col("table_name"), col("column_name"))
  }

  val profileEntropySql: String =
    entropyCols.map { case (t, c) =>
      s"""SELECT '$t' AS table_name, '$c' AS column_name,
         |  count(*) AS n_distinct, CAST(sum(n) AS BIGINT) AS n_rows,
         |  CAST(sum(term) AS DOUBLE) AS entropy_nats,
         |  CASE WHEN count(*) <= 1 THEN CAST(0 AS DOUBLE)
         |    ELSE CAST(CAST(CAST(sum(term) AS DOUBLE) / ln(CAST(count(*) AS DOUBLE)) AS DECIMAL(18,9)) AS DOUBLE) END AS entropy_ratio
         |FROM (
         |  SELECT n,
         |    CAST(-(CAST(n AS DOUBLE) / sum(n) OVER ()) *
         |      ln(CAST(n AS DOUBLE) / sum(n) OVER ()) AS DECIMAL(18,9)) AS term
         |  FROM (SELECT $c AS v, count(*) AS n FROM $t GROUP BY 1))""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name, column_name")

  val profileFreshnessSql: String =
    Seq(("events", "ts"), ("lineitem", "l_shipdate"), ("orders", "o_orderdate"))
      .map { case (t, c) =>
        s"""SELECT '$t' AS table_name, '$c' AS time_column,
           |  count(*) AS n_rows,
           |  epoch_us(min($c)) AS min_us, epoch_us(max($c)) AS max_us,
           |  CAST((epoch_us(max($c)) - epoch_us(min($c))) // 86400000000 AS BIGINT) AS span_days,
           |  CAST(CASE WHEN epoch_us(max($c)) > epoch_us(min($c))
           |    THEN (count(*) * 86400000000) // (epoch_us(max($c)) - epoch_us(min($c)))
           |    ELSE NULL END AS BIGINT) AS rows_per_day
           |FROM $t""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")

  // -------------------------------------------------------- ingestion gaps
  //
  // Calendar-hole detection — profileFreshness's sibling (that one asks
  // "is the source still flowing", this asks "did it EVER stop"): per
  // time-bearing table, the days actually present inside the observed
  // span, the missing-day count, and the gap-RUN structure (how many
  // maximal missing runs, and the longest) — a 1-day blip and a 3-week
  // outage with the same missing total are very different incidents.
  // Gaps-and-islands over DISTINCT DAYS: the window input is days-sized
  // (bounded by the calendar, not the data), partitioned by table.
  //
  // Scale shape: one distinct-day dedup per table (map-side partial),
  // then windows over calendar-bounded rows. Day keys as unix-micros
  // BIGINT; every derived count is exact integer division.

  private val gapSpecs = Seq(("events", "ts"), ("lineitem", "l_shipdate"),
    ("orders", "o_orderdate"))

  def qualityIngestionGaps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayUs = 86400000000L
    val days = gapSpecs.map { case (t, c) =>
      Tables.table(spark, dir, t)
        .select(unix_micros(date_trunc("day", col(c))).as("day_us")).distinct()
        .select(lit(t).as("table_name"), col("day_us"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("table_name")).orderBy(col("day_us"))
    days
      .withColumn("next_us", lead(col("day_us"), 1).over(w))
      .withColumn("gap_days", expr(
        s"CASE WHEN next_us IS NULL THEN CAST(0 AS BIGINT) " +
          s"ELSE (next_us - day_us) div $dayUs - 1 END"))
      .groupBy(col("table_name"))
      .agg(min(col("day_us")).as("min_day_us"), max(col("day_us")).as("max_day_us"),
        count(lit(1)).as("n_days_present"),
        sum(when(col("gap_days") > 0, 1L).otherwise(0L)).as("n_gaps"),
        max(col("gap_days")).as("longest_gap_days"))
      .withColumn("n_days_expected",
        expr(s"(max_day_us - min_day_us) div $dayUs + 1"))
      .withColumn("n_days_missing", col("n_days_expected") - col("n_days_present"))
      .select(col("table_name"), col("min_day_us"), col("max_day_us"),
        col("n_days_expected"), col("n_days_present"), col("n_days_missing"),
        col("n_gaps"), col("longest_gap_days"))
      .orderBy(col("table_name"))
  }

  val qualityIngestionGapsSql: String = {
    val branches = gapSpecs.map { case (t, c) =>
      s"SELECT DISTINCT '$t' AS table_name, epoch_us(date_trunc('day', $c)) AS day_us FROM $t"
    }.mkString("\nUNION ALL\n")
    s"""WITH d AS (
       |$branches),
       |g AS (
       |  SELECT table_name, day_us,
       |    lead(day_us) OVER (PARTITION BY table_name ORDER BY day_us) AS next_us
       |  FROM d),
       |g2 AS (
       |  SELECT *, CASE WHEN next_us IS NULL THEN CAST(0 AS BIGINT)
       |    ELSE (next_us - day_us) // 86400000000 - 1 END AS gap_days
       |  FROM g)
       |SELECT table_name, min(day_us) AS min_day_us, max(day_us) AS max_day_us,
       |  (max(day_us) - min(day_us)) // 86400000000 + 1 AS n_days_expected,
       |  count(*) AS n_days_present,
       |  (max(day_us) - min(day_us)) // 86400000000 + 1 - count(*) AS n_days_missing,
       |  CAST(sum(CASE WHEN gap_days > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
       |  CAST(max(gap_days) AS BIGINT) AS longest_gap_days
       |FROM g2 GROUP BY table_name ORDER BY table_name""".stripMargin
  }

  private val corrPairs: Seq[(Int, Int)] =
    for { i <- corrCols.indices; j <- corrCols.indices if i < j } yield (i, j)

  def profileCorrelations(spark: SparkSession, dir: String): DataFrame = {
    val aggs =
      Seq(count(lit(1)).cast("long").as("n")) ++
        corrCols.indices.map { i => expr(
          s"CAST(floor(sum(xk_$i) * 10000) AS DECIMAL(38,0))").as(s"b_$i") } ++
        corrCols.indices.map { i => expr(
          s"CAST(floor(sum(xk_$i * xk_$i) * 10000) AS DECIMAL(38,0))")
          .as(s"s_${i}_$i") } ++
        corrPairs.map { case (i, j) => expr(
          s"CAST(floor(sum(xk_$i * xk_$j) * 10000) AS DECIMAL(38,0))")
          .as(s"s_${i}_$j") }
    // one row per pair holding that pair's sums under the names of pair
    // (0, 1), so a single corr_r expression serves all ten rows
    val pairSums = corrPairs.map { case (i, j) =>
      struct(lit(corrCols(i)).as("col_x"), lit(corrCols(j)).as("col_y"),
        col(s"b_$i").as("b_0"), col(s"b_$j").as("b_1"),
        col(s"s_${i}_$i").as("s_0_0"), col(s"s_${j}_$j").as("s_1_1"),
        col(s"s_${i}_$j").as("s_0_1"))
    }
    Tables.fanOut(Tables.lineitem(spark, dir), col("l_orderkey"))
      .select(corrXk.zipWithIndex.map { case ((_, e), i) =>
        expr(e).as(s"xk_$i") }: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("dd", expr(corrLadderSql("n")))
      .select(col("n"), col("dd"), inline(array(pairSums: _*)))
      .select(col("col_x"), col("col_y"),
        expr(corrRSql(corrIntDivSpark)(0, 1)).as("corr_r"))
      .orderBy(col("col_x"), col("col_y"))
  }

  val profileCorrelationsSql: String = {
    val xks = corrXk.zipWithIndex.map { case ((c, e), i) => s"$e AS xk_$i" }
    val sums =
      corrCols.indices.map { i =>
        s"CAST(floor(sum(xk_$i) * 10000) AS DECIMAL(38,0)) AS b_$i" } ++
        corrCols.indices.map { i =>
          s"CAST(floor(sum(xk_$i * xk_$i) * 10000) AS DECIMAL(38,0)) AS s_${i}_$i" } ++
        corrPairs.map { case (i, j) =>
          s"CAST(floor(sum(xk_$i * xk_$j) * 10000) AS DECIMAL(38,0)) AS s_${i}_$j" }
    val selects = corrPairs.map { case (i, j) =>
      s"""SELECT '${corrCols(i)}' AS col_x, '${corrCols(j)}' AS col_y,
         |  ${corrRSql(corrIntDivDuck)(i, j).replace("\n", "\n  ")} AS corr_r
         |FROM d""".stripMargin
    }
    s"""WITH x AS (
       |  SELECT ${xks.mkString(",\n    ")}
       |  FROM lineitem),
       |s AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |  ${sums.mkString(",\n  ")}
       |  FROM x),
       |d AS (SELECT *,
       |  ${corrLadderSql("n").replace("\n", "\n  ")} AS dd
       |  FROM s)
       |${selects.mkString("\nUNION ALL\n")}
       |ORDER BY col_x, col_y""".stripMargin
  }

  /** Mutual information between categorical column pairs — the
    * dependence panel profile_correlations (Pearson, numeric) cannot
    * see: MI(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))) in nats plus the
    * normalized coefficient NMI = MI/min(H(X),H(Y)) ∈ [0,1]. The
    * "which dimensions are redundant / which drive each other" answer
    * a modeler reads before one-hot-ing both columns; pairs profiled:
    * documents (lang, source) and events (event_type, dow).
    *
    * Determinism: the profile_column_entropy device — every ln term is
    * computed on identically-derived doubles (integer-count ratios;
    * numerator/denominator products stay ≪ 2^53) and quantized through
    * DECIMAL(18,9), so MI/H sums are exact order-independent decimal
    * sums; NMI re-quantized the same way; degenerate margins (either
    * entropy 0) emit NMI 0, never a div-by-zero. dow uses the house
    * pre-1970-safe floor arithmetic (eventsWeeklyHeatmap device).
    *
    * Scale shape: ONE scan per pair to a |X|·|Y|-bounded cell
    * aggregate (localCheckpointed — it feeds both margins, the total,
    * and the term join); everything after runs over bounded rows with
    * broadcast margins.
    */
  def profileMutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val docCells = Tables.documents(spark, dir)
      .select(col("lang").as("x"), col("source").as("y"))
    val evCells = Tables.events(spark, dir)
      .select(col("event_type").as("x"),
        expr("CAST(pmod((unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) DIV 86400000000 + 4, 7) AS STRING)")
          .as("y"))
    miPanel(spark, docCells, "documents", "lang", "source")
      .unionByName(miPanel(spark, evCells, "events", "event_type", "dow"))
      .orderBy(col("table_name"))
  }

  private def miPanel(spark: SparkSession, pairs: DataFrame, rel: String,
      cX: String, cY: String): DataFrame = {
    val cells = pairs.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("cnt"))
      // |X|·|Y|-bounded; feeds margins, total, and the term join
      .localCheckpoint()
    val mx = cells.groupBy(col("x")).agg(sum(col("cnt")).as("cx"))
    val my = cells.groupBy(col("y")).agg(sum(col("cnt")).as("cy"))
    val tot = cells.agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_cells"))
    val mi = cells.join(broadcast(mx), "x").join(broadcast(my), "y")
      .crossJoin(broadcast(tot))
      .select(expr(
        """CAST((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) *
          |  ln((CAST(cnt AS DOUBLE) * CAST(n AS DOUBLE)) /
          |     (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
          |  AS DECIMAL(18,9))""".stripMargin).as("term"))
      .agg(sum(col("term")).as("mi_d"))
    def hOf(m: DataFrame, c: String, out: String): DataFrame =
      m.crossJoin(broadcast(tot)).select(expr(
        s"""CAST(-(CAST($c AS DOUBLE) / CAST(n AS DOUBLE)) *
           |  ln(CAST($c AS DOUBLE) / CAST(n AS DOUBLE))
           |  AS DECIMAL(18,9))""".stripMargin).as("t"))
        .agg(sum(col("t")).as(out))
    mi.crossJoin(hOf(mx, "cx", "hx_d")).crossJoin(hOf(my, "cy", "hy_d"))
      .crossJoin(tot)
      .select(lit(rel).as("table_name"), lit(cX).as("col_x"),
        lit(cY).as("col_y"),
        col("n").cast("long").as("n_rows"),
        col("n_cells").cast("long").as("n_cells"),
        col("hx_d").cast("double").as("h_x_nats"),
        col("hy_d").cast("double").as("h_y_nats"),
        col("mi_d").cast("double").as("mi_nats"),
        expr("""CASE WHEN least(hx_d, hy_d) <= 0 THEN CAST(0.0 AS DOUBLE)
               |  ELSE CAST(CAST(CAST(mi_d AS DOUBLE) /
               |    CAST(least(hx_d, hy_d) AS DOUBLE) AS DECIMAL(18,9))
               |    AS DOUBLE) END""".stripMargin).as("nmi"))
  }

  val profileMutualInfoSql: String = {
    val dowExpr =
      "CAST(((((epoch_us(ts) - ((epoch_us(ts) % 86400000000 + 86400000000) % 86400000000)) // 86400000000 + 4) % 7) + 7) % 7 AS VARCHAR)"
    def block(i: Int, cellSql: String, rel: String, cX: String,
        cY: String): (String, String) = {
      val ctes =
        s"""c$i AS ($cellSql),
           |mx$i AS (SELECT x, sum(cnt) AS cx FROM c$i GROUP BY 1),
           |my$i AS (SELECT y, sum(cnt) AS cy FROM c$i GROUP BY 1),
           |tot$i AS (SELECT sum(cnt) AS n, count(*) AS n_cells FROM c$i),
           |mi$i AS (
           |  SELECT sum(CAST((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) *
           |    ln((CAST(cnt AS DOUBLE) * CAST(n AS DOUBLE)) /
           |       (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
           |    AS DECIMAL(18,9))) AS mi_d
           |  FROM c$i JOIN mx$i USING (x) JOIN my$i USING (y), tot$i),
           |hx$i AS (
           |  SELECT sum(CAST(-(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE)) *
           |    ln(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))
           |    AS DECIMAL(18,9))) AS hx_d FROM mx$i, tot$i),
           |hy$i AS (
           |  SELECT sum(CAST(-(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)) *
           |    ln(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))
           |    AS DECIMAL(18,9))) AS hy_d FROM my$i, tot$i)""".stripMargin
      val sel =
        s"""SELECT '$rel' AS table_name, '$cX' AS col_x, '$cY' AS col_y,
           |  CAST(n AS BIGINT) AS n_rows, CAST(n_cells AS BIGINT) AS n_cells,
           |  CAST(hx_d AS DOUBLE) AS h_x_nats, CAST(hy_d AS DOUBLE) AS h_y_nats,
           |  CAST(mi_d AS DOUBLE) AS mi_nats,
           |  CASE WHEN least(hx_d, hy_d) <= 0 THEN 0.0
           |    ELSE CAST(CAST(CAST(mi_d AS DOUBLE) /
           |      CAST(least(hx_d, hy_d) AS DOUBLE) AS DECIMAL(18,9))
           |      AS DOUBLE) END AS nmi
           |FROM mi$i, hx$i, hy$i, tot$i""".stripMargin
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
}
