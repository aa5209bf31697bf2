package graft.profile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Data-quality analysis re-expressing the reference's quality module
  * (dbsurveyor-core/src/quality/): completeness (completeness.rs),
  * uniqueness (uniqueness.rs), consistency format detection
  * (consistency.rs:44-100), z-score anomaly detection (anomaly.rs), and the
  * weighted composite score (analyzer.rs:171).
  *
  * Everything is a single-pass columnar aggregation over the full table —
  * the reference iterates sampled JSON rows on one core; here each metric
  * is one `agg` of expression lists (one scan, one reduce), so the same
  * code profiles a 100 TB table. Cross-engine exactness: all scores are
  * IEEE-double expressions over exact integer counts (and exact DECIMAL
  * sums for moments), evaluated with identical association order in the
  * Spark plan and the DuckDB oracle.
  */
object Quality {

  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")
  private val docStringCols = Set("text", "lang", "source")

  /** "Looks-like" format classifier — same heuristics and precedence as the
    * reference's detect_format (consistency.rs): uuid → iso_datetime →
    * iso_date → email → none. Pure shared-dialect SQL (works verbatim in
    * Spark and DuckDB), so both engines classify identically.
    */
  def classifySql(c: String): String =
    s"""CASE WHEN $c IS NULL OR $c = '' THEN NULL
       | WHEN length($c) = 36 AND substring($c, 9, 1) = '-' AND substring($c, 14, 1) = '-'
       |   AND substring($c, 19, 1) = '-' AND substring($c, 24, 1) = '-'
       |   AND length(translate(lower($c), '0123456789abcdef-', '')) = 0 THEN 'uuid'
       | WHEN length($c) >= 19 AND contains($c, 'T') AND contains($c, ':') THEN 'iso_datetime'
       | WHEN length($c) = 10 AND substring($c, 5, 1) = '-' AND substring($c, 8, 1) = '-' THEN 'iso_date'
       | WHEN contains($c, '@') AND contains($c, '.') THEN 'email'
       | ELSE 'none' END""".stripMargin.replaceAll("\n", "")

  // ---------------------------------------------------------------- completeness

  /** Per-column null/empty counts + completeness on documents, plus a
    * __table__ row carrying the reference's overall score (column average).
    */
  def completeness(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.documents(spark, dir)
    val aggList = Seq(count(lit(1)).as("n")) ++ docCols.flatMap { c =>
      val nulls = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c")
      val empties =
        if (docStringCols(c)) sum(when(col(c) === "", 1L).otherwise(0L)).as(s"empty_$c")
        else sum(lit(0L)).as(s"empty_$c")
      Seq(nulls, empties)
    }
    val one = df.agg(aggList.head, aggList.tail: _*)
    def comp(c: String): Column =
      (col("n") - col(s"null_$c") - col(s"empty_$c")).cast(DoubleType) / col("n")
    val colRows = docCols.map { c =>
      struct(lit(c).as("column_name"), col(s"null_$c").as("null_count"),
        col(s"empty_$c").as("empty_count"), comp(c).as("completeness"))
    }
    val tableRow = struct(lit("__table__").as("column_name"),
      docCols.map(c => col(s"null_$c")).reduce(_ + _).as("null_count"),
      docCols.map(c => col(s"empty_$c")).reduce(_ + _).as("empty_count"),
      (docCols.map(comp).reduce(_ + _) / lit(docCols.size)).as("completeness"))
    one.select(inline(array(colRows :+ tableRow: _*))).orderBy(col("column_name"))
  }

  val completenessSql: String = {
    def nulls(c: String) = s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)"
    def empties(c: String) =
      if (docStringCols(c)) s"sum(CASE WHEN $c = '' THEN 1 ELSE 0 END)" else "sum(0)"
    def comp(c: String) = s"CAST(n - null_$c - empty_$c AS DOUBLE) / n"
    val aggSelect = ("count(*) AS n" +: docCols.flatMap(c =>
      Seq(s"${nulls(c)} AS null_$c", s"${empties(c)} AS empty_$c"))).mkString(", ")
    // DuckDB sum() yields HUGEINT; the driver's hash is type-sensitive, so
    // every emitted count is pinned to BIGINT to match Spark's LongType.
    val colSelects = docCols.map(c =>
      s"SELECT '$c' AS column_name, CAST(null_$c AS BIGINT) AS null_count, CAST(empty_$c AS BIGINT) AS empty_count, ${comp(c)} AS completeness FROM a")
    val tableSelect =
      s"SELECT '__table__' AS column_name, CAST(${docCols.map(c => s"null_$c").mkString(" + ")} AS BIGINT) AS null_count, " +
        s"CAST(${docCols.map(c => s"empty_$c").mkString(" + ")} AS BIGINT) AS empty_count, " +
        s"(${docCols.map(comp).mkString(" + ")}) / ${docCols.size} AS completeness FROM a"
    s"WITH a AS (SELECT $aggSelect FROM documents)\n" +
      (colSelects :+ tableSelect).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // ---------------------------------------------------------------- uniqueness

  /** Per-column duplicate counts (uniqueness.rs semantics: NULL is a value,
    * so distinct-including-null) + a __rows__ row with the exact duplicate
    * row count (distinct over an md5 row fingerprint — one shuffle-free
    * hash per row instead of a full-row sort).
    */
  def uniqueness(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.documents(spark, dir)
    val rowKey = md5(concat_ws("\u0001",
      docCols.map(c => coalesce(col(c).cast(StringType), lit("<NULL>"))): _*))
    val aggList = Seq(count(lit(1)).as("n"),
      countDistinct(rowKey).as("nd_rows")) ++ docCols.flatMap { c =>
      Seq(countDistinct(col(c)).as(s"nd_$c"), count(col(c)).as(s"nn_$c"))
    }
    val one = df.agg(aggList.head, aggList.tail: _*)
    def dup(c: String): Column =
      col("n") - col(s"nd_$c") -
        when(col("n") > col(s"nn_$c"), 1L).otherwise(0L)
    val colRows = docCols.map { c =>
      struct(lit(c).as("column_name"), dup(c).as("duplicate_count"),
        ((col("n") - dup(c)).cast(DoubleType) / col("n")).as("uniqueness"))
    }
    val rowsRow = struct(lit("__rows__").as("column_name"),
      (col("n") - col("nd_rows")).as("duplicate_count"),
      (col("nd_rows").cast(DoubleType) / col("n")).as("uniqueness"))
    one.select(inline(array(colRows :+ rowsRow: _*))).orderBy(col("column_name"))
  }

  val uniquenessSql: String = {
    val rowKey = "md5(concat_ws(chr(1), " +
      docCols.map(c => s"coalesce(CAST($c AS VARCHAR), '<NULL>')").mkString(", ") + "))"
    val aggSelect = (Seq("count(*) AS n", s"count(DISTINCT $rowKey) AS nd_rows") ++
      docCols.flatMap(c => Seq(s"count(DISTINCT $c) AS nd_$c", s"count($c) AS nn_$c")))
      .mkString(", ")
    def dup(c: String) = s"(n - nd_$c - CASE WHEN n > nn_$c THEN 1 ELSE 0 END)"
    val colSelects = docCols.map(c =>
      s"SELECT '$c' AS column_name, ${dup(c)} AS duplicate_count, CAST(n - ${dup(c)} AS DOUBLE) / n AS uniqueness FROM a")
    val rowsSelect =
      "SELECT '__rows__' AS column_name, n - nd_rows AS duplicate_count, CAST(nd_rows AS DOUBLE) / n AS uniqueness FROM a"
    s"WITH a AS (SELECT $aggSelect FROM documents)\n" +
      (colSelects :+ rowsSelect).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // ---------------------------------------------------------------- consistency

  /** Format-classification counts per string column of documents — one scan
    * (each row contributes one classified cell per string column via
    * inline/explode), never a per-column job.
    */
  def consistency(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.documents(spark, dir)
    val cells = docStringCols.toSeq.sorted.map { c =>
      struct(lit(c).as("column_name"), expr(classifySql(c)).as("format"))
    }
    df.select(inline(array(cells: _*)))
      .filter(col("format").isNotNull)
      .groupBy(col("column_name"), col("format"))
      .agg(count(lit(1)).as("n_values"))
      .orderBy(col("column_name"), col("format"))
  }

  val consistencySql: String = {
    docStringCols.toSeq.sorted.map { c =>
      s"SELECT '$c' AS column_name, ${classifySql(c)} AS format, count(*) AS n_values " +
        s"FROM documents WHERE $c IS NOT NULL AND $c <> '' GROUP BY 2"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name, format")
  }

  // ---------------------------------------------------------------- anomaly

  private case class AnomalyTarget(table: String, cols: Seq[(String, Int)])

  /** (table, column, decimal precision for exact moments) */
  private val anomalyTargets = Seq(
    AnomalyTarget("events", Seq(("value", 12))),
    AnomalyTarget("lineitem", Seq(("l_quantity", 12), ("l_extendedprice", 12))),
    AnomalyTarget("orders", Seq(("o_totalprice", 14))))

  /** Z-score outlier counts (anomaly.rs): population stddev, threshold 2.5
    * (= AnomalySensitivity::Medium, config.rs:27). Mean/stddev derive from
    * exact DECIMAL sums (sum, sum-of-squares), then are quantized through
    * DECIMAL(24,6) before BOTH the outlier comparison and the output —
    * past ~2^53 unscaled the decimal→double conversion differs between
    * engines in the last ulp, so only the quantized moments are shared.
    * Two scans per table: one tiny stats agg (broadcast back), one counting
    * pass — the canonical distributed shape for this.
    */
  /** Sensitivity tiers (reference quality/config.rs:27): the z-score
    * threshold in population standard deviations. Higher sensitivity =
    * lower threshold = more rows flagged.
    */
  object Sensitivity {
    val Low = 3.0
    val Medium = 2.5
    val High = 2.0
  }

  /** Oracle entry point: Medium (2.5σ) — the reference default. */
  def anomaly(spark: SparkSession, dir: String): DataFrame =
    anomalyWith(spark, dir, Sensitivity.Medium)

  def anomalyWith(spark: SparkSession, dir: String, sigma: Double): DataFrame = {
    val perTable = anomalyTargets.map { t =>
      val df = Tables.fanOut(Tables.table(spark, dir, t.table),
        col(t.cols.head._1))
      val statAggs = t.cols.flatMap { case (c, p) =>
        val d = col(c).cast(DecimalType(p, 2))
        Seq(count(col(c)).as(s"n_$c"),
          sum(d).cast(DoubleType).as(s"s_$c"),
          sum(d * d).cast(DoubleType).as(s"ss_$c"))
      }
      val stats = df.agg(statAggs.head, statAggs.tail: _*)
      val withStats = df.crossJoin(broadcast(stats))
      // moments quantized through DECIMAL(24,6) BEFORE both the outlier
      // comparison and the output: beyond ~2^53 unscaled, decimal->double
      // conversion differs between engines in the last ulp (measured at
      // sf0.1), so every downstream use must see the quantized value
      def meanRaw(c: String): Column = col(s"s_$c") / col(s"n_$c")
      def mean(c: String): Column =
        meanRaw(c).cast(DecimalType(24, 6)).cast(DoubleType)
      def sd(c: String): Column = sqrt(greatest(
        col(s"ss_$c") / col(s"n_$c") - meanRaw(c) * meanRaw(c), lit(0.0)))
        .cast(DecimalType(24, 6)).cast(DoubleType)
      val outAggs = t.cols.map { case (c, _) =>
        sum(when(abs(col(c) - mean(c)) > lit(sigma) * sd(c), 1L).otherwise(0L)).as(s"o_$c")
      } ++ t.cols.flatMap { case (c, _) =>
        Seq(first(col(s"n_$c")).as(s"fn_$c"), first(mean(c)).as(s"fm_$c"),
          first(sd(c)).as(s"fs_$c"))
      }
      val one = withStats.agg(outAggs.head, outAggs.tail: _*)
      val rows = t.cols.map { case (c, _) =>
        struct(lit(t.table).as("table_name"), lit(c).as("column_name"),
          col(s"fn_$c").as("n_values"), col(s"fm_$c").as("mean"),
          col(s"fs_$c").as("std_dev"), col(s"o_$c").as("n_outliers"))
      }
      one.select(inline(array(rows: _*)))
    }
    perTable.reduce(_ unionByName _).orderBy(col("table_name"), col("column_name"))
  }

  val anomalySql: String = {
    val blocks = anomalyTargets.flatMap { t =>
      t.cols.map { case (c, p) =>
        s"""SELECT '${t.table}' AS table_name, '$c' AS column_name,
           | n_values,
           | mean, std_dev,
           | (SELECT CAST(sum(CASE WHEN abs($c - a.mean) > 2.5 * a.std_dev THEN 1 ELSE 0 END) AS BIGINT)
           |    FROM ${t.table}) AS n_outliers
           |FROM (
           |  SELECT n_values, mean,
           |    CAST(CAST(sqrt(greatest(msq - mean_raw * mean_raw, CAST(0 AS DOUBLE))) AS DECIMAL(24,6)) AS DOUBLE) AS std_dev
           |  FROM (
           |    SELECT count($c) AS n_values,
           |      CAST(CAST(CAST(sum(CAST($c AS DECIMAL($p,2))) AS DOUBLE) / count($c) AS DECIMAL(24,6)) AS DOUBLE) AS mean,
           |      CAST(sum(CAST($c AS DECIMAL($p,2))) AS DOUBLE) / count($c) AS mean_raw,
           |      CAST(sum(CAST($c AS DECIMAL($p,2)) * CAST($c AS DECIMAL($p,2))) AS DOUBLE) / count($c) AS msq
           |    FROM ${t.table})) a""".stripMargin
      }
    }
    blocks.mkString("", "\nUNION ALL\n", "\nORDER BY table_name, column_name")
  }

  // ---------------------------------------------------------------- composite score

  /** Weighted composite quality score for documents (analyzer.rs:171,
    * default weights 1.0): completeness = column average; uniqueness =
    * min(row uniqueness, average uniqueness over columns WITH duplicates);
    * consistency = 1 - violations/cells with the reference's
    * dominant-format >50% rule (type inconsistencies are impossible on a
    * typed parquet schema). One scan, one aggregate row.
    */
  /** Component weights for the composite score (reference
    * quality/config.rs QualityWeights; analyzer.rs:171 weighted
    * aggregation). Defaults are the reference's equal weights.
    */
  case class ScoreWeights(completeness: Double = 1.0, uniqueness: Double = 1.0,
      consistency: Double = 1.0) {
    require(completeness >= 0 && uniqueness >= 0 && consistency >= 0 &&
      completeness + uniqueness + consistency > 0, "weights must be >= 0, sum > 0")
  }

  /** Oracle entry point: equal weights — the reference default. */
  def score(spark: SparkSession, dir: String): DataFrame =
    scoreWith(spark, dir, ScoreWeights())

  def scoreWith(spark: SparkSession, dir: String, w: ScoreWeights): DataFrame = {
    val df = Tables.documents(spark, dir)
    val rowKey = md5(concat_ws("\u0001",
      docCols.map(c => coalesce(col(c).cast(StringType), lit("<NULL>"))): _*))
    val fmts = Seq("uuid", "iso_datetime", "iso_date", "email")
    val aggList = Seq(count(lit(1)).as("n"), countDistinct(rowKey).as("nd_rows")) ++
      docCols.flatMap { c =>
        Seq(countDistinct(col(c)).as(s"nd_$c"), count(col(c)).as(s"nn_$c"),
          (if (docStringCols(c)) sum(when(col(c) === "", 1L).otherwise(0L))
           else sum(lit(0L))).as(s"ne_$c"))
      } ++ docStringCols.toSeq.sorted.flatMap { c =>
        fmts.map(f => sum(when(expr(classifySql(c)) === f, 1L).otherwise(0L)).as(s"f_${f}_$c"))
      }
    val one = df.agg(aggList.head, aggList.tail: _*)

    def comp(c: String): Column =
      (col("n") - (col("n") - col(s"nn_$c")) - col(s"ne_$c")).cast(DoubleType) / col("n")
    val completenessScore = docCols.map(comp).reduce(_ + _) / lit(docCols.size)

    def dup(c: String): Column =
      col("n") - col(s"nd_$c") - when(col("n") > col(s"nn_$c"), 1L).otherwise(0L)
    def colUniq(c: String): Column = (col("n") - dup(c)).cast(DoubleType) / col("n")
    val nDupCols = docCols.map(c => when(dup(c) > 0, 1).otherwise(0)).reduce(_ + _)
    val sumDupUniq = docCols.map(c => when(dup(c) > 0, colUniq(c)).otherwise(lit(0.0))).reduce(_ + _)
    val avgDupUniq = when(nDupCols === 0, lit(1.0)).otherwise(sumDupUniq / nDupCols)
    val rowUniq = col("nd_rows").cast(DoubleType) / col("n")
    val uniquenessScore = least(rowUniq, avgDupUniq)

    def viol(c: String): Column = {
      val tot = col(s"nn_$c") - col(s"ne_$c")
      val dom = greatest(fmts.map(f => col(s"f_${f}_$c")): _*)
      when(dom > 0 && dom.cast(DoubleType) / tot > 0.5, tot - dom).otherwise(lit(0L))
    }
    val violations = docStringCols.toSeq.sorted.map(viol).reduce(_ + _)
    val consistencyScore =
      greatest(lit(1.0) - violations.cast(DoubleType) / (col("n") * lit(docCols.size)), lit(0.0))

    // with the default weights this is bit-identical to (c + u + n) / 3.0
    // (x * 1.0 == x in IEEE), preserving oracle parity
    val weighted = (completenessScore * w.completeness +
      uniquenessScore * w.uniqueness + consistencyScore * w.consistency) /
      lit(w.completeness + w.uniqueness + w.consistency)
    one.select(lit("documents").as("table_name"), col("n").as("n_rows"),
      completenessScore.as("completeness"),
      uniquenessScore.as("uniqueness"),
      consistencyScore.as("consistency"),
      weighted.as("quality_score"))
  }

  /** Minimum-score thresholds (reference quality/config.rs defaults:
    * completeness_min 0.95, uniqueness_min 0.98, consistency_min 0.90).
    * A component score below its minimum emits a ThresholdViolation row
    * (analyzer.rs:97-133) — the "which table crossed which threshold"
    * answer the composite score alone can't give.
    */
  case class ScoreThresholds(completenessMin: Double = 0.95,
      uniquenessMin: Double = 0.98, consistencyMin: Double = 0.90)

  /** Threshold-violation report: one row per (table, metric) whose
    * score fell below the configured minimum — empty when everything
    * clears. Scale shape: re-selects the already-1-row score frame
    * three ways; all data-sized work is the single score aggregation.
    */
  def scoreViolations(spark: SparkSession, dir: String): DataFrame =
    scoreViolationsWith(spark, dir, ScoreThresholds())

  def scoreViolationsWith(spark: SparkSession, dir: String,
      t: ScoreThresholds): DataFrame = {
    val s = scoreWith(spark, dir, ScoreWeights())
    Seq(
      ("completeness", t.completenessMin),
      ("consistency", t.consistencyMin),
      ("uniqueness", t.uniquenessMin)
    ).map { case (m, th) =>
      s.select(col("table_name"), lit(m).as("metric"),
          lit(th).as("threshold"), col(m).as("actual"))
        .filter(col("actual") < lit(th))
    }.reduce(_ unionByName _).orderBy(col("table_name"), col("metric"))
  }

  // lazy: composes scoreSql, which is declared below (init-order safety)
  lazy val scoreViolationsSql: String = {
    val t = ScoreThresholds()
    def branch(m: String, th: Double) =
      s"""SELECT table_name, '$m' AS metric,
         |  CAST($th AS DOUBLE) AS threshold, $m AS actual
         |FROM s WHERE $m < CAST($th AS DOUBLE)""".stripMargin
    s"""WITH s AS (
       |${scoreSql}
       |)
       |SELECT * FROM (
       |${branch("completeness", t.completenessMin)}
       |UNION ALL
       |${branch("consistency", t.consistencyMin)}
       |UNION ALL
       |${branch("uniqueness", t.uniquenessMin)})
       |ORDER BY table_name, metric""".stripMargin
  }

  val scoreSql: String = {
    val rowKey = "md5(concat_ws(chr(1), " +
      docCols.map(c => s"coalesce(CAST($c AS VARCHAR), '<NULL>')").mkString(", ") + "))"
    val fmts = Seq("uuid", "iso_datetime", "iso_date", "email")
    val aggSelect = (Seq("count(*) AS n", s"count(DISTINCT $rowKey) AS nd_rows") ++
      docCols.flatMap { c =>
        val ne = if (docStringCols(c)) s"sum(CASE WHEN $c = '' THEN 1 ELSE 0 END)" else "sum(0)"
        Seq(s"count(DISTINCT $c) AS nd_$c", s"count($c) AS nn_$c", s"$ne AS ne_$c")
      } ++ docStringCols.toSeq.sorted.flatMap { c =>
        fmts.map(f => s"sum(CASE WHEN (${classifySql(c)}) = '$f' THEN 1 ELSE 0 END) AS f_${f}_$c")
      }).mkString(", ")
    def comp(c: String) = s"CAST(n - (n - nn_$c) - ne_$c AS DOUBLE) / n"
    val completeness = "(" + docCols.map(comp).mkString(" + ") + s") / ${docCols.size}"
    def dup(c: String) = s"(n - nd_$c - CASE WHEN n > nn_$c THEN 1 ELSE 0 END)"
    def colUniq(c: String) = s"CAST(n - ${dup(c)} AS DOUBLE) / n"
    val nDupCols = docCols.map(c => s"CASE WHEN ${dup(c)} > 0 THEN 1 ELSE 0 END").mkString(" + ")
    val sumDupUniq = docCols.map(c =>
      s"CASE WHEN ${dup(c)} > 0 THEN ${colUniq(c)} ELSE CAST(0 AS DOUBLE) END").mkString(" + ")
    val avgDupUniq = s"CASE WHEN ($nDupCols) = 0 THEN CAST(1 AS DOUBLE) ELSE ($sumDupUniq) / ($nDupCols) END"
    val rowUniq = "CAST(nd_rows AS DOUBLE) / n"
    val uniqueness = s"least($rowUniq, $avgDupUniq)"
    def viol(c: String) = {
      val dom = "greatest(" + fmts.map(f => s"f_${f}_$c").mkString(", ") + ")"
      s"CASE WHEN $dom > 0 AND CAST($dom AS DOUBLE) / (nn_$c - ne_$c) > 0.5 THEN (nn_$c - ne_$c) - $dom ELSE 0 END"
    }
    val violations = docStringCols.toSeq.sorted.map(viol).mkString(" + ")
    val consistency = s"greatest(CAST(1 AS DOUBLE) - CAST($violations AS DOUBLE) / (n * ${docCols.size}), CAST(0 AS DOUBLE))"
    s"""WITH a AS (SELECT $aggSelect FROM documents)
       |SELECT 'documents' AS table_name, n AS n_rows,
       |  $completeness AS completeness,
       |  $uniqueness AS uniqueness,
       |  $consistency AS consistency,
       |  (($completeness) + ($uniqueness) + ($consistency)) / 3.0 AS quality_score
       |FROM a""".stripMargin
  }

  // ---------------------------------------------------------------- psi drift

  /** Distribution-drift monitoring via PSI (population stability index —
    * the standard production drift metric; the natural companion to
    * Collector.diff's schema drift): compare a reference slice of events
    * against a current slice, per monitored column. Numeric `value` is
    * discretized into 10 fixed-width bins over the GLOBAL [min,max]
    * (shared edges — computed once, broadcast); categorical `event_type`
    * uses its categories directly. PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref)
    * with +0.5 Laplace smoothing per bin so empty bins stay finite.
    *
    * Slices here are the deterministic event_id parity halves (a
    * mechanism demo the oracle can replay; a deployment slices on time
    * windows — swap the predicate). Per-bin ln terms are quantized
    * through DECIMAL(18,9) before the per-column TOTAL sum, so totals
    * are exact and order-independent (the unigram-NLL device).
    *
    * Scale shape: one pass to bin + count (shuffle key = column × bins,
    * tiny), windows over the bin rows only. PSI interpretation: < 0.1
    * stable, 0.1-0.25 moderate shift, > 0.25 action.
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("value"), col("event_type"),
        (col("event_id") % 2 === 1).as("is_cur"))
    val mm = ev.filter(col("value").isNotNull)
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val valueBins = ev.filter(col("value").isNotNull)
      .crossJoin(broadcast(mm))
      .select(lit("value").as("column_name"),
        concat(lit("b"),
          when(col("vmax") === col("vmin"), lit(0L))
            .otherwise(least(floor((col("value") - col("vmin")) /
              ((col("vmax") - col("vmin")) / 10.0)), lit(9L)))
            .cast(StringType)).as("bin"),
        col("is_cur"))
    val catBins = ev.select(lit("event_type").as("column_name"),
      col("event_type").as("bin"), col("is_cur"))
    val counts = valueBins.unionByName(catBins)
      .groupBy(col("column_name"), col("bin"))
      .agg(sum(when(!col("is_cur"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("is_cur"), 1L).otherwise(0L)).as("n_cur"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("column_name"))
    val terms = counts
      .withColumn("b_all", count(lit(1)).over(w))
      .withColumn("p_ref",
        (col("n_ref").cast(DoubleType) + 0.5) /
          (sum(col("n_ref")).over(w).cast(DoubleType) + lit(0.5) * col("b_all")))
      .withColumn("p_cur",
        (col("n_cur").cast(DoubleType) + 0.5) /
          (sum(col("n_cur")).over(w).cast(DoubleType) + lit(0.5) * col("b_all")))
      .withColumn("psi_term",
        ((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")))
          .cast(DecimalType(18, 9)))
    val perBin = terms.select(col("column_name"), col("bin"),
      col("n_ref"), col("n_cur"), col("psi_term").cast(DoubleType).as("psi"))
    val total = terms.groupBy(col("column_name"))
      .agg(sum(col("n_ref")).as("n_ref"), sum(col("n_cur")).as("n_cur"),
        sum(col("psi_term")).cast(DoubleType).as("psi"))
      .select(col("column_name"), lit("TOTAL").as("bin"),
        col("n_ref"), col("n_cur"), col("psi"))
    perBin.unionByName(total).orderBy(col("column_name"), col("bin"))
  }

  // ------------------------------------------------------- duplicate rows

  /** Catalog-wide FULL-ROW duplicate audit — the first number a data
    * contract review asks for, per table: exact row count, distinct-row
    * count (md5 over the canonicalized full row), duplicates and the
    * duplicate rate in exact ppm. quality_uniqueness answers this for
    * documents' columns; this op sweeps every table of the catalog in
    * one report.
    *
    * Cross-engine contract: the row key only needs to be INJECTIVE
    * within each engine (distinct counts compare, representations
    * don't); events.ts keys as unix micros on both sides (the ns→µs
    * truncation seam). Per table ONE pruned scan → map-side-deduped
    * DISTINCT on the 128-bit key → 1-row count, crossJoined to the
    * plain count (the composite-keys assembly; never a
    * count+countDistinct Expand). Output = |tables| rows.
    */
  def duplicateRows(spark: SparkSession, dir: String): DataFrame = {
    val branches = Tables.all.map { t =>
      val df = Tables.table(spark, dir, t)
      val keyParts = df.schema.fields.map { f =>
        val c =
          if (f.dataType == org.apache.spark.sql.types.TimestampType)
            unix_micros(col(f.name)).cast(StringType)
          else col(f.name).cast(StringType)
        coalesce(c, lit("<NULL>"))
      }
      val key = md5(concat_ws("\u0001", keyParts: _*))
      val nd = df.select(key.as("k")).distinct()
        .agg(count(lit(1)).as("n_distinct_rows"))
      df.agg(count(lit(1)).as("n_rows"))
        .crossJoin(nd)
        .select(lit(t).as("table_name"), col("n_rows"), col("n_distinct_rows"),
          (col("n_rows") - col("n_distinct_rows")).as("n_duplicate_rows"),
          expr("CAST((n_rows - n_distinct_rows) * 1000000 DIV n_rows AS BIGINT)")
            .as("dup_ppm"))
    }
    branches.reduce(_ unionByName _).orderBy(col("table_name"))
  }

  val duplicateRowsSql: String = {
    val tableCols: Seq[(String, Seq[String])] = Seq(
      "region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"),
      "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
      "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"))
    val rows = tableCols.map { case (t, cols) =>
      val parts = cols.map { c =>
        val e = if (t == "events" && c == "ts") "epoch_us(ts)" else c
        s"coalesce(CAST($e AS VARCHAR), '<NULL>')"
      }.mkString(", ")
      s"""SELECT '$t' AS table_name,
         |  (SELECT count(*) FROM $t) AS n_rows,
         |  (SELECT count(*) FROM (
         |     SELECT DISTINCT md5(concat_ws(chr(1), $parts)) FROM $t))
         |    AS n_distinct_rows""".stripMargin
    }
    s"""WITH raw AS (
       |${rows.mkString("\nUNION ALL\n")})
       |SELECT table_name, n_rows, n_distinct_rows,
       |  n_rows - n_distinct_rows AS n_duplicate_rows,
       |  CAST((CAST(n_rows - n_distinct_rows AS HUGEINT) * 1000000) // n_rows
       |    AS BIGINT) AS dup_ppm
       |FROM raw ORDER BY table_name""".stripMargin
  }

  val psiDriftSql: String =
    """WITH ev AS (
      |  SELECT event_id, value, event_type, event_id % 2 = 1 AS is_cur
      |  FROM events),
      |mm AS (
      |  SELECT min(value) AS vmin, max(value) AS vmax
      |  FROM ev WHERE value IS NOT NULL),
      |binned AS (
      |  SELECT 'value' AS column_name,
      |    'b' || CAST(CASE WHEN vmax = vmin THEN 0
      |      ELSE least(CAST(floor((value - vmin) / ((vmax - vmin) / 10.0)) AS BIGINT), 9)
      |      END AS VARCHAR) AS bin,
      |    is_cur
      |  FROM ev, mm WHERE value IS NOT NULL
      |  UNION ALL
      |  SELECT 'event_type' AS column_name, event_type AS bin, is_cur FROM ev),
      |counts AS (
      |  SELECT column_name, bin,
      |    sum(CASE WHEN is_cur THEN 0 ELSE 1 END) AS n_ref,
      |    sum(CASE WHEN is_cur THEN 1 ELSE 0 END) AS n_cur
      |  FROM binned GROUP BY 1, 2),
      |terms AS (
      |  SELECT column_name, bin, n_ref, n_cur,
      |    CAST(((CAST(n_cur AS DOUBLE) + 0.5) /
      |          (CAST(sum(n_cur) OVER (PARTITION BY column_name) AS DOUBLE)
      |            + 0.5 * count(*) OVER (PARTITION BY column_name)) -
      |          (CAST(n_ref AS DOUBLE) + 0.5) /
      |          (CAST(sum(n_ref) OVER (PARTITION BY column_name) AS DOUBLE)
      |            + 0.5 * count(*) OVER (PARTITION BY column_name))) *
      |      ln(((CAST(n_cur AS DOUBLE) + 0.5) /
      |          (CAST(sum(n_cur) OVER (PARTITION BY column_name) AS DOUBLE)
      |            + 0.5 * count(*) OVER (PARTITION BY column_name))) /
      |          ((CAST(n_ref AS DOUBLE) + 0.5) /
      |          (CAST(sum(n_ref) OVER (PARTITION BY column_name) AS DOUBLE)
      |            + 0.5 * count(*) OVER (PARTITION BY column_name))))
      |      AS DECIMAL(18,9)) AS psi_term
      |  FROM counts)
      |SELECT column_name, bin,
      |  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
      |  CAST(psi_term AS DOUBLE) AS psi
      |FROM terms
      |UNION ALL
      |SELECT column_name, 'TOTAL' AS bin,
      |  CAST(sum(n_ref) AS BIGINT) AS n_ref, CAST(sum(n_cur) AS BIGINT) AS n_cur,
      |  CAST(sum(psi_term) AS DOUBLE) AS psi
      |FROM terms GROUP BY column_name
      |ORDER BY column_name, bin""".stripMargin

  /** Kolmogorov–Smirnov drift statistic per event_type — PSI's
    * order-sensitive companion (PSI bins lose ordering; KS is the
    * max ECDF gap, the standard two-sample distribution test).
    *
    * Scale contract: a textbook KS needs a GLOBAL sort (single-partition
    * window — the anti-shape). This computes KS ON A FIXED GRID: 21
    * evaluation points from each event_type's OWN [min,max] (a
    * types-sized aggregate broadcast back — r6: the r5 grid used the
    * global range, so a type whose values occupy a narrow slice got
    * 1-2 effective grid points and its drift was badly understated),
    * each group's ECDF evaluated by conditional aggregation — ONE scan,
    * one keyed agg, no ordered window anywhere. Grid-KS lower-bounds
    * exact KS and converges as the grid refines; for drift MONITORING
    * the fixed grid is standard practice (and refining it is a config
    * change, not a reshape). A type with no non-null values keeps its
    * row (left join): zero counts, NULL ks_d.
    *
    * Split: even/odd event_id halves (the quality_psi A/B convention).
    * Determinism: counts are integers; ECDF ratios and |F_a−F_b| run in
    * IEEE double with identical op order both engines; grid points are
    * vmin + (vmax−vmin)·k/20 with the k/20 factor emitted as the
    * shortest round-trip double literal — bit-exact cross-engine.
    */
  val ksGridPoints = 21

  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val mm = ev.filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(min(col("value")).as("vmin"), max(col("value")).as("vmax"))
    val withMm = ev.join(broadcast(mm), Seq("event_type"), "left")
    def side(parity: Int) = s"event_id % 2 = $parity AND value IS NOT NULL"
    def gk(k: Int) = s"(vmin + (vmax - vmin) * ${k.toDouble / (ksGridPoints - 1)})"
    val aggs =
      Seq(expr(s"sum(CASE WHEN ${side(0)} THEN 1 ELSE 0 END)").as("n_ref"),
        expr(s"sum(CASE WHEN ${side(1)} THEN 1 ELSE 0 END)").as("n_cur")) ++
        (0 until ksGridPoints).flatMap { k =>
          Seq(expr(s"sum(CASE WHEN ${side(0)} AND value <= ${gk(k)} THEN 1 ELSE 0 END)").as(s"r_$k"),
            expr(s"sum(CASE WHEN ${side(1)} AND value <= ${gk(k)} THEN 1 ELSE 0 END)").as(s"c_$k"))
        }
    val gaps = (0 until ksGridPoints).map { k =>
      s"""abs(CAST(r_$k AS DOUBLE) / CAST(nullif(n_ref, 0) AS DOUBLE) -
         |    CAST(c_$k AS DOUBLE) / CAST(nullif(n_cur, 0) AS DOUBLE))""".stripMargin
    }
    withMm.groupBy(col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("event_type"), col("n_ref"), col("n_cur"),
        expr(s"greatest(${gaps.mkString(", ")})").as("ks_d"))
      .orderBy(col("event_type"))
  }

  /** Completeness OVER TIME — quality_completeness's temporal axis
    * (a column that "is 2% null" may really be "was 0% null until the
    * schema change in week 31, 40% since" — the point-in-time number
    * hides exactly the incident drift monitoring exists to catch):
    * per (week, event_type), event counts and the value-null rate in
    * integer ppm. One scan, one keyed agg, every cell integer-exact.
    */
  def completenessTemporal(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(unix_micros(date_trunc("week", col("ts"))).as("week_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"))
      .select(col("week_us"), col("event_type"), col("n_events"),
        col("n_null_value"),
        expr("CAST(n_null_value * 1000000 DIV n_events AS BIGINT)").as("null_ppm"))
      .orderBy(col("week_us"), col("event_type"))
  }

  val completenessTemporalSql: String =
    """SELECT epoch_us(date_trunc('week', ts)) AS week_us, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
      |  CAST((sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT) AS null_ppm
      |FROM events GROUP BY 1, 2
      |ORDER BY week_us, event_type""".stripMargin

  /** Robust (median/MAD) outlier profile per event_type —
    * quality_anomaly's heavy-tail-safe sibling: mean/stddev break down
    * when the outliers they hunt inflate them (masking); the median and
    * the median-absolute-deviation don't. Flags |0.6745·(x−med)/MAD| >
    * 3.5 (the standard Iglewicz–Hoban modified z) and reports per-type
    * counts.
    *
    * Two scans (medians need one, MAD needs the deviations from them)
    * + one broadcast of the types-sized median frame; interpolated
    * percentile is cross-engine deterministic (the q_quantiles
    * contract: Spark percentile == DuckDB quantile_cont, both
    * interpolate in double on the sorted values). Zero-MAD types
    * (>50% identical values) count zero outliers — the nullif NULL
    * falls out of the CASE identically in both engines, rather than an
    * engine-divergent division-by-zero (Spark NULL vs DuckDB inf).
    */
  def outlierMad(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5D)").as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy(col("event_type"))
      .agg(expr("percentile(abs(value - med), 0.5D)").as("mad"))
    ev.join(broadcast(med), "event_type")
      .join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n"),
        expr("sum(CASE WHEN abs(0.6745 * (value - med) / nullif(mad, 0.0)) > 3.5 THEN 1 ELSE 0 END)")
          .as("n_outliers"))
      .select(col("event_type"), col("n"), col("med"), col("mad"),
        col("n_outliers"))
      .orderBy(col("event_type"))
  }

  val outlierMadSql: String =
    """WITH ev AS (
      |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM ev GROUP BY event_type),
      |mad AS (
      |  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
      |  FROM ev e JOIN med m USING (event_type) GROUP BY e.event_type)
      |SELECT e.event_type, count(*) AS n, m.med, d.mad,
      |  CAST(sum(CASE WHEN abs(0.6745 * (e.value - m.med) / nullif(d.mad, 0.0)) > 3.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM ev e JOIN med m USING (event_type) JOIN mad d USING (event_type)
      |GROUP BY e.event_type, m.med, d.mad
      |ORDER BY e.event_type""".stripMargin

  /** Benford first-significant-digit deviation over lineitem prices —
    * the classic synthetic-data / fraud / corruption smell test for a
    * profiling surface: naturally-occurring multi-magnitude amounts
    * follow log10(1+1/d); a generator or truncation bug shows up as a
    * flat (or spiked) digit histogram.
    *
    * Exactness: the first digit comes from the DECIMAL(12,2) string
    * form (cross-engine stable — never from log10 of a double, whose
    * last-ulp behavior libm does not pin down); observed shares are
    * parts-per-million BIGINT integer division; EXPECTED shares are
    * computed once in Scala and emitted as integer literals into BOTH
    * plans. Every output cell is integer-exact. One scan, one 9-key
    * agg; the grand-total window runs over the 9 aggregated rows.
    *
    * Robustness (r6): the first SIGNIFICANT digit of abs(value), and
    * only digits 1-9 enter the histogram — a negative sign or a sub-1
    * value's leading '0' (impossible for l_extendedprice, but the
    * column choice is config) would otherwise land in the ELSE-0
    * exp_ppm branch and silently dilute the real digits' obs_ppm.
    */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    val expPpm = benfordExpectedPpm
    val caseExpr = "CASE " + expPpm.toSeq.sortBy(_._1).map { case (d, p) =>
      s"WHEN digit = '$d' THEN CAST($p AS BIGINT) " }.mkString +
      "ELSE CAST(0 AS BIGINT) END"
    Tables.lineitem(spark, dir)
      .select(substring(abs(col("l_extendedprice")).cast(DecimalType(12, 2))
        .cast(StringType), 1, 1).as("digit"))
      .filter(col("digit").between("1", "9"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_rows"))
      .select(col("digit"), col("n_rows"),
        expr("CAST(n_rows * 1000000 DIV sum(n_rows) OVER () AS BIGINT)").as("obs_ppm"),
        expr(caseExpr).as("exp_ppm"))
      .withColumn("dev_ppm", col("obs_ppm") - col("exp_ppm"))
      .orderBy(col("digit"))
  }

  /** log10(1+1/d) in ppm, rounded once in Scala — the shared constant
    * table both engines receive as literals. */
  def benfordExpectedPpm: Map[Int, Long] =
    (1 to 9).map(d => d -> math.round(math.log10(1.0 + 1.0 / d) * 1e6)).toMap

  val benfordSql: String = {
    val caseExpr = "CASE " + benfordExpectedPpm.toSeq.sortBy(_._1).map { case (d, p) =>
      s"WHEN digit = '$d' THEN CAST($p AS BIGINT) " }.mkString +
      "ELSE CAST(0 AS BIGINT) END"
    s"""WITH d AS (
       |  SELECT substr(CAST(CAST(abs(l_extendedprice) AS DECIMAL(12,2)) AS VARCHAR), 1, 1) AS digit
       |  FROM lineitem),
       |g AS (SELECT digit, count(*) AS n_rows FROM d
       |      WHERE digit BETWEEN '1' AND '9' GROUP BY digit)
       |SELECT digit, n_rows,
       |  CAST((n_rows * 1000000) // sum(n_rows) OVER () AS BIGINT) AS obs_ppm,
       |  $caseExpr AS exp_ppm,
       |  CAST((n_rows * 1000000) // sum(n_rows) OVER () AS BIGINT) - $caseExpr AS dev_ppm
       |FROM g ORDER BY digit""".stripMargin
  }

  val ksDriftSql: String = {
    def side(parity: Int) = s"event_id % 2 = $parity AND value IS NOT NULL"
    def gk(k: Int) = s"(vmin + (vmax - vmin) * ${k.toDouble / (ksGridPoints - 1)})"
    val sums =
      Seq(s"sum(CASE WHEN ${side(0)} THEN 1 ELSE 0 END) AS n_ref",
        s"sum(CASE WHEN ${side(1)} THEN 1 ELSE 0 END) AS n_cur") ++
        (0 until ksGridPoints).flatMap { k =>
          Seq(s"sum(CASE WHEN ${side(0)} AND value <= ${gk(k)} THEN 1 ELSE 0 END) AS r_$k",
            s"sum(CASE WHEN ${side(1)} AND value <= ${gk(k)} THEN 1 ELSE 0 END) AS c_$k")
        }
    val gaps = (0 until ksGridPoints).map { k =>
      s"""abs(CAST(r_$k AS DOUBLE) / CAST(nullif(n_ref, 0) AS DOUBLE) -
         |    CAST(c_$k AS DOUBLE) / CAST(nullif(n_cur, 0) AS DOUBLE))""".stripMargin
    }
    s"""WITH mm AS (
       |  SELECT event_type, min(value) AS vmin, max(value) AS vmax
       |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
       |c AS (
       |  SELECT e.event_type,
       |  ${sums.mkString(",\n  ")}
       |  FROM events e LEFT JOIN mm USING (event_type)
       |  GROUP BY e.event_type)
       |SELECT event_type, CAST(n_ref AS BIGINT) AS n_ref,
       |  CAST(n_cur AS BIGINT) AS n_cur,
       |  greatest(${gaps.mkString(", ")}) AS ks_d
       |FROM c ORDER BY event_type""".stripMargin
  }

  // -------------------------------------------------------- CUSUM drift

  /** Two-sided Page–Hinkley (CUSUM) mean-shift monitor on the daily
    * event-value mean — the SEQUENTIAL drift detector next to the
    * distribution-snapshot monitors (quality_psi bins, quality_ks_drift
    * CDF gaps): those compare two eras as wholes; this walks the series
    * in time order and reports the largest SUSTAINED excursion of the
    * slack-adjusted cumulative deviation — the statistic that fires on
    * a persistent small shift long before any single day looks
    * anomalous, and stays quiet on isolated spikes.
    *
    * Exactness: daily means live in exact integer µ-value units
    * (mu6 = cents·10⁴ DIV n — identical truncation both engines). The
    * CUSUM baseline is the MEAN OF THE DAILY MEANS (smu DIV n_days —
    * r12 ADVICE: the former event-weighted global mean mixed
    * populations — when daily volume correlates with value, the daily
    * means do not center on it and every day feeds a constant bias
    * into one detector), so dev and σ describe the SAME series. The
    * slack (the PH drift allowance δ = σ/2) is floor-quantized to
    * integer µ units from the raw σ double, so BOTH cumulative
    * detectors (up: Σ(dev − δ), down: Σ(dev + δ)) and their running
    * extrema are pure BIGINT algebra. σ itself composes once from
    * exact moments (Σmu6 BIGINT, Σmu6² DECIMAL(38,0) floor-DIV 10⁴ to
    * stay < 2^53 — the ladder class) and presents as that RAW double
    * (the r13 presentation reversal — the r12 double→decimal casts
    * were themselves the driver-gate hash seam; see the
    * statsMannWhitney scaladoc); excursions present both raw (BIGINT
    * µ) and σ-relative (raw-double ratio); drifted = max excursion ≥
    * 5σ (the classic CUSUM h = 5, δ = σ/2 tabular parameters —
    * documented convention). Peak days are the FIRST day attaining each
    * maximal excursion (min day_num tiebreak, deterministic).
    *
    * Scale shape: the data-sized work is ONE day-keyed exact aggregate;
    * the cumulative windows run over the horizon-BOUNDED daily series
    * (≤ thousands of rows — same boundedness argument as
    * stats_kendall_tau), so the empty-partition window is data-bounded
    * by construction. Degenerate inputs (no valued days, zero variance)
    * emit NULL excursions and NULL verdict, never a throw.
    */
  def qualityCusumDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      // project day_num BEFORE grouping: a computed groupBy key plans as
      // an anonymous _groupingexpression, which the horizon-bounded-dims
      // class guard (PlanInvariantSpec) can't recognize by name
      .select(expr("unix_micros(date_trunc('DAY', ts)) DIV 86400000000")
        .as("day_num"), col("value"))
      .groupBy(col("day_num"))
      .agg(count(lit(1)).as("n_d"),
        expr("CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS DECIMAL(38,0))")
          .as("cents_d"))
      .withColumn("mu6", expr("CAST(cents_d * 10000 DIV n_d AS BIGINT)"))
    val glob = daily.agg(
        count(lit(1)).cast("long").as("n_days"),
        sum(col("n_d")).cast("long").as("n_events"),
        sum(col("mu6")).cast("long").as("smu"),
        sum(expr("CAST(mu6 AS DECIMAL(38,0)) * mu6")).as("qmu0"))
      .select(col("n_days"), col("n_events"),
        // baseline = mean of the daily means: the same population σ is
        // computed from (r12 ADVICE population-mix fix)
        expr("CAST(CASE WHEN n_days > 0 THEN smu DIV n_days END AS BIGINT)")
          .as("mu6_all"),
        col("smu"),
        expr("CAST(CASE WHEN qmu0 IS NOT NULL THEN qmu0 DIV 10000 END AS BIGINT)")
          .as("qmu4"))
      .withColumn("sigma6", expr(cusumSigmaSql))
      .withColumn("slack6", expr(cusumSlackSql))
      .localCheckpoint()
    val wcum = Window.orderBy(col("day_num"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.crossJoin(broadcast(glob))
      .withColumn("dev", expr("mu6 - mu6_all"))
      .withColumn("cup", sum(expr("dev - slack6")).over(wcum))
      .withColumn("cdn", sum(expr("dev + slack6")).over(wcum))
      // the running extrema include the virtual zero start (C_0 = 0):
      // up_t = cup_t - min(0, min prefix cup) IS the textbook recursion
      // C+_t = max(0, C+_{t-1} + dev - k) unrolled
      .withColumn("up", col("cup") - least(lit(0L), min(col("cup")).over(wcum)))
      .withColumn("down", greatest(lit(0L), max(col("cdn")).over(wcum)) - col("cdn"))
    val exc = cum.agg(max(col("up")).as("maxup6"), max(col("down")).as("maxdn6"))
      .localCheckpoint()
    val peaks = cum.crossJoin(broadcast(exc))
      .agg(max(col("maxup6")).as("max_up_mu"),
        max(col("maxdn6")).as("max_down_mu"),
        min(when(col("up") === col("maxup6"), col("day_num"))).as("peak_up_day"),
        min(when(col("down") === col("maxdn6"), col("day_num"))).as("peak_down_day"))
    glob.crossJoin(broadcast(peaks))
      .select(col("n_days"), col("n_events"),
        col("mu6_all").as("mean_mu6"), col("sigma6").as("sigma_mu6"),
        col("slack6").as("slack_mu6"),
        col("max_up_mu"), col("max_down_mu"),
        col("peak_up_day"), col("peak_down_day"),
        expr(cusumRelSql("max_up_mu")).as("up_sigma"),
        expr(cusumRelSql("max_down_mu")).as("down_sigma"),
        expr(cusumDriftedSql).as("drifted"))
  }

  // σ of the daily means in µ units: sqrt(Σmu6²/n − (Σmu6/n)²) over the
  // exact reduced moments — ONE shared composition, presented RAW (the
  // r13 reversal: the former DECIMAL(18,3)/(18,9) presentations were
  // the driver-gate hash seam; a raw double from correctly-rounded
  // div/mult/sqrt over exact ints is bit-identical cross-engine, and
  // floor() of that identical double is build-independent too).
  private val cusumSigmaSql =
    """CASE WHEN n_days > 1
      |    AND (CAST(qmu4 AS DOUBLE) * 10000.0 / CAST(n_days AS DOUBLE)
      |         - (CAST(smu AS DOUBLE) / CAST(n_days AS DOUBLE))
      |           * (CAST(smu AS DOUBLE) / CAST(n_days AS DOUBLE))) > 0
      |  THEN sqrt(CAST(qmu4 AS DOUBLE) * 10000.0 / CAST(n_days AS DOUBLE)
      |         - (CAST(smu AS DOUBLE) / CAST(n_days AS DOUBLE))
      |           * (CAST(smu AS DOUBLE) / CAST(n_days AS DOUBLE)))
      |END""".stripMargin
  // PH drift allowance δ = σ/2, floor-quantized to integer µ units so
  // the cumulative detectors stay exact BIGINT algebra (floor of the
  // identical raw double — seam-free)
  private val cusumSlackSql =
    """CAST(CASE WHEN sigma6 IS NOT NULL
      |  THEN floor(CAST(sigma6 AS DOUBLE) / 2.0) END AS BIGINT)"""
      .stripMargin
  private def cusumRelSql(c: String): String =
    s"""CASE WHEN sigma6 IS NOT NULL AND $c IS NOT NULL
       |  THEN CAST($c AS DOUBLE) / CAST(sigma6 AS DOUBLE)
       |END""".stripMargin
  private val cusumDriftedSql =
    """CASE WHEN up_sigma IS NULL OR down_sigma IS NULL THEN NULL
      |  ELSE greatest(CAST(up_sigma AS DOUBLE), CAST(down_sigma AS DOUBLE))
      |    >= 5.0 END""".stripMargin

  val cusumDriftSql: String =
    s"""WITH daily AS (
       |  SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS day_num,
       |    CAST(count(*) AS BIGINT) AS n_d,
       |    CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS DECIMAL(38,0)) AS cents_d
       |  FROM events WHERE value IS NOT NULL GROUP BY 1),
       |daily2 AS (SELECT *,
       |  CAST(CAST(cents_d AS HUGEINT) * 10000 // n_d AS BIGINT) AS mu6
       |  FROM daily),
       |glob0 AS (SELECT
       |  CAST(count(*) AS BIGINT) AS n_days,
       |  CAST(sum(n_d) AS BIGINT) AS n_events,
       |  CAST(sum(mu6) AS BIGINT) AS smu,
       |  CAST(sum(CAST(mu6 AS HUGEINT) * mu6) AS DECIMAL(38,0)) AS qmu0
       |  FROM daily2),
       |glob1 AS (SELECT n_days, n_events,
       |  CAST(CASE WHEN n_days > 0
       |    THEN CAST(smu AS HUGEINT) // n_days END AS BIGINT)
       |    AS mu6_all,
       |  smu,
       |  CAST(CASE WHEN qmu0 IS NOT NULL
       |    THEN CAST(qmu0 AS HUGEINT) // 10000 END AS BIGINT) AS qmu4
       |  FROM glob0),
       |gsig AS (SELECT *, ${cusumSigmaSql.replace("\n", "\n  ")} AS sigma6
       |  FROM glob1),
       |globs AS (SELECT *, ${cusumSlackSql.replace("\n", "\n  ")} AS slack6
       |  FROM gsig),
       |cum0 AS (SELECT d.day_num, d.mu6 - g.mu6_all AS dev, g.slack6
       |  FROM daily2 d, globs g),
       |cum1 AS (SELECT *,
       |  sum(dev - slack6) OVER (ORDER BY day_num
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cup,
       |  sum(dev + slack6) OVER (ORDER BY day_num
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdn
       |  FROM cum0),
       |cum2 AS (SELECT *,
       |  cup - least(0, min(cup) OVER (ORDER BY day_num
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS up,
       |  greatest(0, max(cdn) OVER (ORDER BY day_num
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - cdn AS down
       |  FROM cum1),
       |exc AS (SELECT CAST(max(up) AS BIGINT) AS maxup6,
       |  CAST(max(down) AS BIGINT) AS maxdn6 FROM cum2),
       |peaks AS (SELECT
       |  max(e.maxup6) AS max_up_mu, max(e.maxdn6) AS max_down_mu,
       |  min(CASE WHEN c.up = e.maxup6 THEN c.day_num END) AS peak_up_day,
       |  min(CASE WHEN c.down = e.maxdn6 THEN c.day_num END) AS peak_down_day
       |  FROM cum2 c, exc e),
       |res AS (SELECT g.*, p.* FROM globs g, peaks p)
       |SELECT n_days, n_events, mu6_all AS mean_mu6, sigma6 AS sigma_mu6,
       |  slack6 AS slack_mu6, max_up_mu, max_down_mu,
       |  peak_up_day, peak_down_day,
       |  ${cusumRelSql("max_up_mu").replace("\n", "\n  ")} AS up_sigma,
       |  ${cusumRelSql("max_down_mu").replace("\n", "\n  ")} AS down_sigma,
       |  ${cusumDriftedSql.replace("\n", "\n  ")} AS drifted
       |FROM res""".stripMargin

  // ------------------------------------------------ quality score history

  /** Per-survey quality-METRIC HISTORY (r12 VERDICT #5 — the reference's
    * analyzer emits a weighted quality score per survey run
    * [dbsurveyor-core analyzer.rs: completeness/consistency/anomaly
    * rolled into a scored report], and repeated surveys of the same
    * source yield the metric history an operator actually watches;
    * Collector.diff covers the SCHEMA drift axis — this completes the
    * story with the score drift axis): each calendar week of the events
    * stream is one survey epoch (weekly incremental survey shards — the
    * rows that arrived since the last run), scored on the house metric
    * triple, with the week-over-week delta and a verdict.
    *
    *   - completeness_ppm: non-NULL `value` share (the analyzer's
    *     completeness axis)
    *   - uniqueness_ppm:   distinct event_id share (key-duplication axis)
    *   - consistency_ppm:  non-negative share among valued rows (domain
    *     rule; vacuous weeks — no valued rows — score the full 1e6, the
    *     analyzer's no-evidence-no-penalty convention)
    *   - score_ppm:        (50·completeness + 30·uniqueness +
    *     20·consistency) DIV 100 — the reference's weighted roll-up
    *     shape with fixed house weights
    *
    * Exactness: every metric is an exact integer ppm
    * (DECIMAL(38,0)·10⁶ DIV n — the funnel_ztest widening); the
    * week-over-week delta is BIGINT subtraction over a LAG window;
    * status thresholds (±1% = 10⁴ ppm) compare exact integers. No
    * doubles anywhere.
    *
    * Scale shape: the data-sized work is ONE week-keyed aggregate
    * (map-side combined; week_num projected BEFORE grouping so the
    * horizon-bounded-dims class guard recognizes the key); the LAG
    * window runs over the horizon-BOUNDED weekly series (the
    * quality_cusum_drift boundedness argument). Degenerate inputs
    * (empty events) emit zero rows, never a throw.
    */
  def qualityScoreHistory(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = Tables.events(spark, dir)
      .select(expr("unix_micros(date_trunc('DAY', ts)) DIV 86400000000 DIV 7")
        .as("week_num"), col("event_id"), col("value"))
      .groupBy(col("week_num"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("value").isNotNull, 1L).otherwise(0L)).as("n_value"),
        countDistinct(col("event_id")).as("n_distinct"),
        sum(when(col("value").isNotNull && col("value") >= 0, 1L)
          .otherwise(0L)).as("n_nonneg"))
      .select(col("week_num"), col("n_rows"),
        expr(ppmSql("n_value", "n_rows")).as("completeness_ppm"),
        expr(ppmSql("n_distinct", "n_rows")).as("uniqueness_ppm"),
        expr(s"""CASE WHEN n_value > 0
                |  THEN ${ppmSql("n_nonneg", "n_value")}
                |  ELSE CAST(1000000 AS BIGINT) END""".stripMargin)
          .as("consistency_ppm"))
      .withColumn("score_ppm", expr(scoreRollupSql))
    val w = Window.orderBy(col("week_num"))
    weekly
      .withColumn("prev_score_ppm", lag(col("score_ppm"), 1).over(w))
      .withColumn("score_delta_ppm",
        expr("CAST(score_ppm - prev_score_ppm AS BIGINT)"))
      .select(col("week_num"), col("n_rows"), col("completeness_ppm"),
        col("uniqueness_ppm"), col("consistency_ppm"), col("score_ppm"),
        col("score_delta_ppm"),
        expr(scoreStatusSql).as("status"))
      .orderBy(col("week_num"))
  }

  // exact ppm share: widen before the ×1e6 product (funnel_ztest device)
  private def ppmSql(num: String, den: String): String =
    s"CAST(CASE WHEN $den > 0 THEN CAST($num AS DECIMAL(38,0)) * 1000000 DIV $den END AS BIGINT)"
  private val scoreRollupSql =
    """CAST((completeness_ppm * 50 + uniqueness_ppm * 30
      |  + consistency_ppm * 20) DIV 100 AS BIGINT)""".stripMargin
  private val scoreStatusSql =
    """CASE WHEN score_delta_ppm IS NULL THEN 'baseline'
      |  WHEN score_delta_ppm <= -10000 THEN 'degraded'
      |  WHEN score_delta_ppm >= 10000 THEN 'improved'
      |  ELSE 'stable' END""".stripMargin

  val qualityScoreHistorySql: String =
    s"""WITH weekly AS (
       |  SELECT epoch_us(date_trunc('day', ts)) // 86400000000 // 7
       |      AS week_num,
       |    count(*) AS n_rows,
       |    CAST(sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_value,
       |    CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
       |    CAST(sum(CASE WHEN value IS NOT NULL AND value >= 0
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_nonneg
       |  FROM events GROUP BY 1),
       |m AS (SELECT week_num, n_rows,
       |  ${duckPpmSql("n_value", "n_rows")} AS completeness_ppm,
       |  ${duckPpmSql("n_distinct", "n_rows")} AS uniqueness_ppm,
       |  CASE WHEN n_value > 0
       |    THEN ${duckPpmSql("n_nonneg", "n_value")}
       |    ELSE CAST(1000000 AS BIGINT) END AS consistency_ppm
       |  FROM weekly),
       |sc AS (SELECT *,
       |  CAST((completeness_ppm * 50 + uniqueness_ppm * 30
       |    + consistency_ppm * 20) // 100 AS BIGINT) AS score_ppm
       |  FROM m),
       |d AS (SELECT *,
       |  lag(score_ppm) OVER (ORDER BY week_num) AS prev_score_ppm
       |  FROM sc)
       |SELECT week_num, CAST(n_rows AS BIGINT) AS n_rows,
       |  completeness_ppm, uniqueness_ppm, consistency_ppm, score_ppm,
       |  CAST(score_ppm - prev_score_ppm AS BIGINT) AS score_delta_ppm,
       |  CASE WHEN score_ppm - prev_score_ppm IS NULL THEN 'baseline'
       |    WHEN score_ppm - prev_score_ppm <= -10000 THEN 'degraded'
       |    WHEN score_ppm - prev_score_ppm >= 10000 THEN 'improved'
       |    ELSE 'stable' END AS status
       |FROM d ORDER BY week_num""".stripMargin

  private def duckPpmSql(num: String, den: String): String =
    s"CAST(CASE WHEN $den > 0 THEN CAST($num AS HUGEINT) * 1000000 // $den END AS BIGINT)"
}
