package graft.profile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Value-pattern (mask) profiling — the classic data-profiler feature
  * the reference's per-column profile implies but never ships: every
  * string value is reduced to a character-class mask (uppercase → `A`,
  * lowercase → `a`, digit → `9`, everything else kept verbatim), runs
  * collapsed (`Aaaaaaaa#999999999` → `Aa#9`), and each (table, column)
  * reports its collapsed-mask distribution — the one-screen answer to
  * "does this column have a format, and how many formats violate it"
  * (phone/ID/code columns surface malformed rows as minority masks).
  *
  * Scale shape: ONE pruned scan per table (`stack` unpivots the
  * selected string columns in-row — no Expand wider than the column
  * list, no join), a (table, column, mask)-keyed two-phase aggregation
  * whose key space is bounded by the format diversity (masks, not
  * values), and a broadcast of the ≤|columns| per-column totals for the
  * exact ppm share. Mask rewriting is three codegen'd regexp_replace
  * calls per side — identical regex semantics in Spark and DuckDB (both
  * replace ALL occurrences; DuckDB needs the explicit 'g' flag).
  *
  * The distinct raw-mask count per collapsed mask (`n_raw_masks`) rides
  * along: a collapsed mask with many raw widths (`9` covering 1-18
  * digit runs) vs exactly one fixed-width raw mask is the
  * fixed-format-vs-free-text signal profilers key on.
  */
object Patterns {

  /** (table, columns) to profile — the catalog's string surface. */
  val patternCols: Seq[(String, Seq[String])] = Seq(
    "customer"  -> Seq("c_name", "c_mktsegment"),
    "supplier"  -> Seq("s_name"),
    "part"      -> Seq("p_name", "p_brand", "p_type"),
    "orders"    -> Seq("o_orderstatus", "o_orderpriority"),
    "events"    -> Seq("event_type", "props"),
    "documents" -> Seq("lang", "source"))

  /** Raw char-class mask (shared with the streaming maskGate twin). */
  def maskExpr(v: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($v, '[A-Z]', 'A'), " +
      "'[a-z]', 'a'), '[0-9]', '9')"

  /** Run-collapsed mask (shared with the streaming maskGate twin). */
  def collapseExpr(v: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($v, 'A+', 'A'), " +
      "'a+', 'a'), '9+', '9')"

  /** `translate`-based raw mask — identical output to maskExpr's regex
    * battery on every string (both touch exactly the ASCII [A-Z] /
    * [a-z] / [0-9] ranges) at a fraction of the per-row cost: one char
    * map instead of three regex passes (r14, guide §4). Shared by the
    * batch profiler and the streaming maskGate twin so batch/stream
    * masks stay one definition.
    */
  private val maskFrom = (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9')).mkString
  private val maskTo = "A" * 26 + "a" * 26 + "9" * 10
  def maskRaw(c: Column): Column = translate(c, maskFrom, maskTo)

  /** Column form of collapseExpr (for callers without a SQL-fragment
    * seam, e.g. the streaming twin). */
  def collapseCol(c: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(c, "A+", "A"),
      "a+", "a"), "9+", "9")

  def valuePatterns(spark: SparkSession, dir: String): DataFrame = {
    val perTable = patternCols.map { case (tbl, cols) =>
      val stackArgs = cols.map(c => s"'$c', CAST($c AS STRING)").mkString(", ")
      Tables.table(spark, dir, tbl)
        .selectExpr(s"stack(${cols.size}, $stackArgs) AS (col_name, v)")
        .select(lit(tbl).as("tbl"), col("col_name"), col("v"))
    }
    // NULL keeps its own mask (`<null>`), assigned AFTER masking so a
    // genuine value that happens to look like the marker can't merge
    // with the null class.
    //
    // r14 expression rewrite (guide §4), same outputs by construction:
    // (1) the raw char-class mask is a `translate` char map — identical
    //     to the [A-Z]/[a-z]/[0-9] regexp_replace battery on every
    //     string (both touch exactly the ASCII ranges), at a fraction
    //     of the per-row cost;
    // (2) the 3-regex run-collapse moves BEHIND a group-by on the raw
    //     mask, so it runs once per DISTINCT raw mask, not once per
    //     row. The raw-mask partial aggregate collapses the corpus
    //     map-side exactly like countDistinct's internal first phase
    //     did, so the exchange carries the same rows as before.
    // n_raw_masks stays countDistinct(mask_raw) over the pre-grouped
    // rows (exact same semantics, now over a tiny input); example =
    // min over per-raw-group mins ≡ min over rows.
    val byRaw = perTable.reduce(_ unionByName _)
      .withColumn("mask_raw",
        coalesce(maskRaw(col("v")), lit("<null>")))
      .groupBy(col("tbl"), col("col_name"), col("mask_raw"),
        col("v").isNull.as("is_null"))
      .agg(count(lit(1)).as("n_rows_raw"),
        min(coalesce(col("v"), lit(""))).as("example_raw"))
    val byMask = byRaw
      .withColumn("mask",
        when(col("is_null"), lit("<null>"))
          .otherwise(expr(collapseExpr("mask_raw"))))
      .groupBy(col("tbl"), col("col_name"), col("mask"))
      .agg(sum(col("n_rows_raw")).as("n_rows"),
        countDistinct(col("mask_raw")).as("n_raw_masks"),
        min(col("example_raw")).as("example"))
    val totals = byMask.groupBy(col("tbl"), col("col_name"))
      .agg(sum(col("n_rows")).as("col_total")) // ≤ |columns| rows
    byMask.join(broadcast(totals), Seq("tbl", "col_name"))
      .select(col("tbl"), col("col_name"), col("mask"), col("n_rows"),
        col("n_raw_masks"),
        expr("CAST(n_rows * 1000000 DIV col_total AS BIGINT)")
          .as("share_ppm"),
        col("example"))
      .orderBy(col("tbl"), col("col_name"), col("n_rows").desc, col("mask"))
  }

  /** Frequent-values profile — the "top values" panel every profiler
    * shows beside the stats: per profiled string column, the k most
    * frequent NON-NULL values with exact counts, ppm share of non-null
    * rows, and the column's exact distinct-value count.
    *
    * Scale discipline: the obvious
    * `row_number().over(partitionBy(tbl,col).orderBy(cnt))` ranks a
    * partition per COLUMN whose size is that column's distinct count —
    * data-sized for an id-like column (c_name is one row per customer),
    * exactly the window shape the house bans. Instead the (tbl, col,
    * value) count feeds a BOUNDED typed Aggregator (the TopKAgg device,
    * string-valued): k (count, value) pairs per group per partition,
    * merged map-side — shuffle volume k·partitions per column,
    * independent of cardinality. Ordering (count desc, value asc) is
    * total, so ranks are deterministic cross-engine.
    */
  val topK = 5

  type VEntry = (Long, String) // (count, value) — count desc, value asc

  class TopVals(k: Int)(implicit enc: org.apache.spark.sql.Encoder[Seq[VEntry]])
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, Long, String), Seq[VEntry], Seq[VEntry]] {
    private def beats(a: VEntry, b: VEntry): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    def zero: Seq[VEntry] = Seq.empty
    def reduce(b: Seq[VEntry], r: (String, Long, String)): Seq[VEntry] = {
      val e = (r._2, r._3)
      if (b.length == k && !beats(e, b(k - 1))) b
      else {
        val i = b.indexWhere(x => beats(e, x))
        val at = if (i < 0) b.length else i
        ((b.take(at) :+ e) ++ b.drop(at)).take(k)
      }
    }
    def merge(a: Seq[VEntry], b: Seq[VEntry]): Seq[VEntry] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[VEntry]
      var i = 0; var j = 0
      while (out.length < k && (i < a.length || j < b.length)) {
        if (j >= b.length || (i < a.length && beats(a(i), b(j)))) {
          out += a(i); i += 1
        } else { out += b(j); j += 1 }
      }
      out.toSeq
    }
    def finish(r: Seq[VEntry]): Seq[VEntry] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Seq[VEntry]] = enc
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[VEntry]] = enc
  }

  def topValues(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perTable = patternCols.map { case (tbl, cols) =>
      val stackArgs = cols.map(c => s"'$c', CAST($c AS STRING)").mkString(", ")
      Tables.table(spark, dir, tbl)
        .selectExpr(s"stack(${cols.size}, $stackArgs) AS (col_name, v)")
        .select(lit(tbl).as("tbl"), col("col_name"), col("v"))
        .filter(col("v").isNotNull)
    }
    val counts = perTable.reduce(_ unionByName _)
      .groupBy(col("tbl"), col("col_name"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // totals + top-k both read these blocks
    val totals = counts.groupBy(col("tbl"), col("col_name"))
      .agg(sum(col("cnt")).as("col_total"),
        count(lit(1)).as("n_distinct")) // ≤ |columns| rows
    val agg = new TopVals(topK)
    val top = counts
      .select(concat_ws("\u0001", col("tbl"), col("col_name")).as("key"),
        col("cnt"), col("v"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
      .agg(agg.toColumn)
      .flatMap { case (key, entries) =>
        val sep = key.indexOf('\u0001')
        val (t, c) = (key.substring(0, sep), key.substring(sep + 1))
        entries.zipWithIndex.map { case ((n, v), i) => (t, c, i + 1, v, n) }
      }
      .toDF("tbl", "col_name", "rank", "v", "n_rows")
    top.join(broadcast(totals), Seq("tbl", "col_name"))
      .select(col("tbl"), col("col_name"), col("rank"), col("v"),
        col("n_rows"),
        expr("CAST(n_rows * 1000000 DIV col_total AS BIGINT)")
          .as("share_ppm"),
        col("n_distinct"))
      .orderBy(col("tbl"), col("col_name"), col("rank"))
  }

  val topValuesSql: String = {
    val branches = patternCols.flatMap { case (tbl, cols) =>
      cols.map { c =>
        s"SELECT '$tbl' AS tbl, '$c' AS col_name, " +
          s"CAST($c AS VARCHAR) AS v FROM $tbl WHERE $c IS NOT NULL"
      }
    }.mkString("\n  UNION ALL ")
    s"""WITH unpivoted AS (
       |  $branches),
       |counts AS (
       |  SELECT tbl, col_name, v, count(*) AS cnt
       |  FROM unpivoted GROUP BY tbl, col_name, v),
       |totals AS (
       |  SELECT tbl, col_name, sum(cnt) AS col_total,
       |    count(*) AS n_distinct
       |  FROM counts GROUP BY tbl, col_name),
       |ranked AS (
       |  SELECT tbl, col_name, v, cnt,
       |    CAST(row_number() OVER (PARTITION BY tbl, col_name
       |      ORDER BY cnt DESC, v ASC) AS INTEGER) AS rank
       |  FROM counts)
       |SELECT tbl, col_name, rank, v, CAST(cnt AS BIGINT) AS n_rows,
       |  CAST((CAST(cnt AS HUGEINT) * 1000000) // col_total AS BIGINT)
       |    AS share_ppm,
       |  CAST(n_distinct AS BIGINT) AS n_distinct
       |FROM ranked JOIN totals USING (tbl, col_name)
       |WHERE rank <= $topK
       |ORDER BY tbl, col_name, rank""".stripMargin
  }

  /** Join-key skew pre-flight — the "do I need salting" report for
    * every fact join key, the join-side twin of graph_degree_profile's
    * hub check: per (table, key column): rows, exact distinct keys, the
    * hottest key's row count and exact ppm share of the table, and the
    * skew factor (hottest/average) in exact integer ppm
    * (max·n_keys·1e6 DIV n_rows — 1e6 = perfectly uniform). A key
    * whose hottest value holds a disproportionate share is the one
    * that stalls a co-shuffled join's straggler task at 100 TB; this
    * report is what justifies (or spares) the SkewTools salting pass.
    *
    * Scale shape: per key ONE keyed two-phase count (map-side
    * combined) feeding a 1-row rollup; max share is max-of-counts —
    * never a sort; branches union into a ≤\|keys\|-row report.
    */
  val skewKeys: Seq[(String, String)] = Seq(
    "lineitem" -> "l_orderkey", "lineitem" -> "l_partkey",
    "lineitem" -> "l_suppkey", "orders" -> "o_custkey",
    "events" -> "user_id")

  def joinSkew(spark: SparkSession, dir: String): DataFrame = {
    val branches = skewKeys.map { case (tbl, k) =>
      Tables.table(spark, dir, tbl)
        .groupBy(col(k).as("key")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
          max(col("c")).as("max_key_rows"))
        .select(lit(tbl).as("tbl"), lit(k).as("key_col"),
          col("n_rows"), col("n_keys"), col("max_key_rows"),
          // Decimal(38,0) mirrors the oracle's HUGEINT: max·keys·1e6
          // wraps LongType exactly on the pathologically-skewed tables
          // this pre-flight exists to flag (1e8 rows × 1e8 keys ≈ 1e22).
          expr("CAST(CAST(max_key_rows AS DECIMAL(38,0)) * 1000000" +
            " DIV n_rows AS BIGINT)").as("max_share_ppm"),
          expr("CAST(CAST(max_key_rows AS DECIMAL(38,0)) * n_keys" +
            " * 1000000 DIV n_rows AS BIGINT)").as("skew_factor_ppm"))
    }
    branches.reduce(_ unionByName _).orderBy(col("tbl"), col("key_col"))
  }

  val joinSkewSql: String = {
    val branches = skewKeys.map { case (tbl, k) =>
      s"""SELECT '$tbl' AS tbl, '$k' AS key_col,
         |  CAST(sum(c) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  CAST(max(c) AS BIGINT) AS max_key_rows,
         |  CAST((CAST(max(c) AS HUGEINT) * 1000000) // sum(c) AS BIGINT)
         |    AS max_share_ppm,
         |  CAST((CAST(max(c) AS HUGEINT) * count(*) * 1000000) // sum(c)
         |    AS BIGINT) AS skew_factor_ppm
         |FROM (SELECT $k, count(*) AS c FROM $tbl GROUP BY $k)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT * FROM (
       |$branches)
       |ORDER BY tbl, key_col""".stripMargin
  }

  val valuePatternsSql: String = {
    val branches = patternCols.flatMap { case (tbl, cols) =>
      cols.map { c =>
        s"SELECT '$tbl' AS tbl, '$c' AS col_name, " +
          s"CAST($c AS VARCHAR) AS v FROM $tbl"
      }
    }.mkString("\n  UNION ALL ")
    s"""WITH unpivoted AS (
       |  $branches),
       |masked AS (
       |  SELECT tbl, col_name, v,
       |    coalesce(regexp_replace(regexp_replace(regexp_replace(v,
       |      '[A-Z]', 'A', 'g'), '[a-z]', 'a', 'g'), '[0-9]', '9', 'g'),
       |      '<null>') AS mask_raw
       |  FROM unpivoted),
       |collapsed AS (
       |  SELECT tbl, col_name, v, mask_raw,
       |    CASE WHEN v IS NULL THEN '<null>'
       |      ELSE regexp_replace(regexp_replace(regexp_replace(mask_raw,
       |        'A+', 'A', 'g'), 'a+', 'a', 'g'), '9+', '9', 'g') END AS mask
       |  FROM masked),
       |by_mask AS (
       |  SELECT tbl, col_name, mask, count(*) AS n_rows,
       |    count(DISTINCT mask_raw) AS n_raw_masks,
       |    min(coalesce(v, '')) AS example
       |  FROM collapsed GROUP BY tbl, col_name, mask),
       |totals AS (
       |  SELECT tbl, col_name, sum(n_rows) AS col_total
       |  FROM by_mask GROUP BY tbl, col_name)
       |SELECT tbl, col_name, mask, CAST(n_rows AS BIGINT) AS n_rows,
       |  CAST(n_raw_masks AS BIGINT) AS n_raw_masks,
       |  CAST((CAST(n_rows AS HUGEINT) * 1000000) // col_total AS BIGINT)
       |    AS share_ppm,
       |  example
       |FROM by_mask JOIN totals USING (tbl, col_name)
       |ORDER BY tbl, col_name, n_rows DESC, mask""".stripMargin
  }
}
