package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Data-driven constraint discovery — the reference records engine
  * constraints beyond PK/FK (dbsurveyor-core/src/models.rs:156-175:
  * check / unique / not-null constraints read from the catalog); a
  * parquet lake has no constraint catalog, so graft INFERS constraint
  * CANDIDATES from the data itself, one row per candidate:
  *
  *  - `not_null`:  column observed fully non-null;
  *  - `unique`:    distinct count equals non-null count (a unique
  *                 constraint candidate; PK candidates are the
  *                 non-null+unique subset, KeyInference);
  *  - `range`:     observed [min,max] of integer columns — the
  *                 data-derived CHECK (c BETWEEN lo AND hi);
  *  - `enum`:      low-cardinality string domains (<= 10 distinct
  *                 values) — the data-derived CHECK (c IN (...)).
  *
  * Shape: one pruned single-column aggregation branch per column (the
  * same Expand-safe form as Profiler.profileTable — each branch scans
  * exactly one parquet column), then constraint rows are pure filters
  * over the per-column stats. Floating-point columns get no range
  * constraint (float min/max is a profiling surface, profile_table;
  * their text rendering is not cross-engine stable in general), and
  * enum domains come only from string columns.
  */
object ConstraintInference {

  private val enumMaxDistinct = 10

  private def keyable(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => false
    case _ => true
  }
  private def isIntType(dt: DataType): Boolean =
    dt == LongType || dt == IntegerType || dt == ShortType || dt == ByteType

  /** Per-column stats feeding the constraint filters: one branch per
    * column, unioned. Deliberately does NOT materialize value domains —
    * collect_set over an unbounded string column (document text at
    * 100 TB) is a driver/executor memory hazard, so domains are a
    * second, candidate-only pass in constraintsDf.
    */
  private def statsFor(tables: Seq[(String, DataFrame)],
      approx: Boolean): DataFrame =
    if (approx) statsForApprox(tables) else statsForExact(tables)

  /** Exact-mode stats, Expand-free (r8) — re-planned in the r14
    * optimization round. History: the first cut put countDistinct +
    * count/min/max in ONE no-group agg per column, and
    * RewriteDistinctAggregates plans that mix as a 2-projection Expand —
    * every branch's rows doubled before the partial aggregate; r8 split
    * the plain moments into ONE HashAggregate per table and gave every
    * column a LONE countDistinct branch (no Expand), which was correct
    * but planned a 51-branch union: the catalog-wide query ran ~125
    * Spark jobs for 196 tasks — AQE re-optimizes the whole surviving
    * plan after EVERY materialized exchange, so a 100+-stage union pays
    * a quadratic driver-side planning bill that dwarfed the scan work
    * (measured 7.3-9.7 s isolated at sf0.1 on 17 MB of input).
    *
    * r14 shape: distinct counts now ride ONE exchange per TYPE FAMILY
    * (long/double/string/timestamp — the KeyInference.foreignKeysFor
    * device): each table explodes its family columns to (cid, v) pairs
    * in a single scan projection, the family union deduplicates on
    * (cid, v) — map-side partial dedup, so the exchange carries at most
    * Σ|distinct| values exactly like the lone-branch form — and a
    * |columns|-row count-by-cid finishes. countDistinct(c) ≡ the
    * (cid, v)-distinct count by construction (same grouping-key
    * normalization — NaN and -0.0 collapse identically — NULLs filtered
    * as countDistinct ignores them; int→long widening is injective).
    * Columns of any other type (none in this catalog) keep the lone
    * countDistinct branch as the general fallback. Plan: 51 branches +
    * 51 exchanges → ~4 family pipelines + 8 plain per-table aggs.
    */
  private def statsForExact(tables: Seq[(String, DataFrame)]): DataFrame =
    columnStatsExact(tables)

  /** Package-visible: KeyInference.primaryKeysFor shares this exact
    * per-column stats pipeline (same columns, same family-distinct
    * device). */
  private[sources] def columnStatsExact(tables: Seq[(String, DataFrame)]): DataFrame = {
    val spark = tables.head._2.sparkSession
    import spark.implicits._
    val plain = tables.map { case (t, df) =>
      val fields = df.schema.fields.filter(f => keyable(f.dataType))
      val aggs = count(lit(1)).as("n_rows") +: fields.flatMap { f =>
        val c = col(f.name)
        val isInt = isIntType(f.dataType)
        Seq(count(c).as(s"nn_${f.name}"),
          (if (isInt) min(c).cast(LongType) else lit(null).cast(LongType))
            .as(s"mn_${f.name}"),
          (if (isInt) max(c).cast(LongType) else lit(null).cast(LongType))
            .as(s"mx_${f.name}"))
      }
      val one = df.agg(aggs.head, aggs.tail: _*)
      val structs = fields.map { f =>
        struct(lit(t).as("table_name"), lit(f.name).as("column_name"),
          lit(isIntType(f.dataType)).as("is_int"),
          lit(f.dataType == StringType).as("is_str"),
          col("n_rows"), col(s"nn_${f.name}").as("n_nonnull"),
          col(s"mn_${f.name}").as("min_l"), col(s"mx_${f.name}").as("max_l"))
      }
      one.select(inline(array(structs: _*)))
    }.reduce(_ unionByName _)
    // dense column ids; names rejoin via a tiny broadcast at the end
    val allCols: Seq[((String, String), DataType, Int)] = tables.flatMap {
      case (t, df) =>
        df.schema.fields.filter(f => keyable(f.dataType))
          .map(f => ((t, f.name), f.dataType))
    }.zipWithIndex.map { case ((tc, dt), i) => (tc, dt, i) }
    val names = allCols.map { case ((t, c), _, i) => (i, t, c) }
      .toDF("cid", "table_name", "column_name")
    def familyOf(dt: DataType): Option[DataType] = dt match {
      case LongType | IntegerType | ShortType | ByteType => Some(LongType)
      case DoubleType | FloatType => Some(DoubleType)
      case StringType => Some(StringType)
      case TimestampType => Some(TimestampType)
      case DateType => Some(DateType)
      case _ => None
    }
    val byTable = allCols.groupBy(_._1._1)
    val familyNd: Seq[DataFrame] = allCols.flatMap(c => familyOf(c._2))
      .distinct.map { fam =>
        tables.flatMap { case (t, df) =>
          val cols = byTable(t).filter(c => familyOf(c._2).contains(fam))
          if (cols.isEmpty) None
          else Some {
            val pairs = cols.map { case ((_, c), _, i) =>
              struct(lit(i).as("cid"), col(c).cast(fam).as("v"))
            }
            df.select(explode(array(pairs: _*)).as("p"))
              .select(col("p.cid").as("cid"), col("p.v").as("v"))
              .filter(col("v").isNotNull)
          }
        }.reduce(_ unionByName _)
          .distinct()
          .groupBy(col("cid")).agg(count(lit(1)).as("n_distinct"))
      }
    // general fallback for exotic types: lone countDistinct branch
    val loneNd: Seq[DataFrame] = allCols.filter(c => familyOf(c._2).isEmpty)
      .map { case ((t, c), _, i) =>
        tables.find(_._1 == t).get._2
          .agg(countDistinct(col(c)).as("n_distinct"))
          .select(lit(i).as("cid"), col("n_distinct"))
      }
    val nd = (familyNd ++ loneNd).reduce(_ unionByName _)
      .join(broadcast(names), Seq("cid"))
      .select(col("table_name"), col("column_name"), col("n_distinct"))
    plain.join(nd, Seq("table_name", "column_name"))
  }

  /** Approx-mode stats: ONE aggregation PER TABLE, not per column —
    * sketches compose inside a single agg with no Expand (the
    * profileTableApprox device), so each table is scanned once for ALL
    * its columns instead of once per column. The exact path cannot do
    * this (multiple countDistinct in one agg plans an Expand — PLANS.md
    * risk #1), which is precisely why the sketch form is the 100 TB
    * swap-in: 51 per-column scans collapse to one pass per table.
    * Estimates are identical to the per-column form (same sketches),
    * only the plan changes.
    */
  private def statsForApprox(tables: Seq[(String, DataFrame)]): DataFrame =
    tables.map { case (t, raw) =>
      // the one per-row-heavy pass: fan out here, and only here (the enum
      // domain pass is a small collect_set over the unfanned tables)
      val df = Tables.fanOut(raw, col(raw.columns.head))
      val fields = df.schema.fields.filter(f => keyable(f.dataType))
      val aggs = count(lit(1)).as("n_rows") +: fields.flatMap { f =>
        val c = col(f.name)
        val isInt = isIntType(f.dataType)
        Seq(count(c).as(s"nn_${f.name}"),
          approx_count_distinct(c, 0.05).as(s"nd_${f.name}"),
          (if (isInt) min(c).cast(LongType) else lit(null).cast(LongType))
            .as(s"mn_${f.name}"),
          (if (isInt) max(c).cast(LongType) else lit(null).cast(LongType))
            .as(s"mx_${f.name}"))
      }
      val one = df.agg(aggs.head, aggs.tail: _*)
      val structs = fields.map { f =>
        struct(lit(t).as("table_name"), lit(f.name).as("column_name"),
          lit(isIntType(f.dataType)).as("is_int"),
          lit(f.dataType == StringType).as("is_str"),
          col("n_rows"), col(s"nn_${f.name}").as("n_nonnull"),
          col(s"nd_${f.name}").as("n_distinct"),
          col(s"mn_${f.name}").as("min_l"), col(s"mx_${f.name}").as("max_l"))
      }
      one.select(inline(array(structs: _*)))
    }.reduce(_ unionByName _)

  /** Constraint-candidate rows over named tables:
    * (table_name, column_name, kind, detail).
    *
    * Two phases: (1) per-column stats, collected driver-side — bounded
    * by catalog width (columns), not data size, the same bounded-state
    * argument as Similarity's IVF centroids; (2) ONE job over only the
    * enum-candidate columns (cardinality already known <= 10, so
    * collect_set is bounded) for the sorted domains.
    */
  def constraintsDf(tables: Seq[(String, DataFrame)],
      approx: Boolean = false): DataFrame = {
    val spark = tables.head._2.sparkSession
    import spark.implicits._
    // degrade-don't-abort: a catalog with no scalar columns yields an
    // empty (correctly-typed) result instead of a planning error
    val eligible = tables.filter(_._2.schema.fields.exists(f => keyable(f.dataType)))
    if (eligible.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType.fromDDL("table_name STRING, column_name STRING, kind STRING, detail STRING"))
    val stats = statsFor(eligible, approx).collect().toSeq
    val base: Seq[(String, String, String, String)] = stats.flatMap { r =>
      val t = r.getAs[String]("table_name")
      val c = r.getAs[String]("column_name")
      val nRows = r.getAs[Long]("n_rows")
      val nn = r.getAs[Long]("n_nonnull")
      val nd = r.getAs[Long]("n_distinct")
      // exact mode: unique iff distinct == nonnull. approx mode: the HLL
      // estimate carries ±2% error, so the uniqueness test takes the
      // candidate form (nd within 5% of nn) — candidates feed an exact
      // shortlist verification at scale, the classic two-phase
      // approx mode: HLL rsd = 0.05 (r7: 0.02's 4096-register sketches
      // made the single ObjectHashAggregate pass 2.5x slower — register
      // buffers dominate partial/final serialization; 512 registers cut
      // the isolated run 10.5 -> 4.0 s). The candidate cut widens to 2
      // sigma (10%) so a truly-unique column one estimator-sigma low
      // still surfaces; candidates feed exact shortlist verification at
      // scale, so the wider net costs probes, never correctness.
      val uniq = if (approx) nd.toDouble >= nn * 0.90 else nd == nn
      Seq(
        if (nRows > 0 && nn == nRows) Some((t, c, "not_null", "")) else None,
        if (nn > 0 && uniq) Some((t, c, "unique", "")) else None,
        if (r.getAs[Boolean]("is_int") && nn > 0)
          Some((t, c, "range",
            s"[${r.getAs[Long]("min_l")},${r.getAs[Long]("max_l")}]"))
        else None).flatten
    }
    // enum candidates: approx admits a small overshoot; the exact domain
    // pass below restores exactness by dropping oversized domains
    val enumSlack = if (approx) (enumMaxDistinct * 1.2).toInt else enumMaxDistinct
    val enumCols: Seq[(String, String)] = stats
      .filter { r =>
        val nd = r.getAs[Long]("n_distinct")
        r.getAs[Boolean]("is_str") && nd >= 1 && nd <= enumSlack
      }
      .map(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")))
    val baseDf = base.toDF("table_name", "column_name", "kind", "detail")
    val byName = tables.toMap
    val out =
      if (enumCols.isEmpty) baseDf
      else {
        val enumDf = enumCols.map { case (t, c) =>
          byName(t).select(lit(t).as("table_name"), lit(c).as("column_name"),
            col(c).as("v")).filter(col("v").isNotNull)
        }.reduce(_ unionByName _)
          .groupBy(col("table_name"), col("column_name"))
          // JSON-array encoding (not a raw comma join): a domain value
          // containing ',' would otherwise split into bogus IN-list
          // entries when the CHECK clause is rendered (SqlDdlDoc parses
          // this back); byte-identical to DuckDB's to_json(list_sort(...))
          .agg(sort_array(collect_set(col("v"))).as("domain"))
          // exact cardinality cut (restores exactness under approx slack)
          .filter(size(col("domain")) <= enumMaxDistinct)
          .select(col("table_name"), col("column_name"),
            lit("enum").as("kind"), to_json(col("domain")).as("detail"))
        baseDf.unionByName(enumDf)
      }
    out.orderBy(col("table_name"), col("column_name"), col("kind"))
  }

  /** SparkEntry operator: constraint candidates over the whole catalog. */
  def inferConstraints(spark: SparkSession, dir: String): DataFrame =
    constraintsDf(Tables.all.map(t => t -> Tables.table(spark, dir, t)))

  /** The 100 TB swap-in, registered for real (rows-only gate — HLL
    * sketches are not cross-engine reproducible, the
    * profile_table_approx precedent): identical plan shape with
    * approx_count_distinct(2%) replacing the exact distinct in every
    * per-column branch. `unique` becomes a CANDIDATE (nd within 5% of
    * nonnull) for exact shortlist verification; enum domains stay exact
    * (the candidate-only collect_set pass re-checks cardinality), as do
    * not_null and range. Spec asserts the approx run finds every exact
    * not_null/range row and a superset-of-exact unique candidate set.
    */
  def inferConstraintsApprox(spark: SparkSession, dir: String): DataFrame =
    constraintsDf(Tables.all.map(t => t -> Tables.table(spark, dir, t)), approx = true)

  /** Artifact embedding: per-table ConstraintInfo lists with
    * deterministic names (`<kind>_<table>_<column>`).
    */
  def constraintsFor(tables: Seq[(String, DataFrame)])
      : Map[String, Seq[Collector.ConstraintInfo]] =
    constraintsDf(tables).collect().toSeq
      .map { r =>
        val (t, c, k, d) = (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
        t -> Collector.ConstraintInfo(s"${k}_${t}_$c", k, Seq(c), d)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  /** Static catalog column classification for the DuckDB oracle (the
    * testdata schema; the Spark side enumerates dynamically).
    * kind flags: i = integer (range-eligible), s = string
    * (enum-eligible), t = other scalar (timestamps, floats).
    * events.ts is ns in parquet but truncated to µs by the Spark
    * reader, so the oracle counts distinct microseconds (epoch_us).
    */
  private val catalogColumns: Seq[(String, String, Char)] = Seq(
    ("region", "r_regionkey", 'i'), ("region", "r_name", 's'),
    ("nation", "n_nationkey", 'i'), ("nation", "n_name", 's'),
    ("nation", "n_regionkey", 'i'),
    ("customer", "c_custkey", 'i'), ("customer", "c_name", 's'),
    ("customer", "c_nationkey", 'i'), ("customer", "c_acctbal", 't'),
    ("customer", "c_mktsegment", 's'),
    ("supplier", "s_suppkey", 'i'), ("supplier", "s_name", 's'),
    ("supplier", "s_nationkey", 'i'), ("supplier", "s_acctbal", 't'),
    ("part", "p_partkey", 'i'), ("part", "p_name", 's'),
    ("part", "p_brand", 's'), ("part", "p_type", 's'),
    ("part", "p_size", 'i'), ("part", "p_retailprice", 't'),
    ("orders", "o_orderkey", 'i'), ("orders", "o_custkey", 'i'),
    ("orders", "o_orderstatus", 's'), ("orders", "o_totalprice", 't'),
    ("orders", "o_orderdate", 't'), ("orders", "o_orderpriority", 's'),
    ("lineitem", "l_orderkey", 'i'), ("lineitem", "l_partkey", 'i'),
    ("lineitem", "l_suppkey", 'i'), ("lineitem", "l_linenumber", 'i'),
    ("lineitem", "l_quantity", 't'), ("lineitem", "l_extendedprice", 't'),
    ("lineitem", "l_discount", 't'), ("lineitem", "l_tax", 't'),
    ("lineitem", "l_returnflag", 's'), ("lineitem", "l_linestatus", 's'),
    ("lineitem", "l_shipdate", 't'),
    ("events", "event_id", 'i'), ("events", "ts", 't'),
    ("events", "user_id", 'i'), ("events", "event_type", 's'),
    ("events", "value", 't'), ("events", "props", 's'),
    ("documents", "doc_id", 'i'), ("documents", "text", 's'),
    ("documents", "lang", 's'), ("documents", "source", 's'),
    ("documents", "n_chars", 'i'),
    ("embeddings", "vec_id", 'i'), ("embeddings", "label", 'i'))

  val inferConstraintsSql: String = {
    val stats = catalogColumns.map { case (t, c, kind) =>
      val e = if (t == "events" && c == "ts") "epoch_us(ts)" else c
      val minMax =
        if (kind == 'i') s"CAST(min($c) AS BIGINT) AS min_l, CAST(max($c) AS BIGINT) AS max_l"
        else "CAST(NULL AS BIGINT) AS min_l, CAST(NULL AS BIGINT) AS max_l"
      val domain =
        if (kind == 's')
          s"CAST(to_json(list_sort(list(DISTINCT $c) FILTER (WHERE $c IS NOT NULL))) AS VARCHAR) AS domain"
        else "CAST(NULL AS VARCHAR) AS domain"
      s"""SELECT '$t' AS table_name, '$c' AS column_name,
         |  ${kind == 'i'} AS is_int, ${kind == 's'} AS is_str,
         |  count(*) AS n_rows, count($e) AS n_nonnull,
         |  count(DISTINCT $e) AS n_distinct, $minMax, $domain
         |FROM $t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH stats AS ($stats)
       |SELECT table_name, column_name, 'not_null' AS kind, '' AS detail
       |FROM stats WHERE n_rows > 0 AND n_nonnull = n_rows
       |UNION ALL
       |SELECT table_name, column_name, 'unique' AS kind, '' AS detail
       |FROM stats WHERE n_nonnull > 0 AND n_distinct = n_nonnull
       |UNION ALL
       |SELECT table_name, column_name, 'range' AS kind,
       |  '[' || CAST(min_l AS VARCHAR) || ',' || CAST(max_l AS VARCHAR) || ']' AS detail
       |FROM stats WHERE is_int AND n_nonnull > 0
       |UNION ALL
       |SELECT table_name, column_name, 'enum' AS kind, domain AS detail
       |FROM stats WHERE is_str AND n_distinct BETWEEN 1 AND $enumMaxDistinct
       |ORDER BY table_name, column_name, kind""".stripMargin
  }
}
