package graft.profile

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.GlobalRank

/** Equi-depth (decile) histograms of the numeric profile columns — the
  * statistic a query optimizer and a drift monitor both want where
  * q_histogram's fixed-width buckets waste resolution on skewed money
  * columns: boundaries at the exact p10..p90 so every bucket holds ~10%
  * of rows, then per-bucket counts.
  *
  * Shape per column: the boundary percentiles come from a DISTRIBUTED
  * exact order statistic — GlobalRank's sampled range exchange +
  * per-partition sort + partition offsets — not from Spark's `percentile`
  * aggregate. The builtin is exact but funnels a per-partition
  * value→count map of every distinct value into ONE final merge task: a
  * data-sized single-task reduce on a mostly-distinct double column (it
  * measured 29 s at sf0.1, 6x the next-slowest query in the round-6
  * bench, and at 100 TB it would simply not finish). Here the full sort
  * work is spread across all partitions; only the ≤2·(nBuckets−1) rows
  * sitting AT the interpolation ranks are collected (bounded driver
  * state), and the interpolated boundaries are folded back into the
  * bucket-assignment scan as plain literals — no crossJoin, and the
  * boundary array no longer rides every row through the shuffle. The
  * checkpointed ranked frame doubles as the bucket-pass input, so the
  * parquet column is scanned once. Interpolation reproduces the builtin's
  * arithmetic term-for-term ((ceil−pos)·lo + (pos−floor)·hi at
  * pos = p·(n−1)), so the hash contract with DuckDB's quantile_cont is
  * unchanged. Ties across the rank boundary are benign: equal ranks can
  * permute only equal values, and interpolation depends on values alone.
  *
  * Duplicate-heavy columns can produce repeated boundaries and therefore
  * empty buckets: that IS the equi-depth answer for a stepped
  * distribution, both engines agree bit-for-bit on it.
  */
object Histogram {

  val histCols: Seq[(String, String)] = Seq(
    ("customer", "c_acctbal"), ("events", "value"),
    ("lineitem", "l_extendedprice"), ("lineitem", "l_quantity"),
    ("orders", "o_totalprice"))

  val nBuckets = 10

  def profileHistogram(spark: SparkSession, dir: String): DataFrame = {
    val pcts = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    // r14 optimization round (guide §2.6): the per-column decile probes
    // are independent job chains — run them from driver futures so the
    // five columns' sorts overlap instead of serializing; Future.sequence
    // preserves column order, so the unioned output is unchanged.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(histCols.map { case (t, c) => Future {
      val vals = Tables.table(spark, dir, t)
        .select(col(c).cast("double").as("x")).filter(col("x").isNotNull)
      // distributed exact order statistics: sort the column once, pull
      // only the rows at the interpolation positions (r14 optimization
      // round: GlobalRank.orderStats — no full ranked frame, no
      // checkpoint of the whole column)
      val (n, _, at) = GlobalRank.orderStats(vals, Seq(col("x")), None,
        nn => pcts.map(_ * (nn - 1))
          .flatMap(p => Seq(p.floor.toLong + 1, p.ceil.toLong + 1)))
      val bs: Seq[Double] =
        if (n == 0) Seq.fill(pcts.size)(0.0)
        else {
          val positions = pcts.map(_ * (n - 1))
          val atRank: Map[Long, Double] =
            at.map { case (r, row) => r -> row.getDouble(0) }
          positions.map { pos =>
            val (fl, cl) = (pos.floor.toLong, pos.ceil.toLong)
            if (fl == cl) atRank(fl + 1)
            else (cl - pos) * atRank(fl + 1) + (pos - fl) * atRank(cl + 1)
          }
        }
      val bsLit: Column = array(bs.map(lit): _*)
      vals
        .select(size(filter(bsLit, b => col("x") >= b)).cast("int").as("bucket"),
          col("x"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), min(col("x")).as("min_v"),
          max(col("x")).as("max_v"))
        .select(lit(t).as("table_name"), lit(c).as("column_name"), col("bucket"),
          when(col("bucket") === 0, lit(null).cast("double"))
            .otherwise(element_at(bsLit, col("bucket"))).as("lo_bound"),
          when(col("bucket") === nBuckets - 1, lit(null).cast("double"))
            .otherwise(element_at(bsLit, col("bucket") + 1)).as("hi_bound"),
          col("n_rows"), col("min_v"), col("max_v"))
    } }), Duration.Inf).reduce(_ unionByName _)
      .orderBy(col("table_name"), col("column_name"), col("bucket"))
  }

  val profileHistogramSql: String = {
    val pcts = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    histCols.map { case (t, c) =>
      s"""SELECT '$t' AS table_name, '$c' AS column_name, bucket,
         |  CASE WHEN bucket = 0 THEN NULL ELSE bs[bucket] END AS lo_bound,
         |  CASE WHEN bucket = ${nBuckets - 1} THEN NULL ELSE bs[bucket + 1] END AS hi_bound,
         |  count(*) AS n_rows, min(x) AS min_v, max(x) AS max_v
         |FROM (
         |  SELECT CAST(len(list_filter(bs, b -> x >= b)) AS INT) AS bucket, x, bs
         |  FROM (SELECT CAST($c AS DOUBLE) AS x FROM $t WHERE $c IS NOT NULL),
         |       (SELECT quantile_cont(CAST($c AS DOUBLE), [${pcts.mkString(", ")}]) AS bs
         |        FROM $t WHERE $c IS NOT NULL))
         |GROUP BY bucket, bs
         |""".stripMargin
    }.mkString("", "\nUNION ALL\n", "ORDER BY table_name, column_name, bucket")
  }
}
