package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Distributed global ranks, prefix sums and order statistics — the
  * scale-safe replacement for `rank`, `ntile` or `sum` over a
  * `Window.orderBy(...)` with no partitionBy, which plans a
  * single-partition WindowExec that funnels every row through one task.
  *
  * Every entry point runs one algorithm over a frame of n rows:
  *  1. sort: `repartitionByRange(partsFor(n), keys)` — the sampled,
  *     parallel range exchange a global ORDER BY uses — then
  *     `sortWithinPartitions(keys)`. `partsFor(n)` is ceil(n / 65,536)
  *     capped at the session's shuffle partitions;
  *  2. fold: one job folds each partition's (row count, sum of an
  *     optional LONG column) — one pair of driver state per partition;
  *  3. offset: the exclusive scan of those pairs is each partition's
  *     offset;
  *  4. emit: each row gets offset + running value. A rank is the prefix
  *     sum of 1, a cumsum the prefix sum of a LONG column, and
  *     [[orderStats]] uses the offsets to collect only the rows at its
  *     target ranks.
  *
  * One-partition rule: at one partition every offset is 0, so there is
  * no fold job (unless [[orderStats]] asks for a sum total), and the
  * range exchange runs no sampling job.
  *
  * Persist rule: the sorted partitions are not persisted; the fold and
  * the emit each read the exchange's shuffle output again and re-sort
  * it. An entry point that counts its own input persists that input
  * (unless the caller already cached it) for the count, the sampling and
  * the exchange, and unpersists it once its result is materialized. Rank
  * and cumsum frames come back `localCheckpoint`ed, so chained rankings
  * and later actions do not recompute the exchange.
  *
  * Results are a pure function of the total order, so the sampled range
  * bounds cannot change them; `keys` must end in a unique tiebreak so
  * that the order IS total. The `.rdd` drop is deliberate: Spark has no
  * declarative contiguous global rank without a single-partition window.
  */
object GlobalRank {

  /** Adds a 1-based contiguous global rank column under `keys`. */
  def withGlobalRank(df: DataFrame, rankCol: String, keys: Column*): DataFrame =
    counted(df)((input, n) => withGlobalRanks(input, n, Seq(rankCol -> keys)))

  /** Adds one rank column per (rankCol, keys) ordering to a frame of `n`
    * rows, ranking each ordering in turn and checkpointing once. */
  def withGlobalRanks(df: DataFrame, n: Long,
      specs: Seq[(String, Seq[Column])]): DataFrame =
    specs.foldLeft(df) { case (cur, (rankCol, keys)) =>
      withPrefixSum(cur, n, keys, None, rankCol)
    }.localCheckpoint()

  /** Adds an inclusive global prefix sum of the LONG `valueCol` under
    * `keys` — the replacement for `sum(x).over(Window.orderBy(...))`. */
  def withGlobalCumsum(df: DataFrame, valueCol: String, cumCol: String,
      keys: Column*): DataFrame =
    counted(df) { (input, n) =>
      withPrefixSum(input, n, keys, Some(valueCol), cumCol).localCheckpoint()
    }

  /** Exact order statistics without a ranked frame: returns (n, sum of
    * `sumCol` over all rows (0 when None), rank → row) for the 1-based
    * ranks `ranksFor(n)` under `keys`. Out-of-range ranks are ignored;
    * n == 0 returns an empty map with no sort at all. Only the
    * partitions that hold a target rank are read for the rows.
    */
  def orderStats(df: DataFrame, keys: Seq[Column], sumCol: Option[String],
      ranksFor: Long => Seq[Long]): (Long, Long, Map[Long, Row]) =
    counted(df) { (input, n) =>
      if (n == 0L) (0L, 0L, Map.empty[Long, Row])
      else {
        val s = sortByRange(input, n, keys, sumCol)
        val total = if (sumCol.isEmpty) 0L else s.scan.last._2
        val before = s.offsets.map(_._1)
        // rank r lives in the last partition p with before(p) < r
        val byPid: Map[Int, Seq[Long]] = ranksFor(n).distinct
          .filter(r => r >= 1L && r <= n)
          .map { r => val p = before.lastIndexWhere(_ < r); (p, r - before(p)) }
          .groupBy(_._1).map { case (p, rs) => p -> rs.map(_._2).sorted }
        val found = if (byPid.isEmpty) Array.empty[Array[(Long, Row)]]
          else s.rows.sparkContext.runJob(s.rows,
          (ctx: org.apache.spark.TaskContext, it: Iterator[Row]) => {
            val pid = ctx.partitionId()
            val locals = byPid(pid)
            val out = Array.newBuilder[(Long, Row)]
            var i = 0L; var k = 0
            while (it.hasNext && k < locals.length) {
              val row = it.next(); i += 1L
              if (i == locals(k)) { out += ((before(pid) + i, row)); k += 1 }
            }
            out.result()
          },
          byPid.keys.toSeq.sorted)
        (n, total, found.flatten.toMap)
      }
    }

  /** Runs `body` on `df` and its row count. An input the caller has not
    * cached is persisted for the count and the sort that follows, and
    * unpersisted once `body` has returned its materialized result.
    */
  private def counted[T](df: DataFrame)(body: (DataFrame, Long) => T): T = {
    val weCache = df.storageLevel == StorageLevel.NONE
    val input = if (weCache) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    try body(input, input.count())
    finally if (weCache) input.unpersist(blocking = false)
  }

  /** Target rows per range partition: exact ranking is cheap per row,
    * so the point is the lower bound (one partition for a small frame),
    * not a cap on parallelism (that is the session's shuffle partitions).
    */
  private val RowsPerRankPartition = 65536L

  private def partsFor(spark: org.apache.spark.sql.SparkSession, n: Long): Int = {
    val maxParts = spark.sessionState.conf.numShufflePartitions
    math.max(1L, math.min(maxParts.toLong,
      (n + RowsPerRankPartition - 1) / RowsPerRankPartition)).toInt
  }

  /** Rows sorted into range partitions. `scan(p)` is the (rows, Σ column
    * `sumIdx`, or 0 when it is -1) of the partitions before p, and its
    * last entry the totals: the fold job, run when first read. `offsets`
    * is the same scan, all zero and with no job at one partition.
    */
  private final class Sorted(val rows: RDD[Row], val schema: StructType,
      val sumIdx: Int) {
    lazy val scan: Array[(Long, Long)] = {
      val idx = sumIdx
      rows.mapPartitions { it =>
        var c = 0L; var s = 0L
        it.foreach { r => c += 1L; if (idx >= 0) s += r.getLong(idx) }
        Iterator((c, s))
      }.collect().scanLeft((0L, 0L)) { case ((c, s), (dc, ds)) => (c + dc, s + ds) }
    }
    def offsets: Array[(Long, Long)] =
      if (rows.getNumPartitions == 1) Array((0L, 0L)) else scan
  }

  private def sortByRange(input: DataFrame, n: Long, keys: Seq[Column],
      sumCol: Option[String]): Sorted = {
    val sorted = input.repartitionByRange(partsFor(input.sparkSession, n), keys: _*)
      .sortWithinPartitions(keys: _*)
    new Sorted(sorted.rdd, sorted.schema, sumCol.fold(-1)(sorted.schema.fieldIndex))
  }

  /** `input` plus `outCol`: the running count (valueCol None) or running
    * sum of `valueCol` under `keys`, each partition starting at its offset.
    */
  private def withPrefixSum(input: DataFrame, n: Long, keys: Seq[Column],
      valueCol: Option[String], outCol: String): DataFrame = {
    val s = sortByRange(input, n, keys, valueCol)
    val vIdx = s.sumIdx
    val offsets = s.offsets.map(o => if (vIdx < 0) o._1 else o._2)
    val out = s.rows.mapPartitionsWithIndex { (pid, it) =>
      var run = offsets(pid)
      it.map { r =>
        run += (if (vIdx < 0) 1L else r.getLong(vIdx))
        Row.fromSeq(r.toSeq :+ run)
      }
    }
    input.sparkSession.createDataFrame(out,
      StructType(s.schema :+ StructField(outCol, LongType, nullable = false)))
  }

  /** SQL-standard NTILE(k) as a closed-form expression over a contiguous
    * 1-based rank: with q = n DIV k and r = n MOD k, tiles 1..r hold q+1
    * rows and tiles r+1..k hold q — exactly Spark's and DuckDB's `ntile`
    * semantics, so parity with a real ntile window over the same total
    * order is bit-exact. All bounds are folded literals (n comes from a
    * single driver-side count — one Long of driver state), so the score
    * assignment is pure codegen'd arithmetic, no window at all.
    */
  def ntileFromRank(k: Int, n: Long, rankCol: String): Column = {
    require(k > 0, "ntile bucket count must be positive")
    val q = n / k
    val r = n % k
    // rows whose (rank-1) falls below r*(q+1) land in the first r (fat)
    // tiles; the rest spread over the remaining thin tiles of size q.
    // q==0 (n < k) keeps the ELSE branch unreachable; max(q,1) guards the
    // division anyway.
    expr(
      s"""CAST(CASE WHEN ($rankCol - 1) < ${r * (q + 1)}
         |  THEN ($rankCol - 1) DIV ${q + 1}
         |  ELSE $r + (($rankCol - 1) - ${r * (q + 1)}) DIV ${math.max(q, 1L)}
         |END + 1 AS INT)""".stripMargin)
  }
}
