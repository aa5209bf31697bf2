package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Parquet table loaders for the driver-generated testdata layout
  * (`<dir>/<name>.parquet`). All operators take `(SparkSession, sfDir)` and
  * resolve their inputs here, so the same code runs at any scale factor —
  * or, at cluster scale, against any parquet lake with this layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads with the session's parquet confs: the session must be built
    * by `GraftSession` (or carry its two parquet confs), which decides
    * how nanosecond and un-adjusted timestamps load.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark 4 refuses by
    * default; `GraftSession`'s `nanosAsLong` reads it as a nanos long.
    * Normalize that to a microsecond TimestampType (truncation = floor,
    * identical to DuckDB's epoch_us), so every downstream operator sees a
    * plain timestamp column.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.parquet(s"$d/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // floor division (pmod trick), not `div` truncation: identical to
        // epoch_us semantics for pre-1970 nanos too, not just positives
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("(ts - pmod(ts, 1000)) div 1000")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Hash-partitions `df` by `key` into `defaultParallelism` partitions
    * when its scan cannot keep that many cores busy, and returns it
    * unchanged otherwise. Call it before per-row-heavy work (an explode
    * that multiplies rows, per-token hashing, a wide aggregate): that
    * work runs at the parallelism of its input, whatever the session's.
    *
    * The rule reads the planned scan and runs no job. The splits that can
    * carry rows number `min(input files, planned scan splits)`: parquet
    * never splits a row group, so a file written as one row group (any
    * file under the default 128 MB row-group size) is read by one task
    * however many byte ranges Spark plans over it. A single-file table
    * therefore fans out on any session of more than one core, while a
    * lake whose scan already has enough splits is not shuffled again. A
    * frame with no file scan (local data, a checkpoint) counts as zero
    * splits and fans out.
    *
    * Keying by the downstream grouping key lets a keyed aggregate after
    * the heavy step reuse this exchange when it is taken. Where that
    * reuse pays for the exchange on any input (the doc-keyed pipelines of
    * char entropy, SimHash, pHash and lexical diversity), the operator
    * calls `repartition(shuffle partitions, key)` itself: a plan choice,
    * not parallelism. The count matters, as AQE would coalesce a plain
    * `repartition(key)` of a small input into one task.
    */
  def fanOut(df: DataFrame, key: Column): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    val scans = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val splits = scans.collect {
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    }.sum
    if (math.min(df.inputFiles.length, splits) >= n) df
    else df.repartition(n, key)
  }
}
