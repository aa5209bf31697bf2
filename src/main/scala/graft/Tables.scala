package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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

  /** Fan a SMALL-cardinality frame out to full parallelism before
    * per-row-HEAVY work (gram explosion, per-token md5): the fixture's
    * single-file parquet tables read as 1-2 partitions, so a downstream
    * explode that multiplies row count ~300× runs on 1-2 cores no matter
    * how many the session has — measured r13 at sf1: mm_dedup_phash's
    * 19M-gram explosion took 45 s on the 2-partition scan and 5 s fanned
    * out. Hash-partitioning by the eventual grouping key lets the
    * post-explode keyed aggregate REUSE the exchange (no second
    * shuffle). At 100 TB the input arrives pre-parallel and this narrow
    * shuffle of the small frame is noise — the helper is cheap
    * insurance, not a fixture hack: any lake can hand back a
    * few-large-files table whose scan parallelism undershoots its
    * per-row compute.
    */
  def fanOut(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)

  /** fanOut + persist for a table consumed by SEVERAL differently-pruned
    * branches of one query (r14 optimization round): a bare fanOut feeds
    * each branch its own full-or-partial-width exchange (column pruning
    * makes the exchanges non-identical, so runtime exchange reuse cannot
    * collapse them — measured 102 MB of shuffle for a 17 MB catalog in
    * infer_constraints), while the persisted fan-out shuffles the table
    * ONCE and every branch reads the cache. Only tables whose parquet
    * footprint exceeds `minBytes` are fanned — fanning a 5-row dimension
    * costs 32 task launches per consumer for nothing; at lake scale
    * every real table passes the threshold and the cache behaves like
    * the pre-parallel input a cluster hands back anyway (MEMORY_AND_DISK
    * — LRU-evictable).
    */
  def tableFannedCached(s: SparkSession, d: String, name: String,
      minBytes: Long = 1L << 20): DataFrame = {
    val df = table(s, d, name)
    val sz =
      try java.nio.file.Files.size(java.nio.file.Paths.get(d, s"$name.parquet"))
      catch { case _: Throwable => 0L }
    if (sz < minBytes) df
    else {
      val key = df.schema.fields.headOption.map(f =>
        org.apache.spark.sql.functions.col(f.name))
      key.map(k => fanOut(df, k)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        .getOrElse(df)
    }
  }
}
