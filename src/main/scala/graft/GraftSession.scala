package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main, the tests and the benchmark
  * harness build their session here, so they all run the engine config
  * the library ships. Local runs use `local[N]`; on a cluster the same
  * confs apply (AQE for runtime re-planning + skew-join splitting, UTC
  * for deterministic time math) together with `GraftExtensions`.
  *
  * The two parquet confs are decided here, at build time, because no
  * per-read option carries them (Spark 4.1's `ParquetOptions` has
  * neither), and setting them from a reader would change the caller's
  * session as a side effect:
  *  - `nanosAsLong`: `events.ts` is parquet TIMESTAMP(NANOS) in some
  *    testdata generations; without it ANY read of that file throws.
  *    `Tables.events` turns the long back into a microsecond timestamp.
  *  - `inferTimestampNTZ.enabled=false`: other generations write
  *    timestamps as un-adjusted int64 micros, which Spark 4 infers as
  *    TIMESTAMP_NTZ — breaking every unix_micros/window call downstream.
  *    Read them as session-TZ timestamps instead (sessions pin UTC, so
  *    the stored micros pass through unchanged — the same value DuckDB's
  *    epoch_us sees).
  *
  * [[CodegenCacheEntries]] sizes Spark's generated-class cache. Spark's
  * default of 100 entries is smaller than the classes one workload pass
  * generates (a lake pass over collect, five TPC-H queries and
  * profile_correlations makes 104 distinct classes, a curation pass
  * 120), so Janino recompiled most of them on every repeat. 1000 covers
  * either set with eight times the headroom; at about 26 KB of metaspace
  * per generated class it bounds what the cache keeps alive to about
  * 26 MB. The conf is static: Spark reads it once per JVM, when the
  * first class is generated, so it takes effect in the first session a
  * JVM builds. Every main and the test suite build that session here.
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries`; fixed, not a caller option. */
  val CodegenCacheEntries = 1000

  def apply(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
