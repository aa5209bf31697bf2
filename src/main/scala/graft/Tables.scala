package graft

import scala.util.hashing.MurmurHash3

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types._

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
    else parquet(spark, s"$dir/$name.parquet")

  /** What decides the schema a parquet read infers: the session's
    * parquet read confs and the [[listingFingerprint]] of the path. */
  private final case class ReadState(confs: Map[String, String], listing: String)

  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (ReadState, StructType)]()

  /** The memo key of `path` (its qualified form) and its read state now. */
  private def readState(spark: SparkSession, path: String): (String, ReadState) = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(hp)
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    (qualified.toString, ReadState(confs, listingFingerprint(fs, qualified)))
  }

  /** Reads the parquet file or directory at `path` (any Hadoop
    * `FileSystem` URI) without inferring its schema again when nothing
    * that decides it has changed. Spark's inference launches one job per
    * read, even for a single file, and a library caller reads the same
    * tables on every call.
    *
    * The memo holds one entry per qualified path: the session's parquet
    * read confs (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`), the
    * [[listingFingerprint]] of the path, and the schema Spark inferred. A
    * read whose confs and listing match the entry passes that schema to
    * the reader and starts no job; any other read (first read, a file
    * added, removed or rewritten, a conf changed) infers as Spark does
    * and replaces the entry (a path that does not list, such as a glob,
    * always infers). File sources make every column nullable, so
    * `df.schema` is the same either way. Thread-safe: concurrent readers
    * of one path at worst both infer.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val (key, state) = readState(spark, path)
    Option(schemaMemo.get(key)).filter(_._1 == state) match {
      case Some((_, schema)) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        if (state.listing != Absent) schemaMemo.put(key, (state, df.schema))
        df
    }
  }

  /** Seeds the memo for the parquet files just written at `path` from
    * `written`, the schema of the frame written there, so the first
    * [[parquet]] read of them starts no job. It seeds only where that
    * provably equals Spark's inference: the parquet writer stores the
    * frame's schema in every file footer, inference returns that stored
    * schema, and file sources make every column nullable. Only flat
    * schemas of numbers, strings, binary, booleans and dates are seeded;
    * timestamps (the session's parquet confs decide how they read) and
    * nested types are left to inference.
    */
  private[graft] def rememberWritten(spark: SparkSession, path: String,
      written: StructType): Unit =
    if (written.fields.forall(_.dataType match {
          case _: NumericType | _: StringType | BinaryType | BooleanType | DateType => true
          case _ => false
        })) {
      val (key, state) = readState(spark, path)
      if (state.listing != Absent)
        schemaMemo.put(key, (state, StructType(written.fields.map(_.copy(nullable = true)))))
    }

  private val Absent = "absent"

  /** Content fingerprint of the file or directory tree at the qualified
    * path `root`: one recursive Hadoop `FileSystem` listing, every file's
    * (path relative to `root`, length, modification time) sorted and
    * folded into a 64-bit hash, or `"absent"` when `root` does not exist.
    * Driver-side metadata only, never a data read; it works on any
    * Hadoop file system, remote ones included.
    *
    * The walk calls `listStatus` on each directory, as Spark's own
    * `InMemoryFileIndex` lists, and not `listFiles`: `listFiles` wraps
    * every file in a `LocatedFileStatus`, whose constructor reads the
    * file's permission, and without native Hadoop `RawLocalFileSystem`
    * reads a permission by starting a shell command, one process per
    * file. Both calls see the same files (`ChecksumFileSystem` hides its
    * `.crc` files from either), so the fingerprint is the one
    * `listFiles` gives.
    */
  private[graft] def listingFingerprint(fs: FileSystem, root: Path): String = {
    val base = root.toUri.getPath
    val files = Seq.newBuilder[String]
    def walk(statuses: Array[FileStatus]): Unit = statuses.foreach { st =>
      if (st.isFile)
        files += s"${st.getPath.toUri.getPath.stripPrefix(base)}:${st.getLen}:${st.getModificationTime}"
      else
        // a directory removed mid-walk is skipped, as listFiles skips it
        try walk(fs.listStatus(st.getPath))
        catch { case _: java.io.FileNotFoundException => }
    }
    try walk(fs.listStatus(root))
    catch { case _: java.io.FileNotFoundException => return Absent }
    val listing = files.result().sorted.mkString(";")
    f"${MurmurHash3.stringHash(listing)}%08x${MurmurHash3.stringHash(listing, 0x2f5b1e3d)}%08x"
  }

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
    val raw = parquet(s, s"$d/events.parquet")
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
