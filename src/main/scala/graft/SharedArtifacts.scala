package graft

/** Registry of lake-materialized SHARED PIPELINE ARTIFACTS — frames a
  * whole pipeline run derives once and many downstream operators consume
  * (the near-dup components fixpoint is the canonical case: components,
  * cluster_profile, keep_best, curation_funnel, mix_dedup_discount and
  * split_leakage_audit all read the same table; the BPE token accounting
  * table serves pack_shards_bpe / mix_weights_bpe / mix_waterfill_bpe).
  *
  * r10 held these artifacts RESIDENT in executor storage
  * (localCheckpoint, exempt from the Bench/Verify honest-cold boundary).
  * That amortized the derivation but pinned a CORPUS-SIZED frame (every
  * doc's encoded-token count; every doc's component label) in executor
  * memory for the whole session — at 100 TB an executor-storage
  * liability, and on the bench box measurable as storage-pool pressure
  * inflating unrelated queries' medians (VERDICT r10 #1). A production
  * pipeline does the other thing: it derives the shared artifact once
  * and MATERIALIZES IT TO THE LAKE next to the corpus, then every
  * consumer runs a plain columnar scan — no resident state, full
  * column pruning and predicate pushdown on the re-read, survives
  * executor loss and even session restart for free.
  *
  * [[materialized]] is that path: compute once per (appId, dir, content
  * fingerprint, name), write parquet under [[artifactRoot]], and hand
  * every consumer a fresh `Tables.parquet` frame. The cold
  * derivation stays visible exactly as before: the FIRST consumer's
  * `queries_first` number carries the derivation + write; later
  * consumers pay only their own scan — the first-consumer-pays
  * convention (PLANS.md). Eviction is now trivially correct: the memo
  * re-checks the files on every hit and re-derives if they are gone,
  * and the content fingerprint in the key re-derives when the corpus is
  * rewritten. Only BOUNDED artifacts (the K-row trained BPE merge list,
  * codebooks, centroids) stay as driver-memory memos.
  *
  * The RDD-id registry below remains for any future bounded
  * executor-resident artifact; since r11 nothing data-sized registers.
  */
object SharedArtifacts {
  private val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
  def register(id: Int): Unit = ids.add(id)
  def contains(id: Int): Boolean = ids.contains(id)

  /** The cache-clean boundary between two queries (Bench, Verify, Meter):
    * drop every CacheManager entry AND unpersist every persistent RDD
    * except the registered shared artifacts.
    *
    * Ops that persist() reused frames (LSH signatures, band indexes, IVF
    * lists) keep them alive across their OWN repeated runs but never
    * across queries; without the boundary, 100+ queries × N runs pile up
    * storage until eviction, and the suite measures eviction thrash, not
    * plans (r6: dedup_embedding 12.4 s suite-median vs 1.7-2.2 s warm
    * isolated). clearCache() alone is not enough: iterative ops hand back
    * localCheckpoint-backed frames (GlobalRank, the components/pagerank/
    * LPA fixpoints) whose blocks only the RDD sweep frees (r7:
    * dedup_cluster_profile 15.5 s suite-median vs 2.6 s isolated).
    * Shared artifacts survive: a pipeline derives them once and every
    * consumer reuses them, so the first consumer's cold run carries the
    * derivation.
    */
  def clearBetweenQueries(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => contains(r.id))
      .foreach(_.unpersist(blocking = false))
  }

  /** Frees the blocks of a `localCheckpoint`ed frame, such as one round
    * of an iterative op. `Dataset.unpersist` only reaches the
    * CacheManager, while a checkpoint keeps its blocks in the RDD under
    * each `LogicalRDD` leaf of the plan (the frame may be that leaf or a
    * projection over it), so those RDDs are unpersisted. A frame with no
    * such leaf is unpersisted through the CacheManager.
    */
  private[graft] def freeCheckpoint(df: org.apache.spark.sql.DataFrame): Unit = {
    val rdds = df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }
    if (rdds.nonEmpty) rdds.foreach(_.unpersist(blocking = false))
    else df.unpersist()
  }

  /** Where shared artifacts land. In production this is a lake path next
    * to the corpus (`<corpus>/_artifacts`) — here the corpus dirs are
    * read-only test fixtures, so the default is a session-scoped local
    * staging dir; GRAFT_ARTIFACT_DIR points it at a real lake location
    * (any Hadoop-visible URI — hdfs://, s3a://, file:// — path handling
    * and the liveness probe below go through Hadoop FileSystem, never
    * java.nio, so remote roots memo-hit correctly; r11 ADVICE).
    */
  def artifactRoot: String = sys.env.getOrElse("GRAFT_ARTIFACT_DIR",
    System.getProperty("java.io.tmpdir") + "/graft_artifacts")

  /** Cluster-safety guard (r11 VERDICT): the java.io.tmpdir default is
    * DRIVER-LOCAL — executors on other nodes can neither write their
    * shuffle output there coherently nor re-read the artifact. On any
    * non-local master an unset GRAFT_ARTIFACT_DIR must fail fast at the
    * first materialization, not silently produce executor-invisible
    * artifacts. Pure function of (master-is-local, env-set) so the spec
    * can exercise the cluster branch without a cluster.
    */
  private[graft] def requireClusterVisibleRoot(isLocalMaster: Boolean,
      rootConfigured: Boolean): Unit =
    require(isLocalMaster || rootConfigured,
      "SharedArtifacts: spark.master is not local and GRAFT_ARTIFACT_DIR " +
        "is unset - the java.io.tmpdir default is driver-local and " +
        "invisible to executors; set GRAFT_ARTIFACT_DIR to a lake path " +
        "(hdfs://, s3a://, ...) all nodes can reach")

  private val pathMemo =
    new scala.collection.concurrent.TrieMap[String, String]()

  /** Per-memoKey derivation latches (r11 VERDICT: an object-level
    * `synchronized` serialized UNRELATED artifact derivations — components
    * vs BPE — and blocked memo hits behind a long derivation). Lock
    * objects are trivial to create, so computeIfAbsent holds the map bin
    * for nanoseconds; the heavy derivation runs under the per-key monitor
    * only, and concurrent consumers of different artifacts never meet.
    */
  private val keyLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Derive-once / read-many: returns `<name>` for `<dir>`'s documents
    * table, computing and writing it exactly once per (session, dir,
    * corpus content). Thread-safe; every caller gets an independent
    * parquet-scan frame (nothing resident, nothing shared but files).
    *
    * Once the artifact is on disk, any executor storage the DERIVATION
    * persisted (iteration checkpoints, symmetrized edge caches) is dead
    * weight — the artifact replaces it — so the compute window's newly
    * persisted RDDs are freed right after the write (the Bench
    * honest-cold boundary device, scoped to the derivation). Caches a
    * CALLER persisted before entering (e.g. the shared shingle frame
    * incremental ingest keeps probing) predate the snapshot and
    * survive; freeing is always correctness-neutral (caches rebuild).
    * The written frame's schema seeds `Tables.parquet`'s memo (where it
    * provably equals the inferred one), so the re-read starts no job.
    */
  def materialized(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String, table: String = "documents")
      (compute: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    requireClusterVisibleRoot(spark.sparkContext.isLocal,
      sys.env.contains("GRAFT_ARTIFACT_DIR"))
    val key = memoKey(spark, dir, name, table)
    val lock = keyLocks.computeIfAbsent(key, _ => new Object)
    val path = lock.synchronized {
      // path algebra + liveness through Hadoop FileSystem (works for
      // hdfs://, s3a://, plain local paths alike; java.nio mangles URI
      // roots — `s3a://bucket` collapses to `s3a:/bucket` — and its
      // Files.exists is constant-false off the local fs)
      val hconf = spark.sessionState.newHadoopConf()
      def alive(p: String): Boolean = {
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(hconf).exists(hp)
      }
      pathMemo.get(key).filter(alive).getOrElse {
        val p = new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(artifactRoot,
            spark.sparkContext.applicationId),
          java.lang.Long.toHexString(
            scala.util.hashing.MurmurHash3.stringHash(key).toLong
              & 0xffffffffL) + "_" + name + ".parquet").toString
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val frame = compute
        frame.write.mode("overwrite").parquet(p)
        Tables.rememberWritten(spark, p, frame.schema)
        val after = spark.sparkContext.getPersistentRDDs
        (after.keySet -- before).foreach { id =>
          after.get(id).filterNot(r => contains(r.id))
            .foreach(_.unpersist(blocking = false))
        }
        pathMemo.put(key, p)
        p
      }
    }
    Tables.parquet(spark, path)
  }

  /** Content fingerprint of `<dir>/<table>.parquet` (file OR directory of
    * part files): `Tables.listingFingerprint` of it, listed through the
    * session's Hadoop `FileSystem`, so hdfs://, s3a:// and other remote
    * tables fingerprint as local ones do. Memo owners fold this into
    * their keys so a table REWRITTEN under the same path within a session
    * (Generate overwrites parquet; the test harness reuses dirs)
    * invalidates the memo instead of serving stale artifacts to every
    * downstream consumer — the one staleness hole the (applicationId,
    * dir) key left open. Driver-side metadata listing only: O(files in
    * one table), never a data read.
    *
    * The fingerprint COMPLEMENTS the dir in a memo key, never replaces
    * it: two dirs can share a fingerprint (a `cp -r`'d corpus preserves
    * relative layout + sizes + mtimes; a missing table reads as the
    * constant "absent"), so a fingerprint-only key would serve one
    * corpus' artifact to another. Memo owners key on appId + dir +
    * fingerprint ([[memoKey]]).
    *
    * `table` names the SOURCE table the artifact derives from (r15: the
    * lsh-pairs artifact derives from `embeddings`, not `documents` — a
    * corpus rewrite that touches only embeddings must invalidate it, and
    * one that touches only documents must not).
    */
  def memoKey(spark: org.apache.spark.sql.SparkSession, dir: String,
      name: String, table: String = "documents"): String =
    spark.sparkContext.applicationId + ":" + name + ":" + dir + ":" +
      tableFingerprint(spark, dir, table)

  def tableFingerprint(spark: org.apache.spark.sql.SparkSession, dir: String,
      table: String): String = {
    val root = new org.apache.hadoop.fs.Path(dir, s"$table.parquet")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    Tables.listingFingerprint(fs, fs.makeQualified(root))
  }
}
