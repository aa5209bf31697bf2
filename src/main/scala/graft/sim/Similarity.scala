package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.SharedArtifacts.freeCheckpoint

/** Similarity search over the embeddings table (SURVEY §2D).
  *
  * Design notes draw on the distributed top-k similarity literature
  * (REPOSE, ICDE 2021 — partition-local candidate pruning with a global
  * merge; "Continuously Adaptive Similarity Search", SIGMOD 2020 — cheap
  * candidate filters ahead of exact scoring): the LSH path buckets first
  * and scores exactly only within buckets, the exact path keeps per-query
  * partial top-k so only k rows per partition reach the merge.
  *
  * Cosine is an ordered left-fold over the vector (identical IEEE
  * accumulation in Spark's `aggregate` and DuckDB's `list_dot_product`),
  * rounded to 6 decimals before any threshold/rank decision so both
  * engines select identical result sets.
  *
  * Scale shapes: the exact top-k path broadcasts the (small) query set and
  * keeps per-partition top-k (window over query_id — partial rank
  * pushdown); the LSH path buckets vectors by random-hyperplane sign bits
  * so candidate generation is an equi-join on bucket id, not an all-pairs
  * product. Brute-force all-pairs (dedup threshold scan) exists as the
  * verification baseline.
  */
object Similarity {

  /** Deterministic hyperplanes: w(j)(k) derived from md5(s"$j_$k"),
    * mapped to [-0.4995, 0.4995]. Embedded as literals in both the Spark
    * plan and the DuckDB oracle, so the engines share exact constants.
    */
  val nPlanes = 6
  val dim = 64
  lazy val hyperplanes: Array[Array[Double]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, dim) { (j, k) =>
      val hex = mdt.digest(s"${j}_$k".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      ((java.lang.Long.parseLong(hex, 16) % 1000) - 499.5) / 1000.0
    }
  }

  /** embeddings with double-vector and precomputed norm */
  private[graft] def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).select(
      col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorOps.dot_product(col("v"), col("v"))))

  private val vectorsSql =
    """e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings)""".stripMargin

  /** Cosine over pre-normalized columns: native codegen'd dot product
    * (graft.functions.DotProduct) — same strict left-fold accumulation as
    * the DuckDB oracle's list_dot_product, compiled to a primitive loop.
    */
  /** Zero-norm guard: a single all-zero embedding (a real hazard in
    * production corpora — failed encoder call, padded row) must not kill
    * the job. Under Spark 4's default ANSI mode the bare division throws
    * DIVIDE_BY_ZERO; the guard emits NULL instead, which drops out of
    * every threshold filter and sorts after real cosines in desc ranks.
    * The conditional is runtime-lazy, so the division never executes for
    * zero denominators. (The oracle corpus has no zero vectors, so SQL
    * parity is unaffected.)
    */
  private def cosine(va: String, vb: String, na: Column, nb: Column): Column =
    when((na * nb) === 0.0, lit(null).cast("double"))
      .otherwise(round(graft.functions.VectorOps.dot_product(col(va), col(vb))
        .divide(na * nb), 6))

  // ---------------------------------------------------------- banded pair LSH
  //
  // Candidate generation for the PAIR operators (dedup_embedding,
  // sim_pairs_threshold): multi-band random-hyperplane LSH. A pair is a
  // candidate iff it shares the full sign-bit key in AT LEAST ONE band —
  // an equi-join on (band, band_key), never an all-pairs product. Exact
  // cosine is computed only for candidates, so every emitted pair is
  // exactly verified; what the banding bounds is RECALL — these are
  // APPROXIMATE, recall-bounded operators by declared semantics (pairs
  // missed by every band are not emitted; the oracle runs the identical
  // banding, so parity proves the computation, not exhaustiveness).
  // 16 bands x ADAPTIVE bits (6..12, CASE-over-n ladder): at this
  // corpus's low-cosine regime (thresholds 0.4/0.45, where sign
  // agreement p ~ 0.65 puts hyperplane LSH near its floor) the measured
  // recall vs the all-pairs baseline is ~0.6-0.7 (DedupSimSpec pins the
  // measured value); at a dedup pipeline's usual cosine >= 0.9 the
  // 6-bit config recalls > 99.9% (1-(1-(1-acos(.9)/pi)^6)^16) and the
  // 10-bit sf1 config still > 97% (p^10 per band over 16 bands).
  // Candidates scale ~ bands * n^2 / 2^bits per band at random
  // bucketing, so a FIXED keyspace goes quadratic at scale: the r12 sf1
  // root cause was exactly this — 64 buckets cannot separate 20k
  // vectors (>= 1-of-16-band collision p ~ 22% regardless of cluster
  // structure). The key width therefore grows with the corpus via the
  // house CASE-over-n ladder (target occupancy <= 32 vectors/bucket,
  // floor 6 so every fixture SF <= 2048 vectors keys identically to the
  // fixed-6-bit config, cap 12): both engines derive the SAME width —
  // Spark keys with the first `bits` planes per band; the oracle
  // computes the full 12-bit key and masks it by the ladder (bit j
  // carries weight 2^j, so `key % 2^bits` IS the first-`bits`-planes
  // key). Hyperplanes are md5-derived literals shared verbatim with the
  // DuckDB oracle, so both engines bucket identically. Bands stay 16:
  // recall is bought with bands (linear cost), separation with bits
  // (free once keyed) — grow maxPairBits with log2(n) beyond 1e6
  // vectors.

  val pairBands = 16
  val pairBits = 6            // ladder floor: the width every fixture SF keys at
  val maxPairBits = 12        // ladder cap: 4096 buckets/band
  /** Smallest width in [6, 12] with n <= 32 * 2^bits — pure integer
    * comparisons, identical in both engines (no log2 seam). */
  def pairBitsFor(n: Long): Int =
    if (n <= 2048L) 6 else if (n <= 4096L) 7 else if (n <= 8192L) 8
    else if (n <= 16384L) 9 else if (n <= 32768L) 10
    else if (n <= 65536L) 11 else 12
  /** Bits 0..5 of every band — the original 96 planes, seed unchanged,
    * so ladder-floor keys are bit-identical to the historical config. */
  lazy val pairPlanes: Array[Array[Double]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(pairBands * pairBits, dim) { (j, k) =>
      val hex = mdt.digest(s"pp${j}_$k".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      ((java.lang.Long.parseLong(hex, 16) % 1000) - 499.5) / 1000.0
    }
  }
  /** Bits 6..11 of every band (extension planes, distinct md5 stream). */
  lazy val pairPlanesExt: Array[Array[Double]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(pairBands * (maxPairBits - pairBits), dim) { (j, k) =>
      val hex = mdt.digest(s"ppx${j}_$k".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      ((java.lang.Long.parseLong(hex, 16) % 1000) - 499.5) / 1000.0
    }
  }
  private def pairPlane(band: Int, bit: Int): Array[Double] =
    if (bit < pairBits) pairPlanes(band * pairBits + bit)
    else pairPlanesExt(band * (maxPairBits - pairBits) + (bit - pairBits))

  /** All 16 band keys in ONE native expression pass (HyperplaneBandKeys):
    * the first cut built 96 independent dot-product expressions whose
    * generated code made codegen+JIT the operator's cold path. Keys are
    * bit-identical to the fold form (same accumulation order, sign rule
    * and bit weights), so candidates and hashes are unchanged. Only the
    * ladder-selected `bits` planes per band are evaluated — at the
    * fixture SFs that is exactly the historical 96-plane pass. */
  private def pairBandKeysAll(v: String, bits: Int): Column = {
    val planes = Array.tabulate(pairBands, bits)((b, j) => pairPlane(b, j))
    graft.functions.VectorOps.band_keys(col(v),
      typedLit(planes.flatten.flatten.toSeq), pairBands, bits)
  }

  /** Full 12-bit key; the ladder mask (`% 2^bits`) is applied by the
    * caller, which equals keying with the first `bits` planes. */
  private def pairBandKeySql(v: String, band: Int): String =
    (0 until maxPairBits).map { j =>
      s"CASE WHEN list_dot_product($v, ${sqlArray(pairPlane(band, j))}) >= 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** Exactly-verified candidate pairs from the banded equi-join. The band
    * explode carries only (vec_id, band, key) — vectors join back by id
    * after the DISTINCT, so the shuffle never replicates the embeddings
    * x bands.
    */
  /** The verified banded pair list as a lake-materialized SHARED
    * PIPELINE ARTIFACT (r14 VERDICT #4, widening the r13 components
    * adjudication to the knn family): eight gated queries consume this
    * one derivation — dedup_embedding, sim_pairs_threshold,
    * sim_pair_calibration, and the knn graph's four consumers via
    * [[knnGraph]] (knn_graph, knn_assortativity, knn_label_prop,
    * knn_triangles) plus sim_knn_classify — and each previously re-ran
    * the full banded pipeline (persist + count probe + 48 hyperplane
    * dot products per row + self-join + verify, ~1.3-1.5 s / 12-19
    * jobs each at sf0.1×32c). A production pipeline derives the pair
    * list once and materializes it next to the corpus (the components-
    * fixpoint pattern); consumers read a pruned columnar scan.
    * First-consumer-pays stays visible in `queries_first`. Keyed on the
    * EMBEDDINGS table fingerprint (the source this artifact actually
    * derives from). Bounded: one row per verified candidate pair.
    */
  private def lshPairs(spark: SparkSession, dir: String): DataFrame =
    graft.SharedArtifacts.materialized(spark, dir, "lsh-pairs",
      table = "embeddings") {
      lshPairsFor(vectors(spark, dir))
    }

  /** Same banded pipeline over an arbitrary (vec_id, label, v, nrm)
    * frame — lets DedupSimSpec measure recall on PLANTED high-cosine
    * near-duplicates, where the analytic >99.9% claim actually applies.
    * `bitsOverride` pins the key width (spec use only: the refinement
    * and widened-key recall tests compare widths on one frame).
    */
  private[graft] def lshPairsFor(vectorsIn: DataFrame,
      bitsOverride: Option[Int] = None): DataFrame = {
    // persisted: vecs feeds the band keying and both vector join-backs
    // (3 consumers); keyed feeds both sides of the self-join whose
    // differing projections defeat exchange reuse — without these the
    // embeddings scan runs 4x and the 48 dot products per row run twice
    val vecs = vectorsIn.persist()
    // one bounded driver action (a single scalar) selects the ladder
    // width; it doubles as the persist materialization the three
    // downstream consumers need anyway. The oracle derives the same
    // width from count(*) in its pmask CTE.
    val bits = bitsOverride.getOrElse(pairBitsFor(vecs.count()))
    val keyed = vecs.select(col("vec_id"),
      posexplode(pairBandKeysAll("v", bits)).as(Seq("band", "bkey"))).persist()
    val cand = keyed
      .join(keyed.select(col("band"), col("bkey"), col("vec_id").as("vec_id_b")),
        Seq("band", "bkey"))
      .filter(col("vec_id") < col("vec_id_b"))
      .select(col("vec_id").as("vec_id_a"), col("vec_id_b"))
      .distinct()
    val aSide = vecs.select(col("vec_id").as("vec_id_a"), col("label").as("label_a"),
      col("v").as("v_a"), col("nrm").as("nrm_a"))
    val bSide = vecs.select(col("vec_id").as("vec_id_b"), col("label").as("label_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    cand.join(aSide, "vec_id_a").join(bSide, "vec_id_b")
      .select(col("vec_id_a"), col("vec_id_b"),
        cosine("v_a", "v_b", col("nrm_a"), col("nrm_b")).as("cosine"),
        (col("label_a") === col("label_b")).as("same_label"))
  }

  private lazy val lshPairsSql: String = {
    val bandSelects = (0 until pairBands).map(b =>
      s"SELECT vec_id, $b AS band, ${pairBandKeySql("v", b)} % (SELECT m FROM pmask) AS bkey FROM e")
      .mkString("\nUNION ALL\n")
    s"""$vectorsSql,
       |pmask AS (
       |  SELECT CASE WHEN count(*) <= 2048 THEN 64
       |              WHEN count(*) <= 4096 THEN 128
       |              WHEN count(*) <= 8192 THEN 256
       |              WHEN count(*) <= 16384 THEN 512
       |              WHEN count(*) <= 32768 THEN 1024
       |              WHEN count(*) <= 65536 THEN 2048
       |              ELSE 4096 END AS m FROM e),
       |keyed AS MATERIALIZED (
       |$bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
       |  FROM keyed a JOIN keyed b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
       |lsh_pairs AS MATERIALIZED (
       |  SELECT c.vec_id_a, c.vec_id_b,
       |    round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS cosine,
       |    x.label = y.label AS same_label
       |  FROM cand c JOIN e x ON c.vec_id_a = x.vec_id
       |              JOIN e y ON c.vec_id_b = y.vec_id)""".stripMargin
  }

  /** Embedding near-dup pairs at cosine >= 0.45 through the banded LSH
    * candidate join (the 100 TB shape). Every emitted pair is exactly
    * verified; `dedupEmbeddingExact` is the all-pairs recall baseline,
    * test-only.
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    lshPairs(spark, dir)
      .filter(col("cosine") >= 0.45)
      .orderBy(col("vec_id_a"), col("vec_id_b"))

  val dedupEmbeddingSql: String =
    s"""WITH $lshPairsSql
       |SELECT vec_id_a, vec_id_b, cosine, same_label FROM lsh_pairs
       |WHERE cosine >= 0.45
       |ORDER BY vec_id_a, vec_id_b""".stripMargin

  /** TEST-ONLY all-pairs baseline (O(n^2) cross join): the recall oracle
    * for the banded path in DedupSimSpec. Not reachable from
    * SparkEntry.queries — at scale this shape is a non-starter.
    */
  def dedupEmbeddingExact(spark: SparkSession, dir: String): DataFrame = {
    val a = vectors(spark, dir)
    val b = a.select(col("vec_id").as("vec_id_b"), col("label").as("label_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.crossJoin(b)
      .filter(col("vec_id") < col("vec_id_b"))
      .select(col("vec_id").as("vec_id_a"), col("vec_id_b"),
        cosine("v", "v_b", col("nrm"), col("nrm_b")).as("cosine"),
        (col("label") === col("label_b")).as("same_label"))
      .filter(col("cosine") >= 0.45)
      .orderBy(col("vec_id_a"), col("vec_id_b"))
  }

  /** Threshold pair tally at cosine >= 0.4 over the banded LSH candidates
    * (same/diff label counts + max). `pairsThresholdExact` is the
    * test-only all-pairs baseline.
    */
  def pairsThreshold(spark: SparkSession, dir: String): DataFrame =
    lshPairs(spark, dir)
      .filter(col("cosine") >= 0.4)
      .groupBy(col("same_label"))
      .agg(count(lit(1)).as("n_pairs"), max(col("cosine")).as("max_cosine"))
      .orderBy(col("same_label"))

  val pairsThresholdSql: String =
    s"""WITH $lshPairsSql
       |SELECT same_label, count(*) AS n_pairs, max(cosine) AS max_cosine
       |FROM lsh_pairs WHERE cosine >= 0.4
       |GROUP BY same_label ORDER BY same_label""".stripMargin

  /** Similarity-vs-label CALIBRATION curve — the embedding-QA report
    * that turns a cosine into a probability: per 0.05-wide cosine
    * bucket over the banded candidate pairs, the fraction (exact ppm)
    * that share a label. This is how a pipeline picks its dedup/link
    * threshold from measured data instead of folklore — read the bucket
    * where P(same label) crosses the precision target — and how an
    * encoder regression shows up as a flattened curve. Bucket id =
    * floor(cosine·20) over the round-6 cosine (identical doubles both
    * engines → identical floors); NULL cosines (zero-norm guard) drop.
    *
    * Scale shape: consumes the banded LSH pair stream (equi-join
    * candidates, never all-pairs); the aggregation key space is ≤ 40
    * buckets, so everything after pair generation is map-side-combined
    * into a handful of rows.
    */
  def simPairCalibration(spark: SparkSession, dir: String): DataFrame =
    lshPairs(spark, dir)
      .filter(col("cosine").isNotNull)
      .groupBy(floor(col("cosine") * 20).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("same_label"), 1L).otherwise(0L)).as("n_same"))
      .select(col("bucket"),
        (col("bucket").cast("double") / 20).as("cos_lo"),
        col("n_pairs"), col("n_same"),
        expr("CAST(n_same * 1000000 DIV n_pairs AS BIGINT)").as("same_ppm"))
      .orderBy(col("bucket"))

  val simPairCalibrationSql: String =
    s"""WITH $lshPairsSql,
       |bucketed AS (
       |  SELECT CAST(floor(cosine * 20) AS INTEGER) AS bucket, same_label
       |  FROM lsh_pairs WHERE cosine IS NOT NULL)
       |SELECT bucket, CAST(bucket AS DOUBLE) / 20 AS cos_lo,
       |  count(*) AS n_pairs,
       |  CAST(sum(CASE WHEN same_label THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
       |  CAST((CAST(sum(CASE WHEN same_label THEN 1 ELSE 0 END) AS HUGEINT) * 1000000)
       |    // count(*) AS BIGINT) AS same_ppm
       |FROM bucketed GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Per-label embedding centroid profile — the embedding-QA surface a
    * training pipeline monitors (label separation, drift between corpus
    * versions via Collector.diff-style comparison of centroid tables).
    * One posexplode (narrow, 64x rows) + one (label, dim) aggregation —
    * a single shuffle whose key space is labels x dims, skew-free.
    * Components are quantized through DECIMAL(24,6) before summing, so
    * the per-cell mean is exact, summation-order-independent and
    * cross-engine identical (same pattern as the anomaly moments).
    */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    vectors(spark, dir)
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"),
        col("x").cast(DecimalType(24, 6)).as("xd"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n_vecs"),
        (sum(col("xd")).cast(DoubleType) / count(lit(1))).as("centroid"))
      .orderBy(col("label"), col("dim"))
  }

  val labelCentroidsSql: String =
    """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
      |x AS (
      |  SELECT label, CAST(t.i AS INTEGER) AS dim,
      |    CAST(v[t.i + 1] AS DECIMAL(24,6)) AS xd
      |  FROM e, range(64) t(i))
      |SELECT label, dim, count(*) AS n_vecs,
      |  CAST(sum(xd) AS DOUBLE) / count(*) AS centroid
      |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin

  /** Embedding outlier detection — the QA pass a training pipeline runs
    * after labelCentroids: for every vector, cosine to its OWN label's
    * centroid; the 3 least-aligned vectors per label are flagged
    * (mislabeled / corrupted / off-distribution candidates).
    *
    * Scale shape: centroids are a labels×dims aggregate (tiny) —
    * assembled per label and BROADCAST back against the corpus, so the
    * scoring pass is one scan, no second shuffle of the vectors; the
    * per-label top-3 is a bounded window over label partitions. Centroid
    * cells go through the labelCentroids decimal quantization and the
    * cosine through round(·, 6), so ranks are cross-engine exact
    * (vec_id tiebreak).
    */
  def centroidOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val cent = vectors(spark, dir)
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("label"), col("dim"), col("x").cast(DecimalType(24, 6)).as("xd"))
      .groupBy(col("label"), col("dim"))
      .agg((sum(col("xd")).cast(DoubleType) / count(lit(1))).as("c"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").as("cv"))
      .withColumn("cnrm", sqrt(graft.functions.VectorOps.dot_product(col("cv"), col("cv"))))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("cos_centroid").asc, col("vec_id").asc)
    vectors(spark, dir)
      .join(broadcast(cent), "label")
      .select(col("label"), col("vec_id"),
        cosine("v", "cv", col("nrm"), col("cnrm")).as("cos_centroid"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("label"), col("rank"), col("vec_id"), col("cos_centroid"))
      .orderBy(col("label"), col("rank"))
  }

  val centroidOutliersSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings),
      |cells AS (
      |  SELECT label, CAST(t.i AS INTEGER) AS dim,
      |    CAST(sum(CAST(v[t.i + 1] AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS c
      |  FROM e, range(64) t(i) GROUP BY label, t.i),
      |cent AS (
      |  SELECT label, list(c ORDER BY dim) AS cv FROM cells GROUP BY label),
      |scored AS (
      |  SELECT e.label, e.vec_id,
      |    round(list_dot_product(e.v, cent.cv) /
      |      (e.nrm * sqrt(list_dot_product(cent.cv, cent.cv))), 6) AS cos_centroid
      |  FROM e JOIN cent USING (label)),
      |ranked AS (
      |  SELECT label, vec_id, cos_centroid,
      |    CAST(row_number() OVER (PARTITION BY label
      |      ORDER BY cos_centroid ASC, vec_id ASC) AS INTEGER) AS rank
      |  FROM scored)
      |SELECT label, rank, vec_id, cos_centroid
      |FROM ranked WHERE rank <= 3
      |ORDER BY label, rank""".stripMargin

  /** TEST-ONLY all-pairs threshold baseline — see dedupEmbeddingExact. */
  def pairsThresholdExact(spark: SparkSession, dir: String): DataFrame = {
    val a = vectors(spark, dir)
    val b = a.select(col("vec_id").as("vec_id_b"), col("label").as("label_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    a.crossJoin(b)
      .filter(col("vec_id") < col("vec_id_b"))
      .select(cosine("v", "v_b", col("nrm"), col("nrm_b")).as("cosine"),
        (col("label") === col("label_b")).as("same_label"))
      .filter(col("cosine") >= 0.4)
      .groupBy(col("same_label"))
      .agg(count(lit(1)).as("n_pairs"), max(col("cosine")).as("max_cosine"))
      .orderBy(col("same_label"))
  }

  /** Exact cosine top-10 neighbors for each query vector (vec_id < 20):
    * broadcast the query set against the corpus, window-rank per query.
    */
  def topkBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val corpus = vectors(spark, dir)
    val queries = corpus.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("v_q"), col("nrm").as("nrm_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine("v_q", "v", col("nrm_q"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val topkBruteforceSql: String =
    s"""WITH $vectorsSql,
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
       |  FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cosine FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  private def sqlArray(w: Array[Double]): String =
    w.mkString("[", ", ", "]::DOUBLE[]")

  /** Random-hyperplane LSH bucket id (0..63) as a column expression. */
  /** The 6-bit hyperplane bucket as a Column op — shared with the
    * streaming lookup twin (StreamOps.annLookup), whose live queries
    * must bucket EXACTLY like the static index. */
  private[graft] def bucketColumn(v: Column): Column =
    (0 until nPlanes).map { j =>
      val plane = array(hyperplanes(j).map(lit(_)): _*)
      when(graft.functions.VectorOps.dot_product(v, plane) >= 0.0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Static LSH bucket index of the embeddings corpus — the settled-side
    * input to the streaming ANN lookup (the embedding-space analogue of
    * dedup_incremental's fingerprint index). */
  def corpusBucketIndex(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir)
      .select(bucketColumn(col("v")).as("bucket"), col("vec_id"),
        col("v").as("v_c"), col("nrm").as("nrm_c"))

  private def bucketExpr(v: String): Column = bucketColumn(col(v))

  private def bucketSqlExpr(v: String): String =
    (0 until nPlanes).map { j =>
      s"CASE WHEN list_dot_product($v, ${sqlArray(hyperplanes(j))}) >= 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** ANN via IVF (inverted-file index): a k-means coarse quantizer built
    * with a few Lloyd iterations as plain DataFrame jobs (assign = argmin
    * distance over broadcast centroids; update = groupBy-mean), then each
    * query probes only the lists of its `nprobe` nearest centroids and
    * ranks those exactly. Centroids are seeded deterministically (evenly
    * spaced vec_ids), so results are reproducible run to run.
    *
    * Scale shape: centroid set is tiny (broadcast); assignment is a
    * narrow map; each Lloyd update is one shuffle of (cluster, partial
    * sums). The probe join is an equi-join on cluster id — candidate set
    * shrinks by ~k/nprobe versus brute force.
    *
    * Cross-engine determinism (r3, upgraded rows→sql): each Lloyd mean
    * quantizes its inputs through DECIMAL(24,6) — the sum is exact and
    * order-independent, so centroids are bit-identical under any
    * partition layout AND re-derivable in plain SQL. The oracle unrolls
    * the identical two Lloyd iterations as CTEs (seed → assign → mean →
    * coalesce-empty-clusters, twice), so the driver's hash gate proves
    * the distributed iterative quantizer computes exactly the declared
    * k-means — runtime state made reproducible, not skipped.
    */
  val ivfK = 8
  val ivfProbe = 2
  val ivfIters = 2

  /** Argmin-squared-distance assignment over literal centroids; least()
    * needs >= 2 args, so degenerate catalogs (< 2 centroids seeded)
    * assign everything to cluster 0.
    */
  private def ivfAssignExpr(cents: Array[(Int, Array[Double])]): Column = {
    val scored = ivfScoredStructs(cents)
    if (scored.length < 2) lit(0) else least(scored: _*).getField("cid")
  }

  /** (d, cid) structs per centroid — shared by assignment (argmin via
    * least) and the kmeans profile's distance-to-assigned-centroid. */
  private def ivfScoredStructs(cents: Array[(Int, Array[Double])]): Array[Column] =
    cents.map { case (i, c) =>
      val dot = graft.functions.VectorOps.dot_product(col("v"),
        array(c.map(lit(_)): _*))
      val cNorm2 = c.map(x => x * x).sum
      struct((lit(cNorm2) - dot * 2).as("d"), lit(i).as("cid"))
    }

  /** The trained IVF coarse quantizer: (persisted vector frame, final
    * Lloyd centroids). Shared by annIvf and clusterKmeans so the two
    * operators cannot train different quantizers.
    */
  private def ivfTrain(spark: SparkSession,
                       dir: String): (DataFrame, Array[(Int, Array[Double])]) = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // cached: the subplan feeds seeding, every Lloyd iteration, and both
    // sides of the probe join (5+ recomputations otherwise)
    val vecs = vectors(spark, dir).persist()
    // seeding stride derives from the real corpus size (cheap count over
    // the persisted subplan) — a hardcoded base would seed < k centroids
    // on small corpora and cluster the seeds on large ones
    val nVec = vecs.count()
    // deterministic seeds: evenly spaced vec_ids
    var centroids: Array[(Int, Array[Double])] = vecs
      .filter(col("vec_id") % lit(math.max(nVec / ivfK, 1)) === 0)
      .orderBy(col("vec_id")).limit(ivfK)
      .select(col("v")).collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toArray) }

    for (_ <- 1 to ivfIters) {
      val assigned = vecs.withColumn("cid", ivfAssignExpr(centroids))
      // decimal-quantized mean (labelCentroids pattern): exact,
      // order-independent, and identical to the SQL oracle's re-derivation
      val updated = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("k", "x")))
        .select(col("cid"), col("k"), col("x").cast(DecimalType(24, 6)).as("xd"))
        .groupBy(col("cid"), col("k"))
        .agg((sum(col("xd")).cast(DoubleType) / count(lit(1))).as("m"))
        .collect()
        .map(r => (r.getAs[Int]("cid"), r.getAs[Int]("k"), r.getAs[Double]("m")))
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3).toArray).toMap
      // keep centroids whose cluster emptied unchanged
      centroids = centroids.map { case (i, c) => (i, updated.getOrElse(i, c)) }
    }
    (vecs, centroids)
  }

  /** nprobe-parameterized probe + exact in-list rank over an assigned
    * index — annIvf's core, factored so the probe-budget sweep measures
    * EXACTLY the serving path (same assignment, same ranking, only the
    * probe count varies). */
  private def ivfTopFor(indexed: DataFrame,
      centroids: Array[(Int, Array[Double])], nprobe: Int): DataFrame = {
    val queries = indexed.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("v_q"),
        col("nrm").as("nrm_q"), col("v"))
    // nprobe nearest centroids per query
    val probeCols = ivfScoredStructs(centroids)
    val probed = queries
      .withColumn("probes", slice(array_sort(array(probeCols: _*)), 1, nprobe))
      .select(col("query_id"), col("v_q"), col("nrm_q"),
        explode(expr("transform(probes, p -> p.cid)")).as("cid"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    indexed.join(broadcast(probed), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cid"),
        cosine("v_q", "v", col("nrm_q"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val (vecs, centroids) = ivfTrain(spark, dir)
    val indexed = vecs.withColumn("cid", ivfAssignExpr(centroids))
    ivfTopFor(indexed, centroids, ivfProbe)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The identical two Lloyd iterations + probe, unrolled as DuckDB CTEs:
    * seed → (assign → decimal mean → coalesce empty clusters) ×2 →
    * assign → nprobe probe → exact in-list rank. Every arithmetic step
    * mirrors the Spark expression order, so distances, centroids, and
    * therefore assignments agree bit-for-bit.
    */
  private def ivfDistSql(vexpr: String, cexpr: String): String =
    s"list_dot_product($cexpr, $cexpr) - list_dot_product($vexpr, $cexpr) * 2"

  /** Shared CTE chain deriving the trained quantizer (seed → two Lloyd
    * rounds → final assignment `idx` + centroids `c2`) — annIvf's oracle
    * AND the base of clusterKmeans's, so the two cannot train different
    * quantizers (the knnGraphCtes discipline).
    */
  private lazy val ivfCtes: String = {
    def assign(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT e.vec_id, e.v, c.cid
         |  FROM e CROSS JOIN $cents c
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${ivfDistSql("e.v", "c.v")}, c.cid) = 1)""".stripMargin
    def mean(name: String, assigned: String, prev: String): String =
      s"""${name}_m AS (
         |  SELECT cid, t.i AS k,
         |    CAST(sum(CAST(v[t.i + 1] AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS m
         |  FROM $assigned, range($dim) t(i) GROUP BY cid, t.i),
         |$name AS (
         |  SELECT p.cid, coalesce(mv.v, p.v) AS v
         |  FROM $prev p LEFT JOIN (
         |    SELECT cid, list(m ORDER BY k) AS v FROM ${name}_m GROUP BY cid) mv
         |  USING (cid))""".stripMargin
    s"""$vectorsSql,
       |s AS (SELECT greatest(count(*) // $ivfK, 1) AS stride FROM e),
       |c0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v FROM (
       |    SELECT vec_id, v FROM e
       |    WHERE vec_id % (SELECT stride FROM s) = 0
       |    ORDER BY vec_id LIMIT $ivfK)),
       |${assign("a1", "c0")},
       |${mean("c1", "a1", "c0")},
       |${assign("a2", "c1")},
       |${mean("c2", "a2", "c1")},
       |${assign("idx", "c2")}""".stripMargin
  }

  /** IVF chain extended through the ranked top-10 (`ivf_top`) — shared
    * by annIvfSql and the recall report's oracle. */
  /** The probe → candidate → rank CTE triple for one probe budget, with
    * suffixed names so several budgets can coexist in one query (the
    * probe-sweep oracle); sfx = "" keeps the historical names for the
    * single-budget oracles. */
  private def ivfProbeCtesFor(p: Int, sfx: String): String = {
    def dist(vexpr: String, cexpr: String): String = ivfDistSql(vexpr, cexpr)
    s"""probes$sfx AS (
       |  SELECT e.vec_id AS query_id, c.cid
       |  FROM e CROSS JOIN c2 c WHERE e.vec_id < 20
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${dist("e.v", "c.v")}, c.cid) <= $p),
       |cand$sfx AS (
       |  SELECT p.query_id, i.vec_id AS neighbor_id,
       |    round(list_dot_product(qe.v, ne.v) / (qe.nrm * ne.nrm), 6) AS cosine
       |  FROM probes$sfx p
       |  JOIN idx i ON i.cid = p.cid AND i.vec_id <> p.query_id
       |  JOIN e qe ON qe.vec_id = p.query_id
       |  JOIN e ne ON ne.vec_id = i.vec_id),
       |ivf_top$sfx AS (
       |  SELECT query_id, rank, neighbor_id, cosine FROM (
       |    SELECT query_id, neighbor_id, cosine,
       |      CAST(row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |    FROM cand$sfx)
       |  WHERE rank <= 10)""".stripMargin
  }

  private lazy val annIvfRankedCtes: String =
    s"""$ivfCtes,
       |${ivfProbeCtesFor(ivfProbe, "")}""".stripMargin

  lazy val annIvfSql: String =
    s"""WITH $annIvfRankedCtes
       |SELECT query_id, rank, neighbor_id, cosine FROM ivf_top
       |ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------- recall report
  //
  // Index-quality report: per query, recall@10 of the IVF index against
  // the exact brute-force top-10 — the measurement an ANN deployment
  // monitors continuously (quantizer drift, a bad re-train, or a probe
  // budget cut all show up here first). Composes the two existing
  // operators (annIvf and topkBruteforce — at 20 pinned queries the
  // brute baseline is a bounded broadcast job, the sampled ground-truth
  // pattern every production recall monitor uses); the oracle composes
  // the SAME two CTE chains, so the report cannot drift from either
  // operator. Exact integer ppm.

  def simRecallReport(spark: SparkSession, dir: String): DataFrame = {
    val ivf = annIvf(spark, dir).select(col("query_id"), col("neighbor_id"))
    val brute = topkBruteforce(spark, dir).select(col("query_id"), col("neighbor_id"))
    val hits = brute.join(ivf, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
    brute.groupBy(col("query_id")).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq("query_id"), "left_outer")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall_ppm", expr("n_hits * 1000000 div n_true"))
      .select(col("query_id"), col("n_true"), col("n_hits"), col("recall_ppm"))
      .orderBy(col("query_id"))
  }

  val simRecallReportSql: String =
    s"""WITH $annIvfRankedCtes,
       |brute_scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
       |  FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
       |brute AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM brute_scored)
       |  WHERE rank <= 10)
       |SELECT b.query_id, count(*) AS n_true,
       |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_hits,
       |  CAST((sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000)
       |    // count(*) AS BIGINT) AS recall_ppm
       |FROM brute b LEFT JOIN ivf_top i
       |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
       |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin

  // ------------------------------------------------------- probe sweep

  /** Probe-budget sweep — THE IVF tuning curve (recall@10 vs nprobe, the
    * chart every ANN deployment draws before fixing its latency/recall
    * trade): micro-averaged recall against the exact brute-force top-10
    * for nprobe ∈ {1, 2, 4, 8}. nprobe = k (= 8) probes every list, so
    * its row is the built-in sanity anchor: candidate set = whole
    * corpus ⇒ recall exactly 1e6 ppm, and recall is monotone in the
    * budget (both asserted in spec). Trains ONCE (ivfTrain — the same
    * quantizer annIvf serves) and reuses the factored probe/rank path
    * per budget, so the curve measures exactly the serving path; the
    * oracle renders the SAME probe CTE triple once per budget over one
    * shared trained chain. |budgets| output rows; the brute baseline is
    * the bounded 20-query broadcast job.
    */
  val ivfSweepProbes: Seq[Int] = Seq(1, 2, 4, 8)

  def simIvfProbeSweep(spark: SparkSession, dir: String): DataFrame = {
    val (vecs, centroids) = ivfTrain(spark, dir)
    val indexed = vecs.withColumn("cid", ivfAssignExpr(centroids))
    val brute = topkBruteforce(spark, dir)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val totals = brute.agg(count(lit(1)).as("total_true"))
    val nq = brute.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("n_queries"))
    val rows = ivfSweepProbes.map { p =>
      val hits = brute.join(
          ivfTopFor(indexed, centroids, p).select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("total_hits"))
      totals.crossJoin(nq).crossJoin(hits)
        .select(lit(p).as("probe_count"), col("n_queries"),
          col("total_true"), col("total_hits"),
          expr("CAST(total_hits * 1000000 DIV total_true AS BIGINT)")
            .as("recall_ppm"))
    }
    rows.reduce(_ unionByName _).orderBy(col("probe_count"))
  }

  lazy val simIvfProbeSweepSql: String = {
    val probeCtes = ivfSweepProbes.map(p => ivfProbeCtesFor(p, s"_p$p")).mkString(",\n")
    val unions = ivfSweepProbes.map { p =>
      s"""SELECT $p AS probe_count,
         |  (SELECT count(DISTINCT query_id) FROM brute) AS n_queries,
         |  (SELECT count(*) FROM brute) AS total_true,
         |  (SELECT count(*) FROM brute b
         |     JOIN ivf_top_p$p i ON b.query_id = i.query_id
         |       AND b.neighbor_id = i.neighbor_id) AS total_hits,
         |  CAST(((SELECT count(*) FROM brute b
         |     JOIN ivf_top_p$p i ON b.query_id = i.query_id
         |       AND b.neighbor_id = i.neighbor_id) * 1000000)
         |    // (SELECT count(*) FROM brute) AS BIGINT) AS recall_ppm""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $ivfCtes,
       |$probeCtes,
       |brute_scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
       |  FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
       |brute AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM brute_scored)
       |  WHERE rank <= 10)
       |$unions
       |ORDER BY probe_count""".stripMargin
  }

  // ------------------------------------------------------- kmeans profile
  //
  // Per-cluster diagnostics of the trained k-means coarse quantizer —
  // the health check every IVF/SemDeDup consumer runs before trusting
  // the partition (a cluster holding half the corpus means the probe
  // prunes nothing; an empty one wastes a list; a huge radius means the
  // quantizer hasn't converged): cluster sizes, inertia (within-cluster
  // sum of squared distance — THE k-means objective), mean and max
  // distance to the assigned centroid.
  //
  // Reuses ivfTrain verbatim, so the profile describes EXACTLY the
  // quantizer annIvf serves. Distances are rounded to 6 decimals and
  // quantized through DECIMAL(24,6) before summing (exact,
  // order-independent — the labelCentroids device), so inertia is
  // bit-identical across partitionings and engines. One assignment scan
  // + one 8-key aggregation; centroids ride as literals (broadcast-free).

  def clusterKmeans(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val (vecs, centroids) = ivfTrain(spark, dir)
    val scored = ivfScoredStructs(centroids)
    val best = if (scored.length == 1) scored.head else least(scored: _*)
    val vv = graft.functions.VectorOps.dot_product(col("v"), col("v"))
    vecs
      .withColumn("best", best)
      .select(col("best").getField("cid").as("cid"),
        round(vv + col("best").getField("d"), 6)
          .cast(DecimalType(24, 6)).as("dq"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("dq")).cast(DoubleType).as("inertia"),
        (sum(col("dq")).cast(DoubleType) / count(lit(1))).as("mean_dist"),
        max(col("dq")).cast(DoubleType).as("max_dist"))
      .orderBy(col("cid"))
  }

  val clusterKmeansSql: String =
    s"""WITH $ivfCtes,
       |dists AS (
       |  SELECT CAST(i.cid AS INTEGER) AS cid,
       |    CAST(round(list_dot_product(i.v, i.v)
       |      + (${ivfDistSql("i.v", "c.v")}), 6) AS DECIMAL(24,6)) AS dq
       |  FROM idx i JOIN c2 c ON i.cid = c.cid)
       |SELECT cid, count(*) AS n_vecs,
       |  CAST(sum(dq) AS DOUBLE) AS inertia,
       |  CAST(sum(dq) AS DOUBLE) / count(*) AS mean_dist,
       |  CAST(max(dq) AS DOUBLE) AS max_dist
       |FROM dists GROUP BY cid ORDER BY cid""".stripMargin

  /** Cluster-purity evaluation — "did the unsupervised quantizer find
    * the label structure": every vector's k-means cell (the SHARED
    * ivfTrain quantizer — the same one annIvf serves with, so the
    * evaluation scores the production index, not a retrained lookalike)
    * crossed with its ground-truth label; per cell: size, majority
    * label, majority count, exact integer-ppm purity. The corpus-level
    * judgment of the quantizer in one bounded table.
    *
    * Scale shape: assignment is the narrow broadcast-centroid map; the
    * label rides the vector frame (no join); the rollup key space is
    * \|cells\|×\|labels\| — bounded, so the majority window partitions
    * over ≤\|labels\| rows (legal by boundedness, the
    * events_changepoint argument). Ties on the majority count break to
    * the smaller label on both engines.
    */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (vecs, centroids) = ivfTrain(spark, dir)
    // vectors() already carries the ground-truth label — no join needed
    val counts = vecs.withColumn("cid", ivfAssignExpr(centroids))
      .groupBy(col("cid"), col("label"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.groupBy(col("cid")).agg(sum(col("n")).as("n_vecs"))
    val w = Window.partitionBy(col("cid")).orderBy(col("n").desc, col("label"))
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(broadcast(tot), "cid")
      .select(col("cid").cast("int").as("cid"), col("n_vecs"),
        col("label").as("majority_label"), col("n").as("n_majority"),
        expr("CAST(n * 1000000 DIV n_vecs AS BIGINT)").as("purity_ppm"))
      .orderBy(col("cid"))
  }

  val clusterPuritySql: String =
    s"""WITH $ivfCtes,
       |counts AS (
       |  SELECT i.cid, em.label, count(*) AS n
       |  FROM idx i JOIN embeddings em ON em.vec_id = i.vec_id
       |  GROUP BY i.cid, em.label),
       |tot AS (SELECT cid, sum(n) AS n_vecs FROM counts GROUP BY cid),
       |maj AS (
       |  SELECT cid, label, n FROM counts
       |  QUALIFY row_number() OVER (PARTITION BY cid
       |    ORDER BY n DESC, label) = 1)
       |SELECT CAST(m.cid AS INTEGER) AS cid,
       |  CAST(t.n_vecs AS BIGINT) AS n_vecs,
       |  CAST(m.label AS INTEGER) AS majority_label,
       |  CAST(m.n AS BIGINT) AS n_majority,
       |  CAST((CAST(m.n AS HUGEINT) * 1000000) // t.n_vecs AS BIGINT)
       |    AS purity_ppm
       |FROM maj m JOIN tot t USING (cid)
       |ORDER BY cid""".stripMargin

  /** Embedding-space DRIFT monitor — the encoder-regression check a
    * pipeline runs between ingest batches (did a model/preprocessing
    * change move the representation?): the corpus splits into two
    * deterministic slices (even/odd vec_id — the stand-in for two
    * ingest batches), each slice's per-label centroid is computed with
    * the labelCentroids exact decimal device, and the report emits the
    * cosine between the two slices' centroids per label + a drift flag.
    * On a healthy corpus slice centroids agree; after an encoder swap
    * they diverge label by label — quality_psi's embedding-space
    * sibling.
    *
    * Scale shape: ONE scan, ONE (label, dim) conditional aggregation
    * (each slice's sum/count as a when-branch — no self-join, no second
    * pass), one labels-sized assembly. Every mean goes through
    * DECIMAL(24,6) quantization; the cosine is one rounded double per
    * label, computed ONCE and reused by the drift flag (a NULL cosine —
    * zero-norm centroid — flags as drifted on both engines).
    */
  val driftTau = 0.9

  def qualityEmbeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val cells = vectors(spark, dir)
      .select(col("label"), (col("vec_id") % 2 === 0).as("slice_a"),
        posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("label"), col("slice_a"), col("dim"),
        col("x").cast(DecimalType(24, 6)).as("xd"))
      .groupBy(col("label"), col("dim"))
      .agg(
        (sum(when(col("slice_a"), col("xd"))).cast(DoubleType) /
          sum(when(col("slice_a"), 1L).otherwise(0L))).as("ca"),
        (sum(when(!col("slice_a"), col("xd"))).cast(DoubleType) /
          sum(when(!col("slice_a"), 1L).otherwise(0L))).as("cb"),
        sum(when(col("slice_a"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("slice_a"), 1L).otherwise(0L)).as("nb"))
    val cents = cells.groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, ca))), s -> s.ca)")
          .as("cv_a"),
        expr("transform(array_sort(collect_list(struct(dim, cb))), s -> s.cb)")
          .as("cv_b"),
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"))
    val dotAb = graft.functions.VectorOps.dot_product(col("cv_a"), col("cv_b"))
    val nrmA = sqrt(graft.functions.VectorOps.dot_product(col("cv_a"), col("cv_a")))
    val nrmB = sqrt(graft.functions.VectorOps.dot_product(col("cv_b"), col("cv_b")))
    cents
      .select(col("label"), col("n_a"), col("n_b"),
        when(nrmA * nrmB === 0.0, lit(null).cast("double"))
          .otherwise(round(dotAb / (nrmA * nrmB), 6)).as("centroid_cosine"))
      .withColumn("is_drifted", coalesce(col("centroid_cosine") < driftTau, lit(true)))
      .orderBy(col("label"))
  }

  val qualityEmbeddingDriftSql: String =
    s"""WITH $vectorsSql,
       |cells AS (
       |  SELECT label, CAST(t.i AS INTEGER) AS dim,
       |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN CAST(v[t.i + 1] AS DECIMAL(24,6)) END) AS DOUBLE)
       |      / sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
       |    CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN CAST(v[t.i + 1] AS DECIMAL(24,6)) END) AS DOUBLE)
       |      / sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS cb,
       |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |    CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb
       |  FROM e, range($dim) t(i) GROUP BY label, t.i),
       |cents AS (
       |  SELECT label, list(ca ORDER BY dim) AS cv_a, list(cb ORDER BY dim) AS cv_b,
       |    max(na) AS n_a, max(nb) AS n_b
       |  FROM cells GROUP BY label),
       |scored AS (
       |  SELECT label, n_a, n_b,
       |    CASE WHEN sqrt(list_dot_product(cv_a, cv_a)) * sqrt(list_dot_product(cv_b, cv_b)) = 0
       |      THEN NULL
       |      ELSE round(list_dot_product(cv_a, cv_b) /
       |        (sqrt(list_dot_product(cv_a, cv_a)) * sqrt(list_dot_product(cv_b, cv_b))), 6)
       |    END AS centroid_cosine
       |  FROM cents)
       |SELECT label, n_a, n_b, centroid_cosine,
       |  coalesce(centroid_cosine < $driftTau, TRUE) AS is_drifted
       |FROM scored ORDER BY label""".stripMargin

  // -------------------------------------------------------------- PQ ANN
  //
  // Product-quantization ANN — the third compressed-index leg beside
  // IVF (list pruning) and SQ8 (scalar codes): the 64-d vector splits
  // into 16 subspaces of 4 dims, each subspace trains its own
  // 16-centroid codebook (the annIvf deterministic Lloyd device on
  // subvectors), and every vector stores only 16 nibble codes — 8 bytes
  // against 256 for float32, the compression that makes billion-vector
  // indexes fit in RAM (Jégou et al.; FAISS's PQ). Queries rank by ADC
  // (asymmetric distance): per query a 16×16 lookup table of subspace
  // distances computed ONCE, then each candidate costs 16 array lookups
  // + 15 adds — never a full dot product. The exhaustive code scan is
  // the SQ8 contract; at scale it composes with the IVF lists to prune
  // candidates first (same note as SQ8). Recall at 64 bits/vector is
  // information-bounded on this STRUCTURELESS random corpus (measured
  // + pinned in spec, the dedup_embedding discipline); on planted
  // near-duplicate structure — the regime dedup/retrieval actually
  // queries — the same index recalls the planted neighbor at rank 1
  // (also pinned).

  val pqM = 16
  val pqSubDim = dim / pqM // 4
  val pqK = 16
  val pqIters = 2
  val pqQueries = 20

  def annPq(spark: SparkSession, dir: String): DataFrame =
    annPqFor(vectors(spark, dir))

  /** Same index + ADC rank over an arbitrary (vec_id, label, v, nrm)
    * frame — lets DedupSimSpec measure recall on planted near-duplicate
    * structure, the regime a dedup/retrieval query actually hits. */
  private[graft] def annPqFor(vecsIn: DataFrame): DataFrame = {
    val vecs = vecsIn.persist()
    val (codes, luts) = pqIndexFor(vecs)
    vecs.unpersist(false)
    pqAdcRank(codes.crossJoin(broadcast(luts)))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc_d"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** ADC ranking tail shared by the exhaustive (annPq) and IVF-pruned
    * (annIvfPq) paths: input = code rows already joined to their query's
    * flat LUT; output = top-10 per query by exact ADC (round-6, id
    * tiebreak) with rank attached. */
  private def pqAdcRank(candIn: DataFrame): DataFrame = {
    val adc = (0 until pqM).map(s =>
      element_at(col("lutflat"), lit(s * pqK) + col(s"c$s") + 1)).reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc_d"), col("neighbor_id"))
    candIn
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("neighbor_id", col("vec_id"))
      .withColumn("adc_d", round(adc, 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
  }

  /** Trains the 16 per-subspace codebooks on `vecs` (which the CALLER
    * persists and owns — this function does not unpersist) and returns
    * the PQ index pair: `codes` (vec_id + 16 nibble columns, the
    * 8-byte/vector table an executor actually scans) and `luts`
    * (query_id + the 256-entry flat ADC lookup), both eagerly
    * checkpointed so the corpus cache can be released by the caller.
    * Factored from annPqFor so the IVF-composed path (annIvfPq) trains
    * THE SAME index — one derivation, two consumers.
    */
  private[graft] def pqIndexFor(vecs: DataFrame): (DataFrame, DataFrame) =
    pqIndexAndBooks(vecs) match { case (c, l, _) => (c, l) }

  /** pqIndexFor + the trained flat codebook tensor (m·k·subDim doubles,
    * row-major [s][cid][k]) — the distortion report needs the centroid
    * VALUES, not just the assignments. */
  private[graft] def pqIndexAndBooks(
      vecs: DataFrame): (DataFrame, DataFrame, Array[Double]) = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val nVec = vecs.count()
    // deterministic seeds: the SAME evenly spaced vec_ids for every
    // subspace (the annIvf seeding), sliced per subspace driver-side
    val seeds: Array[Array[Double]] = vecs
      .filter(col("vec_id") % lit(math.max(nVec / pqK, 1)) === 0)
      .orderBy(col("vec_id")).limit(pqK)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    // a short codebook would shrink flatBooks and silently corrupt the
    // stride PqCodes/PqDists derive from its length — fail loudly
    require(seeds.length == pqK,
      s"pq needs >= $pqK seed vectors, got ${seeds.length}")
    var books: Array[Array[(Int, Array[Double])]] = Array.tabulate(pqM)(s =>
      seeds.zipWithIndex.map { case (v, i) =>
        (i, v.slice(s * pqSubDim, (s + 1) * pqSubDim))
      })

    // flattened codebook tensor (m·k centroids × subDim, row-major) fed
    // to the native PqCodes/PqDists expressions — ONE expression per
    // projection instead of m·k composed struct-least chains (the
    // HyperplaneBandKeys codegen lesson; distances and tiebreaks are
    // bit-identical to the composed form)
    def flatBooks: Column =
      typedLit(books.flatMap(_.flatMap(_._2)).toSeq)
    def allCodes: Column =
      graft.functions.VectorOps.pq_codes(col("v"), flatBooks, pqM, pqK)

    for (_ <- 1 to pqIters) {
      // ALL 16 subspace assignments + decimal-quantized means in ONE
      // job per iteration: every dim row carries its subspace id
      // s = j DIV subDim and that subspace's assigned cid, then a
      // single (s, cid, k) aggregation updates every codebook. The mean
      // is the annIvf/labelCentroids exact order-independent decimal
      // device; driver state = m·k·subDim doubles (the codebooks).
      val assigned = vecs.withColumn("pc", allCodes)
      val updated = assigned
        .select(col("pc"), posexplode(col("v")).as(Seq("j", "x")))
        .withColumn("s", (col("j") / pqSubDim).cast("int"))
        .select(col("s"), element_at(col("pc"), col("s") + 1).as("cid"),
          (col("j") % pqSubDim).as("k"),
          col("x").cast(DecimalType(24, 6)).as("xd"))
        .groupBy(col("s"), col("cid"), col("k"))
        .agg((sum(col("xd")).cast(DoubleType) / count(lit(1))).as("m"))
        .collect()
        .map(r => ((r.getAs[Int]("s"), r.getAs[Int]("cid")),
          (r.getAs[Int]("k"), r.getAs[Double]("m"))))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).sortBy(_._1).map(_._2).toArray).toMap
      books = Array.tabulate(pqM)(s => books(s).map { case (i, c) =>
        (i, updated.getOrElse((s, i), c))
      })
    }

    // the whole index: 16 nibble codes per vector (32x compression).
    // Both downstream frames checkpoint eagerly so the corpus cache can
    // be RELEASED here instead of leaking one pinned copy per invocation
    // (codes is n×17 ints, luts queries×257 doubles — both tiny).
    val codes = vecs.withColumn("pc", allCodes)
      .select(col("vec_id") +:
        (0 until pqM).map(s => element_at(col("pc"), s + 1).as(s"c$s")): _*)
      .localCheckpoint(true)
    // per-query flat ADC lookup table — every (subspace, centroid)
    // distance computed once per query
    val luts = vecs.filter(col("vec_id") < pqQueries)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorOps.pq_dists(col("v"), flatBooks, pqM, pqK)
          .as("lutflat"))
      .localCheckpoint(true)
    (codes, luts, books.flatMap(_.flatMap(_._2)))
  }

  /** IVF-pruned PQ — the COMPOSED index this family's Scaladoc has
    * promised all along, shipped: the IVF coarse quantizer prunes the
    * candidate set to the query's `ivfProbe` nearest cells, and the PQ
    * codes + per-query ADC LUT rank only those survivors. This is the
    * production shape (FAISS's IVFPQ): at 100 TB the cell pruning cuts
    * the scan by ~k/nprobe while the 8-byte codes cut the bytes
    * streamed by 32× — the two compressions multiply. Both component
    * indexes are THE shared trained artifacts (ivfTrain's quantizer,
    * pqIndexFor's codebooks — one derivation each, every consumer
    * identical), so this op cannot drift from annIvf or annPq.
    *
    * Shape: codes join their cell id by vec_id (both aggregate-thin),
    * probes and LUTs broadcast (queries-sized), ADC is 16 list lookups
    * + 15 adds per surviving candidate, top-10 via the per-query
    * bounded window. Non-residual PQ (codes quantize the raw vector,
    * not the cell residual) — the residual refinement is a codebook
    * swap, not a reshape, and raw-vector codes are what annPq already
    * gates.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val (vecs, centroids) = ivfTrain(spark, dir)
    val (codes, luts) = pqIndexFor(vecs)
    val indexed = vecs.withColumn("cid", ivfAssignExpr(centroids))
      .select(col("vec_id"), col("cid")).localCheckpoint(true)
    val probeCols = ivfScoredStructs(centroids)
    val probes = vecs.filter(col("vec_id") < pqQueries)
      .withColumn("probes", slice(array_sort(array(probeCols: _*)), 1, ivfProbe))
      .select(col("vec_id").as("query_id"),
        explode(expr("transform(probes, p -> p.cid)")).as("cid"))
      .localCheckpoint(true)
    vecs.unpersist(false)
    pqAdcRank(
        codes.join(indexed, "vec_id")
          .join(broadcast(probes), "cid")
          .join(broadcast(luts), "query_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cid"),
        col("adc_d"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The identical per-subspace Lloyd chain + codes + ADC rank unrolled
    * as DuckDB CTEs (the annIvfSql pattern × 16 subspaces). Subvectors
    * are 1-based inclusive list slices. Codes and LUTs collapse to ONE
    * ordered list per vector / per query (a 33-way equi-join formulation
    * sent DuckDB's planner into the weeds), and the ADC sum is written
    * as 16 explicit list-index terms in the Spark fold order — the sum
    * stays order-pinned, no aggregate over doubles.
    */
  /** Shared CTE chain training the 16 codebooks and deriving `codes`
    * (ordered code list per vector) + `luts` (ordered lut-of-lists per
    * query) — annPqSql's base AND annIvfPqSql's, so the two oracles
    * cannot train different indexes (the ivfCtes discipline). Assumes
    * the `e` vectors CTE is already in scope; the stride CTE is named
    * `ps` so the chain composes with ivfCtes (whose stride CTE is `s`).
    */
  private lazy val pqChainCtes: String = {
    def lo(s: Int) = s * pqSubDim + 1
    def hi(s: Int) = (s + 1) * pqSubDim
    def dist(vexpr: String, cexpr: String): String =
      s"list_dot_product($cexpr, $cexpr) - list_dot_product($vexpr, $cexpr) * 2"
    def assign(name: String, s: Int, cents: String): String =
      s"""$name AS (
         |  SELECT e.vec_id, e.v[${lo(s)}:${hi(s)}] AS vs, c.cid
         |  FROM e CROSS JOIN $cents c
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${dist(s"e.v[${lo(s)}:${hi(s)}]", "c.v")}, c.cid) = 1)""".stripMargin
    def mean(name: String, assigned: String, prev: String): String =
      s"""${name}_m AS (
         |  SELECT cid, t.i AS k,
         |    CAST(sum(CAST(vs[t.i + 1] AS DECIMAL(24,6))) AS DOUBLE) / count(*) AS m
         |  FROM $assigned, range($pqSubDim) t(i) GROUP BY cid, t.i),
         |$name AS (
         |  SELECT p.cid, coalesce(mv.v, p.v) AS v
         |  FROM $prev p LEFT JOIN (
         |    SELECT cid, list(m ORDER BY k) AS v FROM ${name}_m GROUP BY cid) mv
         |  USING (cid))""".stripMargin
    val perSub = (0 until pqM).map { s =>
      s"""c0_$s AS (SELECT cid, v[${lo(s)}:${hi(s)}] AS v FROM cseed),
         |${assign(s"a1_$s", s, s"c0_$s")},
         |${mean(s"c1_$s", s"a1_$s", s"c0_$s")},
         |${assign(s"a2_$s", s, s"c1_$s")},
         |${mean(s"c2_$s", s"a2_$s", s"c1_$s")},
         |code_$s AS (
         |  SELECT e.vec_id, c.cid
         |  FROM e CROSS JOIN c2_$s c
         |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
         |    ORDER BY ${dist(s"e.v[${lo(s)}:${hi(s)}]", "c.v")}, c.cid) = 1),
         |lut_$s AS (
         |  SELECT q.vec_id AS query_id, c.cid,
         |    ${dist(s"q.v[${lo(s)}:${hi(s)}]", "c.v")} AS d
         |  FROM e q CROSS JOIN c2_$s c WHERE q.vec_id < $pqQueries)""".stripMargin
    }.mkString(",\n")
    // one ordered code list per vector, one ordered lut-of-lists per query
    val codeUnion = (0 until pqM)
      .map(s => s"SELECT vec_id, $s AS s, cid FROM code_$s").mkString("\nUNION ALL\n")
    val lutUnion = (0 until pqM)
      .map(s => s"SELECT query_id, $s AS s, cid, d FROM lut_$s").mkString("\nUNION ALL\n")
    s"""ps AS (SELECT greatest(count(*) // $pqK, 1) AS stride FROM e),
       |cseed AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v FROM (
       |    SELECT vec_id, v FROM e
       |    WHERE vec_id % (SELECT stride FROM ps) = 0
       |    ORDER BY vec_id LIMIT $pqK)),
       |$perSub,
       |codes AS (
       |  SELECT vec_id, list(cid ORDER BY s) AS codes FROM (
       |$codeUnion) GROUP BY vec_id),
       |luts AS (
       |  SELECT query_id, list(dl ORDER BY s) AS ll FROM (
       |    SELECT query_id, s, list(d ORDER BY cid) AS dl FROM (
       |$lutUnion) GROUP BY query_id, s) GROUP BY query_id)""".stripMargin
  }

  /** The 16-term ADC sum in Spark's fold order, over `co` (codes) and
    * `q` (luts) — order-pinned, no aggregate over doubles. */
  private lazy val pqAdcTermsSql: String = (0 until pqM)
    .map(s => s"q.ll[${s + 1}][co.codes[${s + 1}] + 1]").mkString(" + ")

  lazy val annPqSql: String =
    s"""WITH $vectorsSql,
       |$pqChainCtes,
       |cand AS (
       |  SELECT q.query_id, co.vec_id AS neighbor_id,
       |    round($pqAdcTermsSql, 6) AS adc_d
       |  FROM codes co CROSS JOIN luts q
       |  WHERE co.vec_id <> q.query_id)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_d, neighbor_id) AS INTEGER) AS rank,
       |  neighbor_id, adc_d
       |FROM cand
       |QUALIFY rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** IVF probes + PQ ADC over the SAME shared chains (ivfCtes trains
    * the coarse quantizer, pqChainCtes the codebooks): candidates are
    * the probed cells' members from `idx`, ranked by the identical ADC
    * terms — the composed-oracle proof that annIvfPq prunes annPq's
    * scan without changing its arithmetic. */
  lazy val annIvfPqSql: String =
    s"""WITH $ivfCtes,
       |probes AS (
       |  SELECT e.vec_id AS query_id, c.cid
       |  FROM e CROSS JOIN c2 c WHERE e.vec_id < $pqQueries
       |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${ivfDistSql("e.v", "c.v")}, c.cid) <= $ivfProbe),
       |$pqChainCtes,
       |cand AS (
       |  SELECT p.query_id, i.vec_id AS neighbor_id,
       |    CAST(i.cid AS INTEGER) AS cid,
       |    round($pqAdcTermsSql, 6) AS adc_d
       |  FROM probes p
       |  JOIN idx i ON i.cid = p.cid AND i.vec_id <> p.query_id
       |  JOIN codes co ON co.vec_id = i.vec_id
       |  JOIN luts q ON q.query_id = p.query_id)
       |SELECT query_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_d, neighbor_id) AS INTEGER) AS rank,
       |  neighbor_id, cid, adc_d
       |FROM cand
       |QUALIFY rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** ANN via random-hyperplane LSH: vectors bucketed by sign bits, each
    * query probes only its own bucket, exact cosine rank within bucket.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = vectors(spark, dir).withColumn("bucket", bucketExpr("v"))
    val queries = bucketed.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("v_q"),
        col("nrm").as("nrm_q"), col("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    bucketed.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("bucket"),
        cosine("v_q", "v", col("nrm_q"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"), col("bucket"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annLshSql: String =
    s"""WITH $vectorsSql,
       |bucketed AS (
       |  SELECT vec_id, v, nrm, CAST(${bucketSqlExpr("v")} AS BIGINT) AS bucket FROM e),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket,
       |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
       |  FROM bucketed q JOIN bucketed c
       |    ON q.vec_id < 20 AND c.bucket = q.bucket AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cosine, bucket,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cosine, bucket FROM ranked
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** ANN over a SCALAR-QUANTIZED index (SQ8) — the compressed-index leg
    * of the similarity family: each dimension linearly quantized to
    * [0,255] against per-dimension corpus [min,max], so the scanned
    * index is uint8 codes (4× smaller than float32, 8× than double —
    * at 100 TB the index that must stream through executors is the
    * bottleneck, which is WHY production ANN quantizes). Ranking is
    * integer squared-L2 over codes: every distance is an exact BIGINT,
    * so ordering is bit-deterministic with no float seam; ties break on
    * vec_id. Recall vs the exact float top-k is measured and pinned in
    * DedupSimSpec (quantization, not search, is the only error source —
    * the code scan is exhaustive; compose with IVF lists to cut the
    * scan at scale, same contract as annIvf).
    *
    * Shape: per-dim stats are a 64-row broadcast; codes are one narrow
    * map over the corpus; the query side is Q×64 code rows broadcast
    * into the distance join; top-k is a bounded per-query window.
    */
  val sq8Queries = 20

  def annSq8(spark: SparkSession, dir: String): DataFrame = {
    val dims = vectors(spark, dir)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("d", "x")))
    val stats = dims.groupBy(col("d"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
    val codeExpr =
      "CAST(CASE WHEN hi = lo THEN 0 ELSE least(floor((x - lo) / (hi - lo) * 255.0), 255.0) END AS BIGINT)"
    val codes = dims.join(broadcast(stats), "d")
      .select(col("vec_id"), col("d"), expr(codeExpr).as("code"))
    val qcodes = codes.filter(col("vec_id") < sq8Queries)
      .select(col("vec_id").as("query_id"), col("d"), col("code").as("qcode"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist_q"), col("vec_id"))
    codes.join(broadcast(qcodes), "d")
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum((col("qcode") - col("code")) * (col("qcode") - col("code")))
        .as("dist_q"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("dist_q"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annSq8Sql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |dims AS (
       |  SELECT vec_id, CAST(i AS INTEGER) - 1 AS d, v[CAST(i AS INT)] AS x
       |  FROM e, range(1, 65) r(i)),
       |stats AS (SELECT d, min(x) AS lo, max(x) AS hi FROM dims GROUP BY d),
       |codes AS (
       |  SELECT vec_id, dims.d,
       |    CAST(CASE WHEN hi = lo THEN 0 ELSE least(floor((x - lo) / (hi - lo) * 255.0), 255.0) END AS BIGINT) AS code
       |  FROM dims JOIN stats ON dims.d = stats.d),
       |dist AS (
       |  SELECT q.vec_id AS query_id, c.vec_id,
       |    sum((q.code - c.code) * (q.code - c.code)) AS dist_q
       |  FROM codes q JOIN codes c ON q.d = c.d AND q.vec_id < $sq8Queries AND c.vec_id <> q.vec_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, vec_id, dist_q,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist_q, vec_id) AS INTEGER) AS rank
       |  FROM dist)
       |SELECT query_id, rank, vec_id AS neighbor_id, CAST(dist_q AS BIGINT) AS dist_q
       |FROM ranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------- binary hamming ANN
  //
  // The fourth compressed-index leg: 60-bit SIGN SKETCHES (one bit per
  // md5-derived hyperplane — the annLsh geometry, 60 planes instead of
  // 6) ranked by HAMMING distance, then exact-cosine rerank of the
  // top-`hamCand` sketch candidates. This is the binary-code ANN every
  // production stack fields when even SQ8 is too fat: the scanned index
  // is 8 bytes/vector (32× vs float32), and the scan kernel is
  // xor+popcount — two machine instructions, no arithmetic at all.
  // Sign-sketch hamming estimates angle (Charikar's SimHash bound:
  // E[ham/bits] = acos(cos θ)/π), so the sketch ranking is a cheap
  // angular proxy and the rerank restores exact order among survivors.
  // Recall is bounded by the sketch's 60-bit resolution; measured and
  // pinned vs the exact top-k in DedupSimSpec (the SQ8/PQ contract —
  // exhaustive code scan, quantization is the only error source).
  //
  // Shape: signatures are ONE native band_keys pass (bands=1, bits=60 —
  // the dedup_embedding codegen discipline) over the corpus scan; the
  // 20-query sketch set broadcasts; candidate ranking carries only
  // (query_id, vec_id, hamming) through the per-query window; vectors
  // join back by id for the rerank of ≤ 50 rows/query. Integer hamming
  // + vec_id tiebreak → bit-deterministic candidates, no float seam
  // before the (rounded) cosine.

  val hamBits = 60
  val hamQueries = 20
  val hamCand = 50
  val hamK = 10
  lazy val hamPlanes: Array[Array[Double]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(hamBits, dim) { (j, k) =>
      val hex = mdt.digest(s"hb${j}_$k".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      ((java.lang.Long.parseLong(hex, 16) % 1000) - 499.5) / 1000.0
    }
  }

  def annHamming(spark: SparkSession, dir: String): DataFrame =
    annHammingFor(vectors(spark, dir))

  private[graft] def annHammingFor(vectorsIn: DataFrame): DataFrame = {
    val sigs = vectorsIn.select(col("vec_id"), col("v"), col("nrm"),
      graft.functions.VectorOps.band_keys(col("v"),
        typedLit(hamPlanes.flatten.toSeq), 1, hamBits).getItem(0).as("sig"))
    val q = sigs.filter(col("vec_id") < hamQueries)
      .select(col("vec_id").as("query_id"), col("v").as("v_q"),
        col("nrm").as("nrm_q"), col("sig").as("sig_q"))
    val wHam = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    val cand = sigs.select(col("vec_id").as("neighbor_id"), col("sig"))
      .crossJoin(broadcast(q.select(col("query_id"), col("sig_q"))))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        bit_count(col("sig").bitwiseXOR(col("sig_q"))).as("hamming"))
      .withColumn("ham_rank", row_number().over(wHam))
      .filter(col("ham_rank") <= hamCand)
    val wCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cand
      .join(sigs.select(col("vec_id").as("neighbor_id"), col("v"), col("nrm")),
        "neighbor_id")
      .join(broadcast(q.select(col("query_id"), col("v_q"), col("nrm_q"))),
        "query_id")
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        cosine("v_q", "v", col("nrm_q"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= hamK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("hamming"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private def hamSigSql(v: String): String =
    (0 until hamBits).map { j =>
      s"CASE WHEN list_dot_product($v, ${sqlArray(hamPlanes(j))}) >= 0 THEN ${1L << j} ELSE 0 END"
    }.mkString("(", " + ", ")")

  lazy val annHammingSql: String =
    s"""WITH $vectorsSql,
       |sigs AS (
       |  SELECT vec_id, v, nrm, CAST(${hamSigSql("v")} AS BIGINT) AS sig FROM e),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    CAST(bit_count(xor(c.sig, q.sig)) AS INTEGER) AS hamming
       |  FROM sigs q JOIN sigs c
       |    ON q.vec_id < $hamQueries AND c.vec_id <> q.vec_id),
       |cand AS (
       |  SELECT query_id, neighbor_id, hamming FROM (
       |    SELECT query_id, neighbor_id, hamming,
       |      row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id)
       |        AS ham_rank
       |    FROM scored)
       |  WHERE ham_rank <= $hamCand),
       |rescored AS (
       |  SELECT c.query_id, c.neighbor_id, c.hamming,
       |    round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) AS cosine
       |  FROM cand c
       |  JOIN sigs x ON c.neighbor_id = x.vec_id
       |  JOIN sigs q ON c.query_id = q.vec_id)
       |SELECT query_id, rank, neighbor_id, hamming, cosine FROM (
       |  SELECT query_id, neighbor_id, hamming, cosine,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
       |      AS INTEGER) AS rank
       |  FROM rescored)
       |WHERE rank <= $hamK
       |ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------------- SemDeDup
  //
  // Cluster-scoped semantic dedup (Abbas et al., SemDeDup): partition the
  // embedding space into clusters, compare pairs ONLY within a cluster,
  // and keep one representative per near-duplicate group. The cluster
  // scoping is what makes semantic dedup tractable — candidate work is
  // Σ|cluster|² instead of n², and each cluster's pair join is an
  // independent equi-join shard.
  //
  // Clusters here are the 6-bit hyperplane buckets (the annLsh geometry —
  // deterministic, literal-shared with the oracle). At production scale
  // the cluster map is the IVF k-means quantizer (annIvf) with k grown
  // ~n/target_cluster_size, which keeps per-cluster work bounded and the
  // cid join key space wide; the contract downstream of the cluster
  // column is identical. Drop rule, deterministic: a vector is dropped
  // iff some same-cluster neighbor with cosine >= semTau has a SMALLER
  // vec_id (keep-first greedy — the kept set is exactly the vectors with
  // no retained smaller-id near-duplicate, no iteration needed).

  val semTau = 0.45

  // ------------------------------------------------------------------ MMR
  //
  // Maximal-marginal-relevance re-ranking (Carbonell & Goldstein) — the
  // retrieval step AFTER candidate generation: from each query's top-N
  // relevance pool, greedily pick k results trading relevance against
  // redundancy (score = λ·rel − (1−λ)·max sim to anything already picked).
  // A RAG stack runs exactly this between ANN and the prompt window.
  //
  // Scale shape: candidate scoring is the brute-force pass over a
  // BOUNDED query set (swap the ANN probe in for the scorer at scale —
  // the pool contract downstream is identical); the pool is cut by the
  // bounded TopKAgg aggregator (k rows per query×partition ride the
  // shuffle, never a per-query window over the corpus); the greedy
  // selection runs INSIDE flatMapGroups per query over pool-sized groups
  // — embarrassingly parallel across queries, zero driver state, state
  // per group = pool² rounded sims. Determinism: rel and pairwise sims
  // round to 6 (the cosine contract), λ = 0.5 is exact binary, score
  // arithmetic is the same op order in Scala and SQL, ties break to the
  // smaller cand_id. Oracle: the greedy loop unrolled as k CTE steps
  // (the BpeTrainer pattern).

  val mmrQueries = 8
  val mmrPool = 12
  val mmrK = 5

  def simMmr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TopKAgg
    val vecs = vectors(spark, dir).persist()
    val qs = vecs.filter(col("vec_id") < mmrQueries)
      .select(col("vec_id").as("query_id"), col("v").as("v_q"), col("nrm").as("nrm_q"))
    val scored = vecs.crossJoin(broadcast(qs)) // queries-sized broadcast
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        cosine("v_q", "v", col("nrm_q"), col("nrm")).as("rel"), col("vec_id"))
    val agg = new TopKAgg.TopK(mmrPool)
    val pool = scored.as[(Long, Double, Long)]
      .groupByKey(_._1).agg(agg.toColumn)
      .flatMap { (p: (Long, Seq[TopKAgg.Entry])) =>
        p._2.map { case (rel, id) => (p._1, id, rel) }
      }.toDF("query_id", "cand_id", "rel")
    val poolV = pool.join(
      vecs.select(col("vec_id").as("cand_id"), col("v"), col("nrm")), "cand_id")
      .select(col("query_id"), col("cand_id"), col("rel"), col("v"), col("nrm"))
    poolV.as[(Long, Long, Double, Seq[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (q: Long, it: Iterator[(Long, Long, Double, Seq[Double], Double)]) =>
        val cands = it.map(c => (c._2, c._3, c._4.toArray, c._5)).toArray
          .sortBy(c => (-c._2, c._1))
        // pairwise sims, rounded like the cosine contract (strict
        // index-order dot — the list_dot_product left fold)
        def sim(a: Int, b: Int): Double = {
          val (va, vb) = (cands(a)._3, cands(b)._3)
          var d = 0.0; var i = 0
          while (i < va.length) { d += va(i) * vb(i); i += 1 }
          BigDecimal(d / (cands(a)._4 * cands(b)._4))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
        val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
        val remaining = scala.collection.mutable.LinkedHashSet(cands.indices: _*)
        while (selected.length < mmrK && remaining.nonEmpty) {
          var bestI = -1; var bestScore = Double.NegativeInfinity
          for (i <- remaining) {
            val maxSim =
              if (selected.isEmpty) 0.0
              else selected.map(s => sim(i, s._1)).max
            val score = 0.5 * cands(i)._2 - 0.5 * maxSim
            // ties break to the smaller cand_id: remaining iterates in
            // (rel desc, id) order, so strict > keeps the first best —
            // but equal scores at different ids must pick the SMALLER id
            if (score > bestScore ||
              (score == bestScore && cands(i)._1 < cands(bestI)._1)) {
              bestI = i; bestScore = score
            }
          }
          selected += ((bestI, bestScore))
          remaining -= bestI
        }
        selected.zipWithIndex.map { case ((i, score), r) =>
          (q, r + 1, cands(i)._1, score)
        }
      }
      .toDF("query_id", "rank", "cand_id", "score")
      .orderBy(col("query_id"), col("rank"))
  }

  /** The greedy loop unrolled: pool → pairwise sims → k argmax steps,
    * each step a 1-row-per-query QUALIFY over (score DESC, cand_id). */
  lazy val simMmrSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH $vectorsSql,
              |q AS (SELECT vec_id AS query_id, v AS v_q, nrm AS nrm_q FROM e WHERE vec_id < $mmrQueries),
              |scored AS (
              |  SELECT q.query_id, e.vec_id AS cand_id,
              |    round(list_dot_product(v_q, e.v) / (nrm_q * e.nrm), 6) AS rel
              |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
              |pool AS (
              |  SELECT query_id, cand_id, rel FROM scored
              |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) <= $mmrPool),
              |pv AS (
              |  SELECT p.query_id, p.cand_id, p.rel, e.v, e.nrm
              |  FROM pool p JOIN e ON p.cand_id = e.vec_id),
              |sims AS (
              |  SELECT a.query_id, a.cand_id AS a_id, b.cand_id AS b_id,
              |    round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS sim
              |  FROM pv a JOIN pv b
              |    ON a.query_id = b.query_id AND a.cand_id <> b.cand_id),
              |s1 AS (
              |  SELECT query_id, cand_id, 0.5 * rel - 0.5 * 0.0 AS score FROM pv
              |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) = 1),
              |sel1 AS (SELECT query_id, cand_id FROM s1)""".stripMargin
    for (k <- 2 to mmrK) {
      sb ++= s""",
                |s$k AS (
                |  SELECT query_id, cand_id, score FROM (
                |    SELECT p.query_id, p.cand_id,
                |      0.5 * p.rel - 0.5 * max(s.sim) AS score
                |    FROM pv p
                |    LEFT JOIN sel${k - 1} x
                |      ON x.query_id = p.query_id AND x.cand_id = p.cand_id
                |    JOIN sims s ON s.query_id = p.query_id AND s.a_id = p.cand_id
                |    JOIN sel${k - 1} y ON y.query_id = s.query_id AND y.cand_id = s.b_id
                |    WHERE x.cand_id IS NULL
                |    GROUP BY p.query_id, p.cand_id, p.rel)
                |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, cand_id) = 1),
                |sel$k AS (SELECT query_id, cand_id FROM sel${k - 1}
                |          UNION ALL SELECT query_id, cand_id FROM s$k)""".stripMargin
    }
    sb ++= (1 to mmrK).map(k =>
      s"\nSELECT query_id, $k AS rank, cand_id, score FROM s$k")
      .mkString("", "\nUNION ALL", "\nORDER BY query_id, rank")
    sb.result()
  }

  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    // persisted: feeds the keyed self-join (both sides) + the per-cluster base count
    val idx = vectors(spark, dir).withColumn("cid", bucketExpr("v")).persist()
    val aSide = idx.select(col("cid"), col("vec_id").as("a_id"),
      col("v").as("v_a"), col("nrm").as("nrm_a"))
    val bSide = idx.select(col("cid"), col("vec_id").as("b_id"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    val hits = aSide.join(bSide, "cid")
      .filter(col("a_id") < col("b_id"))
      .filter(cosine("v_a", "v_b", col("nrm_a"), col("nrm_b")) >= semTau)
      .select(col("cid"), col("a_id"), col("b_id"))
    val base = idx.groupBy(col("cid")).agg(count(lit(1)).as("n_vecs"))
    val nPairs = hits.groupBy(col("cid")).agg(count(lit(1)).as("n_dup_pairs"))
    val dropped = hits.select(col("cid"), col("b_id")).distinct()
      .groupBy(col("cid")).agg(count(lit(1)).as("n_dropped"))
    base.join(nPairs, Seq("cid"), "left").join(dropped, Seq("cid"), "left")
      .select(col("cid"), col("n_vecs"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        expr("CAST(coalesce(n_dropped, 0) * 1000000 DIV n_vecs AS BIGINT)")
          .as("drop_ppm"))
      .orderBy(col("cid"))
  }

  val semDedupSql: String =
    s"""WITH $vectorsSql,
       |idx AS (SELECT vec_id, v, nrm, CAST(${bucketSqlExpr("v")} AS BIGINT) AS cid FROM e),
       |hits AS (
       |  SELECT a.cid, a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM idx a JOIN idx b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= $semTau),
       |base AS (SELECT cid, count(*) AS n_vecs FROM idx GROUP BY cid),
       |np AS (SELECT cid, count(*) AS n_dup_pairs FROM hits GROUP BY cid),
       |nd AS (SELECT cid, count(*) AS n_dropped FROM
       |         (SELECT DISTINCT cid, b_id FROM hits) GROUP BY cid)
       |SELECT base.cid, base.n_vecs,
       |  CAST(coalesce(np.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
       |  CAST(coalesce(nd.n_dropped, 0) AS BIGINT) AS n_dropped,
       |  CAST((coalesce(nd.n_dropped, 0) * 1000000) // base.n_vecs AS BIGINT) AS drop_ppm
       |FROM base LEFT JOIN np USING (cid) LEFT JOIN nd USING (cid)
       |ORDER BY cid""".stripMargin

  // --------------------------------------------------------------- k-NN graph
  //
  // The neighborhood graph a curation pipeline builds once and reuses
  // everywhere (SemDeDup cluster seeding, label propagation, diversity
  // sampling, duplicate-cluster discovery): for every vector, its top-k
  // most-cosine-similar neighbors AMONG THE BANDED LSH CANDIDATES. The
  // candidate generator is the same recall-bounded 16x6 hyperplane
  // banding as the pair operators (equi-join, never all-pairs); the
  // per-node top-k is a window PARTITIONED BY the node — per-node
  // bounded work, no global sort. At 100 TB: candidates stream out of
  // the band join hash-partitioned by src, and the rank never sees more
  // than one node's candidate list at a time.

  val knnK = 5

  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraphFor(lshPairs(spark, dir))

  /** Same top-k ranking over an arbitrary lshPairsFor-shaped frame —
    * lets DedupSimSpec assert planted high-cosine duplicates surface as
    * rank-1 neighbors. */
  private[graft] def knnGraphFor(pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn.filter(col("cosine").isNotNull)
    // symmetrize: each undirected candidate pair feeds both endpoints
    val directed = pairs.select(col("vec_id_a").as("src"), col("vec_id_b").as("dst"),
        col("cosine"))
      .unionByName(pairs.select(col("vec_id_b").as("src"), col("vec_id_a").as("dst"),
        col("cosine")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
    directed
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= knnK)
      .select(col("src"), col("rank"), col("dst"), col("cosine"))
      .orderBy(col("src"), col("rank"))
  }

  /** Shared CTE chain deriving the k-NN graph — knn_graph's oracle AND
    * the base of knn_label_prop's, so the two cannot drift (the
    * BpeTrainer/pack_shards_bpe shared-derivation discipline). */
  // Oracle-side CTE discipline: every multiply-referenced CTE in this
  // chain (keyed's self-join, lsh_pairs' two directed arms, knn's
  // consumers, the triangle orientation tables) carries AS MATERIALIZED.
  // DuckDB otherwise INLINES a CTE per reference — each inline of the
  // knn chain recomputes the banded pair join with the 64-double vectors
  // attached, which at sf1 spilled ~80 GB on knn_triangles' three `o`
  // references. A pure planner hint: values are unchanged; the oracle
  // computes each chain stage once, like the Spark side's persists.
  private lazy val knnGraphCtes: String =
    s"""$lshPairsSql,
       |directed AS (
       |  SELECT vec_id_a AS src, vec_id_b AS dst, cosine FROM lsh_pairs
       |  WHERE cosine IS NOT NULL
       |  UNION ALL
       |  SELECT vec_id_b AS src, vec_id_a AS dst, cosine FROM lsh_pairs
       |  WHERE cosine IS NOT NULL),
       |knn AS MATERIALIZED (
       |  SELECT src, rank, dst, cosine FROM (
       |    SELECT src, dst, cosine,
       |      CAST(row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst)
       |        AS INTEGER) AS rank
       |    FROM directed)
       |  WHERE rank <= $knnK)""".stripMargin

  val knnGraphSql: String =
    s"""WITH $knnGraphCtes
       |SELECT src, rank, dst, cosine FROM knn
       |ORDER BY src, rank""".stripMargin

  // -------------------------------------------------- knn assortativity
  //
  // Degree ASSORTATIVITY of the k-NN graph (Newman 2002: the Pearson
  // correlation of endpoint total degrees over edges) — the one-number
  // topology diagnostic for a similarity graph: r > 0 means hubs link
  // to hubs (dense semantic cores — clustering/label-prop will behave),
  // r < 0 means hub-and-spoke (a few attractors absorb everything —
  // exactly the regime where kNN-graph consumers degrade and degCap
  // guards matter). Runs over THE shared knn derivation (knnGraphCtes),
  // so the report describes exactly the graph knn_label_prop and
  // knn_triangles consume.
  //
  // Exactness + scale: total degrees from one node-keyed count over the
  // k·n edge list; edges join the degree table twice (node-keyed
  // equi-joins); all six Pearson sums exact DECIMAL(38,0)/HUGEINT and r
  // in IEEE double over exact sums (the events_autocorr device); zero
  // variance degrades to NULL via identical CASE both engines. Output
  // is one row.

  def knnAssortativity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val dec = DecimalType(38, 0)
    val edges = knnGraph(spark, dir).select(col("src"), col("dst"))
      .localCheckpoint() // feeds the degree agg AND both endpoint joins
    val deg = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val joined = edges
      .join(deg.select(col("node").as("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
    joined.agg(count(lit(1)).as("n_edges"),
        sum(col("dx").cast(dec)).cast(dec).as("sx"),
        sum(col("dy").cast(dec)).cast(dec).as("sy"),
        sum((col("dx") * col("dy")).cast(dec)).cast(dec).as("sxy"),
        sum((col("dx") * col("dx")).cast(dec)).cast(dec).as("sxx"),
        sum((col("dy") * col("dy")).cast(dec)).cast(dec).as("syy"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .select(col("n_nodes"), col("n_edges"),
        expr(
          """CASE WHEN n_edges <= 1
            |  OR n_edges * sxx - sx * sx = 0 OR n_edges * syy - sy * sy = 0
            |THEN NULL ELSE
            |  (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
            |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
            |  (sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
            |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
            |   sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
            |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
            |END""".stripMargin).as("assortativity"))
  }

  val knnAssortativitySql: String =
    s"""WITH $knnGraphCtes,
       |edges AS (SELECT src, dst FROM knn),
       |deg AS MATERIALIZED (
       |  SELECT node, count(*) AS deg FROM (
       |    SELECT src AS node FROM edges
       |    UNION ALL SELECT dst FROM edges)
       |  GROUP BY node),
       |sums AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
       |    CAST(sum(CAST(a.deg AS HUGEINT)) AS HUGEINT) AS sx,
       |    CAST(sum(CAST(b.deg AS HUGEINT)) AS HUGEINT) AS sy,
       |    CAST(sum(CAST(a.deg AS HUGEINT) * b.deg) AS HUGEINT) AS sxy,
       |    CAST(sum(CAST(a.deg AS HUGEINT) * a.deg) AS HUGEINT) AS sxx,
       |    CAST(sum(CAST(b.deg AS HUGEINT) * b.deg) AS HUGEINT) AS syy
       |  FROM edges e JOIN deg a ON e.src = a.node
       |               JOIN deg b ON e.dst = b.node),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
       |SELECT n_nodes, n_edges,
       |  CASE WHEN n_edges <= 1
       |    OR n_edges * sxx - sx * sx = 0 OR n_edges * syy - sy * sy = 0
       |  THEN NULL ELSE
       |    (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
       |    (sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
       |     sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
       |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |  END AS assortativity
       |FROM sums, nn""".stripMargin

  // ------------------------------------------------------ label propagation
  //
  // Semi-supervised LABEL PROPAGATION over the k-NN graph (Zhu &
  // Ghahramani's LPA in its clamped discrete form) — the canonical
  // knn_graph consumer: spread scarce gold labels (20% seeds here)
  // through the neighborhood structure to label the rest of the corpus.
  // Per round, every non-seed node adopts the MAJORITY label among its
  // k neighbors' current labels (unlabeled neighbors abstain, ties break
  // to the smallest label, no votes keeps the previous state); seeds are
  // CLAMPED to their gold label. Exact integer/label arithmetic
  // end-to-end — no float seam anywhere, so op and oracle must agree
  // bit-for-bit. Scale shape: each round is one (dst-keyed join + src
  // majority aggregation) over the k·n edge list — the GraphOps
  // iterative-join discipline with per-round localCheckpoint; rounds are
  // a fixed small constant (LPA converges in a few hops on knn graphs).

  val lpRounds = 3
  val lpSeedMod = 5 // vec_id % 5 == 0 → seed (20% gold labels)

  def knnLabelProp(spark: SparkSession, dir: String): DataFrame = {
    // (src, dst) edge list materialized ONCE — the per-round join relation
    val g = knnGraph(spark, dir).select(col("src"), col("dst"))
      .localCheckpoint(true)
    // r14.2, tried and reverted: lazily persisting the rounds and
    // materializing the whole lpRounds unroll in ONE action (the
    // pageRank bounded-unroll device) removed the 4 eager-checkpoint
    // jobs but REGRESSED the isolate 3.1 → 4.3 s — the single adaptive
    // query spans ~12 exchanges, and AQE re-plans the surviving plan
    // after every materialized stage (the infer_constraints quadratic-
    // replanning bill), costing more than the checkpoints saved. The
    // per-round checkpoint keeps each adaptive query small.
    var cur = vectors(spark, dir)
      .select(col("vec_id"), (col("vec_id") % lpSeedMod === 0).as("is_seed"),
        col("label"),
        when(col("vec_id") % lpSeedMod === 0, col("label")).as("cur"))
      .localCheckpoint(true)
    for (_ <- 1 to lpRounds) {
      val votes = g
        .join(cur.select(col("vec_id").as("nid"), col("cur").as("nlbl")),
          col("dst") === col("nid"))
        .filter(col("nlbl").isNotNull)
        .groupBy(col("src"), col("nlbl")).agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("c").desc, col("nlbl"))
      val pick = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src"), col("nlbl").as("pick"))
      val next = cur.join(pick, col("vec_id") === col("src"), "left_outer")
        .select(col("vec_id"), col("is_seed"), col("label"),
          when(col("is_seed"), col("label"))
            .otherwise(coalesce(col("pick"), col("cur"))).as("cur"))
        .localCheckpoint(true) // per-round checkpoint/free (GraphOps discipline)
      freeCheckpoint(cur)
      cur = next
    }
    val out = cur.select(col("vec_id"), col("label"), col("is_seed"),
        col("cur").as("prop_label"),
        coalesce(col("cur") === col("label"), lit(false)).as("agrees"))
      .orderBy(col("vec_id"))
      .localCheckpoint(true) // materialize so the last round's blocks free
    freeCheckpoint(cur)
    freeCheckpoint(g)
    out
  }

  val knnLabelPropSql: String = {
    val rounds = (1 to lpRounds).map { r =>
      s"""v$r AS (
         |  SELECT knn.src, a.cur AS lbl, count(*) AS c
         |  FROM knn JOIN a${r - 1} a ON knn.dst = a.vec_id
         |  WHERE a.cur IS NOT NULL
         |  GROUP BY knn.src, a.cur),
         |p$r AS (
         |  SELECT src, lbl FROM (
         |    SELECT src, lbl,
         |      row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
         |    FROM v$r)
         |  WHERE rn = 1),
         |a$r AS (
         |  SELECT a.vec_id,
         |    CASE WHEN a.vec_id % $lpSeedMod = 0 THEN a.gold
         |         ELSE coalesce(p$r.lbl, a.cur) END AS cur,
         |    a.gold
         |  FROM a${r - 1} a LEFT JOIN p$r ON a.vec_id = p$r.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH $knnGraphCtes,
       |a0 AS (
       |  SELECT vec_id,
       |    CASE WHEN vec_id % $lpSeedMod = 0 THEN label END AS cur,
       |    label AS gold
       |  FROM e),
       |$rounds
       |SELECT vec_id, gold AS label, vec_id % $lpSeedMod = 0 AS is_seed,
       |  cur AS prop_label, coalesce(cur = gold, FALSE) AS agrees
       |FROM a$lpRounds
       |ORDER BY vec_id""".stripMargin
  }

  // ----------------------------------------------------- triangle counting
  //
  // Per-node triangle counts + local clustering coefficient over the
  // k-NN graph — the neighborhood-density diagnostic for embedding
  // spaces (tight duplicate clusters close their triangles; a node whose
  // neighbors are mutual neighbors sits inside a near-dup clique, while
  // a hub with zero closure bridges unrelated regions — exactly the
  // SemDeDup/diversity-sampling signal).
  //
  // Algorithm: the degree-ordered wedge-closure counting of Suri &
  // Vassilvitskii ("Counting Triangles and the Curse of the Last
  // Reducer", WWW 2011): orient every undirected edge from its
  // lower-(degree, id) endpoint to the higher; each triangle then has
  // exactly ONE node with out-edges to the other two, so wedges
  // (u→v, u→w) joined against the oriented edge (v, w) count each
  // triangle once, and the out-degree of any node is O(sqrt(m)) — the
  // wedge join's fan-out is bounded regardless of hub skew. All steps
  // are node-keyed equi-joins; exact integer ppm at the end.

  def knnTriangles(spark: SparkSession, dir: String): DataFrame =
    knnTrianglesFor(knnGraph(spark, dir))

  /** Same counting over an arbitrary (src, dst, …) edge frame — lets
    * DedupSimSpec assert exact counts on planted cliques. */
  private[graft] def knnTrianglesFor(knn: DataFrame): DataFrame = {
    val und = knn.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val deg = und.select(col("a").as("v")).unionByName(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("degree"))
    val withDeg = und
      .join(deg.select(col("v").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("degree").as("db")), "b")
    val aLower = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val o = withDeg.select(
      when(aLower, col("a")).otherwise(col("b")).as("u"),
      when(aLower, col("b")).otherwise(col("a")).as("v"),
      when(aLower, col("db")).otherwise(col("da")).as("dv"))
    val wedges = o
      .join(o.select(col("u"), col("v").as("w"), col("dv").as("dw")), "u")
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("u"), col("v"), col("w"))
    // oriented edge (v, w) closes the wedge
    val oClose = o.select(col("u").as("cv"), col("v").as("cw"))
    val tris = wedges.join(oClose,
      col("v") === col("cv") && col("w") === col("cw"))
      .select(col("u"), col("v"), col("w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, col("v") === col("node"), "left_outer")
      .withColumn("n_triangles", coalesce(col("n_tri"), lit(0L)))
      .withColumn("clustering_ppm",
        expr("CASE WHEN degree >= 2 THEN n_triangles * 2000000 div (degree * (degree - 1)) " +
          "ELSE CAST(0 AS BIGINT) END"))
      .select(col("v").as("vec_id"), col("degree"), col("n_triangles"),
        col("clustering_ppm"))
      .orderBy(col("vec_id"))
  }

  val knnTrianglesSql: String =
    s"""WITH $knnGraphCtes,
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM knn),
       |deg AS MATERIALIZED (
       |  SELECT v, count(*) AS degree FROM (
       |    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY v),
       |o AS MATERIALIZED (
       |  SELECT CASE WHEN da.degree < db.degree
       |                OR (da.degree = db.degree AND und.a < und.b)
       |           THEN und.a ELSE und.b END AS u,
       |         CASE WHEN da.degree < db.degree
       |                OR (da.degree = db.degree AND und.a < und.b)
       |           THEN und.b ELSE und.a END AS v,
       |         CASE WHEN da.degree < db.degree
       |                OR (da.degree = db.degree AND und.a < und.b)
       |           THEN db.degree ELSE da.degree END AS dv
       |  FROM und JOIN deg da ON und.a = da.v JOIN deg db ON und.b = db.v),
       |wedges AS (
       |  SELECT o1.u, o1.v, o2.v AS w
       |  FROM o o1 JOIN o o2 ON o1.u = o2.u
       |  WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)),
       |tris AS MATERIALIZED (
       |  SELECT wedges.u, wedges.v, wedges.w
       |  FROM wedges JOIN o oc ON wedges.v = oc.u AND wedges.w = oc.v),
       |pernode AS (
       |  SELECT node, count(*) AS n_tri FROM (
       |    SELECT u AS node FROM tris
       |    UNION ALL SELECT v AS node FROM tris
       |    UNION ALL SELECT w AS node FROM tris) GROUP BY node)
       |SELECT deg.v AS vec_id, deg.degree,
       |  coalesce(p.n_tri, 0) AS n_triangles,
       |  CASE WHEN deg.degree >= 2
       |       THEN (coalesce(p.n_tri, 0) * 2000000) // (deg.degree * (deg.degree - 1))
       |       ELSE CAST(0 AS BIGINT) END AS clustering_ppm
       |FROM deg LEFT JOIN pernode p ON deg.v = p.node
       |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------ kNN evaluation
  //
  // One-hop kNN classification ACCURACY report — the embedding-quality
  // evaluation every pipeline runs before trusting a representation for
  // curation (if labels aren't recoverable from neighborhoods, neither
  // are duplicates or topics): the 20% seed set (vec_id % 5 == 0, the
  // knn_label_prop split) plays train, every non-seed is classified by
  // majority vote among its SEED neighbors' gold labels (abstain if its
  // neighborhood holds no seed, ties to smallest label), and the report
  // rolls up per gold label: eval count, correct, abstentions, accuracy
  // ppm (abstain counts as wrong — the honest denominator). Differs from
  // knn_label_prop exactly where an eval should: one hop, gold votes
  // only, aggregate report, no propagation dynamics.

  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val g = knnGraph(spark, dir).select(col("src"), col("dst"))
    val seeds = vectors(spark, dir).filter(col("vec_id") % lpSeedMod === 0)
      .select(col("vec_id").as("nid"), col("label").as("lbl"))
    val votes = g.filter(col("src") % lpSeedMod =!= 0)
      .join(seeds, col("dst") === col("nid"))
      .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("src")).orderBy(col("c").desc, col("lbl"))
    val pred = votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("src"), col("lbl").as("pred"))
    vectors(spark, dir).filter(col("vec_id") % lpSeedMod =!= 0)
      .select(col("vec_id"), col("label").as("gold"))
      .join(pred, col("vec_id") === col("src"), "left_outer")
      .groupBy(col("gold"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("pred") === col("gold"), 1L).otherwise(0L)).as("n_correct"),
        sum(when(col("pred").isNull, 1L).otherwise(0L)).as("n_abstain"))
      .withColumn("accuracy_ppm", expr("n_correct * 1000000 div n_eval"))
      .select(col("gold").as("label"), col("n_eval"), col("n_correct"),
        col("n_abstain"), col("accuracy_ppm"))
      .orderBy(col("label"))
  }

  val knnClassifySql: String =
    s"""WITH $knnGraphCtes,
       |votes AS (
       |  SELECT knn.src, e2.label AS lbl, count(*) AS c
       |  FROM knn JOIN e e2 ON knn.dst = e2.vec_id AND e2.vec_id % $lpSeedMod = 0
       |  WHERE knn.src % $lpSeedMod <> 0
       |  GROUP BY 1, 2),
       |pred AS (
       |  SELECT src, lbl FROM (
       |    SELECT src, lbl, row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
       |    FROM votes) WHERE rn = 1),
       |ev AS (
       |  SELECT e.vec_id, e.label AS gold, p.lbl AS pred
       |  FROM e LEFT JOIN pred p ON e.vec_id = p.src
       |  WHERE e.vec_id % $lpSeedMod <> 0)
       |SELECT gold AS label, count(*) AS n_eval,
       |  CAST(sum(CASE WHEN pred = gold THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(sum(CASE WHEN pred IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_abstain,
       |  CAST((sum(CASE WHEN pred = gold THEN 1 ELSE 0 END) * 1000000) // count(*)
       |    AS BIGINT) AS accuracy_ppm
       |FROM ev GROUP BY gold ORDER BY label""".stripMargin

  // --------------------------------------------------- hard negatives
  //
  // HARD-NEGATIVE MINING — the contrastive-training data op (DPR/SBERT
  // recipe: the negatives that teach are the ones the current embedding
  // space ranks HIGHEST among wrong-label candidates; random negatives
  // are trivially separable and teach nothing): per query, the top-5
  // most-similar OTHER-label vectors, with the query's own label and
  // the negative's label and rank. The output table feeds a training
  // dataloader directly (query_id, neg_id pairs in mining order).
  //
  // Scale shape: the sim_topk_bruteforce scorer contract (one corpus
  // scan × broadcastable query set; label rides the same scan — no
  // extra join), the wrong-label filter BEFORE the per-query bounded
  // window (partial WindowGroupLimit — only ~5·|queries| rows per
  // partition ride the shuffle). At 100 TB the scorer swaps for an ANN
  // probe feeding the same filter+rank tail (the sim_mmr pool
  // precedent); exhaustive scoring here is the declared exactness
  // contract.

  val hardNegK = 5

  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val corpus = vectors(spark, dir)
    val queries = corpus.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("query_label"),
        col("v").as("v_q"), col("nrm").as("nrm_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neg_id"))
    corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id") &&
        col("label") =!= col("query_label"))
      .select(col("query_id"), col("query_label"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"),
        cosine("v_q", "v", col("nrm_q"), col("nrm")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= hardNegK)
      .select(col("query_id"), col("query_label"), col("rank"),
        col("neg_id"), col("neg_label"), col("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val hardNegativesSql: String =
    s"""WITH $vectorsSql,
       |scored AS (
       |  SELECT q.vec_id AS query_id, q.label AS query_label,
       |    c.vec_id AS neg_id, c.label AS neg_label,
       |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
       |  FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
       |    AND c.label <> q.label)
       |SELECT query_id, query_label,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neg_id) AS INTEGER) AS rank,
       |  neg_id, neg_label, cosine
       |FROM scored
       |QUALIFY rank <= $hardNegK
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------- PQ distortion
  //
  // Per-subspace QUANTIZATION-DISTORTION report — the index-health
  // metric the recall reports can't give (recall tells you the END
  // effect; distortion tells you WHICH subspace's codebook is failing
  // and whether more centroids/iterations would help — FAISS prints
  // exactly this as imbalance/quantization error after training): for
  // each of the 16 subspaces, the mean squared reconstruction error
  // between every vector's sub-slice and its assigned centroid, over
  // THE shared trained PQ index (pqIndexAndBooks — the same artifact
  // annPq/annIvfPq rank with, so the report can't drift from the index
  // it describes).
  //
  // Exactness: per-dim squared errors are (x−c)² doubles (identical
  // operand order both engines) quantized DECIMAL(24,12) and summed
  // exactly (order-independent); MSE divides the exact sum by the
  // vector count at the output edge. Scale shape: one vectors scan
  // joined to the 8-byte code table by vec_id, a 64-way in-row dim
  // explode, ONE (subspace)-keyed 16-row aggregation; the codebook
  // rides as literals (config-sized, the merges-file story).

  def pqDistortion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val vecs = vectors(spark, dir).persist()
    val (codes, _, flat) = pqIndexAndBooks(vecs)
    vecs.unpersist(false)
    val flatLit = typedLit(flat.toSeq)
    val codesArr = array((0 until pqM).map(s => col(s"c$s")): _*)
    vecs.join(codes, "vec_id")
      .select(col("vec_id"), codesArr.as("pc"), posexplode(col("v")).as(Seq("j", "x")))
      .select((col("j") / pqSubDim).cast("int").as("s"),
        (col("j") % pqSubDim).as("k"), col("x"),
        element_at(col("pc"), (col("j") / pqSubDim).cast("int") + 1).as("cid"))
      .select(col("s"),
        (col("x") - element_at(flatLit,
          (col("s") * (pqK * pqSubDim) + col("cid") * pqSubDim + col("k") + 1)
            .cast("int"))).as("e"))
      .select(col("s"), (col("e") * col("e")).cast(DecimalType(24, 12)).as("term"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_terms"), sum(col("term")).as("sse"))
      .select(col("s").as("subspace"),
        expr(s"CAST(n_terms DIV $pqSubDim AS BIGINT)").as("n_vectors"),
        (col("sse").cast(DoubleType) /
          expr(s"CAST(n_terms DIV $pqSubDim AS BIGINT)")).as("mse"))
      .orderBy(col("subspace"))
  }

  lazy val pqDistortionSql: String = {
    def lo(s: Int) = s * pqSubDim + 1
    val blocks = (0 until pqM).map { s =>
      s"""SELECT $s AS s, count(*) AS n_terms, sum(term) AS sse FROM (
         |  SELECT CAST((e.v[${lo(s)} + t.i] - c.v[t.i + 1]) *
         |    (e.v[${lo(s)} + t.i] - c.v[t.i + 1]) AS DECIMAL(24,12)) AS term
         |  FROM e JOIN code_$s co USING (vec_id)
         |  JOIN c2_$s c ON c.cid = co.cid, range($pqSubDim) t(i))"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $vectorsSql,
       |$pqChainCtes,
       |per_s AS (
       |$blocks)
       |SELECT CAST(s AS INTEGER) AS subspace,
       |  CAST(n_terms // $pqSubDim AS BIGINT) AS n_vectors,
       |  CAST(sse AS DOUBLE) / CAST(n_terms // $pqSubDim AS BIGINT) AS mse
       |FROM per_s ORDER BY subspace""".stripMargin
  }

  // ------------------------------------------------------- range search
  //
  // τ-RANGE search — top-k's fixed-radius sibling (every vector-store
  // API ships both: "give me the 10 nearest" vs "give me everything
  // within distance τ"): per query, the neighborhood SIZE at each τ of a
  // small grid, plus its share of the corpus in exact ppm. The range
  // profile is what an ANN rollout reads to pick τ for dedup vs
  // retrieval (a τ whose neighborhoods are corpus-sized means the radius
  // is semantically meaningless). Counting (not materializing matches)
  // keeps the output query-bounded at any corpus size.
  //
  // Scale shape: the scorer is the sim_topk_bruteforce contract — one
  // corpus scan × a broadcastable query set (queries-sized
  // BroadcastNestedLoopJoin), cosines rounded to 6 in BOTH engines
  // before the τ compares (the shared-literal double device) — then ONE
  // query-keyed aggregation computes every grid point as conditional
  // sums (one pass, no per-τ scans). At 100 TB the scorer swaps for the
  // IVF probe feeding the same counting tail (sim_ann_ivf precedent);
  // exhaustive scoring here is the declared exactness contract.

  val rangeTaus = Seq("0.35", "0.45") // shared literal text both engines

  def rangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val corpus = vectors(spark, dir)
    val queries = corpus.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("v").as("v_q"),
        col("nrm").as("nrm_q"))
    val scored = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        cosine("v_q", "v", col("nrm_q"), col("nrm")).as("cosine"))
    val aggs = rangeTaus.flatMap { t =>
      val tag = t.replace("0.", "")
      Seq(sum(when(col("cosine") >= t.toDouble, 1L).otherwise(0L))
        .as(s"n_$tag"))
    } :+ count(lit(1)).as("n_scored")
    val byQ = scored.groupBy(col("query_id")).agg(aggs.head, aggs.tail: _*)
    rangeTaus.map { t =>
      val tag = t.replace("0.", "")
      byQ.select(col("query_id"), lit(t).as("tau"),
        col(s"n_$tag").as("n_in_range"), col("n_scored"),
        expr(s"CAST(CAST(n_$tag AS DECIMAL(38,0)) * 1000000 DIV n_scored" +
          " AS BIGINT)").as("range_share_ppm"))
    }.reduce(_ unionByName _)
      .orderBy(col("query_id"), col("tau"))
  }

  val rangeSearchSql: String = {
    val taus = rangeTaus.map { t =>
      val tag = t.replace("0.", "")
      s"CAST(sum(CASE WHEN cosine >= $t THEN 1 ELSE 0 END) AS BIGINT) AS n_$tag"
    }.mkString(",\n  ")
    val blocks = rangeTaus.map { t =>
      val tag = t.replace("0.", "")
      s"""SELECT query_id, '$t' AS tau, n_$tag AS n_in_range, n_scored,
         |  CAST(CAST(n_$tag AS HUGEINT) * 1000000 // n_scored AS BIGINT)
         |    AS range_share_ppm
         |FROM byq""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $vectorsSql,
       |scored AS (
       |  SELECT q.vec_id AS query_id,
       |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
       |  FROM e q JOIN e c ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
       |byq AS (
       |  SELECT query_id,
       |  $taus,
       |  CAST(count(*) AS BIGINT) AS n_scored
       |  FROM scored GROUP BY query_id)
       |$blocks
       |ORDER BY query_id, tau""".stripMargin
  }
}
