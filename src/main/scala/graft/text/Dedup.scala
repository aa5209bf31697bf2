package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.Tables
import graft.SharedArtifacts.freeCheckpoint

/** Deduplication family for the training-data pipeline (SURVEY §2C):
  * exact (hash groupBy), word-shingle Jaccard, MinHash+LSH banding, and
  * SimHash with hamming banding.
  *
  * Scale shapes: every candidate-generation step is an equi-join on a
  * derived integer key (shingle hash, (band, band-signature),
  * (chunk, chunk-bits)) — never an all-pairs cross join. Exact
  * verification only touches candidate pairs. md5 (identical bytes in
  * Spark and DuckDB) is evaluated ONCE per shingle/token; the 32 MinHash
  * permutations are universal-hash arithmetic `(a_i*h + b_i) mod p` over
  * that single digest — 32 integer ops instead of 32 digests, and all 32
  * minima come out of one groupBy (no row explosion).
  */
object Dedup {

  /** Exact-dedup assignment: one row per distinct text hash, with the
    * canonical (minimum) doc id the group's members collapse to.
    */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("canonical_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("text_hash"))
  }

  val exactSql: String =
    """SELECT md5(text) AS text_hash, count(*) AS n_docs,
      |  min(doc_id) AS canonical_doc_id, max(doc_id) AS max_doc_id
      |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin

  /** Canonicalized exact dedup — the "fuzzy-exact" gate production
    * pipelines run between byte-exact and MinHash (Dolma's URL/text
    * normalization stage): lowercase, strip everything but [a-z0-9 ],
    * collapse whitespace runs, trim, THEN hash. Catches
    * case/punctuation/spacing mutants of the same document that
    * dedup_exact misses, at exactly dedup_exact's cost — one md5
    * group-by, no pairwise anything.
    *
    * Shape: canonicalization is zero-shuffle in-row regexp work; the
    * two-level aggregation ((canon, raw-variant) first, then canon)
    * counts raw variants per canonical group WITHOUT a mixed
    * COUNT(DISTINCT) (which would plan an Expand — the q16 discipline).
    * Regex classes are literal char classes only, so Java regex and
    * DuckDB's RE2 agree byte-for-byte.
    */
  def canonical(spark: SparkSession, dir: String): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    Tables.documents(spark, dir)
      .select(md5(canon).as("canon_hash"), md5(col("text")).as("text_hash"),
        col("doc_id"))
      .groupBy(col("canon_hash"), col("text_hash"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"))
      .groupBy(col("canon_hash"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_raw_variants"),
        min(col("min_doc")).as("canonical_doc_id"))
      .orderBy(col("canon_hash"))
  }

  val canonicalSql: String =
    """WITH canon AS (
      |  SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS canon_hash,
      |    md5(text) AS text_hash, doc_id
      |  FROM documents),
      |lvl1 AS (
      |  SELECT canon_hash, text_hash, count(*) AS n, min(doc_id) AS min_doc
      |  FROM canon GROUP BY canon_hash, text_hash)
      |SELECT canon_hash, CAST(sum(n) AS BIGINT) AS n_docs,
      |  count(*) AS n_raw_variants,
      |  min(min_doc) AS canonical_doc_id
      |FROM lvl1 GROUP BY canon_hash ORDER BY canon_hash""".stripMargin

  /** Distinct word-3-gram shingles per doc, hashed to 48-bit ints (first
    * 12 hex of md5 — same digest both engines; a 48-bit collision would
    * affect both engines identically, so parity is unconditional).
    */
  private[text] def shingleHashes(spark: SparkSession, dir: String): DataFrame = {
    // doc_id key: the per-doc shingle counts reuse the exchange
    Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      // hoist the tokenization: split() inside the transform lambda would
      // re-parse the text per element (O(tokens²) per doc — measured 9 s
      // vs 2 s at sf0.1)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      // docs under 3 tokens yield no shingles (sequence(1, 0) would count
      // DOWN in Spark and index element_at(toks, 0) → runtime error)
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        """explode(array_distinct(transform(
          |  sequence(1, size(toks) - 2),
          |  i -> concat(element_at(toks, i), ' ',
          |              element_at(toks, i + 1), ' ',
          |              element_at(toks, i + 2)))))""".stripMargin).as("s"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(s), 1, 12), 16, 10) as bigint)").as("h"))
  }

  private[text] val shingleHashesSql: String =
    """SELECT doc_id,
      |  CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT) AS h
      |FROM (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))""".stripMargin

  /** Candidate pairs sharing >=1 shingle with exact Jaccard — the shared
    * building block for ngram + minhash verification. Jaccard is
    * |A∩B| / (|A|+|B|-|A∩B|) over distinct shingle sets; the join runs on
    * the 48-bit shingle hash, not the string.
    */
  private def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleHashes(spark, dir)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val b = sh.select(col("doc_id").as("doc_b"), col("h"))
    val common = sh.join(b, Seq("h"))
      .filter(col("doc_id") < col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  private val jaccardPairsSql: String =
    s"""sh AS ($shingleHashesSql),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |jac AS (
       |  SELECT p.doc_a, p.doc_b, p.n_common,
       |    CAST(p.n_common AS DOUBLE) / (x.n_sh + y.n_sh - p.n_common) AS jaccard
       |  FROM pairs p JOIN sizes x ON p.doc_a = x.doc_id
       |               JOIN sizes y ON p.doc_b = y.doc_id)""".stripMargin

  /** Near-dup pairs at word-3-gram Jaccard >= 0.5.
    *
    * TEST-ONLY baseline since r2: the shared-shingle join puts c^2
    * candidate pairs on every hot shingle key — a skew scale-killer.
    * `ngramPrefixJoin` emits the identical output (DedupSimSpec proves
    * it; they share one oracle SQL) via the skew-immune prefix filter
    * and is the inventory entry.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))

  val ngramJaccardSql: String =
    s"""WITH $jaccardPairsSql
       |SELECT doc_a, doc_b, n_common, jaccard FROM jac
       |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  // MinHash permutation constants: universal hashing (a_i*h + b_i) mod p
  // with h < p (Mersenne prime 2^31-1); products stay < 2^62, exact in
  // int64 in both engines.
  val nPerms = 32
  val minhashP: Long = 2147483647L
  val permA: Array[Long] = Array.tabulate(nPerms)(i =>
    (((1103515245L * (i + 1) + 12345L) % minhashP) | 1L))
  val permB: Array[Long] = Array.tabulate(nPerms)(i =>
    (69069L * (i + 1) + 1234567L) % minhashP)

  /** MinHash: 32 universal-hash permutations over the 48-bit shingle
    * hashes, all minima in one groupBy; 8 bands x 4 rows for LSH candidate
    * generation; exact-Jaccard verification of candidates only.
    */
  /** (doc_id, band, band_key) LSH band frame from a (doc_id, h, hp)
    * shingle-hash frame: 32 permutation minima in one groupBy, split
    * into 8 bands × 4 rows. Shared by whole-corpus minhashLsh and the
    * incremental batch-vs-corpus variant. */
  private[graft] def minhashBands(sh: DataFrame): DataFrame = {
    val minAggs = (0 until nPerms).map(i =>
      min((col("hp") * permA(i) + permB(i)) % minhashP).as(s"m_$i"))
    val sigs = sh.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
    val bandStructs = (0 until 8).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (4 * b until 4 * b + 4).map(i =>
          col(s"m_$i").cast("string")): _*).as("band_key"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Per-doc shingle set + size, for candidate-only exact verification. */
  private[graft] def shingleSets(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs"), count(lit(1)).as("n_sh"))

  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleHashes(spark, dir)
      .withColumn("hp", col("h") % minhashP)
    val bands = minhashBands(sh)
    val b2 = bands.select(col("doc_id").as("doc_b"), col("band"), col("band_key"))
    val cand = bands.join(b2, Seq("band", "band_key"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    // verify CANDIDATES ONLY via per-doc shingle sets + array_intersect —
    // never the naive all-shared-shingle self-join (which would reintroduce
    // the hot-shingle blowup LSH exists to avoid)
    val sets = shingleSets(sh)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
        col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("hs_a"), col("hs_b"))).cast(DoubleType) /
          (col("n_a") + col("n_b") -
            size(array_intersect(col("hs_a"), col("hs_b"))))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val minhashLshSql: String = {
    val minCols = (0 until nPerms).map(i =>
      s"min(((h % $minhashP) * ${permA(i)} + ${permB(i)}) % $minhashP) AS m_$i").mkString(", ")
    val bandSelects = (0 until 8).map { b =>
      val key = (4 * b until 4 * b + 4).map(i => s"CAST(m_$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sigs"
    }.mkString("\nUNION ALL\n")
    s"""WITH $jaccardPairsSql,
       |sigs AS (
       |  SELECT doc_id, $minCols FROM sh GROUP BY doc_id),
       |bands AS (
       |$bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
       |SELECT c.doc_a, c.doc_b, j.jaccard
       |FROM cand c JOIN jac j ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
       |WHERE j.jaccard >= 0.5
       |ORDER BY c.doc_a, c.doc_b""".stripMargin
  }

  /** LSH parameter sweep — the (bands × rows) decision table an LSH
    * rollout reads before fixing b/r: for each banding of the SAME
    * 32-permutation signatures (32×1, 16×2, 8×4, 4×8), the measured
    * recall against the exact τ=1/2 near-dup truth set, the measured
    * precision, and the candidate-pair count (the verification-cost
    * side of the curve). More rows per band ⇒ fewer, higher-precision
    * candidates and lower recall — this table shows where THIS corpus
    * sits on that curve, which no closed-form 1−(1−s^r)^b plot can
    * (that needs the similarity distribution the sweep measures).
    *
    * Scale shape: signatures once (one groupBy, 32 minima, map-side
    * combined; localCheckpointed — four band derivations consume it);
    * per config one banded equi-join (never all-pairs) with the
    * candidate list checkpointed (count + truth-semi-join consumers);
    * truth is the skew-immune prefix join, also shared. The 32×1
    * config's single-minimum keys ARE hot at corpus scale — that cost
    * surfacing in n_candidates is exactly what the panel is for.
    * Counts widen through DECIMAL(38,0)/HUGEINT before the ppm
    * products.
    */
  val lshSweepConfigs: Seq[(Int, Int)] =
    Seq((32, 1), (16, 2), (8, 4), (4, 8))

  def lshParamSweep(spark: SparkSession, dir: String): DataFrame = {
    // r14 optimization round: the signature rollup and the truth pair
    // join BOTH hang off the shingle frame — persist it here (idempotent
    // with prefixJoinDetail's identical persist: the CacheManager keys
    // on the logical plan) so the 5-gram explode + md5 runs once, and
    // overlap the two independent eager checkpoint chains from driver
    // futures (guide §2.6).
    val shBase = shingleHashes(spark, dir).persist()
    val sh = shBase.withColumn("hp", col("h") % minhashP)
    val minAggs = (0 until nPerms).map(i =>
      min((col("hp") * permA(i) + permB(i)) % minhashP).as(s"m_$i"))
    val Seq(sigs, truth) = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.sequence(Seq(
        Future(sh.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
          .localCheckpoint()),
        Future(prefixJoinDetail(spark, dir, 1L, 2L)
          .select(col("doc_a"), col("doc_b"))
          .localCheckpoint()))), Duration.Inf)
    }
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    // r14 optimization round (guide §2.4 — share one exchange): the four
    // band configurations used to run four separate explode → self-join
    // → DISTINCT → localCheckpoint pipelines plus two counting jobs each
    // (~52 Spark jobs for 16 MB of shuffle). All four derive from the
    // SAME checkpointed signature frame, so they now ride ONE exchange:
    // every config's bands are exploded together tagged by a config id,
    // the candidate join keys on (cfg, band, band_key) — identical
    // per-config join semantics, band keys never collide across configs —
    // the DISTINCT runs once over (cfg, pair), and recall/precision fall
    // out of a single left-join + per-cfg aggregate. Results are
    // byte-identical (each config's candidate set and truth overlap are
    // unchanged); only the job/exchange count drops.
    val bandStructs = lshSweepConfigs.zipWithIndex.flatMap {
      case ((b, r), cfg) =>
        (0 until b).map { bi =>
          struct(lit(cfg).as("cfg"), lit(bi).as("band"),
            concat_ws(",", (r * bi until r * bi + r).map(i =>
              col(s"m_$i").cast("string")): _*).as("band_key"))
        }
    }
    val bands = sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.cfg").as("cfg"),
        col("bk.band").as("band"), col("bk.band_key").as("band_key"))
    val cand = bands.join(
        bands.select(col("doc_id").as("doc_b"), col("cfg"), col("band"),
          col("band_key")),
        Seq("cfg", "band", "band_key"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("cfg"), col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    val perCfg = cand
      .join(truth.withColumn("hit", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .groupBy(col("cfg"))
      .agg(count(lit(1)).as("n_candidates"),
        count(col("hit")).as("n_caught")) // count of non-null = matched
    def cfgCase(f: ((Int, Int)) => Int): Column =
      lshSweepConfigs.zipWithIndex.tail.foldLeft(
        when(col("cfg") === 0, f(lshSweepConfigs.head))) {
        case (acc, (br, cfg)) => acc.when(col("cfg") === cfg, f(br))
      }
    val cfgB = cfgCase(_._1)
    val cfgR = cfgCase(_._2)
    perCfg.crossJoin(broadcast(nTruth))
      .select(cfgB.as("bands"), cfgR.as("rows_per_band"),
        col("n_candidates"), col("n_truth"), col("n_caught"),
        expr("""CASE WHEN n_truth = 0 THEN CAST(0 AS BIGINT)
               |  ELSE CAST(CAST(n_caught AS DECIMAL(38,0)) * 1000000
               |    DIV n_truth AS BIGINT) END""".stripMargin)
          .as("recall_ppm"),
        expr("""CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT)
               |  ELSE CAST(CAST(n_caught AS DECIMAL(38,0)) * 1000000
               |    DIV n_candidates AS BIGINT) END""".stripMargin)
          .as("precision_ppm"))
      .orderBy(col("rows_per_band"))
  }

  val lshParamSweepSql: String = {
    val minCols = (0 until nPerms).map(i =>
      s"min(((h % $minhashP) * ${permA(i)} + ${permB(i)}) % $minhashP) AS m_$i")
      .mkString(", ")
    val cfg = lshSweepConfigs.map { case (b, r) =>
      val bandSelects = (0 until b).map { bi =>
        val key = (r * bi until r * bi + r)
          .map(i => s"CAST(m_$i AS VARCHAR)").mkString(" || ',' || ")
        s"SELECT doc_id, $bi AS band, $key AS band_key FROM sigs"
      }.mkString("\nUNION ALL\n")
      val ctes =
        s"""bands_$b AS (
           |$bandSelects),
           |cand_$b AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands_$b a JOIN bands_$b b
           |    ON a.band = b.band AND a.band_key = b.band_key
           |      AND a.doc_id < b.doc_id)""".stripMargin
      val sel =
        s"""SELECT $b AS bands, $r AS rows_per_band,
           |  (SELECT count(*) FROM cand_$b) AS n_candidates,
           |  (SELECT count(*) FROM truth) AS n_truth,
           |  (SELECT count(*) FROM cand_$b c JOIN truth t
           |     ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS n_caught,
           |  CASE WHEN (SELECT count(*) FROM truth) = 0 THEN CAST(0 AS BIGINT)
           |    ELSE CAST((SELECT count(*) FROM cand_$b c JOIN truth t
           |        ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)::HUGEINT
           |      * 1000000 // (SELECT count(*) FROM truth) AS BIGINT) END
           |    AS recall_ppm,
           |  CASE WHEN (SELECT count(*) FROM cand_$b) = 0 THEN CAST(0 AS BIGINT)
           |    ELSE CAST((SELECT count(*) FROM cand_$b c JOIN truth t
           |        ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)::HUGEINT
           |      * 1000000 // (SELECT count(*) FROM cand_$b) AS BIGINT) END
           |    AS precision_ppm""".stripMargin
      (ctes, sel)
    }
    s"""WITH $jaccardPairsSql,
       |truth AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
       |sigs AS (
       |  SELECT doc_id, $minCols FROM sh GROUP BY doc_id),
       |${cfg.map(_._1).mkString(",\n")}
       |${cfg.map(_._2).mkString("\nUNION ALL\n")}
       |ORDER BY rows_per_band""".stripMargin
  }

  /** Cross-source duplication matrix — the pipeline-level rollup of the
    * near-dup pair list: per unordered source pair, how many near-dup
    * pairs straddle (or stay inside) those sources, with the exact ppm
    * share of all near-dup pairs and a within/cross flag. The report
    * that answers "which of my corpus sources duplicate each other" —
    * the first question when deciding what to drop before mixing
    * (a crawl snapshot re-ingesting a curated source shows up as a hot
    * cross cell; boilerplate-heavy sources as hot diagonal cells).
    *
    * Scale shape: the pair list is the skew-immune prefix join (small
    * by construction); two joins against the doc→source map (the pair
    * side is the broadcast candidate at scale, never the map), one
    * ≤\|sources\|²-key agg, 1-row total broadcast. Integer-exact.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val pairs = ngramPrefixJoin(spark, dir).select(col("doc_a"), col("doc_b"))
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val counts = pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")),
        "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_dup_pairs"))
      // ≤|sources|² rows feeding two consumers (total + main projection)
      // — checkpoint so the prefix-join subtree is derived once
      .localCheckpoint()
    val total = counts.agg(sum(col("n_dup_pairs")).as("t_pairs"))
    counts.crossJoin(broadcast(total))
      .select(col("source_a"), col("source_b"), col("n_dup_pairs"),
        expr("CAST(n_dup_pairs * 1000000 DIV t_pairs AS BIGINT)")
          .as("share_ppm"),
        (col("source_a") === col("source_b")).as("within_source"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceOverlapSql: String =
    s"""WITH $jaccardPairsSql,
       |dup AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
       |cells AS (
       |  SELECT least(da.source, db.source) AS source_a,
       |    greatest(da.source, db.source) AS source_b,
       |    count(*) AS n_dup_pairs
       |  FROM dup
       |  JOIN documents da ON da.doc_id = dup.doc_a
       |  JOIN documents db ON db.doc_id = dup.doc_b
       |  GROUP BY 1, 2),
       |total AS (SELECT sum(n_dup_pairs) AS t_pairs FROM cells)
       |SELECT source_a, source_b, CAST(n_dup_pairs AS BIGINT) AS n_dup_pairs,
       |  CAST((CAST(n_dup_pairs AS HUGEINT) * 1000000) // t_pairs AS BIGINT)
       |    AS share_ppm,
       |  source_a = source_b AS within_source
       |FROM cells, total
       |ORDER BY source_a, source_b""".stripMargin

  /** MinHash estimator calibration — the "how good is the sketch"
    * report the LSH pipeline should ship with: per LSH candidate pair,
    * the SKETCH Jaccard estimate (matching permutation minima / 32, the
    * unbiased MinHash estimator) against the EXACT shingle-set Jaccard,
    * and the signed error — all in exact integer ppm (matches·1e6 DIV
    * 32; n_common·1e6 DIV union; est − exact). The per-pair view a
    * threshold-tuning pass reads to pick bands/rows for a target
    * false-negative rate — sim_recall_report's sibling for the sparse
    * modality.
    *
    * Scale shape: signatures + band candidates are the minhashLsh
    * derivation (one groupBy for 32 minima, banded equi-join — never
    * all pairs); the estimate is a 32-term in-row comparison on the
    * joined signature vectors; exact verification touches candidates
    * only (array_intersect over per-doc sets). Everything integer —
    * no doubles anywhere, so the calibration itself can't drift
    * cross-engine.
    */
  def minhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleHashes(spark, dir)
      .withColumn("hp", col("h") % minhashP)
    val minAggs = (0 until nPerms).map(i =>
      min((col("hp") * permA(i) + permB(i)) % minhashP).as(s"m_$i"))
    val sigs = sh.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
      .localCheckpoint() // feeds bands + both sides of the estimate join
    val bandStructs = (0 until 8).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (4 * b until 4 * b + 4).map(i =>
          col(s"m_$i").cast("string")): _*).as("band_key"))
    }
    val bands = sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
    val cand = bands
      .join(bands.select(col("doc_id").as("doc_b"), col("band"),
        col("band_key")), Seq("band", "band_key"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    val sigA = sigs.select(col("doc_id").as("doc_a") +:
      (0 until nPerms).map(i => col(s"m_$i").as(s"a_m_$i")): _*)
    val sigB = sigs.select(col("doc_id").as("doc_b") +:
      (0 until nPerms).map(i => col(s"m_$i").as(s"b_m_$i")): _*)
    val matches = (0 until nPerms)
      .map(i => when(col(s"a_m_$i") === col(s"b_m_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val sets = shingleSets(sh)
    cand
      .join(sigA, "doc_a").join(sigB, "doc_b")
      .select(col("doc_a"), col("doc_b"), matches.as("sig_matches"))
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
        col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("sig_matches"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long")
          .as("n_common"), col("n_a"), col("n_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_matches"),
        expr(s"CAST(sig_matches * 1000000 DIV $nPerms AS BIGINT)")
          .as("est_jaccard_ppm"),
        expr("CAST(n_common * 1000000 DIV (n_a + n_b - n_common) AS BIGINT)")
          .as("exact_jaccard_ppm"))
      .withColumn("err_ppm",
        col("est_jaccard_ppm") - col("exact_jaccard_ppm"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val minhashEstimateSql: String = {
    val minCols = (0 until nPerms).map(i =>
      s"min(((h % $minhashP) * ${permA(i)} + ${permB(i)}) % $minhashP) AS m_$i")
      .mkString(", ")
    val bandSelects = (0 until 8).map { b =>
      val key = (4 * b until 4 * b + 4)
        .map(i => s"CAST(m_$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS band_key FROM sigs"
    }.mkString("\nUNION ALL\n")
    val matchSum = (0 until nPerms)
      .map(i => s"CASE WHEN sa.m_$i = sb.m_$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $jaccardPairsSql,
       |sigs AS (
       |  SELECT doc_id, $minCols FROM sh GROUP BY doc_id),
       |bands AS (
       |$bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_key = b.band_key
       |       AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST($matchSum AS BIGINT) AS sig_matches
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b),
       |ex AS (
       |  SELECT p.doc_a, p.doc_b, p.n_common,
       |    x.n_sh + y.n_sh - p.n_common AS u
       |  FROM pairs p JOIN sizes x ON p.doc_a = x.doc_id
       |               JOIN sizes y ON p.doc_b = y.doc_id)
       |SELECT e.doc_a, e.doc_b, e.sig_matches,
       |  CAST(e.sig_matches * 1000000 // $nPerms AS BIGINT) AS est_jaccard_ppm,
       |  CAST(coalesce(x.n_common, 0) * 1000000
       |    // coalesce(x.u, 1) AS BIGINT) AS exact_jaccard_ppm,
       |  CAST(e.sig_matches * 1000000 // $nPerms
       |    - coalesce(x.n_common, 0) * 1000000 // coalesce(x.u, 1) AS BIGINT)
       |    AS err_ppm
       |FROM est e LEFT JOIN ex x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b
       |ORDER BY e.doc_a, e.doc_b""".stripMargin
  }

  /** Prefix-filtered near-dup join (PPJoin-style): the scale path for
    * dedup_ngram_jaccard with IDENTICAL output.
    *
    * Each doc's shingles are globally ordered by (document frequency,
    * hash); only the first ℓ = n - ceil(t·n) + 1 shingles (its "prefix")
    * generate candidates. Two sets with Jaccard ≥ t MUST share a prefix
    * element (pigeonhole on the overlap bound), so no true pair is lost —
    * and the join runs on the RAREST shingles, which removes the
    * hot-shingle skew of the naive shared-shingle join. Verification
    * joins candidate pairs against per-doc shingle sets (array_intersect),
    * touching only candidates, never all pairs.
    */
  // τ as an exact rational (default 1/2), the containTau device: the
  // completeness-critical prefix length needs the exact ceil(num·n/den)
  // — a float ceil(n·τ) can round a half-ulp tie UP and shorten the
  // prefix by one, silently dropping a boundary pair. Integer ceiling:
  // ceil(num·n/den) = (num·n + den − 1) DIV den.
  def ngramPrefixJoin(spark: SparkSession, dir: String,
      tauNum: Long = 1L, tauDen: Long = 2L): DataFrame =
    prefixJoinDetail(spark, dir, tauNum, tauDen)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The verified pair frame WITH set sizes (doc_a, doc_b, n_common,
    * n_a, n_b) — ngramPrefixJoin's final projection drops the sizes;
    * the threshold sweep needs them for exact band classification. */
  private[text] def prefixJoinDetail(spark: SparkSession, dir: String,
      tauNum: Long, tauDen: Long): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum, "τ must be a rational in (0,1]")
    // the shingle subplan feeds four branches (doc-frequency, ranking,
    // sizes, verification sets); persist so it is computed once —
    // idempotent across calls (same plan ⇒ same cache entry)
    val sh = shingleHashes(spark, dir).persist()
    // global document frequency per shingle -> rarity order
    val df_ = sh.groupBy(col("h")).agg(count(lit(1)).as("freq"))
    // n_sh rides the SAME doc_id window as the rank (r15, guide §2.4):
    // the former per-doc `sizes` aggregate was a second full exchange of
    // the shingle frame plus a doc_id join back into `ranked` — the
    // unordered count window reuses the rank window's partitioning, so
    // both land in one exchange. Identical value (sh⋈df_ is 1:1 on h, so
    // the per-doc row count is unchanged by the join).
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val ranked = sh.join(df_, "h")
      .withColumn("rk", row_number().over(
        wDoc.orderBy(col("freq"), col("h"))))
      .withColumn("n_sh", count(lit(1)).over(wDoc))
    val prefix = ranked
      .filter(col("rk") <= col("n_sh") -
        expr(s"($tauNum * n_sh + ${tauDen - 1}) DIV $tauDen") + 1)
      .select(col("doc_id"), col("h"))
    // one-sided guarantee (All-Pairs): for J >= t the overlap exceeds the
    // suffix size of EITHER set, so joining prefixes against FULL sets
    // catches every ordered pair; canonicalize + distinct for unordered.
    val cand = prefix.join(
        sh.select(col("doc_id").as("doc_r"), col("h")), Seq("h"))
      .filter(col("doc_id") =!= col("doc_r"))
      .select(least(col("doc_id"), col("doc_r")).as("doc_a"),
        greatest(col("doc_id"), col("doc_r")).as("doc_b"))
      .distinct()
    // verify candidates only: per-doc shingle sets + array_intersect
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs"), count(lit(1)).as("n_sh"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
        col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("n_common"),
        col("n_a"), col("n_b"))
      // threshold verdict in exact integer cross-multiplication (the
      // containmentPairs device): J >= num/den ⟺ common·den >= union·num
      .filter(col("n_common") * lit(tauDen) >=
        (col("n_a") + col("n_b") - col("n_common")) * lit(tauNum))
  }

  /** Similarity-threshold sweep — the "what would τ cost me" calibration
    * every dedup rollout starts with: the verified pair list at the
    * loosest τ (1/2), exactly band-classified into similarity ranges
    * (integer cross-multiplication — no float edge can move a pair
    * across a band), with per-band pair counts, the CUMULATIVE pairs a
    * dedup run at that band's lower edge would act on, and ppm shares.
    * Reading this table IS choosing the production threshold.
    *
    * Scale shape: one prefix-join derivation (the skew-immune candidate
    * path), a ≤6-key band rollup, and a bands×bands join cumsum over
    * those bounded rows.
    */
  val sweepBands: Seq[(Long, Long, String)] = Seq(
    (1L, 2L, "j_0.50"), (3L, 5L, "j_0.60"), (7L, 10L, "j_0.70"),
    (4L, 5L, "j_0.80"), (9L, 10L, "j_0.90"), (1L, 1L, "j_1.00"))

  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val detail = prefixJoinDetail(spark, dir, 1L, 2L)
      .select(col("n_common"),
        (col("n_a") + col("n_b") - col("n_common")).as("u"))
    // highest satisfied edge, checked from the top — the SAME generated
    // CASE string the oracle embeds, so the classifier is shared by
    // construction. localCheckpoint the ≤6-row band rollup: it feeds
    // three consumers (cumsum self-join, total, main) and without it
    // each re-derives the whole prefix-join + verify subtree.
    val byBand = detail.select(expr(sweepBandCase).as("band_idx"))
      .groupBy(col("band_idx")).agg(count(lit(1)).as("n_pairs"))
      .localCheckpoint()
    val labels = sweepBands.zipWithIndex.map { case ((_, _, l), i) => (i, l) }
    val labelDf = spark.createDataFrame(labels).toDF("band_idx", "band")
    val b2 = byBand.select(col("band_idx").as("i2"), col("n_pairs").as("np2"))
    val total = byBand.agg(sum(col("n_pairs")).as("t_pairs"))
    byBand
      // bounded join cumsum; broadcast so the non-equi join plans as
      // the (whitelisted) BroadcastNestedLoopJoin, never CartesianProduct
      .join(broadcast(b2), col("i2") >= col("band_idx"))
      .groupBy(col("band_idx"), col("n_pairs"))
      .agg(sum(col("np2")).as("cum_pairs"))
      .join(broadcast(labelDf), "band_idx")
      .crossJoin(broadcast(total))
      .select(col("band"), col("n_pairs"), col("cum_pairs"),
        expr("CAST(n_pairs * 1000000 DIV t_pairs AS BIGINT)")
          .as("share_ppm"))
      .orderBy(col("band"))
  }

  /** Highest-satisfied-edge classifier, shared verbatim by op + oracle. */
  private val sweepBandCase: String = sweepBands.zipWithIndex.reverse.map {
    case ((num, den, _), i) => s"WHEN n_common * $den >= u * $num THEN $i"
  }.mkString("CASE ", " ", " END")

  val thresholdSweepSql: String = {
    val caseExpr = sweepBandCase
    val labelCase = sweepBands.zipWithIndex.map { case ((_, _, l), i) =>
      s"WHEN $i THEN '$l'"
    }.mkString("CASE band_idx ", " ", " END")
    s"""WITH $jaccardPairsSql,
       |det AS (
       |  SELECT p.n_common, x.n_sh + y.n_sh - p.n_common AS u
       |  FROM pairs p JOIN sizes x ON p.doc_a = x.doc_id
       |               JOIN sizes y ON p.doc_b = y.doc_id
       |  WHERE p.n_common * 2 >= (x.n_sh + y.n_sh - p.n_common)),
       |bb AS (
       |  SELECT $caseExpr AS band_idx, count(*) AS n_pairs
       |  FROM det GROUP BY 1),
       |tot AS (SELECT sum(n_pairs) AS t_pairs FROM bb)
       |SELECT $labelCase AS band,
       |  CAST(n_pairs AS BIGINT) AS n_pairs,
       |  CAST((SELECT sum(c.n_pairs) FROM bb c
       |        WHERE c.band_idx >= b.band_idx) AS BIGINT) AS cum_pairs,
       |  CAST((CAST(n_pairs AS HUGEINT) * 1000000) // t_pairs AS BIGINT)
       |    AS share_ppm
       |FROM bb b, tot
       |ORDER BY band""".stripMargin
  }

  /** Oracle: identical output contract to dedup_ngram_jaccard (the prefix
    * filter is lossless at the threshold), so the oracle is the same
    * exact-Jaccard SQL — a genuine cross-check that the optimized path
    * drops nothing.
    */
  val ngramPrefixSql: String = ngramJaccardSql

  /** Containment near-dup pairs — the ASYMMETRIC Jaccard the substring/
    * quotation case needs: C(A,B) = |S(A)∩S(B)| / |S(A)| over word-3-gram
    * shingle sets finds a short document swallowed by a long one
    * (boilerplate page wrapping an article, quoted post inside a thread)
    * that symmetric Jaccard scores near zero. Directed output: doc_a is
    * the CONTAINED side.
    *
    * EXACT, not recall-bounded: the prefix filter is complete for
    * containment by the same pigeonhole as the Jaccard case, applied to
    * the contained side only — if C(A,B) ≥ t then |A∩B| ≥ t·n_A, and
    * missing ALL of A's ℓ = n_A − ceil(t·n_A) + 1 rarest shingles caps
    * the overlap at ceil(t·n_A) − 1 < t·n_A. So joining A-prefixes
    * against FULL sets generates every qualifying directed pair, on the
    * rarest shingles (skew-immune, the ngramPrefixJoin discipline), and
    * the oracle's exhaustive shared-shingle enumeration proves
    * completeness, not just precision.
    */
  // tau as an exact rational (4/5): the completeness-critical prefix
  // length needs the exact ceil(num·n/den) — a float ceil(n·0.8) can
  // round a half-ulp tie UP and shorten the prefix by one, silently
  // dropping a boundary pair despite the "EXACT" claim. Integer
  // ceiling: ceil(num·n/den) = (num·n + den − 1) DIV den.
  val containTauNum = 4L
  val containTauDen = 5L
  val containTau: Double = containTauNum.toDouble / containTauDen

  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleHashes(spark, dir).persist()
    val df_ = sh.groupBy(col("h")).agg(count(lit(1)).as("freq"))
    val ranked = sh.join(df_, "h")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("freq"), col("h"))))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val prefix = ranked.join(sizes, "doc_id")
      .filter(col("rk") <= col("n_sh") -
        expr(s"($containTauNum * n_sh + ${containTauDen - 1}) DIV $containTauDen") + 1)
      .select(col("doc_id"), col("h"))
    val cand = prefix.join(
        sh.select(col("doc_id").as("doc_b"), col("h")), Seq("h"))
      .filter(col("doc_id") =!= col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"))
      .distinct()
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_set(col("h")).as("hs"), count(lit(1)).as("n_sh"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_a"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("n_common"),
        (size(array_intersect(col("hs_a"), col("hs_b"))).cast(DoubleType) /
          col("n_a")).as("containment"))
      // threshold verdict in exact integer cross-multiplication — the
      // display ratio stays double, the keep/drop decision has no float seam
      .filter(col("n_common") * containTauDen >= col("n_a") * containTauNum)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val containmentPairsSql: String =
    s"""WITH sh AS ($shingleHashesSql),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |dpairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id <> b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT p.doc_a, p.doc_b, x.n_sh AS n_a, p.n_common,
       |  CAST(p.n_common AS DOUBLE) / x.n_sh AS containment
       |FROM dpairs p JOIN sizes x ON p.doc_a = x.doc_id
       |WHERE p.n_common * $containTauDen >= x.n_sh * $containTauNum
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Near-dup canonicalization — the "keep one document per duplicate
    * cluster" step a dedup pipeline runs after pair generation:
    * connected components over the exact Jaccard >= threshold near-dup
    * graph, each document labeled with its component's minimum doc_id
    * (the canonical survivor) and the component size.
    *
    * Spark-first shape: Pregel-style iterative min-label propagation —
    * each round is ONE equi-join (edge src -> label) + ONE min-aggregate
    * per dst, so a round costs two shuffles and rounds are bounded by
    * the component diameter (near-dup clusters are shallow; the
    * `maxIters` guard documents the bound; at planetary scale alternate
    * large-star/small-star — "Connected Components in MapReduce", Kiveris
    * et al. — to halve the round count, and checkpoint every ~10 rounds
    * to cut lineage). The driver only ever sees the per-round
    * changed-count — labels never leave the cluster.
    *
    * The DuckDB oracle computes the same fixpoint as a recursive CTE
    * (min reachable label), so the iterative distributed algorithm is
    * cross-checked against a declarative transitive closure.
    */
  def components(spark: SparkSession, dir: String, tauNum: Long = 1L,
      tauDen: Long = 2L, maxIters: Int = 20): DataFrame =
    if (tauNum == 1L && tauDen == 2L && maxIters == 20)
      componentsTable(spark, dir) // the shared-artifact path (memoized)
    else componentsCompute(spark, dir, tauNum, tauDen, maxIters)

  /** The components fixpoint as a SHARED PIPELINE ARTIFACT: computed
    * once per (session, dir, corpus content), MATERIALIZED TO THE LAKE
    * (SharedArtifacts.materialized — parquet write + re-read), and
    * served to all six consumers (components, cluster_profile,
    * keep_best, curation_funnel, mix_dedup_discount,
    * split_leakage_audit) — the ivfTrain one-training-many-consumers
    * pattern applied to the most expensive derivation in the repo
    * (prefix join + label propagation). Until r10 this was a resident
    * localCheckpoint; a per-doc label table is CORPUS-SIZED, and
    * pinning it in executor storage for a whole session is exactly the
    * 100 TB liability VERDICT r10 #1 names — the lake write costs one
    * extra parquet round-trip on the first consumer and gives every
    * later consumer a plain pruned columnar scan with zero resident
    * state. Eviction is structural: files gone → re-derive; corpus
    * rewritten → new fingerprint key → re-derive.
    */
  def componentsTable(spark: SparkSession, dir: String): DataFrame =
    graft.SharedArtifacts.materialized(spark, dir, "components") {
      componentsCompute(spark, dir, 1L, 2L, 20)
    }

  private def componentsCompute(spark: SparkSession, dir: String,
      tauNum: Long, tauDen: Long, maxIters: Int): DataFrame = {
    // prefixJoinDetail, not ngramPrefixJoin (r15): the public entry adds
    // a global ORDER BY (a range exchange + sort) and the jaccard
    // projection, both discarded here — label propagation symmetrizes
    // and re-keys the pair list immediately, so order cannot matter
    // (same verified pair SET either way).
    val pairs = prefixJoinDetail(spark, dir, tauNum, tauDen)
      .select(col("doc_a"), col("doc_b"))
    val labels = propagateMinLabel(pairs, maxIters)
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val labeled = docs.join(labels, docs("doc_id") === labels("node"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("canon_id"))
    val sizes = labeled.groupBy(col("canon_id"))
      .agg(count(lit(1)).as("component_size"))
    labeled.join(sizes, "canon_id")
      .select(col("doc_id"), col("canon_id"), col("component_size"),
        (col("doc_id") === col("canon_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** Cluster-level shingle index (h, canon) — the settled static side
    * of the streaming cluster-assign gate: every distinct shingle of
    * every member, labeled with the member's component canon. At scale
    * this is a bucketed-on-h table the batch dedup maintains alongside
    * the fingerprint and band indexes; here it composes the shared
    * components artifact, so one fixpoint serves the stream too.
    */
  def clusterShingleIndex(spark: SparkSession, dir: String): DataFrame =
    shingleHashes(spark, dir)
      .join(componentsTable(spark, dir)
        .select(col("doc_id"), col("canon_id").as("canon")), "doc_id")
      .select(col("h"), col("canon")).distinct()

  /** Verified Jaccard ≥ 1/2 pairs where candidate generation probes
    * ONLY `probeIds`' prefixes against `indexIds`' full shingle sets —
    * the one-sided prefix guarantee (pigeonhole per side) makes this
    * COMPLETE for every qualifying pair with at least one probe-side
    * doc. The incremental ingest shape: the corpus index is settled
    * state, only the batch is ranked and probed. df ranking uses the
    * global document frequency (part of the settled index state in
    * production). Unordered (doc_a < doc_b) verified output.
    */
  private[text] def prefixVerifiedPairs(sh: DataFrame, probeIds: DataFrame,
      indexIds: DataFrame, tauNum: Long = 1L, tauDen: Long = 2L): DataFrame = {
    val dfF = sh.groupBy(col("h")).agg(count(lit(1)).as("freq"))
    // n_sh rides the rank window (r15, the prefixJoinDetail fusion): the
    // probe side's per-doc shingle count is the count over the SAME
    // doc_id partition the rank sorts — one exchange instead of a
    // separate full-corpus `sizes` aggregate + join (the probe⋈sizes
    // join touched only probe docs, so counting over the probe-side
    // window yields the identical n_sh).
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val ranked = sh.join(probeIds, "doc_id").join(dfF, "h")
      .withColumn("rk", row_number().over(
        wDoc.orderBy(col("freq"), col("h"))))
      .withColumn("n_sh", count(lit(1)).over(wDoc))
    // one-sided pigeonhole at exact rational τ: J ≥ num/den and u ≥ n_sh
    // imply overlap c ≥ ⌈τ·n_sh⌉ = (num·n_sh + den − 1) DIV den, so a
    // prefix of length n_sh − c_min + 1 must contain a common shingle
    // (integer ceiling — the ngramPrefixJoin r9 device, never float)
    val prefix = ranked
      .filter(col("rk") <= col("n_sh") -
        expr(s"($tauNum * n_sh + ${tauDen - 1}) DIV $tauDen") + 1)
      .select(col("doc_id"), col("h"))
    val idxSh = sh.join(indexIds, "doc_id")
      .select(col("doc_id").as("doc_r"), col("h"))
    val cand = prefix.join(idxSh, Seq("h"))
      .filter(col("doc_id") =!= col("doc_r"))
      .select(least(col("doc_id"), col("doc_r")).as("doc_a"),
        greatest(col("doc_id"), col("doc_r")).as("doc_b"))
      .distinct()
    val sets = shingleSets(sh)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        col("n_sh").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
        col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long")
          .as("n_common"), col("n_a"), col("n_b"))
      // exact cross-multiplied verdict: c·den ≥ (n_a + n_b − c)·num
      .filter(col("n_common") * tauDen >=
        (col("n_a") + col("n_b") - col("n_common")) * tauNum)
      .select(col("doc_a"), col("doc_b"))
  }

  /** The pointer-jumped min-label propagation core, factored (r9) from
    * the components fixpoint so the incremental merge reuses the
    * IDENTICAL loop: takes an unordered pair frame (doc_a, doc_b),
    * symmetrizes, and returns (node, lbl) — the minimum reachable id
    * per connected node. Nodes with no edges are absent (callers
    * coalesce to self).
    */
  private[text] def propagateMinLabel(pairs0: DataFrame,
      maxIters: Int): DataFrame = {
    val pairs = pairs0.toDF("doc_a", "doc_b")
    val edges = pairs
      .union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").persist()
    // seed labels one propagation step ahead: min(self, direct neighbors)
    // — saves a full round on shallow near-dup clusters
    var labels = edges.groupBy(col("src"))
      .agg(least(min(col("dst")), first(col("src"))).as("lbl"))
      .select(col("src").as("node"), col("lbl")).persist()
    var converged = false
    var iter = 0
    // the seed is a plain persisted Dataset whose LINEAGE may contain
    // upstream localCheckpoint leaves (the incremental merge feeds a
    // checkpointed label map in) — freeing it via freeCheckpoint's
    // leaf-collection would unpersist THOSE still-live blocks, so the
    // seed frees through the CacheManager and only round checkpoints
    // (lineage-truncated, their own leaves) go through freeCheckpoint
    var isSeed = true
    while (!converged && iter < maxIters) {
      val nbrMin = edges.join(labels, edges("src") === labels("node"))
        .groupBy(col("dst")).agg(min(col("lbl")).as("nbr_lbl"))
      // the round's PREVIOUS label rides along as `prev` so the
      // convergence check below is a filter over this round's already-
      // checkpointed blocks — not (as before) an extra join-against-
      // previous-labels job per round. Checking every 2nd round instead
      // would be worse: a stale check costs one full propagate+jump round
      // (2 shuffles), far more than a cached-block scan.
      val stepped = labels.join(nbrMin, labels("node") === nbrMin("dst"), "left")
        .select(labels("node"), labels("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"))
      // pointer jump (path halving): also adopt the label OF the current
      // label — turns the diameter-bounded propagation into an
      // O(log diameter) round count, so maxIters = 20 covers chains of
      // ~2^20 docs and the convergence guard is a real invariant.
      // localCheckpoint TRUNCATES LINEAGE each round: the jump references
      // `stepped` twice, so without truncation the logical plan doubles
      // per round and planning itself OOMs on deep chains (measured). On
      // a cluster with executor loss concerns, swap for a reliable
      // checkpoint(dir) — same shape.
      // LAZY checkpoint + count = ONE action per round (r15, the
      // pagerank/kcore device): the eager checkpoint job and the
      // convergence count were two scheduler round-trips per round for
      // the same materialization — marking the frame for checkpoint and
      // letting the count compute it stores the blocks, truncates the
      // lineage, and returns the changed-count in a single job.
      val checkpointed = stepped.as("a")
        .join(stepped.select(col("node").as("lnode"), col("lbl").as("llbl")),
          col("a.lbl") === col("lnode"), "left")
        .select(col("a.node").as("node"), col("a.prev").as("prev"),
          least(col("a.lbl"), coalesce(col("llbl"), col("a.lbl"))).as("lbl"))
        .localCheckpoint(false)
      val changed = checkpointed.filter(col("lbl") =!= col("prev")).count()
      if (isSeed) { labels.unpersist(); isSeed = false }
      else freeCheckpoint(labels)
      // drop `prev` for the next round's joins; the projection reads the
      // same checkpointed blocks, and freeCheckpoint keeps unpersisting the
      // underlying RDD through it (Project over LogicalRDD)
      labels = checkpointed.drop("prev")
      converged = changed == 0
      iter += 1
    }
    // edges stays cached deliberately: it is tiny (the near-dup pair
    // list) but its lineage (the whole prefix join) is expensive, and
    // repeated invocations reuse it via the CacheManager — unpersisting
    // here tripled repeat-call latency. The per-ROUND checkpoints above
    // are what must be freed (they accumulate); this one entry is
    // bounded and LRU-evictable.
    require(converged, s"label propagation did not converge in $maxIters rounds")
    labels
  }

  /** CTE chain producing `labeled` (doc_id, canon_id) + `csize`
    * (canon_id, component_size) — the components fixpoint, composable by
    * downstream oracles (Curation.keepBestSql). Callers prepend
    * `WITH RECURSIVE` and append their own final SELECT.
    */
  private[text] val componentsCoreSql: String =
    s"""$jaccardPairsSql,
       |dup_pairs AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.5),
       |edges AS (SELECT doc_a AS s, doc_b AS d FROM dup_pairs
       |          UNION ALL SELECT doc_b, doc_a FROM dup_pairs),
       |reach(node, lbl) AS (
       |  SELECT DISTINCT s, s FROM edges
       |  UNION
       |  SELECT e.d, r.lbl FROM edges e JOIN reach r ON r.node = e.s),
       |comp AS (SELECT node, min(lbl) AS canon_id FROM reach GROUP BY node),
       |labeled AS (SELECT doc_id, coalesce(c.canon_id, doc_id) AS canon_id
       |  FROM documents LEFT JOIN comp c ON c.node = doc_id),
       |csize AS (SELECT canon_id, CAST(count(*) AS BIGINT) AS component_size
       |  FROM labeled GROUP BY 1)""".stripMargin

  val componentsSql: String =
    s"""WITH RECURSIVE $componentsCoreSql
       |SELECT l.doc_id, l.canon_id, s.component_size,
       |  l.doc_id = l.canon_id AS is_canonical
       |FROM labeled l JOIN csize s USING (canon_id) ORDER BY doc_id""".stripMargin

  /** Near-dup cluster-size profile — the one-screen summary of the
    * whole dedup pass (the number every dedup writeup leads with):
    * distribution of connected-component sizes (how many singletons,
    * pairs, bigger families), docs held by each size class, and the
    * would-be removal rate in exact ppm (everything but one survivor
    * per family). Reads the SAME components fixpoint the
    * canonicalization ships, rolled up per size — a \|distinct sizes\|-key
    * aggregation over the per-doc labels, map-side combined.
    */
  def clusterProfile(spark: SparkSession, dir: String): DataFrame = {
    val comp = components(spark, dir)
    val bySize = comp.filter(col("is_canonical"))
      .groupBy(col("component_size"))
      .agg(count(lit(1)).as("n_components"))
      .withColumn("n_docs", col("component_size") * col("n_components"))
      .withColumn("n_removable", (col("component_size") - 1) * col("n_components"))
    val total = bySize.agg(sum(col("n_docs")).as("t_docs"))
    bySize.crossJoin(broadcast(total)) // 1-row scalar broadcast
      .select(col("component_size"), col("n_components"), col("n_docs"),
        col("n_removable"),
        expr("CAST(n_docs * 1000000 DIV t_docs AS BIGINT)").as("doc_share_ppm"))
      .orderBy(col("component_size"))
  }

  val clusterProfileSql: String =
    s"""WITH RECURSIVE $componentsCoreSql,
       |by_size AS (
       |  SELECT component_size, count(*) AS n_components,
       |    component_size * count(*) AS n_docs,
       |    (component_size - 1) * count(*) AS n_removable
       |  FROM csize GROUP BY component_size),
       |total AS (SELECT sum(n_docs) AS t_docs FROM by_size)
       |SELECT component_size, n_components, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_removable AS BIGINT) AS n_removable,
       |  CAST((CAST(n_docs AS HUGEINT) * 1000000) // t_docs AS BIGINT)
       |    AS doc_share_ppm
       |FROM by_size, total
       |ORDER BY component_size""".stripMargin

  /** Edit-distance near-dup: candidates blocked on a shared 12-char text
    * prefix (an equi-join — the blocking key stands in for the usual
    * sorted-neighborhood pass), verified with exact levenshtein over the
    * first 60 chars. Both engines implement the same Wagner-Fischer
    * distance, so the verification is cross-engine exact.
    */
  def levenshteinPairs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, 12).as("blk"),
        substring(col("text"), 1, 60).as("head"))
    val b = d.select(col("doc_id").as("doc_b"), col("blk"),
      col("head").as("head_b"))
    d.join(b, Seq("blk"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"),
        levenshtein(col("head"), col("head_b")).as("edit_distance"))
      .filter(col("edit_distance") <= 20)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val levenshteinPairsSql: String =
    """WITH d AS (
      |  SELECT doc_id, substring(text, 1, 12) AS blk, substring(text, 1, 60) AS head
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(levenshtein(a.head, b.head) AS INTEGER) AS edit_distance
      |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.head, b.head) <= 20
      |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash: 60-bit signature over distinct tokens (md5-derived token
    * hashes, sign-of-sum per bit), candidate pairs via 4x15-bit chunk
    * banding (guaranteed complete for hamming <= 3), verified by exact
    * hamming distance.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // plan choice: the signature aggregate reuses this doc_id exchange
    val toks = Tables.documents(spark, dir)
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)").as("h"))
    simhashPairsFromHashes(toks)
  }

  /** The SimHash core over any (doc_id, h) feature-hash frame: 60-bit
    * signature from per-bit ±1 sums, then the 4×15-bit chunk-banded
    * candidate equi-join (complete for hamming ≤ 3 by pigeonhole).
    * Shared by the token SimHash above and the multimodal byte-gram
    * pHash (mm.Multimodal.phashPairs). */
  def simhashPairsFromHashes(toks: DataFrame): DataFrame = {
    // branch-free bit tally: Σ(2·bit − 1) ≡ the ±1 majority vote, but
    // shift/and/mul beats the former div/mod/compare per row — this agg
    // evaluates 60 expressions per EXPLODED gram row (the op's hot
    // loop: ~50M rows × 60 at sf1, measured r13 on the densified
    // corpus), so the per-expression constant is the whole cost
    val bitSums = (0 until 60).map { b =>
      sum(expr(s"(shiftright(h, $b) & 1) * 2 - 1")).as(s"s_$b")
    }
    // materialize the per-doc signature frame (ONE row per doc) before
    // the banded self-join: without this the plan re-derives the entire
    // explode+60-way aggregate pipeline on BOTH join sides (measured r13
    // at sf1: the duplicated pipeline re-ran inside the broadcast build
    // per action — 6-170 s run variance; checkpointed it's seconds,
    // stable). The house GlobalRank/componentsTable lineage discipline.
    val sigs = toks.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(b =>
          when(col(s"s_$b") >= 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _).as("sig"))
      .localCheckpoint()
    val chunks = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"),
          expr(s"(sig div ${1L << (15 * c)}) % ${1 << 15}").as("k"))): _*)).as("ck"))
      .select(col("doc_id"), col("sig"), col("ck.c").as("c"), col("ck.k").as("k"))
    val b2 = chunks.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
      col("c"), col("k"))
    chunks.join(b2, Seq("c", "k"))
      .filter(col("doc_id") < col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b"),
        expr("bit_count(sig ^ sig_b)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val simhashSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
      |h AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks),
      |bits AS (
      |  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM h, range(60) r(b)
      |  GROUP BY doc_id, b),
      |sigs AS (
      |  SELECT doc_id, sum(CASE WHEN s >= 0 THEN 1::BIGINT << b ELSE 0 END)::BIGINT AS sig
      |  FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
      |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sig, b.sig)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Duplicated-SPAN detection (substring-level dedup — the
    * suffix-array family's Spark-shaped cousin, cf. "Deduplicating
    * Training Data Makes Language Models Better": exact substring
    * matches across documents, not whole-doc near-dup): every W-char
    * window at stride S is fingerprinted, and windows appearing in ≥2
    * DISTINCT docs are surfaced with doc/occurrence counts. Catches
    * boilerplate (headers, license blocks, navigation chrome) that
    * whole-doc MinHash misses when the surrounding text differs.
    *
    * Scale shape: the explode emits one (md5, doc_id) pair per window —
    * ~len/S rows/doc, the same order as the shingle exploders above.
    * Aggregation is TWO keyed shuffles with map-side partial dedup
    * ((win,doc) → win), NEVER a countDistinct (whose Expand doubles the
    * exploded stream — PLANS.md risk #1). Output is a bounded
    * TakeOrderedAndProject with a total tiebreak (win_md5 is unique per
    * group). At 100 TB: swap md5 for xxhash64 to carry 8-byte shuffle
    * keys instead of 32-char strings (md5 here is the cross-engine
    * oracle contract), and raise the stride for the first pass.
    */
  /** Default span-fingerprint geometry — the SQL oracle renders from
    * these same constants (ADVICE r5: a hard-coded 40/10 in the SQL
    * silently diverged from non-default Scala args).
    */
  val substringWindow = 40
  val substringStride = 10

  def substringDup(spark: SparkSession, dir: String,
                   window: Int = substringWindow,
                   stride: Int = substringStride): DataFrame = {
    val wins = Tables.documents(spark, dir)
      .filter(length(col("text")) >= window)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, CAST((length(text) - $window) DIV $stride AS INT)),
           |  i -> substring(text, i * $stride + 1, $window))""".stripMargin)).as("win"))
    wins.select(md5(col("win")).as("win_md5"), col("doc_id"))
      .groupBy(col("win_md5"), col("doc_id")).agg(count(lit(1)).as("occ"))
      .groupBy(col("win_md5"))
      .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ"),
        min(col("doc_id")).as("sample_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("win_md5"))
      .limit(100)
  }

  def substringDupQuery(spark: SparkSession, dir: String): DataFrame =
    substringDup(spark, dir)

  val substringDupSql: String = {
    val (w, s) = (substringWindow, substringStride)
    s"""WITH wins AS (
       |  SELECT doc_id, md5(substr(text, CAST(i AS INT) * $s + 1, $w)) AS win_md5
       |  FROM (SELECT doc_id, text, unnest(range(0, (len(text) - $w) // $s + 1)) AS i
       |        FROM documents WHERE len(text) >= $w)),
       |per_doc AS (
       |  SELECT win_md5, doc_id, count(*) AS occ FROM wins GROUP BY 1, 2)
       |SELECT win_md5, count(*) AS n_docs, CAST(sum(occ) AS BIGINT) AS n_occ,
       |  min(doc_id) AS sample_doc
       |FROM per_doc GROUP BY win_md5 HAVING count(*) >= 2
       |ORDER BY n_docs DESC, n_occ DESC, win_md5 LIMIT 100""".stripMargin
  }

  // ------------------------------------------------- cross-doc n-gram dup
  //
  // Per-DOCUMENT duplicate n-gram fraction (the Gopher/RefinedWeb
  // "dup_ngram" quality axis, token-level): for every doc, the share of
  // its DISTINCT token 8-grams that also occur in at least one OTHER
  // document. substringDup surfaces the shared spans themselves (a
  // corpus-level top list); this is the per-doc rollup a quality gate
  // filters on — a doc whose n-grams are mostly corpus-duplicated is
  // boilerplate even when no single whole-doc near-dup exists.
  //
  // Scale shape: grams are md5-fingerprinted and per-doc deduped IN-ROW
  // (array_distinct before the explode), so the exploded stream is
  // distinct (doc, gram) pairs — one groupBy gram for corpus doc-counts,
  // one join back on gram, one per-doc rollup. No countDistinct/Expand,
  // no all-pairs shape; the gram join is an equi-join whose key space is
  // the distinct-gram universe. The final ppm is exact integer division.
  // At 100 TB: same xxhash64-for-md5 swap as substringDup.

  val dupGramN = 8

  def dupNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    // pairs is persisted: the doc-frequency branch and the per-doc join
    // both consume it
    val base = Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), col("source"),
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("int").as("n_tokens"), col("toks"))
      .withColumn("n_grams", greatest(col("n_tokens") - (dupGramN - 1), lit(0)))
    val pairs = base
      .filter(col("n_grams") > 0)
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(1, size(toks) - ${dupGramN - 1}), " +
          s"i -> md5(array_join(slice(toks, i, $dupGramN), ' '))))")).as("g"))
      .persist()
    val byGram = pairs.groupBy(col("g")).agg(count(lit(1)).as("n_docs_g"))
    val perDoc = pairs.join(byGram, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("d_grams"),
        sum(when(col("n_docs_g") >= 2, 1L).otherwise(0L)).as("d_dup"))
    base.select(col("doc_id"), col("source"), col("n_tokens"), col("n_grams"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .withColumn("n_grams_distinct", coalesce(col("d_grams"), lit(0L)))
      .withColumn("n_dup_grams", coalesce(col("d_dup"), lit(0L)))
      .withColumn("dup_gram_ppm",
        expr("CASE WHEN n_grams_distinct = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_dup_grams * 1000000 div n_grams_distinct END"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("n_grams"),
        col("n_grams_distinct"), col("n_dup_grams"), col("dup_gram_ppm"))
      .orderBy(col("doc_id"))
  }

  val dupNgramCoverageSql: String = {
    val n = dupGramN
    s"""WITH base AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |b2 AS (
       |  SELECT doc_id, source, CAST(len(toks) AS INT) AS n_tokens,
       |    CAST(greatest(len(toks) - ${n - 1}, 0) AS INT) AS n_grams, toks
       |  FROM base),
       |pairs AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - ${n - 2}),
       |    i -> md5(array_to_string(toks[i:i+${n - 1}], ' '))))) AS g
       |  FROM b2 WHERE n_grams > 0),
       |bygram AS (SELECT g, count(*) AS n_docs_g FROM pairs GROUP BY g),
       |perdoc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams_distinct,
       |    CAST(sum(CASE WHEN n_docs_g >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams
       |  FROM pairs JOIN bygram USING (g) GROUP BY doc_id)
       |SELECT b2.doc_id, b2.source, b2.n_tokens, b2.n_grams,
       |  coalesce(p.n_grams_distinct, 0) AS n_grams_distinct,
       |  coalesce(p.n_dup_grams, 0) AS n_dup_grams,
       |  CASE WHEN coalesce(p.n_grams_distinct, 0) = 0 THEN CAST(0 AS BIGINT)
       |       ELSE (coalesce(p.n_dup_grams, 0) * 1000000) // p.n_grams_distinct
       |  END AS dup_gram_ppm
       |FROM b2 LEFT JOIN perdoc p ON b2.doc_id = p.doc_id
       |ORDER BY b2.doc_id""".stripMargin
  }

  // --------------------------------------------------- paragraph dedup
  //
  // PARAGRAPH-level exact dedup retention — the RefinedWeb/CCNet unit
  // between whole-doc fingerprints (dedup_exact) and sliding windows
  // (dedup_substring): real pipelines hash each paragraph and keep only
  // its FIRST occurrence corpus-wide, so boilerplate (headers, nav,
  // license blocks) drops while the surrounding document survives. The
  // synthetic corpus has no paragraph breaks, so segmentation is
  // fixed 16-token non-overlapping blocks — a declared stand-in: the
  // split expression is the ONLY thing a real corpus changes
  // (split(text, '\n\n')), the hash/keeper/rollup plumbing is the
  // production shape unchanged.
  //
  // Keeper policy (first occurrence): an instance is retained iff
  // (doc_id, block_idx) is the global minimum for its hash — duplicate
  // blocks WITHIN one doc also collapse to the earliest. The per-source
  // report is the retention audit a dedup rollout reads: block and
  // token retention in exact ppm.
  //
  // Scale shape: the block explode is ~tokens/16 rows per doc; the
  // keeper is TWO hash-keyed min-aggregations (map-side combined —
  // never a window over hash groups, whose hot boilerplate keys would
  // single-task; the min-doc then min-idx split keeps both aggs plain),
  // then one hash-keyed join back against the 1-row-per-hash keeper
  // frame (the fingerprint-index shape) and a |sources|-key rollup.

  val paragraphBlock = 16

  def paragraphRetention(spark: SparkSession, dir: String): DataFrame = {
    val b = paragraphBlock
    val blocks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        expr("filter(split(text, ' '), t -> t <> '')").as("a"))
      .filter(size(col("a")) >= 1)
      .select(col("doc_id"), col("source"), size(col("a")).cast("long").as("n"),
        explode(expr(
          s"""transform(sequence(0, (size(a) - 1) DIV $b),
             |  k -> struct(k AS idx,
             |    md5(concat_ws(' ', slice(a, k * $b + 1, $b))) AS h,
             |    CAST(least($b, size(a) - k * $b) AS BIGINT) AS toks))"""
            .stripMargin)).as("blk"))
      .select(col("doc_id"), col("source"),
        col("blk.idx").as("idx"), col("blk.h").as("h"),
        col("blk.toks").as("toks"))
    val kDoc = blocks.groupBy(col("h")).agg(min(col("doc_id")).as("kd"))
    val keeper = blocks.join(kDoc, "h")
      .filter(col("doc_id") === col("kd"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("kd"), min(col("idx")).as("ki"))
    blocks.join(keeper, "h")
      .select(col("source"), col("toks"),
        (col("doc_id") === col("kd") && col("idx") === col("ki"))
          .as("retained"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("retained"), 1L).otherwise(0L)).as("retained_blocks"),
        sum(col("toks")).as("n_tokens"),
        sum(when(col("retained"), col("toks")).otherwise(0L))
          .as("retained_tokens"))
      .select(col("source"), col("n_blocks"), col("retained_blocks"),
        expr("CAST(CAST(retained_blocks AS DECIMAL(38,0)) * 1000000" +
          " DIV n_blocks AS BIGINT)").as("block_retention_ppm"),
        col("n_tokens"), col("retained_tokens"),
        expr("CAST(CAST(retained_tokens AS DECIMAL(38,0)) * 1000000" +
          " DIV n_tokens AS BIGINT)").as("token_retention_ppm"))
      .orderBy(col("source"))
  }

  /** The settled corpus' distinct block hashes — the static side of the
    * streaming paragraph gate (StreamOps.paragraphGate); at scale a
    * bucketed-on-h table the batch dedup maintains beside the
    * fingerprint / band / cluster-shingle indexes. */
  def paragraphBlockIndex(spark: SparkSession, dir: String): DataFrame = {
    val b = paragraphBlock
    Tables.documents(spark, dir)
      .select(expr("filter(split(text, ' '), x -> x <> '')").as("a"))
      .filter(size(col("a")) >= 1)
      .select(explode(expr(
        s"""transform(sequence(0, (size(a) - 1) DIV $b),
           |  k -> md5(concat_ws(' ', slice(a, k * $b + 1, $b))))"""
          .stripMargin)).as("h"))
      .distinct()
  }

  val paragraphRetentionSql: String = {
    val b = paragraphBlock
    s"""WITH base AS (
       |  SELECT doc_id, source,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS a
       |  FROM documents),
       |ks AS (
       |  SELECT doc_id, source, a,
       |    unnest(range(0, (len(a) - 1) // $b + 1)) AS idx
       |  FROM base WHERE len(a) >= 1),
       |blocks AS (
       |  SELECT doc_id, source, idx,
       |    md5(array_to_string(a[idx * $b + 1 : idx * $b + $b], ' ')) AS h,
       |    CAST(least($b, len(a) - idx * $b) AS BIGINT) AS toks
       |  FROM ks),
       |kdoc AS (SELECT h, min(doc_id) AS kd FROM blocks GROUP BY h),
       |keeper AS (
       |  SELECT b2.h, min(b2.doc_id) AS kd, min(b2.idx) AS ki
       |  FROM blocks b2 JOIN kdoc k ON b2.h = k.h AND b2.doc_id = k.kd
       |  GROUP BY b2.h)
       |SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_blocks,
       |  CAST(sum(CASE WHEN bl.doc_id = ke.kd AND bl.idx = ke.ki
       |    THEN 1 ELSE 0 END) AS BIGINT) AS retained_blocks,
       |  CAST(CAST(sum(CASE WHEN bl.doc_id = ke.kd AND bl.idx = ke.ki
       |    THEN 1 ELSE 0 END) AS HUGEINT) * 1000000 // count(*) AS BIGINT)
       |    AS block_retention_ppm,
       |  CAST(sum(bl.toks) AS BIGINT) AS n_tokens,
       |  CAST(sum(CASE WHEN bl.doc_id = ke.kd AND bl.idx = ke.ki
       |    THEN bl.toks ELSE 0 END) AS BIGINT) AS retained_tokens,
       |  CAST(CAST(sum(CASE WHEN bl.doc_id = ke.kd AND bl.idx = ke.ki
       |    THEN bl.toks ELSE 0 END) AS HUGEINT) * 1000000 // sum(bl.toks)
       |    AS BIGINT) AS token_retention_ppm
       |FROM blocks bl JOIN keeper ke ON bl.h = ke.h
       |GROUP BY source ORDER BY source""".stripMargin
  }
}
