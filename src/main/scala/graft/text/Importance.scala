package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables

/** Data-selection importance weighting (DSIR-style): score every raw
  * document by how much more likely its hashed n-gram features are
  * under a TARGET distribution than under the RAW corpus distribution.
  * The standard "pick pretraining data that looks like the quality
  * slice" device (hashed-feature importance resampling over word
  * n-grams); here the target slice is the `lang = 'en'` sub-corpus and
  * the features are word bigrams hashed into 4096 buckets.
  *
  * Cross-engine exactness:
  * - bucket key = first 3 hex chars of md5(bigram) (the dedup_exact
  *   md5 device — a STRING key, so no engine-specific hash or hex→int
  *   parse anywhere);
  * - per-bucket log-ratio λ_b = ln((t_b+1)/(T+4096)) − ln((r_b+1)/
  *   (R+4096)) computed on identically-derived doubles and quantized
  *   through DECIMAL(18,9) (the text_unigram_nll device), so the
  *   per-doc score Σ n_{d,b}·λ_b is an exact, order-independent
  *   decimal sum; doubles only at the output edge (|score|·1e9 ≪ 2^53).
  *
  * Scale shape: one documents scan explodes bigrams; bucket rollup is
  * ≤4096 rows (localCheckpointed — it feeds the totals AND the λ
  * table); λ broadcasts to the per-doc rollup join (map-side, never a
  * shuffle of the corpus against the model); smoothing denominator is
  * the CONSTANT bucket count, so λ stays bounded as the corpus grows.
  * At 100 TB nothing changes: the feature table is bucket-keyed, not
  * vocab-keyed, so it broadcasts at any corpus size; widen the hex
  * prefix for more resolution (16^h buckets).
  */
object Importance {

  /** Target slice for the importance ratio (the "quality" distribution). */
  val targetLang = "en"

  /** 16^3 hashed feature buckets — the constant smoothing denominator. */
  val nBuckets = 4096

  /** Exploded (doc_id, lang, bucket) bigram rows — the shared base of
    * the model counts and the per-doc scoring rollup, which reuses the
    * fan-out's doc_id exchange.
    */
  private def bigramBuckets(docs: DataFrame): DataFrame =
    graft.Tables.fanOut(docs, col("doc_id"))
    .select(col("doc_id"), col("lang"),
      expr("filter(split(text, ' '), t -> t <> '')").as("words"))
    .filter(size(col("words")) >= 2)
    .select(col("doc_id"), col("lang"),
      explode(expr("transform(sequence(0, size(words) - 2), " +
        "i -> concat(words[i], ' ', words[i + 1]))")).as("bg"))
    .withColumn("b", expr("substr(md5(bg), 1, 3)"))

  /** The trained importance model: (bucket, λ) with λ the smoothed
    * target-vs-raw log-ratio, DECIMAL(18,9)-quantized. ≤4096 rows —
    * broadcastable at any corpus size; also the static side of the
    * streaming importance gate (StreamOps.importanceGate). */
  def lambdaTable(spark: SparkSession, dir: String): DataFrame = {
    val counts = bigramBuckets(Tables.documents(spark, dir))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("r_cnt"),
        sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("t_cnt"))
      // ≤4096 rows feeding the totals AND the λ projection
      .localCheckpoint()
    val tot = counts.agg(sum(col("r_cnt")).as("r_tot"),
      sum(col("t_cnt")).as("t_tot"))
    counts.crossJoin(broadcast(tot))
      .select(col("b"), expr(
        s"""CAST(ln((CAST(t_cnt AS DOUBLE) + 1.0) /
           |      (CAST(t_tot AS DOUBLE) + $nBuckets.0)) -
           |    ln((CAST(r_cnt AS DOUBLE) + 1.0) /
           |      (CAST(r_tot AS DOUBLE) + $nBuckets.0))
           |  AS DECIMAL(18,9))""".stripMargin).as("lam"))
  }

  /** Per-doc frame (doc_id, lang, source, nb, s) with nb/s NULL for
    * bigram-less docs — shared by the report (curationImportance) and
    * the selection step (curationSelect). */
  private def importanceScored(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val bi = bigramBuckets(docs)
    val lam = lambdaTable(spark, dir)
    val perDoc = bi.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("nb"),
        sum(expr("CAST(n AS DECIMAL(10,0)) * lam")).as("s"))
    docs.select(col("doc_id"), col("lang"), col("source"))
      .join(perDoc, Seq("doc_id"), "left")
  }

  def curationImportance(spark: SparkSession, dir: String): DataFrame =
    importanceScored(spark, dir)
      .select(col("doc_id"), col("lang"),
        coalesce(col("nb"), lit(0L)).cast("long").as("n_bigrams"),
        coalesce(col("s").cast(DoubleType), lit(0.0)).as("logratio_nats"),
        expr("CASE WHEN nb IS NULL THEN CAST(0.0 AS DOUBLE) " +
          "ELSE CAST(s AS DOUBLE) / nb END").as("per_bigram_nats"))
      .orderBy(col("doc_id"))

  /** Shared oracle CTE chain: raw docs → bigram buckets → model counts
    * → λ → per-doc (nb, s). Base of curationImportanceSql AND
    * curationSelectSql. */
  private val importanceCtes: String =
    s"""w AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS words
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, lang,
       |    substr(md5(words[i] || ' ' || words[i + 1]), 1, 3) AS b
       |  FROM (SELECT doc_id, lang, words,
       |          unnest(range(1, len(words))) AS i
       |        FROM w WHERE len(words) >= 2)),
       |counts AS (
       |  SELECT b, count(*) AS r_cnt,
       |    sum(CASE WHEN lang = '$targetLang' THEN 1 ELSE 0 END) AS t_cnt
       |  FROM bg GROUP BY 1),
       |tot AS (SELECT sum(r_cnt) AS r_tot, sum(t_cnt) AS t_tot FROM counts),
       |lam AS (
       |  SELECT b,
       |    CAST(ln((CAST(t_cnt AS DOUBLE) + 1.0) /
       |          (CAST(t_tot AS DOUBLE) + $nBuckets.0)) -
       |        ln((CAST(r_cnt AS DOUBLE) + 1.0) /
       |          (CAST(r_tot AS DOUBLE) + $nBuckets.0))
       |      AS DECIMAL(18,9)) AS lam
       |  FROM counts, tot),
       |pd AS (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2),
       |sc AS (
       |  SELECT pd.doc_id, sum(pd.n) AS nb,
       |    sum(CAST(pd.n AS DECIMAL(10,0)) * l.lam) AS s
       |  FROM pd JOIN lam l USING (b) GROUP BY 1)""".stripMargin

  val curationImportanceSql: String =
    s"""WITH $importanceCtes
       |SELECT d.doc_id, d.lang,
       |  CAST(coalesce(sc.nb, 0) AS BIGINT) AS n_bigrams,
       |  coalesce(CAST(sc.s AS DOUBLE), 0.0) AS logratio_nats,
       |  CASE WHEN sc.nb IS NULL THEN 0.0
       |    ELSE CAST(sc.s AS DOUBLE) / sc.nb END AS per_bigram_nats
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Keep the top selectNum/selectDen of the corpus by importance. */
  val selectNum = 2L
  val selectDen = 5L

  /** Top-p importance selection — the DSIR loop's SELECTION step after
    * the weights: rank every doc by its importance score (descending,
    * doc_id tiebreak — the decimal score makes the order cross-engine
    * exact), keep the top ceil(2/5 · n), and report the per-source
    * composition shift the selection induces — "what did optimizing for
    * the target slice do to my mix", the number a data lead signs off
    * on before a DSIR-filtered run.
    *
    * Exactness: scores are exact decimals (ties only between truly
    * identical feature vectors, broken by doc_id); the cutoff is the
    * integer ceiling device; shares and boost are single integer floors
    * over DECIMAL(38,0)/HUGEINT products (boost = n_sel·n·1e6 DIV
    * (n_docs·k) — never compounded floors).
    *
    * Scale shape: the per-doc scoring rollup (broadcast λ), then ONE
    * GlobalRank range exchange (never an empty-partitionBy window over
    * the corpus), then a |sources|-bounded agg with 1-row totals
    * broadcast.
    */
  def curationSelect(spark: SparkSession, dir: String): DataFrame = {
    val scored = importanceScored(spark, dir)
      .select(col("doc_id"), col("source"),
        coalesce(col("s"), lit(java.math.BigDecimal.ZERO)
          .cast(org.apache.spark.sql.types.DecimalType(28, 9)))
          .as("score_d"))
    val ranked = graft.operators.GlobalRank.withGlobalRank(
      scored, "rk", col("score_d").desc, col("doc_id"))
    // r14 optimization round: totals over the CHECKPOINTED ranked frame,
    // not `scored` — the latter re-derived the whole bigram-importance
    // pipeline (explode + two aggs + λ join) a second time for two
    // integers (count is identical on both frames by construction).
    val tot = ranked.agg(count(lit(1)).as("n"),
      expr(s"($selectNum * count(1) + ${selectDen - 1}) DIV $selectDen")
        .as("k"))
    ranked.crossJoin(broadcast(tot))
      .groupBy(col("source"), col("n"), col("k"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rk") <= col("k"), 1L).otherwise(0L)).as("n_selected"))
      .select(col("source"), col("n_docs"), col("n_selected"),
        expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 DIV n AS BIGINT)")
          .as("share_before_ppm"),
        expr("""CASE WHEN k = 0 THEN CAST(0 AS BIGINT)
               |  ELSE CAST(CAST(n_selected AS DECIMAL(38,0)) * 1000000
               |    DIV k AS BIGINT) END""".stripMargin).as("share_after_ppm"),
        expr("""CASE WHEN k = 0 THEN CAST(0 AS BIGINT)
               |  ELSE CAST(CAST(n_selected AS DECIMAL(38,0)) * n * 1000000
               |    DIV (CAST(n_docs AS DECIMAL(38,0)) * k) AS BIGINT) END"""
          .stripMargin).as("boost_ppm"))
      .orderBy(col("source"))
  }

  val curationSelectSql: String =
    s"""WITH $importanceCtes,
       |scored AS (
       |  SELECT d.doc_id, d.source,
       |    coalesce(sc.s, CAST(0 AS DECIMAL(28,9))) AS score_d
       |  FROM documents d LEFT JOIN sc USING (doc_id)),
       |rk AS (
       |  SELECT *, row_number() OVER (ORDER BY score_d DESC, doc_id) AS rk
       |  FROM scored),
       |seltot AS (
       |  SELECT count(*) AS n,
       |    ($selectNum * count(*) + ${selectDen - 1}) // $selectDen AS k
       |  FROM scored)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN rk.rk <= seltot.k THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_selected,
       |  CAST(CAST(count(*) AS HUGEINT) * 1000000 // seltot.n AS BIGINT)
       |    AS share_before_ppm,
       |  CASE WHEN seltot.k = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(CAST(sum(CASE WHEN rk.rk <= seltot.k THEN 1 ELSE 0 END)
       |      AS HUGEINT) * 1000000 // seltot.k AS BIGINT) END AS share_after_ppm,
       |  CASE WHEN seltot.k = 0 THEN CAST(0 AS BIGINT)
       |    ELSE CAST(CAST(sum(CASE WHEN rk.rk <= seltot.k THEN 1 ELSE 0 END)
       |      AS HUGEINT) * seltot.n * 1000000
       |      // (CAST(count(*) AS HUGEINT) * seltot.k) AS BIGINT) END
       |    AS boost_ppm
       |FROM rk, seltot
       |GROUP BY source, seltot.n, seltot.k
       |ORDER BY source""".stripMargin
}
