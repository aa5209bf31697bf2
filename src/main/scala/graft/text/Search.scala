package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables

/** Full-text relevance scoring over the corpus — the retrieval surface
  * of a training-data/search pipeline:
  *
  *  - `search_bm25`: Okapi BM25 (k1 = 1.2, b = 0.75, Lucene's
  *    always-positive idf) for a fixed query-term set, top-20 documents.
  *  - `text_keywords_tfidf`: per-document top-3 keywords by tf-idf —
  *    the cheap per-doc topic signature.
  *
  * Cross-engine determinism: ln() can differ in the last ulp between
  * engines, so every idf is quantized through DECIMAL(18,9) at the
  * definition site; BM25 per-term contributions are re-quantized before
  * the per-doc sum (decimal sums are exact and order-independent — a raw
  * double sum over a shuffled aggregation would not be), and ranking
  * happens on the exact decimal. The BM25 tf-saturation fraction is a
  * pure rational of exactly-agreed ints evaluated with the identical
  * literal sequence on both engines.
  *
  * Scale shape: tf filters to the query terms BEFORE any shuffle (the
  * scored side is |query| rows per matching doc); df/avgdl are one
  * vocabulary aggregation; the per-doc window in tf-idf partitions by
  * doc_id. The df join stays a shuffle join (vocabulary is
  * corpus-sized); the corpus-stats row is a 1-row broadcast.
  */
object Search {

  val queryTerms = Seq("spark", "join", "fast")
  val topN = 20

  private def toks(spark: SparkSession, dir: String): DataFrame =
    // doc_id key: the per-doc rollups downstream reuse the exchange
    Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), explode(expr(
        "filter(split(text, ' '), t -> t <> '')")).as("token"))

  /** BM25 top-20 for the fixed query-term set. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(spark, dir)
    val docLen = t.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    // corpus stats: one row, broadcast
    val stats = docLen.agg(count(lit(1)).cast(DoubleType).as("n_docs"),
      (sum(col("dl")).cast(DoubleType) / count(lit(1))).as("avgdl"))
    val qt = t.filter(col("token").isin(queryTerms: _*))
    val tf = qt.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = qt.select(col("doc_id"), col("token")).distinct()
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(df, "token")
      .join(docLen, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        // idf quantized at the definition site; the saturation fraction
        // uses the identical literal sequence as the SQL oracle
        (log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
          .cast(DecimalType(18, 9)).cast(DoubleType) *
          (col("tf").cast(DoubleType) * 2.2 /
            (col("tf").cast(DoubleType) +
              lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast(DoubleType) / col("avgdl")))))
          .cast(DecimalType(18, 9)).as("contrib"))
    contrib.groupBy(col("doc_id"))
      .agg(sum(col("contrib")).as("score_q"), count(lit(1)).as("n_terms"))
      .select(col("doc_id"), col("score_q").cast(DoubleType).as("score"),
        col("n_terms"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topN)
  }

  /** Shared CTE chain deriving the BM25 top-N — bm25's oracle AND the
    * lexical leg of search_hybrid_rrf's, so the two cannot drift (the
    * knnGraphCtes shared-derivation discipline). */
  private lazy val bm25Ctes: String = {
    val terms = queryTerms.map(t => s"'$t'").mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
       |  FROM documents),
       |doc_len AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
       |  FROM doc_len),
       |qt AS (SELECT doc_id, token FROM toks WHERE token IN ($terms)),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM qt GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM qt) GROUP BY token),
       |contrib AS (
       |  SELECT t.doc_id,
       |    CAST(CAST(CAST(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0) AS DECIMAL(18,9)) AS DOUBLE) *
       |      (CAST(t.tf AS DOUBLE) * 2.2 /
       |        (CAST(t.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE) / s.avgdl)))
       |      AS DECIMAL(18,9)) AS contrib
       |  FROM tf t JOIN df f USING (token) JOIN doc_len l USING (doc_id), stats s),
       |bm25_top AS (
       |  SELECT doc_id, CAST(sum(contrib) AS DOUBLE) AS score,
       |    CAST(count(*) AS BIGINT) AS n_terms
       |  FROM contrib GROUP BY doc_id
       |  ORDER BY score DESC, doc_id LIMIT $topN)""".stripMargin
  }

  val bm25Sql: String =
    s"""WITH $bm25Ctes
       |SELECT doc_id, score, n_terms FROM bm25_top
       |ORDER BY score DESC, doc_id""".stripMargin

  /** Per-doc top-3 keywords by tf-idf (idf = ln(N/df), quantized). */
  def keywordsTfidf(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(spark, dir)
    val tf = t.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).cast(DoubleType).as("n_docs"))
    val scored = tf.join(df, "token").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"), col("tf"),
        // tf (exact int) * decimal idf: exact decimal score, ranked as
        // such. tf is cast to DECIMAL(10,0) first — long * decimal(18,9)
        // would need precision 39 and Spark silently trades scale for it
        // (rounds to 7-8 decimals), diverging from DuckDB's exact product
        (col("tf").cast(DecimalType(10, 0)) *
          log(col("n_docs") / col("df")).cast(DecimalType(18, 9)))
          .as("score_q"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_q").desc, col("token"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"),
        col("score_q").cast(DoubleType).as("tfidf"))
      .orderBy(col("doc_id"), col("rk"))
  }

  val keywordsTfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      |  FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
      |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, token, tf,
      |    tf * CAST(ln(n.n_docs / f.df) AS DECIMAL(18,9)) AS score_q
      |  FROM tf JOIN df f USING (token), n),
      |ranked AS (
      |  SELECT doc_id, token, tf, score_q,
      |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, token) AS INTEGER) AS rk
      |  FROM scored)
      |SELECT doc_id, rk, token, CAST(tf AS BIGINT) AS tf,
      |  CAST(score_q AS DOUBLE) AS tfidf
      |FROM ranked WHERE rk <= 3
      |ORDER BY doc_id, rk""".stripMargin

  val phrases = Seq("table value", "fast spark")
  val phraseTopN = 20

  /** SQL string-literal escape for a phrase constant — phrases are
    * interpolated into BOTH the Spark expr string and the DuckDB VALUES
    * list, so a future phrase containing a quote must render as a legal
    * literal in each (ADVICE r5: '$p' raw interpolation broke both
    * plans at parse time on the first quoted phrase).
    */
  private def sqlLit(p: String): String = "'" + p.replace("'", "''") + "'"

  /** Exact-PHRASE retrieval — BM25's other half (bags of words can't
    * answer "this exact sequence"): per fixed phrase, the top-20 docs
    * by occurrence count. Occurrences via the replace-and-measure
    * identity (len(text) − len(replace(text, p, ''))) / len(p) — pure
    * integer in-row work, no tokenization, identical both engines.
    *
    * Ranking reuses the bounded TopKAgg aggregator keyed by phrase —
    * k rows per (phrase × partition) ride the shuffle instead of every
    * matching doc sorting through a per-phrase window partition (with
    * |phrases| partitions that window would be the single-partition
    * anti-shape at corpus scale).
    */
  def searchPhrase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TopKAgg
    val occStructs = phrases.zipWithIndex.map { case (p, i) =>
      struct(lit(i).cast("long").as("pid"),
        expr(s"CAST((length(text) - length(replace(text, ${sqlLit(p)}, ''))) DIV ${p.length} AS BIGINT)")
          .as("n_occ"))
    }
    val agg = new TopKAgg.TopK(phraseTopN)
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array(occStructs: _*)).as("o"))
      .filter(col("o.n_occ") >= 1)
      .select(col("o.pid"), col("o.n_occ").cast("double").as("v"), col("doc_id"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(agg.toColumn)
      .flatMap { (pair: (Long, Seq[TopKAgg.Entry])) =>
        pair._2.zipWithIndex.map { case ((v, id), i) =>
          (phrases(pair._1.toInt), i + 1, id, v.toLong)
        }
      }
      .toDF("phrase", "rank", "doc_id", "n_occ")
      .orderBy(col("phrase"), col("rank"))
  }

  val searchPhraseSql: String = {
    val values = phrases.map(p => s"(${sqlLit(p)})").mkString(", ")
    s"""WITH occ AS (
       |  SELECT doc_id, p.phrase,
       |    (length(text) - length(replace(text, p.phrase, ''))) // length(p.phrase) AS n_occ
       |  FROM documents, (VALUES $values) p(phrase))
       |SELECT phrase, CAST(rn AS INTEGER) AS rank, doc_id, CAST(n_occ AS BIGINT) AS n_occ
       |FROM (
       |  SELECT phrase, doc_id, n_occ,
       |    row_number() OVER (PARTITION BY phrase ORDER BY n_occ DESC, doc_id) AS rn
       |  FROM occ WHERE n_occ >= 1)
       |WHERE rn <= $phraseTopN
       |ORDER BY phrase, rank""".stripMargin
  }

  // --------------------------------------------------------- hybrid RRF
  //
  // Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of the LEXICAL
  // ranking (the BM25 top-20 above) with a SEMANTIC ranking (exact
  // cosine top-20 against a fixed query embedding) — the fusion step
  // every hybrid retrieval stack (RAG, search re-ranking) runs between
  // its two indexes. RRF score = Σ_legs 1/(k + rank), k = 60; here in
  // EXACT INTEGER parts-per-billion (1e9 DIV (60 + rank)) so the fused
  // score has no float seam and ties are impossible between distinct
  // contribution sets. A document missing from one leg contributes 0
  // from that leg (the standard convention).
  //
  // Scale shape: each leg is already a bounded top-N (BM25's aggregation
  // and the ANN probe both end in ≤ N rows); ranks over those N-row
  // frames use GlobalRank (never an empty-partitionBy window — the
  // class-guard discipline, and at production N the leg frames can be
  // fleet-sized); the fusion itself is an N-row full outer join. The
  // semantic leg broadcasts its 1-row query; swap the brute-force scorer
  // for any ANN probe (annLsh/annIvf/annPq) without touching the fusion.

  val rrfK = 60
  val hybridQueryVec = 0L // vec_id whose embedding is the semantic query

  def searchHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.GlobalRank
    val lex = GlobalRank.withGlobalRank(
      bm25(spark, dir).select(col("doc_id"), col("score").as("bm25_score")),
      "lex_rank", col("bm25_score").desc, col("doc_id"))
    val vecs = Tables.embeddings(spark, dir).select(
        col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm",
        sqrt(graft.functions.VectorOps.dot_product(col("v"), col("v"))))
    val qv = vecs.filter(col("vec_id") === hybridQueryVec)
      .select(col("v").as("v_q"), col("nrm").as("nrm_q"))
    val semTop = vecs.filter(col("vec_id") =!= hybridQueryVec)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.VectorOps.dot_product(col("v_q"), col("v"))
          .divide(col("nrm_q") * col("nrm")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(topN)
    val sem = GlobalRank.withGlobalRank(semTop, "sem_rank",
      col("cosine").desc, col("doc_id"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        col("lex_rank").cast("int").as("lex_rank"),
        col("sem_rank").cast("int").as("sem_rank"),
        col("bm25_score"), col("cosine"),
        expr(s"""CAST(coalesce(1000000000 DIV ($rrfK + lex_rank), 0) +
                |  coalesce(1000000000 DIV ($rrfK + sem_rank), 0) AS BIGINT)""".stripMargin)
          .as("rrf_ppb"))
      .orderBy(col("rrf_ppb").desc, col("doc_id"))
  }

  val searchHybridRrfSql: String =
    s"""WITH $bm25Ctes,
       |ev AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
       |  FROM embeddings),
       |qv AS (SELECT v AS v_q, nrm AS nrm_q FROM ev WHERE vec_id = $hybridQueryVec),
       |sem_top AS (
       |  SELECT vec_id AS doc_id,
       |    round(list_dot_product(q.v_q, c.v) / (q.nrm_q * c.nrm), 6) AS cosine
       |  FROM ev c, qv q WHERE c.vec_id <> $hybridQueryVec
       |  ORDER BY cosine DESC, doc_id LIMIT $topN),
       |lex AS (
       |  SELECT doc_id, score AS bm25_score,
       |    row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
       |  FROM bm25_top),
       |sem AS (
       |  SELECT doc_id, cosine,
       |    row_number() OVER (ORDER BY cosine DESC, doc_id) AS sem_rank
       |  FROM sem_top)
       |SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
       |  CAST(l.lex_rank AS INTEGER) AS lex_rank,
       |  CAST(s.sem_rank AS INTEGER) AS sem_rank,
       |  l.bm25_score, s.cosine,
       |  CAST(coalesce(1000000000 // ($rrfK + l.lex_rank), 0) +
       |    coalesce(1000000000 // ($rrfK + s.sem_rank), 0) AS BIGINT) AS rrf_ppb
       |FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
       |ORDER BY rrf_ppb DESC, doc_id""".stripMargin

  /** Sparse tf-idf cosine k-NN — the SPARSE similarity modality the
    * dense-embedding family (dedup_embedding, sim_*) doesn't cover:
    * for each query document (doc_id < 20 — the annIvf query
    * convention), the top-10 most similar corpus documents by cosine
    * over tf-idf term vectors — encoder-free lexical retrieval through
    * the inverted index. The dot product needs only SHARED terms, so
    * the token-keyed join computes the COMPLETE dot directly: no
    * candidate set, no recall loss. (The all-pairs variant is
    * deliberately absent: on a Zipf-truncated vocabulary every pair
    * shares hot terms and any blocking is either lossy or quadratic —
    * retrieval-per-query is the shape that scales, with per-query cost
    * = Σ df over the query's terms; `sparseDfCap` below IS the standard
    * stopword/impact pruning that caps hot-term posting lists.)
    *
    * Determinism: weights quantize tf·idf through the keywordsTfidf
    * decimal device (ln → DECIMAL(18,9); the product keeps all 9 decimals
    * — the (18,9) recast is LOSSLESS, so no second rounding exists); dot
    * products and norms are DECIMAL(38,12) sums — exact and
    * order-independent, never a raw double sum across a shuffle. The
    * emitted score is the SQUARED cosine in exact integer ppm:
    * cos² = dot²/(‖q‖²·‖n‖²) needs no sqrt, so the whole score is
    * integer arithmetic over floor-quantized exact decimals
    * (HUGEINT/DECIMAL(38) intermediates) — a round(double, 6) edge was
    * measured to FLIP at a half-boundary here (DuckDB rounds doubles in
    * float space, Spark through BigDecimal; the 6-decimal weights make
    * boundary hits likely), and an integer rational has no boundary to
    * disagree on. Monotone in cosine (all weights ≥ 0), so ranks are
    * cross-engine exact with the neighbor-id tiebreak.
    *
    * Scale shape: one tokenize pass; the checkpointed weight frame
    * feeds norms, the (tiny, broadcast) query side, and the corpus side
    * of the token join; the per-query top-10 rides the bounded rank
    * window (partial WindowGroupLimit before the exchange — the
    * annIvf/hamming shape).
    */
  val sparseQueryDocs = 20
  val sparseTopK = 10

  /** Hot-term posting-list cap — the super-node guard this join needs at
    * 100 TB (the overlapDegCap device, GraphOps.scala): the token-keyed
    * dot-product join fans out by posting-list length, so ONE stopword
    * shared with a query makes the join row count ≈ that term's df ×
    * queries. Terms with df above the cap are dropped from the tf-idf
    * vectors entirely (op AND oracle identically, so the gate proves the
    * capped semantics) — standard stopword pruning, and near-zero signal
    * loss since idf = ln(N/df) ≈ 0 for such terms anyway. A no-op at
    * every test SF (sf0.1 has ~60k docs, so no df can reach the cap);
    * at 100 TB it bounds per-query join cost to Σ min(df, cap).
    */
  val sparseDfCap = 1000000L

  def sparseCosine(spark: SparkSession, dir: String): DataFrame = {
    val t = toks(spark, dir)
    val tf = t.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfF = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= sparseDfCap)
    val nDocs = Tables.documents(spark, dir)
      .agg(count(lit(1)).cast(DoubleType).as("n_docs"))
    val wts = tf.join(dfF, "token").crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        (col("tf").cast(DecimalType(10, 0)) *
          log(col("n_docs") / col("df")).cast(DecimalType(18, 9)))
          .cast(DecimalType(18, 9)).as("w"))
      .localCheckpoint()
    val norms = wts.groupBy(col("doc_id"))
      .agg(sum((col("w") * col("w")).cast(DecimalType(38, 18))).as("n2"))
    val q = wts.filter(col("doc_id") < sparseQueryDocs)
      .select(col("doc_id").as("query_id"), col("token"), col("w").as("wq"))
    val dots = wts
      .select(col("doc_id").as("neighbor_id"), col("token"), col("w").as("wn"))
      .join(broadcast(q), "token")
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum((col("wq") * col("wn")).cast(DecimalType(38, 18))).as("dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos2_ppm").desc, col("neighbor_id"))
    // exact integer rational: e3-quantized dot and norms, then
    // (dot_e3² · 1e6) DIV (nq_e3 · nn_e3) in DECIMAL(38,0) — values
    // bounded by (Σw)² · 1e6 ≪ 1e38, and DIV is the house
    // IntegralDivide device (returns BIGINT)
    val dotE3 = floor(col("dot") * 1000).cast(DecimalType(20, 0))
    val nqE3 = floor(col("n2q") * 1000).cast(DecimalType(20, 0))
    val nnE3 = floor(col("n2n") * 1000).cast(DecimalType(20, 0))
    dots
      .join(norms.select(col("doc_id").as("query_id"),
        col("n2").as("n2q")), "query_id")
      .join(norms.select(col("doc_id").as("neighbor_id"),
        col("n2").as("n2n")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        dotE3.as("d3"), nqE3.as("q3"), nnE3.as("n3"))
      .select(col("query_id"), col("neighbor_id"),
        expr("CAST((d3 * d3 * 1000000) DIV (q3 * n3) AS BIGINT)")
          .as("cos2_ppm"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= sparseTopK)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("cos2_ppm"))
      .orderBy(col("query_id"), col("rank"))
  }

  val sparseCosineSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
       |    t -> t <> '')) AS token
       |  FROM documents),
       |tf AS (SELECT doc_id, token, count(*) AS tf
       |       FROM toks GROUP BY doc_id, token),
       |df AS (SELECT token, count(*) AS df FROM tf GROUP BY token
       |       HAVING count(*) <= $sparseDfCap),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
       |wts AS (
       |  SELECT doc_id, token,
       |    CAST(tf * CAST(ln(n.n_docs / f.df) AS DECIMAL(18,9))
       |      AS DECIMAL(18,9)) AS w
       |  FROM tf JOIN df f USING (token), n),
       |norms AS (
       |  SELECT doc_id, sum(CAST(w * w AS DECIMAL(38,18))) AS n2
       |  FROM wts GROUP BY doc_id),
       |dots AS (
       |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
       |    sum(CAST(q.w * c.w AS DECIMAL(38,18))) AS dot
       |  FROM wts q
       |  JOIN wts c ON c.token = q.token AND c.doc_id <> q.doc_id
       |  WHERE q.doc_id < $sparseQueryDocs
       |  GROUP BY q.doc_id, c.doc_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    CAST((CAST(floor(dot * 1000) AS HUGEINT)
       |          * CAST(floor(dot * 1000) AS HUGEINT) * 1000000)
       |      // (CAST(floor(nq.n2 * 1000) AS HUGEINT)
       |          * CAST(floor(nn.n2 * 1000) AS HUGEINT)) AS BIGINT)
       |      AS cos2_ppm
       |  FROM dots
       |  JOIN norms nq ON nq.doc_id = query_id
       |  JOIN norms nn ON nn.doc_id = neighbor_id)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cos2_ppm
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos2_ppm DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= $sparseTopK
       |ORDER BY query_id, rank""".stripMargin
}
