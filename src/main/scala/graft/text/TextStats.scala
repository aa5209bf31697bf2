package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.Tables

/** Text-analysis operators for the training-data pipeline (SURVEY §2C):
  * token counting, stopword-vote language ID, heuristic quality scoring,
  * and min-shingle document fingerprinting.
  *
  * All operators are expression-only per-document maps (whole-stage
  * codegen'd, zero shuffle) followed by at most one aggregation — the
  * shape that scales linearly with corpus size. Language ID does one
  * explode + broadcast join + two aggregations; at 100 TB the stopword
  * table is trivially broadcast and the per-doc vote state is tiny.
  */
object TextStats {

  /** BPE-ish tokenizer regex: letter runs, digit runs, single punctuation. */
  val bpeRegex = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

  /** Whitespace + regex token counts per doc, rolled up per language. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).as("ws"),
        size(expr(s"regexp_extract_all(text, '$bpeRegex', 0)")).as("bpe"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        (sum(col("ws")).cast(DoubleType) / count(lit(1))).as("avg_ws_tokens"))
      .orderBy(col("lang"))
  }

  val tokenCountSql: String =
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       |  CAST(sum(len(regexp_extract_all(text, '$bpeRegex'))) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avg_ws_tokens
       |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Tiny per-language stopword lists for the n-gram/stopword-vote
    * language-ID heuristic. Real deployments would swap in full lists; the
    * mechanism (broadcast lexicon join + per-doc argmax) is the point.
    */
  val stopwords: Seq[(String, String)] = Seq(
    "en" -> Seq("the", "a", "of", "to", "and", "in", "is", "it", "that", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "es", "un", "una"),
    "fr" -> Seq("le", "les", "des", "et", "est", "une", "dans", "pour"),
    "zh" -> Seq("de0", "shi0", "le0", "zai0", "he0")
  ).flatMap { case (l, ws) => ws.map(w => (l, w)) }

  /** Stopword-vote language ID; output is the confusion matrix
    * (actual lang × predicted lang → doc count). Ties break to the
    * alphabetically first language; zero votes → 'und'.
    */
  /** Per-doc predicted language (stopword majority vote) — langId's
    * core AND quality_lang_mismatch's, factored so the confusion matrix
    * and the mismatch gate score the identical predictions. */
  private[text] def langPred(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sw = spark.createDataFrame(stopwords).toDF("sw_lang", "word")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val votes = toks.join(broadcast(sw), "word")
      .groupBy(col("doc_id"), col("sw_lang"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("votes").desc, col("sw_lang"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("sw_lang").as("pred"))
  }

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pred = langPred(spark, dir)
    docs.select(col("doc_id"), col("lang"))
      .join(pred, Seq("doc_id"), "left")
      .select(col("lang"), coalesce(col("pred"), lit("und")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("lang_pred"))
  }

  /** Shared CTE chain deriving the per-doc prediction (`pred`) —
    * langIdSql's base AND qualityLangMismatchSql's. */
  private lazy val langPredCtes: String = {
    val values = stopwords.map { case (l, w) => s"('$l', '$w')" }.mkString(", ")
    s"""sw(sw_lang, word) AS (VALUES $values),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |votes AS (
       |  SELECT t.doc_id, s.sw_lang, count(*) AS votes
       |  FROM toks t JOIN sw s ON t.word = s.word
       |  GROUP BY t.doc_id, s.sw_lang),
       |pred AS (
       |  SELECT doc_id, sw_lang AS pred FROM votes
       |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY votes DESC, sw_lang) = 1)""".stripMargin
  }

  lazy val langIdSql: String =
    s"""WITH $langPredCtes
       |SELECT d.lang, coalesce(p.pred, 'und') AS lang_pred, count(*) AS n_docs
       |FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
       |GROUP BY d.lang, coalesce(p.pred, 'und')
       |ORDER BY lang, lang_pred""".stripMargin

  /** Declared-vs-detected language QA per source (r7) — the metadata
    * trust check a multi-source pipeline runs before believing a feed's
    * own `lang` tags (a crawler mislabeling a feed poisons every
    * lang-filtered mix downstream): per source, docs whose stopword-vote
    * prediction disagrees with the declared tag (undetectable docs
    * count as mismatches — honest denominator, the knnClassify
    * convention), in exact ppm. Shares langPred verbatim with the
    * confusion matrix.
    */
  def qualityLangMismatch(spark: SparkSession, dir: String): DataFrame = {
    val pred = langPred(spark, dir)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"))
      .join(pred, Seq("doc_id"), "left")
      .select(col("source"),
        (coalesce(col("pred"), lit("und")) =!= col("lang")).as("mismatch"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("mismatch"), 1L).otherwise(0L)).as("n_mismatch"))
      .select(col("source"), col("n_docs"), col("n_mismatch"),
        expr("CAST(n_mismatch * 1000000 DIV n_docs AS BIGINT)").as("mismatch_ppm"))
      .orderBy(col("source"))
  }

  lazy val qualityLangMismatchSql: String =
    s"""WITH $langPredCtes
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(CASE WHEN coalesce(p.pred, 'und') <> d.lang THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_mismatch,
       |  CAST((CAST(sum(CASE WHEN coalesce(p.pred, 'und') <> d.lang THEN 1 ELSE 0 END)
       |    AS HUGEINT) * 1000000) // count(*) AS BIGINT) AS mismatch_ppm
       |FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** Heuristic per-doc quality score: token-count saturation, lexical
    * diversity, punctuation ratio — the classic cheap pre-filters for
    * LLM training corpora.
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScoreCore(spark, dir).orderBy(col("doc_id"))

  /** Unordered per-doc quality map — composable by downstream operators
    * (Curation.keepBest) without inheriting a pointless global sort.
    */
  private[text] def qualityScoreCore(spark: SparkSession, dir: String): DataFrame = {
    val punct = ".,!?;:()"
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).as("n_distinct_tokens"),
        (length(col("text")) - length(translate(col("text"), punct, ""))).as("n_punct"),
        length(col("text")).as("n_chars"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        (col("n_distinct_tokens").cast(DoubleType) / col("n_tokens")).as("diversity"),
        // zero guard: empty text would be NULL in Spark but NaN in DuckDB
        when(col("n_chars") === 0, lit(0.0))
          .otherwise(col("n_punct").cast(DoubleType) / col("n_chars")).as("punct_ratio"),
        (col("n_chars") < 100).as("is_short"))
      .withColumn("quality_score",
        least(col("n_tokens").cast(DoubleType) / 100.0, lit(1.0)) * 0.3 +
          col("diversity") * 0.5 + (lit(1.0) - col("punct_ratio")) * 0.2)
  }

  /** Un-ordered oracle body, composable as a subquery (paired with
    * qualityScoreCore exactly as qualityScoreSql pairs with qualityScore).
    */
  private[text] val qualityScoreBodySql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct_tokens,
      |    length(text) - length(translate(text, '.,!?;:()', '')) AS n_punct,
      |    length(text) AS n_chars
      |  FROM documents)
      |SELECT doc_id, n_tokens, n_distinct_tokens,
      |  CAST(n_distinct_tokens AS DOUBLE) / n_tokens AS diversity,
      |  CASE WHEN n_chars = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(n_punct AS DOUBLE) / n_chars END AS punct_ratio,
      |  n_chars < 100 AS is_short,
      |  least(CAST(n_tokens AS DOUBLE) / 100.0, CAST(1 AS DOUBLE)) * 0.3
      |    + (CAST(n_distinct_tokens AS DOUBLE) / n_tokens) * 0.5
      |    + (CAST(1 AS DOUBLE) - CASE WHEN n_chars = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(n_punct AS DOUBLE) / n_chars END) * 0.2 AS quality_score
      |FROM b""".stripMargin

  val qualityScoreSql: String = qualityScoreBodySql + " ORDER BY doc_id"

  /** Top-20 vocabulary tokens by document frequency (ties broken
    * alphabetically) — corpus vocabulary statistics.
    */
  def topTokens(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(explode(array_distinct(split(col("text"), " "))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("token"))
      .limit(20)
  }

  val topTokensSql: String =
    """SELECT token, count(*) AS doc_freq FROM (
      |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      |  FROM documents)
      |GROUP BY token ORDER BY doc_freq DESC, token LIMIT 20""".stripMargin

  /** Bigram collocations by lift = P(ab) / (P(a)·P(b)) over adjacent token
    * pairs (doc-frequency based). Lift instead of PMI keeps the score a
    * pure rational of exact counts — no transcendental functions whose
    * last-ulp behavior could differ between engines. Top 20 with
    * count >= 5, deterministic tiebreak.
    */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val bigrams = toks
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), expr(
        """explode(array_distinct(transform(sequence(1, size(toks) - 1),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))))""".stripMargin)
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_ab"))
      .withColumn("tok_a", split(col("bigram"), " ").getItem(0))
      .withColumn("tok_b", split(col("bigram"), " ").getItem(1))
    val uni = Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    // corpus size joined in as a 1-row broadcast, not a driver-side count()
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    // vocabulary joins are shuffle joins on the token: the vocabulary is
    // corpus-sized (grows with the data), so a broadcast hint would OOM at
    // scale. The c_ab >= 5 support filter runs BEFORE the joins to shrink
    // the bigram side first. nDocs stays broadcast — it is one row.
    bigrams
      .filter(col("c_ab") >= 5)
      .join(uni.select(col("token").as("tok_a"), col("c").as("c_a")), "tok_a")
      .join(uni.select(col("token").as("tok_b"), col("c").as("c_b")), "tok_b")
      .crossJoin(broadcast(nDocs))
      .select(col("bigram"), col("c_ab"), col("c_a"), col("c_b"),
        (col("c_ab").cast("double") * col("n_docs") / col("c_a") / col("c_b")).as("lift"))
      .orderBy(col("lift").desc, col("bigram"))
      .limit(20)
  }

  val collocationsSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |bi AS (
      |  SELECT bigram, count(*) AS c_ab,
      |    string_split(bigram, ' ')[1] AS tok_a, string_split(bigram, ' ')[2] AS tok_b
      |  FROM (
      |    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t)),
      |      i -> t[i] || ' ' || t[i+1]))) AS bigram
      |    FROM toks WHERE len(t) >= 2)
      |  GROUP BY bigram),
      |uni AS (
      |  SELECT token, count(*) AS c FROM (
      |    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token FROM documents)
      |  GROUP BY token),
      |n AS (SELECT count(*) AS n_docs FROM documents)
      |SELECT bigram, c_ab, a.c AS c_a, b.c AS c_b,
      |  CAST(c_ab AS DOUBLE) * n_docs / a.c / b.c AS lift
      |FROM bi JOIN uni a ON bi.tok_a = a.token
      |        JOIN uni b ON bi.tok_b = b.token, n
      |WHERE c_ab >= 5
      |ORDER BY lift DESC, bigram LIMIT 20""".stripMargin

  /** Min-shingle fingerprint: the minimum md5 over all character 5-gram
    * shingles (a 1-permutation MinHash — the winnowing-style rolling
    * fingerprint), computed per row by the native
    * `graft.functions.MinShingleMd5` kernel. Texts under 5 characters
    * have no 5-gram and get NULL, as the oracle's empty `list_min` does.
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.TextOps.min_shingle_md5(col("text"), 5).as("fingerprint"))
      .orderBy(col("doc_id"))
  }

  val fingerprintSql: String =
    """SELECT doc_id,
      |  list_min(list_transform(range(1, length(text) - 3), i -> md5(substr(text, i, 5)))) AS fingerprint
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus report card — the training-mix curation rollup: per
    * (source, lang) cell, document and token counts, the exact-duplicate
    * rate (docs whose RAW-text md5 appears more than once, minus one
    * canonical per group — Dedup.exact semantics; near-dup rates come
    * from the dedup family), and length statistics. This is the table
    * a data-mixture owner reads before weighting sources — composed from
    * the same fingerprint/token building blocks as the standalone ops,
    * in one scan + two keyed aggregations.
    */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).as("n_toks"),
        length(col("text")).as("n_chars"),
        md5(col("text")).as("fp"))
    // exact-dup flag: every doc beyond the min doc_id of its fingerprint
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val flagged = docs.withColumn("is_dup", col("doc_id") =!= min(col("doc_id")).over(w))
    flagged.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast("long")).as("total_tokens"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_docs"),
        (sum(when(col("is_dup"), 1L).otherwise(0L)).cast(DoubleType) /
          count(lit(1))).as("dup_rate"),
        (sum(col("n_chars").cast("long")).cast(DoubleType) / count(lit(1)))
          .as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("source"), col("lang"))
  }

  val corpusReportSql: String =
    """WITH d AS (
      |  SELECT doc_id, source, lang,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks,
      |    CAST(length(text) AS INTEGER) AS n_chars, md5(text) AS fp
      |  FROM documents),
      |f AS (
      |  SELECT *, doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup FROM d)
      |SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
      |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_rate,
      |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM f GROUP BY source, lang
      |ORDER BY source, lang""".stripMargin

  /** Unigram language-model quality scoring (the CCNet-style importance
    * filter): train a unigram LM from the corpus itself (token relative
    * frequencies), then score each document with its average per-token
    * negative log-likelihood. Low avg_nll = common, fluent tokens;
    * high = rare/garbage tokens — the classic cheap quality signal for
    * pretraining-data filtering (a real deployment swaps in a KenLM-style
    * n-gram model; the pipeline shape is identical).
    *
    * Cross-engine parity: ln() may differ by an ulp between engines, so
    * each token's log-prob is quantized through DECIMAL(18,9) BEFORE the
    * per-doc sum — decimal sums are exact and order-independent, which
    * also makes the result partition-layout-invariant (a raw double sum
    * over a shuffled groupBy would not be). The decimal->double output
    * conversion stays far below the 2^53 unscaled divergence bound.
    *
    * Scale shape: one explode, one vocabulary aggregation, one shuffle
    * join on token (the vocabulary is corpus-sized — never broadcast),
    * one per-doc aggregation. The corpus total is a 1-row broadcast.
    */
  /** Per-doc unigram NLL components (doc_id, n_tokens, sum_lp-decimal) —
    * unigramNll's scoring core AND text_nll_deciles' input, factored so
    * the two cannot drift (the bm25Ctes discipline). Docs with zero
    * tokens are absent (unigramNll left-joins them back). */
  /** The trained unigram log-prob table (token → DECIMAL(18,9) lpv) —
    * unigramScored's model, exposed for the streaming perplexity gate
    * (the static side of StreamOps.nllGate). */
  private[graft] def unigramLp(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val vocab = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum(col("c")).cast(DoubleType).as("total"))
    vocab.crossJoin(broadcast(total))
      .select(col("token"),
        log(col("c").cast(DoubleType) / col("total"))
          .cast(DecimalType(18, 9)).as("lpv"))
  }

  private[text] def unigramScored(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val lp = unigramLp(spark, dir)
    toks.join(lp, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lpv")).as("sum_lp"))
  }

  def unigramNll(spark: SparkSession, dir: String): DataFrame = {
    val scored = unigramScored(spark, dir)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        (-(col("sum_lp").cast(DoubleType) / col("n_tokens"))).as("avg_nll"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM quality scoring — the order-2 upgrade of unigramNll
    * (CCNet trains 5-gram KenLM models; the pipeline shape from order 2
    * up is identical, only the model table grows): train conditional
    * bigram probabilities p(w2|w1) = c(w1 w2)/c(w1 ·) from the corpus,
    * then score each document by its average bigram negative
    * log-likelihood. High avg_nll2 = improbable word SEQUENCES — catches
    * shuffled/garbled text that unigram frequencies cannot (every token
    * common, every transition rare).
    *
    * Parity + scale: bigrams are built with one in-row transform over
    * the token array (no positional self-join); log-probs quantized
    * through DECIMAL(18,9) before the per-doc sum (exact,
    * order-independent — the unigramNll device); the model table is
    * corpus-sized, joined by bigram key, never broadcast.
    */
  /** Per-doc bigram stream — bigramNll's derivation AND textKnBigram's,
    * factored so the two LMs score the identical events. */
  private[text] def docBigrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t <> '')").as("a"))
      .filter(size(col("a")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(a) - 1), i -> concat(a[i-1], ' ', a[i]))"))
        .as("bg"))

  def bigramNll(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bigrams = docBigrams(spark, dir)
    val model = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val w1Totals = model.groupBy(col("w1")).agg(sum(col("c_bg")).as("c_w1"))
    val lp = model.join(w1Totals, "w1")
      .select(col("bg"),
        log(col("c_bg").cast(DoubleType) / col("c_w1").cast(DoubleType))
          .cast(DecimalType(18, 9)).as("lpv"))
    val scored = bigrams.join(lp, "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpv")).as("sum_lp"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (-(col("sum_lp").cast(DoubleType) / col("n_bigrams"))).as("avg_nll2"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman's interpolated form with a fixed absolute discount
    * D = 0.75) — the smoothing every serious n-gram LM (KenLM, the
    * CCNet filter models) actually uses, where raw conditional
    * frequencies (bigramNll) over-trust rare continuations:
    *
    *   p_KN(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
    *               + (D · N1+(w1·)/c(w1·)) · N1+(·w2)/T
    *
    * with N1+(w1·) = distinct continuations of w1, N1+(·w2) = distinct
    * predecessors of w2 (the "how novel is this word as a
    * continuation" count that makes KN famous), T = distinct bigram
    * types. Scoring the training corpus means every event is in the
    * model, so the probability is a rational of exact integers and the
    * exact-binary D — evaluated with THE SAME operation order both
    * engines, then ln() quantized through DECIMAL(18,9) before the
    * per-doc sum (the bigramNll device).
    *
    * Scale shape: the model is three aggregations over the bigram
    * stream (pair counts; per-w1 totals + continuation fan-out off the
    * model table itself — model-sized, not corpus-sized; per-w2
    * predecessor counts likewise), one corpus-sized join back by bigram
    * key, one per-doc rollup. Same linear silhouette as bigramNll.
    */
  val knDiscount = 0.75

  def textKnBigram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val bigrams = docBigrams(spark, dir)
    val model = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
    val w1Stats = model.groupBy(col("w1"))
      .agg(sum(col("c_bg")).as("c_w1"), count(lit(1)).as("n1_fwd"))
    val w2Cont = model.groupBy(col("w2")).agg(count(lit(1)).as("n1_rev"))
    val types = model.agg(count(lit(1)).cast(DoubleType).as("t_types"))
    val lp = model.join(w1Stats, "w1").join(w2Cont, "w2")
      .crossJoin(broadcast(types))
      .select(col("bg"),
        log(greatest(col("c_bg").cast(DoubleType) - knDiscount, lit(0.0)) /
            col("c_w1").cast(DoubleType) +
          (lit(knDiscount) * col("n1_fwd").cast(DoubleType) /
            col("c_w1").cast(DoubleType)) *
          (col("n1_rev").cast(DoubleType) / col("t_types")))
          .cast(DecimalType(18, 9)).as("lpv"))
    val scored = bigrams.join(lp, "bg")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lpv")).as("sum_lp"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (-(col("sum_lp").cast(DoubleType) / col("n_bigrams"))).as("avg_nll_kn"))
      .orderBy(col("doc_id"))
  }

  val textKnBigramSql: String =
    s"""WITH docs2 AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS a
       |  FROM documents),
       |bg AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(a)),
       |    i -> a[i] || ' ' || a[i + 1])) AS bg
       |  FROM docs2 WHERE len(a) >= 2),
       |model AS (
       |  SELECT bg, count(*) AS c_bg,
       |    string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[-1] AS w2
       |  FROM bg GROUP BY bg),
       |w1s AS (SELECT w1, sum(c_bg) AS c_w1, count(*) AS n1_fwd
       |        FROM model GROUP BY w1),
       |w2c AS (SELECT w2, count(*) AS n1_rev FROM model GROUP BY w2),
       |tt AS (SELECT CAST(count(*) AS DOUBLE) AS t_types FROM model),
       |lp AS (
       |  SELECT m.bg,
       |    CAST(ln(
       |      greatest(CAST(m.c_bg AS DOUBLE) - $knDiscount, 0.0) / CAST(s.c_w1 AS DOUBLE) +
       |      ($knDiscount * CAST(s.n1_fwd AS DOUBLE) / CAST(s.c_w1 AS DOUBLE)) *
       |      (CAST(c.n1_rev AS DOUBLE) / t.t_types)) AS DECIMAL(18,9)) AS lpv
       |  FROM model m JOIN w1s s USING (w1) JOIN w2c c USING (w2), tt t),
       |sc AS (
       |  SELECT b.doc_id, count(*) AS n_bigrams, sum(l.lpv) AS sum_lp
       |  FROM bg b JOIN lp l USING (bg) GROUP BY b.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  -(CAST(sc.sum_lp AS DOUBLE) / sc.n_bigrams) AS avg_nll_kn
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val bigramNllSql: String =
    """WITH docs2 AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS a
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(a)),
      |    i -> a[i] || ' ' || a[i + 1])) AS bg
      |  FROM docs2 WHERE len(a) >= 2),
      |model AS (
      |  SELECT bg, count(*) AS c_bg, string_split(bg, ' ')[1] AS w1
      |  FROM bg GROUP BY bg),
      |w1t AS (SELECT w1, sum(c_bg) AS c_w1 FROM model GROUP BY w1),
      |lp AS (
      |  SELECT m.bg,
      |    CAST(ln(CAST(m.c_bg AS DOUBLE) / CAST(t.c_w1 AS DOUBLE)) AS DECIMAL(18,9)) AS lpv
      |  FROM model m JOIN w1t t USING (w1)),
      |sc AS (
      |  SELECT b.doc_id, count(*) AS n_bigrams, sum(l.lpv) AS sum_lp
      |  FROM bg b JOIN lp l USING (bg) GROUP BY b.doc_id)
      |SELECT d.doc_id,
      |  CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  -(CAST(sc.sum_lp AS DOUBLE) / sc.n_bigrams) AS avg_nll2
      |FROM documents d LEFT JOIN sc USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** BPE tokenizer-training building block — the pair-count step of one
    * merge iteration: frequencies of adjacent character pairs across the
    * corpus, weighted by word frequency. Runs over the DISTINCT word
    * vocabulary with counts (the classic BPE word-frequency-dict
    * optimization: the pair scan touches |vocab| strings, not the raw
    * corpus — at 100 TB the vocabulary aggregation is the only
    * corpus-sized shuffle, and the pair aggregation is alphabet²-sized).
    * The top pair is exactly the merge BPE would perform next; a full
    * trainer iterates this with the merged symbol re-injected.
    */
  def bpePairStats(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(explode(expr("filter(split(text, ' '), t -> t <> '')")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("wc"))
    words.filter(length(col("token")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("pair_count"))
      .select(substring(col("pair"), 1, 1).as("sym_a"),
        substring(col("pair"), 2, 1).as("sym_b"),
        col("pair_count"))
      .orderBy(col("pair_count").desc, col("sym_a"), col("sym_b"))
      .limit(20)
  }

  val bpePairStatsSql: String =
    """WITH words AS (
      |  SELECT token, count(*) AS wc FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      |    FROM documents)
      |  GROUP BY token),
      |pairs AS (
      |  SELECT wc, unnest(list_transform(range(1, length(token)),
      |    i -> substr(token, i, 2))) AS pair
      |  FROM words WHERE length(token) >= 2)
      |SELECT substr(pair, 1, 1) AS sym_a, substr(pair, 2, 1) AS sym_b,
      |  CAST(sum(wc) AS BIGINT) AS pair_count
      |FROM pairs GROUP BY pair
      |ORDER BY pair_count DESC, sym_a, sym_b LIMIT 20""".stripMargin

  /** Shared CTE chain for the per-doc unigram-NLL components — mirrors
    * unigramScored; base of unigramNllSql AND textNllDecilesSql. */
  private val nllCtes: String =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tf AS (SELECT token, count(*) AS c FROM toks WHERE token <> '' GROUP BY token),
      |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM tf),
      |lp AS (SELECT token, CAST(ln(CAST(c AS DOUBLE) / total) AS DECIMAL(18,9)) AS lpv FROM tf, tot),
      |sc AS (
      |  SELECT t.doc_id, count(*) AS n_tokens, sum(l.lpv) AS sum_lp
      |  FROM toks t JOIN lp l USING (token)
      |  WHERE t.token <> '' GROUP BY t.doc_id)""".stripMargin

  val unigramNllSql: String =
    s"""WITH $nllCtes
       |SELECT d.doc_id,
       |  CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  -(CAST(sc.sum_lp AS DOUBLE) / sc.n_tokens) AS avg_nll
       |FROM documents d LEFT JOIN sc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** Perplexity-bucket profile — CCNet's head/middle/tail device at
    * decile resolution: rank every scoreable document by its unigram
    * avg-NLL (low = fluent/common, high = improbable/garbled) and report
    * per-decile mass, so a curation run can pick its keep-band from
    * measured corpus statistics instead of a magic threshold. The
    * language-model column is the repo's unigram NLL (swap in bigramNll
    * or a KenLM score at production; the bucketing contract is
    * identical).
    *
    * Scale shape: ranking uses GlobalRank's range-exchange rank +
    * closed-form ntile (NEVER an empty-partitionBy window — the class
    * guard); the decile aggregation carries the EXACT decimal sum_lp, so
    * per-decile mean NLL has no float-accumulation seam (sum of
    * identical doubles would be order-dependent); ordering inside the
    * rank is (avg_nll double, doc_id) — both engines compute the same
    * division of exact operands, so the total order is engine-invariant.
    */
  def textNllDeciles(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = unigramScored(spark, dir)
      .withColumn("avg_nll",
        -(col("sum_lp").cast(DoubleType) / col("n_tokens")))
      .localCheckpoint()
    val n = perDoc.count()
    val ranked = graft.operators.GlobalRank
      .withGlobalRank(perDoc, "nll_rank", n, col("avg_nll"), col("doc_id"))
      .withColumn("decile", graft.operators.GlobalRank.ntileFromRank(10, n, "nll_rank"))
    ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tot_tokens"),
        (-(sum(col("sum_lp")).cast(DoubleType) / sum(col("n_tokens"))))
          .as("decile_avg_nll"),
        min(col("avg_nll")).as("min_nll"),
        max(col("avg_nll")).as("max_nll"))
      .orderBy(col("decile"))
  }

  val textNllDecilesSql: String =
    s"""WITH $nllCtes,
       |per_doc AS (
       |  SELECT doc_id, n_tokens, sum_lp,
       |    -(CAST(sum_lp AS DOUBLE) / n_tokens) AS avg_nll
       |  FROM sc),
       |deciled AS (
       |  SELECT n_tokens, sum_lp, avg_nll,
       |    CAST(ntile(10) OVER (ORDER BY avg_nll, doc_id) AS INTEGER) AS decile
       |  FROM per_doc)
       |SELECT decile, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
       |  -(CAST(sum(sum_lp) AS DOUBLE) / sum(n_tokens)) AS decile_avg_nll,
       |  min(avg_nll) AS min_nll, max(avg_nll) AS max_nll
       |FROM deciled GROUP BY decile ORDER BY decile""".stripMargin

  /** Flesch reading-ease readability per document — the classic
    * audience-level signal a curation pipeline buckets by (pair with
    * quality gates to target a difficulty band; grade-level mixes are a
    * standard dataset-curation axis). Syllables are the vowel-group
    * heuristic (regex [aeiouy]+ runs per word on the lowered text —
    * identical counts from one whole-text regexp pass); sentences are
    * terminal-punctuation runs clamped to ≥1.
    *
    * Zero shuffle: all three counts are in-row regexp/array column
    * work; the only exchange is the presentation sort. The score is
    * IEEE double over integer counts with identical operation order
    * both engines — bit-exact, emitted as DOUBLE (never CAST to int:
    * Spark truncates double→BIGINT, DuckDB rounds — a cross-engine
    * seam this family deliberately avoids).
    */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("size(filter(split(text, ' '), t -> t <> ''))").cast("long")
          .as("n_words"),
        greatest(expr("size(regexp_extract_all(text, '[.!?]+', 0))"), lit(1))
          .cast("long").as("n_sentences"),
        expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))")
          .cast("long").as("n_syllables"))
      .filter(col("n_words") >= 1)
      .withColumn("flesch",
        expr("""206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
               |        - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)""".stripMargin))
      .orderBy(col("doc_id"))
  }

  val readabilitySql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_words,
      |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
      |  FROM documents)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
      |          - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch
      |FROM c WHERE n_words >= 1 ORDER BY doc_id""".stripMargin

  /** Zipf-law fit per source — the rank-frequency power-law slope
    * (natural language sits near −1; machine-generated or templated
    * text drifts off it), the corpus-shape diagnostic next to
    * text_vocab_growth's Heaps curve. OLS of ln(freq) on ln(rank) over
    * the full per-source vocabulary.
    *
    * Cross-engine determinism: each ln term is quantized to INTEGER
    * micro-nats (round(ln·1e6) — ln ≥ 0 on both axes, so round() agrees
    * between engines) BEFORE any product or sum; products and
    * normal-equation terms ride DECIMAL(38,0)/HUGEINT (the
    * q_discount_elasticity widening), and the slope is reported as an
    * exact sign-split integral division in 1e-9 units — a big decimal
    * NEVER converts to double (decimal→double rounding above 2^53
    * differs between engines by an ulp; found at registration, hence
    * this all-integer contract).
    *
    * Scale shape: one (source, token) frequency aggregation (map-side
    * combined, vocabulary-bounded); the rank window partitions BY
    * SOURCE over the vocab-sized frequency table — never the corpus;
    * the fit is a per-source aggregate of sufficient statistics
    * (the q_discount_elasticity discipline). Output = |sources| rows.
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val freqs = Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(col("source"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("freq").desc, col("token"))
    val terms = freqs
      .withColumn("rk", row_number().over(w))
      .select(col("source"), col("freq"),
        expr("CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000) AS DECIMAL(38,0))").as("x"),
        expr("CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000) AS DECIMAL(38,0))").as("y"))
    terms.groupBy(col("source"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(col("freq")).as("n_tokens"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n").cast("long").as("n_types"), col("n_tokens"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
      .select(col("source"), col("n_types"), col("n_tokens"),
        expr("""CAST(CASE WHEN num < 0
               |  THEN -((-num) * 1000000000 DIV den)
               |  ELSE (num * 1000000000 DIV den) END AS BIGINT)""".stripMargin)
          .as("zipf_slope_e9"))
      .orderBy(col("source"))
  }

  val zipfFitSql: String =
    """WITH freqs AS (
      |  SELECT source, token, count(*) AS freq FROM (
      |    SELECT source, unnest(list_filter(string_split(text, ' '), t -> t <> ''))
      |      AS token
      |    FROM documents)
      |  GROUP BY source, token),
      |ranked AS (
      |  SELECT source, freq,
      |    row_number() OVER (PARTITION BY source ORDER BY freq DESC, token) AS rk
      |  FROM freqs),
      |terms AS (
      |  SELECT source, freq,
      |    CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000) AS HUGEINT) AS x,
      |    CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000) AS HUGEINT) AS y
      |  FROM ranked),
      |s AS (
      |  SELECT source, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(freq) AS BIGINT) AS n_tokens,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
      |  FROM terms GROUP BY source)
      |SELECT source, CAST(n AS BIGINT) AS n_types, n_tokens,
      |  CAST(CASE WHEN (n * sxy - sx * sy) < 0
      |    THEN -((-(n * sxy - sx * sy)) * 1000000000 // (n * sxx - sx * sx))
      |    ELSE ((n * sxy - sx * sy) * 1000000000 // (n * sxx - sx * sx)) END
      |    AS BIGINT) AS zipf_slope_e9
      |FROM s ORDER BY source""".stripMargin

  /** Per-source lexical diversity — the template-spam fingerprint panel:
    * corpus TTR (distinct types / tokens), hapax share (types occurring
    * exactly once — low ⟺ generated/boilerplate text), and the mean
    * per-doc TTR (floor mean of per-doc ppm ratios). Sources whose
    * corpus TTR collapses while per-doc TTR stays normal repeat the
    * SAME vocabulary across docs — templated content invisible to
    * per-doc quality scores. Docs with ≥1 whitespace token count
    * (token-less docs carry no lexical evidence).
    *
    * Everything integer-exact: ppm ratios via the q14 DECIMAL(38,0)/
    * HUGEINT widening. Scale shape: one documents scan to the
    * (doc,word) count frame (localCheckpointed — it feeds the per-doc
    * AND the per-source-vocabulary rollups), then two keyed aggs to
    * |sources| rows; nothing touches data-sized rows after the rollups.
    */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    // plan choice: both per-doc aggregates reuse this doc_id exchange
    val wc = Tables.documents(spark, dir)
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .select(col("doc_id"), col("source"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("token"))
      .groupBy(col("doc_id"), col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val sd = wc.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("types_d"), sum(col("c")).as("toks_d"))
      .select(col("source"),
        expr("CAST(CAST(types_d AS DECIMAL(38,0)) * 1000000 DIV toks_d AS BIGINT)")
          .as("doc_ttr_ppm"),
        col("toks_d"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks_d")).cast("long").as("n_tokens"),
        sum(col("doc_ttr_ppm")).as("ttr_sum"))
    val sw = wc.groupBy(col("source"), col("token"))
      .agg(sum(col("c")).as("sc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("sc") === 1L, 1L).otherwise(0L)).as("hapax"))
    sd.join(sw, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_types"),
        expr("CAST(CAST(n_types AS DECIMAL(38,0)) * 1000000 DIV n_tokens AS BIGINT)")
          .as("ttr_ppm"),
        expr("CAST(CAST(hapax AS DECIMAL(38,0)) * 1000000 DIV n_types AS BIGINT)")
          .as("hapax_ppm"),
        expr("CAST(ttr_sum DIV n_docs AS BIGINT)").as("mean_doc_ttr_ppm"))
      .orderBy(col("source"))
  }

  val lexicalDiversitySql: String =
    """WITH wc AS (
      |  SELECT doc_id, source, token, count(*) AS c FROM (
      |    SELECT doc_id, source,
      |      unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      |    FROM documents)
      |  GROUP BY 1, 2, 3),
      |sd AS (
      |  SELECT source, count(*) AS n_docs, CAST(sum(toks_d) AS BIGINT) AS n_tokens,
      |    sum(doc_ttr_ppm) AS ttr_sum
      |  FROM (
      |    SELECT doc_id, source, sum(c) AS toks_d,
      |      CAST(CAST(count(*) AS HUGEINT) * 1000000 // sum(c) AS BIGINT)
      |        AS doc_ttr_ppm
      |    FROM wc GROUP BY 1, 2)
      |  GROUP BY 1),
      |sw AS (
      |  SELECT source, count(*) AS n_types,
      |    sum(CASE WHEN sc = 1 THEN 1 ELSE 0 END) AS hapax
      |  FROM (SELECT source, token, sum(c) AS sc FROM wc GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT sd.source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
      |  CAST(n_types AS BIGINT) AS n_types,
      |  CAST(CAST(n_types AS HUGEINT) * 1000000 // n_tokens AS BIGINT)
      |    AS ttr_ppm,
      |  CAST(CAST(hapax AS HUGEINT) * 1000000 // n_types AS BIGINT)
      |    AS hapax_ppm,
      |  CAST(ttr_sum // n_docs AS BIGINT) AS mean_doc_ttr_ppm
      |FROM sd JOIN sw USING (source)
      |ORDER BY sd.source""".stripMargin

  // ------------------------------------------------------ skip-gram PMI
  //
  // Windowed co-occurrence PMI — the embeddings-era association measure
  // (word2vec's training signal is exactly the skip-gram co-occurrence
  // matrix; "Neural Word Embedding as Implicit Matrix Factorization"
  // showed SGNS factorizes shifted PMI): for every unordered token pair
  // within a ±W token window, pmi = ln(P(a,b) / (P(a)·P(b))) over pair
  // and token INSTANCE counts. Distinct from text_collocations: that is
  // ADJACENT-bigram doc-level lift (phrase mining); this is windowed
  // instance-level PMI (distributional similarity). The top of this
  // table is what a tokenizer/phrase-vocab designer reads to find
  // multi-word units worth merging.
  //
  // Scale shape: pair generation is IN-ROW (a nested transform emits
  // each position's ≤W right-neighbors — never a positional self-join),
  // so the only corpus-sized shuffles are the (pair) and (token)
  // two-phase counting aggs; the support filter (c_ab ≥ 5) shrinks the
  // pair side BEFORE the vocabulary joins (shuffle joins — vocabulary
  // grows with the corpus, the collocations convention); both totals
  // are 1-row broadcasts. PMI doubles are composed in ONE identical
  // expression both engines then quantized DECIMAL(18,9) — the ln(libm)
  // ulp seam neutralized the entropy/psi way.

  val skipgramWindow = 3
  val skipgramMinCount = 5

  def skipgramPmi(spark: SparkSession, dir: String): DataFrame = {
    val w = skipgramWindow
    val toks = Tables.fanOut(Tables.documents(spark, dir), col("doc_id"))
      .select(expr("filter(split(text, ' '), x -> x <> '')").as("t"))
      .filter(size(col("t")) >= 2)
    val pairs = toks.select(explode(expr(
      s"""flatten(transform(sequence(1, size(t) - 1),
         |  i -> transform(sequence(i + 1, least(i + $w, size(t))),
         |    j -> concat(least(element_at(t, i), element_at(t, j)), ' ',
         |                greatest(element_at(t, i), element_at(t, j))))))"""
        .stripMargin)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("c_ab"))
    val uni = Tables.documents(spark, dir)
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val pTotal = pairs.agg(sum(col("c_ab")).as("p_total"))
    val tTotal = uni.agg(sum(col("c")).as("t_total"))
    pairs
      .filter(col("c_ab") >= skipgramMinCount)
      .withColumn("tok_a", split(col("pair"), " ").getItem(0))
      .withColumn("tok_b", split(col("pair"), " ").getItem(1))
      .join(uni.select(col("token").as("tok_a"), col("c").as("c_a")), "tok_a")
      .join(uni.select(col("token").as("tok_b"), col("c").as("c_b")), "tok_b")
      .crossJoin(broadcast(pTotal))
      .crossJoin(broadcast(tTotal))
      .select(col("pair"), col("c_ab"), col("c_a"), col("c_b"),
        expr(
          """CAST(CAST(ln((CAST(c_ab AS DOUBLE) * CAST(t_total AS DOUBLE) *
            |  CAST(t_total AS DOUBLE)) / (CAST(p_total AS DOUBLE) *
            |  CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)))
            |  AS DECIMAL(18,9)) AS DOUBLE)""".stripMargin).as("pmi"))
      .orderBy(col("pmi").desc, col("pair"))
      .limit(20)
  }

  val skipgramPmiSql: String =
    s"""WITH toks AS (
       |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
       |  FROM documents),
       |pc AS (
       |  SELECT pair, count(*) AS c_ab FROM (
       |    SELECT unnest(flatten(list_transform(range(1, len(t)),
       |      i -> list_transform(range(i + 1, least(i + $skipgramWindow, len(t)) + 1),
       |        j -> least(t[i], t[j]) || ' ' || greatest(t[i], t[j]))))) AS pair
       |    FROM toks WHERE len(t) >= 2)
       |  GROUP BY pair),
       |uni AS (
       |  SELECT token, count(*) AS c FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
       |    FROM documents)
       |  GROUP BY token),
       |pt AS (SELECT sum(c_ab) AS p_total FROM pc),
       |tt AS (SELECT sum(c) AS t_total FROM uni)
       |SELECT pair, c_ab,
       |  a.c AS c_a, b.c AS c_b,
       |  CAST(CAST(ln((CAST(c_ab AS DOUBLE) * CAST(t_total AS DOUBLE) *
       |    CAST(t_total AS DOUBLE)) / (CAST(p_total AS DOUBLE) *
       |    CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)))
       |    AS DECIMAL(18,9)) AS DOUBLE) AS pmi
       |FROM pc
       |JOIN uni a ON string_split(pair, ' ')[1] = a.token
       |JOIN uni b ON string_split(pair, ' ')[2] = b.token, pt, tt
       |WHERE c_ab >= $skipgramMinCount
       |ORDER BY pmi DESC, pair LIMIT 20""".stripMargin

  // -------------------------------------------------- NLL filter sweep
  //
  // "What does a perplexity filter COST each source" — the composition
  // audit run before committing to an LM-quality cutoff (CCNet keeps a
  // head/middle band; the cut is corpus-relative, so the right sweep
  // axis is the RETENTION percentile, not a magic NLL value): for each
  // keep-band p ∈ {50, 70, 90}% (keep the p% lowest-NLL scoreable
  // docs), per source: docs/tokens kept and their exact-ppm share of
  // the source — a source whose kept share collapses is being
  // systematically judged improbable by the LM (domain mismatch), which
  // is a mix decision, not a doc-quality decision. text_nll_deciles
  // shows the corpus-wide mass curve; this shows who pays at each cut.
  //
  // Scale shape: the shared unigramScored derivation → ONE GlobalRank
  // range exchange on (avg_nll, doc_id) — never a global window — then
  // a single per-source conditional aggregation computes every grid
  // point in one pass (thresholds k_p = ceil(p·n/100) fold in from the
  // 1-row total broadcast; integer-ceiling device). Zero-token docs are
  // unscoreable and sit outside the sweep by contract (both engines).

  val nllSweepPcts = Seq(50, 70, 90)

  def nllFilterSweep(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val perDoc = unigramScored(spark, dir)
      .withColumn("avg_nll",
        -(col("sum_lp").cast(DoubleType) / col("n_tokens")))
      .join(src, "doc_id")
    val ranked = graft.operators.GlobalRank
      .withGlobalRank(perDoc, "rk", col("avg_nll"), col("doc_id"))
    val total = ranked.agg(count(lit(1)).as("n_scoreable"))
    val grid = ranked.crossJoin(broadcast(total))
    val aggs = nllSweepPcts.flatMap { p =>
      val k = s"($p * n_scoreable + 99) DIV 100"
      Seq(
        sum(when(expr(s"rk <= $k"), 1L).otherwise(0L)).as(s"d_$p"),
        sum(when(expr(s"rk <= $k"), col("n_tokens")).otherwise(0L))
          .as(s"t_$p"))
    } ++ Seq(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    val bySrc = grid.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
    nllSweepPcts.map { p =>
      bySrc.select(col("source"), lit(p).as("keep_pct"),
        col("n_docs"), col(s"d_$p").as("kept_docs"),
        expr(s"CAST(CAST(d_$p AS DECIMAL(38,0)) * 1000000 DIV n_docs" +
          " AS BIGINT)").as("kept_docs_ppm"),
        col("n_tokens"), col(s"t_$p").as("kept_tokens"),
        expr(s"CAST(CAST(t_$p AS DECIMAL(38,0)) * 1000000 DIV n_tokens" +
          " AS BIGINT)").as("kept_tokens_ppm"))
    }.reduce(_ unionByName _)
      .orderBy(col("source"), col("keep_pct"))
  }

  val nllFilterSweepSql: String = {
    val blocks = nllSweepPcts.map { p =>
      s"""SELECT source, $p AS keep_pct, n_docs,
         |  d_$p AS kept_docs,
         |  CAST(CAST(d_$p AS HUGEINT) * 1000000 // n_docs AS BIGINT)
         |    AS kept_docs_ppm,
         |  n_tokens, t_$p AS kept_tokens,
         |  CAST(CAST(t_$p AS HUGEINT) * 1000000 // n_tokens AS BIGINT)
         |    AS kept_tokens_ppm
         |FROM bysrc""".stripMargin
    }.mkString("\nUNION ALL\n")
    val sums = nllSweepPcts.map { p =>
      s"""  CAST(sum(CASE WHEN rk <= ($p * (SELECT n FROM t) + 99) // 100
         |    THEN 1 ELSE 0 END) AS BIGINT) AS d_$p,
         |  CAST(sum(CASE WHEN rk <= ($p * (SELECT n FROM t) + 99) // 100
         |    THEN n_tokens ELSE 0 END) AS BIGINT) AS t_$p""".stripMargin
    }.mkString(",\n")
    s"""WITH $nllCtes,
       |per_doc AS (
       |  SELECT s.doc_id, d.source, s.n_tokens,
       |    -(CAST(s.sum_lp AS DOUBLE) / s.n_tokens) AS avg_nll
       |  FROM sc s JOIN documents d USING (doc_id)),
       |r AS (
       |  SELECT source, n_tokens,
       |    row_number() OVER (ORDER BY avg_nll, doc_id) AS rk
       |  FROM per_doc),
       |t AS (SELECT count(*) AS n FROM r),
       |bysrc AS (
       |  SELECT source,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       |$sums
       |  FROM r GROUP BY source)
       |$blocks
       |ORDER BY source, keep_pct""".stripMargin
  }

  // ------------------------------------------------- vocab overlap
  //
  // Pairwise TOP-VOCABULARY overlap between sources — the
  // tokenizer-fairness / domain-proximity audit (two sources whose top
  // vocabularies barely intersect cannot share a small tokenizer budget
  // without fertility pain — bpe_fertility shows the symptom per
  // source, this shows WHICH source pairs are vocabulary-disjoint; it
  // doubles as the cheap domain-similarity matrix a mix designer
  // eyeballs before grouping sources): per source, the top-100 tokens
  // by instance count (ties broken by the md5 token hash — an
  // engine-neutral total order), then per source pair the shared-token
  // count and its exact-ppm share of the SMALLER top set.
  //
  // Scale shape: one (source, token) two-phase count agg; the top-100
  // cut is the bounded TopKAgg typed aggregator (k entries per
  // source × partition ride the shuffle — NEVER a row_number window
  // over per-source vocabularies, which are corpus-sized: the
  // profile_top_values lesson); token strings rejoin by (source, hash)
  // against the counts frame; the pair join runs over ≤ |sources|·100
  // rows. Sources are a bounded dimension by contract (the driver-side
  // source list is |sources| strings — the events-ops |types|
  // convention).

  val vocabTopK = 100

  def vocabOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.TopKAgg
    val hashExpr = "cast(conv(substring(md5(token), 1, 15), 16, 10) as bigint)"
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(expr(
        "filter(split(text, ' '), x -> x <> '')")).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))
      .withColumn("th", expr(hashExpr))
      .localCheckpoint() // feeds the top-k agg AND the token join-back
    // bounded source dimension -> a driver-side index for the typed agg
    val srcs = counts.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted
    val idxCol = srcs.zipWithIndex.foldLeft(lit(-1L)) { case (acc, (s, i)) =>
      when(col("source") === s, lit(i.toLong)).otherwise(acc)
    }
    val agg = new TopKAgg.TopK(vocabTopK)
    // TopKAgg orders (value desc, id asc); value = count, id = token
    // hash -> deterministic cross-engine tie resolution
    val top = counts
      .select(idxCol.as("si"), col("c").cast("double").as("v"), col("th"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(agg.toColumn)
      .flatMap { (pair: (Long, Seq[TopKAgg.Entry])) =>
        pair._2.map { case (_, th) => (srcs(pair._1.toInt), th) }
      }
      .toDF("source", "th")
    val sized = top.groupBy(col("source")).agg(count(lit(1)).as("n_top"))
    val a = top.join(sized, "source")
      .select(col("source").as("source_a"), col("n_top").as("n_a"), col("th"))
    val b = top.join(sized, "source")
      .select(col("source").as("source_b"), col("n_top").as("n_b"), col("th"))
    a.join(b, Seq("th"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("source_a"), col("source_b"),
        col("n_a"), col("n_b"), col("n_shared"),
        expr("CAST(n_shared * 1000000 DIV least(n_a, n_b) AS BIGINT)")
          .as("overlap_ppm"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val vocabOverlapSql: String =
    s"""WITH counts AS (
       |  SELECT source, token, count(*) AS c,
       |    ('0x' || substring(md5(token), 1, 15))::BIGINT AS th
       |  FROM (SELECT source,
       |          unnest(list_filter(string_split(text, ' '), x -> x <> ''))
       |            AS token
       |        FROM documents)
       |  GROUP BY source, token),
       |top AS (
       |  SELECT source, th FROM (
       |    SELECT source, th,
       |      row_number() OVER (PARTITION BY source ORDER BY c DESC, th)
       |        AS rk
       |    FROM counts)
       |  WHERE rk <= $vocabTopK),
       |sized AS (SELECT source, count(*) AS n_top FROM top GROUP BY source)
       |SELECT a.source AS source_a, b.source AS source_b,
       |  CAST(sa.n_top AS BIGINT) AS n_a, CAST(sb.n_top AS BIGINT) AS n_b,
       |  CAST(count(*) AS BIGINT) AS n_shared,
       |  CAST(CAST(count(*) AS HUGEINT) * 1000000
       |    // least(sa.n_top, sb.n_top) AS BIGINT) AS overlap_ppm
       |FROM top a JOIN top b ON a.th = b.th AND a.source < b.source
       |JOIN sized sa ON sa.source = a.source
       |JOIN sized sb ON sb.source = b.source
       |GROUP BY a.source, b.source, sa.n_top, sb.n_top
       |ORDER BY source_a, source_b""".stripMargin

  // ----------------------------------------------- length histogram
  //
  // Log₂-bucket document-LENGTH census per source — the first chart of
  // every corpus writeup and the evidence behind min/max-length gate
  // thresholds (text_c4_filters applies fixed bounds; this is the
  // distribution that justifies them, and the per-source split shows
  // which sources a bound actually hits). Buckets are integer
  // binary-length (the events_gap_histogram device — pure codegen, no
  // float log), cells exact BIGINT/ppm.
  //
  // Scale shape: one documents scan, in-row token count + bucket id,
  // one (source × ≤64 buckets)-key two-phase agg, per-source totals
  // re-aggregated from the BOUNDED bucket frame and joined back
  // (aggregate⋈aggregate — nothing data-sized after the first agg).

  def lengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("source"),
        expr("size(filter(split(text, ' '), t -> t <> ''))").cast("long")
          .as("toks"))
      .select(col("source"), col("toks"),
        expr("CAST(length(bin(toks)) AS INTEGER)").as("len_bucket"))
    val byBucket = d.groupBy(col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tot_tokens"),
        min(col("toks")).as("min_toks"), max(col("toks")).as("max_toks"))
    val bySrc = byBucket.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("src_docs"))
    byBucket.join(bySrc, "source")
      .select(col("source"), col("len_bucket"), col("n_docs"),
        expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 DIV src_docs" +
          " AS BIGINT)").as("doc_share_ppm"),
        col("tot_tokens"), col("min_toks"), col("max_toks"))
      .orderBy(col("source"), col("len_bucket"))
  }

  val lengthHistogramSql: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
      |      AS toks
      |  FROM documents),
      |b AS (
      |  SELECT source, CAST(length(bin(toks)) AS INTEGER) AS len_bucket,
      |    CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(toks) AS BIGINT) AS tot_tokens,
      |    CAST(min(toks) AS BIGINT) AS min_toks,
      |    CAST(max(toks) AS BIGINT) AS max_toks
      |  FROM d GROUP BY 1, 2),
      |s AS (SELECT source, sum(n_docs) AS src_docs FROM b GROUP BY 1)
      |SELECT b.source, len_bucket, n_docs,
      |  CAST(CAST(n_docs AS HUGEINT) * 1000000 // src_docs AS BIGINT)
      |    AS doc_share_ppm,
      |  tot_tokens, min_toks, max_toks
      |FROM b JOIN s ON b.source = s.source
      |ORDER BY b.source, len_bucket""".stripMargin
}
