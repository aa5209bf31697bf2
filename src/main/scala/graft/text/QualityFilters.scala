package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.Tables

/** Heuristic corpus-quality filters from the published LLM-pretraining
  * pipelines — the two classic families:
  *
  *  - Gopher-style REPETITION rules (Rae et al. 2021, table A1):
  *    excessive repeated n-grams signal boilerplate/spam. Per document:
  *    most-frequent-token ratio, fraction of tokens covered by the top
  *    2-gram, duplicate-3-gram fraction.
  *  - C4-style CLEANING rules (Raffel et al. 2020, §2.2): structural
  *    heuristics — minimum word count, terminal punctuation, "lorem
  *    ipsum" placeholder text, curly braces (code markers), mean word
  *    length bounds.
  *
  * Both are per-document maps: C4 flags are pure column expressions
  * (single scan, zero shuffle, whole-stage codegen); repetition metrics
  * add two keyed (doc_id, gram) aggregations — the same linear shape as
  * the unigram-LM scorer. All ratios are single IEEE divisions of
  * exactly-agreed integers, so Spark and DuckDB compare bit-identically
  * against the threshold literals.
  */
object QualityFilters {

  // Gopher-ish thresholds (documented knobs, defaults used by the query)
  val maxTokFracMax = 0.20
  val top2gramFracMax = 0.18
  val dup3gramFracMax = 0.30

  /** Per-doc repetition metrics + the repetitive flag. Docs with too few
    * tokens for an n-gram level score 0 at that level (nothing repeats).
    *
    * Single-scan shape: unigrams and bigrams ride ONE tagged explode
    * ('1|tok' / '2|bigram', plus a '0|' sentinel so token-less docs
    * survive the aggregation), counted per (doc, gram) and reduced to
    * per-level maxima in one more shuffle — the corpus is read once,
    * with no join-backs. The duplicate-3-gram fraction is pure array
    * arithmetic and rides the same projection.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n_tokens"),
        when(col("toks").isNotNull && size(col("toks")) >= 3, expr(
          "transform(sequence(1, size(toks) - 2), i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"))
          .otherwise(expr("CAST(array() AS array<string>)")).as("tris"))
    val grams = base.select(col("doc_id"), col("n_tokens"),
      size(col("tris")).as("n_tri"),
      size(array_distinct(col("tris"))).as("n_tri_distinct"),
      explode(concat(
        array(lit("0|")),
        expr("transform(toks, t -> concat('1|', t))"),
        when(size(col("toks")) >= 2, expr(
          "transform(sequence(1, size(toks) - 1), i -> concat('2|', element_at(toks, i), ' ', element_at(toks, i + 1)))"))
          .otherwise(expr("CAST(array() AS array<string>)"))))
        .as("g"))
    val counts = grams
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("c"), max(col("n_tokens")).as("n_tokens"),
        max(col("n_tri")).as("n_tri"), max(col("n_tri_distinct")).as("n_tri_distinct"))
    counts
      .groupBy(col("doc_id"))
      .agg(max(when(substring(col("g"), 1, 1) === "1", col("c"))).as("max_tok_n0"),
        max(when(substring(col("g"), 1, 1) === "2", col("c"))).as("top_bigram_n0"),
        max(col("n_tokens")).as("n_tokens"),
        max(col("n_tri")).as("n_tri"),
        max(col("n_tri_distinct")).as("n_tri_distinct"))
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("max_tok_n0"), lit(0L)).as("max_tok_n"),
        coalesce(col("top_bigram_n0"), lit(0L)).as("top_bigram_n"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(coalesce(col("max_tok_n0"), lit(0L)).cast(DoubleType) / col("n_tokens"))
          .as("max_tok_frac"),
        // coverage of DUPLICATE occurrences (beyond the first): a top
        // bigram that occurs once covers 0 — otherwise every doc under
        // 2/threshold tokens would trip the filter on its 2/n floor
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(greatest(coalesce(col("top_bigram_n0"), lit(0L)) - 1L, lit(0L))
            .cast(DoubleType) * 2.0 / col("n_tokens"))
          .as("top_bigram_frac"),
        when(col("n_tri") <= 0, lit(0.0))
          .otherwise((col("n_tri") - col("n_tri_distinct")).cast(DoubleType) / col("n_tri"))
          .as("dup_trigram_frac"))
      .withColumn("is_repetitive",
        col("max_tok_frac") > maxTokFracMax ||
          col("top_bigram_frac") > top2gramFracMax ||
          col("dup_trigram_frac") > dup3gramFracMax)
      .orderBy(col("doc_id"))
  }

  val repetitionSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |b AS (SELECT doc_id, toks, CAST(len(toks) AS INTEGER) AS n_tokens FROM base),
       |max_tok AS (
       |  SELECT doc_id, max(c) AS max_tok_n FROM (
       |    SELECT doc_id, g, count(*) AS c FROM (
       |      SELECT doc_id, unnest(toks) AS g FROM b WHERE n_tokens >= 1)
       |    GROUP BY doc_id, g)
       |  GROUP BY doc_id),
       |top_bi AS (
       |  SELECT doc_id, max(c) AS top_bigram_n FROM (
       |    SELECT doc_id, g, count(*) AS c FROM (
       |      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |        i -> toks[i] || ' ' || toks[i+1])) AS g
       |      FROM b WHERE n_tokens >= 2)
       |    GROUP BY doc_id, g)
       |  GROUP BY doc_id),
       |tri AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(len(tris) AS INTEGER) AS n_tri,
       |    CAST(len(list_distinct(tris)) AS INTEGER) AS n_tri_distinct
       |  FROM (
       |    SELECT doc_id, n_tokens,
       |      CASE WHEN n_tokens >= 3 THEN list_transform(range(1, len(toks) - 1),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |      ELSE [] END AS tris
       |    FROM b)),
       |m AS (
       |  SELECT t.doc_id, t.n_tokens,
       |    CAST(coalesce(mt.max_tok_n, 0) AS BIGINT) AS max_tok_n,
       |    CAST(coalesce(tb.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
       |    CASE WHEN t.n_tokens = 0 THEN CAST(0 AS DOUBLE)
       |      ELSE CAST(coalesce(mt.max_tok_n, 0) AS DOUBLE) / t.n_tokens END AS max_tok_frac,
       |    CASE WHEN t.n_tokens = 0 THEN CAST(0 AS DOUBLE)
       |      ELSE CAST(greatest(coalesce(tb.top_bigram_n, 0) - 1, 0) AS DOUBLE) * 2.0 / t.n_tokens END AS top_bigram_frac,
       |    CASE WHEN t.n_tri <= 0 THEN CAST(0 AS DOUBLE)
       |      ELSE CAST(t.n_tri - t.n_tri_distinct AS DOUBLE) / t.n_tri END AS dup_trigram_frac
       |  FROM tri t
       |  LEFT JOIN max_tok mt USING (doc_id)
       |  LEFT JOIN top_bi tb USING (doc_id))
       |SELECT *,
       |  max_tok_frac > $maxTokFracMax OR top_bigram_frac > $top2gramFracMax
       |    OR dup_trigram_frac > $dup3gramFracMax AS is_repetitive
       |FROM m ORDER BY doc_id""".stripMargin

  // C4-ish structural knobs
  val minWords = 5
  val meanWordLenMin = 3.0
  val meanWordLenMax = 10.0

  /** C4-style per-doc cleaning flags, expression-only (zero shuffle).
    * mean_word_len = non-space chars / token count — tokenization-free
    * on both engines (consecutive spaces contribute no chars).
    */
  def c4Filters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(expr("filter(split(text, ' '), t -> t <> '')")).as("n_words"),
        length(regexp_replace(col("text"), " ", "")).as("n_word_chars"),
        rtrim(col("text")).as("rt"),
        lower(col("text")).as("lo"))
    docs.select(col("doc_id"), col("n_words"),
      when(col("n_words") === 0, lit(0.0))
        .otherwise(col("n_word_chars").cast(DoubleType) / col("n_words"))
        .as("mean_word_len"),
      (col("rt").endsWith(".") || col("rt").endsWith("!") ||
        col("rt").endsWith("?") || col("rt").endsWith("\"")).as("ends_terminal"),
      col("lo").contains("lorem ipsum").as("has_lorem"),
      col("lo").contains("{").as("has_brace"),
      (col("n_words") < minWords).as("too_few_words"))
      .withColumn("word_len_ok",
        col("mean_word_len") >= meanWordLenMin && col("mean_word_len") <= meanWordLenMax)
      .withColumn("keep",
        !col("too_few_words") && col("ends_terminal") && !col("has_lorem") &&
          !col("has_brace") && col("word_len_ok"))
      .orderBy(col("doc_id"))
  }

  /** The composite KEEP decision — what a curation pipeline actually
    * executes after computing the individual signals: C4 STRUCTURAL
    * cleanliness (word count, lorem-ipsum, braces, mean word length —
    * the terminal-punctuation rule is deliberately excluded: this
    * synthetic corpus carries no punctuation, so including it rejects
    * 100% and the gate stops measuring anything; a web-corpus
    * deployment adds it back) AND not Gopher-repetitive AND unigram-LM
    * likelihood under the fluency ceiling. Emits the verdict plus a
    * machine-readable reason list (';'-joined failed checks, empty when
    * kept), so downstream audits can aggregate rejection causes. Three
    * single-scan signal frames joined on doc_id (AQE-broadcast at toy
    * scale).
    */
  val lmNllCeiling = 6.0

  /** Per-document CHARACTER Shannon entropy — the gibberish/encoded-blob
    * detector the structural rules miss: base64 walls and hex dumps
    * score HIGH (flat character distribution), keyboard mash and
    * single-char runs score LOW; natural language sits in a tight
    * mid-band. The standard companion to the token-level rules
    * (Gopher's repetition catches repeats; this catches uniformity).
    *
    * Cross-engine determinism: each (doc, char) term c·ln(c/n) is
    * quantized through DECIMAL(18,9) BEFORE the per-doc sum (the
    * unigramNll device — exact, order-independent), and the final
    * entropy divides the exact sum by n once, at the edge. Flags use
    * the [1.5, 4.8] nat band (documented knobs).
    *
    * Scale shape: one explode to (doc, char) — bounded by text length —
    * one (doc, char) count, one per-doc rollup; no joins, no windows.
    */
  val entropyLoNats = 1.5
  val entropyHiNats = 4.8

  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // plan choice: the (doc_id, ch) count, the per-doc window and the
    // per-doc rollup all reuse this one doc_id exchange
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val chars = Tables.documents(spark, dir)
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
    chars
      .withColumn("n_chars", sum(col("c")).over(wDoc))
      .withColumn("n_distinct_chars", count(lit(1)).over(wDoc))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        (col("c").cast(DoubleType) *
          log(col("c").cast(DoubleType) / col("n_chars").cast(DoubleType)))
          .cast(DecimalType(18, 9)).as("term"))
      .groupBy(col("doc_id"), col("n_chars"), col("n_distinct_chars"))
      .agg((-(sum(col("term")).cast(DoubleType)) / col("n_chars").cast(DoubleType))
        .as("entropy_nats"))
      .select(col("doc_id"), col("n_chars"), col("n_distinct_chars"),
        col("entropy_nats"),
        (col("entropy_nats") < entropyLoNats).as("too_uniform"),
        (col("entropy_nats") > entropyHiNats).as("too_random"))
      .orderBy(col("doc_id"))
  }

  val charEntropySql: String =
    s"""WITH chars AS (
       |  SELECT doc_id, ch, count(*) AS c FROM (
       |    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
       |  WHERE ch <> '' GROUP BY doc_id, ch),
       |per_doc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
       |    count(*) AS n_distinct_chars
       |  FROM chars GROUP BY doc_id),
       |terms AS (
       |  SELECT c.doc_id, p.n_chars, p.n_distinct_chars,
       |    CAST(CAST(c.c AS DOUBLE) *
       |      ln(CAST(c.c AS DOUBLE) / CAST(p.n_chars AS DOUBLE)) AS DECIMAL(18,9))
       |      AS term
       |  FROM chars c JOIN per_doc p USING (doc_id))
       |SELECT doc_id, n_chars, n_distinct_chars,
       |  -(CAST(sum(term) AS DOUBLE)) / CAST(n_chars AS DOUBLE) AS entropy_nats,
       |  (-(CAST(sum(term) AS DOUBLE)) / CAST(n_chars AS DOUBLE)) < $entropyLoNats
       |    AS too_uniform,
       |  (-(CAST(sum(term) AS DOUBLE)) / CAST(n_chars AS DOUBLE)) > $entropyHiNats
       |    AS too_random
       |FROM terms GROUP BY doc_id, n_chars, n_distinct_chars
       |ORDER BY doc_id""".stripMargin

  def qualityGate(spark: SparkSession, dir: String): DataFrame = {
    val c4 = c4Filters(spark, dir).select(col("doc_id"),
      (!col("too_few_words") && !col("has_lorem") && !col("has_brace") &&
        col("word_len_ok")).as("struct_clean"))
    val rep = repetition(spark, dir).select(col("doc_id"), col("is_repetitive"))
    val nll = TextStats.unigramNll(spark, dir).select(col("doc_id"), col("avg_nll"))
    c4.join(rep, "doc_id").join(nll, "doc_id")
      .withColumn("lm_reject",
        col("avg_nll").isNotNull && col("avg_nll") > lmNllCeiling)
      .withColumn("keep",
        col("struct_clean") && !col("is_repetitive") && !col("lm_reject"))
      .withColumn("reason", concat_ws(";",
        when(!col("struct_clean"), "structure"),
        when(col("is_repetitive"), "repetition"),
        when(col("lm_reject"), "lm")))
      .select(col("doc_id"), col("struct_clean"), col("is_repetitive"),
        col("avg_nll"), col("lm_reject"), col("keep"), col("reason"))
      .orderBy(col("doc_id"))
  }

  lazy val qualityGateSql: String =
    s"""WITH c4_full AS (${c4FiltersSql}),
       |rep_full AS (${repetitionSql}),
       |nll_full AS (${TextStats.unigramNllSql})
       |SELECT c.doc_id,
       |  NOT c.too_few_words AND NOT c.has_lorem AND NOT c.has_brace
       |    AND c.word_len_ok AS struct_clean,
       |  r.is_repetitive, n.avg_nll,
       |  n.avg_nll IS NOT NULL AND n.avg_nll > $lmNllCeiling AS lm_reject,
       |  (NOT c.too_few_words AND NOT c.has_lorem AND NOT c.has_brace
       |    AND c.word_len_ok) AND NOT r.is_repetitive AND
       |    NOT (n.avg_nll IS NOT NULL AND n.avg_nll > $lmNllCeiling) AS keep,
       |  concat_ws(';',
       |    CASE WHEN NOT (NOT c.too_few_words AND NOT c.has_lorem
       |      AND NOT c.has_brace AND c.word_len_ok) THEN 'structure' END,
       |    CASE WHEN r.is_repetitive THEN 'repetition' END,
       |    CASE WHEN n.avg_nll IS NOT NULL AND n.avg_nll > $lmNllCeiling THEN 'lm' END) AS reason
       |FROM c4_full c
       |JOIN rep_full r USING (doc_id)
       |JOIN nll_full n USING (doc_id)
       |ORDER BY c.doc_id""".stripMargin

  val c4FiltersSql: String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INTEGER) AS n_words,
       |    CAST(length(replace(text, ' ', '')) AS INTEGER) AS n_word_chars,
       |    rtrim(text) AS rt, lower(text) AS lo
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, n_words,
       |    CASE WHEN n_words = 0 THEN CAST(0 AS DOUBLE)
       |      ELSE CAST(n_word_chars AS DOUBLE) / n_words END AS mean_word_len,
       |    ends_with(rt, '.') OR ends_with(rt, '!') OR ends_with(rt, '?')
       |      OR ends_with(rt, '"') AS ends_terminal,
       |    contains(lo, 'lorem ipsum') AS has_lorem,
       |    contains(lo, '{') AS has_brace,
       |    n_words < $minWords AS too_few_words
       |  FROM b)
       |SELECT *,
       |  mean_word_len >= $meanWordLenMin AND mean_word_len <= $meanWordLenMax AS word_len_ok,
       |  NOT too_few_words AND ends_terminal AND NOT has_lorem AND NOT has_brace
       |    AND (mean_word_len >= $meanWordLenMin AND mean_word_len <= $meanWordLenMax) AS keep
       |FROM m ORDER BY doc_id""".stripMargin
}
