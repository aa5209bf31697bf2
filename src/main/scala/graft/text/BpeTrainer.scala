package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative BPE tokenizer TRAINING — the full merge loop whose single
  * step bpe_pair_stats exposes: K rounds of (count adjacent symbol
  * pairs weighted by word frequency → take the top pair → merge it
  * everywhere), over the distinct-word frequency dict (the classic BPE
  * optimization — rounds scan |vocab| strings, not the corpus; the one
  * corpus-sized shuffle is the initial word count).
  *
  * Same engineering pattern as the IVF quantizer (Similarity.annIvf,
  * the r3 rows→sql upgrade): an iterative algorithm whose per-round
  * driver state is BOUNDED (here: exactly one (pair, count) row per
  * round) and whose whole iteration is re-derived as a K-level
  * unrolled SQL CTE chain, so the trainer is hash-checked end-to-end
  * against DuckDB — the oracle re-selects each round's top pair and
  * re-applies each merge independently.
  *
  * Merge application contract (what both engines compute, exactly):
  * words are space-separated symbol strings padded with one space on
  * each side; merging pair (a,b) = two passes of left-to-right
  * non-overlapping `replace(' a b ' → ' ab ')`. One pass misses every
  * second occurrence of a chain (the match consumes the trailing
  * space the next match needs); the second pass catches it. `replace`
  * has identical semantics in Spark and DuckDB, so the trained merges
  * are cross-engine identical — including on pathological chains.
  * Pair selection tiebreak: count DESC, then pair string ASC (binary
  * collation both engines).
  */
object BpeTrainer {

  val defaultMerges = 6

  private def pairsOf(wordsCol: String): org.apache.spark.sql.Column =
    explode(expr(
      s"""transform(sequence(1, size(split($wordsCol, ' ')) - 1),
         |  i -> concat(element_at(split($wordsCol, ' '), i), ' ',
         |              element_at(split($wordsCol, ' '), i + 1)))""".stripMargin))

  /** Train `merges` BPE merges; returns (rank, sym_a, sym_b, pair_count)
    * in training order.
    *
    * Iterative-loop discipline (the Dedup.components pattern): the
    * initial word dict is `localCheckpoint`ed, so the ONE corpus-sized
    * shuffle runs exactly once; each round's merge projection is
    * checkpointed too, truncating lineage — without this, every round's
    * `limit(1).collect()` action re-ran the whole chain (corpus explode
    * + word groupBy + all prior merge projections): 6 merges = 6
    * corpus-sized shuffles + an O(K²) merge-reapplication tail, the
    * exact anti-pattern the repo bans for iterative algorithms. Rounds
    * now scan dict-sized checkpointed blocks only; freed as they age
    * out. On a cluster with executor-loss concerns, swap for reliable
    * `checkpoint(dir)` — same shape.
    */
  def bpeTrain(spark: SparkSession, dir: String, merges: Int = defaultMerges): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir, merges)
      .toDF("rank", "sym_a", "sym_b", "pair_count")
      .orderBy(col("rank"))
  }

  /** The trained merge list as a SHARED PIPELINE ARTIFACT — the second
    * registry entry after the near-dup components fixpoint (the
    * componentsTable precedent, Dedup.scala). Six consumers share the
    * training derivation (bpe_train, bpe_encode, bpe_fertility,
    * pack_shards_bpe, mix_weights_bpe, mix_waterfill_bpe); without the
    * memo each re-ran the corpus word-count shuffle + K merge rounds
    * per invocation — exactly the amortization gap the components memo
    * closed for the near-dup family. The artifact itself is DRIVER
    * state of K rows (a real tokenizer's merges file is config-sized),
    * so there is no RDD to register or evict: the memo is keyed by
    * (applicationId, content fingerprint of documents.parquet, K) — a
    * rewritten corpus re-trains, a new session re-trains, and the cost
    * lands on the FIRST consumer's cold run (queries_first), the
    * documented first-consumer-pays convention (PLANS.md).
    */
  private val mergesMemo = new scala.collection.concurrent.TrieMap[
    String, Seq[(Int, String, String, Long)]]()

  private def trainedMerges(spark: SparkSession, dir: String,
      merges: Int): Seq[(Int, String, String, Long)] = {
    val key = graft.SharedArtifacts.memoKey(spark, dir, "bpe-merges") +
      ":" + merges
    mergesMemo.getOrElseUpdate(key, bpeTrainCompute(spark, dir, merges))
  }

  private def bpeTrainCompute(spark: SparkSession, dir: String,
      merges: Int): Seq[(Int, String, String, Long)] = {
    def free(df: DataFrame): Unit =
      df.queryExecution.analyzed.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(blocking = false))
    // the only corpus-sized aggregation: the word-frequency dict,
    // symbolized to space-separated characters — materialized ONCE
    var words = Tables.documents(spark, dir)
      .select(explode(expr("filter(split(text, ' '), t -> t <> '')")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("wc"))
      .select(concat_ws(" ", split(col("token"), "")).as("w"), col("wc"))
      .localCheckpoint(true)
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    for (k <- 1 to merges) {
      // one bounded driver row per round — the whole mutable state.
      // (single-symbol words are pairless; without the filter Spark's
      // sequence(1, 0) counts DOWN — the Dedup shingle pitfall)
      val top = words
        .filter(size(split(col("w"), " ")) >= 2)
        .select(col("wc"), pairsOf("w").as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val pair = top(0).getAs[String]("pair")
        val cnt = top(0).getAs[Long]("cnt")
        val Array(a, b) = pair.split(" ", 2)
        learned += ((k, a, b, cnt))
        val pat = lit(s" $a $b ")
        val rep = lit(s" $a$b ")
        val merged = words.select(
          trim(replace(replace(concat(lit(" "), col("w"), lit(" ")),
            pat, rep), pat, rep)).as("w"), col("wc"))
          .localCheckpoint(true)
        free(words)
        words = merged
      }
    }
    free(words)
    learned.result()
  }

  def bpeTrainQuery(spark: SparkSession, dir: String): DataFrame =
    bpeTrain(spark, dir)

  /** TOKENIZE with the trained merges — the apply half of the BPE pair
    * (train → encode), i.e. the token-counting primitive a data-mix
    * pipeline actually budgets with (reference capability: corpus
    * token accounting; pack_shards/mix_weights currently budget in
    * whitespace tokens — this measures in learned-subword units).
    *
    * Shape: training is the bounded bpeTrain loop (driver state = K
    * rows); encoding is PURE per-row column work — each word is
    * symbolized and run through the same padded double-replace chain
    * (in rank order, exactly as trained) by the native
    * `graft.functions.BpeTokenCount` kernel, one compiled call per
    * document. ZERO data shuffle: the only exchange in the plan is the
    * presentation ORDER BY. At 100 TB the encode is embarrassingly
    * parallel map work; the trained merge table rides along inside the
    * expression as K pattern/replacement pairs (a real tokenizer's
    * merge table is config-sized — same story).
    *
    * Per-word cost is inherent (the merge chain must visit every
    * word); the kernel does exactly that once per word — not the
    * PLANS.md pitfall-#2 shape (no O(elements²) re-evaluation).
    *
    * cpt_e4 = chars-per-token ×10⁴ via BIGINT integer division —
    * bit-exact cross-engine (no double rounding at the boundary).
    */
  private val wordsCol: org.apache.spark.sql.Column =
    filter(split(col("text"), " "), t => t =!= lit(""))

  /** `documents` with a learned-subword `toks` column — the BPE
    * accounting unit the curation ops (pack_shards/mix_weights/
    * mix_temperature) can budget with instead of whitespace tokens.
    * Same zero-shuffle per-row count as bpeEncode's `n_tokens` (the
    * native `graft.functions.BpeTokenCount` kernel); a wordless document
    * gets toks = 0.
    */
  def withBpeTokens(spark: SparkSession, dir: String,
      merges: Int = defaultMerges): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", bpeTokenCount(spark, dir, merges))

  /** `text`'s learned-subword token count under the trained merges. */
  private def bpeTokenCount(spark: SparkSession, dir: String,
      merges: Int): org.apache.spark.sql.Column =
    graft.functions.TextOps.bpe_token_count(col("text"),
      trainedMerges(spark, dir, merges).map(t => (t._2, t._3)))

  /** The per-document BPE token accounting `(doc_id, source, toks)` as a
    * LAKE-MATERIALIZED SHARED ARTIFACT (SharedArtifacts.materialized —
    * derived once per (session, dir, corpus content), written to
    * parquet, re-read by every consumer). The three BPE-budgeted
    * curation ops (pack_shards_bpe, mix_weights_bpe, mix_waterfill_bpe)
    * evaluate this frame several times each per invocation (GlobalRank's
    * two passes, lane joins, rollups); un-memoized, every evaluation
    * re-paid the trained-merge count over the whole corpus. A production
    * pipeline materializes the tokenized accounting column ONCE in the
    * lake next to the text; this artifact IS exactly that table — and
    * since r11 it lives on disk, not pinned in executor storage for the
    * session (the r10 memory-pressure finding: a corpus-sized resident
    * frame is an executor liability at 100 TB and inflated unrelated
    * suite medians on the bench box). Narrow by construction — three
    * columns, never the text.
    */
  def bpeTokensTable(spark: SparkSession, dir: String): DataFrame =
    graft.SharedArtifacts.materialized(spark, dir, "bpe-toks") {
      withBpeTokens(spark, dir)
        .select(col("doc_id"), col("source"), col("toks"))
    }

  def bpeEncode(spark: SparkSession, dir: String, merges: Int = defaultMerges): DataFrame = {
    val words = wordsCol
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(words).cast("long").as("n_words"),
        bpeTokenCount(spark, dir, merges).as("n_tokens"),
        aggregate(transform(words, t => length(t).cast("long")), lit(0L),
          (acc, x) => acc + x).as("n_sym"))
      .filter(col("n_words") >= 1)
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        expr("CAST((n_sym * 10000) DIV n_tokens AS BIGINT)").as("cpt_e4"))
      .orderBy(col("doc_id"))
  }

  def bpeEncodeQuery(spark: SparkSession, dir: String): DataFrame =
    bpeEncode(spark, dir)

  /** K-level unrolled oracle: each level re-derives the round's top
    * pair with a scalar subquery and re-applies the merge with the
    * identical padded double-replace. Every CTE is MATERIALIZED —
    * without it DuckDB inlines each level into all of its consumers
    * (words_k feeds pairs_{k+1} AND words_{k+1}, plus 4 scalar
    * subqueries per replace), re-evaluating the chain exponentially in
    * K: the un-materialized form pegged a core for minutes at K=6.
    */
  /** The shared K-round training CTE chain (words0..wordsK, top1..topK). */
  private val trainCtes: String = {
    val sb = new StringBuilder
    sb ++= """words0 AS MATERIALIZED (
             |  SELECT array_to_string(string_split(token, ''), ' ') AS w,
             |    CAST(count(*) AS BIGINT) AS wc
             |  FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
             |        FROM documents)
             |  GROUP BY 1)""".stripMargin
    for (k <- 1 to defaultMerges) {
      val prev = s"words${k - 1}"
      sb ++= s""",
                |pairs$k AS MATERIALIZED (
                |  SELECT p AS pair, sum(wc) AS cnt FROM (
                |    SELECT wc, unnest(list_transform(range(1, len(string_split(w, ' '))),
                |      i -> string_split(w, ' ')[i] || ' ' || string_split(w, ' ')[i + 1])) AS p
                |    FROM $prev)
                |  GROUP BY 1),
                |top$k AS MATERIALIZED (SELECT pair, cnt FROM pairs$k ORDER BY cnt DESC, pair ASC LIMIT 1),
                |words$k AS MATERIALIZED (
                |  SELECT trim(replace(replace(' ' || w || ' ',
                |    ' ' || (SELECT pair FROM top$k) || ' ',
                |    ' ' || (SELECT replace(pair, ' ', '') FROM top$k) || ' '),
                |    ' ' || (SELECT pair FROM top$k) || ' ',
                |    ' ' || (SELECT replace(pair, ' ', '') FROM top$k) || ' ')) AS w, wc
                |  FROM $prev)""".stripMargin
    }
    sb.result()
  }

  val bpeTrainSql: String =
    s"WITH $trainCtes\n" +
      (1 to defaultMerges).map(k =>
        s"""SELECT CAST($k AS INTEGER) AS rank,
           |  split_part(pair, ' ', 1) AS sym_a, split_part(pair, ' ', 2) AS sym_b,
           |  CAST(cnt AS BIGINT) AS pair_count FROM top$k""".stripMargin)
        .mkString("\nUNION ALL\n") +
      "\nORDER BY rank"

  private val encodeChainSql: String =
    (1 to defaultMerges).foldLeft(
      "' ' || array_to_string(string_split(token, ''), ' ') || ' '") { (acc, k) =>
      val pat = s"' ' || (SELECT pair FROM top$k) || ' '"
      val rep = s"' ' || (SELECT replace(pair, ' ', '') FROM top$k) || ' '"
      s"replace(replace($acc,\n    $pat, $rep),\n    $pat, $rep)"
    }

  /** Training chain + per-word encode (`enc(doc_id, n_sym, n_tok)`) —
    * the shared base of bpeEncodeSql AND bpeFertilitySql (the
    * docTokensCtes discipline: one derivation, two oracles). */
  private val encCtes: String =
    s"""$trainCtes,
       |doc_words AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
       |  FROM documents),
       |enc AS MATERIALIZED (
       |  SELECT doc_id, len(token) AS n_sym,
       |    len(string_split(trim(
       |  $encodeChainSql), ' ')) AS n_tok
       |  FROM doc_words)""".stripMargin

  /** Encode oracle: the same trained chain (scalar-subquery merges from
    * top1..topK, in rank order) applied to every document word; the
    * identical padded double-replace contract as bpeTrain's. */
  val bpeEncodeSql: String =
    s"""WITH $encCtes
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST((sum(n_sym) * 10000) // sum(n_tok) AS BIGINT) AS cpt_e4
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Tokenizer fertility per source — the QA report run after every
    * tokenizer train/swap: subword tokens per whitespace word (ppm) and
    * characters per subword token, per corpus source. Fertility spikes
    * on a source mean the vocabulary serves it badly (wrong domain,
    * wrong language, boilerplate-skewed merges) — its effective context
    * window shrinks and its per-token cost rises; this report is where
    * that shows first. Shares the trained-encode derivation with
    * bpe_encode verbatim (same merges, same kernel), so the fertility
    * accounting cannot drift from what bpe-budgeted packing charges.
    *
    * Scale shape: the encode is the same single scan bpe_encode runs
    * (merge table broadcast as literals); the rollup is one
    * sources-sized keyed aggregation; ratios in exact integer ppm/e4
    * (IntegralDivide — no float seam).
    */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val enc = bpeEncode(spark, dir)
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    enc.join(src, "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_tokens"),
        expr("CAST(n_tokens * 1000000 DIV n_words AS BIGINT)")
          .as("fertility_ppm"))
      .orderBy(col("source"))
  }

  val bpeFertilitySql: String =
    s"""WITH $encCtes,
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_words, sum(n_tok) AS n_tokens
       |  FROM enc GROUP BY doc_id)
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(p.n_words) AS BIGINT) AS n_words,
       |  CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
       |  CAST((CAST(sum(p.n_tokens) AS HUGEINT) * 1000000) // sum(p.n_words) AS BIGINT)
       |    AS fertility_ppm
       |FROM per_doc p JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** The training chain + a per-document learned-subword token count
    * (`doc_toks(doc_id, toks)`) — the oracle twin of withBpeTokens,
    * shared by the BPE-budgeted curation oracles so the accounting unit
    * can never drift between the ops and their oracles.
    */
  val docTokensCtes: String =
    s"""$trainCtes,
       |doc_words AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
       |  FROM documents),
       |doc_toks AS MATERIALIZED (
       |  SELECT doc_id, CAST(sum(len(string_split(trim(
       |  $encodeChainSql), ' '))) AS BIGINT) AS toks
       |  FROM doc_words GROUP BY doc_id)""".stripMargin
}
