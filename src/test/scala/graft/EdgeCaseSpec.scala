package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial-corpus regression: documents the synthetic testdata can't
  * produce — under-3-token docs (descending-sequence indexing trap),
  * empty text (divide-by-zero), non-ASCII (byte-vs-char length), exact
  * duplicates. Every document-path query must run and stay sane.
  */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  lazy val edgeDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_edge").toString
    Seq(
      (0L, "hello world", "en", "src0", 11L),
      (1L, "hi", "en", "src0", 2L),
      (2L, "", "en", "src1", 0L),
      (3L, "café déjà vu naïve résumé encore text body here", "fr", "src1", 47L),
      (4L, "the quick brown fox jumps over the lazy dog again and again", "en", "src2", 60L),
      (5L, "the quick brown fox jumps over the lazy dog again and again", "en", "src2", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private val docQueries = Seq(
    "text_token_count", "text_quality_score", "text_fingerprint",
    "text_top_tokens", "text_collocations", "text_unigram_nll",
    "text_corpus_report", "dedup_components", "mm_embed_batch",
    "dedup_exact", "dedup_ngram_prefix",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_levenshtein",
    "mm_decode_features", "mm_frame_sample",
    "quality_completeness", "quality_uniqueness", "quality_consistency",
    "quality_score",
    "text_repetition", "text_c4_filters", "text_decontaminate",
    "search_bm25", "text_keywords_tfidf", "bpe_pair_stats",
    // r3 curation + r4 additions (documents-path only; quality_psi and
    // the sim_* family read events/embeddings and are out of scope here)
    "split_train_eval", "dedup_keep_best", "pack_shards", "mix_weights",
    "mix_apply", "text_pii_scan", "dedup_incremental", "text_bigram_nll",
    "bpe_train", "text_quality_gate",
    // r5 additions on the documents path
    "bpe_encode", "dedup_substring", "dedup_incremental_minhash",
    "mm_dedup_phash", "text_readability",
    // r7/r8 additions on the documents path (sparse knn: the empty doc
    // has no tokens -> it silently produces no query/neighbor rows)
    "dedup_cluster_profile", "dedup_containment", "curation_funnel",
    "mix_dedup_discount", "sim_sparse_cosine",
    // r9 additions on the documents path
    "dedup_incremental_components", "dedup_source_overlap",
    "dedup_minhash_estimate", "pack_shard_balance",
    // r9 late wave (profile_mutual_info also reads events -> out of scope)
    "dedup_threshold_sweep", "mix_waterfill", "curation_importance",
    "text_lexical_diversity", "dedup_lsh_param_sweep", "curation_select",
    "mix_waterfill_bpe",
    // r10 additions on the documents path (skipgram: no pair reaches
    // min support -> empty, and the NULL totals never divide; paragraph
    // dedup: empty docs carry no blocks; ingest pipeline: composition
    // of already-swept stages)
    "text_skipgram_pmi", "text_nll_filter_sweep", "text_length_histogram",
    "dedup_paragraphs", "pack_attention_spans", "mm_aspect_buckets",
    "dedup_ingest_pipeline")

  test("every document-path query survives the adversarial corpus") {
    docQueries.foreach { k =>
      val n = SparkEntry.queries(k)(spark, edgeDir).count()
      assert(n >= 0, k) // materialization itself is the assertion
    }
  }

  test("short/empty docs produce no shingles but still dedup exactly") {
    val exact = text.Dedup.exact(spark, edgeDir).collect()
    assert(exact.map(_.getAs[Long]("n_docs")).sum == 6)
    assert(exact.count(_.getAs[Long]("n_docs") == 2) == 1) // docs 4+5
    val ngram = text.Dedup.ngramJaccard(spark, edgeDir).collect()
    assert(ngram.length == 1)                              // only the 4-5 pair
    assert(ngram(0).getAs[Double]("jaccard") == 1.0)
  }

  test("fingerprint is NULL for sub-5-char texts, defined otherwise") {
    val fp = text.TextStats.fingerprint(spark, edgeDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fingerprint")).toMap
    assert(fp(1L) == null && fp(2L) == null)
    assert(fp(0L) != null && fp(3L) != null)
  }

  test("unigram NLL: identical docs tie, rare tokens score high, empty doc is NULL") {
    val nll = text.TextStats.unigramNll(spark, edgeDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), Option(r.getAs[Any]("avg_nll")))).toMap
    assert(nll(2L)._1 == 0 && nll(2L)._2.isEmpty)      // empty text
    assert(nll(4L) == nll(5L))                          // exact duplicates tie
    // the all-rare-token French doc outscores the common-token English dup
    val score = (d: Long) => nll(d)._2.get.asInstanceOf[Double]
    assert(score(3L) > score(4L))
  }

  test("quality score handles the empty doc without NULL leakage") {
    val row = profile.Quality.score(spark, edgeDir).collect()(0)
    val s = row.getAs[Double]("quality_score")
    assert(!s.isNaN && s >= 0.0 && s <= 1.0)
  }

  /** Adversarial event log the generator can't produce: a zero-variance
    * arrival rate (degenerate z denominator), an all-NULL value column
    * (empty ECDF / absent MAD group), a constant value (zero MAD), and
    * a single-event user (no transitions). Every events-path guard must
    * degrade, not throw.
    */
  lazy val edgeEventsDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_edge_ev").toString
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val rows =
      // "steady": exactly one event per minute -> rate variance 0
      (0 until 10).map(m => (m.toLong, ts(m), 1L, "steady", Some(m * 1.0), """{"k": 1}""")) ++
      // "allnull": value always NULL
      (0 until 6).map(m => (100L + m, ts(m), 2L, "allnull", None: Option[Double], """{"k": 2}""")) ++
      // "flat": constant value -> MAD 0, vmin == vmax within the type
      (0 until 8).map(m => (200L + m, ts(m), 3L, "flat", Some(7.5), """{"k": 3}""")) ++
      // single-event user, own type: one window -> rate variance 0 too
      Seq((300L, ts(0), 999L, "solo", Some(1.0), """{"k": 4}"""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("events-path guards degrade on the adversarial log instead of throwing") {
    import graft.operators.EventAnalytics
    import graft.profile.Quality
    // zero rate variance everywhere -> anomaly report is EMPTY, not a crash
    assert(EventAnalytics.qRateAnomaly(spark, edgeEventsDir).count() == 0)
    // all-NULL value type: ECDF sides are empty -> ks_d NULL via nullif
    val ks = Quality.ksDrift(spark, edgeEventsDir).collect()
      .map(r => r.getAs[String]("event_type") ->
        Option(r.getAs[Any]("ks_d"))).toMap
    assert(ks("allnull").isEmpty)
    assert(ks("flat").isDefined) // constant value: grid degenerate but defined
    // zero MAD: the nullif NULL falls out of the CASE -> zero outliers
    // (identical in DuckDB); the all-NULL type is dropped entirely
    val mad = Quality.outlierMad(spark, edgeEventsDir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(!mad.contains("allnull"))
    assert(mad("flat").getAs[Double]("mad") == 0.0)
    assert(mad("flat").getAs[Long]("n_outliers") == 0L)
    // temporal completeness: ppm hits the exact boundaries
    val ct = Quality.completenessTemporal(spark, edgeEventsDir).collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("null_ppm")).toMap
    assert(ct("allnull") == 1000000L && ct("flat") == 0L)
    // a single-event user contributes zero transitions
    val paths = EventAnalytics.qUserPaths(spark, edgeEventsDir).collect()
    assert(paths.map(_.getAs[Long]("n_transitions")).sum ==
      (10 - 1) + (6 - 1) + (8 - 1) + 0) // solo user: zero transitions
  }

  test("r8 events ops degrade on the adversarial log instead of throwing") {
    import graft.operators.EventAnalytics
    // markov stationary: the solo user's type never transitions, so it
    // is OUTSIDE the chain's node set (transitions-only domain); every
    // per-user-homogeneous type self-loops and mass only decays by dust
    val pi = EventAnalytics.eventsMarkovStationary(spark, edgeEventsDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pi.keySet == Set("steady", "allnull", "flat"))
    assert(pi.values.sum <= EventAnalytics.markovUnit)
    assert(pi.values.forall(_ > 0))
    // attribution: a log with no purchases (and no touches) yields an
    // EMPTY report, not a divide-by-zero on the total broadcast
    assert(EventAnalytics.eventsAttribution(spark, edgeEventsDir).count() == 0)
    // session stats: each user's burst is one session; percentiles are
    // observed durations
    val ss = EventAnalytics.eventsSessionStats(spark, edgeEventsDir)
      .collect().head
    assert(ss.getAs[Long]("n_sessions") == 4L)
    assert(ss.getAs[Long]("p99_us") >= ss.getAs[Long]("p10_us"))
    // heatmap: all events land in known cells and shares total ≤ 1e6
    val hm = EventAnalytics.eventsWeeklyHeatmap(spark, edgeEventsDir).collect()
    assert(hm.map(_.getAs[Long]("n_events")).sum == 25L)
    assert(hm.map(_.getAs[Long]("share_ppm")).sum <= 1000000L)
  }

  test("r10 events ops degrade on the adversarial log instead of throwing") {
    import graft.operators.EventAnalytics
    // autocorr: the whole log fits inside ONE calendar day, so every
    // lagged pair set is empty -> n_pairs 0 and r NULL (never a
    // zero-variance division)
    val ac = EventAnalytics.eventsAutocorr(spark, edgeEventsDir).collect()
    assert(ac.length == EventAnalytics.autocorrLags.length)
    ac.foreach { r =>
      assert(r.getAs[Long]("n_pairs") == 0L)
      assert(r.isNullAt(r.fieldIndex("r")))
    }
    // pareto: 4 users; ceiling thresholds keep >= 1 user at every p and
    // shares stay monotone, reaching the full mass at p where k = n
    val ps = EventAnalytics.eventsParetoShare(spark, edgeEventsDir)
      .collect().sortBy(_.getAs[Int]("top_pct"))
    assert(ps.forall(_.getAs[Long]("n_top_users") >= 1L))
    val shares = ps.map(_.getAs[Long]("event_share_ppm"))
    assert(shares.zip(shares.tail).forall { case (a, b) => a <= b })
    assert(ps.last.getAs[Long]("n_top_users") <= 4L)
  }

  test("r9 late-wave ops degrade on an all-empty corpus instead of throwing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_empty").toString
    Seq((0L, "", "en", "src0", 0L), (1L, "", "zh", "src1", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // waterfill: a zero-token corpus means budget 0 — shares degrade to
    // 0 (the guarded division), the cap stays NULL, nothing throws
    val wf = text.Curation.mixWaterfill(spark, dir).collect()
    assert(wf.length == 2)
    wf.foreach { r =>
      assert(r.getLong(2) == 0L && r.getLong(3) == 0L && r.isNullAt(4))
      assert(r.getLong(5) == 0L && !r.getBoolean(6) && r.getLong(7) == 0L)
    }
    // importance: no bigrams anywhere -> every doc 0-featured, 0-scored
    val imp = text.Importance.curationImportance(spark, dir).collect()
    assert(imp.length == 2)
    assert(imp.forall(r => r.getLong(2) == 0L && r.getDouble(3) == 0.0 &&
      r.getDouble(4) == 0.0))
    // lexical diversity: token-less docs carry no lexical evidence ->
    // an empty panel, not a division by zero
    assert(text.TextStats.lexicalDiversity(spark, dir).collect().isEmpty)
  }

  /** Repartition-by-number exchanges in a frame's physical plan. */
  private def repartitions(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
    }.size
  }

  test("fanOut shuffles a single-file scan and leaves a scan of enough files as it is") {
    import org.apache.spark.sql.functions.col
    val n = spark.sparkContext.defaultParallelism
    assume(n > 1, "one core: no scan is under-parallel")
    val key = col("l_orderkey")
    assert(repartitions(Tables.fanOut(Tables.lineitem(spark, TestSession.sf), key)) == 1)

    // lineitem as 2 × defaultParallelism files, read through a file: URI
    val tmp = Files.createTempDirectory("graft_fanout")
    try {
      Tables.lineitem(spark, TestSession.sf).repartition(2 * n)
        .write.parquet(tmp.resolve("lineitem.parquet").toString)
      val dir = s"file:$tmp"
      val lake = Tables.lineitem(spark, dir)
      assert(lake.inputFiles.length == 2 * n)
      assert(repartitions(Tables.fanOut(lake, key)) == 0)
      // exact decimal sums: the partitioning cannot move a digit
      assert(profile.Profiler.profileCorrelations(spark, dir).collect().toSeq ==
        profile.Profiler.profileCorrelations(spark, TestSession.sf).collect().toSeq)
    } finally {
      val tree = Files.walk(tmp)
      try tree.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally tree.close()
    }
  }
}
