package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{BpeTokenCount, MinShingleMd5, TextOps}
import graft.text.{Curation, TextStats}

/** Semantic invariants for the curation-stage operators on sf0.001
  * (cross-engine value parity runs in the Verify/oracle gate).
  */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("split partitions the corpus and shares sum to 1 per split") {
    val rows = Curation.splitAssign(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(total == nDocs)
    val bySplit = rows.groupBy(_.getAs[String]("split"))
    assert(bySplit.keySet.subsetOf(Set("train", "valid", "test")))
    assert(bySplit.contains("train"))
    for ((_, cells) <- bySplit) {
      val share = cells.map(_.getAs[Double]("split_doc_share")).sum
      assert(math.abs(share - 1.0) < 1e-9)
    }
    // hash split => deterministic across runs
    val again = Curation.splitAssign(spark, dir).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)))
  }

  test("temperature sweep: T=1 is the natural mix, higher T flattens it") {
    val rows = Curation.mixTemperature(spark, dir).collect()
    val byT = rows.groupBy(_.getAs[Int]("t"))
    assert(byT.keySet == Curation.mixTemperatures.toSet)
    byT.foreach { case (t, rs) =>
      val shares = rs.map(_.getAs[Double]("sample_share"))
      assert(math.abs(shares.sum - 1.0) < 1e-9, s"T=$t shares")
      if (t == 1)
        // weight == n_tokens exactly -> boost is identically 1
        rs.foreach(r => assert(r.getAs[Double]("boost") == 1.0))
    }
    // flattening: the dominant source's share shrinks monotonically in T
    val maxShare = Curation.mixTemperatures
      .map(t => byT(t).map(_.getAs[Double]("sample_share")).max)
    assert(maxShare.zip(maxShare.tail).forall { case (a, b) => b <= a + 1e-12 },
      maxShare.toString)
  }

  test("keepBest keeps exactly the highest-quality member per component") {
    val kept = Curation.keepBest(spark, dir).collect()
    val quality = TextStats.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val comp = text.Dedup.components(spark, dir)
      .select(col("doc_id"), col("canon_id"), col("component_size")).collect()
    val members = comp.groupBy(_.getAs[Long]("canon_id"))
    assert(kept.length == members.size) // one survivor per component
    for (r <- kept) {
      val cid = r.getAs[Long]("canon_id")
      val ms = members(cid).map(_.getAs[Long]("doc_id"))
      val best = ms.map(m => (quality(m), m)).sortBy(t => (-t._1, t._2)).head
      assert(r.getAs[Long]("kept_doc_id") == best._2)
      assert(r.getAs[Double]("kept_quality") == best._1)
      assert(r.getAs[Long]("n_dropped") == ms.length - 1)
    }
  }

  test("packShards reproduces a driver-side next-fit fold exactly") {
    val out = Curation.packShards(spark, dir).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("bucket"),
        r.getAs[Int]("shard_id")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("shard_tokens"))).toMap
    // recompute the offset-based shard assignment sequentially, with the
    // same mass-derived lane count: ceil(source_tokens / laneTokenTarget)
    val raw = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"),
        expr("size(filter(split(text, ' '), t -> t <> ''))").as("toks"),
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)").as("h"))
      .collect()
      .map(r => (r.getString(1), r.getLong(3), r.getLong(0), r.getInt(2)))
    val lanes = raw.groupBy(_._1).map { case (s, rs) =>
      s -> math.max(1L, (rs.map(_._4.toLong).sum + Curation.laneTokenTarget - 1) /
        Curation.laneTokenTarget)
    }
    val docs = raw
      .map { case (src, h, id, toks) => (src, (h % lanes(src)).toInt, id, toks) }
      .sortBy(t => (t._1, t._2, t._3))
    val expected = scala.collection.mutable.Map[(String, Int, Int), (Long, Long)]()
    var cum = Map[(String, Int), Long]().withDefaultValue(0L)
    for ((src, bkt, _, toks) <- docs) {
      val off = cum((src, bkt))
      val shard = (off / Curation.shardCapacity).toInt
      val (n, t) = expected.getOrElse((src, bkt, shard), (0L, 0L))
      expected((src, bkt, shard)) = (n + 1, t + toks)
      cum = cum.updated((src, bkt), off + toks)
    }
    assert(out == expected.toMap)
    // shard ids are contiguous from 0 within each lane
    for (((_, _), shards) <- out.keys.groupBy(k => (k._1, k._2))) {
      val ids = shards.map(_._3).toSeq.sorted
      assert(ids == (0 until ids.length))
    }
  }

  test("packSequences reproduces a driver-side concatenate-and-chunk exactly") {
    val out = Curation.packSequences(spark, dir).collect()
      .map(r => r.getAs[Long]("seq_id") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_doc_starts"),
          r.getAs[Long]("seq_tokens"), r.getAs[Long]("fill_ppm")))
    // driver recompute: same content-keyed total order, one token stream
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        expr("size(filter(split(text, ' '), t -> t <> ''))").as("toks"),
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)").as("h"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2)))
      .filter(_._2 > 0)
      .sortBy(t => (t._3, t._1))
    val L = Curation.seqLen
    val expected = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    var off = 0L
    for ((_, toks, _) <- docs) {
      val start = off; val end = off + toks
      for (seq <- start / L to (end - 1) / L) {
        val (n, st, tk) = expected.getOrElse(seq, (0L, 0L, 0L))
        val overlap = math.min(end, (seq + 1) * L) - math.max(start, seq * L)
        expected(seq) = (n + 1, st + (if (start / L == seq) 1L else 0L), tk + overlap)
      }
      off = end
    }
    assert(out.length == expected.size)
    out.foreach { case (seq, (n, st, tk, ppm)) =>
      val (en, est, etk) = expected(seq)
      assert((n, st, tk) == (en, est, etk), s"seq $seq")
      assert(ppm == tk * 1000000L / L)
    }
    // the stream is gapless: contiguous seq ids, full sequences except the
    // tail, token mass conserved
    val ids = out.map(_._1).sorted
    assert(ids.sameElements(0L until ids.length))
    out.filter(_._1 < ids.length - 1).foreach { case (seq, (_, _, tk, _)) =>
      assert(tk == L, s"interior seq $seq not full")
    }
    assert(out.map(_._2._3).sum == docs.map(_._2).sum)
    assert(out.map(_._2._2).sum == docs.length)
  }

  test("dedupInflation charges every non-keeper's mass to its own source") {
    val out = Curation.dedupInflation(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("dup_docs"), r.getAs[Long]("dup_tokens"),
          r.getAs[Long]("inflation_ppm"))).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"),
        expr("size(filter(split(text, ' '), t -> t <> ''))").as("toks"),
        md5(col("text")).as("fp"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong, r.getString(3)))
    val keeper = docs.groupBy(_._4).map { case (fp, g) => fp -> g.map(_._1).min }
    val expected = docs.groupBy(_._2).map { case (src, g) =>
      val dups = g.filter(d => keeper(d._4) != d._1)
      val nTok = g.map(_._3).sum
      src -> (g.length.toLong, nTok, dups.length.toLong, dups.map(_._3).sum,
        dups.map(_._3).sum * 1000000L / nTok)
    }
    assert(out == expected)
    // the small-SF corpus has no exact dups (first dups appear at sf0.1),
    // so the duplicate accounting is proven on a PLANTED cross-source
    // fixture: fp "x" keeper is doc 1 in source a; docs 2 (a) and 3 (b)
    // are its copies; doc 4 (b) is unique
    import spark.implicits._
    val planted = Seq(
      (1L, "a", 10L, "x"), (2L, "a", 10L, "x"),
      (3L, "b", 10L, "x"), (4L, "b", 7L, "y"))
      .toDF("doc_id", "source", "toks", "fp")
    val p = Curation.dedupInflationFrom(planted).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("dup_docs"), r.getAs[Long]("dup_tokens"),
          r.getAs[Long]("inflation_ppm"))).toMap
    assert(p("a") == (2L, 20L, 1L, 10L, 500000L)) // doc 2 duplicates doc 1
    assert(p("b") == (2L, 17L, 1L, 10L, 588235L)) // doc 3's mass charged to b
  }

  test("mixEpochs: targets partition the budget; epochs_ppm is the exact floor quotient") {
    val rows = Curation.mixEpochs(spark, dir).collect()
    assert(rows.nonEmpty)
    val B = Curation.mixEpochBudget
    // recompute from the same quantized weights
    val g = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), expr("size(filter(split(text, ' '), t -> t <> ''))").as("toks"))
      .groupBy("source").agg(sum(col("toks")).cast("long").as("n_tokens"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val uw = g.map { case (s, n) =>
      s -> BigDecimal(math.sqrt(n.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .*(BigDecimal(1000000)).toBigIntExact.get
    }
    val uW = uw.values.sum
    rows.foreach { r =>
      val s = r.getAs[String]("source")
      assert(r.getAs[Long]("n_tokens") == g(s))
      assert(BigInt(r.getAs[Long]("target_tokens")) == BigInt(B) * uw(s) / uW)
      val ppm = BigInt(B) * uw(s) * 1000000 / (uW * BigInt(g(s)))
      assert(BigInt(r.getAs[Long]("epochs_ppm")) == ppm, s"$s")
      assert(r.getAs[Long]("epochs_full") == (ppm / 1000000).toLong)
      assert(r.getAs[Boolean]("needs_repeat") == (ppm > 1000000))
    }
    // floor targets can each drop < 1 token vs the exact share
    val targetSum = rows.map(_.getAs[Long]("target_tokens")).sum
    assert(targetSum <= B && targetSum > B - rows.length)
  }

  test("packShards lane count scales with token mass and stays deterministic") {
    def laneCounts(d: String): Map[String, Int] =
      Curation.packShards(spark, d).collect()
        .groupBy(_.getAs[String]("source"))
        .view.mapValues(_.map(_.getAs[Int]("bucket")).distinct.length).toMap
    val small = laneCounts(dir)
    // documents is ~500 rows at BOTH sf0.001 and sf0.01; the 10x token
    // mass step is at sf0.1 (~13.5k tokens/source => ~4 lanes each)
    val big = laneCounts("/root/testdata/sf0.1")
    // 10x the corpus => strictly more packing lanes overall, never fewer
    // per source; shard ~8-per-lane stays an executor-sized work unit
    assert(big.values.sum > small.values.sum)
    for ((s, n) <- small if big.contains(s)) assert(big(s) >= n)
    // determinism: same input => identical shard report
    val a = Curation.packShards(spark, dir).collect().map(_.toString)
    val b = Curation.packShards(spark, dir).collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("mixWeights shares sum to 1 and sqrt-boost is monotone in tokens") {
    val rows = Curation.mixWeights(spark, dir).collect()
    assert(math.abs(rows.map(_.getAs[Double]("sample_share")).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getAs[Double]("natural_share")).sum - 1.0) < 1e-9)
    // boost = Σt / (Σ√t · √t_i): strictly decreasing in n_tokens
    val byTokens = rows.sortBy(_.getAs[Long]("n_tokens"))
    val boosts = byTokens.map(_.getAs[Double]("boost"))
    for (Seq((a, ta), (b, tb)) <- boosts.zip(byTokens.map(_.getAs[Long]("n_tokens")))
        .toSeq.sliding(2)) {
      if (ta < tb) assert(a > b)
    }
    // smallest source is up-sampled, largest down-sampled (unless uniform)
    if (byTokens.head.getAs[Long]("n_tokens") < byTokens.last.getAs[Long]("n_tokens")) {
      assert(boosts.head > 1.0 - 1e-12 || boosts.head > boosts.last)
      assert(boosts.last < 1.0 + 1e-12 || boosts.head > boosts.last)
    }
  }

  test("BPE token budgeting wires through pack/mix and agrees with bpe_encode (r6)") {
    import graft.text.BpeTrainer
    // the BPE accounting unit: total subwords across all shards must
    // equal the sum of bpe_encode's per-doc n_tokens (two independent
    // derivations of the same trained-tokenizer count)
    val encTotal = BpeTrainer.bpeEncode(spark, dir).agg(sum(col("n_tokens")))
      .collect().head.getLong(0)
    val shardTotal = Curation.packShardsBpe(spark, dir)
      .agg(sum(col("shard_tokens"))).collect().head.getLong(0)
    assert(shardTotal == encTotal, s"shards $shardTotal vs encode $encTotal")
    // mix_weights_bpe budgets in the same unit...
    val mixTotal = Curation.mixWeightsBpe(spark, dir)
      .agg(sum(col("n_tokens"))).collect().head.getLong(0)
    assert(mixTotal == encTotal)
    // ...and the subword unit genuinely differs from whitespace counting
    val wsTotal = Curation.mixWeights(spark, dir)
      .agg(sum(col("n_tokens"))).collect().head.getLong(0)
    assert(mixTotal > wsTotal, s"bpe $mixTotal vs whitespace $wsTotal")
    // the temperature sweep honors the selector too: its T=2 point is
    // exactly mix_weights_bpe's sqrt weighting
    val sweep = Curation.mixTemperatureWith(spark, dir, "bpe")
      .filter(col("t") === 2).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("sample_share"))).toMap
    Curation.mixWeightsBpe(spark, dir).collect().foreach { r =>
      val (nt, share) = sweep(r.getAs[String]("source"))
      assert(nt == r.getAs[Long]("n_tokens"))
      assert(math.abs(share - r.getAs[Double]("sample_share")) < 1e-12)
    }
    // an unknown selector fails loudly, not silently-whitespace
    intercept[IllegalArgumentException](
      Curation.packShardsWith(spark, dir, "bytes"))
  }

  test("packCurriculum: shards tile the score order; driver recompute matches") {
    val rows = Curation.packCurriculum(spark, dir).collect()
      .sortBy(_.getAs[Int]("shard_id"))
    // driver-side recompute of the whole schedule from the operator's
    // own inputs (score from the registered quality op)
    val docs = TextStats.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score")).toMap
    val toks = Tables.documents(spark, dir)
      .selectExpr("doc_id", "size(filter(split(text, ' '), t -> t <> '')) AS t")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("t").toLong))
      .filter(_._2 > 0)
    val ordered = toks.map { case (id, t) => (docs(id), id, t) }
      .sortBy { case (s, id, _) => (s, id) }
    var cum = 0L
    val assign = ordered.map { case (s, id, t) =>
      val shard = (cum / Curation.shardCapacity).toInt
      cum += t
      (shard, s, t)
    }
    val expect = assign.groupBy(_._1).map { case (sh, es) =>
      (sh, (es.length.toLong, es.map(_._3).sum,
        es.map(_._2).min, es.map(_._2).max))
    }
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val sh = r.getAs[Int]("shard_id")
      val (n, t, lo, hi) = expect(sh)
      assert(r.getAs[Long]("n_docs") == n, s"shard $sh docs")
      assert(r.getAs[Long]("shard_tokens") == t, s"shard $sh tokens")
      assert(r.getAs[Double]("min_score") == lo && r.getAs[Double]("max_score") == hi)
    }
    // curriculum property: shard score ranges tile without overlap
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(a.getAs[Double]("max_score") <= b.getAs[Double]("min_score"),
        s"shards ${a.getAs[Int]("shard_id")}/${b.getAs[Int]("shard_id")} overlap")
    }
    assert(rows.map(_.getAs[Long]("shard_tokens")).sum == toks.map(_._2).sum)
  }

  test("mixApply realizes the target shares within hash-sampling noise") {
    val rows = Curation.mixApply(spark, dir).collect()
    val weights = Curation.mixWeights(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"), r.getAs[Double]("boost"))).toMap
    assert(rows.map(_.getAs[String]("source")).toSet == weights.keySet)
    val maxBoost = weights.values.map(_._3).max
    rows.foreach { r =>
      val s = r.getAs[String]("source")
      val (nd, nt, boost) = weights(s)
      // acceptance rate is boost scaled so the max-boost source keeps all
      assert(math.abs(r.getAs[Double]("accept_rate") - boost / maxBoost) < 1e-12, s)
      // kept counts never exceed the source totals
      assert(r.getAs[Long]("n_docs_kept") <= nd && r.getAs[Long]("n_tokens_kept") <= nt, s)
      // realized share tracks the target within md5-sampling noise
      // (20-25 docs/source at sf0.001 -> generous band)
      val diff = math.abs(r.getAs[Double]("realized_share") - r.getAs[Double]("target_share"))
      assert(diff < 0.05, s"$s realized ${r.getAs[Double]("realized_share")} vs target ${r.getAs[Double]("target_share")}")
    }
    // the max-boost source is kept in full
    val full = rows.find(r => math.abs(r.getAs[Double]("accept_rate") - 1.0) < 1e-12).get
    val fullSrc = full.getAs[String]("source")
    assert(full.getAs[Long]("n_docs_kept") == weights(fullSrc)._1)
    // deterministic: rerun is identical
    val again = Curation.mixApply(spark, dir).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }

  // ---- native text kernels vs the lambda forms they replaced --------
  //
  // Generated strings mix ASCII, runs of spaces and 2-, 3- and 4-byte
  // code points, 0-12 code points long, plus NULL. Each kernel runs
  // through a DataFrame (whole-stage codegen, `doGenCode`) and through
  // `eval` on a bound row (interpreted, `nullSafeEval`); both must equal
  // the old higher-order-lambda expression row for row.

  private val kernelStrings: Seq[String] = {
    val codePoint = Gen.oneOf(
      Gen.oneOf("a", "b", "c", "x"),
      Gen.const(" "), Gen.const("   "),
      Gen.oneOf("é", "ß"),       // 2 bytes
      Gen.oneOf("中", "文"),     // 3 bytes
      Gen.oneOf("😀", "𝔸"),     // 4 bytes
      // merge pairs, so repeats build the chains only a second
      // replace pass catches
      Gen.oneOf("ab", "xx", "😀😀"))
    val gen = for {
      n <- Gen.choose(0, 12)
      cps <- Gen.listOfN(n, codePoint)
    } yield cps.mkString.codePoints.limit(12).toArray
      .map(cp => new String(Character.toChars(cp))).mkString
    (0 until 400).flatMap(i => gen(Gen.Parameters.default, Seed(7919L + i))) :+ null
  }

  /** `c` over `kernelStrings`, in order. The frame is an RDD, so the
    * projection runs in tasks instead of being folded at planning time;
    * with `compiled = Some(name)` it must also sit inside whole-stage
    * codegen (a lambda in the same projection would knock it out). */
  private def kernelColumn(c: Column, compiled: Option[String] = None): Seq[Any] = {
    import spark.implicits._
    val df = spark.sparkContext.parallelize(kernelStrings.zipWithIndex.map(_.swap), 3)
      .toDF("id", "text").select(col("id"), c)
    compiled.foreach { name =>
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case w: WholeStageCodegenExec => w.child.collect {
        case p: ProjectExec if p.projectList.exists(_.toString.contains(name)) => p
      } }.flatten.nonEmpty, plan.toString)
    }
    df.collect().sortBy(_.getInt(0)).map(_.get(1)).toSeq
  }

  private def evalOn(e: org.apache.spark.sql.catalyst.expressions.Expression,
      s: String): Any =
    e.eval(InternalRow(if (s == null) null else UTF8String.fromString(s)))

  test("min_shingle_md5 equals the array_min-of-md5 lambda, codegen and interpreted") {
    for (k <- Seq(1, 3, 5)) {
      val reference = expr(
        s"""CASE WHEN length(text) >= $k THEN array_min(transform(
           |  sequence(1, length(text) - ${k - 1}), i -> md5(substring(text, i, $k))))
           |  ELSE NULL END""".stripMargin)
      val want = kernelColumn(reference)
      val got = kernelColumn(TextOps.min_shingle_md5(col("text"), k), Some("min_shingle_md5"))
      val interpreted = MinShingleMd5(BoundReference(0, StringType, nullable = true), k)
      kernelStrings.indices.foreach { i =>
        val text = kernelStrings(i)
        assert(got(i) == want(i), s"k=$k codegen, text='$text'")
        val viaEval = Option(evalOn(interpreted, text)).map(_.toString).orNull
        assert(viaEval == want(i), s"k=$k interpreted, text='$text'")
      }
      // the generator reaches both sides of the k-code-point cut
      assert(want.contains(null) && want.exists(_ != null))
    }
  }

  test("bpe_token_count equals the transform/aggregate merge-chain lambda, codegen and interpreted") {
    // chains over every byte width, plus merges that build on earlier ones
    val merges = Seq(("a", "b"), ("ab", "c"), ("é", "中"), ("😀", "😀"),
      ("x", "x"), ("😀😀", "𝔸"), ("c", "c"), ("文", "ß"))
    def encodeWord(t: Column): Column = {
      val spaced = concat(lit(" "), concat_ws(" ", split(t, "")), lit(" "))
      val merged = merges.foldLeft(spaced) { case (c, (a, b)) =>
        val pat = lit(s" $a $b ")
        val rep = lit(s" $a$b ")
        replace(replace(c, pat, rep), pat, rep)
      }
      size(split(trim(merged), " ")).cast("long")
    }
    val words = filter(split(col("text"), " "), t => t =!= lit(""))
    val reference = aggregate(transform(words, encodeWord _), lit(0L), (acc, x) => acc + x)
    val want = kernelColumn(reference)
    val got = kernelColumn(TextOps.bpe_token_count(col("text"), merges), Some("bpe_token_count"))
    val interpreted = BpeTokenCount(BoundReference(0, StringType, nullable = true), merges)
    kernelStrings.indices.foreach { i =>
      val text = kernelStrings(i)
      assert(got(i) == want(i), s"codegen, text='$text'")
      assert(evalOn(interpreted, text) == want(i), s"interpreted, text='$text'")
    }
    // NULL stays NULL, a wordless text counts 0, and merges really fired
    val byText = kernelStrings.zip(want).toMap
    assert(byText(null) == null && byText("") == 0L)
    assert(byText.exists { case (t, n) =>
      val syms = Option(t).map(_.replace(" ", "")).getOrElse("")
      n != null && n.asInstanceOf[Long] < syms.codePointCount(0, syms.length)
    })
  }
}
