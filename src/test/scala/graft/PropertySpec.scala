package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.TestSession
import graft.operators.GlobalRank
import graft.output.Secure

/** Property-based checks (scalacheck generators, fixed seeds — fully
  * deterministic) for the repo's load-bearing primitives: randomized
  * inputs probe the corners hand-written fixtures miss — duplicate-heavy
  * orders, adversarial graph shapes (chains at the pointer-jumping round
  * budget, cliques, stars, isolated nodes), arbitrary byte payloads
  * through the secure envelope.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(seed + i)))

  test("GlobalRank equals the total-order sort index, at any partitioning") {
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(1, 300)
      // small value domain forces heavy ties — the tiebreak must carry
      vals <- Gen.listOfN(n, Gen.choose(0L, 20L))
      parts <- Gen.choose(1, 7)
    } yield (vals, parts)
    samples(gen, 6, 41L).foreach { case (vals, parts) =>
      val df = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .toDF("v", "id").repartition(parts)
      val got = GlobalRank.withGlobalRank(df, "rk", col("v"), col("id"))
        .select(col("v"), col("id"), col("rk")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val want = vals.zipWithIndex.map { case (v, i) => (v, i.toLong) }
        .sortBy(identity).zipWithIndex
        .map { case ((v, i), k) => (v, i, k + 1L) }
      assert(got.sortBy(r => (r._1, r._2)).toSeq == want)
    }
  }

  test("withGlobalCumsum equals the sequential prefix sum at any partitioning") {
    import spark.implicits._
    // the packing primitive's contract, quantified: the distributed
    // two-pass prefix sum must equal the sequential scan under the same
    // total order, at every partition layout — ties included (the
    // tiebreak column makes the order total)
    val gen = for {
      n <- Gen.choose(1, 400)
      vals <- Gen.listOfN(n, Gen.choose(0L, 50L))
      keys <- Gen.listOfN(n, Gen.choose(0L, 9L)) // heavy key ties
      parts <- Gen.choose(1, 8)
    } yield (vals, keys, parts)
    samples(gen, 5, 911L).foreach { case (vals, keys, parts) =>
      val df = vals.zip(keys).zipWithIndex
        .map { case ((v, k), i) => (k, i.toLong, v) }
        .toDF("k", "id", "v").repartition(parts)
      val got = GlobalRank.withGlobalCumsum(df, "v", "cum", col("k"), col("id"))
        .select(col("k"), col("id"), col("cum")).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      var run = 0L
      vals.zip(keys).zipWithIndex
        .map { case ((v, k), i) => (k, i.toLong, v) }
        .sortBy(t => (t._1, t._2))
        .foreach { case (k, id, v) =>
          run += v
          assert(got((k, id)) == run, s"key=($k,$id)")
        }
    }
  }

  // More than 3 × 65,536 rows: GlobalRank sizes its range exchange at
  // one partition per 65,536 rows, capped at the session's 4 shuffle
  // partitions, so these frames sort into 4 range partitions and every
  // entry point takes its per-partition offset branch. `k` has 11
  // values and `v` 101, so both orders are mostly ties broken by `id`.
  private val multiRows = 250000L
  private def multiFrame = spark.range(multiRows).select(col("id"),
    (col("id") * 7919L % 11L).as("k"), (col("id") * 31L % 101L).as("v"))
  private lazy val multiRef: IndexedSeq[(Long, Long, Long)] =
    (0L until multiRows).map(id => (id, id * 7919L % 11L, id * 31L % 101L))

  test("withGlobalRank and withGlobalCumsum equal a sequential scan across 4 range partitions") {
    val byK = multiRef.sortBy(r => (r._2, r._1))
    val rk = GlobalRank.withGlobalRank(multiFrame, "rk", col("k"), col("id"))
    assert(rk.rdd.getNumPartitions == 4)
    val gotRk = rk.select(col("id"), col("rk")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byK.zipWithIndex.foreach { case (r, i) => assert(gotRk(r._1) == i + 1L, r) }
    val cs = GlobalRank.withGlobalCumsum(multiFrame, "v", "cum", col("k"), col("id"))
    assert(cs.rdd.getNumPartitions == 4)
    val gotCum = cs.select(col("id"), col("cum")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byK.map(_._3).scanLeft(0L)(_ + _).tail.zip(byK).foreach { case (c, r) =>
      assert(gotCum(r._1) == c, r)
    }
  }

  test("withGlobalRanks ranks two orderings across 4 range partitions") {
    val ranked = GlobalRank.withGlobalRanks(multiFrame, multiRows, Seq(
      ("rk_k", Seq(col("k"), col("id"))),
      ("rk_v", Seq(col("v").desc, col("id")))))
    assert(ranked.rdd.getNumPartitions == 4)
    val got = ranked.select(col("id"), col("rk_k"), col("rk_v")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    multiRef.sortBy(r => (r._2, r._1)).zipWithIndex.foreach { case (r, i) =>
      assert(got(r._1)._1 == i + 1L, r)
    }
    multiRef.sortBy(r => (-r._3, r._1)).zipWithIndex.foreach { case (r, i) =>
      assert(got(r._1)._2 == i + 1L, r)
    }
  }

  test("orderStats reads every rank across 4 range partitions, with a sum column") {
    // the range bounds are sampled, so the partition boundaries are not
    // known in advance: asking for every rank reads both sides of each
    val (n, total, at) = GlobalRank.orderStats(multiFrame,
      Seq(col("k"), col("id")), Some("v"), n => 1L to n)
    assert(n == multiRows)
    assert(total == multiRef.map(_._3).sum)
    assert(at.size == multiRows)
    multiRef.sortBy(r => (r._2, r._1)).zipWithIndex.foreach { case (r, i) =>
      val row = at(i + 1L)
      assert((row.getLong(0), row.getLong(1), row.getLong(2)) == r, i + 1L)
    }
  }

  test("waterfill first-match cap is the true optimum on random corpora") {
    // the exact derivation mixWaterfill plans (ascending sort, integer
    // floors, truncation toward zero) replayed as a pure function and
    // checked against brute force: feasible, maximal, or provably uncapped
    def firstMatchCap(ns: Seq[Long], num: Long, den: Long): Option[Long] = {
      val sorted = ns.sorted
      val k = sorted.size
      val b = sorted.sum * num / den
      var cum = 0L
      var res: Option[Long] = None
      var i = 0
      while (i < k && res.isEmpty) {
        val g = (b - cum) / (k - i)
        if (g < sorted(i)) res = Some(g)
        cum += sorted(i); i += 1
      }
      res
    }
    val gen = for {
      k <- Gen.choose(1, 12)
      ns <- Gen.listOfN(k, Gen.oneOf(Gen.const(0L), Gen.choose(0L, 9L),
        Gen.choose(0L, 100000L)))
      nd <- Gen.oneOf((3L, 5L), (1L, 2L), (2L, 1L), (1L, 10L), (9L, 10L))
    } yield (ns, nd._1, nd._2)
    samples(gen, 60, 97L).foreach { case (ns, num, den) =>
      val b = ns.sum * num / den
      def f(c: Long): Long = ns.map(math.min(_, c)).sum
      firstMatchCap(ns, num, den) match {
        case None    => assert(ns.sum <= b, s"$ns $num/$den")
        case Some(c) =>
          assert(c >= 0 && f(c) <= b && f(c + 1) > b, s"$ns $num/$den -> $c")
      }
    }
  }

  test("min-label propagation equals union-find on arbitrary graphs") {
    import spark.implicits._
    val shapeGen: Gen[Seq[(Long, Long)]] = Gen.oneOf(
      // random sparse graph
      for {
        n <- Gen.choose(2, 100)
        m <- Gen.choose(1, 120)
        edges <- Gen.listOfN(m, for {
          a <- Gen.choose(0L, n - 1L); b <- Gen.choose(0L, n - 1L)
        } yield (a, b))
      } yield edges.filter(e => e._1 != e._2),
      // a chain — probes the pointer-jumping log-round claim on the
      // deepest practical shape (2^20 budget covers length 300 easily)
      Gen.choose(50, 300).map(n => (0L until n.toLong).sliding(2).toSeq
        .map(s => (s.head, s.last))),
      // a clique plus a disjoint star
      Gen.choose(3, 20).map { k =>
        val clique = for (a <- 0L until k.toLong; b <- 0L until a) yield (b, a)
        val star = (1L to 5L).map(i => (1000L, 1000L + i))
        clique ++ star
      })
    samples(shapeGen, 7, 97L).filter(_.nonEmpty).foreach { edges =>
      val got = Dedup.propagateMinLabel(
        edges.toDF("doc_a", "doc_b"), 20).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference implementation: a tiny union-find
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val canon = nodes.groupBy(find).flatMap { case (_, ms) =>
        val mn = ms.min; ms.map(_ -> mn)
      }
      assert(got.keySet == nodes.toSet)
      nodes.foreach(v => assert(got(v) == canon(v), s"node $v"))
    }
  }

  test("prefix join is complete vs brute force on random corpora and τ") {
    import spark.implicits._
    // random overlapping-vocab corpora: the prefix filter's completeness
    // (no pair with J >= τ lost) must hold at EVERY rational τ, not just
    // the binary-exact default — this is the pigeonhole bound under test
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val gen = for {
      n <- Gen.choose(8, 24)
      docs <- Gen.listOfN(n, Gen.choose(3, 12).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))))
      tau <- Gen.oneOf((1L, 2L), (3L, 5L), (2L, 3L), (7L, 10L))
    } yield (docs, tau._1, tau._2)
    samples(gen, 4, 271L).foreach { case (docs, num, den) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_pj").toString
      docs.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "src0", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val shing: Map[Long, Set[String]] = docs.zipWithIndex.collect {
        case (t, i) if t.split(" ", -1).length >= 3 =>
          i.toLong -> t.split(" ", -1).sliding(3).map(_.mkString(" ")).toSet
      }.toMap
      val ids = shing.keys.toSeq.sorted
      val want = (for {
        ai <- ids.indices; bi <- (ai + 1) until ids.length
        a = ids(ai); b = ids(bi)
        c = (shing(a) & shing(b)).size.toLong
        u = shing(a).size + shing(b).size - c
        if c * den >= u * num
      } yield ((a, b), c)).toMap
      val got = Dedup.ngramPrefixJoin(spark, dir, num, den).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      assert(got == want, s"τ=$num/$den docs=${docs.take(3)}...")
    }
  }

  test("incremental cluster merge equals the full fixpoint on random " +
      "corpora, splits and τ") {
    import spark.implicits._
    // the flagship ingest invariant, quantified (r9 verdict #5): for ANY
    // corpus, ANY batch/corpus split and ANY exact rational τ, folding
    // the batch into the settled corpus-only clustering must equal the
    // from-scratch fixpoint over all documents. The gated query proves
    // it at the registered (md5-bucket, τ=1/2) configuration; this
    // proves the algorithm — contraction correctness (min-label survives
    // super-node lifting), one-sided prefix completeness at τ, and the
    // remap — on randomized inputs including empty batches and
    // everything-is-batch splits.
    val vocab = Vector("a", "b", "c", "d", "e")
    val gen = for {
      n <- Gen.choose(8, 22)
      docs <- Gen.listOfN(n, Gen.choose(3, 10).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))))
      // batch fraction spans the degenerate ends: 0 (pure settled
      // corpus) through 1 (everything arrives in one batch)
      frac <- Gen.oneOf(0, 1, 3, 5, 9, 10)
      tau <- Gen.oneOf((1L, 2L), (3L, 5L), (2L, 3L))
      salt <- Gen.choose(0L, 1000L)
    } yield (docs, frac, tau._1, tau._2, salt)
    samples(gen, 5, 433L).foreach { case (docs, frac, num, den, salt) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_inc").toString
      docs.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "src0", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      // a deterministic pseudo-random split at the drawn fraction
      val batchIds = docs.indices.map(_.toLong)
        .filter(i => ((i * 2654435761L + salt) % 10) < frac)
      val got = Incremental.incrementalComponentsWith(spark, dir,
          batchIds.toDF("doc_id"), num, den)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSeq.sorted
      val want = Dedup.components(spark, dir, num, den)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSeq.sorted
      assert(got == want,
        s"τ=$num/$den frac=$frac/10 batch=${batchIds.take(8)}...")
    }
  }

  test("ingest pipeline precedence equals the five-way CASE over " +
      "standalone stage verdicts on random corpora and memberships") {
    import spark.implicits._
    // the composed gate's contract, quantified (VERDICT r10 #4): for ANY
    // corpus and ANY batch membership, every batch doc's action must be
    // the FIRST matching stage of exact-corpus > exact-batch >
    // near-corpus > near-batch > cluster-merge > keep-new, where each
    // stage verdict is what the doc gets STANDALONE:
    //  - exact flags re-derived driver-side from raw text equality
    //    (fingerprint equality == text equality);
    //  - near flags from the standalone LSH-probe stage (banding is
    //    part of the near stage's DEFINITION — candidates only exist
    //    where a band collides — so the stage op is its own spec here;
    //    its J >= 1/2 verification is prefix-property-tested above);
    //  - canon from a pure union-find over BRUTE-FORCE Jaccard >= 1/2
    //    pairs of all docs (complete ground truth; the incremental ==
    //    full-fixpoint property above licenses the comparison).
    // Pipeline2Spec pins one planted instance; this proves the CASE.
    val vocab = Vector("a", "b", "c", "d", "e")
    val gen = for {
      n <- Gen.choose(8, 20)
      docs <- Gen.listOfN(n, Gen.choose(3, 10).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))))
      // force exact-dup pressure: some docs copy an earlier doc
      dups <- Gen.listOfN(n, Gen.choose(0, 3))
      frac <- Gen.oneOf(1, 3, 5, 9, 10)
      salt <- Gen.choose(0L, 1000L)
    } yield (docs.zip(dups).zipWithIndex.map { case ((t, d), i) =>
      if (d == 0 && i > 0) docs((i * 7) % i) else t
    }, frac, salt)
    samples(gen, 4, 1723L).foreach { case (docs, frac, salt) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_pp").toString
      docs.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", "src0", t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/documents.parquet")
      val batchIds = docs.indices.map(_.toLong)
        .filter(i => ((i * 2654435761L + salt) % 10) < frac)
      val batchSet = batchIds.toSet
      // --- driver-side stage oracles ---
      val byText = docs.zipWithIndex.groupBy(_._1)
        .map { case (t, xs) => t -> xs.map(_._2.toLong).sorted }
      def exactCorpusDup(d: Long) =
        byText(docs(d.toInt)).exists(o => !batchSet(o))
      def exactBatchDup(d: Long) =
        byText(docs(d.toInt)).exists(o => batchSet(o) && o < d)
      val nearRows = Incremental.dedupIncrementalMinhashWith(spark, dir,
          col("doc_id").isin(batchIds: _*)).collect()
      val nearCorpus = nearRows.filter(_.getString(2) == "corpus")
        .map(_.getLong(0)).toSet
      val nearBatch = nearRows.filter(_.getString(2) == "batch")
        .map(_.getLong(1)).toSet
      // union-find over brute-force J >= 1/2 pairs (3-gram shingles)
      val shing: Map[Long, Set[String]] = docs.zipWithIndex.map {
        case (t, i) =>
          val w = t.split(" ", -1).filter(_.nonEmpty)
          i.toLong -> (if (w.length >= 3)
            w.sliding(3).map(_.mkString(" ")).toSet else Set.empty[String])
      }.toMap
      val parent = scala.collection.mutable.Map(
        docs.indices.map(i => i.toLong -> i.toLong): _*)
      def find(x: Long): Long =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      for {
        a <- docs.indices.map(_.toLong); b <- docs.indices.map(_.toLong)
        if a < b
        c = (shing(a) & shing(b)).size.toLong
        u = shing(a).size + shing(b).size - c
        if u > 0 && c * 2 >= u
      } { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
      def canonOf(d: Long) = find(d)
      val want = batchIds.sorted.map { d =>
        val action =
          if (exactCorpusDup(d)) "drop_exact_corpus"
          else if (exactBatchDup(d)) "drop_exact_batch"
          else if (nearCorpus(d)) "drop_near_corpus"
          else if (nearBatch(d)) "drop_near_batch"
          else if (canonOf(d) != d) "merge_cluster"
          else "keep_new"
        (d, exactCorpusDup(d), exactBatchDup(d), nearCorpus(d), nearBatch(d),
          canonOf(d), action)
      }
      val got = Incremental.ingestPipelineWith(spark, dir, batchIds)
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
          r.getBoolean(3), r.getBoolean(4), r.getLong(5), r.getString(6)))
        .toSeq.sortBy(_._1)
      assert(got == want, s"frac=$frac salt=$salt docs=${docs.take(4)}...")
    }
  }

  test("secure envelope round-trips arbitrary payloads; tampering fails") {
    val gen = for {
      n <- Gen.choose(0, 4096)
      bytes <- Gen.listOfN(n, Gen.choose(Byte.MinValue, Byte.MaxValue))
      pw <- Gen.listOfN(8, Gen.alphaNumChar).map(_.mkString)
    } yield (bytes.toArray, pw)
    samples(gen, 6, 7L).foreach { case (payload, pw) =>
      assert(Secure.gunzip(Secure.gzip(payload)).sameElements(payload))
      assert(Secure.unzstd(Secure.zstd(payload)).sameElements(payload))
      val blob = Secure.encrypt(payload, pw)
      assert(Secure.decrypt(blob, pw).sameElements(payload))
      // authenticated encryption: a single flipped ciphertext bit fails
      val tampered = blob.clone()
      val i = tampered.length - 1
      tampered(i) = (tampered(i) ^ 1).toByte
      intercept[Exception](Secure.decrypt(tampered, pw))
      intercept[Exception](Secure.decrypt(blob, pw + "x"))
    }
  }
}
