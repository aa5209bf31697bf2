package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-11 regression specs: the shared-artifact memo key must keep
  * `dir` alongside the content fingerprint (VERDICT r10 #2 / ADVICE
  * medium — a `cp -r`'d corpus preserves relative layout, sizes and
  * mtimes, so its fingerprint COLLIDES with the original's; a
  * fingerprint-only key would then serve corpus A's trained artifacts
  * to corpus B, and any non-java.nio-visible dir degrades to the shared
  * "absent" sentinel with the same effect).
  */
class Round11Spec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def mkCorpus(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_r11").toString
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "src0", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Byte-identical copy preserving sizes AND mtimes — the fingerprint
    * collision a plain `cp -r -p` produces. */
  private def cloneCorpus(src: String): String = {
    val dst = Files.createTempDirectory("graft_r11c").toString
    val root = Paths.get(src)
    val s = Files.walk(root)
    try s.forEach { p =>
      val q = Paths.get(dst).resolve(root.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else {
        Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES,
          StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(q, Files.getLastModifiedTime(p))
      }
    } finally s.close()
    dst
  }

  private def artifactPaths(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten

  test("byte-identical corpus dirs get DISTINCT shared artifacts") {
    val a = mkCorpus(Seq("alpha beta gamma delta", "alpha beta gamma delta",
      "epsilon zeta eta theta"))
    val b = cloneCorpus(a)
    // the collision precondition: identical content fingerprints
    assert(SharedArtifacts.tableFingerprint(spark, a, "documents") ==
      SharedArtifacts.tableFingerprint(spark, b, "documents"),
      "clone must reproduce the fingerprint for this test to bite")
    // the fix: the memo key still distinguishes them
    assert(SharedArtifacts.memoKey(spark, a, "components") !=
      SharedArtifacts.memoKey(spark, b, "components"))
    // and each dir materializes its OWN artifact file
    val compA = graft.text.Dedup.componentsTable(spark, a)
    val compB = graft.text.Dedup.componentsTable(spark, b)
    assert(artifactPaths(compA).nonEmpty)
    assert(artifactPaths(compA).intersect(artifactPaths(compB)).isEmpty,
      s"dirs must not share an artifact: ${artifactPaths(compA)}")
    assert(compA.count() == 3 && compB.count() == 3)
  }

  test("a non-java.nio-visible dir cannot alias another via 'absent'") {
    // both fingerprints degrade to the shared "absent" sentinel; the
    // dir component keeps the keys distinct
    assert(SharedArtifacts.tableFingerprint(spark, "/nonexistent/x", "documents")
      == "absent")
    assert(SharedArtifacts.memoKey(spark, "/nonexistent/x", "bpe-toks") !=
      SharedArtifacts.memoKey(spark, "/nonexistent/y", "bpe-toks"))
  }

  test("stats_funnel_ztest: z equals the driver-side pooled two-proportion recompute") {
    // synthetic two-era log (sf0.001's whole horizon lands pre-era, so
    // the real fixture can only exercise the NULL degrade — asserted at
    // the end); deterministic conversions in both eras
    import spark.implicits._
    val sf = {
      val dir = Files.createTempDirectory("graft_zt").toString
      val pre = java.sql.Timestamp.valueOf("2024-01-05 12:00:00")
      val post = java.sql.Timestamp.valueOf("2024-01-20 12:00:00")
      val later = java.sql.Timestamp.valueOf("2024-01-25 12:00:00")
      val rows = (1L to 40L).flatMap { u =>
        val t = if (u <= 22) pre else post
        Seq((u * 10, t, u, "signup", 1.0, "{}")) ++
          (if (u % 3 == 0) Seq((u * 10 + 1, later, u, "purchase", 5.0, "{}"))
           else Seq.empty)
      }
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val row = SparkEntry.queries("stats_funnel_ztest")(spark, sf)
      .collect().head
    // stage recompute from raw events, pure Scala
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val tSignup = ev.filter(_._2 == "signup").groupBy(_._1)
      .map { case (u, xs) => u -> xs.map(_._3).min }
    val conv = tSignup.keySet.filter(u => ev.exists(e =>
      e._1 == u && e._2 == "purchase" && e._3 >= tSignup(u)))
    val pre = tSignup.filter(_._2 < graft.operators.Stats.eraSplitUs).keySet
    val (n1, x1) = (pre.size.toLong, (pre & conv).size.toLong)
    val n2 = tSignup.size.toLong - n1
    val x2 = conv.size.toLong - x1
    assert(row.getAs[Long]("n_pre") == n1 && row.getAs[Long]("x_pre") == x1)
    assert(row.getAs[Long]("n_post") == n2 && row.getAs[Long]("x_post") == x2)
    assert(row.getAs[Long]("conv_ppm_pre") == x1 * 1000000L / n1)
    val p = (x1 + x2).toDouble / (n1 + n2).toDouble
    val z = (x1.toDouble / n1.toDouble - x2.toDouble / n2.toDouble) /
      math.sqrt(p * (1.0 - p) * (1.0 / n1.toDouble + 1.0 / n2.toDouble))
    assert(math.abs(row.getAs[Double]("z_score") - z) < 1e-12, s"z=$z vs $row")
    assert(row.getAs[Boolean]("significant_95") == (math.abs(z) >= 1.96))
    // the real sf0.001 fixture: its one-sided horizon must DEGRADE to
    // NULL z (empty post era), never divide by zero
    val real = SparkEntry.queries("stats_funnel_ztest")(spark, TestSession.sf)
      .collect().head
    assert(real.getAs[Long]("n_post") == 0L || real.getAs[Long]("n_pre") == 0L
      || real.getAs[Any]("z_score") != null)
    if (real.getAs[Long]("n_post") == 0L)
      assert(real.getAs[Any]("z_score") == null &&
        real.getAs[Any]("significant_95") == null)
  }

  test("stats_chisq_independence: the zero-cell identity equals the textbook sum") {
    val sf = TestSession.sf
    val rows = SparkEntry.queries("stats_chisq_independence")(spark, sf)
      .collect().map(r => r.getAs[String]("table_name") -> r).toMap
    // textbook recompute over the FULL margin cross product (absent
    // cells contribute (0-e)^2/e = e) — the identity the operator uses
    // must agree, zero cells included
    val cells = graft.Tables.documents(spark, sf)
      .groupBy(col("lang"), col("source")).count()
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val xs = cells.keys.map(_._1).toSeq.distinct
    val ys = cells.keys.map(_._2).toSeq.distinct
    val n = cells.values.sum.toDouble
    val cx = xs.map(x => x -> cells.filter(_._1._1 == x).values.sum.toDouble).toMap
    val cy = ys.map(y => y -> cells.filter(_._1._2 == y).values.sum.toDouble).toMap
    val chi2 = (for { x <- xs; y <- ys } yield {
      val e = cx(x) * cy(y) / n
      val o = cells.getOrElse((x, y), 0L).toDouble
      (o - e) * (o - e) / e
    }).sum
    val got = rows("documents")
    assert(got.getAs[Long]("dof") == (xs.size - 1).toLong * (ys.size - 1))
    assert(math.abs(got.getAs[Double]("chi2") - chi2) /
      math.max(chi2, 1.0) < 1e-6,
      s"chi2=$chi2 vs ${got.getAs[Double]("chi2")}")
    val v = math.sqrt(chi2 / (n * math.min(xs.size - 1, ys.size - 1)))
    assert(math.abs(got.getAs[Double]("cramers_v") - v) < 1e-6)
  }

  test("stats_welch_ttest: t and dof equal the driver-side Welch recompute") {
    val sf = TestSession.sf
    val row = SparkEntry.queries("stats_welch_ttest")(spark, sf).collect().head
    val xs = graft.Tables.orders(spark, sf)
      .select(col("o_orderdate") < lit("1998-01-01").cast("timestamp"),
        col("o_totalprice"))
      .collect().map(r => (r.getBoolean(0), r.getDouble(1)))
    def stats(pre: Boolean) = {
      val v = xs.filter(_._1 == pre).map(_._2 / 1000.0)
      val n = v.length.toDouble
      val m = v.sum / n
      (n, m, v.map(x => (x - m) * (x - m)).sum / (n - 1))
    }
    val (n1, m1, v1) = stats(true)
    val (n2, m2, v2) = stats(false)
    assert(row.getAs[Long]("n_pre") == n1.toLong &&
      row.getAs[Long]("n_post") == n2.toLong)
    assert(math.abs(row.getAs[Double]("mean_pre") - m1 * 1000.0) < 1e-6)
    val se = v1 / n1 + v2 / n2
    val t = (m1 - m2) / math.sqrt(se)
    val dof = se * se /
      ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1))
    // the operator floors Σx² at 1e-4 (the 2^53 edge device), so the
    // recompute agrees to ~1e-6 relative, not bit-exactly
    assert(math.abs(row.getAs[Double]("t_stat") - t) < 1e-5, s"t=$t vs $row")
    assert(math.abs(row.getAs[Double]("welch_dof") - dof) / dof < 1e-5)
    // significant_95 mirrors the operator's dof >= 30 normal-approx gate
    if (dof >= 30.0)
      assert(row.getAs[Boolean]("significant_95") == (math.abs(t) >= 1.96))
    else assert(row.getAs[Any]("significant_95") == null)
  }

  test("stats_anova_segments: F and eta-squared equal the textbook recompute") {
    val sf = TestSession.sf
    val row = SparkEntry.queries("stats_anova_segments")(spark, sf)
      .collect().head
    val xs = graft.Tables.orders(spark, sf)
      .join(graft.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1) / 1000.0))
    val groups = xs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = xs.length.toDouble
    val k = groups.size.toDouble
    val grand = xs.map(_._2).sum / n
    val ssb = groups.values.map { g =>
      val m = g.sum / g.length
      g.length * (m - grand) * (m - grand)
    }.sum
    val ssw = groups.values.flatMap { g =>
      val m = g.sum / g.length
      g.map(x => (x - m) * (x - m))
    }.sum
    val f = (ssb / (k - 1)) / (ssw / (n - k))
    assert(row.getAs[Long]("k_groups") == k.toLong &&
      row.getAs[Long]("n_total") == n.toLong)
    assert(row.getAs[Long]("dof_between") == (k - 1).toLong &&
      row.getAs[Long]("dof_within") == (n - k).toLong)
    // operator floors Sx^2 at 1e-4 and quantizes group terms at 1e-2
    // thousands^2 — textbook agreement to ~1e-5 relative
    assert(math.abs(row.getAs[Double]("f_stat") - f) /
      math.max(f, 1.0) < 1e-4, s"f=$f vs $row")
    val eta = ssb / (ssb + ssw)
    assert(math.abs(row.getAs[Double]("eta_sq") - eta) < 1e-6)
  }

  test("stats_mannwhitney: midrank algebra equals the textbook rank sums") {
    val sf = TestSession.sf
    val row = SparkEntry.queries("stats_mannwhitney")(spark, sf).collect().head
    val xs = graft.Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "view") &&
        col("value").isNotNull)
      .select(col("event_type"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    // textbook midranks over the combined sample
    val sorted = xs.map(_._2).sorted
    val rankOf = sorted.zipWithIndex.groupBy(_._1).map { case (v, g) =>
      v -> g.map(_._2 + 1).sum.toDouble / g.length // midrank (1-based)
    }
    val clicks = xs.filter(_._1 == "click")
    val r1 = clicks.map(x => rankOf(x._2)).sum
    val (n1, n2) = (clicks.length.toDouble, xs.length - clicks.length.toDouble)
    assert(row.getAs[Long]("n_click") == n1.toLong &&
      row.getAs[Long]("n_view") == n2.toLong)
    // 2R1 is integer-exact in the operator; textbook midranks are .5s
    assert(row.getAs[Long]("two_r1").toDouble == 2 * r1)
    val nAll = n1 + n2
    val tie = xs.map(_._2).groupBy(identity).values
      .map(g => g.length.toDouble).map(c => c * c * c - c).sum
    assert(row.getAs[Long]("tie_sum").toDouble == tie)
    val u1 = r1 - n1 * (n1 + 1) / 2
    val z = (u1 - n1 * n2 / 2) /
      math.sqrt(n1 * n2 / 12.0 * (nAll + 1 - tie / (nAll * (nAll - 1))))
    // z presents the raw double since the r13 reversal (the r12
    // DECIMAL(18,9) quantization was itself the driver-gate seam)
    val zGot = row.getAs[Double]("z_score")
    assert(math.abs(zGot - z) < 1e-8, s"z=$z vs $row")
  }

  test("shared artifacts pin no executor storage (lake spill path)") {
    val dir = mkCorpus(Seq("one two three four", "five six seven eight",
      "one two three four"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.text.Dedup.componentsTable(spark, dir).count()
    graft.text.BpeTrainer.bpeTokensTable(spark, dir).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"shared artifacts must live in the lake, not executor storage: $leaked")
  }
}
