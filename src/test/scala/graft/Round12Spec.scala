package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The local file system under the `graftfs` scheme: a stand-in for a
  * remote Hadoop file system that java.nio cannot resolve. */
class SchemeOnlyFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
  // plain statuses: the local ones read permissions through java.io.File,
  // which takes only file: URIs
  override def listStatus(p: Path): Array[FileStatus] = super.listStatus(p).map(plain)
  override def getFileStatus(p: Path): FileStatus = plain(super.getFileStatus(p))
  protected def plain(s: FileStatus): FileStatus = new FileStatus(s.getLen, s.isDirectory,
    s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath)
}

/** The local file system under the `countfs` scheme, whose statuses count
  * every read of a permission, owner or group: reads that a local file
  * system without native Hadoop answers by starting a process per file. */
class PermissionCountingFileSystem extends SchemeOnlyFileSystem {
  import org.apache.hadoop.fs.FileStatus
  import org.apache.hadoop.fs.permission.FsPermission
  import PermissionCountingFileSystem.reads
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override protected def plain(s: FileStatus): FileStatus = {
    val p = super.plain(s)
    new FileStatus(p) {
      override def getPermission: FsPermission = { reads.incrementAndGet(); super.getPermission }
      override def getOwner: String = { reads.incrementAndGet(); super.getOwner }
      override def getGroup: String = { reads.incrementAndGet(); super.getGroup }
    }
  }
}

object PermissionCountingFileSystem {
  val reads = new java.util.concurrent.atomic.AtomicLong
}

/** The table fingerprint as Hadoop's `FileSystem.listFiles` walk gives
  * it: the reference the `listStatus` walk must reproduce. */
object ListFilesFingerprint {
  import org.apache.hadoop.fs.{FileSystem, Path}
  def apply(fs: FileSystem, root: Path): String = {
    val base = root.toUri.getPath
    val files = Seq.newBuilder[String]
    try {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val st = it.next()
        files += s"${st.getPath.toUri.getPath.stripPrefix(base)}:${st.getLen}:${st.getModificationTime}"
      }
    } catch { case _: java.io.FileNotFoundException => return "absent" }
    val listing = files.result().sorted.mkString(";")
    import scala.util.hashing.MurmurHash3.stringHash
    f"${stringHash(listing)}%08x${stringHash(listing, 0x2f5b1e3d)}%08x"
  }
}

/** Round-12 regression specs for the SharedArtifacts hardening:
  * per-memoKey locking (r11 VERDICT #5 — the object-level `synchronized`
  * serialized UNRELATED artifact derivations and blocked memo hits behind
  * a long derivation) and the cluster-visibility guard for the
  * driver-local tmpdir default (r11 VERDICT #6).
  */
class Round12Spec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  private def mkCorpus(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_r12").toString
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "src0", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("materialized: concurrent consumers of DIFFERENT artifacts never serialize") {
    import spark.implicits._
    val dir = mkCorpus(Seq("one two three", "four five six"))
    val inSlowDerivation = new CountDownLatch(1)
    val releaseSlow = new CountDownLatch(1)
    @volatile var slowErr: Throwable = null
    val slow = new Thread(() =>
      try {
        SharedArtifacts.materialized(spark, dir, "r12_slow_artifact") {
          inSlowDerivation.countDown()
          // hold the per-key monitor mid-derivation until released
          assert(releaseSlow.await(30, TimeUnit.SECONDS), "spec deadlock")
          Seq((1L, "slow")).toDF("id", "tag")
        }.count()
      } catch { case t: Throwable => slowErr = t })
    slow.start()
    assert(inSlowDerivation.await(30, TimeUnit.SECONDS))
    // with the r11 object-level lock this call would block until
    // releaseSlow fires; per-key locking must let it derive + read NOW
    val fast = SharedArtifacts.materialized(spark, dir, "r12_fast_artifact") {
      Seq((1L, "fast"), (2L, "fast")).toDF("id", "tag")
    }
    assert(fast.count() == 2L)
    releaseSlow.countDown()
    slow.join(30000)
    assert(!slow.isAlive && slowErr == null,
      s"slow consumer must complete cleanly: $slowErr")
    // and the slow artifact memo-hits afterwards (no re-derivation)
    val hit = SharedArtifacts.materialized(spark, dir, "r12_slow_artifact") {
      fail("memo hit must not re-derive"); null
    }
    assert(hit.count() == 1L)
  }

  test("artifactRoot guard: non-local master + unset GRAFT_ARTIFACT_DIR fails fast") {
    // local master: default root fine, configured root fine
    SharedArtifacts.requireClusterVisibleRoot(isLocalMaster = true,
      rootConfigured = false)
    SharedArtifacts.requireClusterVisibleRoot(isLocalMaster = true,
      rootConfigured = true)
    // cluster master: configured root fine, unset root must throw
    SharedArtifacts.requireClusterVisibleRoot(isLocalMaster = false,
      rootConfigured = true)
    val e = intercept[IllegalArgumentException] {
      SharedArtifacts.requireClusterVisibleRoot(isLocalMaster = false,
        rootConfigured = false)
    }
    assert(e.getMessage.contains("GRAFT_ARTIFACT_DIR"))
  }

  test("materialized: artifact paths are Hadoop-visible (scheme-preserving, memo liveness via FileSystem)") {
    // the r11 ADVICE bug: java.nio Paths.get collapses `s3a://bucket` to
    // `s3a:/bucket` and Files.exists is constant-false off-local-fs, so a
    // remote root never memo-hit. Assert the Hadoop path algebra the fix
    // relies on preserves URI roots end-to-end.
    val child = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path("s3a://bucket/artifacts", "app-123"),
      "deadbeef_components.parquet")
    assert(child.toString ==
      "s3a://bucket/artifacts/app-123/deadbeef_components.parquet")
    // and the local round-trip still memo-hits (liveness probe finds the
    // written artifact through FileSystem.exists)
    import spark.implicits._
    val dir = mkCorpus(Seq("alpha beta"))
    val first = SharedArtifacts.materialized(spark, dir, "r12_liveness") {
      Seq((7L, "x")).toDF("id", "tag")
    }
    assert(first.count() == 1L)
    val second = SharedArtifacts.materialized(spark, dir, "r12_liveness") {
      fail("second consumer must memo-hit"); null
    }
    assert(second.count() == 1L)
  }

  test("a table on a non-local Hadoop file system fingerprints its content") {
    // `graftfs://` is local storage behind its own scheme, so java.nio
    // cannot see it: only a FileSystem listing notices the rewrite
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[SchemeOnlyFileSystem].getName)
    val dir = "graftfs://" + Files.createTempDirectory("graft_scheme").toString
    def writeEmbeddings(n: Int): Unit =
      (1 to n).map(i => (i.toLong, Array(i.toFloat, 1f), "l"))
        .toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    writeEmbeddings(3)
    val before = SharedArtifacts.memoKey(spark, dir, "lsh-pairs", "embeddings")
    assert(!before.endsWith(":absent"), before)
    assert(Tables.embeddings(spark, dir).count() == 3L)
    writeEmbeddings(4)
    assert(SharedArtifacts.memoKey(spark, dir, "lsh-pairs", "embeddings") != before)
    assert(Tables.embeddings(spark, dir).count() == 4L)
  }

  private lazy val sixteenFileLineitem: String = {
    val dir = Files.createTempDirectory("graft_split16").toString
    Tables.lineitem(spark, TestSession.sf).repartition(16)
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("a memo-hit read and a table fingerprint read no file's permission") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[PermissionCountingFileSystem].getName)
    val dir = "countfs://" + sixteenFileLineitem
    assert(Tables.lineitem(spark, dir).inputFiles.length == 16)
    PermissionCountingFileSystem.reads.set(0)
    val (li, jobs) = SparkEvents.jobs(spark)(Tables.lineitem(spark, dir))
    assert(jobs == 0)
    val fingerprint = SharedArtifacts.tableFingerprint(spark, dir, "lineitem")
    assert(PermissionCountingFileSystem.reads.get == 0L)
    assert(fingerprint != "absent")
    assert(li.count() == Tables.lineitem(spark, TestSession.sf).count())
  }

  test("the listStatus fingerprint equals the listFiles one") {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sessionState.newHadoopConf()
    def same(path: String): Unit = {
      val root = new Path(path)
      val fs = root.getFileSystem(hconf)
      val q = fs.makeQualified(root)
      assert(Tables.listingFingerprint(fs, q) == ListFilesFingerprint(fs, q), path)
    }
    val sf = TestSession.sf
    (Tables.all :+ "missing").foreach(t => same(s"$sf/$t.parquet"))
    same(s"$sixteenFileLineitem/lineitem.parquet")
    // a written artifact: part files, _SUCCESS and the local .crc files
    import spark.implicits._
    val artifact = SharedArtifacts.materialized(spark, mkCorpus(Seq("a b")), "r12_listing") {
      (1 to 40).map(i => (i.toLong, s"t$i")).toDF("id", "tag").repartition(4)
    }
    val written = new Path(artifact.inputFiles.head).getParent
    assert(new java.io.File(written.toUri.getPath).list().exists(_.endsWith(".crc")))
    same(written.toString)
  }

  test("a freshly written artifact reads back without inferring, as Spark infers it") {
    import graft.text.{BpeTrainer, Dedup}
    // a new corpus path, so every artifact is derived and written here
    val lake = Files.createTempDirectory("graft_seeded")
    Tables.all.foreach(t => Files.createSymbolicLink(lake.resolve(s"$t.parquet"),
      Paths.get(TestSession.sf, s"$t.parquet")))
    val dir = lake.toString
    // the source tables' schemas are memoized first: any inference left
    // is an artifact's
    Tables.all.foreach(t => Tables.table(spark, dir, t))
    def inferences(sites: Seq[String]) = sites.filter(_.startsWith("parquet at Tables.scala"))
    val artifacts = Seq(
      "bpe-toks" -> (() => BpeTrainer.bpeTokensTable(spark, dir)),
      "lsh-pairs" -> (() => graft.sim.Similarity.dedupEmbedding(spark, dir)),
      "components" -> (() => Dedup.componentsTable(spark, dir)))
    artifacts.foreach { case (name, derive) =>
      val (df, sites) = SparkEvents.jobSites(spark)(derive())
      val written = df.inputFiles.head
      val path = written.substring(0, written.lastIndexOf('/'))
      assert(path.endsWith(s"_$name.parquet"), path)
      assert(inferences(sites).isEmpty, s"$name: $sites")
      assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, name)
    }
    // a timestamp column is left to inference
    import spark.implicits._
    val (ts, sites) = SparkEvents.jobSites(spark)(
      SharedArtifacts.materialized(spark, dir, "r12_timestamps") {
        Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05"))).toDF("id", "ts")
      })
    assert(inferences(sites).size == 1, sites)
    assert(ts.schema == spark.read.parquet(ts.inputFiles.head).schema)
  }

  // -------------------------------------------------------------------
  // Rank-statistics panel (r12): textbook recomputes + adversarial sweeps
  // -------------------------------------------------------------------

  private def midranks(v: Seq[Double]): Map[Double, Double] =
    v.sorted.zipWithIndex.groupBy(_._1)
      .map { case (x, g) => x -> g.map(_._2 + 1).sum.toDouble / g.length }

  test("stats_spearman equals Pearson over textbook midranks") {
    val sf = TestSession.sf
    val got = SparkEntry.queries("stats_spearman")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val cs = graft.operators.Stats.spearmanCols
    val data = graft.Tables.lineitem(spark, sf)
      .select(cs.map(col): _*).na.drop().collect()
      .map(r => cs.indices.map(i => r.get(i).toString.toDouble).toVector)
    val n = data.length.toDouble
    val mr = cs.indices.map(i => midranks(data.map(_(i))))
    for {
      i <- cs.indices; j <- cs.indices if i < j
    } {
      val rx = data.map(row => mr(i)(row(i)))
      val ry = data.map(row => mr(j)(row(j)))
      val (sx, sy) = (rx.sum, ry.sum)
      val sxy = rx.zip(ry).map { case (a, b) => a * b }.sum
      val sxx = rx.map(a => a * a).sum
      val syy = ry.map(a => a * a).sum
      val rho = (n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      val row = got((cs(i), cs(j)))
      assert(row.getAs[Long]("n_pair") == n.toLong)
      val rhoGot = row.getAs[Double]("rho_spearman")
      assert(math.abs(rhoGot - rho) < 1e-6, s"rho($i,$j)=$rho vs $rhoGot")
    }
  }

  test("stats_kruskal_wallis equals the textbook tie-corrected H") {
    val sf = TestSession.sf
    val row = SparkEntry.queries("stats_kruskal_wallis")(spark, sf)
      .collect().head
    val xs = graft.Tables.orders(spark, sf)
      .join(graft.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"))
      .collect().map(r => (r.getString(0), r.get(1).toString.toDouble))
    val n = xs.length.toDouble
    val mr = midranks(xs.map(_._2))
    val rbar = (n + 1) / 2.0
    val groups = xs.groupBy(_._1).view
      .mapValues(_.map(x => mr(x._2))).toMap
    val ssb = groups.values.map { g =>
      val m = g.sum / g.length
      g.length * (m - rbar) * (m - rbar)
    }.sum
    val sst = xs.map(x => (mr(x._2) - rbar) * (mr(x._2) - rbar)).sum
    val h = (n - 1) * ssb / sst
    assert(row.getAs[Long]("k_groups") == groups.size.toLong)
    assert(row.getAs[Long]("n_total") == n.toLong)
    assert(row.getAs[Long]("dof") == groups.size.toLong - 1)
    val hGot = row.getAs[Double]("h_stat")
    assert(math.abs(hGot - h) / math.max(h, 1.0) < 1e-6, s"H=$h vs $hGot")
    val epsGot = row.getAs[Double]("epsilon_sq")
    assert(math.abs(epsGot - h / (n - 1)) < 1e-6)
    if (groups.size == 5) // chi2(4) 0.95 critical value
      assert(row.getAs[Boolean]("significant_95") == (hGot >= 9.488))
  }

  test("stats_median_test equals the textbook k-x-2 chi-square on the median split") {
    val sf = TestSession.sf
    val row = SparkEntry.queries("stats_median_test")(spark, sf)
      .collect().head
    val xs = graft.Tables.orders(spark, sf)
      .join(graft.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"))
      .collect().map(r => (r.getString(0), r.get(1).toString.toDouble))
    val n = xs.length
    // nearest-rank median: smallest value whose cum count >= (n+1) DIV 2
    val med = xs.map(_._2).sorted.apply((n + 1) / 2 - 1)
    assert(row.get(row.fieldIndex("median_value")).toString.toDouble == med)
    val groups = xs.groupBy(_._1)
    val hi = groups.view.mapValues(_.count(_._2 > med).toDouble).toMap
    val ng = groups.view.mapValues(_.length.toDouble).toMap
    val (tHi, tot) = (hi.values.sum, n.toDouble)
    val tLo = tot - tHi
    // textbook chi2 over the full k x 2 expected table
    val chi2 = groups.keys.map { g =>
      val eHi = ng(g) * tHi / tot
      val eLo = ng(g) * tLo / tot
      val oHi = hi(g); val oLo = ng(g) - hi(g)
      (oHi - eHi) * (oHi - eHi) / eHi + (oLo - eLo) * (oLo - eLo) / eLo
    }.sum
    val got = row.getAs[Double]("chi2")
    assert(math.abs(got - chi2) / math.max(chi2, 1.0) < 1e-6,
      s"chi2=$chi2 vs $got")
    assert(row.getAs[Long]("dof") == groups.size.toLong - 1)
    if (groups.size == 5)
      assert(row.getAs[Boolean]("significant_95") == (got >= 9.488))
  }

  test("stats_brown_forsythe equals the textbook median-centered Levene W") {
    val sf = TestSession.sf
    val row = SparkEntry.queries("stats_brown_forsythe")(spark, sf)
      .collect().head
    val xs = graft.Tables.orders(spark, sf)
      .join(graft.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment"), col("o_totalprice"))
      .collect().map(r => (r.getString(0), r.get(1).toString.toDouble))
    val groups = xs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // nearest-rank group medians (the operator's device)
    val med = groups.view.mapValues { g =>
      g.sorted.apply((g.length + 1) / 2 - 1)
    }.toMap
    val z = xs.map { case (s, v) => (s, math.abs(v - med(s))) }
    val n = z.length.toDouble
    val k = groups.size.toDouble
    val zbar = z.map(_._2).sum / n
    val zg = z.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ssb = zg.values.map { g =>
      val m = g.sum / g.length; g.length * (m - zbar) * (m - zbar)
    }.sum
    val ssw = zg.values.map { g =>
      val m = g.sum / g.length; g.map(x => (x - m) * (x - m)).sum
    }.sum
    val w = (ssb / (k - 1)) / (ssw / (n - k))
    assert(row.getAs[Long]("k_groups") == groups.size.toLong)
    assert(row.getAs[Long]("n_total") == z.length.toLong)
    assert(row.getAs[Long]("dof_between") == groups.size.toLong - 1)
    assert(row.getAs[Long]("dof_within") == z.length.toLong - groups.size)
    assert(row.get(row.fieldIndex("med_min")).toString.toDouble
      == med.values.min)
    assert(row.get(row.fieldIndex("med_max")).toString.toDouble
      == med.values.max)
    val wGot = row.getAs[Double]("w_stat")
    assert(math.abs(wGot - w) / math.max(w, 1.0) < 1e-6, s"W=$w vs $wGot")
    // dof_within >= 30 at every fixture SF, k-1 = 4 -> chi2 gate is live
    if (groups.size == 5 && z.length - groups.size >= 30)
      assert(row.getAs[Boolean]("significant_95") == (4.0 * wGot >= 9.488))
  }

  test("stats_kendall_tau equals a brute-force concordance tally over the daily series") {
    val sf = TestSession.sf
    val row = SparkEntry.queries("stats_kendall_tau")(spark, sf)
      .collect().head
    // re-derive the daily series with the operator's exact aggregation
    // (day truncation + DECIMAL(12,2) sum are gated devices elsewhere);
    // the recompute targets the NEW math: the pair concordance algebra
    val daily = graft.Tables.events(spark, sf)
      .groupBy(date_trunc("DAY", col("ts")).as("day"))
      .agg(count(lit(1)).as("x"),
        sum(expr("CAST(value AS DECIMAL(12,2))")).as("y"))
      .filter(col("y").isNotNull)
      .collect().map(r => (r.getAs[java.sql.Timestamp]("day").getTime,
        r.getAs[Long]("x"), r.getAs[java.math.BigDecimal]("y")))
      .sortBy(_._1)
    val n = daily.length
    var (c, d, tx, ty) = (0L, 0L, 0L, 0L)
    for (i <- 0 until n; j <- i + 1 until n) {
      val sx = daily(i)._2.compare(daily(j)._2).sign
      val sy = daily(i)._3.compareTo(daily(j)._3).sign
      if (sx == 0) tx += 1
      if (sy == 0) ty += 1
      if (sx * sy > 0) c += 1 else if (sx * sy < 0) d += 1
    }
    val n0 = n.toLong * (n - 1) / 2
    assert(row.getAs[Long]("n_days") == n.toLong)
    assert(row.getAs[Long]("n_pairs") == n0)
    assert(row.getAs[Long]("concordant") == c)
    assert(row.getAs[Long]("discordant") == d)
    assert(row.getAs[Long]("ties_x") == tx)
    assert(row.getAs[Long]("ties_y") == ty)
    val tau = (c - d).toDouble / math.sqrt((n0 - tx).toDouble * (n0 - ty))
    val tauGot = row.getAs[Double]("tau_b")
    assert(math.abs(tauGot - tau) < 1e-9, s"tau=$tau vs $tauGot")
    // r13: tie-corrected MK variance over BOTH marginal tie-group
    // profiles, continuity-corrected z (the theil_sen device)
    val tie18x = daily.groupBy(_._2).values.map(_.length.toLong)
      .map(t => t * (t - 1) * (2 * t + 5)).sum
    val tie18y = daily.map(_._3).groupBy(identity).values
      .map(_.length.toLong).map(t => t * (t - 1) * (2 * t + 5)).sum
    val var18 = n.toLong * (n - 1) * (2L * n + 5) - tie18x - tie18y
    assert(row.getAs[Long]("var18") == var18)
    val s = c - d
    val z = (s - s.sign).toDouble / math.sqrt(var18 / 18.0)
    val zGot = row.getAs[Double]("z_approx")
    assert(math.abs(zGot - z) < 1e-9, s"z=$z vs $zGot")
    if (n >= 30)
      assert(row.getAs[Boolean]("significant_95") == (math.abs(zGot) >= 1.96))
  }

  test("stats_friedman equals the textbook tie-corrected repeated-measures chi-square") {
    val sf = TestSession.sf
    val row = SparkEntry.queries("stats_friedman")(spark, sf).collect().head
    // re-derive the daily series with the operator's exact aggregation;
    // the recompute targets the NEW math: within-block midranks and the
    // tie-corrected Friedman composition
    val daily = graft.Tables.events(spark, sf)
      .groupBy(expr("unix_micros(date_trunc('DAY', ts)) DIV 86400000000")
        .as("day_num"))
      .agg(sum(expr("CAST(value AS DECIMAL(12,2))")).as("y"))
      .filter(col("y").isNotNull)
      .collect().map(r => (r.getAs[Long]("day_num"),
        r.getAs[java.math.BigDecimal]("y")))
    val blocks = daily.groupBy(_._1 / 7).filter(_._2.length == 7)
      .view.mapValues(_.sortBy(_._1 % 7).map(_._2)).toMap
    val n = blocks.size
    if (n == 0) {
      assert(row.getAs[Any]("chi2_f") == null)
    } else {
      val k = 7
      // within-block midranks (ties averaged)
      val ranks = blocks.values.toSeq.map { ys =>
        ys.map(y => ys.count(_.compareTo(y) < 0) + 1.0
          + (ys.count(_.compareTo(y) == 0) - 1) / 2.0)
      }
      val rj = (0 until k).map(j => ranks.map(_(j)).sum)
      val num = rj.map(r => (r - n * (k + 1) / 2.0)).map(x => x * x).sum
      val a = ranks.flatten.map(x => x * x).sum
      val c = n * k * (k + 1) * (k + 1) / 4.0
      val chi2 = (k - 1) * num / (a - c)
      assert(row.getAs[Long]("n_blocks") == n.toLong)
      assert(row.getAs[Long]("k_treat") == k.toLong)
      assert(row.getAs[Long]("dof") == k - 1L)
      val got = row.getAs[Double]("chi2_f")
      assert(math.abs(got - chi2) / math.max(chi2, 1.0) < 1e-9,
        s"chi2_F=$chi2 vs $got")
      val wGot = row.getAs[Double]("kendalls_w")
      assert(math.abs(wGot - chi2 / (n * (k - 1))) < 1e-9)
      assert(row.getAs[Boolean]("significant_95") == (got >= 12.592))
    }
  }

  test("stats_friedman degrades on adversarial event streams, never throws") {
    // empty events -> no blocks -> NULL statistic
    val evEmpty = cloneWithTable("frempty", "events")(_.limit(0))
    val fe = SparkEntry.queries("stats_friedman")(spark, evEmpty)
      .collect().head
    assert(fe.getAs[Any]("chi2_f") == null
      && fe.getAs[Any]("significant_95") == null)
    // constant value -> every block's daily sums vary only with counts;
    // force FULL ties by making value NULL-free constant AND zeroing ts
    // spread is not possible here, so instead: all values NULL -> every
    // day drops listwise -> no blocks -> NULL
    val evNull = cloneWithTable("frnull", "events")(
      _.withColumn("value", lit(null)
        .cast(org.apache.spark.sql.types.DoubleType)))
    val fn = SparkEntry.queries("stats_friedman")(spark, evNull)
      .collect().head
    assert(fn.getAs[Any]("chi2_f") == null)
    // single event -> one day -> no complete 7-day block -> NULL
    val evOne = cloneWithTable("frone", "events")(_.limit(1))
    val fo = SparkEntry.queries("stats_friedman")(spark, evOne)
      .collect().head
    assert(fo.getAs[Any]("chi2_f") == null)
  }

  test("quality_cusum_drift equals a driver-side Page-Hinkley recompute") {
    val sf = TestSession.sf
    val row = SparkEntry.queries("quality_cusum_drift")(spark, sf)
      .collect().head
    // integer recompute with the operator's exact devices
    val daily = graft.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .groupBy(expr("unix_micros(date_trunc('DAY', ts)) DIV 86400000000")
        .as("day_num"))
      .agg(count(lit(1)).as("n_d"),
        expr("CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS DECIMAL(38,0))")
          .as("cents_d"))
      .collect().map(r => (r.getAs[Long]("day_num"), r.getAs[Long]("n_d"),
        r.getAs[java.math.BigDecimal]("cents_d").toBigInteger.longValueExact()))
      .sortBy(_._1)
    // toward-zero division, the engines' verified DIV/`//` semantics
    // (values are positive here, where it equals floor)
    val mu6 = daily.map { case (d, n, c) => (d, c * 10000L / n) }
    val nDays = mu6.length
    val nEvents = daily.map(_._2).sum
    val smu = mu6.map(_._2).sum
    // r13 baseline fix: the mean of the DAILY MEANS — the population σ
    // describes — not the event-weighted global mean
    val mu6All = smu / nDays
    val qmu4 = mu6.map(m => BigInt(m._2) * m._2).sum / 10000
    val sigma = math.sqrt(qmu4.toDouble * 10000.0 / nDays
      - (smu.toDouble / nDays) * (smu.toDouble / nDays))
    // σ presents RAW since r13 (the quantized presentations were the
    // driver-gate seam); the recompute composition is identical IEEE
    val sigmaGot = row.getAs[Double]("sigma_mu6")
    assert(math.abs(sigmaGot - sigma) < 1e-9, s"sigma=$sigma vs $sigmaGot")
    val slack = math.floor(sigmaGot / 2.0).toLong
    var (cup, cdn, minCup, maxCdn, maxUp, maxDn) = (0L, 0L, 0L, 0L, 0L, 0L)
    var (peakUp, peakDn) = (-1L, -1L)
    mu6.foreach { case (d, m) =>
      val dev = m - mu6All
      cup += dev - slack; cdn += dev + slack
      minCup = math.min(minCup, cup); maxCdn = math.max(maxCdn, cdn)
      val up = cup - minCup; val dn = maxCdn - cdn
      if (up > maxUp) { maxUp = up; peakUp = d }
      if (dn > maxDn) { maxDn = dn; peakDn = d }
    }
    // first day attaining the max (the operator's min-day tiebreak):
    // recompute pass 2 since the streaming fold above keeps the LAST arg
    var (c2, m2, x2) = (0L, 0L, 0L); var firstUp = -1L; var firstDn = -1L
    var c3 = 0L
    mu6.foreach { case (d, m) =>
      c2 += (m - mu6All) - slack; m2 = math.min(m2, c2)
      if (firstUp < 0 && c2 - m2 == maxUp) firstUp = d
      c3 += (m - mu6All) + slack; x2 = math.max(x2, c3)
      if (firstDn < 0 && x2 - c3 == maxDn) firstDn = d
    }
    assert(row.getAs[Long]("n_days") == nDays.toLong)
    assert(row.getAs[Long]("n_events") == nEvents)
    assert(row.getAs[Long]("mean_mu6") == mu6All)
    assert(row.getAs[Long]("slack_mu6") == slack)
    assert(row.getAs[Long]("max_up_mu") == maxUp)
    assert(row.getAs[Long]("max_down_mu") == maxDn)
    assert(row.getAs[Long]("peak_up_day") == firstUp)
    assert(row.getAs[Long]("peak_down_day") == firstDn)
    val upS = row.getAs[Double]("up_sigma")
    assert(math.abs(upS - maxUp / sigmaGot) < 1e-8)
    assert(row.getAs[Boolean]("drifted")
      == (math.max(maxUp, maxDn) / sigmaGot >= 5.0))
  }

  test("quality_cusum_drift fires on a planted sustained mean shift and degrades clean") {
    // plant: +40% value on the last 12 days — a sustained small-ish
    // shift no single-day anomaly scan would flag
    val shiftDir = cloneWithTable("cusumshift", "events") { df =>
      df.withColumn("value",
        when(expr("unix_micros(date_trunc('DAY', ts)) DIV 86400000000 >= 19741"),
          col("value") * 1.4).otherwise(col("value")))
    }
    val shifted = SparkEntry.queries("quality_cusum_drift")(spark, shiftDir)
      .collect().head
    assert(shifted.getAs[Boolean]("drifted"),
      s"planted shift not detected: up=${shifted.getAs[Any]("up_sigma")}")
    assert(shifted.getAs[Long]("peak_up_day") >= 19741L,
      "peak excursion should sit inside the shifted era")
    // baseline corpus does not alarm (asserted against the recompute's
    // own verdict in the previous test; here: the planted run's UP
    // excursion strictly exceeds the baseline's)
    val base = SparkEntry.queries("quality_cusum_drift")(spark, TestSession.sf)
      .collect().head
    assert(shifted.getAs[Long]("max_up_mu") > base.getAs[Long]("max_up_mu"))
    // empty + all-NULL degrade
    val evEmpty = cloneWithTable("cusumempty", "events")(_.limit(0))
    val ce = SparkEntry.queries("quality_cusum_drift")(spark, evEmpty)
      .collect().head
    assert(ce.getAs[Long]("n_days") == 0L && ce.getAs[Any]("drifted") == null)
    val evNull = cloneWithTable("cusumnull", "events")(
      _.withColumn("value", lit(null)
        .cast(org.apache.spark.sql.types.DoubleType)))
    val cn = SparkEntry.queries("quality_cusum_drift")(spark, evNull)
      .collect().head
    assert(cn.getAs[Long]("n_days") == 0L && cn.getAs[Any]("drifted") == null)
  }

  test("stats_theil_sen equals brute-force Sen slope + Mann-Kendall recompute") {
    val sf = TestSession.sf
    val row = SparkEntry.queries("stats_theil_sen")(spark, sf).collect().head
    val daily = graft.Tables.events(spark, sf)
      .groupBy(expr("unix_micros(date_trunc('DAY', ts)) DIV 86400000000")
        .as("day_num"))
      .agg(sum(expr("CAST(value AS DECIMAL(12,2))")).as("y"))
      .filter(col("y").isNotNull)
      .collect().map(r => (r.getAs[Long]("day_num"),
        r.getAs[java.math.BigDecimal]("y"))).sortBy(_._1)
    val n = daily.length
    val slopes = scala.collection.mutable.ArrayBuffer[(Double, Long, Long)]()
    var s = 0L
    for (i <- 0 until n; j <- i + 1 until n) {
      val sgn = daily(j)._2.compareTo(daily(i)._2).sign
      s += sgn
      slopes += (((daily(j)._2.doubleValue() - daily(i)._2.doubleValue())
        / (daily(j)._1 - daily(i)._1), daily(i)._1, daily(j)._1))
    }
    val m = slopes.length
    // nearest-rank median under the operator's total order
    val sen = slopes.sortBy(t => (t._1, t._2, t._3)).apply((m + 1) / 2 - 1)._1
    val tie18 = daily.groupBy(_._2).values
      .map(g => g.length.toLong).map(t => t * (t - 1) * (2 * t + 5)).sum
    val var18 = n.toLong * (n - 1) * (2L * n + 5) - tie18
    assert(row.getAs[Long]("n_days") == n.toLong)
    assert(row.getAs[Long]("n_pairs") == m.toLong)
    assert(row.getAs[Long]("s_stat") == s)
    assert(row.getAs[Long]("var18") == var18)
    val senGot = row.getAs[Double]("sen_slope")
    assert(math.abs(senGot - sen) < 1e-8, s"sen=$sen vs $senGot")
    if (n >= 10 && var18 > 0) {
      val z = (s - s.sign).toDouble / math.sqrt(var18 / 18.0)
      val zGot = row.getAs[Double]("z_mk")
      assert(math.abs(zGot - z) < 1e-8, s"z=$z vs $zGot")
      val want = if (zGot >= 1.96) "increasing"
        else if (zGot <= -1.96) "decreasing" else "none"
      assert(row.getAs[String]("trend") == want)
    }
  }

  test("stats_theil_sen: planted linear trend recovered, degrades clean") {
    // plant: ×1.3 compounding growth per day (a Spark-only clone, so
    // power() is fine here) — +30% day-over-day dominates the
    // fixture's daily-sum noise on every pair horizon
    val trendDir = cloneWithTable("tstrend", "events") { df =>
      df.withColumn("value", col("value")
        * expr("power(1.3, CAST(unix_micros(date_trunc('DAY', ts)) DIV 86400000000 - 19720 AS DOUBLE))"))
    }
    val t = SparkEntry.queries("stats_theil_sen")(spark, trendDir)
      .collect().head
    assert(t.getAs[String]("trend") == "increasing", s"$t")
    assert(t.getAs[Long]("s_stat") >= t.getAs[Long]("n_pairs") * 9 / 10,
      s"planted ramp should concord on nearly every pair: $t")
    assert(t.getAs[Double]("sen_slope") > 0)
    // empty events -> 1 row, NULL slope/z/trend
    val evEmpty = cloneWithTable("tsempty", "events")(_.limit(0))
    val e = SparkEntry.queries("stats_theil_sen")(spark, evEmpty)
      .collect().head
    assert(e.getAs[Long]("n_days") == 0L && e.getAs[Any]("sen_slope") == null
      && e.getAs[Any]("trend") == null)
    // constant value -> daily sums vary only with counts; force FULL
    // ties via a constant value AND one event per day is not plantable
    // here, so assert the all-NULL degrade instead (listwise-empty)
    val evNull = cloneWithTable("tsnull", "events")(
      _.withColumn("value", lit(null)
        .cast(org.apache.spark.sql.types.DoubleType)))
    val nn = SparkEntry.queries("stats_theil_sen")(spark, evNull)
      .collect().head
    assert(nn.getAs[Long]("n_days") == 0L && nn.getAs[Any]("z_mk") == null)
  }

  /** sf0.001 clone with one table swapped for an adversarial variant —
    * the EventsEdgeSpec device pointed at orders/lineitem. */
  private def cloneWithTable(tag: String, table: String)
      (transform: org.apache.spark.sql.DataFrame
        => org.apache.spark.sql.DataFrame): String = {
    val dir = Files.createTempDirectory(s"graft_r12edge_$tag").toString
    val src = Paths.get("/root/testdata/sf0.001")
    Files.list(src).forEach { p =>
      val name = p.getFileName.toString
      if (name != s"$table.parquet")
        Files.copy(p, Paths.get(dir, name), StandardCopyOption.REPLACE_EXISTING)
    }
    transform(spark.read.parquet(s"/root/testdata/sf0.001/$table.parquet"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$table.parquet")
    dir
  }

  test("rank panel degrades on adversarial orders/lineitem, never throws") {
    // all order values tie -> zero rank variance -> NULL H
    val tiesDir = cloneWithTable("ties", "orders")(
      _.withColumn("o_totalprice", lit(java.math.BigDecimal.valueOf(100.00))
        .cast(org.apache.spark.sql.types.DecimalType(12, 2))))
    val tied = SparkEntry.queries("stats_kruskal_wallis")(spark, tiesDir)
      .collect().head
    assert(tied.getAs[Any]("h_stat") == null &&
      tied.getAs[Any]("significant_95") == null)
    // median test on all-tied values: nothing sits above the median ->
    // zero high margin -> NULL chi2, never a division by zero
    val tiedMed = SparkEntry.queries("stats_median_test")(spark, tiesDir)
      .collect().head
    assert(tiedMed.getAs[Any]("chi2") == null &&
      tiedMed.getAs[Any]("significant_95") == null)
    // empty orders -> k_groups 0, NULL H, no exception
    val emptyDir = cloneWithTable("empty", "orders")(_.limit(0))
    val empty = SparkEntry.queries("stats_kruskal_wallis")(spark, emptyDir)
      .collect().head
    assert(empty.getAs[Long]("k_groups") == 0L &&
      empty.getAs[Any]("h_stat") == null)
    // median test on an empty log: zero rows out (both engines), no throw
    assert(SparkEntry.queries("stats_median_test")(spark, emptyDir)
      .count() == 0L)
    // single order -> k = 1 -> NULL H
    val oneDir = cloneWithTable("one", "orders")(_.limit(1))
    val one = SparkEntry.queries("stats_kruskal_wallis")(spark, oneDir)
      .collect().head
    assert(one.getAs[Long]("k_groups") == 1L &&
      one.getAs[Any]("h_stat") == null)
    val oneMed = SparkEntry.queries("stats_median_test")(spark, oneDir)
      .collect().head
    assert(oneMed.getAs[Long]("k_groups") == 1L &&
      oneMed.getAs[Any]("chi2") == null)
    // constant lineitem column -> NULL rho on its pairs, defined elsewhere
    val constDir = cloneWithTable("const", "lineitem")(
      _.withColumn("l_discount", lit(java.math.BigDecimal.valueOf(0.05))
        .cast(org.apache.spark.sql.types.DecimalType(12, 2))))
    val rhos = SparkEntry.queries("stats_spearman")(spark, constDir)
      .collect().map(r => (r.getString(0), r.getString(1))
        -> r.getAs[Any]("rho_spearman")).toMap
    assert(rhos(("l_quantity", "l_discount")) == null)
    assert(rhos(("l_extendedprice", "l_discount")) == null)
    assert(rhos(("l_quantity", "l_extendedprice")) != null)
    // empty lineitem -> three rows, all NULL rho
    val emptyLi = cloneWithTable("emptyli", "lineitem")(_.limit(0))
    val er = SparkEntry.queries("stats_spearman")(spark, emptyLi).collect()
    assert(er.length == 3 &&
      er.forall(_.getAs[Any]("rho_spearman") == null))
  }

  test("brown_forsythe/kendall degrade on adversarial corpora, never throw") {
    // all order values tie -> every |v - med| is zero -> SSW 0 -> NULL W
    val tiesDir = cloneWithTable("bfties", "orders")(
      _.withColumn("o_totalprice", lit(java.math.BigDecimal.valueOf(100.00))
        .cast(org.apache.spark.sql.types.DecimalType(12, 2))))
    val tied = SparkEntry.queries("stats_brown_forsythe")(spark, tiesDir)
      .collect().head
    assert(tied.getAs[Any]("w_stat") == null &&
      tied.getAs[Any]("significant_95") == null)
    // empty orders -> zero groups, NULL W, no exception
    val emptyDir = cloneWithTable("bfempty", "orders")(_.limit(0))
    val empty = SparkEntry.queries("stats_brown_forsythe")(spark, emptyDir)
      .collect().head
    assert(empty.getAs[Long]("k_groups") == 0L &&
      empty.getAs[Any]("w_stat") == null)
    // single order -> k = 1 -> NULL W
    val oneDir = cloneWithTable("bfone", "orders")(_.limit(1))
    val one = SparkEntry.queries("stats_brown_forsythe")(spark, oneDir)
      .collect().head
    assert(one.getAs[Long]("k_groups") == 1L &&
      one.getAs[Any]("w_stat") == null)

    // kendall: empty events -> 1 row, zero days, NULL tau, no throw
    val evEmpty = cloneWithTable("ktempty", "events")(_.limit(0))
    val ke = SparkEntry.queries("stats_kendall_tau")(spark, evEmpty)
      .collect().head
    assert(ke.getAs[Long]("n_days") == 0L && ke.getAs[Any]("tau_b") == null
      && ke.getAs[Any]("significant_95") == null)
    // single day -> zero pairs -> NULL tau and NULL z (n guard)
    val evOne = cloneWithTable("ktone", "events")(_.limit(1))
    val k1 = SparkEntry.queries("stats_kendall_tau")(spark, evOne)
      .collect().head
    assert(k1.getAs[Long]("n_days") <= 1L && k1.getAs[Long]("n_pairs") == 0L
      && k1.getAs[Any]("tau_b") == null)
    // all values NULL -> every day's sum is NULL -> listwise-empty series
    val evNull = cloneWithTable("ktnull", "events")(
      _.withColumn("value", lit(null)
        .cast(org.apache.spark.sql.types.DoubleType)))
    val kn = SparkEntry.queries("stats_kendall_tau")(spark, evNull)
      .collect().head
    assert(kn.getAs[Long]("n_days") == 0L && kn.getAs[Any]("tau_b") == null)
    // constant per-event value -> daily y = 1.00 * x, a monotone image of
    // x: ties coincide exactly and every untied pair is concordant ->
    // tau_b is EXACTLY 1 (the concordance algebra's identity check)
    val evConst = cloneWithTable("ktconst", "events")(
      _.withColumn("value", lit(1.0)))
    val kc = SparkEntry.queries("stats_kendall_tau")(spark, evConst)
      .collect().head
    assert(kc.getAs[Long]("ties_y") == kc.getAs[Long]("ties_x"))
    assert(kc.getAs[Long]("discordant") == 0L)
    assert(kc.getAs[Long]("concordant")
      == kc.getAs[Long]("n_pairs") - kc.getAs[Long]("ties_x"))
    assert(kc.getAs[Double]("tau_b") == 1.0)
  }
}
