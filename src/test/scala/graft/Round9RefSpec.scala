package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Collector, ParquetSource, TableSource}
import graft.sources.Collector._
import graft.output.{ArtifactJson, ArtifactLoad, HtmlDoc, MarkdownDoc, Secure, SqlDdlDoc}

/** Round-9 reference-surface wave: collect-time sensitive-column
  * detection (config/sampling.rs), sampling operational guards
  * (MAX_SAMPLE_SIZE clamp, query timeout, throttle), dialect-targeted
  * DDL (main.rs SqlArgs.dialect), the zstd artifact framing, and the
  * parameterized quality score/violations.
  */
class Round9RefSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  def sf: String = TestSession.sf

  /** One-table source with credential/PII-looking column names. */
  lazy val plantedDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sens").toString
    Seq((1L, "alice", "x!7", "111-22-3333", "a@b.c"),
        (2L, "bob", "hunter2", "222-33-4444", "d@e.f"))
      .toDF("user_id", "username", "password", "ssn", "email_address")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/users.parquet")
    dir
  }

  class OneTableSource(dir: String) extends TableSource {
    def name: String = s"parquet:$dir"
    def tableNames: Seq[String] = Seq("users")
    def load(table: String): DataFrame =
      spark.read.parquet(s"$dir/$table.parquet")
  }

  test("collect flags sensitive columns and the flag rides the artifact") {
    val a = Collector.collect(new OneTableSource(plantedDir), sampleSize = 2)
    assert(a.formatVersion == "1.4")
    val t = a.tables.head
    val byName = t.columns.map(c => c.name -> c.sensitive).toMap
    assert(byName("password") == "credential field")
    assert(byName("ssn") == "social security number field")
    assert(byName("email_address") == "email field")
    assert(byName("user_id") == "" && byName("username") == "")
    // warnings raised at collect time, one per flagged column
    assert(t.warnings.count(_.startsWith("sensitive:")) == 3)
    // renderers surface the warning
    assert(MarkdownDoc.render(a).contains(
      "WARNING: column `password` may contain a credential field"))
    assert(HtmlDoc.render(a).contains("may contain a credential field"))
    // round-trip: v1.4 optional field survives render → load
    val back = ArtifactLoad.load(ArtifactJson.render(a))
    assert(back == a)
    // warn_sensitive=false suppresses both flags and warnings
    val quiet = Collector.collect(new OneTableSource(plantedDir),
      sampleSize = 2, warnSensitive = false)
    assert(quiet.tables.head.columns.forall(_.sensitive.isEmpty))
    assert(!quiet.tables.head.warnings.exists(_.startsWith("sensitive:")))
  }

  test("a clean artifact serializes without the optional sensitive field") {
    val a = Collector.collect(new ParquetSource(spark, sf), sampleSize = 2,
      warnSensitive = false)
    assert(!ArtifactJson.render(a).contains("\"sensitive\""))
  }

  test("sample size clamps to MAX_SAMPLE_SIZE with a recorded warning") {
    val a = Collector.collect(new OneTableSource(plantedDir),
      sampleSize = 999999)
    assert(a.warnings.exists(_.contains(s"clamped to ${Collector.maxSampleSize}")))
    assert(a.tables.head.sampleStatus == "success")
    val a0 = Collector.collect(new OneTableSource(plantedDir), sampleSize = 0)
    assert(a0.warnings.exists(_.contains("clamped to 1")))
    assert(a0.tables.head.sampleRows.size == 1)
  }

  test("a hung sample degrades to SampleStatus failed, not an abort") {
    val slow = new OneTableSource(plantedDir) {
      override def load(table: String): DataFrame = {
        val sleep = udf { (x: Long) => Thread.sleep(30000L); x }
        spark.read.parquet(s"$plantedDir/$table.parquet")
          .withColumn("user_id", sleep(col("user_id")))
      }
    }
    val a = Collector.collect(slow, sampleSize = 2, queryTimeoutSecs = 2L)
    val t = a.tables.head
    assert(t.sampleStatus == "failed")
    assert(t.warnings.exists(_.contains("timeout")))
    assert(a.server.exists(_.accessLevel == "limited"))
    // the timed-out sample jobs are cancelled, not left sleeping in
    // executor slots after the survey has moved on
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(tracker.getActiveJobIds.isEmpty, tracker.getActiveJobIds.toSeq)
  }

  test("collect counts every table's rows exactly, in one job per table") {
    // sf0.001, a 16-file copy of it, and an empty table
    val split = Files.createTempDirectory("graft_split").toString
    Tables.all.foreach(t => Tables.table(spark, sf, t).repartition(16)
      .write.parquet(s"$split/$t.parquet"))
    val empty = Files.createTempDirectory("graft_empty").toString
    Tables.region(spark, sf).limit(0).write.parquet(s"$empty/region.parquet")
    val emptySource = new TableSource {
      def name: String = s"parquet:$empty"
      def tableNames: Seq[String] = Seq("region")
      def load(table: String): DataFrame = Tables.table(spark, empty, table)
    }
    val sources = Seq(new ParquetSource(spark, sf), new ParquetSource(spark, split),
      emptySource)
    for (source <- sources; strategy <- Seq(SamplingStrategy.MostRecent,
        SamplingStrategy.RandomDet, SamplingStrategy.NoSample)) {
      val a = Collector.collect(source, sampleSize = 3, strategy = strategy)
      val counts = a.tables.map(t => t.name -> t.rowCount)
      assert(counts == source.tableNames.map(t => t -> source.load(t).count()),
        s"${source.name} ${strategy.strategyName}")
    }
    assert(Tables.region(spark, empty).count() == 0L)
    // the tables' schemas are memoized by now: only the sample jobs run
    val ps = new ParquetSource(spark, split)
    val (a, jobs) = SparkEvents.jobs(spark)(Collector.collect(ps, sampleSize = 3))
    assert(a.tables.forall(_.sampleStatus == "success"))
    assert(jobs == ps.tableNames.size)
  }

  test("concurrent and one-table-at-a-time collection give the same artifact") {
    val src = new ParquetSource(spark, sf)
    val at = "2026-01-01T00:00:00Z"
    def timeless(a: Artifact): Artifact =
      a.copy(server = a.server.map(_.copy(collectionDurationMs = 0L)))
    val concurrent = Collector.collect(src, sampleSize = 3, collectedAt = at)
    val serial = Collector.collect(src, sampleSize = 3, collectedAt = at,
      throttleMs = 1L)
    assert(concurrent.tables.map(_.name) == src.tableNames)
    assert(timeless(concurrent) == timeless(serial))
  }

  test("concurrent collection degrades only the failing tables, in order") {
    val base = new ParquetSource(spark, sf)
    val sleep = udf { (x: Long) => Thread.sleep(30000L); x }
    val mixed = new TableSource {
      def name: String = "mixed"
      def tableNames: Seq[String] = Seq("region", "ghost", "nation", "slow", "supplier")
      def load(table: String): DataFrame = table match {
        case "ghost" => throw new RuntimeException("no such table")
        // loads fine; only the sample (ordered by the slowed key) hangs
        case "slow" => base.load("region")
          .withColumn("r_regionkey", sleep(col("r_regionkey")))
        case t => base.load(t)
      }
    }
    val a = Collector.collect(mixed, sampleSize = 2, queryTimeoutSecs = 2L)
    assert(a.tables.map(_.name) == mixed.tableNames)
    val byName = a.tables.map(t => t.name -> t).toMap
    assert(byName("ghost").sampleStatus == "failed" &&
      byName("ghost").warnings.exists(_.contains("load failed")))
    assert(byName("slow").sampleStatus == "failed" &&
      byName("slow").warnings.exists(_.contains("timeout")))
    assert(byName("slow").rowCount == byName("region").rowCount)
    assert(Seq("region", "nation", "supplier").forall(byName(_).sampleStatus == "success"))
    assert(a.server.exists(_.accessLevel == "limited"))
    assert(Collector.validate(a).isEmpty)
  }

  test("collection overlaps tables: two loads are in flight at once") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import scala.jdk.CollectionConverters._
    val bothLoading = new CountDownLatch(2)
    val met = new ConcurrentLinkedQueue[Boolean]()
    val pair = new OneTableSource(plantedDir) {
      override def tableNames: Seq[String] = Seq("users", "users_again")
      override def load(table: String): DataFrame = {
        bothLoading.countDown()
        // bounded: a serialized collect fails here instead of hanging
        met.add(bothLoading.await(10, TimeUnit.SECONDS))
        super.load("users")
      }
    }
    val a = Collector.collect(pair, sampleSize = 2)
    assert(met.asScala.toSeq == Seq(true, true))
    assert(a.tables.map(_.name) == Seq("users", "users_again"))
    assert(a.tables.forall(_.sampleStatus == "success"))
  }

  test("atomic artifact writes replace the target and leave no staging files") {
    val dir = Files.createTempDirectory("graft_atomic")
    val p = dir.resolve("schema.graft.json")
    Generate.atomicWrite(p, "v1".getBytes("UTF-8"))
    assert(new String(Files.readAllBytes(p), "UTF-8") == "v1")
    // overwrite of an existing artifact goes through the same rename
    Generate.atomicWrite(p, "version-two".getBytes("UTF-8"))
    assert(new String(Files.readAllBytes(p), "UTF-8") == "version-two")
    import scala.jdk.CollectionConverters._
    val entries = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(entries == Seq("schema.graft.json"), entries.toString)
  }

  test("zstd is the default Generate framing and loadFile sniffs it") {
    val a = Collector.collect(new OneTableSource(plantedDir), sampleSize = 2)
    val json = ArtifactJson.render(a).getBytes("UTF-8")
    val dir = Files.createTempDirectory("graft_zst")
    // plain zstd, reference naming
    val zst = dir.resolve("schema.graft.json.zst")
    Files.write(zst, Secure.zstd(json))
    assert(ArtifactLoad.loadFile(zst.toString) == a)
    // zstd + encryption envelope
    val enc = dir.resolve("schema.graft.json.zst.enc")
    Files.write(enc, Secure.encrypt(Secure.zstd(json), "pw"))
    assert(ArtifactLoad.loadFile(enc.toString, Some("pw")) == a)
    // gzip still sniffs (legacy flag)
    val gz = dir.resolve("schema.graft.json.gz")
    Files.write(gz, Secure.gzip(json))
    assert(ArtifactLoad.loadFile(gz.toString) == a)
    // and a renamed plain-json file loads too (content, not extension)
    val ren = dir.resolve("whatever.bin")
    Files.write(ren, json)
    assert(ArtifactLoad.loadFile(ren.toString) == a)
  }

  test("dialect-targeted DDL maps types and identity per engine") {
    val cols = Seq(
      ColumnInfo("id", "int64", nullable = false, autoIncrement = true),
      ColumnInfo("name", "string", nullable = true),
      ColumnInfo("score", "float64", nullable = true),
      ColumnInfo("flag", "bool", nullable = true),
      ColumnInfo("blob_c", "binary", nullable = true),
      ColumnInfo("at", "timestamp", nullable = true),
      ColumnInfo("vec", "array<float64>", nullable = true))
    val a = Artifact("1.4", "test", Seq(TableInfo("t", cols, 1L, Nil, Nil,
      pkCandidates = Seq("id"), keyProvenance = "collected")))
    import SqlDdlDoc.SqlDialect._
    val pg = SqlDdlDoc.render(a, Postgres)
    assert(pg.contains("id BIGINT GENERATED ALWAYS AS IDENTITY"))
    assert(pg.contains("name TEXT") && pg.contains("score DOUBLE PRECISION"))
    assert(pg.contains("blob_c BYTEA") && pg.contains("vec DOUBLE PRECISION[]"))
    val my = SqlDdlDoc.render(a, MySql)
    assert(my.contains("id BIGINT AUTO_INCREMENT"))
    assert(my.contains("name VARCHAR(255)") && my.contains("at DATETIME"))
    assert(my.contains("vec JSON /* array of float64 */"))
    val lite = SqlDdlDoc.render(a, SQLite)
    assert(lite.contains("id INTEGER /* auto-increment in source */"))
    assert(lite.contains("at TEXT") && lite.contains("flag INTEGER"))
    val ms = SqlDdlDoc.render(a, SqlServer)
    assert(ms.contains("id BIGINT IDENTITY(1,1)"))
    assert(ms.contains("name NVARCHAR(255)") && ms.contains("at DATETIME2"))
    assert(ms.contains("flag BIT") && ms.contains("blob_c VARBINARY(MAX)"))
    // generic unchanged: the engine-neutral baseline
    val gen = SqlDdlDoc.render(a)
    assert(gen.contains("id BIGINT GENERATED ALWAYS AS IDENTITY"))
    assert(gen.contains("name VARCHAR") && gen.contains("blob_c BLOB"))
  }

  test("quality score honors non-default weights; violations match thresholds") {
    import graft.profile.Quality
    val base = Quality.score(spark, sf).collect().head
    val (c, u, n) = (base.getDouble(2), base.getDouble(3), base.getDouble(4))
    val w = Quality.ScoreWeights(completeness = 2.0, uniqueness = 1.0,
      consistency = 3.0)
    val got = Quality.scoreWith(spark, sf, w).collect().head.getDouble(5)
    assert(math.abs(got - (c * 2.0 + u * 1.0 + n * 3.0) / 6.0) < 1e-12)
    // violations = exactly the metrics below their reference-default min
    val t = Quality.ScoreThresholds()
    val want = Seq(
      "completeness" -> (c < t.completenessMin),
      "consistency" -> (n < t.consistencyMin),
      "uniqueness" -> (u < t.uniquenessMin)).filter(_._2).map(_._1).sorted
    val rows = Quality.scoreViolations(spark, sf).collect()
    assert(rows.map(_.getString(1)).sorted.toSeq == want)
    rows.foreach(r => assert(r.getDouble(3) < r.getDouble(2)))
  }
}
