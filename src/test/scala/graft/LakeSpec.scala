package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.output.Lake

class LakeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  def sf: String = TestSession.sf

  test("daily agg writes a day-partitioned layout and reads prune partitions") {
    val dir = Files.createTempDirectory("graft_lake").toString
    Lake.writeDailyAgg(spark, sf, dir)
    // physical layout: one directory per day
    val dayDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("day="))
    assert(dayDirs.length > 5)

    val oneDay = Lake.readDay(spark, dir, "2024-01-03")
    // partition pruning visible in the plan: the day predicate appears as
    // a PartitionFilter on the scan, and no other day's rows are read
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"))
    assert(oneDay.select("day").distinct().count() == 1)

    // totals survive the roundtrip
    val total = spark.read.parquet(dir).agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("the table fingerprint walks a day-partitioned layout and sees a nested rewrite") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_lake_fp").toString
    Lake.writeDailyAgg(spark, sf, dir)
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val q = fs.makeQualified(root)
    val before = Tables.listingFingerprint(fs, q)
    assert(before == ListFilesFingerprint(fs, q))
    val day = new java.io.File(dir).listFiles().filter(_.getName.startsWith("day=")).minBy(_.getName)
    val part = day.listFiles().filter(_.getName.endsWith(".parquet")).minBy(_.getName)
    val bytes = Files.readAllBytes(part.toPath)
    Files.write(part.toPath, bytes ++ bytes)
    val rewritten = Tables.listingFingerprint(fs, q)
    assert(rewritten != before && rewritten == ListFilesFingerprint(fs, q))
  }

  test("bucketed tables co-locate the join: no exchange, no pre-join sort") {
    Lake.writeBucketed(spark, sf, buckets = 8)
    try {
      val joined = Lake.bucketedJoin(spark)
      // the non-adaptive physical plan: bucketing satisfies the merge
      // join's distribution AND ordering, so there is no shuffle and no
      // sort anywhere before the join
      val plan = joined.queryExecution.sparkPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      // correctness: totals match the unbucketed join
      val want = Tables.orders(spark, sf).count()
      val got = joined.agg(org.apache.spark.sql.functions.sum("n_orders"))
        .collect()(0).getLong(0)
      assert(got == want)
    } finally {
      spark.sql("DROP TABLE IF EXISTS g_orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS g_customer_bucketed")
    }
  }

  test("z-order layout: day-box queries skip files a linear sort must read") {
    val zDir = Files.createTempDirectory("graft_z").toString
    val lDir = Files.createTempDirectory("graft_lin").toString
    Lake.writeZOrdered(spark, sf, zDir)
    Lake.writeZOrdered(spark, sf, lDir, linear = true)
    // same rows in both layouts
    val n = Tables.events(spark, sf).count()
    assert(spark.read.parquet(zDir).count() == n)
    assert(spark.read.parquet(lDir).count() == n)
    val zb = Lake.fileBounds(spark, zDir).collect()
    val lb = Lake.fileBounds(spark, lDir).collect()
    assert(zb.length >= 8 && lb.length >= 8, "enough files to measure skipping")
    def reads(bs: Array[org.apache.spark.sql.Row],
              uLo: Long, uHi: Long, dLo: Long, dHi: Long): Int =
      bs.count(b => b.getAs[Long]("u_lo") <= uHi && b.getAs[Long]("u_hi") >= uLo &&
        b.getAs[Long]("d_lo") <= dHi && b.getAs[Long]("d_hi") >= dLo)
    val dayUs = 86400000000L
    val d0 = Tables.events(spark, sf)
      .agg(min(unix_micros(date_trunc("day", col("ts"))))).collect()(0).getLong(0)
    // single-day predicates over the full user range: the user-sorted
    // linear layout must read every file (each file spans all days);
    // z-order bounds the day dimension per file
    val days = (5 until 25 by 5).map(i => d0 + i * dayUs)
    val zReads = days.map(d => reads(zb, Long.MinValue, Long.MaxValue, d, d)).sum
    val lReads = days.map(d => reads(lb, Long.MinValue, Long.MaxValue, d, d)).sum
    assert(zReads < lReads, s"z-order should skip: z=$zReads linear=$lReads")
    // 2-d box (half the users x one week): z-order never worse
    val zBox = reads(zb, 0, 7, d0 + 10 * dayUs, d0 + 16 * dayUs)
    val lBox = reads(lb, 0, 7, d0 + 10 * dayUs, d0 + 16 * dayUs)
    assert(zBox <= lBox, s"2-d box: z=$zBox linear=$lBox")
  }

  test("catalog-collected layout metadata round-trips through the artifact") {
    import graft.sources.{CatalogSource, Collector}
    import graft.output.{ArtifactJson, SqlDdlDoc, HtmlDoc}
    Lake.writeBucketed(spark, sf, buckets = 8)
    Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .write.mode("overwrite").partitionBy("day").saveAsTable("g_daily_agg")
    try {
      val src = new CatalogSource(spark, Seq("g_orders_bucketed", "g_daily_agg"))
      val a = Collector.collect(src, sampleSize = 2)
      assert(Collector.validate(a).isEmpty)
      // bucket spec collected from the session catalog
      val b = a.tables.find(_.name == "g_orders_bucketed").get.layout.get
      assert(b.bucketColumns == Seq("o_custkey") && b.numBuckets == 8 &&
        b.sortColumns == Seq("o_custkey") && b.partitionColumns.isEmpty)
      // partition columns collected from the session catalog
      val p = a.tables.find(_.name == "g_daily_agg").get.layout.get
      assert(p.partitionColumns == Seq("day") && p.numBuckets == 0)
      // layout survives json + renders in ddl/html
      val json = ArtifactJson.render(a)
      assert(json.contains("\"num_buckets\": 8"))
      assert(json.contains("\"partition_columns\": [\"day\"]"))
      val ddl = SqlDdlDoc.render(a)
      assert(ddl.contains("-- layout: clustered by (o_custkey) into 8 buckets; sorted by (o_custkey)"))
      assert(ddl.contains("-- layout: partitioned by (day)"))
      assert(HtmlDoc.render(a).contains("Layout: partitioned by (day)"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS g_orders_bucketed")
      spark.sql("DROP TABLE IF EXISTS g_customer_bucketed")
      spark.sql("DROP TABLE IF EXISTS g_daily_agg")
    }
  }
}
