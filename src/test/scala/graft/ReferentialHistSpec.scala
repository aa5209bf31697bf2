package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.profile.{Histogram, Referential}

class ReferentialHistSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  def sf: String = TestSession.sf

  test("referential audit: clean lake reports zero orphans, totals reconcile") {
    val rows = Referential.qualityReferential(spark, sf).collect()
    assert(rows.length == Referential.edges.length)
    rows.foreach { r =>
      val ct = r.getAs[String]("child_table")
      val cc = r.getAs[String]("child_column")
      val n = Tables.table(spark, sf, ct).filter(col(cc).isNotNull).count()
      assert(r.getAs[Long]("n_child_rows") == n, s"$ct.$cc rows")
      assert(r.getAs[Long]("n_orphan_keys") == 0L, s"$ct.$cc unexpectedly orphaned")
      assert(r.getAs[Long]("n_orphan_rows") == 0L)
      assert(r.getAs[Long]("orphan_row_ppm") == 0L)
    }
  }

  test("referential audit: planted orphans are counted exactly") {
    import spark.implicits._
    val child = Seq((1L, "a"), (1L, "b"), (2L, "c"), (9L, "d"), (9L, "e"), (9L, "f"))
      .toDF("fk", "payload")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val r = Referential.auditEdge(child, "fk", parent, "pk").collect()(0)
    assert(r.getAs[Long]("n_child_rows") == 6L)
    assert(r.getAs[Long]("n_child_keys") == 3L)
    assert(r.getAs[Long]("n_orphan_keys") == 1L) // key 9
    assert(r.getAs[Long]("n_orphan_rows") == 3L)
  }

  test("join-cardinality profile: planted fan-out exact; real edges reconcile with brute counts") {
    import spark.implicits._
    // planted: parent 1 has 3 children, parent 2 has 1, parent 3 childless,
    // orphan child key 9 excluded by construction
    val child = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "d"), (9L, "e"))
      .toDF("fk", "payload")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val f = Referential.fanoutEdge(child, "fk", parent, "pk").collect()(0)
    assert(f.getAs[Long]("n_parents") == 3L)
    assert(f.getAs[Long]("n_matched_parents") == 2L)
    assert(f.getAs[Long]("n_child_rows") == 4L) // orphan row not counted
    assert(f.getAs[Long]("min_f") == 1L && f.getAs[Long]("max_f") == 3L)
    // real lake: per-edge max fan-out equals a brute recompute
    val rows = Referential.profileJoinCardinality(spark, sf).collect()
    assert(rows.length == Referential.edges.length)
    rows.foreach { r =>
      val (ct, cc) = (r.getAs[String]("child_table"), r.getAs[String]("child_column"))
      val (pt, pc) = (r.getAs[String]("parent_table"), r.getAs[String]("parent_column"))
      val brute = Tables.table(spark, sf, ct)
        .join(Tables.table(spark, sf, pt),
          col(cc).cast("long") === col(pc).cast("long"), "left_semi")
        .groupBy(col(cc)).agg(count(lit(1)).as("n"))
        .agg(max(col("n")), sum(col("n")), count(lit(1))).collect()(0)
      assert(r.getAs[Long]("max_fanout") == brute.getLong(0), s"$ct.$cc max")
      // avg ppm is the exact floor of matched child rows over matched parents
      val want = BigInt(brute.getLong(1)) * 1000000 / brute.getLong(2)
      assert(BigInt(r.getAs[Long]("avg_fanout_ppm")) == want, s"$ct.$cc avg")
      assert(r.getAs[Long]("childless_ppm") ==
        (r.getAs[Long]("n_parents") - r.getAs[Long]("n_matched_parents")) * 1000000L /
          r.getAs[Long]("n_parents"))
    }
  }

  test("join cardinality keeps an edge whose parent table is empty, as the oracle does") {
    import java.nio.file.{Files, Paths}
    // sf0.001 with region.parquet emptied (schema kept); the other tables
    // are links to the fixture files
    val lake = Files.createTempDirectory("empty_region")
    val staging = Files.createTempDirectory("empty_region_write")
    val out = Files.createTempDirectory("empty_region_out")
    // Files.walk does not follow the links, so only the links are deleted
    def rmTree(p: java.nio.file.Path): Unit = {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
    try {
      Tables.all.filter(_ != "region").foreach(t =>
        Files.createSymbolicLink(lake.resolve(s"$t.parquet"), Paths.get(sf, s"$t.parquet")))
      val staged = staging.resolve("out").toString
      Tables.region(spark, sf).limit(0).coalesce(1).write.parquet(staged)
      val part = new java.io.File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, lake.resolve("region.parquet"))
      val dir = lake.toString

      val rows = Referential.profileJoinCardinality(spark, dir).collect()
      assert(rows.length == Referential.edges.length)
      val r = rows.find(_.getAs[String]("child_table") == "nation").get
      assert(r.getAs[String]("parent_table") == "region")
      assert(r.getAs[Long]("n_parents") == 0L)
      assert(r.isNullAt(r.fieldIndex("n_matched_parents")))
      assert(r.isNullAt(r.fieldIndex("childless_ppm")))
      assert(r.getAs[Long]("min_fanout") == 0L)
      assert(r.getAs[Long]("avg_fanout_ppm") == 0L && r.getAs[Long]("max_over_avg_ppm") == 0L)

      // the same lake through the driver's DuckDB compare
      assume(new java.io.File("scripts/oracle_check.py").isFile,
        "run from the repo root (sbt loads the project there)")
      Verify.dump(spark, dir, out.toString, Some(Set("profile_join_cardinality")))
      val proc = new ProcessBuilder("python3", "scripts/oracle_check.py", dir, out.toString,
        "profile_join_cardinality").redirectErrorStream(true).start()
      val log = scala.io.Source.fromInputStream(proc.getInputStream).mkString
      assert(proc.waitFor() == 0 && log.contains("PASS profile_join_cardinality (8 rows)"), log)
    } finally Seq(lake, staging, out).foreach(rmTree)
  }

  test("equi-depth histogram: ~10% per bucket on continuous columns, counts reconcile") {
    val rows = Histogram.profileHistogram(spark, sf).collect()
    val byCol = rows.groupBy(r => (r.getAs[String]("table_name"), r.getAs[String]("column_name")))
    assert(byCol.keySet == Histogram.histCols.map(tc => (tc._1, tc._2)).toSet)
    byCol.foreach { case ((t, c), bs) =>
      val n = Tables.table(spark, sf, t).filter(col(c).isNotNull).count()
      assert(bs.map(_.getAs[Long]("n_rows")).sum == n, s"$t.$c total")
      // bucket bounds: lo of bucket b+1 >= lo of bucket b; min/max inside bounds
      bs.foreach { r =>
        val lo = Option(r.getAs[java.lang.Double]("lo_bound"))
        val hi = Option(r.getAs[java.lang.Double]("hi_bound"))
        lo.foreach(l => assert(r.getAs[Double]("min_v") >= l))
        hi.foreach(h => assert(r.getAs[Double]("max_v") <= h + 1e-9))
      }
      // continuous money columns: every decile within 2x of the ideal tenth
      if (c == "c_acctbal" || c == "l_extendedprice" || c == "o_totalprice") {
        assert(bs.length == Histogram.nBuckets, s"$t.$c buckets")
        bs.foreach { r =>
          val share = r.getAs[Long]("n_rows").toDouble / n
          assert(share > 0.02 && share < 0.25, s"$t.$c bucket share $share")
        }
      }
    }
  }

  test("reconciliation: buckets match an exact BigDecimal recompute per status") {
    import java.math.{BigDecimal => JBD}
    val rows = Referential.qualityReconciliation(spark, sf).collect()
      .map(r => r.getAs[String]("o_orderstatus") -> r).toMap
    def bd(x: Double, scale: Int) =
      JBD.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP)
    val comp = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_extendedprice", "l_discount", "l_tax").collect()
      .map(r => (r.getLong(0),
        bd(r.getDouble(1), 4).multiply(JBD.ONE.subtract(bd(r.getDouble(2), 2)))
          .multiply(JBD.ONE.add(bd(r.getDouble(3), 2)))))
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).reduce(_ add _)) }
    val orders = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1), bd(r.getDouble(2), 2)))
    val tol = new JBD("0.01")
    val expect = orders.groupBy(_._2).map { case (st, os) =>
      val stats = os.map { case (k, _, t) =>
        comp.get(k) match {
          case None => (1, 0, 0, None: Option[JBD], JBD.ZERO)
          case Some(c) =>
            val diff = c.subtract(t).abs()
            val within = diff.compareTo(t.multiply(tol)) <= 0
            (0, if (within) 1 else 0, if (within) 0 else 1, Some(diff), diff)
        }
      }
      (st, (os.length.toLong, stats.map(_._1).sum.toLong, stats.map(_._2).sum.toLong,
        stats.map(_._3).sum.toLong, stats.map(_._5).reduce(_ add _)))
    }
    assert(rows.keySet == expect.keySet)
    expect.foreach { case (st, (n, noL, within, mis, absSum)) =>
      val r = rows(st)
      assert(r.getAs[Long]("n_orders") == n, s"$st orders")
      assert(r.getAs[Long]("n_no_lines") == noL, s"$st no-lines")
      assert(r.getAs[Long]("n_within_1pct") == within, s"$st within")
      assert(r.getAs[Long]("n_mismatch") == mis, s"$st mismatch")
      assert(r.getAs[Double]("sum_abs_diff") ==
        absSum.setScale(2, java.math.RoundingMode.HALF_UP).doubleValue, s"$st abs sum")
    }
    // the detector has real work on this data: mismatches exist
    assert(rows.values.map(_.getAs[Long]("n_mismatch")).sum > 0)
  }
}
