package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

class AsOfSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  def sf: String = TestSession.sf

  test("custom AsOfJoinExec equals the window-union formulation row-for-row") {
    val a = Relational.qAsofCustom(spark, sf)
    val b = Relational.qAsofJoin(spark, sf)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("merge survives many partitions (co-partitioning is declared, not assumed)") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      val a = Relational.qAsofCustom(spark, sf)
      val b = Relational.qAsofJoin(spark, sf)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("events of users with no orders get null payload, not dropped") {
    val n = Relational.qAsofCustom(spark, sf).count()
    assert(n == Tables.events(spark, sf).count())
  }

  test("reading every table and the custom as-of join leave the session unchanged") {
    val s = spark.newSession()
    val confBefore = s.conf.getAll
    val strategiesBefore = s.experimental.extraStrategies
    Tables.all.foreach(t => Tables.table(s, sf, t).count())
    assert(SparkEntry.queries("q_asof_custom")(s, sf).collect().nonEmpty)
    assert(s.conf.getAll == confBefore)
    assert(s.experimental.extraStrategies == strategiesBefore)
  }
}
