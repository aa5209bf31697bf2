package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.ConstraintInference

/** Data-driven constraint discovery semantics (infer_constraints). */
class ConstraintSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  def sf: String = TestSession.sf

  lazy val rows = ConstraintInference.inferConstraints(spark, sf).collect()
  private def of(t: String, c: String, kind: String) =
    rows.find(r => r.getString(0) == t && r.getString(1) == c && r.getString(2) == kind)

  test("range constraints carry exact integer bounds") {
    assert(of("region", "r_regionkey", "range").get.getString(3) == "[0,4]")
    val li = of("lineitem", "l_linenumber", "range").get.getString(3)
    assert(li.matches("\\[1,\\d+\\]"))
  }

  test("no range constraints on float or timestamp columns") {
    val ranged = rows.filter(_.getString(2) == "range")
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(!ranged(("lineitem", "l_quantity")))   // float64
    assert(!ranged(("events", "ts")))             // timestamp
    assert(!ranged(("orders", "o_totalprice")))   // float64
  }

  test("enum domains are the sorted distinct values of low-cardinality strings") {
    val seg = of("customer", "c_mktsegment", "enum").get.getString(3)
    // JSON-array encoding: comma-safe (a value containing ',' cannot
    // split into bogus entries when the CHECK clause is rendered)
    val vals = graft.output.ArtifactLoad.parseStringArray(seg)
    assert(vals.length == 5 && vals == vals.sorted)
    // 20-distinct source column is over the enum bound — no enum row
    assert(of("documents", "source", "enum").isEmpty)
    // integer columns never produce enums
    assert(rows.filter(_.getString(2) == "enum")
      .forall(r => r.getString(1) != "n_chars"))
  }

  test("unique and not_null mark the key columns") {
    assert(of("orders", "o_orderkey", "unique").isDefined)
    assert(of("orders", "o_orderkey", "not_null").isDefined)
    // a non-unique fact key has no unique constraint
    assert(of("lineitem", "l_orderkey", "unique").isEmpty)
  }

  test("an array-only catalog degrades to an empty typed result") {
    import spark.implicits._
    val arrOnly = Seq(Tuple1(Seq(1.0f))).toDF("vec")
    val out = ConstraintInference.constraintsDf(Seq("t" -> arrOnly))
    assert(out.columns.toSeq == Seq("table_name", "column_name", "kind", "detail"))
    assert(out.count() == 0)
  }

  test("approx variant: exact not_null/range/enum rows preserved; unique candidates superset") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    val exact = rows(ConstraintInference.inferConstraints(spark, sf))
    val approx = rows(ConstraintInference.inferConstraintsApprox(spark, sf))
    // not_null and range don't touch the sketch — identical
    for (k <- Seq("not_null", "range"))
      assert(exact.filter(_._3 == k) == approx.filter(_._3 == k), k)
    // enum domains are computed exactly in both modes (the candidate-only
    // collect_set pass re-checks cardinality under approx slack)
    assert(exact.filter(_._3 == "enum") == approx.filter(_._3 == "enum"))
    // uniqueness: the HLL candidate set must contain every true unique
    val exactU = exact.filter(_._3 == "unique")
    val approxU = approx.filter(_._3 == "unique")
    assert(exactU.subsetOf(approxU),
      s"missed true uniques: ${exactU -- approxU}")
  }

  test("approx variant fans each table out at most once") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    val walk = new AdaptiveSparkPlanHelper {}
    val (_, plans) = SparkEvents.plans(spark) {
      ConstraintInference.inferConstraintsApprox(spark, sf).collect()
    }
    val fans = plans.map(p => walk.collectWithSubqueries(p) {
      case x: ShuffleExchangeExec if x.shuffleOrigin == REPARTITION_BY_NUM => x
    }.size)
    assert(fans.sum <= Tables.all.size, s"repartition exchanges per executed plan: $fans")
  }
}
