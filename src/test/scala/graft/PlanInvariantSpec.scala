package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical plan-hygiene guards: the scale properties PLANS.md claims
  * are asserted here against the actual physical plans, so a regression
  * (lost pushdown, accidental cartesian, lost broadcast, un-pruned
  * scan) fails CI instead of surviving as stale documentation. Uses the
  * non-adaptive sparkPlan (same device as LakeSpec) so assertions are
  * about the static planning, not AQE's runtime choices.
  */
class PlanInvariantSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  def sf: String = TestSession.sf

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.sparkPlan.toString

  test("no unbounded cartesian anywhere in the oracle inventory") {
    // CartesianProduct = the O(n^2) killer. BroadcastNestedLoopJoin is
    // allowed ONLY for the deliberate 1-row stat broadcasts; a genuine
    // cartesian between data-sized sides plans as CartesianProduct.
    for ((name, _) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian:\n$p")
    }
  }

  test("filters are pushed into the parquet scans") {
    // q1's shipdate predicate must reach the lineitem scan
    val q1 = plan("q1_pricing_summary")
    assert(q1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), q1)
    // the incremental-dedup bucket predicates stay scan-level DataFilters
    // (md5 isn't a parquet-pushable predicate, but it must evaluate at
    // the scan, not after a shuffle)
    val inc = SparkEntry.queries("dedup_incremental")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(inc.contains("DataFilters: [isnotnull(doc_id"), inc)
  }

  test("scans are column-pruned to what the query needs") {
    // pii scan must read exactly (doc_id, text) — not lang/source/n_chars
    val pii = plan("text_pii_scan")
    assert(pii.contains("ReadSchema: struct<doc_id:bigint,text:string>"), pii)
    // token count reads no doc_id
    val fp = plan("text_fingerprint")
    assert(!fp.contains("n_chars"), fp)
  }

  test("dimension joins broadcast; the 6-way join has no dim shuffle") {
    val q5 = plan("q5_region_revenue")
    assert(q5.contains("BroadcastHashJoin"), q5)
    // region+nation (the tiny dims) must NOT be exchange-shuffled
    assert(!q5.contains("Exchange hashpartitioning(r_regionkey"), q5)
    assert(!q5.contains("Exchange hashpartitioning(n_nationkey"), q5)
  }

  test("banded LSH pair generation joins on (band, key), never all-pairs") {
    // the band join lives in the shared lsh-pairs derivation; its
    // consumers read the materialized artifact back as a parquet scan
    val sim = graft.sim.Similarity
    val p = sim.lshPairsFor(sim.vectors(spark, sf)).queryExecution.sparkPlan.toString
    assert(p.contains("band"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val d = plan("dedup_embedding")
    assert(d.contains("FileScan parquet") && d.contains("_lsh-pairs.parquet"), d)
  }

  test("bounded top-k plans as TakeOrderedAndProject, not a global sort") {
    val q3 = plan("q3_shipping_priority")
    assert(q3.contains("TakeOrderedAndProject"), q3)
  }

  test("pii scan's only exchange is the presentation sort") {
    // exchanges are inserted by EnsureRequirements -> executedPlan
    val p = SparkEntry.queries("text_pii_scan")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1 && p.contains("Exchange rangepartitioning"), p)
  }

  test("r5 zero-shuffle text ops: the only exchange is the presentation sort") {
    // bpe_encode's ENCODE half and readability are pure per-row column
    // work — the PLANS.md claim, asserted against the executed plan
    for (q <- Seq("bpe_encode", "text_readability")) {
      val p = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(p).length
      assert(exchanges == 1 && p.contains("Exchange rangepartitioning"),
        s"$q:\n$p")
    }
  }

  test("r5 heavy aggregations avoid Expand (no countDistinct over exploded streams)") {
    for (q <- Seq("dedup_substring", "profile_correlations", "q_user_paths")) {
      val p = plan(q)
      assert(!p.contains("Expand"), s"$q plans an Expand:\n$p")
    }
  }

  test("r7 session ops: dedup-first aggregations avoid Expand; q16 broadcasts both small sides") {
    // every one of these deduplicates BEFORE counting (array_distinct
    // in-row, distinct-first, or plain keyed sums) — a countDistinct
    // creeping in would plan an Expand over the widest stream in the op
    for (q <- Seq("text_dup_ngram_coverage", "q_sliding_distinct",
        "q16_supplier_variety", "knn_triangles", "scd2_history",
        "profile_incremental", "sample_weighted", "sim_knn_classify")) {
      val p = plan(q)
      assert(!p.contains("Expand"), s"$q plans an Expand:\n$p")
    }
    // q16: the part dimension AND the NOT-IN exclusion list both ride
    // as broadcasts — the fact side never shuffles before its dedup
    val p16 = plan("q16_supplier_variety")
    assert("BroadcastHashJoin".r.findAllIn(p16).length >= 2,
      s"q16 lost a broadcast join:\n$p16")
  }

  test("r8 ops: profiling/trade/sparse shapes hold (no Expand; fact co-shuffles; stack stays Generate)") {
    // the infer_constraints rework exists precisely to kill its Expand;
    // the two Patterns ops and the heatmap must keep the
    // single-distinct / Generate-not-Expand paths
    for (q <- Seq("infer_constraints", "profile_value_patterns",
        "profile_top_values", "events_weekly_heatmap",
        "q_nation_trade_balance")) {
      val p = plan(q)
      assert(!p.contains("Expand"), s"$q plans an Expand:\n$p")
    }
    // the stack unpivot is a Generate (in-row), never a join
    val pv = plan("profile_value_patterns")
    assert(pv.contains("Generate"), pv)
    // sparse knn: the query side broadcasts into the token join — the
    // corpus side must NOT be broadcast (it is the data-sized side)
    val sc = plan("sim_sparse_cosine")
    assert(sc.contains("BroadcastHashJoin"), sc)
    // attribution + heatmap read only the needed event columns
    val at = plan("events_attribution")
    assert(!at.contains("props"), at)
    val wh = plan("events_weekly_heatmap")
    assert(!wh.contains("event_type") && !wh.contains("props"), wh)
  }

  // Fixed-domain grouping keys (domain size in parens) — a groupBy on a
  // subset of these is bounded regardless of data volume:
  private lazy val boundedDims = Set(
    "decile",      // ntile(10) bucket id (10)
    "p_brand",     // part brand domain (25)
    "digit",       // benford leading digit (9)
    "source",      // documents source mixture lanes (4)
    "lang",        // documents language tags (bounded tag set)
    "event_type",  // events type alphabet (5)
    "bucket",      // fixed histogram/grid bucket ids
    "week",        // bounded reporting horizon of the temporal ops
    "day_num",     // calendar-day grain — horizon-bounded like week
                   // (quality_cusum_drift's cumulative detectors)
    "week_num",    // calendar-week grain — horizon-bounded
                   // (quality_score_history's survey epochs)
    "dow",         // day-of-week (7) — events_seasonality cells
    "hod"          // hour-of-day (24)
  ) ++
    // the profiler's declared bounded-categorical registry (the entropy
    // profile exists exactly because these have fixed small domains)
    profile.Profiler.entropyCols.map(_._2)

  // Calendar-grain names are only horizon-bounded if they really ARE
  // calendar grains. r14 (two-round VERDICT nit): the allowance for
  // these is keyed on the PRODUCING expression, not the column name —
  // somewhere below the window an Alias of that name must derive from a
  // timestamp/date attribute (the unix_micros(date_trunc(...)) DIV
  // family). A data-sized LONG column smuggled in under the name
  // `day_num` has no temporal producer and FAILS the sweep (negative
  // test below).
  private val grainDims = Set("week", "day_num", "week_num")

  private def temporallyProduced(
      w: org.apache.spark.sql.execution.SparkPlan, grain: String): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
    import org.apache.spark.sql.types.{DateType, TimestampType}
    w.exists(node => node.expressions.exists(_.exists {
      case a: Alias if a.name == grain =>
        a.child.exists {
          case ar: AttributeReference =>
            ar.dataType == TimestampType || ar.dataType == DateType
          case _ => false
        }
      case _ => false
    }))
  }

  /** The class-guard checker, factored out so the negative test below
    * can run it against a deliberately-violating plan.
    */
  private def globalWindowViolations(
      name: String,
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val violations = scala.collection.mutable.ListBuffer.empty[String]
    p.foreach {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        val grouping = w.child.collectFirst {
          case a: BaseAggregateExec => a.groupingExpressions.map(_.name).toSet
        }
        val allowed = grouping.exists(g =>
          g.nonEmpty && g.subsetOf(boundedDims) &&
            g.intersect(grainDims).forall(temporallyProduced(w, _)))
        if (!allowed) violations += s"$name (grouping=$grouping)"
      case _ => ()
    }
    violations.toSeq
  }

  test("class guard: no empty-partitionBy WindowExec over non-aggregate-sized input") {
    // An empty-partitionBy window plans a SINGLE-partition WindowExec —
    // every input row sorted through one task. That is only tolerable when
    // the input frame is aggregate-sized: the output of a groupBy whose
    // keys all have fixed, data-independent domains. This sweep is the
    // CLASS guard (VERDICT r5 next-steps #8): any future query that puts a
    // global window over a data-sized frame fails here, by construction.
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) => globalWindowViolations(name,
        SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan)
    }
    assert(violations.isEmpty,
      s"global (empty-partitionBy) WindowExec over non-bounded input — " +
        s"use GlobalRank instead:\n${violations.mkString("\n")}")
  }

  test("class guard rejects a data-sized column smuggled in as day_num") {
    // The r12-r13 blind spot, pinned shut: a LONG id column renamed to
    // a calendar-grain name rides a groupBy into a global window. The
    // name matches boundedDims; the producing expression is NOT a
    // temporal derivation — the guard must flag it.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = Tables.events(spark, sf)
      .select(col("event_id").as("day_num"))
      .groupBy(col("day_num")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("day_num"))))
    val v = globalWindowViolations("smuggled_day_num",
      df.queryExecution.sparkPlan)
    assert(v.nonEmpty, "a data-sized day_num must fail the class guard")
  }

  test("ks drift is pure conditional aggregation — no window, no sort-based ECDF") {
    val p = plan("quality_ks_drift")
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("r6 ops: chunking is shuffle-free; fact joins broadcast; no stray windows") {
    // chunk_overlap is pure per-row work — only the presentation sort
    val chunk = SparkEntry.queries("chunk_overlap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(chunk).length == 1 &&
      chunk.contains("Exchange rangepartitioning"), chunk)
    // q14: every dimension side broadcast, the lineitem fact never
    // hash-exchanges on a join key before aggregation
    locally {
      val p = plan("q14_promo_revenue")
      assert(p.contains("BroadcastHashJoin"), s"q14_promo_revenue:\n$p")
      assert(!p.contains("Exchange hashpartitioning(l_partkey") &&
        !p.contains("Exchange hashpartitioning(l_suppkey") &&
        !p.contains("Exchange hashpartitioning(l_orderkey"), s"q14_promo_revenue:\n$p")
    }
    // q7: true dims (supplier/customer/nation) broadcast, but the
    // lineitem ⋈ orders edge is a fact×fact CO-SHUFFLE on the order key —
    // orders is the second fact and must never ride a broadcast (r6
    // "wrong" #3); the static plan must show the keyed exchange
    locally {
      val p = plan("q7_volume_shipping")
      assert(p.contains("BroadcastHashJoin"), s"q7_volume_shipping:\n$p")
      // the static plan shows the co-shuffle as a sort-merge join on the
      // order key (exchanges materialize only in the executed plan); at
      // runtime AQE may still downgrade it to broadcast iff orders fits
      assert(p.contains("SortMergeJoin [l_orderkey"), s"q7_volume_shipping:\n$p")
    }
    // q18 cuts the fact FIRST: the quantity aggregate sits under the
    // order join, and the bounded output is TakeOrdered, not a sort
    val q18 = plan("q18_large_volume")
    assert(q18.contains("TakeOrderedAndProject"), q18)
    // histogram + referential + FD inference: aggregation-only plans
    for (q <- Seq("profile_histogram", "quality_referential", "infer_functional_deps")) {
      val p = plan(q)
      assert(!p.contains("WindowExec") && !p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // semdedup joins on the cluster id, never all-pairs
    val sd = plan("dedup_semantic")
    assert(!sd.contains("CartesianProduct") && !sd.contains("BroadcastNestedLoopJoin"), sd)
  }

  test("r9 late ops: GlobalRank selection, banded sweep joins, bounded samples") {
    // curation_select ranks via the GlobalRank range exchange — never a
    // global WindowExec over the corpus-sized scored frame
    val cs = plan("curation_select")
    assert(!cs.contains("WindowExec"), cs)
    // the LSH sweep's banded equi-joins run eagerly behind the
    // candidate localCheckpoints, so the final plan shows RDD scans;
    // the banded shape itself is asserted on the shared minhashBands
    // derivation ("banded LSH pair generation" above). Here: the panel
    // assembly is pure 1-row stat broadcasts, no product
    val ps = plan("dedup_lsh_param_sweep")
    assert(!ps.contains("CartesianProduct"), ps)
    // sample coverage's samples are bounded top-k reads, not global sorts
    val qc = plan("quality_sample_coverage")
    assert(qc.contains("TakeOrderedAndProject"), qc)
    // importance scoring joins the corpus against the BROADCAST λ table
    val ci = plan("curation_importance")
    assert(ci.contains("BroadcastHashJoin"), ci)
  }

  test("class guard: no explicit broadcast() of an unaggregated fact scan") {
    // broadcast(orders-or-lineitem-derived frame) is a driver/executor
    // OOM at 100 TB — the r6 q7 defect. The accepted convention: a fact
    // may ride a broadcast ONLY after an Aggregate has reduced it to a
    // bounded key space (q17's per-part stats, q15/q22's 1-row scalars).
    // Sweep every query's ANALYZED plan: a broadcast hint whose subtree
    // reaches a raw orders/lineitem parquet scan without passing through
    // an Aggregate is a violation, by construction.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, LogicalPlan, ResolvedHint}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def scansRawFact(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false // fact reduced to its grouping-key space
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.exists { rp =>
          val s = rp.toString
          s.endsWith("orders.parquet") || s.endsWith("lineitem.parquet")
        }
        case _ => false
      }
      case other => other.children.exists(scansRawFact)
    }
    val violations = scala.collection.mutable.ListBuffer.empty[String]
    for ((name, _) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val analyzed = SparkEntry.queries(name)(spark, sf).queryExecution.analyzed
      analyzed.foreach {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
          if (scansRawFact(h.child)) violations += name
        case _ => ()
      }
    }
    assert(violations.isEmpty,
      s"explicit broadcast() over an unaggregated orders/lineitem scan — " +
        s"co-shuffle on the key and let AQE decide:\n${violations.mkString("\n")}")
  }

  test("sq8 broadcasts the per-dim stats and the query codes") {
    val p = SparkEntry.queries("sim_ann_sq8")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("BroadcastExchange".r.findAllIn(p).length >= 2, p)
    // the corpus code side is never broadcast: the distance join's
    // streamed side stays partitioned
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("curation text hot paths run native kernels, never interpreted lambdas") {
    // higher-order lambdas are CodegenFallback: an edit that brings one
    // back into the fingerprint or the BPE token count re-interprets
    // every shingle / word per row
    def executed(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // the probe sees a lambda when one is there
    assert(executed(Tables.documents(spark, sf)
      .selectExpr("transform(split(text, ' '), t -> length(t))"))
      .contains("lambdafunction"))
    val fp = executed(SparkEntry.queries("text_fingerprint")(spark, sf))
    assert(fp.contains("min_shingle_md5") && !fp.contains("lambdafunction"), fp)
    val toks = executed(graft.text.BpeTrainer.withBpeTokens(spark, sf))
    assert(toks.contains("bpe_token_count") && !toks.contains("lambdafunction"), toks)
  }

  test("a repeat of q1 and profile_correlations after 100+ other classes compiles nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def run(q: String): Unit =
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
    val pair = Seq("q1_pricing_summary", "profile_correlations")
    pair.foreach(run)
    // more distinct classes than Spark's default 100-entry cache holds
    val c0 = compiles
    val others = SparkEntry.queries.keys.toSeq.sorted.filterNot(pair.contains).iterator
    while (compiles - c0 <= 100 && others.hasNext) run(others.next())
    assert(compiles - c0 > 100)
    val c1 = compiles
    pair.foreach(run)
    assert(compiles - c1 == 0)
  }

  test("profile_correlations generates corr_r once, not once per column pair") {
    val df = SparkEntry.queries("profile_correlations")(spark, sf)
    assert(df.collect().length == 10)
    // whole-stage source on sf0.001, local[4]: 666,819 chars with one
    // corr_r expression per pair, 262,387 with one for all ten pairs
    val chars = org.apache.spark.sql.execution.debug
      .codegenStringSeq(df.queryExecution.executedPlan).map(_._2.length).sum
    assert(chars > 0 && chars < 350000, chars)
  }

  test("a second read of an unchanged table starts no Spark job") {
    Tables.lineitem(spark, sf)
    val (li, jobs) = SparkEvents.jobs(spark)(Tables.lineitem(spark, sf))
    assert(jobs == 0)
    // the memoized schema is the one Spark infers
    assert(li.schema == spark.read.parquet(s"$sf/lineitem.parquet").schema)
    Tables.all.foreach { t =>
      val path = s"$sf/$t.parquet"
      Tables.parquet(spark, path)
      assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, t)
    }
  }

  test("a table overwritten with an extra column reads back with the new schema") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_schema_memo") + "/t.parquet"
    val glob = path + "/part-*"
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    for (p <- Seq(path, path, glob, glob))
      assert(Tables.parquet(spark, p).columns.toSeq == Seq("id", "s"))
    Seq((2L, "b", 0.5)).toDF("id", "s", "x").write.mode("overwrite").parquet(path)
    assert(Tables.parquet(spark, glob).columns.toSeq == Seq("id", "s", "x"))
    val df = Tables.parquet(spark, path)
    assert(df.columns.toSeq == Seq("id", "s", "x"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq((2L, "b", 0.5)))
  }
}
