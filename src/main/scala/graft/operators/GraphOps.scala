package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.SharedArtifacts.freeCheckpoint

/** Graph analytics over the trade graph the star schema implies:
  * customers and suppliers are nodes, an order line connects them.
  * PageRank here is the "which entities anchor the network" primitive —
  * the same iterative-join shape GraphX/Pregel run, expressed as
  * DataFrame rounds so Catalyst/AQE own the physical plan.
  *
  * Iterative-loop discipline (PLANS.md known-risk #6, the
  * Dedup.components / BpeTrainer pattern): the edge list (+degrees) is
  * localCheckpointed ONCE; each round's rank frame is checkpointed and
  * the previous round freed — K rounds = K node-sized shuffles over a
  * persisted edge relation, never a recomputation of the lineage. On a
  * cluster, swap localCheckpoint for reliable checkpoint(dir); at
  * 100 TB the edge relation is a bucketed table on src so every round's
  * rank⋈edges join co-locates (Lake.writeBucketed — zero edge reshuffle
  * per round).
  *
  * Determinism contract: the ENTIRE iteration is fixed-point BIGINT
  * arithmetic in units of 1e-9 rank mass — rank/deg is integer
  * division, the damping update is (85·Σ) DIV 100, sums are exact
  * longs. No double ever touches a round boundary, so there is no
  * float-rounding seam for engines to disagree on (a first cut
  * quantized doubles to DECIMAL(18,9) per round and the engines'
  * double→decimal rounding disagreed by 1 ulp at the 9th digit — casts
  * of shortest-repr-terminating doubles round differently in Spark's
  * BigDecimal path vs DuckDB's binary path).
  */
object GraphOps {

  /** Damping as a rational: 85/100 (never a double in the hot math). */
  val dampingNum = 85L
  val dampingDen = 100L
  val unit = 1000000000L // 1e-9 rank units
  val defaultIters = 3

  /** Distinct customer↔supplier trade edges (both directions, so no
    * node dangles: every node's rank mass has somewhere to go). */
  private def tradePairs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()

  /** Rounds are unrolled into one action up to this bound; past it the
    * loop falls back to per-round localCheckpoint (r14 ADVICE: a caller
    * passing large `iters` would otherwise build one deeply-nested
    * adaptive plan whose Catalyst/AQE replanning bill grows
    * superlinearly with rounds — the exact pathology measured and
    * reverted on knn_label_prop). Both shapes compute the identical
    * fixed-point integer algebra; Round15Spec pins the equivalence.
    */
  private[graft] val unrollMaxIters = 8

  def pageRank(spark: SparkSession, dir: String,
               iters: Int = defaultIters): DataFrame =
    pageRankImpl(spark, dir, iters, unrollMaxIters)

  /** Dedicated planning session for pagerank (r14 VERDICT #2 / ADVICE):
    * the AQE toggle around the edgesDeg checkpoint is session state; on
    * a shared session any query COMPILED concurrently (driver-future
    * overlap elsewhere in this repo, streaming triggers) would silently
    * plan without AQE. newSession() shares the SparkContext, cache and
    * data but isolates the SQL conf, so the toggle can't leak. CACHED
    * per SparkContext, not created per call — a fresh SessionState per
    * invocation re-paid catalog/file-listing setup on every bench run
    * (interleaved A/B at sf0.1×32c: 3.7 → 6.7-7.2 s median when a
    * session was built per call). Concurrent pagerank calls share this
    * session, so the toggle (save, compile, restore) and the per-call
    * re-sync of scale knobs from the outer session (shuffle partitions —
    * Bench sets them per core count at runtime, which newSession does
    * NOT inherit) each hold the session's lock.
    */
  @transient private var prSession: SparkSession = null
  private def pagerankSession(outer: SparkSession): SparkSession =
    synchronized {
      if (prSession == null || prSession.sparkContext != outer.sparkContext)
        prSession = outer.newSession()
      prSession.synchronized {
        for ((k, v) <- outer.conf.getAll
             if k.startsWith("spark.sql.") && prSession.conf.isModifiable(k))
          if (prSession.conf.get(k, null) != v) prSession.conf.set(k, v)
      }
      prSession
    }

  private[graft] def pageRankImpl(outerSession: SparkSession, dir: String,
      iters: Int, unrollMax: Int): DataFrame = {
    val spark = pagerankSession(outerSession)
    val pairs = tradePairs(spark, dir)
    val edges = pairs
      .select(concat(lit("c:"), col("c").cast("string")).as("src"),
        concat(lit("s:"), col("s").cast("string")).as("dst"))
      .unionByName(pairs
        .select(concat(lit("s:"), col("s").cast("string")).as("src"),
          concat(lit("c:"), col("c").cast("string")).as("dst")))
    // the expensive lineage (orders⋈lineitem distinct) materializes
    // exactly ONCE; degrees and the per-round join relation both read
    // the checkpointed edge blocks. degrees double as the node list for
    // n and the init vector (every node is a src — edges carry both
    // directions), and broadcast into the edge join — the first cut
    // re-shuffled edges against the degree agg AND ran a separate
    // distinct for the node list (two whole exchanges for frames the
    // degree table already was)
    // LAZY checkpoints folded into the one count below (r15): the eager
    // pair (edges job + degrees job) plus the separate n-count ran three
    // scheduler round-trips before the rounds even started; marking both
    // for checkpoint and letting deg.count() materialize them computes
    // edges → stores blocks → aggregates degrees → stores → counts in
    // ONE job. Same blocks, same lineage truncation, 2 fewer jobs.
    val edgesCk = edges.localCheckpoint(false)
    val deg = edgesCk.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val n = deg.count()
    // (src, dst, deg) materialized ONCE, HASH-PARTITIONED ON src — the
    // per-round join relation. localCheckpoint captures the physical
    // plan's outputPartitioning into the LogicalRDD leaf, so every
    // round's rank⋈edges join sees the edge side as already
    // distributed-by-src and exchanges ONLY the node-sized rank frame
    // (r14.2 fix: the unpartitioned checkpoint re-shuffled the full
    // edge relation EVERY round — 3×~20 MB of the query's 67 MB total
    // shuffle at sf0.1). This is the local twin of the bucketed-on-src
    // edge table the scaladoc prescribes at lake scale. AQE must be off
    // while THIS frame compiles: an AdaptiveSparkPlan leaf checkpoints
    // as UnknownPartitioning (measured — the repartition was then a
    // pure extra edge shuffle), while the non-adaptive plan checkpoints
    // as hashpartitioning(src, N). N = spark.sql.shuffle.partitions,
    // the session's scale knob, not a local constant.
    val edgesDeg = spark.synchronized {
      val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try edgesCk
        .join(broadcast(deg), "src")
        .repartition(col("src"))
        .localCheckpoint(true)
      finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    }
    freeCheckpoint(edgesCk) // edgesDeg supersedes it; blocks freed before rounds
    val initU = unit / n
    val baseU = (unit - unit * dampingNum / dampingDen) / n
    // Bounded unroll, ONE action (r14.2): with iters a small fixed
    // constant the rounds no longer checkpoint — the K-round lineage is
    // a linear DAG (each round's frame consumed exactly once), so a
    // single job evaluates every round once, AQE picks the join
    // strategy per round from RUNTIME sizes, and K eager-checkpoint
    // jobs (plus their Row conversions and storage writes) disappear.
    // The shuffle_hash hint keeps the stationary edge side unsorted
    // (SMJ would re-sort the edge relation every round); the build side
    // is the node-sized rank frame. Results are partitioning- and
    // order-independent: contrib sums are exact longs, DIV is integer.
    def round(r: DataFrame): DataFrame =
      r.hint("shuffle_hash")
        .join(edgesDeg, col("node") === col("src"))
        .select(col("dst"), expr("rank_u DIV deg").as("contrib_u"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib_u")).as("sc"))
        .select(col("dst").as("node"),
          expr(s"CAST($baseU + ($dampingNum * sc) DIV $dampingDen AS BIGINT)")
            .as("rank_u"))
    var rank = deg.select(col("src").as("node"), lit(initU).as("rank_u"))
    if (iters <= unrollMax) {
      for (_ <- 1 to iters) rank = round(rank)
    } else {
      // deep iteration fallback: per-round checkpoint + free (the old
      // shape) keeps each adaptive query small — the unroll's AQE
      // replanning bill grows superlinearly with materialized stages
      for (_ <- 1 to iters) {
        val next = round(rank).localCheckpoint(true)
        freeCheckpoint(rank)
        rank = next
      }
    }
    val out = rank
      .select(col("node"), col("rank_u").as("rank_e9"))
      .orderBy(col("rank_e9").desc, col("node"))
      .limit(20)
      // TakeOrdered holds only 20 rows; materializing releases the
      // edge/degree blocks for freeing below
      .localCheckpoint(true)
    freeCheckpoint(rank) // no-op when unrolled; frees the last round's checkpoint
    freeCheckpoint(edgesDeg)
    freeCheckpoint(deg)
    out
  }

  def pageRankQuery(spark: SparkSession, dir: String): DataFrame =
    pageRank(spark, dir)

  /** Unrolled K-round oracle (the BpeTrainer MATERIALIZED-CTE pattern):
    * each round re-derives the identical fixed-point update. */
  val pageRankSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH pairs AS MATERIALIZED (
              |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
              |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
              |edges AS MATERIALIZED (
              |  SELECT 'c:' || CAST(c AS VARCHAR) AS src, 's:' || CAST(s AS VARCHAR) AS dst FROM pairs
              |  UNION ALL
              |  SELECT 's:' || CAST(s AS VARCHAR) AS src, 'c:' || CAST(c AS VARCHAR) AS dst FROM pairs),
              |outdeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
              |nn AS MATERIALIZED (SELECT count(*) AS n_nodes FROM outdeg),
              |r0 AS MATERIALIZED (
              |  SELECT src AS node,
              |    $unit // (SELECT n_nodes FROM nn) AS rank_u
              |  FROM outdeg)""".stripMargin
    for (k <- 1 to defaultIters) {
      // the (1-d)·unit numerator is a pure constant — precomputed in
      // Scala (DuckDB would otherwise multiply 1e9 * 85 in INT32 and
      // overflow before widening)
      val baseNumer = unit - unit * dampingNum / dampingDen
      sb ++= s""",
                |r$k AS MATERIALIZED (
                |  SELECT e.dst AS node,
                |    CAST($baseNumer // (SELECT n_nodes FROM nn) +
                |         ($dampingNum * sum(r.rank_u // d.deg)) // $dampingDen AS BIGINT) AS rank_u
                |  FROM r${k - 1} r
                |  JOIN edges e ON r.node = e.src
                |  JOIN outdeg d ON d.src = r.node
                |  GROUP BY e.dst)""".stripMargin
    }
    sb ++= s"""
              |SELECT node, CAST(rank_u AS BIGINT) AS rank_e9 FROM r$defaultIters
              |ORDER BY rank_e9 DESC, node LIMIT 20""".stripMargin
    sb.result()
  }

  /** Degree-distribution profile of the trade graph — the graph-shape
    * fingerprint (hub-dominated vs flat) read per side: customer and
    * supplier degrees in the distinct customer↔supplier relation,
    * log₂-bucketed with the exact integer binary-length device
    * (events_gap_histogram: bucket = `length(bin(deg))`, no floating
    * log), with per-bucket node counts, exact degree bounds, and the
    * integer-ppm share of that side's nodes. The pre-flight check for
    * every graph op above (pagerank damping, overlap degCap): it shows
    * whether hubs exist BEFORE a quadratic projection finds out.
    *
    * Scale shape: the distinct pair relation once, one degree agg per
    * side (node-keyed), a ≤64-bucket rollup per side, per-side totals
    * broadcast.
    */
  def degreeProfile(spark: SparkSession, dir: String): DataFrame = {
    // No checkpoint on pairs (r14, the supplier_overlap lesson measured
    // again here): both side aggregates hang off the SAME distinct
    // exchange and the whole query is one action, so AQE runtime
    // exchange reuse already evaluates the orders⋈lineitem distinct
    // once; the eager checkpoint only added its own materialization job
    // + Row conversion (interleaved A/B: min 1.48 → 1.32 s, median
    // unchanged).
    val pairs = tradePairs(spark, dir)
    def side(name: String, key: String): DataFrame =
      pairs.groupBy(col(key)).agg(count(lit(1)).as("deg"))
        .groupBy(expr("CAST(length(bin(deg)) AS INTEGER)").as("deg_bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
        .select(lit(name).as("side"), col("deg_bucket"), col("n_nodes"),
          col("min_deg"), col("max_deg"))
    val buckets = side("customer", "c").unionByName(side("supplier", "s"))
    val totals = buckets.groupBy(col("side"))
      .agg(sum(col("n_nodes")).as("side_total")) // 2 rows
    buckets.join(broadcast(totals), "side")
      .select(col("side"), col("deg_bucket"), col("n_nodes"),
        col("min_deg"), col("max_deg"),
        expr("CAST(n_nodes * 1000000 DIV side_total AS BIGINT)")
          .as("share_ppm"))
      .orderBy(col("side"), col("deg_bucket"))
  }

  val degreeProfileSql: String =
    """WITH pairs AS MATERIALIZED (
      |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |degs AS (
      |  SELECT 'customer' AS side, c AS node, count(*) AS deg
      |  FROM pairs GROUP BY c
      |  UNION ALL
      |  SELECT 'supplier', s, count(*) FROM pairs GROUP BY s),
      |buckets AS (
      |  SELECT side, CAST(length(bin(deg)) AS INTEGER) AS deg_bucket,
      |    count(*) AS n_nodes,
      |    CAST(min(deg) AS BIGINT) AS min_deg,
      |    CAST(max(deg) AS BIGINT) AS max_deg
      |  FROM degs GROUP BY side, deg_bucket),
      |totals AS (SELECT side, sum(n_nodes) AS side_total
      |           FROM buckets GROUP BY side)
      |SELECT side, deg_bucket, CAST(n_nodes AS BIGINT) AS n_nodes,
      |  min_deg, max_deg,
      |  CAST((CAST(n_nodes AS HUGEINT) * 1000000) // side_total AS BIGINT)
      |    AS share_ppm
      |FROM buckets JOIN totals USING (side)
      |ORDER BY side, deg_bucket""".stripMargin

  /** Supplier-overlap link prediction — the bipartite projection of the
    * customer↔supplier trade graph onto suppliers: pairs of suppliers
    * serving overlapping customer bases, scored by exact customer-set
    * Jaccard (common-neighbor link prediction; also the
    * competitor/substitute detector a supply-chain analyst asks for).
    *
    * Scale discipline (the q_basket_pairs shape): the pair join is
    * keyed on the CUSTOMER — per-row fan-out is that customer's
    * supplier-degree (≤ ~100 here), never a supplier's popularity, so
    * hot suppliers cannot blow up the join. The residual hub risk is
    * hot CUSTOMERS; `degCap` drops customers above the cap before the
    * self-join (a no-op at every test SF — max degree ~102 — but the
    * standard super-node guard this projection needs at 100 TB, and it
    * is applied identically in the oracle so the gate proves the
    * capped semantics). Supplier degrees are a |supplier|-sized
    * aggregate, broadcast for the Jaccard denominator; output is
    * TakeOrdered(100).
    */
  val overlapDegCap = 1000L
  val overlapMinCommon = 5L

  def supplierOverlap(spark: SparkSession, dir: String): DataFrame = {
    // r14 optimization round, measured and left alone: checkpointing cs/
    // kept here was TRIED and reverted — the 8 plan copies of the
    // orders⋈lineitem distinct subtree are already collapsed by runtime
    // exchange reuse, and the dominant shuffle (~65 MB) is the pair
    // self-join's own output, which no lineage truncation removes; the
    // two added checkpoint jobs made the isolate ~0.7 s SLOWER.
    val cs = tradePairs(spark, dir) // distinct (c, s)
    val keptCust = cs.groupBy(col("c")).agg(count(lit(1)).as("c_deg"))
      .filter(col("c_deg") <= overlapDegCap)
      .select(col("c"))
    val kept = cs.join(keptCust, "c")
    val deg = kept.groupBy(col("s")).agg(count(lit(1)).as("deg"))
    val pairs = kept.select(col("c"), col("s").as("s_a"))
      .join(kept.select(col("c"), col("s").as("s_b")), Seq("c"))
      .filter(col("s_a") < col("s_b"))
      .groupBy(col("s_a"), col("s_b"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= overlapMinCommon)
    pairs
      .join(broadcast(deg.select(col("s").as("s_a"), col("deg").as("deg_a"))),
        "s_a")
      .join(broadcast(deg.select(col("s").as("s_b"), col("deg").as("deg_b"))),
        "s_b")
      .select(col("s_a"), col("s_b"), col("n_common"), col("deg_a"),
        col("deg_b"),
        expr("CAST(n_common * 1000000 DIV (deg_a + deg_b - n_common) AS BIGINT)")
          .as("jaccard_ppm"))
      .orderBy(col("jaccard_ppm").desc, col("s_a"), col("s_b"))
      .limit(100)
  }

  val supplierOverlapSql: String =
    s"""WITH cs AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |kept AS MATERIALIZED (
       |  SELECT c, s FROM cs
       |  WHERE c IN (SELECT c FROM cs GROUP BY c
       |              HAVING count(*) <= $overlapDegCap)),
       |deg AS (SELECT s, count(*) AS deg FROM kept GROUP BY s),
       |pairs AS (
       |  SELECT a.s AS s_a, b.s AS s_b, count(*) AS n_common
       |  FROM kept a JOIN kept b ON a.c = b.c AND a.s < b.s
       |  GROUP BY a.s, b.s
       |  HAVING count(*) >= $overlapMinCommon)
       |SELECT s_a, s_b, CAST(n_common AS BIGINT) AS n_common,
       |  CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
       |  CAST((CAST(n_common AS HUGEINT) * 1000000)
       |    // (da.deg + db.deg - n_common) AS BIGINT) AS jaccard_ppm
       |FROM pairs
       |JOIN deg da ON da.s = s_a
       |JOIN deg db ON db.s = s_b
       |ORDER BY jaccard_ppm DESC, s_a, s_b LIMIT 100""".stripMargin

  /** k-core of the customer↔supplier trade graph — the "dense trading
    * core" extraction degree_profile's histogram hints at: iteratively
    * peel nodes of degree < k (simultaneous removal per round — an edge
    * survives a round only if BOTH endpoints do) until the fixpoint;
    * what remains is the maximal subgraph where every customer deals
    * with ≥ k suppliers AND every supplier serves ≥ k customers — the
    * supply-chain resilience kernel (any single counterparty loss
    * leaves everyone ≥ k−1 connected).
    *
    * Determinism contract (the markov/pagerank device): a FIXED
    * `kcoreRounds` unrolled rounds in both engines — extra rounds past
    * convergence are no-ops, so the outputs are identical whether or
    * not the fixpoint landed early; the Spark side ALSO runs one more
    * round and asserts nothing changed (a real convergence guard, at
    * test scale), while the oracle replays the same R rounds as a CTE
    * chain. Output: every surviving node with its in-core degree.
    *
    * Scale shape: per round, two node-keyed degree aggs + two
    * broadcast-eligible semi-joins over the shrinking edge set, with
    * per-round localCheckpoint + free (the iterative-lineage rule). At
    * planetary scale the full core DECOMPOSITION swaps in distributed
    * bucket peeling; a fixed-k membership test is exactly this loop.
    */
  val kcoreK = 3
  val kcoreRounds = 8

  def kcoreQuery(spark: SparkSession, dir: String): DataFrame = {
    // LAZY checkpoint + count = ONE action per round (r15, the pagerank
    // device): the eager checkpoint job and the separate count were two
    // scheduler round-trips per round for the same materialization —
    // marking the frame for checkpoint and letting count() compute it
    // stores the blocks, truncates the lineage, and returns the
    // early-exit cardinality in a single job. 9 jobs saved at 3 rounds.
    var edges = tradePairs(spark, dir).localCheckpoint(false)
    def peel(e: DataFrame): DataFrame = {
      val keepC = e.groupBy(col("c")).agg(count(lit(1)).as("dc"))
        .filter(col("dc") >= kcoreK).select(col("c"))
      val keepS = e.groupBy(col("s")).agg(count(lit(1)).as("ds"))
        .filter(col("ds") >= kcoreK).select(col("s"))
      e.join(keepC, "c").join(keepS, "s").select(col("c"), col("s"))
    }
    // early exit on fixpoint: an unchanged edge COUNT means the peel was
    // a no-op (peeling only removes rows), and every later round is too —
    // the result is bit-identical to running all kcoreRounds, so the
    // unrolled oracle still matches while the typical case pays 2-3
    // rounds instead of 8
    var prev = edges.count()
    var converged = false
    for (_ <- 1 to kcoreRounds if !converged) {
      val next = peel(edges).localCheckpoint(false)
      val n = next.count()
      freeCheckpoint(edges)
      edges = next
      converged = n == prev
      prev = n
    }
    // convergence guard: the loop must have REACHED the fixpoint within
    // the unroll budget (otherwise the early-exit equivalence claim and
    // the oracle's R-round unroll could disagree)
    require(converged || peel(edges).count() == prev,
      s"$kcoreK-core did not converge in $kcoreRounds rounds")
    // ONE keyed aggregate for both sides (r15): the former per-side
    // groupBy pair was two exchanges + two AQE stage-jobs over the same
    // surviving edge blocks; exploding each edge into its two (side,
    // node) endpoint rows feeds a single (side, node_id) count — the
    // identical degrees (each edge contributes exactly one customer and
    // one supplier endpoint row either way).
    edges.select(explode(array(
        struct(lit("customer").as("side"), col("c").as("node_id")),
        struct(lit("supplier").as("side"), col("s").as("node_id")))).as("e"))
      .select(col("e.side").as("side"), col("e.node_id").as("node_id"))
      .groupBy(col("side"), col("node_id"))
      .agg(count(lit(1)).as("degree"))
      .orderBy(col("side"), col("node_id"))
  }

  val kcoreSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e0 AS MATERIALIZED (
              |  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
              |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""".stripMargin
    for (r <- 1 to kcoreRounds) {
      sb ++= s""",
                |e$r AS MATERIALIZED (
                |  SELECT c, s FROM e${r - 1}
                |  WHERE c IN (SELECT c FROM e${r - 1} GROUP BY c
                |              HAVING count(*) >= $kcoreK)
                |    AND s IN (SELECT s FROM e${r - 1} GROUP BY s
                |              HAVING count(*) >= $kcoreK))""".stripMargin
    }
    sb ++= s"""
              |SELECT * FROM (
              |  SELECT 'customer' AS side, c AS node_id,
              |    CAST(count(*) AS BIGINT) AS degree
              |  FROM e$kcoreRounds GROUP BY c
              |  UNION ALL
              |  SELECT 'supplier' AS side, s AS node_id,
              |    CAST(count(*) AS BIGINT) AS degree
              |  FROM e$kcoreRounds GROUP BY s)
              |ORDER BY side, node_id""".stripMargin
    sb.toString
  }
}
