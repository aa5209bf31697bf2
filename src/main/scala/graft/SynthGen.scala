package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-data generator for SCALE REHEARSAL beyond the
  * driver-provided fixtures (/root/testdata stops at sf0.1): same star
  * schema, same column domains and similar shapes (date horizons, value
  * ranges, near-uniform key fan-outs, the documents vocab, exact-dup
  * rate, labeled embedding clusters), one decade up. Every overflow
  * class caught so far (ppm products, shard-balance, gini widening) was
  * found by going up ONE decade; sf1 rehearses the next before the
  * 100 TB one.
  *
  * Generation is pure column work off spark.range — xxhash64-seeded
  * uniforms, in-row explodes — so it parallelizes like any scan and
  * never collects. Usage: runMain graft.SynthGen [sf] [outDir].
  */
object SynthGen {

  /** deterministic uniform in [0, m) from a tag + key columns */
  private def h(m: Long, tag: Int, ks: Column*): Column =
    pmod(xxhash64((lit(tag) +: ks): _*), lit(m))

  def generate(spark: SparkSession, sf: Double, out: String): Unit = {
    val nCust = (150000 * sf).toLong.max(1)
    val nSupp = (10000 * sf).toLong.max(1)
    val nPart = (200000 * sf).toLong.max(1)
    val nOrd = (1500000 * sf).toLong.max(1)
    val nEv = (1000000 * sf).toLong.max(1)
    val nUsers = (15000 * sf).toLong.max(1)
    val nDoc = (50000 * sf).toLong.max(1)
    val nVec = (20000 * sf).toLong.max(1)

    // ONE parquet file per table, exactly the fixture layout (the DuckDB
    // oracle reads `<dir>/<table>.parquet` as a file). Below the 128 MB
    // row-group size the file is one row group, which parquet never
    // splits: Spark plans several byte ranges over it, but one task reads
    // every row, so operators fan out through `Tables.fanOut`
    def write(df: DataFrame, name: String): Unit = {
      val tmp = s"$out/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val tmpDir = java.nio.file.Paths.get(tmp)
      val part = java.nio.file.Files.list(tmpDir)
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(out, s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val s = java.nio.file.Files.list(tmpDir)
      try s.forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
      java.nio.file.Files.deleteIfExists(tmpDir)
      println(s"[synthgen] $name done")
    }

    import spark.implicits._
    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name"), "region")
    write((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY").map(lit): _*)
    write(spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      h(25, 1, col("id")).cast("int").as("c_nationkey"),
      round(h(1100000, 2, col("id")) / 100.0 - 1000.0, 2).as("c_acctbal"),
      element_at(segs, (h(5, 3, col("id")) + 1).cast("int")).as("c_mktsegment")),
      "customer")

    write(spark.range(nSupp).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      h(25, 4, col("id")).cast("int").as("s_nationkey"),
      round(h(1100000, 5, col("id")) / 100.0 - 1000.0, 2).as("s_acctbal")),
      "supplier")

    val adjs = array(Seq("blue", "cold", "hot", "large", "new", "old", "red",
      "small").map(lit): _*)
    val nouns = array(Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring",
      "rod", "widget").map(lit): _*)
    val types = array(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
      "STANDARD").map(lit): _*)
    write(spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", element_at(adjs, (h(8, 6, col("id")) + 1).cast("int")),
        element_at(nouns, (h(8, 7, col("id")) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), (h(25, 8, col("id")) + 1).cast("string")).as("p_brand"),
      element_at(types, (h(6, 9, col("id")) + 1).cast("int")).as("p_type"),
      (h(50, 10, col("id")) + 1).cast("int").as("p_size"),
      round(lit(900.0) + h(999, 11, col("id")) / 10.0, 1).as("p_retailprice")),
      "part")

    // orders span 1995-01-01..2001-08-01 at day granularity (the sf0.1
    // horizon — the era split and all date filters stay meaningful)
    val ordBase = 788918400L
    val statuses = array(Seq("O", "P", "F").map(lit): _*)
    val prios = array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW").map(lit): _*)
    val orders = spark.range(nOrd).select(
      col("id").as("o_orderkey"),
      h(nCust, 12, col("id")).as("o_custkey"),
      element_at(statuses, (h(3, 13, col("id")) + 1).cast("int")).as("o_orderstatus"),
      round(lit(1000.0) + h(49900000, 14, col("id")) / 100.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(ordBase) + h(2404, 15, col("id")) * 86400L)
        .as("o_orderdate"),
      element_at(prios, (h(5, 16, col("id")) + 1).cast("int")).as("o_orderpriority"))
    write(orders, "orders")

    val rflags = array(Seq("A", "N", "R").map(lit): _*)
    val lstats = array(Seq("F", "O").map(lit): _*)
    write(orders.select(col("o_orderkey"), col("o_orderdate"))
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1),
          (h(7, 17, col("o_orderkey")) + 1).cast("int"))).as("l_linenumber"))
      .select(
        col("o_orderkey").as("l_orderkey"),
        h(nPart, 18, col("o_orderkey"), col("l_linenumber")).as("l_partkey"),
        h(nSupp, 19, col("o_orderkey"), col("l_linenumber")).as("l_suppkey"),
        col("l_linenumber"),
        (h(50, 20, col("o_orderkey"), col("l_linenumber")) + 1)
          .cast("double").as("l_quantity"),
        round(lit(900.0) +
          h(10410000, 21, col("o_orderkey"), col("l_linenumber")) / 100.0, 2)
          .as("l_extendedprice"),
        (h(11, 22, col("o_orderkey"), col("l_linenumber")) / 100.0).as("l_discount"),
        (h(9, 23, col("o_orderkey"), col("l_linenumber")) / 100.0).as("l_tax"),
        element_at(rflags, (h(3, 24, col("o_orderkey"), col("l_linenumber")) + 1)
          .cast("int")).as("l_returnflag"),
        element_at(lstats, (h(2, 25, col("o_orderkey"), col("l_linenumber")) + 1)
          .cast("int")).as("l_linestatus"),
        timestamp_seconds(unix_seconds(col("o_orderdate")) +
          (h(95, 26, col("o_orderkey"), col("l_linenumber")) + 1) * 86400L)
          .as("l_shipdate")),
      "lineitem")

    // events: the January-2024 horizon (30 days) in epoch micros
    val evBase = 1704067200000000L
    val etypes = array(Seq("click", "error", "purchase", "signup", "view")
      .map(lit): _*)
    write(spark.range(nEv).select(
      col("id").as("event_id"),
      timestamp_micros(lit(evBase) + h(2592000000000L, 27, col("id"))).as("ts"),
      h(nUsers, 28, col("id")).as("user_id"),
      element_at(etypes, (h(5, 29, col("id")) + 1).cast("int")).as("event_type"),
      (h(56021, 30, col("id")) / 100.0).as("value"),
      format_string("{\"k\": %d}", h(100, 31, col("id"))).as("props")),
      "events")

    // documents: the fixture vocab, weighted langs (en 41%, 4×~15%),
    // 20 sources, ~0.16% exact duplicates (seed-shared text).
    //
    // Vocabulary GROWS with SF (r11 VERDICT #3): a fixed 30-word vocab
    // makes docs-per-shingle grow linearly with corpus size, so every
    // pair-family query (LSH candidates, all-pairs Jaccard oracles) goes
    // QUADRATIC for corpus-densification reasons and the rehearsal
    // measures the corpus, not the operators. Real corpora obey Heaps'
    // law (vocabulary ∝ corpusᵝ); here V = 30·(sf/0.1) keeps
    // docs-per-shingle FLAT across decades, which is the property the
    // rehearsal needs. At sf ≤ 0.1 this reduces exactly to the fixture's
    // 30 words; beyond, synthetic "tokN" types extend the grid.
    val vocab = array(Seq("batch", "part", "spark", "line", "column",
      "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
      "a", "vector", "query", "agg", "table", "key", "group", "the",
      "filter", "customer", "stream", "join", "shuffle", "cache", "read",
      "write", "plan").map(lit): _*)
    val vSize = math.max(30L, math.round(300.0 * sf))
    def tokOf(idx: Column): Column =
      when(idx < 30, element_at(vocab, (idx + 1).cast("int")))
        .otherwise(concat(lit("tok"), idx.cast("string")))
    val langSel = h(100, 32, col("seed"))
    write(spark.range(nDoc).select(col("id"),
        when(col("id") % 625 === 0 && col("id") > 0, col("id") - 1)
          .otherwise(col("id")).as("seed"))
      .select(col("id").as("doc_id"),
        concat_ws(" ", transform(
          sequence(lit(1), (h(100, 33, col("seed")) + 8).cast("int")),
          j => tokOf(pmod(xxhash64(lit(34), col("seed"), j), lit(vSize)))))
          .as("text"),
        when(langSel < 41, "en").when(langSel < 56, "de")
          .when(langSel < 71, "es").when(langSel < 86, "fr")
          .otherwise("zh").as("lang"),
        concat(lit("src"), h(20, 35, col("seed")).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      "documents")

    // embeddings: labeled clusters in 64-d; cluster centroid +
    // per-vector noise, float32 like the fixture. The CLUSTER COUNT
    // grows with SF for the same Heaps reason as the vocabulary: 10
    // fixed clusters make every LSH/IVF bucket (and the oracle's
    // bucketed pair enumeration) grow linearly in size, so pair counts
    // go quadratic with corpus size — flat-density clusters
    // (nClust = 10·(sf/0.1), i.e. constant vectors-per-cluster) keep the
    // rehearsal measuring the operators. Reduces exactly to the
    // fixture's 10 clusters at sf ≤ 0.1.
    val nClust = math.max(10L, math.round(100.0 * sf))
    write(spark.range(nVec).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), k =>
        ((pmod(xxhash64(lit(36), pmod(col("id"), lit(nClust)), k), lit(2000))
          / 1000.0 - 1.0) * 0.3 +
         (pmod(xxhash64(lit(37), col("id"), k), lit(2000))
          / 1000.0 - 1.0) * 0.15).cast("float")).as("embedding"),
      pmod(col("id"), lit(nClust)).cast("int").as("label")),
      "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.map(_.toDouble).getOrElse(1.0)
    val out = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val spark = GraftSession(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
    generate(spark, sf, out)
    println(s"[synthgen] sf=$sf -> $out")
    spark.stop()
  }
}
