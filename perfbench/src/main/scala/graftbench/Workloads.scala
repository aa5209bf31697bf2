package graftbench

/** The benchmark's workloads. Each is an ordered list of calls into
  * graft's public surface; a pass makes every call once, in order.
  *
  * An op's layer is the graft package of the function it calls (as
  * registered in `graft.SparkEntry.queries`), so the traced run can charge
  * its time to `sources`, `profile`, `text`, `sim`, `operators` or `output`.
  */
object Workloads {
  /** `Collector.collect` + `Collector.validate` over every table. */
  val Collect = "collect"
  /** The five artifact renderers over the collected artifact. */
  val Render = "render"

  final case class Op(name: String, layer: String)

  private def ops(layer: String, names: String*): Seq[Op] = names.map(Op(_, layer))

  /** The training-data pipeline in dependency order: each shared
    * artifact (BPE token accounting, embedding pairs) is derived by its
    * first consumer and read by the later ones. */
  val curation: Seq[Op] =
    ops("text", "text_fingerprint", "bpe_train", "pack_shards_bpe") ++
      ops("sim", "dedup_embedding", "knn_graph")

  /** A pre-split, multi-file lake: dbsurveyor's surface over it (collect
    * schemas and samples, validate, render the five documents), then
    * relational analytics and a fanned-out profile op. */
  val lake: Seq[Op] =
    ops("sources", Collect) ++ ops("output", Render) ++
      ops("operators", "q1_pricing_summary", "q3_shipping_priority",
        "q6_forecast_revenue", "q12_ship_latency", "q19_disjunctive") ++
      ops("profile", "profile_correlations")

  val byName: Map[String, Seq[Op]] = Map("curation" -> curation, "lake" -> lake)

  /** Layers reported by the traced run, in report order. */
  val layers: Seq[String] = Seq("sources", "profile", "text", "sim", "operators")
}
