package graftbench

/** Per-layer metrics from the traced passes, as `<layer>.<metric>` JSON
  * fields. Every value is a mean per traced pass. */
object Report {
  def layers(passes: Seq[Main.Pass]): String = {
    val n = passes.size.max(1).toDouble
    def sum(calls: Seq[Main.Call]): Stats = {
      val s = new Stats
      calls.foreach(c => s.add(c.stats))
      s
    }
    val calls = passes.flatMap(_.calls)
    val perLayer = (Workloads.layers :+ "all").map { l =>
      l -> sum(if (l == "all") calls else calls.filter(_.op.layer == l))
    }
    val mb = 1024.0 * 1024.0
    val layerFields = perLayer.flatMap { case (l, s) =>
      Seq(
        s"$l.construct_s" -> s.constructS / n,
        s"$l.plan_s" -> s.planS / n,
        s"$l.exec_s" -> s.execS / n,
        s"$l.jobs" -> s.jobs / n,
        s"$l.construct_jobs" -> s.constructJobs / n,
        s"$l.tasks" -> s.tasks / n,
        s"$l.shuffle_write_mb" -> s.shuffleWriteBytes / mb / n,
        s"$l.spill_mb" -> s.spillBytes / mb / n,
        s"$l.exchanges" -> s.exchanges / n)
    }
    val all = perLayer.last._2
    val derives = passes.map(_.artifacts).sum / n
    val scans = all.artifactScans / n
    val cross = Seq(
      "Tables.scan_partitions" -> all.scanPartitions / n,
      "Tables.repartition_exchanges" -> all.repartitionExchanges / n,
      "SharedArtifacts.derives" -> derives,
      "SharedArtifacts.scans" -> scans,
      "SharedArtifacts.reuse_ratio" -> (if (scans > 0) 1.0 - derives / scans else 0.0),
      "output.render_s" ->
        calls.filter(_.op.name == Workloads.Render).map(_.actionS).sum / n,
      "jvm.gc_s" -> passes.map(_.gcS).sum / n)
    Json.obj((layerFields ++ cross).map { case (k, v) => k -> Json.num(v) }: _*)
  }
}
