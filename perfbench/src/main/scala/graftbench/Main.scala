package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{Collector, ParquetSource}
import graft.output.{ArtifactJson, HtmlDoc, MarkdownDoc, MermaidDoc, SqlDdlDoc}

/** Benchmark program: one JVM, one session from `graft.GraftSession`, one
  * client calling a workload's ops in a closed loop.
  *
  *   graftbench.Main --workload W --inputs DIR --warm-inputs DIR --out DIR
  *                   --seconds S --trace 0|1 --nproc N
  *
  * 1. Warm-up: [[WarmupPasses]] passes over `--warm-inputs` (a copy of the
  *    inputs under another path, so path-keyed memos are not shared with
  *    the timed passes). The first writes each op's full output as parquet
  *    under `OUT/check/<op>` for the output check, which runs after this
  *    JVM; the others write to the `noop` sink.
  * 2. Timed passes over `--inputs` until `--seconds` have passed and at
  *    least [[MinPasses]] are done. Each op's full output goes to the
  *    `noop` sink; the timed call covers building the DataFrame (eager
  *    checkpoint and count jobs included) and the write.
  * 3. Between passes: `clearCache`, unpersist every persistent RDD that is
  *    not a registered shared artifact, and delete this run's artifact
  *    directory so file-backed shared artifacts are derived again in every
  *    pass. Memos held in JVM memory (BPE merges, codebooks, centroids)
  *    survive this reset; the first timed pass pays for them.
  *
  * With `--trace 1` the first half of the time runs untraced, then a
  * [[Tracer]] is attached for the second half: the per-layer numbers come
  * from the traced passes, and the difference of the two halves' median
  * pass times is the tracing overhead.
  *
  * Writes `OUT/result.json` (and `OUT/spans.jsonl` when traced).
  */
object Main {
  /** The first timed pass plus at least two later ones for `pass_s`. */
  val MinPasses = 3
  /** Passes before timing starts: the first one is cold (class loading,
    * JIT, codegen); a second one brings the JIT close to steady state. */
  val WarmupPasses = 2

  final case class Call(op: Workloads.Op, constructS: Double, actionS: Double,
      error: Option[String], stats: Stats)

  final case class Pass(traced: Boolean, wallS: Double, gcS: Double,
      artifacts: Int, calls: Seq[Call])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opt("workload"))
    val inputs = opt("inputs")
    val warmInputs = opt("warm-inputs")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val nproc = opt("nproc").toInt

    val spark = graft.GraftSession(s"local[$nproc]", nproc)
    val artifactRoot = graft.SharedArtifacts.artifactRoot
    val runArtifacts = new java.io.File(artifactRoot, spark.sparkContext.applicationId)
    val bench = new PassRunner(spark, workload, runArtifacts)

    val noop = (_: String, df: DataFrame) => df.write.format("noop").mode("overwrite").save()
    val warm = bench.pass(warmInputs, None,
      (op, df) => df.write.mode("overwrite").parquet(s"$out/check/$op"))
    val warm2 = (2 to WarmupPasses).map(_ => bench.pass(warmInputs, None, noop))
    val setupEnd = Clock.nowS

    val load0 = LoadProbe.sample()
    val t0 = Clock.nowS
    val passes = mutable.ArrayBuffer.empty[Pass]
    def elapsed = Clock.nowS - t0
    // untraced runs use the whole window; traced runs split it in two,
    // each half with the first pass plus at least one later pass
    val (untracedUntil, untracedMin) =
      if (traced) (seconds / 2, 2) else (seconds, MinPasses)
    while (elapsed < untracedUntil || passes.size < untracedMin)
      passes += bench.pass(inputs, None, noop)
    if (traced) {
      val tr = new Tracer(spark, artifactRoot)
      tr.attach()
      val before = passes.size
      while (elapsed < seconds || passes.size - before < 2)
        passes += bench.pass(inputs, Some(tr), noop)
      tr.detach()
      tr.writeSpans(s"$out/spans.jsonl")
    }
    val load1 = LoadProbe.sample()

    val result = Json.obj(
      "workload" -> Json.str(opt("workload")),
      "nproc" -> nproc.toString,
      "setup_end_epoch_s" -> Json.num(setupEnd),
      "oracle_sql" -> Json.obj(workload.flatMap(o =>
        graft.SparkEntry.oracleSql.get(o.name).map(sql => o.name -> Json.str(sql))): _*),
      "warmup" -> Json.arr((warm +: warm2).map(passJson)),
      "passes" -> Json.arr(passes.toSeq.map(passJson)),
      "peak_rss_mb" -> Json.num(LoadProbe.peakRssMb()),
      "load" -> LoadProbe.between(load0, load1),
      "layers" -> (if (traced) Report.layers(passes.filter(_.traced).toSeq) else "{}"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/result.json"),
      result.getBytes("UTF-8"))
    spark.stop()
  }

  private def passJson(p: Pass): String = Json.obj(
    "traced" -> p.traced.toString,
    "wall_s" -> Json.num(p.wallS),
    "gc_s" -> Json.num(p.gcS),
    "artifacts" -> p.artifacts.toString,
    "calls" -> Json.arr(p.calls.map { c =>
      Json.obj(
        "op" -> Json.str(c.op.name),
        "layer" -> Json.str(c.op.layer),
        "construct_s" -> Json.num(c.constructS),
        "action_s" -> Json.num(c.actionS),
        "error" -> c.error.map(Json.str).getOrElse("null"))
    }))
}

/** One workload bound to a session: runs passes and resets between them. */
final class PassRunner(spark: SparkSession, workload: Seq[Workloads.Op],
    runArtifacts: java.io.File) {
  import Main.{Call, Pass}

  /** Tables the collect step must find. */
  private val expectedTables = graft.Tables.all.size

  def pass(dir: String, tracer: Option[Tracer],
      sink: (String, DataFrame) => Unit): Pass = {
    reset()
    val gc0 = LoadProbe.gcMillis()
    val passSpan = tracer.map(_.newSpanId()).getOrElse(0L)
    val start = Clock.nowUs
    var artifact: Option[Collector.Artifact] = None
    val calls = workload.map { op =>
      val stats = new Stats
      val opSpan = tracer.map(_.newSpanId()).getOrElse(0L)
      val opStart = Clock.nowUs
      def phase(name: String)(body: => Unit): Double = {
        val id = tracer.map(_.newSpanId()).getOrElse(0L)
        tracer.foreach(_.enter(stats, name, id))
        val s = Clock.nowUs
        var e = s
        try body
        finally {
          e = Clock.nowUs
          tracer.foreach { t =>
            t.enter(new Stats, "idle", 0L)
            t.record(Span(id, opSpan, name, op.name, s, e))
          }
        }
        (e - s) / 1e6
      }
      var constructS = 0.0
      var actionS = 0.0
      val error = try {
        op.name match {
          case Workloads.Collect =>
            var a: Collector.Artifact = null
            constructS = phase("construct") {
              a = Collector.collect(new ParquetSource(spark, dir), sampleSize = 5)
            }
            var errs: Seq[String] = Nil
            actionS = phase("exec") { errs = Collector.validate(a) }
            artifact = Some(a)
            if (errs.nonEmpty) Some("validate: " + errs.mkString("; "))
            else if (a.tables.size != expectedTables)
              Some(s"collected ${a.tables.size} tables, expected $expectedTables")
            else None
          case Workloads.Render =>
            val a = artifact.getOrElse(sys.error("render needs a collected artifact"))
            var docs: Seq[String] = Nil
            actionS = phase("exec") {
              docs = Seq(ArtifactJson.render(a), SqlDdlDoc.render(a),
                MermaidDoc.render(a), HtmlDoc.render(a), MarkdownDoc.render(a))
            }
            if (docs.exists(_.isEmpty)) Some("empty rendered document") else None
          case name =>
            var df: DataFrame = null
            constructS = phase("construct") { df = graft.SparkEntry.queries(name)(spark, dir) }
            actionS = phase("exec") { sink(name, df) }
            None
        }
      } catch {
        case e: Exception =>
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      }
      stats.constructS = constructS
      stats.execS = actionS - stats.planS
      tracer.foreach(_.record(Span(opSpan, passSpan, "op", op.name, opStart, Clock.nowUs)))
      Call(op, constructS, actionS, error, stats)
    }
    val end = Clock.nowUs
    tracer.foreach(t => t.record(Span(passSpan, t.runSpan, "pass", "traced", start, end)))
    Pass(tracer.isDefined, (end - start) / 1e6, (LoadProbe.gcMillis() - gc0) / 1e3,
      artifactCount(), calls)
  }

  /** Shared-artifact tables on disk for this run (each derived this pass,
    * since [[reset]] deletes them). */
  private def artifactCount(): Int =
    Option(runArtifacts.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)

  /** The pass boundary, done through public surfaces only. */
  private def reset(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => graft.SharedArtifacts.contains(r.id))
      .foreach(_.unpersist(blocking = true))
    deleteTree(runArtifacts)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
