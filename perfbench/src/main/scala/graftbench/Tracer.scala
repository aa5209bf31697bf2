package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one op call (or a sum of them). Times in seconds. */
final class Stats {
  var constructS = 0.0
  var planS = 0.0
  var execS = 0.0
  var jobs = 0L
  var constructJobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var exchanges = 0L
  var repartitionExchanges = 0L
  var scanPartitions = 0L
  var artifactScans = 0L

  def add(o: Stats): Unit = {
    constructS += o.constructS; planS += o.planS; execS += o.execS
    jobs += o.jobs; constructJobs += o.constructJobs; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    exchanges += o.exchanges; repartitionExchanges += o.repartitionExchanges
    scanPartitions += o.scanPartitions; artifactScans += o.artifactScans
  }
}

/** One span: a named interval with the span that caused it. Times are
  * epoch microseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Long, end: Long)

/** Listener-based tracer. The calling thread sets the current op and phase
  * and calls [[drain]] at every phase boundary, so every Spark event is
  * charged to the op and phase that caused it. Attached only in traced
  * runs; untraced runs register no listener. */
final class Tracer(spark: SparkSession, artifactRoot: String) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  @volatile private var cur: Stats = new Stats
  @volatile private var phase: String = "idle"
  @volatile private var phaseSpan: Long = 0L
  private val jobSpans = mutable.Map.empty[Int, (Long, Long, Long)]
  /** Root span of the traced part of the run; passes are its children. */
  val runSpan: Long = newSpanId()
  private var runStart = 0L

  def newSpanId(): Long = synchronized { nextId += 1; nextId }

  def record(s: Span): Unit = synchronized { spans += s }

  /** Charge events from now on to `stats` in `phase`, under `span`. */
  def enter(stats: Stats, ph: String, span: Long): Unit = {
    drain()
    cur = stats; phase = ph; phaseSpan = span
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = cur
      s.jobs += 1
      if (phase == "construct") s.constructJobs += 1
      Tracer.this.synchronized {
        jobSpans(e.jobId) = (newSpanId(), phaseSpan, e.time * 1000L)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobSpans.remove(e.jobId).foreach { case (id, parent, start) =>
          spans += Span(id, parent, "job", e.jobId.toString, start, e.time * 1000L)
        }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val scans = e.stageInfo.rddInfos.filter(_.name == "FileScanRDD")
      cur.scanPartitions += scans.map(_.numPartitions.toLong).sum
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = cur
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = cur
      if (phase == "exec") {
        val ph = qe.tracker.phases.values
        if (ph.nonEmpty) {
          s.planS += ph.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
          record(Span(newSpanId(), phaseSpan, "plan", funcName,
            ph.map(_.startTimeMs).min * 1000L, ph.map(_.endTimeMs).max * 1000L))
        }
      }
      visit(qe.executedPlan) {
        case x: ShuffleExchangeExec =>
          s.exchanges += 1
          if (x.shuffleOrigin.toString.startsWith("REPARTITION")) s.repartitionExchanges += 1
        case f: FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains(artifactRoot)) =>
          s.artifactScans += 1
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Pre-order walk that descends into adaptive plans, query stages and
    * subqueries, and does not count a reused exchange twice. */
  private def visit(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => visit(a.executedPlan)(f)
      case q: QueryStageExec => visit(q.plan)(f)
      case _: ReusedExchangeExec => return
      case _ =>
    }
    p.children.foreach(visit(_)(f))
    p.subqueries.foreach(visit(_)(f))
  }

  def attach(): Unit = {
    runStart = Clock.nowUs
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(sparkListener)
    record(Span(runSpan, 0L, "run", "traced", runStart, Clock.nowUs))
  }

  /** Write every recorded span, one JSON object a line. */
  def writeSpans(path: String): Unit = {
    val lines = synchronized(spans.sortBy(_.start).toList).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${Json.esc(s.name)}","start_us":${s.start},"end_us":${s.end}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
