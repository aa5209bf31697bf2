package graftbench

import scala.jdk.CollectionConverters._

/** Machine-load evidence read from `/proc` and the JVM: 1-minute load
  * average, CPU busy and steal fractions between two samples, and GC
  * seconds. Recorded beside every run so a noisy window can be read off
  * the results. */
object LoadProbe {
  final case class Sample(cpuTotal: Long, cpuIdle: Long, cpuSteal: Long,
      gcMs: Long, loadavg1: Double)

  def sample(): Sample = {
    val (t, i, s) = procStat()
    Sample(t, i, s, gcMillis(), loadavg1())
  }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Evidence between `a` and `b` as JSON fields. */
  def between(a: Sample, b: Sample): String = {
    val dt = (b.cpuTotal - a.cpuTotal).toDouble
    val busy = if (a.cpuTotal < 0 || dt <= 0) -1.0
      else 1.0 - (b.cpuIdle - a.cpuIdle) / dt
    val steal = if (a.cpuTotal < 0 || dt <= 0) -1.0
      else (b.cpuSteal - a.cpuSteal) / dt
    Json.obj(
      "loadavg1_start" -> Json.num(a.loadavg1),
      "loadavg1_end" -> Json.num(b.loadavg1),
      "busy_frac" -> Json.num(busy),
      "steal_frac" -> Json.num(steal),
      "gc_s" -> Json.num((b.gcMs - a.gcMs) / 1e3),
      "ncpu" -> Runtime.getRuntime.availableProcessors.toString)
  }

  /** Peak resident set size of this process in MiB (VmHWM). */
  def peakRssMb(): Double = readLines("/proc/self/status")
    .find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024.0)
    .getOrElse(-1.0)

  private def loadavg1(): Double =
    readLines("/proc/loadavg").headOption
      .map(_.split(" ")(0).toDouble).getOrElse(-1.0)

  /** (total, idle + iowait, steal) jiffies from the first line of /proc/stat. */
  private def procStat(): (Long, Long, Long) =
    readLines("/proc/stat").headOption.map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, f(3) + (if (f.length > 4) f(4) else 0L), if (f.length > 7) f(7) else 0L)
    }.getOrElse((-1L, -1L, -1L))

  private def readLines(path: String): List[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toList finally src.close()
    } catch { case _: java.io.IOException => Nil }
}
