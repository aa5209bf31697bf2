package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement main (optimization rounds): per-query Spark-job / stage /
  * task / shuffle-byte counts via a SparkListener, plus wall seconds.
  * Scheduler round-trips (job count) are the latency driver for the many
  * sub-second queries in this suite — `.explain` can't show jobs launched
  * during DataFrame CONSTRUCTION (eager localCheckpoints, rank offset
  * passes, range-partitioner sampling), so this main counts them.
  *
  * Usage: runMain graft.Meter <sfDir> <query>[,query...] [nRuns]
  * Prints one line per query: name, wall_s, jobs, stages, tasks,
  * shuffle_read_mb, shuffle_write_mb — construction + action included.
  */
object Meter {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names =
      if (args.length > 1) args(1).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val nRuns = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shRead = new AtomicLong(0L)
    val shWrite = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    println(f"${"query"}%-28s ${"wall_s"}%8s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"shR_mb"}%8s ${"shW_mb"}%8s")
    names.foreach { n =>
      (1 to nRuns).foreach { run =>
        SharedArtifacts.clearBetweenQueries(spark)
        jobs.set(0); stages.set(0); tasks.set(0); shRead.set(0L); shWrite.set(0L)
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(n)(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          // listener events are async; give the bus a moment to drain
          Thread.sleep(200)
          println(f"$n%-28s $dt%8.2f ${jobs.get}%5d ${stages.get}%6d ${tasks.get}%6d ${shRead.get / 1048576.0}%8.2f ${shWrite.get / 1048576.0}%8.2f")
        } catch {
          case e: Throwable =>
            println(s"$n FAILED: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
