package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of driver code started on a session, read from Spark's
  * listener events. Events arrive asynchronously but in posting order,
  * so each helper ends the block with a marker action and waits for the
  * marker's own event: by then every event the block posted has arrived.
  */
object SparkEvents {
  private val Marker = "graft.test.marker"

  /** `body`'s result and the number of Spark jobs it started. */
  def jobs[A](spark: SparkSession)(body: => A): (A, Int) = {
    val (a, sites) = jobSites(spark)(body)
    (a, sites.size)
  }

  /** `body`'s result and the short call site of every Spark job it
    * started (its stages' name), such as `parquet at Tables.scala:69`. */
  def jobSites[A](spark: SparkSession)(body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Marker) != null)) marked.countDown()
        else sites.add(e.stageInfos.headOption.fold("")(_.name))
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Marker, null)
      assert(marked.await(60, TimeUnit.SECONDS), "marker job event never arrived")
      import scala.jdk.CollectionConverters._
      (a, sites.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the executed plan of every action it ran. */
  def plans[A](spark: SparkSession)(body: => A): (A, Seq[SparkPlan]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val marked = new CountDownLatch(1)
    @volatile var marker: QueryExecution = null
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe eq marker) marked.countDown() else seen.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val a = body
      val m = spark.range(1).toDF()
      marker = m.queryExecution
      m.collect()
      assert(marked.await(60, TimeUnit.SECONDS), "marker query event never arrived")
      import scala.jdk.CollectionConverters._
      (a, seen.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
