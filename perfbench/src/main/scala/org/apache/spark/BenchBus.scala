package org.apache.spark

/** Lets the traced run wait until every posted listener event has been
  * delivered, so events are charged to the op and phase that caused them.
  * `listenerBus` is private to the `org.apache.spark` package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
