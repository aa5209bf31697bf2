package graftbench

/** Wall clock with nanosecond steps, anchored to the epoch once so that
  * benchmark spans line up with Spark's epoch-millisecond event times. */
object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
  def nowS: Double = nowUs / 1e6
}
