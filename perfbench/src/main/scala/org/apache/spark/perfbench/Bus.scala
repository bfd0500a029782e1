package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark's own packages; this is the one
  * call the benchmark needs from it. Draining at an op boundary makes every
  * event the op caused visible to the listeners before its counters are
  * read, so counters are attributed to the op that caused them.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
