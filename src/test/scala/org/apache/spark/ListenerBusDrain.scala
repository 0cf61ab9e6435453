package org.apache.spark

/** Spark keeps its listener bus package-private; specs that count what
  * a listener saw need every event posted so far delivered first. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
