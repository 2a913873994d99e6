package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps
  * package-private: a spec that counts jobs or task metrics with a
  * `SparkListener` calls this before reading its counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
