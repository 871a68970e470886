package org.apache.spark

/** Test access to the listener bus's drain, which Spark keeps
  * package-private: a job-count assertion reads its listener only after
  * every event the counted code caused has been delivered.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
