package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * the benchmark's traced run closes an op's ledger row only after every
  * event the op caused has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
