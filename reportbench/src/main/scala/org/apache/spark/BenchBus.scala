package org.apache.spark

/** Access to Spark's listener bus, which is package-private: the
  * benchmark must see every event of a traced cycle before it reads
  * the counts.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
