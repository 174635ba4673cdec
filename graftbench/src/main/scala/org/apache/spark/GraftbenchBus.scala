package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark's traced run reads its listeners' records only after every
  * event posted so far has been delivered.
  */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
