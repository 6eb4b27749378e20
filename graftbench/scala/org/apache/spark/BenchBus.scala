package org.apache.spark

/** The benchmark reads listener counts only after every posted event has
  * been delivered; the live bus's drain is `private[spark]`, so this one
  * forwarder sits in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
