package org.apache.spark.perfbench

/** `SparkContext.listenerBus` is `private[spark]`; this shim lives in
  * Spark's package namespace so the runner can wait for the asynchronous
  * listener events of finished jobs instead of racing them. */
object ListenerBus {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
