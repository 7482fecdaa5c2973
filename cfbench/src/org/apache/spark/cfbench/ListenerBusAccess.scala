package org.apache.spark.cfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events asynchronously; the traced run reads
  * task records right after an action returns, so it first waits until
  * the bus has delivered every posted event. The wait is Spark-internal
  * API, hence this class sits inside Spark's package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
