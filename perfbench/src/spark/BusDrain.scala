package org.apache.spark

/** The listener bus delivers events asynchronously; span attribution is read
  * only after every event of the measured jobs has been delivered.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
