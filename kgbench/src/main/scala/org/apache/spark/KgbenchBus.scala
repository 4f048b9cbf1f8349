package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run
  * reads its ledger only after every event posted so far has reached
  * the listener. `waitUntilEmpty` is package-private to Spark.
  */
object KgbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
