package org.apache.spark

/** The listener bus delivers events asynchronously; a spec that counts
  * jobs with a listener reads its count only after every event posted
  * so far has reached the listener. `waitUntilEmpty` is package-private
  * to Spark.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
