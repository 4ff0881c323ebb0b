package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private:
  * span metrics are read only after every event of the span was delivered. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
