package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private:
  * the traced run waits for listeners to catch up before it reads them. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
