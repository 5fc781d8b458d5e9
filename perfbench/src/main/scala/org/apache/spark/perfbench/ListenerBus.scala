package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the context's listener bus, which Spark keeps package-private:
  * a trace may only be read once every event of its jobs was delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
