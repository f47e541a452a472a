package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus from outside the `spark` package: the
  * tracer reads counters only after every event posted so far has been
  * delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
