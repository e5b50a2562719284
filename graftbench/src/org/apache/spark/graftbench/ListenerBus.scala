package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus's drain hook is `private[spark]`; the tracer needs
  * it so that every job, stage and task event of a run has been
  * delivered before the spans are read. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
