package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; the benchmark needs it so that
  * every job/stage/task event of a traced call has been delivered before the
  * call's numbers are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
