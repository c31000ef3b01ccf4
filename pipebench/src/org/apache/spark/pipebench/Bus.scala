package org.apache.spark.pipebench

import org.apache.spark.SparkContext

/** Listener-bus access the public API does not offer: the benchmark reads
  * its listeners' records only after every posted event was delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
