package org.apache.spark.offbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {

  /** Blocks until every posted listener event has been delivered, so
    * counts read afterwards cover all jobs that have finished. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
