package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The two `private[spark]` hooks the benchmark's tracer needs. */
object SparkInternals {

  /** Block until every posted listener event has been delivered, so
    * span totals are complete before they are read. */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Bytes of RDD blocks (caches and local-checkpoint pins) that the
    * block managers still hold, memory plus disk. */
  def retainedRddBytes(sc: SparkContext): Long =
    sc.env.blockManager.master.getStorageStatus
      .map(_.rddBlocks.values.map(b => b.memSize + b.diskSize).sum)
      .sum
}
