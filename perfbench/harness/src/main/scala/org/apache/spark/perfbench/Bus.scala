package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps its listener bus and block-manager master package-private;
  * the harness needs one call on each. */
object Bus {
  /** Returns once every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Removes the blocks of every RDD the block manager still holds,
    * including RDDs that are no longer reachable, which the context
    * cleaner would otherwise remove after some later garbage collection. */
  def dropRddBlocks(sc: SparkContext): Unit =
    sc.env.blockManager.master.getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .flatMap(_.asRDDId).map(_.rddId).distinct
      .foreach(id => sc.unpersistRDD(id, blocking = true))
}
