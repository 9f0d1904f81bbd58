package org.apache.spark

import org.apache.spark.storage.RDDBlockId

/** Access to `private[spark]` state the tracer needs to close a span only
  * after the work it started has settled: the listener bus (task and job
  * events are delivered asynchronously) and the block manager (a
  * non-blocking `unpersist` removes cached blocks in the background). */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** True while some executor still holds blocks of an RDD that is no
    * longer persisted, i.e. an asynchronous unpersist is in flight. */
  def unpersistPending(sc: SparkContext): Boolean = {
    val live = sc.getPersistentRDDs.keySet
    SparkEnv.get.blockManager.master.getStorageStatus.exists(
      _.rddBlocks.keysIterator.exists {
        case RDDBlockId(rddId, _) => !live.contains(rddId)
        case _ => false
      })
  }
}
