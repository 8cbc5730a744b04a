package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** Block-manager introspection for the bench harness, and the poster of
  * graft's own listener events.
  *
  * Lives in the org.apache.spark.* tree because `BlockManagerMaster` and
  * `SparkContext.listenerBus` are `private[spark]`: the bench needs to
  * OBSERVE how much storage memory is still pinned between queries
  * (leftover broadcast pieces, undrained unpersists) to tell a clean
  * session from the r5 accumulation pathology, and there is no public API
  * for that with the UI store disabled.
  */
object GraftRuntime {
  /** Bytes of storage memory currently in use across all block managers. */
  def storageUsed(sc: SparkContext): Long = {
    val status = sc.env.blockManager.master.getMemoryStatus
    status.values.map { case (max, remaining) => max - remaining }.sum
  }

  /** Post `event` to every listener of `sc` (delivered through
    * `SparkListener.onOtherEvent`, asynchronously and in order with the
    * scheduler's own events).
    */
  def post(sc: SparkContext, event: SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
