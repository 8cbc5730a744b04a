package org.apache.spark.sql.graft

import scala.collection.immutable.ArraySeq

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation,
  InMemoryTableScanExec}
import org.apache.spark.sql.types.LongType

/** Block-manager introspection for the bench harness, the poster of
  * graft's own listener events, the local relation the graph family's
  * driver finish hands back (graft.DriverGraph), and the cache reads of
  * graft.Barriers.scoped.
  *
  * Lives in the org.apache.spark.* tree because `BlockManagerMaster` and
  * `SparkContext.listenerBus` are `private[spark]` and `Dataset.ofRows`
  * and `CachedRDDBuilder` are `private[sql]`: the bench needs to
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

  /** A local relation of non-null BIGINT columns `names` whose data is
    * `rows` as they are: no `Row` or tuple per row, no renaming
    * projection for the optimizer to fold into a second copy. */
  def longRows(spark: SparkSession, names: Seq[String],
      rows: Array[InternalRow]): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(names.map(AttributeReference(_, LongType, nullable = false)()),
        ArraySeq.unsafeWrapArray(rows)))

  /** Of the cached relations `cached`, those `frames` read: a cache whose
    * `InMemoryRelation` is in a frame's `withCachedData` plan, and,
    * transitively, one scanned by the cached physical plan of a read
    * cache whose buffers are not loaded yet (graft.Barriers.scoped).
    * Reads plans and block status only; launches no job.
    */
  def cachesRead(frames: Seq[Dataset[_]],
      cached: Seq[DataFrame]): Seq[DataFrame] = {
    var read = frames.flatMap(_.queryExecution.withCachedData
      .collectWithSubqueries { case r: InMemoryRelation => r.cacheBuilder })
      .toSet
    var added = read
    while (added.nonEmpty) {
      added = added.filterNot(_.isCachedColumnBuffersLoaded)
        .flatMap(b => AqePlans.collectWithSubqueries(b.cachedPlan) {
          case s: InMemoryTableScanExec => s.relation.cacheBuilder
        }) -- read
      read ++= added
    }
    cached.filter(df => df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.lookupCachedData(df.asInstanceOf[Dataset[_]])
      .exists(c => read(c.cachedRepresentation.cacheBuilder)))
  }

  /** Physical-plan traversal that descends into adaptive plans and their
    * query stages. */
  private object AqePlans extends AdaptiveSparkPlanHelper
}
