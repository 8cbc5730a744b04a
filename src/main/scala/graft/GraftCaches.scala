package graft

import org.apache.spark.sql.SparkSession

/** Session-wide cache release — the library-level contract for embedding
  * graft operators.
  *
  * An operator's cache scope ([[Barriers.scoped]]) releases every cache
  * its returned plan does not read. The caches that plan does read
  * (sim_knn_graph's scored pairs, graph_triangles' edge list,
  * graph_connected_components' pairs) and those of operators without a
  * scope cannot be released inside the operator: the RETURNED DataFrame
  * is lazy and the caller's action has not run yet. Round-barrier
  * checkpoints are never released by a scope either. The contract is
  * therefore: run your action(s), then call `GraftCaches.release(spark)`.
  * Bench / Verify / Scratch all honor it between queries; any other
  * embedding should do the same or the session leaks one cached relation
  * per operator call.
  */
object GraftCaches {
  /** Drop every SQL cache and raw persisted RDD in the session, blocking
    * (an async removal races the next query's eager cache materialization),
    * then drive the ContextCleaner with an explicit GC so broadcast blocks
    * and shuffle files — whose release is reference-queue-driven — are
    * freed too instead of piling up across a long multi-query session.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Entries in the session's SQL cache. `CacheManager` exposes only
    * `isEmpty`, so its private `cachedData` is read reflectively; for
    * observability (Scratch, the cache specs), never for a decision.
    */
  def sqlCaches(spark: SparkSession): Int = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val f = cm.getClass.getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cm).asInstanceOf[IndexedSeq[_]].size
  }
}
