package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Round-barrier materialization for iterative loops (pagerank, label
  * propagation, connected-components pointer jumping), plus the two
  * rules every graph core's loop setup shares: the stationary edge
  * cache ([[stationaryEdges]]) and the driver-finish edge bound
  * ([[DriverFinishEdgeBound]]).
  *
  * Every loop here cuts its per-round lineage with an EAGER checkpoint
  * (the CLAUDE.md iterative contract — persist/unpersist chains break
  * cache plan-matching and recompute the loop 2^rounds times). The
  * DEFAULT cut is `localCheckpoint`: blocks live in executor storage,
  * no distributed-FS round trip — the right latency trade on one JVM
  * and on healthy small clusters.
  *
  * But localCheckpoint TRUNCATES lineage to blocks that exist only on
  * the executors that computed them: at 1000 executors, one lost
  * container mid-loop loses a block nothing can recompute, failing the
  * whole job at round k of n. Deployments that expect executor churn
  * opt into RELIABLE barriers — `spark.checkpoint()` into the durable
  * checkpoint dir ([[GraftSession]] sets one; on a cluster point it at
  * HDFS/object storage) — paying one FS write per round for
  * loss-tolerance. Runtime conf, not static: the same session can run
  * a quick exploratory loop locally-checkpointed and a 10-hour
  * production loop reliably, flipping the conf between queries.
  */
object Barriers {

  /** Runtime conf key; unset/false → localCheckpoint, true → reliable
    * `checkpoint()` into the session's checkpoint dir.
    */
  val ReliableBarrierConf = "spark.graft.reliableBarriers"

  /** Cut `df`'s lineage eagerly, per the session's barrier mode.
    *
    * The checkpointed plan is rebuilt WITHOUT origin statistics
    * ([[org.apache.spark.sql.graft.StatsBarrier]]): checkpoint stats
    * propagation compounds doubly-exponentially through loops whose
    * rounds reference the previous barrier more than once — the r11
    * large-regime drill caught the connected-components pointer-jump
    * driver spending minutes per round multiplying 10⁹-bit size
    * estimates. Loops own their join strategies explicitly, so the
    * estimates a barrier could carry decide nothing anyway.
    */
  def roundBarrier(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.StatsBarrier.strip(
      if (df.sparkSession.conf.getOption(ReliableBarrierConf)
          .exists(_.trim.equalsIgnoreCase("true")))
        df.checkpoint() // eager; survives executor loss
      else
        df.localCheckpoint()) // eager; executor-local blocks

  /** The edge list a graph loop joins every round, made STATIONARY:
    * partitioned once by `src` (the per-round join key, so rounds
    * shuffle only the slim frontier/label side, never the edges),
    * persisted, and EAGERLY counted before any consumer is built — a
    * cold multi-consumer cache races concurrent stages into each
    * recomputing the upstream pipeline (the eager-count invariant). Caches in `releaseAfterMaterialize` fed only the edge
    * subtree, so they are unpersisted once the edge cache holds the
    * rows. Returns the cache and its row count; the caller owns the
    * cache and unpersists it when its loop is done.
    */
  def stationaryEdges(edges: DataFrame,
      releaseAfterMaterialize: Seq[DataFrame] = Nil): (DataFrame, Long) = {
    val cached = edges.repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = cached.count()
    releaseAfterMaterialize.foreach(_.unpersist())
    (cached, n)
  }

  /** Edge count at or under which a graph core finishes on the DRIVER
    * (connected components' union-find, SCC's Tarjan scan, k-core's
    * in-memory peel): 4M slim (long, long) rows ≈ 64 MB, far below
    * driver heap and far above any dimension-sized graph the queries
    * feed (sf0.1 dedup_cluster: 1,776 contracted edges from 964,854
    * pairs). Above it the distributed loop runs, so the collect is an
    * explicitly bounded finishing step, never a scale risk. The bound
    * gates WHICH engine finishes, never the answer: each core's spec
    * asserts both regimes bit-identical.
    */
  val DriverFinishEdgeBound = 4000000L
}
