package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Round-barrier materialization for iterative loops (pagerank, label
  * propagation, connected-components pointer jumping), plus the rules
  * every graph core's loop setup shares: the eager count that
  * materializes a multi-consumer cache and releases what fed it
  * ([[materialize]]), the stationary edge cache ([[stationaryEdges]])
  * and the driver-finish edge bound ([[DriverFinishEdgeBound]]); and the
  * scoped reliable checkpoint of sinks that write into what they read
  * ([[withCheckpoint]]).
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

  /** Run `body` over an EAGER reliable checkpoint of `df`, then delete
    * the checkpoint's files, also when `body` throws. For a micro-batch
    * sink whose several appends write into directories `df` lazily reads:
    * without the barrier each append would recompute `df` against the
    * output of the appends before it. The files are a full copy of `df`
    * in the session checkpoint dir (RAM-backed by default, see
    * [[GraftSession]]); nothing reads them after `body`, and the session
    * does not clean checkpoints, so they are deleted here rather than
    * left for the life of the JVM, one set per batch.
    */
  def withCheckpoint[A](df: DataFrame)(body: DataFrame => A): A = {
    val barrier = df.checkpoint()
    try body(barrier)
    finally {
      val conf = barrier.sparkSession.sparkContext.hadoopConfiguration
      barrier.queryExecution.logical
        .collectFirst { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }
        .flatMap(_.getCheckpointFile)
        .foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(conf).delete(p, true)
        }
    }
  }

  /** Materialize an already persisted multi-consumer cache: EAGERLY count
    * it before any consumer is built — a cold multi-consumer cache races
    * concurrent stages into each recomputing the upstream pipeline (the
    * eager-count invariant) — then unpersist the caches in
    * `releaseAfterMaterialize`, which fed only its subtree and are dead
    * weight once it holds the rows. Returns the row count. The one
    * release point for upstream caches: [[stationaryEdges]] and
    * connected components' pair cache both materialize through it.
    */
  def materialize(cached: DataFrame,
      releaseAfterMaterialize: Seq[DataFrame] = Nil): Long = {
    val n = cached.count()
    releaseAfterMaterialize.foreach(_.unpersist())
    n
  }

  /** The edge list a graph loop joins every round, made STATIONARY:
    * partitioned once by `src` (the per-round join key, so rounds
    * shuffle only the slim frontier/label side, never the edges),
    * persisted, and [[materialize]]d before any consumer is built,
    * releasing `releaseAfterMaterialize`. Returns the cache and its row
    * count; the caller owns the cache and unpersists it when its loop
    * is done.
    */
  def stationaryEdges(edges: DataFrame,
      releaseAfterMaterialize: Seq[DataFrame] = Nil): (DataFrame, Long) = {
    val cached = edges.repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    (cached, materialize(cached, releaseAfterMaterialize))
  }

  /** Edge count at or under which a graph core finishes on the DRIVER
    * (connected components' union-find, SCC's Tarjan scan, k-core's
    * in-memory peel): far above any dimension-sized graph the queries
    * feed, and bounded, so the collect is an explicitly bounded
    * finishing step, never a scale risk — above it the distributed loop
    * runs. Connected components applies it twice: first to the RAW pair
    * count (sf0.1 dedup_cluster: 964,854 pairs, union-found straight
    * from the pair cache, no contraction), then — only when the pairs
    * exceed it — to the contracted edge count (the 1,776 contracted
    * edges those pairs would contract to are what the second check
    * would see). The bound gates WHICH engine finishes, never the
    * answer: each core's spec asserts its regimes bit-identical.
    *
    * Driver memory at the bound is not the 4M slim rows' 64 MB. The
    * `ScaleCheck ccdriver` drill (4M disjoint pairs — 8M union-find
    * nodes, 4M moved into the root map, the worst shape for both; 4
    * vCPUs, local mode, the same pairs also forced through the
    * contraction) measured on the raw-pair finish: a 189 MB root-map
    * broadcast; 1.38 GB live heap while the returned plan is held (its
    * 4M-row local root relation and the broadcast copies; 0.09 GB on
    * the contraction path); a 2.2–2.4 GB post-GC live peak during the
    * phase, the same on both paths (executor buffers share that heap);
    * 26–30 s against the contraction's 28–34 s; it completes under
    * -Xmx3g. A driver finishing CC at the bound needs a heap of that
    * order.
    */
  val DriverFinishEdgeBound = 4000000L
}
