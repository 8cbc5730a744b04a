package graft

import org.apache.spark.scheduler.SparkListenerEvent
import scala.collection.mutable
import scala.runtime.NonLocalReturnControl

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.functions.{array, col, explode, struct}
import org.apache.spark.storage.StorageLevel

/** One round of a [[Barriers.fixpoint]] loop, posted on the session's
  * listener bus when the round's step returns: the loop's name, the
  * 1-based round, the step's `changed` count (−1 for a fixed-round loop
  * that counts nothing), the round's wall milliseconds and the step's
  * free-form detail (`mode=delta` for a min-label delta round). A
  * listener reads it in `onOtherEvent`; ScaleCheck prints it, specs
  * assert on it.
  */
final case class LoopRound(loop: String, round: Int, changed: Long,
    wallMs: Long, detail: String) extends SparkListenerEvent

/** The one round loop of every iterative core ([[Barriers.fixpoint]]:
  * the graph family, both quantile bisections, the rank join, BPE, the
  * coreset and k-means) and round-barrier materialization for its
  * rounds; the one shared-relation cache of every operator
  * ([[materialize]]: persist and eager count; [[persist]] alone for a
  * plan barrier), with the graph cores' stationary edge cache on top of
  * it ([[stationaryEdges]]), the one cache scope that releases what an
  * operator's result does not read ([[scoped]]),
  * the one-read directed edge list of an undirected relation
  * ([[symmetrize]]) and their driver-finish edge bound
  * ([[DriverFinishEdgeBound]]; the finish itself is [[DriverGraph]]); and
  * the scoped reliable checkpoint of sinks that write into what they
  * read ([[withCheckpoint]]).
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

  /** How a [[fixpoint]] loop reads its round limit. Each call site picks
    * one as a constant of the operator, never as a user setting.
    */
  sealed trait Limit { def rounds: Long }

  /** The limit is part of the operator's definition — its oracle unrolls
    * exactly this many rounds — so reaching it returns the state.
    */
  final case class Horizon(rounds: Long) extends Limit

  /** The loop must converge within this many rounds: one still moving
    * after its last round throws (the CLAUDE.md cap contract — a silent
    * cap once shipped a labeling with 1,128 cross-component edges).
    */
  final case class Budget(rounds: Long) extends Limit

  /** What one [[fixpoint]] step returns: the next state, the row count
    * the step already takes to decide convergence (0 stops the loop, −1
    * means "not counted" — a fixed-round loop adds no job to report a
    * count) and a detail for the round event.
    */
  final case class Round[S](state: S, changed: Long, detail: String = "")

  /** Run `step` from `init` round by round, 1-based, until a round
    * reports `changed` 0 or `limit` rounds have run; returns the final
    * state and the number of rounds run. A [[Budget]] loop still moving
    * after its last round throws `IllegalStateException` naming the loop
    * and the rows still moving; no partial result is returned. Every
    * round posts one [[LoopRound]] event. An exception from `step`
    * propagates as is.
    *
    * A step whose state holds a per-round DataFrame lands it through
    * [[roundBarrier]] itself: the state shapes differ too much (pairs of
    * frames, an overlay with counts) for the loop to do it, and a round
    * that skips the barrier chains its plan into the next one. A step
    * whose state lives on the driver over a cached input (bisection
    * brackets, rank-join slice depth, k-means centroid arrays) has no
    * lineage to cut.
    */
  def fixpoint[S](loop: String, limit: Limit)(init: S)(
      step: (S, Int) => Round[S]): (S, Int) = {
    var state = init
    var changed = -1L
    var round = 0
    while (round < limit.rounds && changed != 0) {
      round += 1
      val t0 = System.nanoTime()
      val r = step(state, round)
      post(LoopRound(loop, round, r.changed,
        (System.nanoTime() - t0) / 1000000, r.detail))
      state = r.state
      changed = r.changed
    }
    if (changed != 0 && limit.isInstanceOf[Budget])
      throw new IllegalStateException(
        s"$loop: still moving after its budget of ${limit.rounds} rounds " +
          s"($changed rows changed in the last) — refusing to return a " +
          "partial result")
    (state, round)
  }

  /** Post a count a loop's set-up takes before its rounds as a round-0
    * [[LoopRound]] (connected components' pair and contracted-edge
    * counts, which pick its finish).
    */
  def postSetup(loop: String, rows: Long, detail: String): Unit =
    post(LoopRound(loop, 0, rows, 0, detail))

  private def post(e: LoopRound): Unit =
    org.apache.spark.sql.graft.GraftRuntime.post(
      SparkSession.active.sparkContext, e)

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

  /** The cache scopes open on this thread, innermost first: each holds
    * the SQL caches [[persist]] made while its body ran.
    */
  private val scopes = new ThreadLocal[List[mutable.ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[mutable.ArrayBuffer[DataFrame]] = Nil
  }

  /** Run `body` and release every SQL cache that [[persist]] (so also
    * [[materialize]] and [[stationaryEdges]]) made on this thread while it
    * ran and that its result does not read: the one place an operator's
    * caches are released. A cache `persist` found already cached is not
    * recorded, so a caller's cache is never released here.
    *
    * On return a recorded cache is kept when the result reads it: its
    * `InMemoryRelation` is in the `withCachedData` plan of a DataFrame
    * the result holds (in a tuple, an option, a case class or a
    * collection), or it feeds a kept cache whose buffers are not loaded
    * yet (unpersisting the input of an unfilled cache recompiles that
    * cache without it, and its first action recomputes the whole subtree
    * — the CLAUDE.md "recomputes the whole loop" hazard). Every other
    * recorded cache is unpersisted, and the kept ones pass to the
    * enclosing scope; outside any scope they stay for
    * [[GraftCaches.release]]. A throw from `body` unpersists every
    * recorded cache, then propagates.
    *
    * It reads plans only and launches no job. It covers SQL caches only:
    * round-barrier checkpoints are left to the ContextCleaner and
    * [[GraftCaches.release]], since a loop's returned state can be the
    * barrier itself.
    */
  def scoped[A](body: => A): A = {
    val made = mutable.ArrayBuffer.empty[DataFrame]
    val outer = scopes.get
    scopes.set(made :: outer)
    def keep(result: Any): Unit = if (made.nonEmpty) {
      val kept = org.apache.spark.sql.graft.GraftRuntime
        .cachesRead(frames(result).toSeq, made.toSeq)
      // newest first: a cache is dropped before the caches it reads
      made.reverseIterator.filterNot(kept.contains).foreach(_.unpersist())
      outer.headOption.foreach(_ ++= kept)
    }
    try {
      val result = body
      keep(result)
      result
    } catch {
      // a `return` out of `body` returns its value like any other result
      case r: NonLocalReturnControl[_] => keep(r.value); throw r
      case t: Throwable =>
        made.reverseIterator.foreach(_.unpersist())
        throw t
    } finally scopes.set(outer)
  }

  /** The DataFrames a scope's result holds. */
  private def frames(a: Any): Iterator[classic.Dataset[_]] =
    a match {
      case d: classic.Dataset[_] => Iterator(d)
      case i: Iterable[_] => i.iterator.flatMap(frames)
      case p: Product => p.productIterator.flatMap(frames)
      case _ => Iterator.empty
    }

  /** Persist `df` at MEMORY_AND_DISK without counting it, unless its plan
    * is already cached (by this or an equal plan — that cache keeps its
    * storage level and is not recorded), and record the new cache in the
    * innermost open [[scoped]]. Alone, for a single-consumer plan barrier
    * or a cache whose first use is an action the operator runs anyway;
    * every shared relation goes through [[materialize]].
    */
  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      scopes.get.headOption.foreach(_ += df)
    }
    df
  }

  /** The one shared-relation combinator: [[persist]] `df`, then EAGERLY
    * count it before any consumer is built. Returns the cached relation
    * and its row count.
    *
    * This is the CLAUDE.md cache invariant in one place. A relation with
    * two or more consumers is persisted, not checkpointed: the cache
    * keeps the column stats downstream join planning reads. And it is
    * counted before its consumers exist: the scheduler runs independent
    * consumer stages concurrently, and against a cold cache each of them
    * recomputes the upstream pipeline (r5: containment 6 s isolated vs
    * 118 s in-suite). The enclosing [[scoped]] releases the cache once
    * nothing the operator returns reads it; outside a scope it stays for
    * [[GraftCaches.release]].
    */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    persist(df)
    (df, df.count())
  }

  /** The edge list a graph loop joins every round, made STATIONARY:
    * partitioned once by `src` (the per-round join key, so rounds
    * shuffle only the slim frontier/label side, never the edges) and
    * [[materialize]]d. Returns the cache and its row count.
    */
  def stationaryEdges(edges: DataFrame): (DataFrame, Long) =
    materialize(edges.repartition(col("src")))

  /** Both directed edges of every row of an undirected `(a, b)` relation,
    * in ONE read: each row emits (a→src, b→dst) and (b→src, a→dst), and
    * the `carried` columns ride along on both. A two-arm union of
    * swapped selects returns the same multiset but plants `pairs` in the
    * plan twice, and the arms' exchanges are not reused (their canonical
    * plans differ), so an uncached `pairs` would be evaluated twice.
    * Never persist a relation only so that such arms can share it.
    */
  def symmetrize(pairs: DataFrame, a: String, b: String,
      carried: String*): DataFrame = {
    def arm(from: String, to: String) =
      struct(col(from).as("src") +: col(to).as("dst") +: carried.map(col): _*)
    pairs.select(explode(array(arm(a, b), arm(b, a))).as("e"))
      .select(col("e.src").as("src") +: col("e.dst").as("dst") +:
        carried.map(c => col(s"e.$c").as(c)): _*)
  }

  /** Edge count at or under which a graph core finishes on the DRIVER
    * ([[DriverGraph]]: connected components' union-find, SCC's Tarjan
    * scan, k-core's peel): far above any dimension-sized graph the
    * queries feed, and bounded, so the collect is an explicitly bounded
    * finishing step, never a scale risk — above it the distributed loop
    * runs. Connected components applies it twice: first to the RAW pair
    * count (sf0.1 dedup_cluster: 964,854 pairs, union-found straight
    * from the pair cache, no contraction), then — only when the pairs
    * exceed it — to the contracted edge count (the 1,776 contracted
    * edges those pairs would contract to are what the second check
    * would see). SCC also requires its vertex count within it. The bound
    * gates WHICH engine finishes, never the answer: each core's spec
    * asserts its regimes bit-identical.
    *
    * Driver memory at the bound is mostly the hand-back, not the
    * finish: [[DriverGraph]]'s arrays take about 0.3 GB at 8M vertices,
    * its local relation one `UnsafeRow` per row, which Spark's local
    * scan copies again. `ScaleCheck ccdriver` (4 vCPUs, local mode,
    * -Xmx3g; live heap with the result plan held / largest live heap
    * after a GC in the phase): CC raw pairs, 4M disjoint pairs (8M ids,
    * 4M-row root map, 189 MB broadcast), 1.06 / 1.98 GB; k-core k = 1 on
    * them (8M rows back) 1.72 / 3.07 GB, at the heap's limit; SCC on 1M
    * disjoint 4-cycles 0.79 / 2.22 GB. A driver finishing at the bound
    * needs a heap of about 3 GB.
    */
  val DriverFinishEdgeBound = 4000000L
}
