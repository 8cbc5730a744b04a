package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The connectedComponents core on synthetic graphs, in all THREE finish
  * regimes — the driver union-find straight from the pairs when they fit
  * the edge bound, the same union-find over the contracted edges when
  * only those fit, and the shared pointer-jump fixpoint
  * (Relational.minLabelFix) above both — against a driver-side
  * union-find reference. The commerce-slice operator itself is
  * oracle-gated (graph_connected_components, recursive-CTE oracle);
  * this spec is the contraction-bound audit VERDICT r9 #7 asked for:
  * the bound only gates WHICH finisher runs, never the answer, and the
  * worst-case shapes for contraction (long chains, where one
  * neighbor-min pass collapses almost nothing) agree bit-for-bit in
  * both regimes.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def reference(pairs: Seq[(Long, Long)],
      universe: Seq[Long]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      parent.getOrElseUpdate(x, x)
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    universe.map(v => v -> find(v)).toMap
  }

  private def run(pairs: Seq[(Long, Long)], universe: Seq[Long],
      bound: Long): Map[Long, Long] = runLogged(pairs, universe, bound)._1

  /** The labeling plus the regime that produced it, read from the loop
    * events the call posted: "pairs" (driver finish from the raw pairs),
    * "contracted" (driver finish from the contracted edges) or
    * "fixpoint" (minLabelFix rounds). */
  private def runLogged(pairs: Seq[(Long, Long)], universe: Seq[Long],
      bound: Long): (Map[Long, Long], String) = {
    val (got, rounds) = runRounds(pairs, universe, bound)
    assert(rounds.exists(r => r.detail == "pairs" && r.changed == pairs.size),
      rounds)
    val regime =
      if (rounds.exists(_.round > 0)) "fixpoint"
      else if (rounds.exists(_.detail == "superEdges")) "contracted"
      else "pairs"
    (got, regime)
  }

  /** The labeling plus the connectedComponents events the call posted.
    * The pairs are cached and counted in a scope around the call, the
    * dedup_cluster shape: the pair cache goes once the labeling is built.
    */
  private def runRounds(pairs: Seq[(Long, Long)], universe: Seq[Long],
      bound: Long): (Map[Long, Long], Seq[graft.LoopRound]) = {
    import spark.implicits._
    val (got, launched) = TestSpark.launched {
      graft.Barriers.scoped {
        val (p, n) = graft.Barriers.materialize(pairs.toDF("i", "j"))
        Dedup.connectedComponents(spark, p, n, universe.toDF("id"),
          driverFinishEdgeBound = bound)
      }.as[(Long, Long)].collect().toMap
    }
    (got, launched.rounds.filter(_.loop == "connectedComponents"))
  }

  // chain 0-1-…-40: diameter 40, the contraction-hostile shape (one
  // neighbor-min pass only halves it, the pointer-jump loop must close
  // the rest); clique 100-105: collapses in the single contraction
  // pass; 200: isolated universe member, its own component
  private val chain = (0L until 41L).map(k => (k, k + 1))
  private val clique = (for {
    a <- 100L to 105L; b <- (a + 1) to 105L
  } yield (a, b)).toSeq
  private val pairs = chain ++ clique
  private val universe = (0L to 41L) ++ (100L to 105L) :+ 200L

  // the same chain plus a 25-clique: enough pairs (341) that the
  // contracted edge list (the chain's 40 links, both directions) fits a
  // bound the raw pairs exceed — the shape with all three regimes
  private val bigClique = (for {
    a <- 100L to 124L; b <- (a + 1) to 124L
  } yield (a, b)).toSeq
  private val chainClique = chain ++ bigClique
  private val chainCliqueUniverse = (0L to 41L) ++ (100L to 124L) :+ 200L

  // a 400-spoke star of 3-edge chains (no clique: contraction leaves 800
  // supernode links) plus a 200-edge ascending chain and a 45-clique
  // (990 pairs) that lifts the raw count above the contracted one
  private val star = (1L to 400L).flatMap(k =>
    Seq((0L, 1000L + k), (1000L + k, 2000L + k), (2000L + k, 3000L + k))) ++
    (0L until 200L).map(t => (1000000L + t, 1000001L + t)) ++
    (for (a <- 5000000L to 5000044L; b <- (a + 1) to 5000044L) yield (a, b))
  private val starUniverse = star.flatMap { case (a, b) => Seq(a, b) }.distinct

  test("driver union-find branch matches the reference union-find") {
    val got = run(pairs, universe, bound = Long.MaxValue)
    assert(got === reference(pairs, universe))
    assert(got(200L) === 200L) // isolated: canonical = self
    assert(got(41L) === 0L)    // far chain end reaches the minimum
    assert(got(105L) === 100L)
  }

  test("distributed pointer-jump branch is bit-identical to the driver branch") {
    // bound -1 can never be met, so the fixpoint loop ALWAYS runs — the
    // scale path the driver finisher is allowed to shortcut, proven on
    // the chain shape whose contracted graph stays a long chain
    val distributed = run(pairs, universe, bound = -1L)
    assert(distributed === run(pairs, universe, bound = Long.MaxValue))
  }

  test("distributed branch runs the shared fixpoint's delta rounds and " +
      "still matches the reference union-find") {
    // a clique-free star of 400 three-edge spokes contracts to 800
    // supernodes that all settle in the first full round; the separate
    // 200-edge ascending chain keeps moving afterwards, so under half
    // the labels change and the fixpoint switches to delta rounds
    val star = (1L to 400L).flatMap(k =>
      Seq((0L, 1000L + k), (1000L + k, 2000L + k), (2000L + k, 3000L + k)))
    val longChain = (0L until 200L).map(t => (1000000L + t, 1000001L + t))
    val ps = star ++ longChain
    val uni = ps.flatMap { case (a, b) => Seq(a, b) }.distinct
    val (got, events) = runRounds(ps, uni, bound = -1L)
    assert(got === reference(ps, uni))
    assert(got(1000200L) === 1000000L)
    val rounds = events.filter(_.round > 0)
    assert(rounds.exists(_.detail.contains("mode=delta")),
      rounds.mkString("\n"))
  }

  test("raw-pair driver finish, contracted driver finish and distributed " +
      "branch are bit-identical on the chain+clique and star shapes") {
    for ((shape, ps, uni) <- Seq(
        ("chain+clique", chainClique, chainCliqueUniverse),
        ("star", star, starUniverse))) {
      // bound ps.size - 1: the raw pairs miss it, the contracted edges fit
      val byRegime = Seq(Long.MaxValue, ps.size - 1L, -1L)
        .map(b => runLogged(ps, uni, b))
      assert(byRegime.map(_._2) === Seq("pairs", "contracted", "fixpoint"), shape)
      val ref = reference(ps, uni)
      byRegime.foreach { case (got, regime) =>
        assert(got === ref, s"$shape/$regime")
      }
    }
    graft.GraftCaches.release(spark)
  }

  test("neither finish regime leaves its pair or edge cache behind") {
    // the only SQL cache a call may leave is one its returned plan
    // reads: the contracted-label relation l0 in the contracted
    // regimes, nothing in the raw-pair driver finish (the caller's scope
    // releases the pair cache) unless the caller persisted the pairs
    // itself and reads them.
    // The stationary edge cache never survives. Cached Datasets are the
    // persistent RDDs Spark names after their plan; round barriers are
    // unnamed.
    val sc = spark.sparkContext
    def leftBehind(call: => Unit): Seq[String] = {
      // earlier calls on the same input would serve from their caches
      graft.GraftCaches.release(spark)
      val before = sc.getPersistentRDDs.keySet
      call
      sc.getPersistentRDDs.collect {
        case (id, r) if !before(id) && r.name != null => r.name
      }.toSeq
    }
    for ((bound, regime) <- Seq((Long.MaxValue, "pairs"),
        (chainClique.size - 1L, "contracted"), (-1L, "fixpoint"))) {
      var seen = ""
      val left = leftBehind {
        seen = runLogged(chainClique, chainCliqueUniverse, bound)._2 }
      assert(seen === regime)
      if (regime == "pairs") assert(left.isEmpty, left.mkString("\n---\n"))
      else {
        assert(left.size === 1, s"$regime: ${left.mkString("\n---\n")}")
        assert(left.head.contains("AS lab"), s"$regime: ${left.head}")
      }
    }
    // universe derived FROM the pairs (graph_connected_components): the
    // caller persists the pairs, the returned plan reads that cache, so
    // it stays — and nothing else
    import spark.implicits._
    val left = leftBehind {
      val pairsDf = chainClique.toDF("i", "j")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val uni = pairsDf.select(col("i").as("id"))
        .unionAll(pairsDf.select(col("j").as("id"))).distinct()
      val got = Dedup.connectedComponents(spark, pairsDf, pairsDf.count(), uni)
        .as[(Long, Long)].collect().toMap
      assert(got === reference(chainClique, chainClique.flatMap(e => Seq(e._1, e._2))))
    }
    assert(left.size === 1, left.mkString("\n---\n"))
    assert(!left.head.contains("AS lab") && left.head.contains("LocalTableScan"),
      left.head)
    graft.GraftCaches.release(spark)
  }

  test("commerce-slice query agrees across finish regimes end to end") {
    val q = graft.SparkEntry.queries("graph_connected_components")
    val byQuery = q(spark, TestSpark.sfDir).collect().toSeq
    // same slice pushed through the distributed finisher
    val pairsDf = graft.Tables.orders(spark, TestSpark.sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(graft.Tables.lineitem(spark, TestSpark.sfDir)
        .filter(col("l_quantity") >= 49)
        .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
        Seq("o_orderkey"))
      .select((col("o_custkey") * 2).as("i"),
        (col("l_suppkey") * 2 + 1).as("j"))
      .distinct()
    val uni = pairsDf.select(col("i").as("id"))
      .unionAll(pairsDf.select(col("j").as("id"))).distinct()
    import spark.implicits._
    val (p, n) = graft.Barriers.materialize(pairsDf)
    val dist = Dedup.connectedComponents(spark, p, n, uni,
        driverFinishEdgeBound = -1L)
      .as[(Long, Long)].collect().toMap
    val decoded = byQuery.map { r =>
      val id = (if (r.getString(0) == "customer") 0L else 1L) + 2L * r.getLong(1)
      val can = (if (r.getString(2) == "customer") 0L else 1L) + 2L * r.getLong(3)
      id -> can
    }.toMap
    assert(decoded === dist)
  }
}
