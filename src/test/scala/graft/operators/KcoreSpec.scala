package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The k-core peel under graph_kcore, against a driver-side
  * simultaneous-removal reference, plus the oracle-margin audit the
  * operator's correctness DEPENDS on: the DuckDB oracle unrolls exactly
  * [[graft.SparkEntry.kcoreOracleRounds]] peel rounds, which equals the
  * Spark loop's fixpoint only when the fixpoint arrives within the
  * chain — so this spec pins the fixpoint round count at ≤ half the
  * chain depth on BOTH shipped SFs (a testdata regeneration that
  * deepens the peel trips here first, loudly, instead of silently at
  * the gate).
  */
class KcoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Simultaneous-removal peel: each round drops every vertex whose
    * degree among SURVIVORS is < k, all at once; returns the surviving
    * within-core degrees and the number of rounds that removed
    * something.
    */
  private def reference(pairs: Seq[(Long, Long)], k: Int)
      : (Map[Long, Long], Int) = {
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.Set[Long]]
    pairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    var rounds = 0
    var changed = true
    while (changed) {
      val drop = adj.collect { case (v, n) if n.size < k => v }.toSeq
      if (drop.isEmpty) changed = false
      else {
        rounds += 1
        drop.foreach { v =>
          adj(v).foreach(u => adj(u) -= v)
          adj -= v
        }
      }
    }
    (adj.map { case (v, n) => v -> n.size.toLong }.toMap, rounds)
  }

  private def run(pairs: Seq[(Long, Long)], k: Int,
      bound: Long = graft.Barriers.DriverFinishEdgeBound)
      : (Map[Long, Long], Int) = {
    import spark.implicits._
    val (core, rounds) = Relational.kCoreCore(pairs.toDF("i", "j"), k,
      driverEdgeBound = bound)
    (core.as[(Long, Long)].collect().toMap, rounds)
  }

  // cycle 0-1-2-3-4-0 with a tendril 4-10-11-12: the tendril peels in
  // 3 SEQUENTIAL rounds (only the current leaf is sub-degree), the
  // cycle survives intact — the shape that separates simultaneous
  // removal from recompute-free single passes
  private val cycleTendril = Seq[(Long, Long)](
    (0, 1), (1, 2), (2, 3), (3, 4), (4, 0), (4, 10), (10, 11), (11, 12))

  // two 4-cliques bridged by one edge: every vertex keeps degree ≥ 3-1
  // inside its clique, so the 2-core is the WHOLE graph, bridge included
  private val bridgedCliques = {
    val a = Seq(0L, 1L, 2L, 3L); val b = Seq(10L, 11L, 12L, 13L)
    (for (x <- a; y <- a if x < y) yield (x, y)) ++
      (for (x <- b; y <- b if x < y) yield (x, y)) :+ ((3L, 10L))
  }

  test("2-core of a pure chain is empty, rounds = ceil(len/2)") {
    val chain = (0L until 9L).map(v => (v, v + 1))
    val (core, rounds) = run(chain, 2)
    val (refCore, refRounds) = reference(chain, 2)
    assert(refCore.isEmpty)
    assert(core === refCore)
    assert(rounds === refRounds)
  }

  test("cycle survives, tendril peels over sequential rounds") {
    val (core, rounds) = run(cycleTendril, 2)
    val (refCore, refRounds) = reference(cycleTendril, 2)
    assert(core === refCore)
    assert(core.keySet === Set(0L, 1L, 2L, 3L, 4L))
    assert(core.values.toSet === Set(2L))
    assert(rounds === refRounds && rounds === 3)
  }

  test("bridged cliques: 2- and 3-cores keep everything, 4-core empties") {
    val (core2, _) = run(bridgedCliques, 2)
    assert(core2 === reference(bridgedCliques, 2)._1)
    assert(core2.keySet.size === 8)
    assert(core2(3L) === 4L && core2(10L) === 4L) // bridge endpoints
    val (core3, _) = run(bridgedCliques, 3)
    assert(core3 === reference(bridgedCliques, 3)._1)
    assert(core3.values.toSet === Set(3L, 4L)) // bridge survives: both ends deg ≥ 3
    // k=4: the six deg-3 clique vertices peel first, stranding the
    // bridge endpoints at deg 1 — a genuinely CASCADING collapse
    val (core4, rounds4) = run(bridgedCliques, 4)
    val (ref4, refRounds4) = reference(bridgedCliques, 4)
    assert(core4 === ref4 && core4.isEmpty)
    assert(rounds4 === refRounds4 && rounds4 === 2)
  }

  test("driver and distributed peel regimes agree bit-for-bit") {
    // bound = 0 forces the distributed loop; the default takes the
    // driver finish. The bound gates WHICH engine peels, never the
    // answer. (Round COUNTS may legitimately differ by one between
    // regimes: the driver's vertex peel spends a final round dropping
    // a vertex whose last edge already vanished, an edge-list no-op.)
    for (g <- Seq(cycleTendril, bridgedCliques); k <- Seq(2, 3, 4)) {
      assert(run(g, k, bound = 0L)._1 === run(g, k)._1,
        s"regimes disagree on k=$k")
    }
    import spark.implicits._
    val slice = spark.sql(
      """SELECT DISTINCT o.o_custkey * 2 AS i, l.l_suppkey * 2 + 1 AS j
         FROM parquet.`/root/testdata/sf0.01/orders.parquet` o
         JOIN parquet.`/root/testdata/sf0.01/lineitem.parquet` l
           ON l.l_orderkey = o.o_orderkey
         WHERE l.l_quantity >= 49 AND o.o_orderpriority = '1-URGENT'""")
    val (dist, distRun) = TestSpark.launched(
      Relational.kCoreCore(slice, 2, driverEdgeBound = 0L)
      ._1.as[(Long, Long)].collect().toMap)
    val (drv, drvRun) = TestSpark.launched(Relational.kCoreCore(slice, 2)
      ._1.as[(Long, Long)].collect().toMap)
    assert(dist === drv && drv.nonEmpty)
    // the default bound took the driver finish, bound 0 did not
    def driverFinishes(l: TestSpark.Launched): Int =
      l.rounds.count(r => r.loop == "kcore" && r.detail == "driver")
    assert(driverFinishes(drvRun) === 1 && driverFinishes(distRun) === 0)
  }

  test("oracle margin: fixpoint ≤ half the unrolled chain on both shipped SFs") {
    val limit = graft.SparkEntry.kcoreOracleRounds / 2
    Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { dir =>
      val pairs = spark.sql(
        s"""SELECT DISTINCT o.o_custkey * 2 AS i, l.l_suppkey * 2 + 1 AS j
            FROM parquet.`$dir/orders.parquet` o
            JOIN parquet.`$dir/lineitem.parquet` l
              ON l.l_orderkey = o.o_orderkey
            WHERE l.l_quantity >= 49 AND o.o_orderpriority = '1-URGENT'""")
      val (core, rounds) = Relational.kCoreCore(pairs, 2)
      assert(rounds <= limit,
        s"$dir peeled $rounds rounds; oracle unrolls " +
          s"${graft.SparkEntry.kcoreOracleRounds} — margin gone")
      assert(core.count() > 0, s"$dir 2-core unexpectedly empty")
    }
  }
}
