package graft.operators

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Relational.sccCore]] (forward coloring + backward confinement,
  * pointer-jumped min-label fixpoints) against an iterative Tarjan
  * reference on the driver. Random directed graphs cover the shapes the
  * coloring algorithm must survive — giant-SCC-plus-periphery, sparse
  * near-DAGs, dense mutual blobs — and the structured cases pin the
  * invariants: scc_id is the component's MINIMUM member id, singletons
  * and isolated vertices label themselves, self-loops decide nothing,
  * and a pure cycle (worst diameter per SCC) converges through the
  * pointer jumps.
  */
class SccSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** Iterative Tarjan — the textbook driver-side reference. Returns the
    * canonical labeling: v → min member id of v's SCC.
    */
  private def tarjan(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = Array.fill(n)(List.empty[Int])
    edges.foreach { case (a, b) => adj(a.toInt) ::= b.toInt }
    val index = Array.fill(n)(-1)
    val low = Array.fill(n)(0)
    val onStk = Array.fill(n)(false)
    var cnt = 0
    val stk = scala.collection.mutable.Stack[Int]()
    val out = scala.collection.mutable.Map[Long, Long]()
    for (root <- 0 until n if index(root) < 0) {
      var work = List((root, adj(root)))
      index(root) = cnt; low(root) = cnt; cnt += 1
      stk.push(root); onStk(root) = true
      while (work.nonEmpty) {
        val (node, rest) = work.head
        rest match {
          case w :: tail if index(w) < 0 =>
            work = (node, tail) :: work.tail
            index(w) = cnt; low(w) = cnt; cnt += 1
            stk.push(w); onStk(w) = true
            work = (w, adj(w)) :: work
          case w :: tail =>
            if (onStk(w)) low(node) = math.min(low(node), index(w))
            work = (node, tail) :: work.tail
          case Nil =>
            work = work.tail
            if (low(node) == index(node)) {
              var comp = List.empty[Int]
              var done = false
              while (!done) {
                val w = stk.pop(); onStk(w) = false; comp ::= w
                if (w == node) done = true
              }
              val m = comp.min.toLong
              comp.foreach(v => out(v.toLong) = m)
            }
            work.headOption.foreach { case (p, _) =>
              low(p) = math.min(low(p), low(node))
            }
        }
      }
    }
    out.toMap
  }

  /** Runs BOTH finish regimes — the driver Tarjan branch (the default
    * at these sizes) and the distributed coloring loop (forced via
    * driverFinishEdgeBound = 0) — and asserts them bit-identical before
    * returning: every reference comparison in this suite grades the two
    * regimes at once (the connectedComponents parity contract).
    */
  private def run(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val v = (0L until n.toLong).toDF("v")
    val e =
      if (edges.isEmpty)
        Seq.empty[(Long, Long)].toDF("src", "dst")
      else edges.toDF("src", "dst")
    val (driver, driverRun) = TestSpark.launched(Relational.sccCore(v, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val (dist, distRun) = TestSpark.launched(
      Relational.sccCore(v, e, driverFinishEdgeBound = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(driver === dist, "driver and distributed SCC regimes disagree")
    // the default bound took the driver finish, bound 0 did not
    def driverFinishes(l: TestSpark.Launched): Int =
      l.rounds.count(r => r.loop == "scc" && r.detail == "driver")
    assert(driverFinishes(driverRun) === 1 && driverFinishes(distRun) === 0)
    dist
  }

  test("random directed graphs match Tarjan across densities") {
    for ((seed, n, m) <- Seq((1, 60, 40), (2, 60, 120), (3, 80, 400),
        (4, 50, 50), (5, 40, 10))) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(m)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assert(run(n, edges) === tarjan(n, edges),
        s"mismatch on seed=$seed n=$n m=$m")
    }
  }

  test("pure long cycle collapses to one SCC rooted at its minimum") {
    val n = 257 // prime-ish length: diameter n, the pointer-jump stressor
    val edges = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
    val got = run(n, edges)
    assert(got.values.toSet === Set(0L))
  }

  test("DAG of singletons: every vertex labels itself") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (0L, 2L), (1L, 3L))
    val got = run(4, edges)
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("self-loops and isolated vertices decide nothing") {
    // 5 vertices: 0↔1 mutual, 2 self-loop only, 3→4 one-way, all five
    // must appear exactly once in the labeling
    val edges = Seq((0L, 1L), (1L, 0L), (2L, 2L), (3L, 4L))
    val got = run(5, edges)
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("two cycles bridged one-way stay separate SCCs") {
    // cycle {0,1,2}, cycle {3,4,5}, bridge 2→3 (no return path)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L), (2L, 3L))
    val got = run(6, edges)
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  test("trim-shaped graph: dangling chains off a core cycle — the " +
      "periphery the trim prologue peels; regimes stay identical") {
    // core 4-cycle {0..3}; an IN-chain 10→11→12→0 (no in-edges at 10,
    // peels front-first) and an OUT-chain 3→20→21→22 (no out-edges at
    // 22, peels back-first); chains longer than SccTrimRounds leave a
    // stub the coloring loop must still label correctly (trim is an
    // optimization, never a correctness dependency)
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L),
      (10L, 11L), (11L, 12L), (12L, 0L),
      (3L, 20L), (20L, 21L), (21L, 22L))
    val n = 23 // ids 4..9 and 13..19 are isolated singletons
    val got = run(n, edges)
    assert(got === tarjan(n, edges))
    assert(Seq(0L, 1L, 2L, 3L).forall(got(_) == 0L))
    assert(Seq(10L, 11L, 12L, 20L, 21L, 22L).forall(v => got(v) == v))
  }

  test("mid-loop driver finish: a distributed start that shrinks under " +
      "the bound mid-loop matches the pure regimes") {
    import spark.implicits._
    val expectAll = { (n: Int, edges: Seq[(Long, Long)], bound: Long) =>
      val expected = tarjan(n, edges)
      val mixed = Relational.sccCore((0L until n.toLong).toDF("v"),
        edges.toDF("src", "dst"), driverFinishEdgeBound = bound)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(mixed === expected, "mid-loop driver finish regime disagrees")
      assert(run(n, edges) === expected)
    }
    // (a) DETERMINISTIC trigger on the first loop entry: 31 isolated
    // vertices force the distributed entry (37 verts > bound 20); trim
    // round 1 peels all of them at once, the surviving two 3-cycles fit
    // the bound, and the very first loop iteration takes the driver
    // finish — the third regime path, exercised with zero coloring
    // rounds
    expectAll(37, Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L)), 20L)
    // (b) coloring rounds BEFORE the finish: a 24-vertex one-way chain
    // between the cycles outlasts the 3 trim rounds, so the loop colors
    // first and crosses the bound mid-loop (whatever round that is, the
    // xxhash64 order makes it deterministic — the gate is Tarjan
    // equality either way)
    val chain = (6 until 29).map(i => (i.toLong, (i + 1).toLong))
    expectAll(30, Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (3L, 4L), (4L, 5L), (5L, 3L), (2L, 6L), (29L, 3L)) ++ chain, 12L)
  }

  test("layered planted groups: the drill-graph shape in miniature") {
    // 12 groups of 4 (a 4-cycle each), 3 layers; DAG edges only from
    // layer l to layer l+1 — recovered SCCs must be exactly the groups
    val g = 4
    val groups = 12
    val layers = 3
    val perLayer = groups / layers
    val cyc = (0 until groups).flatMap { grp =>
      (0 until g).map(i =>
        ((grp * g + i).toLong, (grp * g + (i + 1) % g).toLong))
    }
    val rnd = new scala.util.Random(11)
    val dag = (1 to 40).map { _ =>
      val l = rnd.nextInt(layers - 1)
      val g1 = l * perLayer + rnd.nextInt(perLayer)
      val g2 = (l + 1) * perLayer + rnd.nextInt(perLayer)
      ((g1 * g + rnd.nextInt(g)).toLong, (g2 * g + rnd.nextInt(g)).toLong)
    }
    val got = run(groups * g, cyc ++ dag)
    (0 until groups * g).foreach { v =>
      assert(got(v.toLong) === (v / g * g).toLong, s"vertex $v")
    }
  }
}
