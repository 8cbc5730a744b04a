package graft

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

/** [[DriverGraph]]'s encoding and its three algorithms against
  * brute-force references on random graphs whose ids are the ones the
  * dense-int encoding could get wrong: `Long.MinValue`/`MaxValue`,
  * negatives, and xxhash64 values (SCC's mid-loop finish runs on hashed
  * ids), with both orientations of an edge, self-loops, and isolated
  * vertices when a vertex set is given.
  */
class DriverGraphSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private type Edges = Seq[(Long, Long)]

  private val idGen: Gen[Long] = Gen.oneOf(
    Gen.oneOf(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue),
    Gen.choose(-4L, 4L),
    Gen.choose(0L, 1000L).map(XXH64.hashLong(_, 42L)), // Spark's xxhash64
    Gen.choose(Long.MinValue, Long.MaxValue))

  private val graphGen: Gen[(Seq[Long], Edges)] = for {
    pool <- Gen.choose(1, 24).flatMap(Gen.listOfN(_, idGen)).map(_.distinct)
    m <- Gen.choose(0, 3 * pool.size)
    es <- Gen.listOfN(m, for {
      a <- Gen.oneOf(pool); b <- Gen.oneOf(pool); both <- Gen.prob(0.25)
    } yield if (both) Seq((a, b), (b, a)) else Seq((a, b)))
  } yield (pool, es.flatten)

  /** Fixed-point min-label propagation over both edge directions. */
  private def refComponents(vs: Seq[Long], es: Edges): Map[Long, Long] = {
    var lab = vs.map(v => v -> v).toMap
    var moved = true
    while (moved) {
      val next = es.foldLeft(lab) { case (l, (a, b)) =>
        val m = math.min(l(a), l(b)); l.updated(a, m).updated(b, m) }
      moved = next != lab
      lab = next
    }
    lab
  }

  /** v's SCC is every u that v reaches and that reaches v. */
  private def refScc(vs: Seq[Long], es: Edges): Map[Long, Long] = {
    def reach(v: Long): Set[Long] = {
      var seen = Set(v)
      var frontier = Set(v)
      while (frontier.nonEmpty) {
        frontier = es.collect { case (a, b) if frontier(a) && !seen(b) => b }.toSet
        seen ++= frontier
      }
      seen
    }
    val r = vs.map(v => v -> reach(v)).toMap
    vs.map(v => v -> vs.filter(u => r(v)(u) && r(u)(v)).min).toMap
  }

  /** Simultaneous removal over distinct-neighbour sets (a self-loop's
    * vertex is its own neighbour once): survivors' degrees and the
    * rounds that removed a vertex. */
  private def refPeel(vs: Seq[Long], es: Edges, k: Int): (Map[Long, Long], Int) = {
    var nb = vs.map(v => v -> es.collect {
      case (a, b) if a == v => b
      case (a, b) if b == v => a
    }.toSet).toMap
    var rounds = 0
    var drop = nb.collect { case (v, s) if s.size < k => v }.toSet
    while (drop.nonEmpty) {
      rounds += 1
      nb = nb.collect { case (v, s) if !drop(v) => v -> (s -- drop) }
      drop = nb.collect { case (v, s) if s.size < k => v }.toSet
    }
    (nb.map { case (v, s) => v -> s.size.toLong }, rounds)
  }

  private def byId(g: DriverGraph.Graph, f: Int => Long): Map[Long, Long] =
    g.ids.indices.map(i => g.ids(i) -> f(i)).toMap

  test("union-find, Tarjan and the peel match brute force on random " +
      "graphs with extreme and hashed ids, both orientations, " +
      "self-loops and isolated vertices") {
    val prop = Prop.forAll(graphGen) { case (pool, es) =>
      val ends = es.flatMap { case (a, b) => Seq(a, b) }.toArray
      Prop.all(Seq(None, Some(pool.toArray)).map { verts =>
        val vs = verts.fold(ends.toSeq)(_.toSeq).distinct
        val d = DriverGraph.encode(ends, verts, undirected = false)
        val u = DriverGraph.encode(ends, verts, undirected = true)
        val cc = refComponents(vs, es)
        val peels = (0 to 3).map { k =>
          val (deg, rounds) = DriverGraph.peel(u, k)
          (byId(u, deg(_).toLong).filter(_._2 >= 0), rounds) ==
            refPeel(vs, es, k)
        }
        val ok = d.ids.toSeq == vs.sorted && u.ids.toSeq == vs.sorted &&
          Seq(d, u).forall { g =>
            val root = DriverGraph.unionFind(g)
            byId(g, i => g.ids(root(i))) == cc
          } && {
            val lab = DriverGraph.tarjan(d)
            byId(d, i => d.ids(lab(i))) == refScc(vs, es)
          } && peels.forall(identity)
        ok :| s"vertices=${verts.isDefined} pool=$pool edges=$es"
      }: _*)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("an edge endpoint absent from the vertex set throws, naming the " +
      "count, in the encoding and through the SCC finish") {
    val e = intercept[IllegalArgumentException](DriverGraph.encode(
      Array(1L, 2L, 2L, 3L), Some(Array(1L, 2L)), undirected = false))
    assert(e.getMessage.startsWith("1 of 4 edge endpoints"), e.getMessage)
    import spark.implicits._
    val e2 = intercept[IllegalArgumentException](DriverGraph.scc(
      Seq(1L, 2L).toDF("v"), Seq((1L, 2L), (5L, 6L)).toDF("src", "dst"),
      Seq("v", "scc_id"), "scc"))
    assert(e2.getMessage.startsWith("2 of 4 edge endpoints"), e2.getMessage)
  }

  test("the collect is one job over int columns, skips rows with a null " +
      "endpoint and posts the edge count as a round-0 driver event") {
    import spark.implicits._
    val edges = Seq[(Option[Int], Option[Int])]((Some(-3), Some(7)),
      (Some(7), Some(9)), (None, Some(1)), (Some(2), None), (Some(4), Some(5)))
      .toDF("i", "j")
    val (roots, launched) = TestSpark.launched {
      DriverGraph.components(edges, "cc-test").as[(Long, Long)].collect().toMap
    }
    assert(roots === Map(7L -> -3L, 9L -> -3L, 5L -> 4L))
    assert(launched.jobs === 1)
    assert(launched.rounds.map(r => (r.loop, r.round, r.changed, r.detail)) ===
      Seq(("cc-test", 0, 3L, "driver")))
  }
}
