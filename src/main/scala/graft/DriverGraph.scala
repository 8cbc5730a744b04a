package graft

import java.util.Arrays

import scala.collection.mutable.ArrayBuilder

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.Platform

/** The graph family's bounded DRIVER finish, end to end: connected
  * components' union-find (both driver regimes of
  * [[operators.Dedup.connectedComponents]]), SCC's Tarjan scan (the
  * entry branch and the mid-loop finish of [[operators.Relational.sccCore]])
  * and k-core's peel ([[operators.Relational.kCoreCore]]). Each core
  * decides on its own counts whether to finish here
  * ([[Barriers.DriverFinishEdgeBound]]); this module does the rest:
  *  - collect: one job per relation — the two-BIGINT-column edges and,
  *    when given, the vertices — packs each partition into one
  *    `long[]`, no `Row` or tuple per edge; a row with a null endpoint
  *    links nothing and is skipped, as the distributed joins drop it.
  *    The edge count is posted as a round-0 [[LoopRound]] of the
  *    caller's loop, detail `driver`;
  *  - [[encode]]: ids become dense ints through a sorted distinct
  *    `long[]`, so index order is id order (hashed and negative ids
  *    included), and edges become CSR `int[]`s;
  *  - [[unionFind]], [[tarjan]] and [[peel]] run on those arrays;
  *  - one local relation of (id, value) BIGINT rows is handed back.
  * `Relational.markovStationaryCore`'s driver loop is not here: its
  * states are strings, its edges weighted, under its own 1M bound.
  */
object DriverGraph {

  /** Vertex i is `ids(i)` (ascending, distinct); its neighbours are
    * `adj(off(i) until off(i + 1))`, ascending and distinct: its
    * out-neighbours, or in an undirected graph every neighbour (a
    * self-loop's vertex once).
    */
  final class Graph(val ids: Array[Long], val off: Array[Int],
      val adj: Array[Int]) {
    def n: Int = ids.length
  }

  /** Connected components, edge direction ignored: (lab, slab) for every
    * endpoint whose component minimum `slab` is not itself. */
  def components(edges: DataFrame, loop: String): DataFrame = {
    val g = collect(edges, None, loop, undirected = false)
    val root = unionFind(g)
    handBack(edges, Seq("lab", "slab"), g)(i => root(i) != i, i => g.ids(root(i)))
  }

  /** (v, the minimum member of v's SCC), named `cols`, for every v in
    * the one-column `vertices`, which must hold every edge endpoint. */
  def scc(vertices: DataFrame, edges: DataFrame, cols: Seq[String],
      loop: String): DataFrame = {
    val g = collect(edges, Some(vertices), loop, undirected = false)
    val label = tarjan(g)
    handBack(edges, cols, g)(_ => true, i => g.ids(label(i)))
  }

  /** The k-core: (v, core_degree) for every survivor, and the number of
    * peel rounds that removed a vertex. */
  def kCore(edges: DataFrame, k: Int, loop: String): (DataFrame, Int) = {
    val g = collect(edges, None, loop, undirected = true)
    val (deg, rounds) = peel(g, k)
    (handBack(edges, Seq("v", "core_degree"), g)(deg(_) >= 0, deg(_).toLong),
      rounds)
  }

  private def collect(edges: DataFrame, vertices: Option[DataFrame],
      loop: String, undirected: Boolean): Graph = {
    val ends = longs(edges.toDF("a", "b"))
    Barriers.postSetup(loop, ends.length / 2, "driver")
    encode(ends, vertices.map(v => longs(v.toDF("a"))), undirected)
  }

  /** `df`'s rows cast to BIGINT, laid out flat; rows holding a null are
    * skipped. */
  private def longs(df: DataFrame): Array[Long] = {
    val w = df.columns.length
    df.select(df.columns.toSeq.map(col(_).cast("bigint")): _*)
      .queryExecution.toRdd.mapPartitions { rows =>
        val out = new ArrayBuilder.ofLong
        for (r <- rows if (0 until w).forall(!r.isNullAt(_)))
          for (c <- 0 until w) out += r.getLong(c)
        Iterator.single(out.result())
      }.collect().flatten
  }

  /** The graph of the edges laid out flat in `ends` (src, dst, src, …)
    * over `vertices` (an endpoint absent from them throws, naming how
    * many) or else over the endpoints. */
  def encode(ends: Array[Long], vertices: Option[Array[Long]],
      undirected: Boolean): Graph = {
    val ids = distinctSorted(vertices.getOrElse(ends))
    val at = new Array[Int](ends.length)
    for (e <- ends.indices) at(e) = Arrays.binarySearch(ids, ends(e))
    val missing = at.count(_ < 0)
    if (missing > 0)
      throw new IllegalArgumentException(s"$missing of ${ends.length} " +
        s"edge endpoints are absent from the vertex set of ${ids.length} ids")
    // arc s → d as the long s·2³² + d: sorting orders the arcs by
    // source, then target, and drops repeats
    val m = at.length / 2
    val packed = new Array[Long](if (undirected) 2 * m else m)
    for (e <- 0 until m) {
      val (s, d) = (at(2 * e).toLong, at(2 * e + 1).toLong)
      packed(e) = s << 32 | d
      if (undirected) packed(m + e) = d << 32 | s
    }
    val arcs = distinctSorted(packed)
    val off = new Array[Int](ids.length + 1)
    val adj = new Array[Int](arcs.length)
    for (j <- arcs.indices) {
      off((arcs(j) >>> 32).toInt + 1) += 1
      adj(j) = arcs(j).toInt
    }
    for (i <- ids.indices) off(i + 1) += off(i)
    new Graph(ids, off, adj)
  }

  private def distinctSorted(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    Arrays.sort(s)
    var w = 0
    for (j <- s.indices if w == 0 || s(j) != s(w - 1)) { s(w) = s(j); w += 1 }
    if (w == s.length) s else Arrays.copyOf(s, w)
  }

  /** Union-by-min with path halving: each vertex's component root, the
    * component's minimum index. */
  def unionFind(g: Graph): Array[Int] = {
    val parent = Array.range(0, g.n)
    def find(v: Int): Int = {
      var x = v
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (v <- 0 until g.n; j <- g.off(v) until g.off(v + 1)) {
      val (a, b) = (find(v), find(g.adj(j)))
      parent(math.max(a, b)) = math.min(a, b)
    }
    for (v <- 0 until g.n) parent(v) = find(v)
    parent
  }

  /** Iterative Tarjan: each vertex's SCC label, the SCC's minimum index.
    * A visited vertex is on Tarjan's stack exactly while unlabeled. */
  def tarjan(g: Graph): Array[Int] = {
    // index 0 = unvisited; next(v) = v's next edge to follow; path = the
    // DFS path
    val index, low, next, stack, path = new Array[Int](g.n)
    val label = new Array[Int](g.n)
    Arrays.fill(label, -1)
    var (visited, sp, depth) = (0, 0, 0)
    def visit(v: Int): Unit = {
      visited += 1; index(v) = visited; low(v) = visited; next(v) = g.off(v)
      stack(sp) = v; sp += 1
      path(depth) = v; depth += 1
    }
    for (root <- 0 until g.n if index(root) == 0) {
      visit(root)
      while (depth > 0) {
        val v = path(depth - 1)
        if (next(v) < g.off(v + 1)) {
          val w = g.adj(next(v))
          next(v) += 1
          if (index(w) == 0) visit(w)
          else if (label(w) < 0) low(v) = math.min(low(v), index(w))
        } else {
          depth -= 1
          if (low(v) == index(v)) { // v roots the SCC stack(s until sp)
            var s = sp - 1
            while (stack(s) != v) s -= 1
            var min = v
            for (j <- s until sp) min = math.min(min, stack(j))
            for (j <- s until sp) label(stack(j)) = min
            sp = s
          }
          if (depth > 0) {
            val p = path(depth - 1)
            low(p) = math.min(low(p), low(v))
          }
        }
      }
    }
    label
  }

  /** Simultaneous-removal peel of an undirected graph: each round drops
    * every vertex with fewer than `k` surviving neighbours, all at once.
    * Returns each vertex's within-core degree (−1 once dropped) and the
    * number of rounds that dropped a vertex.
    */
  def peel(g: Graph, k: Int): (Array[Int], Int) = {
    val deg = Array.tabulate(g.n)(v => g.off(v + 1) - g.off(v))
    var drop = Array.range(0, g.n).filter(deg(_) < k)
    var rounds = 0
    while (drop.nonEmpty) {
      rounds += 1
      drop.foreach(deg(_) = -1)
      // a survivor falls below k once; then it joins the next round's drop
      val fell = new ArrayBuilder.ofInt
      for (v <- drop; j <- g.off(v) until g.off(v + 1)) {
        val u = g.adj(j)
        if (deg(u) >= 0) { deg(u) -= 1; if (deg(u) == k - 1) fell += u }
      }
      drop = fell.result()
    }
    (deg, rounds)
  }

  /** (ids(i), value(i)) for every vertex i that `keep`s: one local
    * relation named `cols`, its rows over one shared buffer. */
  private def handBack(like: DataFrame, cols: Seq[String], g: Graph)(
      keep: Int => Boolean, value: Int => Long): DataFrame = {
    val kept = (0 until g.n).count(keep)
    require(kept <= Int.MaxValue / 24, s"$kept rows overflow the hand-back")
    val buf = new Array[Byte](24 * kept) // per row: null bits, two longs
    val rows = new Array[InternalRow](kept)
    var r = 0
    for (i <- 0 until g.n if keep(i)) {
      val row = new UnsafeRow(2)
      row.pointTo(buf, Platform.BYTE_ARRAY_OFFSET + 24L * r, 24)
      row.setLong(0, g.ids(i))
      row.setLong(1, value(i))
      rows(r) = row
      r += 1
    }
    org.apache.spark.sql.graft.GraftRuntime.longRows(like.sparkSession, cols, rows)
  }
}
