package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Relational}

/** In-plan cache scoping: an operator's cache scope (Barriers.scoped)
  * must release every cache its RETURNED plan no longer reads; only
  * true plan-referenced barriers may rely on the harness-level
  * GraftCaches.release contract. This spec runs operators back-to-back
  * WITHOUT GraftCaches.release and asserts the session's SQL-cache
  * population stays at exactly the documented barriers, and checks that
  * no operator persists or unpersists by hand.
  */
class CacheScopeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def sqlCacheCount: Int = GraftCaches.sqlCaches(spark)

  test("pagerank and dedup_cluster release every SQL cache inline; " +
      "graph_connected_components leaves exactly its one plan-referenced " +
      "pair cache") {
    val dir = TestSpark.sfDir
    GraftCaches.release(spark) // clean baseline only — never called again
    assert(sqlCacheCount === 0)

    // graph_pagerank's output is checkpoint-truncated: its stationary
    // edge/vertex/dangling caches must all release inline
    Relational.graphPagerank(spark, dir).collect()
    assert(sqlCacheCount === 0,
      "pagerank must not leave SQL caches for the harness to clean")

    // dedup_cluster's pairs fit the driver-finish bound: its upstream
    // ngram-pipeline caches (t, ids, post) release once the pair cache is
    // counted, and the pair cache after its collect — the returned plan
    // reads only the documents scan and a broadcast root map
    val r1 = Dedup.dedupCluster(spark, dir).collect()
    assert(sqlCacheCount === 0, "cluster run 1 must leave no SQL cache")
    val r2 = Dedup.dedupCluster(spark, dir).collect()
    assert(sqlCacheCount === 0, "cluster run 2 must leave no SQL cache")
    assert(r2.map(_.toSeq).toSeq === r1.map(_.toSeq).toSeq)

    // graph_connected_components derives its universe from the pair
    // relation, so its returned plan reads the pair cache: that ONE
    // barrier stays, nothing else. A second run's pair plan matches the
    // first's, so it reads the same cache instead of adding one.
    val g1 = Relational.graphConnectedComponents(spark, dir).collect()
    assert(sqlCacheCount === 1,
      "graph_connected_components run 1 should leave exactly its pair cache")
    val g2 = Relational.graphConnectedComponents(spark, dir).collect()
    assert(sqlCacheCount === 1,
      "graph_connected_components run 2 should reuse that one cache")
    assert(g2.map(_.toSeq).toSeq === g1.map(_.toSeq).toSeq)

    GraftCaches.release(spark)
    assert(sqlCacheCount === 0)
  }

  test("rank join releases the input caches it persisted once the top-k " +
      "is materialized, also when it throws; the plan-referenced top-k " +
      "is the one cache left, and a caller's cache stays the caller's") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    def rel(key: String, v: String, top: Long) =
      (0L until 100L).map(i => (i, top - i)).toDF(key, "raw")
        .select(col(key), col("raw").cast("decimal(18,2)").as(v))
    val cr = rel("custkey", "crev", 5000L)
    val sr = rel("suppkey", "srev", 7000L)
    val bridge = (0L until 100L).map(i => (i, (i * 7) % 100L))
      .toDF("custkey", "suppkey")
    GraftCaches.release(spark) // clean baseline
    Relational.rankJoinCore(cr, sr, bridge, 5)._1.collect()
    assert(sqlCacheCount === 1, "only the returned top-k may stay cached")
    GraftCaches.release(spark)

    intercept[IllegalArgumentException] {
      Relational.rankJoinCore(cr, sr, bridge, 5, maxRanked = 10L)
    }
    assert(sqlCacheCount === 0, "a throwing rank join must release its inputs")

    val mine = cr.persist()
    mine.count()
    Relational.rankJoinCore(mine, sr, bridge, 5)._1.collect()
    assert(sqlCacheCount === 2, "the caller's cache and the top-k")
    assert(mine.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    GraftCaches.release(spark)
    assert(sqlCacheCount === 0)
  }

  test("every core whose scope releases its caches leaves, run back to " +
      "back without GraftCaches.release, only the caches its result reads") {
    val dir = TestSpark.sfDir
    GraftCaches.release(spark) // clean baseline only — never called again
    // the session's SQL-cache count after each query, in order: round-
    // barrier results and driver finishes read no cache; q_rank_join's
    // result reads its top-k; sim_dbscan's result reads its pair and
    // core caches, and a rerun reuses both
    val want = Seq("graph_ppr" -> 0, "graph_label_propagation" -> 0,
      "graph_weighted_sssp" -> 0, "graph_shortest_paths" -> 0,
      "graph_scc" -> 0, "q_markov_stationary" -> 0,
      "q_group_quantile_bisect" -> 0, "q_quantile_bisect" -> 0,
      "dedup_semantic" -> 0, "q_rank_join" -> 1, "sim_dbscan" -> 3,
      "sim_dbscan" -> 3)
    val got = want.map { case (q, _) =>
      SparkEntry.queries(q)(spark, dir).collect()
      q -> sqlCacheCount
    }
    assert(got === want)
    GraftCaches.release(spark)
    assert(sqlCacheCount === 0)
  }

  test("graft.operators and Ranks hold no hand-written persist or " +
      "unpersist: every cache goes through Barriers and its scope") {
    val files = new java.io.File("src/main/scala/graft/operators").listFiles()
      .filter(_.getName.endsWith(".scala")).toSeq :+
      new java.io.File("src/main/scala/graft/Ranks.scala")
    val hits = for {
      f <- files
      (line, i) <- scala.util.Using.resource(
        scala.io.Source.fromFile(f, "UTF-8"))(_.getLines().toList).zipWithIndex
      if line.contains(".persist(") || line.contains(".unpersist(")
    } yield s"${f.getName}:${i + 1}: ${line.trim}"
    assert(files.count(_.isFile) > 1)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
