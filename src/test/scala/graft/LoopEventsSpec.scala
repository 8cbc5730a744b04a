package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, Similarity, TextAnalysis}

/** Every iterative core runs its rounds through [[Barriers.fixpoint]]:
  * each loop-running query posts at least one [[LoopRound]] under its
  * loop name, a `Budget` loop's last round reports `changed` 0 (it
  * converged; a moving one throws), and where a core returns its round
  * count the events number exactly that many.
  */
class LoopEventsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** The rounds `loop` posted while `body` ran, and `body`'s result. */
  private def roundsOf[A](loop: String)(body: => A): (A, Seq[LoopRound]) = {
    val (a, launched) = TestSpark.launched(body)
    GraftCaches.release(spark)
    (a, launched.rounds.filter(_.loop == loop))
  }

  private def query(name: String): Unit =
    SparkEntry.queries(name)(spark, TestSpark.sfDir).collect()

  private def assertConverged(loop: String, rounds: Seq[LoopRound]): Unit = {
    assert(rounds.nonEmpty, s"$loop posted no round")
    assert(rounds.map(_.round) === (1 to rounds.size), s"$loop round numbers")
    assert(rounds.last.changed === 0L, s"$loop: a Budget loop ends on 0")
  }

  test("both quantile queries run the one quantile-bisect Budget loop") {
    for (q <- Seq("q_quantile_bisect", "q_group_quantile_bisect")) {
      val (_, rounds) = roundsOf("quantile-bisect")(query(q))
      assertConverged(q, rounds)
    }
  }

  test("q_rank_join posts rank-join rounds; the core's round count is " +
      "its event count, deepening rounds report their slice depth") {
    val (_, rounds) = roundsOf("rank-join")(query("q_rank_join"))
    assertConverged("q_rank_join", rounds)
    import spark.implicits._
    def rel(key: String, v: String, star: Long): DataFrame =
      (0L until 1000L).map(i =>
        (i, if (i == star) "99999.00" else s"${50000 - i}.00"))
        .toDF(key, "raw")
        .select(col(key), col("raw").cast("decimal(18,2)").as(v))
    // the two stars trade only with each other: round 1 cannot bind
    val bridge = ((0L until 1000L).filter(i => i != 200L && i != 300L)
      .map(i => (i, i)) :+ (200L, 300L)).toDF("custkey", "suppkey")
    val ((_, n), deep) = roundsOf("rank-join") {
      Relational.rankJoinCore(rel("custkey", "crev", 200L),
        rel("suppkey", "srev", 300L), bridge, 3)
    }
    assert(n > 1)
    assert(deep.size === n)
    assertConverged("rankJoinCore", deep)
    // slices deepen 64, 256, 1024, …
    assert(deep.init.map(_.changed) === deep.init.indices.map(64L << 2 * _))
  }

  test("pipeline_coreset and k-means run their fixed round counts") {
    val (_, coreset) = roundsOf("coreset")(query("pipeline_coreset"))
    assert(coreset.map(r => (r.round, r.changed)) ===
      (1 to Similarity.CoresetK - 1).map(r => (r, -1L)))
    val (_, kmeans) = roundsOf("kmeans") {
      Similarity.kmeansTrain(spark, TestSpark.sfDir, k = 4, iters = 2)
    }
    assert(kmeans.map(r => (r.round, r.changed)) === Seq((1, -1L), (2, -1L)))
  }

  test("bpe reports each merge's pair count and stops on the round " +
      "with no pair reaching count 2") {
    import spark.implicits._
    val (_, rounds) = roundsOf("bpe") {
      TextAnalysis.bpeFitCore(Seq(("aaaa", 3L)).toDF("w", "freq"), 3)
        .collect()
    }
    assert(rounds.map(r => (r.round, r.changed)) ===
      Seq((1, 9L), (2, 3L), (3, 0L)))
  }

  test("control: a graph query's rounds still post through the same loop") {
    val (_, rounds) = roundsOf("pagerank")(query("graph_pagerank"))
    assert(rounds.nonEmpty)
    assert(rounds.map(_.round) === (1 to rounds.size))
  }
}
