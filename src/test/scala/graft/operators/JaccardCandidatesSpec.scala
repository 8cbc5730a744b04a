package graft.operators

import scala.util.Random

import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.{col, explode}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The AllPairs prefix-filter lemma behind `Dedup.jaccardCandidates`,
  * checked against brute force on random small sets over a small
  * alphabet: at each threshold the candidates must hold every pair at
  * Jaccard ≥ num/den, and reranked by exact Jaccard they must equal
  * those pairs. A third of the sets are one-token edits of an earlier
  * set, so pairs sit on and around every threshold (a 9-set inside a
  * 10-set is exactly 9/10). Both shapes run: the self-join (string
  * tokens; through `jaccardCandidates` with df counted over the sets,
  * and through `selfJaccardCandidates` on sets already in one global
  * order, as dedup_ngram_jaccard's id sets are) and the probe × index
  * join of mm_cdc_incremental (long tokens, df from a random subset of
  * the index's tokens, so probe-only and index tokens alike are absent
  * from it and rank as df 0).
  */
class JaccardCandidatesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val thresholds = Seq((1, 2), (2, 3), (9, 10))

  /** `n` sets per corpus, in 3 corpora over disjoint 16-token alphabets
    * (tokens c·100 + t), ids from `firstId`. */
  private def corpora(rng: Random, n: Int,
      firstId: Long): IndexedSeq[(Long, Set[Int])] = {
    val sets = for (c <- 0 until 3) yield {
      val out = scala.collection.mutable.ArrayBuffer.empty[Set[Int]]
      for (_ <- 0 until n) {
        val s =
          if (out.nonEmpty && rng.nextInt(3) == 0) {
            // one-token edit of an earlier set: add, drop or swap
            val base = out(rng.nextInt(out.size))
            val fresh = (0 until 16).map(c * 100 + _).filterNot(base)
            rng.nextInt(3) match {
              case 0 if fresh.nonEmpty => base + fresh(rng.nextInt(fresh.size))
              case 1 if base.nonEmpty => base - base.toSeq(rng.nextInt(base.size))
              case _ if base.nonEmpty && fresh.nonEmpty =>
                base - base.toSeq(rng.nextInt(base.size)) +
                  fresh(rng.nextInt(fresh.size))
              case _ => base
            }
          } else
            rng.shuffle((0 until 16).toList).take(rng.nextInt(15))
              .map(c * 100 + _).toSet
        out += s
      }
      out
    }
    sets.flatten.zipWithIndex.map { case (s, k) => (firstId + k, s) }
  }

  private def atLeast(a: Set[Int], b: Set[Int], num: Int, den: Int) = {
    val u = (a | b).size
    u > 0 && (a & b).size.toLong * den >= num.toLong * u
  }

  /** Every candidate pair distinct; ⊇ the pairs ≥ num/den; reranked ≡. */
  private def assertLossless(cand: Seq[(Long, Long)],
      probe: Map[Long, Set[Int]], index: Map[Long, Set[Int]],
      truth: Set[(Long, Long)], num: Int, den: Int): Unit = {
    assert(cand.distinct.size === cand.size, s"$num/$den: duplicate pairs")
    val got = cand.toSet
    assert(truth.nonEmpty, s"$num/$den: no pair reaches the threshold")
    val missed = truth -- got
    assert(missed.isEmpty, s"$num/$den: candidates lost $missed")
    val reranked = got.filter { case (i, j) =>
      atLeast(probe(i), index(j), num, den) }
    assert(reranked === truth)
  }

  test("self-join: candidates ⊇ brute-force pairs ≥ τ, reranked ≡, " +
      "at 1/2, 2/3 and 9/10") {
    import spark.implicits._
    val sets = corpora(new Random(17), 50, 0L)
    // sorted arrays: the token order selfJaccardCandidates relies on
    val rel = sets.map { case (id, s) =>
      (id, s.toSeq.sorted.map(t => f"t$t%04d")) }.toDF("doc_id", "sh")
    val df = rel.select(explode(col("sh")).as("t")).groupBy("t").count()
    val byId = sets.toMap
    for ((num, den) <- thresholds) {
      val truth = (for ((i, a) <- sets; (j, b) <- sets
        if i < j && atLeast(a, b, num, den)) yield (i, j)).toSet
      for (c <- Seq(Dedup.selfJaccardCandidates(rel, num, den),
          Dedup.jaccardCandidates(rel, rel, df, num, den)
            .filter(col("i") < col("j")))) {
        val cand = c.as[(Long, Long)].collect().toSeq
        assert(cand.forall { case (i, j) => i < j })
        assertLossless(cand, byId, byId, truth, num, den)
      }
    }
    graft.GraftCaches.release(spark) // the posting caches
  }

  test("probe × index with tokens absent from df: candidates ⊇ " +
      "brute-force pairs ≥ τ, reranked ≡, at 1/2, 2/3 and 9/10") {
    import spark.implicits._
    val rng = new Random(29)
    val probe = corpora(rng, 40, 0L)
    val index = corpora(rng, 40, 10000L)
    def rel(sets: Seq[(Long, Set[Int])]) =
      sets.map { case (id, s) => (id, s.toSeq.map(_.toLong)) }
        .toDF("doc_id", "digs")
    // df over a random half of the index's tokens, random values
    val df = index.flatMap(_._2).distinct.filter(_ => rng.nextBoolean())
      .map(t => (t.toLong, 1L + rng.nextInt(5))).toDF("dig", "df")
    for ((num, den) <- thresholds) {
      val cand = Dedup.jaccardCandidates(rel(probe), rel(index), df, num, den)
        .as[(Long, Long)].collect().toSeq
      val truth = (for ((i, a) <- probe; (j, b) <- index
        if atLeast(a, b, num, den)) yield (i, j)).toSet
      assertLossless(cand, probe.toMap, index.toMap, truth, num, den)
    }
  }

  test("the prefix prunes: at 9/10 most token-sharing pairs are never " +
      "proposed, and a self-join evaluates its postings once") {
    import spark.implicits._
    val sets = corpora(new Random(5), 50, 0L)
    val rel = sets.map { case (id, s) => (id, s.toSeq.sorted.map(_.toLong)) }
      .toDF("doc_id", "sh")
    val nCand = Dedup.selfJaccardCandidates(rel, 9, 10).count()
    val sharing = (for ((i, a) <- sets; (j, b) <- sets
      if i < j && (a & b).nonEmpty) yield 1).size
    assert(nCand * 4 < sharing, s"$nCand candidates of $sharing sharing pairs")
    // both join sides read one posting cache, and sets already in the
    // global order are never re-sorted (no collect_list aggregate)
    val plan = Dedup.selfJaccardCandidates(rel, 9, 10)
    plan.collect()
    val exec = plan.queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    assert(helper.collect(exec) { case a: BaseAggregateExec
      if a.aggregateExpressions.exists(
        _.aggregateFunction.isInstanceOf[CollectList]) => a }.isEmpty, exec)
    assert(helper.collect(exec) { case c: InMemoryTableScanExec => c }
      .size >= 2, exec)
    assert(!exec.toString.contains("BroadcastNestedLoopJoin"), exec)
    graft.GraftCaches.release(spark)
  }
}
