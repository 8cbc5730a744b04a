package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** Gate for the reliable-round-barrier opt-in (Barriers): the iterative
  * loops must produce bit-identical results in both barrier modes, and
  * reliable mode must actually write through the session's durable
  * checkpoint dir (the executor-loss-survival property localCheckpoint
  * lacks at cluster scale). Also the round loop's contract
  * (Barriers.fixpoint) on a toy step: its stop rule, both limits, its
  * round events and its exceptions.
  */
class BarriersSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // small directed graph WITH a source (7 → others, nothing → 7) and a
  // sink (4), so both driver-side branch pairs execute in each mode
  private def edges() = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (7L, 1L), (7L, 4L))
      .toDF("src", "dst")
  }

  private def withReliable[T](body: => T): T = {
    spark.conf.set(Barriers.ReliableBarrierConf, "true")
    try body finally spark.conf.unset(Barriers.ReliableBarrierConf)
  }

  test("pagerank and LPA results are bit-identical in both barrier modes") {
    val local = Relational.pagerankCore(edges(), rounds = 5)
      .orderBy(col("v")).collect()
    val localLpa = Relational.lpaCore(edges(), rounds = 3)
      .orderBy(col("v")).collect()
    val (reliable, reliableLpa) = withReliable {
      (Relational.pagerankCore(edges(), rounds = 5)
         .orderBy(col("v")).collect(),
       Relational.lpaCore(edges(), rounds = 3)
         .orderBy(col("v")).collect())
    }
    assert(reliable.toSeq === local.toSeq)
    assert(reliableLpa.toSeq === localLpa.toSeq)
    // sanity on the fixture: scores conserve teleport+damping mass shape
    assert(local.map(_.getLong(1)).sum > 0)
  }

  test("reliable mode writes durable checkpoint data; local mode does not") {
    val ckptDir = new java.io.File(
      new java.net.URI(spark.sparkContext.getCheckpointDir.get))
    def rddDirs() = Option(ckptDir.listFiles()).map(_.length).getOrElse(0)
    val before = rddDirs()
    withReliable { Relational.pagerankCore(edges(), rounds = 2).count() }
    val afterReliable = rddDirs()
    assert(afterReliable > before,
      "reliable barriers must materialize into the checkpoint dir")
    Relational.pagerankCore(edges(), rounds = 2).count()
    assert(rddDirs() === afterReliable,
      "default barriers must stay executor-local")
  }

  test("roundBarrier strips origin stats: loop estimates stay constant " +
      "round over round instead of compounding") {
    // each round self-joins the previous barrier TWICE — with checkpoint
    // origin-stats propagation the size estimate squares per round
    // (doubly exponential bits; the r11 large-regime drill measured the
    // driver minutes-per-round inside BigInteger by round 12), with the
    // strip it is the constant default leaf estimate
    var cur = Barriers.roundBarrier(
      spark.range(64).select(col("id")))
    var sizes = List.empty[BigInt]
    for (_ <- 1 to 5) {
      val dup = cur.select(col("id").as("id2"))
      val joined = cur.join(dup, col("id") === col("id2"))
        .join(dup.select(col("id2").as("id3")), col("id") === col("id3"))
        .select(col("id"))
      cur = Barriers.roundBarrier(joined)
      sizes ::= cur.queryExecution.optimizedPlan.stats.sizeInBytes
    }
    assert(sizes.distinct.size === 1,
      s"barrier stats must not grow across rounds: $sizes")
  }

  import Barriers.{Budget, Horizon, Round}

  test("fixpoint: a Budget loop still moving after its last round throws, " +
      "naming the loop") {
    var steps = 0
    val e = intercept[IllegalStateException] {
      Barriers.fixpoint("toy-budget", Budget(3))(0) { (s, _) =>
        steps += 1
        Round(s + 1, 5)
      }
    }
    assert(steps === 3)
    assert(e.getMessage.contains("toy-budget"), e.getMessage)
    assert(e.getMessage.contains("5 rows"), e.getMessage)
  }

  test("fixpoint: a Horizon loop returns its state at the limit") {
    assert(Barriers.fixpoint("toy-horizon", Horizon(4))(10) { (s, _) =>
      Round(s + 1, 7)
    } === ((14, 4)))
    assert(Barriers.fixpoint("toy-horizon", Horizon(3))("") { (s, r) =>
      Round(s + r, -1) // not counted: runs every round
    } === (("123", 3)))
    assert(Barriers.fixpoint("toy-horizon", Horizon(0))(10) { (_, _) =>
      fail("a zero horizon runs no round")
    } === ((10, 0)))
  }

  test("fixpoint: a round with changed 0 stops the loop") {
    for (limit <- Seq(Budget(10), Horizon(10)))
      assert(Barriers.fixpoint("toy-stop", limit)(0) { (s, r) =>
        Round(s + 1, if (r == 3) 0 else 1)
      } === ((3, 3)), limit)
  }

  test("fixpoint: one round event per round, in order, with the step's " +
      "counts") {
    val counts = Seq(9L, 4L, 0L)
    val (_, launched) = TestSpark.launched {
      Barriers.fixpoint("toy-events", Budget(5))(()) { (_, r) =>
        Round((), counts(r - 1), s"d$r")
      }
    }
    val rounds = launched.rounds.filter(_.loop == "toy-events")
    assert(rounds.map(r => (r.round, r.changed, r.detail)) ===
      Seq((1, 9L, "d1"), (2, 4L, "d2"), (3, 0L, "d3")))
    assert(rounds.forall(_.wallMs >= 0))
  }

  test("fixpoint: an exception from the step propagates") {
    val boom = new ArithmeticException("toy step failed")
    val e = intercept[ArithmeticException] {
      Barriers.fixpoint("toy-throw", Budget(5))(0) { (s, r) =>
        if (r == 2) throw boom
        Round(s + 1, 1)
      }
    }
    assert(e eq boom)
  }
}
