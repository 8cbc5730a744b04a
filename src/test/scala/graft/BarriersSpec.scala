package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** Gate for the reliable-round-barrier opt-in (Barriers): the iterative
  * loops must produce bit-identical results in both barrier modes, and
  * reliable mode must actually write through the session's durable
  * checkpoint dir (the executor-loss-survival property localCheckpoint
  * lacks at cluster scale). Also the round loop's contract
  * (Barriers.fixpoint) on a toy step: its stop rule, both limits, its
  * round events and its exceptions. And the shared-relation cache
  * (Barriers.materialize): one count per call, a caller's cache left as
  * it was. And the cache scope (Barriers.scoped): what its result reads
  * stays, the rest goes, a throw releases all of it, nested scopes hand
  * their kept caches outward. And the one-read symmetrization
  * (Barriers.symmetrize): the two-arm union's rows from one leaf.
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

  import org.apache.spark.storage.StorageLevel

  test("materialize: one count per call, returns the cached relation and " +
      "its row count") {
    def rel(r: Int) =
      spark.range(0, 100, 1, 1).toDF("id").filter(col("id") % 3 === r)
    val byHand = rel(1).persist(StorageLevel.MEMORY_AND_DISK)
    val df = rel(0)
    try {
      val (_, hand) = TestSpark.launched(byHand.count())
      val ((cached, n), first) = TestSpark.launched(Barriers.materialize(df))
      assert(n === 34L)
      assert(cached eq df)
      assert(df.storageLevel === StorageLevel.MEMORY_AND_DISK)
      // the call launches exactly what a hand-written persist + count
      // does; on a cached input, exactly what a count of the cache does
      assert(first.jobs >= 1)
      assert(first.jobs === hand.jobs)
      val ((_, again), second) = TestSpark.launched(Barriers.materialize(df))
      val (_, plain) = TestSpark.launched(df.count())
      assert(again === 34L)
      assert(second.jobs === plain.jobs)
    } finally { df.unpersist(); byHand.unpersist() }
  }

  test("materialize in a scope: the upstream cache is released only " +
      "after the downstream count, so the count reads it instead of " +
      "recomputing it") {
    val evals = spark.sparkContext.longAccumulator("upstream-evals")
    val tick = udf { (x: Long) => evals.add(1); x }
    var up: DataFrame = null
    try {
      val (down, n) = Barriers.scoped {
        val (u, nUp) = Barriers.materialize(
          spark.range(0, 50, 1, 1).select(tick(col("id")).as("id")))
        assert(nUp === 50L && evals.value === 50L)
        up = u
        Barriers.materialize(u.filter(col("id") < 20))
      }
      assert(n === 20L)
      assert(evals.value === 50L,
        "the count recomputed the released upstream cache")
      assert(up.storageLevel === StorageLevel.NONE)
      assert(down.storageLevel === StorageLevel.MEMORY_AND_DISK)
    } finally GraftCaches.release(spark)
  }

  test("materialize: an input the caller already cached keeps its storage " +
      "level and stays cached") {
    val mine = spark.range(0, 10, 1, 1).toDF("id")
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      mine.count()
      Barriers.scoped {
        val (same, n) = Barriers.materialize(mine)
        assert(same eq mine)
        assert(n === 10L)
        assert(mine.storageLevel === StorageLevel.MEMORY_ONLY)
        Barriers.materialize(mine.filter(col("id") < 5))
        Barriers.persist(mine)
        () // the scope's result reads no cache
      }
      assert(mine.storageLevel === StorageLevel.MEMORY_ONLY)
    } finally GraftCaches.release(spark)
  }

  private def rel(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, 1).toDF("id")

  test("scoped: an unreferenced cache is released, a referenced one is " +
      "kept") {
    GraftCaches.release(spark)
    try {
      var dropped: DataFrame = null
      val kept = Barriers.scoped {
        dropped = Barriers.materialize(rel(0, 30))._1
        Barriers.materialize(rel(100, 120))._1.filter(col("id") > 103)
      }
      assert(dropped.storageLevel === StorageLevel.NONE)
      assert(GraftCaches.sqlCaches(spark) === 1)
      assert(kept.count() === 16L)
    } finally GraftCaches.release(spark)
  }

  test("scoped: a throw releases every recorded cache, a nested scope's " +
      "kept caches included") {
    GraftCaches.release(spark)
    val boom = new IllegalStateException("toy operator failed")
    val e = intercept[IllegalStateException] {
      Barriers.scoped {
        Barriers.scoped(Barriers.materialize(rel(0, 10))._1)
        Barriers.materialize(rel(10, 20))
        Barriers.persist(rel(20, 30))
        throw boom
      }
    }
    assert(e eq boom)
    assert(GraftCaches.sqlCaches(spark) === 0)
  }

  test("scoped: a nested scope hands its kept caches to the enclosing " +
      "scope, which releases them when its own result does not read them") {
    GraftCaches.release(spark)
    try {
      var inner: DataFrame = null
      val outer = Barriers.scoped {
        inner = Barriers.scoped(Barriers.materialize(rel(0, 10))._1)
        assert(inner.storageLevel === StorageLevel.MEMORY_AND_DISK,
          "the inner scope's result reads it")
        Barriers.materialize(rel(50, 60))._1
      }
      assert(inner.storageLevel === StorageLevel.NONE)
      assert(outer.storageLevel === StorageLevel.MEMORY_AND_DISK)
      assert(GraftCaches.sqlCaches(spark) === 1)
    } finally GraftCaches.release(spark)
  }

  test("scoped: a recorded cache that feeds an unfilled kept cache is " +
      "kept, so the kept cache's first action reads it") {
    GraftCaches.release(spark)
    val evals = spark.sparkContext.longAccumulator("feeding-evals")
    val tick = udf { (x: Long) => evals.add(1); x }
    try {
      var up: DataFrame = null
      val down = Barriers.scoped {
        up = Barriers.materialize(
          spark.range(0, 40, 1, 1).select(tick(col("id")).as("id")))._1
        Barriers.persist(up.filter(col("id") % 2 === 0)) // not counted
      }
      assert(evals.value === 40L)
      assert(up.storageLevel === StorageLevel.MEMORY_AND_DISK,
        "the input of an unfilled kept cache was released")
      assert(down.count() === 20L)
      assert(evals.value === 40L, "the kept cache recomputed its input")
    } finally GraftCaches.release(spark)
  }

  test("symmetrize emits the two-arm union's rows as a multiset, over " +
      "duplicates, null endpoints, self-pairs and a carried column") {
    import spark.implicits._
    val id = Gen.frequency(1 -> Gen.const(Option.empty[Long]),
      4 -> Gen.choose(-3L, 3L).map(Option(_)))
    val rowsGen = Gen.choose(0, 12).flatMap(Gen.listOfN(_, for {
      a <- id
      b <- Gen.frequency(1 -> Gen.const(a), 3 -> id) // self-pairs
      w <- Gen.option(Gen.choose(0L, 9L))
    } yield (a, b, w)))
    def bag(df: DataFrame) =
      df.collect().groupBy(r => r.toSeq).view.mapValues(_.length).toMap
    val prop = Prop.forAll(rowsGen) { rows =>
      val pairs = rows.toDF("a", "b", "w")
      val union = pairs.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst"), col("w")))
      val sym = Barriers.symmetrize(pairs, "a", "b", "w")
      (sym.schema.map(f => (f.name, f.dataType)) ==
        union.schema.map(f => (f.name, f.dataType)) &&
        bag(sym) == bag(union)) :| s"rows=$rows"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("symmetrize reads an uncached input once; the two-arm union reads " +
      "it twice") {
    val pairs = spark.range(0, 20, 1, 2)
      .select(col("id").as("i"), (col("id") + 1).as("j"))
    def leaves(df: DataFrame) =
      df.queryExecution.optimizedPlan.collectLeaves().size
    val union = pairs.select(col("i").as("src"), col("j").as("dst"))
      .unionAll(pairs.select(col("j").as("src"), col("i").as("dst")))
    assert(leaves(union) === 2)
    assert(leaves(Barriers.symmetrize(pairs, "i", "j")) === 1)
  }

  test("q21_late_sole_supplier materializes its shared collapsed relation " +
      "while its DataFrame is built") {
    def build() = graft.operators.Relational
      .q21LateSoleSupplier(spark, TestSpark.sfDir)
    try {
      build() // the first build may read table schemas: not counted
      GraftCaches.release(spark)
      val (_, launched) = TestSpark.launched(build())
      assert(launched.jobs >= 1,
        "the (orderkey, suppkey, late) relation feeds two consumers and " +
          "must be counted before they are built")
    } finally GraftCaches.release(spark)
  }
}
