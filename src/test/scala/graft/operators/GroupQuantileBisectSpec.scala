package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Semantic gate for [[Relational.groupQuantileBisectCore]] — the
  * grouped driver-coordinated bracket search under
  * q_group_quantile_bisect (which the DuckDB oracle grades end to end
  * on the shipped corpus). This spec drives the group shapes the corpus
  * never produces: a driver-side sorted reference over many groups with
  * colliding and negative values, single-value and single-row groups
  * (brackets closed at bootstrap), and the loud 64-group cap.
  */
class GroupQuantileBisectSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def ceilDiv(a: Long, b: Long) = (a + b - 1) / b

  /** kth-smallest per group by plain driver-side sort — the reference. */
  private def ref(data: Seq[(String, Long)]): Map[(String, String), Long] =
    data.groupBy(_._1).flatMap { case (g, rows) =>
      val sorted = rows.map(_._2).sorted
      val n = sorted.length.toLong
      Seq("p50" -> ceilDiv(n, 2), "p90" -> ceilDiv(9 * n, 10),
        "p99" -> ceilDiv(99 * n, 100)).map { case (p, k) =>
        (g, p) -> sorted((k - 1).toInt)
      }
    }

  private def run(data: Seq[(String, Long)])
      : Map[(String, String), (Long, Long, Long)] = {
    import spark.implicits._
    val got = Relational
      .groupQuantileBisectCore(data.toDF("grp", "v"))
      .collect()
      .map(r => (r.getString(1), r.getString(0)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    graft.GraftCaches.release(spark)
    got
  }

  test("matches the driver-side sorted reference across group shapes: " +
      "skewed sizes, duplicate values, negatives, a single-row group " +
      "and a single-VALUE group") {
    val rnd = new scala.util.Random(7)
    val data =
      (1 to 997).map(_ => ("big", (rnd.nextLong() % 100000L))) ++
        (1 to 40).map(_ => ("dups", (rnd.nextInt(5) + 1).toLong)) ++
        (1 to 13).map(i => ("small", (i * 7 - 40).toLong)) ++
        Seq(("onerow", 42L)) ++
        (1 to 9).map(_ => ("oneval", -3L))
    val expected = ref(data)
    val got = run(data)
    assert(got.keySet === expected.keySet)
    for (((g, p), (k, n, cents)) <- got) {
      assert(cents === expected((g, p)), s"group $g $p: kth-smallest")
      val sorted = data.filter(_._1 == g).map(_._2).sorted
      assert(n === sorted.length.toLong, s"group $g $p: n_rows")
      // the invariant the search maintains: count(≤hi) ≥ k > count(<hi)
      assert(sorted.count(_ <= cents) >= k && sorted.count(_ < cents) < k,
        s"group $g $p: bracket invariant")
    }
  }

  test("every probe fan-out lands the identical brackets (r16: the fan " +
      "is a performance knob, never a semantics knob)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val data = (1 to 300).map(_ => ("a", rnd.nextLong() % 1000000L)) ++
      (1 to 7).map(i => ("b", i * 1001L)) ++ Seq(("c", -9L))
    val expected = ref(data)
    // the ungrouped core over the same values: one group, whole domain
    val expectedAll = ref(data.map { case (_, v) => ("all", v) })
      .map { case ((_, p), v) => p -> v }
    var ungroupedRef: Seq[Seq[Any]] = null
    for (fan <- Seq(2, 8, 32, Relational.BisectFan)) {
      val got = Relational
        .groupQuantileBisectCore(data.toDF("grp", "v"), fan = fan)
        .collect()
        .map(r => (r.getString(1), r.getString(0)) -> r.getLong(4)).toMap
      graft.GraftCaches.release(spark)
      assert(got.keySet === expected.keySet, s"fan=$fan")
      for ((k, v) <- got) assert(v === expected(k), s"fan=$fan $k")
      val ungrouped = Relational
        .quantileBisectCore(data.map(_._2).toDF("v"), fan = fan)
        .collect().map(_.toSeq).toSeq
      graft.GraftCaches.release(spark)
      assert(ungrouped.map(r => r(0) -> r(3)).toMap === expectedAll,
        s"ungrouped fan=$fan")
      if (ungroupedRef == null) ungroupedRef = ungrouped
      else assert(ungrouped === ungroupedRef, s"ungrouped fan=$fan")
    }
  }

  test("BisectBucket (the r17 bucketized-round expression) lands every " +
      "row in the lower-bound bucket of its group's probe array — " +
      "boundaries inclusive-right, above-all = |mids|, unknown group " +
      "and null v = -1, null group a first-class key (codegen path)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mids: Seq[(Option[String], Array[Long])] = Seq(
      Some("a") -> Array(-5L, 0L, 10L),
      None -> Array(7L))
    val rows = Seq[(Option[String], Option[Long])](
      (Some("a"), Some(-6L)), // below all -> 0
      (Some("a"), Some(-5L)), // == mids(0) -> 0 (v <= m inclusive)
      (Some("a"), Some(-4L)), // -> 1
      (Some("a"), Some(0L)), // == mids(1) -> 1
      (Some("a"), Some(10L)), // == mids(2) -> 2
      (Some("a"), Some(11L)), // above all -> 3 (= |mids|, ignored bucket)
      (Some("zz"), Some(1L)), // group with no open bracket -> -1
      (None, Some(7L)), // null group, == its only mid -> 0
      (None, Some(8L)), // null group, above -> 1
      (Some("a"), None)) // null v -> -1 (shape-safety)
    val got = rows.toDF("grp", "v")
      .select(graft.functions.GraftFunctions
        .bisectBucket(col("grp"), col("v"), mids).as("b"))
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(0, 0, 1, 1, 2, 3, -1, 0, 1, -1))
    // interpreted eval agrees with the codegen path
    val k = new java.util.HashMap[
      org.apache.spark.unsafe.types.UTF8String, Array[Long]]()
    mids.foreach { case (g, m) => k.put(
      g.map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull, m) }
    def kb(g: String, v: Long) = graft.functions.GraftKernels.bisectIndex(
      k.get(Option(g).map(org.apache.spark.unsafe.types.UTF8String.fromString)
        .orNull), v)
    assert(kb("a", -6) === 0 && kb("a", -5) === 0 && kb("a", -4) === 1 &&
      kb("a", 0) === 1 && kb("a", 10) === 2 && kb("a", 11) === 3 &&
      kb("zz", 1) === -1 && kb(null, 7) === 0 && kb(null, 8) === 1)
    // equal probes make equal expressions (structural, not array identity)
    val df = rows.toDF("grp", "v")
    def bucketOf(m: Seq[(Option[String], Array[Long])]) =
      df.select(graft.functions.GraftFunctions.bisectBucket(col("grp"), col("v"), m))
        .queryExecution.analyzed.expressions
        .flatMap(_.collect { case b: org.apache.spark.sql.graft.BisectBucket => b }).head
    val (b1, b2) = (bucketOf(mids), bucketOf(mids.map { case (g, m) => (g, m.clone()) }))
    assert(b1 === b2 && b1.hashCode === b2.hashCode)
  }

  test("the 64-group probe-literal cap throws loudly and names the " +
      "distributed alternative") {
    import spark.implicits._
    val data = (0 until 65).flatMap(g =>
      Seq((s"g$g", 1L), (s"g$g", 2L)))
    val e = intercept[IllegalArgumentException] {
      Relational.groupQuantileBisectCore(data.toDF("grp", "v")).collect()
    }
    assert(e.getMessage.contains("groupedRowNumber"), e.getMessage)
    graft.GraftCaches.release(spark)
  }

  test("bisectMid/bisectOpen are exact on any 64-bit bracket (BigInt " +
      "reference), including widths past Long.MaxValue where the naive " +
      "signed formula overflows") {
    val cases = Seq(
      (Long.MinValue + 1, Long.MaxValue), // width 2^64 - 2
      (-(Long.MaxValue / 2), Long.MaxValue / 2),
      (Long.MaxValue - 9, Long.MaxValue),
      (-3L, 4L), (0L, 1L), (5L, 5L),
      (Long.MinValue / 2, Long.MaxValue / 3))
    // the fan is a parameter, not the shipped constant (8 under the r16
    // when-chain rounds, 4096/adaptive under the r17 bucketized rounds)
    // — cover narrow, mid, and shipped-wide fans so the BigInt
    // cross-check keeps pinning the wide-fan decomposition regardless
    // of what ships
    for ((lo, hi) <- cases; fan <- Seq(2, 8, 32, Relational.BisectFan);
        i <- 1 until fan) {
      val expect = BigInt(lo) + (BigInt(hi) - BigInt(lo)) * i / fan
      assert(BigInt(Relational.bisectMid(lo, hi, i, fan)) === expect,
        s"bisectMid($lo, $hi, $i, $fan)")
      assert(Relational.bisectOpen(lo, hi) ===
        (BigInt(hi) - BigInt(lo) > 1), s"bisectOpen($lo, $hi)")
    }
  }

  test("extreme 64-bit value domains (width past Long.MaxValue) land " +
      "exact answers instead of spinning to the round cap") {
    // r15 verdict "What's wrong" #1: with the naive midpoint formula
    // these brackets produce garbage midpoints, no progress is ever
    // made, and the 64-round cap throws "failed to converge"
    val data =
      Seq[Long](Long.MinValue + 1, -(Long.MaxValue / 2), -1L, 0L, 7L,
          Long.MaxValue / 2, Long.MaxValue - 1, Long.MaxValue)
        .map(("wide", _)) ++
        Seq(("narrow", -5L), ("narrow", 3L), ("narrow", 11L))
    val expected = ref(data)
    val got = run(data)
    assert(got.keySet === expected.keySet)
    for (((g, p), (k, n, v)) <- got)
      assert(v === expected((g, p)), s"group $g $p")
  }

  test("a NULL group key is a first-class group (null-safe probe " +
      "equality), not a silent march to the group max") {
    val data: Seq[(String, Long)] =
      (1 to 101).map(i => (null: String, i.toLong * 3)) ++
        (1 to 50).map(i => ("named", 1000L - i))
    val expected = ref(data)
    val got = run(data)
    assert(got.keySet === expected.keySet)
    for (((g, p), (k, n, v)) <- got)
      assert(v === expected((g, p)), s"group $g $p")
  }

  test("a Long.MinValue group minimum throws loudly (no 64-bit lower " +
      "sentinel) instead of underflowing the bracket") {
    import spark.implicits._
    val data = Seq(("g", Long.MinValue), ("g", 0L), ("g", 5L))
    val e = intercept[IllegalArgumentException] {
      Relational.groupQuantileBisectCore(data.toDF("grp", "v")).collect()
    }
    assert(e.getMessage.contains("Long.MinValue"), e.getMessage)
    graft.GraftCaches.release(spark)
  }

  test("null values in the bisection domain throw loudly instead of " +
      "undercounting k forever") {
    import org.apache.spark.sql.functions.{col, lit, when}
    import spark.implicits._
    val data = Seq(("g", 4L), ("g", -1L), ("g", 9L)).toDF("grp", "v")
      .select(col("grp"), when(col("v") === -1L, lit(null))
        .otherwise(col("v")).cast("bigint").as("v"))
    val e = intercept[IllegalArgumentException] {
      Relational.groupQuantileBisectCore(data).collect()
    }
    assert(e.getMessage.contains("null values"), e.getMessage)
    graft.GraftCaches.release(spark)
  }

  test("the ungrouped quantileBisectCore handles the same extreme " +
      "64-bit domain exactly and shares the loud guards") {
    import spark.implicits._
    val vals = Seq[Long](Long.MinValue + 1, -(Long.MaxValue / 2), -1L,
      0L, 7L, Long.MaxValue / 2, Long.MaxValue - 1, Long.MaxValue)
    val got = Relational.quantileBisectCore(vals.toDF("v"))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val sorted = vals.sorted
    val n = sorted.length.toLong
    for ((p, k) <- Seq("p50" -> ceilDiv(n, 2), "p90" -> ceilDiv(9 * n, 10),
        "p99" -> ceilDiv(99 * n, 100)))
      assert(got(p) === sorted((k - 1).toInt), s"ungrouped $p")
    val eMin = intercept[IllegalArgumentException] {
      Relational.quantileBisectCore(
        Seq(Long.MinValue, 3L).toDF("v")).collect()
    }
    assert(eMin.getMessage.contains("Long.MinValue"), eMin.getMessage)
    val eNull = intercept[IllegalArgumentException] {
      import org.apache.spark.sql.functions.{col, lit, when}
      Relational.quantileBisectCore(
        Seq(2L, -1L).toDF("v")
          .select(when(col("v") === -1L, lit(null))
            .otherwise(col("v")).cast("bigint").as("v"))).collect()
    }
    assert(eNull.getMessage.contains("null values"), eNull.getMessage)
    graft.GraftCaches.release(spark)
  }

  test("empty input returns the empty six-column shape") {
    import spark.implicits._
    val got = Relational.groupQuantileBisectCore(
      Seq.empty[(String, Long)].toDF("grp", "v"))
    assert(got.columns.toSeq ===
      Seq("pct", "grp", "k", "n_rows", "value_cents", "value"))
    assert(got.count() === 0L)
    graft.GraftCaches.release(spark)
  }

  test("brackets closed at bootstrap (single-value groups only) run no " +
      "round job: one quantile-bisect round with 0 open, set-up jobs only") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val data = (1 to 5).map(_ => ("a", 7L)) ++ Seq(("b", -2L)) ++
      (1 to 3).map(_ => ("c", 0L))
    val df = data.toDF("grp", "v")
    // the core's set-up actions alone: the eager cache count and the
    // group bootstrap aggregate
    val (_, setup) = TestSpark.launched {
      val rows = df.persist()
      rows.count()
      rows.groupBy(col("grp"))
        .agg(min(col("v")), max(col("v")), count(lit(1)), count(col("v")))
        .collect()
      rows.unpersist()
    }
    val (built, launched) =
      TestSpark.launched { Relational.groupQuantileBisectCore(df) }
    val rounds = launched.rounds.filter(_.loop == "quantile-bisect")
    assert(rounds.map(r => (r.round, r.changed)) === Seq((1, 0L)))
    assert(launched.jobs === setup.jobs,
      s"round jobs ran: ${launched.stages}")
    val got = built.collect()
      .map(r => (r.getString(1), r.getString(0)) -> r.getLong(4)).toMap
    graft.GraftCaches.release(spark)
    assert(got === ref(data))
  }
}
