package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Testdata-drift guard. The r8 round was lost to a silent physical-type
  * change in the driver-regenerated events.parquet (TIMESTAMP(NANOS) →
  * timestamp[us]) that nothing smoke-read: 26 queries and 14 specs died
  * on one analysis error. This spec pins (a) every testdata table loads,
  * and (b) `Tables.events` yields the SAME TimestampType rows under every
  * physical `ts` layout that has shipped — committed mini-fixtures in
  * fixtures/events_layouts/ (regenerate: tools/gen_events_layout_fixtures
  * .py) carry one file per layout with identical logical rows.
  */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  // the four fixture rows' epoch micros: 2024-01-01T00:00Z + 0..3 hours
  private val BaseUs = 1704067200000000L
  private val ExpectedUs = (0 until 4).map(i => BaseUs + i * 3600000000L)

  private def loadLayout(file: String) = {
    val dir = Files.createTempDirectory("graft-events-layout")
    Files.copy(Paths.get(s"fixtures/events_layouts/$file"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Tables.events(spark, dir.toString)
  }

  test("every testdata table loads with its key column present") {
    val keyed = Seq(
      "region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "lineitem" -> "l_orderkey", "documents" -> "doc_id",
      "embeddings" -> "vec_id")
    for ((t, key) <- keyed) {
      val df = Tables.table(spark, TestSpark.sfDir, t)
      assert(df.columns.contains(key), s"$t missing $key")
      assert(df.limit(1).count() === 1, s"$t is empty")
    }
    assert(Tables.events(spark, TestSpark.sfDir).schema("ts").dataType
      === TimestampType, "events.ts must surface as TimestampType")
  }

  test("events.ts normalizes to identical TimestampType rows under BOTH shipped physical layouts") {
    val perLayout = Seq("events_us.parquet", "events_ns.parquet").map { f =>
      val df = loadLayout(f)
      assert(df.schema("ts").dataType === TimestampType, f)
      val us = df.orderBy(col("event_id"))
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(us === ExpectedUs, s"$f decoded epochs differ")
      us
    }
    assert(perLayout.distinct.size === 1)
  }

  test("the TIMESTAMP_NTZ fallback branch normalizes identically (sessions without the LTZ-infer conf)") {
    val conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try {
      val df = loadLayout("events_us.parquet")
      assert(df.schema("ts").dataType === TimestampType)
      val us = df.orderBy(col("event_id"))
        .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
      assert(us === ExpectedUs)
    } finally spark.conf.set(conf, saved)
  }

  test("the nanos layout surfaces as LongType without the loader (documents the raw shape)") {
    // raw read: nanosAsLong turns TIMESTAMP(NANOS) into a bare long —
    // the shape Tables.eventsRaw's LongType branch exists for
    val dir = Files.createTempDirectory("graft-events-raw")
    Files.copy(Paths.get("fixtures/events_layouts/events_ns.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val raw = spark.read.parquet(dir.resolve("events.parquet").toString)
    assert(raw.schema("ts").dataType === LongType)
  }

  private def layoutDir(file: String): String = {
    val dir = Files.createTempDirectory("graft-events-memo")
    Files.copy(Paths.get(s"fixtures/events_layouts/$file"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("a known schema is the one Spark infers, for every testdata table") {
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings", "events")) {
      val plain = spark.read.parquet(s"${TestSpark.sfDir}/$t.parquet").schema
      assert(Tables.table(spark, TestSpark.sfDir, t).schema === plain, t)
      assert(Tables.table(spark, TestSpark.sfDir, t).schema === plain, t)
    }
  }

  test("a table rewritten at the same path is read with its new schema") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("graft-tables-rewrite")
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("k", "v"))
    Seq((2L, 3.0, true)).toDF("id", "x", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables.table(spark, dir, "t")
    assert(df.columns.toSeq === Seq("id", "x", "flag"))
    assert(df.collect().map(_.toSeq).toSeq === Seq(Seq(2L, 3.0, true)))
    // one file replaced in place by another layout of the events rows
    val ev = layoutDir("events_us.parquet")
    assert(Tables.table(spark, ev, "events").schema("ts").dataType === TimestampType)
    Files.copy(Paths.get("fixtures/events_layouts/events_ns.parquet"),
      Paths.get(ev, "events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.table(spark, ev, "events").schema("ts").dataType === LongType)
    assert(Tables.events(spark, ev).select(unix_micros(col("ts")))
      .orderBy(col("event_id")).collect().map(_.getLong(0)).toSeq === ExpectedUs)
  }

  test("events read under both nanosAsLong and both inferTimestampNTZ values " +
      "gets the ts type of the conf in force") {
    def withConf[T](k: String, v: String)(body: => T): T = {
      val saved = spark.conf.get(k)
      spark.conf.set(k, v)
      try body finally spark.conf.set(k, saved)
    }
    val ns = layoutDir("events_ns.parquet")
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    assert(spark.conf.get(nanos) === "true") // GraftSession's setting
    assert(Tables.table(spark, ns, "events").schema("ts").dataType === LongType)
    // without the legacy conf Spark refuses TIMESTAMP(NANOS): a schema
    // remembered under the other value must not hide that
    val err = withConf(nanos, "false")(intercept[Exception](
      Tables.table(spark, ns, "events").schema))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("NANOS")), err)
    assert(Tables.events(spark, ns).schema("ts").dataType === TimestampType)

    val us = layoutDir("events_us.parquet")
    val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val byConf = Seq("false", "true", "false").map(v => withConf(ntz, v) {
      val raw = Tables.table(spark, us, "events").schema("ts").dataType
      val ts = Tables.events(spark, us).select(unix_micros(col("ts")))
        .orderBy(col("event_id")).collect().map(_.getLong(0)).toSeq
      assert(ts === ExpectedUs, v)
      raw
    })
    assert(byConf === Seq(TimestampType, TimestampNTZType, TimestampType))
  }

  test("a second read of a table launches zero jobs") {
    val dir = layoutDir("events_us.parquet")
    val (first, l1) = TestSpark.launched(
      Tables.events(spark, dir).filter(col("event_id") > 0))
    assert(l1.jobs > 0, "the first read infers the schema")
    val (second, l2) = TestSpark.launched {
      val d = Tables.events(spark, dir).filter(col("event_id") > 0)
      d.queryExecution.optimizedPlan
      d
    }
    assert(l2.jobs === 0)
    assert(second.schema === first.schema)
  }
}
