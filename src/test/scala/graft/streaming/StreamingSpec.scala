package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

case class Doc(doc_id: Long, ts: Timestamp, text: String)

case class Pt(p_brand: String, p_partkey: Long, p_retailprice: Double,
    p_size: Int)

/** §2.5 gates: stream_windowed_agg (batch/stream parity on the real events
  * table) and stream_dedup (bounded-state exact dedup by key).
  */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def eventsAsCase(): Seq[Ev] = {
    import spark.implicits._
    Tables.events(spark, TestSpark.sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev].collect().toSeq
  }

  test("stream_windowed_agg: streaming result equals the batch transform") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val evs = eventsAsCase()
    val batch = StreamOps.windowedAgg(
        Tables.events(spark, TestSpark.sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")))
      .orderBy(col("event_type"), col("bucket_s"))
      .collect()

    val stream = MemoryStream[Ev]
    // feed in two micro-batches to exercise incremental state
    val (a, b) = evs.splitAt(evs.size / 2)
    stream.addData(a)
    val q = StreamOps.windowedAgg(stream.toDF())
      .writeStream.format("memory").queryName("win_parity")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      stream.addData(b)
      q.processAllAvailable()
      val streamed = spark.table("win_parity")
        .orderBy(col("event_type"), col("bucket_s")).collect()
      assert(streamed.length === batch.length)
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("stream_sessionize: session_window agrees with the lag+cumsum sessionizer and with itself under streaming") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = Tables.events(spark, TestSpark.sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))

    // two INDEPENDENT batch implementations of 30-min-gap sessions
    val viaWindowFn = StreamOps.sessionAgg(input)
      .orderBy(col("user_id"), col("start_us")).collect()
    val viaLagCumsum = graft.operators.Relational
      .qEventsSessionize(spark, TestSpark.sfDir)
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))
      .orderBy(col("user_id"), col("start_us")).collect()
    assert(viaWindowFn.map(_.toSeq).toSeq === viaLagCumsum.map(_.toSeq).toSeq)

    // streaming parity of the session_window transform
    val evs = { import spark.implicits._; input.as[Ev].collect().toSeq }
    val stream = MemoryStream[Ev]
    val (a, b) = evs.splitAt(evs.size / 2)
    stream.addData(a)
    val q = StreamOps.sessionAgg(stream.toDF())
      .writeStream.format("memory").queryName("sess_parity")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      stream.addData(b)
      q.processAllAvailable()
      val streamed = spark.table("sess_parity")
        .orderBy(col("user_id"), col("start_us")).collect()
      assert(streamed.map(_.toSeq).toSeq === viaWindowFn.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("stream_nvd_ingest: feed files arriving over time dedup to the warehouse set") {
    val watch = graft.TestSpark.tmpDir("nvd_watch")
    // first micro-batch sees only the bootstrap feed
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(graft.sources.NvdEtl.FixturePath),
      java.nio.file.Paths.get(s"$watch/feed-a.json.gz"))
    val q = StreamOps.nvdFeedStream(spark, watch)
      .select(col("cve_id"))
      .writeStream.format("memory").queryName("nvd_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("nvd_stream").count() === 96)
      // the overlapping "recent" feed arrives later: only the 24 unseen
      // CVEs pass the id dedup — the reference's incremental semantics
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(graft.sources.NvdEtl.RecentFixturePath),
        java.nio.file.Paths.get(s"$watch/feed-b.json.gz"))
      q.processAllAvailable()
      val ids = spark.table("nvd_stream")
      assert(ids.count() === 120)
      assert(ids.distinct().count() === 120)
    } finally q.stop()
  }

  test("stream_nvd_ingest: a 2.0 envelope in the watch directory fails " +
      "the stream with the schema-drift diagnostic, never a zero-row batch") {
    val watch = graft.TestSpark.tmpDir("nvd_watch_v2")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$watch/api2.json.gz"))
    out.write(
      """{"resultsPerPage":1,"startIndex":0,"totalResults":1,
        |"format":"NVD_CVE","version":"2.0",
        |"timestamp":"2024-01-01T00:00:00.000",
        |"vulnerabilities":[{"cve":{"id":"CVE-2024-9999",
        |  "sourceIdentifier":"cve@mitre.org","vulnStatus":"Analyzed"}}]}
        |""".stripMargin.getBytes)
    out.close()
    val q = StreamOps.nvdFeedStream(spark, watch)
      .select(col("cve_id"))
      .writeStream.format("memory").queryName("nvd_stream_v2")
      .outputMode("append").start()
    try {
      val e = intercept[Exception](q.processAllAvailable())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("schema drift")),
        s"stream failed without the drift diagnostic: $e")
      assert(msgs(e).exists(_.contains("api2.json.gz")),
        s"the drift diagnostic does not name the file: $e")
    } finally q.stop()
  }

  test("stream_warehouse_load: foreachBatch sink is first-writer-wins and replay-idempotent") {
    val watch = graft.TestSpark.tmpDir("nvd_sink_watch")
    val wh = graft.TestSpark.tmpDir("nvd_sink_wh") + "/warehouse"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(graft.sources.NvdEtl.FixturePath),
      java.nio.file.Paths.get(s"$watch/feed-a.json.gz"))
    val ck1 = graft.TestSpark.tmpDir("nvd_sink_ck1")
    val q1 = StreamOps.warehouseSink(StreamOps.nvdFeedStream(spark, watch), wh, ck1)
    try {
      q1.processAllAvailable()
      assert(graft.sources.NvdEtl.countCves(spark, wh) === 96)
      // overlapping recent feed arrives: only the 24 unseen CVEs append
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(graft.sources.NvdEtl.RecentFixturePath),
        java.nio.file.Paths.get(s"$watch/feed-b.json.gz"))
      q1.processAllAvailable()
      assert(graft.sources.NvdEtl.countCves(spark, wh) === 120)
    } finally q1.stop()
    // the warehouse is year-partitioned exactly like the batch loader's
    val parts = new java.io.File(wh).listFiles().map(_.getName)
      .filter(_.startsWith("cve_year="))
    assert(parts.nonEmpty)
    // FRESH checkpoint = full replay of every file: the anti-join must
    // make the re-delivery invisible (exactly-once effect)
    val ck2 = graft.TestSpark.tmpDir("nvd_sink_ck2")
    val q2 = StreamOps.warehouseSink(StreamOps.nvdFeedStream(spark, watch), wh, ck2)
    try {
      q2.processAllAvailable()
      val ids = graft.sources.NvdEtl.warehouse(spark, wh)
        .select(graft.sources.NvdEtl.cveId.as("id"))
      assert(ids.count() === 120)
      assert(ids.distinct().count() === 120)
    } finally q2.stop()
  }

  test("stream_interval_join: stream-stream result equals the batch theta-join") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val all = Tables.events(spark, TestSpark.sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val batch = StreamOps.intervalJoin(
        all.filter(col("event_type") === "click"),
        all.filter(col("event_type") === "view"))
      .orderBy(col("click_id"), col("view_id")).collect()
    assert(batch.nonEmpty)

    val evs = all.as[Ev].collect().toSeq
    val clicks = MemoryStream[Ev]
    val views = MemoryStream[Ev]
    val q = StreamOps.intervalJoin(
        clicks.toDF().filter(col("event_type") === "click"),
        views.toDF().filter(col("event_type") === "view"))
      .writeStream.format("memory").queryName("ij_parity")
      .outputMode("append").start()
    try {
      // both sides in two micro-batches each, interleaved
      val (a, b) = evs.splitAt(evs.size / 2)
      clicks.addData(a); views.addData(a)
      q.processAllAvailable()
      clicks.addData(b); views.addData(b)
      q.processAllAvailable()
      val streamed = spark.table("ij_parity")
        .orderBy(col("click_id"), col("view_id")).collect()
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("stream_funnel: flatMapGroupsWithState stages equal the batch funnel across micro-batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // expected advances from the batch funnel query: (user, stage, at_us)
    val expected = graft.operators.Relational
      .qEventsFunnel(spark, TestSpark.sfDir).collect().flatMap { r =>
        val uid = r.getLong(0)
        Seq((uid, 1, r.getLong(1))) ++
          (if (!r.isNullAt(2)) Seq((uid, 2, r.getLong(2))) else Nil) ++
          (if (!r.isNullAt(3)) Seq((uid, 3, r.getLong(3))) else Nil)
      }.toSet

    // feed time-ordered events in two micro-batches so click/purchase
    // transitions must cross batch boundaries through the keyed state
    val evs = eventsAsCase().sortBy(_.ts.getTime)
    val (a, b) = evs.splitAt(evs.size / 2)
    val stream = MemoryStream[Ev]
    stream.addData(a)
    val q = StreamOps.funnelStages(stream.toDF())
      .writeStream.format("memory").queryName("funnel_stages")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      stream.addData(b)
      q.processAllAvailable()
      val got = spark.table("funnel_stages")
        .select(col("user_id"), col("stage"), col("at_us"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(got === expected)
    } finally q.stop()

    // the same code path runs in batch (empty initial state, one group call)
    val batchRun = StreamOps.funnelStages(
        Tables.events(spark, TestSpark.sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(batchRun === expected)
  }

  test("stream_attribution: per-purchase emissions roll up to the batch " +
      "attribution across micro-batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // expected per-user rollup from the batch operator:
    // (user, n_purchases, n_attributed, click_credit_ppm)
    val expected = graft.operators.Relational
      .qEventsAttribution(spark, TestSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    // time-ordered arrival in three micro-batches: the 7-day click
    // window must survive batch boundaries through the keyed state
    val evs = eventsAsCase().sortBy(e => (e.ts.getTime, e.event_id))
    val stream = MemoryStream[Ev]
    val q = StreamOps.attributionStream(stream.toDF())
      .writeStream.format("memory").queryName("attribution_stream")
      .outputMode("update").start()
    try {
      evs.grouped(math.max(1, evs.size / 3 + 1)).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      val got = spark.table("attribution_stream")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(col("n_touch") > 0, 1).otherwise(0)).cast("bigint")
            .as("n_attributed"),
          sum(col("attributed_ppm")).cast("bigint").as("click_credit_ppm"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === expected)
    } finally q.stop()

    // the same code path runs in batch (empty initial state, one group call)
    val batchRun = StreamOps.attributionStream(
        Tables.events(spark, TestSpark.sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("n_touch") > 0, 1).otherwise(0)).cast("bigint")
          .as("n_attributed"),
        sum(col("attributed_ppm")).cast("bigint").as("click_credit_ppm"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(batchRun === expected)
  }

  test("stream_skyline: incremental frontier converges to the batch sweep " +
      "across permuted micro-batch splits") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val part = Tables.part(spark, TestSpark.sfDir)
    val expected = graft.operators.Relational.skylineCore(part).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

    // the same code path runs in batch (empty initial state, one group call)
    val batchRun = StreamOps.skylineStream(part).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(batchRun === expected)

    // streaming: arrival order must not matter — shuffle the catalog, feed
    // it in three micro-batches, then trigger a re-emission of every
    // brand's converged frontier with a dominated sentinel batch and read
    // exactly that final emission via a before/after multiset diff
    val rows = new scala.util.Random(11)
      .shuffle(part.collect().map(r =>
        Pt(r.getString(2), r.getLong(0), r.getDouble(5), r.getInt(4))).toSeq)
    val stream = MemoryStream[Pt]
    val q = StreamOps.skylineStream(stream.toDF())
      .writeStream.format("memory").queryName("skyline_stream")
      .outputMode("update").start()
    try {
      rows.grouped(math.max(1, rows.size / 3 + 1)).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
      def counts(): Map[(String, Long, Double, Int), Int] =
        spark.table("skyline_stream").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
            r.getInt(3)))
          .groupBy(identity).view.mapValues(_.length).toMap
      val before = counts()
      val brands = rows.map(_.p_brand).distinct
      // huge price + size 0: dominated by every real member, so state is
      // untouched but each brand re-emits its full current frontier
      stream.addData(brands.map(b => Pt(b, -1L, 1e9, 0)))
      q.processAllAvailable()
      val after = counts()
      val converged = after.map { case (row, n) =>
        row -> (n - before.getOrElse(row, 0))
      }.filter(_._2 > 0)
      assert(converged.values.forall(_ == 1)) // one final emission per row
      assert(converged.keySet === expected)
    } finally q.stop()
  }

  test("stream_topk: custom bounded-heap aggregate carries state across micro-batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val evs = eventsAsCase()
    val batch = StreamOps.windowedTopK(
        Tables.events(spark, TestSpark.sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")))
      .orderBy(col("event_type"), col("bucket_s"))
      .collect()

    val stream = MemoryStream[Ev]
    // interleave so most windows receive rows in BOTH batches: the heap
    // must serialize into the state store and merge with the next batch
    val (a, b) = evs.zipWithIndex.partition(_._2 % 2 == 0)
    stream.addData(a.map(_._1))
    val q = StreamOps.windowedTopK(stream.toDF())
      .writeStream.format("memory").queryName("topk_parity")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      stream.addData(b.map(_._1))
      q.processAllAvailable()
      val streamed = spark.table("topk_parity")
        .orderBy(col("event_type"), col("bucket_s")).collect()
      assert(streamed.length === batch.length)
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("stream_dedup: duplicate event_ids within the watermark are dropped") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    def ev(id: Long, minute: Int): Ev =
      Ev(id, Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(minute * 60L)), id % 7, "click", id.toDouble)

    val stream = MemoryStream[Ev]
    val q = StreamOps.dedupStream(stream.toDF())
      .select(col("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      stream.addData(Seq(ev(1, 0), ev(2, 1), ev(1, 2)))       // dup of 1 in-batch
      q.processAllAvailable()
      stream.addData(Seq(ev(2, 3), ev(3, 4)))                 // dup of 2 across batches
      q.processAllAvailable()
      val ids = spark.table("dedup_out").as[Long].collect().sorted
      assert(ids === Array(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream_dedup_content: identical text under fresh ids is dropped; state keys are 8-byte fingerprints") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    def doc(id: Long, minute: Int, text: String): Doc =
      Doc(id, Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
        .plusSeconds(minute * 60L)), text)

    val stream = MemoryStream[Doc]
    val q = StreamOps.dedupContentStream(stream.toDF())
      .select(col("doc_id"))
      .writeStream.format("memory").queryName("dedup_content_out")
      .outputMode("append").start()
    try {
      // doc 3 re-crawls doc 1's bytes under a fresh id — in-batch dup
      stream.addData(Seq(doc(1, 0, "alpha beta"), doc(2, 1, "gamma"),
        doc(3, 2, "alpha beta")))
      q.processAllAvailable()
      // doc 4 mirrors doc 2 across batches; doc 5 is genuinely new
      stream.addData(Seq(doc(4, 3, "gamma"), doc(5, 4, "delta")))
      q.processAllAvailable()
      val ids = spark.table("dedup_content_out").as[Long].collect().sorted
      assert(ids === Array(1L, 2L, 5L))
    } finally q.stop()
  }

  test("stream_contamination: stream-static gram join matches the batch transform across micro-batches") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // static side: the standing train split (stable hash buckets < 90)
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 4),
      16, 10).cast("bigint") % 100)
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val train = StreamOps.trainGramSet(docs.filter(bucket < 90))
    // arriving side: the test split, as a stream of Doc rows
    val t0 = Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
    val arriving = docs.filter(bucket >= 95)
      .select(col("doc_id"), col("text")).collect()
      .map(r => Doc(r.getLong(0), t0, r.getString(1))).toSeq
    assert(arriving.nonEmpty)

    // the SAME transform on the same rows as a plain batch DataFrame
    val batch = StreamOps.contaminationStream(
        spark.createDataset(arriving).toDF(), train)
      .orderBy(col("doc_id")).collect()

    val stream = MemoryStream[Doc]
    val (a, b) = arriving.splitAt(arriving.size / 2)
    stream.addData(a)
    val q = StreamOps.contaminationStream(stream.toDF(), train)
      .writeStream.format("memory").queryName("contam_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      stream.addData(b)
      q.processAllAvailable()
      val streamed = spark.table("contam_out").orderBy(col("doc_id")).collect()
      assert(streamed.nonEmpty)
      assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("stream_minhash_dedup: online near-dup dedup equals the sequential " +
      "batch decomposition, accumulates across batches, and replays " +
      "idempotently") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Dedup

    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") < 25)
    val standingTexts = standing.orderBy(col("doc_id"))
      .limit(2).select(col("text")).as[String].collect()
    val arr = docs.filter(col("doc_id") >= 25)
      .as[(Long, String)].collect().toSeq
    val (h1, h2) = arr.splitAt(arr.size / 2)
    // batch 1: half the feed, verbatim copies of two STANDING docs
    // (must drop: jac = 1 vs the warehouse), and a doc of tokens the
    // corpus vocabulary can't contain (must survive)
    val fresh1 = (1999L, (0 until 12).map(i => s"qq$i").mkString(" "))
    val b1 = h1 ++ standingTexts.zipWithIndex.map {
      case (t, i) => (1000L + i, t) } :+ fresh1
    // batch 2: the other half, a verbatim copy of batch 1's fresh
    // survivor (must drop: batch-1 survivors entered the warehouse) and
    // a second out-of-vocabulary doc (must survive)
    val b2 = h2 :+ (2000L, fresh1._2) :+
      (2001L, (0 until 12).map(i => s"zz$i").mkString(" "))

    val base = TestSpark.tmpDir("mh_stream")
    val bandsDir = s"$base/bands"
    val shDir = s"$base/shingles"
    val outDir = s"$base/survivors"
    val sk0 = Dedup.sketchOf(standing).filter(size(col("sh")) > 0)
    Dedup.bandTable(sk0).write.parquet(bandsDir)
    sk0.select(col("doc_id"), col("sh")).write.parquet(shDir)

    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.minhashDedupSink(
      stream.toDF().toDF("doc_id", "text"),
      bandsDir, shDir, outDir, TestSpark.tmpDir("mh_stream_ck1"))
    try {
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir).as[Long].collect().toSet

    // sequential reference: the BATCH decomposition applied load by load,
    // survivors folded into the warehouse relations between loads
    var whBands = Dedup.bandTable(sk0)
    var whSh = sk0.select(col("doc_id"), col("sh"))
    var expected = Set.empty[Long]
    for (chunk <- Seq(b1, b2)) {
      val sk = Dedup.sketchOf(chunk.toDF("doc_id", "text"))
      val dup = Dedup.incrementalNearDup(
        whBands, whSh, sk.filter(size(col("sh")) > 0))
      val surv = sk.join(dup, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      expected ++= surv.select(col("doc_id")).as[Long].collect()
      val banded = surv.filter(size(col("sh")) > 0)
      whBands = whBands.unionAll(Dedup.bandTable(banded))
      whSh = whSh.unionAll(banded.select(col("doc_id"), col("sh")))
    }
    assert(streamed === expected)
    // copies of standing docs dropped; fresh docs survived; the copy of
    // a batch-1 SURVIVOR dropped (cross-batch accumulation)
    assert(!streamed.contains(1000L) && !streamed.contains(1001L))
    assert(streamed.contains(1999L) && streamed.contains(2001L))
    assert(!streamed.contains(2000L))

    // FRESH checkpoint = full replay: every replayed doc now matches
    // itself in the warehouse at jac = 1, so nothing appends
    val before = spark.read.parquet(outDir).count()
    val stream2 = MemoryStream[(Long, String)]
    val q2 = StreamOps.minhashDedupSink(
      stream2.toDF().toDF("doc_id", "text"),
      bandsDir, shDir, outDir, TestSpark.tmpDir("mh_stream_ck2"))
    try {
      stream2.addData(b1 ++ b2)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(outDir).count() === before)
  }

  test("stream_block_dedup: online keep-first block rewrite equals the " +
      "batch operator on ordered arrivals and replays idempotently") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.TextAnalysis

    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") < 5)
    val arriving = docs.filter(col("doc_id") >= 5)
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val (h1, h2raw) = arriving.splitAt(arriving.size / 2)
    // batch 2 re-crawls a batch-1 doc's bytes under a fresh id: every
    // block matches a stored digest, so the doc must NOT be emitted
    val recrawl = (9000L, h1.head._2)
    val h2 = h2raw :+ recrawl

    val base = TestSpark.tmpDir("block_stream")
    val whDir = s"$base/blocks"
    val outDir = s"$base/cleaned"
    TextAnalysis.docBlocks(standing)
      .select(xxhash64(col("block")).as("dig")).distinct()
      .write.parquet(whDir)

    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.blockDedupSink(stream.toDF().toDF("doc_id", "text"),
      whDir, outDir, TestSpark.tmpDir("block_stream_ck1"))
    try {
      stream.addData(h1)
      q.processAllAvailable()
      stream.addData(h2)
      q.processAllAvailable()
    } finally q.stop()

    // ordered arrival + lowest-id standing set ⇒ streamed result equals
    // the batch keep-first rewrite over the WHOLE corpus, restricted to
    // arriving docs that kept at least one block (the recrawl id is
    // beyond every original id, so its blocks never win)
    val expected = TextAnalysis.blockDedupCore(
        standing.unionAll(arriving.toDF("doc_id", "text")))
      .filter(col("n_kept_blocks") >= 1 && col("doc_id") >= 5)
      .as[(Long, String, Long)].collect().toSet
    val streamed = spark.read.parquet(outDir)
      .as[(Long, String, Long)].collect().toSet
    assert(streamed === expected)
    assert(!streamed.exists(_._1 == 9000L))
    assert(streamed.nonEmpty)

    // FRESH checkpoint = full replay: every block matches its own stored
    // digest, so nothing appends
    val before = spark.read.parquet(outDir).count()
    val stream2 = MemoryStream[(Long, String)]
    val q2 = StreamOps.blockDedupSink(stream2.toDF().toDF("doc_id", "text"),
      whDir, outDir, TestSpark.tmpDir("block_stream_ck2"))
    try {
      stream2.addData(h1 ++ h2)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(outDir).count() === before)
  }

  test("stream_cdc_dedup: online CDC near-dup dedup equals the sequential " +
      "batch decomposition, catches perturbed re-encodes, and replays " +
      "idempotently") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Multimodal

    def payloads(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val docs = Tables.documents(spark, TestSpark.sfDir)
      .filter(length(col("text")) > 300)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") < 25)
    val standingTexts = standing.orderBy(col("doc_id"))
      .limit(2).select(col("text")).as[String].collect()
    // the mm_cdc_neardup twin perturbation: mid char replaced + tail
    // appended — a re-encode no exact fingerprint catches
    def perturb(t: String): String = {
      val m = math.max(t.length / 2, 1)
      t.substring(0, m - 1) + "X" + t.substring(m) + " v2"
    }
    val arr = docs.filter(col("doc_id") >= 25 && col("doc_id") < 60)
      .as[(Long, String)].collect().toSeq
    val (h1, h2) = arr.splitAt(arr.size / 2)
    val fresh1 = (1999L, (0 until 40).map(i => s"qq$i").mkString(" "))
    // batch 1: half the feed, a verbatim copy AND a perturbed re-encode
    // of standing docs (both must drop), one fresh doc (must survive)
    val b1 = h1 ++ Seq((1000L, standingTexts(0)),
      (1001L, perturb(standingTexts(1))), fresh1)
    // batch 2: the rest, a PERTURBED copy of batch 1's fresh survivor
    // (must drop: survivors entered the warehouse) and a fresh doc
    val b2 = h2 :+ (2000L, perturb(fresh1._2)) :+
      (2001L, (0 until 40).map(i => s"zz$i").mkString(" "))

    val base = TestSpark.tmpDir("cdc_stream")
    val idxDir = s"$base/index"
    val sigsDir = s"$base/sigs"
    val outDir = s"$base/survivors"
    val sk0 = Multimodal.cdcSigs(payloads(standing))
    sk0.select(explode(col("digs")).as("dig"), col("doc_id"))
      .write.parquet(idxDir)
    sk0.select(col("doc_id"), col("digs")).write.parquet(sigsDir)

    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.cdcDedupSink(
      payloads(stream.toDF().toDF("doc_id", "text")),
      idxDir, sigsDir, outDir, TestSpark.tmpDir("cdc_stream_ck1"))
    try {
      stream.addData(b1)
      q.processAllAvailable()
      stream.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir).as[Long].collect().toSet

    // sequential reference: the batch decomposition load by load
    var whIdx = sk0.select(explode(col("digs")).as("dig"), col("doc_id"))
    var whSigs = sk0.select(col("doc_id"), col("digs"))
    var expected = Set.empty[Long]
    for (chunk <- Seq(b1, b2)) {
      val sk = Multimodal.cdcSigs(payloads(chunk.toDF("doc_id", "text")))
      val dup = Multimodal.cdcIncrementalDup(whIdx, whSigs, sk)
      val surv = sk.join(dup, Seq("doc_id"), "left_anti").localCheckpoint()
      expected ++= surv.select(col("doc_id")).as[Long].collect()
      whIdx = whIdx.unionAll(
        surv.select(explode(col("digs")).as("dig"), col("doc_id")))
      whSigs = whSigs.unionAll(surv.select(col("doc_id"), col("digs")))
    }
    assert(streamed === expected)
    // verbatim copy AND perturbed re-encode of standing docs dropped;
    // fresh docs survived; perturbed copy of a batch-1 survivor dropped
    assert(!streamed.contains(1000L) && !streamed.contains(1001L))
    assert(streamed.contains(1999L) && streamed.contains(2001L))
    assert(!streamed.contains(2000L))

    // fresh checkpoint = full replay: nothing appends (J = 1 vs self)
    val before = spark.read.parquet(outDir).count()
    val stream2 = MemoryStream[(Long, String)]
    val q2 = StreamOps.cdcDedupSink(
      payloads(stream2.toDF().toDF("doc_id", "text")),
      idxDir, sigsDir, outDir, TestSpark.tmpDir("cdc_stream_ck2"))
    try {
      stream2.addData(b1 ++ b2)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(outDir).count() === before)
  }

  test("stream_ks_drift: per-batch scores match a driver KS reference " +
      "and the batch path scores the post-reference remainder once") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val evs = eventsAsCase().sortBy(e => (micros(e.ts), e.event_id))
    val refN = 100 // sf0.001 has ~200 events/type; freeze early, score the rest

    def ksD(a: Seq[Long], b: Seq[Long]): Double = {
      val n1 = a.size.toLong; val n2 = b.size.toLong
      val c1 = a.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val c2 = b.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      var k1 = 0L; var k2 = 0L; var best = 0L
      (c1.keySet ++ c2.keySet).toSeq.sorted.foreach { v =>
        k1 += c1.getOrElse(v, 0L); k2 += c2.getOrElse(v, 0L)
        best = math.max(best, math.abs(k1 * n2 - k2 * n1))
      }
      math.rint(best.toDouble / (n1 * n2) * 1e6) / 1e6
    }

    // driver reference for a given chunking: per type, first 500
    // deci-bins freeze; every later chunk scores once
    def expected(chunks: Seq[Seq[Ev]]): Seq[(String, Long, Long, Double)] = {
      val ref = scala.collection.mutable.Map.empty[String, Vector[Long]]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, Double)]
      chunks.foreach { chunk =>
        chunk.groupBy(_.event_type).toSeq.sortBy(_._1).foreach {
          case (et, es) =>
            val bins = es.sortBy(e => (micros(e.ts), e.event_id))
              .map(e => math.round(e.value * 10))
            var r = ref.getOrElse(et, Vector.empty)
            var consumed = 0
            if (r.size < refN) {
              val need = refN - r.size
              r = r ++ bins.take(need)
              consumed = math.min(need, bins.size)
            }
            ref(et) = r
            val scored = bins.drop(consumed)
            if (r.size >= refN && scored.nonEmpty)
              out += ((et, r.size.toLong, scored.size.toLong,
                ksD(r, scored)))
        }
      }
      out.toSeq
    }

    val chunks = evs.grouped(evs.size / 3 + 1).toSeq
    val stream = MemoryStream[Ev]
    val q = StreamOps.ksDriftStream(stream.toDF(), refN = refN)
      .writeStream.format("memory").queryName("ks_drift_stream")
      .outputMode("update").start()
    try {
      chunks.foreach { c => stream.addData(c); q.processAllAvailable() }
      val got = spark.table("ks_drift_stream")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got === expected(chunks).toSet)
      assert(got.nonEmpty) // the corpus must actually produce scores
    } finally q.stop()

    // batch mode: one group call per type = the single-chunk semantics
    val batchRun = StreamOps.ksDriftStream(
        Tables.events(spark, TestSpark.sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")), refN = refN)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(batchRun === expected(Seq(evs)).toSet)
  }

  test("stream_anomaly: prequential flags are batch-size invariant, " +
      "match a driver reference, and the batch path agrees") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    // Full-microsecond order everywhere — getTime is millis and would
    // collapse same-millisecond events into a different processing (and
    // batch-boundary) order than the stream's unix_micros sort.
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val evs = eventsAsCase().sortBy(e => (micros(e.ts), e.event_id))

    // driver reference: the same prequential rule over the time-ordered
    // series, exact BigDecimal moments
    // .toSeq before flatMap: Map.flatMap over tuples rebuilds a MAP and
    // collapses to one flag per type (last write wins)
    val expected = evs.groupBy(_.event_type).toSeq.flatMap { case (et, es) =>
      var n = 0L
      var s1 = BigDecimal(0); var s2 = BigDecimal(0)
      es.sortBy(e => (micros(e.ts), e.event_id)).flatMap { e =>
        val flag = if (n >= 30) {
          val mean = s1.toDouble / n
          val std = math.sqrt(s2.toDouble / n - mean * mean)
          if (math.abs(e.value - mean) > 2.0 * std) Some((et, e.event_id))
          else None
        } else None
        val vd = BigDecimal(e.value)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)
        n += 1; s1 += vd; s2 += vd * vd
        flag
      }
    }.toSet
    assert(expected.nonEmpty) // the rule must actually fire on this corpus

    def streamed(chunks: Int): Set[(String, Long)] = {
      val stream = MemoryStream[Ev]
      val q = StreamOps.streamAnomaly(stream.toDF())
        .writeStream.format("memory").queryName("anomaly_stream")
        .outputMode("update").start()
      try {
        evs.grouped(math.max(1, evs.size / chunks + 1)).foreach { chunk =>
          stream.addData(chunk)
          q.processAllAvailable()
        }
        spark.table("anomaly_stream")
          .select(col("event_type"), col("event_id"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      } finally q.stop()
    }

    val one = streamed(1)
    assert(one === expected)
    assert(streamed(4) === one) // re-chunking cannot change the flag set

    // same code path in batch mode (empty state, one group call per type)
    val batchRun = StreamOps.streamAnomaly(
        Tables.events(spark, TestSpark.sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")))
      .select(col("event_type"), col("event_id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(batchRun === expected)
  }

  test("stream_cusum: alarms are batch-size invariant, match a driver " +
      "reference, reset after crossing, and the batch path agrees") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val real = eventsAsCase()
    val maxTs = real.map(e => micros(e.ts)).max
    val maxId = real.map(_.event_id).max
    // deterministic level-shift tails: a sustained +shift on 'click'
    // (S⁺ must alarm and RESET repeatedly) and a −shift on 'purchase'
    // (S⁻ side) — appended after the real series so the prior moments
    // are the honest history
    val tail = (1 to 25).map { i =>
      Ev(maxId + i, new java.sql.Timestamp((maxTs / 1000) + i * 60000L),
        1L, "click", 1e6)
    } ++ (1 to 25).map { i =>
      Ev(maxId + 100 + i,
        new java.sql.Timestamp((maxTs / 1000) + (100 + i) * 60000L),
        1L, "purchase", -1e6)
    }
    val evs = (real ++ tail).sortBy(e => (micros(e.ts), e.event_id))

    // driver reference: the same two-sided CUSUM recurrence, exact
    // BigDecimal moments, doubles only inside the per-event fold
    val expected = evs.groupBy(_.event_type).toSeq.flatMap { case (et, es) =>
      var n = 0L
      var s1 = BigDecimal(0); var s2 = BigDecimal(0)
      var spos = 0.0; var sneg = 0.0
      es.sortBy(e => (micros(e.ts), e.event_id)).flatMap { e =>
        val flags = scala.collection.mutable.ArrayBuffer
          .empty[(String, Long, String)]
        if (n >= 30) {
          val mean = s1.toDouble / n
          val std = math.sqrt(s2.toDouble / n - mean * mean)
          if (std > 0.0) {
            val z = (e.value - mean) / std
            spos = math.max(0.0, spos + z - 0.25)
            sneg = math.max(0.0, sneg - z - 0.25)
            if (spos > 5.0) { flags += ((et, e.event_id, "up")); spos = 0.0 }
            if (sneg > 5.0) { flags += ((et, e.event_id, "down")); sneg = 0.0 }
          }
        }
        val vd = BigDecimal(e.value)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)
        n += 1; s1 += vd; s2 += vd * vd
        flags
      }
    }.toSet
    // both sides must actually fire, and the reset must let the shifted
    // tail alarm MORE than once per side
    assert(expected.count(_._3 == "up") >= 2)
    assert(expected.count(_._3 == "down") >= 2)

    def streamed(chunks: Int): Set[(String, Long, String)] = {
      val stream = MemoryStream[Ev]
      val q = StreamOps.streamCusum(stream.toDF())
        .writeStream.format("memory").queryName("cusum_stream")
        .outputMode("update").start()
      try {
        evs.grouped(math.max(1, evs.size / chunks + 1)).foreach { chunk =>
          stream.addData(chunk)
          q.processAllAvailable()
        }
        spark.table("cusum_stream")
          .select(col("event_type"), col("event_id"), col("side"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      } finally q.stop()
    }

    val one = streamed(1)
    assert(one === expected)
    assert(streamed(5) === one) // re-chunking cannot change the alarm set

    // same code path in batch mode over the REAL corpus only (the
    // synthetic tail is a stream fixture): subset relation must hold
    val batchRun = StreamOps.streamCusum(
        Tables.events(spark, TestSpark.sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")))
      .select(col("event_type"), col("event_id"), col("side"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val realExpected = expected.filter(_._2 <= maxId)
    assert(batchRun === realExpected)
  }

  test("stream_quantile_sketch: exact under the compaction threshold, " +
      "inside the proven rank-error bound at volume, re-chunk " +
      "invariant, and the batch path agrees") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import StreamOps.QuantileSketch

    // 1) small-n exactness: below Cap no compaction ever fires, so the
    // sketch IS the data and every quantile is the exact order statistic
    val small = new scala.util.Random(11)
      .shuffle((1 to 200).map(_.toLong * 7 - 300)).take(200)
    val f0 = new QuantileSketch.Folder(QuantileSketch.empty)
    small.take(QuantileSketch.Cap - 1).foreach(f0.insert)
    val s0 = f0.state
    val sortedSmall = small.take(QuantileSketch.Cap - 1).sorted
    for (q <- Seq(0.01, 0.25, 0.5, 0.9, 0.99)) {
      val k = math.max(1L, math.ceil(q * s0.n).toLong)
      assert(QuantileSketch.query(s0, q) === sortedSmall((k - 1).toInt),
        s"small-n q=$q")
    }

    // 2) the PROVEN 2·L·n/Cap worst-case rank bound at volume, on a
    // deterministic heavy-tailed sequence (the shape that breaks naive
    // uniform histograms)
    val rnd = new scala.util.Random(42)
    val big = (1 to 60000).map { _ =>
      val u = rnd.nextDouble()
      if (u < 0.9) (rnd.nextDouble() * 1e4).toLong
      else (1e4 / math.max(1e-6, 1.0 - u)).toLong // Pareto tail
    }
    val fb = new QuantileSketch.Folder(QuantileSketch.empty)
    big.foreach(fb.insert)
    val sb = fb.state
    assert(sb.n === big.size.toLong)
    // mass conservation: total resident weight equals the insert count
    assert(sb.levels.zipWithIndex
      .map { case (vs, l) => vs.size.toLong * (1L << l) }.sum === sb.n)
    val bound = QuantileSketch.rankErrorBound(sb)
    assert(bound < sb.n / 5, s"bound $bound degenerate for n=${sb.n}")
    val sortedBig = big.sorted
    for (q <- Seq(0.01, 0.25, 0.5, 0.9, 0.99)) {
      val est = QuantileSketch.query(sb, q)
      val target = math.max(1L, math.ceil(q * sb.n).toLong)
      val rLo = sortedBig.count(_ < est).toLong + 1
      val rHi = sortedBig.count(_ <= est).toLong
      val dist =
        if (target < rLo) rLo - target
        else if (target > rHi) target - rHi
        else 0L
      assert(dist <= bound, s"q=$q est=$est rank [$rLo,$rHi] " +
        s"target=$target dist=$dist bound=$bound")
    }

    // 3) streaming: re-chunking cannot change any key's final estimate
    // (coin-free compactor + per-batch (ts, event_id) fold order), and
    // the batch path lands the same rows
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val evs = eventsAsCase().sortBy(e => (micros(e.ts), e.event_id))
    def finalPerKey(rows: Array[org.apache.spark.sql.Row])
        : Map[String, (Long, Double, Double, Double)] =
      rows.groupBy(_.getString(0)).map { case (k, rs) =>
        val last = rs.maxBy(_.getLong(1))
        k -> ((last.getLong(1), last.getDouble(2), last.getDouble(3),
          last.getDouble(4)))
      }
    def streamed(chunks: Int): Map[String, (Long, Double, Double, Double)] = {
      val stream = MemoryStream[Ev]
      val q = StreamOps.streamQuantileSketch(stream.toDF())
        .writeStream.format("memory").queryName("qsketch_stream")
        .outputMode("update").start()
      try {
        evs.grouped(math.max(1, evs.size / chunks + 1)).foreach { chunk =>
          stream.addData(chunk)
          q.processAllAvailable()
        }
        finalPerKey(spark.table("qsketch_stream").collect())
      } finally q.stop()
    }
    val one = streamed(1)
    assert(one.nonEmpty)
    assert(streamed(7) === one)
    val batchRun = finalPerKey(StreamOps.streamQuantileSketch(
      Tables.events(spark, TestSpark.sfDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))).collect())
    assert(batchRun === one)
    // and the streaming estimates obey the same proven bound per key
    // against the exact per-type order statistics
    val byType = evs.groupBy(_.event_type)
    for ((et, (n, p50, _, p99)) <- one) {
      val cents = byType(et).map(e =>
        (BigDecimal(e.value).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          * 10000).toLongExact).sorted
      assert(n === cents.size.toLong, s"$et n")
      val lvls = math.max(1,
        64 - java.lang.Long.numberOfLeadingZeros(
          math.max(1L, 2 * n / QuantileSketch.Cap)))
      val bnd = 2L * lvls * n / QuantileSketch.Cap
      for ((q, est) <- Seq(0.5 -> p50, 0.99 -> p99)) {
        val estC = math.rint(est * 1e4).toLong
        val target = math.max(1L, math.ceil(q * n).toLong)
        val rLo = cents.count(_ < estC).toLong + 1
        val rHi = cents.count(_ <= estC).toLong
        val dist =
          if (target < rLo) rLo - target
          else if (target > rHi) target - rHi else 0L
        assert(dist <= bnd, s"$et q=$q dist=$dist bound=$bnd")
      }
    }
  }

  test("stream_benford: cumulative digit-drift scores match a driver " +
      "reference per batch and the batch path agrees") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val evs = eventsAsCase().sortBy(e => (micros(e.ts), e.event_id))

    val benfordP = Array(0.301030, 0.176091, 0.124939, 0.096910,
      0.079181, 0.066947, 0.057992, 0.051153, 0.045757)
    def digit(v: Double): Int = StreamOps.firstDigit(v)

    // driver reference: cumulative per-type histogram; one emission per
    // (chunk, type touched in chunk) with the CUMULATIVE worst deviation
    def expected(chunks: Seq[Seq[Ev]]): Seq[(String, Long, Double, Long)] = {
      val hist = scala.collection.mutable.Map.empty[String, Array[Long]]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Double, Long)]
      chunks.foreach { chunk =>
        chunk.groupBy(_.event_type).toSeq.sortBy(_._1).foreach {
          case (et, es) =>
            val h = hist.getOrElseUpdate(et, new Array[Long](9))
            var touched = false
            es.foreach { e =>
              val d = digit(e.value)
              if (d >= 1) { h(d - 1) += 1; touched = true }
            }
            val n = h.sum
            if (touched && n > 0) {
              var worst = 0.0; var wd = 1L
              (0 until 9).foreach { i =>
                val dev = math.abs(h(i).toDouble / n - benfordP(i))
                if (dev > worst) { worst = dev; wd = i + 1L }
              }
              out += ((et, n, math.rint(worst * 1e6) / 1e6, wd))
            }
        }
      }
      out.toSeq
    }

    val chunks = evs.grouped(evs.size / 3 + 1).toSeq
    val stream = MemoryStream[Ev]
    val q = StreamOps.benfordStream(stream.toDF())
      .writeStream.format("memory").queryName("benford_stream")
      .outputMode("update").start()
    try {
      chunks.foreach { c => stream.addData(c); q.processAllAvailable() }
      val got = spark.table("benford_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3))).toSet
      assert(got === expected(chunks).toSet)
      assert(got.nonEmpty)
    } finally q.stop()

    // batch mode: one group call per type = the single-chunk semantics
    val batchRun = StreamOps.benfordStream(
        Tables.events(spark, TestSpark.sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(batchRun === expected(Seq(evs)).toSet)

    // the extraction rule is the batch audit's: 2dp decimal string
    assert(digit(68423.46) === 6 && digit(0.09) === 9 && digit(0.004) === 0)
  }

  test("stream_holt: per-batch level/trend/forecast match a driver " +
      "Holt replica and the batch path is the single-chunk semantics") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    val evs = eventsAsCase().sortBy(e => (micros(e.ts), e.event_id))
    def r6(v: Double): Double = math.rint(v * 1e6) / 1e6

    def expected(chunks: Seq[Seq[Ev]])
        : Seq[(String, Long, Double, Double, Double, Double)] = {
      val st = scala.collection.mutable.Map
        .empty[String, (Long, Double, Double)] // t, level(or x1), trend
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Double, Double, Double, Double)]
      chunks.foreach { chunk =>
        chunk.groupBy(_.event_type).toSeq.sortBy(_._1).foreach {
          case (et, es) =>
            val x = es.foldLeft(BigDecimal(0))(
              (a, e) => a + BigDecimal(e.value)).toDouble
            st.get(et) match {
              case None => st(et) = (1L, x, 0.0)
              case Some((1L, x1, _)) =>
                val level = x; val trend = x - x1
                st(et) = (2L, level, trend)
                out += ((et, 2L, x, r6(level), r6(trend),
                  r6(level + trend)))
              case Some((t, l, tr)) =>
                val level = 0.5 * x + 0.5 * (l + tr)
                val trend =
                  0.3 * ((0.5 * x + 0.5 * (l + tr)) - l) + 0.7 * tr
                st(et) = (t + 1L, level, trend)
                out += ((et, t + 1L, x, r6(level), r6(trend),
                  r6(level + trend)))
            }
        }
      }
      out.toSeq
    }

    val chunks = evs.grouped(evs.size / 3 + 1).toSeq
    val stream = MemoryStream[Ev]
    val q = StreamOps.holtStream(stream.toDF())
      .writeStream.format("memory").queryName("holt_stream")
      .outputMode("update").start()
    try {
      chunks.foreach { c => stream.addData(c); q.processAllAvailable() }
      val got = spark.table("holt_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
      assert(got === expected(chunks).toSet)
      assert(got.nonEmpty)
    } finally q.stop()

    // batch mode: one group call per type = the t=1 fill only (no emit
    // beyond it) — a single chunk yields exactly the expected set
    val batchRun = StreamOps.holtStream(
        Tables.events(spark, TestSpark.sfDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSet
    assert(batchRun === expected(Seq(evs)).toSet)
  }

  test("stream dedup sinks: each micro-batch's reliable checkpoint is " +
      "deleted, no rdd-* directory is left") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.{Dedup, Multimodal, TextAnalysis}

    val ckpt = new java.io.File(
      new java.net.URI(spark.sparkContext.getCheckpointDir.get))
    def rddDirs(): Set[String] =
      Option(ckpt.list()).toSet.flatten.filter(_.startsWith("rdd-"))
    val before = rddDirs()

    val docs = Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") < 5)
    val batches = Seq((5, 15), (15, 25)).map { case (lo, hi) =>
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .as[(Long, String)].collect().toSeq
    }
    val payload = encode(col("text"), "UTF-8").as("payload")
    val base = TestSpark.tmpDir("sink_ckpt")
    val sk0 = Dedup.sketchOf(standing).filter(size(col("sh")) > 0)
    Dedup.bandTable(sk0).write.parquet(s"$base/bands")
    sk0.select(col("doc_id"), col("sh")).write.parquet(s"$base/shingles")
    TextAnalysis.docBlocks(standing)
      .select(xxhash64(col("block")).as("dig")).distinct()
      .write.parquet(s"$base/blocks")
    val cdc0 = Multimodal.cdcSigs(standing.select(col("doc_id"), payload))
    cdc0.select(explode(col("digs")).as("dig"), col("doc_id"))
      .write.parquet(s"$base/index")
    cdc0.select(col("doc_id"), col("digs")).write.parquet(s"$base/sigs")

    type Sink = org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.streaming.StreamingQuery
    val sinks: Seq[(String, Sink)] = Seq(
      "mh" -> (d => StreamOps.minhashDedupSink(d, s"$base/bands",
        s"$base/shingles", s"$base/out_mh", TestSpark.tmpDir("sink_ck_mh"))),
      "block" -> (d => StreamOps.blockDedupSink(d, s"$base/blocks",
        s"$base/out_block", TestSpark.tmpDir("sink_ck_block"))),
      "cdc" -> (d => StreamOps.cdcDedupSink(d.select(col("doc_id"), payload),
        s"$base/index", s"$base/sigs", s"$base/out_cdc",
        TestSpark.tmpDir("sink_ck_cdc"))))
    for ((name, sink) <- sinks) {
      val stream = MemoryStream[(Long, String)]
      val q = sink(stream.toDF().toDF("doc_id", "text"))
      try batches.foreach { b =>
        stream.addData(b)
        q.processAllAvailable()
      } finally q.stop()
      assert(spark.read.parquet(s"$base/out_$name").count() > 0, name)
      assert(rddDirs() -- before === Set.empty[String], name)
    }
  }
}
