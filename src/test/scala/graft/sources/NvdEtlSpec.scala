package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Gates for nvd_ingest / nvd_incremental / nvd_load / nvd_bootstrap_detect
  * (SURVEY §2.1) over the committed deterministic feed fixtures.
  */
class NvdEtlSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = TestSpark.spark
  private val fixture = NvdEtl.FixturePath
  private val recent = NvdEtl.RecentFixturePath

  test("nvd_ingest: gz feed → one row per CVE with the full nested schema") {
    val df = NvdEtl.ingest(spark, fixture)
    assert(df.schema === NvdEtl.itemSchema())
    assert(df.count() === 96)
    assert(df.select(NvdEtl.cveId).filter(NvdEtl.cveId.isNull).count() === 0)
    assert(df.select(NvdEtl.cveId).distinct().count() === 96)
  }

  test("nvd_ingest: doubly-nested repeated records survive round-trip") {
    val df = NvdEtl.ingest(spark, fixture)
    // k=3 → CVE-2005-1003: linux in nodes[0].cpe_match, no children payload
    val row = df.filter(NvdEtl.cveId === "CVE-2005-1003")
      .select(
        col("configurations.nodes").getItem(0).getField("operator").as("op"),
        size(col("configurations.nodes").getItem(0).getField("cpe_match")).as("n_match"),
        col("configurations.nodes").getItem(0).getField("cpe_match")
          .getItem(1).getField("cpe23Uri").as("uri2"),
        col("impact.baseMetricV2.cvssV2.baseScore").as("score"))
      .head()
    assert(row.getAs[String]("op") === "AND")
    assert(row.getAs[Int]("n_match") === 2)
    assert(row.getAs[String]("uri2").contains("linux_kernel"))
    assert(row.getAs[Double]("score") === ((3 * 37) % 100) / 10.0)
  }

  test("nvd_ingest: NULLABLE records absent from the feed are null") {
    val df = NvdEtl.ingest(spark, fixture)
    // k % 13 == 0 → impact omitted; 96/13 → k ∈ {0,13,26,...,91} = 8 CVEs
    assert(df.filter(col("impact").isNull).count() === 8)
    // k % 11 == 0 → empty nodes array, not null
    assert(df.filter(size(col("configurations.nodes")) === 0).count() === 9)
  }

  test("nvd_ingest: timestamps parse to the exact UTC instant") {
    val df = NvdEtl.ingest(spark, fixture)
    val s = df.filter(NvdEtl.cveId === "CVE-2002-1000")
      .select(unix_timestamp(col("publishedDate"))).head().getLong(0)
    // k=0 → 2002-01-01T00:00:00Z
    assert(s === java.time.Instant.parse("2002-01-01T00:00:00Z").getEpochSecond)
  }

  test("nvd_incremental: left-anti set difference drops already-loaded CVEs") {
    val boot = NvdEtl.ingest(spark, fixture)   // k 0..95
    val rec = NvdEtl.ingest(spark, recent)     // k 72..119
    val delta = NvdEtl.newCves(rec, boot)
    assert(delta.count() === 24)               // k 96..119 only
    assert(delta.filter(NvdEtl.cveId.isin(
      boot.select(NvdEtl.cveId).collect().map(_.getString(0)).toSeq: _*))
      .count() === 0)
  }

  test("nvd_ingest: corrupt feed → zero rows lenient, throws strict") {
    val dir = graft.TestSpark.tmpDir("nvd_corrupt")
    val path = s"$dir/broken.json.gz"
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(path))
    out.write("""{"CVE_data_type":"CVE","CVE_Items":[{"cve":{"CVE_data_""".getBytes)
    out.close()
    // lenient (default): malformed file contributes nothing
    assert(NvdEtl.ingest(spark, path).count() === 0)
    // strict: mirrors the reference's raise-on-corrupt
    intercept[org.apache.spark.SparkException] {
      NvdEtl.ingest(spark, path, strict = true).count()
    }
  }

  test("nvd_ingest: a 2.0-API-shaped feed FAILS LOUDLY — never a " +
      "silently-empty load (r11 verdict #7)") {
    // the reference tracks feeds frozen at 1.1; NVD's successor API
    // wraps CVEs as {"version":"2.0","vulnerabilities":[{"cve":{...}}]}.
    // Under the 1.1 schema that parses as CVE_Items = null, and the
    // PERMISSIVE default would load ZERO rows without complaint — an
    // incremental warehouse would record a successful empty run forever
    val dir = graft.TestSpark.tmpDir("nvd_v2")
    val path = s"$dir/api2.json.gz"
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(path))
    out.write(
      """{"resultsPerPage":1,"startIndex":0,"totalResults":1,
        |"format":"NVD_CVE","version":"2.0",
        |"timestamp":"2024-01-01T00:00:00.000",
        |"vulnerabilities":[{"cve":{"id":"CVE-2024-9999",
        |  "sourceIdentifier":"cve@mitre.org","vulnStatus":"Analyzed"}}]}
        |""".stripMargin.getBytes)
    out.close()
    for (strict <- Seq(false, true)) {
      val e = intercept[Exception] {
        NvdEtl.ingest(spark, path, strict = strict).count()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("schema drift")),
        s"strict=$strict raised without the drift diagnostic: $e")
    }
    // and the guard adds no false positives: the 1.1 fixture still loads
    assert(NvdEtl.ingest(spark, NvdEtl.FixtureAbsPath).count() > 0)
  }

  test("nvd_ingest: unknown extra fields at any depth ingest losslessly " +
      "(reference bq.py:193 ignore_unknown_values)") {
    // a drifted feed: extra keys at the feed top level, inside an item,
    // inside CVE_data_meta, inside a description leaf, and inside a
    // cpe_match element — the schema-driven read must DROP the unknowns
    // and keep every known field bit-identical, in both lenient and
    // strict modes (FAILFAST rejects malformed JSON, not drifted JSON)
    val dir = graft.TestSpark.tmpDir("nvd_drift")
    val path = s"$dir/drift.json.gz"
    val feed =
      """{"CVE_data_type":"CVE","CVE_data_format":"MITRE",
        |"CVE_data_version":"4.0","CVE_data_numberOfCVEs":"2",
        |"CVE_data_timestamp":"2024-01-01T00:00Z",
        |"feed_extra_block":{"nested":[1,2,3]},
        |"CVE_Items":[
        | {"cve":{"data_type":"CVE","data_format":"MITRE","data_version":4.0,
        |   "CVE_data_meta":{"ID":"CVE-2024-0001","ASSIGNER":"cve@mitre.org",
        |     "new_meta_key":"drifted"},
        |   "description":{"description_data":[
        |     {"lang":"en","value":"known value","extra_leaf":7}]},
        |   "unknown_subtree":{"deep":{"deeper":true}}},
        |  "configurations":{"CVE_data_version":4.0,"nodes":[
        |    {"operator":"OR","cpe_match":[
        |      {"vulnerable":true,
        |       "cpe23Uri":"cpe:2.3:o:linux:linux_kernel:5.0:*:*:*:*:*:*:*",
        |       "novel_match_flag":false}]}]},
        |  "publishedDate":"2024-01-01T00:00Z",
        |  "lastModifiedDate":"2024-01-02T00:00Z",
        |  "item_extra_field":"ignored"},
        | {"cve":{"CVE_data_meta":{"ID":"CVE-2024-0002",
        |    "ASSIGNER":"cve@mitre.org"}},
        |  "publishedDate":"2024-01-03T00:00Z"}]}""".stripMargin
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(path))
    out.write(feed.getBytes("UTF-8"))
    out.close()
    for (strict <- Seq(false, true)) {
      val df = NvdEtl.ingest(spark, path, strict = strict)
      // unknown fields never surface in the schema…
      assert(df.schema === NvdEtl.itemSchema())
      // …and never cost a row or a known value
      assert(df.count() === 2)
      val r = df.filter(NvdEtl.cveId === "CVE-2024-0001")
        .select(
          col("cve.description.description_data").getItem(0)
            .getField("value").as("desc"),
          col("configurations.nodes").getItem(0).getField("cpe_match")
            .getItem(0).getField("cpe23Uri").as("uri"),
          col("cve.CVE_data_meta.ASSIGNER").as("assigner"),
          unix_timestamp(col("publishedDate")).as("pub"))
        .head()
      assert(r.getAs[String]("desc") === "known value")
      assert(r.getAs[String]("uri").contains("linux_kernel"))
      assert(r.getAs[String]("assigner") === "cve@mitre.org")
      assert(r.getAs[Long]("pub") ===
        java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond)
    }
  }

  test("nvd_ndjson: transform emits NDJSON that round-trips the nested schema") {
    val out = TestSpark.tmpDir("nvd_ndjson")
    NvdEtl.toNdjson(NvdEtl.ingest(spark, fixture), out)
    // the artifact is genuine newline-delimited JSON: one object per line
    val part = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    assert(part.nonEmpty)
    val lines = part.flatMap(f =>
      scala.io.Source.fromFile(f).getLines().toSeq)
    assert(lines.length === 96)
    assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))
    // round-trip: schema-driven read recovers every CVE and nested fields
    val back = spark.read.schema(NvdEtl.itemSchema()).json(out)
    assert(back.count() === 96)
    assert(back.select(NvdEtl.cveId).distinct().count() === 96)
    val row = back.filter(NvdEtl.cveId === "CVE-2005-1003")
      .select(
        col("configurations.nodes").getItem(0).getField("cpe_match")
          .getItem(1).getField("cpe23Uri").as("uri2"),
        unix_timestamp(col("publishedDate")).as("pub_s"))
      .head()
    assert(row.getAs[String]("uri2").contains("linux_kernel"))
    val orig = NvdEtl.ingest(spark, fixture)
      .filter(NvdEtl.cveId === "CVE-2005-1003")
      .select(unix_timestamp(col("publishedDate"))).head().getLong(0)
    assert(row.getAs[Long]("pub_s") === orig)
  }

  test("nvd_run: the reference's whole driver flow (bootstrap vs incremental)") {
    val wh = TestSpark.tmpDir("nvd_run_wh")
    // greenfield: bootstrap loads every feed in the dir (union, no dups)
    val (boot1, n1) = NvdEtl.run(spark, "fixtures/nvd", wh, threshold = 10)
    assert(boot1 && n1 === 120)
    // healthy warehouse: incremental path touches only the recent feed,
    // whose CVEs are all present → 0 loaded
    val (boot2, n2) = NvdEtl.run(spark, "fixtures/nvd", wh, threshold = 10)
    assert(!boot2 && n2 === 0)
    assert(NvdEtl.countCves(spark, wh) === 120)
  }

  test("nvd_load + nvd_bootstrap_detect: round-trip with overlap, no dup IDs") {
    val wh = TestSpark.tmpDir("nvd_wh")
    // greenfield → bootstrap needed at any sane threshold
    assert(NvdEtl.bootstrapNeeded(spark, wh, threshold = 10))
    assert(NvdEtl.countCves(spark, wh) === 0)

    assert(NvdEtl.loadFeed(spark, fixture, wh) === 96)
    assert(NvdEtl.countCves(spark, wh) === 96)
    assert(!NvdEtl.bootstrapNeeded(spark, wh, threshold = 90))

    // overlapping feed: only the 24 unseen CVEs load (first-writer-wins)
    assert(NvdEtl.loadFeed(spark, recent, wh) === 24)
    assert(NvdEtl.countCves(spark, wh) === 120)
    val ids = NvdEtl.warehouse(spark, wh).select(NvdEtl.cveId)
    assert(ids.distinct().count() === 120)

    // idempotent: loading the same feed again appends nothing
    assert(NvdEtl.loadFeed(spark, recent, wh) === 0)
    assert(NvdEtl.countCves(spark, wh) === 120)

    // year-partitioned layout → partition pruning at the scan
    val years = new java.io.File(wh).list().filter(_.startsWith("cve_year="))
    assert(years.length === 24)  // 2002..2025
    val y2024 = NvdEtl.warehouse(spark, wh).filter(col("cve_year") === 2024)
    assert(y2024.count() > 0)
    assert(y2024.select(NvdEtl.cveId).collect().forall(_.getString(0).startsWith("CVE-2024")))
    // the year predicate must prune at the scan, not filter post-read
    val plan = y2024.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cve_year"),
      s"expected partition pruning on cve_year in:\n$plan")
  }

  /** One CVE item: `id` None leaves CVE_data_meta.ID out (a null ID). */
  private def item(id: Option[String], desc: String): String = {
    val meta = id.fold("")(i => s""""ID":"$i",""")
    s"""{"cve":{"CVE_data_meta":{$meta"ASSIGNER":"cve@mitre.org"},""" +
      s""""description":{"description_data":[{"lang":"en","value":"$desc"}]}},""" +
      """"publishedDate":"2020-01-01T00:00Z"}"""
  }

  private def writeGz(path: String, body: String): Unit = {
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(path))
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** A 1.1 feed file `nvdcve-1.1-<name>.json.gz` holding `items`. */
  private def writeFeed(dir: String, name: String, items: String*): Unit =
    writeGz(s"$dir/nvdcve-1.1-$name.json.gz",
      """{"CVE_data_type":"CVE","CVE_data_format":"MITRE",""" +
        s""""CVE_data_version":"4.0","CVE_data_numberOfCVEs":"${items.size}",""" +
        s""""CVE_data_timestamp":"2024-01-01T00:00Z","CVE_Items":[${items.mkString(",")}]}""")

  private val recentName = "nvdcve-1.1-recent.json.gz"

  /** Every warehouse row as JSON, sorted: a multiset to compare exactly. */
  private def rowsOf(wh: String): Seq[String] = {
    val df = NvdEtl.warehouse(spark, wh)
    df.select(to_json(struct(df.columns.map(col).toSeq: _*)))
      .collect().map(_.getString(0)).sorted.toSeq
  }

  /** Bootstrap `feedDir` with [[NvdEtl.run]] and, into a second warehouse,
    * with the per-feed loop it replaces (loadFeed over run's feed order);
    * assert both give the same count and the same rows. Returns (count,
    * the one-pass warehouse).
    */
  private def bootstrapBothWays(feedDir: String,
      recent: String = recentName): (Long, String) = {
    val loopWh = TestSpark.tmpDir("nvd_loop_wh")
    val feeds = new java.io.File(feedDir).list().filter(_.endsWith(".json.gz"))
      .sorted.sortBy(_ == recent)
    val nLoop = feeds.map(f => NvdEtl.loadFeed(spark, s"$feedDir/$f", loopWh)).sum
    val wh = TestSpark.tmpDir("nvd_pass_wh")
    val (boot, n) = NvdEtl.run(spark, feedDir, wh, recentFeedName = recent, threshold = 1)
    assert(boot)
    assert(n === nLoop)
    assert(rowsOf(wh) === rowsOf(loopWh))
    (n, wh)
  }

  private def descOf(wh: String, id: String): Seq[String] =
    NvdEtl.warehouse(spark, wh).filter(NvdEtl.cveId === id)
      .select(col("cve.description.description_data").getItem(0).getField("value"))
      .collect().map(_.getString(0)).sorted.toSeq

  test("nvd_bootstrap: one pass over the fixture pair == the per-feed loop, " +
      "120 CVEs, one data file per cve_year") {
    val (n, wh) = bootstrapBothWays("fixtures/nvd")
    assert(n === 120)
    val years = new java.io.File(wh).listFiles().filter(_.getName.startsWith("cve_year="))
    assert(years.length === 24)
    years.foreach { y =>
      assert(y.list().count(_.endsWith(".parquet")) === 1, y.getName)
    }
  }

  test("nvd_bootstrap: across feeds the earliest feed in run order wins an ID; " +
      "duplicates within that feed and null-ID rows all stay") {
    val dir = TestSpark.tmpDir("nvd_overlap")
    writeFeed(dir, "2019",
      item(Some("CVE-2019-0001"), "from 2019"),
      item(Some("CVE-2019-0002"), "dup a"),
      item(Some("CVE-2019-0002"), "dup b"),
      item(None, "null id 2019"))
    writeFeed(dir, "2020",
      item(Some("CVE-2019-0001"), "from 2020"),
      item(Some("CVE-2019-0002"), "late dup"),
      item(Some("CVE-2020-0001"), "only 2020"),
      item(None, "null id 2020"))
    writeFeed(dir, "recent",
      item(Some("CVE-2019-0001"), "from recent"),
      item(Some("CVE-2020-0001"), "late 2020"),
      item(Some("CVE-2021-0001"), "only recent"),
      item(None, "null id recent"))
    // a corrupt feed contributes nothing, in both forms
    writeGz(s"$dir/nvdcve-1.1-2018.json.gz", """{"CVE_data_type":"CVE","CVE_Items":[{""")
    val (n, wh) = bootstrapBothWays(dir)
    assert(n === 8)
    assert(descOf(wh, "CVE-2019-0001") === Seq("from 2019"))
    assert(descOf(wh, "CVE-2019-0002") === Seq("dup a", "dup b"))
    assert(descOf(wh, "CVE-2020-0001") === Seq("only 2020"))
    assert(descOf(wh, "CVE-2021-0001") === Seq("only recent"))
    assert(NvdEtl.warehouse(spark, wh).filter(NvdEtl.cveId.isNull).count() === 3)
    // run order, not name order, decides: name 2020 the `recent` feed and
    // it loads last, after 2019 and the feed named recent
    val (n2, wh2) = bootstrapBothWays(dir, recent = "nvdcve-1.1-2020.json.gz")
    assert(n2 === 8)
    assert(descOf(wh2, "CVE-2019-0002") === Seq("dup a", "dup b"))
    assert(descOf(wh2, "CVE-2020-0001") === Seq("late 2020"))
  }

  test("nvd_bootstrap: a 2.0 envelope among 1.1 feeds fails loudly and the " +
      "message names that file") {
    val dir = TestSpark.tmpDir("nvd_boot_v2")
    writeFeed(dir, "2019", item(Some("CVE-2019-0001"), "ok"))
    writeGz(s"$dir/nvdcve-1.1-2020.json.gz",
      """{"format":"NVD_CVE","version":"2.0",
        |"vulnerabilities":[{"cve":{"id":"CVE-2020-9999"}}]}""".stripMargin)
    writeFeed(dir, "recent", item(Some("CVE-2021-0001"), "ok"))
    val e = intercept[Exception] {
      NvdEtl.run(spark, dir, TestSpark.tmpDir("nvd_boot_v2_wh"), threshold = 1)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("schema drift") &&
      m.contains("nvdcve-1.1-2020.json.gz")), e)
  }

  test("nvd_load: a load leaves no checkpoint files") {
    val ckpt = new java.io.File(
      new java.net.URI(spark.sparkContext.getCheckpointDir.get))
    def rddDirs(): Set[String] =
      Option(ckpt.list()).toSet.flatten.filter(_.startsWith("rdd-"))
    val before = rddDirs()
    val wh = TestSpark.tmpDir("nvd_ckpt_wh")
    assert(NvdEtl.loadFeed(spark, fixture, wh) === 96)
    assert(rddDirs() -- before === Set.empty[String])
    val (boot, n) = NvdEtl.run(spark, "fixtures/nvd", TestSpark.tmpDir("nvd_ckpt_run"), threshold = 1)
    assert(boot && n === 120)
    assert(rddDirs() -- before === Set.empty[String])
  }

  test("nvd_load: a greenfield bootstrap is one job, a load into an " +
      "existing warehouse at most 2, and neither runs a checkpoint stage") {
    val wh = s"${TestSpark.tmpDir("nvd_onejob")}/warehouse"
    val feeds = TestSpark.tmpDir("nvd_onejob_feeds")
    java.nio.file.Files.copy(java.nio.file.Paths.get(fixture),
      java.nio.file.Paths.get(s"$feeds/nvdcve-1.1-2002.json.gz"))
    // greenfield: no probe job, and the anti-join against the empty
    // warehouse is removed at planning — the write is the only job
    val ((boot, n0), bootJobs) = TestSpark.launched(
      NvdEtl.run(spark, feeds, wh, threshold = 1))
    assert(boot && n0 === 96)
    assert(bootJobs.jobs === 1, bootJobs)
    val (n, launched) = TestSpark.launched(NvdEtl.loadFeed(spark, recent, wh))
    assert(n === 24)
    assert(launched.jobs <= 2, launched)
    assert(!(bootJobs.stages ++ launched.stages).exists(_.startsWith("checkpoint")),
      (bootJobs, launched))
  }

  test("nvd_load: the returned count is the rows the load appended — a " +
      "normal load, a zero-row reload, a feed with null-ID rows") {
    val wh = TestSpark.tmpDir("nvd_count_wh")
    /** (returned, Δ warehouse rows, Δ countCves) of one load. */
    def load(feed: String): (Long, Long, Long) = {
      def rows() = NvdEtl.warehouse(spark, wh).count()
      val (r0, c0) = (rows(), NvdEtl.countCves(spark, wh))
      val n = NvdEtl.loadFeed(spark, feed, wh)
      (n, rows() - r0, NvdEtl.countCves(spark, wh) - c0)
    }
    assert(load(fixture) === ((96L, 96L, 96L)))
    assert(load(fixture) === ((0L, 0L, 0L)))
    // null-ID rows load (the anti-join keeps them) and count as rows,
    // while countCves is COUNT(ID) and skips them
    val dir = TestSpark.tmpDir("nvd_count_feed")
    writeFeed(dir, "nulls",
      item(Some("CVE-2002-1000"), "already loaded"),
      item(Some("CVE-2030-0001"), "new"),
      item(None, "null id a"),
      item(None, "null id b"))
    assert(load(s"$dir/nvdcve-1.1-nulls.json.gz") === ((3L, 3L, 1L)))
  }

  test("nvd_load: an empty load into a missing warehouse leaves it greenfield") {
    val wh = s"${TestSpark.tmpDir("nvd_empty")}/warehouse"
    val dir = TestSpark.tmpDir("nvd_empty_feed")
    writeFeed(dir, "empty")
    assert(NvdEtl.loadFeed(spark, s"$dir/nvdcve-1.1-empty.json.gz", wh) === 0)
    assert(NvdEtl.countCves(spark, wh) === 0)
    assert(NvdEtl.bootstrapNeeded(spark, wh, threshold = 1))
    // a delta the planner already knows is empty returns 0 too
    val none = NvdEtl.warehouse(spark, s"$wh-missing").drop("cve_year")
    assert(NvdEtl.commit(none, wh) === 0)
    assert(NvdEtl.countCves(spark, wh) === 0)
  }

  test("nvd_bootstrap_detect: a missing warehouse is probed without a job") {
    val wh = s"${TestSpark.tmpDir("nvd_missing")}/warehouse"
    val (needed, launched) = TestSpark.launched(NvdEtl.bootstrapNeeded(spark, wh))
    assert(needed)
    assert(launched.jobs === 0, launched)
  }
}
