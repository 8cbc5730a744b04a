package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's ETL core, re-expressed Spark-first (SURVEY.md §2.1).
  *
  * Reference pipeline (bq-nvd.py:153-166): download feed → gunzip+parse JSON
  * (etl.py:19-49) → drop feed metadata, keep CVE_Items, drop CVEs whose IDs
  * already exist in the warehouse via a driver-side Python set
  * (etl.py:80-92) → bulk-append (bq.py:171-202).
  *
  * Spark-first differences, by design:
  *  - extract+transform is one declarative `spark.read.schema(...).json`
  *    (native gzip codec) + `explode(CVE_Items)` — no driver-side JSON pass.
  *    A gz feed is unsplittable, so each file is read whole by ONE task,
  *    but Spark's file source packs small files into shared partitions
  *    (`spark.sql.files.openCostInBytes`): at NVD feed sizes a directory
  *    of feeds reads as a handful of tasks, not one per file (the
  *    two-feed load directory of the benchmark reads as 1 partition).
  *    Read parallelism comes from feed bytes, not feed count;
  *  - the bootstrap reads every feed in ONE scan and resolves overlaps
  *    between feeds (earliest feed in run order wins) inside the same
  *    dataflow, so the warehouse sees one anti-join and one append;
  *  - the incremental set-difference is a distributed left-anti join on the
  *    CVE ID — never a collected id list on the driver;
  *  - the warehouse is year-partitioned parquet, so queries over a CVE-year
  *    range prune partitions at the scan.
  */
object NvdEtl {

  /** The NVD BQ schema, parsed — never hand-translated into Scala. The
    * file is a committed DATA fixture (`fixtures/nvd/schema.json`), a
    * verbatim copy of the reference's schema.json (itself public NVD
    * column metadata, reference config.yml `nvd_schema`): the library
    * must not carry a RUNTIME dependency on the read-only reference
    * mount, which may be absent in deployment. Resolved repo-root-
    * relative first (the forked-JVM cwd convention FixturePath relies
    * on) so a deployment checkout anywhere works; the sandbox absolute
    * path is only the fallback for callers with a foreign cwd.
    */
  val DefaultSchemaPath: String = {
    val rel = "fixtures/nvd/schema.json"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(rel))) rel
    else s"/root/repo/$rel"
  }

  val FixturePath = "fixtures/nvd/nvdcve-1.1-fixture.json.gz"
  val RecentFixturePath = "fixtures/nvd/nvdcve-1.1-recent.json.gz"

  /** Absolute form shared by the SparkEntry queries and their oracle SQL —
    * the driver may run Spark and DuckDB from arbitrary working dirs, so
    * the contract surface pins ONE canonical location. Resolved from the
    * repo-root cwd when the checkout is visible there (the forked-JVM
    * convention, so any checkout location works — same rationale as
    * [[DefaultSchemaPath]]); the sandbox absolute path is only the
    * fallback for callers with a foreign cwd.
    */
  private def absOf(rel: String): String = {
    val p = java.nio.file.Paths.get(rel)
    if (java.nio.file.Files.exists(p)) p.toAbsolutePath.toString
    else s"/root/repo/$rel"
  }
  val FixtureAbsPath = absOf(FixturePath)
  val RecentFixtureAbsPath = absOf(RecentFixturePath)

  /** Schema of one CVE item (schema.json → StructType). */
  def itemSchema(schemaPath: String = DefaultSchemaPath): StructType =
    BqJsonSchema.parseFile(schemaPath)

  /** Schema of a whole NVD 1.1 feed file: string metadata the transform
    * drops (reference etl.py:75-77) + the CVE_Items array.
    */
  def feedSchema(schemaPath: String = DefaultSchemaPath): StructType =
    StructType(Seq(
      StructField("CVE_data_type", StringType),
      StructField("CVE_data_format", StringType),
      StructField("CVE_data_version", StringType),
      StructField("CVE_data_numberOfCVEs", StringType),
      StructField("CVE_data_timestamp", StringType),
      StructField("CVE_Items", ArrayType(itemSchema(schemaPath)))))

  /** The nested CVE ID path used throughout the reference
    * (bq.py:156-158 get_cve_ids, etl.py:87).
    */
  def cveId: Column = col("cve.CVE_data_meta.ID")

  /** Extract+transform: gz feed file(s) → one row per CVE, full nested
    * schema (reference etl.py:19-49 + the CVE_Items projection at :77).
    * `multiLine` because a feed is one JSON object, not NDJSON.
    *
    * `strict = true` mirrors the reference's fail-on-corrupt behavior
    * (etl.py raises JSONDecodeError): a malformed feed aborts the load
    * (FAILFAST). The default is PERMISSIVE — a corrupt feed contributes
    * zero rows instead of poisoning a thousand-feed batch, the posture a
    * 100 TB crawl ingest actually wants.
    *
    * Schema-drift guard (the reference tracks feeds frozen at 1.1;
    * NVD's successor API publishes `{"version": "2.0",
    * "vulnerabilities": [...]}` envelopes): a 2.0-shaped file parses
    * under the 1.1 schema as CVE_Items = null, and PERMISSIVE mode
    * would turn that into a SILENTLY EMPTY load — the worst failure
    * mode an incremental warehouse has. The read schema therefore
    * carries two probe fields (`version`, `vulnerabilities`) that a 1.1
    * feed never populates, and the envelope row raises loudly BEFORE
    * the explode when the 2.0 markers appear without CVE_Items. The
    * guard lives inside the explode input (a raise_error branch of the
    * CaseWhen), so no separate envelope scan or eager action is added
    * to the ingest hot path, and column pruning cannot drop it. The
    * message names the offending file, also when `feedPath` is a
    * directory.
    */
  def ingest(spark: SparkSession, feedPath: String,
      schemaPath: String = DefaultSchemaPath,
      strict: Boolean = false): DataFrame =
    ingestFeeds(spark, Seq(feedPath), schemaPath, strict).drop(FeedRank)

  /** Column [[ingestFeeds]] tags each row with: the 0-based position, in
    * the path list, of the feed the row came from.
    */
  private val FeedRank = "__feed"

  /** [[ingest]] over several feed files in ONE scan. Each row carries
    * [[FeedRank]], matched on the file name (several feeds are always one
    * directory listing, so names are distinct). A single path may be a
    * directory: all its files are one feed, rank 0.
    */
  private def ingestFeeds(spark: SparkSession, feedPaths: Seq[String],
      schemaPath: String, strict: Boolean): DataFrame = {
    val names = feedPaths.map(p => new org.apache.hadoop.fs.Path(p).getName)
    val rank =
      if (feedPaths.size == 1) lit(0)
      else (array_position(lit(names.toArray), col("_metadata.file_name")) - 1).cast("int")
    val itemsType = ArrayType(itemSchema(schemaPath))
    val probeSchema = feedSchema(schemaPath)
      .add(StructField("version", StringType))
      .add(StructField("vulnerabilities",
        ArrayType(StructType(Seq(StructField("cve",
          StructType(Seq(StructField("id", StringType)))))))))
    spark.read
      .schema(probeSchema)
      .option("multiLine", value = true)
      .option("mode", if (strict) "FAILFAST" else "PERMISSIVE")
      // real NVD 1.1 feeds publish minute-precision timestamps
      // ("2019-04-09T20:15Z") — seconds and millis must both be optional
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm[:ss][.SSS]XXX")
      .json(feedPaths: _*)
      .select(explode(
        when(col("CVE_Items").isNull &&
            (col("vulnerabilities").isNotNull || col("version").isNotNull),
          raise_error(concat(
            lit("NVD feed schema drift: expected a 1.1 feed with " +
              "CVE_Items, found API-2.0 markers (version="),
            coalesce(col("version"), lit("?")),
            lit(", file="), col("_metadata.file_path"), lit(")"))).cast(itemsType))
          .otherwise(col("CVE_Items"))).as("item"), rank.as(FeedRank))
      .select("item.*", FeedRank)
  }

  /** The reference transform's staging artifact (etl.py:94-116): scrubbed
    * CVE rows as newline-delimited JSON for a bulk loader. Our warehouse
    * loads parquet directly, but the NDJSON form remains part of the
    * reference surface — and Spark's json sink IS newline-delimited JSON,
    * written in parallel per partition (the reference serializes one CVE
    * at a time on the driver).
    */
  def toNdjson(df: DataFrame, outDir: String): Unit =
    df.write.mode("overwrite").json(outDir)

  /** The warehouse's CVE-ID relation (reference bq.py:144-169
    * get_cve_ids) — kept DISTRIBUTED: the reference collects the ids into
    * a Python set on the driver; here they stay a DataFrame that joins,
    * never a driver-side collection.
    */
  def cveIds(warehouse: DataFrame): DataFrame =
    warehouse.select(cveId.as("cve_id"))

  /** Incremental set-difference (reference etl.py:80-92): keep only feed
    * CVEs whose ID is not already in the warehouse — a distributed
    * left-anti join replacing the reference's driver-side Python set.
    */
  def newCves(feed: DataFrame, warehouse: DataFrame): DataFrame =
    feed.join(cveIds(warehouse).withColumnRenamed("cve_id", "__existing_id"),
      cveId === col("__existing_id"), "left_anti")

  /** CVE year from the ID itself ("CVE-2024-1234" → 2024) — the stable
    * partitioning key (publishedDate can shift across feed revisions).
    */
  def cveYear: Column = substring(cveId, 5, 4).cast("int")

  /** Append to the year-partitioned parquet warehouse (replaces the GCS→BQ
    * bulk load, reference bq.py:171-202). Caller is responsible for
    * dedup via [[newCves]] — mirroring the reference, where transform
    * scrubs duplicates before load ever runs.
    */
  def append(df: DataFrame, warehouseDir: String): Unit =
    df.withColumn("cve_year", cveYear)
      .write.partitionBy("cve_year").mode("append").parquet(warehouseDir)

  /** The warehouse table, or an empty frame with the right schema if the
    * warehouse does not exist yet (greenfield).
    */
  def warehouse(spark: SparkSession, warehouseDir: String,
      schemaPath: String = DefaultSchemaPath): DataFrame = {
    val schema = itemSchema(schemaPath).add(StructField("cve_year", IntegerType))
    if (new java.io.File(warehouseDir).exists())
      spark.read.schema(schema).parquet(warehouseDir)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** COUNT(cve.CVE_data_meta.ID) over the warehouse (reference
    * bq.py:125-127) — the probe behind the bootstrap decision.
    */
  def countCves(spark: SparkSession, warehouseDir: String): Long =
    warehouse(spark, warehouseDir).agg(count(cveId)).head().getLong(0)

  /** Bootstrap-vs-incremental decision (reference bq-nvd.py:70-85): a
    * warehouse with fewer than `threshold` CVEs is treated as greenfield.
    * The reference hardcodes 130000 ("there are over 130k CVEs in the NVD").
    */
  def bootstrapNeeded(spark: SparkSession, warehouseDir: String,
      threshold: Long = 130000L): Boolean =
    countCves(spark, warehouseDir) < threshold

  /** One incremental load step (reference bq-nvd.py:98-104): ingest a feed,
    * drop already-present CVEs, append the rest. First-writer-wins across
    * loads by construction. Returns the number of newly loaded CVEs.
    */
  def loadFeed(spark: SparkSession, feedPath: String, warehouseDir: String,
      schemaPath: String = DefaultSchemaPath): Long =
    loadFeeds(spark, Seq(feedPath), warehouseDir, schemaPath)

  /** Load feeds in run order as ONE pass, with exactly the result of
    * loading them one by one through [[loadFeed]]: one scan, one anti-join,
    * one barrier, one append. A CVE ID present in several feeds keeps only
    * the rows of the earliest feed (what the first load would have
    * appended and every later load dropped); rows within that feed all
    * stay, duplicates included, and null-ID rows all stay, as the
    * anti-join keeps them.
    */
  private def loadFeeds(spark: SparkSession, feedPaths: Seq[String],
      warehouseDir: String, schemaPath: String): Long = {
    val feeds = ingestFeeds(spark, feedPaths, schemaPath, strict = false)
    val firstFeedWins =
      if (feedPaths.size == 1) feeds
      else feeds
        .withColumn("__first", min(col(FeedRank)).over(Window.partitionBy(cveId)))
        .filter(cveId.isNull || col(FeedRank) === col("__first"))
        .drop("__first")
    commit(newCves(firstFeedWins.drop(FeedRank), warehouse(spark, warehouseDir, schemaPath)),
      warehouseDir)
  }

  /** The write half of every warehouse load, batch ([[loadFeed]]) and
    * streaming ([[graft.streaming.StreamOps.warehouseSink]]): materialize
    * `delta`, count it, append it, then delete the checkpoint's files.
    * Returns the count.
    *
    * checkpoint(): a REAL materialization barrier, not a cache hint. The
    * append writes into the same directory the delta's anti-join lazily
    * reads; persist() could silently drop partitions and recompute the
    * delta WHILE the warehouse is being appended to. An eager reliable
    * checkpoint truncates the lineage first, so the append can never
    * re-read its own output. Its files are a full copy of the delta in
    * the session checkpoint dir (RAM-backed by default, see
    * [[graft.GraftSession]]) and nothing reads them after the append, so
    * they are deleted here rather than left for the life of the JVM.
    */
  private[graft] def commit(delta: DataFrame, warehouseDir: String): Long = {
    val barrier = delta.checkpoint()
    try {
      val n = barrier.count()
      if (n > 0) append(barrier, warehouseDir)
      n
    } finally {
      val conf = barrier.sparkSession.sparkContext.hadoopConfiguration
      barrier.queryExecution.logical
        .collectFirst { case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd }
        .flatMap(_.getCheckpointFile)
        .foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(conf).delete(p, true)
        }
    }
  }

  /** The reference's whole driver flow (bq-nvd.py:153-163 main):
    * greenfield/broken warehouse → bootstrap every yearly feed; healthy
    * warehouse → load only the `recent` feed. Feed discovery is
    * local-directory listing (the HTTP fetch of download.py is out of
    * scope in a zero-egress build). Returns (bootstrapped?, CVEs loaded).
    */
  def run(spark: SparkSession, feedDir: String, warehouseDir: String,
      recentFeedName: String = "nvdcve-1.1-recent.json.gz",
      threshold: Long = 130000L,
      schemaPath: String = DefaultSchemaPath): (Boolean, Long) = {
    val dir = new java.io.File(feedDir)
    require(dir.isDirectory, s"feed dir not found: $feedDir")
    if (bootstrapNeeded(spark, warehouseDir, threshold)) {
      // bootstrap: every feed file in one pass, in run order yearly
      // feeds first (reference bq-nvd.py:87-96 loads 2002..now one by
      // one), recent last
      val feeds = dir.listFiles().map(_.getName)
        .filter(_.endsWith(".json.gz")).sorted
        .sortBy(_ == recentFeedName) // recent last
      val n = if (feeds.isEmpty) 0L
        else loadFeeds(spark, feeds.map(f => s"$feedDir/$f").toSeq, warehouseDir, schemaPath)
      (true, n)
    } else {
      val recent = new java.io.File(dir, recentFeedName)
      val n = if (recent.isFile)
        loadFeed(spark, recent.getPath, warehouseDir, schemaPath)
      else 0L
      (false, n)
    }
  }
}
