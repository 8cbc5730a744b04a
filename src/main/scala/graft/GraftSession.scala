package graft

import org.apache.spark.sql.SparkSession

/** One place to build a correctly-configured local session.
  *
  * Every main (Verify / Bench / Scratch) and every test goes through here so
  * session-level settings are explicit and uniform — in particular
  * `nanosAsLong` (the testdata's events.parquet carries TIMESTAMP(NANOS),
  * which Spark's parquet reader otherwise rejects) is set once at build time
  * instead of being mutated as a loader side effect. The session's `file:`
  * filesystem is [[GraftLocalFileSystem]] (see [[builder]] for why).
  */
object GraftSession {
  /** Root for ALL session-lifetime scratch storage: shuffle files +
    * block-manager spill (`spark.local.dir`), the temp warehouse,
    * reliable-checkpoint dirs, and the default ArtifactStore root.
    *
    * Default is RAM-backed tmpfs (`/dev/shm`) when present and
    * writable, else `java.io.tmpdir`. Rationale (r17, measured):
    * Spark's scratch path belongs on the fastest local storage the
    * node has — NVMe on a real cluster, tmpfs in this sandbox. The
    * sandbox's root disk is burst-throttled: mid-bench its write
    * bandwidth intermittently collapses, and thread dumps of the
    * stalled passes (graph_betweenness 12 s → 160 s, CPU flat) put
    * every stuck task in DiskBlockObjectWriter/copyFileStreamNIO —
    * shuffle-file I/O, not compute. Parameterized via
    * `SPARK_GRAFT_SCRATCH` (point it at a disk path to reproduce the
    * old layout, or at a cluster-local NVMe mount in production).
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val base = sys.env.get("SPARK_GRAFT_SCRATCH")
      .map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm)) Some(shm) else None
      }
      .getOrElse(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(base)
    base
  }

  /** Fresh per-JVM scratch subdirectory under [[scratchRoot]]. */
  private[graft] def scratchDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix).toString

  private lazy val warehouseDir: String = scratchDir("graft-wh")
  private lazy val localDir: String = scratchDir("graft-local")

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // isAdjustedToUTC=false micros columns (the current events.parquet
      // shape) read as TIMESTAMP_LTZ directly instead of TIMESTAMP_NTZ:
      // with the session pinned to UTC the values are identical, but the
      // scan column needs NO cast projection — ts filters push down to
      // the parquet reader (Tables.eventsRaw's NTZ branch stays as the
      // fallback for sessions built without this conf).
      // COUPLING: this conf is session-global — EVERY naive parquet
      // timestamp column anywhere now reads as LTZ, and the values only
      // stay byte-identical because session.timeZone is pinned UTC two
      // lines above. Change the timezone pin (or read a genuinely
      // wall-clock-naive column) and this must move to a per-column cast
      // in the loader instead.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // the codegen CLASS cache is a 100-entry LRU by default — sized for
      // a handful of hot queries, not a 136-query suite (~10-20 generated
      // classes each). At default size a full suite pass evicts
      // everything, so the NEXT pass recompiles every stage: measured
      // +31% on a consecutive full-suite run (78 s → 103 s) with quiet
      // CPU probes on both sides. A workload this wide legitimately
      // sizes the cache to hold its classes (static conf — must be set
      // before the session exists).
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // whole-stage codegen abandons any plan whose output exceeds 100
      // fields — q_orders_subsample_ci's one-pass replicate evaluation
      // carries 200 conditional (sum, count) aggregate pairs and fell
      // back to the interpreted aggregate (measured 3× slower than the
      // row-exploding plan it replaced). 500 fields still generates a
      // method-split class well under JVM limits.
      .config("spark.sql.codegen.maxFields", "500")
      // fresh per-JVM warehouse: managed (e.g. bucketed) tables never leak
      // files into the repo or collide with a previous run's leftovers
      // (lazy val: ONE dir per JVM, not one per builder() call)
      .config("spark.sql.warehouse.dir", warehouseDir)
      // shuffle + spill scratch on the fast local root (see scratchRoot);
      // static conf — must be set before the SparkContext exists
      .config("spark.local.dir", localDir)
      .config("spark.ui.enabled", "false")
      // `file:` paths go through GraftLocalFileSystem: the stock checksummed
      // LocalFileSystem, except that it sets mode bits through NIO instead
      // of forking /bin/chmod. With no libhadoop installed, every file or
      // directory a write creates forks chmod (data file and .crc both) —
      // measured on a 4-vCPU VM at 20–25 ms per create and 6 ms per
      // mkdirs, against 0.7 ms and 0.12 ms through NIO. A year-partitioned NVD append creates up
      // to 24 year directories and a data file plus .crc in each, so the
      // forks are a fixed cost of every load on the stock filesystem.
      // Checksums and permission bits are unchanged
      // (GraftLocalFileSystemSpec).
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)

  private lazy val checkpointDir: String = scratchDir("graft-ckpt")

  def build(cpus: Int): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // reliable-checkpoint target for materialization barriers
    // (NvdEtl.commit, which deletes its own files after the append); on a
    // cluster this would be a durable FS path
    if (s.sparkContext.getCheckpointDir.isEmpty)
      s.sparkContext.setCheckpointDir(checkpointDir)
    s
  }

  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
}
