package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated star schema (see TESTDATA.md).
  *
  * Every query receives `(spark, sfDir)` and resolves its inputs here.
  * Parquet scans are left fully declarative so Catalyst pushes filters
  * and prunes columns at the source.
  */
object Tables {

  /** A parquet read with a known schema. A schema-less read infers the
    * schema with a Spark job (`mergeSchemasInParallel`), so every query
    * paid one job, and the gap after it, per table it touched. The schema
    * is inferred once per table and passed in through `.schema(...)`;
    * later reads plan without a job.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    identity(spark, path) match {
      case Some(id) => spark.read.schema(schemaOf(spark, path, id)).parquet(path)
      case None     => spark.read.parquet(path) // missing: Spark's own error
    }
  }

  /** path → (identity it was inferred under, schema); one entry per path,
    * replaced when the identity changes. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Any], StructType)]()

  private def schemaOf(spark: SparkSession, path: String,
      id: Seq[Any]): StructType = {
    val hit = schemas.get(path)
    if (hit != null && hit._1 == id) hit._2
    else {
      val inferred = spark.read.parquet(path).schema
      schemas.put(path, (id, inferred))
      inferred
    }
  }

  /** What the inferred schema depends on: every leaf file under `path`
    * (name, length, modification time — a rewritten table is a new
    * identity) and every session conf naming parquet or case
    * sensitivity (the schema converter reads `nanosAsLong`,
    * `inferTimestampNTZ.enabled`, `binaryAsString`, `int96AsTimestamp`,
    * and merging reads `mergeSchema`). None when the path does not exist.
    */
  private def identity(spark: SparkSession, path: String): Option[Seq[Any]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val files = Iterator.unfold(fs.listFiles(p, true))(it =>
        if (it.hasNext) Some((it.next(), it)) else None)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toVector.sorted
      val confs = spark.conf.getAll.toVector.filter { case (k, _) =>
        k.toLowerCase.contains("parquet") || k == "spark.sql.caseSensitive"
      }.sorted
      Some(Vector(files, confs))
    }
  }

  /** events.parquet has shipped with two physical types for `ts`, so we
    * dispatch on the schema Spark actually read rather than assuming one:
    *
    *  - TIMESTAMP(NANOS): Spark's parquet reader rejects it outright
    *    ([PARQUET_TYPE_ILLEGAL]) unless the session was built with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` — set once in
    *    [[GraftSession]], never mutated here. The column then surfaces as
    *    LongType; we truncate nanos to microsecond timestamps — the same
    *    ns→µs truncation DuckDB applies on read, so oracle comparisons stay
    *    exact. Integer `div` (not fp division) because ~1.7e18 ns exceeds
    *    double's 53-bit integer range.
    *  - timestamp[us] (isAdjustedToUTC=false): surfaces as TIMESTAMP_NTZ;
    *    we cast to TimestampType (LTZ) so every downstream consumer keeps
    *    the exact type it was written against. The session timezone is
    *    pinned to UTC in [[GraftSession]], so the cast is value-preserving
    *    and matches DuckDB's naive-timestamp read.
    *
    * Every other surfaced type (plain TimestampType) passes through as-is.
    */
  private def eventsRaw(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }

  /** Register every table as a temp view so the full surface is reachable
    * from plain `spark.sql(...)` — together with the GraftExtensions
    * function registry (graft_cosine, graft_minhash, ...), a SQL-only
    * client gets the same engine the DataFrame API exposes.
    */
  def registerAll(s: SparkSession, d: String): Unit = {
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    names.foreach(n => table(s, d, n).createOrReplaceTempView(n))
    events(s, d).createOrReplaceTempView("events")
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
