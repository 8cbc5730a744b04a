package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, count, exists, lit}
import org.apache.spark.sql.graft.GraftRuntime

import graft.{Bench, GraftCaches, GraftSession, SparkEntry}
import graft.sources.{NvdEtl, NvdFixtureGen}

/** One timed operation: a query (DataFrame construction, then its final
  * noop write) or an ETL step (a single call). Times in seconds; `start`,
  * `buildEnd` and `end` are wall-clock milliseconds for matching spans.
  */
final case class Op(id: String, name: String, start: Long, buildEnd: Long, end: Long,
    buildS: Double, actionS: Double, cpuS: Double, value: Long, error: String) {
  def wallS: Double = buildS + actionS
}

/** Records the operations of one pass of a workload, with the pass's noise
  * evidence: kernel steal, CPU burnt by other processes, and this JVM's GC.
  */
final class Pass(spark: SparkSession, val index: Int, val traced: Boolean) {
  private val sc = spark.sparkContext
  val ops = ArrayBuffer[Op]()
  private val (steal0, jiffies0, busy0) = Bench.statSample()
  private val gc0 = Bench.gcMillis()
  private val cpu0 = Bench.processCpuNanos()
  private val codegen0 = CodeGenerator.compileTime
  private val t0 = System.nanoTime()
  var residualBytes = 0L
  private var releasedS = 0.0

  /** A query: `build` runs the query function, including every job it
    * launches eagerly; the final action writes the result to `sink`, or
    * to the noop sink when there is none. The operators persist relations
    * the result depends on, so the caches are released after each query
    * (the [[GraftCaches]] contract).
    */
  def query(name: String, sink: Option[String])(build: => DataFrame): Unit =
    run(name, release = true) { built =>
    val df = build
    built()
    sink match {
      case Some(path) => df.coalesce(1).write.mode("overwrite").parquet(path)
      case None => df.write.format("noop").mode("overwrite").save()
    }
    -1L
  }

  /** An ETL step that returns a count, timed as one action. */
  def step(name: String)(body: => Long): Unit = run(name, release = false) { built =>
    built()
    body
  }

  private def run(name: String, release: Boolean)(body: (() => Unit) => Long): Unit = {
    val id = s"$index.${ops.size}"
    sc.setLocalProperty(Tracer.OpKey, id)
    val c0 = Bench.processCpuNanos()
    val startMs = System.currentTimeMillis()
    val s = System.nanoTime()
    var b = -1L
    var buildEndMs = startMs
    var value = -1L
    var error: String = null
    try value = body(() => { b = System.nanoTime(); buildEndMs = System.currentTimeMillis() })
    catch {
      case e: Throwable =>
        error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
    }
    val e = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val cpu = (Bench.processCpuNanos() - c0) / 1e9
    sc.setLocalProperty(Tracer.OpKey, null)
    if (b < 0) b = e
    ops += Op(id, name, startMs, buildEndMs, endMs, (b - s) / 1e9, (e - b) / 1e9, cpu,
      value, error)
    if (release) this.release()
  }

  /** The library's between-query cleanup contract; harness time, never
    * part of an operation's latency.
    */
  def release(): Unit = {
    val r = System.nanoTime()
    GraftCaches.release(spark)
    residualBytes = math.max(residualBytes, GraftRuntime.storageUsed(sc))
    releasedS += (System.nanoTime() - r) / 1e9
  }

  def summary(cpus: Int): Map[String, Any] = {
    val (steal1, jiffies1, busy1) = Bench.statSample()
    val elapsed = (System.nanoTime() - t0) / 1e9
    val jvmCpu = (Bench.processCpuNanos() - cpu0) / 1e9
    val dj = (jiffies1 - jiffies0).toDouble
    val hostCpus = Runtime.getRuntime.availableProcessors
    Map(
      "index" -> index, "traced" -> traced,
      "wall_s" -> ops.map(_.wallS).sum,
      "cpu_s" -> ops.map(_.cpuS).sum,
      "gc_s" -> (Bench.gcMillis() - gc0) / 1000.0,
      "codegen_ms" -> (CodeGenerator.compileTime - codegen0) / 1e6,
      "release_s" -> releasedS,
      "residual_storage_bytes" -> residualBytes,
      "steal_pct" -> (if (jiffies0 < 0 || dj <= 0) -1.0 else 100.0 * (steal1 - steal0) / dj),
      "foreign_pct" -> (if (jiffies0 < 0 || dj <= 0) -1.0
        else math.max(0.0, 100.0 * (busy1 - busy0) / dj - 100.0 * jvmCpu / (elapsed * hostCpus))),
      "ops" -> ops.map(o => Map("name" -> o.name, "wall_s" -> o.wallS, "build_s" -> o.buildS,
        "action_s" -> o.actionS, "cpu_s" -> o.cpuS, "value" -> o.value, "error" -> o.error)))
  }
}

/** One workload: inputs it makes inside the JVM, and one pass over them.
  * A pass given a check directory writes its results there for grading.
  */
trait Workload {
  def prepare(): Map[String, Any]
  def pass(p: Pass, check: Option[String] = None): Unit
}

/** Queries from [[SparkEntry.queries]] over generated tables, in plan order. */
final class QueryWorkload(spark: => SparkSession, names: Seq[String], tables: String)
    extends Workload {
  def prepare(): Map[String, Any] = Map.empty
  def pass(p: Pass, check: Option[String]): Unit =
    names.foreach(n => p.query(n, check.map(d => s"$d/$n"))(SparkEntry.queries(n)(spark, tables)))
}

/** The NVD mirror: bootstrap the non-held-back shards into an empty
  * warehouse, load each held-back shard bundled with an already-loaded one,
  * then the README count and linux EXISTS queries.
  */
final class NvdWorkload(spark: => SparkSession, cves: Int, shards: Int,
    bootstrap: Seq[Int], loads: Seq[(Int, Int)], work: String) extends Workload {
  private val feedDir = s"$work/feeds"
  private val bootDir = s"$work/boot"
  private def loadDir(i: Int) = s"$work/load$i"
  val warehouse = s"$work/warehouse"

  private def shardFile(s: Int) = f"nvdcve-1.1-shard$s%02d.json.gz"

  def prepare(): Map[String, Any] = {
    Main.deleteTree(new File(feedDir))
    NvdFixtureGen.main(Array(feedDir, cves.toString, shards.toString))
    def place(dir: String, ss: Seq[Int]): Unit = {
      Main.deleteTree(new File(dir))
      Files.createDirectories(Paths.get(dir))
      ss.foreach(s => Files.copy(Paths.get(feedDir, shardFile(s)), Paths.get(dir, shardFile(s)),
        StandardCopyOption.REPLACE_EXISTING))
    }
    place(bootDir, bootstrap)
    loads.zipWithIndex.foreach { case ((held, overlap), i) => place(loadDir(i), Seq(held, overlap)) }
    val files = new File(feedDir).listFiles().filter(_.getName.endsWith(".json.gz"))
    Map("feeds" -> files.length, "feed_bytes" -> files.map(_.length).sum)
  }

  /** Every step's count is graded, so passes need no check directory. */
  def pass(p: Pass, check: Option[String]): Unit = {
    Main.deleteTree(new File(warehouse))
    p.step("bootstrap")(NvdEtl.run(spark, bootDir, warehouse)._2)
    loads.indices.foreach(i => p.step(s"load$i")(NvdEtl.loadFeed(spark, loadDir(i), warehouse)))
    p.step("count")(NvdEtl.countCves(spark, warehouse))
    p.step("linux")(linuxCount())
    p.release()
  }

  /** The reference README's query over the warehouse: CVEs with a linux
    * cpe23Uri in configurations.nodes[].cpe_match[].
    */
  def linuxCount(): Long =
    NvdEtl.warehouse(spark, warehouse)
      .filter(exists(col("configurations.nodes"),
        n => exists(n.getField("cpe_match"), m => m.getField("cpe23Uri").contains("linux"))))
      .agg(count(lit(1))).head().getLong(0)

  /** Each sources-layer call timed alone, over the warehouse the last pass
    * left behind.
    */
  def probes(): Map[String, Any] = {
    def secs(body: => Unit): Double = {
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
    }
    val parseMs = (1 to 5).map { _ =>
      secs { NvdEtl.itemSchema(); NvdEtl.feedSchema() } * 1000
    }.sorted.apply(2)
    val ingest = secs(NvdEtl.ingest(spark, bootDir).write.format("noop").mode("overwrite").save())
    var fresh = -1L
    val antijoin = secs {
      fresh = NvdEtl.newCves(NvdEtl.ingest(spark, loadDir(0)),
        NvdEtl.warehouse(spark, warehouse)).count()
    }
    val scratch = s"$work/append_probe"
    Main.deleteTree(new File(scratch))
    val append = secs(NvdEtl.append(NvdEtl.ingest(spark, loadDir(0)), scratch))
    var counted = -1L
    val countProbe = secs { counted = NvdEtl.countCves(spark, warehouse) }
    val files = Main.listFiles(new File(warehouse)).filter(_.getName.endsWith(".parquet"))
    Map("schema_parse_ms" -> parseMs, "ingest_s" -> ingest, "antijoin_s" -> antijoin,
      "antijoin_new" -> fresh, "append_s" -> append, "count_probe_s" -> countProbe,
      "count_probe_value" -> counted, "warehouse_files" -> files.length,
      "warehouse_bytes" -> files.map(_.length).sum)
  }
}

/** Runs one benchmark workload from a plan file and writes its raw report:
  * `graftbench.Main <plan.json> <report.json>`.
  */
object Main {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

  private def heapPeakBytes(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum

  def main(args: Array[String]): Unit = {
    val plan = Json.read(args(0))
    val workload = plan.get("workload").asText()
    val cpus = plan.get("cpus").asInt()
    val seconds = plan.get("seconds").asDouble()
    val trace = plan.get("trace").asBoolean()
    val work = plan.get("work").asText()
    val queries = Json.strings(plan.get("queries"))

    var spark: SparkSession = null
    val wl: Workload = if (workload == "nvd_etl") {
      val nvd = plan.get("nvd")
      val loads = (0 until nvd.get("loads").size()).map { i =>
        val l = nvd.get("loads").get(i); (l.get(0).asInt(), l.get(1).asInt())
      }
      new NvdWorkload(spark, nvd.get("cves").asInt(), nvd.get("shards").asInt(),
        Json.ints(nvd.get("bootstrap")), loads, work)
    } else new QueryWorkload(spark, queries, plan.get("tables").asText())

    // set-up: session build and input generation, repeated; then one
    // warm-up pass, which pays the JIT and codegen of a fresh JVM and
    // writes the query results the DuckDB oracle grades
    val setups = ArrayBuffer[Map[String, Any]]()
    var inputs = Map.empty[String, Any]
    for (_ <- 0 until plan.get("setup_reps").asInt()) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.build(cpus)
      val t1 = System.nanoTime()
      inputs = wl.prepare()
      setups += Map("build_s" -> (t1 - t0) / 1e9, "gen_s" -> (System.nanoTime() - t1) / 1e9)
    }
    val checkDir = s"$work/check"
    val warm = new Pass(spark, -1, traced = false)
    wl.pass(warm, Some(checkDir))
    val warmSummary = warm.summary(cpus)
    if (queries.nonEmpty) Json.write(s"$checkDir/oracle_sql.json",
      queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    val sc = spark.sparkContext

    // timed window: passes until `seconds` have elapsed; a traced run
    // alternates traced and untraced passes to measure its own overhead
    val tracer = new Tracer
    val passes = ArrayBuffer[Map[String, Any]]()
    val spans = ArrayBuffer[Map[String, Any]]()
    val layers = ArrayBuffer[Map[String, Any]]()
    val probeBefore = Bench.probeWithSteal(workers = cpus, seconds = 0.5)
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    // pass 0 still carries JIT warm-up: an untraced run takes at least four
    // passes, whose median is the mean of the middle two, never pass 0; a
    // traced run never traces pass 0 and compares at least two traced (odd)
    // passes with two untraced (even) ones after it
    val minPasses = if (trace) 5 else 4
    val w0 = System.nanoTime()
    var i = 0
    while (i < minPasses || (System.nanoTime() - w0) / 1e9 < seconds) {
      val traced = trace && i % 2 == 1
      if (traced) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      val p = new Pass(spark, i, traced)
      wl.pass(p)
      val summary = p.summary(cpus)
      if (traced) {
        Bus.drain(sc)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        val (m, s) = Layers.of(workload, p, tracer.take(), summary, cpus)
        layers += m
        spans ++= s
      }
      passes += summary
      i += 1
    }
    val window = (System.nanoTime() - w0) / 1e9
    val heapPeak = heapPeakBytes()
    val probeAfter = Bench.probeWithSteal(workers = cpus, seconds = 0.5)

    val sources = wl match {
      case n: NvdWorkload if trace => n.probes()
      case _ => Map.empty[String, Any]
    }

    def probe(p: (Long, Long, Long, Double)) =
      Map("min" -> p._1, "median" -> p._2, "max" -> p._3, "steal_pct" -> p._4)
    Json.write(args(1), Map(
      "workload" -> workload, "cpus" -> cpus, "window_s" -> window,
      "setups" -> setups, "warm" -> warmSummary, "inputs" -> inputs,
      "passes" -> passes, "layers" -> layers, "sources" -> sources,
      "heap_peak_bytes" -> heapPeak,
      "probe_before" -> probe(probeBefore), "probe_after" -> probe(probeAfter)))
    if (trace) {
      val out = new java.io.PrintWriter(s"$work/spans.jsonl")
      try spans.foreach(s => out.println(Json.line(s)))
      finally out.close()
    }
    spark.stop()
  }
}
