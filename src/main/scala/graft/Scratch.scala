package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Dev tool: run one named query, print how many Spark jobs it launched
  * while its DataFrame was built and how many during the collect, and
  * how many SQL caches it left before [[GraftCaches.release]], then its
  * explain and first 20 rows. Not part of the driver contract.
  */
object Scratch {
  private val Marker = "scratch-marker"

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q1_pricing_summary")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = GraftSession.build(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    // the listener bus delivers in order: when a marker job's start
    // arrives, every job started before it has been counted
    val counts = new LinkedBlockingQueue[Integer]()
    var jobs = 0 // listener thread only
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == Marker)) counts.put(jobs)
        else jobs += 1
    })
    def jobsSoFar(): Int = {
      sc.setJobGroup(Marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val n = counts.poll(60, TimeUnit.SECONDS)
      require(n != null, "listener bus timed out")
      n
    }
    val before = jobsSoFar()
    val df = SparkEntry.queries(name)(spark, dir)
    val built = jobsSoFar()
    val rows = df.collect()
    val collected = jobsSoFar()
    println(s"SCRATCH $name build_jobs=${built - before} " +
      s"action_jobs=${collected - built} rows=${rows.length} " +
      s"sql_caches=${GraftCaches.sqlCaches(spark)}")
    df.explain("formatted")
    println(df.columns.mkString(" | "))
    rows.take(20).foreach(r => println(r.mkString(" | ")))
    GraftCaches.release(spark) // operator persists die with the action
    assert(sc.getPersistentRDDs.isEmpty,
      "cache leak: persisted RDDs survived GraftCaches.release")
    spark.stop()
  }
}
