package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole ScalaTest run (forked JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.build(4)

  /** Smallest SF — specs assert semantics, not throughput. */
  val sfDir = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** What a body launched on the shared session: its job count, the
    * names of the stages it submitted and the loop rounds it posted
    * ([[Barriers.fixpoint]]), in order.
    */
  final case class Launched(jobs: Int, stages: Seq[String],
      rounds: Seq[LoopRound])

  private val Marker = "test-spark-marker"

  /** Run `body` and return its result with the jobs, stages and loop
    * rounds it launched. The listener bus is asynchronous and in order:
    * a marker job seen by the listener means every event posted before
    * it was seen too, so one marker before `body` drains earlier events
    * and one after it closes the window.
    */
  def launched[A](body: => A): (A, Launched) = {
    val sc = spark.sparkContext
    val events = new LinkedBlockingQueue[SparkListenerEvent]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.put(e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = events.put(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case r: LoopRound => events.put(r)
        case _ =>
      }
    }
    def group(p: java.util.Properties): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    def isMarker(e: SparkListenerEvent): Boolean = e match {
      case j: SparkListenerJobStart => group(j.properties).contains(Marker)
      case _ => false
    }
    def untilMarker(): Seq[SparkListenerEvent] = {
      sc.setJobGroup(Marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val seen = List.newBuilder[SparkListenerEvent]
      var e = events.poll(30, TimeUnit.SECONDS)
      while (e != null && !isMarker(e)) {
        // the previous marker's own stage may trail its job start
        e match {
          case st: SparkListenerStageSubmitted if group(st.properties).contains(Marker) =>
          case _ => seen += e
        }
        e = events.poll(30, TimeUnit.SECONDS)
      }
      assert(e != null, "listener timed out")
      seen.result()
    }
    sc.addSparkListener(listener)
    try {
      untilMarker()
      val result = body
      val seen = untilMarker()
      (result, Launched(
        seen.count(_.isInstanceOf[SparkListenerJobStart]),
        seen.collect {
          case s: SparkListenerStageSubmitted => s.stageInfo.name },
        seen.collect { case r: LoopRound => r }))
    } finally sc.removeSparkListener(listener)
  }
}
