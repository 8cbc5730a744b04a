package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftCaches, TestSpark}

/** graph_link_prediction's plan is fixed from one run to the next: its
  * self-join reads one cached edge relation, so the adaptive planner
  * has one set of statistics to plan from and every build-and-collect
  * launches the same jobs.
  */
class LinkPredictionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("five build-and-collect runs launch one job count and return " +
      "identical rows") {
    def run() = {
      val (rows, launched) = TestSpark.launched(
        Relational.graphLinkPrediction(spark, "/root/testdata/sf0.01")
          .collect().map(_.toSeq).toSeq)
      GraftCaches.release(spark)
      (rows, launched.jobs)
    }
    run() // a session's first read of a table also infers its schema
    val runs = Seq.fill(5)(run())
    assert(runs.map(_._2).distinct.size === 1, s"job counts ${runs.map(_._2)}")
    assert(runs.map(_._1).distinct.size === 1)
    assert(runs.head._1.size === 20)
  }
}
