package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.StringSplit
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The 3-shingle set the minhash and containment operators share
  * (Dedup.shingleSets): the same arrays as the inline
  * `shingles3(split(text, " "))` expression it replaces, with the text
  * split once per document — at every call site, cached plans included.
  */
class ShingleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  /** The replaced expression: the split inlined at all five references. */
  private def inlineShingles: Column = {
    val t = split(col("text"), " ")
    array_sort(array_distinct(
      when(size(t) >= 3,
        transform(sequence(lit(0), size(t) - 3),
          i => concat_ws(" ", element_at(t, i + 1), element_at(t, i + 2),
            element_at(t, i + 3))))
        .otherwise(array().cast("array<string>"))))
  }

  private val texts = Seq(
    "",                                     // one empty token
    "solo",                                 // 1 token
    "two words",                            // 2 tokens
    "a b c",                                // exactly one shingle
    "a  b c  d",                            // double spaces: empty tokens
    " lead and trail ",                     // empty first and last tokens
    "x y z x y z x y z x y z",              // repeated shingles
    "über naïve café 日本 語 テスト ü ñ",   // non-ASCII
    (1 to 200).map(k => s"w${k % 17}").mkString(" "))

  // read back from parquet: over a local relation the optimizer
  // evaluates the projections at planning time and no split is left
  private lazy val docsPath: String = {
    import spark.implicits._
    val p = TestSpark.tmpDir("graft-shingles") + "/docs.parquet"
    texts.zipWithIndex.map { case (t, k) => (k.toLong, t) }.toDF("doc_id", "text")
      .write.parquet(p)
    p
  }
  private def docs: DataFrame = spark.read.parquet(docsPath)

  test("shingle sets equal the inline split expression on edge-case texts") {
    val got = Dedup.shingleSets(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val want = docs.select(col("doc_id"), inlineShingles.as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got === want)
    assert(got.size === texts.size)
    assert(got(0L).isEmpty && got(1L).isEmpty && got(2L).isEmpty)
    assert(got(3L) === Seq("a b c"))
    assert(got(4L) === Seq(" b c", "a  b", "b c ", "c  d"))
    assert(got(6L) === Seq("x y z", "y z x", "z x y"))
  }

  /** StringSplit occurrences per plan node, every node of the tree —
    * the plans of caches and adaptive stages included. */
  private def splitsPerNode(root: TreeNode[_]): Seq[Int] = {
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    def walk(n: Any): Seq[Int] = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case m: InMemoryTableScanExec => walk(m.relation)
      case r: InMemoryRelation =>
        if (seen.add(r.cacheBuilder)) walk(r.cacheBuilder.cachedPlan) else Nil
      case q: org.apache.spark.sql.catalyst.plans.QueryPlan[_] =>
        q.expressions.map(_.collect { case s: StringSplit => s }.size) ++
          q.children.flatMap(walk)
      case _ => Nil
    }
    walk(root)
  }

  private def assertSplitOnce(site: String, perNode: Seq[Int]): Unit = {
    assert(perNode.sum >= 1, s"$site: no split found — the walk missed it")
    assert(perNode.max === 1, s"$site: ${perNode.filter(_ > 0)}")
  }

  test("each shingling call site splits a document's text once") {
    // the inline form puts five splits into one projection: the check
    // below can see the difference
    val inline = docs.select(col("doc_id"), inlineShingles.as("sh"))
    assert(splitsPerNode(inline.queryExecution.optimizedPlan).max === 5)

    assertSplitOnce("sketchOf",
      splitsPerNode(Dedup.sketchOf(docs).queryExecution.optimizedPlan))
    try {
      for ((site, df) <- Seq(
          "dedup_minhash_lsh" -> Dedup.dedupMinhashLsh(spark, TestSpark.sfDir),
          "dedup_containment" -> Dedup.dedupContainment(spark, TestSpark.sfDir))) {
        df.collect()
        assertSplitOnce(site, splitsPerNode(df.queryExecution.optimizedPlan) ++
          splitsPerNode(df.queryExecution.executedPlan.asInstanceOf[SparkPlan]))
      }
    } finally graft.GraftCaches.release(spark)
  }
}
