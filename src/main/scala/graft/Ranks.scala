package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed exact ranking — the two-pass (range sort + zipWithIndex)
  * assignment used wherever a TOTAL order over a fact-sized relation
  * must become a dense rank / ntile band WITHOUT a single-partition
  * ranking window (SURVEY §4: a `row_number`/`ntile` window with no —
  * or unbounded — partition keys funnels the whole corpus through one
  * task; at 100× it is the scale-killer).
  *
  * Pass 1 is a range-partitioned sort (every partition bounded n/P,
  * fully parallel); pass 2 is zipWithIndex's per-partition count +
  * offset scan. Dedup.scala's vocabulary ids and
  * pipeline_contrastive_pairs' doc ranks both rank through it — the one
  * legitimate RDD drop-down, because Spark SQL has no dense global rank
  * without a single-partition WindowExec.
  */
object Ranks {

  /** Exact integer floor-division for non-negative BIGINT columns
    * without `expr` strings: (a − a%b) is exactly divisible by b and
    * both operands are exactly representable doubles below 2⁵³, so the
    * IEEE division is the exact integer quotient.
    */
  private def idiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("bigint")

  /** All input columns plus `out` = the exact 1-based position of each
    * row in the total order `order` — which MUST carry a unique
    * tie-break for the rank to be deterministic. The position appends
    * on the internal-row iterator ([[org.apache.spark.sql.graft
    * .RankSupport]]): no external-Row boxing in either direction.
    */
  def rowNumber(df: DataFrame, out: String, order: Column*): DataFrame =
    org.apache.spark.sql.graft.RankSupport.withPosition(
      df.sort(order: _*), out)

  /** Per-group dense 1-based rank plus the group's row count: one
    * global [[rowNumber]] over (group, order), then each group's
    * offset (min global rank − 1) and size come back via a broadcast
    * join — intended for SMALL group counts (event types, corpus
    * sources) whose per-group slices are corpus-sized, exactly the
    * partitions a ranking window must not own. Adds `out` (rank within
    * group) and `sizeOut` (group row count). The ranked relation has
    * two consumers, so it is [[Barriers.materialize]]d.
    */
  def groupedRowNumber(df: DataFrame, group: Column, out: String,
      sizeOut: String, order: Column*): DataFrame = {
    val (g, _) = Barriers.materialize(rowNumber(df, "_grk", (group +: order): _*))
    val off = g.groupBy(group.as("_gkey"))
      .agg((min(col("_grk")) - 1L).as("_goff"),
        count(lit(1)).as(sizeOut))
    g.join(broadcast(off), group === col("_gkey"))
      .withColumn(out, col("_grk") - col("_goff"))
      .drop("_grk", "_goff", "_gkey")
  }

  /** Exact SQL `ntile(k)` bucket from a 1-based dense rank `rk` out of
    * `n` rows — the first (n mod k) buckets take ⌈n/k⌉ rows, the rest
    * ⌊n/k⌋ (the standard definition Spark and DuckDB share) — as a
    * pure integer expression: once rank and group size are attached,
    * banding is MAP-SIDE, so no ranking window exists anywhere in the
    * plan.
    */
  def ntileOf(rk: Column, n: Column, k: Int): Column = {
    val kk = lit(k.toLong)
    val q = idiv(n, kk)
    val rem = n - q * kk
    val cut = rem * (q + lit(1L))
    // rk ≤ cut ⇒ one of the rem wide buckets: ⌈rk/(q+1)⌉; the guard
    // also makes the otherwise-branch division by q safe (q = 0 only
    // when n < k, and then cut = n bounds every rank)
    when(rk <= cut, idiv(rk + q, q + lit(1L)))
      .otherwise(rem + idiv(rk - cut + q - lit(1L), q))
  }
}
