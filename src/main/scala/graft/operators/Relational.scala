package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.Barriers.{Budget, Horizon, Round, materialize, persist, scoped}
import graft.functions.GraftFunctions

/** Warehouse-query suite (SURVEY.md §2.1 queries + §2.2).
  *
  * Correctness-by-construction rules shared with the DuckDB oracle:
  *  - monetary aggregates accumulate in exact DECIMAL (each double input is
  *    rounded identically by both engines on the cast, and decimal addition
  *    is order-independent), then surface as DOUBLE — so Spark's and
  *    DuckDB's results are bit-identical no matter the partitioning;
  *  - averages = exact decimal sum cast to double / count (one deterministic
  *    fp division on both sides);
  *  - timestamps never escape raw: outputs are DATE or epoch BIGINT;
  *  - every result carries a total ORDER BY with a unique tie-break.
  *
  * Scale notes: all dimension joins are broadcast (zero shuffle on dims);
  * fact tables shuffle at most once on their aggregation/join key; every
  * filter is a plain parquet-pushable predicate.
  */
object Relational {

  /** Exact decimal-accumulated sum surfaced as double. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  private def davg(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double") / count(c)

  private def ts(lit0: String): Column = to_timestamp(lit(lit0))

  /** revenue term ep*(1-disc) computed entirely in exact decimal.
    *
    * The testdata's monetary columns are 2dp, so casting each RAW input to
    * DECIMAL(.,2) is tie-free (a stored double is never exactly halfway
    * between two 2dp decimals), and the subsequent decimal multiply/sum is
    * exact — unlike rounding the DOUBLE product, where Spark (HALF_UP) and
    * DuckDB (round-half-even) can disagree on ties at the last digit.
    */
  private def discPrice: Column =
    col("l_extendedprice").cast(DecimalType(18, 2)) *
      (lit(1.0) - col("l_discount")).cast(DecimalType(4, 2))

  private def charge: Column =
    discPrice * (lit(1.0) + col("l_tax")).cast(DecimalType(4, 2))

  /** §2.2 q1: TPC-H Q1-style pricing summary. One shuffle (groupBy), full
    * map-side partial aggregation, filter pushed to the parquet scan.
    */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= ts("2000-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(discPrice).cast("double").as("sum_disc_price"),
        sum(charge).cast("double").as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** §2.2 q3: shipping priority. customer is SF-proportional (fact-sized at
    * large SF), so its join is left to AQE / size-based planning — a
    * hardcoded broadcast would OOM at 100× scale; orders⋈lineitem shuffles
    * once on orderkey; top-10 with deterministic tie-break.
    */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < ts("1998-01-01 00:00:00"))
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > ts("1998-01-01 00:00:00"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(discPrice).cast("double").as("revenue"))
      .select(col("l_orderkey"), col("revenue"),
        to_date(col("o_orderdate")).as("orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** §2.2 q5: regional revenue through the full dimension chain. Only the
    * fixed-cardinality dims (region=5, nation=25) carry broadcast hints;
    * supplier/customer are SF-proportional, so their joins are left to
    * AQE / autoBroadcastJoinThreshold (broadcast at small SF, shuffle at
    * warehouse scale — never a hardcoded executor-OOM).
    */
  def q5RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
        col("o_orderdate") < ts("1999-01-01 00:00:00"))
    val l = Tables.lineitem(spark, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(c,
        col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(discPrice).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** §2.2 q6: forecast revenue — selective scan, global agg, no join. */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1998-01-01 00:00:00") &&
        col("l_shipdate") < ts("1999-01-01 00:00:00") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          col("l_discount").cast(DecimalType(4, 2))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** §2.2: top-3 customers by account balance per nation (window top-k). */
  def qTopCustomersPerNation(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("rk").cast("bigint").as("rk"),
        col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("n_name"), col("rk"))
  }

  /** §2.2: order priorities with a late shipment (EXISTS → left-semi). */
  def qOrderPriorityExists(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    o.join(l,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** §2.2: customers with no recent orders (NOT EXISTS → left-anti). */
  def qCustomerNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1997-06-01 00:00:00"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** §2.2: hourly event rollup — literally the §2.5 streaming transform
    * ([[graft.streaming.StreamOps.windowedAgg]]) run in batch mode: the
    * watermark is a no-op and window("1 hour") buckets equal
    * date_trunc('hour') (the oracle still checks date_trunc semantics).
    */
  def qEventsWindowed(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.windowedAgg(Tables.events(spark, dir))
      .orderBy(col("event_type"), col("bucket_s"))

  /** §2.2: gap-based sessionization (30-minute inactivity boundary).
    * Two stacked windows over one (user_id, ts) shuffle partition — a
    * single exchange; scales by user cardinality.
    */
  def qEventsSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .withColumn("new_s",
        when(col("tus") - lag(col("tus"), 1).over(byUser) > 1800000000L ||
          lag(col("tus"), 1).over(byUser).isNull, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_s")).over(cum))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"), min(col("tus")).as("start_us"),
        max(col("tus")).as("end_us"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** §2.2 q_events_asof: as-of join — each click event picks up the most
    * recent view at-or-before it for the same user (the
    * point-in-time-correct feature-join shape). Spark lacks a native ASOF
    * join; rather than a custom SparkPlan, this composes existing ops: tag
    * both sides, union, and run a `last(..., ignoreNulls)` window over
    * (tus, side) per user — views sort before clicks at equal timestamps,
    * matching ASOF's `>=`. ONE shuffle on user_id, no range explosion, no
    * per-key driver loop; at 100 TB the union streams and the window state
    * is one row. The oracle is DuckDB's native ASOF LEFT JOIN.
    */
  def qEventsAsof(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("tus"), lit(0).as("side"),
        lit(null).cast("bigint").as("event_id"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("tus"), lit(1).as("side"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v.unionAll(c)
      .withColumn("view_tus",
        last(when(col("side") === 0, col("tus")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("tus"), col("view_tus"),
        (col("tus") - col("view_tus")).as("lag_us"))
      .orderBy(col("event_id"))
  }

  /** §2.2 q_events_moving: per-user moving aggregate over the trailing 5
    * events — the bounded-frame window shape (frame state is O(frame), the
    * partition sorts once per user shuffle).
    */
  def qEventsMoving(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
      .rowsBetween(-4, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tus"), col("value"))
      .withColumn("mov_n", count(lit(1)).over(w))
      .withColumn("mov_sum",
        sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double"))
      .select(col("event_id"), col("user_id"), col("tus"),
        col("mov_n"), col("mov_sum"))
      .orderBy(col("event_id"))
  }

  /** §2.2: top-2 parts by retail price within brand (dense_rank). */
  def qPartTopnPrice(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice").desc)
    Tables.part(spark, dir)
      .withColumn("rk", dense_rank().over(w))
      .filter(col("rk") <= 2)
      .select(col("p_brand"), col("rk").cast("bigint").as("rk"),
        col("p_partkey"), col("p_retailprice"))
      .orderBy(col("p_brand"), col("rk"), col("p_partkey"))
  }

  /** §2.2 q_lineitem_rollup: hierarchical totals via ROLLUP — the OLAP
    * subtotal shape. Spark plans rollup as Expand + one hash aggregate
    * (map-side combined across all grouping sets); decimal-exact sums as
    * everywhere. NULL grouping levels sort first on both engines.
    */
  def qLineitemRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** §2.2 q_events_pivot: per-user event-type counts pivoted to columns.
    * The pivot values are an explicit closed list, so the plan is a single
    * groupBy(user) with five conditional counts — one shuffle, no second
    * pass to discover the domain.
    */
  def qEventsPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  /** §2.2 q_events_cube: full CUBE over (event_type, hour-of-day) — all
    * four grouping sets from one Expand + one map-side-combined aggregate.
    */
  def qEventsCube(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), hour(col("ts")).cast("bigint").as("hr"))
      .cube(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type").asc_nulls_first, col("hr").asc_nulls_first)

  /** §2.2 q_events_quantiles: exact interpolated quantiles per event_type
    * (`percentile` — Spark's exact variant, not approx_percentile; both
    * engines linearly interpolate the sorted values, results rounded 6dp).
    */
  def qEventsQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** §2.2 q_quantile_bisect: EXACT corpus-wide order statistics without
    * a global sort — the k-th smallest price (discrete p50/p90/p99,
    * k = ⌈q·n⌉) found by bisection on the integer value domain: each
    * round ONE map-side-combined aggregate counts rows ≤ the three
    * active midpoints and the driver halves each bracket. This is the
    * distributed selection algorithm (the counting dual of
    * Blum et al.'s selection; Munro-Paterson's multi-pass model):
    * where [[graft.Ranks.rowNumber]] pays a full range SORT to rank
    * every row, selection pays O(log |domain|) COUNTING passes to rank
    * three — at 100 TB that is ~27 cheap scans of a cached single
    * column vs one corpus-wide sort, and the answer is exact, not an
    * approx_percentile estimate.
    *
    * Exactness: prices are exact integer CENTS (decimal(15,2)·100);
    * the invariant count(≤lo) < k ≤ count(≤hi) pins hi to the smallest
    * integer with count ≥ k, which IS an existing price (counts only
    * jump at data values); k = ⌈q·n⌉ in integer arithmetic; the only
    * float is the final cents→double division, identical on both
    * engines (cents ≪ 2⁵³). The round cap THROWS (fixpoint contract):
    * 64 rounds covers any 64-bit domain, so reaching it is a logic
    * error, never a truncation.
    *
    * Scale shape: the cents column is persisted + eagerly counted once
    * (min/max bootstrap + every round consume it); each round is ONE
    * grouped count over the binary-search bucket index of each row in
    * the merged probe array (all brackets probe in the same pass — no
    * per-percentile scans; [[BisectFan]]-ary, so the 10⁷-cent corpus
    * domain closes in 2 passes); driver state is the ≤ 3·(fan−1)
    * midpoint histogram. No sort, no window, no shuffle beyond the
    * bucket counts' combine. The search is [[groupQuantileBisectCore]]'s
    * over one constant group (see [[quantileBisectCore]]).
    */
  def qQuantileBisect(spark: SparkSession, dir: String): DataFrame =
    quantileBisectCore(
      Tables.lineitem(spark, dir)
        .select((col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
          .cast("bigint").as("v")))

  /** Probe fan-out of both bisection operators: each round splits every
    * open bracket `BisectFan`-ary (fan − 1 interior midpoints). The
    * fan-out trades per-round PROBE COUNT for ROUNDS, and what the
    * optimum is depends on how probes are evaluated. Under the original
    * per-probe conditional-sum slots the r16 same-window A/B measured
    * widening as a LOSS (fan 32 ran the ungrouped query 1.65 → 3.74 s
    * at 0.0 % steal both sides — ~90 simultaneous aggregate buffers
    * pushed the generated update past JIT-friendly size), so fan 8 was
    * the measured optimum. The r17 BUCKETIZED round (one grouped count
    * over [[org.apache.spark.sql.graft.BisectBucket]]'s binary-search
    * bucket index) makes per-row cost O(log probes), so the same sweep
    * now runs MONOTONE FASTER with width (OPTIMIZATION_r17.md's fan
    * sweep, the inverse of OPTIMIZATION_r16.md's: fans 8/64/512/4096
    * interleaved ×2, checksums identical, 1682/1336/1375/917 ms
    * ungrouped on the second rep): wide fans win because
    * rounds — full passes over the cents relation, the 100 TB cost —
    * drop from ⌈log₈ W⌉ to ⌈log₄₀₉₆ W⌉ (8 → 2 passes on the 10⁷-cent
    * corpus domain) while the per-pass scan gets CHEAPER (≈12 long
    * compares vs 21 conditional sums per row). Shuffle/driver state
    * stays bounded: 3 brackets × (fan − 1) ≈ 12 k midpoints ≈ 200 KB of
    * per-partition partial counts, orders of magnitude below the cost
    * of one saved pass at any scale. The fan remains a parameter with
    * cross-fan bit-equality pinned in the specs.
    */
  private[graft] val BisectFan = 4096

  /** Grouped-core fan-out: 0 = ADAPTIVE — the widest fan that keeps
    * groups × 3 × (fan − 1) within [[GroupBisectMidBudget]] total probe
    * midpoints, clamped to [8, [[BisectFan]]]. The budget is what
    * bounds BOTH the per-partition partial-aggregate state of the
    * bucketized round and the driver-side histogram collect (each ≤
    * budget + groups rows), so the 64-group cap worst case stays ~64 k
    * rows while a 3-group corpus gets the full wide fan (⌈log W⌉ / 12
    * rounds). Any explicit fan > 0 bypasses the adaptation (the specs
    * pin cross-fan bit-equality).
    */
  private[graft] val GroupBisectFan = 0

  /** Total probe midpoints a grouped bucketized round may ship (see
    * [[GroupBisectFan]]). */
  private[graft] val GroupBisectMidBudget = 65536

  /** Overflow-safe `fan`-ary split midpoint, shared by both bisection
    * operators (r15 verdict "What's wrong" #1 / advice): the naive
    * `lo + (hi - lo) * i / fan` overflows signed 64-bit once the bracket
    * width exceeds ~Long.MaxValue/(fan-1), and `hi - lo` itself wraps when
    * the domain spans more than half the 64-bit line — so the width is
    * treated as UNSIGNED. For lo ≤ hi the two's-complement difference
    * hi - lo IS the true width mod 2⁶⁴; the split offset decomposes as
    * ⌊w·i/f⌋ = ⌊w/f⌋·i + ⌊(w mod f)·i/f⌋ with every intermediate exact
    * mod 2⁶⁴ ((w mod f)·i < f² ≪ 2⁶³ for any sane fan); and the wrapping
    * add lands in [lo, hi], which fits the signed range — so the result
    * is exact for ANY 64-bit domain (the "64 halvings cover any 64-bit
    * domain" Scaladoc claim actually holds). Bit-identical to the naive
    * formula wherever the naive formula does not overflow.
    */
  private[graft] def bisectMid(lo: Long, hi: Long, i: Int,
      fan: Int = BisectFan): Long =
    lo + java.lang.Long.divideUnsigned(hi - lo, fan.toLong) * i +
      java.lang.Long.remainderUnsigned(hi - lo, fan.toLong) * i / fan

  /** True-width bracket-open test: `hi - lo > 1` in SIGNED arithmetic
    * reads false on domains wider than Long.MaxValue (the difference
    * wraps negative), silently closing a still-open bracket — compare
    * the wrapped difference as unsigned instead. */
  private[graft] def bisectOpen(lo: Long, hi: Long): Boolean =
    java.lang.Long.compareUnsigned(hi - lo, 1L) > 0

  /** The corpus-wide bracket search of [[qQuantileBisect]] over an
    * explicit single-column (v: bigint) relation: the grouped core over
    * one constant group, the `grp` column dropped. */
  private[graft] def quantileBisectCore(cents: DataFrame,
      fan: Int = BisectFan): DataFrame =
    groupQuantileBisectCore(cents.select(lit("").as("grp"), col("v")), fan)
      .drop("grp")

  /** Group-count cap for [[qGroupQuantileBisect]]: the per-group probe
    * midpoints ship as a group-keyed reference map whose size (and the
    * round histogram's collect) is O(groups × fan) — dimension-sized
    * group-bys (the operator's contract) stay small under the
    * [[GroupBisectMidBudget]]; a corpus-sized grouping would blow the
    * driver bootstrap collect and put per-group selection in the
    * regime where [[graft.Ranks.groupedRowNumber]] (the two-pass
    * distributed rank) is the right tool, so past the cap the operator
    * THROWS with that pointer rather than degrading.
    */
  private[graft] val GroupBisectMaxGroups = 64

  /** §2.2 q_group_quantile_bisect: EXACT per-group order statistics
    * (p50/p90/p99 of lineitem price per return flag) without a sort —
    * the GROUPED extension of [[qQuantileBisect]]'s driver-coordinated
    * bisection, and a plan shape nothing else in the suite has: one
    * map-side-combined GROUPED bucket count per round whose probe
    * midpoints are GROUP-DEPENDENT (a group-keyed binary-search map
    * over the dimension-sized group set —
    * [[org.apache.spark.sql.graft.BisectBucket]]), so every group's
    * three brackets split in the same pass. The standard per-group
    * alternative — a ranking window partitioned by group — sorts every
    * group's full population; this pays O(log_fan domain) counting
    * scans TOTAL (fan adaptive under [[GroupBisectMidBudget]]),
    * independent of group count, and lands exact values, not
    * approx_percentile estimates. At 100 TB: 2–3 cheap scans of a
    * cached 2-column relation vs a corpus-wide partitioned sort.
    *
    * Exactness: identical to the ungrouped operator — integer cents,
    * the invariant count_g(≤lo) < k_g ≤ count_g(≤hi) pins hi to the
    * smallest existing group value with count ≥ k, k = ⌈q·n_g⌉ in
    * integer arithmetic, one final cents→double division. The round
    * cap THROWS (64 halvings cover any 64-bit domain — a logic error,
    * never a truncation), as does the [[GroupBisectMaxGroups]] cap.
    */
  def qGroupQuantileBisect(spark: SparkSession, dir: String): DataFrame =
    groupQuantileBisectCore(
      Tables.lineitem(spark, dir)
        .select(col("l_returnflag").as("grp"),
          (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
            .cast("bigint").as("v")))
      .select(col("pct"), col("grp").as("l_returnflag"), col("k"),
        col("n_rows"), col("value_cents"), col("value"))
      .orderBy(col("l_returnflag"), col("pct"))

  /** The bracket search of both quantile operators over an explicit
    * (grp: string, v: bigint) relation ([[quantileBisectCore]] is one
    * constant group) — factored so the spec can drive the shapes the
    * shipped corpus never produces: full-width 64-bit brackets
    * (overflow-safe [[bisectMid]]/[[bisectOpen]]), the Long.MinValue
    * sentinel and null-domain guards, null group keys and the 64-group
    * cap, each failing loud instead of spinning to the round cap.
    *
    * The rounds run through [[graft.Barriers.fixpoint]] as loop
    * `quantile-bisect`, `Budget(64)`: 64 halvings cover any 64-bit
    * domain even at binary width, so reaching it is a logic error, never
    * a truncation. A round reports the brackets still open; a round
    * with none open returns without a job, so brackets that close at
    * bootstrap (single-value groups) cost no round job.
    */
  private[graft] def groupQuantileBisectCore(rows0: DataFrame,
      fan: Int = GroupBisectFan): DataFrame = scoped {
    val spark = rows0.sparkSession
    import spark.implicits._
    val (rows, _) = materialize(rows0)
    val gstats = rows.groupBy(col("grp"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
        count(lit(1)).as("n"), count(col("v")).as("nv"))
      .collect() // dimension-sized by contract (cap below)
    require(gstats.length <= GroupBisectMaxGroups,
      s"quantile bisection: ${gstats.length} groups exceed the " +
        s"$GroupBisectMaxGroups-group probe-literal cap — per-group " +
        "selection over corpus-sized groupings belongs to " +
        "Ranks.groupedRowNumber (two-pass distributed rank), not a " +
        "driver-coordinated bracket search")
    if (gstats.isEmpty) {
      return spark.emptyDataFrame
        .select(lit("").as("pct"), lit("").as("grp"),
          lit(0L).as("k"), lit(0L).as("n_rows"),
          lit(0L).as("value_cents"), lit(0.0).as("value")).limit(0)
    }
    // contract guards, loud (never a spin to the round cap): a null v
    // makes count(v <= probe) undercount k forever; a Long.MinValue
    // group minimum has no exclusive lower sentinel in 64 bits
    gstats.foreach { r =>
      require(r.getLong(4) == r.getLong(3),
        s"quantile bisection: group '${r.getString(0)}' has " +
          s"${r.getLong(3) - r.getLong(4)} null values in the bisection " +
          "domain — probe counts would undercount k and the bracket " +
          "search could never close; filter or impute nulls first")
      require(r.getLong(1) > Long.MinValue,
        s"quantile bisection: group '${r.getString(0)}' minimum is " +
          "Long.MinValue — the exclusive lower sentinel vmin - 1 does " +
          "not exist in 64 bits; shift or rescale the value domain")
    }
    def ceilDiv(a: Long, b: Long) = (a + b - 1) / b
    // fan 0 = adaptive: the widest split that keeps the round's total
    // midpoint count within [[GroupBisectMidBudget]] (see
    // [[GroupBisectFan]]); an explicit fan is honored verbatim
    val effFan = if (fan > 0) fan
      else math.max(8, math.min(BisectFan,
        GroupBisectMidBudget / (3 * gstats.length) + 1))
    // one bracket per (group, percentile), invariant
    // count_g(≤lo) < k ≤ count_g(≤hi), split effFan-ary
    final case class Bracket(grp: String, pct: String, k: Long, n: Long,
        lo: Long, hi: Long) {
      def open: Boolean = bisectOpen(lo, hi)
    }
    val pcts = Seq("p50" -> ((n: Long) => ceilDiv(n, 2)),
      "p90" -> ((n: Long) => ceilDiv(9 * n, 10)),
      "p99" -> ((n: Long) => ceilDiv(99 * n, 100)))
    val brackets0 = gstats.toSeq.flatMap { r =>
      val (g, mn, mx, n) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      pcts.map { case (p, kf) => Bracket(g, p, kf(n), n, mn - 1, mx) }
    }
    val (brackets, _) = graft.Barriers.fixpoint("quantile-bisect",
        Budget(64))(brackets0) { (brackets, _) =>
      if (!brackets.exists(_.open)) Round(brackets, 0)
      else {
        // BUCKETIZED round (r17): every open bracket's midpoints merge
        // into its GROUP's sorted probe array, rows bucketize by one
        // binary search ([[graft.functions.GraftFunctions.bisectBucket]]
        // — a null group key is a first-class map key, preserving the
        // r15 <=> null-group contract), and ONE grouped count per round
        // replaces the per-probe conditional-sum slots: count_g(v ≤ m)
        // falls out of the group's cumulative bucket sums. Per-row cost
        // is O(log probes), so the fan can be wide (see [[BisectFan]])
        // and per-round cost does not grow with the group count.
        val shipped = brackets.map(b =>
          if (b.open) (1 until effFan).map(bisectMid(b.lo, b.hi, _, effFan))
          else IndexedSeq.empty[Long])
        val midsByGrp: Seq[(Option[String], Array[Long])] =
          brackets.zip(shipped).filter(_._1.open)
            .groupBy(bs => Option(bs._1.grp)).toSeq
            .map { case (g, bs) =>
              (g, bs.flatMap(_._2).distinct.sorted.toArray)
            }
        val res = rows
          .groupBy(col("grp"),
            GraftFunctions.bisectBucket(col("grp"), col("v"), midsByGrp)
              .as("b"))
          .agg(count(lit(1)).as("c")).collect()
        val rowsByGrp = res.groupBy(r => Option(r.getString(0)))
        val countLeByGrp: Map[Option[String], Long => Long] = midsByGrp
          .map { case (g, m) =>
            val cum = new Array[Long](m.length)
            rowsByGrp.getOrElse(g, Array.empty[org.apache.spark.sql.Row])
              .foreach { r =>
                val i = r.getInt(1)
                // bucket |m| (v above every probe) feeds no count(≤ mid)
                if (i >= 0 && i < cum.length) cum(i) = r.getLong(2)
              }
            var ci = 0
            var run = 0L
            while (ci < cum.length) { run += cum(ci); cum(ci) = run; ci += 1 }
            g -> ((mid: Long) => cum(java.util.Arrays.binarySearch(m, mid)))
          }.toMap
        val next = brackets.zip(shipped).map { case (b, ms) =>
          if (!b.open) b
          else {
            val countLe = countLeByGrp(Option(b.grp))
            // valid = strictly interior midpoints, deduplicated (a narrow
            // bracket repeats midpoints); counts are monotone across them
            val valid = ms.filter(m => m > b.lo && m < b.hi).distinct
              .map(m => (m, countLe(m)))
            valid.indexWhere(_._2 >= b.k) match {
              case -1 => if (valid.isEmpty) b else b.copy(lo = valid.last._1)
              case 0 => b.copy(hi = valid(0)._1)
              case i => b.copy(lo = valid(i - 1)._1, hi = valid(i)._1)
            }
          }
        }
        Round(next, next.count(_.open).toLong,
          s"mids=${midsByGrp.map(_._2.length).sum}")
      }
    }
    brackets
      .map(b => (b.pct, b.grp, b.k, b.n, b.hi, b.hi.toDouble / 100.0))
      .toDF("pct", "grp", "k", "n_rows", "value_cents", "value")
      .orderBy(col("grp"), col("pct"))
  }

  /** §2.2 q14_promo_share: TPC-H Q14-style conditional-aggregate ratio —
    * promo revenue share of total, both terms accumulated exact-decimal in
    * ONE pass (a conditional sum, not two scans), single fp division at
    * the end. The part join is SF-proportional on both sides → AQE picks
    * the strategy.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-07-01 00:00:00"))
    val p = Tables.part(spark, dir)
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        (sum(when(col("p_type") === "PROMO", discPrice)
            .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") * 100.0 /
          sum(discPrice).cast("double")).as("promo_share_pct"),
        count(lit(1)).as("n_items"))
  }

  /** §2.2 q19_disjunctive: TPC-H Q19-style OR-of-ANDs predicate join —
    * three disjoint (brand, size-band, quantity-band) branches. The
    * disjunction sits in the JOIN condition beside the equi-key, so Spark
    * plans an equi-join with the residual OR as a post-join filter —
    * exercising exactly the predicate shape optimizers mishandle.
    */
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val branch1 = col("p_brand") === "Brand#1" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 11)
    val branch2 = col("p_brand") === "Brand#7" &&
      col("p_size").between(10, 30) && col("l_quantity").between(10, 20)
    val branch3 = col("p_brand") === "Brand#13" &&
      col("p_size").between(20, 50) && col("l_quantity").between(20, 30)
    l.join(p, col("l_partkey") === col("p_partkey") &&
        (branch1 || branch2 || branch3))
      .agg(sum(discPrice).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** §2.2 q12_priority_class: TPC-H Q12-style two-class conditional counts
    * — urgent/high vs other order priorities per returnflag, one shuffle,
    * conditional aggregation instead of two passes.
    */
  def q12PriorityClass(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
    val o = Tables.orders(spark, dir)
    val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!urgent, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_returnflag"))
  }

  /** §2.2 q_events_json_props: schema-declared JSON parsing of the props
    * column (`from_json`, not inference — the 100 TB posture: one declared
    * schema, no sampling pass) + aggregation on the extracted field.
    */
  def qEventsJsonProps(spark: SparkSession, dir: String): DataFrame = {
    val propsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    Tables.events(spark, dir)
      .select(col("event_type"),
        from_json(col("props"), propsSchema).getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  /** §2.2 q22_above_avg_idle: TPC-H Q22-style scalar-subquery filter —
    * customers above the GLOBAL average balance with no recent orders.
    * The average is a broadcast scalar (one tiny agg feeding a cross
    * predicate), the idleness test a left-anti join; at warehouse scale
    * the scalar side never shuffles the fact.
    */
  def q22AboveAvgIdle(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    // exact-decimal global average surfaced as one scalar row
    val avgBal = c.agg(
      (sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double") /
        count(lit(1))).as("avg_bal"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= ts("1997-06-01 00:00:00"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** §2.2 q7_volume_shipping: TPC-H Q7-style bilateral trade volume — the
    * dual-role dimension shape (nation joined twice under different roles).
    * Both nation sides are filtered to the two trading partners BEFORE the
    * broadcast joins (25-row dim → 2 rows), the cross-pair residual runs
    * after; facts shuffle once on orderkey.
    */
  def q7VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val partners = Seq("NATION_3", "NATION_7")
    val n1 = Tables.nation(spark, dir).filter(col("n_name").isin(partners: _*))
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir).filter(col("n_name").isin(partners: _*))
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("bigint").as("l_year"))
      .agg(sum(discPrice).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** §2.2 q8_market_share: TPC-H Q8-style market-share-within-group ratio —
    * one supplier nation's share of a region's revenue per order year. Both
    * revenue terms accumulate exact-decimal in ONE conditional pass (no
    * second scan); the region-restricted customer-nation list and the
    * 25-row supplier-nation dim broadcast.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    val euroNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "EUROPE")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("c_nkey"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1998-01-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(euroNations), col("c_nationkey") === col("c_nkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
      .agg(
        (sum(when(col("supp_nation") === "NATION_3", discPrice)
            .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") /
          sum(discPrice).cast("double")).as("mkt_share"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_year"))
  }

  /** §2.2 q10_returned_items: TPC-H Q10-style returned-item revenue ranking
    * — top 20 customers by lost revenue in a quarter. Fact-fact join
    * shuffles once on orderkey; customer join is AQE-planned; nation is a
    * broadcast dim; bounded top-N with unique tie-break.
    */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
        col("o_orderdate") < ts("1997-04-01 00:00:00"))
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(discPrice).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** §2.2 q13_order_count_dist: TPC-H Q13-style customer order-count
    * distribution — the outer-join + double-aggregation shape (customers
    * with zero orders must survive into the histogram). Two inherent
    * shuffles: custkey, then the tiny count-of-counts.
    */
  def q13OrderCountDist(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select(col("o_custkey"), col("o_orderkey"))
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** §2.2 q15_top_supplier: TPC-H Q15-style argmax-over-aggregate — the
    * supplier(s) whose quarterly revenue equals the global maximum. The
    * per-supplier aggregate computes once; its 1-row max broadcasts back as
    * an equality filter (exact: both sides surface the identical
    * decimal-summed double). No window over the full aggregate, no rescan.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1997-04-01 00:00:00"))
      .groupBy(col("l_suppkey"))
      .agg(sum(discPrice).cast("double").as("total_revenue"))
    val maxRev = rev.agg(max(col("total_revenue")).as("mx"))
    rev.join(broadcast(maxRev), col("total_revenue") === col("mx"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** §2.2 q17_small_qty_revenue: TPC-H Q17-style correlated per-group
    * average — revenue from orders below 20% of the part's average
    * quantity. The brand filter shrinks the part side first (AQE
    * broadcasts it at any SF where it fits); the per-part average joins
    * back on partkey — both passes shuffle on the same key, so AQE reuses
    * co-partitioning. The average is the exact-decimal-sum/count form, so
    * the 0.2× threshold is bit-identical across engines.
    */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#4").select(col("p_partkey"))
    val flt = Tables.lineitem(spark, dir)
      .join(p, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val avgq = flt.groupBy(col("l_partkey"))
      .agg((sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") /
        count(lit(1))).as("avg_qty"))
    flt.join(avgq, Seq("l_partkey"))
      .filter(col("l_quantity") < col("avg_qty") * 0.2)
      .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  /** §2.2 q18_large_orders: TPC-H Q18-style having-filtered IN-subquery —
    * orders whose total quantity exceeds a threshold, with their customers.
    * The groupBy(orderkey) aggregate IS the subquery (no second lineitem
    * scan); the surviving ~0.1% of orders join orders/customer AQE-planned.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 300.0)
    big.join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("orderdate"), col("o_totalprice"),
        col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** §2.2 q21_late_sole_supplier: TPC-H Q21-style stacked EXISTS / NOT
    * EXISTS — suppliers who were the ONLY late shipper on a multi-supplier
    * order (late = shipped >60 days after order date; the testdata carries
    * no receipt/commit dates). Lineitems collapse to one row per
    * (order, supplier) FIRST — the exists/not-exists self-joins then run on
    * the collapsed relation, all shuffling on the same orderkey, never on
    * raw lineitems.
    */
  def q21LateSoleSupplier(spark: SparkSession, dir: String): DataFrame = {
    // cached: the collapsed relation feeds two consumers (the order stats
    // and the late filter); without it the lineitem⋈orders aggregate
    // would compute twice. The harness clears the cache between queries
    // so nothing lingers across the session (the r3 bench's 49s
    // dedup_cluster reading was THIS relation squatting in the
    // CacheManager for the remaining 50+ queries).
    val (pairs, _) = materialize(Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1).otherwise(0))
        .as("late")))
    // The stacked EXISTS/NOT-EXISTS collapses to one per-order aggregate:
    // a waiting supplier is LATE on an order that has ≥ 2 suppliers and
    // EXACTLY ONE late supplier (itself) — "another supplier exists" ⇔
    // n_supp ≥ 2, "no OTHER supplier is late" ⇔ n_late = 1 given late = 1.
    // One shuffle for the order stats + one co-partitioned join replaces
    // the former semi + anti self-join pair (four exchanges of the
    // collapsed relation → two).
    val stats = pairs.groupBy(col("l_orderkey").as("ok"))
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"))
    pairs.filter(col("late") === 1)
      .join(stats, col("l_orderkey") === col("ok"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
  }

  /** §2.2 q_events_funnel: sequential-stage funnel — per user, the first
    * view, the first click AFTER that view, and the first purchase AFTER
    * that click (strict event-order semantics, not mere presence). Three
    * conditional-min aggregations all shuffling on user_id — AQE reuses
    * the co-partitioning; stage joins are left-outer so every viewing
    * user appears with the stage it reached.
    */
  def qEventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tus")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("tus") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("tus")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("tus") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("tus")).as("p_ts"))
    v.join(c, Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .select(col("user_id"), col("v_ts"), col("c_ts"), col("p_ts"),
        (lit(1L) + when(col("c_ts").isNotNull, 1L).otherwise(0L) +
          when(col("p_ts").isNotNull, 1L).otherwise(0L)).as("stage"))
      .orderBy(col("user_id"))
  }

  /** §2.2 q_events_retention: cohort retention — users grouped by their
    * first-activity day, counted again on each of the next 7 days they
    * return (the growth-analytics triangle). Two aggregations on user_id
    * (first day, then distinct activity) co-partition; the final
    * (cohort, offset) rollup is tiny. No per-day rescan of the events
    * table.
    */
  def qEventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val activity = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohort = activity.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    activity.join(cohort, Seq("user_id"))
      .withColumn("day_offset",
        datediff(col("day"), col("cohort_day")).cast("bigint"))
      .filter(col("day_offset").between(0, 7))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** §2.2 q_events_deciles: equal-frequency decile banding per event type
    * (`ntile` semantics — the remaining ranking-window family member).
    * The order inside each type carries a unique tie-break so bucket
    * boundaries are deterministic.
    *
    * Scale shape: a per-type `ntile` window owns corpus/|types| rows per
    * partition — unbounded, and a hot type funnels through one task. The
    * rank is instead the two-pass distributed assignment
    * ([[graft.Ranks.groupedRowNumber]]: ONE range sort over (type, value,
    * id) with every partition bounded n/P, per-type offsets/sizes back by
    * broadcast), and the decile band is a map-side integer expression;
    * then the tiny ≤|types|×10 rollup.
    */
  def qEventsDeciles(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
    graft.Ranks.groupedRowNumber(ev, col("event_type"), "rk", "tn",
        col("value"), col("event_id"))
      .withColumn("decile", graft.Ranks.ntileOf(col("rk"), col("tn"), 10))
      .groupBy(col("event_type"), col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .orderBy(col("event_type"), col("decile"))
  }

  /** §2.2 q_dq_audit: declarative data-quality audit — referential
    * integrity (orphan anti-joins), domain ranges, and null checks as ONE
    * result relation of (check, n_bad). Each check is an independent
    * pushed-filter scan or anti-join; a healthy warehouse returns all
    * zeros, and the union is five 1-row aggregates, so the audit costs a
    * handful of pruned scans regardless of warehouse size.
    */
  def qDqAudit(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    def check(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_bad"))
        .select(lit(name).as("check_name"), col("n_bad"))
    check("customer_null_name", c.filter(col("c_name").isNull))
      .unionAll(check("lineitem_discount_range",
        l.filter(col("l_discount") < 0.0 || col("l_discount") > 1.0)))
      .unionAll(check("lineitem_orphan_order",
        l.select(col("l_orderkey"))
          .join(o.select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")))
      .unionAll(check("orders_nonpositive_total",
        o.filter(col("o_totalprice") <= 0.0)))
      .unionAll(check("orders_orphan_customer",
        o.select(col("o_custkey"))
          .join(c.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")))
      .orderBy(col("check_name"))
  }

  /** §2.2 q_snapshot_diff: CDC-style snapshot reconciliation — the
    * full-outer-join diff classifying every key as added / removed /
    * changed / same between two snapshot windows (the "what moved between
    * loads" audit every incremental warehouse needs). One co-partitioned
    * full-outer join on the key, then a tiny status rollup. The "new"
    * snapshot carries a deterministic synthetic mutation on odd keys so
    * every status class is exercised.
    */
  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("value"))
    val old = e.filter(col("ts") < ts("2024-01-15 00:00:00"))
      .select(col("event_id").as("k_old"), col("value").as("v_old"))
    val neu = e.filter(col("ts") >= ts("2024-01-10 00:00:00"))
      .select(col("event_id").as("k_new"),
        (col("value") + (col("event_id") % 2).cast("double")).as("v_new"))
    old.join(neu, col("k_old") === col("k_new"), "full_outer")
      .select(when(col("k_old").isNull, "added")
        .when(col("k_new").isNull, "removed")
        .when(col("v_old") =!= col("v_new"), "changed")
        .otherwise("same").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status"))
  }

  /** §2.2 q_events_anomaly: z-score outlier counts per event type. The
    * moments accumulate in exact DECIMAL (sum and sum-of-squares — the
    * 4dp values and their 8dp squares are exactly representable), so
    * mean/std derive from identical doubles on both engines (IEEE sqrt is
    * correctly rounded — deterministic); the per-row |v−μ| > 2σ test then
    * compares bit-identical quantities. One stats pass + one broadcast-
    * stats scan — never a self-join on the fact.
    */
  def qEventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val vdec = col("value").cast(DecimalType(18, 4))
    val stats = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(vdec).as("s1"),
        sum(vdec * vdec).as("s2"))
      .select(col("event_type"), col("n"),
        (col("s1").cast("double") / col("n")).as("mean"),
        sqrt((col("s2").cast("double") / col("n")) -
          (col("s1").cast("double") / col("n")) *
          (col("s1").cast("double") / col("n"))).as("std"))
    Tables.events(spark, dir)
      .join(broadcast(stats), Seq("event_type"))
      .groupBy(col("event_type"), col("n"), col("mean"), col("std"))
      .agg(sum(when(abs(col("value") - col("mean")) > col("std") * 2.0, 1L)
        .otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n"), round(col("mean"), 6).as("mean"),
        round(col("std"), 6).as("std"), col("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** §2.2 q_events_changepoint: per-series mean-shift detection — the
    * offline CUSUM split statistic D_k = n·S_k − k·T (S_k the prefix sum
    * at position k, T the series total), maximized over split positions:
    * argmax |D_k| is the classic single-changepoint estimate, reported
    * per event_type with its position and timestamp. Arithmetic is EXACT
    * end to end: 4dp values scale to integer units, prefix/total sums
    * and the n·S − k·T cross-multiplication stay in BIGINT (|D| ≤
    * n²·max|v|·10⁴ ≈ 10¹⁷ per type at sf0.1, under the 9.2·10¹⁸
    * ceiling; at larger SFs the same formula lifts to DECIMAL(38,0)
    * unchanged), and the argmax tie-breaks on the earliest position — no
    * float ever decides a row. Scale shape: ONE shuffle partitioned by
    * event_type; the running-sum, partition-total, and argmax windows
    * all share it (per-key sequential scan is inherent to CUSUM — the
    * partition key is the parallelism unit, never a global window).
    */
  def qEventsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    val scored = Tables.events(spark, dir)
      .select(col("event_type"), col("ts"), col("event_id"),
        (col("value").cast(DecimalType(18, 4)) * 10000).cast("long").as("vu"))
      .select(col("event_type"), col("ts"), col("event_id"),
        row_number().over(wOrd).as("k"),
        sum(col("vu")).over(wOrd).as("sk"),
        sum(col("vu")).over(wAll).as("t"),
        count(lit(1)).over(wAll).as("n"))
      .filter(col("k") < col("n"))
      .select(col("event_type"), col("n"), col("k"),
        unix_micros(col("ts")).as("tus"),
        abs(col("n") * col("sk") - col("k") * col("t")).as("dabs"))
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("dabs").desc, col("k").asc)
    scored.withColumn("rn", row_number().over(wRank))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("n"), col("k").as("split_pos"),
        col("tus").as("split_ts_us"), col("dabs").as("dmax_units"))
      .orderBy(col("event_type"))
  }

  /** §2.2 q_events_groupsets: explicit GROUPING SETS with grouping_id —
    * the custom-subtotal-combination shape rollup/cube can't express
    * ((type), (hour), ()) without the unwanted (type, hour) set. Declared
    * through the SQL surface over [[graft.Tables.registerAll]] views (one
    * Expand + one aggregate, same plan family as rollup/cube).
    */
  def qEventsGroupsets(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    spark.sql(
      """SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
             CAST(grouping(event_type) * 2 + grouping(hour(ts)) AS BIGINT)
               AS gid,
             count(*) AS n
         FROM events
         GROUP BY GROUPING SETS ((event_type), (hour(ts)), ())
         ORDER BY gid, event_type, hr""")
  }

  /** §2.2 q11_revenue_share: TPC-H Q11-style HAVING against a global
    * scalar — suppliers whose revenue exceeds a fixed fraction of TOTAL
    * revenue. The per-supplier aggregate computes once; the 1-row global
    * total re-aggregates the SAME relation and broadcasts back as the
    * HAVING bound (never a second lineitem scan).
    */
  def q11RevenueShare(spark: SparkSession, dir: String): DataFrame = {
    // both sums stay DECIMAL until the final compare: a double total over
    // per-supplier doubles would be summation-order-dependent
    val perSupp = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(sum(discPrice).as("rev_dec"))
    val total = perSupp.agg(sum(col("rev_dec")).as("total_dec"),
      count(lit(1)).as("n_supp"))
    // bound = 1.02× the MEAN supplier revenue: selects a stable fraction
    // of suppliers at ANY scale factor (a fixed share-of-total bound
    // degenerates to zero rows as the supplier count grows)
    perSupp.crossJoin(broadcast(total))
      .filter(col("rev_dec").cast("double") >
        col("total_dec").cast("double") / col("n_supp") * 1.02)
      .select(col("l_suppkey"), col("rev_dec").cast("double").as("supp_revenue"))
      .orderBy(col("supp_revenue").desc, col("l_suppkey"))
  }

  /** §2.2 q_customer_first_last: first/last-record extraction — each
    * customer's earliest and latest order with their prices (the
    * attribute-of-the-extremum shape plain min/max can't give you).
    * ONE scan, ONE map-side-combined aggregation: min/max over a
    * lexicographically ordered (date, key, price) struct carry the whole
    * extremum row through the shuffle — no windows, no self-joins, no
    * re-scan per direction (the window formulation costs three scans of
    * orders; struct-extremum aggregation is the 100 TB form).
    */
  def qCustomerFirstLast(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        min(struct(col("o_orderdate"), col("o_orderkey"), col("o_totalprice")))
          .as("f"),
        max(struct(col("o_orderdate"), col("o_orderkey"), col("o_totalprice")))
          .as("l"))
      .select(col("o_custkey"), col("n_orders"),
        to_date(col("f.o_orderdate")).as("first_date"),
        col("f.o_totalprice").as("first_price"),
        to_date(col("l.o_orderdate")).as("last_date"),
        col("l.o_totalprice").as("last_price"))
      .orderBy(col("o_custkey"))

  /** §2.2 q_user_setops: INTERSECT / EXCEPT over user sets — the set-
    * operator family (Catalyst plans them as semi/anti joins over
    * distincts). Counts users who both clicked and purchased, clicked but
    * never purchased, and purchased without clicking.
    */
  def qUserSetops(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def users(t: String) =
      e.filter(col("event_type") === t).select(col("user_id"))
    def one(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(name).as("relation"), col("n_users"))
    one("click_and_purchase", users("click").intersect(users("purchase")))
      .unionAll(one("click_not_purchase",
        users("click").except(users("purchase"))))
      .unionAll(one("purchase_not_click",
        users("purchase").except(users("click"))))
      .orderBy(col("relation"))
  }

  /** §2.2 q_orders_mom: month-over-month revenue growth — the standing
    * finance dashboard. Revenue aggregates decimal-exact per month
    * (map-side combined over one scan); the lag window then runs over the
    * MONTH relation — rows bounded by the calendar, never by order volume
    * — so the unpartitioned window is a deliberate tiny-relation choice,
    * not a scale bug. Growth is one double division of exact decimals.
    */
  def qOrdersMom(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("month"))
    Tables.orders(spark, dir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
      .withColumn("prev_rev", lag(col("rev"), 1).over(w))
      .select(col("month"), col("n_orders"),
        col("rev").cast("double").as("revenue"),
        when(col("prev_rev").isNotNull,
          round((col("rev") - col("prev_rev")).cast("double")
            / col("prev_rev").cast("double"), 6)).as("mom_growth"))
      .orderBy(col("month"))
  }

  /** Tail size for [[qOrdersHillTail]] — part of the graded definition:
    * the estimator runs on the k largest order totals against the
    * (k+1)-th as the threshold. */
  private[graft] val HillTailK = 200

  /** §2.2 q_orders_hill_tail: the Hill tail-index estimator (Hill 1975)
    * over the order-value distribution — α̂ = k / Σᵢ ln(xᵢ/x₍ₖ₊₁₎) on
    * the k = 200 largest totals: "how heavy is the whale tail", the
    * power-law screen run before trusting mean-based revenue forecasts
    * (the parametric sibling of q_events_gini's concentration curve).
    * Reports k, the threshold, the log-sum, α̂, and its asymptotic
    * standard error α̂/√k.
    *
    * Float discipline, cross-engine exact: membership and ranking are
    * decided on exact DECIMAL(15,2) totals with the unique order key
    * as tie-break (no float ever ranks); each ln argument is the
    * double ratio of two exactly-represented cents values computed in
    * the identical cast/divide order; the log-sum is a rank-ordered
    * sequential fold (d2/list_reduce pattern); α̂ and its SE are single
    * divisions landing at 6dp.
    *
    * Scale shape: the only fact-table touch is a bounded TakeOrdered
    * of k+1 rows (never a global sort); the rank window and fold run
    * on that 201-row relation.
    */
  def qOrdersHillTail(spark: SparkSession, dir: String): DataFrame = {
    val k = HillTailK
    val top = Tables.orders(spark, dir)
      .select(col("o_totalprice").as("x"), col("o_orderkey"))
      .orderBy(col("x").desc, col("o_orderkey"))
      .limit(k + 1)
    val w = Window.orderBy(col("x").desc, col("o_orderkey"))
    val ranked = top.withColumn("rn", row_number().over(w))
    val thr = ranked.filter(col("rn") === k + 1)
      .select(col("x").as("xmin"))
    val logs = ranked.filter(col("rn") <= k)
      .crossJoin(broadcast(thr))
      .select(col("rn"),
        log(col("x").cast("double") / col("xmin").cast("double")).as("lx"),
        col("xmin"))
    logs
      .groupBy(col("xmin"))
      .agg(sort_array(collect_list(struct(col("rn"), col("lx")))).as("lst"))
      .select(col("xmin"),
        aggregate(col("lst"), lit(0.0), (a, s) => a + s.getField("lx"))
          .as("slog"))
      .select(lit(k.toLong).as("k"),
        col("xmin").cast("double").as("threshold"),
        round(col("slog"), 6).as("sum_log"),
        round(lit(k.toDouble) / col("slog"), 6).as("alpha"),
        round((lit(k.toDouble) / col("slog")) / sqrt(lit(k.toDouble)), 6)
          .as("alpha_se"))
  }

  /** §2.2 q_events_dow_profile: day-of-week × hour activity heatmap — the
    * traffic-shape dashboard. Pure integer date parts from the timestamp,
    * one map-side-combined aggregate; output bounded at 7×24 rows.
    */
  def qEventsDowProfile(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(dayofweek(col("ts")).cast("bigint").as("dow"),
        hour(col("ts")).cast("bigint").as("hr"),
        col("value").cast(DecimalType(18, 4)).as("v"))
      .groupBy(col("dow"), col("hr"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v")).cast("double").as("sum_value"))
      .orderBy(col("dow"), col("hr"))

  /** §2.2 q_events_mutual_info: mutual information between event type
    * and day-of-week — "does traffic shape depend on the weekday", the
    * dependence screen run before building per-day models (the
    * continuous cousin of q_part_chi2's independence test): MI =
    * Σ (c/N)·ln(cN/(c_x·c_y)) in nats, both marginal entropies, and
    * the normalized MI/√(H_x·H_y).
    *
    * Float discipline, cross-engine exact: every ln argument is a
    * ratio of exact BIGINT products (cN, c_x·c_y — contingency counts,
    * no float enters a log), and EVERY aggregation over cells is a
    * (x, y)-sorted sequential fold (the d2/list_reduce pattern), so
    * both engines add identical doubles in identical order before the
    * single 6dp landings; √ is IEEE-correctly-rounded on both.
    *
    * Scale shape: ONE map-side-combined aggregate collapses the fact
    * table to ≤ |types|·7 cells; marginals, totals, and folds all run
    * on that bounded relation (persisted + eagerly counted — four
    * consumers); output is a single row.
    */
  def qEventsMutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val (cells, _) = materialize(Tables.events(spark, dir)
      .select(col("event_type").as("x"),
        dayofweek(col("ts")).cast("bigint").as("y"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c")))
    val tot = cells.agg(sum(col("c")).as("n"),
      count(lit(1)).as("n_cells"))
    val cx = cells.groupBy(col("x")).agg(sum(col("c")).as("cx"))
    val cy = cells.groupBy(col("y")).agg(sum(col("c")).as("cy"))
    val t = cells.join(cx, Seq("x")).join(cy, Seq("y"))
      .crossJoin(broadcast(tot))
      .select(col("x"), col("y"), col("n"), col("n_cells"),
        (col("c").cast("double") *
          log((col("c") * col("n")).cast("double") /
            (col("cx") * col("cy")).cast("double"))).as("t"))
    val mi = t.groupBy(col("n"), col("n_cells"))
      .agg(sort_array(collect_list(struct(col("x"), col("y"), col("t"))))
        .as("lst"))
      .select(col("n"), col("n_cells"),
        aggregate(col("lst"), lit(0.0), (a, s) => a + s.getField("t"))
          .as("smi"))
    def marginalFold(m: DataFrame, key: String, out: String) = m
      .select(col(key), (col("c" + key.head).cast("double") *
        log(col("c" + key.head).cast("double"))).as("v"))
      .agg(sort_array(collect_list(struct(col(key), col("v")))).as("lst"))
      .select(aggregate(col("lst"), lit(0.0), (a, s) => a + s.getField("v"))
        .as(out))
    val nd = col("n").cast("double")
    val hxr = log(nd) - col("sx") / nd
    val hyr = log(nd) - col("sy") / nd
    mi.crossJoin(broadcast(marginalFold(cx, "x", "sx")))
      .crossJoin(broadcast(marginalFold(cy, "y", "sy")))
      .select(col("n").as("n_events"), col("n_cells"),
        round(col("smi") / nd, 6).as("mi_nats"),
        round(hxr, 6).as("h_type"),
        round(hyr, 6).as("h_dow"),
        round((col("smi") / nd) / sqrt(hxr * hyr), 6).as("nmi"))
  }

  /** §2.2 q_events_crosscorr: the click→purchase lead-lag correlogram —
    * Pearson correlation between daily click counts and purchase counts
    * L days LATER, for L = 0..7 (the "how long does demand take to
    * convert" panel beside q_events_autocorr's self-correlation). Both
    * series are zero-filled over the full day spine so gaps don't
    * silently shift alignment; each lag correlates over the overlapping
    * days only, as correlograms do.
    *
    * Cross-engine exactness: the series are exact integer counts on a
    * deterministic date spine; corr's moment aggregates are
    * order-insensitive at the 6dp landing for integer inputs (the
    * q_nvd_score_corr precedent — moments of small-magnitude exact
    * inputs), and every output row is keyed by its lag, never ranked by
    * a float.
    *
    * Scale shape: ONE map-side-combined aggregate collapses the fact to
    * ≤ |days| rows; the spine join, the 8-way lag replication
    * (broadcast literal relation), the shifted self-join, and the
    * per-lag moments all run on that bounded relation.
    */
  def qEventsCrosscorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(to_date(col("ts")).as("day"), col("event_type"))
      .groupBy(col("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val (s, _) = materialize(spine.join(daily, Seq("day"), "left_outer")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"),
        coalesce(col("y"), lit(0L)).as("y")))
    val lags = spark.range(0, 8).select(col("id").cast("int").as("lag"))
    s.select(col("day"), col("x"))
      .crossJoin(broadcast(lags))
      .select(col("x"), col("lag"), expr("date_add(day, lag)").as("tday"))
      .join(s.select(col("day").as("tday"), col("y")), Seq("tday"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sum_clicks"),
        sum(col("y")).as("sum_purchases"),
        round(corr(col("x"), col("y")), 6).as("corr_xy"))
      .select(col("lag").cast("bigint").as("lag_days"), col("n_days"),
        col("sum_clicks"), col("sum_purchases"), col("corr_xy"))
      .orderBy(col("lag_days"))
  }

  /** §2.2 q_events_tail_dependence: upper-tail dependence between
    * daily click and purchase volumes — χ̂ = P(Y > q_Y | X > q_X) at
    * the empirical 80th percentile, against the independence baseline
    * P(Y > q_Y): "do extreme traffic days and extreme purchase days
    * COINCIDE", the co-movement question Pearson correlation
    * (q_events_crosscorr) cannot answer because it averages over the
    * whole distribution (Coles 2001 §8's χ statistic, empirical form).
    *
    * INTEGER-exact: both thresholds are order statistics picked by
    * exact integer rank over the (count, day) total order — no
    * interpolated quantile; exceedance flags, joint counts, and both
    * ratios' numerators/denominators are BIGINTs; two divisions land
    * 6dp; the lift is their double quotient in fixed order.
    *
    * Scale shape: ONE combined aggregate collapses the fact to
    * ≤ |days| rows; ranks are windows over that bounded relation; the
    * reducer is a 1-row aggregate.
    */
  def qEventsTailDependence(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(to_date(col("ts")).as("day"), col("event_type"))
      .groupBy(col("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    // empirical q80 by exact rank over the (value, day) total order:
    // a day exceeds when strictly more than 80% of days rank at or
    // below it — both engines pick the identical threshold row
    val wx = Window.orderBy(col("x"), col("day"))
    val wy = Window.orderBy(col("y"), col("day"))
    val ranked = daily
      .withColumn("rx", row_number().over(wx))
      .withColumn("ry", row_number().over(wy))
    ranked
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n"))))
      .select(col("n"),
        when(col("rx") * 5L > col("n") * 4L, 1L).otherwise(0L).as("ex"),
        when(col("ry") * 5L > col("n") * 4L, 1L).otherwise(0L).as("ey"))
      .agg(first(col("n")).as("n_days"),
        sum(col("ex")).as("n_x_tail"),
        sum(col("ey")).as("n_y_tail"),
        sum(col("ex") * col("ey")).as("n_joint"))
      .select(col("n_days"), col("n_x_tail"), col("n_y_tail"),
        col("n_joint"),
        round(col("n_joint").cast("double") /
          col("n_x_tail").cast("double"), 6).as("chi_hat"),
        round(col("n_y_tail").cast("double") /
          col("n_days").cast("double"), 6).as("baseline"),
        round((col("n_joint").cast("double") /
          col("n_x_tail").cast("double")) /
          (col("n_y_tail").cast("double") /
            col("n_days").cast("double")), 6).as("tail_lift"))
  }

  /** §2.2 q_events_wau: daily + 7-day rolling active users — the standing
    * engagement dashboard. A rolling DISTINCT count can't come from a
    * running window (distinct doesn't decompose), so each distinct
    * (user, day) row is EXPLODED to the ≤7 target days it contributes to
    * and re-distinct'd — a bounded 7× row multiplication with map-side
    * combine, never a per-day rescan of history and never a global window.
    * Report rows are days with any activity (partial leading windows
    * included, as dashboards do).
    */
  def qEventsWau(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(6))).as("o"))
      .select(col("user_id"), expr("date_add(day, o)").as("tday")).distinct()
      .groupBy(col("tday")).agg(count(lit(1)).as("wau"))
    dau.join(wau, col("day") === col("tday"))
      .select(col("day"), col("dau"), col("wau"))
      .orderBy(col("day"))
  }

  /** §2.2 q_events_rfm: recency/frequency/monetary user segmentation — the
    * standard warehouse scoring query. One map-side-combined per-user
    * aggregate over a single scan; the global "now" reference is a 1-row
    * broadcast; bands are integer CASE cuts over exact values (recency in
    * whole days via integer division of epoch-micros, monetary compared in
    * exact decimal) — no fp boundary can disagree across engines.
    */
  def qEventsRfm(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("value").cast(DecimalType(18, 4)).as("v"))
    val ref = ev.agg(max(col("tus")).as("ref_tus"))
    ev.groupBy(col("user_id"))
      .agg(max(col("tus")).as("last_tus"), count(lit(1)).as("freq"),
        sum(col("v")).as("mon"))
      .crossJoin(broadcast(ref))
      .withColumn("recency_days",
        expr("(ref_tus - last_tus) div 86400000000L"))
      .withColumn("r_band",
        when(col("recency_days") < 1, 3L).when(col("recency_days") < 3, 2L)
          .otherwise(1L))
      .withColumn("f_band",
        when(col("freq") >= 75, 3L).when(col("freq") >= 60, 2L).otherwise(1L))
      .withColumn("m_band",
        when(col("mon") >= 4000, 3L).when(col("mon") >= 3000, 2L)
          .otherwise(1L))
      .select(col("user_id"), col("recency_days"), col("freq"),
        col("mon").cast("double").as("monetary"),
        (col("r_band") * 100 + col("f_band") * 10 + col("m_band"))
          .as("rfm_segment"))
      .orderBy(col("user_id"))
  }

  /** §2.2 q_events_twap: time-weighted average per user — each value is
    * weighted by how long it was "current" (until the next event), the
    * standard irregular-time-series mean. Weights are exact integers
    * (micros), values exact 4dp decimals, so the weighted sum is exact
    * and the single final division deterministic; one shuffle on user_id
    * (lead window + rollup share the partition).
    */
  def qEventsTwap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("tus"),
        col("value").cast(DecimalType(18, 4)).as("v"))
      .withColumn("dt", lead(col("tus"), 1).over(w) - col("tus"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("v") * col("dt")).as("wsum"),
        min(col("tus")).as("t0"), max(col("tus")).as("t1"))
      .filter(col("n_events") >= 2)
      .select(col("user_id"), col("n_events"),
        round(col("wsum").cast("double") / (col("t1") - col("t0")), 6)
          .as("twap"))
      .orderBy(col("user_id"))
  }

  /** §2.2 q_events_unpivot: wide → long melt (the inverse of
    * q_events_pivot) via the `stack` generator — one Generate over the
    * pivoted relation, no join, row count = users × domain. The
    * pivot/unpivot pair round-trips the reshaping family.
    */
  def qEventsUnpivot(spark: SparkSession, dir: String): DataFrame =
    qEventsPivot(spark, dir)
      .selectExpr("user_id",
        """stack(5, 'click', click, 'error', error, 'purchase', purchase,
                 'signup', signup, 'view', view) AS (event_type, n)""")
      .orderBy(col("user_id"), col("event_type"))

  /** §2.1 q_count: the reference README's counting query
    * (reference README.md:29-34) — COUNT over a non-null key.
    */
  def qCount(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).agg(count(col("o_orderkey")).as("n_orders"))

  /** §2.1 q_nested_exists: the reference README's doubly-UNNESTed EXISTS
    * query (reference README.md:39-61), re-expressed with a higher-order
    * array predicate — no explode, no shuffle, no row multiplication.
    */
  def qNestedExists(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .filter(exists(col("embedding"), e => e > 0.3))
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))

  /** §2.1 q_incremental_antijoin: the reference's incremental-update
    * dedup (reference etl.py:80-92, a driver-side Python set) as a
    * distributed left-anti join: feed rows whose ID is already in the
    * warehouse are dropped.
    */
  def qIncrementalAntijoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val warehouse = events.filter(col("ts") < ts("2024-01-15 00:00:00"))
    val feed = events.filter(col("ts") >= ts("2024-01-10 00:00:00"))
    feed.join(warehouse.select(col("event_id")), Seq("event_id"), "left_anti")
      .select(col("event_id"), col("event_type"), col("user_id"))
      .orderBy(col("event_id"))
  }

  /** §2.2 q2_min_cost_supplier: TPC-H Q2-style min-cost supplier per part.
    * The testdata has no partsupp, so the (part, supplier) catalog is
    * derived from lineitem: cost = cheapest observed extended price per
    * pair. The part filter broadcasts FIRST so the fact scan only
    * aggregates pairs for parts of interest (Q2's correlated subquery is
    * likewise per-part); the per-part minimum is a window over the
    * already-aggregated pair relation — the window partition reuses the
    * groupBy's hash partitioning prefix, so the argmin adds no extra
    * fact-table pass and no self-join (compare q15's join-back form).
    */
  def q2MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_size") < 15 && col("p_type") === "PROMO")
    val pairs = Tables.lineitem(spark, dir)
      .join(broadcast(p.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("cost"))
    pairs
      .withColumn("mincost",
        min(col("cost")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("cost") === col("mincost"))
      .join(broadcast(p.select(col("p_partkey").as("pk"), col("p_name"))),
        col("l_partkey") === col("pk"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("l_partkey").as("p_partkey"), col("p_name"),
        col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"),
        col("cost"))
      .orderBy(col("p_partkey"), col("s_suppkey"))
  }

  /** §2.2 q4_priority_check: TPC-H Q4-style order-priority checking —
    * orders in a quarter with at least one line shipped >30 days after
    * the order date (the testdata carries no commit/receipt dates),
    * counted per priority. The EXISTS is a left-semi join with the
    * date comparison as a residual condition — one shuffle on orderkey,
    * each order emitted at most once regardless of matching lines.
    */
  def q4PriorityCheck(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
        col("o_orderdate") < ts("1997-04-01 00:00:00"))
    o.join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** §2.2 q9_profit_by_nation_year: TPC-H Q9-style product-line profit per
    * (supplier nation, order year). Without partsupp, supply cost is
    * proxied as 10% of retail price × quantity; profit stays entirely in
    * exact decimal (2dp × 2dp × integral quantity — both engines compute
    * the identical decimal sum regardless of partitioning). Name-filtered
    * part and the supplier→nation chain broadcast; the fact shuffles once
    * for the orders join (for the year) and once for the aggregation.
    */
  def q9ProfitByNationYear(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_name").like("%widget%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val profit = discPrice -
      col("p_retailprice").cast(DecimalType(18, 2)) *
        col("l_quantity").cast(DecimalType(4, 0)) *
        lit(0.10).cast(DecimalType(3, 2))
    Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(profit).cast("double").as("sum_profit"))
      .orderBy(col("n_name"), col("o_year"))
  }

  /** §2.2 q16_supplier_cnt: TPC-H Q16-style supplier-count-per-part-class.
    * The distinct (part, supplier) bridge comes from lineitem; suppliers
    * in deficit (negative balance — the schema has no comment column to
    * scan for complaints) are excluded with a broadcast anti-join BEFORE
    * the part join, so excluded rows never reach the wider relation. One
    * distinct shuffle on the pair key + one count-distinct aggregation.
    */
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val excl = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val p = Tables.part(spark, dir)
      .filter(col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** §2.2 q20_dominant_supplier: TPC-H Q20-style excess-stock probe — here
    * suppliers who shipped a MAJORITY (>50%) of some name-filtered part's
    * 1997 volume (the schema has no availqty, so dominance substitutes for
    * excess). Quantities aggregate in exact decimal; the majority test is
    * the integer-free form qty·2 > total so neither engine divides. The
    * per-part total is a window over the aggregated pair relation — same
    * single-pass argmax shape as q2.
    */
  def q20DominantSupplier(spark: SparkSession, dir: String): DataFrame = {
    val pk = Tables.part(spark, dir).filter(col("p_name").like("%bolt%"))
      .select(col("p_partkey"))
    val f = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1997-01-01 00:00:00") &&
        col("l_shipdate") < ts("1998-01-01 00:00:00"))
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty"))
    f.withColumn("total",
        sum(col("qty")).over(Window.partitionBy(col("l_partkey"))))
      .filter(col("qty") * 2 > col("total"))
      .select(col("l_suppkey")).distinct()
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }

  /** §2.2 q_events_markov: event-type transition matrix — counts of
    * consecutive (prev → cur) event pairs per user timeline, the
    * session-flow model behind next-action prediction and funnel design.
    * One lag window and the final count share nothing: the window
    * shuffles on user_id once, the transition count is map-side combined
    * into a |event_types|² relation. Ordering ties break on event_id so
    * the transition sequence is total and both engines see identical
    * neighbors.
    */
  def qEventsMarkov(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("cur"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      .withColumn("prev", lag(col("cur"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy(col("prev"), col("cur"))
  }

  /** §2.1 q_dedup_load: first-writer-wins load semantics — keep the first
    * record per natural key, as the reference's load effectively does by
    * only appending unseen CVE IDs.
    */
  def qDedupLoad(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("tus"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("first_event_id"), col("tus").as("first_ts_us"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** §2.2 q_orders_backlog: open-order backlog time series — for every
    * calendar month, how many orders have been placed but not fully
    * shipped, and the order value tied up in them (the interval→series
    * sweep no plain groupBy expresses: each order contributes to EVERY
    * month it spans). Computed as a DELTA SWEEP, not an interval
    * explode: each order emits exactly two slim delta rows (+1/+price at
    * the order month, −1/−price at the last-ship month), a
    * map-side-combined aggregate folds them to one row per boundary
    * month, and a running-sum window over that calendar-bounded series
    * reconstructs the open count/value; gap months an order spans
    * without bounding re-expand from the TINY aggregated series (each
    * boundary month carries its level to the next boundary). Shuffle
    * volume is 2·orders regardless of how long orders stay open — the
    * per-open-month explode form ships span-in-months rows per order,
    * which at 100 TB with years-open intervals is an unbounded
    * multiplier. The single-partition window is safe by construction:
    * its input is at most one row per calendar month. Decimal deltas
    * accumulate exactly (negation and summation stay in decimal), so
    * the sweep is bit-equal to the oracle's per-month interval sum.
    */
  def qOrdersBacklog(spark: SparkSession, dir: String): DataFrame = {
    val lastShip = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(max(col("l_shipdate")).as("last_ship"))
    val deltas = Tables.orders(spark, dir)
      .join(lastShip, Seq("o_orderkey"))
      .select(date_trunc("month", col("o_orderdate")).as("m0"),
        date_trunc("month", col("last_ship")).as("m1"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("p"))
      .filter(col("m1") > col("m0"))
      .select(explode(array(
        struct(col("m0").as("m"), lit(1L).as("dn"), col("p").as("dp")),
        struct(col("m1").as("m"), lit(-1L).as("dn"), (-col("p")).as("dp"))))
        .as("d"))
      .groupBy(col("d.m").as("m"))
      .agg(sum(col("d.dn")).as("dn"), sum(col("d.dp")).as("dp"))
    // running levels over the boundary-month series; m_next can only be
    // null on the final boundary month, whose running count is exactly 0
    // (every +1 has its −1), so the filter removes it before the
    // sequence re-expansion ever sees a null end
    val w = Window.orderBy(col("m"))
    deltas
      .select(col("m"),
        sum(col("dn")).over(w).as("n_open"),
        sum(col("dp")).over(w).as("open_v"),
        lead(col("m"), 1).over(w).as("m_next"))
      .filter(col("n_open") > 0)
      .select(explode(expr(
        "sequence(m, m_next - interval 1 month, interval 1 month)"))
        .as("mm"), col("n_open"), col("open_v"))
      .select(col("mm").cast("date").as("month"), col("n_open"),
        col("open_v").cast("double").as("open_value"))
      .orderBy(col("month"))
  }

  /** §2.2 q_events_gini: per-user behavioral concentration — Gini
    * impurity of the event-type distribution (1 − Σpᵢ²), the diversity
    * score entropy usually serves, chosen precisely because it needs NO
    * logarithm: Σcᵢ² stays exact integer through both aggregates and one
    * final fp division decides the score, so no libm call can diverge
    * between engines. Two map-side-combined aggregates, one shuffle each.
    */
  def qEventsGini(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("sumsq"),
        count(lit(1)).as("n_types"))
      .select(col("user_id"), col("n"), col("n_types"),
        round(lit(1.0) - col("sumsq").cast("double") / (col("n") * col("n")), 6)
          .as("gini"))
      .orderBy(col("user_id"))

  /** §2.2 q_orders_cohort: the cohort-retention matrix — customers
    * grouped by first-order month (the cohort), activity counted per
    * months-since-first (the age): the standard warehouse answer to "do
    * later cohorts retain better". Two map-side-combined aggregates — a
    * per-customer first-order min, then a (cohort, age, customer)
    * dedup collapsed into cell counts (never a count-distinct Expand);
    * month age is exact integer arithmetic on truncated months, so no fp
    * boundary exists. Both aggregates key on customer/cohort — one
    * shuffle each, AQE sizes the join.
    */
  def qOrdersCohort(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), date_trunc("month", col("o_orderdate")).as("m"))
    val first = o.groupBy(col("o_custkey")).agg(min(col("m")).as("cohort"))
    o.join(first, Seq("o_custkey"))
      .select(col("o_custkey"), col("cohort"),
        months_between(col("m"), col("cohort")).cast("bigint").as("age"))
      .distinct()
      .groupBy(col("cohort").cast("date").as("cohort_month"), col("age"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("cohort_month"), col("age"))
  }

  /** §2.2 q_bloom_semi_join: the explicit RUNTIME-FILTER join shape — the
    * urgent-orders key set is sketched into a bloom filter (one bounded
    * aggregate; the serialized filter is O(numBits), independent of corpus
    * size), every lineitem row probes the sketch BEFORE the shuffle, and
    * only probable matches reach the exact semi join that removes the
    * bloom's false positives. Result is therefore byte-identical to the
    * plain semi join the oracle runs — the bloom changes WHERE rows die
    * (map-side, pre-exchange), not which rows survive.
    *
    * At 100 TB this is the difference between shuffling every fact row to
    * the join and shuffling ~selectivity of them: the same mechanism
    * Spark's InjectRuntimeFilter applies when statistics justify it,
    * expressed as a first-class operator (same expression pair:
    * BloomFilterAggregate / BloomFilterMightContain over xxhash64). The
    * collected sketch is a fixed-size artifact like sim_topk_ivf's
    * centroid table — never corpus-proportional.
    */
  def qBloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    // scalar subquery, not collect: the sketch build stays LAZY (plan-only
    // callers pay nothing) and executes once per run inside the plan — the
    // filter probes the subquery result instead of a ~200KB driver-shipped
    // literal baked into every task's serialized plan.
    val bf = urgent
      .agg(GraftFunctions.bloomAgg(xxhash64(col("o_orderkey")), 200000L,
        1600000L).as("bf"))
      .scalar()
    Tables.lineitem(spark, dir)
      .filter(GraftFunctions.bloomMightContain(bf,
        xxhash64(col("l_orderkey"))))
      .join(urgent.select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(discPrice).cast("double").as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** §2.2 graph_pagerank: PageRank over the symmetric customer↔supplier
    * commerce graph (an edge wherever a customer's order carries a
    * supplier's line item) — "which entities anchor the trading network",
    * the canonical iterative-graph workload (Page et al. 1999; Pregel's
    * running example) the suite otherwise lacks. Node ids disambiguate
    * the bipartite sides arithmetically (customer 2k, supplier 2k+1).
    *
    * EXACT integer arithmetic end to end: scores live in millionths
    * (start 1,000,000 per node), each edge contributes
    * (85·s) div (100·outdeg) — damping 0.85 as integer ratio, floor
    * division on both engines — plus the 150,000 teleport term, 10
    * fixed iterations, so no float ever decides a score and the DuckDB
    * oracle (the same 10 steps as chained CTEs) matches bit-for-bit.
    * The symmetric edge set means every node has outdeg ≥ 1 — no
    * dangling-mass correction term to diverge on.
    *
    * Scale shape: the edge relation (with outdeg baked in) is computed
    * once, persisted, and EAGERLY materialized (CLAUDE.md: multi-consumer
    * cache); each of the 10 rounds is one join (scores × edges on src)
    * + one map-side-combined groupBy(dst) — the Pregel step — with the
    * round result cut to O(1) lineage by an EAGER localCheckpoint
    * (never persist/unpersist chains: see dedupCluster). At 100 TB the
    * same loop runs with both sides bucketed by node id so the per-round
    * join is co-located; rounds stay 10 regardless of data size.
    */
  /** Above this vertex count the per-round score relation stops
    * broadcasting and the loop flips to the co-partitioned form — ~2M
    * slim (v, s) rows ≈ 32 MB serialized is the most a forced broadcast
    * hint should ever ship per round; beyond it the hint would bypass
    * the size-based planning the rest of the repo relies on.
    */
  private[graft] val PagerankBroadcastMaxVertices = 2000000L

  /** General directed-graph integer PageRank — the Pregel loop under
    * graph_pagerank, correct on graphs with SINKS (dangling nodes) and
    * SOURCES, not only the symmetric commerce graph:
    *
    *  - scores live in millionths; per edge (85·s) div (100·outdeg),
    *    teleport 150,000, and the DANGLING MASS term: the score mass
    *    sitting on zero-outdegree nodes redistributes uniformly,
    *    (85·D) div (100·n) per node — all floor-division integers, so
    *    any SQL engine replicates bit-for-bit;
    *  - a node with no in-edges (a SOURCE) must keep receiving
    *    teleport + dangling share instead of silently vanishing from
    *    the groupBy(dst) result after round 1 — so when sources exist
    *    (counted ONCE, driver-side) each round rebuilds scores off the
    *    STATIONARY vertex relation via a left join on contributions;
    *    on a source-free graph (the commerce graph is symmetric) that
    *    rebuild join compiles away entirely, like the dangling term;
    *  - join strategy is SIZE-CONDITIONAL: below
    *    [[PagerankBroadcastMaxVertices]] the per-round scores broadcast
    *    into the stationary edge cache; above it scores repartition by
    *    vertex id instead — the edge cache is persisted ALREADY
    *    partitioned by src, so in both regimes the edges move ZERO
    *    times per round, only the slim score rows do;
    *  - when the graph has no dangling nodes (checked ONCE, driver-side,
    *    against the cached edge relation) the dangling term compiles
    *    away entirely — the commerce-graph plan stays minimal;
    *  - round barriers are eager localCheckpoints (O(1) lineage, the
    *    CLAUDE.md iterative contract); the stationary relations are
    *    persisted with eager counts (multi-consumer cache contract).
    */
  /** One pagerank round's contribution aggregate — the join whose shape
    * carries the "edges move ZERO times per round" claim: `edges` must
    * arrive persisted and hash-partitioned by src, so in the broadcast
    * regime the round is a broadcast hash join straight over the cache
    * scan, and in the co-partitioned regime only the slim routed scores
    * shuffle (the cache's src partitioning satisfies the join). Factored
    * out of the loop so PlanAuditSpec pins BOTH regimes' physical plans
    * as executable assertions instead of prose.
    */
  private[graft] def pagerankContrib(edges: DataFrame, scores: DataFrame,
      routed: DataFrame => DataFrame): DataFrame =
    edges
      .join(routed(scores), col("src") === col("v"))
      .select(col("dst"),
        expr("(85 * s) div (100 * outdeg)").as("contrib"))
      .groupBy(col("dst"))
      .agg(sum(col("contrib")).as("c"))

  private[graft] def pagerankCore(edges0: DataFrame, rounds: Int = 10,
      broadcastMaxVertices: Long = PagerankBroadcastMaxVertices)
      : DataFrame = scoped {
    // the outdeg self-join consumes edges0 twice, but deliberately
    // WITHOUT a persist: both consumers end in the identical exchange
    // subtree, so ReuseExchange computes the caller's plan once anyway —
    // an explicit persist+count was A/B-measured ~15% SLOWER at sf0.1
    // (cache write + materialization job outweigh the reuse it
    // duplicates) and would double-cache the edge bytes at scale
    // 10 rounds + the vertex/dangling builds consume the edge cache
    val (edges, _) = graft.Barriers.stationaryEdges(
      edges0.join(edges0.groupBy(col("src")).agg(count(lit(1)).as("outdeg")),
        Seq("src")))
    // vertices derive from the CACHED edge relation, not edges0 — the
    // outdeg inner join preserves every edge row (its build side is
    // edges0's own groupBy), so the src/dst vertex set is identical and
    // the possibly-expensive upstream plan evaluates exactly once
    val (vertices, n) = materialize(edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v")))
      .distinct()
      .repartition(col("v")))
    // DANGLING (no out-edges) and SOURCE (no in-edges) counts in ONE pass
    // over the edge cache: every vertex is a src or a dst, so
    // |dangling| = n − |distinct src| and |sources| = n − |distinct dst| —
    // no left-anti jobs for the common well-formed graph. With zero
    // sources every vertex appears in the per-round groupBy(dst), so the
    // stationary-vertex left-join rebuild compiles away (the dangling
    // term's pattern) and each round is join + agg, nothing else.
    val degRow = edges.agg(
      countDistinct(col("src")).as("nsrc"),
      countDistinct(col("dst")).as("ndst")).head()
    val nDangling = n - degRow.getLong(0)
    val nSources = n - degRow.getLong(1)
    // the dangling-vertex relation only exists when the dangling-mass
    // term does — a no-sink graph never builds or caches it
    val dangling: DataFrame =
      if (nDangling == 0) null
      else materialize(vertices
        .join(edges.select(col("src").as("v")).distinct(), Seq("v"),
          "left_anti"))._1
    val routed: DataFrame => DataFrame =
      if (n <= broadcastMaxVertices) broadcast else _.repartition(col("v"))
    val (scores, _) = graft.Barriers.fixpoint("pagerank", Horizon(rounds))(
        graft.Barriers.roundBarrier(
          vertices.select(col("v"), lit(1000000L).as("s")))) { (scores, _) =>
      val contrib = pagerankContrib(edges, scores, routed)
      val rebuilt =
        if (nSources == 0) contrib.select(col("dst").as("v"), col("c"))
        else vertices.join(contrib, col("v") === col("dst"), "left")
      val next =
        if (nDangling == 0)
          rebuilt.select(col("v"),
            (lit(150000L) + coalesce(col("c"), lit(0L))).as("s"))
        else {
          val dm = scores.join(dangling, Seq("v"), "left_semi")
            .agg(coalesce(sum(col("s")), lit(0L)).as("dm"))
          rebuilt.crossJoin(broadcast(dm))
            .select(col("v"),
              (lit(150000L) + coalesce(col("c"), lit(0L)) +
                expr(s"(85 * dm) div (100 * $n)")).as("s"))
        }
      // round barrier: O(1) lineage
      Round(graft.Barriers.roundBarrier(next), -1)
    }
    scores
  }

  /** The commerce graph's one vertex-id codec: customer k is vertex 2k
    * and supplier k is vertex 2k+1, so one BIGINT key space carries both
    * sides of the bipartite graph. [[vertexSide]] and [[vertexKey]]
    * decode a vertex-id column back to ("customer" | "supplier", k).
    */
  private def customerVertex(custkey: Column): Column = custkey * 2
  private def supplierVertex(suppkey: Column): Column = suppkey * 2 + 1
  private def vertexSide(v: String): Column =
    when(col(v) % 2 === 0, lit("customer")).otherwise(lit("supplier"))
  private def vertexKey(v: String): Column = expr(s"$v div 2").cast("bigint")

  /** The symmetric (src, dst) edge list the commerce graph family runs
    * on: both directions of every distinct (customer, supplier) pair,
    * read once ([[graft.Barriers.symmetrize]]) and uncached — each
    * consumer's own edge cache is the one cache.
    */
  private def commerceEdges(spark: SparkSession, dir: String): DataFrame =
    graft.Barriers.symmetrize(Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
        Seq("o_orderkey"))
      .select(customerVertex(col("o_custkey")).as("c"),
        supplierVertex(col("l_suppkey")).as("s"))
      .distinct(), "c", "s")

  /** §2.2 graph_pagerank over the commerce graph — see [[pagerankCore]]
    * for the loop; the symmetric edge set has no dangling nodes, so the
    * core's driver-side branch compiles the dangling term away and the
    * DuckDB oracle (10 chained CTEs, no dangling arithmetic) matches
    * bit-for-bit.
    */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    pagerankCore(commerceEdges(spark, dir))
      .select(
        vertexSide("v").as("node_type"),
        vertexKey("v").as("entity_key"),
        col("s").as("score_ppm"))
      .orderBy(col("score_ppm").desc, col("node_type"), col("entity_key"))
  }

  /** §2.2 graph_ppr: personalized PageRank / random-walk-with-restart
    * (Haveliwala 2002's topic-sensitive formulation) from the 4
    * smallest customer ids — "who is important RELATIVE to these
    * seeds", the recommendation kernel beside graph_pagerank's global
    * rank: each round v receives Σ (85·s(u)) div (100·outdeg u) from
    * its in-neighbors, and the 150,000-ppm teleport lands ONLY on the
    * seed set (restart semantics — non-seed mass decays, which is the
    * point: scores measure proximity to the seeds, and the ranking is
    * relative).
    *
    * INTEGER-exact like graph_pagerank: ppm scores, floor-division
    * spread, teleport as literal union rows — every round is one
    * join + union + sum over BIGINTs, so the 10 unrolled oracle CTEs
    * match bit-for-bit.
    *
    * Scale shape: the pagerank contract — stationary edge cache
    * (persisted, partitioned by src, zero edge motion per round), slim
    * score rows broadcast below [[PagerankBroadcastMaxVertices]] and
    * co-partitioned above, barriered rounds.
    */
  def graphPersonalizedPagerank(spark: SparkSession, dir: String): DataFrame = {
    pprCore(commerceEdges(spark, dir))
      .select(
        vertexSide("v").as("node_type"),
        vertexKey("v").as("entity_key"),
        col("s").as("ppr_ppm"))
      .orderBy(col("ppr_ppm").desc, col("node_type"), col("entity_key"))
  }

  /** The restart loop under graph_ppr, on a general directed edge
    * list: (v, s) ppm scores after `rounds` spreads with teleport
    * confined to the `nSeeds` smallest even src ids. Split out so
    * ScaleCheck drives the repartition-routing regime on the drill
    * graph (score routing is the same size-conditional rule as
    * [[pagerankCore]]).
    */
  private[graft] def pprCore(edges0: DataFrame, nSeeds: Int = 4,
      rounds: Int = 10,
      broadcastMaxVertices: Long = PagerankBroadcastMaxVertices)
      : DataFrame = scoped {
    // rounds + the seed/routing builds consume the edge cache
    val (edges, _) = graft.Barriers.stationaryEdges(
      edges0.join(edges0.groupBy(col("src")).agg(count(lit(1)).as("outdeg")),
        Seq("src")))
    val nVerts = edges.select(col("src")).distinct().count()
    val routed: DataFrame => DataFrame =
      if (nVerts <= broadcastMaxVertices) broadcast
      else _.repartition(col("v"))
    val seeds = graft.Barriers.roundBarrier(
      edges.filter(col("src") % 2 === 0)
        .select(col("src").as("v")).distinct()
        .orderBy(col("v")).limit(nSeeds))
    val (scores, _) = graft.Barriers.fixpoint("ppr", Horizon(rounds))(
        graft.Barriers.roundBarrier(
          seeds.select(col("v"), lit(1000000L).as("s")))) { (scores, _) =>
      val next = edges.join(routed(scores), col("src") === col("v"))
        .select(col("dst"), expr("(85 * s) div (100 * outdeg)").as("x"))
        .unionAll(seeds.select(col("v").as("dst"), lit(150000L).as("x")))
        .groupBy(col("dst")).agg(sum(col("x")).as("sn"))
        .select(col("dst").as("v"), col("sn").as("s"))
      Round(graft.Barriers.roundBarrier(next), -1)
    }
    scores
  }

  /** The synchronous vote loop under graph_label_propagation, on a
    * general edge list: each round node v's new label is the argmax
    * (count desc, label asc) over the labels of every u with an edge
    * (u, v), plus v's own current label. Community semantics expect a
    * SYMMETRIC edge set (pass both directions, as graphLabelProp does);
    * on a directed list the votes flow along the edges as given. A
    * vertex that only ever appears as a src keeps exactly its self-vote.
    */
  private[graft] def lpaCore(edges0: DataFrame, rounds: Int = 4,
      broadcastMaxVertices: Long = PagerankBroadcastMaxVertices)
      : DataFrame = scoped {
    // all rounds consume the edge cache
    val (edges, _) = graft.Barriers.stationaryEdges(edges0)
    val labels0 = graft.Barriers.roundBarrier(
      edges.select(col("src").as("v"))
        .unionAll(edges.select(col("dst").as("v")))
        .distinct()
        .select(col("v"), col("v").as("lbl")))
    val n = labels0.count()
    val routed: DataFrame => DataFrame =
      if (n <= broadcastMaxVertices) broadcast
      else _.repartition(col("v"))
    val (labels, _) = graft.Barriers.fixpoint("lpa", Horizon(rounds))(labels0) {
        (labels, _) =>
      val votes = edges
        .join(routed(labels), col("src") === col("v"))
        .select(col("dst"), col("lbl"))
        .unionAll(labels.select(col("v").as("dst"), col("lbl")))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l")))
          .as("best"))
      // round barrier: O(1) lineage, reliable under the Barriers conf
      Round(graft.Barriers.roundBarrier(
        votes.select(col("dst").as("v"), col("best.l").as("lbl"))), -1)
    }
    labels
  }

  /** §2.2 graph_label_propagation: synchronous label propagation
    * (Raghavan et al. 2007) over the same symmetric commerce graph —
    * community detection, the second canonical iterative-graph workload
    * ("which customer/supplier cliques trade mostly among themselves").
    * Each round every node adopts the most frequent label among its
    * neighbors PLUS its own current label (the self-vote damps the
    * two-coloring oscillation synchronous LPA exhibits on bipartite
    * graphs), ties broken toward the smallest label. The vote is an
    * all-integer argmax — count desc, label asc — so the DuckDB oracle
    * (4 unrolled rounds of the identical vote union) matches
    * bit-for-bit; no float ever decides a community.
    *
    * Scale shape: pagerankCore's exactly — the edge relation persists
    * pre-partitioned by src with an eager count (multi-consumer cache
    * contract); the symmetric edge set makes "labels of dst's
    * neighbors" ≡ "labels flowing src→dst", so each round is one join
    * of the slim (v, lbl) relation into the stationary edge cache +
    * one map-side-combined double groupBy. Labels broadcast below
    * [[PagerankBroadcastMaxVertices]] and repartition by vertex id
    * above it — the edges move ZERO times per round in both regimes.
    * Round barriers are eager localCheckpoints (O(1) lineage, the
    * CLAUDE.md iterative contract), and the returned checkpoint-
    * truncated plan references no cache, so the edge persist releases
    * inline.
    */
  /** §2.1 warehouse_stats: the ANALYZE maintenance pass rendered as a
    * query — long-format per-column statistics (rows, nulls, min/max)
    * over the fact table in ONE scan and ONE 1-row aggregate, via
    * [[graft.sources.Warehouse.stats]] (whose persisted `analyze`
    * variant adds the HLL++ NDV sketch — approximate by nature, so the
    * NDV is spec-gated in WarehouseSpec while this query grades the
    * exact core cross-engine). The timestamp column renders as epoch
    * seconds; min-over-epoch ≡ epoch-of-min (monotone), so DuckDB's
    * epoch(min(..)) mirrors exactly.
    */
  def warehouseStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    graft.sources.Warehouse.stats(li, Seq(
      "l_orderkey" -> col("l_orderkey"),
      "l_linenumber" -> col("l_linenumber"),
      "l_returnflag" -> col("l_returnflag"),
      "l_linestatus" -> col("l_linestatus"),
      "l_shipdate" -> unix_seconds(col("l_shipdate").cast("timestamp"))))
  }

  def graphLabelProp(spark: SparkSession, dir: String): DataFrame = {
    // publish the raw (v, lbl) labeling (ArtifactStore "lpa_labels") so
    // graph_modularity evaluates the STORED communities instead of
    // re-running the propagation it grades — this query stays the
    // pipeline and always pays its own compute + materialization
    graft.ArtifactStore.publish(spark, "lpa_labels", dir) {
      lpaCore(commerceEdges(spark, dir))
        .select(col("v"), col("lbl"))
    }.select(
      vertexSide("v").as("node_type"),
      vertexKey("v").as("entity_key"),
      vertexSide("lbl").as("community_type"),
      vertexKey("lbl").as("community_key"))
      .orderBy(col("node_type"), col("entity_key"))
  }

  /** §2.2 graph_connected_components: exact connected components over a
    * FRAGMENTED slice of the commerce graph — which customer/supplier
    * trading networks are reachable from each other when only urgent
    * high-volume flows count (o_orderpriority = 1-URGENT, l_quantity ≥
    * 49). The filter is the point: the full bipartite graph is one
    * component (nothing to compute), while the slice splits into one
    * GIANT sparse component (347 of 474 vertices at sf0.01; 3,963 of
    * 4,840 at sf0.1) plus dozens of small ones — so this query drives
    * [[Dedup.connectedComponents]]'s contraction + bounded-union-find
    * core on a graph whose components are long bipartite chains, NOT
    * the dense near-dup cliques the dedup callers feed it (a clique
    * collapses in the single neighbor-min contraction pass; a chain is
    * the worst case the pointer-jump fixpoint and the driver-side
    * finish exist for).
    *
    * Scale shape: the pair relation persists once (digest-slim: two
    * longs per edge) and its eager count picks the finish. At or under
    * [[graft.Barriers.DriverFinishEdgeBound]] (this slice: a few hundred
    * pairs) the pairs are collected once and union-found on the driver
    * ([[graft.DriverGraph]]), so the query runs no contraction jobs at
    * all. Above it the
    * contraction collapses the pairs to the inter-supernode graph, which
    * the same union-find finishes when its edges fit the bound and the
    * shared pointer-jump fixpoint [[minLabelFix]] otherwise — the bound
    * gates which engine finishes, never the answer
    * (ConnectedComponentsSpec asserts all three regimes bit-identical).
    * The universe is derived from the pair relation, so this query
    * persists the pairs itself: the returned plan reads that cache and
    * it stays for [[graft.GraftCaches.release]]. Component ids are exact integer
    * minima, so the DuckDB recursive-CTE oracle (min-label walk, pruned
    * to labels below the receiving vertex — the component minimum
    * always survives the prune) matches bit-for-bit.
    */
  def graphConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    // the result reads it: released by GraftCaches.release(spark) after
    // the caller's action
    val (pairs, nPairs) = materialize(urgentSlicePairs(spark, dir))
    // universe = the slice's endpoints, derived FROM the persisted pair
    // relation (plan-matches its cache — the join above evaluates once)
    val universe = pairs.select(col("i").as("id"))
      .unionAll(pairs.select(col("j").as("id"))).distinct()
    Dedup.connectedComponents(spark, pairs, nPairs, universe).select(
      vertexSide("id").as("node_type"),
      vertexKey("id").as("entity_key"),
      vertexSide("canonical_id").as("component_type"),
      vertexKey("canonical_id").as("component_key"))
      .orderBy(col("node_type"), col("entity_key"))
  }

  /** The fragmented commerce-graph slice shared by the reachability
    * queries (connected components, shortest paths): urgent high-volume
    * flows only — o_orderpriority = 1-URGENT ∧ l_quantity ≥ 49, as
    * undirected (i, j) pairs of [[customerVertex]] and [[supplierVertex]]
    * ids.
    */
  private def urgentSlicePairs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
        .filter(col("l_quantity") >= 49)
        .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
        Seq("o_orderkey"))
      .select(customerVertex(col("o_custkey")).as("i"),
        supplierVertex(col("l_suppkey")).as("j"))
      .distinct()

  /** §2.2 graph_shortest_paths: multi-source BFS hop distances over the
    * same fragmented urgent-flow slice [[urgentSlicePairs]] drives the
    * component query on — "how many trading hops from the hub customers
    * does each reachable counterparty sit". Seeds are the slice's three
    * smallest customer ids (deterministic, always present); unreached
    * vertices and vertices beyond [[BfsMaxHops]] hops are absent from
    * the result, so the answer is well-defined on any diameter.
    *
    * Scale shape: the frontier algorithm, not the closure — each round
    * joins only the CURRENT frontier (what changed last round) into the
    * stationary edge cache, never the whole visited set, so total work
    * is O(edges · 1) across the loop on any graph the frontier sweeps
    * once (a recursive-closure rewrite re-expands every visited vertex
    * every round). Edges persist pre-partitioned by src with an eager
    * count (the multi-consumer cache contract); the frontier broadcasts
    * below [[PagerankBroadcastMaxVertices]] and falls back to a
    * src-co-partitioned shuffle join above it; newly-found vertices
    * leave via one left-anti join against the visited relation per
    * round; every round lands in a [[graft.Barriers.roundBarrier]]
    * (O(1) lineage — the CLAUDE.md iterative contract) and the loop
    * exits early on an empty frontier (a cheap count on checkpointed
    * rows). Hop minimality is BFS order — all integers, so the DuckDB
    * recursive-CTE oracle (min-hops walk, depth-bounded) matches
    * bit-for-bit.
    */
  def graphShortestPaths(spark: SparkSession, dir: String): DataFrame = {
    bfsCore(graft.Barriers.symmetrize(urgentSlicePairs(spark, dir), "i", "j"),
      3, BfsMaxHops)
      .select(
        vertexSide("id").as("node_type"),
        vertexKey("id").as("entity_key"),
        col("hops"))
      .orderBy(col("hops"), col("node_type"), col("entity_key"))
  }

  private[graft] val BfsMaxHops = 8L

  /** Relaxation-round cap for [[graphWeightedSssp]] — both engines run
    * exactly this many Bellman-Ford rounds, so distances are the exact
    * minima over ≤ 8-edge paths (the bounded-horizon SSSP contract; a
    * converged run exits early with the identical result). */
  private[graft] val SsspMaxRounds = 8

  /** §2.2 graph_weighted_sssp: single-source shortest paths with edge
    * WEIGHTS — distributed Bellman-Ford over the commerce graph where
    * an edge costs the minimum fulfillment delay (days from order date
    * to ship date) ever observed between that customer and supplier:
    * "the fastest chain from the hub customers to anyone" — the
    * weighted sibling of graph_shortest_paths' hop BFS (hop minimality
    * ≠ delay minimality; a 3-hop chain of 1-day edges beats a 1-hop
    * 30-day edge). Sources are the 3 smallest customer ids.
    *
    * INTEGER-exact: weights are day counts, distances are BIGINT sums,
    * every round takes integer minima — no float exists anywhere, so
    * the unrolled-CTE oracle matches bit-for-bit.
    *
    * Scale shape: the weighted edge relation collapses the fact join
    * map-side (min per (c, s) pair), repartitions by src once and
    * stays stationary; each round relaxes ONLY the vertices improved
    * last round (frontier Bellman-Ford — identical ≤ k-edge-path
    * semantics, a fraction of the edge touches), barriered with an
    * early exit on convergence; the distance table updates by
    * anti-join + union, never a full rebuild.
    */
  def graphWeightedSssp(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"),
          col("l_shipdate")),
        Seq("o_orderkey"))
      .select(customerVertex(col("o_custkey")).as("c"),
        supplierVertex(col("l_suppkey")).as("s"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("bigint")
          .as("d"))
      .groupBy(col("c"), col("s")).agg(min(col("d")).as("w"))
    ssspCore(graft.Barriers.symmetrize(base, "c", "s", "w")).select(
        vertexSide("id").as("node_type"),
        vertexKey("id").as("entity_key"),
        col("dist").as("min_delay_days"))
      .orderBy(col("node_type"), col("entity_key"))
  }

  /** The frontier Bellman-Ford loop under graph_weighted_sssp, on a
    * general weighted (src, dst, w) relation: (id, dist) for every
    * vertex within [[SsspMaxRounds]] relaxations of the seeds (the
    * `nSeeds` smallest even vertex ids, the bfsCore hub rule). Split
    * out so ScaleCheck can drive the loop on the 25M-edge drill graph.
    */
  private[graft] def ssspCore(edges0: DataFrame, nSeeds: Int = 3,
      maxRounds: Int = SsspMaxRounds): DataFrame = scoped {
    // seeds + every relaxation round consume the edge cache
    val (edges, _) = graft.Barriers.stationaryEdges(edges0)
    val seeds = edges.filter(col("src") % 2 === 0)
      .select(col("src").as("id")).distinct()
      .orderBy(col("id")).limit(nSeeds)
    val dist0 = graft.Barriers.roundBarrier(
      seeds.select(col("id"), lit(0L).as("dist")))
    val ((dist, _), _) = graft.Barriers.fixpoint("sssp", Horizon(maxRounds))(
        (dist0, dist0)) { case ((dist, frontier), _) =>
      val cand = edges
        .join(frontier.select(col("id").as("src"), col("dist").as("du")),
          Seq("src"))
        .select(col("dst").as("id"), (col("du") + col("w")).as("nd"))
        .groupBy(col("id")).agg(min(col("nd")).as("nd"))
      val improved = graft.Barriers.roundBarrier(cand
        .join(dist.select(col("id"), col("dist").as("old")), Seq("id"),
          "left_outer")
        .filter(col("old").isNull || col("nd") < col("old"))
        .select(col("id"), col("nd").as("dist")))
      val nImproved = improved.count()
      if (nImproved == 0) Round((dist, frontier), 0)
      else Round((graft.Barriers.roundBarrier(
        dist.join(improved.select(col("id").as("iid")),
          col("id") === col("iid"), "left_anti")
          .unionAll(improved)), improved), nImproved)
    }
    dist
  }

  /** Outer-round cap for [[sccCore]]. Every round provably assigns at
    * least one SCC per forward color class (each class root r has
    * color(r) = bcolor(r) = r), and what actually bounds the round count
    * is the DEPTH of the condensation DAG in min-ancestor order — a
    * round peels every SCC whose minimum vertex is not reachable from a
    * smaller surviving vertex, i.e. one full "layer" of the condensation
    * per round. 64 layers is far past any graph this engine feeds it
    * (the nation graph condenses in 1-2; the layered drill graph is
    * built 8 deep); a graph deeper than this is a chained-SCC pathology
    * the coloring algorithm is the wrong tool for, and per the
    * fixpoint-cap contract the loop THROWS rather than returning a
    * partial labeling.
    */
  private[graft] val SccMaxRounds = 64

  /** Min-label propagation to FIXPOINT along directed edges — the one
    * pointer-jump fixpoint of the graph family: [[sccCore]]'s two passes
    * and the distributed branch of [[Dedup.connectedComponents]] (on its
    * symmetrized contracted edges, where "ancestors" are the whole
    * component). `init` is (id, lab) with lab = id; `edges` is a
    * (src, dst) list the CALLER made stationary
    * ([[graft.Barriers.stationaryEdges]]) and unpersists after the call —
    * the result is checkpoint-truncated and references no cache. Each
    * round takes the min of the current label and the labels of all
    * in-neighbors (labels flow src → dst), then applies TWO pointer
    * jumps. The jumps are sound because labels ARE vertex ids and the
    * invariant "lab(v) reaches v" is transitive:
    * lab(lab(v)) reaches lab(v) reaches v, so following it is a valid
    * (never larger) label — and it turns diameter-bounded convergence
    * into O(log diameter) rounds WHEN label chains form, which is what
    * makes million-node cycles drillable. Chains do NOT form when ids
    * are monotone along edge direction (each hop keeps its own id and
    * the single improving value crawls one edge per round) — that is
    * why [[sccCore]] feeds this loop HASHED ids, never raw ones. At
    * fixpoint lab(v) is EXACTLY
    * min({v} ∪ ancestors(v)): along any path from the true minimum,
    * labels are non-increasing edge by edge, so the minimum's own label
    * (itself — nothing smaller reaches it) propagates all the way down.
    * Labels are non-increasing and bounded below, so the fixpoint is
    * always reached; the cap is the loud-failure contract, not an exit.
    *
    * FRONTIER CONFINEMENT (r13 verdict #2): the neighbor-min step joins
    * the stationary edge cache against only the labels that CHANGED last
    * round, not the full label table — the ssspCore relaxation pattern.
    * Sound by semi-naive evaluation over the min semi-lattice: labels
    * are monotone non-increasing, so a dst can improve only through a
    * src whose label decreased since that src's contribution was last
    * folded in — i.e. a src in last round's change set (round 1 seeds
    * the frontier with every label). A contribution, once applied via
    * least(old, ·), persists forever, so nothing is lost by skipping
    * unchanged srcs. The change set includes labels moved by the
    * pointer jumps, not only by the edge step — `changed` is computed
    * AFTER the jumps. The jumps themselves still self-join the full
    * label table (they must: a chain can route through unchanged ids),
    * but those are slim (id, lab) pairs; the term this confines is the
    * EDGE-sized join, which dominated the 25M-edge drill (~17 min for
    * outer round 1 when every inner round re-joined all labels into all
    * edges).
    */
  /** [[minLabelFix]] switches a round from the full doubling machinery
    * to the delta (frontier-only) machinery when last round's change
    * count falls below labels/THIS. Split from the overlay-compaction
    * fraction in r16: the r15 drill profile showed the 8-layer phase
    * paying 11 FULL rounds (~593 s of the 1,203 s fixpoint total)
    * because the trigger waited for changed < |labels|/8, while the
    * observed change-count decay rate was the SAME (~0.62×/round) in
    * both modes — the doubling jumps were not accelerating the decay,
    * so the full rounds' two extra full-table self-joins plus the
    * 3-column full rewrite were pure overhead once under half the
    * labels were still moving. 2 = delta as soon as a majority of
    * labels are stationary; the giant-cycle regime (changed
    * oscillating at ~n/2 while the hashed label forest collapses, where
    * doubling IS the accelerator) stays in full mode under this
    * trigger, and the [[MlfDeltaStallRounds]]/[[MlfEscalateIter]]
    * guards still force doubling back on any decay stall.
    */
  private[graft] val MlfDeltaTriggerFraction = 2L

  /** Pending-overlay compaction fraction for [[minLabelFix]]'s delta
    * rounds: the overlay folds back into the base table (the one
    * full-table checkpoint a delta round can pay) once it outgrows
    * |labels|/THIS. Also sizes the frontier-broadcast expectation: ≤
    * |labels|/8 × 16 B (≤ 10 MB at the 5M-vertex drill) under the
    * absolute [[MlfBroadcastMaxRows]] cap. Deliberately NOT lowered
    * with the delta TRIGGER above — an early delta round can carry up
    * to |labels|/2 updates, and compacting at that size every round
    * would re-pay exactly the full-table rewrite delta mode exists to
    * skip; at /8 the anti-join view stays 2 checkpointed layers with
    * the overlay bounded well under the base.
    */
  private[graft] val MlfCompactFraction = 8L

  /** Absolute row cap on any broadcast [[minLabelFix]] issues (frontier
    * or pending overlay). The delta-mode TRIGGER stays fractional
    * (|changed|·[[MlfDeltaTriggerFraction]] < |labels|) — it decides when
    * frontier-confined rounds beat full ones regardless of scale — but
    * a broadcast hint gated only on that fraction grows linearly with
    * vertex count (a 200M-vertex graph would broadcast ~25M rows per
    * round: driver/executor OOM risk). Same constant as the pagerank /
    * k-core frontier broadcasts ([[PagerankBroadcastMaxVertices]]);
    * above it the joins fall back to shuffle and AQE sizes them.
    */
  private[graft] val MlfBroadcastMaxRows = PagerankBroadcastMaxVertices

  /** Escalation guards for delta mode (r14 advice): delta rounds drop
    * the pointer-doubling accelerator, so tail convergence is O(log)
    * only w.h.p. over hashed label order — an adversarial input whose
    * still-converging region is < 1/|fraction| of vertices but DEEP in
    * hash order could ride delta mode into the round cap where full
    * doubling would have converged in O(log diameter). Two triggers
    * force the next round back to full doubling: (a)
    * [[MlfDeltaStallRounds]] consecutive delta rounds whose change
    * count did not decrease (the geometric decay delta mode bets on has
    * stopped), or (b) the iteration count passing [[MlfEscalateIter]]
    * (half of [[MlfMaxRounds]]) — the second half of the budget belongs
    * to the accelerator, never to a crawl.
    */
  private[graft] val MlfDeltaStallRounds = 3
  private[graft] val MlfEscalateIter = 50

  /** Convergence budget of [[minLabelFix]]: labels are non-increasing and
    * bounded below, so the fixpoint always arrives; a loop still moving
    * after this many rounds has a broken monotonicity or hit the
    * crawl-slow label order the hashed ids make vanishingly unlikely,
    * and throws rather than return a partial labeling.
    */
  private[graft] val MlfMaxRounds = 100

  /** [[minLabelFix]]'s round state: the label table as a checkpointed
    * `base` under a checkpointed `pending` overlay of `nPending` rows,
    * the `nFrontier` rows the last round changed, and the run of delta
    * rounds whose change count did not drop.
    */
  private final case class MlfState(base: DataFrame, pending: DataFrame,
      nPending: Long, frontier: DataFrame, nFrontier: Long, stall: Int)

  private[graft] def minLabelFix(init: DataFrame, edges: DataFrame,
      what: String): DataFrame = {
    // the label table is (base, pending-overlay): `labels` is the view
    // base-minus-pending-ids ∪ pending. Full rounds rewrite base
    // wholesale (they recompute every row anyway); delta rounds fold
    // their small update set into `pending` and only COMPACT — the one
    // full-table checkpoint — when the overlay outgrows the delta-mode
    // fraction. Both layers are checkpointed, so the view's plan depth
    // is a constant 2 regardless of round count.
    val base0 = graft.Barriers.roundBarrier(init)
    val nLabels = base0.count()
    val noPending = init.limit(0)
    // broadcast only under the ABSOLUTE cap; the fractional delta-mode
    // trigger alone scales the hint linearly with |labels| (r14 advice)
    def hinted(df: DataFrame, n: Long): DataFrame =
      if (n <= MlfBroadcastMaxRows) broadcast(df) else df
    def labels(st: MlfState): DataFrame =
      if (st.nPending == 0) st.base
      else st.base.join(
        hinted(st.pending.select(col("id").as("pid")), st.nPending),
        col("id") === col("pid"), "left_anti").unionAll(st.pending)
    def compact(st: MlfState): MlfState =
      if (st.nPending == 0) st
      else st.copy(base = graft.Barriers.roundBarrier(labels(st)),
        pending = noPending, nPending = 0)
    // round 1: every label is "changed"
    val (last, _) = graft.Barriers.fixpoint(what, Budget(MlfMaxRounds))(
        MlfState(base0, noPending, 0, base0, nLabels, 0)) { (st, round) =>
      val escalate = st.stall >= MlfDeltaStallRounds ||
        round > MlfEscalateIter
      if (st.nFrontier * MlfDeltaTriggerFraction < nLabels && !escalate) {
        // DELTA round (r14 profiling: inner rounds are edge-DIAMETER
        // bound — ~23 per fixpoint on the 8-layer drill — and the tail
        // rounds were paying two full-table pointer-jump self-joins, a
        // full-table left_outer and a count per round while `changed`
        // was in the thousands; the per-round FIXED cost, not the edge
        // join, dominated the 25M-edge drill). When the frontier is
        // small, touch only rows that can actually improve:
        //  - edge step: ids one edge from the frontier (semi-naive —
        //    complete, so an empty delta IS the fixpoint);
        //  - pointer chase: rows whose label IS a frontier id (their
        //    target improved last round) — the jump accelerator
        //    confined to where it can fire, plus one small×small
        //    self-jump within the update set;
        // then rewrite the table once via a small anti-join. The
        // frontier side is broadcast under [[MlfBroadcastMaxRows]]
        // (shuffle join above it — the fractional mode threshold alone
        // scales with |labels|); nbr/update sides are left to AQE,
        // which sees their true runtime sizes. No full-table shuffle
        // remains in the round.
        val nbr = edges
          .join(hinted(st.frontier, st.nFrontier), col("src") === col("id"))
          .groupBy(col("dst")).agg(min(col("lab")).as("nl"))
        val eImp = labels(st).join(nbr, col("id") === col("dst"))
          .filter(col("nl") < col("lab"))
          .select(col("id"), col("nl").as("lab1"))
        val jImp = labels(st)
          .join(hinted(st.frontier
            .select(col("id").as("jid"), col("lab").as("jlab")), st.nFrontier),
            col("lab") === col("jid"))
          .filter(col("jlab") < col("lab"))
          .select(col("id"), col("jlab").as("lab1"))
        val upd0 = eImp.unionAll(jImp)
          .groupBy(col("id")).agg(min(col("lab1")).as("lab1"))
        val selfJ = upd0.select(col("id").as("kid"), col("lab1").as("klab"))
        val upd = graft.Barriers.roundBarrier(upd0
          .join(selfJ, col("lab1") === col("kid"), "left_outer")
          .select(col("id"),
            least(col("lab1"), coalesce(col("klab"), col("lab1")))
              .as("lab")))
        val changed = upd.count()
        // non-decreasing change count means the geometric-decay bet
        // behind delta mode is off — count toward escalation
        val stall = if (changed >= st.nFrontier) st.stall + 1 else 0
        val next =
          if (changed == 0) st
          else {
            // fold the round's updates into the PENDING overlay instead
            // of rewriting the full table: the labels view is base
            // anti-join pending ∪ pending (2 layers, both checkpointed —
            // plan depth stays O(1)), and the full-table rewrite happens
            // only at compaction, when the overlay outgrows
            // [[MlfCompactFraction]] (looser than the delta trigger — an
            // early half-table delta round must not re-pay the full
            // rewrite every round). Kills the dominant fixed cost of a
            // tiny round (checkpointing |labels| rows to apply a 4-row
            // delta).
            val pending = graft.Barriers.roundBarrier(
              st.pending.join(upd.select(col("id").as("uid")),
                col("id") === col("uid"), "left_anti")
                .unionAll(upd))
            val folded = st.copy(pending = pending, nPending = pending.count())
            if (folded.nPending * MlfCompactFraction >= nLabels) compact(folded)
            else folded
          }
        Round(next.copy(frontier = upd, nFrontier = changed, stall = stall),
          changed, "mode=delta")
      } else {
        // FULL round: the doubling machinery — two pointer-jump
        // applications over the whole table per round. Worth its
        // full-table self-joins exactly while most labels are still
        // moving (the giant-cycle phase collapses its 2M-node hashed
        // label forest this way); the jump self-joins re-read
        // `stepped`/`mid`, but each re-read is an identical subtree on
        // compatible keys — ReuseExchange computes it once, one
        // materialization job per round instead of three. Two jumps,
        // not one: on the drill's chain-heavy blocked CC graph one jump
        // was still unconverged after 20+ rounds, two converged in 11.
        val nbr = edges.join(st.frontier, col("src") === col("id"))
          .groupBy(col("dst")).agg(min(col("lab")).as("nl"))
        val stepped = labels(st).select(col("id"), col("lab").as("old"))
          .join(nbr, col("id") === col("dst"), "left_outer")
          .select(col("id"),
            least(col("old"), coalesce(col("nl"), col("old"))).as("lab1"),
            col("old"))
        val jump = stepped.select(col("id").as("jid"), col("lab1").as("jlab"))
        val mid = stepped
          .join(jump, col("lab1") === col("jid"), "left_outer")
          .select(col("id"),
            least(col("lab1"), coalesce(col("jlab"), col("lab1"))).as("lab2"),
            col("old"))
        val jump2 = mid.select(col("id").as("jid2"), col("lab2").as("jlab2"))
        val next = mid
          .join(jump2, col("lab2") === col("jid2"), "left_outer")
          .select(col("id"),
            least(col("lab2"), coalesce(col("jlab2"), col("lab2"))).as("lab"),
            col("old"))
          .transform(graft.Barriers.roundBarrier) // O(1) lineage per round
        val frontier = next.filter(col("lab") =!= col("old"))
          .select(col("id"), col("lab")) // cheap filter over the barrier
        val changed = frontier.count()
        // full rewrite: the overlay is absorbed, and a doubling round
        // resets the stall account
        Round(MlfState(next.select(col("id"), col("lab")), noPending, 0,
          frontier, changed, 0), changed, "mode=full")
      }
    }
    compact(last).base // one checkpointed relation, overlay folded in
  }

  /** Strongly connected components of a DIRECTED graph by forward
    * coloring + backward confinement (Orzan 2004; the FW-BW family,
    * Fleischer et al. 2000) — the directed sibling of the
    * connected-components core, and a plan shape nothing else in the
    * suite has: a NESTED fixpoint (two pointer-jumped min-label
    * propagations per outer round) with node removal between rounds.
    *
    * Per outer round over the surviving subgraph:
    *
    *  1. FORWARD coloring: color(v) = min({v} ∪ ancestors(v)) via
    *     [[minLabelFix]] along the edges. Every color class is a region
    *     reachable from its root r (the class minimum, color(r) = r).
    *  2. BACKWARD confinement: bcolor(v) = min within-class descendant,
    *     via the SAME fixpoint on the class-confined REVERSED edges
    *     (both endpoints share a color — cross-class edges drop).
    *  3. v is DONE iff bcolor(v) = color(v) = r: r reaches v (coloring)
    *     and v reaches r within the class (confinement) — mutual, so v
    *     ∈ SCC(r); conversely every member of SCC(r) colors r and its
    *     entire return path to r stays in class r (any smaller ancestor
    *     of a path node would be a smaller ancestor of r itself), so
    *     the assignment is exact, and r IS the SCC's minimum member
    *     (a smaller member would be a smaller ancestor of r). Done
    *     nodes leave; edges confine to survivors; repeat.
    *
    * The returned (v, scc_id) labeling carries scc_id = min member id —
    * the same canonical-id convention as connectedComponents, so the
    * DuckDB oracle (mutual-reachability closure) matches exactly.
    *
    * The fixpoints run in a HASHED id space, not on the raw vertex ids:
    * min-label propagation has an adversarial worst case when ids are
    * monotone ALONG edge direction (every intermediate keeps its own
    * id, so no label chain ever forms for the pointer jumps to follow,
    * and the one improving value crawls a single edge per round — a
    * directed n-cycle with ascending ids costs n backward rounds; the
    * SccSpec long-cycle case catches exactly this). xxhash64(v)
    * decouples the propagation order from the edge orientation, making
    * the crawl configuration vanishingly unlikely instead of
    * constructible; the hash space is VERIFIED collision-free over the
    * vertex set once per run (one countDistinct — a collision would
    * silently merge classes, so it THROWS per the loud-cap contract),
    * and the canonical min-member scc_id is recovered by a final
    * per-class min over the raw ids, so the hash never leaks into the
    * result.
    *
    * Scale shape: every relation that moves is a slim (id, lab) pair or
    * a 2-column edge list; rounds cut lineage via [[graft.Barriers]]
    * (reliable-barrier conf applies); the inner fixpoints are
    * O(log diameter) w.h.p. in the hashed order thanks to the pointer
    * jumps; outer rounds are bounded by condensation depth with a LOUD
    * [[SccMaxRounds]] throw. Trading-bloc graphs (the query) condense
    * in 1-2 rounds; web-shaped graphs (giant SCC + shallow periphery)
    * in a handful. At or below [[graft.Barriers.DriverFinishEdgeBound]]
    * the whole computation finishes driver-side instead: one Tarjan
    * scan over the collected edge list ([[graft.DriverGraph.scc]]), so a
    * dimension-sized graph (graph_scc's nation digraph, ≤ 625 edges)
    * pays two collects instead of ~50 scheduled jobs of distributed
    * fixpoint overhead. SccSpec asserts both regimes bit-identical on
    * every reference graph; the 25M-edge drill exercises ONLY the
    * distributed branch.
    *
    * Three round-count cutters wrap the coloring loop (r14 verdict #3 —
    * the drill profile showed the remaining cost was ROUNDS, not
    * per-round work):
    *
    *  - TRIM prologue ([[SccTrimRounds]]): acyclic periphery (no
    *    in-edge or no out-edge) leaves as singleton SCCs before any
    *    fixpoint runs;
    *  - CLASS CONFINEMENT: an SCC never spans forward color classes
    *    (same SCC ⇒ same ancestor closure ⇒ same color), so each round
    *    permanently drops cross-class edges — the within-class edge set
    *    the backward pass already computed is next round's live graph,
    *    and classes only subdivide, so more root SCCs peel per round;
    *  - MID-LOOP DRIVER FINISH: once the surviving subproblem fits the
    *    same bound the entry branch honors, the diameter-many tail
    *    rounds collapse into one [[graft.DriverGraph.scc]] scan.
    */
  /** Trim-prologue round cap for [[sccCore]] (the "Trim" of the FW-BW-Trim
    * family, Slota-Rajamanickam-Madduri 2014; r14 verdict #3): a vertex
    * with no in-edges or no out-edges in the live subgraph can sit on no
    * cycle, so it is a SINGLETON SCC — one degree aggregate + one
    * anti-join assigns the whole periphery without paying a fixpoint.
    * The peel is iterative (removing a layer exposes the next), but
    * UNBOUNDED trimming is O(chain length) rounds on a path graph, so
    * the prologue runs a FIXED few rounds — the bulk of real-graph
    * benefit is in the first peel — and leaves the rest to the coloring
    * loop, which handles trivial SCCs correctly anyway (trim is an
    * optimization, never a correctness dependency). On cycle-covered
    * graphs (both ScaleCheck scc drill phases) round 1 removes nothing
    * and the prologue exits after one cheap aggregate.
    *
    * The OTHER standard FW-BW move — single-pivot forward∩backward BFS
    * extraction of a giant SCC — is deliberately NOT taken: BFS is
    * diameter-bound (the 2M-node giant-cycle drill phase would pay 2M
    * rounds), while the pointer-doubled coloring loop extracts the same
    * giant SCC as a root class in O(log diameter) rounds.
    */
  private[graft] val SccTrimRounds = 3

  /** [[sccCore]]'s round state: the surviving hashed vertices
    * (`nRemaining` of them), the live edges among them (`nLive`), and
    * the (hv, lbl) rows assigned so far, one checkpointed relation.
    */
  private final case class SccState(remaining: DataFrame, nRemaining: Long,
      live: DataFrame, nLive: Long, out: Option[DataFrame]) {
    def assigned(d: DataFrame): Option[DataFrame] =
      Some(out.fold(d)(o => graft.Barriers.roundBarrier(o.unionAll(d))))
  }

  private[graft] def sccCore(vertices0: DataFrame, edges0: DataFrame,
      driverFinishEdgeBound: Long = graft.Barriers.DriverFinishEdgeBound)
      : DataFrame = {
    // static (v ↔ hashed v) map; the loop runs entirely in hash space.
    // Ids are normalized to BIGINT before hashing on BOTH the vertex and
    // edge sides: xxhash64 is width-sensitive (int 5 and long 5 hash
    // differently), so a caller mixing integer edges with long vertices
    // would otherwise land in two disjoint hash spaces silently.
    val vmap = graft.Barriers.roundBarrier(
      vertices0.select(col("v").cast("bigint").as("v")).distinct()
        .select(col("v"), xxhash64(col("v")).as("hv")))
    // self-loops never decide an SCC (v is always mutual with itself)
    val rawLive = graft.Barriers.roundBarrier(
      edges0.select(col("src").cast("bigint").as("src"),
          col("dst").cast("bigint").as("dst"))
        .filter(col("src") =!= col("dst")).distinct())
    val nLive = rawLive.count()
    val nVerts = vmap.count()
    // contract validation BEFORE the regime split, so both regimes fail
    // identically on malformed input (r13 advice: the driver branch
    // threw a bare NoSuchElementException from the index map while the
    // distributed branch silently DROPPED edges with endpoints absent
    // from vertices0 — regime parity did not hold off the happy path).
    // One double semi-join count over the deduplicated edge list; the
    // dimension-sized query graph pays microseconds, the 25M-edge drill
    // a single slim pass.
    val nValid = rawLive
      .join(vmap.select(col("v").as("src")), Seq("src"), "left_semi")
      .join(vmap.select(col("v").as("dst")), Seq("dst"), "left_semi")
      .count()
    if (nValid != nLive)
      throw new IllegalArgumentException(
        s"sccCore: ${nLive - nValid} of $nLive edges reference vertices " +
          "absent from the vertex set — the labeling would silently " +
          "exclude them (distributed) or fail later (driver finish); " +
          "pass a vertex relation covering every edge endpoint")
    if (nLive <= driverFinishEdgeBound && nVerts <= driverFinishEdgeBound) {
      // bounded DRIVER finish (the connectedComponents contract): a
      // dimension-sized digraph pays one Tarjan scan, not ~50 jobs of
      // distributed fixpoint overhead; regimes spec-asserted identical
      return graft.DriverGraph.scc(vmap.select(col("v")), rawLive,
        Seq("v", "scc_id"), "scc")
    }
    val chk = vmap.agg(count(lit(1)).as("n"),
      countDistinct(col("hv")).as("nh")).head()
    if (chk.getLong(0) != chk.getLong(1))
      throw new IllegalStateException(
        s"sccCore: xxhash64 collision over ${chk.getLong(0)} vertex ids " +
          s"(${chk.getLong(1)} distinct hashes) — the hashed propagation " +
          "order would silently merge color classes, refusing to run")
    // live starts as rawLive: deduped, self-loop-free
    val remaining0 = graft.Barriers.roundBarrier(vmap.select(col("hv")))
    val start = SccState(remaining0, remaining0.count(),
      graft.Barriers.roundBarrier(
        rawLive.select(xxhash64(col("src")).as("src"),
          xxhash64(col("dst")).as("dst"))), nLive, None)
    // `edges` confined to the surviving vertices
    def confined(edges: DataFrame, remaining: DataFrame): DataFrame =
      graft.Barriers.roundBarrier(edges
        .join(remaining.select(col("hv").as("src")), Seq("src"), "left_semi")
        .join(remaining.select(col("hv").as("dst")), Seq("dst"), "left_semi"))
    // TRIM prologue ([[SccTrimRounds]]): peel vertices that sit on no
    // cycle (no in-edge or no out-edge in the live subgraph) as
    // singleton SCCs — lbl = own hv, a member of its (one-vertex) class,
    // so the global min-member recovery below needs no special case.
    val (trimmed, _) = graft.Barriers.fixpoint("scc-trim",
        Horizon(SccTrimRounds))(start) { (st, _) =>
      if (st.nRemaining == 0) Round(st, 0)
      else {
        val cyclic = st.live
          .select(col("src").as("hv"), lit(1).as("o"), lit(0).as("i"))
          .unionAll(st.live
            .select(col("dst").as("hv"), lit(0).as("o"), lit(1).as("i")))
          .groupBy(col("hv"))
          .agg(max(col("o")).as("ho"), max(col("i")).as("hi"))
          .filter(col("ho") === 1 && col("hi") === 1)
          .select(col("hv"))
        val trivial = graft.Barriers.roundBarrier(
          st.remaining.join(cyclic, Seq("hv"), "left_anti"))
        val nTrivial = trivial.count()
        if (nTrivial == 0) Round(st, 0)
        else {
          val remaining = graft.Barriers.roundBarrier(
            st.remaining.join(trivial, Seq("hv"), "left_anti"))
          val nRemaining = st.nRemaining - nTrivial
          val live =
            if (nRemaining == 0) st.live else confined(st.live, remaining)
          Round(SccState(remaining, nRemaining, live,
              if (nRemaining == 0) 0 else live.count(),
              st.assigned(trivial.select(col("hv"), col("hv").as("lbl")))),
            nTrivial, s"remaining=$nRemaining")
        }
      }
    }
    // bounded MID-LOOP finish: rounds peel the subproblem, and once it
    // fits the same bound the entry branch honors, diameter-many tail
    // rounds collapse into one Tarjan scan (class-confined edges
    // preserve every surviving SCC, see the live rebuild below, so the
    // scan is over an equivalent subproblem). Labels are min-HASH
    // members — unique per class, which is all the min-member recovery
    // needs. Disabled when the caller pins the distributed regime
    // (bound 0): regime-parity specs stay pure. Tried after every
    // round, so it runs before the round budget is checked.
    def finishIfBounded(st: SccState): SccState =
      if (st.nRemaining == 0 || st.nRemaining > driverFinishEdgeBound ||
          st.nLive > driverFinishEdgeBound) st
      else st.copy(nRemaining = 0, out = st.assigned(graft.DriverGraph.scc(
        st.remaining.select(col("hv")), st.live, Seq("hv", "lbl"), "scc")))
    // one fixpoint over `edges`, made stationary for its rounds, with
    // every surviving vertex starting as its own label
    def minLabels(remaining: DataFrame, edges: DataFrame,
        what: String): DataFrame = scoped {
      minLabelFix(remaining.select(col("hv").as("id"), col("hv").as("lab")),
        graft.Barriers.stationaryEdges(edges)._1, what)
    }
    val (last, _) = graft.Barriers.fixpoint("scc", Budget(SccMaxRounds))(
        finishIfBounded(trimmed)) { (st, round) =>
      if (st.nRemaining == 0) Round(st, 0)
      else {
        val colors = graft.Barriers.roundBarrier( // 3 consumers below
          minLabels(st.remaining, st.live, s"scc-forward-r$round")
            .select(col("id").as("hv"), col("lab").as("color")))
        // class-confined edges, REVERSED for the backward pass
        val ceRev = graft.Barriers.roundBarrier(
          st.live
            .join(colors.select(col("hv").as("src"), col("color").as("cs")),
              Seq("src"))
            .join(colors.select(col("hv").as("dst"), col("color").as("cd")),
              Seq("dst"))
            .filter(col("cs") === col("cd"))
            .select(col("dst").as("src"), col("src").as("dst")))
        val bcolors = minLabels(st.remaining, ceRev, s"scc-backward-r$round")
          .select(col("id").as("hv"), col("lab").as("bcolor"))
        val done = graft.Barriers.roundBarrier(
          colors.join(bcolors, Seq("hv"))
            .filter(col("color") === col("bcolor"))
            .select(col("hv"), col("color").as("lbl")))
        val remaining = graft.Barriers.roundBarrier(
          st.remaining.join(done.select(col("hv")), Seq("hv"), "left_anti"))
        val nRemaining = remaining.count()
        // FW-BW CLASS CONFINEMENT (r14 verdict #3): two vertices of one
        // SCC share their ancestor closure, hence their forward color —
        // an SCC never spans color classes, so cross-class edges can be
        // dropped PERMANENTLY, not just for the backward pass. ceRev is
        // exactly the within-class edge set (reversed); un-reverse it
        // and keep survivors. Each round the edge set now shrinks by
        // confinement as well as by removal, and classes only subdivide
        // — more root SCCs peel per round, never fewer, so the
        // SccMaxRounds layer argument is undisturbed.
        val live =
          if (nRemaining == 0) st.live
          else confined(
            ceRev.select(col("dst").as("src"), col("src").as("dst")),
            remaining)
        val next = finishIfBounded(SccState(remaining, nRemaining, live,
          if (nRemaining == 0) 0 else live.count(), st.assigned(done)))
        Round(next, next.nRemaining,
          s"assigned=${st.nRemaining - nRemaining}")
      }
    }
    last.out match {
      case None => // empty vertex set: nothing was ever assigned
        vmap.select(col("v"), col("v").as("scc_id"))
      case Some(out) =>
        // back to raw ids; scc_id = the class's minimum member id. A
        // class label never recurs across rounds (its root is assigned
        // the round the class exists), so one global groupBy is exact.
        val labeled = out.join(vmap, Seq("hv")).select(col("v"), col("lbl"))
        labeled
          .join(labeled.groupBy(col("lbl")).agg(min(col("v")).as("scc_id")),
            Seq("lbl"))
          .select(col("v"), col("scc_id"))
    }
  }

  /** §2.2 q_eager_agg: per-market-segment revenue rollup via EAGER
    * AGGREGATION (Yan & Larson, VLDB 1995) — the aggregate is pushed
    * BELOW both joins, a rewrite Catalyst does not perform: lineitem
    * pre-aggregates to one row per order BEFORE touching orders
    * (~4:1 at TPC-H shape), the per-order rollup re-aggregates to one
    * row per customer before touching the customer dimension, and only
    * |customers-with-orders| rows reach the final segment rollup. The
    * plain plan (the oracle) shuffles every lineitem row through the
    * first join; this plan's join inputs shrink to the NEXT KEY's
    * cardinality at each step — at 100 TB the fact exchange carries
    * |orders| rows, not |lineitem|.
    *
    * Decomposition is EXACT: revenue is the decimal [[discPrice]] sum
    * (sums of sums ≡ the flat sum, no float reordering), item counts
    * add, order/customer counts fall out as row counts of the
    * intermediate rollups — matching the oracle's count(DISTINCT)s
    * because the inner joins drop exactly the same childless rows on
    * both engines. One double cast at the very end.
    */
  def qEagerAgg(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(discPrice).as("rev"), count(lit(1)).as("n_items"))
    val perCust = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      .join(perOrder, Seq("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev")).as("rev"), sum(col("n_items")).as("n_items"),
        count(lit(1)).as("n_orders"))
    Tables.customer(spark, dir)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      .join(perCust, Seq("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        sum(col("n_items")).as("n_items"),
        sum(col("n_orders")).as("n_orders"),
        count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** §2.2 graph_scc: strongly connected components over the DIRECTED
    * nation-level trade-flow graph — "which trade blocs are mutually
    * significant to each other". An edge a → b exists where nation a's
    * customers send supplier-nation b MORE than a uniform share of a's
    * total outbound revenue (rev(a,b) · 25 > Σ_x rev(a,x), a ≠ b):
    * significance is relative to the SENDER, so the relation is
    * genuinely asymmetric and the SF only sharpens shares instead of
    * densifying the graph. SCCs are the maximal sets of nations
    * mutually reachable through chains of significant flows.
    *
    * EXACT end to end: revenue is the 2dp-cast decimal [[discPrice]]
    * sum (tie-free per its contract), the threshold is a decimal
    * integer-multiple comparison, and the SCC labels are integer minima
    * — no float anywhere, so the DuckDB oracle (mutual-reachability
    * closure over the identical edge derivation) matches bit-for-bit.
    *
    * Scale shape: the flow rollup collapses the fact join map-side to
    * ≤ |nations|² rows and persists (two consumers: flows + totals —
    * the shared-relation contract); everything after it is
    * dimension-sized. The [[sccCore]] loop itself is the scale story —
    * drilled on a 25M-edge layered planted graph (ScaleCheck scc),
    * where the query graph exercises only its correctness.
    */
  def graphScc(spark: SparkSession, dir: String): DataFrame = scoped {
    val (flows, _) = materialize(Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), discPrice.as("rev"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
        Seq("l_orderkey"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"),
          col("c_nationkey").as("a")),
        Seq("o_custkey"))
      .join(Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("l_suppkey"),
          col("s_nationkey").as("b")),
        Seq("l_suppkey"))
      .groupBy(col("a"), col("b")).agg(sum(col("rev")).as("rev")))
    val tot = flows.groupBy(col("a")).agg(sum(col("rev")).as("t"))
    val e = flows.join(tot, Seq("a"))
      .filter(col("a") =!= col("b") && col("rev") * lit(25) > col("t"))
      .select(col("a").cast("bigint").as("src"),
        col("b").cast("bigint").as("dst"))
    val nations = Tables.nation(spark, dir)
      .select(col("n_nationkey").cast("bigint").as("v"), col("n_name"))
    val labels = sccCore(nations.select(col("v")), e)
    val sizes = labels.groupBy(col("scc_id"))
      .agg(count(lit(1)).as("scc_size"))
    nations.join(labels, Seq("v"))
      .join(sizes, Seq("scc_id"))
      .select(col("n_name"), col("scc_id"), col("scc_size"))
      .orderBy(col("n_name"))
  }

  /** The frontier BFS loop under graph_shortest_paths, on a general
    * DIRECTED edge list (pass both directions for undirected semantics,
    * as graphShortestPaths does). Seeds are the `nSeeds` smallest
    * even-numbered vertex ids appearing as a src (the query's hub rule);
    * returns (id, hops) for every vertex within `maxHops` of a seed.
    */
  private[graft] def bfsCore(edges0: DataFrame, nSeeds: Int,
      maxHops: Long,
      broadcastMaxVertices: Long = PagerankBroadcastMaxVertices)
      : DataFrame = scoped {
    // seeds + every BFS round consume the edge cache
    val (edges, _) = graft.Barriers.stationaryEdges(edges0)
    val seeds = edges.filter(col("src") % 2 === 0)
      .select(col("src").as("id")).distinct()
      .orderBy(col("id")).limit(nSeeds)
    val visited0 = graft.Barriers.roundBarrier(
      seeds.select(col("id"), lit(0).cast("bigint").as("hops")))
    // state: (visited, frontier, |frontier|) — a round's one count of
    // its fresh vertices is both its `changed` and the next round's
    // routing decision
    val ((visited, _, _), _) = graft.Barriers.fixpoint("bfs", Horizon(maxHops))(
        (visited0, visited0, visited0.count())) {
        case ((visited, frontier, nFrontier), hop) =>
      val routed =
        if (nFrontier <= broadcastMaxVertices) broadcast(frontier)
        else frontier.repartition(col("id"))
      val candidates = edges
        .join(routed, col("src") === col("id"))
        .select(col("dst").as("id")).distinct()
      val fresh = graft.Barriers.roundBarrier(
        candidates.join(visited.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), lit(hop.toLong).as("hops")))
      val nFresh = fresh.count()
      if (nFresh == 0) Round((visited, frontier, nFrontier), 0)
      else Round((graft.Barriers.roundBarrier(visited.unionAll(fresh)), fresh,
        nFresh), nFresh)
    }
    visited
  }

  /** §2.2 graph_kcore: the 2-core of the urgent-flow commerce slice —
    * iteratively peel every vertex with fewer than k=2 surviving
    * neighbors until nothing changes; what remains is the cyclic
    * backbone of the trading network (every tree-like tendril the BFS
    * and component queries still traverse is gone). Output is each
    * surviving vertex with its WITHIN-CORE degree — the resilience
    * question ("who still has ≥2 urgent counterparties after the
    * periphery collapses") that component membership can't answer.
    * Completes the graph family: reachability (components, BFS),
    * centrality (pagerank), community (LPA), local density (triangles),
    * global density backbone (k-core).
    *
    * Scale shape: simultaneous-removal peeling, two-regime like
    * [[Dedup.connectedComponents]] — an edge list at or under
    * [[graft.Barriers.DriverFinishEdgeBound]] peels in memory
    * ([[graft.DriverGraph.kCore]]: rounds are array sweeps, free); above
    * it each distributed round is ONE degree
    * aggregate over the surviving edge list plus two co-partitioned
    * left-semi joins (never a broadcast of the O(V) keep set), landed
    * in a [[graft.Barriers.roundBarrier]] (the CLAUDE.md iterative
    * contract); the loop exits on the first round that removes no
    * edge, and every round's input SHRINKS — total work is
    * O(rounds · surviving edges), 13 rounds to fixpoint on this slice
    * at both shipped SFs. The DuckDB oracle unrolls the identical peel
    * as a [[SparkEntry.kcoreOracleRounds]]-deep CTE chain; rounds past
    * the fixpoint are no-ops, so chain-peel ≡ fixpoint-peel whenever
    * the fixpoint arrives within the chain — KcoreSpec asserts that
    * margin (≥2×) on both shipped SFs, so the engines agree by
    * construction.
    */
  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val (core, _) = kCoreCore(urgentSlicePairs(spark, dir), 2)
    core.select(
      vertexSide("v").as("node_type"),
      vertexKey("v").as("entity_key"),
      col("core_degree"))
      .orderBy(col("node_type"), col("entity_key"))
  }

  /** The simultaneous-removal k-core peel under graph_kcore, on an
    * UNDIRECTED distinct (i, j) pair relation. Returns the surviving
    * per-vertex within-core degrees and the number of peel rounds the
    * fixpoint took (0 = the input already was its own k-core). The
    * driver peel ([[graft.DriverGraph.kCore]]) counts distinct
    * neighbours and reports the rounds that removed a vertex.
    */
  private[graft] def kCoreCore(pairs: DataFrame, k: Int,
      driverEdgeBound: Long = graft.Barriers.DriverFinishEdgeBound)
      : (DataFrame, Int) = scoped {
    // the scope drops the input cache as soon as the result stops reading
    // it: at once after the driver peel's local hand-back
    val (edges0, n0) = materialize(pairs.select(col("i"), col("j")))
    // bounded finishing step, not corpus data: peel in memory where a
    // round is an array sweep instead of a scheduled stage
    if (n0 <= driverEdgeBound) graft.DriverGraph.kCore(edges0, k, "kcore")
    else {
      // every round but the last removes at least one edge, so n0 + 1
      // rounds always reach the fixpoint; a round over no edges reports 0
      // without a job
      val ((edges, _), rounds) = graft.Barriers.fixpoint("kcore", Budget(n0 + 1))(
          (edges0, n0)) { case ((edges, n), _) =>
        if (n == 0) Round((edges, n), 0)
        else {
          val deg = edges.select(col("i").as("v"))
            .unionAll(edges.select(col("j").as("v")))
            .groupBy(col("v")).agg(count(lit(1)).as("d"))
          val keep = deg.filter(col("d") >= k).select(col("v"))
          val next = graft.Barriers.roundBarrier(edges
            .join(keep.select(col("v").as("i")), Seq("i"), "left_semi")
            .join(keep.select(col("v").as("j")), Seq("j"), "left_semi")
            .select(col("i"), col("j")))
          val m = next.count()
          if (m == n) Round((edges, n), 0) else Round((next, m), n - m)
        }
      }
      // the last round removed nothing
      (edges.select(col("i").as("v")).unionAll(edges.select(col("j").as("v")))
        .groupBy(col("v")).agg(count(lit(1)).cast("bigint").as("core_degree")),
        rounds - 1)
    }
  }

  /** Forward-BFS level cap for [[graphBetweenness]] — both engines
    * unroll/loop exactly this many expansions, so the truncation (a
    * no-op whenever the graph's eccentricity from the roots is smaller,
    * as it is on both shipped SFs) is part of the graded definition.
    */
  private[graft] val BetweennessMaxLevel = 12

  /** §2.2 graph_betweenness: k-source Brandes betweenness centrality
    * (Brandes 2001) over the commerce graph — the "who brokers the
    * flow" metric beside pagerank's "who receives it": from the 8
    * smallest vertex ids as sources, level-synchronous BFS counts
    * shortest paths σ, then the backward pass accumulates dependencies
    * δ(v) = Σ_{w ∈ succ(v)} (σ_v/σ_w)(1 + δ(w)) level by level;
    * centrality(v) = Σ_roots δ(root, v). A fixed-source subset is the
    * standard scalable estimator (exact all-pairs is O(V·E)); the
    * source set is deterministic, not sampled.
    *
    * Float discipline, cross-engine exact: σ is an INTEGER quantity
    * (path counts) far below 2⁵³ (max 18,537 at the 25M-edge drill,
    * which also asserts Σ_preds σ(v) = σ(w) over every DAG row), so
    * the forward pass is a plain order-free sum — exact in any
    * aggregation order on both engines, no sorted fold, no
    * degree-bounded collect_list. δ is a genuine float (σv/σw ratios),
    * so every BACKWARD aggregation stays a SEQUENTIAL fold over a
    * sorted list (successor-sorted for δ, root-sorted for the final
    * sum — the d2/list_reduce pattern): both engines add the identical
    * doubles in the identical order and the 6dp landing is bit-safe.
    *
    * Scale shape: the edge cache is stationary (persisted, eagerly
    * counted); each BFS round shuffles only the slim (root, vertex, σ)
    * frontier with an anti-join against the visited set; rounds are
    * barriered ([[graft.Barriers.roundBarrier]] — O(1) lineage, stats
    * stripped); the successor relation builds once and both backward
    * joins are equi-keyed on (root, vertex). At 8 roots the state is
    * ≤ 8·|V| rows end to end.
    */
  def graphBetweenness(spark: SparkSession, dir: String): DataFrame = {
    betweennessCore(spark, commerceEdges(spark, dir), Some(dir))
      .select(
        vertexSide("v").as("node_type"),
        vertexKey("v").as("entity_key"),
        col("centrality"))
      .orderBy(col("node_type"), col("entity_key"))
  }

  /** §2.2 graph_betweenness_approx: the PUBLIC surface of
    * [[betweennessApproxCore]] — pivot-sampled (Brandes-Pich 2007)
    * approximate betweenness over the same commerce graph as
    * [[graphBetweenness]], with the same (node_type, entity_key,
    * centrality) output shape and the same src ∪ dst vertex domain.
    * This is the operator the exact core's fold-width guard
    * ([[BrandesMaxFoldWidth]]) names in its error message: past the cap
    * (a ≥4M-degree hub, where the exact core's sorted δ fold would be a
    * GB-sized row) a user switches HERE — unordered map-side-combined δ
    * sums, no degree-sized row ever materializes. Test-gated
    * (BetweennessApproxSpec k=|V| equality + scaled-restriction
    * equality), NEVER oracle-shared: sampling changes the graded
    * definition. Deterministic for a fixed (graph, k): pivots are the k
    * smallest by (xxhash64(v), v).
    */
  def graphBetweennessApprox(spark: SparkSession, dir: String,
      nPivots: Int = 16): DataFrame = {
    betweennessApproxCore(spark, commerceEdges(spark, dir), nPivots)
      .select(
        vertexSide("v").as("node_type"),
        vertexKey("v").as("entity_key"),
        col("centrality"))
      .orderBy(col("node_type"), col("entity_key"))
  }

  /** §2.2 graph_closeness: k-source harmonic closeness centrality
    * (Boldi-Vigna 2014's harmonic variant — finite on disconnected
    * graphs, unlike classic closeness) over the commerce graph, from
    * the same 8 deterministic roots as [[graphBetweenness]]: per
    * vertex, how many roots reach it, the total root distance, and
    * H(v) = Σ_roots 1/d(root, v) — "who is CLOSE to the flow" beside
    * betweenness's "who brokers it".
    *
    * INTEGER-exact end to end: distances are BFS levels ≤ 12, so every
    * 1/d sums as the exact BIGINT 27720 div d over the common
    * denominator lcm(1..12) = 27720 — no float is ever aggregated (no
    * sorted fold needed at all); ONE division lands the 6dp score.
    *
    * Scale shape: the forward BFS is the SHARED "brandes_vis" artifact
    * (whichever of the two centrality queries runs first pays the
    * pass; the other reads parquet — the stored-labeling contract, and
    * this oracle RECOMPUTES the BFS so stored ≡ recompute is graded);
    * the aggregation is one map-side-combined pass over the ≤ 8·|V|
    * vis relation.
    */
  def graphCloseness(spark: SparkSession, dir: String): DataFrame = {
    val (edges, verts) = centralityGraph(spark, dir)
    val vis = graft.ArtifactStore.readOrCompute(spark, "brandes_vis", dir)(
      brandesForward(edges, verts))
    val h = vis.filter(col("lvl") > 0)
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n_roots_reached"),
        sum(col("lvl").cast("bigint")).as("sum_dist"),
        sum(expr("27720 div lvl")).as("hnum"))
    verts.join(h, Seq("v"), "left_outer")
      .select(
        vertexSide("v").as("node_type"),
        vertexKey("v").as("entity_key"),
        coalesce(col("n_roots_reached"), lit(0L)).as("n_roots_reached"),
        coalesce(col("sum_dist"), lit(0L)).as("sum_dist"),
        round(coalesce(col("hnum"), lit(0L)).cast("double") / lit(27720.0),
          6).as("harmonic"))
      .orderBy(col("node_type"), col("entity_key"))
  }

  /** The level-synchronous k-source BFS under both [[graphBetweenness]]
    * and [[graphCloseness]] (the Brandes forward pass): (root, v, lvl,
    * σ) for every vertex each of the 8 smallest-id roots reaches within
    * [[BetweennessMaxLevel]]. Takes ALREADY-persisted symmetric edges
    * and the vertex relation; returns the unpersisted frontier union —
    * callers persist or store it.
    */
  private[graft] def brandesForward(edges: DataFrame,
      verts: DataFrame): DataFrame =
    brandesForwardFrom(edges,
      verts.orderBy(col("v")).limit(8).select(col("v").as("root")))

  /** [[brandesForward]] from an EXPLICIT root relation — the shared body
    * of the exact 8-smallest-root pass and [[betweennessApproxCore]]'s
    * hash-sampled pivot pass.
    */
  private[graft] def brandesForwardFrom(edges: DataFrame,
      roots: DataFrame): DataFrame = {
    val frontier0 = graft.Barriers.roundBarrier(
      roots.select(col("root"), col("root").as("v"), lit(0).as("lvl"),
        lit(1.0).as("sig")))
    // visited = the union of the checkpointed per-level frontiers (the
    // state, newest first) — accumulating PARTS instead of
    // re-checkpointing a growing union per round turns O(levels²)
    // materialized rows into O(levels)
    def visited(parts: List[DataFrame]) = parts.reduce(_ unionAll _)
    val levels = if (frontier0.count() == 0) 0 else BetweennessMaxLevel
    val (parts, _) = graft.Barriers.fixpoint("brandes-forward",
        Horizon(levels))(List(frontier0)) { (parts, lvl) =>
      // σ is an INTEGER quantity (path counts: σ_w = Σ_preds σ_v with
      // σ_root = 1, integral by induction), so the per-predecessor sum
      // needs no sorted fold — integer-valued double addition is exact
      // in ANY order below 2⁵³, and both engines aggregate the
      // identical multiset (the 25M-edge centrality drill checks the
      // identity Σ_preds σ(v) = σ(w) over every DAG row and measured
      // max σ = 18,537 — nine orders under the boundary). This keeps
      // the forward pass a plain map-side-combined aggregate: no
      // collect_list bounded only by in-degree (178k on the drill hub).
      // The backward δ folds stay SORTED (genuine floats — σv/σw
      // ratios — where addition order matters for bit parity).
      val nxt = parts.head
        .join(edges, col("v") === col("src"))
        .join(visited(parts).select(col("root").as("vr"), col("v").as("vv")),
          col("root") === col("vr") && col("dst") === col("vv"),
          "left_anti")
        .groupBy(col("root"), col("dst"))
        .agg(sum(col("sig")).as("sig"))
        .select(col("root"), col("dst").as("v"), lit(lvl).as("lvl"),
          col("sig"))
      val frontier = graft.Barriers.roundBarrier(nxt)
      Round(frontier :: parts, frontier.count())
    }
    visited(parts)
  }

  /** The symmetric customer–supplier edge relation both centrality
    * queries run on, persisted + eagerly counted, with its vertex set. */
  private def centralityGraph(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    // every BFS round + the successor build consume the edge cache
    val (edges, _) = graft.Barriers.stationaryEdges(commerceEdges(spark, dir))
    val (verts, _) = materialize(edges.select(col("src").as("v")).distinct())
    (edges, verts)
  }

  /** Ceiling on the per-(root, v) backward δ fold width — the sorted
    * successor list is ONE row whose size is the vertex's out-degree in
    * the shortest-path DAG: ~16 B/element ⇒ 4M ≈ 64 MB, large but
    * executor-survivable (the same 4M bound as the union-find finishing
    * branch). The r12 drill measured 177,994 on the 25M-edge power-law
    * hub; a 100×-scale hub (degree 10⁷-10⁸) would make the row GB-sized —
    * an executor OOM, not a slowdown — so the fold THROWS past the cap
    * (the fixpoint-cap contract) rather than dying opaquely. The flat
    * sorted fold itself is load-bearing: δ additions are IEEE floats, so
    * ANY regrouping (a sharded two-level fold) changes the bits the
    * oracle hashes — past the cap the right move is a different
    * algorithm ([[betweennessApproxCore]], the pivot-sampled
    * approximate BC whose unordered δ sums have no fold-width cap),
    * not a silent reorder.
    */
  private[graft] val BrandesMaxFoldWidth = 4000000L

  /** The Brandes backward pass shared by [[betweennessCore]] and
    * [[betweennessApproxCore]]: from the persisted forward pass `vis`
    * (root, v, lvl, σ) over `edges`, the dependency δ(root, v) of every
    * visited vertex. The cores differ only in how a vertex's successor
    * terms (σv/σw)(1 + δw) aggregate: `deltaSum`.
    */
  private def brandesBackward(vis: DataFrame, edges: DataFrame,
      deltaSum: Column => Column): DataFrame = {
    val maxLvl = vis.agg(coalesce(max(col("lvl")), lit(0)).as("m"))
      .head().getInt(0)
    // shortest-path DAG successors: (root, v at l, w at l+1, σv, σw)
    val (sp, _) = materialize(vis.select(col("root"), col("v"), col("lvl"),
        col("sig").as("sigv"))
      .join(edges, col("v") === col("src"))
      .join(vis.select(col("root").as("wr"), col("v").as("w"),
        col("lvl").as("wl"), col("sig").as("sigw")),
        col("root") === col("wr") && col("dst") === col("w") &&
          col("wl") === col("lvl") + 1)
      .select(col("root"), col("v"), col("lvl"), col("sigv"), col("w"),
        col("sigw")))
    // only the PREVIOUS level's δ is ever joined (successors of level-l
    // vertices sit exactly at level l+1), so each round checkpoints one
    // slim level and δ is the union of the checkpointed parts (the
    // state, newest first)
    val deepest = graft.Barriers.roundBarrier(vis.filter(col("lvl") === maxLvl)
      .select(col("root"), col("v"), lit(0.0).as("delta")))
    val (parts, _) = graft.Barriers.fixpoint("brandes-backward",
        Horizon(maxLvl))(List(deepest)) { (parts, round) =>
      val l = maxLvl - round
      val dsum = sp.filter(col("lvl") === l)
        .join(parts.head.select(col("root").as("dr"), col("v").as("dv"),
          col("delta").as("dw")),
          col("root") === col("dr") && col("w") === col("dv"))
        .groupBy(col("root"), col("v"))
        .agg(deltaSum(col("sigv") / col("sigw") * (lit(1.0) + col("dw")))
          .as("dsum"))
      Round(graft.Barriers.roundBarrier(vis.filter(col("lvl") === l)
        .select(col("root"), col("v"))
        .join(dsum, Seq("root", "v"), "left_outer")
        .select(col("root"), col("v"),
          coalesce(col("dsum"), lit(0.0)).as("delta"))) :: parts, -1)
    }
    parts.reduce(_ unionAll _)
  }

  /** The k-source Brandes loop under graph_betweenness, on a SYMMETRIC
    * (src, dst) edge relation: (v, centrality) for every vertex, 6dp.
    * Split out so BetweennessSpec can grade the distributed passes
    * against a driver-side brute-force Brandes on closed-form graphs
    * (and the fold-width guard on an over-cap hub with a test ceiling).
    */
  private[graft] def betweennessCore(spark: SparkSession,
      edges0: DataFrame,
      visStore: Option[String] = None,
      maxFold: Long = BrandesMaxFoldWidth): DataFrame = {
    // every BFS round + the successor build consume the edge cache;
    // only slim frontiers shuffle
    val (edges, _) = graft.Barriers.stationaryEdges(edges0)
    val (verts, _) = materialize(edges.select(col("src").as("v")).distinct())
    // PREEMPTIVE fold-width guard: the δ fold width is bounded by the
    // max out-degree, measured here by a counting aggregate — safe at
    // ANY degree — before a single degree-sized fold buffer exists.
    // The in-aggregate width guard (sortedKeyFold throws during
    // accumulation) stays as defense in depth; this check THROWS
    // before the BFS even starts.
    val maxDeg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(coalesce(max(col("d")), lit(0L))).head().getLong(0)
    require(maxDeg <= maxFold,
      s"brandes δ fold width past $maxFold (max out-degree $maxDeg): " +
        "use betweennessApproxCore (pivot-sampled approximate BC, " +
        "unordered δ sums — no fold-width cap) at this scale")
    // sorted δ folds ride [[GraftFunctions.sortedKeyFold]] (r17):
    // bit-identical to the collect_list → sort_array → HOF-fold chain
    // (same lexicographic order, same 0.0 seed, same sequential float
    // adds) but on primitive buffers — the generic chain paid a
    // GenericInternalRow per input row, a full ArrayData deserialize +
    // foreach per partial-buffer merge (the top task-thread frame in
    // the r17 stall dumps), an UnsafeArrayData copy in sort_array, and
    // an interpreted fold. The maxFold width guard moves into the
    // aggregate (throws DURING accumulation — strictly earlier than
    // the assert_true-in-fold-seed it replaces, which only fired after
    // the degree-sized row existed).
    // the forward pass is the shared "brandes_vis" artifact when a
    // store key is given (graph_closeness reads the same relation —
    // stored ≡ recompute is what both oracles grade); σ doubles
    // round-trip parquet bit-exactly
    val visRaw = visStore match {
      case Some(dir) => graft.ArtifactStore
        .readOrCompute(spark, "brandes_vis", dir)(
          brandesForward(edges, verts))
      case None => brandesForward(edges, verts)
    }
    val delta = brandesBackward(
      // no count: brandesBackward's max-level pull is its first use
      persist(visRaw),
      edges,
      GraftFunctions.sortedKeyFold(col("w"), _, maxFold,
        "brandes δ accumulation: use betweennessApproxCore at this scale"))
    // the contrib fold needs no guard: its width is the number of
    // ROOTS reaching v — bounded by the k-source sample, never degree
    val contrib = delta.filter(col("v") =!= col("root"))
      .groupBy(col("v"))
      .agg(GraftFunctions.sortedKeyFold(col("root"), col("delta"),
        Long.MaxValue, "brandes root fold (width is the root count)")
        .as("centrality"))
    verts
      .join(contrib, Seq("v"), "left_outer")
      .select(col("v"),
        round(coalesce(col("centrality"), lit(0.0)), 6).as("centrality"))
  }

  /** Pivot-sampled APPROXIMATE betweenness (Brandes & Pich 2007) — the
    * implemented fallback [[BrandesMaxFoldWidth]]'s error message
    * recommends, for graphs the exact core refuses (r13 verdict #5: the
    * past-cap message pointed at an algorithm that did not exist in the
    * repo). Two deliberate departures from [[betweennessCore]], both
    * BECAUSE the result is an estimate rather than a graded-exact value:
    *
    *  1. Sources are `nPivots` vertices sampled by xxhash64 order
    *     (deterministic, decoupled from id locality — the 8-smallest-id
    *     rule would cluster sources in one corner of an id-structured
    *     graph, which is fine for a fixed graded definition but biases
    *     an ESTIMATOR), and each vertex's accumulated dependency is
    *     scaled by |V|/k — the Brandes-Pich estimator, unbiased with
    *     E[est] = exact all-sources BC, and EQUAL to it when k = |V|
    *     (the spec's closed-form gate).
    *  2. The backward δ accumulations are PLAIN map-side-combined SUMs,
    *     not the sorted collect_list fold: bit-reproducible float order
    *     only matters when an oracle hashes the result, and dropping the
    *     fold is what removes the fold-width cap entirely — no
    *     degree-sized row ever materializes, so a 10⁸-degree hub is a
    *     wide aggregate, not an executor OOM. This is NOT a silent
    *     reorder of the exact operator (the contract its Scaladoc
    *     forbids): it is a different, separately-gated operator whose
    *     definition includes the sampling.
    *
    * Test-gated (BetweennessApproxSpec), NOT oracle-shared: sampling
    * changes the graded definition, so it must never sit behind
    * graph_betweenness's oracle SQL. Inherits [[BetweennessMaxLevel]] —
    * the forward-pass horizon both cores share: dependencies accumulate
    * over shortest paths of ≤ 12 hops, which at the scale this fallback
    * targets (small-world hub graphs — the configuration that trips the
    * fold cap) covers effectively all paths. Scale shape otherwise
    * identical to the exact core: stationary src-partitioned edge cache,
    * slim per-level frontiers, one checkpointed level per backward round.
    */
  private[graft] def betweennessApproxCore(spark: SparkSession,
      edges0: DataFrame, nPivots: Int = 16): DataFrame = {
    require(nPivots >= 1, s"need at least one pivot: $nPivots")
    // every BFS round + the successor build consume the edge cache;
    // only slim frontiers shuffle
    val (edges, _) = graft.Barriers.stationaryEdges(edges0)
    // src ∪ dst: pure-sink vertices are never path-interior (BC 0) but
    // they ARE in the exact core's output domain — a caller swapping
    // exact → approx past the fold cap must not see the relation narrow
    // (r14 verdict #5). A sink sampled as pivot contributes 0 dependency
    // and still counts in k, so the |V|/k estimator stays unbiased over
    // the FULL vertex set — the same population exact BC sums over.
    val (verts, nVerts) = materialize(edges.select(col("src").as("v"))
      .unionAll(edges.select(col("dst").as("v"))).distinct())
    val pivots = verts
      .orderBy(xxhash64(col("v")), col("v")) // v: total order under ties
      .limit(nPivots).select(col("v").as("root"))
    // no count: the pivot count below is its first use
    val vis = persist(brandesForwardFrom(edges, pivots))
    val k = vis.filter(col("lvl") === 0).count() // pivots actually used
    val delta = brandesBackward(vis, edges, sum(_))
    val scale = nVerts.toDouble / k
    val contrib = delta.filter(col("v") =!= col("root"))
      .groupBy(col("v"))
      .agg((sum(col("delta")) * lit(scale)).as("centrality"))
    // caches released by the harness per query (the shared-relation
    // contract) — the result's plan references verts and checkpointed
    // delta parts only, exactly as the exact core leaves them
    verts
      .join(contrib, Seq("v"), "left_outer")
      .select(col("v"),
        round(coalesce(col("centrality"), lit(0.0)), 6).as("centrality"))
  }

  /** §2.2 graph_louvain_gain: the Louvain refinement step over the
    * STORED LPA communities — for every vertex, the modularity gain of
    * moving it to each neighboring community (the one-move ΔQ of
    * Blondel et al. 2008's first sweep), best move per vertex, top 20
    * by gain. This is the "would a refinement pass improve the
    * partition" audit beside graph_modularity's score: ΔQ(v: A→B) =
    * (k_vB − k_vA′)/m − k_v(D_B − D_A + k_v)/(2m²), all terms exact
    * BIGINTs over the common denominator 2m² (numerators bounded by
    * 2m·deg ≤ 4m² — inside BIGINT to m ≈ 1.5e9 edges; past that the
    * assortativity DECIMAL(38) switch pattern applies), ONE division
    * lands the 6dp gain. Most vertices in a converged labeling have
    * only losing moves — those surface with negative gain (the "least
    * bad" evaluation a refinement sweep still has to make); any
    * positive gains sort first.
    *
    * Scale shape: labels READ from the stored "lpa_labels" artifact
    * (the graph_modularity contract — the oracle recomputes the
    * propagation, grading stored ≡ recompute); per-(vertex, neighbor
    * community) counts are one map-side-combined aggregate off the
    * edge relation; community degree sums are community-sized; the
    * best-move argmax is an integer min-struct; top-20 is a bounded
    * sort with the unique vertex id as the total tie-break.
    */
  def graphLouvainGain(spark: SparkSession, dir: String): DataFrame = {
    val (edges, _) = materialize(commerceEdges(spark, dir))
    val (lbl, _) = materialize(
      graft.ArtifactStore.readOrCompute(spark, "lpa_labels", dir) {
        lpaCore(edges).select(col("v"), col("lbl"))
      })
    val deg = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("d"))
    val mrow = deg.agg(expr("sum(d) div 2").as("m"))
    val dc = lbl.join(deg, Seq("v"))
      .groupBy(col("lbl")).agg(sum(col("d")).as("dsum"))
    // k_{v,B} for every neighboring community B of v (own included)
    val vnb = edges
      .join(lbl.select(col("v").as("dst"), col("lbl").as("nl")), Seq("dst"))
      .groupBy(col("src"), col("nl"))
      .agg(count(lit(1)).as("kvb"))
    val own = lbl.select(col("v").as("src"), col("lbl").as("la"))
    val kva = vnb.join(own, Seq("src"))
      .filter(col("nl") === col("la"))
      .select(col("src"), col("kvb").as("kvown"))
    val best = vnb.join(own, Seq("src"))
      .filter(col("nl") =!= col("la"))
      .join(kva, Seq("src"), "left_outer")
      .join(deg.select(col("v").as("src"), col("d").as("kv")), Seq("src"))
      .join(dc.select(col("lbl").as("nl"), col("dsum").as("db")), Seq("nl"))
      .join(dc.select(col("lbl").as("la"), col("dsum").as("da")), Seq("la"))
      .crossJoin(broadcast(mrow))
      .withColumn("gain_num",
        lit(2L) * col("m") * (col("kvb") - coalesce(col("kvown"), lit(0L))) -
          col("kv") * (col("db") - col("da") + col("kv")))
      .groupBy(col("src"), col("la"), col("kv"), col("m"))
      .agg(min(struct((-col("gain_num")).as("ng"), col("nl").as("b")))
        .as("w"))
      .select(col("src"), col("la"), col("kv"),
        (-col("w.ng")).as("gain_num"), col("w.b").as("lb"), col("m"))
    best
      .orderBy(col("gain_num").desc, col("src"))
      .limit(20)
      .select(
        vertexSide("src").as("node_type"),
        vertexKey("src").as("entity_key"),
        // raw community labels (2·key + type bit): lossless — a div-2
        // "key" would collide customer and supplier communities
        col("la").cast("bigint").as("from_label"),
        col("lb").cast("bigint").as("to_label"),
        col("kv").as("degree"),
        round(col("gain_num").cast("double") /
          (lit(2L) * col("m") * col("m")).cast("double"), 6).as("gain"))
  }

  /** Part-degree cap for [[graphLinkPrediction]] — part of the graded
    * definition: only parts with 2..16 distinct suppliers generate
    * candidate pairs (a part every supplier touches predicts nothing —
    * the df-cap pattern dedup_containment already uses), and
    * lcm(1..16) = 720720 keeps every Resource-Allocation numerator an
    * exact BIGINT.
    */
  private[graft] val LinkPredDfCap = 16L

  /** §2.2 graph_link_prediction: Adamic-Adar and Resource-Allocation
    * link prediction over the supplier–part bipartite graph — for every
    * supplier pair sharing ≥1 low-degree part, AA = Σ_p 1/ln(deg p) and
    * RA = Σ_p 1/deg p (Adamic-Adar 2003; Zhou-Lü-Zhang 2009), the "who
    * co-supplies my catalog" candidate ranking a procurement graph
    * runs. Top 20 pairs.
    *
    * Ranking is INTEGER-exact: RA's numerator over the common
    * denominator lcm(1..16) = 720720 is a BIGINT sum (720720 div d is
    * exact for every capped degree), so ORDER BY ra_num with the
    * (s1, s2) tie-break never compares a float; AA lands alongside at
    * 6dp from a p-sorted sequential fold (the d2/list_reduce pattern —
    * both engines add identical doubles in identical order; libm ulp
    * on ln sits nine orders under the round).
    *
    * Scale shape: the candidate join is bounded by the df cap —
    * Σ_p deg² ≤ 16·|edges|, never quadratic in suppliers (popular
    * parts are excluded by definition, exactly like the rare-shingle
    * postings in dedup_containment); the pair aggregate map-side
    * combines; top-20 is a bounded TakeOrdered, never a global sort.
    */
  def graphLinkPrediction(spark: SparkSession, dir: String): DataFrame = {
    val sp = Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
      .distinct()
    val deg = sp.groupBy(col("p")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= 2L && col("d") <= LinkPredDfCap)
    // both sides of the self-join read `e`, one cached copy: AQE plans
    // each uncached copy of the sp/deg subtree from whichever of its
    // stages have finished, and the job count then varies from run to
    // run (6 to 8 at sf0.01)
    val (e, _) = materialize(sp.join(deg, Seq("p")))
    val pairs = e.select(col("p"), col("s").as("s1"), col("d"))
      .join(e.select(col("p"), col("s").as("s2")), Seq("p"))
      .filter(col("s1") < col("s2"))
    pairs
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_shared_parts"),
        sum(expr("720720 div d")).as("ra_num"),
        sort_array(collect_list(struct(col("p").as("p"),
          (lit(1.0) / log(col("d").cast("double"))).as("w")))).as("lst"))
      .select(col("s1"), col("s2"), col("n_shared_parts"), col("ra_num"),
        aggregate(col("lst"), lit(0.0), (acc, x) => acc + x.getField("w"))
          .as("aa"))
      .orderBy(col("ra_num").desc, col("s1"), col("s2"))
      .limit(20)
      .select(col("s1").cast("bigint").as("s1_suppkey"),
        col("s2").cast("bigint").as("s2_suppkey"),
        col("n_shared_parts"),
        round(col("ra_num").cast("double") / lit(720720.0), 6)
          .as("ra_score"),
        round(col("aa"), 6).as("aa_score"))
  }

  /** §2.2 q_part_skyline: the groupwise Pareto frontier — per brand, the
    * parts no other part of that brand dominates (price ≤ ∧ size ≥,
    * strict in at least one): the "best value at every size point"
    * catalog query. Equal (price, size) twins dominate neither side, so
    * both survive — the window formulation below preserves that.
    *
    * Scale shape: the classic NOT-EXISTS self-join is O(n²); this is the
    * O(n log n) sweep, fully keyed by brand so every step distributes:
    * ONE map-side-combined aggregate collapses the fact to (brand,
    * price, max size) groups, a brand-partitioned prefix-max window
    * (never a global sort) computes the best size at any STRICTLY
    * cheaper price, and membership is two comparisons — a part is on
    * the frontier iff its size equals its price-group max (nothing
    * bigger at equal price) and exceeds the prefix max (nothing as big
    * strictly cheaper). The join back to recover part identity is
    * co-keyed on (brand, price). All comparisons, no float arithmetic —
    * bit-exact against the oracle's identical window.
    */
  def qPartSkyline(spark: SparkSession, dir: String): DataFrame =
    skylineCore(Tables.part(spark, dir))

  /** The groupwise-skyline sweep under q_part_skyline, on any relation
    * with (p_brand, p_partkey, p_retailprice, p_size) columns.
    */
  private[graft] def skylineCore(part: DataFrame): DataFrame = {
    val groups = part
      .groupBy(col("p_brand"), col("p_retailprice"))
      .agg(max(col("p_size")).as("gmax"))
    val ranked = groups.withColumn("prevmax",
      max(col("gmax")).over(Window.partitionBy(col("p_brand"))
        .orderBy(col("p_retailprice"))
        .rowsBetween(Window.unboundedPreceding, -1)))
    part.join(ranked, Seq("p_brand", "p_retailprice"))
      .filter(col("p_size") === col("gmax") &&
        (col("prevmax").isNull || col("prevmax") < col("p_size")))
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
        col("p_size"))
      .orderBy(col("p_brand"), col("p_retailprice"), col("p_partkey"))
  }

  /** §2.2 q_events_attribution: linear multi-touch attribution — every
    * purchase splits 1,000,000 ppm of credit equally across the user's
    * click events in the preceding 7 days; purchases with no touch in
    * the window stay unattributed ("direct"). The marketing-spend
    * question q_events_asof's single-nearest-predecessor cannot answer:
    * every touchpoint in the window earns, not just the last one.
    * Credit is exact integer division (1e6 div n_touch, summed back ×
    * n_touch), so the per-user rollup is bit-stable on both engines.
    *
    * Scale shape: purchases and clicks are two pushed-filter scans of
    * the same fact; the touch count is ONE user-co-partitioned range
    * join (per-user bounded — a user's clicks within 7 days of a
    * purchase, never a cross-user product) collapsed map-side, then a
    * slim (purchase, count) left join back and a per-user rollup on the
    * same user_id partitioning.
    */
  def qEventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        unix_micros(col("ts")).as("pt"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"),
        unix_micros(col("ts")).as("ct"))
    val touch = purchases.join(clicks, Seq("user_id"))
      .filter(col("ct") < col("pt") &&
        col("ct") >= col("pt") - lit(604800000000L))
      .groupBy(col("user_id"), col("p_id"))
      .agg(count(lit(1)).as("n_touch"))
    purchases.join(touch, Seq("user_id", "p_id"), "left_outer")
      .select(col("user_id"),
        col("n_touch"),
        when(col("n_touch").isNull, lit(0L))
          .otherwise(expr("(1000000 div n_touch) * n_touch"))
          .as("attributed_ppm"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("n_touch") > 0, 1).otherwise(0)).cast("bigint")
          .as("n_attributed"),
        sum(col("attributed_ppm")).cast("bigint").as("click_credit_ppm"))
      .orderBy(col("user_id"))
  }

  /** §2.2 q_abc_analysis: ABC / Pareto revenue classification — parts
    * ranked by revenue, class A until 70% of cumulative revenue is
    * covered, B until 90%, C for the tail (a part's class is decided by
    * the share covered STRICTLY BEFORE it, so the part straddling a
    * boundary counts toward the class it completes). The inventory-
    * planning standard: how many SKUs carry the business.
    *
    * Scale shape: the fact table collapses to a per-part decimal rollup
    * first (ONE map-side-combined shuffle). The part catalog scales WITH
    * the corpus (TPC-H scales part linearly in SF), so the exact
    * corpus-wide cumulative revenue is NOT a global window: the total
    * order (r desc, pk) becomes an exact distributed rank
    * ([[graft.Ranks.rowNumber]] — range sort + zipWithIndex, every
    * partition bounded n/P), the rank splits into ≤256 contiguous blocks
    * of ⌈n/256⌉ rows (a PREFIX decomposition of the total order, the
    * pipeline_token_budget two-level idiom with the rank itself as the
    * shard key), per-block running sums keep every window partition
    * bounded at n/256, and block offsets come from a triangular
    * broadcast self-join over the ≤256-row block-total relation. The
    * grand total broadcasts as a 1-row relation; class cuts compare
    * scaled DECIMALS (100·cum < 70·total) — no float ever decides a
    * class, and only the 3-row class rollup leaves as double.
    */
  def qAbcAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(18, 2)
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_extendedprice").cast(dec) *
        (lit(1) - col("l_discount").cast(dec))).as("r"))
    // the eager count IS the row count — reuse it as a literal block
    // size instead of planning a second count aggregate + crossJoin
    // (the sanctioned 1-row driver pull, same as qBitmapDistinct's maxId)
    val (ranked, nRows) = materialize(
      graft.Ranks.rowNumber(rev, "rk", col("r").desc, col("pk")))
    val tot = ranked.agg(sum(col("r")).as("trev"))
    val blocked = ranked
      .withColumn("blk", expr(s"(rk - 1) div ${(nRows + 255) / 256}"))
    val blkTot = blocked.groupBy(col("blk")).agg(sum(col("r")).as("bt"))
    val off = blkTot.as("a")
      .join(blkTot.as("p"), col("p.blk") < col("a.blk"), "left_outer")
      .groupBy(col("a.blk").as("blk"))
      .agg(coalesce(sum(col("p.bt")), lit(0)).as("blk_off"))
    val cumWin = Window.partitionBy(col("blk")).orderBy(col("rk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    blocked.join(broadcast(off), Seq("blk"))
      .withColumn("cumb",
        col("blk_off") + coalesce(sum(col("r")).over(cumWin), lit(0)))
      .crossJoin(broadcast(tot))
      .select(col("r"),
        when(col("cumb") * 100 < col("trev") * 70, lit("A"))
          .when(col("cumb") * 100 < col("trev") * 90, lit("B"))
          .otherwise(lit("C")).as("cls"))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("r")).cast("double").as("revenue"))
      .orderBy(col("cls"))
  }

  /** §2.2 q_basket_pairs: market-basket co-occurrence mining — the top-50
    * product pairs bought together in one order, with supports and
    * integer lift (how much more often the pair co-occurs than its
    * members' popularities predict). The canonical "customers also
    * bought" feeder.
    *
    * Scale shape: the (order, part) bridge dedups once and persists
    * (eager count — THREE consumers: the pair self-join's both sides,
    * the singles aggregate, the order count); the pair enumeration is an
    * equi-self-join co-partitioned on the order key whose per-order cost
    * is bounded by basket width (TPC-H: ≤ 7 lines/order — never the
    * corpus-quadratic blowup), collapsed map-side into (pa, pb) counts.
    * Popularity joins happen AFTER the top-50 cut: the bounded
    * TakeOrdered result broadcasts into the singles relation, so the
    * full pair table never carries payload columns. Lift is served in
    * parts-per-million by exact integer division — no float ever enters
    * the result, so DuckDB matches bit-for-bit.
    */
  def qBasketPairs(spark: SparkSession, dir: String): DataFrame = {
    val (b, _) = materialize(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct())
    val nOrders = b.agg(countDistinct(col("ok")).as("n_orders"))
    val pairCounts = b.as("a")
      .join(b.as("c"), col("a.ok") === col("c.ok") && col("a.pk") < col("c.pk"))
      .groupBy(col("a.pk").as("pa"), col("c.pk").as("pb"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("pa"), col("pb"))
      .limit(50)
    val singles = b.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val out = pairCounts
      .join(singles.select(col("pk").as("pa"), col("c").as("support_a")), Seq("pa"))
      .join(singles.select(col("pk").as("pb"), col("c").as("support_b")), Seq("pb"))
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("support"),
        col("support_a"), col("support_b"),
        expr("(1000000 * n_orders * support) div (support_a * support_b)")
          .cast("bigint").as("lift_ppm"))
      .orderBy(col("support").desc, col("pa"), col("pb"))
    out
  }

  /** §2.2 q_events_paths: pre-conversion path mining — for every
    * purchase, the exact sequence of the (up to) three immediately
    * preceding events in the same user's timeline, rendered as
    * "a>b>c" and counted corpus-wide. The sequence-analysis question
    * q_events_markov's one-step transition matrix cannot answer: which
    * multi-step journeys actually end in a purchase. Ties in ts break
    * on event_id so the neighbor sequence is total and both engines see
    * identical paths; concat_ws drops absent (NULL) predecessors, so a
    * user's first purchase yields the shorter true prefix.
    *
    * Scale shape: ONE user-co-partitioned window shuffle produces all
    * three lags in a single pass (shared window frame, no self-join,
    * no per-purchase range scan); the path histogram is map-side
    * combined into at most |event_types|³ rows. Nothing downstream of
    * the window carries more than the path string.
    */
  def qEventsPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      .withColumn("p1", lag(col("event_type"), 1).over(w))
      .withColumn("p2", lag(col("event_type"), 2).over(w))
      .withColumn("p3", lag(col("event_type"), 3).over(w))
      .filter(col("event_type") === "purchase")
      .select(concat_ws(">", col("p3"), col("p2"), col("p1")).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_purchases"))
      .orderBy(col("n_purchases").desc, col("path"))
  }

  /** §2.2 q_discount_elasticity: per-brand OLS regression of quantity on
    * discount — does discounting actually move volume, and for which
    * brands (the pricing-analytics staple). The grouped-regression
    * shape: one least-squares fit PER GROUP, not the corpus-global fit
    * text_zipf/autocorr run. Slope is in units-per-discount-point
    * (discount rendered as exact integer centi-points).
    *
    * Exactness: regr_slope's streaming Welford update is accumulation-
    * ORDER-dependent, so cross-engine bit equality is not guaranteed —
    * instead the five raw moments (n, Σx, Σy, Σx², Σxy) aggregate as
    * exact BIGINTs (every sum ≪ 2⁵³ at any gated SF, and map-side
    * combine order cannot change an integer sum), and slope/intercept
    * come from the closed forms (n·Σxy−Σx·Σy)/(n·Σx²−(Σx)²) — ONE
    * float division each, rounded 6dp. Scale shape: single map-side-
    * combined shuffle to |brands| rows; the part dim broadcasts.
    */
  def qDiscountElasticity(spark: SparkSession, dir: String): DataFrame = {
    val f = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"),
        expr("CAST(round(l_discount * 100) AS BIGINT)").as("x"),
        col("l_quantity").cast("bigint").as("y"))
    f.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("p_brand"), col("n_rows"),
        round((col("n_rows") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n_rows") * col("sxx") - col("sx") * col("sx"))
            .cast("double"), 6).as("slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy"))
          .cast("double") /
          (col("n_rows") * col("sxx") - col("sx") * col("sx"))
            .cast("double"), 6).as("intercept"))
      .orderBy(col("p_brand"))
  }

  /** §2.2 q_events_autocorr: autocorrelation of the daily event-count
    * series at lags 1 and 7 — the signal-processing question behind
    * capacity planning and anomaly baselines ("is tomorrow like today;
    * is next Monday like last Monday"). A strong lag-7 with a weak
    * lag-1 is the weekly-seasonality signature q_events_dow_profile
    * shows shape-wise but never quantifies. Day indices are exact
    * integer epoch-day arithmetic; Pearson corr is the one float,
    * rounded 6dp (scale-invariant, so both engines' moment formulas
    * agree far below the round).
    *
    * Scale shape: the fact collapses to the DAILY relation first (ONE
    * map-side-combined shuffle; |days| rows regardless of event
    * volume); each lag is a self-equi-join on day+lag over that tiny
    * relation and the corr moments combine map-side. The lag table is
    * a 2-row broadcast.
    */
  def qEventsAutocorr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("c"))
    val lags = Seq(1L, 7L).toDF("lag")
    val a = daily.select(col("day").as("a_day"), col("c").as("a_c"))
    val b = daily.select(col("day").as("b_day"), col("c").as("b_c"))
    a.crossJoin(broadcast(lags))
      .join(b, col("b_day") === col("a_day") + col("lag"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("a_c"), col("b_c")), 6).as("autocorr"))
      .orderBy(col("lag"))
  }

  /** §2.2 q_events_dwell: per-state dwell time — how long the user
    * timeline sits in each event_type before the NEXT event arrives
    * (lead(ts) − ts summed per type; each user's final event is open-
    * ended and excluded). The state-duration complement of
    * q_events_markov's transition counts: Markov says where flows go,
    * dwell says how long they sit. All arithmetic is exact integer
    * micros end to end — no interval type, no float.
    *
    * Scale shape: the same single user-co-partitioned window shuffle as
    * the other timeline queries (lead is one pass over the sorted
    * partition), then a map-side-combined aggregate into
    * |event_types| rows.
    */
  def qEventsDwell(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      .withColumn("nxt", lead(col("tus"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("nxt") - col("tus")).cast("bigint").as("dwell_us"))
      .orderBy(col("event_type"))
  }

  /** §2.2 q_events_band_join: global ±60 s band self-join — for each
    * event, how many OTHER events (any user) landed within a minute of
    * it — the co-occurrence density behind "was this spike corpus-wide
    * or just this user". There is NO equi key, the classic range-join
    * trap: the naive theta-join is a cartesian product at any scale.
    * The scalable shape is bucket expansion (what engines' range-join
    * hints do under the hood): each probe row fans out to its bucket
    * and both neighbors (3 rows, constant), the join becomes an
    * EQUI-join on the 60 s bucket id, and the exact |Δt| ≤ 60 s predicate
    * filters inside the matched bucket pair — cost O(n · band density),
    * never O(n²). All arithmetic is exact integer micros.
    *
    * Scale shape: one hash shuffle on bucket id for both sides (the
    * 3× fan-out is map-side), one map-side-combined per-event count,
    * one tiny per-type rollup. Bucket width = band width bounds every
    * bucket's population by the true local density, so skew follows the
    * data's real burstiness and AQE's skew-join split handles hot
    * buckets.
    */
  def qEventsBandJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
    val W = 60000000L // 60 s in micros
    val bkt = expr(s"tus div ${W}L") // exact integer bucket id
    val probe = ev.select(col("event_id"), col("event_type"), col("tus"),
      explode(array(bkt - 1, bkt, bkt + 1)).as("bkt"))
    val build = ev.select(col("event_id").as("b_id"),
      col("tus").as("b_tus"), bkt.as("bkt"))
    probe.join(build, Seq("bkt"))
      .filter(col("b_id") =!= col("event_id") &&
        abs(col("b_tus") - col("tus")) <= W)
      .groupBy(col("event_id"), col("event_type"))
      .agg(count(lit(1)).as("n_band"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events_with_neighbors"),
        sum(col("n_band")).cast("bigint").as("total_band_pairs"),
        max(col("n_band")).as("max_band"))
      .orderBy(col("event_type"))
  }

  /** §2.2 q_events_burstiness: Fano factor (index of dispersion,
    * sample-variance/mean) of each event type's daily count series —
    * the burstiness scalar separating Poisson-like arrivals (F ≈ 1)
    * from bursty ones (F ≫ 1); complements q_events_autocorr (rhythm)
    * and q_events_entropy (spread) with the dispersion member.
    * F = (N·Σc² − (Σc)²) / ((N−1)·Σc) — exact integer moments, ONE
    * float division.
    *
    * Scale shape: the fact collapses to |days|·|types| rows in one
    * map-side-combined count; the moment rollup is a second tiny
    * aggregate. Scan-bound at any SF.
    */
  def qEventsBurstiness(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("c")).cast("bigint").as("n_events"),
        sum(col("c") * col("c")).cast("bigint").as("ssq"))
      .select(col("event_type"), col("n_days"), col("n_events"),
        round((col("n_days") * col("ssq") - col("n_events") * col("n_events"))
          .cast("double") /
          ((col("n_days") - 1) * col("n_events")).cast("double"), 6)
          .as("fano"))
      .orderBy(col("event_type"))
  }

  /** §2.2 q_user_streaks: longest consecutive-active-day streak per user
    * — the engagement metric behind "7-day streak" product mechanics,
    * and the canonical GAPS-AND-ISLANDS pattern (q_events_sessionize's
    * micro-gap cousin at day granularity): day − dense-rank-of-day is
    * constant exactly within a consecutive run, so one subtraction
    * turns runs into group keys. All-integer epoch-day arithmetic,
    * bit-identical across engines.
    *
    * Scale shape: the fact collapses to distinct (user, day) first
    * (map-side-combined, bounded by users × days); the rank window and
    * both rollups are user-co-partitioned — ONE shuffle key end to end,
    * no global window.
    */
  def qUserStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    days
      .withColumn("isl", col("day") - dense_rank().over(w))
      .groupBy(col("user_id"), col("isl"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(sum(col("len")).cast("bigint").as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"))
      .orderBy(col("user_id"))
  }

  /** §2.2 q_size_price_spearman: Spearman rank correlation between part
    * size and retail price per brand — the RANK-statistics member of
    * the statistical family (corr = linear, elasticity = OLS, this =
    * monotonic association robust to outliers and nonlinearity). Ranks
    * never materialize as floats: the tie-averaged rank doubles to the
    * INTEGER 2r = 2·|less| + |equal| + 1, Pearson-over-ranks runs on
    * exact integer moments, and the closed form spends exactly one
    * IEEE sqrt and one division per brand.
    *
    * Scale shape: per-brand distinct-value histograms (map-side
    * combined) carry the prefix sums — the rank windows run over
    * |distinct values| rows per brand, never the part rows; ranks join
    * back brand-co-partitioned; one moment aggregate per brand.
    */
  def qSizePriceSpearman(spark: SparkSession, dir: String): DataFrame = {
    val (parts, _) = materialize(Tables.part(spark, dir)
      .select(col("p_brand"), col("p_size"), col("p_retailprice")))
    def ranks(value: Column, name: String): DataFrame = {
      val w = Window.partitionBy(col("p_brand")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, -1)
      parts.select(col("p_brand"), value.as("v"))
        .groupBy(col("p_brand"), col("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("lt", coalesce(sum(col("cnt")).over(w), lit(0L)))
        .select(col("p_brand"), col("v"),
          (lit(2L) * col("lt") + col("cnt") + 1L).as(name))
    }
    val rs = ranks(col("p_size").cast("double"), "rx")
      .select(col("p_brand").as("bx"), col("v").as("sz"), col("rx"))
    val rp = ranks(col("p_retailprice"), "ry")
      .select(col("p_brand").as("by"), col("v").as("pr"), col("ry"))
    parts
      .join(rs, col("p_brand") === col("bx") &&
        col("p_size").cast("double") === col("sz"))
      .join(rp, col("p_brand") === col("by") &&
        col("p_retailprice") === col("pr"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"),
        sum(col("rx") * col("ry")).as("sxy"))
      .select(col("p_brand"), col("n_parts"),
        round((col("n_parts") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          sqrt((col("n_parts") * col("sxx") - col("sx") * col("sx"))
            .cast("double") *
            (col("n_parts") * col("syy") - col("sy") * col("sy"))
              .cast("double")), 6).as("spearman"))
      .orderBy(col("p_brand"))
  }

  /** §2.2 q_revenue_retention: net revenue retention per year — this
    * year's revenue FROM LAST YEAR'S CUSTOMERS over last year's total
    * ("did the existing base grow or shrink before counting new
    * logos"), plus the customer-count retention rate. The cohort-money
    * twin of q_orders_cohort's count matrix. Revenue stays exact
    * decimal through the semi-join and both rollups; the two rates are
    * single 6dp divisions.
    *
    * Scale shape: orders collapse once to the (year, customer) grain
    * (map-side combined); the returning-customer check is a slim
    * year-shifted self-semi-join on the customer key; final rollup is
    * |years| rows.
    */
  def qRevenueRetention(spark: SparkSession, dir: String): DataFrame = {
    val (yc, _) = materialize(Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).cast("bigint").as("yr"),
        col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev")))
    val tot = yc.groupBy(col("yr"))
      .agg(sum(col("rev")).as("tot_rev"),
        count(lit(1)).as("n_customers"))
    val retained = yc.select((col("yr") + 1).as("yr"),
      col("o_custkey").as("prev_cust"))
      .join(yc.select(col("yr"), col("o_custkey").as("prev_cust"),
        col("rev")), Seq("yr", "prev_cust"))
      .groupBy(col("yr"))
      .agg(sum(col("rev")).as("ret_rev"),
        count(lit(1)).as("n_retained"))
    tot.select(col("yr"), col("tot_rev"), col("n_customers"))
      .join(retained, Seq("yr"))
      .join(tot.select((col("yr") + 1).as("yr"),
        col("tot_rev").as("prev_rev"),
        col("n_customers").as("prev_customers")), Seq("yr"))
      .select(col("yr"),
        col("tot_rev").cast("double").as("tot_rev"),
        col("n_retained"),
        round(col("ret_rev").cast("double") /
          col("prev_rev").cast("double"), 6).as("nrr"),
        round(col("n_retained").cast("double") /
          col("prev_customers").cast("double"), 6).as("logo_retention"))
      .orderBy(col("yr"))
  }

  /** §2.2 q_user_overlap: pairwise audience overlap — exact Jaccard of
    * the user sets behind every event-type pair ("are clickers the
    * same people as purchasers"), the set-similarity view of the
    * funnel the per-user q_user_setops rollup doesn't give. All set
    * sizes are exact integers from ONE deduplicated (user, type)
    * relation; Jaccard is the single float, 6dp.
    *
    * Scale shape: the fact collapses to distinct (user, type) first
    * (map-side-combined, ≤ |users|·|types| rows); the pair join is
    * user-co-partitioned with the type inequality filtered in place —
    * per-user cost bounded by |types|², never corpus-quadratic; sizes
    * broadcast back into the |types|²-row result.
    */
  def qUserOverlap(spark: SparkSession, dir: String): DataFrame = {
    val (ut, _) = materialize(Tables.events(spark, dir)
      .select(col("user_id"), col("event_type")).distinct())
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val inter = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    inter
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        round(col("n_both").cast("double") /
          (col("n_a") + col("n_b") - col("n_both")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** §2.2 q_funnel_latency: stage-to-stage conversion latency — exact
    * interpolated p50/p95 (plus min/max) of the view→click and
    * click→purchase transition times over the SAME min-after-min stage
    * timestamps q_events_funnel computes ("how long does conversion
    * take", the timing complement of the funnel's how-many). All gaps
    * are exact integer micros; `percentile` ≡ quantile_cont.
    *
    * Scale shape: the three stage relations are per-user min
    * aggregates (map-side combined) joined on the user key; the
    * latency rollup collapses to 2 rows. Nothing outlives the
    * user-keyed pass.
    */
  def qFunnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tus")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("tus") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("tus")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("tus") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("tus")).as("p_ts"))
    val vc = v.join(c, Seq("user_id"))
      .select(lit("view>click").as("transition"),
        (col("c_ts") - col("v_ts")).as("gap_us"))
    val cp = c.join(p, Seq("user_id"))
      .select(lit("click>purchase").as("transition"),
        (col("p_ts") - col("c_ts")).as("gap_us"))
    vc.unionAll(cp)
      .groupBy(col("transition"))
      .agg(count(lit(1)).as("n_users"),
        round(expr("percentile(gap_us, 0.5)"), 6).as("p50_us"),
        round(expr("percentile(gap_us, 0.95)"), 6).as("p95_us"),
        min(col("gap_us")).as("min_us"),
        max(col("gap_us")).as("max_us"))
      .orderBy(col("transition"))
  }

  /** §2.2 q_customer_survival: Kaplan-Meier-style survival curve over
    * customer lifetimes — S(t) = Π_{i≤t} (1 − dᵢ/nᵢ) where a customer
    * "dies" at their last-order month offset (months since first
    * order): the churn curve that answers "what share of customers are
    * still ordering t months after acquisition". The product runs as
    * exp(Σ ln(1−d/n)) through an ORDERED running window, so both
    * engines fold the identical sequence in the identical order —
    * deterministic up to libm's last ulp, nine orders under the 6dp
    * round. Lifetime offsets, dᵢ, and nᵢ are all exact integers.
    *
    * Scale shape: one per-customer min/max aggregate (map-side
    * combined), collapse to the ≤ |months| offset relation, then
    * windows over that tiny series. The single-partition windows run
    * over ~80 rows — bounded by the calendar, never the data.
    */
  def qCustomerSurvival(spark: SparkSession, dir: String): DataFrame = {
    val lifeMonths = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(min(expr("unix_micros(o_orderdate) div 86400000000")).as("f"),
        max(expr("unix_micros(o_orderdate) div 86400000000")).as("l"))
      .select(expr("(l - f) div 30").as("life_m")) // exact integer months
      .groupBy(col("life_m")).agg(count(lit(1)).as("d"))
    val wAtRisk = Window.orderBy(col("life_m"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy(col("life_m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lifeMonths
      .withColumn("n_at_risk", sum(col("d")).over(wAtRisk).cast("bigint"))
      // ln(0) is engine-divergent (Spark -Inf, DuckDB error): carry a
      // zero-ratio flag through the window instead and pin survival 0
      .withColumn("ratio", lit(1.0) - col("d").cast("double") /
        col("n_at_risk").cast("double"))
      .withColumn("lnr",
        when(col("ratio") > 0.0, log(col("ratio"))).otherwise(lit(0.0)))
      .withColumn("survival",
        when(min(col("ratio")).over(wCum) === 0.0, lit(0.0))
          .otherwise(round(exp(sum(col("lnr")).over(wCum)), 6)))
      .select(col("life_m"), col("d").as("n_churned"), col("n_at_risk"),
        col("survival"))
      .orderBy(col("life_m"))
  }

  /** §2.2 q_markov_stationary: the stationary distribution of the
    * empirical event-type Markov chain — where the user journey settles
    * in the long run, the scalar completion of q_events_markov's
    * transition matrix (counts say where flows go next; the fixed point
    * says where they END UP). Ten power-iteration rounds in EXACT
    * integer parts-per-million, the pagerank arithmetic on a dense
    * |types|×|types| chain: πₖ₊₁(j) = Σᵢ (πₖ(i)·cᵢⱼ) div rᵢ — the same
    * truncating div on both engines, so every intermediate is
    * bit-identical and no float ever exists.
    *
    * Scale shape: the fact collapses once through the user-partitioned
    * lag window into the |types|² transition matrix; ten rounds of
    * |types|²-row joins follow — nothing after the first window scales
    * with event volume.
    */
  def qMarkovStationary(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("cur"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      .withColumn("prev", lag(col("cur"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("n"))
    markovStationaryCore(trans)
  }

  /** Driver-finish bound for [[markovStationaryCore]], in transition-
    * matrix ROWS (distinct (prev, cur) state pairs — |states|², a
    * DIMENSION square, never fact-sized): at or under it the matrix
    * collects (~tens of MB of short strings at the bound) and the 10
    * power-iteration rounds run as in-memory map sweeps; above it the
    * distributed join loop takes over. The [[Dedup.connectedComponents]]
    * / [[kCoreCore]] driver-finish pattern: the bound gates WHICH engine
    * iterates, never the answer (MarkovStationarySpec asserts both
    * regimes bit-identical) — the r16 profile measured the distributed
    * loop's 10 chained join+agg stages costing ~20 scheduled stages of
    * pure fixed overhead to iterate a 25-row cached matrix.
    */
  private[graft] val MarkovDriverEdgeBound = 1000000L

  /** The 10-round power iteration under q_markov_stationary over a
    * (prev, cur, n) transition-count relation: (state, ppm) after 10
    * integer-exact spreads — per edge (ppm · n) div r with r the row
    * sum, summed by target state. Split out so the spec can drive BOTH
    * finish regimes over one matrix and assert bit equality.
    */
  private[graft] def markovStationaryCore(trans0: DataFrame,
      rounds: Int = 10,
      driverEdgeBound: Long = MarkovDriverEdgeBound): DataFrame = scoped {
    val spark = trans0.sparkSession
    import spark.implicits._
    val (trans, nEdges) = materialize(trans0)
    val rows = trans.groupBy(col("prev")).agg(sum(col("n")).as("r"))
    val m = trans.join(rows, Seq("prev"))
      .select(col("prev"), col("cur"), col("n"), col("r"))
    if (nEdges <= driverEdgeBound) {
      // FINISH ON THE DRIVER: the matrix is dimension-adjacency
      // structure, not corpus data. Each round replicates the
      // distributed arithmetic exactly — per-edge floor division, then
      // an order-free integer sum per target state — so the labeling is
      // bit-identical to the join loop below (spec-asserted).
      val edges = m.as[(String, String, Long, Long)].collect()
      var pi: Map[String, Long] =
        edges.iterator.map(_._1).distinct.map(_ -> 1000000L).toMap
      for (_ <- 1 to rounds) {
        val nxt = scala.collection.mutable.HashMap.empty[String, Long]
        // p != null mirrors the join's === semantics exactly: a NULL
        // prev state matches no pi row (not even a NULL one), while a
        // NULL cur still lands its own group row like groupBy does
        for ((p, c, n, r) <- edges; if p != null; ppm <- pi.get(p))
          nxt.update(c, nxt.getOrElse(c, 0L) + (ppm * n) / r)
        pi = nxt.toMap
      }
      return pi.toSeq.toDF("state", "ppm").orderBy(col("state"))
    }
    val (mp, _) = materialize(m)
    val (pi, _) = graft.Barriers.fixpoint("markov", Horizon(rounds))(
        trans.select(col("prev").as("state")).distinct()
          .select(col("state"), lit(1000000L).as("ppm"))) { (pi, _) =>
      Round(graft.Barriers.roundBarrier(
        mp.join(pi, col("prev") === col("state"))
          .select(col("cur"),
            expr("(ppm * n) div r").as("contrib"))
          .groupBy(col("cur"))
          .agg(sum(col("contrib")).cast("bigint").as("ppm"))
          .select(col("cur").as("state"), col("ppm"))), -1)
    }
    pi.orderBy(col("state"))
  }

  /** §2.2 q_events_seasonality: STL-lite weekly seasonal indices — the
    * centered-7-day moving average detrends the daily count series, and
    * the mean detrended residual per day-of-week is the additive
    * seasonal index ("Mondays run +180 events over trend"). The
    * decomposition complement of q_events_dow_profile's raw histogram:
    * indices survive growth because the trend is removed first. Trend =
    * Σ₇c / 7 (exact integer sum, ONE rounded division); only full
    * 7-day windows contribute, so edges never bias the indices; the
    * per-dow mean over a handful of residuals sits ~7 orders below the
    * 6dp round.
    *
    * Scale shape: the fact collapses to the daily relation first; the
    * MA is a type-co-partitioned ROWS window over |days| rows; the
    * index rollup is a tiny map-side-combined aggregate.
    */
  def qEventsSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("w_n", count(lit(1)).over(w))
      .withColumn("w_sum", sum(col("c")).over(w))
      .filter(col("w_n") === 7)
      .select(col("event_type"), (col("day") % 7).as("dow"),
        (col("c").cast("double") - col("w_sum").cast("double") / 7.0)
          .as("r"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_days"),
        round(avg(col("r")), 6).as("seasonal_idx"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** §2.2 q_dq_referential: referential-integrity audit across every
    * foreign-key edge of the warehouse star — child row count and
    * orphan count (children whose parent key is missing) for all seven
    * FK relationships. The complement of q_dq_audit's per-column
    * profiling: this one checks the JOINS the whole schema stands on,
    * the first thing a warehouse load validates and the invariant every
    * downstream query silently assumes.
    *
    * Scale shape: each edge is one left-anti join on the key plus a
    * count — the anti-join shuffles bare keys only (or broadcasts the
    * dim side when small; AQE picks), and the seven 1-row results union
    * driver-side. No fact column beyond the key is ever read.
    */
  def qDqReferential(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, child: DataFrame, parent: DataFrame): DataFrame = {
      val c = child.toDF("k")
      val p = parent.toDF("k")
      c.agg(count(lit(1)).as("n_child"))
        .crossJoin(broadcast(c.join(p, Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))))
        .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphans"))
    }
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    Seq(
      edge("customer.nationkey->nation", c.select(col("c_nationkey")),
        n.select(col("n_nationkey"))),
      edge("lineitem.orderkey->orders", li.select(col("l_orderkey")),
        o.select(col("o_orderkey"))),
      edge("lineitem.partkey->part", li.select(col("l_partkey")),
        Tables.part(spark, dir).select(col("p_partkey"))),
      edge("lineitem.suppkey->supplier", li.select(col("l_suppkey")),
        s.select(col("s_suppkey"))),
      edge("nation.regionkey->region", n.select(col("n_regionkey")),
        Tables.region(spark, dir).select(col("r_regionkey"))),
      edge("orders.custkey->customer", o.select(col("o_custkey")),
        c.select(col("c_custkey"))),
      edge("supplier.nationkey->nation", s.select(col("s_nationkey")),
        n.select(col("n_nationkey"))))
      .reduce(_ unionAll _)
      .orderBy(col("fk_edge"))
  }

  /** §2.2 q_order_latency: order-to-ship latency distribution per order
    * priority — exact interpolated p50/p95 plus the share shipping
    * beyond 60 days, over exact integer epoch-day differences (does
    * URGENT actually ship faster, and by how much at the tail). The
    * latency twin of q12's count-based priority check.
    *
    * Scale shape: the order date joins in slim (key, day) form —
    * SF-proportional on both sides, AQE picks the strategy; one
    * map-side-combined aggregate per priority; `percentile` is Spark's
    * exact interpolated implementation, mirrored by quantile_cont.
    */
  def qOrderLatency(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"),
        expr("unix_micros(l_shipdate) div 86400000000").as("ship_day"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr("unix_micros(o_orderdate) div 86400000000").as("order_day")),
        Seq("o_orderkey"))
      .select(col("o_orderpriority"),
        (col("ship_day") - col("order_day")).as("lat"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(expr("percentile(lat, 0.5)"), 6).as("p50_days"),
        round(expr("percentile(lat, 0.95)"), 6).as("p95_days"),
        sum(when(col("lat") > 60, 1L).otherwise(0L)).cast("bigint")
          .as("n_over_60d"))
      .orderBy(col("o_orderpriority"))
  }

  /** §2.2 q_dq_schema_profile: per-column warehouse profiling over
    * orders — row count, null count, EXACT distinct count, min and max
    * per column: the ANALYZE/profiler surface every warehouse exposes
    * beside the targeted DQ audits (q_dq_audit checks rules;
    * this reports shape).
    *
    * Cross-engine exactness by NORMALIZED rendering: min/max compute
    * on native values and render through engine-stable forms — BIGINTs
    * and strings directly, doubles through DECIMAL(18,2) (double→string
    * formatting differs between engines; decimal→string does not),
    * timestamps as epoch micros (the repo invariant). Exact distinct
    * counts are the graded semantics; at 100 TB the profiler would run
    * the HLL sketch instead (sketch_distinct) — profiling exactly is
    * inherently a multi-Expand pass.
    *
    * Scale shape: ONE scan — all six columns profile in a single
    * aggregate (Spark expands for the distinct counts, still one data
    * pass), then a 6-row stack unpivot; no join, no window. The scan
    * is spread across partitions first: the testdata parquet is
    * single-row-group (CLAUDE.md invariant), and a ×7 Expand feeding
    * 25 aggregate expressions on ONE task was the whole 5 s isolated
    * cost — the spread cut it to ~1.5 s.
    */
  def qDqSchemaProfile(spark: SparkSession, dir: String): DataFrame = {
    // scale-adaptive scan-parallelism floor (r16: was a literal 32 —
    // exactly the local-mode constant the optimization contract bans):
    // the single-row-group testdata parquet otherwise profiles the whole
    // table in one task; on real multi-row-group inputs the scan splits
    // upstream and this repartition is a cheap row-count-preserving
    // rebalance sized to the session, not to one sandbox
    val o = Tables.orders(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)
    def prof(c: Column, norm: Column => Column) = Seq(
      sum(when(c.isNull, 1L).otherwise(0L)),
      countDistinct(c),
      min(norm(c)).cast("string"),
      max(norm(c)).cast("string"))
    val ident: Column => Column = x => x
    val dec: Column => Column = _.cast(DecimalType(18, 2))
    val us: Column => Column = unix_micros
    val cols = Seq(
      ("o_orderkey", ident), ("o_custkey", ident),
      ("o_orderstatus", ident), ("o_totalprice", dec),
      ("o_orderdate", us), ("o_orderpriority", ident))
    val aggs = count(lit(1)).as("n_rows") +:
      cols.zipWithIndex.flatMap { case ((n, f), i) =>
        prof(col(n), f).zip(Seq("nn", "nd", "mn", "mx"))
          .map { case (e, t) => e.as(s"${t}$i") }
      }
    val row = o.agg(aggs.head, aggs.tail: _*)
    val stack = cols.zipWithIndex.map { case ((n, _), i) =>
      s"'$n', nn$i, nd$i, mn$i, mx$i"
    }.mkString(", ")
    row.select(col("n_rows"), expr(
        s"stack(${cols.size}, $stack) AS (col_name, n_nulls, n_distinct, min_val, max_val)"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("min_val"), col("max_val"))
      .orderBy(col("col_name"))
  }

  /** §2.2 warehouse_ivm_join: incremental maintenance of a JOIN view
    * under deltas to BOTH base tables — the delta-join algebra
    * warehouse_ivm's aggregate case doesn't exercise: for V = L ⋈ O
    * with arriving ΔL and ΔO, ΔV = ΔL ⋈ (O∪ΔO)  ∪  L_old ⋈ ΔO (the
    * standard two-term expansion; the cross term ΔL⋈ΔO lives in the
    * first and is NOT double-counted because the second joins only the
    * OLD lineitems). The deltas are deterministic "late-arriving"
    * slices — ΔO = orders with key ≡ 7 (mod 10), ΔL = lineitems of the
    * ≡3 orders plus the EVEN lines of the ≡7 orders — chosen so all
    * three delta-join terms are non-empty. The maintained monthly
    * rollup (rows, revenue) merges the standing view's aggregate with
    * ΔV's; the oracle is the FULL recompute over L ⋈ O, so delta-merge
    * ≡ recompute is the graded claim.
    *
    * Decimal-exact: revenue is the q1 discPrice decimal (2dp × 2dp —
    * exact), counts are BIGINTs, the merge is a full-outer coalesce —
    * no float until the final cast.
    *
    * Scale shape: at warehouse scale the standing rollup is a stored
    * artifact (warehouse_ivm's aux-view contract) and refresh cost
    * tracks |ΔL|·sel + |ΔO|·sel + |view|, never the standing fact;
    * here both sides aggregate map-side before the month-keyed merge,
    * and every join is equi-keyed on the order key.
    */
  def warehouseIvmJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM")
        .as("month"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), discPrice.as("rev"))
    val dO = o.filter(col("o_orderkey") % 10 === 7)
    val oOld = o.filter(col("o_orderkey") % 10 =!= 7)
    val isDelta = col("l_orderkey") % 10 === 3 ||
      (col("l_orderkey") % 10 === 7 && col("l_linenumber") % 2 === 0)
    val dL = l.filter(isDelta)
    val lOld = l.filter(!isDelta)
    def rollup(df: DataFrame) = df
      .groupBy(col("month"))
      .agg(count(lit(1)).as("n"), sum(col("rev")).as("r"))
    val base = rollup(lOld.join(oOld,
      col("l_orderkey") === col("o_orderkey")))
    val deltaV = dL.join(oOld.unionAll(dO),
        col("l_orderkey") === col("o_orderkey"))
      .unionAll(lOld.join(dO, col("l_orderkey") === col("o_orderkey")))
    val delta = rollup(deltaV)
    base.select(col("month"), col("n").as("bn"), col("r").as("br"))
      .join(delta.select(col("month"), col("n").as("dn"),
        col("r").as("dr")), Seq("month"), "full_outer")
      .select(col("month"),
        (coalesce(col("bn"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_lineitems"),
        (coalesce(col("br"), lit(BigDecimal(0)).cast(DecimalType(28, 4))) +
          coalesce(col("dr"), lit(BigDecimal(0)).cast(DecimalType(28, 4))))
          .cast("double").as("revenue"))
      .orderBy(col("month"))
  }

  /** §2.2 warehouse_ivm: incremental view maintenance of a monthly
    * revenue dashboard (orders, revenue, DISTINCT customers per month)
    * under an arriving order delta — the materialized-view refresh that
    * never re-reads the standing fact. Sums/counts merge as monoids,
    * but COUNT DISTINCT does not: the maintained state is therefore the
    * classic AUXILIARY view — per-(month, customer) partials — whose
    * merge-then-rollup yields the exact distinct count. The graded
    * claim is delta-merge ≡ full recompute (the oracle IS the full
    * recompute over all orders).
    *
    * Scale shape: the standing side reads only the stored aux view
    * (months × active customers — orders of magnitude under the fact),
    * the delta aggregates map-side before the merge, and the merge
    * shuffles on the view's own key. Refresh cost tracks |delta| +
    * |view|, never the standing fact — the whole point of IVM.
    */
  def warehouseIvm(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = ts("1999-01-01 00:00:00")
    def pairs(f: Column): DataFrame = Tables.orders(spark, dir)
      .filter(f)
      .groupBy(
        (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
          .cast("bigint").as("ym"),
        col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val stored = pairs(col("o_orderdate") < cutoff) // the persisted aux view
    val delta = pairs(col("o_orderdate") >= cutoff) // the arriving load
    stored.unionAll(delta)
      .groupBy(col("ym"), col("o_custkey"))
      .agg(sum(col("n")).as("n"), sum(col("rev")).as("rev"))
      .groupBy(col("ym"))
      .agg(sum(col("n")).cast("bigint").as("n_orders"),
        sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_customers"))
      .orderBy(col("ym"))
  }

  /** §2.2 q_cust_rolling_ltv: trailing-365-day customer value at every
    * order — the rolling lifetime-value feature a churn model trains on,
    * and the RANGE-frame window member of the window family (moving =
    * ROWS frame, twap = interval weighting, this = value-range frame):
    * the frame is "orders within the last 365 DAYS", not "the last k
    * rows", so sparse and dense customers get the same time horizon.
    * Sums are exact decimal; day arithmetic exact integer.
    *
    * Scale shape: ONE customer-co-partitioned window shuffle over the
    * slim (customer, day, total) projection — the range frame runs
    * inside the sorted partition; no self-join, no second scan.
    */
  def qCustRollingLtv(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"))
      .rangeBetween(-365L, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("unix_micros(o_orderdate) div 86400000000").as("day"),
        col("o_totalprice").cast(DecimalType(18, 2)).as("total"))
      .withColumn("ltv_365",
        sum(col("total")).over(w).cast("decimal(18,2)"))
      .withColumn("n_orders_365", count(lit(1)).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("day"),
        col("ltv_365").cast("double").as("ltv_365"),
        col("n_orders_365"))
      .orderBy(col("o_custkey"), col("day"), col("o_orderkey"))
  }

  /** §2.2 q_orders_growth_decomp: year-over-year revenue growth
    * decomposed into a VOLUME effect (order count change at prior-year
    * average value) and a MIX effect (average-order-value change at
    * current volume): Δrev = Δn·aov₀ + n₁·Δaov, the standard exact
    * two-factor decomposition (residual-free by construction). Revenue
    * sums are exact decimal; the aov divisions and effect products are
    * deterministic double ops on identical inputs.
    *
    * Scale shape: one map-side-combined (year) aggregate over the
    * orders scan; the year-over-year pairing is a lag window over the
    * |years|-row rollup — nothing after the first aggregate scales
    * with data volume.
    */
  def qOrdersGrowthDecomp(spark: SparkSession, dir: String): DataFrame = {
    val byYear = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).cast("bigint").as("yr"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev"))
    val w = Window.orderBy(col("yr"))
    byYear
      .withColumn("p_n", lag(col("n_orders"), 1).over(w))
      .withColumn("p_rev", lag(col("rev"), 1).over(w))
      .filter(col("p_n").isNotNull)
      .select(col("yr"), col("n_orders"),
        col("rev").cast("double").as("rev"),
        round(col("rev").cast("double") - col("p_rev").cast("double"), 2)
          .as("delta_rev"),
        round((col("n_orders") - col("p_n")).cast("double") *
          (col("p_rev").cast("double") / col("p_n")), 6)
          .as("volume_effect"),
        round(col("n_orders").cast("double") *
          (col("rev").cast("double") / col("n_orders") -
            col("p_rev").cast("double") / col("p_n")), 6)
          .as("mix_effect"))
      .orderBy(col("yr"))
  }

  /** §2.2 q_events_ewma: exponentially weighted moving average of the
    * daily event-count series (α = 1/2, 20-day support) — the
    * forecasting/smoothing member of the series family (autocorr =
    * rhythm, fano = dispersion, ewma = level). The arithmetic is
    * EXACT-BY-CONSTRUCTION in IEEE doubles: weights 2⁻ᵏ are dyadic,
    * every product c·2⁻ᵏ and every partial sum is a dyadic rational
    * with numerator < 2⁵³ (counts ≤ ~10⁶ · denominator 2¹⁹), so
    * addition never rounds and the sum is ORDER-INDEPENDENT — the one
    * rounded float op is the final normalizing division. No Welford
    * recursion, no accumulation-order hazard.
    *
    * Scale shape: the fact collapses to the |days|·|types| daily
    * relation first (ONE map-side-combined shuffle); the 20-day kernel
    * is a band self-equi-join over that tiny relation (b.day ∈
    * [a.day−19, a.day] via the same bucket-free small-range join the
    * oracle states directly), and the weighted fold is one
    * map-side-combined aggregate.
    */
  def qEventsEwma(spark: SparkSession, dir: String): DataFrame = {
    val (daily, _) = materialize(Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("c")))
    val b = daily.select(col("event_type"), col("day").as("b_day"),
      col("c").as("b_c"))
    daily.join(b, Seq("event_type"))
      .filter(col("b_day").between(col("day") - 19, col("day")))
      .groupBy(col("event_type"), col("day"), col("c"))
      .agg(sum(col("b_c") * pow(lit(0.5), col("day") - col("b_day")))
        .as("wsum"),
        sum(pow(lit(0.5), col("day") - col("b_day"))).as("wnorm"))
      .select(col("event_type"), col("day"), col("c"),
        round(col("wsum") / col("wnorm"), 6).as("ewma"))
      .orderBy(col("event_type"), col("day"))
  }

  /** §2.2 q_orders_interarrival: order inter-arrival statistics per
    * market segment — mean gap and coefficient of variation over the
    * days between a customer's consecutive orders (CV ≈ 1 reads
    * Poisson-like ordering, CV ≫ 1 bursty repeat purchasing). Gaps are
    * exact integer epoch-day differences; mean and CV derive from
    * integer moments with two float ops at the end (a division and a
    * correctly-rounded IEEE sqrt — both deterministic).
    *
    * Scale shape: one customer-co-partitioned lag window over the slim
    * (customer, day) projection, one map-side-combined moment aggregate
    * per segment, customer→segment dim broadcast.
    */
  def qOrdersInterarrival(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day"), col("o_orderkey"))
    val gaps = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        expr("unix_micros(o_orderdate) div 86400000000").as("day"))
      .withColumn("prev", lag(col("day"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey"), (col("day") - col("prev")).as("g"))
    gaps
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))),
        Seq("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("g")).cast("bigint").as("sg"),
        sum(col("g") * col("g")).cast("bigint").as("sgg"))
      .select(col("c_mktsegment"), col("n_gaps"),
        round(col("sg").cast("double") / col("n_gaps"), 6).as("mean_gap_days"),
        round(sqrt((col("n_gaps") * col("sgg") - col("sg") * col("sg"))
          .cast("double") /
          (col("n_gaps") * (col("n_gaps") - 1)).cast("double")) /
          (col("sg").cast("double") / col("n_gaps")), 6).as("cv"))
      .orderBy(col("c_mktsegment"))
  }

  /** §2.2 graph_hits: HITS hubs/authorities over the DIRECTED bipartite
    * commerce graph (customer → supplier via order lineitems) — the
    * "which buyers define which sellers" ranking pagerank's symmetric
    * walk can't express (a hub is good because it points AT good
    * authorities, not because it is pointed at). Three unnormalized
    * mutual-reinforcement rounds in EXACT integer arithmetic (h₀ = 1;
    * aₖ = Σ_in hₖ₋₁; hₖ = Σ_out aₖ — normalization only rescales, so
    * deferring it to one final division per side changes nothing), wide
    * decimal(38,0) sums so no intermediate can overflow, raw scores
    * BIGINT-cast only at the end (≤ ~1e14 at sf0.1, margin ~1e4 — the
    * oracle's HUGEINT matches digit for digit). Top-100 per side cut on
    * the raw INTEGER score with entity-key tie-break: no float ever
    * orders a row.
    *
    * Scale shape: the edge list is persisted + eagerly counted once
    * (six-consumer relation, CLAUDE.md cache contract) and each round
    * is one hash-join + one map-side-combined sum keyed alternately by
    * customer and supplier — 2 shuffles per round on (key, decimal)
    * pairs, never a payload. a₃ feeds both h₃ and the auth output, so
    * it is persisted + counted too; score vectors are |V|-sized,
    * orders-of-magnitude under the edge list.
    */
  def graphHits(spark: SparkSession, dir: String): DataFrame = {
    val cs = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
        Seq("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    val (h3, a3) = hitsCore(cs)
    // the final BIGINT cast is the thin ceiling (the 25M-edge drill
    // measured margin ~2 orders of magnitude vs 21 for the decimal
    // accumulator) and under non-ANSI eval an over-2⁶³ decimal casts to
    // NULL silently — guard it loudly: mx bounds every emitted score
    // (the top-100 carry the largest h/a), so one broadcast comparison
    // proves the whole output safe or THROWS (the fixpoint-cap contract)
    def guardedBigint(x: Column, mx: Column) = coalesce(
      assert_true(mx <= lit(Long.MaxValue).cast(DecimalType(38, 0)),
        concat(lit("hits raw score past bigint: "), mx.cast("string"),
          lit(" — widen score_raw to decimal(38,0) before this scale")))
        .cast("bigint"),
      x.cast("bigint"))
    val hubs = h3
      .crossJoin(broadcast(h3.agg(max(col("h")).as("mx"))))
      .orderBy(col("h").desc, col("c")).limit(100)
      .select(lit("hub").as("side"), col("c").as("entity_key"),
        guardedBigint(col("h"), col("mx")).as("score_raw"),
        round(col("h").cast("double") / col("mx").cast("double"), 6)
          .as("score_norm"))
    val auths = a3
      .crossJoin(broadcast(a3.agg(max(col("a")).as("mx"))))
      .orderBy(col("a").desc, col("s")).limit(100)
      .select(lit("auth").as("side"), col("s").as("entity_key"),
        guardedBigint(col("a"), col("mx")).as("score_raw"),
        round(col("a").cast("double") / col("mx").cast("double"), 6)
          .as("score_norm"))
    hubs.unionAll(auths)
      .orderBy(col("side"), col("score_raw").desc, col("entity_key"))
  }

  /** The three HITS mutual-reinforcement rounds under [[graphHits]] on a
    * generic DIRECTED bipartite edge relation `cs0` (c, s): (h₃, a₃),
    * both persisted + eagerly counted. Split out so ScaleCheck can drill
    * the decimal(38,0) accumulators on a 25M-edge power-law hub — the
    * actual overflow probe for the documented sf0.1 margin — with the
    * EXACT production rounds, not a re-derivation.
    */
  private[graft] def hitsCore(cs0: DataFrame): (DataFrame, DataFrame) = {
    val (cs, _) = materialize(cs0)
    val h0 = cs.select(col("c")).distinct()
      .select(col("c"), lit(1L).cast("decimal(38,0)").as("h"))
    val a1 = cs.join(h0, "c").groupBy("s").agg(sum("h").as("a"))
    val h1 = cs.join(a1, "s").groupBy("c").agg(sum("a").as("h"))
    val a2 = cs.join(h1, "c").groupBy("s").agg(sum("h").as("a"))
    val h2 = cs.join(a2, "s").groupBy("c").agg(sum("a").as("h"))
    val (a3, _) =
      materialize(cs.join(h2, "c").groupBy("s").agg(sum("h").as("a")))
    val (h3, _) =
      materialize(cs.join(a3, "s").groupBy("c").agg(sum("a").as("h")))
    (h3, a3)
  }

  /** §2.2 q_supplier_hhi: Herfindahl–Hirschman supplier-concentration
    * index per nation — the procurement-risk dashboard ("is this
    * nation's supply base a monopoly or a long tail"). Revenue shares
    * are never materialized as floats: HHI = Σ revᵢ² / (Σ revᵢ)² on
    * EXACT integer ten-thousandths (lineitem revenue carries scale 4 =
    * 2dp price × 2dp discount), squared in decimal(38,0) where the
    * worst sf0.1 magnitudes (~1e26) sit twelve orders under the cap,
    * with ONE float division at the end. The oracle mirrors the
    * identical integer pipeline in HUGEINT.
    *
    * Scale shape: lineitem collapses to |supplier| rows in one
    * map-side-combined sum keyed by suppkey, the supplier→nation dim
    * broadcasts, and the nation rollup is a second tiny aggregate —
    * no shuffle ever carries more than one decimal per supplier.
    */
  def qSupplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val bySupp = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(sum(discPrice).as("rev")) // decimal scale 4, exact
      .select(col("l_suppkey"),
        (col("rev") * 10000).cast("decimal(38,0)").as("x"))
    bySupp
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))), // suppkey → nation
        Seq("l_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
        Seq("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("x") * col("x")).as("ssq"),
        sum(col("x")).as("tot"),
        max(col("x")).as("mx"))
      .select(col("n_name"), col("n_suppliers"),
        round(col("ssq").cast("double") /
          (col("tot") * col("tot")).cast("double"), 6).as("hhi"),
        round(col("mx").cast("double") / col("tot").cast("double"), 6)
          .as("top_share"))
      .orderBy(col("n_name"))
  }

  /** §2.2 q_events_entropy: Shannon entropy (nats) of each event type's
    * hour-of-day histogram — "is this event diurnal or uniform", the
    * spread statistic q_events_dow_profile shows shape-wise but never
    * scores. H = ln N − (Σ c·ln c)/N over the 24 integer-hour bins
    * (exact epoch-micros arithmetic); ln is the only float and its ulp
    * noise sits far below the 6dp round. norm_entropy divides by
    * ln 24 = the 24-bin maximum, so 1.0 reads "uniform around the
    * clock".
    *
    * Scale shape: one map-side-combined count into ≤ 24·|event_types|
    * rows, then a tiny per-type aggregate — the scan is the entire
    * cost at any SF.
    */
  def qEventsEntropy(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("(unix_micros(ts) div 3600000000) % 24").as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("c")).cast("bigint").as("n_events"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("clnc"))
      .select(col("event_type"), col("n_hours"), col("n_events"),
        round(log(col("n_events").cast("double")) -
          col("clnc") / col("n_events").cast("double"), 6).as("entropy"),
        round((log(col("n_events").cast("double")) -
          col("clnc") / col("n_events").cast("double")) /
          log(lit(24.0)), 6).as("norm_entropy"))
      .orderBy(col("event_type"))
  }

  /** §2.2 q_value_mannwhitney: Mann-Whitney U rank-sum test per
    * day-of-week — does the purchase-value distribution differ from the
    * click-value distribution? The NONPARAMETRIC two-sample member of
    * the statistical family (spearman = rank association, this =
    * rank-based location shift, no normality assumption — the test a
    * data-quality pipeline runs when value distributions are skewed).
    * Same integer-rank discipline as spearman: tie-averaged combined
    * ranks doubled to the INTEGER 2r = 2·|less| + |equal| + 1, the
    * doubled U statistic 2U₁ = Σ₁2r − n₁(n₁+1) stays a BIGINT, and the
    * tie-corrected normal approximation
    * z = (2U₁ − n₁n₂) / (2·σ), σ² = n₁n₂/12·((n+1) − Σ(t³−t)/(n(n−1)))
    * spends exactly one sqrt and one division per group at the end.
    *
    * Scale shape: per-(dow, value) histograms (map-side combined) carry
    * the rank prefix sums — windows run over |distinct values| rows per
    * dow, never the event rows; one moment aggregate per dow closes it.
    */
  def qValueMannwhitney(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(expr("CAST(dayofweek(ts) AS BIGINT)").as("dow"),
        col("event_type"), col("value"))
    val hist = ev.groupBy(col("dow"), col("value"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("c1"),
        count(lit(1)).as("ct"))
    val w = Window.partitionBy(col("dow")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = hist
      .withColumn("lt", coalesce(sum(col("ct")).over(w), lit(0L)))
      .select(col("dow"), col("c1"), col("ct"),
        (lit(2L) * col("lt") + col("ct") + 1L).as("r2"))
    ranked.groupBy(col("dow"))
      .agg(sum(col("c1")).as("n1"),
        sum(col("ct") - col("c1")).as("n2"),
        sum(col("c1") * col("r2")).as("sr1"),
        sum(col("ct") * col("ct") * col("ct") - col("ct")).as("tie"))
      .select(col("dow"), col("n1"), col("n2"),
        (col("sr1") - col("n1") * (col("n1") + 1L)).as("u2x"),
        round((col("sr1") - col("n1") * (col("n1") + 1L) -
          col("n1") * col("n2")).cast("double") /
          (lit(2.0) * sqrt(
            (col("n1") * col("n2")).cast("double") / 12.0 *
              ((col("n1") + col("n2") + 1L).cast("double") -
                col("tie").cast("double") /
                  ((col("n1") + col("n2")) *
                    (col("n1") + col("n2") - 1L)).cast("double")))),
          6).as("z"))
      .orderBy(col("dow"))
  }

  /** §2.2 q_benford_audit: Benford first-significant-digit audit over
    * lineitem extended prices — the fraud/synthetic-data screen a
    * warehouse DQ pass runs on monetary columns (organically-generated
    * amounts track log-uniform digit mass; fabricated or truncated
    * feeds don't). The first digit is extracted from the DECIMAL's
    * canonical string form (first [1-9] character) — NO float log10 in
    * either engine, so digit assignment is bit-free-exact; the Benford
    * expectations are 6dp literal constants shared verbatim with the
    * oracle, and the observed share / absolute deviation are single
    * float divisions off exact integer counts, 6dp.
    *
    * Scale shape: map-side combine collapses the scan into ≤9 digit
    * rows before the only shuffle; the expectation join is a literal
    * 9-row CASE, and the total is a window over 9 rows.
    */
  def qBenfordAudit(spark: SparkSession, dir: String): DataFrame = {
    // DOUBLE→string rendering is engine-specific; DECIMAL(18,2)→string
    // is canonical in both engines (the repo's decimal-exact convention)
    val digits = Tables.lineitem(spark, dir)
      .select(regexp_extract(
        col("l_extendedprice").cast("decimal(18,2)").cast("string"),
        "[1-9]", 0).cast("bigint").as("digit"))
      .groupBy(col("digit"))
      .agg(count(lit(1)).as("n_items"))
    val expected =
      """CASE digit WHEN 1 THEN 0.301030 WHEN 2 THEN 0.176091
         WHEN 3 THEN 0.124939 WHEN 4 THEN 0.096910 WHEN 5 THEN 0.079181
         WHEN 6 THEN 0.066947 WHEN 7 THEN 0.057992 WHEN 8 THEN 0.051153
         ELSE 0.045757 END"""
    digits
      .withColumn("total",
        sum(col("n_items")).over(Window.partitionBy(lit(1))))
      .select(col("digit"), col("n_items"),
        round(col("n_items").cast("double") / col("total").cast("double"),
          6).as("pct"),
        expr(expected).cast("double").as("benford_pct"),
        round(abs(col("n_items").cast("double") /
          col("total").cast("double") -
          expr(expected).cast("double")), 6).as("abs_dev"))
      .orderBy(col("digit"))
  }

  /** §2.2 q_orders_holt: Holt double-exponential smoothing over the
    * monthly order-revenue series — the FORECASTING member of the
    * time-series family (ewma = level only, seasonality = decomposition,
    * this = level+trend with a one-step-ahead forecast and in-sample
    * residuals, the capacity-planning primitive). α=0.5, β=0.3;
    * level/trend initialize from the first two months; fitted_t =
    * level_{t-1} + trend_{t-1} from t=3, plus ONE out-of-sample forecast
    * row for the month after the series ends (calendar rollover in
    * integer ym arithmetic).
    *
    * Float determinism: monthly revenue sums are DECIMAL-exact and cast
    * to double ONCE; the recursion is a single fold whose update
    * expressions are inlined VERBATIM in both engines (Spark `aggregate`
    * lambda ≡ DuckDB recursive CTE), so every IEEE op runs in the same
    * order on the same bits — fitted/residual round 6dp at output only.
    *
    * Scale shape: the scan collapses map-side into ≤ |months| decimal
    * sums (the only shuffle); the fold runs on ONE driver-sized row of
    * ~80 elements — a 100 TB fact table still reaches the recursion as
    * one tiny sorted array.
    */
  def qOrdersHolt(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("bigint").as("ym"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("double").as("rev"))
      .agg(sort_array(collect_list(struct(col("ym"), col("rev")))).as("s"))
      .selectExpr(
        """inline(aggregate(
               slice(s, 3, greatest(size(s) - 2, 0)),
               named_struct(
                 'level', element_at(s, 2).rev,
                 'trend', element_at(s, 2).rev - element_at(s, 1).rev,
                 'rows', array(
                   named_struct('ym', element_at(s, 1).ym,
                     'actual', element_at(s, 1).rev,
                     'fitted', CAST(NULL AS DOUBLE)),
                   named_struct('ym', element_at(s, 2).ym,
                     'actual', element_at(s, 2).rev,
                     'fitted', CAST(NULL AS DOUBLE)))),
               (acc, x) -> named_struct(
                 'level', 0.5D * x.rev + 0.5D * (acc.level + acc.trend),
                 'trend', 0.3D * ((0.5D * x.rev +
                     0.5D * (acc.level + acc.trend)) - acc.level) +
                   0.7D * acc.trend,
                 'rows', concat(acc.rows, array(named_struct(
                   'ym', x.ym, 'actual', x.rev,
                   'fitted', acc.level + acc.trend)))),
               acc -> concat(acc.rows, array(named_struct(
                 'ym', CASE WHEN element_at(s, -1).ym % 100 = 12
                   THEN element_at(s, -1).ym + 89
                   ELSE element_at(s, -1).ym + 1 END,
                 'actual', CAST(NULL AS DOUBLE),
                 'fitted', acc.level + acc.trend))))) AS (ym, actual, fitted)""")
      .select(col("ym"), col("actual"),
        round(col("fitted"), 6).as("fitted"),
        round(col("actual") - col("fitted"), 6).as("resid"))
      .orderBy(col("ym"))
  }

  /** §2.2 q_customer_mahalanobis: 2-D Mahalanobis outlier score over
    * customers on (order count, total spend) — the MULTIVARIATE member
    * of the outlier family (q_events_anomaly = univariate z per series;
    * this = joint distance that flags "many cheap orders" vs "few huge
    * orders" shapes a marginal z cannot see). The 2×2 covariance
    * inverts in closed form: with integer scatter moments
    * sxx = n·Σx² − (Σx)², d²ᵢ = (n−1)·Qᵢ / (n·det),
    * Qᵢ = syy·dx² − 2·sxy·dx·dy + sxx·dy², dx = n·xᵢ − Σx.
    *
    * Float discipline: COUNT/SUM moments are integer/DECIMAL-exact and
    * cast to double ONCE; every subsequent expression is written with
    * the identical association in both engines, so the raw-double
    * (d² DESC, custkey) top-20 cut is deterministic; d² rounds 6dp at
    * output only.
    *
    * Scale shape: one map-side-combined per-customer aggregate (the
    * only fact shuffle), a 1-row global moment aggregate broadcast by
    * crossJoin, then a TakeOrdered 20 — no window, no second shuffle.
    */
  def qCustomerMahalanobis(spark: SparkSession, dir: String): DataFrame = {
    val (per, _) = materialize(Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("x"),
        // re-narrow the sum to DECIMAL(18,2) (per-customer spend ≪ 1e16):
        // y·y and x·y then stay inside DECIMAL(38) on BOTH engines
        // instead of hitting engine-specific wide-decimal promotion
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("y")))
    val g = per.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("x")).cast("double").as("sxx2"),
      sum(col("y") * col("y")).cast("double").as("syy2"),
      sum(col("x") * col("y")).cast("double").as("sxy2"))
    per.crossJoin(broadcast(g))
      .withColumn("sxx", col("n") * col("sxx2") - col("sx") * col("sx"))
      .withColumn("syy", col("n") * col("syy2") - col("sy") * col("sy"))
      .withColumn("sxy", col("n") * col("sxy2") - col("sx") * col("sy"))
      .withColumn("det",
        col("sxx") * col("syy") - col("sxy") * col("sxy"))
      .withColumn("dx",
        col("n") * col("x").cast("double") - col("sx"))
      .withColumn("dy",
        col("n") * col("y").cast("double") - col("sy"))
      .withColumn("q",
        col("syy") * col("dx") * col("dx") -
          lit(2.0) * col("sxy") * col("dx") * col("dy") +
          col("sxx") * col("dy") * col("dy"))
      .withColumn("d2",
        ((col("n") - lit(1.0)) * col("q")) / (col("n") * col("det")))
      .orderBy(col("d2").desc, col("o_custkey"))
      .limit(20)
      .select(col("o_custkey"), col("x").as("n_orders"),
        col("y").cast("double").as("total_spend"),
        round(col("d2"), 6).as("mahal_d2"))
      .orderBy(col("mahal_d2").desc, col("o_custkey"))
  }

  /** §2.2 q_orders_theilsen: Theil-Sen robust trend over the monthly
    * revenue series — median of all pairwise slopes, beside the OLS
    * slope on the same series (the robust-regression member:
    * elasticity/zipf = least squares, this = the estimator that shrugs
    * off the outlier months OLS chases; the gap between the two columns
    * IS the outlier diagnostic). Slopes are in revenue-per-month-index
    * units; the median averages the two middle elements (N = m(m−1)/2
    * is even for m = 80).
    *
    * Float discipline: pair slopes are single divisions of
    * DECIMAL-exact revenue differences by integer index gaps; the
    * median picks by (raw slope, i, j) row_number — a total order — and
    * the OLS ratio is one division of DECIMAL-exact integer moments.
    *
    * Scale shape: the fact scan collapses map-side to ≤|months| rows;
    * the pair self-join and the selection window run on m(m−1)/2 ≈ 3 k
    * rows — bounded by the calendar, not the data; one 1-row moment
    * aggregate for OLS.
    */
  def qOrdersTheilsen(spark: SparkSession, dir: String): DataFrame = {
    val (m, _) = materialize(Tables.orders(spark, dir)
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("bigint").as("ym"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("rev"))
      .withColumn("rn", row_number().over(Window.orderBy(col("ym")))))
    val a = m.select(col("rn").as("i"), col("rev").as("ra"))
    val b = m.select(col("rn").as("j"), col("rev").as("rb"))
    val slopes = a.join(b, col("j") > col("i"))
      .select(col("i"), col("j"),
        ((col("rb") - col("ra")).cast("double") /
          (col("j") - col("i")).cast("double")).as("slope"))
    val rk = Window.orderBy(col("slope"), col("i"), col("j"))
    val sen = slopes
      .withColumn("rk", row_number().over(rk))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(lit(1))))
      .filter(col("rk") === expr("(np + 1) div 2") ||
        col("rk") === expr("(np + 2) div 2"))
      .agg(avg(col("slope")).as("sen_raw"),
        max(col("np")).as("n_pairs"))
    val ols = m.agg(
      count(lit(1)).as("n_months"),
      sum(col("rn")).as("sx"),
      sum(col("rev")).as("sy"),
      sum(col("rn") * col("rev")).as("sxy"),
      sum(col("rn") * col("rn")).as("sxx"))
      .select(col("n_months"),
        ((col("n_months") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n_months") * col("sxx") - col("sx") * col("sx"))
            .cast("double")).as("ols_raw"))
    sen.crossJoin(broadcast(ols))
      .select(col("n_months"), col("n_pairs"),
        round(col("sen_raw"), 6).as("sen_slope"),
        round(col("ols_raw"), 6).as("ols_slope"))
  }

  /** §2.2 graph_assortativity: Newman degree assortativity over the
    * commerce graph — the one-number mixing diagnostic beside the
    * pagerank/LPA/k-core structure queries: Pearson correlation of
    * endpoint degrees across edges (r < 0 = hubs attach to leaves, the
    * expected sign for a bipartite commerce graph; a sign flip after a
    * data refresh flags a crawl/join defect no per-node metric shows).
    * Same integer discipline as spearman: degrees and all five scatter
    * moments are exact integers, with exactly one sqrt and one division
    * at the end. The moment WIDTH is size-conditional (the pagerank
    * routing pattern): at or under [[AssortativityBigintMaxEdges]]
    * edges the moments are BIGINTs (M·Σxy ≲ 5e16 at sf0.1 — far
    * inside); above it — the 100 TB regime, where M·max_deg² can pass
    * 2⁶³ — every degree casts to DECIMAL(19,0) once and the five sums
    * accumulate in DECIMAL(38,0), exact to ~10³⁸ (M ≈ 10¹² edges with
    * 10⁶-degree hubs gives moments ≈ 10²⁴ and scatter products ≈ 10³⁶
    * — inside). Both paths produce the identical integers wherever
    * BIGINT is exact; AlgebraPropSpec asserts the parity at sf0.01.
    *
    * Scale shape: the degree table is one map-side-combined count off
    * the edge relation; endpoint degrees join back hash-by-hash (slim
    * (vertex, deg) pairs — at 1000 executors both joins co-partition
    * with the degree shuffle); the moment reducer is a 1-row aggregate.
    */
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val (edges, m) = materialize(commerceEdges(spark, dir))
    assortativityFrom(edges, useDecimal = m > AssortativityBigintMaxEdges)
  }

  /** BIGINT-safe edge-count ceiling for the assortativity moments: below
    * it M·max_deg² ≤ M³ ≤ 10¹⁸ < 2⁶³ even if one hub touches every
    * edge; above it the DECIMAL(38,0) accumulation path engages.
    */
  private[graft] val AssortativityBigintMaxEdges = 1000000L

  /** Degree-moment scatter over a symmetric edge relation; `useDecimal`
    * selects the accumulation width (see [[graphAssortativity]]). Split
    * out so the property spec can drive BOTH widths over one graph and
    * assert bit parity.
    */
  private[graft] def assortativityFrom(edges: DataFrame,
      useDecimal: Boolean): DataFrame = {
    val deg = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("deg"))
    // one cast per degree column; products then land in DECIMAL(38,0)
    // (19+19+1 caps at 38) and the sums never leave decimal
    def w(c: org.apache.spark.sql.Column) =
      if (useDecimal) c.cast(DecimalType(19, 0)) else c
    edges
      .join(deg.select(col("v").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("deg").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("m"),
        countDistinct(col("src")).as("n_vertices"),
        sum(w(col("dx"))).as("sx"), sum(w(col("dy"))).as("sy"),
        sum(w(col("dx")) * w(col("dx"))).as("sxx"),
        sum(w(col("dy")) * w(col("dy"))).as("syy"),
        sum(w(col("dx")) * w(col("dy"))).as("sxy"))
      .select(col("m").as("n_edges"), col("n_vertices"),
        round(col("sx").cast("double") / col("m").cast("double"), 6)
          .as("avg_degree"),
        round((col("m") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          sqrt((col("m") * col("sxx") - col("sx") * col("sx"))
            .cast("double") *
            (col("m") * col("syy") - col("sy") * col("sy"))
              .cast("double")), 6).as("assortativity"))
  }

  /** §2.2 q_orders_runs_test: Wald-Wolfowitz runs test over daily
    * revenue moves — is the up/down sequence random, or does it trend
    * or oscillate? (the third nonparametric member: mannwhitney =
    * location shift, theilsen = robust slope, this = serial
    * randomness — the DQ check that catches a synthetic feed whose
    * "daily" numbers were generated in sorted or alternating blocks).
    * Day-over-day move signs come from DECIMAL-exact daily sums (zero
    * moves drop); R = 1 + #sign-changes; the normal approximation
    * z = A / sqrt(B / (n−1)) with A = (R−1)·n − 2·n₁·n₂ and
    * B = 2·n₁·n₂·(2·n₁·n₂ − n) stays integer until ONE division and
    * ONE sqrt (B ≈ 8e12 at sf0.1 — far inside BIGINT).
    *
    * Scale shape: the fact scan collapses map-side to ≤|days| rows;
    * the sign/lag windows run over the calendar-bounded daily series
    * (~2.4k rows), then a 1-row moment aggregate.
    */
  def qOrdersRunsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(expr("CAST(unix_micros(o_orderdate) div 86400000000 AS BIGINT)")
        .as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val w = Window.orderBy(col("day"))
    val moves = daily
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .filter(col("prev").isNotNull && col("rev") =!= col("prev"))
      .select(col("day"),
        when(col("rev") > col("prev"), 1L).otherwise(0L).as("up"))
    val w2 = Window.orderBy(col("day"))
    moves
      .withColumn("pu", lag(col("up"), 1).over(w2))
      .agg(count(lit(1)).as("n"),
        sum(col("up")).as("n1"),
        sum(lit(1L) - col("up")).as("n2"),
        (sum(when(col("pu").isNotNull && col("pu") =!= col("up"), 1L)
          .otherwise(0L)) + 1L).as("r"))
      .select(col("n").as("n_moves"), col("n1").as("n_up"),
        col("n2").as("n_down"), col("r").as("n_runs"),
        round(((col("r") - 1L) * col("n") -
            lit(2L) * col("n1") * col("n2"))
          .cast("double") /
          sqrt((lit(2L) * col("n1") * col("n2") *
            (lit(2L) * col("n1") * col("n2") - col("n"))).cast("double") /
            (col("n") - 1L).cast("double")), 6).as("z"))
  }

  /** §2.2 q_events_kendall: Kendall τ-b between hour-of-day and event
    * value — completes the rank-correlation trio (spearman = rank
    * Pearson, mannwhitney = two-sample, this = concordance-based, the
    * estimator of choice under heavy ties — and hour has only 24
    * levels). Events land in a 24×10 (hour, value-decile) grid; τ-b
    * counts concordant/discordant CELL pairs weighted by cell products,
    * with the standard tie corrections: τ = (C−D)/√((n₀−n₁)(n₀−n₂)).
    * Every count is an exact BIGINT; the two sub-√ factors cast to
    * double BEFORE multiplying (their product tops 2⁶³ at sf0.1 while
    * each factor is far under 2⁵³ — exact in IEEE); deciles cut over
    * the TOTAL order (value, event_id), so the grid is deterministic
    * on both engines.
    *
    * Scale shape: the decile cut is the two-pass distributed rank
    * ([[graft.Ranks.rowNumber]] — range sort + zipWithIndex, every
    * partition bounded n/P) with the ntile band as a map-side integer
    * expression off the broadcast row count; the old global
    * `ntile OVER (ORDER BY …)` moved the ENTIRE fact through one
    * WindowExec task. One map-side-combined count lands the ≤240-cell
    * grid; the concordance join is 240×240 over a broadcast —
    * constant work at any SF.
    */
  def qEventsKendall(spark: SparkSession, dir: String): DataFrame = {
    val (ev, _) = materialize(Tables.events(spark, dir)
      .select(expr("(unix_micros(ts) div 3600000000) % 24").as("hr"),
        col("value"), col("event_id")))
    val n = ev.agg(count(lit(1)).as("nn"))
    val (cells, _) = materialize(
      graft.Ranks.rowNumber(ev, "rk", col("value"), col("event_id"))
      .crossJoin(broadcast(n))
      .withColumn("dec", graft.Ranks.ntileOf(col("rk"), col("nn"), 10))
      .groupBy(col("hr"), col("dec"))
      .agg(count(lit(1)).as("n")))
    val a = cells.select(col("hr").as("x1"), col("dec").as("y1"),
      col("n").as("n1"))
    val b = cells.select(col("hr").as("x2"), col("dec").as("y2"),
      col("n").as("n2"))
    val pairs = a.crossJoin(broadcast(b))
      .filter(col("x1") < col("x2"))
      .agg(
        sum(when(col("y1") < col("y2"), col("n1") * col("n2"))
          .otherwise(0L)).as("c"),
        sum(when(col("y1") > col("y2"), col("n1") * col("n2"))
          .otherwise(0L)).as("d"))
    val tx = cells.groupBy(col("hr")).agg(sum(col("n")).as("t"))
      .agg(sum(col("t") * (col("t") - 1L)).as("tx2"),
        sum(col("t")).as("ntot"))
    val ty = cells.groupBy(col("dec")).agg(sum(col("n")).as("t"))
      .agg(sum(col("t") * (col("t") - 1L)).as("ty2"))
    pairs.crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .select(col("ntot").as("n_events"), col("c").as("concordant"),
        col("d").as("discordant"),
        // doubled tie terms t(t−1) make the √ carry an extra factor 2,
        // so the numerator doubles to keep τ-b on its standard scale
        round((lit(2L) * (col("c") - col("d"))).cast("double") /
          sqrt((col("ntot") * (col("ntot") - 1L) - col("tx2"))
            .cast("double") *
            (col("ntot") * (col("ntot") - 1L) - col("ty2"))
              .cast("double")), 6).as("kendall_tau_b"))
  }

  /** §2.2 q_lineitem_anova: one-way ANOVA — does order quantity differ
    * by return flag? F = (SSB/(k−1)) / (SSW/(N−k)) plus η² = SSB/SST,
    * the variance-decomposition member beside the rank tests
    * (Mann-Whitney compares TWO groups; this screens k at once before
    * pairwise drilldowns).
    *
    * Float discipline, cross-engine exact: quantities are integers, so
    * every group's (n, S, SS) is an exact BIGINT triple (S² < 2⁵³
    * through sf ≈ 10 — past that the DECIMAL(38) switch pattern
    * applies); each group's S²/n is ONE double division of exact
    * integers, the ≤ |flags| group terms fold in flag-sorted order
    * (d2/list_reduce), and F/η² are fixed chains landing at 6dp.
    *
    * Scale shape: ONE map-side-combined aggregate collapses the fact
    * to |flags| rows; everything else runs on that bounded relation.
    */
  def qLineitemAnova(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("mode"),
        col("l_quantity").cast("bigint").as("q"))
      .groupBy(col("mode"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
        sum(col("q") * col("q")).as("ss"))
    val folded = g
      .select(col("mode"), col("n"), col("s"), col("ss"),
        ((col("s") * col("s")).cast("double") / col("n").cast("double"))
          .as("t"))
      .agg(count(lit(1)).as("k"), sum(col("n")).as("ntot"),
        sum(col("s")).as("stot"), sum(col("ss")).as("sstot"),
        sort_array(collect_list(struct(col("mode"), col("t")))).as("lst"))
      .select(col("k"), col("ntot"), col("stot"), col("sstot"),
        aggregate(col("lst"), lit(0.0), (a, x) => a + x.getField("t"))
          .as("tsum"))
    val grand = (col("stot") * col("stot")).cast("double") /
      col("ntot").cast("double")
    val ssb = col("tsum") - grand
    val ssw = col("sstot").cast("double") - col("tsum")
    val sst = col("sstot").cast("double") - grand
    folded.select(col("k").as("n_groups"), col("ntot").as("n_rows"),
      round(ssb, 6).as("ss_between"),
      round(ssw, 6).as("ss_within"),
      round((ssb / (col("k") - lit(1L)).cast("double")) /
        (ssw / (col("ntot") - col("k")).cast("double")), 6).as("f_stat"),
      round(ssb / sst, 6).as("eta_sq"))
  }

  /** §2.2 q_part_chi2: chi-square independence test between part type
    * and brand, with Cramér's V — the CATEGORICAL-association member
    * beside the numeric correlation family (spearman/kendall rank
    * numeric pairs; this asks whether two discrete attributes are
    * independent — the catalog-DQ check that catches a generator or
    * join accidentally coupling dimensions). The full r×c grid
    * (including zero-observed cells) contributes (o−e)²/e with
    * e = rowtot·coltot/n off exact integer counts; the float sum over
    * ≤150 cells carries ulp noise nine orders under the 6dp round
    * (the qEventsEntropy convention).
    *
    * Scale shape: ONE map-side-combined (type, brand) count is the
    * only data shuffle; marginals derive from the cell table (never a
    * second fact scan), the grid is a broadcast cross join of two
    * marginal tables, and the reducer is a 1-row aggregate.
    */
  def qPartChi2(spark: SparkSession, dir: String): DataFrame = {
    val (obs, _) = materialize(Tables.part(spark, dir)
      .groupBy(col("p_type"), col("p_brand"))
      .agg(count(lit(1)).as("o")))
    val rt = obs.groupBy(col("p_type")).agg(sum(col("o")).as("rt"))
    val ct = obs.groupBy(col("p_brand")).agg(sum(col("o")).as("ct"))
    val tot = obs.agg(sum(col("o")).as("n"),
      countDistinct(col("p_type")).as("r"),
      countDistinct(col("p_brand")).as("c"))
    rt.crossJoin(broadcast(ct))
      .join(obs, Seq("p_type", "p_brand"), "left")
      .crossJoin(broadcast(tot))
      .select(col("n"), col("r"), col("c"),
        coalesce(col("o"), lit(0L)).cast("double").as("od"),
        (col("rt").cast("double") * col("ct").cast("double") /
          col("n").cast("double")).as("e"))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(sum((col("od") - col("e")) * (col("od") - col("e")) / col("e"))
        .as("chi2raw"))
      .select(col("n").as("n_parts"), col("r").as("n_types"),
        col("c").as("n_brands"),
        ((col("r") - 1L) * (col("c") - 1L)).as("dof"),
        round(col("chi2raw"), 6).as("chi2"),
        round(sqrt(col("chi2raw") /
          (col("n").cast("double") *
            least(col("r") - 1L, col("c") - 1L).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** §2.2 q_orders_subsample_ci: subsampling confidence interval for
    * the mean order value (Politis & Romano subsampling — the
    * resampling member of the statistical family: spearman/kendall
    * measure association, mannwhitney/runs test hypotheses, this
    * quantifies UNCERTAINTY): 200 deterministic half-samples, each
    * drawn by a Lehmer-mixed inclusion hash of (orderkey, replicate),
    * give 200 DECIMAL-exact subsample means; the CI is the 5th/195th
    * of the 200 means (2.5%/97.5%), selected by (raw mean, replicate)
    * row_number — a total order.
    *
    * The inclusion hash is MINSTD-composed modular arithmetic chosen to
    * stay inside BIGINT on BOTH engines (k·2654435761 ≲ 2⁶³ at any
    * realistic keyspace; no 64-bit wraparound, which ANSI Spark would
    * reject and DuckDB would need HUGEINT for): include iff
    * ((k·2654435761 + b·40503 + 692873) mod (2³¹−1)) · 48271
    *   mod (2³¹−1) < 2³⁰.
    *
    * Scale shape: NO replicate explode over data — the 200 replicate
    * memberships are evaluated in ONE scan by the custom
    * [[org.apache.spark.sql.graft.SubsampleSums]] aggregate (a long[400]
    * buffer updated in a tight hoisted-hash loop; the full-sample pair
    * rides the same pass), so no row is ever materialized ×200, the only
    * shuffle is the fixed-width partial-buffer merge, and the driver
    * never analyzes 400 separate aggregate expressions (the naive
    * conditional-aggregate form spent ~1.8 s/run in fixed plan-time work
    * at any data size). The single result row unnests to the
    * 200-replicate relation and the selection window runs over exactly
    * those 200 rows.
    */
  def qOrdersSubsampleCi(spark: SparkSession, dir: String): DataFrame = {
    val B = 200
    // exact integer cents: every one of the 402 aggregation buffers is a
    // primitive BIGINT (a decimal sum's wide buffer keeps the one-pass
    // aggregate off the fast unsafe-row path), and cents/100.0 casts to
    // the IDENTICAL double as the decimal sum would (both are the
    // correctly-rounded image of the same exact value)
    // single-row-group testdata parquet scans as ONE partition — spread
    // the rows before the 400-chain-per-row aggregate (CLAUDE.md: always
    // repartition ahead of CPU-heavy per-row pipelines)
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("bigint").as("pc"))
      .repartition(nParts)
    val (one, _) = materialize(base.agg(
      org.apache.spark.sql.graft.GraftAggregates
        .subsampleSums(col("k"), col("pc"), B).as("reps"),
      count(lit(1)).as("n_orders"),
      (sum(col("pc")).cast("double") / lit(100.0) /
        count(lit(1)).cast("double")).as("mean_full")))
    val means = one
      .select(explode(col("reps")).as("r")) // 200 elements of ONE row
      .select(col("r.b").as("b"),
        (col("r.s").cast("double") / lit(100.0) /
          col("r.m").cast("double")).as("mean"))
    val ranked = means
      .withColumn("rk", row_number().over(
        Window.orderBy(col("mean"), col("b"))))
    val full = one.select(col("n_orders"), col("mean_full"))
    ranked.filter(col("rk") === 5 || col("rk") === 195)
      .agg(min(col("mean")).as("lo"), max(col("mean")).as("hi"),
        count(lit(1)).as("n_sel"))
      .crossJoin(broadcast(full))
      .select(col("n_orders"), lit(B.toLong).as("n_resamples"),
        round(col("mean_full"), 6).as("mean_order_value"),
        round(col("lo"), 6).as("ci_lo"),
        round(col("hi"), 6).as("ci_hi"))
  }

  /** §2.2 q_events_entropy_rate: conditional next-type entropy of the
    * per-user event chain — how PREDICTABLE is the next event given the
    * current one? (the information-theoretic reading of the transition
    * matrix q_events_markov materializes: H(next|cur=a) per state, plus
    * the chain's entropy rate Σ p(a)·H(next|a); a rate near log₂ of
    * the fan-out means the "chain" is noise, near 0 means sessions are
    * deterministic — a behavioral-data DQ axis). Per state:
    * H = log2(nₐ) − (Σ_b c·log2(c))/nₐ over exact integer transition
    * counts (the qEventsEntropy shape); the rate is the count-weighted
    * average of per-state entropies — each a ≤|types|-term float fold
    * whose ulp noise sits nine orders under the 6dp round.
    *
    * Scale shape: one user-co-partitioned lag window (the markov
    * shuffle), one map-side-combined (prev, cur) count, then
    * state-count-sized rollups — transition volume never reaches the
    * second aggregate.
    */
  def qEventsEntropyRate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("cur"),
        unix_micros(col("ts")).as("tus"), col("event_id"))
      .withColumn("prev", lag(col("cur"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).as("c"))
    val (perState, _) = materialize(trans
      .groupBy(col("prev"))
      .agg(count(lit(1)).as("n_next_types"),
        sum(col("c")).cast("bigint").as("n_a"),
        sum(col("c").cast("double") * log2(col("c").cast("double")))
          .as("clog"))
      .select(col("prev"), col("n_next_types"), col("n_a"),
        (log2(col("n_a").cast("double")) -
          col("clog") / col("n_a").cast("double")).as("h_raw")))
    val rate = perState
      .agg((sum(col("n_a").cast("double") * col("h_raw")) /
        sum(col("n_a")).cast("double")).as("rate_raw"))
    perState.crossJoin(broadcast(rate))
      .select(col("prev").as("state"), col("n_next_types"),
        col("n_a").as("n_transitions"),
        round(col("h_raw"), 6).as("cond_entropy_bits"),
        round(col("rate_raw"), 6).as("entropy_rate_bits"))
      .orderBy(col("state"))
  }

  /** §2.2 q_orders_mad_outliers: robust (median/MAD) outlier months in
    * the revenue series — the ROBUST-SCALE member of the outlier family
    * (q_events_anomaly z-scores against mean/std, which an outlier
    * itself inflates; median/MAD has a 50% breakdown point, the screen
    * that still works when a whole quarter is corrupt). Lower-median of
    * the DECIMAL-exact monthly sums (rank ⌊(n+1)/2⌋ by (rev, ym) — a
    * total order, an EXACT decimal, no averaging), MAD likewise over
    * decimal |rev − med|; robust z = (rev − med)/(1.4826·MAD) is one
    * float division per month; flagged iff |z| > 3.
    *
    * Scale shape: the fact scan collapses map-side to ≤|months| rows;
    * the two median selections and the scoring window run over the
    * calendar-bounded series.
    */
  def qOrdersMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val (m, _) = materialize(Tables.orders(spark, dir)
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("bigint").as("ym"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)").as("rev")))
    val med = m
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rev"), col("ym"))))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy(lit(1))))
      .filter(col("rk") === expr("(nn + 1) div 2"))
      .select(col("rev").as("med"))
    val dev = m.crossJoin(broadcast(med))
      .select(col("ym"), col("rev"), col("med"),
        abs(col("rev") - col("med")).as("dv"))
    val mad = dev
      .withColumn("rk", row_number().over(
        Window.orderBy(col("dv"), col("ym"))))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy(lit(1))))
      .filter(col("rk") === expr("(nn + 1) div 2"))
      .select(col("dv").as("mad"))
    dev.crossJoin(broadcast(mad))
      .select(col("ym"), col("rev").cast("double").as("revenue"),
        round((col("rev") - col("med")).cast("double") /
          (lit(1.4826) * col("mad").cast("double")), 6).as("robust_z"),
        (abs((col("rev") - col("med")).cast("double") /
          (lit(1.4826) * col("mad").cast("double"))) > 3.0)
          .as("is_outlier"))
      .orderBy(col("ym"))
  }

  /** §2.2 graph_modularity: Newman-Girvan modularity of the LPA
    * communities — the EVALUATION metric for the community detection
    * the suite already runs (sim_dbscan_purity grades the clustering;
    * this grades the graph partition): per community
    * Q_c = e_c/m − (D_c/2m)², summed. With integer scatter
    * num_c = 4m·e_c − D_c², Q = Σnum_c/(4m²) — the community sum stays
    * an exact BIGINT (|Σnum| ≤ 4m² ≈ 4e12 at sf0.1) and ONE division
    * produces the score: no float ever sums.
    *
    * Scale shape: the edge relation persists once (labels join into it
    * twice, degrees derive from it); the per-community rollups are
    * community-sized; the global sum is a window over those rows; the
    * labeling is READ from [[graft.ArtifactStore]] "lpa_labels"
    * (computed here only when graph_label_propagation has not run this
    * session) — the oracle recomputes the propagation from scratch, so
    * the gate IS the stored ≡ recompute claim.
    */
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val (edges, _) = materialize(commerceEdges(spark, dir))
    val (lbl, _) = materialize(
      graft.ArtifactStore.readOrCompute(spark, "lpa_labels", dir) {
        lpaCore(edges).select(col("v"), col("lbl"))
      })
    val deg = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("d"))
    val mrow = deg.agg(expr("sum(d) div 2").as("m"))
    val dc = lbl.join(deg, Seq("v"))
      .groupBy(col("lbl"))
      .agg(sum(col("d")).as("dsum"), count(lit(1)).as("n_members"))
    val ic = edges
      .join(lbl.select(col("v").as("src"), col("lbl").as("la")), Seq("src"))
      .join(lbl.select(col("v").as("dst"), col("lbl").as("lb")), Seq("dst"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl"))
      .agg(expr("count(1) div 2").as("e_in"))
    dc.join(ic, Seq("lbl"), "left")
      .crossJoin(broadcast(mrow))
      .select(col("lbl"), col("n_members"), col("dsum"), col("m"),
        coalesce(col("e_in"), lit(0L)).as("e_in"))
      .withColumn("num",
        lit(4L) * col("m") * col("e_in") - col("dsum") * col("dsum"))
      .withColumn("total",
        sum(col("num")).over(Window.partitionBy(lit(1))))
      .select(
        vertexSide("lbl").as("community_type"),
        vertexKey("lbl").as("community_key"),
        col("n_members"), col("dsum").as("degree_sum"),
        col("e_in").as("internal_edges"),
        round(col("num").cast("double") /
          (lit(4L) * col("m") * col("m")).cast("double"), 6)
          .as("contribution"),
        round(col("total").cast("double") /
          (lit(4L) * col("m") * col("m")).cast("double"), 6)
          .as("modularity"))
      .orderBy(col("community_type"), col("community_key"))
  }

  /** §2.2 q_rank_join: top-k JOIN via the threshold algorithm (Fagin /
    * Ilyas et al.'s rank join) — the ITERATIIVE-DEEPENING plan shape: the
    * top 20 (customer, supplier) trading pairs by combined standing
    * (customer's total order value + supplier's total shipped revenue),
    * where a pair counts only if it actually traded (a distinct
    * customer–supplier bridge through orders⋈lineitem). The naive plan
    * scores EVERY bridge pair and sorts the corpus-sized result; the
    * rank join reads only top SLICES of the two ranked inputs, joins
    * them through the bridge, and STOPS as soon as the k-th found score
    * beats the best score any unseen pair could still reach —
    * bound = max(τ_c + max_s, max_c + τ_s) with τ = the slice's last
    * included value (any pair outside the slices has one side ≤ its τ).
    *
    * Exactness: revenues are DECIMAL-exact sums (the discPrice cast
    * discipline); the driver compares decimals, never doubles;
    * termination requires kth > bound STRICTLY, so boundary ties can
    * never be displaced by an unseen pair under the (score DESC,
    * custkey, suppkey) total order; and when the deepening c reaches
    * both input sizes the slices are total — the loop degrades to the
    * exact full join, so the cap never truncates (it THROWS only on a
    * logic error, per the fixpoint-cap contract).
    *
    * Scale shape: the ranked inputs and the slim-id bridge are each ONE
    * map-side-combined aggregate/distinct (the only data-sized
    * shuffles); every round joins the bridge against two BROADCAST
    * ≤c-row slices and TakeOrders k=20 — no corpus-sized sort, no
    * scored materialization of the full bridge, and the per-round
    * driver state is k rows + four scalars. At 100 TB with skewed
    * revenue the loop terminates at small c; the worst case is the
    * exact join every other engine pays up front.
    */
  def qRankJoin(spark: SparkSession, dir: String): DataFrame = {
    val cr = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("crev"))
    val sr = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(sum(discPrice).as("srev"))
    val bridge = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey").as("custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"),
          col("l_suppkey").as("suppkey")),
        Seq("o_orderkey"))
      .select(col("custkey"), col("suppkey"))
      .distinct()
    rankJoinCore(cr, sr, bridge, 20)._1
  }

  /** The threshold-algorithm loop under [[qRankJoin]], over generic
    * ranked relations `cr` (custkey, crev), `sr` (suppkey, srev) and a
    * slim `bridge` (custkey, suppkey): (top-k relation, rounds taken).
    * Split out so RankJoinSpec can grade early termination and forced
    * deepening on closed-form inputs against a brute-force join.
    *
    * INPUT CONTRACT: the ranked relations must be DIMENSION-sized
    * (per-entity aggregates — customers, suppliers), never fact-sized:
    * each deepening round materializes an `orderBy().limit(c)` slice of
    * each side, and limit's final merge is a single-partition
    * TakeOrdered — fine for a ≤c-row dimension slice, a driver-adjacent
    * merge of the whole relation if the full-coverage exit ever runs on
    * a fact table. The require throws loudly (the fixpoint-cap
    * contract) instead of letting that plan shape ship silently.
    */
  private[graft] val RankJoinMaxRankedRows = 100000000L

  private[graft] def rankJoinCore(cr: DataFrame, sr: DataFrame,
      bridge: DataFrame, k: Int,
      maxRanked: Long = RankJoinMaxRankedRows): (DataFrame, Int) = scoped {
    // the ranked inputs are sliced and the bridge joined every round; the
    // returned top-k is its own materialized cache, so the core's scope
    // releases all three once the loop has counted it
    val (_, nC) = materialize(cr)
    val (_, nS) = materialize(sr)
    require(nC <= maxRanked && nS <= maxRanked,
      s"rank join inputs must be dimension-sized (≤$maxRanked " +
        s"ranked rows; got $nC / $nS): the per-round slice and the " +
        "full-coverage exit are TakeOrdered merges bounded by the input")
    materialize(bridge)
    def bd(r: org.apache.spark.sql.Row, i: Int): java.math.BigDecimal =
      r.getDecimal(i)
    val maxC = bd(cr.agg(max(col("crev"))).head(), 0)
    val maxS = bd(sr.agg(max(col("srev"))).head(), 0)
    // a Budget, not a truncation: c covers both inputs long before 40
    // quadruplings (the full-coverage branch below is the guaranteed
    // exit); a round reports 0 exactly when it returns the top-k, else
    // its slice depth. Each round's scope releases its slices, and its
    // top-k unless the round returns it
    val ((_, result), rounds) = graft.Barriers.fixpoint("rank-join",
        Budget(40))((64L, Option.empty[DataFrame])) { case ((c, _), _) =>
      scoped {
        val cInt = c.min(Int.MaxValue.toLong).toInt // limit() takes Int;
        // past 2^31 ranked rows the TA must have terminated on the bound
        // (or the Budget throws — never a silent truncation)
        // each slice feeds its threshold row and the candidate join
        val (cs, _) = materialize(
          cr.orderBy(col("crev").desc, col("custkey")).limit(cInt))
        val (ss, _) = materialize(
          sr.orderBy(col("srev").desc, col("suppkey")).limit(cInt))
        val cand = bridge
          .join(broadcast(cs), Seq("custkey"))
          .join(broadcast(ss), Seq("suppkey"))
          .select(col("custkey"), col("suppkey"),
            (col("crev") + col("srev")).as("score"))
        val (topk, found) = materialize(cand
          .orderBy(col("score").desc, col("custkey"), col("suppkey"))
          .limit(k))
        // full coverage is judged on the SLICED count cInt, not the raw
        // deepening counter c: if c saturated Int.MaxValue while an input
        // is larger, the slices are NOT total and declaring them so would
        // silently truncate — instead the Budget throws
        val done = (cInt.toLong >= nC && cInt.toLong >= nS) || (found == k && {
          // τ = the slice's smallest included value: any unseen pair has
          // one side at or below its τ
          val tauC = bd(cs.agg(min(col("crev"))).head(), 0)
          val tauS = bd(ss.agg(min(col("srev"))).head(), 0)
          val bound = tauC.add(maxS).max(maxC.add(tauS))
          val kth = bd(topk.agg(min(col("score"))).head(), 0)
          kth.compareTo(bound) > 0
        })
        if (done) Round((c, Some(topk)), 0, s"c=$c found=$found")
        else Round((c * 4, None), c, s"c=$c found=$found")
      }
    }
    // order on the exact DECIMAL score (the oracle's ORDER BY key) and
    // cast to double only in the select list: two distinct decimals
    // collapsing to one double must still order by decimal, not by the
    // (custkey, suppkey) tie-break
    val out = result.get
      .orderBy(col("score").desc, col("custkey"), col("suppkey"))
      .select(col("custkey"), col("suppkey"),
        col("score").cast("double").as("pair_score"))
    (out, rounds)
  }

  /** §2.2 q_bitmap_distinct: exact distinct customers per order priority
    * via the fixed-domain BITMAP aggregate
    * ([[org.apache.spark.sql.graft.BitmapDistinct]]) — a new AGGREGATION
    * plan shape next to count(DISTINCT): Spark plans count(DISTINCT k) as
    * a two-phase aggregate whose FIRST exchange shuffles every distinct
    * (group, k) pair — at 100 TB that exchange is ~the set of pairs
    * itself. Here the exchange carries ONE ⌈domain/64⌉-word bitmap per
    * (group, map partition) regardless of row count, OR-merged (exact,
    * partitioning-independent, no sketch error), evaluated by popcount.
    *
    * Domain bound: customer keys are the DENSE warehouse surrogate
    * domain, bounded by a 1-row max() agg collected at plan build (the
    * sanctioned 1-row argmax pattern); the aggregate THROWS past 2²⁶
    * (8 MiB/group) and on out-of-domain ids — for open domains the right
    * tool stays count(DISTINCT)/HLL, documented on the aggregate.
    *
    * Oracle: plain count(DISTINCT) — so the bitmap path is graded
    * exact-equal to the reference semantics, not rows-only.
    */
  def qBitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_custkey"))
    // 1-row domain-bound pull (the sanctioned argmax collect); coalesce
    // so an empty corpus yields an empty result, not an unboxing NPE
    val maxId = o.agg(coalesce(max(col("o_custkey")), lit(0L)))
      .head().getLong(0)
    o.groupBy(col("o_orderpriority"))
      .agg(
        org.apache.spark.sql.graft.GraftAggregates
          .bitmapDistinct(col("o_custkey"), maxId).as("n_cust"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** §2.2 q_sliding_distinct: EXACT distinct users per 7-day sliding
    * window — the query-time half of the bitmap-index pattern
    * ([[org.apache.spark.sql.graft.BitmapAgg]] +
    * [[org.apache.spark.sql.graft.BitmapOrCount]]): the fact table is
    * scanned ONCE into per-day id bitmaps (map-side-combined, fixed-size
    * partials), and each output day ORs its 7 daily bitmaps and
    * popcounts — where the naive plan re-joins the fact table per
    * window (the oracle literally does: days × a 7-day BETWEEN join),
    * and sketches (HLL) would surrender exactness. Distinct-over-sliding
    * -windows does not decompose for count(DISTINCT) — bitmaps make it
    * decomposable because OR is associative, commutative AND idempotent
    * (overlap cannot double-count).
    *
    * Scale shape — and the one trap this operator has: a bitmap partial
    * is fixed-size PER GROUP PER MAP PARTITION, so the default
    * partial→exchange→final plan ships groups × partitions × domain/8
    * bytes (at 1000 days × 1000 tasks × a 2²⁶ domain that is terabytes
    * of partials for megabytes of answer). The fix is to repartition the
    * SLIM raw rows (16 B each) by day FIRST: the aggregation's required
    * distribution is then already satisfied, partial and final collapse
    * into the day's partition, and NO bitmap ever crosses an exchange
    * (PlanAuditSpec pins exactly one hashpartitioning exchange in the
    * plan). Contrast q_bitmap_distinct, whose 5 bounded groups make
    * map-side bitmap partials exactly right. The window then runs over
    * the CALENDAR-bounded daily relation (allowlisted like the other
    * daily grains); same loud 2²⁶ domain cap as BitmapDistinct — open id
    * domains stay on sketch_distinct.
    */
  def qSlidingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(unix_date(to_date(col("ts"))).as("day_num"), col("user_id"))
    val maxId = e.agg(coalesce(max(col("user_id")), lit(0L)))
      .head().getLong(0)
    slidingDistinctCore(e, maxId, windowDays = 7)
      .select(date_from_unix_date(col("day_num").cast("int")).as("day"),
        col("n_users_7d"), col("n_events_7d"))
      .orderBy(col("day"))
  }

  /** The sliding-bitmap dataflow of [[qSlidingDistinct]] over an explicit
    * (day_num: bigint, user_id: bigint) relation — factored so the
    * large-regime drill (`ScaleCheck bitmap`) runs the SHIPPED plan at
    * 100M events / 2000 days. See the query Scaladoc for the
    * repartition-first rationale (the partial-bitmap exchange trap).
    */
  private[graft] def slidingDistinctCore(e: DataFrame, maxId: Long,
      windowDays: Int): DataFrame = {
    val daily = e.repartition(col("day_num")).groupBy(col("day_num"))
      .agg(
        org.apache.spark.sql.graft.GraftAggregates
          .bitmapAgg(col("user_id"), maxId).as("bm"),
        count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("day_num"))
      .rangeBetween(-(windowDays - 1).toLong, 0)
    daily
      .select(col("day_num"),
        GraftFunctions.bitmapOrCount(collect_list(col("bm")).over(w))
          .as("n_users_7d"),
        sum(col("cnt")).over(w).as("n_events_7d"))
  }

  /** §2.2 q_yannakakis: per-nation returned-revenue rollup evaluated as a
    * YANNAKAKIS SEMI-JOIN PROGRAM (Yannakakis 1981) — the plan shape
    * whose intermediates are bounded by input + output REGARDLESS of
    * optimizer choices. Precision about what Catalyst does and does not
    * give you here (the 100M-row drill measured both): on friendly
    * acyclic CHAINS, AQE's join reordering + broadcast often synthesizes
    * the same transitive kill (ScaleCheck yannakakis shape B: reorder +
    * broadcast beat the explicit reducer 3.4 s to 6.2 s), so the reducer
    * is not a speedup there — it is the INSTANCE-OPTIMALITY INSURANCE:
    * the bound holds when statistics mislead, when no reduced side fits
    * a broadcast, and on tree shapes reordering cannot fix, where an
    * unreduced join order blows up unboundedly. The program:
    *
    *  1. bottom-up pass (leaves → root): each relation is semi-joined
    *     against its already-reduced children, so a parent keeps only
    *     tuples with at least one match below;
    *  2. top-down pass (root → leaves): each relation is semi-joined
    *     against its reduced parent, killing tuples whose ancestors died;
    *  3. the final join over the fully-reduced relations is
    *     DANGLING-TUPLE-FREE: every intermediate row contributes to the
    *     output, so intermediate size is bounded by input + output —
    *     never the blow-up an unreduced join order can hit.
    *
    * Join tree (acyclic): lineitem — orders — customer — nation(⋈region).
    * Scale shape: the semi-joins exchange SLIM KEY projections only
    * (orderkey / custkey — one column, map-side distinct), the
    * nation⋈region reducer broadcasts, and the final join's lineitem side
    * has already been cut to the qualifying ~4% before the wide columns
    * are touched. At 100 TB the win is exactly the reducer's: the wide
    * fact join runs on output-sized inputs.
    *
    * Oracle: the plain declarative join — grading the reduction program
    * exact-equal to the unreduced semantics.
    */
  /** The Yannakakis FULL REDUCER for an acyclic CHAIN of relations
    * r₀ — r₁ — … — rₙ, where rᵢ joins rᵢ₊₁ on
    * rᵢ(keys(i)._1) = rᵢ₊₁(keys(i)._2). Bottom-up pass (r₀ outward:
    * each relation semi-joined against its already-reduced neighbor),
    * then top-down (rₙ back) — returns every relation FULLY reduced:
    * each surviving tuple joins with at least one tuple of every other
    * relation, so the final join over the returned relations is
    * dangling-tuple-free and its intermediates are bounded by
    * input + output (Yannakakis 1981). Every semi-join ships only the
    * 1-column key projection of the reducing side — the slim-exchange
    * contract the query Scaladoc above describes. Factored so the
    * large-regime drill (`ScaleCheck yannakakis`) runs the SHIPPED
    * reducer on a 100M-row dangling-heavy chain; [[qYannakakis]] is the
    * oracle-graded caller.
    */
  private[graft] def yannakakisReduce(rels: Seq[DataFrame],
      keys: Seq[(String, String)]): Seq[DataFrame] = {
    require(rels.size >= 2 && keys.size == rels.size - 1,
      s"chain of ${rels.size} relations needs ${rels.size - 1} join keys")
    val n = rels.size
    val up = new Array[DataFrame](n)
    up(0) = rels.head
    for (i <- 1 until n) {
      val (pk, ck) = keys(i - 1)
      up(i) = rels(i)
        .join(up(i - 1).select(col(pk).as(ck)), Seq(ck), "left_semi")
    }
    val down = new Array[DataFrame](n)
    down(n - 1) = up(n - 1)
    for (i <- n - 2 to 0 by -1) {
      val (pk, ck) = keys(i)
      down(i) = up(i)
        .join(down(i + 1).select(col(ck).as(pk)), Seq(pk), "left_semi")
    }
    down.toSeq
  }

  def qYannakakis(spark: SparkSession, dir: String): DataFrame = {
    // leaf filters, pushed to the parquet scans
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), discPrice.as("rev"))
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00") &&
        col("o_orderdate") < ts("1997-07-01 00:00:00"))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.nation(spark, dir)
      .join(Tables.region(spark, dir)
          .filter(col("r_name") === "EUROPE"),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))

    // the full reducer over the chain nation — customer — orders —
    // lineitem (the shared [[yannakakisReduce]] the drill also runs):
    // bottom-up from the region-filtered nation leaf, top-down from the
    // lineitem root — every returned relation is dangling-free
    val Seq(nat2, cust2, ord2, li2) = yannakakisReduce(
      Seq(nat, cust, ord, li),
      Seq(("n_nationkey", "c_nationkey"), ("c_custkey", "o_custkey"),
        ("o_orderkey", "l_orderkey")))

    // dangling-free final join over the fully-reduced relations
    li2.join(ord2, col("l_orderkey") === col("o_orderkey"))
      .join(cust2, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat2), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(col("rev")).cast("double").as("revenue"),
        countDistinct(col("c_custkey")).as("n_cust"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }
}
