package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming operators (SURVEY.md §2.5).
  *
  * Both transforms are written against a plain DataFrame so the SAME code
  * path serves batch and stream: `withWatermark` is a no-op on a batch
  * frame, and `window("1 hour")` produces exactly the epoch-aligned
  * buckets `date_trunc('hour', ts)` does — asserted by StreamingSpec's
  * batch/stream parity test and by q_events_windowed's DuckDB oracle,
  * which still compares against date_trunc semantics.
  *
  * Scale shape: a streaming windowed agg is the incremental form of the
  * batch rollup — partial aggregation per micro-batch, state keyed by
  * (event_type, window), watermark bounding state size. At warehouse scale
  * the same query runs over Kafka/file streams unchanged; state store
  * partitioning follows spark.sql.shuffle.partitions.
  */
object StreamOps {

  private def dsum(c: Column, scale: Int): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** stream_windowed_agg: tumbling 1-hour rollup per event_type. The 2-hour
    * watermark tolerates late events while bounding state; in batch mode it
    * is a no-op and the result equals the date_trunc groupBy.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_events"),
        dsum(col("value"), 4).as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(col("event_type"),
        unix_timestamp(col("window.start")).as("bucket_s"),
        col("n_events"), col("sum_value"), col("min_value"), col("max_value"))

  /** stream_sessionize: gap-based sessions as a STATEFUL streaming
    * aggregation — `session_window(ts, gap)` merges events whose gaps are
    * under 30 minutes into one growing window per user, state bounded by
    * the watermark. The batch twin of q_events_sessionize's lag+cumsum
    * formulation: StreamingSpec cross-validates the two independent
    * implementations (same session count and sizes), and asserts
    * batch/stream parity of this transform via MemoryStream.
    */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))

  /** stream_interval_join: stream-stream inner join — each click pairs
    * with the same user's views from the preceding 30 minutes. Watermarks
    * bound both sides' state (a view older than watermark+30min can never
    * match a future click and is evicted); the time-range condition is
    * what makes the state finite. The SAME transform runs in batch
    * (watermarks no-op, the range condition becomes a plain ϴ-join) —
    * parity asserted in StreamingSpec.
    */
  def intervalJoin(clicks: DataFrame, views: DataFrame): DataFrame =
    clicks.withWatermark("ts", "1 hour").alias("c")
      .join(
        views.withWatermark("ts", "1 hour").alias("v"),
        expr("""c.user_id = v.user_id AND
                v.ts >= c.ts - INTERVAL 30 MINUTES AND v.ts <= c.ts"""))
      .select(col("c.event_id").as("click_id"), col("v.event_id").as("view_id"),
        col("c.user_id").as("user_id"),
        unix_micros(col("c.ts")).as("click_us"),
        unix_micros(col("v.ts")).as("view_us"))

  /** stream_topk: per-(type, hour-window) top-3 events by value — the
    * custom bounded-heap aggregate ([[graft.functions.GraftFunctions
    * .topKByScore]]) running INSIDE a streaming aggregation: its
    * serialize/deserialize path carries the heap through the state store
    * between micro-batches, and its merge path combines batch-partial
    * heaps with restored state. Same transform in batch (watermark
    * no-ops) — parity asserted in StreamingSpec.
    */
  def windowedTopK(events: DataFrame, k: Int = 3): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("event_type"), window(col("ts"), "1 hour"))
      .agg(graft.functions.GraftFunctions
        .topKByScore(col("value"), col("event_id"), k).as("top"))
      .select(col("event_type"),
        unix_timestamp(col("window.start")).as("bucket_s"), col("top"))

  /** Keyed funnel state: the first view, the first click after it, and the
    * first purchase after that (epoch micros; None = stage not reached).
    */
  case class FunnelState(vTs: Option[Long], cTs: Option[Long], pTs: Option[Long])

  /** One emitted stage advancement for a user. */
  case class FunnelAdvance(user_id: Long, stage: Int, at_us: Long)

  /** stream_funnel: the sequential funnel (q_events_funnel) as CUSTOM
    * streaming state — `flatMapGroupsWithState` keeps one tiny
    * [[FunnelState]] per user across micro-batches and emits a record the
    * moment a user advances a stage. This is the state shape the built-in
    * operators can't express: the transition condition depends on the
    * ORDER of prior events (a click only counts after the first view),
    * not on a window or a key equality.
    *
    * Events are processed in (time, type) order within each batch; the
    * strict `>` transitions make the result identical to the batch
    * funnel's min-after-min semantics when batches arrive in time order —
    * asserted by StreamingSpec against q_events_funnel. State is O(1) per
    * user (three optional longs); in batch mode the same code runs with
    * empty initial state and one group invocation per user.
    */
  def funnelStages(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col("user_id").cast("long"), col("event_type"),
        unix_micros(col("ts")))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, String, Long)],
         state: org.apache.spark.sql.streaming.GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(None, None, None))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelAdvance]
          it.toSeq.sortBy(e => (e._3, e._2)).foreach { case (_, et, t) =>
            if (et == "view" && s.vTs.isEmpty) {
              s = s.copy(vTs = Some(t)); out += FunnelAdvance(uid, 1, t)
            } else if (et == "click" && s.cTs.isEmpty &&
              s.vTs.exists(t > _)) {
              s = s.copy(cTs = Some(t)); out += FunnelAdvance(uid, 2, t)
            } else if (et == "purchase" && s.pTs.isEmpty &&
              s.cTs.exists(t > _)) {
              s = s.copy(pTs = Some(t)); out += FunnelAdvance(uid, 3, t)
            }
          }
          state.update(s)
          out.iterator
      }
      .toDF()
  }

  /** Keyed attribution state: one user's click timestamps (epoch
    * micros) still inside the 7-day lookback of any FUTURE purchase —
    * pruned against the newest event seen, so state is bounded by the
    * window's click volume, never the user's history.
    */
  case class AttributionState(clicks: Seq[Long], maxTs: Long)

  /** One attributed purchase: touches in the window and the exact
    * integer ppm credit the batch operator assigns ((1e6 div n)·n;
    * 0 for an untouched "direct" purchase).
    */
  case class AttributedPurchase(user_id: Long, p_id: Long,
      n_touch: Long, attributed_ppm: Long)

  /** stream_attribution: linear multi-touch attribution ONLINE — the
    * streaming twin of the batch q_events_attribution. One
    * [[AttributionState]] per user rides `flatMapGroupsWithState`
    * across micro-batches: clicks enter the state, each purchase emits
    * its touch count and exact-integer ppm credit THE MOMENT IT
    * ARRIVES, and clicks older than 7 days behind the newest event are
    * evicted — the marketing dashboard sees credit in real time instead
    * of at the nightly batch. The built-ins can't express this: the
    * emission joins each purchase against an ORDER-dependent,
    * self-pruning set of prior events, not a window or key equality.
    *
    * Events are processed in (time, event_id) order within each batch;
    * with time-ordered arrival the per-purchase emissions aggregate to
    * EXACTLY the batch operator's per-user rollup (asserted by
    * StreamingSpec). State is O(clicks in any 7-day window) per user;
    * in batch mode the same code runs with empty initial state and one
    * group invocation per user.
    */
  def attributionStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val windowUs = 604800000000L // 7 days
    events
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("event_type"), unix_micros(col("ts")))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, String, Long)],
         state: org.apache.spark.sql.streaming.GroupState[AttributionState]) =>
          var s = state.getOption.getOrElse(AttributionState(Nil, Long.MinValue))
          var clicks = s.clicks
          var maxTs = s.maxTs
          val out = scala.collection.mutable.ArrayBuffer.empty[AttributedPurchase]
          it.toSeq.sortBy(e => (e._4, e._2)).foreach { case (_, eid, et, t) =>
            maxTs = math.max(maxTs, t)
            if (et == "click") clicks = clicks :+ t
            else if (et == "purchase") {
              val n = clicks.count(ct => ct < t && ct >= t - windowUs)
              out += AttributedPurchase(uid, eid, n,
                if (n == 0) 0L else (1000000L / n) * n)
            }
          }
          // evict clicks no future purchase can ever see (events arrive
          // in watermark order across batches: nothing older than
          // maxTs − 7d attributes again)
          clicks = clicks.filter(_ >= maxTs - windowUs)
          state.update(AttributionState(clicks, maxTs))
          out.iterator
      }
      .toDF()
  }

  /** One event type's frozen drift reference: the first `refN` values
    * (deci-bins) in arrival time order. Bounded by construction.
    */
  case class KsRefState(ref: Seq[Long], frozen: Boolean)

  /** One per-micro-batch drift score. */
  case class KsDrift(event_type: String, n_ref: Long, n_batch: Long,
      ks_d: Double)

  /** stream_ks_drift: online distribution-drift detection — the
    * monitoring twin of q_nvd_score_drift's era comparison: each event
    * type freezes its first `refN` values as the REFERENCE distribution,
    * and every subsequent micro-batch is scored against it with the
    * two-sample Kolmogorov-Smirnov distance (the "is production input
    * drifting from what we validated on" alarm every deployed model
    * pipeline runs). The KS numerator is exact integer arithmetic over
    * 1dp value bins — max |k₁·n₂ − k₂·n₁| — with ONE division per
    * emitted score, so scores are deterministic for a given batching
    * (per-batch scoring IS the semantics: the alarm fires per
    * micro-batch or not at all).
    *
    * Scale shape: state is ≤ refN longs per event type, frozen after
    * fill — O(|types|·refN) total, no timeout needed; scoring is one
    * in-memory merge per key per batch. Strict (time, id) in-batch
    * ordering keeps the reference fill deterministic under replay.
    */
  def ksDriftStream(events: DataFrame, refN: Int = 500): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

    def ksD(a: Seq[Long], b: Seq[Long]): Double = {
      val n1 = a.size.toLong
      val n2 = b.size.toLong
      val c1 = a.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val c2 = b.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      var k1 = 0L; var k2 = 0L; var best = 0L
      (c1.keySet ++ c2.keySet).toSeq.sorted.foreach { v =>
        k1 += c1.getOrElse(v, 0L)
        k2 += c2.getOrElse(v, 0L)
        best = math.max(best, math.abs(k1 * n2 - k2 * n1))
      }
      math.rint(best.toDouble / (n1 * n2) * 1e6) / 1e6
    }

    events
      .select(col("event_type"), col("event_id").cast("long"),
        unix_micros(col("ts")), col("value").cast("double"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, it: Iterator[(String, Long, Long, Double)],
         state: org.apache.spark.sql.streaming.GroupState[KsRefState]) =>
          var s = state.getOption.getOrElse(KsRefState(Vector.empty, false))
          val bins = it.toSeq.sortBy(e => (e._3, e._2))
            .map(e => math.round(e._4 * 10)) // 1dp deci-bins, exact longs
          var ref = s.ref
          var consumed = 0
          if (!s.frozen) {
            val need = refN - ref.size
            ref = ref ++ bins.take(need)
            consumed = math.min(need, bins.size)
          }
          val frozen = ref.size >= refN
          val scored = bins.drop(consumed)
          val out =
            if (frozen && scored.nonEmpty)
              Iterator.single(KsDrift(etype, ref.size.toLong,
                scored.size.toLong, ksD(ref, scored)))
            else Iterator.empty
          state.update(KsRefState(ref, frozen))
          out
      }
      .toDF()
  }

  /** Keyed running moments for one event type: count and EXACT decimal
    * sum / sum-of-squares of the 4dp-rounded values (4dp values and
    * their 8dp squares are exactly representable — the same invariant
    * q_events_anomaly's batch moments rely on). BigDecimal state keeps
    * the sums exact at any volume; Long would overflow Σv² around 1e6
    * rows per type.
    */
  case class AnomalyState(n: Long, s1: BigDecimal, s2: BigDecimal)

  /** One online-flagged outlier. */
  case class AnomalyFlag(event_type: String, event_id: Long, at_us: Long,
      value: Double, z: Double)

  /** stream_anomaly: ONLINE z-score outlier flagging — q_events_anomaly's
    * streaming twin with the semantics only a stream can have: each
    * event is scored against the running moments of every event BEFORE
    * it (prequential scoring — the batch operator scores against the
    * corpus-wide stats, which needs the future). An event flags when
    * its |v − μ| > 2σ under the PRIOR stats and ≥ 30 points of history
    * exist (cold-start guard); it then folds into the moments either
    * way.
    *
    * Events are processed in strict (time, event_id) order within each
    * micro-batch and the state carries exact decimals, so the flag set
    * is BATCH-SIZE INVARIANT: one batch or fifty, replayed or
    * re-chunked, the same events flag (asserted in StreamingSpec). In
    * batch mode the same code runs with empty state and one group call
    * per type — the prequential semantics carry over unchanged.
    *
    * Scale shape: state is three numbers per event type (O(|types|)
    * total, no timeout needed); scoring is one in-memory pass per
    * micro-batch per key. At warehouse scale the same transform runs
    * over a Kafka source unchanged.
    */
  def streamAnomaly(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col("event_type"), col("event_id").cast("long"),
        unix_micros(col("ts")), col("value").cast("double"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, it: Iterator[(String, Long, Long, Double)],
         state: org.apache.spark.sql.streaming.GroupState[AnomalyState]) =>
          var s = state.getOption
            .getOrElse(AnomalyState(0L, BigDecimal(0), BigDecimal(0)))
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyFlag]
          it.toSeq.sortBy(e => (e._3, e._2)).foreach { case (_, eid, t, v) =>
            if (s.n >= 30) {
              val mean = s.s1.toDouble / s.n
              val std = math.sqrt(s.s2.toDouble / s.n - mean * mean)
              if (math.abs(v - mean) > 2.0 * std)
                out += AnomalyFlag(etype, eid, t, v,
                  math.rint((v - mean) / std * 1e6) / 1e6)
            }
            // fold in AFTER scoring — mirrors the Spark cast's HALF_UP
            val vd = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            s = AnomalyState(s.n + 1, s.s1 + vd, s.s2 + vd * vd)
          }
          state.update(s)
          out.iterator
      }
      .toDF()
  }

  /** Keyed CUSUM state: prior moments (exact decimals, the
    * [[AnomalyState]] discipline) plus both one-sided cumulative
    * statistics. */
  case class CusumState(n: Long, s1: BigDecimal, s2: BigDecimal,
      spos: Double, sneg: Double)

  /** One CUSUM alarm. */
  case class CusumFlag(event_type: String, event_id: Long, at_us: Long,
      value: Double, side: String, stat: Double, n_prior: Long)

  /** stream_cusum: two-sided CUSUM change detection (Page 1954) per
    * event type — stream_anomaly's cumulative sibling: each event's
    * z-score against the PRIOR running moments feeds
    * S⁺ = max(0, S⁺ + z − K) and S⁻ = max(0, S⁻ − z − K); a side
    * alarms when it crosses H and resets to 0 — the detector that
    * catches small SUSTAINED shifts a per-point 2σ test never flags.
    * K = 0.25, H = 5.0 in z units; 30-point cold-start guard and
    * σ = 0 batches fold in silently, like stream_anomaly.
    *
    * Batch-size invariance: events fold in strict (time, event_id)
    * order within each micro-batch, moments carry exact decimals, and
    * the doubles live only inside the deterministic per-event
    * recurrence — one batch or fifty, replayed or re-chunked, the same
    * events alarm (asserted in StreamingSpec across batch splits).
    *
    * Scale shape: state is five numbers per event type (O(|types|),
    * no timeout); one ordered in-memory pass per micro-batch per key.
    */
  def streamCusum(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col("event_type"), col("event_id").cast("long"),
        unix_micros(col("ts")), col("value").cast("double"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, it: Iterator[(String, Long, Long, Double)],
         state: org.apache.spark.sql.streaming.GroupState[CusumState]) =>
          var s = state.getOption.getOrElse(
            CusumState(0L, BigDecimal(0), BigDecimal(0), 0.0, 0.0))
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumFlag]
          it.toSeq.sortBy(e => (e._3, e._2)).foreach { case (_, eid, t, v) =>
            if (s.n >= 30) {
              val mean = s.s1.toDouble / s.n
              val std = math.sqrt(s.s2.toDouble / s.n - mean * mean)
              if (std > 0.0) {
                val z = (v - mean) / std
                var up = math.max(0.0, s.spos + z - 0.25)
                var dn = math.max(0.0, s.sneg - z - 0.25)
                if (up > 5.0) {
                  out += CusumFlag(etype, eid, t, v, "up",
                    math.rint(up * 1e6) / 1e6, s.n)
                  up = 0.0
                }
                if (dn > 5.0) {
                  out += CusumFlag(etype, eid, t, v, "down",
                    math.rint(dn * 1e6) / 1e6, s.n)
                  dn = 0.0
                }
                s = s.copy(spos = up, sneg = dn)
              }
            }
            // fold in AFTER scoring — the stream_anomaly discipline
            val vd = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP)
            s = s.copy(n = s.n + 1, s1 = s.s1 + vd, s2 = s.s2 + vd * vd)
          }
          state.update(s)
          out.iterator
      }
      .toDF()
  }

  /** Keyed incremental Pareto frontier: one brand's current skyline
    * members as (part key, price, size) triples.
    */
  case class SkylineState(members: Seq[(Long, Double, Int)])

  /** One emitted skyline membership row after a micro-batch. */
  case class SkylineRow(p_brand: String, p_partkey: Long,
      p_retailprice: Double, p_size: Int)

  /** stream_skyline: the groupwise Pareto frontier (q_part_skyline)
    * maintained ONLINE — `flatMapGroupsWithState` keeps each brand's
    * current skyline as custom state and re-emits the brand's full
    * frontier whenever a micro-batch touches it. A newcomer dominated by
    * a standing member is dropped; a surviving newcomer evicts every
    * member it strictly dominates — the state invariant is "members =
    * the exact skyline of everything seen", which is order-independent
    * (the skyline of a set is unique), so arrival order across batches
    * never changes the converged answer — asserted by StreamingSpec
    * against the batch sweep on the same rows, across permuted batch
    * splits.
    *
    * Scale shape: state is O(frontier) per brand — bounded by the
    * catalog's distinct sizes, not by throughput — and only brands
    * present in a batch recompute. This is the state shape the built-in
    * operators can't express: membership depends on a DOMINANCE relation
    * against prior state, not on key equality or a time window.
    */
  def skylineStream(parts: DataFrame): DataFrame = {
    val spark = parts.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    parts
      .select(col("p_brand"), col("p_partkey").cast("long"),
        col("p_retailprice").cast("double"), col("p_size").cast("int"))
      .as[(String, Long, Double, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (brand: String, it: Iterator[(String, Long, Double, Int)],
         state: org.apache.spark.sql.streaming.GroupState[SkylineState]) =>
          var members = state.getOption.map(_.members).getOrElse(Seq.empty)
          // deterministic within-batch order (the converged set is
          // order-independent; this pins the transient emissions too)
          it.toSeq.sortBy(t => (t._3, -t._4, t._2)).foreach {
            case (_, k, pr, sz) =>
              val dominated = members.exists { case (_, mpr, msz) =>
                (mpr < pr && msz >= sz) || (mpr <= pr && msz > sz) }
              if (!dominated) {
                members = members.filterNot { case (_, mpr, msz) =>
                  (pr < mpr && sz >= msz) || (pr <= mpr && sz > msz)
                } :+ ((k, pr, sz))
              }
          }
          state.update(SkylineState(members))
          members.sortBy(t => (t._2, t._1))
            .map { case (k, pr, sz) => SkylineRow(brand, k, pr, sz) }
            .iterator
      }
      .toDF()
  }

  /** stream_nvd_ingest: the reference's cron-driven incremental loop
    * (bq-nvd.py:98-104 download → extract → transform → load) as a
    * Structured Streaming file source: drop a new feed .json.gz into the
    * watched directory and its CVEs flow through the same read schema,
    * reader options and schema-drift-guarded explode as the batch path
    * ([[graft.sources.NvdEtl.ingest]] — a 2.0 envelope fails the stream
    * naming the file, never lands zero rows), deduplicated on CVE ID
    * across ALL feeds ever seen (`dropDuplicates` — warehouse-lifetime
    * first-writer-wins, exactly the reference's set-difference semantics
    * with checkpointed state instead of a re-queried id list).
    */
  def nvdFeedStream(spark: org.apache.spark.sql.SparkSession,
      watchDir: String,
      schemaPath: String = graft.sources.NvdEtl.DefaultSchemaPath): DataFrame = {
    import graft.sources.NvdEtl
    val schema = NvdEtl.probeSchema(schemaPath)
    spark.readStream
      .schema(schema)
      .options(NvdEtl.readerOptions(strict = false))
      .json(watchDir)
      .select(NvdEtl.guardedItems(schema).as("item"))
      .select("item.*")
      .withColumn("cve_id", NvdEtl.cveId)
      .dropDuplicates("cve_id")
  }

  /** stream_warehouse_load: the streaming SINK of the reference's daily
    * pipeline — micro-batches of parsed CVEs land in the year-partitioned
    * warehouse through the SAME first-writer-wins path the batch loader
    * uses ([[graft.sources.NvdEtl.newCves]] anti-join, then
    * [[graft.sources.NvdEtl.commit]]'s counted partitioned append), so
    * the streaming sink and the batch loader cannot diverge.
    * `foreachBatch` is Structured Streaming's bridge for sinks with their
    * own merge semantics: dedup WITHIN the stream is upstream
    * ([[nvdFeedStream]]'s checkpointed dropDuplicates); dedup across
    * RESTARTS AND REPLAYS is the warehouse anti-join itself — a replayed
    * batch appends zero rows, so the sink has exactly-once EFFECT on
    * at-least-once delivery (asserted by StreamingSpec's fresh-checkpoint
    * replay).
    */
  def warehouseSink(feed: DataFrame, warehouseDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    feed.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // the batch loader's own one-job counted append
        graft.sources.NvdEtl.commit(
          graft.sources.NvdEtl.newCves(batch.drop("cve_id"),
            graft.sources.NvdEtl.warehouse(batch.sparkSession, warehouseDir)),
          warehouseDir)
        ()
      }
      .start()

  /** stream_minhash_dedup: NEAR-dup dedup applied online — the streaming
    * twin of dedup_incremental_minhash. Each micro-batch is an
    * incremental load: arriving docs sketch through the SAME expression
    * tree the batch operator uses ([[graft.operators.Dedup.sketchOf]]),
    * band-bucket-join against the STORED warehouse band table, rerank
    * candidates by exact shingle Jaccard, and only survivors (no
    * warehouse doc at jac ≥ 0.9) land in the sink — after which their
    * bands and shingle sets APPEND to the warehouse relations, so later
    * batches dedup against earlier survivors too. A full replay on a
    * fresh checkpoint therefore appends nothing: every replayed doc now
    * matches itself at jac = 1 — exactly-once EFFECT on at-least-once
    * delivery, the same contract as [[warehouseSink]]. Per-batch cost
    * tracks the batch, never the standing corpus: the corpus-side
    * artifacts are read, not re-sketched. Zero-shingle docs (< 3
    * tokens) can't match anything and always land; replay dedup for
    * them is upstream exact dedup's job ([[dedupContentStream]]).
    */
  def minhashDedupSink(docs: DataFrame, whBandsDir: String,
      whShinglesDir: String, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val sk = graft.operators.Dedup.sketchOf(batch)
        val dup = graft.operators.Dedup.incrementalNearDup(
          spark.read.parquet(whBandsDir),
          spark.read.parquet(whShinglesDir),
          sk.filter(size(col("sh")) > 0))
        // materialization barrier: the appends below write into
        // directories the anti-join lazily reads
        graft.Barriers.withCheckpoint(sk.join(dup, Seq("doc_id"), "left_anti")) { surv =>
          if (surv.count() > 0) {
            val banded = surv.filter(size(col("sh")) > 0)
            graft.operators.Dedup.bandTable(banded)
              .write.mode("append").parquet(whBandsDir)
            banded.select(col("doc_id"), col("sh"))
              .write.mode("append").parquet(whShinglesDir)
            surv.select(col("doc_id")).write.mode("append").parquet(outDir)
          }
        }
      }
      .start()

  /** stream_block_dedup: corpus-rewrite boilerplate removal ONLINE — the
    * streaming twin of text_block_dedup, same stored-index contract as
    * [[minhashDedupSink]]: each micro-batch cuts its documents through
    * the batch operator's own block path
    * ([[graft.operators.TextAnalysis.docBlocks]]), keeps first
    * occurrences within the batch (min (doc_id, idx) per digest), drops
    * every block whose digest already sits in the stored warehouse index,
    * re-emits each document as its surviving blocks in order, and appends
    * the fresh digests back — so later batches dedup against earlier
    * ones. Only documents keeping ≥ 1 block land in the output (a
    * replayed document keeps nothing — every block matches its own
    * stored digest), so a fresh-checkpoint replay appends NOTHING:
    * exactly-once EFFECT on at-least-once delivery. When batches arrive
    * in doc_id order the emitted corpus equals the batch operator's
    * non-empty rows — asserted by StreamingSpec.
    */
  def blockDedupSink(docs: DataFrame, whBlocksDir: String, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val blocks = graft.operators.TextAnalysis.docBlocks(batch)
        val slim = blocks.select(col("doc_id"), col("idx"),
          xxhash64(col("block")).as("dig"))
        val winners = slim.groupBy(col("dig"))
          .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
          .select(col("w.doc_id").as("doc_id"), col("w.idx").as("idx"),
            col("dig"))
        // materialization barrier (see minhashDedupSink): the appends
        // below write into the directory the anti-join lazily reads
        graft.Barriers.withCheckpoint(winners
            .join(spark.read.parquet(whBlocksDir), Seq("dig"), "left_anti")) { fresh =>
          if (fresh.count() > 0) {
            val kept = blocks.join(fresh.select(col("doc_id"), col("idx")),
              Seq("doc_id", "idx"))
            kept.groupBy(col("doc_id"))
              .agg(
                concat_ws(" ", transform(
                  array_sort(collect_list(struct(col("idx"), col("block")))),
                  b => b.getField("block"))).as("clean_text"),
                count(col("idx")).as("n_kept_blocks"))
              .write.mode("append").parquet(outDir)
            fresh.select(col("dig")).write.mode("append").parquet(whBlocksDir)
          }
        }
      }
      .start()

  /** stream_cdc_dedup: CDC near-dup dedup applied online — the streaming
    * twin of mm_cdc_incremental, same contract as [[minhashDedupSink]]:
    * each micro-batch chunks through the SAME expression tree the batch
    * operator uses ([[graft.operators.Multimodal.cdcSigs]]), digest-joins
    * the STORED warehouse inverted index, reranks by exact integer
    * Jaccard (≥ 0.5) against the stored digest sets, and only survivors
    * land — after which their digests APPEND to the warehouse relations,
    * so later batches dedup against earlier survivors too. A fresh-
    * checkpoint replay appends nothing (every replayed payload matches
    * itself at J = 1): exactly-once EFFECT on at-least-once delivery.
    * Candidate recall is 1 by construction (shared-digest ⊇ J ≥ 0.5),
    * so unlike the minhash twin there is no banding-recall caveat.
    */
  def cdcDedupSink(docs: DataFrame, whIndexDir: String, whSigsDir: String,
      outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val sigs = graft.operators.Multimodal.cdcSigs(batch)
        val dup = graft.operators.Multimodal.cdcIncrementalDup(
          spark.read.parquet(whIndexDir), spark.read.parquet(whSigsDir), sigs)
        // materialization barrier (see minhashDedupSink): the appends
        // below write into directories the anti-join lazily reads
        graft.Barriers.withCheckpoint(sigs.join(dup, Seq("doc_id"), "left_anti")) { surv =>
          if (surv.count() > 0) {
            surv.select(explode(col("digs")).as("dig"), col("doc_id"))
              .write.mode("append").parquet(whIndexDir)
            surv.select(col("doc_id"), col("digs"))
              .write.mode("append").parquet(whSigsDir)
            surv.select(col("doc_id")).write.mode("append").parquet(outDir)
          }
        }
      }
      .start()

  /** stream_dedup: exact dedup by event_id with bounded state —
    * `dropDuplicatesWithinWatermark` keeps an id only until the watermark
    * passes it, so state never grows with the full history (the streaming
    * twin of the warehouse's first-writer-wins load, SURVEY §2.1
    * q_dedup_load).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup — the streaming twin of the batch
    * dedup_incremental operator: a document whose 64-bit text fingerprint
    * was already seen inside the watermark horizon is dropped, regardless
    * of its id (re-crawls and mirrors carry fresh ids over identical
    * bytes). The custom codegen'd fingerprint expression runs inside the
    * streaming plan; state is keyed by the 8-byte fingerprint, never the
    * text, so the state store holds O(docs-in-horizon) longs — bounded by
    * the watermark, not the corpus.
    */
  def dedupContentStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp64",
        graft.functions.GraftFunctions.fingerprint64(col("text")))
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("fp64")

  /** The static side of [[contaminationStream]]: the standing train
    * corpus collapsed to its DISTINCT word 3-grams (one row per gram).
    */
  def trainGramSet(trainDocs: DataFrame): DataFrame =
    trainDocs
      .select(split(col("text"), " ").as("w"))
      .select(explode(array_distinct(
        graft.operators.Dedup.word3Grams(col("w")))).as("gram"))
      .distinct()

  /** stream_contamination: the decontamination gate applied ONLINE — a
    * stream-STATIC join: each arriving document's distinct 3-grams probe
    * the standing train-gram set, and contaminated docs surface with
    * their shared-gram counts the moment they arrive (the streaming twin
    * of pipeline_decontaminate's batch anti-join). The join is stateless
    * on the stream side — Spark re-plans the static relation per
    * micro-batch (at scale: a broadcast or bloom-side lookup), so no
    * watermark and no state store grow with the stream. The same
    * transform runs unchanged on a batch DataFrame.
    */
  def contaminationStream(docs: DataFrame, trainGrams: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(array_distinct(
        graft.operators.Dedup.word3Grams(col("w")))).as("gram"))
      .join(trainGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))

  case class BenfordState(counts: Seq[Long])
  case class BenfordDrift(event_type: String, n_seen: Long,
      max_abs_dev: Double, worst_digit: Long)

  /** The Benford first-digit expectations, 6dp literals — the SAME
    * constants q_benford_audit and its oracle share.
    */
  private val BenfordP: Array[Double] = Array(
    0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
    0.066947, 0.057992, 0.051153, 0.045757)

  /** First significant digit of a monetary double via its 2dp DECIMAL
    * canonical string — the batch audit's extraction rule
    * ([[graft.operators.Relational.qBenfordAudit]]) applied per record.
    */
  private[streaming] def firstDigit(v: Double): Int = {
    val s = new java.math.BigDecimal(v)
      .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
    var i = 0
    while (i < s.length && (s.charAt(i) < '1' || s.charAt(i) > '9')) i += 1
    if (i < s.length) s.charAt(i) - '0' else 0
  }

  /** stream_benford: online Benford-digit drift — the monitoring twin of
    * q_benford_audit: per event type, a running first-digit histogram of
    * the value column accumulates across micro-batches, and each batch
    * emits the CUMULATIVE worst absolute deviation from the Benford
    * expectation (plus the digit carrying it, smallest digit on ties) —
    * the "did the amount distribution stop looking organic" alarm. Like
    * ks_drift, per-batch emission IS the semantics; unlike it, state is
    * nine longs per key (no reference freeze — Benford needs no training
    * sample), so the state store is O(|types|·9) forever.
    */
  def benfordStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col("event_type"), col("value").cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, it: Iterator[(String, Double)],
         state: org.apache.spark.sql.streaming.GroupState[BenfordState]) =>
          val counts = state.getOption
            .map(_.counts.toArray).getOrElse(new Array[Long](9))
          var touched = false
          it.foreach { e =>
            val d = firstDigit(e._2)
            if (d >= 1) { counts(d - 1) += 1; touched = true }
          }
          state.update(BenfordState(counts.toVector))
          val n = counts.sum
          if (!touched || n == 0L) Iterator.empty
          else {
            var worst = 0.0; var worstDigit = 1L
            var i = 0
            while (i < 9) {
              val dev = math.abs(counts(i).toDouble / n - BenfordP(i))
              if (dev > worst) { worst = dev; worstDigit = i + 1L }
              i += 1
            }
            Iterator.single(BenfordDrift(etype, n,
              math.rint(worst * 1e6) / 1e6, worstDigit))
          }
      }
      .toDF()
  }

  case class HoltState(t: Long, level: Double, trend: Double)
  case class HoltPoint(event_type: String, t: Long, batch_sum: Double,
      level: Double, trend: Double, forecast_next: Double)

  /** stream_holt: online Holt level+trend forecasting per event type —
    * the streaming twin of q_orders_holt: each micro-batch contributes
    * ONE observation per type (its DECIMAL-exact value sum), the keyed
    * (level, trend) state updates with the batch operator's exact
    * α=0.5/β=0.3 recursion (same literals, same expression shapes), and
    * every batch emits the one-step-ahead forecast the pipeline owner
    * alarms on. Per-batch observation IS the semantics (like ks_drift's
    * per-batch scores); state is two doubles and a counter per key.
    */
  def holtStream(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col("event_type"), col("value").cast("double"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, it: Iterator[(String, Double)],
         state: org.apache.spark.sql.streaming.GroupState[HoltState]) =>
          // the observation: decimal-exact batch sum, one double cast
          val x = it.foldLeft(BigDecimal(0)) { (a, e) =>
            a + BigDecimal(e._2)
          }.toDouble
          state.getOption match {
            case None =>
              state.update(HoltState(1L, x, 0.0))
              Iterator.empty // one observation: no trend yet, no emit
            case Some(st) if st.t == 1L =>
              val level = x
              val trend = x - st.level // st.level holds x1
              state.update(HoltState(2L, level, trend))
              Iterator.single(HoltPoint(etype, 2L, x,
                rint6(level), rint6(trend), rint6(level + trend)))
            case Some(st) =>
              // the batch operator's exact update shapes (Holt α=.5 β=.3)
              val level = 0.5 * x + 0.5 * (st.level + st.trend)
              val trend =
                0.3 * ((0.5 * x + 0.5 * (st.level + st.trend)) - st.level) +
                  0.7 * st.trend
              state.update(HoltState(st.t + 1L, level, trend))
              Iterator.single(HoltPoint(etype, st.t + 1L, x,
                rint6(level), rint6(trend), rint6(level + trend)))
          }
      }
      .toDF()
  }

  private def rint6(v: Double): Double = math.rint(v * 1e6) / 1e6

  /** Per-key quantile-sketch state for [[streamQuantileSketch]]: a
    * deterministic KLL/MRL-family compactor (Karnin-Lang-Liberty 2016;
    * Manku-Rajagopalan-Lindsay 1998 — public literature, no reference
    * counterpart: bq-nvd has no streaming surface at all). `levels(l)`
    * holds values of weight 2^l; raw inserts land in level 0; a level
    * reaching [[QuantileSketch.Cap]] items sorts itself, promotes every
    * OTHER element one level up (surviving elements double their
    * weight, so total mass is conserved), and the kept-offset parity
    * flips per level per compaction — the deterministic
    * alternating-parity compactor, which replaces KLL's random coin so
    * replays and the batch twin are bit-reproducible, with successive
    * compaction errors at a level cancelling in pairs instead of
    * accumulating w.h.p.
    */
  case class QSketchState(n: Long, parity: Seq[Boolean],
      levels: Seq[Seq[Long]])

  /** One per-type estimate row emitted after each micro-batch touching
    * the key (units of the raw value column). */
  case class QSketchRow(event_type: String, n: Long,
      p50: Double, p90: Double, p99: Double)

  /** The deterministic compactor behind [[streamQuantileSketch]] —
    * private[graft] so the spec can drive it directly against exact
    * order statistics.
    *
    * Error contract: a level-l compaction drops every other of `Cap`
    * sorted weight-2^l items, perturbing any rank by at most 2^l; over
    * n inserts level l compacts at most n / (2^l · Cap/2) times, so the
    * worst-case total rank error is Σ_l 2n/Cap = 2·L·n/Cap with
    * L = number of levels ≈ log₂(2n/Cap) — the bound
    * [[QuantileSketch.rankErrorBound]] returns and the spec asserts.
    * With no compaction (n < Cap) the sketch IS the data: estimates are
    * exact order statistics. Alternating parity keeps the observed
    * error far below the bound; the bound is what is PROVEN.
    */
  private[graft] object QuantileSketch {
    /** Per-level item capacity. 256 longs × ~log₂(n/128) levels ≈ a few
      * KB of state per key at any stream length — the state-store shape
      * that scales: estimates of a 10¹¹-row stream cost the same state
      * as a 10⁵-row one, vs the unbounded per-key buffer an exact
      * percentile would need. */
    val Cap = 256

    def empty: QSketchState = QSketchState(0L, Nil, Nil)

    /** Worst-case rank error of any quantile query after n inserts. */
    def rankErrorBound(s: QSketchState): Long =
      2L * s.levels.size * s.n / Cap

    /** Mutable fold of one ordered run of values into the state —
      * per-micro-batch usage: thaw, insert the batch's values in
      * deterministic order, freeze. */
    final class Folder(init: QSketchState) {
      private val levels = scala.collection.mutable.ArrayBuffer(
        init.levels.map(l => scala.collection.mutable.ArrayBuffer(l: _*)): _*)
      private val parity =
        scala.collection.mutable.ArrayBuffer(init.parity: _*)
      private var n = init.n

      def insert(v: Long): Unit = {
        if (levels.isEmpty) {
          levels += scala.collection.mutable.ArrayBuffer.empty[Long]
          parity += false
        }
        levels(0) += v
        n += 1
        var l = 0
        while (l < levels.size && levels(l).size >= Cap) {
          compact(l); l += 1
        }
      }

      /** Sort level l, promote alternate elements (offset = the level's
        * parity bit, flipped each compaction); an odd straggler keeps
        * its weight and stays at level l — mass is conserved exactly. */
      private def compact(l: Int): Unit = {
        val sorted = levels(l).sorted
        val off = if (parity(l)) 1 else 0
        parity(l) = !parity(l)
        if (l + 1 >= levels.size) {
          levels += scala.collection.mutable.ArrayBuffer.empty[Long]
          parity += false
        }
        val pairs = sorted.size / 2 * 2
        var i = off
        while (i < pairs) { levels(l + 1) += sorted(i); i += 2 }
        levels(l).clear()
        if (pairs < sorted.size) levels(l) += sorted(pairs)
      }

      def state: QSketchState =
        QSketchState(n, parity.toSeq, levels.map(_.toSeq).toSeq)
    }

    /** The value whose weighted rank first reaches ⌈q·n⌉: one sort of
      * the ≤ Cap·L resident items, weights 2^level. */
    def query(s: QSketchState, q: Double): Long = {
      require(s.n > 0, "quantile of an empty sketch")
      val target = math.max(1L, math.ceil(q * s.n).toLong)
      val items = s.levels.zipWithIndex.flatMap { case (vs, l) =>
        vs.map(v => (v, 1L << l))
      }.sortBy(_._1)
      var cum = 0L
      var i = 0
      while (i < items.size) {
        cum += items(i)._2
        if (cum >= target) return items(i)._1
        i += 1
      }
      items.last._1
    }
  }

  /** stream_quantile_sketch: streaming p50/p90/p99 of event value per
    * event type via a bounded-state rank sketch in the state store —
    * the streaming family's sketch member (r15 verdict #7: the one
    * family hole). The built-in percentile_approx is a batch aggregate;
    * this keeps a [[QSketchState]] per key across micro-batches with
    * `flatMapGroupsWithState` and emits the key's current estimates
    * after every batch that touches it.
    *
    * Determinism and parity (the stream_cusum discipline): values fold
    * in strict (time, event_id) order within each micro-batch and the
    * compactor is coin-free, so the state after event k is a pure
    * function of the first k events — one batch or fifty, the SAME
    * estimates emerge, and the batch path (same code, empty initial
    * state, one group call) agrees exactly; both asserted in
    * StreamingSpec, alongside the PROVEN 2·L·n/Cap rank-error bound
    * against exact order statistics and small-n exactness.
    *
    * Values are folded as exact scale-4 fixed-point (micro-units of
    * `value`), the same integer-cents discipline as the bisect
    * operators; the only floats are the final unit divisions.
    */
  def streamQuantileSketch(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events
      .select(col("event_type"), col("event_id").cast("long"),
        unix_micros(col("ts")),
        (col("value").cast(DecimalType(18, 4)) * 10000).cast("long"))
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (etype: String, it: Iterator[(String, Long, Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[QSketchState]) =>
          val folder = new QuantileSketch.Folder(
            state.getOption.getOrElse(QuantileSketch.empty))
          it.toSeq.sortBy(e => (e._3, e._2))
            .foreach(e => folder.insert(e._4))
          val s = folder.state
          state.update(s)
          if (s.n == 0) Iterator.empty
          else Iterator.single(QSketchRow(etype, s.n,
            QuantileSketch.query(s, 0.50) / 1e4,
            QuantileSketch.query(s, 0.90) / 1e4,
            QuantileSketch.query(s, 0.99) / 1e4))
      }
      .toDF()
  }
}
