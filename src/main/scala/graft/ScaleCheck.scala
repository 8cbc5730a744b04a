package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.{Tables => T}

/** Dev tool: sf0.1 scale assurance for the approximate operators — the
  * driver's oracle gate runs at sf0.01, so this re-checks LSH/blocking
  * equivalence and recall at the bench SF where candidate statistics
  * differ. Not part of the driver contract.
  *
  * `runMain graft.ScaleCheck graph [nEdges]` runs the LARGE-REGIME graph
  * drill instead (r10 verdict #6): a generated power-law graph (default
  * 25M directed edge draws, ~2.5M vertices, Zipf-ish hubs) drives the
  * three distributed fallback regimes that the shipped corpora never
  * reach — connected components' pointer-jump fixpoint (forced past the
  * 4M driver-finish bound), k-core's distributed peel (forced past its
  * driver bound), and LPA + pagerank's repartition routing (engaged
  * NATURALLY: the vertex count exceeds PagerankBroadcastMaxVertices) —
  * with per-phase wall times and structural validations printed as
  * SCALECHECK lines (see BASELINE.md "Large-regime graph drill").
  */
object ScaleCheck {

  /** Deterministic skewed random graph: edge n draws
    * src = ⌊V·u₁³⌋ (Zipf-ish — vertex density ∝ v^(−2/3), so vertex 0
    * is a ~2%-of-all-edges hub and the degree tail spans 4 orders of
    * magnitude) and dst = ⌊V·u₂⌋ (uniform), u from xxhash64(n) — no RNG
    * state, every run identical. Returned as distinct undirected (i, j)
    * pairs with i < j.
    */
  private def powerLawPairs(spark: org.apache.spark.sql.SparkSession,
      nDraws: Long, nVertices: Long): org.apache.spark.sql.DataFrame = {
    def u(seed: Int) =
      pmod(xxhash64(col("id"), lit(seed)), lit(1000000000L))
        .cast("double") / 1.0e9
    spark.range(nDraws)
      .select(
        floor(lit(nVertices.toDouble) * pow(u(1), 3.0)).cast("bigint")
          .as("a"),
        floor(lit(nVertices.toDouble) * u(2)).cast("bigint").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("i"),
        greatest(col("a"), col("b")).as("j"))
      .distinct()
  }

  /** Phase timer. The prefix is uniform ("phase") rather than per-family:
    * earlier revisions printed "SCALECHECK graph <label>" for EVERY
    * family's timings, so grepping a drill log for its own family name
    * missed all of them.
    */
  private def timed[A](label: String)(body: => A): A = {
    // probe-bracket each phase (r14: a drill rerun read 13% SLOWER than
    // its own baseline with zero code-path difference — without flank
    // probes a drill number carries no quietness evidence and
    // cross-run comparisons are guesswork; same lesson as Bench)
    val pb = graft.Bench.probeWithSteal()
    println(f"SCALECHECK probe_before $label min=${pb._1} med=${pb._2} " +
      f"max=${pb._3} steal_pct=${pb._4}%.2f quiet=${graft.Bench.sampleQuiet(pb)}")
    // in-phase cause attribution, the Bench.timeOne instrumentation:
    // kernel steal + host-busy + this JVM's GC and process-CPU clocks
    val (s0, j0, b0) = graft.Bench.statSample()
    val g0 = graft.Bench.gcMillis()
    val c0 = graft.Bench.processCpuNanos()
    val t0 = System.nanoTime()
    val r = body
    val dt = (System.nanoTime() - t0) / 1e9
    val gcSec = (graft.Bench.gcMillis() - g0) / 1000.0
    val cpuSec =
      if (c0 < 0) -1.0 else (graft.Bench.processCpuNanos() - c0) / 1e9
    val (s1, j1, b1) = graft.Bench.statSample()
    val stealPct =
      if (j1 < 0 || j0 < 0 || j1 == j0) -1.0
      else 100.0 * (s1 - s0) / (j1 - j0)
    val hostCpus = Runtime.getRuntime.availableProcessors
    val foreignPct =
      if (j1 < 0 || j0 < 0 || j1 == j0 || b0 < 0 || cpuSec < 0) -1.0
      else math.max(0.0,
        100.0 * (b1 - b0).toDouble / (j1 - j0) -
          100.0 * cpuSec / (dt * hostCpus))
    val pa = graft.Bench.probeWithSteal()
    println(f"SCALECHECK probe_after $label min=${pa._1} med=${pa._2} " +
      f"max=${pa._3} steal_pct=${pa._4}%.2f quiet=${graft.Bench.sampleQuiet(pa)}")
    println(f"SCALECHECK phase $label%-22s $dt%8.1f s")
    // machine-readable per-phase verdict (r14 verdict #4): the same
    // conjunct logic as Bench's record_valid — quiet flank probes ∧
    // bounded in-phase hypervisor steal ∧ no in-guest foreign-CPU
    // anomaly on an attributable-length phase — so a drill number
    // carries its verdict instead of probe lines a reader interprets.
    // drill_valid=false means direction-valid only, same reading rule
    // as record_valid.
    val reasons = Seq(
      (!graft.Bench.sampleQuiet(pb)) -> "probe_before_not_quiet",
      (!graft.Bench.sampleQuiet(pa)) -> "probe_after_not_quiet",
      (stealPct > graft.Bench.RecordInRunStealMaxPct) ->
        f"in_phase_steal_$stealPct%.2fpct",
      (dt >= graft.Bench.RecordMinAttribWallSec &&
        foreignPct >= graft.Bench.RecordForeignMaxPct) ->
        f"foreign_cpu_$foreignPct%.2fpct").collect { case (true, r) => r }
    println(f"""SCALECHECK drill {"phase":"$label","sec":$dt%.1f,""" +
      f""""steal_pct":$stealPct%.2f,"foreign_pct":$foreignPct%.2f,""" +
      f""""gc_sec":$gcSec%.1f,"cpu_sec":$cpuSec%.1f,""" +
      s""""drill_valid":${reasons.isEmpty},""" +
      reasons.map("\"" + _ + "\"").mkString("\"invalid_reasons\":[", ",",
        "]}"))
    r
  }

  /** The large-regime drill: see the object doc. `ccOnly` restricts to
    * the connected-components phases (the debug loop for the pointer-
    * jump regime).
    */
  private def graphDrill(spark: org.apache.spark.sql.SparkSession,
      nDraws: Long, ccOnly: Boolean = false): Unit = {
    import org.apache.spark.storage.StorageLevel
    val v = nDraws / 10 // avg undirected degree ≈ 20 before dedup
    val pairs = powerLawPairs(spark, nDraws, v)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = timed("build_pairs")(pairs.count())
    val deg = pairs.select(col("i").as("id"))
      .unionAll(pairs.select(col("j").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nTouched = deg.count()
    val skew = deg.agg(max(col("d")).as("dmax"),
      sum(when(col("d") > 1000, 1L).otherwise(0L)).as("hubs1k")).head()
    println(s"SCALECHECK graph edges=$e vertices=$nTouched " +
      s"max_degree=${skew.getLong(0)} hubs_gt1k=${skew.getLong(1)}")
    deg.unpersist()

    // 1) connected components, pointer-jump regime FORCED (bound 0):
    // the exact-labeling invariants — no edge crosses labels, labels are
    // fixpoints, labels never exceed their member ids
    def ccValidate(tag: String, edgeRel: org.apache.spark.sql.DataFrame)
        : Unit = {
      val universe = edgeRel.select(col("i").as("id"))
        .unionAll(edgeRel.select(col("j").as("id"))).distinct()
      val cc = timed(s"cc_pointer_jump_$tag") {
        val (counted, nEdges) = Barriers.materialize(edgeRel)
        val cc0 = operators.Dedup.connectedComponents(spark, counted, nEdges,
          universe, driverFinishEdgeBound = 0L)
          .persist(StorageLevel.MEMORY_AND_DISK)
        cc0.count(); cc0
      }
      val crossing = edgeRel
        .join(cc.select(col("id").as("i"), col("canonical_id").as("ci")),
          Seq("i"))
        .join(cc.select(col("id").as("j"), col("canonical_id").as("cj")),
          Seq("j"))
        .filter(col("ci") =!= col("cj")).count()
      val nonFix = cc
        .join(cc.select(col("id").as("cid"), col("canonical_id").as("cc2")),
          col("canonical_id") === col("cid"))
        .filter(col("cc2") =!= col("canonical_id")).count()
      val above = cc.filter(col("canonical_id") > col("id")).count()
      val nComp = cc.select(col("canonical_id")).distinct().count()
      val summary = s"components=$nComp crossing_edges=$crossing " +
        s"non_fixpoint=$nonFix label_above_id=$above"
      val ok = crossing == 0 && nonFix == 0 && above == 0
      println(s"SCALECHECK graph cc_$tag $summary ok=$ok")
      cc.unpersist()
      assert(ok, s"cc_$tag labeling is not the exact component labeling: " +
        summary)
    }
    // giant regime: the skewed graph is one connected component — the
    // fixpoint must still hold exactly
    if (!ccOnly) ccValidate("giant", pairs)
    // fragmented regime: the same draws constrained to 100k-id blocks
    // (hub structure preserved WITHIN each block) — the labeling must
    // recover ~nVertices/100k disjoint components with zero crossings
    val blocked = pairs.filter(expr("i div 100000") === expr("j div 100000"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    println(s"SCALECHECK graph blocked_edges=${blocked.count()}")
    ccValidate("blocked", blocked)
    // same phase under RELIABLE barriers (r11 verdict #6): every round
    // of the pointer-jump fixpoint checkpoints to the durable dir
    // instead of executor-local blocks — the 1000-executor
    // loss-tolerance path, proven at drill volume, not toy-tested. The
    // labeling invariants must hold identically; the timing delta IS
    // the per-round FS-write cost.
    if (!ccOnly) {
      spark.conf.set(Barriers.ReliableBarrierConf, "true")
      try ccValidate("blocked_reliable", blocked)
      finally spark.conf.unset(Barriers.ReliableBarrierConf)
    }
    blocked.unpersist()
    if (ccOnly) { pairs.unpersist(); return }

    // 2) k-core, distributed peel FORCED (bound 0): k above the typical
    // uniform-side degree so the sparse mass peels in cascades while the
    // hub-adjacent core survives non-empty
    val k = 8
    val (core, rounds) = timed("kcore_distributed") {
      val (c, r) = operators.Relational.kCoreCore(pairs, k,
        driverEdgeBound = 0L)
      val cp = c.persist(StorageLevel.MEMORY_AND_DISK); cp.count()
      (cp, r)
    }
    val coreStats = core.agg(count(lit(1)).as("n"),
      coalesce(min(col("core_degree")), lit(-1L)).as("dmin")).head()
    val coreSummary = s"k=$k rounds=$rounds " +
      s"core_size=${coreStats.getLong(0)} min_core_degree=${coreStats.getLong(1)}"
    val coreOk = coreStats.getLong(0) == 0 || coreStats.getLong(1) >= k
    println(s"SCALECHECK graph kcore $coreSummary ok=$coreOk")
    core.unpersist()
    assert(coreOk, s"kcore left a vertex under degree k: $coreSummary")

    // 3+4) LPA and pagerank over the symmetrized relation: the vertex
    // count sits ABOVE PagerankBroadcastMaxVertices, so the repartition
    // routing engages exactly as it would on a cluster — no forcing
    val sym = Barriers.symmetrize(pairs, "i", "j")
    assert(nTouched > operators.Relational.PagerankBroadcastMaxVertices,
      s"drill graph too small to engage the repartition branch: $nTouched")
    val lpa = timed("lpa_repartition") {
      val l = operators.Relational.lpaCore(sym)
        .persist(StorageLevel.MEMORY_AND_DISK)
      l.count(); l
    }
    val lpaStats = lpa.agg(count(lit(1)).as("n"),
      countDistinct(col("lbl")).as("comms")).head()
    println(s"SCALECHECK graph lpa labeled=${lpaStats.getLong(0)} " +
      s"communities=${lpaStats.getLong(1)} " +
      s"ok=${lpaStats.getLong(0) == nTouched}")
    lpa.unpersist()
    val pr = timed("pagerank_repartition") {
      val p = operators.Relational.pagerankCore(sym)
        .persist(StorageLevel.MEMORY_AND_DISK)
      p.count(); p
    }
    val prStats = pr.agg(count(lit(1)).as("n"), min(col("s")).as("smin"),
      max(col("s")).as("smax")).head()
    println(s"SCALECHECK graph pagerank scored=${prStats.getLong(0)} " +
      s"min_score=${prStats.getLong(1)} hub_score=${prStats.getLong(2)} " +
      s"ok=${prStats.getLong(0) == nTouched && prStats.getLong(1) >= 150000L}")
    pr.unpersist()

    // 5) personalized pagerank: the repartition routing engages like
    // pagerank's; teleport must keep every seed alive and no score can
    // go negative under integer floor division
    val ppr = timed("ppr_repartition") {
      val p = operators.Relational.pprCore(sym)
        .persist(StorageLevel.MEMORY_AND_DISK)
      p.count(); p
    }
    val seedMin = ppr.filter(col("v").isin(0L, 2L, 4L, 6L))
      .agg(coalesce(min(col("s")), lit(-1L))).head().getLong(0)
    val pprStats = ppr.agg(count(lit(1)).as("n"),
      min(col("s")).as("smin")).head()
    println(s"SCALECHECK graph ppr scored=${pprStats.getLong(0)} " +
      s"min_score=${pprStats.getLong(1)} seed_min=$seedMin " +
      s"ok=${pprStats.getLong(1) >= 0L && seedMin >= 150000L}")
    ppr.unpersist()

    // 6) weighted SSSP, deterministic 1..30 weights. The horizon BINDS
    // on this graph (cheap long chains exist past 8 edges — SsspSpec
    // pins that semantics on closed forms), so the graded invariant is
    // frontier ≡ FULL Bellman-Ford at the same round cap: the frontier
    // optimization must be lossless, bit-for-bit, at 2.5M vertices.
    // relaxable_at_horizon is reported as the horizon-pressure metric,
    // not a failure.
    val wsym = sym.withColumn("w",
      pmod(col("src") + col("dst"), lit(30L)) + lit(1L))
      .persist(StorageLevel.MEMORY_AND_DISK)
    wsym.count() // eager: the loop, the reference, and the audit consume
    val sp = timed("sssp_frontier") {
      val d = operators.Relational.ssspCore(wsym)
        .persist(StorageLevel.MEMORY_AND_DISK)
      d.count(); d
    }
    val full = timed("sssp_full_reference") {
      val seeds = wsym.filter(col("src") % 2 === 0)
        .select(col("src").as("id")).distinct()
        .orderBy(col("id")).limit(3)
      var d = Barriers.roundBarrier(
        seeds.select(col("id"), lit(0L).as("dist")))
      for (_ <- 1 to operators.Relational.SsspMaxRounds)
        d = Barriers.roundBarrier(
          d.unionAll(
            wsym.join(d.select(col("id").as("src"), col("dist").as("du")),
              Seq("src"))
              .select(col("dst").as("id"), (col("du") + col("w")).as("dist")))
            .groupBy(col("id")).agg(min(col("dist")).as("dist")))
      val dp = d.persist(StorageLevel.MEMORY_AND_DISK); dp.count(); dp
    }
    val mismatch = sp
      .join(full.select(col("id"), col("dist").as("fd")), Seq("id"),
        "full_outer")
      .filter(col("dist").isNull || col("fd").isNull ||
        col("dist") =!= col("fd")).count()
    val relaxable = sp.filter(col("dist") > 0L)
      .join(wsym.select(col("dst").as("id"), col("src").as("u"), col("w")),
        Seq("id"))
      .join(sp.select(col("id").as("u"), col("dist").as("du")), Seq("u"))
      .groupBy(col("id"), col("dist"))
      .agg(min(col("du") + col("w")).as("best"))
      .filter(col("best") < col("dist")).count()
    val spStats = sp.agg(count(lit(1)).as("n"),
      sum(when(col("dist") === 0L, 1L).otherwise(0L)).as("zeros")).head()
    println(s"SCALECHECK graph sssp reached=${spStats.getLong(0)} " +
      s"seeds_at_zero=${spStats.getLong(1)} " +
      s"frontier_vs_full_mismatch=$mismatch " +
      s"relaxable_at_horizon=$relaxable " +
      s"ok=${spStats.getLong(1) == 3L && mismatch == 0L}")
    sp.unpersist(); full.unpersist(); wsym.unpersist()
    pairs.unpersist()
  }

  /** `runMain graft.ScaleCheck ccdriver [nPairs]` — the graph family's
    * driver finish ([[DriverGraph]]) AT its bound (default nPairs =
    * [[Barriers.DriverFinishEdgeBound]]), in four phases:
    *  - `contracted`, `raw_pairs`: connected components over nPairs
    *    disjoint pairs (2k, 2k+1), the shape that maximizes both driver
    *    structures — every pair brings two fresh ids (2·nPairs vertices)
    *    and moves one of them into the broadcast root map (nPairs rows).
    *    The contraction path (bound nPairs − 1) runs first for
    *    comparison, then the raw-pair driver finish;
    *  - `kcore`: the 1-core of the same pairs, where all 2·nPairs
    *    vertices survive — the largest hand-back;
    *  - `scc`: sccCore over nPairs/4 disjoint 4-cycles, nPairs vertices
    *    and nPairs edges (its driver branch also requires the vertex
    *    count within the bound, which the pairs' 2·nPairs exceed).
    * Per phase it prints the largest heap any collection left live (GC
    * notifications — the live-set peak a heap must hold; in local mode
    * the executors' buffers share that heap, so it bounds the driver's
    * share from above), the post-GC live heap before the phase and
    * while its result plan is still held, and the broadcast size (the
    * exchanges' dataSize metric); a wrong label or degree throws.
    */
  private def ccDriverDrill(spark: org.apache.spark.sql.SparkSession,
      nPairs: Long): Unit = {
    import org.apache.spark.storage.StorageLevel
    import java.lang.management.{ManagementFactory, MemoryType}
    import javax.management.{Notification, NotificationEmitter,
      NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.{Column, DataFrame}
    val pairs = spark.range(nPairs)
      .select((col("id") * 2).as("i"), (col("id") * 2 + 1).as("j"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    val universe = pairs.select(col("i").as("id"))
      .unionAll(pairs.select(col("j").as("id")))
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    def liveMb() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20
    }
    val maxAfterGc = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType ==
            GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData])
            .getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
          maxAfterGc.accumulateAndGet(after, math.max)
        }
    }
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    val helper =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // `result` is the phase's (n, bad) aggregate over the finish's output
    def phase(tag: String, input: String, want: Long)(
        result: => DataFrame): Unit = {
      val live0 = liveMb()
      maxAfterGc.set(0L)
      gcs.foreach(_.addNotificationListener(listener, null, null))
      val (q, row) = timed(s"cc_$tag") { val q = result; (q, q.collect().head) }
      gcs.foreach(_.removeNotificationListener(listener))
      val held = liveMb() // q, and through it the plan, still referenced
      val bcastBytes = helper.collect(q.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          b.metrics("dataSize").value
      }.sum
      val (n, bad) = (row.getLong(0), row.getLong(1))
      println(s"SCALECHECK ccdriver $tag $input labels=$n wrong=$bad " +
        s"live_before_mb=$live0 max_live_after_gc_mb=${maxAfterGc.get >> 20} " +
        s"live_with_plan_mb=$held broadcast_mb=${bcastBytes >> 20} " +
        s"xmx_mb=${Runtime.getRuntime.maxMemory >> 20}")
      assert(n == want && bad == 0,
        s"ccdriver $tag wrong: labels=$n (want $want) wrong=$bad")
    }
    def tally(df: DataFrame, wrong: Column): DataFrame =
      df.agg(count(lit(1)).as("n"), sum(when(wrong, 1L).otherwise(0L)))
    def cc(bound: Long): DataFrame = tally(
      Dedup.connectedComponents(spark, pairs, nPairs, universe,
        driverFinishEdgeBound = bound),
      col("canonical_id") =!= col("id") - col("id") % 2)
    // contracted first: the raw-pair finish's broadcast outlives its plan
    // until the ContextCleaner runs, and would inflate the next baseline
    phase("contracted", s"pairs=$nPairs", 2 * nPairs)(cc(nPairs - 1))
    phase("raw_pairs", s"pairs=$nPairs", 2 * nPairs)(cc(nPairs))
    phase("kcore", s"pairs=$nPairs", 2 * nPairs) {
      val (core, rounds) = operators.Relational.kCoreCore(pairs, 1)
      assert(rounds == 0, s"ccdriver kcore: $rounds peel rounds, want 0")
      tally(core, col("core_degree") =!= 1L)
    }
    val nCycles = nPairs / 4
    phase("scc", s"cycles=$nCycles", 4 * nCycles) {
      val v = spark.range(4 * nCycles).select(col("id").as("v"))
      tally(operators.Relational.sccCore(v,
          v.select(col("v").as("src"),
            (col("v") - col("v") % 4 + (col("v") + 1) % 4).as("dst"))),
        col("scc_id") =!= col("v") - col("v") % 4)
    }
    pairs.unpersist()
  }

  /** The centrality large-regime drill (r11 verdict #2): Brandes
    * betweenness + the harmonic-closeness rollup on the generated
    * power-law graph — the one iterative family the 25M-edge graph
    * drill didn't reach, and the one whose per-(root, vertex) state
    * (sorted predecessor/successor collect_list folds, bounded only by
    * degree — 178k on this graph's hub) has memory behavior no shipped
    * corpus exercises. Phases mirror betweennessCore's real stages via
    * the stored-artifact seam: the forward pass publishes "brandes_vis"
    * under a throwaway durable root (timed with its parquet
    * materialization, exactly like a production shared pass), the DAG
    * statistics pass measures the actual fold-list bounds (max
    * predecessor group = the forward collect_list ceiling, max
    * successor group = the backward one) and checks σ's exact-integer
    * identity Σ_preds σ(v) = σ(w) — valid verbatim while σ < 2⁵³, where
    * double addition is exact in any order — then betweennessCore runs
    * sp + backward off the stored vis, and the closeness rollup reads
    * the same artifact (the shared-pass contract at drill scale).
    */
  private def centralityDrill(spark: org.apache.spark.sql.SparkSession,
      nDraws: Long): Unit = {
    import org.apache.spark.storage.StorageLevel
    import operators.Relational
    val v = nDraws / 10
    val pairs = powerLawPairs(spark, nDraws, v)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = timed("cen_build_pairs")(pairs.count())
    val (sym, _) = Barriers.stationaryEdges(Barriers.symmetrize(pairs, "i", "j"))
    val verts = sym.select(col("src").as("v")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nV = verts.count()
    val dmax = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head().getLong(0)
    println(s"SCALECHECK centrality edges=$e vertices=$nV max_degree=$dmax")

    val drillRoot = java.nio.file.Files
      .createTempDirectory("graft-cen-drill").toString
    spark.conf.set("spark.graft.artifactRoot", s"$drillRoot/store")
    try {
      // forward pass, published as the shared artifact (includes the
      // parquet write a shared production pass pays)
      val vis = timed("cen_forward_publish") {
        val d = ArtifactStore.publish(spark, "brandes_vis", drillRoot)(
          Relational.brandesForward(sym, verts))
          .persist(StorageLevel.MEMORY_AND_DISK)
        d.count(); d
      }
      val visStats = vis.agg(count(lit(1)).as("n"), max(col("lvl")).as("ml"),
        max(col("sig")).as("ms")).head()
      val sigExact = visStats.getDouble(2) < 9007199254740992.0 // 2^53
      println(s"SCALECHECK centrality vis_rows=${visStats.getLong(0)} " +
        s"max_level=${visStats.getInt(1)} " +
        f"max_sigma=${visStats.getDouble(2)}%.6g sigma_exact=$sigExact")

      // the shortest-path DAG, exactly as betweennessCore builds it:
      // fold-list ceilings + the σ identity
      val dag = timed("cen_dag_stats") {
        val d = vis.select(col("root"), col("v"), col("lvl"),
            col("sig").as("sigv"))
          .join(sym, col("v") === col("src"))
          .join(vis.select(col("root").as("wr"), col("v").as("w"),
            col("lvl").as("wl"), col("sig").as("sigw")),
            col("root") === col("wr") && col("dst") === col("w") &&
              col("wl") === col("lvl") + 1)
          .select(col("root"), col("v"), col("w"), col("sigv"), col("sigw"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        d.count(); d
      }
      val predAgg = dag.groupBy(col("root"), col("w"))
        .agg(count(lit(1)).as("n_pred"), sum(col("sigv")).as("psum"),
          first(col("sigw")).as("sigw"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      predAgg.count()
      val foldStats = predAgg.agg(max(col("n_pred"))).head().getLong(0)
      val succMax = dag.groupBy(col("root"), col("v"))
        .agg(count(lit(1)).as("n_succ"))
        .agg(max(col("n_succ"))).head().getLong(0)
      val sigBad =
        if (sigExact) predAgg.filter(col("psum") =!= col("sigw")).count()
        else -1L
      // max_succ_fold IS the backward δ fold width betweennessCore
      // guards (one sorted successor list per (root, v) row): the drill
      // asserts the measured hub width sits inside the loud cap, so the
      // guard can never fire at drilled scale and MUST fire before an
      // executor OOM past it
      val foldCap = Relational.BrandesMaxFoldWidth
      println(s"SCALECHECK centrality dag_rows=${dag.count()} " +
        s"max_pred_fold=$foldStats max_succ_fold=$succMax " +
        s"fold_cap=$foldCap " +
        s"sigma_identity_violations=$sigBad " +
        s"ok=${(sigBad == 0L || !sigExact) && succMax <= foldCap}")
      predAgg.unpersist(); dag.unpersist()

      // full betweenness off the STORED forward pass (sp + backward are
      // what this phase times), then the closeness rollup off the same
      // artifact — the shared-pass contract at drill volume
      val bc = timed("cen_betweenness") {
        val b = Relational.betweennessCore(spark, sym, Some(drillRoot))
          .persist(StorageLevel.MEMORY_AND_DISK)
        b.count(); b
      }
      val top = bc.orderBy(col("centrality").desc, col("v")).head()
      val bcStats = bc.agg(count(lit(1)).as("n"),
        min(col("centrality")).as("cmin")).head()
      println(s"SCALECHECK centrality betweenness_rows=${bcStats.getLong(0)} " +
        f"min=${bcStats.getDouble(1)}%.6f top_v=${top.getLong(0)} " +
        f"top_centrality=${top.getDouble(1)}%.1f " +
        s"ok=${bcStats.getLong(0) == nV && bcStats.getDouble(1) >= 0.0}")
      bc.unpersist()
      val close = timed("cen_closeness_rollup") {
        val h = ArtifactStore.readOrCompute(spark, "brandes_vis", drillRoot)(
          sys.error("forward pass must come from the store"))
          .filter(col("lvl") > 0)
          .groupBy(col("v"))
          .agg(count(lit(1)).as("n_roots_reached"),
            sum(expr("27720 div lvl")).as("hnum"))
          .agg(count(lit(1)).as("n"), max(col("n_roots_reached")).as("mr"),
            min(col("hnum")).as("hmin")).head()
        h
      }
      println(s"SCALECHECK centrality closeness_rows=${close.getLong(0)} " +
        s"max_roots=${close.getLong(1)} min_hnum=${close.getLong(2)} " +
        s"ok=${close.getLong(1) <= 8L && close.getLong(2) > 0L}")
      vis.unpersist()
    } finally {
      spark.conf.unset("spark.graft.artifactRoot")
    }

    // pivot-sampled approximate BC at the same 25M-edge volume (r14
    // verdict #2: the fold-cap fallback had no at-volume witness) —
    // k = 16 hash-sampled pivots over the 178k-degree-hub graph, plain
    // unordered δ sums, no degree-sized row anywhere
    val bca = timed("cen_betweenness_approx") {
      val b = Relational.betweennessApproxCore(spark, sym, nPivots = 16)
        .persist(StorageLevel.MEMORY_AND_DISK)
      b.count(); b
    }
    val bcaTop = bca.orderBy(col("centrality").desc, col("v")).head()
    val bcaStats = bca.agg(count(lit(1)).as("n"),
      min(col("centrality")).as("cmin")).head()
    println(s"SCALECHECK centrality approx_rows=${bcaStats.getLong(0)} " +
      f"min=${bcaStats.getDouble(1)}%.6f top_v=${bcaTop.getLong(0)} " +
      f"top_centrality=${bcaTop.getDouble(1)}%.1f " +
      s"ok=${bcaStats.getLong(0) == nV && bcaStats.getDouble(1) >= 0.0}")
    bca.unpersist()

    // k = |V| agreement on a drill SUBGRAPH: every subgraph vertex a
    // pivot makes the estimator exact, checked against an independent
    // driver-side all-sources Brandes under the same 12-level horizon.
    // The id cut scales with the graph (v/500 → ~3k verts / ~6k edges at
    // the 25M-draw drill): an all-pivots pass is quadratic-ish in the
    // subgraph, so a FIXED cut would balloon on small smoke runs where
    // the same id range covers a far larger population share.
    val subCut = math.max(200L, v / 500L)
    val subPairs = pairs.filter(col("j") < subCut)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val subEdges = subPairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val subVs = subEdges.map(_._1).distinct.sorted
    val refBc = brandesAllSourcesRef(subEdges,
      Relational.BetweennessMaxLevel)
    val gotBc = timed("cen_approx_subgraph_exact") {
      import spark.implicits._
      Relational.betweennessApproxCore(spark,
        subEdges.toSeq.toDF("src", "dst"), nPivots = subVs.length)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    val subBad = subVs.count { vtx =>
      val e0 = refBc.getOrElse(vtx, 0.0)
      math.abs(gotBc(vtx) - e0) > 1e-6 + 1e-8 * math.abs(e0)
    }
    println(s"SCALECHECK centrality approx_subgraph_verts=${subVs.length} " +
      s"edges=${subEdges.length} mismatches=$subBad " +
      s"ok=${subBad == 0 && gotBc.keySet == subVs.toSet}")
    require(subBad == 0 && gotBc.keySet == subVs.toSet,
      "approx-BC k=|V| subgraph agreement FAILED")

    sym.unpersist(); verts.unpersist(); pairs.unpersist()

    // the regime the fold cap EXISTS for: a hub whose degree exceeds
    // BrandesMaxFoldWidth — the exact core must refuse it loudly, the
    // approx core must complete and land its closed form
    approxMegahubDrill(spark)
  }

  /** Driver-side all-sources Brandes under the engine's forward-BFS
    * horizon (vertices beyond `maxLevel` hops from a source are not
    * visited and accumulate nothing — the exact truncation
    * [[operators.Relational.brandesForwardFrom]] applies), over the
    * src ∪ dst vertex domain. The independent reference for the drill's
    * k = |V| subgraph agreement gate.
    */
  private def brandesAllSourcesRef(edges: Array[(Long, Long)],
      maxLevel: Int): Map[Long, Double] = {
    val adj = edges.groupBy(_._1).map { case (k2, v2) => k2 -> v2.map(_._2) }
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val bc = scala.collection.mutable.Map[Long, Double]()
      .withDefaultValue(0.0)
    for (s <- vs) {
      val dist = scala.collection.mutable.Map[Long, Int]()
      val sigma = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      val preds = scala.collection.mutable.Map[Long,
        scala.collection.mutable.Buffer[Long]]()
      val stack = scala.collection.mutable.Buffer[Long]()
      dist(s) = 0; sigma(s) = 1.0
      val q = scala.collection.mutable.Queue(s)
      while (q.nonEmpty) {
        val v2 = q.dequeue(); stack += v2
        if (dist(v2) < maxLevel) {
          for (w <- adj.getOrElse(v2, Array.empty[Long])) {
            if (!dist.contains(w)) { dist(w) = dist(v2) + 1; q.enqueue(w) }
            if (dist(w) == dist(v2) + 1) {
              sigma(w) += sigma(v2)
              preds.getOrElseUpdate(w,
                scala.collection.mutable.Buffer()) += v2
            }
          }
        }
      }
      val delta = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      for (w <- stack.reverse; v2 <- preds.getOrElse(w, Nil))
        delta(v2) += sigma(v2) / sigma(w) * (1.0 + delta(w))
      for (v2 <- stack if v2 != s) bc(v2) += delta(v2)
    }
    bc.toMap
  }

  /** The fold-cap boundary at volume: a 4.2M-leaf star's hub degree
    * exceeds [[operators.Relational.BrandesMaxFoldWidth]], so the EXACT
    * core's preemptive guard must throw (caught and printed as
    * evidence), while [[operators.Relational.betweennessApproxCore]]
    * completes — and on a star the estimator has a CLOSED FORM to land
    * exactly: from a leaf pivot, δ(hub) = L−1 and every other δ is 0,
    * so hub centrality = (|V|/k) · #leaf-pivots · (L−1) and every leaf
    * reads 0 (all sums are integers < 2⁵³ — double-exact in any order).
    */
  private def approxMegahubDrill(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import operators.Relational
    val leaves = 4200000L
    require(leaves > Relational.BrandesMaxFoldWidth,
      "megahub must exceed the exact core's fold cap")
    val star = spark.range(1, leaves + 1)
      .select(lit(0L).as("src"), col("id").as("dst"))
    val starSym = star.unionAll(
      star.select(col("dst").as("src"), col("src").as("dst")))
    val refused =
      try {
        Relational.betweennessCore(spark, starSym).head(); false
      } catch { case e: IllegalArgumentException =>
        println(s"SCALECHECK centrality megahub exact_core_refusal: " +
          e.getMessage.takeWhile(_ != '\n'))
        true
      }
    graft.GraftCaches.release(spark) // the refused core's edge cache
    val k = 8
    val mh = timed("cen_approx_megahub") {
      import org.apache.spark.storage.StorageLevel
      val b = Relational.betweennessApproxCore(spark, starSym, nPivots = k)
        .persist(StorageLevel.MEMORY_AND_DISK)
      b.count(); b
    }
    // closed form: recompute the engine's own pivot rule to count how
    // many of the k pivots are leaves (the hub contributes 0 as a pivot)
    val nLeafPivots = spark.range(0, leaves + 1)
      .select(col("id").as("v"))
      .orderBy(xxhash64(col("v")), col("v")).limit(k)
      .filter(col("v") =!= 0L).count()
    val expectedHub =
      (leaves + 1).toDouble / k * nLeafPivots * (leaves - 1).toDouble
    val hubRow = mh.filter(col("v") === 0L).head().getDouble(1)
    val mhStats = mh.agg(count(lit(1)).as("n"),
      max(when(col("v") =!= 0L, col("centrality"))).as("leafmax")).head()
    val hubOk = math.abs(hubRow - expectedHub) <= 1e-8 * expectedHub
    println(s"SCALECHECK centrality megahub refused_exact=$refused " +
      s"approx_rows=${mhStats.getLong(0)} " +
      f"hub=${hubRow}%.1f expected=${expectedHub}%.1f " +
      f"leaf_max=${mhStats.getDouble(1)}%.6f " +
      s"ok=${refused && hubOk && mhStats.getLong(0) == leaves + 1 &&
        mhStats.getDouble(1) == 0.0}")
    require(refused && hubOk && mhStats.getLong(0) == leaves + 1 &&
      mhStats.getDouble(1) == 0.0,
      "approx-BC megahub drill FAILED")
    mh.unpersist()
    graft.GraftCaches.release(spark)
  }

  /** HITS at drill volume (r12 verdict #4): the one iterative operator
    * the graph/centrality drills never exercised. graph_hits's
    * decimal(38,0) unnormalized sums are its only overflow surface —
    * the documented sf0.1 bigint-cast margin is ~1e4, and a power-law
    * hub is the actual probe: each of the 3 alternating-key rounds
    * multiplies the hub's score by its degree-weighted neighborhood, so
    * the drill measures how much headroom the EXACT production rounds
    * ([[operators.Relational.hitsCore]]) leave against both ceilings
    * (the final BIGINT cast at 2⁶³, the decimal(38,0) accumulator at
    * 1e38) on a graph three orders past the bench SF.
    */
  /** `runMain graft.ScaleCheck scc [nEdges]` — the strongly-connected-
    * components large-regime drill: [[operators.Relational.sccCore]]
    * (the exact code graph_scc runs; the query's own graph is 25
    * nations) over a GENERATED planted graph at default 25M edges whose
    * true SCC partition is known by construction:
    *
    *  - nEdges/25 groups of 5 vertices, each a directed 5-cycle — the
    *    planted SCCs (ids dense: group k owns [5k, 5k+5));
    *  - groups arranged in 8 layers; the remaining ~4/5 of the edges are
    *    random DAG edges from a layer-l vertex to a layer-(l+1) vertex
    *    (stateless xxhash64 draws, deterministic) — cross-group edges
    *    can never be mutual, so the SCCs stay exactly the cycles and the
    *    condensation is exactly 8 layers deep, exercising the outer
    *    peel-and-recolor loop at a known depth under the SccMaxRounds
    *    contract.
    *
    * Graded, not printed-and-forgotten: every vertex's scc_id must equal
    * its group minimum (one aggregate over the full labeling — zero
    * tolerance), and the distinct-SCC count must equal the group count.
    */
  private def sccDrill(spark: org.apache.spark.sql.SparkSession,
      nEdges: Long, giantPhase: Boolean = true): Unit = {
    import operators.Relational
    val g = 5L
    val layers = 8L
    // round groups DOWN to a multiple of layers so every layer is full
    val groups = (nEdges / (g * g) / layers).max(1L) * layers
    val nV = groups * g
    val perLayer = groups / layers
    val cyc = spark.range(nV).select(col("id").as("src"),
      ((col("id") / g).cast("bigint") * g +
        (col("id") % g + 1) % g).as("dst"))
    val nDag = nEdges - nV
    def u(seed: Int) = pmod(xxhash64(col("id"), lit(seed)), lit(1000000000L))
    val dag = spark.range(nDag)
      .select((u(1) % (layers - 1)).as("l"),
        (u(2) % perLayer).as("g1"), (u(3) % perLayer).as("g2"),
        (u(4) % g).as("o1"), (u(5) % g).as("o2"))
      .select(
        ((col("l") * perLayer + col("g1")) * g + col("o1")).as("src"),
        (((col("l") + 1) * perLayer + col("g2")) * g + col("o2")).as("dst"))
    val edges = cyc.unionAll(dag)
    println(s"SCALECHECK scc vertices=$nV groups=$groups layers=$layers " +
      s"cycle_edges=$nV dag_edges=$nDag")
    val labels = timed("scc_core")(
      Relational.sccCore(spark.range(nV).select(col("id").as("v")), edges))
    val s = labels.agg(count(lit(1)).as("n"),
      sum(when(col("scc_id") === (col("v") / g).cast("bigint") * g, 0L)
        .otherwise(1L)).as("bad"),
      countDistinct(col("scc_id")).as("nscc")).head()
    println(s"SCALECHECK scc labeled=${s.getLong(0)} " +
      s"mislabeled=${s.getLong(1)} distinct_sccs=${s.getLong(2)} " +
      s"ok=${s.getLong(0) == nV && s.getLong(1) == 0L &&
        s.getLong(2) == groups}")
    require(s.getLong(0) == nV && s.getLong(1) == 0L &&
      s.getLong(2) == groups,
      "scc drill FAILED: labeling does not match the planted partition")
    if (!giantPhase) return // `scc1`: layered phase only — halves the
    // exposure window when hunting a drill_valid phase-1 reading
    // Phase 2 — the GIANT-DIAMETER case the layered graph doesn't touch:
    // one 2M-node directed cycle (+1M random chords inside it, same SCC;
    // diameter ~2M) and 1M DAG tail nodes hanging off it (singletons).
    // This is the million-node-cycle claim in sccCore's Scaladoc run at
    // volume: raw ascending ids along the cycle are EXACTLY the
    // adversarial crawl configuration, so convergence in dozens (not
    // millions) of inner rounds is the hashed pointer-jump machinery
    // working — and the `[loop] scc` lines prove one outer round.
    val nCyc = 2000000L
    val nTail = 1000000L
    val cycB = spark.range(nCyc).select(col("id").as("src"),
      ((col("id") + 1) % nCyc).as("dst"))
    val chords = spark.range(nCyc / 2).select(
      (u(6) % nCyc).as("src"), (u(7) % nCyc).as("dst"))
    val tails = spark.range(nTail).select(
      (u(8) % nCyc).as("src"), (col("id") + nCyc).as("dst"))
    val labelsB = timed("scc_giant_cycle")(
      Relational.sccCore(
        spark.range(nCyc + nTail).select(col("id").as("v")),
        cycB.unionAll(chords).unionAll(tails), driverFinishEdgeBound = 0L))
    val sB = labelsB.agg(count(lit(1)).as("n"),
      sum(when((col("v") < nCyc && col("scc_id") === 0L) ||
          (col("v") >= nCyc && col("scc_id") === col("v")), 0L)
        .otherwise(1L)).as("bad")).head()
    println(s"SCALECHECK scc_giant labeled=${sB.getLong(0)} " +
      s"mislabeled=${sB.getLong(1)} " +
      s"ok=${sB.getLong(0) == nCyc + nTail && sB.getLong(1) == 0L}")
    require(sB.getLong(0) == nCyc + nTail && sB.getLong(1) == 0L,
      "scc giant-cycle drill FAILED: labeling does not match construction")
  }

  /** `runMain graft.ScaleCheck yannakakis [nFact]` — the semi-join
    * reduction program at the volume it exists for: the SHIPPED
    * [[operators.Relational.yannakakisReduce]] over a generated
    * dangling-heavy chain fact(100M) — mid(nFact/10) — dim(nFact/100),
    * built so most tuples DIE (fact keys draw from 2× the mid domain →
    * ~50% dangling; mid keys from 2× the dim domain and the dim leaf
    * filter keeps 10% → ~5% of mids survive; ~2.5% of facts reach the
    * output). Both the reduced program and the PLAIN declarative join
    * (Catalyst's own best, runtime filters included) compute the same
    * exact BIGINT aggregate — asserted equal, times printed side by
    * side, survivor counts printed so the reduction factor is explicit.
    */
  private def yannakakisDrill(spark: org.apache.spark.sql.SparkSession,
      nFact: Long): Unit = {
    import operators.Relational
    val nMid = nFact / 10
    val nDim = nFact / 100
    def h(seed: Int) = pmod(xxhash64(col("id"), lit(seed)), lit(1000000000L))
    // dim leaf filter keeps k3 % 10 == 0 (10% of the dim)
    val dim = spark.range(nDim).select(col("id").as("k3"))
      .filter(col("k3") % 10 === 0)
    // mid keys draw k3 from [0, 2·nDim): half point past the dim domain
    val mid = spark.range(nMid).select(col("id").as("k2"),
      (h(1) % (2 * nDim)).as("k3"))
    // fact keys draw k2 from [0, 2·nMid): half dangle; exact payload
    val fact = spark.range(nFact).select(col("id").as("k1"),
      (h(2) % (2 * nMid)).as("k2"), (col("id") % 997L).as("pay"))
    def gradeAgg(joined: org.apache.spark.sql.DataFrame) =
      joined.agg(count(lit(1)).as("n"), sum(col("pay")).as("s")).head()
    val plain = timed("yk_plain_join")(gradeAgg(
      fact.join(mid, Seq("k2")).join(dim, Seq("k3"))))
    val Seq(d2, m2, f2) = Relational.yannakakisReduce(
      Seq(dim, mid, fact), Seq(("k3", "k3"), ("k2", "k2")))
    val reduced = timed("yk_reduced_join")(
      gradeAgg(f2.join(m2, Seq("k2")).join(d2, Seq("k3"))))
    // survivor counts re-derive the reductions AFTER the timed pass, so
    // the timed plan stays single-consumer (no persist-contract noise)
    val (rFact, rMid, rDim) = (f2.count(), m2.count(), d2.count())
    println(s"SCALECHECK yannakakis fact=$nFact mid=$nMid dim=$nDim " +
      s"survivors fact=$rFact mid=$rMid dim=$rDim " +
      s"plain=(${plain.getLong(0)}, ${plain.getLong(1)}) " +
      s"reduced=(${reduced.getLong(0)}, ${reduced.getLong(1)}) " +
      s"equal=${plain == reduced}")
    require(plain == reduced,
      "yannakakis drill FAILED: reduced program disagrees with plain join")
    // Shape B — the TRANSITIVE-KILL shape: every fact key matches mid,
    // but the dim leaf keeps only 0.1%. A naive left-deep fact⋈mid
    // order would push 100M rows through a shuffle join the dim filter
    // then annihilates; the reducer propagates the dim kill through mid
    // to fact before any wide shuffle. MEASURED OUTCOME (recorded in
    // BASELINE "Yannakakis drill"): AQE's join reordering + broadcast
    // synthesizes the same kill on its own here (mid⋈dim first, 10k
    // rows broadcast into the fact scan), beating the explicit reducer
    // — so on friendly chains the reducer is the optimizer-independent
    // intermediate BOUND, not a speedup, and this drill's permanent
    // assert is losslessness at volume, with times printed for honesty.
    val dimB = spark.range(nDim).select(col("id").as("k3"))
      .filter(col("k3") % 1000 === 0)
    val midB = spark.range(nMid).select(col("id").as("k2"),
      (h(3) % nDim).as("k3"))
    val factB = spark.range(nFact).select(col("id").as("k1"),
      (h(4) % nMid).as("k2"), (col("id") % 997L).as("pay"))
    val plainB = timed("ykB_plain_join")(gradeAgg(
      factB.join(midB, Seq("k2")).join(dimB, Seq("k3"))))
    val Seq(dB2, mB2, fB2) = Relational.yannakakisReduce(
      Seq(dimB, midB, factB), Seq(("k3", "k3"), ("k2", "k2")))
    val reducedB = timed("ykB_reduced_join")(
      gradeAgg(fB2.join(mB2, Seq("k2")).join(dB2, Seq("k3"))))
    val (rFactB, rMidB) = (fB2.count(), mB2.count())
    println(s"SCALECHECK yannakakisB survivors fact=$rFactB mid=$rMidB " +
      s"plainB=(${plainB.getLong(0)}, ${plainB.getLong(1)}) " +
      s"reducedB=(${reducedB.getLong(0)}, ${reducedB.getLong(1)}) " +
      s"equal=${plainB == reducedB}")
    require(plainB == reducedB,
      "yannakakis drill FAILED: shape B reduced disagrees with plain join")
  }

  private def hitsDrill(spark: org.apache.spark.sql.SparkSession,
      nDraws: Long): Unit = {
    import org.apache.spark.storage.StorageLevel
    import operators.Relational
    val v = nDraws / 10
    // directed bipartite (c, s): power-law c-side (the 2%-of-edges hub
    // customer), uniform s-side — same generator as the other drills
    val cs = powerLawPairs(spark, nDraws, v)
      .select(col("i").as("c"), col("j").as("s"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val e = timed("hits_build_edges")(cs.count())
    val dmax = cs.groupBy(col("c")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head().getLong(0)
    println(s"SCALECHECK hits edges=$e max_out_degree=$dmax")
    val (h3, a3) = timed("hits_3_rounds")(Relational.hitsCore(cs))
    val hs = h3.agg(count(lit(1)).as("n"), sum(when(col("h").isNull, 1L)
        .otherwise(0L)).as("nulls"), max(col("h")).as("mx")).head()
    val as = a3.agg(count(lit(1)).as("n"), sum(when(col("a").isNull, 1L)
        .otherwise(0L)).as("nulls"), max(col("a")).as("mx")).head()
    val maxScore = hs.getDecimal(2).max(as.getDecimal(2))
    // margins: orders of magnitude of headroom under each ceiling
    val bigintCeil = new java.math.BigDecimal(Long.MaxValue)
    val dec38Ceil = new java.math.BigDecimal(java.math.BigInteger.TEN.pow(38))
    def oom(ceil: java.math.BigDecimal) =
      math.log10(ceil.divide(maxScore, java.math.MathContext.DECIMAL64)
        .doubleValue())
    val mBig = oom(bigintCeil)
    val mDec = oom(dec38Ceil)
    println(f"SCALECHECK hits h_rows=${hs.getLong(0)} a_rows=${as.getLong(0)} " +
      s"null_sums=${hs.getLong(1) + as.getLong(1)} " +
      f"max_score=${maxScore.toPlainString} " +
      f"margin_bigint_oom=$mBig%.2f margin_dec38_oom=$mDec%.2f " +
      s"ok=${hs.getLong(1) + as.getLong(1) == 0L && mBig >= 1.0}")
    h3.unpersist(); a3.unpersist(); cs.unpersist()
  }

  /** `runMain graft.ScaleCheck ann [nVecs]` — the ANN large-regime drill:
    * the similarity family's equivalent of the 25M-edge graph drills. The
    * shipped embeddings corpus is 2k vectors (every cell fits in one
    * task); this drill runs the IVF assignment/probe dataflow
    * ([[Similarity.ivfAssign]]/[[Similarity.ivfProbe]] — the exact code
    * the sim_topk_ivf / sim_ivf_incremental queries execute) over a
    * GENERATED planted-cluster corpus (default 2M × dim-16: vector =
    * center(id mod 64) + noise, both from stateless xxhash64 draws — no
    * RNG state, every run identical) and grades it against BRUTE FORCE
    * obtained from the SAME dataflow at nprobe = cells (probing every
    * cell IS the exhaustive scan, so approx and exact share scoring,
    * tie-break and top-k code — the diff measures ONLY the probe
    * restriction).
    *
    * What it proves at scale: the map-side argmax assignment holds at
    * corpus volume (no shuffle, no state), probe cost tracks
    * nprobe/cells of the corpus, and recall on clustered data (the
    * regime IVF exists for) stays ≥ 0.9 with an 8/64 probe — asserted,
    * not printed-and-forgotten.
    */
  private def annDrill(spark: org.apache.spark.sql.SparkSession,
      nVecs: Long): Unit = {
    import org.apache.spark.storage.StorageLevel
    val dim = 16
    val cells = 64
    val nQueries = 50
    val k = 10
    val nprobe = 8
    // stateless uniform draw in [-1, 1] from xxhash64 of the arg columns
    def u(seed: Int, a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =
      pmod(xxhash64(a, b, lit(seed)), lit(1000000000L)).cast("double") /
        5.0e8 - 1.0
    def centerElem(cell: org.apache.spark.sql.Column,
        d: org.apache.spark.sql.Column) = u(101, cell, d)
    // planted-cluster corpus: center(id mod cells) + 0.35·noise —
    // same-cluster cosine ≈ 0.9, cross-cluster ≈ 0 (random dim-16
    // directions), exactly the concentration IVF is built for
    // persist = plan barrier BEFORE assignment: cellRanks references
    // c_vec once per centroid, and without the barrier CollapseProject
    // inlines the 32-hash generator expression into all 64 cosines
    // (measured 125 s vs 9 s at 2M — the Dedup.scala recompute class);
    // a real corpus reads vectors as parquet attributes and never hits
    // this, so materializing keeps the drill measuring ASSIGNMENT
    val corpus = spark.range(nVecs)
      .select(col("id").as("c_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          d => (centerElem(pmod(col("id"), lit(cells.toLong)), d) +
            u(202, col("id"), d) * lit(0.35)).cast("float")).as("c_vec"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    timed("ann_gen")(corpus.count())
    // the centroid table IS the planted centers (a trained kmeansTrain
    // table drops in identically — assignment/probe only see the array);
    // k·dim driver pull, the sanctioned bounded-centroid collect
    val cents: Array[(Long, Array[Float])] = spark.range(cells)
      .select(col("id"),
        transform(sequence(lit(0), lit(dim - 1)),
          d => centerElem(col("id"), d).cast("float")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val assigned = Similarity.ivfAssign(corpus, cents)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // eager count: the approx AND exact probes both consume `assigned`
    val n = timed("ann_assign")(assigned.count())
    val bal = assigned.groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      .agg(max(col("sz")).as("mx"), count(lit(1)).as("nc")).head()
    println(s"SCALECHECK ann corpus=$n cells=${bal.getLong(1)} " +
      f"max_cell_share=${bal.getLong(0).toDouble * cells / n}%.2f")
    val queries = corpus.filter(col("c_id") < nQueries)
      .select(col("c_id").as("q_id"), col("c_vec").as("q_vec"))
    def pairs(rel: org.apache.spark.sql.DataFrame, np: Int,
        label: String): Set[(Long, Long)] =
      timed(label)(
        Similarity.ivfProbe(rel, queries, cents, nprobe = np)
          .filter(col("rank") <= k)
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
    val approx = pairs(assigned, nprobe, s"ann_probe_$nprobe")
    val exact = pairs(assigned, cells, "ann_bruteforce")
    val recall = (approx & exact).size.toDouble / exact.size
    println(f"SCALECHECK ann recall=$recall%.4f " +
      s"(approx=${approx.size} exact=${exact.size} nprobe=$nprobe/$cells)")
    assert(recall >= 0.9,
      f"ANN drill recall $recall%.4f below the 0.9 floor at $nVecs vectors")
    // the at-scale layout claim, MEASURED instead of asserted in prose:
    // with the assignment stored cell-partitioned (the standing-index
    // layout of sim_ivf_incremental), the probe's broadcast join on
    // `cell` triggers dynamic partition pruning — the scan reads
    // ~nprobe·|queried cells|/cells of the files, not the corpus
    val store = java.nio.file.Files
      .createTempDirectory("graft_ann_ivf").resolve("idx").toString
    timed("ann_store_write")(
      assigned.write.partitionBy("cell").parquet(store))
    val stored = spark.read.parquet(store)
      .select(col("c_id"), col("c_vec"), col("cell"))
    val probePlan = Similarity.ivfProbe(stored, queries, cents, nprobe)
    val fromStore = timed("ann_probe_stored")(
      probePlan.filter(col("rank") <= k)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
    assert(fromStore == approx,
      "stored-index probe diverged from the in-memory probe")
    val planStr = probePlan.queryExecution.executedPlan.toString
    println(s"SCALECHECK ann stored_dpp=" +
      s"${planStr.contains("dynamicpruning")} rows=${fromStore.size}")
    assigned.unpersist(); corpus.unpersist()
  }

  /** `runMain graft.ScaleCheck dedup [nDocs]` — the MinHash-LSH
    * large-regime drill: the shipped corpora grade the banding against an
    * EXHAUSTIVE all-pairs oracle, which caps the graded scale at a few
    * thousand docs (the oracle is O(n²)); this drill runs the SHIPPED
    * pipeline ([[Dedup.minhashLshPairs]] — signature, 16×8 banding,
    * width-capped buckets, exact rerank) over a GENERATED planted-group
    * corpus (default 1M docs in groups of 10 sharing a 40-token template
    * with ~1% per-position unique mutations → in-group Jaccard ≈ 0.9, the
    * near-dup regime LSH banding is tuned for) and grades recall against
    * a truth set that stays computable at scale: exact Jaccard evaluated
    * on IN-GROUP pairs only (grp is a generator label the pipeline never
    * sees). Precision is 1 by construction (the pipeline's last step IS
    * exact Jaccard ≥ 0.5); the drill therefore measures the one thing the
    * exhaustive gate can't — banding RECALL at volume — plus wall times
    * for the signature and candidate phases.
    */
  private def dedupDrill(spark: org.apache.spark.sql.SparkSession,
      nDocs: Long): Unit = {
    import org.apache.spark.storage.StorageLevel
    import graft.functions.GraftFunctions
    val grpSize = 10L
    val docLen = 40
    def u(seed: Int, a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =
      pmod(xxhash64(a, b, lit(seed)), lit(1000000000L)).cast("double") / 1.0e9
    // group template token w<hash(grp, pos)>; ~1% of positions mutate to a
    // doc-unique token m<id>_<pos> (kills the ≤3 shingles through it), so
    // in-group Jaccard spans ≈[0.6, 1] with mass concentrated ≥0.85 — a
    // realistic near-dup mixture rather than a single planted similarity
    val grp = floor(col("id") / lit(grpSize)).cast("bigint")
    val toks = transform(sequence(lit(0), lit(docLen - 1)), p =>
      when(u(31, col("id"), p) < lit(0.01),
        concat(lit("m"), col("id").cast("string"), lit("_"), p.cast("string")))
        .otherwise(concat(lit("w"),
          pmod(xxhash64(grp, p, lit(7)), lit(50000L)).cast("string"))))
    // the token array must land in an ATTRIBUTE before the shingle
    // transform references it 3× per element (the CLAUDE.md lambda-
    // recompute class: CSE does not run inside higher-order lambdas, so
    // inlining `toks` would re-evaluate the 40-hash generator ~114× per
    // doc — the first drill run measured 281 s for this phase); the
    // repartition is the projection barrier CollapseProject cannot cross
    val sh3 = transform(sequence(lit(0), lit(docLen - 3)),
      i => concat_ws(" ", element_at(col("toks"), i + 1),
        element_at(col("toks"), i + 2), element_at(col("toks"), i + 3)))
    // same persisted-relation contract as dedupMinhashLsh: (doc_id, sh,
    // sig) materialized once — the barrier that keeps the signature
    // kernel out of the 16-way band transform, and the eager count that
    // keeps the concurrent banding/rerank consumers off a cold cache
    val cached = spark.range(nDocs)
      .select(col("id").as("doc_id"), grp.as("grp"), toks.as("toks"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("grp"),
        array_sort(array_distinct(sh3)).as("sh"))
      .select(col("doc_id"), col("grp"), col("sh"),
        GraftFunctions.minhashSignature(col("sh"), 128, 42).as("sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    timed("dedup_gen_sign")(cached.count())
    val found = Dedup.minhashLshPairs(cached)
      .select(col("i"), col("j")).persist(StorageLevel.MEMORY_AND_DISK)
    val nFound = timed("dedup_lsh_pipeline")(found.count())
    // truth: exact Jaccard ≥ 0.5 over IN-GROUP pairs (grp is a generator
    // label the pipeline never sees) — exact at any corpus size because
    // groups are bounded, where the oracle's all-pairs scan is O(n²).
    // Everything stays distributed: recall is counted by joining the two
    // pair relations, never by collecting millions of pairs
    val a = cached.select(col("grp"), col("doc_id").as("i"), col("sh").as("sh_i"))
    val b = cached.select(col("grp"), col("doc_id").as("j"), col("sh").as("sh_j"))
    val truth = a.join(b, Seq("grp")).filter(col("i") < col("j"))
      .select(col("i"), col("j"),
        GraftFunctions.jaccardSorted(col("sh_i"), col("sh_j")).as("jac"))
      .filter(col("jac") >= 0.5)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nTruth = timed("dedup_truth")(truth.count())
    // recall CURVE by Jaccard decile: banding recall is a function of
    // similarity by design (the 16×8 S-curve) — the drill asserts the
    // near-dup regime it is tuned for (jac ≥ 0.8) and PRINTS the tail
    // instead of hiding it in one blended number
    val hit = truth.join(found, Seq("i", "j"))
    val curve = truth.withColumn("dec", floor(col("jac") * 10) / 10)
      .groupBy(col("dec")).agg(count(lit(1)).as("n"))
      .join(hit.withColumn("dec", floor(col("jac") * 10) / 10)
        .groupBy(col("dec")).agg(count(lit(1)).as("h")), Seq("dec"), "left")
      .orderBy(col("dec"))
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
    curve.foreach { case (d, n, h) =>
      println(f"SCALECHECK dedup jac_decile=$d%.1f truth=$n hit=$h " +
        f"recall=${h.toDouble / n}%.4f")
    }
    val nHit = curve.map(_._3).sum
    val hi = curve.filter(_._1 >= 0.8)
    val hiRecall = hi.map(_._3).sum.toDouble / hi.map(_._2).sum
    val crossGroup = nFound - nHit
    println(f"SCALECHECK dedup recall_overall=${nHit.toDouble / nTruth}%.4f " +
      f"recall_ge08=$hiRecall%.4f " +
      s"(found=$nFound truth=$nTruth cross_group=$crossGroup)")
    assert(hiRecall >= 0.98,
      f"dedup drill jac≥0.8 recall $hiRecall%.4f below the 0.98 floor " +
        s"at $nDocs docs")
    found.unpersist(); truth.unpersist(); cached.unpersist()
  }

  /** `runMain graft.ScaleCheck bitmap [nEvents]` — the bitmap-index
    * sliding-distinct drill: the SHIPPED dataflow
    * ([[operators.Relational.slidingDistinctCore]] — what
    * q_sliding_distinct executes) over 100M generated events spread
    * across 2000 days × 2²⁰ users, i.e. the regime the repartition-first
    * plan exists for (2000 groups × 32 tasks of 128 KiB partials would
    * be the partial→exchange→final cost; the shipped plan ships 16-byte
    * raw rows once and no bitmap crosses an exchange). Grades EXACTLY:
    * for 5 probe days the windowed bitmap count must equal a direct
    * count(DISTINCT) over the raw rows of that 7-day range — the oracle
    * that stays exact at any volume because it only ever scans per-probe.
    */
  private def bitmapDrill(spark: org.apache.spark.sql.SparkSession,
      nEvents: Long): Unit = {
    import org.apache.spark.storage.StorageLevel
    import operators.Relational
    val nDays = 2000L
    val nUsers = 1L << 20
    val e = spark.range(nEvents)
      .select(
        pmod(xxhash64(col("id"), lit(1)), lit(nDays)).as("day_num"),
        pmod(xxhash64(col("id"), lit(2)), lit(nUsers)).as("user_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    timed("bitmap_gen")(e.count())
    val out = Relational.slidingDistinctCore(e, nUsers - 1, windowDays = 7)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = timed("bitmap_sliding")(out.count())
    // exact spot-check oracle: 5 probe days re-derived straight from the
    // raw rows (count(DISTINCT) over the 7-day slice)
    val probes = Array(6L, 500L, 1000L, 1500L, nDays - 1)
    val got = out.filter(col("day_num").isin(probes.toIndexedSeq: _*))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    probes.foreach { d =>
      val want = timed(s"bitmap_probe_$d")(
        e.filter(col("day_num").between(d - 6, d))
          .agg(count_distinct(col("user_id")).as("u"),
            count(lit(1)).as("n")).head())
      assert(got(d)._1 == want.getLong(0) && got(d)._2 == want.getLong(1),
        s"day $d: bitmap ${got(d)} vs direct " +
          s"(${want.getLong(0)}, ${want.getLong(1)})")
    }
    val mx = out.agg(max(col("n_users_7d"))).head().getLong(0)
    println(s"SCALECHECK bitmap days=$n max_7d_users=$mx " +
      s"probes=${probes.length} ok=true")
    out.unpersist(); e.unpersist()
  }

  /** `runMain graft.ScaleCheck rank [nRows]` — the distributed-rank /
    * sharded-prefix-sum drill: the machinery that REPLACED every
    * corpus-sized ranking window (r12-r13: [[Ranks.rowNumber]]'s range
    * sort + zipWithIndex, [[Ranks.ntileOf]]'s map-side banding, and the
    * pipeline_token_budget two-level sharded running sum) measured at
    * 100M rows — the regime those rewrites were priced for but never
    * run at (the bench SF tops out at ~600k events). Every phase is
    * graded EXACTLY against an independent derivation that only ever
    * scans per-probe (count-below-key for ranks, filter-sums for the
    * prefix boundary), so the oracle stays exact at any volume:
    *
    *  1. global exact rank over a heavily-tied key (~100 rows per value
    *     — the tie-break path is the part a buggy sort-rank silently
    *     miscounts): min/max/Σrk structural identities + 5 probe rows
    *     re-ranked by direct count;
    *  2. exact ntile(10) banding off that rank: the decile histogram
    *     must be the standard ⌈n/k⌉/⌊n/k⌋ split with contiguous rank
    *     ranges (checked via per-decile min/max/count, no window);
    *  3. the two-level sharded running sum (shard = leading bits of the
    *     SAME hash that orders the scan, offsets via the triangular
    *     broadcast self-join, per-shard bounded windows): 5 probe rows'
    *     global running sums re-derived by direct filter-sum, then the
    *     budget CUT per source proven exact at the boundary — the last
    *     selected doc's direct prefix < budget ≤ the first unselected
    *     doc's direct prefix.
    */
  private def rankDrill(spark: org.apache.spark.sql.SparkSession,
      nRows: Long): Unit = {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.expressions.Window
    val nSources = 8L
    val rows = spark.range(nRows)
      .select(col("id"),
        // ~100-way ties: rank correctness then hinges on the unique
        // (value, id) tie-break, not just the value sort
        pmod(xxhash64(col("id"), lit(7)), lit(math.max(nRows / 100, 1L)))
          .as("value"),
        concat(lit("s"), pmod(xxhash64(col("id"), lit(11)), lit(nSources)))
          .as("source"),
        (pmod(xxhash64(col("id"), lit(13)), lit(999L)) + 1L).as("n_tokens"),
        // the scan-order hash: non-negative so leading-bits sharding
        // (shard = ord div 2^54 over a 2^62 domain) is a PREFIX of the
        // (ord, id) total order — the invariant the two-level sum needs
        pmod(xxhash64(col("id"), lit(17)), lit(1L << 62)).as("ord"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    timed("rank_gen")(rows.count())

    // ---- phase 1: global exact rank at volume --------------------------
    val ranked = timed("rank_rownumber") {
      val r = Ranks.rowNumber(rows, "rk", col("value"), col("id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      r.count(); r
    }
    val s = ranked.agg(min(col("rk")).as("mn"), max(col("rk")).as("mx"),
      sum(col("rk").cast("decimal(38,0)")).as("sm")).head()
    val wantSum = new java.math.BigDecimal(nRows)
      .multiply(new java.math.BigDecimal(nRows + 1))
      .divide(new java.math.BigDecimal(2))
    assert(s.getLong(0) == 1L && s.getLong(1) == nRows &&
      s.getDecimal(2).compareTo(wantSum) == 0,
      s"rank structure: min=${s.getLong(0)} max=${s.getLong(1)} " +
        s"sum=${s.getDecimal(2)} want_sum=$wantSum")
    val probeIds = (1L to 5L).map(k => k * (nRows / 7L))
    val probeRows = rows.filter(col("id").isin(probeIds: _*))
      .select(col("id"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    probeIds.foreach { pid =>
      val pv = probeRows(pid)
      val direct = timed(s"rank_probe_$pid")(
        rows.filter(col("value") < pv ||
          (col("value") === pv && col("id") < pid)).count()) + 1L
      val got = ranked.filter(col("id") === pid).head().getAs[Long]("rk")
      assert(got == direct, s"rank probe id=$pid: rk=$got direct=$direct")
    }

    // ---- phase 2: exact ntile(10) banding off the rank ----------------
    val dec = ranked
      .withColumn("dec", Ranks.ntileOf(col("rk"), lit(nRows), 10))
      .groupBy(col("dec"))
      .agg(count(lit(1)).as("n"), min(col("rk")).as("lo"),
        max(col("rk")).as("hi"))
      .orderBy(col("dec"))
      .collect()
    assert(dec.length == 10, s"ntile produced ${dec.length} buckets")
    val q = nRows / 10; val rem = nRows - q * 10
    var nextLo = 1L
    dec.foreach { r =>
      val (d, n, lo, hi) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val want = if (d <= rem) q + 1 else q
      assert(n == want && lo == nextLo && hi == lo + n - 1,
        s"decile $d: n=$n want=$want lo=$lo (want $nextLo) hi=$hi")
      nextLo = hi + 1
    }
    println(s"SCALECHECK rank n=$nRows deciles_exact=true " +
      s"probes=${probeIds.length}")

    // ---- phase 3: two-level sharded running sum + budget cut ----------
    // the token_budget dataflow at volume: per (source, shard) windows
    // own nRows/(8·256) ≈ 49k rows at 100M — the boundedness claim
    val sharded = rows.withColumn("shard", expr("ord div " + (1L << 54)))
    val shardTot = sharded.groupBy(col("source"), col("shard"))
      .agg(sum(col("n_tokens")).as("st"))
    val off = shardTot.as("a")
      .join(shardTot.as("p"),
        col("a.source") === col("p.source") &&
          col("p.shard") < col("a.shard"), "left_outer")
      .groupBy(col("a.source").as("source"), col("a.shard").as("shard"))
      .agg(coalesce(sum(col("p.st")), lit(0L)).as("shard_off"))
    val win = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("ord"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = timed("rank_prefix_sum") {
      val c = sharded.join(broadcast(off), Seq("source", "shard"))
        .withColumn("cum_before",
          col("shard_off") +
            coalesce(sum(col("n_tokens")).over(win), lit(0L)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      c.count(); c
    }
    // probe rows: direct filter-sum of every row strictly before p in
    // the per-source (ord, id) total order
    probeIds.foreach { pid =>
      val p = cum.filter(col("id") === pid).head()
      val (ps, po, pc) = (p.getAs[String]("source"), p.getAs[Long]("ord"),
        p.getAs[Long]("cum_before"))
      val direct = timed(s"rank_prefix_probe_$pid")(
        rows.filter(col("source") === ps &&
          (col("ord") < po || (col("ord") === po && col("id") < pid)))
          .agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0))
      assert(pc == direct,
        s"prefix probe id=$pid source=$ps: cum=$pc direct=$direct")
    }
    // budget cut: boundary-exact per source. budget ≈ 16% of a source's
    // expected mass so the cut lands mid-corpus, never at an edge
    val budget = nRows / nSources * 500L / 6L
    val sel = cum.filter(col("cum_before") < budget)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nSel = timed("rank_budget_select")(sel.count())
    val bounds = sel.groupBy(col("source"))
      .agg(max(struct(col("ord"), col("id"))).as("last"),
        count(lit(1)).as("n_sel"))
      .collect()
    assert(bounds.length == nSources,
      s"budget cut covered ${bounds.length}/$nSources sources")
    bounds.foreach { b =>
      val src = b.getAs[String]("source")
      val last = b.getStruct(1)
      val (lo, li) = (last.getLong(0), last.getLong(1))
      def directPrefix(ordV: Long, idV: Long): Long =
        rows.filter(col("source") === src &&
          (col("ord") < ordV || (col("ord") === ordV && col("id") < idV)))
          .agg(coalesce(sum(col("n_tokens")), lit(0L))).head().getLong(0)
      val lastPrefix = directPrefix(lo, li)
      // the first row AFTER the boundary in the same source order
      val nxt = rows.filter(col("source") === src &&
        (col("ord") > lo || (col("ord") === lo && col("id") > li)))
        .agg(min(struct(col("ord"), col("id"))).as("m")).head().getStruct(0)
      assert(lastPrefix < budget,
        s"$src: last selected prefix $lastPrefix !< budget $budget")
      if (nxt != null) {
        // failure-message detail only — lazy, so the success path never
        // pays this extra scan of the 100M-row cache (8 sources × ~1 s)
        lazy val nxtTokens = rows.filter(col("source") === src &&
          col("ord") === nxt.getLong(0) && col("id") === nxt.getLong(1))
          .select(col("n_tokens")).head().getLong(0)
        val nxtPrefix = directPrefix(nxt.getLong(0), nxt.getLong(1))
        assert(nxtPrefix >= budget,
          s"$src: first unselected prefix $nxtPrefix < budget $budget " +
            s"(tokens=$nxtTokens)")
      }
      println(s"SCALECHECK rank budget_cut source=$src n_sel=${b.getLong(2)} " +
        s"boundary_exact=true")
    }
    println(s"SCALECHECK rank prefix_sum n=$nRows selected=$nSel " +
      s"budget=$budget shards=256 ok=true")
    sel.unpersist(); cum.unpersist(); ranked.unpersist(); rows.unpersist()
  }

  /** `runMain graft.ScaleCheck stream [nEvents]` — the streaming-STATE
    * drill: the structured-streaming layer is spec-gated for semantics
    * (StreamingSpec: batch/stream parity on the bench tables) but its
    * state stores had never been measured at volume. This pushes 20M
    * events (default) through three shipped transforms as a REAL
    * file-source stream — files land in event-time order like a live
    * feed, 10 files per micro-batch — and grades each exactly:
    *
    *  1. [[streaming.StreamOps.dedupStream]] (bounded-state exact dedup):
    *     20% planted same-timestamp duplicate pairs; the emitted count
    *     must be EXACTLY 0.8·n (every dup dropped, no unique id lost to
    *     a late-arrival eviction — file order makes event time monotone
    *     across batches). Run TWICE: HDFS-backed provider, then RocksDB
    *     — wall, peak state rows, and state memory printed for both.
    *  2. [[streaming.StreamOps.windowedAgg]] (watermarked tumbling agg):
    *     append mode flushed by a sentinel event 1 day past the corpus;
    *     5 probe buckets re-derived from the raw parquet by batch
    *     groupBy — decimal-exact sums, exact counts.
    *  3. [[streaming.StreamOps.sessionAgg]] (session_window state at 1M
    *     keys): user bursts (20 events, 0.2 s apart, one burst per user)
    *     make the truth the batch run of the SAME transform; equality
    *     asserted by symmetric anti-join, never collected.
    */
  private def streamDrill(spark: org.apache.spark.sql.SparkSession,
      nEvents: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import org.apache.spark.sql.DataFrame
    import graft.streaming.StreamOps
    val nFiles = 100
    // fail in milliseconds, not after the generation phase: nEvents/nFiles
    // floors, so a non-multiple input would silently drop the remainder
    // and only surface minutes later at the nRaw==nEvents check
    require(nEvents % (nFiles * 5L) == 0,
      s"nEvents must be a multiple of ${nFiles * 5} (files × dup-pair " +
        s"stride): $nEvents")
    val perFile = nEvents / nFiles
    require(perFile % 5 == 0, "perFile must be a multiple of 5 so planted " +
      "duplicate pairs never straddle a file boundary")
    val startUs = 1700000000000000L // fixed epoch anchor, deterministic
    val stepUs = 200000L            // 0.2 s per event id
    val root = Files.createTempDirectory("graft-streamdrill")
    val watched = root.resolve("in"); Files.createDirectories(watched)
    val stage = root.resolve("stage").toString

    // generator: event_id collapses 20% of ids onto their predecessor
    // (same derived ts — the dup pair is simultaneous), user bursts of
    // 20 consecutive events, 8 event types, 2-dp values
    def slice(lo: Long, hi: Long): DataFrame =
      spark.range(lo, hi).select(
        when(pmod(col("id"), lit(5L)) === 4L, col("id") - 1L)
          .otherwise(col("id")).as("event_id"),
        col("id").as("row_id"))
        .select(col("event_id"), col("row_id"),
          timestamp_micros(lit(startUs) + col("event_id") * lit(stepUs))
            .as("ts"),
          (col("event_id") / lit(20L)).cast("bigint").as("user_id"),
          concat(lit("t"), pmod(xxhash64(col("event_id"), lit(5)), lit(8L)))
            .as("event_type"),
          (pmod(xxhash64(col("event_id"), lit(9)), lit(100000L))
            .cast("double") / 100.0).as("value"))
        .drop("row_id")
    timed("stream_gen") {
      (0 until nFiles).foreach { f =>
        slice(f * perFile, (f + 1) * perFile).coalesce(1)
          .write.mode("overwrite").parquet(stage)
        val part = Files.list(Paths.get(stage)).iterator()
        var moved = false
        while (part.hasNext && !moved) {
          val p = part.next()
          if (p.getFileName.toString.endsWith(".parquet")) {
            Files.move(p, watched.resolve(f"f$f%04d.parquet"),
              StandardCopyOption.ATOMIC_MOVE)
            moved = true
          }
        }
        require(moved, s"no parquet part produced for slice $f")
      }
    }
    val raw = spark.read.parquet(watched.toString)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRaw = raw.count()
    require(nRaw == nEvents, s"generated $nRaw events, wanted $nEvents")
    val maxRealUs = startUs + (nEvents - 1) * stepUs

    def runStream(tag: String, out: DataFrame => DataFrame,
        outputDir: String, sentinel: Boolean): (Double, Long, Long) = {
      val ckpt = Files.createTempDirectory(root, s"ckpt_$tag").toString
      val src = spark.readStream
        .schema(raw.schema)
        .option("maxFilesPerTrigger", 10)
        .parquet(watched.toString)
      val q = out(src).writeStream
        .format("parquet")
        .option("path", outputDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      val t0 = System.nanoTime()
      q.processAllAvailable()
      if (sentinel) {
        // one far-future row advances the watermark past every real
        // window so append mode flushes them all
        slice(0, 1)
          .withColumn("ts", timestamp_micros(lit(maxRealUs + 86400000000L)))
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = Files.list(Paths.get(stage)).iterator()
        var moved = false
        while (part.hasNext && !moved) {
          val p = part.next()
          if (p.getFileName.toString.endsWith(".parquet")) {
            Files.move(p, watched.resolve("f9999_sentinel.parquet"),
              StandardCopyOption.ATOMIC_MOVE)
            moved = true
          }
        }
        q.processAllAvailable()
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress
      val peakState = progs.flatMap(_.stateOperators.map(_.numRowsTotal))
        .foldLeft(0L)(math.max)
      val peakMem = progs.flatMap(_.stateOperators.map(_.memoryUsedBytes))
        .foldLeft(0L)(math.max)
      q.stop()
      if (sentinel) Files.delete(watched.resolve("f9999_sentinel.parquet"))
      println(f"SCALECHECK stream $tag%-18s wall=$wall%8.1f s " +
        f"rows_per_s=${nEvents / wall}%.0f peak_state_rows=$peakState " +
        s"peak_state_bytes=$peakMem")
      (wall, peakState, peakMem)
    }

    // ---- phase 1: exact bounded-state dedup, both state providers -----
    val wantDistinct = nEvents - nEvents / 5
    Seq(
      "dedup_hdfs" ->
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "dedup_rocksdb" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .foreach { case (tag, provider) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
        val outDir = root.resolve(s"out_$tag").toString
        runStream(tag, StreamOps.dedupStream, outDir, sentinel = false)
        val got = spark.read.parquet(outDir).count()
        val distinctGot = spark.read.parquet(outDir)
          .select(col("event_id")).distinct().count()
        assert(got == wantDistinct && distinctGot == wantDistinct,
          s"$tag: emitted $got (distinct $distinctGot), want $wantDistinct")
      }
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")

    // ---- phase 2: watermarked tumbling agg, probe-exact ----------------
    val winDir = root.resolve("out_window").toString
    runStream("windowed_agg", StreamOps.windowedAgg, winDir, sentinel = true)
    val winOut = spark.read.parquet(winDir)
      .filter(col("bucket_s") <= maxRealUs / 1000000L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBuckets = winOut.count()
    val truthAgg = StreamOps.windowedAgg(raw) // batch: watermark no-ops
    val mism = winOut.as("s").join(truthAgg.as("b"),
        Seq("event_type", "bucket_s"), "full_outer")
      .filter(col("s.n_events").isNull || col("b.n_events").isNull ||
        col("s.n_events") =!= col("b.n_events") ||
        col("s.sum_value") =!= col("b.sum_value") ||
        col("s.min_value") =!= col("b.min_value") ||
        col("s.max_value") =!= col("b.max_value")).count()
    assert(mism == 0, s"windowed_agg: $mism bucket mismatches vs batch")
    // cardinality too: a full_outer value compare is blind to DUPLICATE
    // emission (two identical stream rows both match the one batch row),
    // so the row counts must agree independently of the join
    val nTruthBuckets = truthAgg.count()
    assert(nBuckets == nTruthBuckets,
      s"windowed_agg: $nBuckets stream buckets vs $nTruthBuckets batch " +
        "— duplicate or missing emission")
    println(s"SCALECHECK stream windowed_agg buckets=$nBuckets " +
      s"mismatches=0 ok=true")
    winOut.unpersist()

    // ---- phase 3: session_window state at 1M keys ----------------------
    val sesDir = root.resolve("out_session").toString
    runStream("session_agg", StreamOps.sessionAgg, sesDir, sentinel = true)
    val sesOut = spark.read.parquet(sesDir)
      .filter(col("start_us") <= maxRealUs)
    val sesTruth = StreamOps.sessionAgg(raw)
    val sesMism = sesOut.as("s").join(sesTruth.as("b"),
        Seq("user_id", "start_us"), "full_outer")
      .filter(col("s.n_events").isNull || col("b.n_events").isNull ||
        col("s.n_events") =!= col("b.n_events") ||
        col("s.end_us") =!= col("b.end_us")).count()
    val nSessions = sesOut.count()
    assert(sesMism == 0, s"session_agg: $sesMism session mismatches vs batch")
    // duplicate-emission blindness of the value join, again — and the
    // planted structure made load-bearing: one 20-event burst per user
    // ⇒ EXACTLY nEvents/20 sessions, independent of the batch twin (a
    // gap-handling regression shared by both sides would hide from
    // parity but not from this count)
    assert(nSessions == sesTruth.count(),
      s"session_agg: $nSessions stream sessions vs batch count " +
        "— duplicate or missing emission")
    assert(nSessions == nEvents / 20,
      s"session_agg: $nSessions sessions, expected exactly ${nEvents / 20} " +
        "(one per planted user burst)")
    println(s"SCALECHECK stream session_agg sessions=$nSessions " +
      s"users=${nEvents / 20} mismatches=0 ok=true")
    raw.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(32)
    spark.sparkContext.setLogLevel("ERROR")
    // one line per round of every graph loop (Barriers.fixpoint), and per
    // set-up count (round 0), from the listener bus
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case r: LoopRound =>
            println(f"[loop] ${r.loop} iter=${r.round} changed=${r.changed} " +
              f"${r.detail} sec=${r.wallMs / 1000.0}%.1f")
          case _ =>
        }
      })
    if (args.headOption.contains("stream")) {
      streamDrill(spark,
        args.drop(1).headOption.map(_.toLong).getOrElse(20000000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("rank")) {
      rankDrill(spark,
        args.drop(1).headOption.map(_.toLong).getOrElse(100000000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("bitmap")) {
      bitmapDrill(spark,
        args.drop(1).headOption.map(_.toLong).getOrElse(100000000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("dedup")) {
      dedupDrill(spark,
        args.drop(1).headOption.map(_.toLong).getOrElse(1000000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("ann")) {
      annDrill(spark,
        args.drop(1).headOption.map(_.toLong).getOrElse(2000000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("yannakakis")) {
      yannakakisDrill(spark,
        args.drop(1).headOption.map(_.toLong).getOrElse(100000000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("scc") ||
        args.headOption.contains("scc1")) {
      sccDrill(spark,
        args.drop(1).headOption.map(_.toLong).getOrElse(25000000L),
        giantPhase = !args.headOption.contains("scc1"))
      spark.stop()
      return
    }
    if (args.headOption.contains("hits")) {
      hitsDrill(spark,
        args.drop(1).headOption.map(_.toLong).getOrElse(25000000L))
      spark.stop()
      return
    }
    if (args.headOption.contains("ccdriver")) {
      ccDriverDrill(spark, args.drop(1).headOption.map(_.toLong)
        .getOrElse(Barriers.DriverFinishEdgeBound))
      spark.stop()
      return
    }
    if (args.headOption.contains("centrality")) {
      centralityDrill(spark,
        args.drop(1).headOption.map(_.toLong).getOrElse(25000000L))
      spark.stop()
      return
    }
    if (args.headOption.exists(a => a == "graph" || a == "graphcc")) {
      graphDrill(spark,
        args.drop(1).headOption.map(_.toLong).getOrElse(25000000L),
        ccOnly = args.head == "graphcc")
      spark.stop()
      return
    }
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")

    // 1) minhash LSH == Spark exhaustive all-pairs
    val lsh = Dedup.dedupMinhashLsh(spark, dir).collect().map(_.toSeq).toSeq
    val toks = split(col("text"), " ")
    val sh3 = when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2),
          element_at(toks, i + 3)))).otherwise(array().cast("array<string>"))
    val s = T.documents(spark, dir)
      .repartition(col("doc_id"))
      .select(col("doc_id"), array_sort(array_distinct(sh3)).as("sh"))
      .filter(size(col("sh")) > 0).persist()
    val exact = s.alias("a").join(s.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        round(graft.functions.GraftFunctions.jaccardSorted(
          col("a.sh"), col("b.sh")), 6).as("jac"))
      .filter(col("jac") >= 0.5).orderBy(col("i"), col("j"))
      .collect().map(_.toSeq).toSeq
    println(s"SCALECHECK minhash lsh=${lsh.size} exact=${exact.size} equal=${lsh == exact}")

    // 2) approximate top-k recall vs bruteforce
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ex = keys(Similarity.simTopkBruteforce(spark, dir))
    val ap = keys(Similarity.simTopkLsh(spark, dir))
    println(f"SCALECHECK lsh_recall ${(ex & ap).size.toDouble / ex.size}%.3f")
    val iv = keys(Similarity.simTopkIvf(spark, dir))
    println(f"SCALECHECK ivf_recall ${(ex & iv).size.toDouble / ex.size}%.3f")

    // 3) embedding blocking recall vs all-pairs
    val blocked = Dedup.dedupEmbedding(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val e = T.embeddings(spark, dir)
    val allp = e.alias("a").join(e.alias("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
        round(graft.functions.GraftFunctions.cosine(
          col("a.embedding"), col("b.embedding")), 6).as("sim"))
      .filter(col("sim") >= 0.4).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec = if (allp.isEmpty) 1.0 else (blocked & allp).size.toDouble / allp.size
    println(f"SCALECHECK emb subset=${blocked.subsetOf(allp)} recall=$rec%.3f (${blocked.size}/${allp.size})")

    // 4) connected-components converged at this SF: the labeling must be a
    // FIXPOINT (canonical of canonical = canonical) — if the iteration cap
    // were ever hit before convergence, this is the check that catches it
    val cl = Dedup.dedupCluster(spark, dir)
    val c2 = cl.select(col("doc_id").as("d2"), col("canonical_id").as("cc"))
    val unconverged = cl.join(c2, col("canonical_id") === col("d2"))
      .filter(col("cc") =!= col("canonical_id")).count()
    println(s"SCALECHECK cluster n=${cl.count()} unconverged=$unconverged")
    spark.stop()
  }
}
