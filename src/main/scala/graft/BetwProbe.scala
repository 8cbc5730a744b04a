package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Dev tool (r17, not driver surface): per-step cost attribution inside
  * the graph_betweenness backward pass, plus same-JVM A/B of candidate
  * restructurings. The bench shows the query oscillating 12–160 s at 32
  * cores with CPU-seconds (not just wall) inflating 3–10× between quiet
  * windows — before touching the operator, this names where the CPU
  * actually goes (sp build / per-level scans / the sorted δ fold) and
  * proves any variant bit-identical on the real corpus.
  */
object BetwProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val variant = if (args.length > 1) args(1) else "baseline,split"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.build(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // hypothesis knob: cap plan-string rendering (SQLExecutionStart
    // renders physicalPlanDescription per action; nested
    // InMemoryRelations make it enormous)
    sys.env.get("BETW_PLANSTR").foreach(v =>
      spark.conf.set("spark.sql.maxPlanStringLength", v))
    import spark.implicits._

    def time[T](what: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[betwprobe] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    def edgesVerts(): (DataFrame, DataFrame) = {
      val cs = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
          Seq("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      cs.count()
      val (edges, _) = Barriers.stationaryEdges(
        cs.select(col("c").as("src"), col("s").as("dst"))
          .unionAll(cs.select(col("s").as("src"), col("c").as("dst"))),
        Seq(cs))
      val verts = edges.select(col("src").as("v")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      verts.count()
      (edges, verts)
    }

    def fold(lst: org.apache.spark.sql.Column, field: String) =
      aggregate(lst, lit(0.0), (acc, x) => acc + x.getField(field))

    for (rep <- 1 to reps; v <- variant.split(",")) {
      GraftCaches.release(spark)
      val t0 = System.nanoTime()
      val (edges, verts) = time(s"rep$rep $v edges+verts")(edgesVerts())
      val vis = time(s"rep$rep $v forward") {
        val vi = graft.operators.Relational.brandesForward(edges, verts)
          .persist(StorageLevel.MEMORY_AND_DISK)
        println(s"[betwprobe] vis rows=${vi.count()}")
        vi
      }
      val maxLvl = vis.agg(coalesce(max(col("lvl")), lit(0))).head().getInt(0)
      val sp0 = vis.select(col("root"), col("v"), col("lvl"), col("sig").as("sigv"))
        .join(edges, col("v") === col("src"))
        .join(vis.select(col("root").as("wr"), col("v").as("w"),
          col("lvl").as("wl"), col("sig").as("sigw")),
          col("root") === col("wr") && col("dst") === col("w") &&
            col("wl") === col("lvl") + 1)
        .select(col("root"), col("v"), col("lvl"), col("sigv"), col("w"), col("sigw"))

      // per-level backward; variants:
      //  baseline = big sp cache + collect_list/sort_array/HOF fold (shipped)
      //  split    = one slim persisted DF PER LEVEL, same fold
      //  kfold    = big sp cache + SortedKeyFold primitive aggregate
      val kfold = v.contains("kfold")
      val (spForLevel, release): (Int => DataFrame, () => Unit) =
        if (v.contains("split")) {
          val sp = sp0.persist(StorageLevel.MEMORY_AND_DISK)
          time(s"rep$rep $v sp build")(println(s"[betwprobe] sp rows=${sp.count()}"))
          val parts = (0 until maxLvl).map { l =>
            sp.filter(col("lvl") === l).persist(StorageLevel.MEMORY_AND_DISK)
          }
          time(s"rep$rep $v split materialize")(parts.foreach(_.count()))
          sp.unpersist()
          (l => parts(l), () => { parts.foreach(_.unpersist()); () })
        } else {
          val sp = sp0.persist(StorageLevel.MEMORY_AND_DISK)
          time(s"rep$rep $v sp build")(println(s"[betwprobe] sp rows=${sp.count()}"))
          (l => sp.filter(col("lvl") === l), () => { sp.unpersist(); () })
        }
      var prevDelta = graft.Barriers.roundBarrier(
        vis.filter(col("lvl") === maxLvl)
          .select(col("root"), col("v"), lit(0.0).as("delta")))
      var deltaParts = List(prevDelta)
      for (l <- (maxLvl - 1) to 0 by -1) {
        val tL = System.nanoTime()
        val joined = spForLevel(l)
          .join(prevDelta.select(col("root").as("dr"), col("v").as("dv"),
            col("delta").as("dw")),
            col("root") === col("dr") && col("w") === col("dv"))
        val dsum =
          if (kfold) joined
            .groupBy(col("root"), col("v"))
            .agg(graft.functions.GraftFunctions.sortedKeyFold(col("w"),
              col("sigv") / col("sigw") * (lit(1.0) + col("dw")),
              4000000L, "brandes probe").as("dsum"))
          else joined
            .select(col("root"), col("v"),
              struct(col("w").as("w"),
                (col("sigv") / col("sigw") * (lit(1.0) + col("dw"))).as("t")).as("st"))
            .groupBy(col("root"), col("v"))
            .agg(sort_array(collect_list(col("st"))).as("lst"))
            .select(col("root"), col("v"), fold(col("lst"), "t").as("dsum"))
        val dl = vis.filter(col("lvl") === l)
          .select(col("root"), col("v"))
          .join(dsum, Seq("root", "v"), "left_outer")
          .select(col("root"), col("v"),
            coalesce(col("dsum"), lit(0.0)).as("delta"))
        prevDelta = graft.Barriers.roundBarrier(dl)
        deltaParts ::= prevDelta
        println(f"[betwprobe] rep$rep $v lvl $l: ${(System.nanoTime() - tL) / 1e9}%.2f s")
      }
      val delta = deltaParts.reduce(_ unionAll _)
      val contrib =
        if (kfold) delta.filter(col("v") =!= col("root"))
          .groupBy(col("v"))
          .agg(graft.functions.GraftFunctions.sortedKeyFold(col("root"),
            col("delta"), Long.MaxValue, "brandes roots").as("centrality"))
        else delta.filter(col("v") =!= col("root"))
          .select(col("v"), struct(col("root").as("r"), col("delta").as("d")).as("st"))
          .groupBy(col("v"))
          .agg(sort_array(collect_list(col("st"))).as("lst"))
          .select(col("v"), fold(col("lst"), "d").as("centrality"))
      val out = verts.join(contrib, Seq("v"), "left_outer")
        .select(col("v"), round(coalesce(col("centrality"), lit(0.0)), 6).as("centrality"))
      val chk = time(s"rep$rep $v final agg") {
        out.agg(count(lit(1)), sum(hash(col("v"), col("centrality")).cast("bigint"))).head()
      }
      println(f"[betwprobe] rep$rep $v TOTAL ${(System.nanoTime() - t0) / 1e9}%.2f s " +
        s"checksum=(${chk.getLong(0)}, ${chk.getLong(1)})")
      release()
      GraftCaches.release(spark)
    }
    spark.stop()
  }
}
