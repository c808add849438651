package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, SigIndex}

/** Dev sweep for the staged PageRank serve (VERDICT r16 item 5): times
  * rank-round variants at the given corpus and dumps the EXECUTED plan's
  * reuse structure (AQE stage reuse is invisible in the pre-execution
  * formatted plans PLANS*.txt carries — the per-round edge exchange may
  * or may not be physically re-run, and the whole optimization question
  * hangs on which).
  *
  * Usage: SPARK_GRAFT_SF_DIR=data/sf100 runMain graft.PrSweep [variant...]
  * Variants: base (committed shape), slim (deg carried in the rank frame,
  * contribution divided per NODE before the edge join, slim (src,dst)
  * edge shuffle).
  */
object PrSweep {
  @volatile private var lastPlan: Option[String] = None

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/data/sf100")
    val spark = graft.engine.RunnerSession.build(sfDir, sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        PrSweep.lastPlan = Some(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    val variants = if (args.nonEmpty) args.toSeq else Seq("base", "slim", "base", "slim")
    variants.foreach { v =>
      val t0 = System.nanoTime()
      val df = v match {
        case "base" => SigIndex.docPagerankStaged(spark, sfDir)
        case "slim" => docPagerankStagedSlim(spark, sfDir)
        case s if s.startsWith("base:") && s.drop(5).forall(_.isDigit) && s.length > 5 =>
          // iters-sliced baseline: marginal round cost
          val base = SigIndex.stageClusters(spark, sfDir)
          graft.functions.Dedup.pagerankOnEdgeDegForSweep(
            graft.engine.Tables.parquet(spark, s"$base/edge_deg"),
            graft.engine.Tables.parquet(spark, s"$base/deg"), "doc_id", s.drop(5).toInt, 1000000L)
        case other =>
          sys.error(s"unknown PrSweep variant '$other' — valid: base, slim, base:<iters>")
      }
      df.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // ExecutionListenerBus delivers async; let it land
      // AQE: the final plan only exists in the EXECUTED QueryExecution —
      // and .write spawns its own QueryExecution, so df.queryExecution
      // stays un-adapted; capture the real one via the listener
      val executed = PrSweep.lastPlan.getOrElse("")
      // count whole node names: a bare sliding-substring count would also
      // match "Exchange" inside Reused/Broadcast/ShuffleExchange, inflating
      // the reuse decomposition (ADVICE r17); the boundary is symmetric —
      // without the trailing lookahead a counted key would still match as
      // a PREFIX of a longer node name (ADVICE r18)
      val counts = Seq("ReusedQueryStage", "ReusedExchange", "ShuffleQueryStage",
        "Exchange", "AQEShuffleRead").map(k =>
        s"$k=${("(?<![A-Za-z])" + k + "(?![A-Za-z])").r.findAllMatchIn(executed).size}").mkString(" ")
      println(f"[prsweep] $v%-5s ${secs}%8.2f s  $counts")
      if (sys.env.contains("SPARK_GRAFT_PR_DUMP")) println(executed)
      graft.engine.Scoped.releaseAll(spark)
    }
    spark.stop()
  }

  /** Variant: deg rides IN the rank frame, so the contribution is one
    * division per NODE (5 M) instead of per EDGE (38 M), and the edge
    * join shuffles a 16-byte (src, dst) row instead of 24. The round's
    * degree re-attach is a 5M-to-5M SHJ on co-partitioned hashes whose
    * static side's exchange is identical every round (AQE-reusable).
    */
  def docPagerankStagedSlim(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = SigIndex.stageClusters(spark, dir)
    val deg = graft.engine.Tables.parquet(spark, s"$base/deg")
    val edges = graft.engine.Tables.parquet(spark, s"$base/edge_deg").select(col("src"), col("dst"))
    pagerankSlim(edges, deg, "doc_id", 5, 1000000L)
  }

  private[graft] def pagerankSlim(edges: DataFrame, deg: DataFrame, idCol: String,
                                  iters: Int, scale: Long): DataFrame = {
    val teleport = 15L * scale / 100L
    var rank = deg.select(col("src").as(idCol), col("deg"), lit(scale).as("pr"))
    for (_ <- 1 to iters) {
      rank = rank
        .select(col(idCol), expr("pr div deg").as("contrib"))
        .join(edges, col(idCol) === edges("src"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("s"))
        .join(deg, col("dst") === deg("src"))
        .select(col("dst").as(idCol), col("deg"),
          (lit(teleport) + expr("(85 * s) div 100")).as("pr"))
    }
    rank.select(col(idCol), col("deg").cast("long").as("deg"), col("pr").cast("long").as("pr"))
  }
}
