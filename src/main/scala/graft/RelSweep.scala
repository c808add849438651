package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Dev-only same-session A/B for the two flattest-scaling TPC-H
  * laggards the sf10 audit flagged (q21 20.4 s, q16 17.3 s at the
  * round-11 measurement): each committed shape vs its candidate
  * alternative, min-of-2 each, interleaved in ONE session so co-tenant
  * phase noise cancels — cross-session comparisons at sf10 have a
  * measured 1.2–1.65× wobble. Round-12 outcome: q21's single-pass
  * rewrite (r_supp captured in the per-order agg, no persist/join-back)
  * won 20.2 vs 21.0 s and shed the ~50 M-row cache → committed; q16's
  * (partkey, suppkey) pre-dedup LOST 22.7 vs 17.2 s (the synthetic
  * bridge is nearly fact-sized, the extra shuffle buys no reduction) →
  * rejected, kept here as the measured negative result.
  *
  * Usage: SPARK_GRAFT_SF_DIR=data/sf10 sbt "runMain graft.RelSweep"
  */
object RelSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/data/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.engine.SessionConfs.All)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // REJECTED round-11 q21 shape: two-consumer persist + join-back
    def q21Old(s: SparkSession, dir: String): DataFrame = {
      val pairAgg = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_r"))
        .persist()
      val perOrder = pairAgg.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"), sum(col("has_r")).as("n_r_supp"))
        .filter(col("n_supp") > 1 && col("n_r_supp") === 1)
        .select(col("l_orderkey").as("o_key"))
      val waits = pairAgg.filter(col("has_r") === 1)
        .join(perOrder, col("l_orderkey") === col("o_key"))
        .groupBy(col("l_suppkey")).agg(count(lit(1)).as("numwait"))
      Tables.supplier(s, dir)
        .join(waits, col("s_suppkey") === col("l_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name").asc).limit(20)
    }

    // REJECTED q16 candidate: pre-dedup the fact to the (partkey,
    // suppkey) bridge before the joins (measured 32% slower — see
    // the object doc)
    def q16Bridge(s: SparkSession, dir: String): DataFrame = {
      val badSupp = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0 && col("s_suppkey").isNotNull)
        .select(col("s_suppkey"))
      val parts = Tables.part(s, dir).filter(col("p_brand") =!= "Brand#45")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      Tables.lineitem(s, dir).select(col("l_partkey"), col("l_suppkey"))
        .filter(col("l_suppkey").isNotNull)
        .distinct()
        .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }

    // ROUND-13 candidate: q17 as ONE shuffle — the per-part average as a
    // window aggregate over the same partkey-partitioned pass instead of
    // aggregate-then-join-back (whose two exchanges cannot be reused:
    // the agg side partial-aggregates BEFORE its exchange, so the two
    // shuffle subplans differ). Same decimal-sum mean → identical rows.
    def q17Window(s: SparkSession, dir: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      val w = Window.partitionBy(col("l_partkey"))
      li.withColumn("avg_qty",
          sum(col("l_quantity").cast(DecimalType(18, 6))).over(w).cast("double")
            / count(lit(1)).over(w))
        .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
        .agg(graft.operators.Parity.decSum(col("l_extendedprice")).as("small_qty_revenue"),
          count(lit(1)).as("n_lines"))
    }

    // ROUND-13 experiment: the same committed shape under a raised
    // autoBroadcastJoinThreshold (single-node deployment tuning — on
    // local[32] a broadcast is one in-JVM copy while a shuffle is disk
    // I/O, so the crossover sits far above the 10 MB cluster default;
    // on a 1000-executor cluster the same 78 MB part broadcast costs
    // 1000 copies and the shuffle wins — which is why the THRESHOLD is
    // the tunable, not a hint baked into the query).
    def withThreshold(bytes: Long)(body: => Double): Double = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val old = spark.conf.get(key)
      spark.conf.set(key, bytes.toString)
      try body finally spark.conf.set(key, old)
    }

    def timed(label: String)(df: => DataFrame): Double = {
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.engine.Scoped.releaseAll(spark)
        dt
      }
      val best = runs.min
      println(f"[relsweep] $label%-24s $best%7.2f s  (runs: ${runs.map(r => f"$r%.2f").mkString(", ")})")
      best
    }

    // interleave committed/alternative so a drifting phase hits both
    val which = sys.env.getOrElse("SPARK_GRAFT_SWEEP", "r13")
    if (which == "r12") {
      timed("q21 rejected") { q21Old(spark, sfDir) }
      timed("q21 committed") { SparkEntry.queries("q21_waiting")(spark, sfDir) }
      timed("q16 committed") { SparkEntry.queries("q16_supplier_cnt")(spark, sfDir) }
      timed("q16 rejected") { q16Bridge(spark, sfDir) }
    } else if (which == "bloom") {
      // Runtime bloom-filter join pruning (InjectRuntimeFilter): OFF by
      // geometry at every SF we run — Spark requires the application-side
      // scan to exceed 10 GB (spark.sql.optimizer.runtime.bloomFilter.
      // applicationSideScanSizeThreshold) and the whole sf100 dir is
      // 9.9 GB. Arms interleave inside ONE session (the VM's noise
      // phases sank a two-session A/B: q17, which has no join at all,
      // "improved" 38% between sessions) and each arm prints whether
      // the executed plan actually carries a bloom_filter, so a null
      // result is attributable: not-injected vs injected-but-useless.
      def withBloom(on: Boolean)(body: => Double): Double = {
        val keys = Seq(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
        val olds = keys.map(spark.conf.get)
        if (on) keys.foreach(k => spark.conf.set(k, "256MB"))
        try body finally keys.zip(olds).foreach { case (k, v) => spark.conf.set(k, v) }
      }
      def hasBloom(name: String): Boolean = {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.queryExecution.executedPlan.toString.contains("bloom_filter")
      }
      for (q <- Seq("q16_supplier_cnt", "q21_waiting", "q9_profit")) {
        withBloom(true) { println(s"[relsweep] $q bloom injected: ${hasBloom(q)}"); 0.0 }
        // timed is itself min-of-2; one timed per arm, arms adjacent so
        // a drifting noise phase hits both
        withBloom(false)(timed(s"$q default") { SparkEntry.queries(q)(spark, sfDir) })
        withBloom(true)(timed(s"$q bloom") { SparkEntry.queries(q)(spark, sfDir) })
      }
    } else if (which == "q17") {
      // fourth-decade check before swapping implementations: the window
      // form's per-partition sort is the risk term at 600 M rows
      timed("q17 committed") { SparkEntry.queries("q17_small_qty")(spark, sfDir) }
      timed("q17 window") { q17Window(spark, sfDir) }
      timed("q17 committed2") { SparkEntry.queries("q17_small_qty")(spark, sfDir) }
      timed("q17 window2") { q17Window(spark, sfDir) }
    } else {
      val m96 = 96L * 1024 * 1024
      timed("q17 committed") { SparkEntry.queries("q17_small_qty")(spark, sfDir) }
      timed("q17 window") { q17Window(spark, sfDir) }
      timed("q16 committed") { SparkEntry.queries("q16_supplier_cnt")(spark, sfDir) }
      withThreshold(m96)(timed("q16 bcast96M") { SparkEntry.queries("q16_supplier_cnt")(spark, sfDir) })
      timed("q9 committed") { SparkEntry.queries("q9_profit")(spark, sfDir) }
      withThreshold(m96)(timed("q9 bcast96M") { SparkEntry.queries("q9_profit")(spark, sfDir) })
      timed("q17 committed2") { SparkEntry.queries("q17_small_qty")(spark, sfDir) }
      timed("q17 window2") { q17Window(spark, sfDir) }
    }
    spark.stop()
  }
}
