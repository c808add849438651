package graft

import org.apache.spark.sql.SparkSession

/** Dev-only same-session conf A/B (verdict r13 item 6): at sf100 the
  * q9/q16 star joins fall off the broadcast cliff onto SortMergeJoin.
  * With no downstream consumer of the join's sort order, a shuffled
  * hash join skips SMJ's 600 M-row sort — IF the build sides fit
  * per-task memory. `spark.sql.join.preferSortMergeJoin=false` flips
  * Spark's preference; this main interleaves true/false per query in
  * ONE session (the conf is runtime-settable), min-of-2 each, so
  * co-tenant phase noise cancels — the same protocol as the bloom and
  * threshold A/Bs recorded in BASELINE.md.
  *
  * Usage: SPARK_GRAFT_SF_DIR=data/sf100 sbt "runMain graft.ShjSweep"
  *   [optional args: qkeys to test, default q9_profit q16_supplier_cnt]
  */
object ShjSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/data/sf100")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val qkeys = if (args.nonEmpty) args.toSeq else Seq("q9_profit", "q16_supplier_cnt")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        operators.Scale.shufflePartitionsFor(operators.Scale.dirBytes(sfDir)))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.engine.SessionConfs.All)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // warm the scans once
    for (t <- Seq("lineitem", "orders", "part", "supplier", "nation")) {
      try graft.engine.Tables(spark, sfDir, t).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }

    val times = collection.mutable.Map.empty[(String, Boolean), List[Double]].withDefaultValue(Nil)
    for (round <- 1 to 2; q <- qkeys; preferSmj <- Seq(true, false)) {
      spark.conf.set("spark.sql.join.preferSortMergeJoin", preferSmj.toString)
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      graft.engine.Scoped.releaseAll(spark)
      times((q, preferSmj)) = t :: times((q, preferSmj))
      println(f"[shj-sweep] round $round $q%-18s preferSMJ=$preferSmj%-5s $t%8.1f s")
    }
    for (((q, p), ts) <- times.toSeq.sortBy(x => (x._1._1, !x._1._2)))
      println(f"[shj-sweep] MIN $q%-18s preferSMJ=$p%-5s ${ts.min}%8.1f s  " +
        s"(runs: ${ts.reverse.map(t => f"$t%.1f").mkString(", ")})")
    // mechanism check: dump the join strategies each conf actually picks
    for (q <- qkeys; preferSmj <- Seq(true, false)) {
      spark.conf.set("spark.sql.join.preferSortMergeJoin", preferSmj.toString)
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString
      def cnt(m: String) = m.r.findAllMatchIn(plan).size
      println(s"[shj-sweep] PLAN $q preferSMJ=$preferSmj: " +
        s"SMJ=${cnt("SortMergeJoin")} SHJ=${cnt("ShuffledHashJoin")} BHJ=${cnt("BroadcastHashJoin")}")
    }
    spark.stop()
  }
}
