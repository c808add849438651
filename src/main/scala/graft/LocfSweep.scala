package graft

import org.apache.spark.sql.SparkSession

import graft.engine.Tables
import graft.operators.Extended

/** Dev-only same-session A/B for resample_locf — the heaviest event
  * query at sf100 (113.3 s recorded round 13, the one event-family
  * entry without a bounding lever). Committed lead-range form (one
  * shuffle of the EVENTS; grid generated map-side after the exchange)
  * vs the round-5..13 union-scan form (events + grid both shuffled and
  * window-sorted — 1.15 B tagged rows at sf100). Interleaved min-of-2
  * in ONE session so co-tenant phase noise cancels; both variants are
  * consumed through the noop sink like graft.Bench.
  *
  * Usage: SPARK_GRAFT_SF_DIR=data/sf100 sbt "runMain graft.LocfSweep"
  */
object LocfSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/data/sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
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

    val variants: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "lead_range" -> (() =>
        Extended.resampleLocf(Tables.events(spark, sfDir), "user_id", "ts", "value")),
      "union_scan" -> (() =>
        Extended.resampleLocfUnionScan(Tables.events(spark, sfDir), "user_id", "ts", "value")))

    // warm the scan once so file-index/footer setup is charged to neither
    Tables.events(spark, sfDir).write.format("noop").mode("overwrite").save()

    def timeOnce(fn: () => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn().write.format("noop").mode("overwrite").save()
      graft.engine.Scoped.releaseAll(spark)
      (System.nanoTime() - t0) / 1e9
    }
    // interleave rounds: A B A B → min per variant
    val times = collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    for (round <- 1 to 2; (name, fn) <- variants) {
      val t = timeOnce(fn)
      times(name) = t :: times(name)
      println(f"[locf-sweep] round $round $name%-11s $t%8.1f s")
    }
    for ((name, ts) <- times.toSeq.sortBy(_._1))
      println(f"[locf-sweep] MIN $name%-11s ${ts.min}%8.1f s  (runs: ${ts.reverse.map(t => f"$t%.1f").mkString(", ")})")
    spark.stop()
  }
}
