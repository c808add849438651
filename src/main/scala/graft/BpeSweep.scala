package graft

import org.apache.spark.sql.SparkSession

/** Dev-only driver-bottleneck measurement for BPE training (round-10
  * verdict item 6): the sequential trainer pays one driver round-trip
  * (1-row collect) plus a persist/materialize cycle PER MERGE, so its
  * wall time is linear in `merges` with a per-round constant that a
  * production merge count (10k–100k) multiplies into hours of pure
  * driver serialization. The batched trainer
  * ([[graft.functions.TextAnalysis.bpeTrainBatched]]) adopts up to
  * `batch` compatible merges per round-trip. This main times both at a
  * production-ish merge count and prints seconds-per-merge — the
  * number BASELINE.md records.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BpeSweep [merges]"
  */
object BpeSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val merges = if (args.length > 0) args(0).toInt else 64
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.engine.SessionConfs.All)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.engine.Tables.documents(spark, sfDir)
    println(s"[bpe] corpus: ${docs.count()} docs at $sfDir, merges=$merges")

    def timed(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val adopted = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[bpe] $label%-22s $secs%7.1f s  ($adopted adopted, ${secs / adopted}%.3f s/merge)")
      spark.catalog.clearCache()
    }
    // batch sweep first (cheap), sequential last (the slow baseline)
    for (b <- Seq(64, 16, 4))
      timed(s"batched(batch=$b)") {
        graft.functions.TextAnalysis.bpeTrainBatched(docs, "text", merges, b).count()
      }
    timed("sequential") {
      graft.functions.TextAnalysis.bpeTrain(docs, "text", merges).count()
    }
    spark.stop()
  }
}
