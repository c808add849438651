package graft

import org.apache.spark.sql.SparkSession

/** Dev-only parameter sweep for the n-gram Jaccard shingle sampling
  * (NOTES.md open thread 1): times `Dedup.ngramJaccardPairs` across
  * (width, stride) settings at one scale factor and prints a table.
  * The registered `dedup_ngram` runs at (8, Dedup.NgramStride=6) — the
  * registration, the Scala default, and ngramJaccardSql all read that
  * one constant; this main only measures what the alternatives would buy.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.NgramSweep
  */
object NgramSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
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
    docs.count() // warm the scan

    println(f"${"width"}%6s ${"stride"}%7s ${"secs(min of 2)"}%15s ${"pairs"}%8s")
    for ((w, s) <- Seq((8, 4), (8, 2), (8, 6), (10, 4), (12, 4))) {
      var best = Double.MaxValue
      var pairs = 0L
      for (_ <- 1 to 2) {
        val t0 = System.nanoTime()
        pairs = graft.functions.Dedup
          .ngramJaccardPairs(docs, "doc_id", "text", width = w, stride = s)
          .count()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        spark.catalog.clearCache()
      }
      println(f"$w%6d $s%7d $best%15.2f $pairs%8d")
    }
    spark.stop()
  }
}
