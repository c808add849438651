package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Dev-only sweep of sign-LSH band geometry for embedding near-dup
  * (NOTES open thread: the sf1 bench exposed the fixed-geometry cliff).
  *
  * Candidate volume for banding n vectors with `bands` bands of `bits`
  * bits is ≈ bands · n² / 2^(bits+1) on hash-uniform buckets — still
  * Θ(n²), only the constant shrinks. Scaling a corpus 10× therefore
  * needs bits to grow by ~log2(100) ≈ 6.6 to keep candidate volume
  * flat, which costs recall at LOW similarity thresholds (recall per
  * pair = 1-(1-s^bits)^bands, s = 1-θ/π). This main measures the
  * actual trade: per geometry, wall time + emitted pair count at the
  * given SF, plus recall vs the exact O(n²) baseline when `--recall`
  * is passed (only feasible ≤ sf0.1).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.LshGeometrySweep [--recall]
  */
object LshGeometrySweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val withRecall = args.contains("--recall")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.engine.SessionConfs.All)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
    val nVecs = emb.count()

    val exact: Set[(Long, Long)] =
      if (withRecall)
        graft.functions.Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.4)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      else Set.empty

    println(f"${"planes"}%7s ${"bits"}%5s ${"bands"}%6s ${"secs(min of 2)"}%15s ${"pairs"}%10s ${"recall"}%7s   (n=$nVecs)")
    for ((planes, bits) <- Seq((32, 4), (48, 6), (64, 8), (60, 10))) {
      var best = Double.MaxValue
      var pairs = Set.empty[(Long, Long)]
      for (_ <- 1 to 2) {
        val t0 = System.nanoTime()
        pairs = graft.functions.Dedup
          .embeddingLshPairs(emb, "vec_id", "embedding", 0.4, numPlanes = planes, bitsPerBand = bits)
          .select(col("vec_a"), col("vec_b"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        graft.engine.Scoped.releaseAll(spark)
      }
      val recall = if (withRecall && exact.nonEmpty)
        f"${pairs.count(exact.contains).toDouble / exact.size}%.3f" else "-"
      println(f"$planes%7d $bits%5d ${planes / bits}%6d $best%15.2f ${pairs.size}%10d $recall%7s")
    }
    spark.stop()
  }
}
