package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.{AnnIndex, Similarity}

/** Dev-only recall audit for the HIERARCHICAL assignment pass (round-12
  * verdict item 3 follow-up, NOTES open candidate): above
  * [[graft.functions.AnnIndex.HierAssignMinCells]] the auto-IVF store
  * assigns vectors via [[graft.functions.Similarity.assignCellsHier]]'s
  * restricted branch probe instead of the flat exact argmax — a vector
  * whose true nearest centroid lies outside its probed branches lands on
  * the best PROBED centroid, which can move it out of the cell a query's
  * nprobe would have scanned. The gate spec pins exhaustive-probe ≡ flat
  * and totality; what it cannot pin is the END-TO-END recall cost at a
  * geometry where the restriction is actually active (sf10: 447 cells,
  * 22 branches, probe 8 → 36% of centroid space scored per vector).
  *
  * This main measures exactly that, holding everything else fixed: ONE
  * centroid table (read from the staged sf10 auto store), TWO
  * assignments (flat exact vs hierarchical), the SAME
  * [[Similarity.ivfSearchAssigned]] probe over each, both scored against
  * the brute-force ground truth by
  * [[AnnIndex.annRecallReportFor]]'s |queries|·k denominator. Also
  * prints the raw assignment agreement rate (fraction of vectors whose
  * hier cell equals their flat cell) — the upstream quantity the recall
  * delta is downstream of.
  *
  * Usage: SPARK_GRAFT_SF_DIR=data/sf10 sbt "runMain graft.AnnAssignSweep"
  */
object AnnAssignSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/data/sf10")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
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
    val n = emb.count()
    val cells = Similarity.ivfCellsFor(n)
    val branches = Similarity.hierBranchesFor(cells)
    val nprobe = Similarity.ivfNprobeFor(cells)
    println(s"[assign] corpus: $n vectors at $sfDir — cells=$cells branches=$branches " +
      s"branchProbe=${AnnIndex.HierBranchProbe} nprobe=$nprobe " +
      s"(hier active: ${cells >= AnnIndex.HierAssignMinCells})")

    // ONE centroid table for both arms: the staged store's (stageAuto is
    // a no-op when the marker is present — the arms differ ONLY in the
    // assignment pass)
    val (storePath, _) = AnnIndex.stageAuto(spark, sfDir)
    val cent = graft.engine.Tables.parquet(spark, s"$storePath/ivf_centroids").persist()
    println(s"[assign] centroids from $storePath (${cent.count()} rows)")

    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[assign] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }
    val flat = timed("flat assignCells (n x cells)") {
      val a = Similarity.assignCells(emb, cent, "vec_id", "embedding").persist()
      a.count(); a
    }
    val hier = timed(s"hier assignCellsHier (n x ~${branches * (1 + AnnIndex.HierBranchProbe)})") {
      val a = Similarity.assignCellsHier(emb, cent, "vec_id", "embedding",
        branches, AnnIndex.HierBranchProbe).persist()
      a.count(); a
    }

    val agree = flat.select(col("vec_id"), col("cell").as("fc"))
      .join(hier.select(col("vec_id"), col("cell").as("hc")), Seq("vec_id"))
      .agg(count(lit(1)).as("n"), sum(when(col("fc") === col("hc"), 1L).otherwise(0L)).as("same"))
      .collect()(0)
    val (total, same) = (agree.getLong(0), agree.getLong(1))
    println(f"[assign] cell agreement: $same/$total = ${same.toDouble / total}%.4f")

    // identical probe over each assignment, scored against brute truth
    for (nq <- Seq(64L, 256L)) {
      val pred = col("vec_id") < nq
      val queries = emb.filter(pred)
      val report = AnnIndex.annRecallReportFor(spark, sfDir, pred, 5, Seq(
        "flat_assign" -> Similarity.ivfSearchAssigned(flat, queries, cent,
          "vec_id", "embedding", 5, nprobe),
        "hier_assign" -> Similarity.ivfSearchAssigned(hier, queries, cent,
          "vec_id", "embedding", 5, nprobe)))
      println(s"[assign] recall@5, $nq queries, nprobe=$nprobe:")
      report.orderBy(col("method")).collect().foreach { r =>
        println(f"[assign]   ${r.getString(0)}%-12s n_retrieved=${r.getLong(2)}%6d " +
          f"n_hits=${r.getLong(3)}%6d recall=${r.getDouble(4)}%.4f")
      }
    }
    spark.stop()
  }
}
