package graft

import org.apache.spark.sql.SparkSession

/** Dev-only staged-store BUILD-cost measurement (round-10 verdict item
  * 1): every staged-serve bench number measures the amortized state —
  * the store already on disk — so the one-time staging cost needs its
  * own scaling evidence. This main wipes any existing store for the
  * given corpus dir (the fingerprint directories), then times each
  * stage function cold, then times one representative serve per store
  * warm. Run it at sf1 and sf10 and compare: builds should scale
  * sub-linearly-to-linearly in corpus size, serves ~flat.
  *
  * Usage: SPARK_GRAFT_SF_DIR=data/sf10 sbt "runMain graft.StageBench [family-substring]"
  * The optional argument restricts the run to stores/serves whose label
  * contains it (e.g. `auto` re-measures just the auto-IVF store).
  */
object StageBench {
  def main(args: Array[String]): Unit = {
    val only = args.headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/data/sf1")
    // shared runner builder — see graft.engine.RunnerSession
    val spark = graft.engine.RunnerSession.build(sfDir, "32", logLevel = "ERROR")
    import graft.functions.{AnnIndex, SigIndex, TextAnalysis}
    import org.apache.spark.sql.functions.col

    // wipe this corpus dir's fingerprinted stores so every build is cold
    // (with an `only` filter, wipe just the matching auto/ann/etc dirs)
    graft.engine.Stores.of(spark, sfDir).filter(p => only.forall(p.getName.contains))
      .foreach { p =>
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        println(s"[stage] wiped ${p.getName}")
      }

    val docs = graft.engine.Tables.documents(spark, sfDir)
    val emb = graft.engine.Tables.embeddings(spark, sfDir)
    println(s"[stage] corpus: ${docs.count()} docs, ${emb.count()} vectors at $sfDir")

    def timed(label: String)(f: => Any): Unit = if (only.forall(label.contains)) {
      val t0 = System.nanoTime()
      f
      println(f"[stage] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.1f s")
      graft.engine.Scoped.releaseAll(spark)
    }
    // ---- cold builds (one per store family) ----
    timed("build sig (minhash+bands)") { SigIndex.stageOnce(spark, sfDir) }
    timed("build shingle store") { SigIndex.stageShingles(spark, sfDir) }
    timed("build vlsh bucket store") { SigIndex.stageEmbLsh(spark, sfDir) }
    timed("build bm25 postings") { SigIndex.stageBm25(spark, sfDir) }
    timed("build bpe merges") { SigIndex.stageBpe(spark, sfDir) }
    timed("build cluster map (CC)") { SigIndex.stageClusters(spark, sfDir) }
    timed("build ann (ivf+pq+ivfpq)") { AnnIndex.stageOnce(spark, sfDir) }
    timed("build ann auto (cells=√n)") { AnnIndex.stageAuto(spark, sfDir) }
    timed("build ann incr base+delta") { AnnIndex.appendToIndex(spark, sfDir, AnnIndex.incrNewPred) }
    // ---- warm serves (store on disk; count() forces the full plan) ----
    timed("serve dedup_minhash_staged") { SigIndex.minhashPairsStaged(spark, sfDir).count() }
    timed("serve dedup_qa_staged") { SigIndex.dedupQaReportStaged(spark, sfDir).count() }
    timed("serve dedup_ngram_sampled") { SigIndex.ngramJaccardStagedSampled(spark, sfDir).count() }
    timed("serve dedup_contain_sampled") { SigIndex.ngramContainmentStagedSampled(spark, sfDir).count() }
    timed("serve emb_lsh_auto_staged") { SigIndex.embeddingLshAutoStaged(spark, sfDir).count() }
    timed("serve dedup_clusters_staged") { SigIndex.dedupClustersStaged(spark, sfDir).count() }
    timed("serve dedup_pipeline_staged") { SigIndex.dedupPipelineStaged(spark, sfDir).count() }
    timed("serve bm25_topk_staged") {
      SigIndex.bm25TopKStaged(spark, sfDir, TextAnalysis.Bm25Terms, 5).count()
    }
    timed("serve knn_ivf_staged") {
      AnnIndex.knnIvfStaged(spark, sfDir, col("vec_id") < 8, 5).count()
    }
    timed("serve knn_ivf_auto_staged") {
      AnnIndex.knnIvfAutoStaged(spark, sfDir, col("vec_id") < 8, 5).count()
    }
    timed("serve ivfpq_rerank_staged") {
      AnnIndex.ivfPqKnnRerankStaged(spark, sfDir, col("vec_id") < 8, 5).count()
    }
    timed("serve knn_ivf_staged_incr") {
      AnnIndex.knnIvfStagedIncr(spark, sfDir, AnnIndex.incrNewPred && col("vec_id") < 40, 5).count()
    }
    spark.stop()
  }
}
