package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.functions.{AnnIndex, SigIndex}
import graft.streaming.StreamingOps

/** Dev-only fourth-decade evidence for the STREAMING ingest paths
  * (verdict r13 item 7): dedupIncrementalStream and ivfAssignStream had
  * sf10 evidence only. This main drives a bounded-budget ingest — three
  * fixed-size micro-batches (1 000 docs / 5 000 vectors each, the same
  * batch size at every sf) — against the STORED sf-dir indexes and
  * reports per-batch trigger milliseconds from the engine's own
  * progress events. Run at sf10 and sf100: if per-batch cost is flat
  * while the base store grows 10×, the stream-static join is reading
  * the store like an index, not like a table scan.
  *
  * Usage: SPARK_GRAFT_SF_DIR=data/sf100 sbt "runMain graft.IngestScaleBench"
  */
object IngestScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/data/sf10")
    // shared runner builder — see graft.engine.RunnerSession
    val spark = graft.engine.RunnerSession.build(sfDir, "32", logLevel = "ERROR")
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // VERDICT r16 item 7: the "flat ACROSS batches" claim rested on 3
    // points; SPARK_GRAFT_INGEST_BATCHES=20 runs the steady-state series
    // (same fixed batch size — the corpus has depth for 20×1000 docs /
    // 20×5000 vectors at sf10+). Flat means: no state growth, no store
    // re-stage, later batches within the noise band of early ones.
    val nBatches = sys.env.getOrElse("SPARK_GRAFT_INGEST_BATCHES", "3").toInt
    require(nBatches >= 1 && nBatches <= 100, s"batches out of range: $nBatches")

    def perBatch(label: String)(feed: Int => Unit, procAll: () => Unit,
                                lastMs: () => Long, batches: Int): Unit = {
      val times = (1 to batches).map { i =>
        feed(i); procAll(); lastMs()
      }
      // -1 marks "no progress event yet" (see lastMs guards below)
      println(s"[ingest-scale] $sfDir $label per-batch ms: ${times.mkString(", ")}")
    }

    // ---- near-dup ingest gate against the stored signature index ----
    // (a bucketed band index measured no gain over the flat one three
    // times: BASELINE.md, rounds 15, 17 and 19)
    {
      val base = SigIndex.stageOnce(spark, sfDir)
      val corpusSigs = graft.engine.Tables.parquet(spark, s"$base/minhash_sigs")
      val bands = graft.engine.Tables.parquet(spark, s"$base/band_index")
      val nDocs = bands.select(col("doc_id")).distinct().count()
      val batchDocs = graft.engine.Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text")).limit(nBatches * 1000).collect()
        .map(r => StreamingOps.TimedDoc(r.getLong(0), r.getString(1),
          java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T12:00:00Z"))))
        .grouped(1000).toIndexedSeq
      val input = MemoryStream[StreamingOps.TimedDoc]
      val q = StreamingOps.dedupIncrementalStream(
          input.toDF(), "doc_id", "text", "ts", "10 seconds", corpusSigs, bands,
          servedTtl = None)
        .writeStream.format("memory").queryName("ingest_dedup")
        .outputMode("append").start()
      try perBatch(s"dedup_incremental (store=$nDocs docs)")(
        i => { input.addData(batchDocs(i - 1).toSeq); () },
        () => q.processAllAvailable(),
        () => Option(q.lastProgress)
          .flatMap(pr => Option(pr.durationMs.get("triggerExecution")))
          .map(_.longValue).getOrElse(-1L), batchDocs.size)
      finally q.stop()
      graft.engine.Scoped.releaseAll(spark)
    }

    // ---- ANN ingest (cell assignment) against the stored centroids ----
    {
      val (base, cells) = AnnIndex.stageAuto(spark, sfDir)
      val centStored = graft.engine.Tables.parquet(spark, s"$base/ivf_centroids")
      val batchVecs = graft.engine.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")).limit(nBatches * 5000).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .grouped(5000).toIndexedSeq
      val input = MemoryStream[(Long, Seq[Float])]
      val q = StreamingOps.ivfAssignStream(input.toDF().toDF("vec_id", "embedding"), centStored)
        .writeStream.format("noop").queryName("ingest_cells").outputMode("append").start()
      try perBatch(s"ivf_assign (cells=$cells)")(
        i => { input.addData(batchVecs(i - 1).toSeq); () },
        () => q.processAllAvailable(),
        () => Option(q.lastProgress)
          .flatMap(pr => Option(pr.durationMs.get("triggerExecution")))
          .map(_.longValue).getOrElse(-1L), batchVecs.size)
      finally q.stop()
      graft.engine.Scoped.releaseAll(spark)
    }
    spark.stop()
  }
}
