package graft

/** One-time fixture writer: materializes the deterministic synthetic media
  * table ([[graft.multimodal.Multimodal.syntheticMedia]], 300 rows) as a
  * single parquet file at [[graft.multimodal.Multimodal.MediaFixturePath]],
  * committed to the repo. This turns `multimodal_features` from rows-only
  * into a DuckDB-hash-checked query: the decode pipeline stays Spark-side,
  * but its per-type counts/byte-sums/payload-digests are recomputed by the
  * oracle directly from the same parquet.
  *
  * Usage: sbt "runMain graft.MediaFixture"   (re-run only if the synthetic
  * generator changes; the output is deterministic, so the file is stable.)
  */
object MediaFixture {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.GraftSession.local(4, "graft-media-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    graft.multimodal.Multimodal.syntheticMedia(spark, 300)
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(graft.multimodal.Multimodal.MediaFixturePath)
    println(s"[media-fixture] wrote ${graft.multimodal.Multimodal.MediaFixturePath}")
    spark.stop()
  }
}
