package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.streaming.{Generators, StreamingOps}

/** Runnable end-to-end streaming demos — the developer-experience twin of
  * the reference's runnable mains (reference: Triggers.scala:48-50 runs
  * generator → windowed trigger → print; TimeBasedTransformations.scala
  * and Shopping.scala expose the same loop for their demos). Everything
  * here wires a LIVE rate-source generator port
  * ([[graft.streaming.Generators]]) through a registered streaming
  * operator to a console (or file) sink, runs for a bounded wall-clock
  * budget, and stops cleanly — so the same entry point serves as a
  * smoke-runnable demo and a CI-safe end-to-end check.
  *
  * Usage: runMain graft.Demo [mode] [seconds]
  *   mode ∈ tumbling (default) | countTrigger | purgingTrigger | file
  *
  * The demos intentionally run at a few events/second like the
  * reference's generators — they demonstrate the wiring, not throughput
  * (the batch twins of every operator carry the scale story).
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val mode = if (args.length > 0) args(0) else "tumbling"
    val seconds = if (args.length > 1) args(1).toInt else 15
    val spark = graft.engine.GraftSession.local(4, s"graft-demo-$mode")
    val q = start(spark, mode)
    q.awaitTermination(seconds * 1000L)
    q.stop()
    spark.stop()
  }

  /** Builds and starts the named demo query; shared by main and the
    * StreamingSpec smoke test (which asserts a batch makes progress and
    * stops it early).
    */
  def start(spark: SparkSession, mode: String,
            fileDir: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    mode match {
      case "tumbling" =>
        // generator → 5 s event-time tumbling counts → console, the
        // reference's TimeBasedTransformations demo loop
        val counts = StreamingOps.tumblingCounts(
          Generators.shoppingCartEvents(spark, 5).toDF().withColumnRenamed("time", "ts"),
          "ts", "2 seconds", "5 seconds")
        counts.writeStream
          .outputMode(OutputMode.Update())
          .format("console")
          .option("truncate", "false")
          .trigger(Trigger.ProcessingTime("2 seconds"))
          .start()
      case "countTrigger" | "purgingTrigger" =>
        // generator → CountTrigger(5) fires → console (Triggers.scala:
        // 19-41); purging variant resets the count at each fire
        val fires = StreamingOps.countTrigger(
          Generators.shoppingCartEvents(spark, 5), 5, purging = mode == "purgingTrigger")
        fires.toDF().writeStream
          .outputMode(OutputMode.Append())
          .format("console")
          .option("truncate", "false")
          .trigger(Trigger.ProcessingTime("2 seconds"))
          .start()
      case "file" =>
        // generator → row-format streaming file sink (DataStreams.scala:
        // 57-62's StreamingFileSink demo, parquet-backed here)
        val dir = fileDir.getOrElse(
          java.nio.file.Files.createTempDirectory("graft_demo").toString)
        Generators.catalogEvents(spark, 5).toDF()
          .writeStream
          .format("parquet")
          .option("path", s"$dir/out")
          .option("checkpointLocation", s"$dir/ckpt")
          .trigger(Trigger.ProcessingTime("2 seconds"))
          .start()
      case other => sys.error(
        s"unknown demo mode '$other' (known: tumbling, countTrigger, purgingTrigger, file)")
    }
  }
}
