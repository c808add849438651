package graftbench

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload in one process and writes
  * `result.json` (plus `spans.jsonl` when traced) into the work directory.
  * `graftbench/run.py` builds this, prepares the inputs, checks the outputs
  * and prints the metrics.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, workDir) = args
    val work = java.nio.file.Paths.get(workDir)
    val spans = new Spans(trace == "1")
    val t0 = System.nanoTime()
    val spark = graft.engine.RunnerSession.build(dataDir)
    val t1 = System.nanoTime()
    spans.add("engine.session", "setup", t0, t1)
    val run = Run(spark, dataDir, work, seed.toLong, seconds.toDouble, spans, t0, t1 - t0)
    val metrics = workload match {
      case "essentials" => Batch.run(run)
      case "stream" => Stream.run(run)
      case other => sys.error(s"unknown workload '$other'")
    }
    spans.write(work.resolve("spans.jsonl"))
    java.nio.file.Files.writeString(work.resolve("result.json"), Json.obj(metrics.toSeq.sortBy(_._1)))
    spark.stop()
  }

  /** Heap in use after a full collection, in MB: the least of three
    * collections. The pauses let Spark's context cleaner drop the shuffles
    * and broadcasts an earlier collection released, and the least reading
    * leaves out what background threads allocated in between.
    */
  def retainedHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      val used = heap.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(300)
      used
    }.min
  }
}

/** What every workload receives: `startNs` is when the process began its
  * set-up and `sessionNs` how long the session build took.
  */
final case class Run(spark: SparkSession, dataDir: String, work: java.nio.file.Path,
                     seed: Long, seconds: Double, spans: Spans, startNs: Long, sessionNs: Long) {
  def traced: Boolean = spans.on
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
