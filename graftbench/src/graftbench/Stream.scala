package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.StreamingOps

/** One generated event: `key` is skewed, `ts` its event time. */
final case class Ev(key: String, ts: java.sql.Timestamp)

/** Event sequence shared by the open-loop generator and the drain backlogs.
  * Event `i` of a sequence has event time `baseUs + i * spacing`; keys
  * follow a Zipf law over `Stream.Keys` keys. Everything drawn depends on
  * the seed and the index only, never on timing.
  */
final class EventSeq(seed: Long, val baseUs: Long) {
  private val rnd = new java.util.SplittableRandom(seed)

  /** (key index, late draw in [0, 1)) of the next event. */
  def next(): (Int, Double) = (Stream.zipfKey(rnd.nextDouble()), rnd.nextDouble())
  def tsUs(i: Long): Long = baseUs + i * Stream.SpacingUs
}

/** The stream workload: `StreamingOps.keyedTumblingCounts` in append mode
  * over an in-process `MemoryStream`.
  *
  * Phase 1 is an open loop: a single generator thread adds the events due
  * at a fixed rate; each event's latency runs from its due time to the
  * emission of its window, and one sample is taken per emitting batch.
  * Phase 2 drains fixed preloaded backlogs, which stresses per-row state
  * cost instead of per-batch fixed cost.
  */
object Stream {
  val Keys = 1000
  val Rate = 2000
  val SpacingUs: Long = 1000000L / Rate
  val WindowMs = 200
  val DelayMs = 200
  val LateShare = 0.02
  val LateUs = 30000000L
  val BacklogEvents = 75000
  val Drains = 11
  val TickMs = 5
  private val BaseUs = 1704067200000000L // 2024-01-01T00:00:00Z, window aligned
  private val WarmMinBatches = 10
  private val MinSamples = 40
  private val WarmMaxMs = 12000L

  private val zipfCdf: Array[Double] = {
    val w = (1 to Keys).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def zipfKey(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(Keys - 1, if (i >= 0) i else -i - 1)
  }
  def keyName(k: Int): String = f"k$k%04d"
  def windowOf(tsUs: Long): Long = Math.floorDiv(tsUs - BaseUs, WindowMs * 1000L)

  /** The output check's data: per (key, window), what the generator and
    * the backlogs added and what the sink emitted. Released once checked,
    * so the retained heap measures the engine's state and not the check's.
    */
  private final class Tally {
    private var added = mutable.HashMap.empty[(Int, Long), Long]
    private var emitted = mutable.HashMap.empty[(Int, Long), Long]
    var late = 0L
    def add(k: Int, tsUs: Long): Unit = synchronized {
      val key = (k, windowOf(tsUs))
      added(key) = added.getOrElse(key, 0L) + 1
    }
    def emit(k: Int, w: Long, n: Long): Unit = synchronized {
      emitted((k, w)) = emitted.getOrElse((k, w), 0L) + n
    }
    def windows: Int = synchronized(added.size)
    /** (key, window) counts the sink emitted that differ from those added. */
    def wrong: Int = synchronized((added.keySet ++ emitted.keySet).count(k => added.get(k) != emitted.get(k)))
    def release(): Unit = synchronized { added = null; emitted = null }
  }

  /** Open-loop generator: every tick adds all events due by now. Late
    * events (a `LateShare` of them once `lateOn`) carry an event time
    * `LateUs` behind, far below any watermark, so the engine drops them.
    */
  private final class Generator(ms: MemoryStream[Ev], seq: EventSeq, tally: Tally) extends Thread {
    setDaemon(true)
    @volatile var running = true
    @volatile var lateOn = false
    @volatile var next = 0L
    val startMs: Long = System.currentTimeMillis()
    private val startNs = System.nanoTime()
    /** Due wall-clock ms of the last on-time event of each window. */
    val lastDue = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    /** (wall ms of tick, ms the tick's oldest event was overdue) */
    val lateness = mutable.ArrayBuffer.empty[(Long, Double)]

    def dueMs(i: Long): Double = startMs + i * SpacingUs / 1000.0

    override def run(): Unit = while (running) {
      val due = (System.nanoTime() - startNs) / (SpacingUs * 1000L)
      if (due > next) {
        val evs = new mutable.ArrayBuffer[Ev]((due - next).toInt)
        var i = next
        while (i < due) {
          val (k, u) = seq.next()
          val ts = seq.tsUs(i)
          if (lateOn && u < LateShare) {
            evs += Ev(keyName(k), micros(ts - LateUs))
            tally.synchronized(tally.late += 1)
          } else {
            evs += Ev(keyName(k), micros(ts))
            tally.add(k, ts)
            lastDue.put(windowOf(ts), math.round(dueMs(i)))
          }
          i += 1
        }
        ms.addData(evs.toSeq)
        lateness.synchronized(lateness += ((System.currentTimeMillis(), System.currentTimeMillis() - dueMs(next))))
        next = due
      }
      Thread.sleep(TickMs)
    }
  }

  private def micros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private final class ProgressLog extends StreamingQueryListener {
    val all = mutable.ArrayBuffer.empty[(Long, StreamingQueryProgress)]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized(all += ((System.currentTimeMillis(), e.progress)))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def run(r: Run): Map[String, Any] = {
    val spark = r.spark
    val sc = spark.sparkContext
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val jobs = if (r.traced) Some(new JobListener) else None
    val progress = if (r.traced) Some(new ProgressLog) else None
    jobs.foreach(sc.addSparkListener)
    progress.foreach(spark.streams.addListener)

    // one state partition per core: a low-rate stream on a small host
    spark.conf.set("spark.sql.shuffle.partitions", sc.defaultParallelism.toString)
    val tally = new Tally
    val latencies = mutable.ArrayBuffer.empty[Double]
    @volatile var sampleFrom = Long.MaxValue
    @volatile var sampleTo = Long.MaxValue
    // input split one partition per core, however many ticks a batch spans
    val ms = MemoryStream[Ev](spark, sc.defaultParallelism)
    val gen = new Generator(ms, new EventSeq(r.seed, BaseUs), tally)

    val sink: (DataFrame, Long) => Unit = (df, _) => {
      val rows = df.collect()
      val now = System.currentTimeMillis()
      latencies.synchronized {
        val fresh = rows.map { row =>
          val k = row.getString(0).drop(1).toInt
          val tsUs = row.getTimestamp(1).getTime * 1000L + row.getTimestamp(1).getNanos / 1000 % 1000
          val w = windowOf(tsUs)
          tally.emit(k, w, row.getLong(2))
          Option(gen.lastDue.get(w)).map(_.longValue).getOrElse(Long.MinValue)
        }
        if (fresh.nonEmpty && fresh.max >= sampleFrom && fresh.max < sampleTo)
          latencies += (now - fresh.max).toDouble
      }
    }
    val c0 = System.nanoTime()
    val counts = JobListener.tagged(sc, "construct") {
      StreamingOps.keyedTumblingCounts(ms.toDF(), "key", "ts", s"$DelayMs milliseconds",
        s"$WindowMs milliseconds")
    }
    val c1 = System.nanoTime()
    r.spans.add("construct", "stream", c0, c1)
    val query: StreamingQuery = JobListener.tagged(sc, "stream") {
      counts.writeStream.outputMode("append")
        .option("checkpointLocation", r.work.resolve("checkpoint").toString)
        .foreachBatch(sink)
        .start()
    }
    gen.start()

    // warm-up until batch durations flatten out
    val warmStart = System.currentTimeMillis()
    def durations: Seq[Long] = query.recentProgress.toSeq.filter(_.numInputRows > 0).map(_.batchDuration)
    while ({
      val d = durations
      val flat = d.size >= WarmMinBatches && {
        val last = d.takeRight(3)
        last.max <= 1.25 * last.min
      }
      !flat && System.currentTimeMillis() - warmStart < WarmMaxMs
    }) Thread.sleep(50)
    val warmBatches = query.recentProgress.length
    gen.lateOn = true
    val readyMs = System.currentTimeMillis()
    sampleFrom = readyMs
    r.spans.add("setup", "setup", r.startNs, System.nanoTime())

    // phase 1: open loop for the run's seconds, and on until enough batches
    // have emitted
    def openMs = System.currentTimeMillis() - readyMs
    while (openMs < r.seconds * 1000 ||
      (latencies.synchronized(latencies.size) < MinSamples && openMs < 3 * r.seconds * 1000))
      Thread.sleep(50)
    val openEndMs = System.currentTimeMillis()
    sampleTo = openEndMs
    gen.running = false
    gen.join()
    query.processAllAvailable()
    val generated = gen.next

    // phase 2: drain one fixed backlog several times, each copy shifted to
    // event times far past everything before it
    val calib = mutable.ArrayBuffer.empty[Double]
    val drains = (0 to Drains).map { d =>
      val seq = new EventSeq(r.seed * 31 + 1, BaseUs + (d + 1) * 10000L * 1000000L)
      val evs = (0 until BacklogEvents).map { i =>
        val (k, _) = seq.next()
        tally.add(k, seq.tsUs(i))
        Ev(keyName(k), micros(seq.tsUs(i)))
      }
      val before = query.lastProgress.batchId
      val t0 = System.nanoTime()
      ms.addData(evs)
      query.processAllAvailable()
      val t1 = System.nanoTime()
      val quiet = awaitIdle(query, before)
        .getOrElse(sys.error(s"drain $d: no batch applied the new watermark"))
      // the engine's own time on the batches that read the backlog and on
      // the no-data batch that evicts and emits its windows; it leaves out
      // the memory source encoding the backlog on the caller's thread
      val batches = query.recentProgress.filter(p => p.batchId > before && p.batchId <= quiet.batchId)
      val engineMs = batches.map(_.durationMs.get("triggerExecution").doubleValue).sum
      require(batches.map(_.numInputRows).sum == BacklogEvents, s"drain $d read a partial backlog")
      r.spans.add("stream.drain", s"drain#$d", t0, t1,
        attrs = Map("events" -> BacklogEvents.toDouble, "engine_ms" -> engineMs))
      calib += Calib.runMs()
      (engineMs, quiet)
    }.tail // the first drain warms the large-batch code paths

    // close every window: one event far in the future moves the watermark
    val lastBatch = query.lastProgress.batchId
    ms.addData(Seq(Ev(keyName(0), micros(BaseUs + 1000000L * 1000000L))))
    query.processAllAvailable()
    awaitIdle(query, lastBatch)
    query.stop()

    val wrong = tally.wrong
    if (wrong > 0) System.err.println(s"[graftbench] stream: $wrong (key, window) counts differ " +
      s"from the generator's tallies")
    val stateRows = drains.map(_._2.stateOperators.head.numRowsTotal.toDouble)
    System.err.println(s"[graftbench] stream: state rows after each drain: ${stateRows.mkString(", ")}")

    val e2e = Map[String, Any](
      "ready_epoch_ms" -> readyMs,
      "latency_p50_ms" -> Stats.quantile(latencies.toSeq, 0.5),
      "latency_p75_ms" -> Stats.quantile(latencies.toSeq, 0.75),
      // over all drains: one drain of the same backlog takes 0.8-1.15 s, so
      // the total is steadier than any one of them
      "throughput_per_s" -> Drains * BacklogEvents / (drains.map(_._1).sum / 1000),
      "samples" -> latencies.size,
      "drain_ms" -> drains.map(_._1),
      "calib_ms" -> calib.toSeq,
      "warmup_rounds" -> warmBatches,
      "generated_events" -> generated,
      "attempted" -> tally.windows,
      "failed" -> wrong)
    val layers = if (!r.traced) Map.empty[String, Any] else {
      val ps = progress.get.synchronized(progress.get.all.toSeq)
      val measured = ps.filter { case (_, p) =>
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli
        t >= readyMs && t < openEndMs && p.numInputRows > 0
      }.map(_._2)
      def dur(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      def med(f: StreamingQueryProgress => Double): Double = Stats.median(measured.map(f))
      ps.foreach { case (_, p) =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val state = p.stateOperators.head
        r.spans.addEpoch("stream.batch", s"batch#${p.batchId}", start, start + p.batchDuration,
          Map("rows" -> p.numInputRows.toDouble, "planning_ms" -> dur(p, "queryPlanning"),
            "add_batch_ms" -> dur(p, "addBatch"), "wal_commit_ms" -> dur(p, "walCommit"),
            "state_commit_ms" -> state.commitTimeMs.toDouble, "state_rows" -> state.numRowsTotal.toDouble))
      }
      val w = jobs.get.take(sc, "stream")
      val c = jobs.get.take(sc, "construct")
      val batches = ps.size
      val lag = measured.map { p =>
        val wall = java.time.Instant.parse(p.timestamp).toEpochMilli
        val eventNow = BaseUs / 1000 + (wall - gen.startMs)
        eventNow - java.time.Instant.parse(p.eventTime.get("watermark")).toEpochMilli.toDouble
      }
      val late = gen.lateness.filter { case (t, _) => t >= readyMs }.map(_._2).toSeq
      Map(
        "engine.session_ms" -> r.sessionNs / 1e6,
        "stream.batches" -> measured.size.toDouble,
        "stream.tasks_per_batch" -> w.tasks.toDouble / math.max(1, batches),
        "stream.planning_ms" -> med(dur(_, "queryPlanning")),
        "stream.add_batch_ms" -> med(dur(_, "addBatch")),
        "stream.wal_commit_ms" -> med(dur(_, "walCommit")),
        "stream.state_commit_ms" -> med(_.stateOperators.head.commitTimeMs.toDouble),
        "stream.state_rows" -> stateRows.last,
        "stream.state_mem_bytes" -> drains.last._2.stateOperators.head.memoryUsedBytes.toDouble,
        "stream.watermark_lag_ms" -> Stats.median(lag),
        "stream.dropped_by_watermark" -> ps.map(_._2.stateOperators.head.numRowsDroppedByWatermark).sum
          .toDouble,
        // a memory-stream batch takes every event waiting when it starts
        "stream.backlog_events" -> med(_.numInputRows.toDouble),
        "stream.generator_late_ms" -> Stats.quantile(late, 0.99),
        "exec.jobs" -> w.jobs.toDouble / math.max(1, batches),
        "exec.tasks" -> w.tasks.toDouble / math.max(1, batches),
        "exec.cpu_ms" -> w.cpuNs / 1e6 / math.max(1, batches),
        "exec.run_ms" -> w.runMs.toDouble / math.max(1, batches),
        "exec.gc_ms" -> w.gcMs.toDouble / math.max(1, batches),
        "exec.shuffle_read_bytes" -> w.shuffleRead.toDouble / math.max(1, batches),
        "exec.shuffle_write_bytes" -> w.shuffleWrite.toDouble / math.max(1, batches),
        "exec.fetch_wait_ms" -> w.fetchWaitMs.toDouble / math.max(1, batches),
        "exec.spill_bytes" -> w.spillBytes.toDouble / math.max(1, batches),
        "exec.max_task_ms" -> w.maxTaskMs.toDouble,
        "construct.ms" -> (c1 - c0) / 1e6,
        "construct.jobs" -> c.jobs.toDouble,
        "host.calib_ms" -> Stats.median(calib.toSeq),
        "counts" -> Map("stream.state_rows" -> stateRows.last),
        "counts_exact" -> (stateRows.distinct.size == 1))
    }
    tally.release()
    e2e ++ layers ++ Map("retained_heap_mb" -> Main.retainedHeapMb())
  }

  /** Waits for the first batch after `after` that read no input — the
    * no-data batch that applies the new watermark — and returns it.
    */
  private def awaitIdle(q: StreamingQuery, after: Long): Option[StreamingQueryProgress] = {
    val deadline = System.currentTimeMillis() + 20000
    var found: Option[StreamingQueryProgress] = None
    while (found.isEmpty && System.currentTimeMillis() < deadline) {
      found = q.recentProgress.find(p => p.batchId > after && p.numInputRows == 0)
      if (found.isEmpty) Thread.sleep(20)
    }
    found
  }
}
