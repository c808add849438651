package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.engine.{GraftSql, Scoped, Tables}
import graft.functions.SigIndex

/** The closed-loop batch workload: one client runs every key once per pass,
  * in a seed-shuffled order, and times each query from the call into its
  * `QueryDef.build` to the end of its action.
  */
object Batch {

  /** Flink-essentials surface, short TPC-H queries and two light curation
    * keys (a regex kernel and a staged-store serve) on small inputs, so
    * per-query fixed cost (table opens, construction-time jobs, planning,
    * driver gaps) dominates. Many keys of spread-out cost keep the pooled
    * percentiles from jumping between two keys' latencies.
    */
  val Keys: Seq[String] = Seq(
    "filter_eq", "map_double", "flatmap_range", "keyed_reduce_sum", "union_streams",
    "tumbling_count", "keyed_tumbling_count", "sliding_count", "session_count_keyed",
    "count_window_keyed", "topk_per_key", "running_sum", "event_gaps", "window_join",
    "interval_join", "asof_join", "q1_pricing", "q6_forecast", "q3_top_orders", "pii_scrub",
    "dedup_minhash_staged")

  /** Stores the staged serves read, built (written) during set-up. */
  val Stores: Seq[(String, (SparkSession, String) => String)] = Seq(
    "sig_clusters" -> SigIndex.stageClusters)

  private val MinWarmPasses = 5
  private val MaxWarmPasses = 8
  private val MinSamples = 40
  /** Traced passes of a traced run, each paired with an untraced one: a
    * single query varies by 10-25% from pass to pass, so per-key medians
    * need several samples on each side.
    */
  private val MinTracedPasses = 4
  /** How far a key's traced latency may stray from its untraced one. */
  private val ReconcilePct = 5.0

  /** One timed query execution. Plan time is split out only when traced;
    * untraced, planning happens inside the action.
    */
  final case class Sample(key: String, constructNs: Long, planNs: Long, execNs: Long,
                          phases: Map[String, Double], construct: Work, exec: Work,
                          gapMs: Double) {
    def totalMs: Double = (constructNs + planNs + execNs) / 1e6
  }

  /** Query ids shared by the spans of one query execution. */
  private var executions = 0

  def run(r: Run): Map[String, Any] = {
    val spark = r.spark
    val sc = spark.sparkContext
    val defs = SparkEntry.queries
    val rng = new scala.util.Random(r.seed)
    // attached only during the traced passes of a traced run
    val listener = if (r.traced) Some(new JobListener) else None

    // the tables the workload reads, as named by its keys' oracle SQL
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Keys.contains(k) }
    val tables = GraftSql.tableNames.filter(t => oracle.values.exists(s"\\b$t\\b".r.findFirstIn(_).isDefined))

    // first table touch: schema inference plus one full scan of each table
    tables.foreach { t =>
      val t0 = System.nanoTime()
      open(spark, r.dataDir, t).write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      r.spans.add("engine.table_open", "setup", t0, t1)
    }

    // store builds are writes: they land in set-up, the serves in latency
    val stores = Stores.map { case (name, stage) =>
      val t0 = System.nanoTime()
      val p = new org.apache.hadoop.fs.Path(stage(spark, r.dataDir))
      val t1 = System.nanoTime()
      val bytes = p.getFileSystem(sc.hadoopConfiguration).getContentSummary(p).getLength.toDouble
      r.spans.add("engine.store_build", name, t0, t1, attrs = Map("bytes" -> bytes))
      ((t1 - t0) / 1e6, bytes)
    }

    // check pass: every result is written for the oracle comparison
    val out = r.work.resolve("results")
    var attempted = 0
    var failed = 0
    Keys.foreach { k =>
      attempted += 1
      try {
        defs(k)(spark, r.dataDir).write.mode("overwrite").parquet(out.resolve(k).toString)
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[graftbench] $k failed in the check pass: $e")
      }
      Scoped.releaseAll(spark)
    }
    java.nio.file.Files.writeString(r.work.resolve("oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1)))

    def pass(traced: Option[JobListener]): Seq[Sample] = rng.shuffle(Keys).flatMap { k =>
      attempted += 1
      try Some(timeQuery(r, k, defs(k), traced))
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[graftbench] $k failed: $e")
        None
      }
    }
    def passMs(ss: Seq[Sample]): Double = ss.map(_.totalMs).sum

    // warm-up until a pass is no more than 10% faster than the best earlier one
    val warm = mutable.ArrayBuffer.empty[Double]
    while (warm.size < MinWarmPasses ||
      (warm.size < MaxWarmPasses && warm.last < 0.9 * warm.init.min)) {
      warm += passMs(pass(None))
    }
    val readyMs = System.currentTimeMillis()
    r.spans.add("setup", "setup", r.startNs, System.nanoTime())

    // measurement: whole passes until the time is used and enough samples
    // exist. A traced run alternates untraced and traced passes, so the
    // untraced ones are a same-session baseline the trace reconciles with.
    val calib = mutable.ArrayBuffer.empty[Double]
    val tableWork = mutable.ArrayBuffer.empty[(Double, Work)]
    val plainPasses = mutable.ArrayBuffer.empty[Seq[Sample]]
    var plainWallNs = 0L
    val tracedPasses = mutable.ArrayBuffer.empty[Seq[Sample]]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    def samples = plainPasses.map(_.size).sum + tracedPasses.map(_.size).sum
    while (plainPasses.isEmpty || elapsed < r.seconds ||
      (samples < MinSamples && elapsed < 3 * r.seconds) ||
      (r.traced && tracedPasses.size < MinTracedPasses)) {
      calib += Calib.runMs()
      listener match {
        case Some(l) if plainPasses.size > tracedPasses.size =>
          sc.addSparkListener(l)
          tableWork ++= tableProbe(r, tables, l)
          tracedPasses += pass(Some(l))
          sc.removeSparkListener(l)
        case _ =>
          val p0 = System.nanoTime()
          plainPasses += pass(None)
          plainWallNs += System.nanoTime() - p0
      }
    }

    val lat = plainPasses.flatten.map(_.totalMs).toSeq
    val e2e = Map[String, Any](
      "ready_epoch_ms" -> readyMs,
      "latency_p50_ms" -> Stats.quantile(lat, 0.5),
      "latency_p75_ms" -> Stats.quantile(lat, 0.75),
      // queries per second of the plain passes' wall time, which includes
      // the driver's work between queries
      "throughput_per_s" -> lat.size / (plainWallNs / 1e9),
      "samples" -> lat.size,
      "key_ms" -> plainPasses.flatten.groupBy(_.key).map { case (k, ss) => k -> ss.map(_.totalMs).toSeq },
      "warmup_rounds" -> warm.size,
      "warmup_pass_ms" -> warm.toSeq,
      "measured_s" -> plainWallNs / 1e9,
      "calib_ms" -> calib.toSeq,
      "pass_ms" -> plainPasses.map(passMs).toSeq)
    val layers = if (!r.traced) Map.empty[String, Any]
    else layerMetrics(r, plainPasses.toSeq, tracedPasses.toSeq, tableWork.toSeq, calib.toSeq,
      stores)
    val heap = Main.retainedHeapMb()
    e2e ++ layers ++ Map("retained_heap_mb" -> heap, "attempted" -> attempted, "failed" -> failed)
  }

  private def open(spark: SparkSession, dir: String, t: String): DataFrame =
    if (t == "events") Tables.events(spark, dir) else Tables(spark, dir, t)

  /** Times one `Tables` open per table — the schema inference every query
    * construction repeats.
    */
  private def tableProbe(r: Run, tables: Seq[String], l: JobListener): Seq[(Double, Work)] = {
    val sc = r.spark.sparkContext
    tables.map { t =>
      val t0 = System.nanoTime()
      JobListener.tagged(sc, "probe")(open(r.spark, r.dataDir, t))
      val t1 = System.nanoTime()
      r.spans.add("engine.table_open", "probe", t0, t1)
      ((t1 - t0) / 1e6, l.take(sc, "probe"))
    }
  }

  /** Times one query; `traced` carries the listener of a traced pass. */
  private def timeQuery(r: Run, key: String, build: (SparkSession, String) => DataFrame,
                        traced: Option[JobListener]): Sample = {
    val spark = r.spark
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val df = JobListener.tagged(sc, "construct")(build(spark, r.dataDir))
    val t1 = System.nanoTime()
    if (traced.isDefined) df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val e0 = System.currentTimeMillis()
    JobListener.tagged(sc, "exec")(df.collect())
    val e1 = System.currentTimeMillis()
    val t3 = System.nanoTime()
    Scoped.releaseAll(spark)
    traced.fold(Sample(key, t1 - t0, t2 - t1, t3 - t2, Map.empty, new Work, new Work, 0.0)) { l =>
      val c = l.take(sc, "construct")
      val x = l.take(sc, "exec")
      val phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      val gap = (e1 - e0 - x.jobCoveredMs(e0, e1)).toDouble
      executions += 1
      val qid = s"$key#$executions"
      val q = r.spans.add("query", qid, t0, t3)
      r.spans.add("construct", qid, t0, t1, q, Map("jobs" -> c.jobs.toDouble))
      r.spans.add("plan", qid, t1, t2, q, phases.map { case (k, v) => s"$k.ms" -> v })
      r.spans.add("exec", qid, t2, t3, q, Map("jobs" -> x.jobs.toDouble,
        "tasks" -> x.tasks.toDouble, "cpu_ms" -> x.cpuNs / 1e6, "driver_gap_ms" -> gap))
      Sample(key, t1 - t0, t2 - t1, t3 - t2, phases, c, x, gap)
    }
  }

  private def layerMetrics(r: Run, plain: Seq[Seq[Sample]], traced: Seq[Seq[Sample]],
                           tables: Seq[(Double, Work)], calib: Seq[Double],
                           stores: Seq[(Double, Double)]): Map[String, Any] = {
    val all = traced.flatten
    def perQuery(f: Sample => Double): Double = Stats.mean(all.map(f))
    def perPass(f: Sample => Double): Seq[Double] = traced.map(_.map(f).sum)
    val cores = r.spark.sparkContext.defaultParallelism
    // exact counts, per pass: every pass runs the same keys on the same data
    val counts = Map[String, Seq[Double]](
      "construct.jobs" -> perPass(_.construct.jobs),
      "exec.jobs" -> perPass(_.exec.jobs),
      "exec.tasks" -> perPass(_.exec.tasks.toDouble),
      "exec.shuffle_read_bytes" -> perPass(_.exec.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> perPass(_.exec.shuffleWrite.toDouble),
      "exec.spill_bytes" -> perPass(_.exec.spillBytes.toDouble))
    // reconciliation: per-key medians, traced span sum (construct + plan +
    // exec) against the untraced latency of the same key in the same session
    def medians(ps: Seq[Seq[Sample]]): Map[String, Double] =
      ps.flatten.groupBy(_.key).map { case (k, ss) => k -> Stats.median(ss.map(_.totalMs)) }
    val (mp, mt) = (medians(plain), medians(traced))
    val common = (mp.keySet intersect mt.keySet).toSeq.sorted
    val overhead = 100.0 * (common.map(mt).sum / common.map(mp).sum - 1.0)
    val perKey = common.map(k => k -> 100.0 * (mt(k) / mp(k) - 1.0))
    val (worstKey, worst) = perKey.maxBy(kv => math.abs(kv._2))
    val beyond = perKey.filter(kv => math.abs(kv._2) > ReconcilePct)
    if (beyond.nonEmpty) System.err.println(s"[graftbench] traced latency differs from the " +
      s"untraced one by more than $ReconcilePct% on ${beyond.size} of ${perKey.size} keys: " +
      beyond.map { case (k, v) => f"$k $v%+.1f%%" }.mkString(", "))
    // the same figure between the even and the odd untraced passes: the
    // spread sampling alone gives, with tracing off on both sides
    val (even, odd) = plain.zipWithIndex.partition(_._2 % 2 == 0)
    val (me, mo) = (medians(even.map(_._1)), medians(odd.map(_._1)))
    val floor = (me.keySet intersect mo.keySet).toSeq.map(k => math.abs(100.0 * (mo(k) / me(k) - 1.0)))
    System.err.println(f"[graftbench] trace overhead $overhead%+.2f%% pooled, worst key $worstKey " +
      f"$worst%+.1f%%; untraced passes against each other differ by up to ${floor.maxOption.getOrElse(0.0)}%.1f%% on a key")
    val tableJobs = tables.map(_._2.jobs.toDouble)
    Map(
      "engine.session_ms" -> r.sessionNs / 1e6,
      "engine.store_build_ms" -> stores.map(_._1).sum,
      "engine.store_bytes_written" -> stores.map(_._2).sum,
      "engine.table_open_ms" -> Stats.mean(tables.map(_._1)),
      "engine.table_open_jobs" -> tableJobs.sum / math.max(1, traced.size),
      "construct.ms" -> perQuery(_.constructNs / 1e6),
      "plan.analysis_ms" -> perQuery(_.phases.getOrElse("analysis", 0.0)),
      "plan.optimization_ms" -> perQuery(_.phases.getOrElse("optimization", 0.0)),
      "plan.planning_ms" -> perQuery(_.phases.getOrElse("planning", 0.0)),
      "plan.ms" -> perQuery(_.planNs / 1e6),
      "exec.ms" -> perQuery(_.execNs / 1e6),
      "exec.driver_gap_ms" -> perQuery(_.gapMs),
      "exec.cpu_ms" -> perQuery(_.exec.cpuNs / 1e6),
      "exec.run_ms" -> perQuery(_.exec.runMs.toDouble),
      "exec.gc_ms" -> perQuery(_.exec.gcMs.toDouble),
      "exec.fetch_wait_ms" -> perQuery(_.exec.fetchWaitMs.toDouble),
      "exec.max_task_ms" -> perQuery(_.exec.maxTaskMs.toDouble),
      "exec.busy_ratio" -> all.map(_.exec.runMs.toDouble).sum / (all.map(_.execNs / 1e6).sum * cores),
      "host.calib_ms" -> Stats.median(calib),
      "trace.overhead_pct" -> overhead,
      "trace.worst_key_pct" -> math.abs(worst),
      "reconcile_pct" -> perKey.toMap,
      "counts" -> counts.map { case (k, v) => k -> v.headOption.getOrElse(0.0) },
      "counts_exact" -> counts.values.forall(v => v.distinct.size <= 1)
    ) ++ counts.map { case (k, v) => k -> v.headOption.getOrElse(0.0) }
  }
}
