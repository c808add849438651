package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A registered query: stable key, builder over (session, sf-dir), and an
  * optional DuckDB-compatible oracle SQL over the same parquet tables.
  *
  * Column aliases in `build` and `oracle` MUST match exactly — the driver
  * sorts columns by name before hashing values.
  */
final case class QueryDef(
    key: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** SQL text surface: register the sf-dir tables as temp views (plus the
  * engine's custom functions) so `spark.sql("...")` works over the same
  * data the DataFrame operators see. The engine is DataFrame-first, but a
  * user switching from any SQL-speaking system gets the full Spark SQL
  * dialect for free.
  */
object GraftSql {
  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def registerTables(spark: SparkSession, dir: String): Unit = {
    tableNames.foreach { t =>
      val df = if (t == "events") Tables.events(spark, dir) else Tables(spark, dir, t)
      df.createOrReplaceTempView(t)
    }
    graft.functions.VectorExpressions.register(spark)
  }
}

/** The confs every session builder graft has applies, in one place so no
  * builder can miss one. Each is a property of the engine, not a tuning
  * knob: results, plans, jobs and tasks are the same without them.
  *
  * Spark's generated-class cache. Spark compiles each generated class with
  * Janino (~11 ms a class) and keeps it in one LRU per JVM, keyed on the
  * source text. A class evicted or renamed is compiled again, and the new
  * class then runs in the interpreter until the JIT warms it again.
  *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]]. The
  *    default holds 100 classes. At sf0.01 the benchmark's 21 essentials
  *    keys generate ~200 and the full registry ~2,000 a pass, so a runner
  *    cycling through its queries evicted most classes before their next
  *    use. 4096 is about twice the registry's measured working set. The conf is static:
  *    `CodeGenerator$` reads it once, when the JVM first generates code, so
  *    it must be on the builder. A later `spark.conf.set` fails with an
  *    AnalysisException, and a second session in the same JVM silently
  *    shares the first one's cache.
  *  - `spark.sql.codegen.useIdInClassName` = false. Spark otherwise names a
  *    whole-stage class after its codegen stage id. Under adaptive
  *    execution the ids are handed out as query stages are planned, in an
  *    order that depends on which stages finish first, so the same
  *    pipeline came back under another id, hence another source text and
  *    another compile. With the large cache alone a second registry pass
  *    at sf0.01 still compiled 60 classes, with this conf too 4. The id
  *    stays in the plan and in a comment of the generated source, which is
  *    not part of the cache key.
  *
  * Streaming checkpoint commits.
  *  - `spark.sql.streaming.checkpointFileManagerClass` = Spark's
  *    `FileSystemBasedCheckpointFileManager`. Spark's default FileContext
  *    manager looks up the link status of each rename's source and
  *    destination, and on a local filesystem without libhadoop each lookup
  *    forks `readlink`: 64 processes a stateful micro-batch. This one
  *    renames with `rename(2)` and forks none, with the same temp-then-
  *    rename protocol, atomicity and checksum files (ARCHITECTURE.md,
  *    design rule 10).
  *
  * Local file creation.
  *  - `spark.hadoop.fs.file.impl` = [[GraftLocalFileSystem]]. Hadoop's
  *    `file:` filesystem sets the permission bits of every file and
  *    directory it creates by forking `chmod` when libhadoop is absent:
  *    16 processes a stateful micro-batch, 350 in a benchmark set-up that
  *    builds a store and writes parquet. This one makes the chmod(2) call
  *    itself, with the same bits, `.crc` sidecars and renames. Hadoop
  *    caches one `FileSystem` per scheme, authority and user in a JVM and
  *    hands it to every later lookup, whatever that lookup's conf names,
  *    so this takes effect only where a graft session is built before the
  *    JVM opens its first `file:` path through Hadoop; every graft main
  *    does so (`LocalFilesSpec` checks the session's filesystem).
  *
  * Operator execution.
  *  - `spark.sql.execution.usePartitionEvaluator` = true. Without it an
  *    operator's `doExecute` builds its RDD with `mapPartitionsWithIndex`,
  *    and `SparkContext.clean` reads the capturing class with ASM and
  *    Java-serializes the whole closure on the driver, at every
  *    execution, only to check that it is serializable. The closure holds
  *    the plan nodes, and through an in-memory source (a stream's
  *    micro-batch, a `LocalTableScan`) every input row: a stream drain
  *    serialized its 75k-row batches several times a micro-batch. With it
  *    Spark builds a `MapPartitionsWithEvaluatorRDD` around a partition
  *    evaluator factory and cleans nothing. The operators that take this
  *    path are `WholeStageCodegenExec`, `ProjectExec`, `FilterExec`,
  *    `WindowExec`, `WindowGroupLimitExec`, `SortMergeJoinExec` and
  *    `ColumnarToRowExec`/`RowToColumnarExec`. The task binary still
  *    serializes the same objects once per stage, so results, plans, jobs
  *    and tasks are unchanged. Spark's state-store closures and
  *    `runJob`/`RDD.collect` still clean theirs (ARCHITECTURE.md, design
  *    rule 14). The conf is Spark-internal (since 3.5, default false);
  *    `PartitionEvaluatorSpec` checks that every whole-stage stage of the
  *    benchmark's keys and of a stream's micro-batch takes this path.
  */
object SessionConfs {
  val CodegenCacheEntries = 4096L

  val All: Map[String, Any] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries,
    "spark.sql.codegen.useIdInClassName" -> false,
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager].getName,
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.sql.execution.usePartitionEvaluator" -> true)
}

/** ONE session builder for every artifact-producing runner (Bench,
  * Verify, Explain, StageBench, IngestScaleBench, Ab): the round-14 verdict
  * found the bench executing `preferSortMergeJoin=false` while the plan
  * dumper and the gate runner did not — the committed plan artifacts
  * could never show the ShuffledHashJoin strategy the benches actually
  * ran. Centralizing the build makes "the plans are the plans the bench
  * executes" a structural property instead of a per-main convention.
  *
  * The configuration, in order:
  *  - `local[cpus]` from SPARK_GRAFT_CPUS (per-main default);
  *  - shuffle partitions sized to the CORPUS, not the core count — the
  *    driver-side file-listing calculation a cluster job runs before a
  *    big shuffle (floor 32 keeps every ≤sf10 artifact identical;
  *    sf100's ~10 GB dirs size up so no reduce partition carries
  *    gigabytes; AQE coalesces the too-many case at runtime);
  *  - AQE on (runtime re-plan: skew splits, coalescing, SMJ fallback);
  *  - shuffled-hash over sort-merge when broadcast is off the table:
  *    with no downstream consumer of SMJ's sort order, the hash build
  *    skips sorting both sides of a 600 M-row join. Same-session
  *    interleaved min-of-2 at sf100 (BASELINE.md, round-14
  *    shuffled-hash row): q9 73.0 vs 99.8 s, q16 89.8 vs 135.6 s;
  *    mechanism-verified — exactly the SMJ nodes flip to
  *    ShuffledHashJoin, broadcasts unchanged. AQE still falls back to
  *    SMJ where a hash build cannot fit;
  *  - UTC + no UI;
  *  - the engine-wide [[SessionConfs]]: the generated-class cache sized to
  *    graft's working set, checkpoint commits and local file creation
  *    that fork no process, and whole-stage stages that clean no closure
  *    on the driver;
  *  - `nanosAsLong` on from the start, the value `Tables.events` sets on
  *    its first read anyway: flipped mid-session, it would change the
  *    schema memo key of every table opened before it, and each of those
  *    would pay a second inference job on its next open;
  *  - SPARK_GRAFT_CONF="k=v;k=v" overlay applied LAST, so a config A/B
  *    can override any default above. `graft.Ab` reads its arms with the
  *    same [[parseConf]].
  *
  * Results are strategy- and partition-count-invariant (r13 parity ran
  * all 177 gate keys at the corpus-derived width; SHJ/SMJ agree by
  * definition), so Verify sharing this build changes no hashes.
  */
object RunnerSession {
  /** A conf overlay in `k=v;k=v` form; blank entries are skipped. */
  def parseConf(overlay: String): Seq[(String, String)] =
    overlay.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"conf overlay entry '$kv' is not k=v")
      (kv.take(i), kv.drop(i + 1))
    }

  def build(sfDir: String, defaultCpus: String = "4",
            logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val extraConf = parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        graft.operators.Scale.shufflePartitionsFor(
          graft.operators.Scale.dirBytes(sfDir)))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(SessionConfs.All)
    val spark = extraConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}

/** Session factory for local runs/tests. Production deploys pass their own
  * session; nothing in the engine assumes local mode.
  */
object GraftSession {
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(SessionConfs.All)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
