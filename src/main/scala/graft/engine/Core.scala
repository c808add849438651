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

/** ONE session builder for every artifact-producing runner (Bench,
  * Verify, Explain, StageBench, IngestScaleBench): the round-14 verdict
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
  *    interleaved min-of-2 at sf100 (graft.ShjSweep, round 14): q9 73.0
  *    vs 99.8 s, q16 89.8 vs 135.6 s; mechanism-verified — exactly the
  *    SMJ nodes flip to ShuffledHashJoin, broadcasts unchanged. AQE
  *    still falls back to SMJ where a hash build cannot fit;
  *  - UTC + no UI;
  *  - `nanosAsLong` on from the start, the value `Tables.events` sets on
  *    its first read anyway: flipped mid-session, it would change the
  *    schema memo key of every table opened before it, and each of those
  *    would pay a second inference job on its next open;
  *  - SPARK_GRAFT_CONF="k=v;k=v" overlay applied LAST, so a config A/B
  *    can override any default above.
  *
  * Results are strategy- and partition-count-invariant (r13 parity ran
  * all 177 gate keys at the corpus-derived width; SHJ/SMJ agree by
  * definition), so Verify sharing this build changes no hashes.
  */
object RunnerSession {
  def build(sfDir: String, defaultCpus: String = "4",
            logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val extraConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
        (kv.take(i), kv.drop(i + 1))
      }
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
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
