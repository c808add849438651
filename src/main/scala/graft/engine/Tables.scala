package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md), and
  * the ONE parquet read of the engine: every table open and every store
  * serve goes through [[Tables.parquet]].
  *
  * `spark.read.parquet` infers the schema while the DataFrame is being
  * built, and that inference is a Spark job (a footer read scheduled on
  * the executors) — on small inputs it is most of a query's fixed cost.
  * The seam memoizes the schema Spark's own inference returned and hands
  * it to `spark.read.schema(s).parquet(path)` on every later read, which
  * lists files on the driver and launches no job. The memo is keyed by
  *  - the path (one entry per path: a changed key overwrites it, so the
  *    memo stays bounded by the number of distinct paths read);
  *  - a job-free fingerprint of the files under it (relative name, size
  *    and mtime from a driver-side recursive listing), so a rewritten
  *    table or a rebuilt store is re-inferred, never served stale;
  *  - the session values of the reader confs that change what inference
  *    returns ([[InferenceConfs]]; `Tables.events` sets one of them).
  * So each (path, content, reader confs) pays one inference job per JVM.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, path(dir, name))

  /** Session confs that change the schema parquet inference returns. */
  val InferenceConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** A parquet file or directory read; the schema is inferred on first
    * touch of (path, content, reader confs) only (see object doc).
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    fingerprint(spark, path) match {
      // missing or empty: Spark's own read raises its own error
      case None => spark.read.parquet(path)
      case Some(fp) =>
        val confs = InferenceConfs.map(spark.conf.getOption)
        schemas.lookup(path, fp, confs) match {
          case Some(s) => spark.read.schema(s).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.store(path, fp, confs, df.schema)
            df
        }
    }

  /** Rows of a parquet file or directory, summed from the row-group counts
    * of its footers on the driver — a plan-time `count()` of a bare table
    * read without the Spark job. Memoized on the same fingerprint.
    */
  def rowCount(spark: SparkSession, path: String): Long = {
    val fp = fingerprint(spark, path).getOrElse(
      throw new java.io.FileNotFoundException(s"no parquet files under $path"))
    rowCounts.lookup(path, fp, ()).getOrElse {
      val conf = spark.sparkContext.hadoopConfiguration
      val n = fp.files.filterNot(_.path.getName.startsWith("_")).map { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.path, conf))
        try reader.getRecordCount finally reader.close()
      }.sum
      rowCounts.store(path, fp, (), n)
      n
    }
  }

  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCount(spark, path(dir, name))

  /** One file of a fingerprint: path relative to the read root. */
  private final case class FileStamp(name: String, size: Long, mtime: Long)(
      val path: org.apache.hadoop.fs.Path)
  private final case class Fingerprint(files: Vector[FileStamp])

  /** Files Spark's file index would read (its hidden-name rule: `_x` and
    * `.x` are skipped unless partition dirs `k=v` or parquet summaries).
    */
  private def visible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".")) ||
      name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** Driver-side recursive listing of `path`; None when nothing is there. */
  private def fingerprint(spark: SparkSession, path: String): Option[Fingerprint] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path, rel: String): Vector[FileStamp] =
      fs.listStatus(p).toVector.filter(s => visible(s.getPath.getName)).flatMap { s =>
        val name = if (rel.isEmpty) s.getPath.getName else s"$rel/${s.getPath.getName}"
        if (s.isDirectory) walk(s.getPath, name)
        else Vector(FileStamp(name, s.getLen, s.getModificationTime)(s.getPath))
      }
    val files =
      try {
        val st = fs.getFileStatus(root)
        if (st.isDirectory) walk(root, "")
        else Vector(FileStamp("", st.getLen, st.getModificationTime)(st.getPath))
      } catch { case _: java.io.FileNotFoundException => Vector.empty }
    if (files.isEmpty) None else Some(Fingerprint(files.sortBy(_.name)))
  }

  /** One entry per path, valid while fingerprint and key both match. */
  private final class Memo[K, V] {
    private val entries = new java.util.concurrent.ConcurrentHashMap[String, (Fingerprint, K, V)]
    def lookup(path: String, fp: Fingerprint, key: K): Option[V] =
      Option(entries.get(path)).collect { case (f, k, v) if f == fp && k == key => v }
    def store(path: String, fp: Fingerprint, key: K, value: V): Unit =
      entries.put(path, (fp, key, value))
  }
  private val schemas = new Memo[Seq[Option[String]], org.apache.spark.sql.types.StructType]
  private val rowCounts = new Memo[Unit, Long]

  /** `events.ts` has shipped in two parquet encodings: TIMESTAMP(NANOS),
    * which Spark 4 refuses to map to TimestampType, and TIMESTAMP(MICROS)
    * without timezone, which Spark reads as TIMESTAMP_NTZ (rejected by
    * `unix_micros` and friends). Normalize both to a microsecond
    * TimestampType here — the single seam every events query reads
    * through. Nanos are truncated to micros (the same truncation DuckDB
    * applies); the NTZ cast is value-preserving because the session
    * timezone is pinned to UTC.
    *
    * Session-wide side effect, by design: the nanosAsLong conf stays set,
    * so OTHER nanos-parquet reads in this session also come back as
    * LongType instead of erroring. The conf must stay on for this query's
    * own execution (it is consulted again at scan time), so it cannot be
    * safely restored here; callers reading foreign nanos parquet should
    * convert explicitly as done below. [[RunnerSession]] sets the conf at
    * build time, so in runner sessions this set is a no-op and the schema
    * memo key of tables opened earlier never changes.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
