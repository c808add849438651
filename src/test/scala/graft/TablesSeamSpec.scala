package graft

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.engine.{GraftSql, Tables}
import graft.functions.{AnnIndex, SigIndex}

/** The one parquet read ([[graft.engine.Tables.parquet]]) and its schema
  * memo: a memoized read must be indistinguishable from a plain
  * `spark.read.parquet` — same schema, same analyzed plan — for every
  * table and every store kind, under both settings of the one reader conf
  * the engine flips; it must launch no Spark job once the schema is known;
  * and new content at the same path must be re-inferred, never served
  * stale. Plus the job-free footer row count and a source guard that
  * keeps the seam the only read.
  */
class TablesSeamSpec extends SparkSpec {

  private def smallest: String = testDataDirs.head

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def relation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }.getOrElse(fail(s"no file relation in ${df.queryExecution.analyzed}"))

  /** Analyzed plan text with expression ids blanked out. */
  private def planText(df: DataFrame): String =
    df.queryExecution.analyzed.treeString.replaceAll("#\\d+L?", "#")

  /** The seam read of `path` (twice: first touch or memo, then memo) must
    * equal the plain read — or fail exactly when the plain read fails.
    */
  private def assertSameAsPlain(path: String): Unit = {
    val plain = Try(spark.read.parquet(path))
    Seq(Try(Tables.parquet(spark, path)), Try(Tables.parquet(spark, path))).foreach { seam =>
      (plain.toEither, seam.toEither) match {
        case (Right(p), Right(s)) =>
          assert(s.schema === p.schema, s"$path: schema")
          assert(planText(s) === planText(p), s"$path: analyzed plan")
          val (rs, rp) = (relation(s), relation(p))
          assert(rs.dataSchema === rp.dataSchema, s"$path: data schema")
          assert(rs.partitionSchema === rp.partitionSchema, s"$path: partition schema")
          assert(rs.location.rootPaths === rp.location.rootPaths, s"$path: root paths")
          assert(rs.location.inputFiles.sorted.toSeq === rp.location.inputFiles.sorted.toSeq,
            s"$path: input files")
          assert(rs.fileFormat.getClass === rp.fileFormat.getClass, s"$path: file format")
          assert(rs.options === rp.options, s"$path: reader options")
        case (Left(p), Left(s)) =>
          assert(s.getClass === p.getClass, s"$path: both reads fail, with different errors")
        case other => fail(s"$path: plain and seam reads disagree: $other")
      }
    }
  }

  private def tempDir(): String =
    java.nio.file.Files.createTempDirectory("tables-seam-spec").toString

  test("seam schema and analyzed plan equal a plain read: every table, every sf dir, nanosAsLong off and on") {
    assert(testDataDirs.nonEmpty, "no testdata dirs found")
    Seq("false", "true").foreach { nanos =>
      withConf(NanosAsLong, nanos) {
        for (dir <- testDataDirs; t <- GraftSql.tableNames) assertSameAsPlain(Tables.path(dir, t))
      }
    }
  }

  test("seam reads of every store kind equal plain reads, cell-partitioned ANN postings included") {
    val dir = smallest
    val stores = Seq(
      AnnIndex.stageOnce(spark, dir), AnnIndex.stageAuto(spark, dir)._1,
      SigIndex.stageOnce(spark, dir), SigIndex.stageShingles(spark, dir),
      SigIndex.stageEmbLsh(spark, dir), SigIndex.stageBm25(spark, dir),
      SigIndex.stageBpe(spark, dir), SigIndex.stageClusters(spark, dir))
    val fs = new org.apache.hadoop.fs.Path(stores.head)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val artifacts = stores.flatMap { base =>
      fs.listStatus(new org.apache.hadoop.fs.Path(base)).toSeq
        .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_"))
        .map(_.getPath.toString)
    }
    assert(artifacts.size >= stores.size)
    artifacts.foreach(assertSameAsPlain)
    val postings = s"${stores.head}/ivf_postings"
    assert(relation(Tables.parquet(spark, postings)).partitionSchema.fieldNames.toSeq === Seq("cell"))
    assert(Tables.rowCount(spark, postings) === Tables.parquet(spark, postings).count())
  }

  test("a second read launches no Spark job; the first touch infers") {
    val path = s"${tempDir()}/t"
    spark.range(10).select(col("id"), (col("id") * 2).as("twice")).write.parquet(path)
    assert(jobsDuring(Tables.parquet(spark, path)) >= 1, "first touch must run Spark's inference")
    assert(jobsDuring(Tables.parquet(spark, path)) === 0, "a memoized read must launch no job")
    assert(Tables.parquet(spark, path).count() === 10)
    // the engine's own table opens: events first, since its nanosAsLong
    // flip changes the inference key of every path read after it
    val dir = smallest
    Tables.events(spark, dir)
    GraftSql.tableNames.foreach(t => Tables(spark, dir, t))
    assert(jobsDuring {
      GraftSql.tableNames.foreach(t => Tables(spark, dir, t))
      Tables.events(spark, dir)
    } === 0)
  }

  test("a path rewritten with a different schema is re-inferred, not served stale") {
    val root = tempDir()
    val path = s"$root/t"
    spark.range(3).toDF("a").write.parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq === Seq("a"))
    assert(Tables.rowCount(spark, path) === 3)
    spark.range(5).select(col("id").cast("string").as("b"), lit(1).as("c"))
      .write.mode("overwrite").parquet(path)
    val again = Tables.parquet(spark, path)
    assert(again.columns.toSeq === Seq("b", "c"))
    assert(again.collect().map(_.getString(0)).sorted.toSeq === (0 until 5).map(_.toString))
    assert(Tables.rowCount(spark, path) === 5)

    // a single-file table replaced in place
    def partFile(p: String): java.nio.file.Path = {
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(p))
      try files.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      finally files.close()
    }
    val single = java.nio.file.Paths.get(s"$root/single.parquet")
    java.nio.file.Files.copy(partFile(path), single)
    assert(Tables.parquet(spark, single.toString).columns.toSeq === Seq("b", "c"))
    spark.range(4).select(col("id").as("x"), col("id").cast("double").as("y"), lit("z").as("z"))
      .coalesce(1).write.parquet(s"$root/u")
    java.nio.file.Files.copy(partFile(s"$root/u"), single,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.parquet(spark, single.toString).columns.toSeq === Seq("x", "y", "z"))
    assert(Tables.rowCount(spark, single.toString) === 4)
  }

  test("a changed reader conf is re-inferred, not served the other setting's schema") {
    // an un-annotated BINARY column written without Spark's schema
    // metadata: binaryAsString decides whether it infers as string
    val path = s"${tempDir()}/bin.parquet"
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required binary b; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroup(schema).append("b", "x"))
    finally writer.close()
    def bType(read: => DataFrame) = read.schema("b").dataType
    val types = Seq("false", "true", "false").map { v =>
      withConf("spark.sql.parquet.binaryAsString", v) {
        val t = bType(Tables.parquet(spark, path))
        assert(t === bType(spark.read.parquet(path)), s"binaryAsString=$v")
        t
      }
    }
    assert(types.distinct.size === 2, s"the conf must change the inferred type: $types")
  }

  test("rowCount equals count() for every table in every sf dir") {
    for (dir <- testDataDirs; t <- GraftSql.tableNames) {
      val path = Tables.path(dir, t)
      assert(Tables.rowCount(spark, path) === spark.read.parquet(path).count(), path)
    }
  }

  test("library code reads parquet only through Tables.parquet") {
    val rawRead = """\bread\b(\s*\.\s*\w+\([^)]*\))*\s*\.\s*(parquet\(|format\(\s*"parquet")""".r
    Seq("spark.read.parquet(p)", "s.read.schema(x).parquet(p)", """spark.read.format("parquet")""")
      .foreach(l => assert(rawRead.findFirstIn(l).isDefined, s"guard pattern misses $l"))
    assert(rawRead.findFirstIn("df.write.parquet(p)").isEmpty)
    val seam = java.nio.file.Paths.get("src/main/scala/graft/engine/Tables.scala")
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val offenders = try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") && p != seam)
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if !Seq("*", "//", "/*").exists(line.trim.startsWith) &&
                rawRead.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
          }
        }
    } finally stream.close()
    assert(offenders.isEmpty, s"raw parquet reads outside Tables:\n${offenders.mkString("\n")}")
  }
}
