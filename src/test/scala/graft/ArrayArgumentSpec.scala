package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{ArrayMemo, PqAssignCode, PqCodebook, SharedShingleCount, ShingleSet,
  VectorExpressions, WideBloomFlaggedShingles}

/** The SQL functions that decode an array argument once and keep it
  * (`pq_assign_code`, `wide_bloom_flagged_shingles`,
  * `shared_shingle_count`) must evaluate every row against that row's own
  * array when the argument varies from row to row: compiled and
  * interpreted, and after a shuffle, whose reader hands out each row in
  * one reused buffer.
  */
class ArrayArgumentSpec extends SparkSpec {

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, p) => p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val modes: Seq[(String, Seq[(String, String)])] = Seq(
    "compiled" -> Seq(),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** Rows alternate between two arrays of one layout, so only the values
    * tell them apart. Evaluated straight off the scan and after a shuffle.
    */
  private def check(rows: Seq[Row], schema: StructType, sql: String)(expected: Row => Any): Unit = {
    VectorExpressions.register(spark)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .createOrReplaceTempView("arg_rows")
    val want = rows.map(r => r.getInt(0) -> expected(r)).toMap
    assert(want.values.toSet.size > 1, "the rows must disagree")
    for ((mode, confs) <- modes; from <- Seq("arg_rows", "(SELECT /*+ REPARTITION(1) */ * FROM arg_rows)"))
      withConfs(confs: _*) {
        val got = spark.sql(s"SELECT id, $sql AS v FROM $from").collect()
          .map(r => r.getInt(0) -> r.get(1)).toMap
        assert(got === want, s"$mode from $from")
      }
  }

  test("pq_assign_code: each row's codebook picks its own code") {
    val cbType = ArrayType(StructType(Seq(StructField("m", IntegerType),
      StructField("code", IntegerType), StructField("cv", ArrayType(FloatType)))))
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("sv", ArrayType(FloatType)), StructField("cbs", cbType)))
    def cb(first: Float): Seq[Row] =
      Seq(Row(0, 0, Seq(first, 0f)), Row(0, 1, Seq(-first, 0f)))
    val rows = (0 until 6).map(i => Row(i, Seq(1f, 0f), cb(if (i % 2 == 0) 1f else -1f)))
    check(rows, schema, "pq_assign_code(sv, 0, cbs)") { r =>
      val cbs = new GenericArrayData(r.getSeq[Row](2).map { e =>
        InternalRow(e.getInt(0), e.getInt(1), new GenericArrayData(e.getSeq[Float](2).toArray[Any]))
      }.toArray[Any])
      val sv = new GenericArrayData(r.getSeq[Float](1).toArray[Any])
      PqAssignCode.compute(sv, 0, PqCodebook.fromArrayData(cbs, false), false).intValue()
    }
  }

  test("wide_bloom_flagged_shingles: each row's bitset flags its own shingles") {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("text", StringType), StructField("words", ArrayType(LongType))))
    val rows = (0 until 6).map(i => Row(i, "abcdefgh", Seq(if (i % 2 == 0) -1L else 0L)))
    check(rows, schema, "wide_bloom_flagged_shingles(text, words, 3, 1, 2)") { r =>
      val out = WideBloomFlaggedShingles.compute(UTF8String.fromString(r.getString(1)),
        r.getSeq[Long](2).toArray, 3, 1, 2)
      (0 until out.numElements()).map(out.getUTF8String(_).toString)
    }
  }

  test("shared_shingle_count: each row's shingle set counts its own hits") {
    val schema = StructType(Seq(StructField("id", IntegerType),
      StructField("text", StringType), StructField("shingles", ArrayType(StringType))))
    val rows = (0 until 6).map { i =>
      Row(i, "abcdefgh", if (i % 2 == 0) Seq("abc", "bcd", "xyz") else Seq("xxx", "yyy", "zzz"))
    }
    check(rows, schema, "shared_shingle_count(text, shingles, 3, 1)") { r =>
      val set = ShingleSet.fromArrayData(
        new GenericArrayData(r.getSeq[String](2).map(UTF8String.fromString).toArray[Any]))
      SharedShingleCount.compute(UTF8String.fromString(r.getString(1)), set, 3, 1).longValue()
    }
  }

  test("constant_array: a one-row broadcast array gives the default path's results") {
    VectorExpressions.register(spark)
    spark.range(6).selectExpr("CAST(id AS INT) AS id",
      "repeat('abcdefgh', CAST(id AS INT) + 1) AS text",
      "array(CAST(id AS FLOAT) - 2.5F, 1.0F) AS sv").createOrReplaceTempView("const_rows")
    spark.sql("""SELECT array('abc', 'fgh', 'xyz') AS sh, array(CAST(-1 AS BIGINT)) AS words,
      |  array(named_struct('m', 0, 'code', 0, 'cv', array(-1.0F, 0.0F)),
      |        named_struct('m', 0, 'code', 1, 'cv', array(1.0F, 0.0F))) AS cbs""".stripMargin)
      .createOrReplaceTempView("const_arg")
    for (f <- Seq("shared_shingle_count(text, sh, 3, 1%s)",
                  "wide_bloom_flagged_shingles(text, words, 3, 1, 2%s)",
                  "pq_assign_code(sv, 0, cbs%s)")) {
      def run(flag: String) = spark.sql(s"SELECT /*+ BROADCAST(c) */ r.id, ${f.format(flag)} AS v " +
        "FROM const_rows r CROSS JOIN const_arg c").collect().map(r => r.getInt(0) -> r.get(1)).toMap
      assert(run(", true") === run(""), f)
    }
  }

  test("a literal array is keyed as constant and gives the column's results") {
    VectorExpressions.register(spark)
    spark.range(6).selectExpr("CAST(id AS INT) AS id",
      "repeat('abcdefgh', CAST(id AS INT) + 1) AS text",
      "array(CAST(id AS FLOAT) - 2.5F, 1.0F) AS sv").createOrReplaceTempView("lit_rows")
    val sh = "array('abc', 'fgh', 'xyz')"
    val words = "array(CAST(-1 AS BIGINT))"
    val cbs = "array(named_struct('m', 0, 'code', 0, 'cv', array(-1.0F, 0.0F)), " +
      "named_struct('m', 0, 'code', 1, 'cv', array(1.0F, 0.0F)))"
    for (f <- Seq("shared_shingle_count(text, %s, 3, 1)" -> sh,
                  "wide_bloom_flagged_shingles(text, %s, 3, 1, 2)" -> words,
                  "pq_assign_code(sv, 0, %s)" -> cbs); (mode, confs) <- modes)
      withConfs(confs: _*) {
        val (call, arr) = f
        val lit = spark.sql(s"SELECT id, ${call.format(arr)} AS v FROM lit_rows")
        val constant = lit.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
          case e: SharedShingleCount => e.constantArg
          case e: WideBloomFlaggedShingles => e.constantArg
          case e: PqAssignCode => e.constantArg
        })
        assert(constant === Seq(true), s"$call $mode")
        val column = spark.sql(s"SELECT id, ${call.format("a")} AS v " +
          s"FROM lit_rows CROSS JOIN (SELECT $arr AS a)")
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => r.getInt(0) -> r.get(1)).toMap
        assert(rows(lit) === rows(column), s"$call $mode")
      }
  }

  test("ArrayMemo: a constant array decodes once, new bytes in one buffer decode again") {
    var decodes = 0
    val decode: ArrayData => AnyRef = { a => decodes += 1; a.toLongArray() }
    val literal = new GenericArrayData(Array[Any](1L, 2L))
    val constant = new ArrayMemo(decode, constantArray = true)
    (1 to 5).foreach(_ => assert(constant(literal) === Array(1L, 2L)))
    assert(decodes === 1)

    decodes = 0
    val buffer = UnsafeArrayData.fromPrimitiveArray(Array(1L, 2L))
    val byBytes = new ArrayMemo(decode, constantArray = false)
    assert(byBytes(buffer) === Array(1L, 2L))
    assert(byBytes(buffer) === Array(1L, 2L))
    buffer.setLong(0, 3L)
    assert(byBytes(buffer) === Array(3L, 2L))
    assert(decodes === 2)
  }
}
