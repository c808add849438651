package graft

import org.apache.spark.sql.internal.StaticSQLConf

import graft.engine.RunnerSession

/** [[Ab]], the same-session conf A/B runner: arms that cannot be measured
  * are refused before any Spark job, and arms are compared by an output
  * digest that sees a one-row difference.
  */
class AbSpec extends SparkSpec {
  import spark.implicits._

  private val key = "q16_supplier_cnt"
  private val smj = "spark.sql.join.preferSortMergeJoin"

  test("an arm setting a static or unknown conf is refused before any Spark job runs") {
    val static = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    val typo = smj.dropRight(1)
    var errs: Seq[IllegalArgumentException] = Nil
    val jobs = jobsDuring {
      errs = Seq(static, typo).map(k => intercept[IllegalArgumentException](
        Ab.run(spark, smallestTestDir, Seq(key), Seq(s"$smj=true", s"$k=100"))))
    }
    assert(errs.map(_.getMessage.contains(static)) === Seq(true, false))
    assert(errs(1).getMessage.contains(typo))
    assert(jobs === 0)
  }

  test("a malformed arm fails with the message a malformed SPARK_GRAFT_CONF gets") {
    val bad = s"$smj=true;noEquals"
    val conf = intercept[IllegalArgumentException](RunnerSession.parseConf(bad))
    val arm = intercept[IllegalArgumentException](
      Ab.run(spark, smallestTestDir, Seq(key), Seq(s"$smj=false", bad)))
    assert(arm.getMessage === conf.getMessage)
    assert(conf.getMessage.contains("'noEquals'"))
  }

  test("two join-strategy arms over a registered key give equal digests") {
    val before = spark.conf.getOption(smj)
    val results = Ab.run(spark, smallestTestDir, Seq(key), Seq(s"$smj=true", s"$smj=false"))
    assert(results.map(_.arm) === Seq(0, 1))
    assert(results.forall(_.runsS.size == Ab.Rounds))
    assert(results.head.digest.rows > 0)
    assert(Ab.diverged(results).isEmpty, results.map(_.digest))
    assert(Ab.diverged(Seq(results.head, results(1).copy(digest = Ab.Digest(0, 0)))) === Seq(key))
    assert(spark.conf.getOption(smj) === before, "the session's own value is put back")
  }

  test("the digest sees a one-row difference and ignores row order and double noise") {
    val a = Seq((1L, "x", 0.1 + 0.2), (2L, "y", 1.5), (3L, "z", -2.0)).toDF("id", "s", "v")
    val reordered = Seq((3L, "z", -2.0), (1L, "x", 0.3), (2L, "y", 1.5)).toDF("id", "s", "v")
    val oneRowOff = Seq((1L, "x", 0.3), (2L, "y", 1.5), (3L, "z", -2.5)).toDF("id", "s", "v")
    def digest(df: org.apache.spark.sql.DataFrame) = Ab.digestRun(df)._1
    assert(digest(a) === digest(reordered))
    assert(digest(a).rows === digest(oneRowOff).rows)
    assert(digest(a) !== digest(oneRowOff))
    // xxhash64 skips a null field; the digest must still see which column holds it
    val nullLeft = Seq[(Option[Int], Option[Int])]((None, Some(1))).toDF("x", "y")
    val nullRight = Seq[(Option[Int], Option[Int])]((Some(1), None)).toDF("x", "y")
    assert(digest(nullLeft) !== digest(nullRight))
  }
}
