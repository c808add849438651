package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.internal.SQLConf

import graft.engine.{Scoped, SessionConfs}
import graft.streaming.StreamingOps

/** Whole-stage stages run through Spark's partition evaluators
  * ([[SessionConfs]]): their RDD wraps an evaluator factory, so the
  * driver does not clean and Java-serialize a closure over the plan, and
  * through it the input rows, at every execution.
  */
class PartitionEvaluatorSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import PartitionEvaluatorSpec.Ev

  /** The RDDs a stage builds when it runs through an evaluator: one input,
    * or two zipped (a sort-merge join inside the stage).
    */
  private val evaluatorRdds = Set("MapPartitionsWithEvaluatorRDD", "ZippedPartitionsWithEvaluatorRDD")

  /** The class of the RDD each whole-stage stage of `plan` executes to,
    * by codegen stage id. Building the RDD runs no job; the stages of an
    * executed adaptive plan are read through its query stages.
    */
  private def stageRdds(plan: SparkPlan): Seq[(Int, String)] =
    collectWithSubqueries(plan) { case w: WholeStageCodegenExec => w }
      .map(w => w.codegenStageId -> w.execute().getClass.getSimpleName)

  /** Runs the benchmark key `k` in `s` and returns its final plan's stages. */
  private def keyStages(s: SparkSession, k: String): Seq[(Int, String)] = {
    val df: DataFrame = SparkEntry.queries(k)(s, smallestTestDir)
    df.collect()
    try stageRdds(df.queryExecution.executedPlan) finally Scoped.releaseAll(s)
  }

  test("every whole-stage stage of every benchmark batch query executes to an evaluator RDD") {
    assert(essentialsKeys.size === 21)
    val stages = essentialsKeys.map(k => k -> keyStages(spark, k))
    assert(stages.map(_._2.size).sum > essentialsKeys.size, stages)
    val closures = stages.flatMap { case (k, s) => s.filterNot(x => evaluatorRdds(x._2)).map(k -> _) }
    assert(closures.isEmpty, s"stages that clean a closure: $closures")
  }

  test("without the conf the same stages clean a closure (control)") {
    val s = spark.newSession()
    s.conf.set(SQLConf.USE_PARTITION_EVALUATOR.key, "false")
    val stages = keyStages(s, essentialsKeys.head)
    assert(stages.nonEmpty)
    assert(stages.forall(x => !evaluatorRdds(x._2)), stages)
  }

  test("every whole-stage stage of a keyed tumbling-count micro-batch executes to an evaluator RDD") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = StreamingOps.keyedTumblingCounts(input.toDF(), "key", "ts", "1 second", "2 seconds")
      .writeStream.format("memory").queryName("evaluator_counts").outputMode("append").start()
    val stages = try {
      (0 until 3).foreach { b =>
        input.addData((0 until 40).map(i => Ev(s"k${i % 7}", at(2.0 * b + i * 0.05))))
        q.processAllAvailable()
      }
      stageRdds(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan)
    } finally q.stop()
    assert(stages.nonEmpty)
    assert(stages.forall(x => evaluatorRdds(x._2)), stages)
  }
}

object PartitionEvaluatorSpec {
  final case class Ev(key: String, ts: java.sql.Timestamp)
}
