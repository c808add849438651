package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.engine.{RunnerSession, Scoped}

/** Same-session conf A/B over registered queries. Each arm is a conf
  * overlay in SPARK_GRAFT_CONF's `k=v;k=v` syntax, set on the one
  * [[RunnerSession]] before each of its runs; an arm's keys absent from
  * another arm are put back to the session's value.
  *
  * Per key, each arm first runs once untimed: its output digest (row count
  * plus an order-independent hash sum) and the join operators of its final
  * adaptive plan. Then [[Rounds]] rounds interleave the arms per key, the
  * arm order rotating each round, each run noop-consumed and followed by
  * `Scoped.releaseAll`. Prints per (key, arm) the minimum and every run's
  * wall time and the SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin
  * counts. Exits 1 if two arms of a key give different digests, and before
  * any query runs if an arm names a conf the running session cannot change:
  * Spark rejects a static conf only when it is set, after earlier arms
  * ran, and takes a mistyped key silently, which would time two identical
  * arms.
  *
  * Usage: sbt "runMain graft.Ab <sfDir> <key[,key...]> <arm> <arm> [<arm>...]"
  */
object Ab {
  val Rounds = 3

  final case class Digest(rows: Long, hashSum: BigDecimal)
  final case class Joins(smj: Int, shj: Int, bhj: Int)
  final case class Result(key: String, arm: Int, runsS: Seq[Double], digest: Digest, joins: Joins)

  def run(spark: SparkSession, sfDir: String, keys: Seq[String], arms: Seq[String]): Seq[Result] = {
    val overlays = arms.map(a => RunnerSession.parseConf(a).toMap)
    val touched = overlays.flatMap(_.keys).distinct
    val fixed = touched.filterNot(spark.conf.isModifiable)
    require(fixed.isEmpty,
      s"static or unknown conf, not settable on a running session: ${fixed.mkString(", ")}")
    val registry = SparkEntry.queries
    val queries = keys.map(k => k -> registry.getOrElse(k,
      throw new IllegalArgumentException(s"unknown query key '$k'")))
    val base = touched.map(k => k -> spark.conf.getOption(k)).toMap
    def use(arm: Map[String, String]): Unit = touched.foreach { k =>
      arm.get(k).orElse(base(k)) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
    def consumed[T](arm: Int)(body: => T): T = {
      use(overlays(arm))
      try body finally Scoped.releaseAll(spark)
    }
    try {
      val checked = for ((k, q) <- queries; a <- arms.indices)
        yield (k, a) -> consumed(a)(digestRun(q(spark, sfDir)))
      val times = collection.mutable.Map.empty[(String, Int), Vector[Double]].withDefaultValue(Vector())
      for (round <- 0 until Rounds; (k, q) <- queries; i <- arms.indices) {
        val a = (i + round) % arms.size
        times((k, a)) :+= consumed(a) {
          val t0 = System.nanoTime()
          q(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
      }
      checked.map { case ((k, a), (d, j)) => Result(k, a, times((k, a)), d, j) }
    } finally use(Map.empty)
  }

  /** Runs `df` once as its digest: the row count and the sum of one 64-bit
    * hash per row, doubles rounded to 9 places as tools/check.py rounds
    * them. Each column's null flag is hashed beside its value, because
    * `xxhash64` skips a null field: without the flags (null, 1) and
    * (1, null) hash alike. Also returns the join operators of the plan
    * that ran.
    */
  private[graft] def digestRun(df: DataFrame): (Digest, Joins) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      Seq(isnull(c),
        if (f.dataType == DoubleType || f.dataType == FloatType) bround(c.cast(DoubleType), 9) else c)
    }
    val agg = named.select(xxhash64(cols: _*).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
    val r = agg.collect().head
    val hashSum = if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1))
    (Digest(r.getLong(0), hashSum), joinsOf(agg.queryExecution.executedPlan))
  }

  /** The keys whose arms gave different digests. */
  def diverged(results: Seq[Result]): Seq[String] =
    results.groupBy(_.key).filter(_._2.map(_.digest).distinct.size > 1).keys.toSeq.sorted

  private def joinsOf(plan: SparkPlan): Joins = {
    val nodes = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(plan) { case p => p }
    Joins(nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      nodes.count(_.isInstanceOf[ShuffledHashJoinExec]),
      nodes.count(_.isInstanceOf[BroadcastHashJoinExec]))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: graft.Ab <sfDir> <key[,key...]> <arm> <arm> [<arm>...]")
    val spark = RunnerSession.build(args(0), logLevel = "ERROR")
    val results = try run(spark, args(0), args(1).split(",").toSeq, args.drop(2).toSeq) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"[ab] ${e.getMessage}"); spark.stop(); sys.exit(1)
    }
    for (r <- results)
      println(f"[ab] ${r.key}%-18s arm ${r.arm} min ${r.runsS.min}%8.2f s  " +
        s"(runs: ${r.runsS.map(t => f"$t%.2f").mkString(", ")})  " +
        s"SMJ=${r.joins.smj} SHJ=${r.joins.shj} BHJ=${r.joins.bhj}  " +
        s"digest=${r.digest.rows}/${r.digest.hashSum}")
    val differ = diverged(results)
    differ.foreach(k => println(s"[ab] $k: arm outputs DIFFER"))
    spark.stop()
    if (differ.nonEmpty) sys.exit(1)
  }
}
