package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics

import graft.engine.{Scoped, SessionConfs}
import graft.functions.SigIndex

/** Spark's generated-class cache must hold graft's working set: every
  * session builder applies [[SessionConfs]], and a query run again
  * in the same JVM reuses its compiled classes instead of compiling them
  * with Janino once more.
  */
class CodegenCacheSpec extends SparkSpec {

  private def source(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), "UTF-8")

  /** The keys the benchmark's `essentials` workload cycles through. */
  private val essentials: Seq[String] = {
    val batch = source("graftbench/src/graftbench/Batch.scala")
    val list = "val Keys: Seq\\[String\\] = Seq\\(([^)]*)\\)".r.findFirstMatchIn(batch)
      .getOrElse(fail("no Keys list in Batch.scala")).group(1)
    "\"([a-z0-9_]+)\"".r.findAllMatchIn(list).map(_.group(1)).toSeq
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("every session builder applies the session confs of the one constant") {
    SessionConfs.All.foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) === v.toString, k)
    }
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Files.walk(Paths.get(root)).toArray.toSeq.map(_.toString).filter(_.endsWith(".scala"))
    }
    // the only session builders: RunnerSession.build and GraftSession.local
    // in Core.scala, and SparkSpec; every main goes through one of the two
    val builders = sources.flatMap(p => "SparkSession\\.builder\\(\\)".r.findAllIn(source(p)).map(_ => p))
    val core = "src/main/scala/graft/engine/Core.scala"
    val spec = "src/test/scala/graft/SparkSpec.scala"
    assert(builders.groupBy(identity).view.mapValues(_.size).toMap === Map(core -> 2, spec -> 1))
    Seq(core -> 2, spec -> 1).foreach { case (p, n) =>
      assert("\\.config\\((graft\\.engine\\.)?SessionConfs\\.All\\)".r.findAllIn(source(p)).size === n, p)
    }
    // each conf key is spelled out once, in the constant
    SessionConfs.All.keys.foreach { k =>
      assert(sources.filter(p => source(p).contains("\"" + k + "\"")) ===
        Seq("src/main/scala/graft/engine/Core.scala"), k)
    }
  }

  test("the compilation counter moves when a query needs a new class") {
    val c0 = compiles
    spark.range(3).selectExpr(s"id + ${System.nanoTime()}L AS v").collect()
    assert(compiles > c0)
  }

  test("a pipeline compiled under one codegen stage id is reused under another") {
    val salt = System.nanoTime()
    val a = spark.range(100).selectExpr(s"id * 3 + ${salt}L AS v").filter("v % 7 = 1")
    val x = spark.range(50).selectExpr(s"id - ${salt}L AS v")
    a.collect()
    x.collect()
    val c0 = compiles
    x.union(a).collect() // stage ids 1 and 2; `a` ran alone as stage 1
    assert(compiles === c0)
  }

  test("a second pass over the essentials keys compiles no class") {
    assert(essentials.size === 21)
    val dir = smallestTestDir
    val defs = SparkEntry.queries
    SigIndex.stageClusters(spark, dir)
    def pass(): Seq[(String, Long)] = essentials.map { k =>
      val c0 = compiles
      defs(k)(spark, dir).write.format("noop").mode("overwrite").save()
      Scoped.releaseAll(spark)
      k -> (compiles - c0)
    }
    pass()
    val again = pass().filter(_._2 > 0)
    assert(again.isEmpty, s"classes compiled again on the second pass: $again")
  }
}
