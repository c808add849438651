package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, typedLit}

import graft.functions.{Similarity, VectorExpressions}

/** graft's custom expressions: a Column handle builds its expression
  * without the session's function registry, and the one catalog gives
  * SQL text the same functions with checked argument counts.
  */
class FunctionCatalogSpec extends SparkSpec {

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq

  test("every catalog function rejects one argument too many and one too few, naming its signature") {
    val s = spark.newSession()
    VectorExpressions.register(s)
    for (f <- VectorExpressions.catalog; n <- Seq(f.arity.start - 1, f.arity.end + 1)) {
      val call = s"${f.name}(${Seq.fill(n)("1").mkString(", ")})"
      val err = intercept[Exception](s.sql(s"SELECT $call").collect())
      assert(messages(err).exists(_.contains(f.signature)), s"$call: ${messages(err)}")
    }
  }

  test("a session's own vector_dot changes neither the vectorDot handle nor knnBrute") {
    def vecs(s: SparkSession) = s.createDataFrame(Seq(
      0L -> Seq(1f, 0f, 0f), 1L -> Seq(0.9f, 0.1f, 0f),
      2L -> Seq(0f, 1f, 0f), 3L -> Seq(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    def knn(s: SparkSession) = Similarity.knnBrute(vecs(s), vecs(s).filter(col("vec_id") === 0),
      "vec_id", "embedding", 3).orderBy("rank").collect().toSeq
    val dotSql = "SELECT vector_dot(array(1F, 2F), array(3F, 4F))"
    val impostor = spark.newSession()
    impostor.udf.register("vector_dot", (_: Seq[Float], _: Seq[Float]) => -1.0)
    assert(impostor.sql(dotSql).head().getDouble(0) === -1.0, "the impostor is not bound")

    val dot = impostor.range(1).select(VectorExpressions.vectorDot(
      typedLit(Seq(1f, 2f)), typedLit(Seq(3f, 4f)))).head().getDouble(0)
    assert(dot === 11.0)
    assert(knn(impostor) === knn(spark.newSession()))
    // register rebinds the name to graft's function for SQL text
    VectorExpressions.register(impostor)
    assert(impostor.sql(dotSql).head().getDouble(0) === 11.0)
  }

  test("building every benchmark batch query leaves the session's function registry unchanged") {
    val keys = essentialsKeys
    assert(keys.size > 10, s"parsed too few keys: $keys")
    val dir = smallestTestDir
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val before = registry.listFunction().toSet
    for (k <- keys) {
      SparkEntry.queries(k)(s, dir)
      assert(registry.listFunction().toSet === before, s"$k changed the registry")
    }
  }

  test("source guard: only the catalog touches the function registry, only GraftSql registers, one file in Spark's package") {
    val root = Paths.get("src/main/scala")
    val catalogFile = root.resolve("graft/functions/VectorExpressions.scala")
    val bridge = root.resolve("org/apache/spark/sql/GraftColumns.scala")
    val sqlSurface = root.resolve("graft/engine/Core.scala")
    val files = {
      val stream = Files.walk(root)
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq finally stream.close()
    }
    def code(p: Path): Seq[(String, Int)] =
      Files.readAllLines(p).asScala.toSeq.zipWithIndex
        .filterNot { case (l, _) => Seq("*", "//", "/*").exists(l.trim.startsWith) }
    val registry = """\b(call_function|createOrReplaceTempFunction|injectFunction|functionRegistry)\b""".r
    val register = """VectorExpressions\.register\(""".r
    assert(files.contains(catalogFile) && files.contains(bridge) && files.contains(sqlSurface))

    val registryUse = for (p <- files if p != catalogFile; (l, i) <- code(p)
                           if registry.findFirstIn(l).isDefined) yield s"$p:${i + 1}: ${l.trim}"
    assert(registryUse.isEmpty, s"function-registry use outside the catalog:\n${registryUse.mkString("\n")}")

    val registerCalls = for (p <- files; (l, i) <- code(p)
                             if register.findFirstIn(l).isDefined) yield (p, i)
    val lines = Files.readAllLines(sqlSurface).asScala
    val start = lines.indexWhere(_.contains("def registerTables("))
    val end = lines.indexWhere(_.startsWith("}"), start)
    assert(registerCalls.map(_._1) === Seq(sqlSurface) &&
      registerCalls.forall { case (_, i) => i > start && i < end },
      s"VectorExpressions.register called outside GraftSql.registerTables: $registerCalls")

    val packages = files.map(p => p -> code(p).map(_._1.trim).find(_.startsWith("package ")).getOrElse(""))
    val outside = packages.collect { case (p, pkg) if pkg != "package graft" &&
      !pkg.startsWith("package graft.") => p }
    assert(outside === Seq(bridge), "files outside package graft")
    assert(packages.toMap.apply(bridge) === "package org.apache.spark.sql")
  }
}
