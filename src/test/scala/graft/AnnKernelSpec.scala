package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The ANN search kernel in `Similarity` (probeCells, nearestFirst,
  * ivfSearchAssigned, adcSearch, exactRerank, topKPerQuery) is the one
  * copy of each search step: every inline and staged IVF, PQ and IVF-PQ
  * serve calls it instead of writing the step out again.
  */
class AnnKernelSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private val sources: Seq[(Path, String)] = {
    val stream = Files.walk(root)
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), UTF_8))
    finally stream.close()
  }

  /** Each occurrence of `s` as (file name, name of the enclosing def). */
  private def sites(s: String): Seq[(String, String)] = {
    val defName = """\bdef\s+(\w+)""".r
    for {
      (p, text) <- sources
      at <- Iterator.iterate(text.indexOf(s))(i => text.indexOf(s, i + 1)).takeWhile(_ >= 0).toSeq
    } yield p.getFileName.toString ->
      defName.findAllMatchIn(text.substring(0, at)).toSeq.lastOption.fold("")(_.group(1))
  }

  test("source guard: each ANN search step is written once in src/main/scala") {
    assert(sites("""orderBy(col("sim").desc, col("cell").asc)""") ===
      Seq("Similarity.scala" -> "probeCells"))
    assert(sites(""".as("negsim")""") === Seq("Similarity.scala" -> "nearestFirst"))
    assert(sites("""Window.partitionBy(col("q_id"))""") ===
      Seq("Similarity.scala" -> "topKPerQuery"))
    assert(sites("floor(d2 * lit(1e9))").sortBy(_.swap) === Seq(
      "Similarity.scala" -> "adcSearch",
      "Similarity.scala" -> "exactRerank",
      "AnnIndex.scala" -> "pqMse"))
  }
}
