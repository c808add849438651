package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import graft.engine.Stores
import graft.functions.{AnnIndex, SigIndex}
import graft.operators.Scale

/** The staged-store seam ([[graft.engine.Stores]]) that every index
  * family and staged table goes through: fingerprinted names, the
  * publish-by-rename build-once contract — including the crash paths
  * (interrupted build, failing build) and the concurrent build that
  * production staging must survive — and the committed store names.
  */
class StoresSpec extends SparkSpec {

  private def fs = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def wipe(dir: String): Unit = Stores.of(spark, dir).foreach(fs.delete(_, true))

  private def write(p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def read(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Temp dirs of builds of `base`, beside it or inside it. */
  private def tempDirs(base: Path): Seq[String] = {
    def names(p: Path) = fs.listStatus(p).toSeq.map(_.getPath.getName)
    names(base.getParent).filter(_.startsWith(s"${base.getName}.tmp-")) ++
      (if (fs.exists(base)) names(base).filter(_.contains(".tmp-")) else Nil)
  }

  test("stage names a store by corpus dir, kind, and geometry — and only by them") {
    val dirs = Seq("/data/corpA", "/data/corpB")
    dirs.foreach(wipe)
    def name(dir: String, kind: String, geom: String): String =
      new Path(Stores.stage(spark, dir, kind, geom)(_ => ())).getName
    val a = name("/data/corpA", "test", "g1_r1")
    assert(a === name("/data/corpA", "test", "g1_r1"),
      "same inputs must resolve to the same store")
    assert(a !== name("/data/corpB", "test", "g1_r1"),
      "a different corpus dir must resolve to a different store")
    assert(a !== name("/data/corpA", "test2", "g1_r1"),
      "a different store kind must resolve to a different store")
    assert(a !== name("/data/corpA", "test", "g1_r2"),
      "a geometry/layout revision drift must resolve to a different store")
    assert(a === s"graft_test_${Stores.tag("/data/corpA")}_g1_r1")
    assert(Stores.tag("/data/corpA").matches("[0-9a-f]{8}"))

    // a segment nests inside its store, keyed by name and key tag
    val store = Stores.stage(spark, "/data/corpA", "test", "g1_r1")(_ => ())
    val seg = Stores.stageSegment(spark, store, "delta_b1", "k1")(_ => ())
    assert(seg === new Path(store, s"delta_b1_${Stores.tag("k1")}").toString)
    assert(Stores.stageSegment(spark, store, "delta_b1", "k2")(_ => ()) !== seg,
      "a changed segment key must resolve to a different segment")
    dirs.foreach(wipe)
  }

  test("stage: builds cold, skips on marker, and self-heals partial or failed builds") {
    val dir = "/tmp/stores-spec-corpus"
    wipe(dir)
    var builds = 0
    def build(): String = Stores.stage(spark, dir, "test", "g1_r1") { b =>
      builds += 1
      fs.create(new Path(b, "artifact")).close()
    }
    // cold: builds once, published with its marker
    val base = new Path(build())
    assert(builds === 1)
    assert(fs.exists(new Path(base, "artifact")))
    assert(fs.exists(new Path(base, Stores.Marker)))
    assert(tempDirs(base).isEmpty, "a published build must leave no temp dir")
    // warm: the marker short-circuits — no rebuild
    assert(build() === base.toString)
    assert(builds === 1, "a marker-valid store must not rebuild")

    // interrupted in-place build (the protocol before publish-by-rename):
    // directory exists, marker absent — plus stale garbage that a correct
    // rebuild must remove
    fs.delete(new Path(base, Stores.Marker), false)
    fs.create(new Path(base, "stale_partial_file")).close()
    build()
    assert(builds === 2, "a marker-less partial directory must rebuild")
    assert(!fs.exists(new Path(base, "stale_partial_file")),
      "rebuild must wipe the partial directory, not layer on top of it")
    assert(fs.exists(new Path(base, Stores.Marker)))

    // failing build: nothing is published and its temp dir is gone, so
    // the NEXT call tries again
    fs.delete(base, true)
    intercept[RuntimeException] {
      Stores.stage(spark, dir, "test", "g1_r1") { b =>
        fs.create(new Path(b, "artifact")).close()
        throw new RuntimeException("boom")
      }
    }
    assert(!fs.exists(base), "a failed build must not publish")
    assert(tempDirs(base).isEmpty, "a failed build must delete its temp dir")
    assert(build() === base.toString && builds === 3,
      "the store must rebuild after a failed attempt")
    wipe(dir)
  }

  test("two concurrent builds of one store publish one whole build and leave no temp dir") {
    val dir = "/tmp/stores-spec-race"
    wipe(dir)
    // the first build pauses between its two artifacts until the second,
    // started meanwhile, has returned (or 20 s have passed, should a build
    // ever wait for the other)
    val firstMidBuild = new CountDownLatch(1)
    val secondDone = new CountDownLatch(1)
    def build(id: String)(b: String): Unit = {
      write(new Path(b, "part1"), id)
      if (id == "first") {
        firstMidBuild.countDown()
        secondDone.await(20, TimeUnit.SECONDS)
      }
      write(new Path(b, "part2"), id)
    }
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val first = Future(Stores.stage(spark, dir, "race", "g1_r1")(build("first")))
      assert(firstMidBuild.await(20, TimeUnit.SECONDS), "the first build never started")
      val second = Future {
        try Stores.stage(spark, dir, "race", "g1_r1")(build("second"))
        finally secondDone.countDown()
      }
      val p1 = Await.result(first, 60.seconds)
      val p2 = Await.result(second, 60.seconds)
      assert(p1 === p2, "both calls must return the one published store")
      val base = new Path(p1)
      assert(fs.exists(new Path(base, Stores.Marker)))
      val parts = Seq("part1", "part2").map(n => read(new Path(base, n)))
      assert(parts.distinct.size === 1, s"artifacts from two builds: $parts")
      assert(tempDirs(base).isEmpty, s"temp dirs left beside or inside the store: ${tempDirs(base)}")
    } finally pool.shutdownNow()
    wipe(dir)
  }

  test("every store and staged table name at sf0.001 is one PLANS.txt names") {
    val sf = testDataDirs.find(_.endsWith("/sf0.001"))
      .getOrElse(cancel("the sf0.001 test dir is not present"))
    val stores = Seq(
      SigIndex.stageOnce(spark, sf), SigIndex.stageShingles(spark, sf),
      SigIndex.stageEmbLsh(spark, sf), SigIndex.stageBm25(spark, sf),
      SigIndex.stageBpe(spark, sf), SigIndex.stageClusters(spark, sf),
      AnnIndex.stageOnce(spark, sf), AnnIndex.stageAuto(spark, sf)._1,
      AnnIndex.stageIncrBase(spark, sf))
    Scale.q18Bucketed(spark, sf)
    Scale.prunedLangCounts(spark, sf)
    val tag = Stores.tag(sf)
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(t => t.startsWith("graft_") && t.endsWith(s"_$tag"))
    val staged = (stores.map(new Path(_).getName) ++ tables).toSet
    val plans = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLANS.txt")), UTF_8)
    val planned = s"graft_[a-z0-9]+_(?:[a-z]+_)?$tag[A-Za-z0-9_]*".r
      .findAllIn(plans).toSet
    assert(planned.size === 12, planned)
    assert(staged === planned)
    val delta = new Path(AnnIndex.appendToIndex(spark, sf, AnnIndex.incrNewPred)).getName
    assert(plans.contains(s"/$delta/"), s"$delta is not a segment PLANS.txt reads")
  }

  test("only engine/Stores.scala spells the store tag, a marker or the warehouse dir") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val seam = root.resolve("graft/engine/Stores.scala")
    val layout = Seq(""".take(4).map("%02x"""", "\"_GRAFT_", "spark.sql.warehouse.dir")
    val seamText = new String(java.nio.file.Files.readAllBytes(seam), UTF_8)
    layout.foreach(s => assert(seamText.contains(s), s"the seam no longer holds $s"))
    val offenders = java.nio.file.Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != seam)
      .flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), UTF_8)
        layout.filter(text.contains).map(s => s"${root.relativize(p)}: $s")
      }.toSeq
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
