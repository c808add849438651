package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
trait SparkSpec extends AnyFunSuite {
  private def builder = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(graft.engine.SessionConfs.All)

  lazy val spark: SparkSession = builder.getOrCreate()

  /** A new session on the shared context whose function registry holds
    * Spark's built-ins plus what `extensions` inject, and nothing else.
    * The active and default sessions stay as they were.
    */
  def sessionWith(extensions: SparkSessionExtensions => Unit): SparkSession = {
    spark // the shared context exists first, so the builder reuses it
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    try builder.withExtensions(extensions).create()
    finally {
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
    }
  }

  /** The sf dirs TESTDATA.md documents, where present, smallest first. */
  lazy val testDataDirs: Seq[String] = {
    val doc = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("TESTDATA.md")), "UTF-8")
    "`([^`]*/sf[0-9.]+)/?`".r.findAllMatchIn(doc).map(_.group(1)).toSeq.distinct
      .filter(d => new java.io.File(d).isDirectory)
  }

  /** The keys the benchmark's `essentials` workload cycles through,
    * read from graftbench's `Batch.Keys`.
    */
  lazy val essentialsKeys: Seq[String] = {
    val batch = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("graftbench/src/graftbench/Batch.scala")), "UTF-8")
    val list = "val Keys: Seq\\[String\\] = Seq\\(([^)]*)\\)".r.findFirstMatchIn(batch)
      .getOrElse(fail("no Keys list in graftbench/src/graftbench/Batch.scala")).group(1)
    "\"([a-z0-9_]+)\"".r.findAllMatchIn(list).map(_.group(1)).toSeq
  }

  /** The smallest sf dir TESTDATA.md documents; cancels the test if none is present. */
  def smallestTestDir: String =
    testDataDirs.headOption.getOrElse(cancel("no sf dir of TESTDATA.md is present"))

  /** Spark jobs started while `body` runs. Listener events arrive in
    * order, so once a sentinel job started after `body` is seen, every
    * job `body` launched has been counted.
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val sentinel = s"jobs-during-sentinel-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val seen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == sentinel))
          seen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS), "sentinel job never seen")
      jobs.get
    } finally sc.removeSparkListener(l)
  }

  /** The commands of the processes this JVM starts while `body` runs,
    * from an in-process JFR recording of `jdk.ProcessStart`. Two classes
    * start a process once per JVM when first initialized, at a time that
    * depends on the JVM, not on `body`: Spark's executor metrics getter
    * (`getconf PAGESIZE`, on the first heartbeat that polls it) and
    * Hadoop's `Shell` (`setsid`). They are initialized before recording.
    */
  def spawnsDuring(body: => Unit): Seq[String] = {
    Seq("org.apache.spark.executor.ProcfsMetricsGetter$", "org.apache.hadoop.util.Shell")
      .foreach(Class.forName(_, true, getClass.getClassLoader))
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val file = java.nio.file.Files.createTempFile("graft-spawns", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.toSeq.map(_.getString("command"))
    } finally {
      rec.close()
      java.nio.file.Files.delete(file)
    }
  }

  def ts(iso: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(iso))

  /** Offset seconds from the reference's serverStartTime
    * (reference: WindowFunctions.scala:21 — 2022-02-02T00:00:00Z).
    */
  def at(offsetSec: Double): java.sql.Timestamp =
    java.sql.Timestamp.from(
      java.time.Instant.parse("2022-02-02T00:00:00Z").plusMillis((offsetSec * 1000).toLong))
}

/** The reference's canonical deterministic fixture: 12 gaming events —
  * 6 PlayerRegistered + 6 PlayerOnline at offsets 2-10 s
  * (reference: WindowFunctions.scala:24-37; expected 3 s tumbling
  * registration counts [0,3)→1, [3,6)→3, [6,9)→2 per the discussion at
  * :51-52).
  */
object GamingFixture {
  case class ServerEvent(event_time: java.sql.Timestamp, event_type: String, player_id: String)

  val base: java.time.Instant = java.time.Instant.parse("2022-02-02T00:00:00Z")

  private def t(off: Long) = java.sql.Timestamp.from(base.plusSeconds(off))

  // (offset, type, player) — reference: WindowFunctions.scala:24-37
  val events: Seq[ServerEvent] = Seq(
    ServerEvent(t(2), "PlayerRegistered", "bob"),
    ServerEvent(t(3), "PlayerRegistered", "sam"),
    ServerEvent(t(4), "PlayerRegistered", "rob"),
    ServerEvent(t(4), "PlayerRegistered", "alice"),
    ServerEvent(t(6), "PlayerRegistered", "mary"),
    ServerEvent(t(8), "PlayerRegistered", "carl"),
    ServerEvent(t(3), "PlayerOnline", "bob"),
    ServerEvent(t(4), "PlayerOnline", "sam"),
    ServerEvent(t(5), "PlayerOnline", "rob"),
    ServerEvent(t(6), "PlayerOnline", "alice"),
    ServerEvent(t(7), "PlayerOnline", "mary"),
    ServerEvent(t(10), "PlayerOnline", "carl"),
  )
}
