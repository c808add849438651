package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, ChecksumCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.streaming.state.{NoPrefixKeyStateEncoderSpec, StateStoreConf, StateStoreId, StateStoreProvider, StateStoreProviderId}
import org.apache.spark.sql.types.{IntegerType, LongType, StructType}

import graft.streaming.StreamingOps

/** Streaming checkpoints are committed through Hadoop's FileSystem API
  * on graft's `file:` filesystem ([[graft.engine.SessionConfs]]): a
  * micro-batch forks no process, neither `readlink` nor `chmod`, and
  * the commit protocol Spark's checkpoint managers promise still holds —
  * temp file then one rename, no overwrite of a committed file, nothing
  * left by a cancelled write, checksum files beside the state deltas.
  */
class CheckpointFilesSpec extends SparkSpec {
  import CheckpointFilesSpec.Ev

  private def hadoopConf = spark.sessionState.newHadoopConf()

  private def bytes(p: JPath): Seq[Byte] = Files.readAllBytes(p).toSeq

  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSet

  /** Six micro-batches of keyed tumbling counts on a fresh local
    * checkpoint; returns the checkpoint dir and the processes started.
    */
  private lazy val tumbling: (JPath, Seq[String]) = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = Files.createTempDirectory("graft-ckpt")
    val input = MemoryStream[Ev]
    val counts = StreamingOps.keyedTumblingCounts(input.toDF(), "key", "ts",
      "1 second", "2 seconds")
    val spawned = spawnsDuring {
      // one process the recording must see, so an empty list means none
      new ProcessBuilder("true").start().waitFor()
      val q = counts.writeStream.format("memory").queryName("ckpt_counts")
        .outputMode("append").option("checkpointLocation", ckpt.toString).start()
      try (0 until 6).foreach { b =>
        input.addData((0 until 4).map(k => Ev(s"k$k", at(2.0 * b + k * 0.1))))
        q.processAllAvailable()
      } finally q.stop()
    }
    (ckpt, spawned)
  }

  test("a micro-batch commit forks no process") {
    val (ckpt, spawned) = tumbling
    assert(names(ckpt.resolve("commits")).count(_.forall(_.isDigit)) >= 5)
    assert(spawned.exists(_.startsWith("true")), spawned)
    val others = spawned.filterNot(_.startsWith("true"))
    assert(others.isEmpty, s"${others.size} processes, e.g. ${others.headOption}")
  }

  test("state deltas are still written with Spark's checksum file and Hadoop's .crc") {
    val (ckpt, _) = tumbling
    val partitions = Files.list(ckpt.resolve("state").resolve("0")).iterator.asScala.toSeq
    val files = partitions.flatMap(names)
    val deltas = files.filter(_.matches("[0-9]+\\.delta"))
    assert(deltas.nonEmpty, files)
    deltas.foreach { d =>
      assert(files.contains(s"$d.crc"), s"no Spark checksum file for $d")
      assert(files.contains(s".$d.crc"), s"no Hadoop checksum for $d")
    }
  }

  test("the session's checkpoints use the FileSystem manager, under the checksum wrapper for state") {
    val dir = Files.createTempDirectory("graft-ckpt-fm")
    assert(CheckpointFileManager.create(new Path(dir.toUri), hadoopConf)
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    val storeConf = new StateStoreConf(spark.sessionState.conf)
    assert(storeConf.checkpointFileChecksumEnabled)
    val keys = new StructType().add("k", IntegerType)
    val provider = StateStoreProvider.createAndInit(
      StateStoreProviderId(StateStoreId(dir.toString, 0L, 0), java.util.UUID.randomUUID()),
      keys, new StructType().add("v", LongType), NoPrefixKeyStateEncoderSpec(keys),
      false, storeConf, hadoopConf, false, None)
    try {
      // the provider's manager is not public API: read it as Spark built it
      val fm = provider.getClass.getMethod("fm").invoke(provider)
      assert(fm.isInstanceOf[ChecksumCheckpointFileManager], fm.getClass)
      val under = classOf[ChecksumCheckpointFileManager].getDeclaredField("underlyingFileMgr")
      under.setAccessible(true)
      assert(under.get(fm).isInstanceOf[FileSystemBasedCheckpointFileManager], under.get(fm).getClass)
    } finally provider.close()
  }

  test("createAtomic without overwrite onto a committed file throws and keeps its bytes") {
    val dir = Files.createTempDirectory("graft-ckpt-atomic")
    val fm = CheckpointFileManager.create(new Path(dir.toUri), hadoopConf)
    val p = new Path(dir.resolve("0").toUri)
    val first = fm.createAtomic(p, overwriteIfPossible = false)
    first.write("first".getBytes("UTF-8"))
    first.close()
    val before = bytes(dir.resolve("0"))
    val second = fm.createAtomic(p, overwriteIfPossible = false)
    second.write("second, longer".getBytes("UTF-8"))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException](second.close())
    assert(bytes(dir.resolve("0")) === before)
    assert(new String(before.toArray, "UTF-8") === "first")
    assert(names(dir).filterNot(_.startsWith(".")) === Set("0"))
  }

  test("a cancelled atomic stream leaves no visible file") {
    val dir = Files.createTempDirectory("graft-ckpt-cancel")
    val fm = CheckpointFileManager.create(new Path(dir.toUri), hadoopConf)
    val out = fm.createAtomic(new Path(dir.resolve("0").toUri), overwriteIfPossible = false)
    out.write("never published".getBytes("UTF-8"))
    out.cancel()
    assert(names(dir).filterNot(_.startsWith(".")).isEmpty, names(dir))
  }
}

object CheckpointFilesSpec {
  case class Ev(key: String, ts: java.sql.Timestamp)
}
