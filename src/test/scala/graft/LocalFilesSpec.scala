package graft

import java.io.RandomAccessFile
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.engine.GraftLocalFileSystem

/** graft's `file:` filesystem ([[graft.engine.SessionConfs]]) creates
  * files and directories without starting a process, and leaves them as
  * Hadoop's own `LocalFileSystem` does: the same permission bits, the same
  * `.crc` sidecars, verified on read.
  */
class LocalFilesSpec extends SparkSpec {

  private def hadoopConf: Configuration = spark.sessionState.newHadoopConf()

  private def local: FileSystem = FileSystem.get(URI.create("file:///"), hadoopConf)

  private def path(p: JPath): Path = new Path(p.toUri)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path -> permission bits (setuid, setgid, sticky, rwx) of
    * everything under `root`, hidden `.crc` files included.
    */
  private def modes(root: JPath): Map[String, Int] =
    Files.walk(root).iterator.asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap

  test("writing parquet, creating a file and making directories start no process") {
    import spark.implicits._
    val conf = hadoopConf
    val dir = Files.createTempDirectory("graft-local-files")
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val spawned = spawnsDuring {
      // one process the recording must see, so an empty list means none
      new ProcessBuilder("true").start().waitFor()
      df.write.parquet(dir.resolve("table").toString)
      val fs = FileSystem.get(dir.toUri, conf)
      fs.create(new Path(path(dir), graft.engine.Stores.Marker)).close() // a store's marker
      fs.mkdirs(new Path(path(dir), "a/b/c"))
    }
    assert(Files.exists(dir.resolve("table/_SUCCESS")))
    assert(Files.isDirectory(dir.resolve("a/b/c")))
    assert(spawned.exists(_.startsWith("true")), spawned)
    val others = spawned.filterNot(_.startsWith("true"))
    assert(others.isEmpty, s"${others.size} processes, e.g. ${others.headOption}")
  }

  test("the session's file: filesystem is graft's, and still a LocalFileSystem") {
    // Hadoop caches one instance per scheme, authority and user, so this also
    // fails if the JVM opened a file: path before it built a graft session
    val fs = local
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass)
    assert(fs.isInstanceOf[LocalFileSystem], fs.getClass)
  }

  test("files and directories get the permission bits stock Hadoop gives them") {
    val stockConf = new Configuration(hadoopConf)
    stockConf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    val stock = FileSystem.newInstance(URI.create("file:///"), stockConf)
    assert(stock.getClass === classOf[LocalFileSystem])
    def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)
    def exercise(fs: FileSystem, root: JPath): Unit = {
      val r = path(root)
      fs.create(new Path(r, "default/file")).close()
      fs.mkdirs(new Path(r, "default/a/b"))
      fs.create(new Path(r, "private")).close()
      fs.setPermission(new Path(r, "private"), perm("600"))
      fs.mkdirs(new Path(r, "owner-only"), perm("700"))
      fs.mkdirs(new Path(r, "sticky"))
      fs.setPermission(new Path(r, "sticky"), perm("1777"))
      // a directory made under a setgid one inherits the bit, and GNU chmod keeps it
      fs.mkdirs(new Path(r, "shared"))
      Files.setAttribute(root.resolve("shared"), "unix:mode", Integer.parseInt("2775", 8))
      fs.mkdirs(new Path(r, "shared/sub"))
      fs.create(new Path(r, "shared/sub/file")).close()
    }
    val ours = Files.createTempDirectory("graft-modes-ours")
    val theirs = Files.createTempDirectory("graft-modes-stock")
    try {
      exercise(local, ours)
      exercise(stock, theirs)
    } finally stock.close()
    val (a, b) = (modes(ours), modes(theirs))
    assert(a.keySet === b.keySet)
    assert(a.keySet.contains("default/.file.crc"), a.keySet)
    a.keys.toSeq.sorted.foreach { k =>
      assert(a(k).toOctalString === b(k).toOctalString, k)
    }
    assert(a("sticky").toOctalString === "1777")
    assert(a("private").toOctalString === "600")
    assert((a("shared/sub") & 0x400) != 0, "setgid kept on shared/sub")
  }

  test("checksum sidecars are written and renamed, and a flipped byte fails the read") {
    val fs = local
    val dir = Files.createTempDirectory("graft-local-crc")
    val (p, q) = (new Path(path(dir), "data"), new Path(path(dir), "moved"))
    val out = fs.create(p)
    out.write(Array.tabulate[Byte](4096)(i => (i % 251).toByte))
    out.close()
    assert(Files.exists(dir.resolve(".data.crc")))
    assert(fs.rename(p, q))
    assert(Files.exists(dir.resolve(".moved.crc")) && !Files.exists(dir.resolve(".data.crc")))
    val in = fs.open(q)
    try assert(in.readAllBytes().length === 4096) finally in.close()
    val raw = new RandomAccessFile(dir.resolve("moved").toFile, "rw")
    try {
      raw.seek(100)
      val b = raw.read()
      raw.seek(100)
      raw.write(b ^ 0xff)
    } finally raw.close()
    val bad = fs.open(q)
    try intercept[ChecksumException](bad.readAllBytes()) finally bad.close()
  }
}
