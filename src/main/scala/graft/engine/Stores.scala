package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The staged-store seam: the one place that knows how a build-once
  * artifact is named, found, built and published. Every staged index
  * family ([[graft.functions.AnnIndex]] — IVF/PQ vector indexes;
  * [[graft.functions.SigIndex]] — minhash signature, shingle, sign-LSH
  * bucket, BM25 postings, BPE and cluster stores) and every staged
  * catalog table ([[graft.operators.Scale]]) goes through it; serves then
  * read the artifacts through [[Tables.parquet]].
  *
  *  - Name: one directory per (corpus dir, kind, geometry),
  *    `graft_<kind>_<tag>_<geom>` under the Spark warehouse, where the
  *    tag is [[tag]] of the corpus dir. Tag and geometry TOGETHER are the
  *    staleness contract — a different corpus dir or a drifted geometry
  *    resolves to a different directory, so a serve can never read an
  *    index built for other data or other parameters. Geometry strings
  *    carry a trailing layout-revision suffix (`r1`, `r2`, ...); adding
  *    artifacts to a build without bumping it would serve stale
  *    marker-valid dirs that lack the new files. Staged tables are named
  *    `graft_<kind>_<name>_<tag>`.
  *  - Find: a store is published when its [[Marker]] exists; that probe
  *    is the only I/O a warm call makes.
  *  - Build and publish: a missing marker builds into a fresh sibling
  *    `<store>.tmp-<uuid>`, writes the marker there LAST, and renames the
  *    temp directory to the store. The rename is the one commit step, so
  *    a published store is always complete: an interrupted build leaves
  *    only its temp directory (safe to delete), a failed build deletes
  *    its own, and of two concurrent builds the second to finish finds
  *    the first's store published and discards its own output. A
  *    marker-less store directory (written in place before builds were
  *    published by rename) is wiped and replaced.
  *
  * The build closure receives the TEMP path and must write every artifact
  * under it (reading its own artifacts back from there is fine); callers
  * get the final path. [[Tables]]' schema memo keeps one entry per temp
  * path a build reads, and the first serve of the published path infers
  * its schema once more.
  */
private[graft] object Stores {

  /** The completion marker every store carries once published. */
  val Marker = "_GRAFT_OK"

  /** 8-hex-digit fingerprint of a string (md5): the corpus-dir tag in
    * every store and table name, and the predicate tag of a segment.
    */
  def tag(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  private def warehouse(spark: SparkSession): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"))

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Find or build the store of (corpus `dir`, `kind`, `geom`); returns
    * its directory.
    */
  def stage(spark: SparkSession, dir: String, kind: String, geom: String)(
      build: String => Unit): String =
    stageAt(spark, new Path(warehouse(spark), s"graft_${kind}_${tag(dir)}_$geom"))(build)

  /** Find or build a segment nested in a published store,
    * `<store>/<name>_<tag(key)>` — an append that must never rewrite the
    * store itself. The key (e.g. a batch predicate) is in the name, so a
    * changed key lands in a fresh segment instead of serving a stale one.
    */
  def stageSegment(spark: SparkSession, store: String, name: String, key: String)(
      build: String => Unit): String =
    stageAt(spark, new Path(store, s"${name}_${tag(key)}"))(build)

  private def stageAt(spark: SparkSession, base: Path)(build: String => Unit): String = {
    val fs = fsOf(spark, base)
    if (!fs.exists(new Path(base, Marker))) {
      val tmp = new Path(base.getParent, s"${base.getName}.tmp-${java.util.UUID.randomUUID}")
      try {
        build(tmp.toString)
        fs.create(new Path(tmp, Marker)).close()
        if (!fs.exists(new Path(base, Marker))) {
          if (fs.exists(base)) fs.delete(base, true)
          fs.rename(tmp, base)
        }
        // a rename that lost a race to a concurrent publish moved the temp
        // directory INTO the published store (Hadoop's rename onto an
        // existing directory)
        val nested = new Path(base, tmp.getName)
        if (fs.exists(nested)) fs.delete(nested, true)
        if (!fs.exists(new Path(base, Marker)))
          throw new java.io.IOException(s"could not publish $tmp as $base")
      } finally if (fs.exists(tmp)) fs.delete(tmp, true)
    }
    base.toString
  }

  /** Find or write the staged catalog table `graft_<kind>_<name>_<tag>`
    * of corpus `dir`; returns the table name. `write` creates the table
    * under the name it is given; a table already in the session catalog
    * is reused, and a warehouse directory left without one (an
    * interrupted write) is removed first, since it would block the
    * managed-table CREATE.
    *
    * Same-session staleness: if the corpus dir's parquet is regenerated
    * WITHIN one session, the registered table keeps serving the earlier
    * staging (the tag isolates different paths, not rewrites of one
    * path) — acceptable because testdata dirs are immutable per run.
    */
  def stageTable(spark: SparkSession, dir: String, kind: String, name: String)(
      write: String => Unit): String = {
    val table = s"graft_${kind}_${name}_${tag(dir)}"
    if (!spark.catalog.tableExists(table)) {
      val loc = new Path(warehouse(spark), table.toLowerCase)
      val fs = fsOf(spark, loc)
      if (fs.exists(loc)) fs.delete(loc, true)
      write(table)
    }
    table
  }

  /** Every store directory of corpus `dir` in the warehouse, leftover
    * temp directories of interrupted builds included.
    */
  def of(spark: SparkSession, dir: String): Seq[Path] = {
    val wh = warehouse(spark)
    val fs = fsOf(spark, wh)
    if (!fs.exists(wh)) Nil
    else fs.listStatus(wh).toSeq.map(_.getPath).filter(_.getName.contains(s"_${tag(dir)}_"))
  }
}
