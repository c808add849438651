package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer: `qid` ties together the spans of one query
  * execution (or one micro-batch), `parent` is the span that caused it.
  */
final case class Span(id: Int, parent: Int, name: String, qid: String,
                      startMs: Double, endMs: Double, attrs: Map[String, Double])

/** In-memory span store, written out once when the run ends. With tracing
  * off every call is a no-op, so the untraced run pays nothing for it.
  */
final class Spans(val on: Boolean) {
  private val origin = System.nanoTime()
  private val originEpochMs = System.currentTimeMillis()
  private val buf = mutable.ArrayBuffer.empty[Span]

  def ms(ns: Long): Double = (ns - origin) / 1e6

  /** A span timed by wall-clock epoch milliseconds, as Spark reports them. */
  def addEpoch(name: String, qid: String, startMs: Long, endMs: Long,
               attrs: Map[String, Double]): Unit = synchronized {
    if (on) buf += Span(buf.size, -1, name, qid, (startMs - originEpochMs).toDouble,
      (endMs - originEpochMs).toDouble, attrs)
  }

  def add(name: String, qid: String, startNs: Long, endNs: Long,
          parent: Int = -1, attrs: Map[String, Double] = Map.empty): Int = synchronized {
    if (!on) -1
    else {
      buf += Span(buf.size, parent, name, qid, ms(startNs), ms(endNs), attrs)
      buf.size - 1
    }
  }

  def write(path: java.nio.file.Path): Unit = if (on) {
    val lines = buf.iterator.map { s =>
      val attrs = s.attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","qid":"${s.qid}",""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)},""" +
        s""""attrs":{${attrs.mkString(",")}}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Executor-side work attributed to one tag (a query phase, a table open,
  * a store build or the stream), summed from listener events.
  */
final class Work {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var maxTaskMs = 0L
  /** [submit, end] wall-clock interval of every finished job, epoch ms. */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [from, to] covered by at least one job. */
  def jobCoveredMs(from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    jobSpans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered
  }
}

/** Attributes jobs, stages and tasks to the tag set as the `Tag` local
  * property when the job was submitted.
  */
final class JobListener extends SparkListener {
  private val byTag = mutable.HashMap.empty[String, Work]
  private val jobTag = mutable.HashMap.empty[Int, (String, Long)]
  private val stageTag = mutable.HashMap.empty[Int, String]

  private def work(tag: String): Work = byTag.getOrElseUpdate(tag, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.Tag)))
      .getOrElse("untagged")
    jobTag(e.jobId) = (tag, e.time)
    e.stageIds.foreach(stageTag(_) = tag)
    work(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTag.remove(e.jobId).foreach { case (tag, start) => work(tag).jobSpans += ((start, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = work(stageTag.getOrElse(e.stageId, "untagged"))
    w.tasks += 1
    w.maxTaskMs = math.max(w.maxTaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.runMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Removes and returns everything recorded under `tag`, after the bus
    * has delivered all events posted so far.
    */
  def take(sc: SparkContext, tag: String): Work = {
    org.apache.spark.BusDrain(sc)
    synchronized(byTag.remove(tag).getOrElse(new Work))
  }
}

object JobListener {
  val Tag = "graftbench.tag"

  /** Runs `f` with every job it submits tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    sc.setLocalProperty(Tag, tag)
    try f finally sc.setLocalProperty(Tag, null)
  }
}

/** A fixed single-thread CPU kernel whose time tracks host speed only, so
  * host drift can be told apart from a change in the program.
  */
object Calib {
  def runMs(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 40000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 1023
      i += 1
    }
    if (acc == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]].toSeq.sortBy(_._1))
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
  }

  def obj(m: Seq[(String, Any)]): String =
    m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
