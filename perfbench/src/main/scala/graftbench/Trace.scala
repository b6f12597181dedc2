package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span: one op (root), one public call into a graft layer (child), or
  * one Spark job (grandchild, from the listener). Times are epoch ms. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Double, var end: Double,
                      counters: mutable.LinkedHashMap[String, Double] =
                        mutable.LinkedHashMap.empty)

/** Counters read at every span boundary; a span records their deltas. */
private object Counters {
  private def fsStat(key: String): Double =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong(key))).map(_.toDouble).getOrElse(0.0)
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans
  def read(): Array[Double] = {
    var gcMs = 0L
    var gcN = 0L
    val it = gcs.iterator()
    while (it.hasNext) { val g = it.next(); gcMs += g.getCollectionTime; gcN += g.getCollectionCount }
    Array(fsStat("bytesRead"), fsStat("bytesWritten"), gcMs.toDouble, gcN.toDouble)
  }
  val names = Array("fs.bytes_read", "fs.bytes_written", "jvm.gc_ms", "jvm.gc_count")
  def bytesWritten(): Double = fsStat("bytesWritten")
}

/** Spark jobs seen by the listener, with their task metrics summed. */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val group: String, val start: Double) {
    @volatile var end: Double = Double.NaN
    var taskMs, recordsRead, shuffleBytes, spillBytes, gcMs, tasks = 0.0
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val j = new Job(e.jobId, g.getOrElse(""), e.time.toDouble)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) j.synchronized {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.recordsRead += m.inputMetrics.recordsRead
      j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.gcMs += m.jvmGCTime
    }
  /** Wait until every started job has ended (listener events are async). */
  def settle(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    def open = { var n = 0; jobs.values.forEach(j => if (j.end.isNaN) n += 1); n }
    while (open > 0 && System.currentTimeMillis < deadline) Thread.sleep(20)
  }
}

/**
 * Span recorder for the traced run. Spans are timed from outside graft:
 * each op is a root span, each public call the benchmark makes into a
 * graft layer is a child span, and each Spark job is a grandchild.
 * Jobs are tied to their op through `SparkContext.setJobGroup`, which graft
 * never sets; jobs from a streaming query's own thread carry the query's
 * group, and fall back to the op whose time window holds them (safe with a
 * single client). Everything stays in memory until the run ends.
 * With tracing off every method is a direct call of its body.
 */
final class Tracer(sc: SparkContext, enabled: Boolean, tableDir: java.io.File) {
  private val wall0 = System.currentTimeMillis.toDouble
  private val nano0 = System.nanoTime
  private def now: Double = wall0 + (System.nanoTime - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var curOp = -1
  /** Time spent inside the tracer's own bookkeeping. */
  var selfMs = 0.0
  val jobLog = new JobLog
  if (enabled) sc.addSparkListener(jobLog)

  private def tableFiles(dirName: String): Double =
    Files.countUnder(new java.io.File(tableDir, dirName), _.getName.endsWith(".parquet")).toDouble

  def op[A](i: Int, cls: String)(body: => A): A =
    if (!enabled) body
    else {
      curOp = i
      sc.setJobGroup(s"perfbench-op-$i", cls)
      try span(s"op:$cls", files = true)(body)
      finally { sc.clearJobGroup(); curOp = -1 }
    }

  /** A child span around one public call. `files` also records the
    * table's parquet file counts, for commit and maintenance calls. */
  def span[A](name: String, files: Boolean = false)(body: => A): A =
    if (!enabled || curOp < 0) body
    else {
      val b0 = System.nanoTime
      val before = Counters.read()
      val filesBefore = if (files) Array(tableFiles("."), tableFiles("tail")) else null
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), curOp, name, now, Double.NaN)
      spans += s
      stack ::= s
      selfMs += (System.nanoTime - b0) / 1e6
      try body
      finally {
        val e0 = System.nanoTime
        s.end = now
        stack = stack.tail
        val after = Counters.read()
        var k = 0
        while (k < after.length) { s.counters(Counters.names(k)) = after(k) - before(k); k += 1 }
        if (files) {
          val tf = tableFiles(".")
          s.counters("storage.files_added") = tf - filesBefore(0)
          s.counters("storage.tail_files") = tableFiles("tail")
        }
        selfMs += (System.nanoTime - e0) / 1e6
      }
    }

  /** Attach a number to the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(_.counters(key) = v)

  def opSpans: Seq[Span] = spans.filter(_.parent < 0).toSeq
  def children(p: Span): Seq[Span] = spans.filter(_.parent == p.id).toSeq

  /** Jobs of an op: tagged by job group, else inside its time window. */
  def jobsOf(root: Span): Seq[JobLog#Job] = {
    val tag = s"perfbench-op-${root.op}"
    val all = mutable.ArrayBuffer.empty[JobLog#Job]
    jobLog.jobs.values.forEach { j =>
      if (j.group == tag || (!j.group.startsWith("perfbench-op-") &&
          j.start >= root.start && j.start <= root.end)) all += j
    }
    all.sortBy(_.start).toSeq
  }
}

object Intervals {
  /** Total length covered by a set of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
