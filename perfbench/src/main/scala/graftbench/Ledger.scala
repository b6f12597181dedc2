package graftbench

import scala.collection.mutable

/** Minimal JSON rendering for the run records. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def apply(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}

/**
 * Per-layer ledger of a traced run: splits each op's time across graft's
 * layers (the child spans) and Spark execution (the job grandchildren),
 * and reduces it to the per-layer metrics the benchmark reports. Layers a
 * workload does not exercise report 0.
 */
final class Ledger(tr: Tracer, samples: Seq[Sample], opsPerS: Double) {
  private val ops = tr.opSpans
  private def dur(s: Span) = s.end - s.start
  private def c(s: Span, k: String) = s.counters.getOrElse(k, 0.0)
  private val jobsByOp: Map[Int, Seq[JobLog#Job]] = ops.map(o => o.id -> tr.jobsOf(o)).toMap
  private def jobsIn(s: Span): Seq[JobLog#Job] = {
    val root = ops.find(_.op == s.op)
    root.map(r => jobsByOp(r.id)).getOrElse(Nil)
      .filter(j => j.start >= s.start && j.start <= s.end)
  }
  private def jobTime(s: Span, js: Seq[JobLog#Job]) =
    Intervals.covered(js.map(j => (j.start, if (j.end.isNaN) s.end else j.end)), s.start, s.end)
  private def named(n: String) = tr.spans.filter(_.name == n).toSeq
  private def meanOf(xs: Seq[Double]) = Stats.mean(xs)
  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)

  private val opExec = ops.map(o => jobTime(o, jobsByOp(o.id)))
  private val totalOpMs = ops.map(dur).sum

  def metrics: mutable.LinkedHashMap[String, (Double, String)] = {
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(k: String, v: Double, unit: String): Unit =
      m(k) = (if (v.isNaN || v.isInfinite) 0.0 else v, unit)
    val n = math.max(ops.size, 1).toDouble

    put("Catalog.getTable_ms", meanOf(named("Catalog.getTable").map(dur)), "ms")
    put("fs.bytes_read_per_op", ops.map(c(_, "fs.bytes_read")).sum / n, "B")

    val commits = named("Catalog.commit")
    val commitSpark = commits.map(s => jobTime(s, jobsIn(s)))
    put("Catalog.commit_ms", med(commits.map(dur)), "ms")
    put("Catalog.commit.spark_ms", meanOf(commitSpark), "ms")
    put("Catalog.commit.driver_ms", meanOf(commits.zip(commitSpark).map { case (s, x) => dur(s) - x }), "ms")
    put("Catalog.commit.jobs", meanOf(commits.map(jobsIn(_).size.toDouble)), "count")
    put("fs.bytes_written_per_commit", meanOf(commits.map(c(_, "fs.bytes_written"))), "B")
    put("storage.files_added_per_commit", meanOf(commits.map(c(_, "storage.files_added"))), "count")

    val compacts = named("Catalog.maybeCompact")
    val (folds, checks) = compacts.partition(c(_, "folded") > 0)
    put("Catalog.compact.check_ms", med(checks.map(dur)), "ms")
    put("Catalog.compact.fold_ms", meanOf(folds.map(dur)), "ms")
    put("Catalog.compact.folds", folds.size.toDouble, "count")
    put("Catalog.compact.bytes_rewritten", folds.map(c(_, "fs.bytes_written")).sum, "B")
    put("storage.tail_files", ops.lastOption.map(c(_, "storage.tail_files")).getOrElse(0.0), "count")

    put("LineageTable.plan_ms", meanOf(named("LineageTable.plan").map(dur)), "ms")
    put("spark.exec_ms", opExec.sum / n, "ms")
    put("spark.task_ms", ops.map(o => jobsByOp(o.id).map(_.taskMs).sum).sum / n, "ms")
    put("spark.jobs_per_op", ops.map(o => jobsByOp(o.id).size).sum / n, "count")
    put("spark.driver_gap_ms", (totalOpMs - opExec.sum) / n, "ms")
    put("spark.shuffle_bytes_per_op", ops.map(o => jobsByOp(o.id).map(_.shuffleBytes).sum).sum / n, "B")
    val reads = ops.filter(c(_, "rows_out") > 0)
    put("spark.rows_read_per_row_out",
      reads.map(o => jobsByOp(o.id).map(_.recordsRead).sum).sum /
        math.max(reads.map(c(_, "rows_out")).sum, 1.0), "ratio")

    put("GraftSql.dispatch_ms", meanOf(named("GraftSql.sql").map(dur)), "ms")
    val writes = samples.filter(_.kind == "write")
    val sqlW = writes.filter(_.shape.endsWith("-sql")).map(_.ms)
    val apiW = writes.filter(_.shape.endsWith("-api")).map(_.ms)
    put("GraftSql.dml_overhead_ms",
      if (sqlW.isEmpty || apiW.isEmpty) 0.0 else Stats.median(sqlW) - Stats.median(apiW), "ms")

    val drains = named("StreamOps.drainAppend")
    put("StreamOps.attach_ms", meanOf(named("StreamOps.changeFeed").map(dur)), "ms")
    put("StreamOps.drain_ms", meanOf(drains.map(dur)), "ms")
    put("StreamOps.drain_jobs", meanOf(drains.map(jobsIn(_).size.toDouble)), "count")
    put("StreamOps.checkpoint_bytes", meanOf(ops.filter(c(_, "checkpoint_bytes") > 0)
      .map(c(_, "checkpoint_bytes"))), "B")
    put("StreamOps.feed_lag_ms",
      med(samples.filter(_.kind == "feed").map(_.ms)), "ms")

    put("jvm.gc_ms_per_op", ops.map(c(_, "jvm.gc_ms")).sum / n, "ms")
    put("jvm.heap_peak_mb", Ledger.heapPeakMb, "MB")

    put("trace.spark_share", if (totalOpMs > 0) opExec.sum / totalOpMs else 0.0, "ratio")
    put("trace.driver_share", if (totalOpMs > 0) 1 - opExec.sum / totalOpMs else 0.0, "ratio")
    put("trace.ops_per_s", opsPerS, "ops/s")
    put("trace.self_ms_per_op", tr.selfMs / n, "ms")
    m
  }

  /** Per op class: time split between Spark jobs and the driver, and the
    * self time of each layer's calls. */
  def byClass: Map[String, Any] =
    ops.groupBy(_.name.stripPrefix("op:")).toSeq.sortBy(_._1).map { case (cls, os) =>
      val exec = os.map(o => jobTime(o, jobsByOp(o.id))).sum
      val total = os.map(dur).sum
      val layer = mutable.LinkedHashMap.empty[String, Double]
      os.foreach { o =>
        val kids = tr.children(o)
        kids.foreach { k =>
          val self = dur(k) - jobTime(k, jobsIn(k))
          layer(k.name + ".self_ms") = layer.getOrElse(k.name + ".self_ms", 0.0) + self / os.size
          layer(k.name + ".spark_ms") = layer.getOrElse(k.name + ".spark_ms", 0.0) +
            jobTime(k, jobsIn(k)) / os.size
        }
        val outside = dur(o) - Intervals.covered(kids.map(k => (k.start, k.end)), o.start, o.end)
        layer("benchmark.self_ms") = layer.getOrElse("benchmark.self_ms", 0.0) + outside / os.size
      }
      cls -> Map(
        "ops" -> os.size,
        "mean_ms" -> total / os.size,
        "spark_share" -> (if (total > 0) exec / total else 0.0),
        "driver_share" -> (if (total > 0) 1 - exec / total else 0.0),
        "jobs_per_op" -> os.map(o => jobsByOp(o.id).size).sum.toDouble / os.size,
        "folds" -> os.flatMap(tr.children).count(k => k.name == "Catalog.maybeCompact" &&
          k.counters.getOrElse("folded", 0.0) > 0),
        "layers" -> layer)
    }.toMap

  def spansJson: String = {
    val spanRecs = tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "counters" -> s.counters))
    val jobRecs = ops.flatMap(o => jobsByOp(o.id).map(j => Map("job" -> j.id,
      "op" -> o.op, "parent" -> o.id, "group" -> j.group, "start_ms" -> j.start, "end_ms" -> j.end,
      "tasks" -> j.tasks, "task_ms" -> j.taskMs, "records_read" -> j.recordsRead,
      "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes, "gc_ms" -> j.gcMs)))
    Json(Map("spans" -> spanRecs, "jobs" -> jobRecs))
  }
}

object Ledger {
  def heapPeakMb: Double = {
    var peak = 0L
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) peak += p.getPeakUsage.getUsed
    }
    peak / 1048576.0
  }
}
