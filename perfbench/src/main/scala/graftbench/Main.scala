package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run: one workload, one seed, one fresh JVM.
 *
 *   graftbench.Main --workload <oltp_point|olap_lineage|cdc_ingest>
 *                   --seed <n> --seconds <s> --trace <0|1> --work <dir>
 *
 * Setup (session, fixture, table, setup commits, warm-up) is timed from
 * main() entry; then scheduled ops run one after another, a single client
 * in a closed loop, until `seconds` have passed, the workload's minimum
 * op count is done, and the schedule reaches a block boundary. Every op
 * is checked against the workload's own model. The
 * last stdout line is the result record; the run's detail record (and,
 * traced, the span file and per-layer ledger) are written under `work`.
 */
object Main {
  /** The per-workload hard stop, so that a much slower program still ends
    * the run well inside its time limit. */
  private val hardCapS = 100.0

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val table = workload match {
      case "oltp_point" | "cdc_ingest" => "orders"
      case "olap_lineage" => "lineitem"
      case other => System.err.println(s"unknown workload: $other"); sys.exit(2)
    }
    val runDir = new File(work, s"run-$workload-$seed-${ProcessHandle.current.pid}")
    Files.deleteTree(runDir)
    runDir.mkdirs()
    val sentinelBefore = ioSentinelMs(runDir)
    val loadBefore = loadAvg()

    val nproc = Runtime.getRuntime.availableProcessors
    val spark = session(runDir, nproc)
    val sessionS = (System.nanoTime - t0) / 1e9
    val fail = new Failures
    val wh = new File(runDir, "warehouse").toURI.toString
    val tr = new Tracer(spark.sparkContext, trace, new File(new File(runDir, "warehouse"), table))
    val wl: Workload = workload match {
      case "oltp_point" => new Oltp(spark, wh, seed, tr, fail)
      case "olap_lineage" => new Olap(spark, wh, seed, tr, fail)
      case "cdc_ingest" => new Cdc(spark, wh, seed, tr, fail)
    }

    val oracleS = wl.setup()
    val tablesS = (System.nanoTime - t0) / 1e9 - oracleS
    wl.warmup()
    System.gc()
    val setupS = (System.nanoTime - t0) / 1e9 - oracleS
    System.err.println(f"[perfbench] $workload seed=$seed setup ${setupS}%.2fs: session ${sessionS}%.2fs, " +
      f"tables ${tablesS - sessionS}%.2fs, warm-up ${setupS - tablesS}%.2fs (oracle ${oracleS}%.2fs excluded)")

    val samples = mutable.ArrayBuffer.empty[Sample]
    wl.checkMs = 0.0
    val bw0 = Counters.bytesWritten()
    val m0 = System.nanoTime
    var i = 0
    var done = false
    while (!done) {
      fail.attempted += 1
      try samples ++= wl.op(i)
      catch { case e: Throwable => fail.fail(s"op $i threw ${e.getClass.getName}: ${e.getMessage}") }
      i += 1
      val elapsed = (System.nanoTime - m0) / 1e9
      done = (elapsed >= seconds && i >= wl.minOps && wl.boundary(i - 1)) || elapsed >= hardCapS
    }
    val wallS = (System.nanoTime - m0) / 1e9 - wl.checkMs / 1e3
    val measuredBytesWritten = Counters.bytesWritten() - bw0
    val opsPerS = i / wallS

    // The live snapshot, written once by plain Spark: the space baseline,
    // and the copy the final check reads back.
    val f0 = System.nanoTime
    val tableBytes = Files.bytesUnder(wl.tableDir).toDouble
    val baseline = new File(runDir, "space_baseline")
    wl.snapshot().coalesce(1).write.parquet(baseline.toURI.toString)
    val spaceAmp = tableBytes / Files.bytesUnder(baseline).toDouble
    try wl.finish(spark.read.parquet(baseline.toURI.toString))
    catch { case e: Throwable => fail.fail(s"final check threw ${e.getClass.getName}: ${e.getMessage}") }
    val writeAmp =
      if (wl.logicalBytes > 0) measuredBytesWritten / wl.logicalBytes
      else wl.setupBytesWritten / wl.setupLogicalBytes
    val finishS = (System.nanoTime - f0) / 1e9

    val readSamples = samples.filter(_.kind == "read").toSeq
    val writeSamples = (samples.filter(_.kind == "write") ++ wl.setupSamples).toSeq
    val reads = readSamples.map(_.ms)
    val writes = writeSamples.map(_.ms)
    val feeds = samples.filter(_.kind == "feed").map(_.ms).toSeq
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (opsPerS, "ops/s"),
      "read_ms" -> (Stats.shapeMean(readSamples), "ms"),
      "write_ms" -> (Stats.shapeMean(writeSamples), "ms"),
      "space_amp" -> (spaceAmp, "ratio"),
      "write_amp" -> (writeAmp, "ratio"))

    val layer =
      if (!trace) mutable.LinkedHashMap.empty[String, (Double, String)]
      else {
        tr.jobLog.settle(10000)
        val ledger = new Ledger(tr, samples.toSeq, opsPerS)
        val m = ledger.metrics
        m("read_p50_ms") = (Stats.median(reads), "ms")
        m("write_p50_ms") = (Stats.median(writes), "ms")
        m("ops_failed_frac") = (fail.failed.toDouble / fail.attempted, "ratio")
        write(new File(work, s"spans-$workload-seed$seed.json"), ledger.spansJson)
        write(new File(work, s"ledger-$workload-seed$seed.json"), Json(Map(
          "workload" -> workload, "seed" -> seed, "ops" -> i,
          "per_layer" -> m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
          "by_op_class" -> ledger.byClass)))
        m
      }

    val byShape = (samples ++ wl.setupSamples).groupBy(s => s.kind + ":" + s.shape).toSeq.sortBy(_._1).map {
      case (k, ss) => k -> Map("n" -> ss.size, "p50_ms" -> Stats.median(ss.map(_.ms).toSeq),
        "tail_ms" -> Stats.tail(ss.map(_.ms).toSeq).map(_._1).getOrElse(Double.NaN))
    }.toMap
    def tailRec(xs: Seq[Double]) = Stats.tail(xs) match {
      case Some((v, p)) => Map("value_ms" -> v, "percentile" -> p, "n" -> xs.size)
      case None => Map("value_ms" -> Double.NaN, "percentile" -> Double.NaN, "n" -> xs.size)
    }
    val gcTotals = {
      var ms = 0L; var n = 0L
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { g =>
        ms += g.getCollectionTime; n += g.getCollectionCount }
      Map("ms" -> ms, "count" -> n)
    }
    val detail = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> nproc, "ops" -> i, "measured_wall_s" -> wallS, "finish_s" -> finishS,
      "oracle_prep_s" -> oracleS,
      "setup_phases_s" -> Map("session" -> sessionS, "tables" -> (tablesS - sessionS),
        "warmup" -> (setupS - tablesS)),
      "attempted" -> fail.attempted, "failed" -> fail.failed, "failures" -> fail.messages,
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "read_tail" -> tailRec(reads), "write_tail" -> tailRec(writes),
      "feed_lag_p50_ms" -> (if (feeds.isEmpty) Double.NaN else Stats.median(feeds)),
      "by_shape" -> byShape, "workload_extra" -> wl.extra,
      "host" -> Map("io_sentinel_ms_before" -> sentinelBefore,
        "io_sentinel_ms_after" -> ioSentinelMs(runDir),
        "loadavg_before" -> loadBefore, "loadavg_after" -> loadAvg(),
        "gc_totals" -> gcTotals, "heap_peak_mb" -> Ledger.heapPeakMb))
    val runs = new File(work, "runs")
    runs.mkdirs()
    write(new File(runs, s"$workload-seed$seed-trace${if (trace) 1 else 0}-${System.currentTimeMillis}.json"),
      Json(detail))

    spark.stop()
    Files.deleteTree(runDir)
    val metrics = if (trace) layer else e2e
    val ok = fail.failed == 0
    println(Json(Map("correct" -> ok, "attempted" -> fail.attempted, "failed" -> fail.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
  }

  /** The session settings graft's own Bench main uses, on local[nproc]
    * with nproc shuffle partitions; every scratch path stays in `runDir`. */
  private def session(runDir: File, nproc: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "spark-warehouse").toURI.toString)
      .config("spark.graft.scratchDir", new File(runDir, "scratch").toURI.toString)
      .getOrCreate()
    spark
  }

  /** The I/O sentinel graft's Bench takes: one 4 KB write + fsync. */
  private def ioSentinelMs(dir: File): Double = {
    import java.nio.file.StandardOpenOption._
    val f = new File(dir, "io_sentinel.bin").toPath
    val t = System.nanoTime
    val ch = java.nio.channels.FileChannel.open(f, CREATE, WRITE, TRUNCATE_EXISTING)
    try { ch.write(java.nio.ByteBuffer.wrap(new Array[Byte](4096))); ch.force(true) }
    finally ch.close()
    (System.nanoTime - t) / 1e6
  }

  private def loadAvg(): Double =
    scala.util.Try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim.split("\\s+")(0).toDouble finally s.close()
    }.getOrElse(java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage)

  private def write(f: File, s: String): Unit = {
    val pw = new java.io.PrintWriter(f, "UTF-8")
    try pw.println(s) finally pw.close()
  }
}
