package graft
import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: one JSON line with steady-state seconds per query.
 *
 * Each query runs twice with a FRESH DataFrame each time (a new logical
 * plan re-executes every shuffle — no stage reuse), and the second time is
 * reported: the first run absorbs JIT + codegen compilation, which
 * otherwise dominates small-SF timings and varies 5–20× with JVM state.
 * Queries run in sorted name order so numbers are comparable across rounds.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // 41 queries x ~10 codegen stages blow through the default 100-entry
      // generated-class cache, forcing recompilation of warm queries.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // even with the UI off, the SQL status listener retains plan graphs
      // for up to 1000 executions; the deep lineage plans are MBs each and
      // the async listener backlog degrades late-running queries ~10x.
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // toRdd.count() materializes every column of every result row —
    // count() alone would let Catalyst prune the query down to a row count.
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    // Per-query cold AND steady timings: a single n=1 sample in a noisy
    // environment is uninterpretable round-over-round; the (cold, steady)
    // pair separates JIT/codegen/page-cache warmup from the plan's real
    // cost. "value" remains the steady total (comparable across rounds).
    // SPARK_GRAFT_ONLY="q1_agg,dedup_minhash": bench a subset — for
    // targeted extreme-SF runs where the full surface would take hours.
    // Fail fast on typos/empty: a silent empty filter would burn an
    // hours-long run producing no data.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      require(names.nonEmpty, "SPARK_GRAFT_ONLY is set but names no queries")
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(",")}")
    }
    // I/O-STALL SENTINEL (r15): this host's I/O path degrades
    // intermittently (same-code rows swing ±30%, fsync-bound rows up to
    // ×4–10 between same-day runs), which has repeatedly made single-row
    // regressions unadjudicable. Before each query, time one small
    // write+fsync; a query row measured during an I/O episode then
    // carries a visibly inflated sentinel next to it in the detail JSON,
    // so a reader can annotate affected rows mechanically. Additions-only:
    // the stdout contract line is untouched.
    val sentinelDir = java.nio.file.Files.createTempDirectory("graft_bench_io_")
    def ioSentinelMs(): Double = {
      val f = sentinelDir.resolve("probe.bin")
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      try { ch.write(java.nio.ByteBuffer.wrap(new Array[Byte](4096))); ch.force(true) }
      finally ch.close()
      (System.nanoTime() - t0) / 1e6
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val sentinel = ioSentinelMs()
      val (cold, steady) =
        try { val c = once(fn); (c, once(fn)) }
        catch { case e: Throwable =>
          // a crashed query records -1 — NEVER silently: a future red
          // query must be unmissable next to its BENCH row
          System.err.println(s"[bench] $name FAILED: " +
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
          (-1.0, -1.0)
        }
      // Let the ContextCleaner reclaim dead localCheckpoint/shuffle blocks
      // between queries: at the 100× SF the iterative queries checkpoint
      // GBs that stay resident until their DataFrames are GC'd, and the
      // resulting memory pressure was measured inflating an unrelated
      // 3s query to 29s later in the run. (Fixture caches are strongly
      // referenced and survive; only garbage is collected.)
      System.gc()
      name -> ((cold, steady, sentinel))
    }
    java.nio.file.Files.deleteIfExists(sentinelDir.resolve("probe.bin"))
    java.nio.file.Files.deleteIfExists(sentinelDir)
    // Locale.ROOT: under a comma-decimal default locale (de_DE etc.)
    // f"%.3f" would emit "1,234" and the JSON line would not parse.
    def r3(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    // The driver captures a bounded tail of stdout: the r2 line (cold+steady
    // per query, ~3.3 KB) overflowed it and BENCH_r02 recorded parsed:null.
    // Keep the driver line compact (steady-only, 3 decimals, ~2 KB) and put
    // the full cold/steady detail in BENCH_DETAIL.json instead.
    val qs = results.map { case (k, (_, s, _)) => s""""$k":${r3(s)}""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._2).sum
    val coldTotal = results.map(_._2._1).sum
    val detail = results.map { case (k, (c, s, io)) =>
      s""""$k":{"cold":${r3(c)},"steady":${r3(s)},"io_sentinel_ms":${r3(io)}}""" }
      .mkString("{", ",", "}")
    // Resolve the detail path explicitly: a bare relative path lands in
    // whatever cwd Bench was launched from and silently overwrites.
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL",
      new java.io.File(sys.env.getOrElse("SPARK_GRAFT_REPO", "."),
        "BENCH_DETAIL.json").getAbsolutePath)
    val detailLine =
      s"""{"total_steady":${r3(total)},"total_cold":${r3(coldTotal)},"queries":$detail,"sf":"$sfDir"}"""
    val pw = new java.io.PrintWriter(detailPath)
    try pw.println(detailLine)
    finally pw.close()
    System.err.println(s"bench detail written to $detailPath")
    // Driver-run benches (no ad-hoc SPARK_GRAFT_BENCH_DETAIL override)
    // ALSO snapshot a per-round detail file: BENCH_r13.json recorded
    // `parsed: null` because the driver's bounded stdout tail truncated
    // the 263-query line — the round's full record must not depend on
    // that tail. The round number is inferred as max(BENCH_r*.json) + 1
    // (the driver writes BENCH_r{N}.json AFTER this run). Only the
    // 32-core official config snapshots: the driver's post-bench 8-core
    // scaling run previously inferred round+1 and wrote a stray
    // mislabeled file (the r14 BENCH_r15_detail.json artifact).
    if (sys.env.get("SPARK_GRAFT_BENCH_DETAIL").isEmpty && cpus == "32") {
      val repo = new java.io.File(sys.env.getOrElse("SPARK_GRAFT_REPO", "."))
      val re = "BENCH_r(\\d+)\\.json".r
      val round = Option(repo.list()).map(_.toSeq).getOrElse(Seq.empty)
        .collect { case re(n) => n.toInt }.maxOption.getOrElse(0) + 1
      val perRound = new java.io.File(repo, f"BENCH_r$round%02d_detail.json")
      val pw2 = new java.io.PrintWriter(perRound)
      try pw2.println(detailLine)
      finally pw2.close()
      System.err.println(s"per-round bench detail written to $perRound")
    }
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","cold_total":${r3(coldTotal)},"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
