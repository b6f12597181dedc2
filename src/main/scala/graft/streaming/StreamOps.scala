package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/**
 * Shared Structured-Streaming harness: a file source over one table of the
 * sf directory, and a drain-to-table runner. The point of the engine's
 * streaming surface is that the SAME operator plan runs batch or
 * incremental — these helpers supply the incremental halves.
 *
 * Scale: the file source lists and reads parquet incrementally (a
 * directory watch in production — new files become micro-batches); nothing
 * is ever materialized on the driver. Trigger.AvailableNow drains what is
 * currently visible, checkpoints, and stops — the streaming analog of a
 * bounded batch run, and exactly how periodic incremental jobs deploy.
 */
object StreamOps {

  private val sinkId = new java.util.concurrent.atomic.AtomicInteger(0)

  /**
   * Session a streaming plan is built on: a CLONE of the caller's session
   * (same SparkContext, same extensions — they re-apply from the shared
   * SparkConf) whose OWN SQL conf caps `spark.sql.shuffle.partitions` for
   * the drains. Streaming state partitioning is fixed by the FIRST
   * micro-batch (baked into the checkpoint) and every state partition
   * costs per-batch store commits — measured 2m32s→22s of system CPU for
   * one bounded stream-stream-join drain going 32→8 partitions. Cloning
   * scopes that width to the streaming plans alone: a concurrent batch
   * query planning on the CALLER's session observes no conf change (the
   * r4 implementation mutated-and-restored the shared session conf, which
   * would race such a query). Production continuous queries choose their
   * own width at query start the same way — on their own session.
   */
  private val streamSessions =
    // WEAK parent keys: a clone lives exactly as long as its parent
    // session is reachable, so a long-lived service creating sessions
    // cannot leak clones (newSession() keeps no reference back to the
    // parent, so the value never pins its own key)
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())

  private def streamSession(spark: SparkSession): SparkSession =
    streamSessions.computeIfAbsent(spark, s => {
      val clone = s.newSession()
      val cur = s.conf.get("spark.sql.shuffle.partitions").toInt
      clone.conf.set("spark.sql.shuffle.partitions", math.min(cur, 8).toString)
      clone
    })

  private val rocksSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** Clone whose stateful operators use the RocksDB state store: state
    * spills to local disk instead of living on the heap. The in-memory
    * default is right for BOUNDED state (watermarked windows, TTL dedup,
    * sketch aggregates); an operator whose state is proportional to the
    * corpus at a point in time (session windows over every user, wide
    * join states) must opt in or a large enough input simply OOMs — the
    * 1000× fixture measured exactly that on stream_session_window. On a
    * cluster this is the Databricks-default large-state configuration;
    * locally it trades per-batch commit overhead for an O(disk) ceiling. */
  private def rocksSession(spark: SparkSession): SparkSession =
    rocksSessions.computeIfAbsent(spark, s => {
      val clone = streamSession(s).newSession()
      clone.conf.set("spark.sql.shuffle.partitions",
        streamSession(s).conf.get("spark.sql.shuffle.partitions"))
      clone.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // changelog checkpointing: commit uploads the batch's CHANGES, not
      // a full RocksDB snapshot — the r13 bisect measured the snapshot
      // upload as the dominant per-commit cost (session window at sf10:
      // 29.8s rocksdb-snapshot vs 12.6s in-memory store; the operator's
      // own state-merge cost is the memory number)
      clone.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // row-count tracking costs a RocksDB get per put (it only feeds the
      // numTotalStateRows metric) — the documented large-state tuning
      clone.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
        "false")
      clone
    })

  /** Incremental source over `<sfDir>/<table>.parquet` with the table's
    * DECLARED schema (graft.queries.Tables.streamSchemas — no inference,
    * no batch peek; a production deploy must neither pay nor trust an
    * inference pass). Handles both shapes a parquet table takes: a single
    * file (driver testdata) and a directory of part files (Spark-written,
    * e.g. ScaleData output). The distinction matters: `pathGlobFilter`
    * matches LEAF file names only, so globbing for `table.parquet` over a
    * directory-shaped table silently yields an EMPTY stream — every part
    * file is named part-*.parquet. */
  def fileSource(spark: SparkSession, sfDir: String, table: String,
                 rocksdb: Boolean = false): DataFrame = {
    val s = if (rocksdb) rocksSession(spark) else streamSession(spark)
    val hconf = s.sparkContext.hadoopConfiguration
    val declared = graft.queries.Tables.streamSchemaOf(table)
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/$table.parquet")
    val fs = path.getFileSystem(hconf)
    val isDir =
      try fs.getFileStatus(path).isDirectory
      catch { case _: java.io.FileNotFoundException => false }
    // BOTH historical ts encodings stream (the batch loaders' dual
    // defense, SKILL.md): a declared TIMESTAMP_NTZ matches the round-7+
    // MICROS files, but a rounds-1-6 TIMESTAMP(NANOS) file surfaces as
    // a plain long under the nanosAsLong conf — an explicit schema that
    // disagrees with what the reader surfaces throws in the vectorized
    // reader. ONE footer probe at stream start (a few KB — not an
    // inference scan) picks the matching declaration;
    // normalizeEventTime canonicalizes either to nanos-long below.
    val schema = declared.fields.find(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.TimestampNTZType) match {
      case Some(_) if graft.sources.ParquetMeta.isNanosTimestamp(
          hconf, path.toString, "ts") =>
        org.apache.spark.sql.types.StructType(declared.fields.map(f =>
          if (f.name == "ts")
            f.copy(dataType = org.apache.spark.sql.types.LongType)
          else f))
      case _ => declared
    }
    val src =
      if (isDir) s.readStream.schema(schema).parquet(path.toString)
      else
        s.readStream.schema(schema)
          .option("pathGlobFilter", s"$table.parquet")
          .parquet(sfDir)
    // canonical nanos-long event time, same as the batch loaders (a
    // stateless projection — safe before any watermark/stateful op)
    graft.queries.Tables.normalizeEventTime(src)
  }

  /** Run a streaming aggregation to completion over the currently-visible
    * input and return the result table (complete mode). */
  def drainComplete(spark: SparkSession, plan: DataFrame): DataFrame =
    drain(spark, plan, "complete")

  /** Same, append mode — for stateful operators (flatMapGroupsWithState)
    * that emit rows incrementally rather than maintaining a result table. */
  def drainAppend(spark: SparkSession, plan: DataFrame): DataFrame =
    drain(spark, plan, "append")

  /**
   * Scratch dir for one drain's micro-batch spill + checkpoint, resolved
   * through the session's Hadoop [[org.apache.hadoop.fs.FileSystem]] —
   * the same discipline as [[graft.core.Catalog]]'s staged writes, and
   * for the same reason: a `java.nio` driver-local temp dir becomes a
   * `file:/tmp/...` sink on a real cluster, where every EXECUTOR writes
   * its task output to its own machine's disk and the driver's read-back
   * sees only driver-local files (empty or partial results, silently).
   * Root resolution: `spark.graft.scratchDir` conf when set (a
   * production deploy points it at the warehouse FS — s3a:/hdfs:), else
   * `hadoop.tmp.dir` qualified against the configured default FS (shared
   * on any real cluster; `file:/tmp/...` on local mode, where local IS
   * shared). The dir is registered for delete-on-exit with the FS, so
   * bounded harness runs clean up after themselves.
   */
  private def scratch(s: SparkSession): Path =
    graft.core.Scratch.dir(s, s"drain_${sinkId.incrementAndGet()}_")

  private def drain(spark: SparkSession, plan: DataFrame, mode: String): DataFrame = {
    // foreachBatch → parquet, NOT the memory sink: the memory sink
    // collects every emitted row at the DRIVER and pins it for the
    // session's lifetime — at the 100× SF one sessionize drain held 9.4M
    // rows on the driver, its scan-back was 10× slower than a distributed
    // scan, and the heap churn measurably slowed every query after it.
    // Writing each micro-batch with the cluster and reading the files
    // back keeps the result distributed end to end (and is the shape a
    // production drain takes anyway — cf. drainToParquet).
    val dir = scratch(spark)
    val out = new Path(dir, "out")
    // complete mode re-emits the whole result table every batch (last
    // write wins); append mode emits disjoint increments (accumulate)
    val save = if (mode == "complete") SaveMode.Overwrite else SaveMode.Append
    // the plan was built on the stream-session clone (fileSource), so the
    // bounded state-store width is already in ITS conf — the caller's
    // session conf is never touched
    val query = plan.writeStream
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", new Path(dir, "_ckpt").toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode(save).parquet(out.toString)
      }
      .start()
    try query.awaitTermination() finally query.stop()
    // read the result back on the CALLER's session: downstream batch ops
    // on it plan with the caller's full width. The files hold the plan's
    // rows, so they read under its schema with no inference job.
    // Existence is checked through the same Hadoop FS the sink wrote
    // through.
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(out))
      spark.read.schema(plan.schema).parquet(out.toString)
    else // a drained stream with zero batches yields an empty result
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        plan.schema)
  }

  /**
   * Streaming CDC apply — the merge-in-foreachBatch pattern (the shape
   * Delta Lake documents for streaming upserts): drain a stream of
   * change rows into a warehouse table by running ONE durable MERGE
   * INTO commit per micro-batch ([[graft.core.Txn.mergeInto]] through
   * [[graft.core.Catalog.commitStreamBatch]] — each batch is one atomic
   * `_ver`). Exactly-once end to end WHEN the caller supplies a durable
   * `checkpoint`: the checkpoint records which source files each batch
   * consumed, and each batch's merge is one staged catalog commit that
   * lands its rows and its (writer id, batch id) together — both or
   * neither under any crash. A re-invocation resumes
   * at the batch in flight, and the replay guard skips it if its commit
   * had landed. Without a caller checkpoint (the default scratch one)
   * the guard covers retries within this drain only — a fresh call
   * replays the whole source as a new writer. Determinism across batch
   * splits: a change-stream whose keys are unique stream-wide yields the
   * same final table for ANY micro-batch partitioning — each key is
   * merged exactly once (StreamMergeSpec drives the multi-batch path;
   * per-key last-write-wins streams would need the source ordered by a
   * change sequence, as every CDC apply does). Cost per batch ∝ |batch|
   * (mergeInto's candidate restriction), so a continuous deployment pays
   * for its changes, not its table size.
   */
  def mergeStream(spark: SparkSession, changes: DataFrame,
                  cat: graft.core.Catalog, table: String,
                  updateCols: Seq[String],
                  deleteWhen: Option[org.apache.spark.sql.Column] = None,
                  checkpoint: Option[String] = None,
                  /** Materialized view over `table` to advance after each
                    * batch's commit ([[graft.core.Catalog
                    * .refreshMaterializedView]]) — CONTINUOUS incremental
                    * view maintenance: per batch the rollup pays O(the
                    * batch's changed keys), never a recompute. Safe at
                    * any crash point: refresh is a catch-up to the
                    * source's current version (its own commit records
                    * what it applied), so a missed or repeated call
                    * converges instead of double-applying. */
                  refreshView: Option[String] = None,
                  /** Refresh the table's durable IVF-PQ index after each
                    * batch's commit ([[graft.core.Catalog
                    * .refreshIvfPqIndex]]) — CONTINUOUS index
                    * maintenance: per batch the index pays the batch's
                    * additions (change-feed delta encode + append),
                    * never a corpus re-encode, so ANN probes see newly
                    * ingested vectors within one micro-batch. Crash-safe
                    * the same way refreshView is: refresh is a catch-up
                    * to the table's current version keyed on stored
                    * vec_ids, so a missed or repeated call converges
                    * (already-coded keys drop at the anti join). */
                  refreshIndex: Boolean = false): Unit = {
    // Writer identity for idempotent replay detection is derived
    // DETERMINISTICALLY from the checkpoint location, because batch ids
    // are only meaningful relative to their checkpoint: a restart that
    // resumes the same checkpoint re-derives the same writer id, so the
    // replay guard in Catalog.commitStreamBatch actually fires for the
    // batch that was in flight at the crash (a random id here would give
    // the replayed batch a fresh identity and re-apply it — and a
    // re-applied delete-arm change whose key is already dead takes the
    // not-matched insert arm and resurrects it). Conversely a DIFFERENT
    // checkpoint (including every default-scratch call) yields a
    // different id, so its batch ids restarting at 0 are never mistaken
    // for replays of another run's.
    //
    // Exactly-once scope: with a caller-supplied `checkpoint` the drain
    // is resumable end to end — re-invoking after a crash skips
    // already-applied batches (checkpoint offsets) and the replay guard
    // closes foreachBatch's at-least-once window. With the default
    // per-call scratch checkpoint the guard covers retries WITHIN this
    // drain only; a fresh call replays the whole source under a new
    // identity, so production CDC deployments should pass a durable
    // checkpoint (StreamMergeSpec drives the restart path).
    val ckpt = checkpoint.getOrElse(new Path(scratch(spark), "_ckpt").toString)
    val writerId = "w_" + org.apache.commons.codec.digest.DigestUtils
      .md5Hex(ckpt).substring(0, 16)
    val query = changes.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        cat.commitStreamBatch(table, graft.core.Txn.empty
          .mergeInto(batch, updateCols, deleteWhen), writerId, batchId)
        refreshView.foreach(cat.refreshMaterializedView)
        if (refreshIndex) cat.refreshIvfPqIndex(table)
        ()
      }
      .start()
    try query.awaitTermination() finally query.stop()
  }

  /**
   * Change-data-feed SOURCE over a warehouse table (the read half of the
   * CDC story — [[mergeStream]] is the write half, `LineageTable.diffRelative`
   * the batch form): an incremental parquet stream over the table's tail
   * directory ([[graft.core.Catalog.changeFeedInfo]]), surfacing one row
   * per changed record per commit with `op ∈ {upsert, delete}` and
   * `commit_ver` = the commit's `_ver` stamp. New commits append new tail
   * files; the file source picks them up as new micro-batches, so a
   * downstream consumer with a durable checkpoint re-syncs from where it
   * left off instead of re-reading the table (StreamCdfSpec drives that
   * two-phase consumption).
   *
   * Upsert, not insert-vs-update: the tail row IS the postimage; whether
   * the key existed before is a fact about the pre-commit snapshot, and
   * classifying it at READ time would need per-key seen-state — state
   * linear in the KEY COUNT of a 100 TB table inside the consumer.
   * Delta's CDF makes the same call the other way (classifies at WRITE
   * time, where the merge join already knows matched-ness) at the cost
   * of a second copy of every change; an append-only lineage gets the
   * feed for free and leaves insert/update splitting to consumers that
   * track the keys they care about. Tombstones carry the record's final
   * state (what [[graft.core.LineageTable.delete]] appended), so a
   * delete event is self-describing.
   *
   * Scale: stateless projection over an incremental file listing — no
   * state store, no shuffle; per-batch cost ∝ the commits drained, never
   * the table. Filters a consumer applies compose into the file scan.
   *
   * Granularity: a micro-batch may hold PART of a multi-file commit, the
   * rest arriving in the next batch. A commit's files enter `tail/` one
   * rename at a time — the staged roll-forward moves them singly, and on
   * Spark 4.1.2 so does the output committer an append into `tail/`
   * would use (SQLHadoopMapReduceCommitProtocol over FileOutputCommitter
   * algorithm 1, whose job commit renames each part file into the
   * existing directory). Every row carries its `commit_ver`, so a
   * consumer that needs whole commits can regroup by it.
   *
   * Retention: a physical rewrite (fold/compact/vacuum/purge) RETIRES
   * tail files — change events a consumer has not yet drained are gone
   * with them (the same rule as Delta's CDF past a VACUUM: the feed's
   * window is bounded by maintenance). Drain before maintaining, or
   * disable auto-compaction on tables with lagging consumers.
   */
  def changeFeed(spark: SparkSession, cat: graft.core.Catalog,
                 table: String,
                 /** Emit only commits stamped ABOVE this version (the
                   * Delta `startingVersion` knob) — a late-attaching
                   * consumer skips history it already has; the predicate
                   * composes into the incremental scan, so tail files
                   * wholly at-or-below it footer-prune. 0 = everything
                   * the tail holds. */
                 startingVersion: Long = 0L,
                 /** The Delta `startingTimestamp` twin: start from the
                   * first LOGGED commit at-or-after this clock value
                   * (the [[graft.core.Catalog.commitAt]] clock — epoch
                   * millis in production), resolved through the commit
                   * log metadata-only and folded into the same pushed
                   * `_ver` predicate. Mutually exclusive with
                   * `startingVersion`. RETENTION: the feed reads the
                   * live tail, so commits already re-stamped by a
                   * physical rewrite (compaction/vacuum/purge — the
                   * rewrite clears the log with them) are beyond the
                   * retained window whatever start is requested; a
                   * timestamp older than the retained log starts at the
                   * tail's beginning rather than fabricating events. */
                 startingTimestamp: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, when, lit}
    require(startingTimestamp.isEmpty || startingVersion == 0L,
      "changeFeed: startingVersion and startingTimestamp are mutually exclusive")
    val fromVer = startingTimestamp
      .map(cat.versionBefore(table, _)).getOrElse(startingVersion)
    val s = streamSession(spark)
    val (tailDir, schema) = cat.changeFeedInfo(table)
    val dataCols = schema.fieldNames.filterNot(c => c == "_ver" || c == "_del")
    s.readStream.schema(schema).parquet(tailDir)
      .where(col("_ver") > fromVer)
      .select(dataCols.map(col) ++ Seq(
        col("_ver").as("commit_ver"),
        when(col("_del") === 1, lit("delete")).otherwise(lit("upsert"))
          .as("op")): _*)
  }

  /** Production-shaped sink: drain the stream to an exactly-once parquet
    * directory sink (append mode — the mode file sinks support) with its
    * checkpoint alongside. Re-running with the same checkpoint resumes
    * instead of duplicating — the durability half of the streaming story;
    * the foreachBatch drains above exist only to hand query results back
    * to the driver contract. */
  def drainToParquet(spark: SparkSession, plan: DataFrame, outDir: String): Unit = {
    val query = plan.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    try query.awaitTermination() finally query.stop()
  }
}
