package graft.core

import java.nio.charset.StandardCharsets
import java.util.ConcurrentModificationException

import scala.collection.immutable.ListMap
import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

import graft.ops.{KnnGraph, Similarity}

/**
 * Persistent warehouse of [[LineageTable]]s — the reference's Database
 * surface (reference: lstore/db.py — open/close, create_table/drop_table/
 * get_table, page persistence) re-expressed as a parquet warehouse:
 *
 *   warehouse/
 *     <table>/_graft.json       key column, data columns, index, op_seq
 *     <table>/base/             compacted base records (parquet)
 *     <table>/tail/             appended lineage since last compaction
 *
 * ALL warehouse I/O — metadata, directory listing, renames, deletes — goes
 * through the Hadoop [[FileSystem]] resolved from the warehouse path
 * against the session's hadoopConfiguration, so the same catalog runs over
 * `file:`, `hdfs:`, or `s3a:` paths (a java.io/java.nio implementation
 * would silently see an empty warehouse the moment it moves off the local
 * disk — the 100 TB deployment target stores the warehouse on a
 * distributed FS). Note: `rename` is atomic on HDFS and local disk; object
 * stores emulate it — production S3 deployments put the METADATA on a
 * store with atomic rename or front it with a commit service, exactly as
 * Delta/Iceberg do.
 *
 * Writes go to the tail only (append-only, like the reference's tail
 * pages); `compact` folds tail into base exactly like the reference's
 * background merge (lstore/table.py:186) and truncates the tail. The
 * reference's bufferpool (pin/unpin/dirty/evict) maps onto Spark's block
 * manager — `LineageTable.persisted` pins, eviction is automatic.
 *
 * Commit durability is DELTA-native: each [[LineageTable]] op constructs
 * exactly its appended rows and the table accumulates them in `delta`, so
 * `commit` writes that delta and nothing else — the reference's tail-page
 * append. (No diff of full lineages: an r1 `exceptAll` cost a two-sided
 * shuffle of the whole table per commit.)
 *
 * Auto-compaction (reference: the background merge thread,
 * lstore/table.py:186): every commit checks the tail/base row ratio
 * (footer metadata, no data scan) and, past `compactRatio`, folds the tail
 * into a re-laid-out base via [[foldTail]] — HISTORY-PRESERVING, so
 * version reads and audits survive compaction; only [[saveCompacted]]
 * (the user-invoked merge, ls_merge) collapses history to the snapshot.
 * Disable with `autoCompact = false` for manual control.
 *
 * Index lifecycle (reference: lstore/index.py:59,66 create_index/
 * drop_index): an "index" here is a physical re-layout of the base —
 * range-partitioned and sorted by the indexed column, recorded in
 * `_graft.json` — so parquet file- and row-group-level min-max pruning
 * serves secondary-column probes the way the reference's per-column hash
 * index serves `locate`. Distributed, no side structure to maintain;
 * compaction preserves the layout.
 *
 * Concurrency model (replaces record-level 2PL, lstore/table.py:57):
 * single writer per table with OPTIMISTIC conflict detection — the
 * reference takes record locks and aborts a transaction on conflict
 * (lstore/transaction.py:26-38); here [[tryCommit]] validates that
 * `op_seq` has not moved since the caller loaded its base and aborts
 * (Left) if it has — a compare-and-swap on the table's metadata. Within
 * one JVM the check-and-write is linearized by a per-table lock; ACROSS
 * processes by a create-if-absent `_commit.lock` marker
 * ([[withCommitMarker]] — atomic on HDFS/local; on S3, conditional put
 * on the metadata or a commit service, as Delta/Iceberg). A contending
 * process aborts with Left exactly like a stale op_seq; a crashed
 * writer's marker is broken after a lease. Readers always see a
 * consistent snapshot because parquet files are immutable. Cross-TABLE
 * parallelism is free under this discipline: [[Txn.runBatches]] drives
 * independent tables' batches concurrently.
 */
final class Catalog(spark: SparkSession, warehouse: String,
                    autoCompact: Boolean = true,
                    compactRatio: Double = 0.3,
                    /** Pre-rewrite snapshots retained per table so
                      * `asOfTimestamp` SURVIVES compaction (Iceberg
                      * snapshot retention): [[foldTail]] retires the old
                      * base into `_snap/<id>/` instead of deleting it,
                      * bounded at this many snapshots (oldest expire).
                      * 0 restores the r7 behavior (compaction clears the
                      * travel window). Vacuum/purge/saveCompacted always
                      * DROP snapshots — physical erasure must erase. */
                    snapshotRetention: Int = 2) {

  private val hconf = spark.sparkContext.hadoopConfiguration
  private val root = new Path(warehouse)
  private val fs: FileSystem = root.getFileSystem(hconf)

  /** Every path-forming table name funnels through here: the identifier
    * check is the SAME invariant commitMulti enforces, applied at the
    * chokepoint so no create/rename/clone/drop path can smuggle a '/'
    * or '..' and resolve (then write or recursively delete) outside the
    * warehouse root. */
  private def dir(table: String) = new Path(root, checked(table))
  private def metaPath(table: String) = new Path(dir(table), "_graft.json")
  private def metaTmpPath(table: String) = new Path(dir(table), "_graft.json.tmp")
  private def baseDir(table: String) = new Path(dir(table), "base")
  private def projDir(table: String, column: String) =
    new Path(new Path(dir(table), "proj"), column)

  // ------------------------------------------------- Hadoop-FS primitives

  private def isDir(p: Path): Boolean =
    try fs.getFileStatus(p).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  private def pathExists(p: Path): Boolean = fs.exists(p)

  /** Rename with never-into-semantics: Hadoop rename moves src INTO an
    * existing dst directory — every swap here requires dst absent. */
  private def move(src: Path, dst: Path): Unit = {
    require(!pathExists(dst), s"rename target exists: $dst")
    require(fs.rename(src, dst), s"rename failed: $src -> $dst")
  }

  private def deleteRecursively(p: Path): Unit = { fs.delete(p, true); () }

  private def writeString(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readString(p: Path): String = {
    val len = fs.getFileStatus(p).getLen.toInt
    val in = fs.open(p)
    try {
      val bytes = new Array[Byte](len)
      in.readFully(0, bytes)
      new String(bytes, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Per-table commit lock: linearizes the read-validate-write of the
    * optimistic commit protocol within this JVM. */
  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private def lock(name: String): Object =
    locks.getOrElseUpdate(name, new Object)

  /** Tables whose commit marker THIS thread already holds — mutators
    * nest (tryCommit → auto-compaction → foldTail), and the inner op must
    * ride the outer op's marker, not deadlock against it. */
  private val markerHeld = new ThreadLocal[scala.collection.mutable.Set[String]] {
    override def initialValue() = scala.collection.mutable.Set.empty[String]
  }

  /** How stale a marker must be before it is presumed a crashed writer's
    * leftover and broken. Mutators hold the marker only across metadata
    * ops and staged-file renames (the big parquet writes stage BEFORE the
    * swap), so a healthy writer releases in seconds. */
  private val markerLeaseMs: Long = 15 * 60 * 1000

  private def markerPath(name: String) = new Path(dir(name), "_commit.lock")

  /** True while `name`'s marker exists and is younger than the lease. */
  private def markerLive(name: String): Boolean =
    try System.currentTimeMillis() -
      fs.getFileStatus(markerPath(name)).getModificationTime <= markerLeaseMs
    catch { case _: java.io.FileNotFoundException => false }

  /**
   * CROSS-PROCESS commit exclusion — the FS-level half of the
   * concurrency model (the JVM lock above linearizes threads; this
   * linearizes processes): a `_commit.lock` marker created
   * if-absent-ATOMICALLY — O_EXCL via nio on local filesystems (Hadoop's
   * local `create(path, overwrite=false)` is check-then-act and two
   * racing writers can BOTH acquire: caught live by CatalogSpec's
   * cross-process race as a double commit, r9), the create-if-absent
   * contract on HDFS; object stores without atomic create take the same
   * story as the metadata rename — front the METADATA with a store that
   * has conditional put (S3 If-None-Match) or a commit service, as
   * Delta/Iceberg do. A marker older than [[markerLeaseMs]] is presumed
   * a crashed writer's leftover and broken (every mutation is staged +
   * re-validated, so breaking a live-but-stuck writer's lease degrades
   * to the optimistic abort, never to corruption: the loser's op_seq
   * check or swap rename fails). Contention throws
   * [[ConcurrentModificationException]] — in [[tryCommit]] that
   * surfaces as the Left abort the optimistic protocol already hands
   * callers.
   */
  private def withCommitMarker[A](name: String)(body: => A): A = {
    if (markerHeld.get.contains(name)) return body
    val marker = markerPath(name)
    def tryCreate(): Boolean =
      try {
        val pid = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getName.getBytes(StandardCharsets.UTF_8)
        if (fs.getScheme == "file") {
          // Hadoop's LOCAL create(path, overwrite=false) is CHECK-THEN-ACT
          // (exists() + FileOutputStream), so two racing writers can both
          // "acquire" — observed live as a double commit in the
          // cross-process race spec. POSIX O_EXCL via nio IS atomic:
          // exactly one creator wins.
          val p = java.nio.file.Paths.get(marker.toUri.getPath)
          java.nio.file.Files.createFile(p)
          java.nio.file.Files.write(p, pid)
          true
        } else {
          // HDFS create-if-absent is atomic by contract; object stores
          // without it take the documented conditional-put story
          val out = fs.create(marker, false)
          try out.write(pid)
          finally out.close()
          true
        }
      } catch { case _: java.io.IOException => false }
    val acquired = tryCreate() ||
      (!markerLive(name) && { fs.delete(marker, false); tryCreate() })
    if (!acquired)
      throw new ConcurrentModificationException(
        s"$name: another process holds the commit marker")
    markerHeld.get += name
    try body
    finally {
      markerHeld.get -= name
      fs.delete(marker, false)
    }
  }

  // ---------------------------------------------------------------- tables

  def tableNames: Seq[String] =
    if (!isDir(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        (pathExists(new Path(s.getPath, "_graft.json")) ||
         pathExists(new Path(s.getPath, "_graft.json.tmp"))))
      .map(_.getPath.getName).sorted

  private def metaExists(name: String): Boolean =
    pathExists(metaPath(name)) || pathExists(metaTmpPath(name))

  // ------------------------------------------------------- durable views

  private def viewsDir = new Path(root, "_views")
  // same chokepoint rule as [[dir]]: a view name forms a path too
  private def viewPath(name: String) =
    new Path(viewsDir, s"${checked(name)}.sql")

  /** CREATE VIEW: persist the view's SQL TEXT — never a plan, never a
    * materialization. A view is a NAME for a query (the Hive/Delta/
    * Iceberg-view contract): it re-parses at every read, so results
    * always reflect the live tables underneath and the text composes
    * with whatever the SQL front door supports at READ time (DML'd
    * tables, time travel inside the text, mview routing of the
    * expanded aggregate). Storing an analyzed plan instead would
    * freeze resolution at creation — the classic stale-temp-view trap.
    * Atomic tmp+rename publish; `_views/` can never collide with a
    * table ([[tableNames]] keys on `_graft.json`, and table names that
    * start with `_` are rejected at create). */
  def createView(name: String, sqlText: String,
                 replace: Boolean = false): Unit = {
    require(name.nonEmpty && !name.startsWith("_"),
      s"view name '$name' is reserved")
    require(!metaExists(name),
      s"createView: '$name' is a table in this warehouse")
    require(sqlText.trim.nonEmpty, "createView: empty view text")
    if (!replace) require(!pathExists(viewPath(name)),
      s"view '$name' already exists (use CREATE OR REPLACE VIEW)")
    fs.mkdirs(viewsDir)
    val tmp = new Path(viewsDir, s"$name.sql.tmp")
    writeString(tmp, sqlText)
    fs.delete(viewPath(name), false)
    move(tmp, viewPath(name))
  }

  /** The stored view text, if `name` is a durable view. */
  def viewSql(name: String): Option[String] =
    if (pathExists(viewPath(name))) Some(readString(viewPath(name)))
    else None

  def dropView(name: String): Unit = {
    require(pathExists(viewPath(name)), s"no such view: $name")
    fs.delete(viewPath(name), false); ()
  }

  def viewNames: Seq[String] =
    if (!isDir(viewsDir)) Seq.empty
    else fs.listStatus(viewsDir).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".sql"))
      .map(_.stripSuffix(".sql")).sorted

  /** Create a table from initial rows (reference: Database.create_table). */
  def createTable(name: String, keyCol: String,
                  rows: org.apache.spark.sql.DataFrame): LineageTable =
    createTable(name, keyCol, rows, partitionBy = Seq.empty[String])

  /** Single-column [[createTable]] convenience (the r11 signature). */
  def createTable(name: String, keyCol: String,
                  rows: org.apache.spark.sql.DataFrame,
                  partitionBy: Option[String]): LineageTable =
    createTable(name, keyCol, rows, partitionBy.toSeq)

  /** [[createTable]] with a PARTITION COLUMN (r11 — the lakehouse
    * `PARTITIONED BY (col)`): the base lays out as one directory per
    * partition value and [[partitionSnapshot]] reads prune whole
    * directories below the snapshot window. The partition value is
    * immutable per key (write-guarded) and the column cannot be the key
    * (one directory per row is a layout catastrophe, not a layout). */
  def createTable(name: String, keyCol: String,
                  rows: org.apache.spark.sql.DataFrame,
                  partitionBy: Seq[String]): LineageTable =
    createTable(name, keyCol, rows, partitionBy,
      partitionBy.map(_ => "id"))

  /** [[createTable]] with partition TRANSFORMS (r12): `partitionFuncs`
    * parallel to `partitionBy`, each "id" (identity — one directory per
    * value), "days" (epoch-day bucket of a NON-NEGATIVE
    * nanos-since-epoch BIGINT column — one directory per day, the
    * Iceberg days(ts) shape), or "bucket_N" (the Iceberg bucket(N, c)
    * shape over the engine's portable md5 hash family — N directories
    * regardless of column cardinality, the high-cardinality-dimension
    * layout identity partitioning can't hold). A days-partitioned event
    * table prunes time-slice reads to day directories
    * ([[timeSliceSnapshot]]); a bucket level prunes equality probes to
    * ONE directory (hash the literal) while the raw column keeps its
    * exact type in the files. */
  def createTable(name: String, keyCol: String,
                  rows: org.apache.spark.sql.DataFrame,
                  partitionBy: Seq[String],
                  partitionFuncs: Seq[String]): LineageTable = {
    require(partitionFuncs.size == partitionBy.size,
      s"createTable: ${partitionBy.size} partition columns but " +
        s"${partitionFuncs.size} transforms")
    partitionBy.zip(partitionFuncs).foreach { case (p, f) =>
      require(f == "id" || f == "days" || f.matches("bucket_[0-9]+"),
        s"createTable: unknown partition transform '$f' on '$p' " +
          "(supported: id, days, bucket_N)")
      if (f == "days")
        require(rows.columns.contains(p) &&
          Seq("bigint", "int", "long").contains(
            rows.schema.find(_.name == p)
              .map(_.dataType.simpleString).getOrElse("")),
          s"createTable: days($p) needs a nanos-since-epoch BIGINT " +
            s"column, got ${rows.schema.find(_.name == p)
              .map(_.dataType.simpleString).getOrElse("<missing>")}")
      if (f.startsWith("bucket_")) {
        val n = Catalog.bucketModulus(f)
        require(n >= 2 && n <= 65536,
          s"createTable: bucket($n, $p) — bucket count must be in " +
            "[2, 65536] (1 bucket is an unpartitioned table; beyond 64k " +
            "directories the listing overtakes the pruning)")
        // the bucket keys off the column's canonical CAST-AS-STRING form
        // (the hash family's input contract) — restrict to types whose
        // string form is exact and engine-stable
        require(rows.columns.contains(p) &&
          Seq("string", "tinyint", "smallint", "int", "bigint").contains(
            rows.schema.find(_.name == p)
              .map(_.dataType.simpleString).getOrElse("")),
          s"createTable: bucket(n, $p) needs a string or integral " +
            s"column, got ${rows.schema.find(_.name == p)
              .map(_.dataType.simpleString).getOrElse("<missing>")}")
      }
    }
    require(!metaExists(name), s"table $name already exists")
    require(viewSql(name).isEmpty,
      s"createTable: '$name' is a view in this warehouse")
    // reserved names: _ver/_del carry lineage metadata and _pd* are the
    // partition-directory keys — a data column named `_pd` would
    // silently vanish on every post-compaction read (internal views may
    // use OTHER `_`-prefixed names, so only the actual hazards reject)
    val reserved = "^(_ver|_del|_pd[0-9]*)$".r
    rows.columns.foreach(c => require(reserved.findFirstIn(c).isEmpty,
      s"createTable: column name '$c' is reserved (lineage metadata " +
        "_ver/_del and partition-directory keys _pd*)"))
    require(partitionBy.distinct.size == partitionBy.size,
      s"createTable: duplicate partition column in " +
        s"(${partitionBy.mkString(", ")})")
    partitionBy.zip(partitionFuncs).foreach { case (p, f) =>
      require(rows.columns.contains(p), s"createTable: partition column " +
        s"'$p' not in (${rows.columns.mkString(", ")})")
      // IDENTITY partitioning by the key writes one directory per record;
      // bucket(N, key) is fine — N directories, and the classic
      // point-lookup layout (a key-equality probe prunes to 1/N of the
      // table at planning, no index needed)
      require(p != keyCol || f.startsWith("bucket_"),
        "createTable: identity-partitioning by the unique key would " +
          "write one directory per record — partition by a " +
          "low-cardinality column (date, tenant, category), or use " +
          "bucket(n, key) for a point-lookup layout")
    }
    val t = LineageTable.fromBase(keyCol, rows)
    fs.mkdirs(dir(name))
    val meta = Meta(keyCol, rows.columns.toSeq, index = None, opSeq = 0,
      partCols = partitionBy,
      partTypes = partitionBy.map(p => rows.schema(p).dataType.simpleString),
      partFuncs = partitionFuncs)
    writeMeta(name, meta)
    writeBaseData(
      if (partitionBy.nonEmpty) layoutOrdered(t.lineage, meta)
      else t.lineage,
      meta, new Path(dir(name), "base"))
    getTable(name)
  }

  /** The ONE base-directory writer: partitioned tables lay out as
    * `_pd=p<value>/` directories (`_pd` duplicates the partition column
    * as a `p`-prefixed STRING so directory-value inference can never
    * mangle the real column's type — the data column itself stays in
    * the files), everything else writes flat. Every base rewrite
    * ([[createTable]], [[commitRewrite]]) goes through
    * here, so the partition layout survives all maintenance. */
  private def writeBaseData(df: org.apache.spark.sql.DataFrame, meta: Meta,
                            path: Path): Unit =
    meta.partCols match {
      case Seq() =>
        lineageWriter(df, meta).mode(SaveMode.Overwrite)
          .parquet(path.toString)
      case ps =>
        // `df` carries LOGICAL names here; lineageWriter maps them to
        // physical and retains the `_pd*` directory keys. Multi-column
        // tables nest one directory level per partition column
        // (`_pd0=.../_pd1=.../`), so a predicate on ANY prefix — or any
        // single level — prunes whole subtrees at planning.
        val dirCols = pdColNames(meta)
        val withDirs = dirCols.zipWithIndex.foldLeft(df) { case (d, (n, i)) =>
          d.withColumn(n, concat(lit("p"), dirValueExpr(meta, i))) }
        lineageWriter(withDirs, meta)
          .mode(SaveMode.Overwrite).partitionBy(dirCols: _*)
          .parquet(path.toString)
        // an EMPTY input writes no data files under partitionBy (no
        // value → no directory), leaving the base schema uninferable —
        // write the schema-bearing flat empty instead (CREATE TABLE with
        // a declared column list); the first data rewrite re-partitions
        if (!fs.listStatus(path).exists(s =>
            s.isDirectory && s.getPath.getName.startsWith(dirCols.head + "=")))
          lineageWriter(df, meta).mode(SaveMode.Overwrite)
            .parquet(path.toString)
    }

  /** Directory-key column names for a partitioned table: the r11 single
    * column keeps its `_pd` name (layout compatibility); multi-column
    * tables use one `_pdI` per level. */
  private def pdColNames(meta: Meta): Seq[String] =
    if (meta.partCols.size <= 1) Seq("_pd")
    else meta.partCols.indices.map(i => s"_pd$i")

  /** Nanos per day — the `days()` transform's bucket width over the
    * engine's canonical nanos-since-epoch BIGINT event time. */
  private[core] val dayNanos = 86400000000000L

  /** The DERIVED string value level `i` keys its directory by: identity
    * = the column's own string form; days = the epoch-day bucket
    * (integer `div` — exact on the non-negative nanos the transform
    * requires, no double rounding near midnight); bucket_N = the
    * engine's portable md5 hash of the canonical string form mod N
    * (non-negative: the 32-bit hash is < 2^32 — literal probes replay
    * the same formula via [[Catalog.bucketOf]]). */
  private def dirValueExpr(meta: Meta, i: Int): org.apache.spark.sql.Column =
    meta.funcs(i) match {
      case "id" => col(meta.partCols(i)).cast("string")
      case "days" =>
        // integer `div`, NOT `/`: true division routes through DOUBLE,
        // and 2024-era nanos (~1.7e18) are past 2^53 — a double round
        // could mis-bucket a row within ~256ns of midnight
        expr(s"CAST(CAST(`${meta.partCols(i)}` AS BIGINT) div " +
          s"$dayNanos AS STRING)")
      case f if f.startsWith("bucket_") =>
        (graft.functions.Md5HighBits.hash32(
          col(meta.partCols(i)).cast("string"))
          % lit(Catalog.bucketModulus(f).toLong)).cast("string")
      case other => throw new IllegalStateException(
        s"unknown partition transform '$other'")
    }

  /** Load a table (reference: Database.get_table). Reading base ∪ tail
    * reconstructs exactly the state last saved. */
  def getTable(name: String): LineageTable = {
    val meta = readMeta(name)
    // durable ANALYZE stats feed the planner in THIS session too: a
    // reopened warehouse re-registers without re-scanning (metadata-only)
    if (meta.stats.nonEmpty)
      graft.plans.NdvStats.register(fs.makeQualified(dir(name)).toString,
        graft.plans.NdvStats.TableStats(meta.stats, meta.statsRows))
    assembleTable(meta, liveBase(name, meta), new Path(dir(name), "tail"))
  }

  /**
   * ANALYZE TABLE — measure per-column NDV (one KMV-sketch pass over the
   * live snapshot, ~2 KB buffer per column — [[graft.functions
   * .KMinValues]]) plus the live row count, persist both in the table
   * metadata, and register them with [[graft.plans.NdvStats]] so
   * [[graft.plans.NdvBroadcastRule]] can plan joins from them (broadcast
   * a low-NDV aggregate the size estimator thinks is huge; refuse a
   * high-NDV one it thinks is small). The scan aggregates ALL requested
   * columns in one pass — analyzing k columns costs one table read.
   */
  def analyzeTable(name: String, columns: Seq[String]): Map[String, Long] = {
    require(columns.nonEmpty, "analyzeTable: no columns")
    val t = getTable(name)
    columns.foreach(c => require(t.dataCols.contains(c), s"no such column: $c"))
    val k = 256
    val aggs = columns.map(c => graft.functions.KMinValues.kMinValues(
      graft.functions.Md5HighBits.hash60(col(c).cast("string")), k)
      .as(s"_kmv_$c")) :+ count(lit(1)).as("_rows")
    val row = t.snapshot.agg(aggs.head, aggs.tail: _*)
      .select(columns.map(c => graft.functions.KMinValues
        .ndvEstimate(col(s"_kmv_$c"), k).as(c)) :+ col("_rows"): _*)
      .head()
    val ndvs = columns.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }
    val rows = row.getLong(columns.size)
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      writeMeta(name, meta.copy(stats = ListMap.from(ndvs), statsRows = rows))
    } }
    graft.plans.NdvStats.register(fs.makeQualified(dir(name)).toString,
      graft.plans.NdvStats.TableStats(ndvs.toMap, rows))
    ndvs.toMap
  }

  /** Assemble a [[LineageTable]] from a meta + base frame + tail dir —
    * shared by [[getTable]] (the live table) and [[loadSnapshot]] (a
    * retained pre-rewrite state, same mechanics over `_snap/<id>/`). The
    * base frame was read under the table's declared schema
    * ([[declaredSchema]]); the tail reads under that same schema, so
    * every file — pre- or post-evolve, narrow or wide — meets one frame
    * and the union is a plain `unionByName`. */
  private def assembleTable(meta: Meta,
                            base: org.apache.spark.sql.DataFrame,
                            tailDir: Path,
                            /** Partition restriction pushed into the
                              * tail scan ([[partitionSnapshot]]) —
                              * physical column names. */
                            tailFilter: Option[org.apache.spark.sql.Column] = None): LineageTable = {
    val hasTail = parquetUnder(tailDir).hasNext
    val unioned =
      if (hasTail) {
        val tail = spark.read.schema(base.schema).parquet(tailDir.toString)
        base.unionByName(tailFilter.fold(tail)(tail.where))
      } else base
    // map physical→logical (renames) and normalize column order to the
    // schema — the one select that implements RENAME (aliasing) and DROP
    // (omission) with zero data I/O
    val lineage =
      if (isEvolved(meta))
        unioned.select(meta.columns.map(lc =>
          col(physOf(meta, lc)).as(lc)) ++
          Seq(LineageTable.VER, LineageTable.DEL).map(col): _*)
      else unioned
    // With no tail AND a single-version base (multiVer records when a
    // vacuum left retained history in the base), every record has exactly
    // one live version: snapshot ≡ base scan (no window/shuffle) — the
    // property that makes an indexed layout answer secondary probes by
    // pruning alone.
    // PROVABLY-EMPTY detection for the partition guard (declared-schema
    // CREATE, nothing committed yet): base is the flat schema-bearing
    // empty file [[writeBaseData]] wrote — all-zero footers, no `_pd=`
    // subdirs. One driver-side footer read, gated to never-committed
    // partitioned tables only, lets the FIRST bulk INSERT skip the
    // guard's distinct + join (vacuous over no rows).
    val knownEmpty = meta.partCols.nonEmpty && !hasTail &&
      meta.opSeq == 0 && {
        val b = new Path(tailDir.getParent, "base")
        isDir(b) && fs.listStatus(b).forall(s =>
          s.isFile && (!s.getPath.getName.endsWith(".parquet") ||
            graft.sources.ParquetMeta
              .footerRowCount(hconf, s.getPath.toString) == 0L))
      }
    LineageTable.fromPersisted(meta.key, meta.columns, lineage, meta.opSeq,
      tailEmpty = !hasTail && !meta.multiVer,
      partGuard = meta.partCols.indices
        .map(i => (meta.partCols(i), dirValueExpr(meta, i))),
      knownEmpty = knownEmpty)
  }

  /**
   * Directory-pruned read of ONE partition (r11): the snapshot of a
   * [[createTable]]`(partitionBy = ...)` table restricted to
   * `partCol = value`, with the restriction applied BELOW the snapshot
   * window — the base scan reads only the partition's directory
   * (`PartitionFilters` on `_pd`, whole files skipped at planning), the
   * flat tail scan gets the same predicate pushed to its row groups, and
   * only then does the per-key window reconstruct versions. Sound
   * because a key's partition value is immutable (write-guarded in
   * [[LineageTable]]): every version of every surviving key lives inside
   * the pruned file set. `value` is the partition value in its canonical
   * cast-to-string form (what the directory name carries).
   */
  def partitionSnapshot(name: String, value: String): org.apache.spark.sql.DataFrame = {
    val meta = readMeta(name)
    val p = meta.partCols.headOption.getOrElse(throw new IllegalArgumentException(
      s"partitionSnapshot: '$name' is not partitioned (createTable with " +
        "partitionBy, or CREATE TABLE ... PARTITIONED BY)"))
    partitionSnapshot(name, Map(p -> value))
  }

  /** Multi-column pruned read (r12): restrict to ANY subset of the
    * partition columns (`values`: column → canonical string value).
    * Every named column prunes at its own directory level — a prefix
    * prunes whole subtrees, a suffix-only predicate still skips every
    * non-matching leaf directory at planning time. */
  def partitionSnapshot(name: String,
                        values: Map[String, String]): org.apache.spark.sql.DataFrame =
    partitionSnapshotIn(name, values.map { case (c, v) => c -> Seq(v) })

  /** IN-LIST pruned read (r13): each named column restricts to a SET of
    * canonical values — the directory level prunes to exactly that
    * directory set (`_pd IN (pv1, pv2, ...)` evaluates per directory at
    * planning; a one-element set optimizes back to the r12 equality
    * plan), so `WHERE c IN (a, b)` reads |values| directories instead
    * of the whole table. Same soundness argument as the single-value
    * form: partition values are write-guarded immutable per key. */
  def partitionSnapshotIn(name: String,
                          values: Map[String, Seq[String]]): org.apache.spark.sql.DataFrame = {
    val meta = readMeta(name)
    require(meta.partCols.nonEmpty, s"partitionSnapshot: '$name' is not " +
      "partitioned (createTable with partitionBy, or CREATE TABLE ... " +
      "PARTITIONED BY)")
    require(values.nonEmpty, "partitionSnapshot: no partition values given")
    require(values.values.forall(_.nonEmpty),
      "partitionSnapshot: empty value set for " +
        values.collect { case (c, vs) if vs.isEmpty => c }.mkString(", "))
    val unknown = values.keySet -- meta.partCols.toSet
    require(unknown.isEmpty, s"partitionSnapshot: not partition columns " +
      s"of '$name': ${unknown.mkString(", ")} (partitioned by " +
      s"${meta.partCols.mkString(", ")})")
    val dirOf = meta.partCols.zip(pdColNames(meta)).toMap
    // a `_pd*` column is absent only for a base written before the table
    // was partitioned — impossible today (partitioning is create-only),
    // but fall back to the pushed data filter rather than miscount
    // `values` carry the DERIVED canonical string per column (for a
    // days(ts) level: the epoch-day number)
    def derivedOf(c: String) = dirValueExpr(meta, meta.partCols.indexOf(c))
    prunedSnapshot(name, meta, "partitionSnapshot",
      raw => values.foldLeft(raw) { case (df, (c, vs)) =>
        val dc = dirOf(c)
        if (df.columns.contains(dc))
          df.where(col(dc).isin(vs.map("p" + _): _*))
        else df.where(derivedOf(c).isin(vs: _*))
      },
      values.map { case (c, vs) => derivedOf(c).isin(vs: _*) }.reduce(_ && _))
  }

  /**
   * Directory-pruned TIME-SLICE read (r12) — the payoff of `days(ts)`
   * partitioning: the snapshot restricted to `loNanos <= ts < hiNanos`,
   * with the day range applied to the partition DIRECTORIES below the
   * snapshot window (the planning-time filter parses the day number
   * back out of the directory string — partition pruning evaluates it
   * per directory, so a 3-day slice of a 10-year table opens 3 days of
   * files) and the exact nanos predicate re-applied above. Sound
   * because the source column is write-guarded immutable per key: every
   * version of every in-slice key lives inside the pruned directories.
   */
  def timeSliceSnapshot(name: String, loNanos: Long,
                        hiNanos: Long): org.apache.spark.sql.DataFrame = {
    val meta = readMeta(name)
    require(loNanos <= hiNanos, s"timeSliceSnapshot: $loNanos > $hiNanos")
    val i = meta.funcs.indexOf("days")
    require(i >= 0, s"timeSliceSnapshot: '$name' has no days(...) " +
      "partition level (createTable with partitionFuncs)")
    val c = meta.partCols(i)
    val dc = pdColNames(meta)(i)
    val (dLo, dHi) = (loNanos / dayNanos, hiNanos / dayNanos)
    val exact = col(c) >= lit(loNanos) && col(c) < lit(hiNanos)
    prunedSnapshot(name, meta, "timeSliceSnapshot",
      raw =>
        if (raw.columns.contains(dc))
          // substring(3) strips the "p" prefix (1-based, pos 2 onward);
          // the cast-compare evaluates per DIRECTORY at planning
          raw.where(expr(s"CAST(substring(`$dc`, 2) AS BIGINT)")
            .between(dLo, dHi))
        else raw.where(exact),
      exact).where(exact)
  }

  /** The snapshot of partitioned table `name` with its base scan pruned
    * by `pruneBase` (over the raw scan, `_pd*` directory columns
    * included) and `tailPred` pushed into its tail scan — the one
    * directory-pruned read behind [[partitionSnapshotIn]] and
    * [[timeSliceSnapshot]] (`caller` names it in the error). */
  private def prunedSnapshot(name: String, meta: Meta, caller: String,
                             pruneBase: DataFrame => DataFrame,
                             tailPred: Column): DataFrame = {
    require(!hasManifest(name),
      s"$caller: '$name' is a shallow clone — fold it first")
    assembleTable(meta, baseFrame(meta, baseDir(name), pruneBase),
      new Path(dir(name), "tail"), tailFilter = Some(tailPred)).snapshot
  }

  /** The FIRST partition column of a table, if [[createTable]] set one. */
  def partitionColOf(name: String): Option[String] = readMeta(name).partCol

  /** Declared type of the first partition column (empty when unpartitioned). */
  def partitionTypeOf(name: String): String = readMeta(name).partType

  /** All partition columns, outermost directory level first (r12). */
  def partitionColsOf(name: String): Seq[String] = readMeta(name).partCols

  /** Declared types of the partition columns, parallel to
    * [[partitionColsOf]]. */
  def partitionTypesOf(name: String): Seq[String] = readMeta(name).partTypes

  /** Transforms of the partition columns ("id" | "days"), parallel to
    * [[partitionColsOf]] (r12). */
  def partitionFuncsOf(name: String): Seq[String] = readMeta(name).funcs

  // ------------------------------------------------------ shallow clones

  /** A shallow clone's frozen base manifest: one absolute parquet file
    * path per line ([[cloneTable]]). Presence of this file makes
    * [[liveBase]] read the listed files instead of `base/`; any
    * physical rewrite materializes the clone into its own base dir and
    * deletes the manifest (the clone DETACHES — Delta shallow-clone
    * semantics). */
  private def cloneManifestPath(name: String) =
    new Path(dir(name), "_clone.list")

  private def hasManifest(name: String): Boolean =
    pathExists(cloneManifestPath(name))

  /** The files a clone's manifest lists, its base's first. */
  private def manifestFiles(name: String): Seq[String] =
    readString(cloneManifestPath(name)).split("\n").toSeq.map(_.trim)
      .filter(_.nonEmpty)

  /** The parquet data files under `p` (none when absent), recursing
    * into partition directories (`_pd*=`), listed lazily so a caller
    * that needs only the first file ([[scanGraftDir]]'s schema footer)
    * lists only its way to it. Plain
    * `listStatus`, not `listFiles(p, recursive = true)`: that builds a
    * `LocatedFileStatus` per file, which reads the file's permission,
    * and on the local filesystem without Hadoop's native library each
    * permission read forks a `stat` process (~3 ms a file). Spark's
    * `HadoopFSUtils.listLeafFiles` avoids it for the same reason. */
  private def parquetUnder(p: Path): Iterator[String] = {
    def walk(d: Path): Iterator[String] = fs.listStatus(d).iterator.flatMap { s =>
      if (s.isDirectory) walk(s.getPath)
      else if (s.getPath.getName.endsWith(".parquet")) Iterator.single(s.getPath.toString)
      else Iterator.empty
    }
    if (isDir(p)) walk(p) else Iterator.empty
  }

  /** The Spark schema graft's writer recorded in `file`'s footer — a
    * driver-side read of a few KB
    * ([[graft.sources.ParquetMeta.footerSparkSchema]]). */
  private def footerSchema(file: String): StructType =
    graft.sources.ParquetMeta.footerSparkSchema(hconf, file).getOrElse(
      throw new IllegalStateException(s"$file: no Spark schema in its footer"))

  /**
   * The one rule every read of a table's files goes by: the table's read
   * schema is its base's first footer schema, with each `widened` column
   * at its wide type and each `added` column the footer lacks at its
   * declared type. The base, a clone's manifest, the tail and a retained
   * snapshot all read under it ([[baseFrame]], [[liveBase]],
   * [[assembleTable]]). Parquet serves each file under the declared
   * schema: a narrow physical type promotes natively (every
   * [[widenable]] pair, in both the vectorized and the row reader) and
   * a column the file lacks reads null, so a tail mixing pre- and
   * post-evolve or narrow and wide files reads as one frame with no
   * schema-inference job. A dropped column stays in the schema while the
   * base carries it, and [[assembleTable]]'s select omits it. Every file
   * after the base is written at the declared types ([[stage]]'s cast),
   * so no file is wider than the rule.
   */
  private def declaredSchema(meta: Meta, baseFile: String): StructType = {
    val footer = footerSchema(baseFile)
    StructType(footer.map(f => meta.widened.get(f.name)
      .fold(f)(t => f.copy(dataType = DataType.fromDDL(t)))) ++
      meta.added.collect { case (c, t) if !footer.fieldNames.contains(c) =>
        StructField(c, DataType.fromDDL(t)) })
  }

  /**
   * Parquet scan of a graft-written directory under the schema `schemaOf`
   * gives its first file — by default that file's own footer
   * ([[footerSchema]]), for a directory one job wrote whole (a staged
   * delta, a rewritten base); the table's [[declaredSchema]] for a base.
   * Supplying the schema saves the 1-task schema-inference job every
   * schema-less parquet read of a directory launches (~25ms + ~40ms
   * driver gap at local sf0.1). `pdCols` re-attaches the `_pd*`
   * directory keys (STRING — the "p"-prefixed canonical form, exactly
   * what inference produced) when the directory actually has partition
   * subdirs; a flat base (the
   * empty-CREATE fallback) must NOT declare them, or the pruned read
   * would see an all-null `_pd` instead of falling back to the data
   * filter.
   */
  private def scanGraftDir(dirPath: Path,
                           schemaOf: String => StructType = footerSchema,
                           pdCols: Seq[String] = Nil): DataFrame = {
    val first = parquetUnder(dirPath).nextOption().getOrElse(
      throw new IllegalStateException(s"$dirPath holds no parquet file"))
    val pdHere = pdCols.nonEmpty && fs.listStatus(dirPath).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith(pdCols.head + "="))
    val s = schemaOf(first)
    spark.read.schema(if (!pdHere) s
      else StructType(s.fields ++ pdCols.map(StructField(_, StringType))))
      .parquet(dirPath.toString)
  }

  /** The live base rows of `name`, under its [[declaredSchema]]: the
    * frozen manifest's files for a shallow clone (base and tail files of
    * the source, which read as one frame just as a tail does), the
    * `base/` directory otherwise. */
  private def liveBase(name: String, meta: Meta): DataFrame =
    if (hasManifest(name)) {
      val files = manifestFiles(name)
      spark.read.schema(declaredSchema(meta, files.head)).parquet(files: _*)
    } else baseFrame(meta, baseDir(name))

  /** The rows of base directory `base` — the live base or a retained
    * snapshot's — under the table's [[declaredSchema]]. A partitioned
    * base restores `_pd*` from the directory names — a storage artifact,
    * not a table column (the real partition column lives IN the files) —
    * so they drop after `prune` has filtered on them
    * ([[prunedSnapshot]]). Unpartitioned tables drop nothing: a (pre-r12
    * legacy) data column named `_pd` must survive. */
  private def baseFrame(meta: Meta, base: Path,
                        prune: DataFrame => DataFrame = identity): DataFrame =
    if (meta.partCols.isEmpty) prune(scanGraftDir(base, declaredSchema(meta, _)))
    else prune(scanGraftDir(base, declaredSchema(meta, _), pdColNames(meta)))
      .drop(pdColNames(meta): _*)

  /**
   * Zero-copy shallow clone (the Delta `CREATE TABLE ... SHALLOW CLONE`
   * / Iceberg snapshot-ref shape): `dst` is a NEW table whose base is a
   * frozen manifest of `src`'s data files at clone time — no data is
   * copied, the clone of a 100 TB table is two metadata writes. The two
   * tables then diverge independently: commits to either land in its own
   * tail; the referenced files are immutable (commits only append new
   * files), so `dst` keeps reading the exact clone-time state no matter
   * what `src` appends afterwards.
   *
   * What carries over: schema (incl. evolution and pending widenings —
   * the manifest reads under the table's [[declaredSchema]], so its
   * narrow and wide files mix as a tail's do), key, index layout (the
   * referenced files ARE the indexed layout), op_seq (dst's stamps
   * continue above every referenced stamp), the commit log (time travel
   * into pre-clone states works — the log addresses stamps contained in
   * the referenced files), and ANALYZE stats. What does not: projections
   * (src-local side files — recreate on the clone if needed), retained
   * snapshots, and streaming writer replay slots (a clone is a new
   * replay domain).
   *
   * Caveat (same as Delta's): a PHYSICAL REWRITE on `src` (compact /
   * vacuum / purge) deletes or moves files the manifest references —
   * materialize the clone first (any rewrite on `dst`, e.g.
   * `foldTail(dst)`, detaches it into its own files). A crash mid-clone
   * leaves manifest-without-meta: invisible ([[readMeta]] fails) and
   * safely overwritten by a retry.
   */
  def cloneTable(src: String, dst: String): LineageTable =
    lock(src).synchronized {
      require(!metaExists(dst), s"table $dst already exists")
      val meta = readMeta(src)
      require(meta.partCol.isEmpty, s"cloneTable: '$src' is partitioned — " +
        "the flat file manifest cannot carry directory-partition values; " +
        "materialize a copy instead (CTAS)")
      // frozen view: under src's lock no writer is mid-commit, so
      // base ∪ tail (or src's own manifest, for a clone of a clone) is
      // exactly src's current durable state
      def files(p: Path) =
        parquetUnder(p).map(f => fs.makeQualified(new Path(f)).toString).toSeq
      val baseFiles =
        if (hasManifest(src)) manifestFiles(src) else files(baseDir(src))
      val tailFiles = files(new Path(dir(src), "tail"))
      require(baseFiles.nonEmpty, s"clone source $src has no data files")
      fs.mkdirs(dir(dst))
      writeString(cloneManifestPath(dst),
        (baseFiles ++ tailFiles).mkString("\n"))
      writeMeta(dst, meta.copy(
        // referenced set mixes base+tail versions unless src was fully
        // compacted — multiVer stays exact so a compacted src clones
        // onto the no-window fast path
        multiVer = meta.multiVer || tailFiles.nonEmpty,
        // dst's own tail starts empty; anything stamping ≤ the cloned
        // op_seq there could only be crash leftover garbage
        tailFloor = meta.opSeq,
        projCols = Nil,
        streamBatches = ListMap.empty,
        snaps = Nil,
        snapsDropped = meta.snaps.nonEmpty || meta.snapsDropped))
      getTable(dst)
    }

  /** True when any schema evolution is in play (added, renamed or
    * dropped columns) — the flag that puts [[assembleTable]]'s
    * column-mapping select on the read. */
  private def isEvolved(meta: Meta): Boolean =
    meta.added.nonEmpty || meta.renamed.nonEmpty || meta.droppedPhys.nonEmpty

  /** Physical file-column name of a logical column (identity unless
    * renamed — the Delta column-mapping lookup). */
  private def physOf(meta: Meta, logical: String): String =
    meta.renamed.getOrElse(logical, logical)

  /** Column mapping on the WRITE side: lineage rows under their
    * PHYSICAL names, whatever the logical schema has been renamed to —
    * a rename never forks the on-disk column namespace. */
  private def physical(rows: DataFrame, meta: Meta): DataFrame =
    if (meta.renamed.isEmpty) rows
    else rows.select(meta.columns.map(lc =>
      col(lc).as(physOf(meta, lc))) ++
      Seq(LineageTable.VER, LineageTable.DEL).map(col) ++
      // the partition-directory keys ride through the rename mapping
      // untouched ([[writeBaseData]])
      rows.columns.filter(_.startsWith("_pd")).toSeq.map(col): _*)

  /** The one writer every lineage data file goes through, carrying the
    * table's physical names ([[physical]]) and physical-layout options:
    * parquet bloom filters on the [[createBloomFilter]] columns (expected
    * NDV from ANALYZE stats when present — an undersized bloom saturates
    * and prunes nothing). The options are per-write, so staged commits,
    * compactions and re-stamps all emit them and the layout survives
    * every rewrite. */
  private def lineageWriter(rows: org.apache.spark.sql.DataFrame,
                            meta: Meta): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    meta.bloomCols.foldLeft(physical(rows, meta).write) { (w, c) =>
      val ndv = meta.stats.getOrElse(c, 100000L)
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", ndv.toString)
    }

  /**
   * Apply a [[Txn]] to the stored table and make it durable, validating
   * the optimistic-concurrency guard (reference: lock-conflict abort,
   * lstore/transaction.py:26-38): `expectedOpSeq` is the op_seq the
   * caller observed when it loaded its base (`getTable(name).opSeq`); if
   * another writer has committed since, the table state the transaction
   * was built against is stale and the commit aborts with Left — nothing
   * is written, the caller re-reads and retries. The rows the ops
   * appended — and ONLY those — are written to the tail. All-or-nothing:
   * a failing op aborts before anything is written, and the commit is
   * [[commitMulti]]'s staged protocol for one table, so a crash at any
   * point reopens to exactly the state before or after it.
   */
  def tryCommit(name: String, txn: Txn, expectedOpSeq: Long,
                commitTs: Option[Long] = None,
                streamBatch: Option[(String, Long)] = None): Either[Throwable, LineageTable] =
    Try(commitOne(name, txn, Some(expectedOpSeq), commitTs, streamBatch)).toEither

  /** [[tryCommit]], throwing on abort, whose CAS is optional — None
    * commits against the state found under the lock — and whose `change`
    * sets further meta fields, given the meta at the new op_seq: how a
    * refresh records the source version it is current at
    * ([[refreshMaterializedView]]). The record carries every such field,
    * so a roll-forward writes what the live path writes. */
  private def commitOne(name: String, txn: Txn, expectedOpSeq: Option[Long],
                        commitTs: Option[Long] = None,
                        streamBatch: Option[(String, Long)] = None,
                        change: Meta => Meta = identity): LineageTable = {
    // a pending record on this table lands first; recovery takes
    // other tables' locks, so a caller already holding this table's
    // (a view refresh) recovers before taking it
    if (!Thread.holdsLock(lock(name))) recoverTxns()
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      // Idempotent streaming apply (the Delta txn-appId/version
      // pattern): a micro-batch records its (writer id, batch id) in
      // its commit's record, so a foreachBatch RETRY of an applied
      // batch (at-least-once delivery: a crash between the table
      // commit and the checkpoint offset commit re-runs the batch) is
      // skipped here — without this, a re-applied delete-arm merge
      // would resurrect its key through the not-matched insert arm.
      val replayed = streamBatch.exists { case (app, bid) =>
        meta.streamBatches.get(app).exists(_ >= bid) }
      if (!replayed) {
        expectedOpSeq.foreach(e => if (meta.opSeq != e)
          throw new ConcurrentModificationException(
            s"$name: op_seq moved $e -> ${meta.opSeq} " +
              "since the transaction's base was loaded"))
        // the commit log must stay time-ordered or the asOfTimestamp
        // lookup (last entry at-or-before ts) silently skips history —
        // reject out-of-order stamps BEFORE anything is written
        commitTs.foreach(ts => require(meta.commitLog.forall(_._2 <= ts),
          s"$name: commit timestamp $ts precedes the log tail"))
        commitStaged("multi")(stage(_, Map(name -> txn), m => change {
          val logged = commitTs.fold(m)(ts =>
            m.copy(commitLog = m.commitLog :+ (m.opSeq -> ts)))
          // the writer's entry moves last: the least recently
          // committing writers drop past the cap
          streamBatch.fold(logged) { case (app, bid) =>
            logged.copy(streamBatches = (logged.streamBatches - app +
              (app -> bid)).takeRight(Catalog.maxStreamWriters))
          }
        }))
        // The reference's background-merge trigger, run inline on
        // commit. On a LOGGED (commitAt) commit this is only safe when
        // snapshot retention is on: with retention, foldTail moves the
        // commit log into the snapshot manifest and asOfTimestamp keeps
        // resolving across the rewrite; without it, foldTail CLEARS the
        // log and an inline compaction here would erase the entry this
        // very commit just wrote, silently degrading its asOfTimestamp
        // to the post-rewrite base (ADVICE r7) — so retention-off
        // logged tables compact only on their next unlogged commit or
        // an explicit maybeCompact/foldTail call.
        if (autoCompact && (commitTs.isEmpty || snapshotRetention > 0))
          maybeCompact(name, compactRatio, preserveHistory = true)
      }
      getTable(name)
    } }
  }

  /** [[tryCommit]] against the CURRENT stored state (the transaction
    * applies to whatever state the table lock finds, so only a
    * cross-process writer can abort it). Throws on abort — the
    * single-writer convenience API. */
  def commit(name: String, txn: Txn): LineageTable = commitOne(name, txn, None)

  /** [[commit]] with a commit-log entry: the transaction's resulting
    * op_seq is recorded against `ts` (caller-supplied — a wall clock in
    * production, a logical clock in tests; must be ≥ the log tail), which
    * is what [[asOfTimestamp]] resolves time travel against. */
  def commitAt(name: String, txn: Txn, ts: Long): LineageTable =
    commitOne(name, txn, None, Some(ts))

  /** Idempotent [[commit]] for a streaming micro-batch: `(writerId,
    * batchId)` lands in the same commit record as the batch's rows, and a
    * replay of an at-or-before batch is a NO-OP — foreachBatch delivery
    * is at-least-once, so without this a retried delete-arm merge would
    * resurrect its key ([[graft.streaming.StreamOps.mergeStream]]). A
    * crash before the record leaves neither; after it, recovery lands
    * both, so each batch applies exactly once. */
  def commitStreamBatch(name: String, txn: Txn,
                        writerId: String, batchId: Long): LineageTable =
    commitOne(name, txn, None, streamBatch = Some((writerId, batchId)))

  // ------------------------------------------- cross-table transactions

  private def txnRoot = new Path(root, "_txn")
  private def txnRecordPath(id: String) = new Path(txnRoot, id + ".json")
  private def txnPartPath(id: String) = new Path(txnRoot, id + ".part.json")

  /** Write transaction `id`'s `record` whole: written inside its staging
    * directory, then renamed into place, so recovery — which reads every
    * listed record — never reads one half-written. */
  private def writeRecord(id: String, record: Path, rec: TxnRecord): Unit = {
    val tmp = new Path(new Path(txnRoot, id), record.getName)
    writeString(tmp, TableMeta.encode(rec))
    move(tmp, record)
  }

  /** This warehouse's fully-qualified root URI — the identity a
    * cross-catalog transaction record names a participant by. */
  private[core] def rootUri: String = fs.makeQualified(root).toString

  /** Post-commit maintenance trigger, each call under its own per-table
    * lock and marker (instance-private conf access for
    * [[Catalog.commitAcross]], whose coordinator is the companion). */
  private[core] def postCommitMaintenance(names: Iterable[String]): Unit =
    if (autoCompact)
      names.foreach(n => maybeCompact(n, compactRatio, preserveHistory = true))

  /** Test-only failpoints: a name in this set makes the next commit
    * throw AT that point, simulating a crash mid-protocol so specs can
    * drive the recovery path ([[recoverTxns]]) against every window. */
  private[core] var crashPoints: Set[String] = Set.empty
  private def crashPoint(p: String): Unit =
    if (crashPoints(p))
      throw new IllegalStateException(s"simulated crash at $p")

  /** Nested per-table JVM locks, acquired in caller-sorted order (one
    * global order = no deadlock between concurrent multi commits). */
  private def withLocks[A](names: List[String])(body: => A): A = names match {
    case Nil => body
    case h :: t => lock(h).synchronized(withLocks(t)(body))
  }

  /** Nested cross-process commit markers, same sorted order. */
  private def withMarkers[A](names: List[String])(body: => A): A = names match {
    case Nil => body
    case h :: t => withCommitMarker(h)(withMarkers(t)(body))
  }

  /**
   * ATOMIC cross-table transaction — one commit spanning N tables
   * (reference: transaction.py holds queries bound to arbitrary tables;
   * the per-table [[tryCommit]] CAS applied one table at a time would
   * leave a crash BETWEEN tables visible). Protocol is staged
   * write-ahead with a single-file commit point, the Delta/Iceberg
   * commit shape lifted to N tables:
   *
   *   1. Under every table's JVM lock + cross-process marker (acquired
   *      in sorted-name order — one global order, no deadlock), build
   *      each table's delta and write it to `_txn/<id>/<table>/` —
   *      STAGING, invisible to every reader.
   *   2. Create `_txn/<id>.json` naming the tables and their op_seq
   *      transitions. This one atomic file create IS the commit point:
   *      before it exists, recovery rolls the staging back (nothing
   *      visible, "neither"); from the instant it exists, recovery
   *      rolls forward (everything applies, "both").
   *   3. Roll forward per table: advance op_seq in the table meta,
   *      append projection deltas, rename the staged files into the
   *      tail, drop the staging. Every step is idempotent — a crash
   *      anywhere re-runs under [[recoverTxns]] to the same end state.
   *
   * Every commit, single-table ones included ([[tryCommit]]), takes this
   * path. The staged rows are durable before the commit point, so the
   * roll-forward can never lose them: crash-atomicity is both-or-neither
   * AND complete. What this protocol does NOT claim is cross-table READ
   * atomicity for concurrent sessions: a reader overlapping the
   * roll-forward can see table A's new state before table B's (each
   * table's snapshot stays individually consistent); the claim is
   * crash durability, as in the reference's per-transaction abort.
   *
   * Scale: the delta parquet is written once, staged, and renamed —
   * never rewritten — so a commit pays its distributed write plus
   * O(files) metadata ops.
   */
  def commitMulti(txns: Map[String, Txn]): Map[String, LineageTable] = {
    require(txns.nonEmpty, "commitMulti: no tables")
    val names = txns.keys.toList.sorted
    names.foreach(checked)
    // complete any predecessor's pending recovery first (idempotent;
    // cheap when _txn holds no record). OUTSIDE our lock scope:
    // recovery takes its own per-record locks in sorted order, and
    // nesting those inside ours could interleave two lock orders.
    recoverTxns()
    withLocks(names) { withMarkers(names) {
      commitStaged("multi")(stage(_, txns))
    } }
    postCommitMaintenance(names)
    names.map(n => n -> getTable(n)).toMap
  }

  /** Stage a transaction under `_txn/<id>/` — `stage` writes it and
    * returns its record — create the record, the commit point, and roll
    * it forward. The caller holds every table's lock and marker; `kind`
    * names the crash points ("multi" for commits, "rewrite" for
    * [[commitRewrite]]). */
  private def commitStaged(kind: String)(stage: String => TxnRecord): Unit = {
    val id = "tx_" + java.util.UUID.randomUUID().toString.replace("-", "_")
    val rec = stage(id)
    crashPoint(s"$kind-staged")
    writeRecord(id, txnRecordPath(id), rec)
    crashPoint(s"$kind-committed")
    applyTxn(id, rec, txnRecordPath(id))
  }

  /** Build every table's delta and stage it under `_txn/<id>/<table>/`
    * — invisible to every reader — then return the record of each
    * table's op_seq transition, with the fields `change` sets in the meta
    * at its new op_seq. The caller holds every table's lock and marker,
    * so one meta read per table serves the whole step. A failing op or
    * CHECK violation aborts here with nothing visible anywhere. */
  private[core] def stage(id: String, txns: Map[String, Txn],
                          change: Meta => Meta = identity): TxnRecord = {
    val names = txns.keys.toList.sorted
    val (expected, next, patch) = names.map { n =>
      val meta = readMeta(n)
      val before = getTable(n)
      val after = txns(n).commit(before)
      // every column at the table's declared type, as UPDATE casts its
      // assignments: a tail file wider than the declared schema cannot
      // be read under it ([[declaredSchema]]). A value that does not fit
      // fails here (ANSI), before the record
      val delta = after.delta.map(_.select(before.lineage.schema.map(f =>
        col(f.name).cast(f.dataType)): _*))
      validateConstraints(n, meta, delta)
      val at = meta.copy(opSeq = after.opSeq)
      // the meta the roll-forward writes passes writeMeta's check here,
      // before anything is written: a record that failed it would
      // wedge every later recovery
      val patch = TableMeta.diff(at, checkedMeta(change(at)))
      // through lineageWriter: the staged files RENAME into the tail at
      // roll-forward, so layout options (bloom filters) must be baked
      // in at the stage write — the rename can't add them later
      delta.foreach(d => lineageWriter(d, meta)
        .mode(SaveMode.Append)
        .parquet(new Path(new Path(txnRoot, id), n).toString))
      (meta.opSeq, after.opSeq, n -> patch)
    }.unzip3
    TxnRecord(tables = names, expected = expected, next = next,
      patch = patch.filterNot(_._2.isEmpty).toMap)
  }

  /**
   * COPY INTO (r14) — idempotent FILE-granularity bulk ingest, the
   * Delta/Snowflake `COPY INTO` shape a 100 TB ingestion pipeline
   * stands on: point it at a landing directory after every upstream
   * drop and each file's rows load EXACTLY ONCE, no matter how many
   * times the command runs, retries, or crashes mid-way.
   *
   * Mechanics: the loaded-file set is itself a lineage table
   * (`<name>__copyfiles`, keyed by file path) in this catalog, and one
   * [[commitMulti]] lands the data rows AND their manifest entries at a
   * single commit point — both-or-neither under any crash, so a re-run
   * either sees the files recorded (skips them) or sees none of their
   * rows (reloads them). No bespoke recovery: the multi-table staged
   * protocol already owns that. The manifest bootstrap (first copy)
   * creates the manifest EMPTY before any data commits — a crash
   * between create and commit retries cleanly.
   *
   * Scale: the listing is a driver-side metadata op (O(files), as any
   * file-discovery is); new-file selection anti-joins the listed paths
   * against the manifest snapshot in Spark (the manifest may be
   * millions of rows — it never collects); the data read plans ONLY
   * the new files. Columns are aligned to the target by NAME and cast
   * to its types — a missing column fails loud at analysis.
   *
   * Returns the number of files loaded (0 = everything already known).
   */
  def copyInto(name: String, path: String, format: String = "parquet",
               options: Map[String, String] = Map.empty): Long = {
    val t = getTable(checked(name))
    val manifest = name + "__copyfiles"
    // discovery: glob, one level of directory expansion, hidden files
    // skipped (the Spark source convention)
    val hits = Option(fs.globStatus(new Path(path))).getOrElse(Array.empty)
    val listed = hits.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
      else Array(st)
    }.map(_.getPath.toString)
      .filterNot { f =>
        val n = new Path(f).getName
        n.startsWith("_") || n.startsWith(".")
      }.sorted
    if (listed.isEmpty) return 0L
    import spark.implicits._
    val listedDf = listed.toSeq.toDF("file")
    if (!tableNames.contains(manifest))
      createTable(manifest, "file", listedDf.limit(0))
    val newFiles = listedDf
      .join(getTable(manifest).snapshot.select(col("file")),
        Seq("file"), "left_anti")
      .collect().map(_.getString(0)).sorted
    if (newFiles.isEmpty) return 0L
    val target = t.snapshot.schema
    val rows = spark.read.format(format).options(options)
      .load(newFiles.toIndexedSeq: _*)
      .select(t.dataCols.map(c =>
        col(c).cast(target(c).dataType).as(c)): _*)
    commitMulti(Map(
      name -> Txn.empty.insert(rows),
      manifest -> Txn.empty.insert(newFiles.toSeq.toDF("file"))))
    newFiles.length.toLong
  }

  /** Roll a committed transaction forward (idempotent per table), then
    * drop its `record`: a [[commitMulti]] record, or THIS participant's
    * part record of a cross-catalog transaction. A DECISION file (at the
    * coordinator) is deliberately untouched — only the coordinator
    * retires it, once every participant's part is gone. */
  private def applyTxn(id: String, rec: TxnRecord, record: Path): Unit = {
    rec.tables.lazyZip(rec.expected).lazyZip(rec.next).foreach { (n, e, x) =>
      val kind = if (rec.rewrites.contains(n)) "rewrite" else "multi"
      val meta = readMeta(n)
      if (meta.opSeq == e) {
        val at = meta.copy(opSeq = x)
        writeMeta(n, rec.patch.get(n).fold(at)(TableMeta.patch(at, _)))
      } else require(meta.opSeq == x,
        s"$n: op_seq ${meta.opSeq} matches neither the transaction's " +
          s"expected $e nor committed $x state — foreign writer interleaved")
      crashPoint(s"$kind-meta-$n")
      val sdir = new Path(new Path(txnRoot, id), n)
      // a rewrite's staging holds a new base, never tail files
      if (kind == "rewrite") {
        rollRewrite(n, e, sdir, readMeta(n))
        crashPoint(s"rewrite-proj-$n")
      } else if (parquetUnder(sdir).hasNext) {
        // projections BEFORE rows, so a crash between the two leaves the
        // projection a SUPERSET of the lineage; a recovery re-run may
        // re-append pairs — extra candidates are filtered by the probe's
        // final predicate re-application (a missing key would lose rows)
        if (meta.projCols.nonEmpty)
          writeProjections(n, meta, scanGraftDir(sdir), meta.projCols,
            SaveMode.Append)
        crashPoint(s"multi-proj-$n")
        val tail = new Path(dir(n), "tail")
        fs.mkdirs(tail)
        fs.listStatus(sdir).foreach { s =>
          if (s.isFile && s.getPath.getName.endsWith(".parquet"))
            move(s.getPath, new Path(tail, s.getPath.getName))
        }
      }
      deleteRecursively(sdir)
      crashPoint(s"$kind-done-$n")
    }
    deleteRecursively(new Path(txnRoot, id))
    fs.delete(record, false)
  }

  /**
   * Recover pending cross-table transactions: committed records (the
   * `_txn/<id>.json` exists) roll FORWARD; orphaned staging older than
   * the marker lease (a writer that died before its commit point) rolls
   * BACK by deletion — nothing of it ever became visible. Runs at
   * catalog construction (the reference's Database.open recovery) and
   * before each commit; safe to call any time.
   */
  def recoverTxns(): Unit = if (isDir(txnRoot)) {
    val entries = fs.listStatus(txnRoot).toSeq
    def ownerAliveFor(id: String): Boolean =
      try fs.listStatus(new Path(txnRoot, id)).exists(c => c.isDirectory &&
        pathExists(markerPath(c.getPath.getName)))
      catch { case _: java.io.FileNotFoundException => false }
    // a listed record vanishes once its writer finishes
    def read(p: Path): Option[TxnRecord] =
      try Some(TableMeta.decodeTxn(readString(p)))
      catch { case _: java.io.FileNotFoundException => None }
    // A record's writer holds every table's marker from before the record
    // exists until after it is gone, so a record still present once no
    // live marker was seen has no writer left: roll it forward. A marker
    // HELD means a live writer mid-roll-forward, this Catalog's own
    // threads included — recovery is for the dead, and waiting on the
    // writer's locks would serialize unrelated commits; the next pass
    // completes the record if the writer died. Under the locks and
    // markers the record is checked again: another recovery may have
    // completed it, and the table may have moved on since.
    def rollForward(id: String, rec: TxnRecord, record: Path): Unit = {
      val names = rec.tables.toList.sorted
      if (!names.exists(markerLive) && pathExists(record))
        try withLocks(names) { withMarkers(names) {
          if (pathExists(record)) applyTxn(id, rec, record)
        } } catch { case _: ConcurrentModificationException => () }
    }
    // 1. cross-catalog PART records first: this root staged its share of
    //    a transaction whose commit point lives at the COORDINATOR —
    //    decision present ⇒ roll MY tables forward; decision absent ⇒
    //    presumed abort, but only once the staging is past the lease
    //    with no live owner (the coordinator may be about to decide).
    for (s <- entries if s.isFile && s.getPath.getName.endsWith(".part.json");
         rec <- read(s.getPath)) {
      val id = s.getPath.getName.stripSuffix(".part.json")
      // None = coordinator unreachable (leave everything for a later
      // pass); Some(true/false) = decision present/absent
      val decided: Option[Boolean] = rec.coordinator.flatMap { c =>
        try {
          val decision = new Path(new Path(new Path(c), "_txn"),
            id + ".json")
          Some(decision.getFileSystem(hconf).exists(decision))
        } catch { case _: java.io.IOException => None }
      }
      decided match {
        case Some(true) => rollForward(id, rec, txnPartPath(id))
        case Some(false) =>
          val stale = System.currentTimeMillis() -
            s.getModificationTime > markerLeaseMs
          if (stale && !ownerAliveFor(id)) {
            deleteRecursively(new Path(txnRoot, id))
            fs.delete(s.getPath, false)
          }
        case None => ()
      }
    }
    // 2. record files: single-catalog records roll forward as before; a
    //    cross-catalog DECISION record (this root coordinated) drives
    //    every named participant's recovery, then retires once all
    //    part records are gone — the decision must outlive the last
    //    participant's roll-forward or a crash mid-fan-out would make
    //    the survivors read "aborted".
    for (s <- entries if s.isFile && s.getPath.getName.endsWith(".json") &&
           !s.getPath.getName.endsWith(".part.json");
         rec <- read(s.getPath)) {
      val id = s.getPath.getName.stripSuffix(".json")
      val participants = rec.participants
      if (participants.nonEmpty) {
        def partPending(uri: String): Boolean =
          try {
            val pp = new Path(new Path(new Path(uri), "_txn"),
              id + ".part.json")
            pp.getFileSystem(hconf).exists(pp)
          } catch { case _: java.io.IOException => true }
        participants.filter(partPending).foreach { uri =>
          if (uri != rootUri)
            // a participant Catalog's OWN construction-time recovery
            // sees this decision and rolls its part forward (it only
            // READS the decision file — no recursion back here)
            try { new Catalog(spark, uri, autoCompact = false); () }
            catch { case scala.util.control.NonFatal(_) => () }
        }
        if (participants.forall(u => !partPending(u)))
          fs.delete(s.getPath, false)
      } else rollForward(id, rec, txnRecordPath(id))
    }
    entries.filter(_.isDirectory).foreach { d =>
      val id = d.getPath.getName
      val stale = System.currentTimeMillis() -
        d.getModificationTime > markerLeaseMs
      // NEVER roll back staging whose owner may still be alive: the
      // owner holds every staged table's commit marker for the whole
      // stage-write ([[commitMulti]]/[[Catalog.commitAcross]]), so a
      // present marker vetoes the rollback even past the lease — a
      // 100 TB delta write can legitimately out-live any lease, and
      // GC'ing it would make the owner's subsequent commit point apply
      // EMPTY staging (silent loss). Dir mtime staleness remains the
      // trigger; the marker is the liveness proof. A live part record
      // vetoes too: its staging belongs to the decision protocol above.
      if (!pathExists(txnRecordPath(id)) && !pathExists(txnPartPath(id)) &&
          stale && !ownerAliveFor(id))
        deleteRecursively(d.getPath)
    }
  }

  /**
   * `TIMESTAMP AS OF` time travel: the table state as of wall-clock `ts`
   * — the state the last [[commitAt]] at-or-before `ts` left behind
   * (clamped to the base state before the first logged commit, the
   * reference's select_version clamp table-wide). Resolution is a pure
   * metadata lookup (the commit log lives in `_graft.json`); the read is
   * [[LineageTable.asOfVersion]], whose `_ver ≤ v` predicate prunes tail
   * files by footer min-max before the snapshot window runs. The commit
   * log is CLEARED by compaction/vacuum/purge (their re-stamp invalidates
   * historical version addressing — the Delta/Iceberg rule that VACUUM
   * bounds time travel), so the travel window is "since the last
   * physical rewrite"; commits made without [[commitAt]] are not logged,
   * and a lookup lands at the last LOGGED state at-or-before `ts`.
   */
  def asOfTimestamp(name: String, ts: Long): org.apache.spark.sql.DataFrame = {
    val meta = readMeta(name)
    def resolve(m: Meta): Option[Long] = m.loggedVersion(_ <= ts)
    resolve(meta) match {
      case Some(v) => getTable(name).asOfVersion(v)
      case None =>
        // no current-log entry at-or-before ts: walk retained snapshots
        // newest-first — each manifest's log addresses its own retired
        // files, so the read is the snapshot's data at ITS version
        val snapMetas = meta.snaps.reverse.map(id =>
          id -> TableMeta.decodeMeta(readString(snapMetaPath(name, id))))
        snapMetas.collectFirst { case (id, sm) if resolve(sm).isDefined =>
          loadSnapshot(name, id, sm).asOfVersion(resolve(sm).get)
        }.getOrElse {
          // ts precedes ALL logged history. If retention ever dropped a
          // snapshot, the state at ts may have lived in it — clamping
          // would serve wrong data as if right, so ERROR (the Iceberg
          // expire-snapshots contract). Otherwise clamp to the oldest
          // addressable base state: the oldest snapshot's pre-log base,
          // or — with no snapshots — the live table's tail_floor (0 for
          // a never-rewritten table = original base).
          if (meta.snapsDropped)
            throw new IllegalArgumentException(
              s"$name: timestamp $ts is beyond the retention horizon — " +
                "the snapshots covering it were expired or erased " +
                "(vacuum/purge/merge); raise snapshotRetention to keep " +
                "more pre-compaction states")
          snapMetas.lastOption.fold(getTable(name).asOfVersion(meta.tailFloor)) {
            case (id, sm) => loadSnapshot(name, id, sm).asOfVersion(sm.tailFloor)
          }
        }
    }
  }

  /** A retained pre-rewrite state as a [[LineageTable]]: the manifest's
    * meta over the snapshot's own base/tail dirs. Read-only by
    * construction (nothing ever writes under a listed snapshot). */
  private def loadSnapshot(name: String, id: Long, sm: Meta): LineageTable =
    assembleTable(sm, baseFrame(sm, snapDataDir(name, id, "base")),
      snapDataDir(name, id, "tail"))

  /** Persist a full table state: compacted base, empty tail (reference:
    * Table.__merge + Database.close persistence in one step). History
    * COLLAPSES to the live snapshot (the reference's merge semantics) and
    * retained snapshots collapse with it; auto-compaction uses the
    * history-preserving [[foldTail]] instead. The base is
    * range-partitioned + sorted by the indexed column (or the key), so
    * min-max pruning serves probes on that column. One [[commitRewrite]]:
    * a crash reopens to the state before or after it. */
  def saveCompacted(name: String, t: LineageTable): Unit =
    lock(name).synchronized { withCommitMarker(name) {
      compactAs(name, readMeta(name), t); ()
    } }

  /** [[saveCompacted]] laid out under `meta` — the live meta with any
    * layout change ([[createIndex]], [[dropIndex]], [[zorderTable]])
    * that the same record commits. op_seq resets to 0 and `tail_floor`
    * with it: every row of the compacted base stamps 0. */
  private def compactAs(name: String, meta: Meta, t: LineageTable): LineageTable =
    commitRewrite(name, meta, t.compact.lineage, 0L, multiPossible = false)

  /**
   * The reference's periodic background merge trigger (lstore/table.py:186
   * folds tail pages into base when updates accumulate): compact when the
   * tail has grown past `maxTailRatio` of the base. Row counts are
   * metadata-only (parquet footer statistics — `count()` on a bare scan
   * never reads column data), so the check is cheap enough to run after
   * every commit — which [[tryCommit]] does when `autoCompact` is on,
   * with `preserveHistory = true` (version reads survive; see
   * [[foldTail]]). Returns true when a compaction ran.
   */
  def maybeCompact(name: String, maxTailRatio: Double = 0.3,
                   preserveHistory: Boolean = false): Boolean = {
    val tailPath = new Path(dir(name), "tail")
    if (!parquetUnder(tailPath).hasNext) return false
    // footer row counts DRIVER-SIDE when the file count is small: the
    // per-commit trigger previously ran TWO Spark count jobs (each a
    // task dispatch + scheduler round-trip for pure footer metadata) —
    // part of the measured per-commit job storm. Past the bound the
    // distributed count wins (a 100 TB base is many footers); a clone
    // manifest keeps the scan path too (its files live outside dir()).
    def footerRows(p: Path): Option[Long] = {
      val files = parquetUnder(p).take(65).toSeq
      if (files.size > 64) None
      else Some(files.map(f => graft.sources.ParquetMeta
        .footerRowCount(hconf, f)).sum)
    }
    val baseRows =
      if (hasManifest(name)) liveBase(name, readMeta(name)).count()
      else footerRows(baseDir(name))
        .getOrElse(liveBase(name, readMeta(name)).count())
    val tailRows = footerRows(tailPath)
      .getOrElse(scanGraftDir(tailPath).count())
    val due = baseRows == 0 || tailRows.toDouble / baseRows > maxTailRatio
    if (due) {
      if (preserveHistory) foldTail(name)
      else saveCompacted(name, getTable(name))
    }
    due
  }

  /**
   * HISTORY-PRESERVING physical merge — what auto-compaction runs: fold
   * the tail into a re-laid-out base (range-partitioned + sorted on the
   * indexed column) keeping EVERY version, so read amplification and
   * file counts are bounded like the reference's background merge while
   * version reads, ls_history audits, and vacuum retention semantics
   * survive compaction untouched. The surviving lineage is re-stamped by
   * per-key rank ([[restamped]] — per-key version ORDER is the portable
   * contract, raw stamps are internal) and committed as one
   * [[commitRewrite]], which retires the replaced base and tail into a
   * retained snapshot when `snapshotRetention` > 0.
   */
  def foldTail(name: String): LineageTable = lock(name).synchronized {
    withCommitMarker(name)(fold(name, readMeta(name)))
  }

  /** [[foldTail]] laid out under `meta` — the live meta with any layout
    * change the same record commits ([[createBloomFilter]]). */
  private def fold(name: String, meta: Meta): LineageTable = {
    val t = getTable(name)
    val opSeqNew = t.opSeq + depthBudget(meta.key, t.lineage)
    commitRewrite(name, meta,
      restamped(rankByVerDesc(meta.key, t.lineage), opSeqNew), opSeqNew,
      multiPossible = true, keepSnapshots = true)
  }

  /** Newest-first per-key rank — the shared pre-step of every re-stamp. */
  private def rankByVerDesc(key: String,
                            rows: org.apache.spark.sql.DataFrame) =
    rows.withColumn("_rn", row_number().over(
      Window.partitionBy(col(key)).orderBy(col(LineageTable.VER).desc)))

  /** Ranked rows re-stamped ABOVE every old version: rank r of a key gets
    * `opSeqNew + 1 - r`, preserving per-key order — rank 1 is exactly
    * opSeqNew for every key. */
  private def restamped(ranked: DataFrame, opSeqNew: Long): DataFrame =
    ranked.withColumn(LineageTable.VER, lit(opSeqNew) + 1 - col("_rn"))
      .drop("_rn")

  /** Depth term of the stamp budget for a full-depth re-stamp
    * ([[foldTail]]/[[purge]]): new stamps strictly shadow every existing
    * stamp (≤ op_seq), so the budget is `op_seq + deepest per-key
    * history`. The
    * depth is one map-side-combinable groupBy-count over the key column
    * alone — a column-pruned scan, no window, no sort — and makes op_seq
    * grow LINEARLY with real history. (The previous `2*op_seq + 1` budget
    * avoided this aggregate but DOUBLED op_seq on every fold: with
    * default-on auto-compaction that overflowed Int after ~31 folds,
    * silently inverting version order. op_seq is Long now as well, so
    * even pathological single-key histories cannot overflow.) Stamps
    * still get gaps, never collisions; version addressing is
    * rank-relative so gaps are invisible. */
  private def depthBudget(key: String,
                          rows: org.apache.spark.sql.DataFrame): Long =
    rows.groupBy(col(key)).agg(count(lit(1)).as("_d"))
      .agg(max(col("_d"))).head() match {
        case r if r.isNullAt(0) => 1L // empty lineage: any positive budget
        case r                  => r.getLong(0)
      }

  /**
   * Persist a retention vacuum (see [[LineageTable.vacuum]]): physically
   * drop superseded versions beyond the newest `keep` per key (and
   * fully-dead lone tombstones). The retained rows are re-stamped above
   * every existing stamp ([[restamped]], budget `op_seq + keep`) and
   * committed as the new base by one [[commitRewrite]], which also drops
   * every retained snapshot: they hold FULL pre-rewrite history, and a
   * retention vacuum that left them behind would not have dropped
   * anything. A crash reopens to the state before or after it.
   */
  def vacuum(name: String, keep: Int = 1): LineageTable =
    lock(name).synchronized { withCommitMarker(name) {
      require(keep >= 1, s"must keep at least the newest version, got $keep")
      val t = getTable(name)
      // shared retention core (LineageTable.retained — ONE implementation
      // of the keep/lone-tombstone rules)
      commitRewrite(name, readMeta(name), restamped(t.retained(keep),
        t.opSeq + keep), t.opSeq + keep, multiPossible = keep > 1)
    } }

  /**
   * TIME-BASED retention (r11 — the Delta `VACUUM ... RETAIN n HOURS` /
   * wall-clock rule): physically drop every version superseded at-or-
   * before instant `ts`, keeping each key's state AS OF the bound plus
   * all newer history. The instant resolves through the COMMIT LOG
   * ([[commitAt]] entries — what `CALL graft.history` shows): the bound
   * is the newest logged commit at-or-before `ts`, so retention and
   * timestamp time travel share one clock. After the vacuum, deep
   * relative-version reads CLAMP at the bound state (the ranked clamp —
   * Delta's "time travel is bounded by retention"), and `asOfTimestamp`
   * beyond the horizon fails LOUD (snapshots dropped + log re-stamped —
   * never fabricates). A table with no logged commits has no clock to
   * resolve against — loud error, use the count-based [[vacuum]].
   */
  def vacuumOlderThan(name: String, ts: Long): LineageTable =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      require(meta.commitLog.nonEmpty,
        s"vacuumOlderThan: '$name' has no logged commits to resolve the " +
          "instant against — commit with commitAt (wall-clock commits) " +
          "or use the count-based vacuum(keep)")
      val bound = meta.loggedVersion(_ <= ts).getOrElse(0L)
      val t = getTable(name)
      val opSeqNew = t.opSeq + depthBudget(meta.key, t.lineage)
      // the instant-addressable history below the bound is GONE even if
      // no snapshot ever existed — the same record marks the horizon, so
      // a pre-bound asOfTimestamp fails loud instead of silently clamping
      // to a state the caller's instant never saw
      commitRewrite(name, meta.copy(snapsDropped = true),
        restamped(rankByVerDesc(meta.key, t.retainedSince(bound)), opSeqNew),
        opSeqNew, multiPossible = true)
    } }

  /**
   * Persist a hard purge (see [[LineageTable.purge]]) — right-to-be-
   * forgotten erasure of every version of matching keys, with version
   * addressing preserved for every other key. The surviving lineage is
   * ranked at full depth, re-stamped and committed by one
   * [[commitRewrite]], whose roll-forward deletes the old base, the old
   * tail, every retained snapshot (they physically hold the purged
   * keys' rows) and the projections (rebuilt from the new base). A crash
   * before the record reopens to the state before the purge; from the
   * record on, recovery completes the erasure. The stamp budget comes
   * from op_seq ([[depthBudget]] over the FULL lineage — a safe upper
   * bound on the surviving depth that avoids running the purge
   * anti-join twice).
   */
  def purge(name: String,
            predicate: org.apache.spark.sql.Column): LineageTable =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      val t = getTable(name)
      val opSeqNew = t.opSeq + depthBudget(meta.key, t.lineage)
      commitRewrite(name, meta,
        restamped(rankByVerDesc(meta.key, t.purge(predicate).lineage), opSeqNew),
        opSeqNew, multiPossible = t.opSeq > 0)
    } }

  /**
   * Commit a physical rewrite: `rows`, already stamped at or below
   * `opSeqNew`, become the base of `name` through one `_txn` record —
   * the protocol every commit takes ([[commitMulti]]). `meta` is the
   * live meta with any change the rewrite makes besides the ones below
   * (a layout, the retention horizon); the base is laid out under it.
   *
   * Staging writes the base under `_txn/<id>/<name>/base/` and, when the
   * replaced state is retained, that state's meta verbatim as
   * `_snap/<op_seq>.json` (whose commit log still addresses the retired
   * files' own stamps, so [[asOfTimestamp]] keeps resolving across the
   * rewrite). The record's patch carries every meta field the rewrite
   * sets: op_seq and `tail_floor` (both `opSeqNew`), a new epoch, the
   * exact `multi_ver` (any staged `_ver` below `opSeqNew` is a rank≥2
   * row), the commit log (cleared — the re-stamp invalidates historical
   * stamps), the retained snapshots and the widenings (cleared — the
   * staged rows were read at the wide types). [[rollRewrite]]
   * adopts the staged base.
   *
   * `keepSnapshots` is [[foldTail]]'s: retained snapshots stay and the
   * replaced state joins them, capped at `snapshotRetention` (oldest
   * expire). Every other rewrite drops them all — physical erasure must
   * erase. Either way a dropped snapshot sets `snaps_dropped`, so a
   * too-old timestamp ERRORS instead of silently clamping past it.
   */
  private def commitRewrite(name: String, meta: Meta, rows: DataFrame,
                            opSeqNew: Long, multiPossible: Boolean,
                            keepSnapshots: Boolean = false): LineageTable = {
    val live = readMeta(name)
    commitStaged("rewrite") { id =>
      val staged = new Path(new Path(new Path(txnRoot, id), name), "base")
      writeBaseData(layoutOrdered(rows, meta), meta, staged)
      val multiVer = multiPossible && !scanGraftDir(staged)
        .where(col(LineageTable.VER) < opSeqNew).isEmpty
      // a shallow clone's base is the source's files: they cannot retire
      // into a snapshot, so a clone's first fold detaches it unretained
      val retain = keepSnapshots && snapshotRetention > 0 && !hasManifest(name)
      if (retain) writeString(snapMetaPath(name, live.opSeq), TableMeta.encode(live))
      val offered = meta.snaps ++ Option.when(retain)(live.opSeq)
      val snaps = if (keepSnapshots) offered.takeRight(snapshotRetention) else Nil
      val after = meta.copy(opSeq = opSeqNew, multiVer = multiVer,
        tailFloor = opSeqNew, commitLog = Nil, epoch = meta.epoch + 1,
        snaps = snaps, snapsDropped = meta.snapsDropped || snaps.size < offered.size,
        widened = ListMap.empty)
      TxnRecord(tables = Seq(name), expected = Seq(live.opSeq),
        next = Seq(opSeqNew), rewrites = Seq(name), patch = Map(name ->
          TableMeta.diff(live.copy(opSeq = opSeqNew), checkedMeta(after))))
    }
    getTable(name)
  }

  // ------------------------------------------------- snapshot retention

  private def snapRoot(name: String) = new Path(dir(name), "_snap")
  private def snapMetaPath(name: String, id: Long) =
    new Path(snapRoot(name), s"$id.json")
  private def snapDataDir(name: String, id: Long, part: String) =
    new Path(new Path(snapRoot(name), id.toString), part)

  /**
   * Roll rewrite `expected` → `meta` of table `name` forward from its
   * staging `sdir` ([[commitRewrite]]). Each step is idempotent and
   * guarded by what it consumes, so a re-run resumes where a crash left
   * off. While the staged base exists: the projections are dropped
   * (until their rebuild a probe falls back to the full candidate scan,
   * and no projection outlives the values it indexed), the live base and
   * tail retire — renamed into `_snap/<expected>/` when `meta` retains
   * that snapshot, deleted otherwise — and the staged base is adopted.
   * Then every `_snap` entry `meta` does not list goes, a shallow clone
   * detaches (its manifest named the files the rewrite materialized) and
   * the projections rebuild from the new base.
   */
  private def rollRewrite(name: String, expected: Long, sdir: Path,
                          meta: Meta): Unit = {
    val staged = new Path(sdir, "base")
    if (isDir(staged)) {
      meta.projCols.foreach(c => deleteRecursively(projDir(name, c)))
      val snap = Option.when(meta.snaps.contains(expected))(
        new Path(snapRoot(name), expected.toString))
      snap.foreach(fs.mkdirs)
      for (part <- Seq("base", "tail")) {
        val live = new Path(dir(name), part)
        if (isDir(live))
          snap.fold(deleteRecursively(live))(s => move(live, new Path(s, part)))
        crashPoint(s"rewrite-$part-$name")
      }
      move(staged, baseDir(name))
      crashPoint(s"rewrite-adopted-$name")
    }
    if (meta.snaps.isEmpty) deleteRecursively(snapRoot(name))
    else if (isDir(snapRoot(name)))
      fs.listStatus(snapRoot(name)).foreach { s =>
        val id = s.getPath.getName.stripSuffix(".json")
        if (!id.toLongOption.exists(meta.snaps.contains))
          deleteRecursively(s.getPath)
      }
    crashPoint(s"rewrite-snaps-$name")
    fs.delete(cloneManifestPath(name), false)
    if (meta.projCols.nonEmpty)
      writeProjections(name, meta, scanGraftDir(baseDir(name)), meta.projCols,
        SaveMode.Overwrite)
  }

  /**
   * Build a physical index on `column` (reference: Index.create_index,
   * lstore/index.py:59): re-layout the base range-partitioned + sorted by
   * that column and record it in the metadata, so secondary probes prune
   * at file/row-group level instead of scanning the snapshot. The
   * re-layout is [[saveCompacted]]'s, and the index lands in its record.
   */
  def createIndex(name: String, column: String): LineageTable =
    lock(name).synchronized { withCommitMarker(name) {
      val t = getTable(name)
      require(t.dataCols.contains(column), s"no such column: $column")
      compactAs(name, readMeta(name).copy(index = Some(column),
        zorderCols = Nil), t)
    } }

  /** Drop the index (reference: Index.drop_index, lstore/index.py:66):
    * forget the metadata and restore the default key layout, in one
    * [[saveCompacted]] record. */
  def dropIndex(name: String): LineageTable =
    lock(name).synchronized { withCommitMarker(name) {
      compactAs(name, readMeta(name).copy(index = None, zorderCols = Nil),
        getTable(name))
    } }

  /** The indexed column, if an index exists (reference: Index surface). */
  def indexOf(name: String): Option[String] = readMeta(name).index

  /** The ONE physical order every base rewrite lays out: the Z-order
    * morton code when [[zorderTable]] chose multi-column clustering,
    * else the indexed column, else the key. Applied by saveCompacted and
    * every re-stamp (fold/vacuum/purge), so the layout SURVIVES
    * maintenance — the Delta OPTIMIZE ZORDER BY contract. */
  private def layoutOrdered(df: org.apache.spark.sql.DataFrame,
                            meta: Meta): org.apache.spark.sql.DataFrame =
    if (meta.partCols.nonEmpty) {
      // partitioned layout: cluster rows by (partitions..., key-or-index)
      // so each write task holds contiguous runs per partition directory —
      // few files per directory, sorted within for row-group pruning.
      // A bucket level clusters by its DERIVED hash value (the raw
      // column's range order spreads across buckets — clustering raw
      // would write tasks × buckets files); identity/days raw order
      // aligns with the directories already.
      val pcs = meta.partCols.indices.map(i =>
        if (meta.funcs(i).startsWith("bucket_")) dirValueExpr(meta, i)
        else col(meta.partCols(i)))
      if (meta.zorderCols.size >= 2)
        // partition by directory, Z-ORDER within each (r13): rows
        // cluster by (partitions..., morton), so each directory's files
        // cover bounded boxes over the zorder columns — probes prune the
        // partition level AND row-group-prune inside it from one layout
        graft.ops.Layout.zorderWithin(df, pcs, meta.zorderCols,
          math.min(16, 63 / meta.zorderCols.size), 0)
      else {
        val cs = pcs :+ col(meta.index.getOrElse(meta.key))
        df.repartitionByRange(cs: _*).sortWithinPartitions(cs: _*)
      }
    } else if (meta.zorderCols.size >= 2)
      // bits derive from the column count (n·bits must fit a long's 63
      // non-sign bits), so ANY accepted column set lays out successfully
      // — a durable zorderCols that saveCompacted cannot re-apply would
      // poison every later rewrite (fold/vacuum/purge) until dropIndex
      graft.ops.Layout.zorder(df, meta.zorderCols,
        math.min(16, 63 / meta.zorderCols.size), 0)
    else {
      val c = meta.index.getOrElse(meta.key)
      df.repartitionByRange(col(c)).sortWithinPartitions(col(c))
    }

  /**
   * Multi-column Z-ORDER re-layout of a durable table (r10 — the Delta
   * `OPTIMIZE t ZORDER BY (a, b, ...)` analog, [[graft.ops.Layout
   * .zorder]] wired into the catalog lifecycle): the base rewrites with
   * every file covering a bounded N-dimensional box over `columns`, so
   * range probes on ANY of them row-group-prune from one layout; the
   * clustering is recorded in the table metadata and every later rewrite
   * (compaction, vacuum, purge) re-applies it. Mutually exclusive with
   * the single-column [[createIndex]] — both spend the one physical
   * order (setting either clears the other); [[dropIndex]] restores the
   * default key layout from either. Like createIndex, the rewrite is
   * [[saveCompacted]]: history collapses to the live snapshot.
   */
  def zorderTable(name: String, columns: Seq[String]): LineageTable =
    lock(name).synchronized { withCommitMarker(name) {
      val t = getTable(name)
      // partitioned tables Z-order WITHIN their directories (r13) — the
      // standard lakehouse layout (partition by day + ZORDER BY inside);
      // a partition column in the clustering set is already pruned a
      // whole level above row groups, so it rejects loud
      readMeta(name).partCols.intersect(columns) match {
        case Seq() => ()
        case dup => throw new IllegalArgumentException(
          s"zorderTable: ${dup.mkString(", ")} is a partition column of " +
            s"'$name' — the directory level already prunes it; Z-order " +
            "by non-partition columns (they cluster within each " +
            "partition directory)")
      }
      require(columns.size >= 2,
        s"zorderTable: need >= 2 columns, got ${columns.mkString(",")} " +
          "(use createIndex for a single column)")
      require(columns.distinct == columns,
        s"zorderTable: duplicate columns: ${columns.mkString(",")}")
      // 63 interleave bits shared across n columns: past ~6 columns the
      // per-dimension resolution (63/n bits) is too coarse to prune —
      // reject up front rather than persist a layout that cannot help
      require(columns.size <= 6,
        s"zorderTable: ${columns.size} columns share 63 interleave bits " +
          "— per-column selectivity dilutes past usefulness; cluster by " +
          "at most 6 (lakehouse guidance is 2-4)")
      columns.foreach(c => require(t.dataCols.contains(c),
        s"no such column: $c"))
      compactAs(name, readMeta(name).copy(index = None, zorderCols = columns), t)
    } }

  /** The Z-order clustering columns, if [[zorderTable]] set them. */
  def zorderColsOf(name: String): Seq[String] = readMeta(name).zorderCols

  /**
   * HASH-SKIPPING index: parquet bloom filters on `column` in every data
   * file (the reference's per-column hash index, lstore/index.py:24 —
   * realized as the format's own native structure rather than a side
   * table). Complements the other probe levers where each stops:
   * [[createIndex]] spends the ONE physical sort order; projections
   * ([[createProjection]]) maintain a slim (column, key) side table that
   * still scans ALL its rows to find candidates. A bloom filter prunes
   * at the ROW-GROUP level on equality probes with no sort order and no
   * side scan — the reader consults the filter (a few KB per row group)
   * and skips groups that cannot contain the value, which for a
   * high-cardinality column at 100 TB is nearly all of them.
   *
   * Spark-native end to end: the option rides the normal parquet writer
   * ([[lineageWriter]] — tail appends, compactions and re-stamps all
   * carry it), and the READ side is free: pushed equality filters reach
   * parquet-mr's row-group filter, which checks column stats,
   * dictionaries and blooms with no engine code at all. parquet-mr
   * deliberately OMITS the bloom for a chunk that stayed fully
   * dictionary-encoded — the dictionary already gives exact row-group
   * screening there, and the bloom materializes exactly when the
   * dictionary falls back at high cardinality, which is the case the
   * index exists for (BloomIndexSpec pins both). Expected NDV comes
   * from ANALYZE stats when present (an undersized bloom saturates and
   * prunes nothing — run [[analyzeTable]] first on real data). The
   * creation rewrite is [[foldTail]]: history-preserving,
   * snapshot-retention-aware, so unlike [[createIndex]] it never
   * collapses version history.
   */
  def createBloomFilter(name: String, column: String): LineageTable =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      require(getTable(name).dataCols.contains(column),
        s"no such column: $column")
      // the fold bakes the filters into the existing base+tail and its
      // record lists the column; later writes carry them via lineageWriter
      if (meta.bloomCols.contains(column)) getTable(name)
      else fold(name, meta.copy(bloomCols = meta.bloomCols :+ column))
    } }

  /** Columns carrying parquet bloom filters ([[createBloomFilter]]). */
  def bloomColsOf(name: String): Seq[String] = readMeta(name).bloomCols

  // ---------------------------------------------- multi-column projections

  /**
   * Maintained secondary-index PROJECTION on `column` — the distributed
   * analog of the reference keeping an independent hash index per column
   * (lstore/index.py:24-31 initializes one per column; create_index
   * index.py:59): a slim `(column, key)` side table, range-partitioned +
   * sorted by `column`, holding one row per lineage row. Unlike
   * [[createIndex]] (ONE physical base layout — a second call replaces
   * the first), any number of projections coexist, so point/range probes
   * on several different columns of one table each prune on their own
   * sorted projection.
   *
   * Maintenance is O(delta): every commit appends just the delta's
   * `(column, key)` pairs ([[applyTxn]]); compaction/vacuum/purge
   * rebuild projections from the new base as part of the rewrite they
   * already pay ([[rollRewrite]]). The build, the appends and the
   * rebuilds all go through [[writeProjections]], which writes the
   * column under its logical name at its declared type, so a renamed or
   * re-added column keeps its projection through every commit and
   * rewrite. The rewrite rebuild is also what makes purge's
   * erasure reach the projections: the roll-forward deletes the
   * projection dirs before it retires the old base, and a recovery
   * re-run after a crash deletes and rebuilds them again, so no
   * projection outlives the purged values (a probe with a missing
   * projection dir falls back to the full candidate scan).
   *
   * The probe contract is superset-safe by construction: the projection
   * lists any key any of whose VERSIONS matched, reconstruction
   * re-applies the predicate to the live row ([[probeProjected]]), so
   * stale values (updated/deleted rows pending compaction) cost extra
   * candidates, never wrong results.
   */
  def createProjection(name: String, column: String): Unit =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      val t = getTable(name)
      require(t.dataCols.contains(column), s"no such column: $column")
      require(!meta.projCols.contains(column),
        s"$name already has a projection on $column")
      writeProjections(name, meta, physical(t.lineage, meta), Seq(column),
        SaveMode.Overwrite)
      writeMeta(name, meta.copy(projCols = meta.projCols :+ column))
    } }

  /** The one projection writer. `rows` carry the table's PHYSICAL column
    * names — a staged delta, a rewritten base, or the lineage mapped by
    * [[physical]] — at its declared types ([[stage]] casts every delta,
    * and a rewrite and the lineage read under [[declaredSchema]]). Each
    * projection gets the `(column, key)` pairs under their LOGICAL
    * names, so a renamed or re-added column reads back under the name
    * [[probeProjected]] asks for. A build (Overwrite) lays the pairs out
    * range-partitioned and sorted by the column; a commit (Append) adds
    * its delta's pairs as they are. */
  private def writeProjections(name: String, meta: Meta, rows: DataFrame,
                               columns: Seq[String], mode: SaveMode): Unit =
    columns.foreach { c =>
      val pairs = rows.select(col(physOf(meta, c)).as(c), col(meta.key))
      (if (mode == SaveMode.Append) pairs
       else pairs.repartitionByRange(col(c)).sortWithinPartitions(col(c)))
        .write.mode(mode).parquet(projDir(name, c).toString)
    }

  /** Drop a projection: forget the metadata, delete the side table. */
  def dropProjection(name: String, column: String): Unit =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      writeMeta(name, meta.copy(projCols = meta.projCols.filterNot(_ == column)))
      deleteRecursively(projDir(name, column))
    } }

  /** Columns with a maintained projection (reference: per-column Index). */
  def projectionsOf(name: String): Seq[String] = readMeta(name).projCols

  // ------------------------------------------------ durable ANN sidecars
  //
  // Three durable ANN indexes live beside the table as self-describing
  // parquet sidecars: the IVF vector index `_vecindex`, IVF-PQ
  // `_ivfpq/{books,codes,cents}` and the kNN graph
  // `_knn/{graph,adj,seeds,meta}`. They are not in table meta on purpose:
  // a missing or deleted sidecar simply reads as "no index". One
  // lifecycle serves all three.
  //
  // Provenance: each records its embedding column and the op_seq at build
  // (and, where it can refresh, the epoch) in `_vecindex`, `_ivfpq/cents`
  // or `_knn/meta`. That file is the index's commit point: a (re)build
  // deletes it before its first write and writes it after its last, and
  // drop deletes it first, so a crash reads as "no index" or as the
  // complete new index, never as old provenance over half-rewritten parts.
  //
  // Staleness: the vector index's is ADVISORY. Centroids are a partition
  // hint, never a correctness input, so probes against the live snapshot
  // stay exact IVF results whatever the centroids are; a drifted table
  // just buckets less evenly (compare `built_seq` to the live op_seq and
  // rebuild when the drift warrants). IVF-PQ and the kNN graph have
  // VINTAGE semantics, the real ANN-index contract: their entries are
  // per-vector, so vectors deleted since the build can still be reached
  // but DROP at the live-snapshot scoring join (they never surface, only
  // waste candidate slots), and vectors added since the build are
  // invisible until a refresh indexes them (`refreshSidecar`).

  /** What an ANN sidecar's provenance records: the embedding column, the
    * op_seq and epoch at build, and the stored degree `k`. Only the kNN
    * graph stores a degree (0 elsewhere); the vector index never
    * refreshes and records no epoch (-1). */
  private case class Provenance(column: String, builtSeq: Long,
                                builtEpoch: Long, k: Int)

  private def sidecar(table: String, part: String) = new Path(dir(table), part)

  /** The parquet parts of a sidecar dir, listed explicitly: the sidecar
    * dirs are underscore-prefixed (so TABLE reads skip them as metadata),
    * which also makes a bare directory read see "only hidden paths" on
    * some listing paths. Empty when the dir is missing. */
  private def sidecarParts(table: String, part: String): Seq[String] = {
    val p = sidecar(table, part)
    if (!pathExists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
  }

  /** A sidecar part as a frame, read under its first part's footer
    * schema (the file schema inference would pick, without its job);
    * None when it has no parquet part. */
  private def readSidecar(table: String, part: String): Option[DataFrame] = {
    val parts = sidecarParts(table, part)
    if (parts.isEmpty) None
    else Some(spark.read.schema(footerSchema(parts.head)).parquet(parts: _*))
  }

  /** The provenance file's rows and the provenance they carry, in one
    * read; None ("no index") when the file is missing or empty. */
  private def readProvenance(table: String,
                             part: String): Option[(Provenance, Array[Row])] =
    readSidecar(table, part).map(_.collect()).filter(_.nonEmpty).map { rows =>
      val r = rows.head
      def opt[A](field: String, absent: A): A =
        if (r.schema.fieldNames.contains(field)) r.getAs[A](field) else absent
      (Provenance(r.getAs[String]("emb_col"), r.getAs[Long]("built_seq"),
        opt("built_epoch", -1L), opt("k", 0)), rows)
    }

  /** cid-ascending `(cid, vector)` pairs: centroids (`ce`) or one PQ
    * codebook's codewords (`cw`). */
  private def centroidsOf(rows: Array[Row],
                          field: String = "ce"): Seq[(Long, Array[Float])] =
    rows.map(r => (r.getAs[Long]("cid"), r.getSeq[Float](r.fieldIndex(field))
      .toArray)).sortBy(_._1).toSeq

  /** Write one sidecar part, then pass the crash point `wrote <part>`. */
  private def writeSidecar(table: String, part: String, df: DataFrame,
                           mode: SaveMode = SaveMode.Overwrite): Unit = {
    df.write.mode(mode).parquet(sidecar(table, part).toString)
    crashPoint(s"wrote $part")
  }

  /** Delete a sidecar's provenance ahead of a (re)build's first write or
    * a drop, then pass the crash point `unsealed <part>`. */
  private def unsealSidecar(table: String, provenance: String): Unit = {
    deleteRecursively(sidecar(table, provenance))
    crashPoint(s"unsealed $provenance")
  }

  /** Forget an ANN index: its provenance first, then the rest of the
    * sidecar. The table itself is untouched. */
  private def dropSidecar(table: String, root: String,
                          provenance: String): Unit =
    lock(table).synchronized { withCommitMarker(table) {
      unsealSidecar(table, provenance)
      deleteRecursively(sidecar(table, root))
    } }

  /** The live `(vec_id, embedding)` corpus of an embedding column. */
  private def vectors(table: String, column: String): DataFrame = {
    val t = getTable(table)
    require(t.dataCols.contains(column), s"no such column: $column")
    t.snapshot.select(col(t.keyCol).as("vec_id"), col(column).as("embedding"))
  }

  /**
   * What a refresh indexes, at DELTA cost rather than corpus cost: the
   * rows committed since `builtSeq` come from the CHANGE FEED
   * ([[changesBetween]], whose `_ver` range predicate pushes to footers —
   * tail files wholly outside the range never open), the latest in-range
   * upsert per key survives, and keys the index already holds drop by an
   * anti join against its slim `indexedIds` projection (an 8-byte
   * key-column exchange; embeddings never shuffle). This covers pure
   * ADDITIONS: keys updated since the build keep their stale entry, and
   * deletions stay lazily dropped at the live scoring join.
   */
  private def additionsSince(table: String, meta: Meta, column: String,
                             builtSeq: Long,
                             indexedIds: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("commit_ver").desc)
    changesBetween(table, builtSeq, meta.opSeq)
      .select(col(meta.key).as("vec_id"), col(column).as("embedding"),
              col("commit_ver"), col("op"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && col("op") === "upsert")
      .select(col("vec_id"), col("embedding"))
      .join(indexedIds, Seq("vec_id"), "left_anti")
  }

  /** The refresh skeleton shared by IVF-PQ and the kNN graph: under the
    * table lock, refuse when there is no index or when its epoch is
    * stale, do nothing at head, else run `append` (which indexes
    * [[additionsSince]] and rewrites the provenance last). `built_seq`
    * only means anything on the op_seq clock that stamped it: a physical
    * rewrite (compact/vacuum/purge) since the build re-stamps history and
    * RESETS op_seq, bumping the meta epoch, so the delta is unrecoverable
    * — refuse LOUD, the rebuild-the-index signal, never a silent no-op
    * against the reset clock. */
  private def refreshSidecar(table: String, op: String, what: String,
                             provenance: String, rebuild: String)(
      append: (Meta, Provenance, Array[Row]) => Unit): Unit =
    lock(table).synchronized { withCommitMarker(table) {
      val idx = readProvenance(table, provenance)
      require(idx.isDefined, s"$op($table): no $what index")
      val (built, rows) = idx.get
      val meta = readMeta(table)
      require(built.builtEpoch == meta.epoch,
        s"$op($table): history since the build was re-stamped by a " +
          s"physical rewrite (epoch ${built.builtEpoch} -> ${meta.epoch}) " +
          s"— $rebuild")
      if (meta.opSeq != built.builtSeq) append(meta, built, rows)
    } }

  // ------------------------------------------------------- vector index

  /**
   * Durable IVF VECTOR INDEX on an embedding column — train once, probe
   * forever: [[graft.ops.Similarity.trainedCentroids]] runs Lloyd over
   * the CURRENT snapshot (each pass one map-only native-argmax
   * assignment + a C×D stats aggregate — the corpus never shuffles),
   * and the resulting centroid set persists under `_vecindex/` (cid, ce,
   * emb_col, built_seq). A later session — or another process — loads
   * C×D floats (metadata-scale, one tiny parquet read) and pays only
   * [[graft.ops.Similarity.ivfProbePrebuilt]]'s probe cost: at 100 TB
   * the difference between ~1/C of one corpus scan per query batch and
   * re-training over the corpus every session. Its staleness is advisory
   * (see "durable ANN sidecars" above).
   */
  def createVectorIndex(name: String, column: String,
                        nCentroids: Int = 16, iters: Int = 1): Unit =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      val cs = Similarity.collectCentroids(Similarity
        .trainedCentroids(vectors(name, column), nCentroids, iters))
      require(cs.nonEmpty, s"createVectorIndex($name.$column): empty " +
        s"centroid seed set — seeding takes rows with ${meta.key} < " +
        s"$nCentroids (none found)")
      import spark.implicits._
      unsealSidecar(name, "_vecindex")
      writeSidecar(name, "_vecindex",
        cs.map { case (cid, v) => (cid, v.toSeq, column, meta.opSeq) }
          .toDF("cid", "ce", "emb_col", "built_seq").coalesce(1))
    } }

  /** The stored vector index, if one exists: (embedding column, op_seq
    * at build, cid-ascending centroids). One tiny parquet read — C×D
    * floats, metadata-scale at any table size. */
  def vectorIndex(name: String): Option[(String, Long, Seq[(Long, Array[Float])])] =
    readProvenance(name, "_vecindex").map { case (built, rows) =>
      (built.column, built.builtSeq, centroidsOf(rows)) }

  /** Forget the vector index ([[dropSidecar]]). */
  def dropVectorIndex(name: String): Unit =
    dropSidecar(name, "_vecindex", "_vecindex")

  // ----------------------------------------------------- IVF-PQ index

  /**
   * Durable IVF-PQ index — the FULL production ANN build persisted
   * ([[graft.ops.Similarity.ivfPqRerank]]'s encode side, run once):
   * seed IVF centroids, per-subspace PQ codebooks, and the per-vector
   * CODE TABLE (bucket id + m one-byte codes) written in ONE map-only
   * corpus pass to `_ivfpq/{books,codes}`, then the centroids with the
   * provenance to `_ivfpq/cents`. A later session loads the driver-small
   * model (C×D + m·K·(D/m) floats), reads the code table for scoring —
   * m bytes per vector, never the embedding column — and touches the
   * live table only to exact-re-rank the Q×kCand shortlist
   * ([[graft.ops.Similarity.ivfPqProbePrebuilt]]). At 100 TB this is the
   * difference between re-encoding the corpus per session and a
   * code-table scan ~(4·D/m)× smaller than the data. Vintage staleness
   * (see "durable ANN sidecars" above).
   */
  def createIvfPqIndex(name: String, column: String,
                       nCentroids: Int = 16, m: Int = 4,
                       codebookSize: Int = 8): Unit =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      val corpus = vectors(name, column)
      val cs = Similarity.collectCentroids(Similarity.seedCentroids(corpus, nCentroids))
      require(cs.nonEmpty, s"createIvfPqIndex($name.$column): empty " +
        s"centroid seed set — seeding takes rows with ${meta.key} < " +
        s"$nCentroids (none found)")
      val pm = Similarity.pqTrain(corpus, m, codebookSize)
      import spark.implicits._
      unsealSidecar(name, "_ivfpq/cents")
      writeSidecar(name, "_ivfpq/books",
        pm.books.zipWithIndex.flatMap { case (book, i) =>
          book.map { case (cid, cw) => (i, cid, cw.toSeq) } }
          .toDF("sub_i", "cid", "cw").coalesce(1))
      // bucket id + m codes in ONE map-only projection over the corpus
      writeSidecar(name, "_ivfpq/codes", Similarity.pqEncode(
        Similarity.assignWith(corpus, cs), pm, Seq(col("vec_id"), col("cid"))))
      writeSidecar(name, "_ivfpq/cents", ivfPqCents(cs, column, meta))
    } }

  /** `_ivfpq/cents`: the centroids, each row carrying the provenance. */
  private def ivfPqCents(cs: Seq[(Long, Array[Float])], column: String,
                         meta: Meta): DataFrame = {
    import spark.implicits._
    cs.map { case (cid, v) => (cid, v.toSeq, column, meta.opSeq, meta.epoch) }
      .toDF("cid", "ce", "emb_col", "built_seq", "built_epoch").coalesce(1)
  }

  /** The stored PQ codebooks (`_ivfpq/books`, one per subspace). */
  private def pqModel(name: String): Similarity.PqModel = {
    val books = readSidecar(name, "_ivfpq/books").get.collect()
      .groupBy(_.getAs[Int]("sub_i")).toSeq.sortBy(_._1)
      .map { case (_, rows) => centroidsOf(rows, "cw") }
    val sub = books.head.head._2.length
    Similarity.PqModel(books, sub, books.size, sub * books.size)
  }

  /** The stored IVF-PQ index, if one exists: (embedding column, op_seq
    * at build, centroids, PQ model, code-table frame). The model parts
    * are metadata-scale reads; the codes frame is lazy — it only scans
    * when a probe runs. */
  def ivfPqIndex(name: String): Option[(String, Long,
      Seq[(Long, Array[Float])], Similarity.PqModel, DataFrame)] =
    readProvenance(name, "_ivfpq/cents").map { case (built, rows) =>
      (built.column, built.builtSeq, centroidsOf(rows), pqModel(name),
        readSidecar(name, "_ivfpq/codes").get) }

  /** Forget the IVF-PQ index ([[dropSidecar]]). */
  def dropIvfPqIndex(name: String): Unit =
    dropSidecar(name, "_ivfpq", "_ivfpq/cents")

  /**
   * INCREMENTAL IVF-PQ refresh — close the "additions invisible until
   * rebuild" gap at delta cost ([[additionsSince]]): ONLY the genuinely
   * new vectors pay the map-only assign+encode pass before APPENDING to
   * the code table. At 100 TB: a billion-row day lands on a
   * trillion-row index for the cost of encoding a billion rows.
   *
   * The model (centroids + codebooks) deliberately does NOT retrain —
   * that is what makes the refreshed index bit-identical to a full
   * rebuild over the grown corpus (the seeds live below every
   * realistic key range, so rebuild would find the same model), and
   * what a production IVF-PQ does between periodic re-trains. Updated
   * keys keep their stale code (exact re-rank still scores them
   * full-precision if they surface).
   */
  def refreshIvfPqIndex(name: String): Unit =
    refreshSidecar(name, "refreshIvfPqIndex", "IVF-PQ", "_ivfpq/cents",
        "the delta is not addressable as change events; rebuild with " +
          "createIvfPqIndex") { (meta, built, rows) =>
      val cs = centroidsOf(rows)
      val fresh = additionsSince(name, meta, built.column, built.builtSeq,
        readSidecar(name, "_ivfpq/codes").get.select(col("vec_id")))
      writeSidecar(name, "_ivfpq/codes", Similarity.pqEncode(
        Similarity.assignWith(fresh, cs), pqModel(name),
        Seq(col("vec_id"), col("cid"))), SaveMode.Append)
      writeSidecar(name, "_ivfpq/cents", ivfPqCents(cs, built.column, meta))
    }

  // ----------------------------------------------------- kNN-graph index

  /**
   * Durable kNN-GRAPH index (r12) — persist [[graft.ops.KnnGraph
   * .nnDescent]]'s all-points neighbor lists as a sidecar under
   * `_knn/graph` (vec_id, nbr_id, dot, rnk) with provenance in
   * `_knn/meta` (emb_col, k, built_seq, built_epoch), so the expensive
   * build runs ONCE and every later session serves reads by graph
   * traversal ([[knnSearch]]) — the HNSW-class read path. At 100 TB the
   * graph is k·N edge rows (16-byte keys + a double), ~1000× smaller
   * than the embeddings it indexes; a search batch touches
   * O(Q·beam·k·hops) rows of it, never a corpus scan. Vintage staleness
   * (see "durable ANN sidecars" above).
   */
  def createKnnIndex(name: String, column: String, k: Int = 5,
                     rounds: Int = 3, descentK: Int = 0): Unit =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      val corpus = vectors(name, column)
      // store the FULL descent lists (r14): the descent already paid
      // for descentK edges per node; trimming to k before persisting
      // threw away the graph density that serving recall rides on
      // (measured at sf0.1, beam16/hops4: recall@10 0.52 on the
      // k-trimmed graph vs 0.86+ on the dense one, same beam budget —
      // the HNSW M-vs-k distinction: stored degree is a BUILD quality
      // knob, the caller's k at search time is the answer size).
      // meta's k records the STORED degree — refresh appends new nodes
      // at the same degree.
      val deg = math.max(k, if (descentK <= 0) k else descentK)
      unsealSidecar(name, "_knn/meta")
      writeSidecar(name, "_knn/graph", KnnGraph.nnDescent(corpus, deg, rounds, descentK))
      // symmetrize ONCE at build (from the just-written files, not the
      // nnDescent plan — recomputing the descent here would double the
      // build) and persist: the serving path reads `_knn/adj` directly
      // instead of paying an O(|E|) union+distinct per query batch
      writeSidecar(name, "_knn/adj",
        KnnGraph.symmetrize(readSidecar(name, "_knn/graph").get))
      // `_knn/seeds` (r14): per-QUERY beam entry points. One Lloyd
      // round of 16 centroids (quantized-exact, deterministic — the
      // ann_ivf_trained recipe) and, per centroid, the 16 lowest-id
      // members ranked. knnSearch routes each query to its nearest
      // centroid and starts the beam at that centroid's members —
      // query-DEPENDENT entry points, the variant the r13 experiment
      // identified after global degree-ranked seeds lost (fixed seeds
      // waste the beam budget on corpus regions far from the query).
      // Skipped when the deterministic seed rule (vec_id < 16) finds no
      // rows (sparse/offset key spaces) — serving then falls back to
      // the legacy lowest-id entry points, so a rebuild deletes the
      // previous build's seeds rather than steer by them. Refresh keeps
      // seeds as built: new nodes are reachable THROUGH the appended adj
      // edges, entry points only steer.
      val cents = Similarity.trainedCentroids(corpus, 16, iters = 1)
      val cs = Similarity.collectCentroids(cents)
      if (cs.isEmpty) deleteRecursively(sidecar(name, "_knn/seeds"))
      else {
        val wm = Window.partitionBy(col("cid")).orderBy(col("vec_id").asc)
        writeSidecar(name, "_knn/seeds", Similarity.assignWith(corpus, cs)
          .withColumn("rnk", row_number().over(wm).cast("bigint"))
          .where(col("rnk") <= 16)
          .select(col("cid"), col("vec_id"), col("rnk"))
          .join(cents.select(col("cid"), col("ce")), Seq("cid")))
      }
      writeSidecar(name, "_knn/meta", knnMeta(column, deg, meta))
    } }

  /** `_knn/meta`: the provenance row. */
  private def knnMeta(column: String, k: Int, meta: Meta): DataFrame = {
    import spark.implicits._
    Seq((column, k, meta.opSeq, meta.epoch))
      .toDF("emb_col", "k", "built_seq", "built_epoch").coalesce(1)
  }

  /** The stored kNN graph, if one exists: (embedding column, k, op_seq
    * at build, lazy graph frame). */
  def knnIndex(name: String): Option[(String, Int, Long, DataFrame)] =
    readProvenance(name, "_knn/meta").map { case (built, _) =>
      (built.column, built.k, built.builtSeq,
        readSidecar(name, "_knn/graph").get) }

  /** Forget the kNN graph ([[dropSidecar]]). */
  def dropKnnIndex(name: String): Unit = dropSidecar(name, "_knn", "_knn/meta")

  /**
   * Incremental kNN-graph refresh — ADDITIONS attach at delta cost
   * ([[additionsSince]]): each genuinely-new vector finds its exact
   * top-k against the live snapshot (one broadcast-delta pass over the
   * corpus — |delta|·N dots, map-only, the corpus never shuffles), and
   * the resulting `new → old` edges APPEND to the graph. Old nodes'
   * adjacency lists are never rewritten: [[graft.ops.KnnGraph
   * .beamSearch]] traverses the SYMMETRIZED adjacency, so the appended
   * forward edges already make new nodes reachable from old ones — the
   * same append-only trick HNSW uses while deferring degree pruning.
   */
  def refreshKnnIndex(name: String): Unit =
    refreshSidecar(name, "refreshKnnIndex", "kNN", "_knn/meta",
        "rebuild with createKnnIndex") { (meta, built, _) =>
      val graph = readSidecar(name, "_knn/graph").get
      val fresh = additionsSince(name, meta, built.column, built.builtSeq,
        graph.select(col("vec_id")).distinct())
      // k+1 then drop the self-match (a committed vector is its own
      // nearest neighbor in the live snapshot) and re-rank to k
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("dot").desc, col("vec_id").asc)
      // localCheckpoint: the brute-force executes ONCE and the adj
      // and graph appends below see the SAME materialized edges
      val newEdges = Similarity.bruteTopK(
          vectors(name, built.column),
          fresh.select(col("vec_id").as("qid"), col("embedding").as("qe")),
          built.k + 1)
        .where(col("qid") =!= col("vec_id"))
        .withColumn("rnk", row_number().over(wq).cast("bigint"))
        .where(col("rnk") <= built.k)
        .select(col("qid").as("vec_id"), col("vec_id").as("nbr_id"),
          col("dot"), col("rnk"))
        .localCheckpoint()
      // keep the durable adjacency symmetrized: append BOTH directions
      // of the new edges. No cross-batch dedupe needed — every fresh
      // vec_id is anti-joined against the stored graph above, so
      // neither direction of a (new, old) or (new, new) pair can
      // already exist; within-batch mirror collisions (new1↔new2 each
      // finding the other) dedupe here.
      // ORDER MATTERS for crash consistency: adj commits BEFORE the
      // graph. knnSearch serves exclusively from adj while refresh
      // derives freshness from the graph — writing the graph first
      // left a crash window where edges existed in the graph (so the
      // next refresh skipped those ids) but never reached adj,
      // making the vectors permanently unreachable. With adj first, a
      // crash between the writes re-runs the refresh from the same
      // builtSeq and merely re-appends duplicate adj rows, which
      // beamSearch's per-frontier dedupe tolerates.
      val deltaAdj = KnnGraph.symmetrize(newEdges)
      if (sidecarParts(name, "_knn/adj").nonEmpty)
        writeSidecar(name, "_knn/adj", deltaAdj, SaveMode.Append)
      else // legacy sidecar built before `_knn/adj`: materialize full
        writeSidecar(name, "_knn/adj",
          KnnGraph.symmetrize(graph).unionByName(deltaAdj))
      writeSidecar(name, "_knn/graph", newEdges, SaveMode.Append)
      writeSidecar(name, "_knn/meta", knnMeta(built.column, built.k, meta))
    }

  /** Serve an ANN batch from the stored kNN graph ([[createKnnIndex]])
    * by greedy beam search — scoring joins the LIVE snapshot, so
    * deletions since the build never surface. */
  def knnSearch(name: String, queries: org.apache.spark.sql.DataFrame,
                k: Int, beam: Int = 5, hops: Int = 3,
                entries: Int = 4,
                /** How many nearest centroids to take entry points from
                  * (r14, `_knn/seeds` serving): each contributes its
                  * `entries` lowest-id members. Measured at sf0.1
                  * (RecallProbe DENSEVAR): entries=16/probes=2 lifts
                  * recall@10 to 0.904 at beam16/hops4 vs 0.808 for
                  * global lowest-id seeds at the SAME beam budget.
                  * Ignored (with everything else seed-related) on
                  * legacy sidecars without `_knn/seeds`. */
                probes: Int = 1,
                /** Attribute filter over the table's LIVE row (r14
                  * filtered search — `WHERE label = 3` vector search):
                  * evaluated against the snapshot, restricting the
                  * answer top-k to matching rows. Traversal stays
                  * unfiltered (see [[graft.ops.KnnGraph.beamSearch]]'s
                  * admit doc) — under a selective filter, buy recall
                  * with a wider beam. */
                filter: Option[org.apache.spark.sql.Column] = None,
                /** RADIUS serving (r14): admit only dot ≥ θ; `k` stays
                  * the output cap. See [[graft.ops.KnnGraph.beamSearch]]
                  * minDot. */
                minDot: Option[Double] = None): org.apache.spark.sql.DataFrame = {
    val idx = knnIndex(name)
    require(idx.isDefined, s"knnSearch($name): no kNN index — " +
      "createKnnIndex first")
    val (column, _, _, graph) = idx.get
    val meta = readMeta(name)
    val live = vectors(name, column)
    // serve from the adjacency symmetrized ONCE at build — O(|E|)
    // union+distinct per query batch was the 1000× serving bottleneck
    // (legacy sidecars without `_knn/adj` symmetrize at read)
    val adj = readSidecar(name, "_knn/adj").getOrElse(KnnGraph.symmetrize(graph))
    // per-query entry points from the `_knn/seeds` sidecar (r14): route
    // each query to its nearest trained centroid (driver-small C×D
    // collect + the codegen'd NearestCentroids argmax — map-only over
    // the query batch) and start the beam at that centroid's `entries`
    // lowest-id members. Legacy sidecars without seeds keep the global
    // lowest-id entry points.
    val perQuerySeeds = readSidecar(name, "_knn/seeds").map { sd =>
      val cs = Similarity.collectCentroids(sd.select(col("cid"), col("ce")).distinct())
      val routed = Similarity.probeWith(
          queries.select(col("qid"), col("qe").as("embedding")), cs, probes)
        .select(col("qid"), col("cid"))
      routed.join(
          broadcast(sd.where(col("rnk") <= entries)
            .select(col("cid"), col("vec_id"))), Seq("cid"))
        .select(col("qid"), col("vec_id"))
    }
    val admit = filter.map(f => getTable(name).snapshot.where(f)
      .select(col(meta.key).as("vec_id")))
    KnnGraph.beamSearch(live, adj, queries, k, beam, hops,
      entries, perQuerySeeds = perQuerySeeds, admit = admit,
      minDot = minDot)
  }

  /**
   * Secondary probe THROUGH a projection: candidate keys come from a
   * pruned scan of the slim sorted `(column, key)` side table (the
   * predicate pushes to ITS parquet scan, where the sort makes row-group
   * min-max stats selective), then the lineage is semi-joined down to
   * those keys and only the candidates are windowed — never the full
   * table. The side table reads under the column's and the key's
   * declared types (the lineage schema), so pre- and post-widen pairs
   * promote natively and no schema-inference job runs. Falls back to the
   * plain full-lineage probe when no projection
   * serves `column` (including the purge crash window, which deletes
   * projection dirs first) or when the predicate references columns
   * beyond the projected one — a compound predicate cannot resolve
   * against the slim side table, and correctness must not depend on the
   * caller splitting predicates right.
   */
  def probeProjected(name: String, column: String,
                     predicate: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val meta = readMeta(name)
    val t = getTable(name)
    val pd = projDir(name, column)
    if (!meta.projCols.contains(column) || !isDir(pd)) t.probe(predicate)
    else
      try {
        val types = t.lineage.schema
        val cand = spark.read
          .schema(StructType(Seq(types(column), types(meta.key))))
          .parquet(pd.toString)
          .where(predicate) // resolves NOW — throws if predicate needs more columns
          .select(col(meta.key).as("_match_key")).distinct()
        t.probeWithCandidates(cand, predicate)
      } catch {
        case _: org.apache.spark.sql.AnalysisException => t.probe(predicate)
      }
  }

  /** DESCRIBE HISTORY: the commit log as a table — one row per LOGGED
    * commit (`version` = the commit's resulting op_seq, `commit_ts` =
    * its [[commitAt]] timestamp). A pure metadata read: the log lives in
    * `_graft.json`, so this opens zero data files at any table size —
    * the entry point a user resolves "what can I time-travel to" from. */
  def history(name: String): org.apache.spark.sql.DataFrame = {
    val meta = readMeta(name)
    // retained snapshots' logs first (oldest snapshot first), then the
    // live log — together: every timestamp asOfTimestamp can resolve
    val snapEntries = meta.snaps.flatMap(id =>
      TableMeta.decodeMeta(readString(snapMetaPath(name, id))).commitLog)
    val rows = (snapEntries ++ meta.commitLog).map {
      case (v, t) => org.apache.spark.sql.Row(v, t)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("version",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("commit_ts",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /**
   * Change-feed handle for a streaming reader ([[graft.streaming.StreamOps
   * .changeFeed]]): the table's tail directory plus the exact lineage
   * schema a streaming parquet source must declare over it. The tail IS
   * the change feed — every commit appends exactly its change rows there,
   * stamped with the commit's `_ver` (postimage for upserts, the carried
   * final state for tombstones), so "stream the changes" needs no second
   * copy of the data and no write-path hook: the CDC log and the table
   * share one storage, the property that makes a change feed free at
   * 100 TB (Delta's CDF writes a separate `_change_data` folder; an
   * append-only lineage already is one). Schema comes from the table's
   * assembled frame — declared, not inferred per stream start, and exact
   * under schema evolution. The tail dir is created if absent so a feed
   * can be attached before the first post-base commit (it streams zero
   * batches until one lands) or right after a rewrite retired the tail.
   */
  def changeFeedInfo(name: String): (String, org.apache.spark.sql.types.StructType) = {
    val schema = getTable(name).lineage.schema
    val tail = new Path(dir(name), "tail")
    fs.mkdirs(tail)
    (fs.makeQualified(tail).toString, schema)
  }

  // ------------------------------------------------- materialized views

  /** The aggregate shape every materialized view maintains: per
    * group-value live-row count + EXACT cents sum of the summed column
    * ([[graft.functions.Exact]] — long sums are associative and
    * partition-order-free, so the incremental and full-recompute paths
    * produce bit-identical state; a float accumulator would drift apart
    * refresh by refresh). */
  /** Measure column name: single-measure views keep the historical
    * `cents` name (their oracles and routed rewrites depend on it);
    * multi-measure views qualify per summed column. */
  private def centsCol(sums: Seq[String], s: String): String =
    if (sums.size == 1) "cents" else "cents_" + s

  /** min/max measure columns are always qualified (no historical
    * single-measure name to preserve — the family is new in r10). */
  private def minCol(c: String): String = "minc_" + c
  private def maxCol(c: String): String = "maxc_" + c

  /** Injective composite-group key: each group value's string form,
    * LENGTH-PREFIXED (`len:value`, `N` for NULL) and concatenated — the
    * prefix makes parsing unambiguous for ANY value content (a plain
    * separator could collide when values contain it), so two distinct
    * group tuples can never share a key. Deterministic: Spark's
    * cast-to-string is stable per type. */
  private[core] def gkeyExpr(groups: Seq[String]): Column =
    concat(groups.map { g =>
      val s = col(g).cast("string")
      when(s.isNull, lit("N"))
        .otherwise(concat(length(s).cast("string"), lit(":"), s))
    }: _*)

  private def mvAgg(rows: org.apache.spark.sql.DataFrame,
                    groups: Seq[String],
                    sums: Seq[String],
                    mins: Seq[String] = Nil,
                    maxs: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val measures = count(lit(1)).as("n_rows") +:
      (sums.map(sc =>
        // total over nulls: a group whose every value is NULL sums to
        // NULL declaratively, but the incremental path's long arithmetic
        // would rebuild it as 0 — pin 0 on EVERY path (create, full
        // recompute, differential) so the two can never drift (MviewSpec
        // covers the all-null group)
        coalesce(sum(graft.functions.Exact.cents(col(sc))), lit(0L))
          .as(centsCol(sums, sc))) ++
      // min/max stay NULL for an all-null group on every path (the SQL
      // convention; the incremental combine's least/greatest skips
      // nulls, and the rescan path re-aggregates declaratively)
      mins.map(c => min(graft.functions.Exact.cents(col(c))).as(minCol(c))) ++
      maxs.map(c => max(graft.functions.Exact.cents(col(c))).as(maxCol(c))))
    val agg = rows.groupBy(groups.map(col): _*)
      .agg(measures.head, measures.tail: _*)
    val names = "n_rows" +: (sums.map(centsCol(sums, _)) ++
      mins.map(minCol) ++ maxs.map(maxCol))
    if (groups.size == 1) agg
    else agg.select(gkeyExpr(groups).as("_gkey") +: groups.map(col) ++:
      names.map(col): _*)
  }

  /**
   * Incrementally-maintained aggregate view (the warehouse feature a
   * 100 TB deployment lives on: recomputing a corpus-wide rollup per
   * ingest batch costs a full scan; maintaining it costs the batch).
   * `view` becomes an ordinary lineage table keyed by `groupCol` with
   * columns `(groupCol, n_rows, cents)` — per live source record:
   * count and exact cents sum of `sumCol` (a ≤2-decimal-place money
   * double, the [[graft.functions.Exact]] contract). It reads like any
   * table (snapshot/asOf/SQL view) and is advanced by
   * [[refreshMaterializedView]] with O(changed keys) work.
   *
   * Count + sum (avg derived) is the SELF-MAINTAINABLE aggregate family:
   * maintainable from the delta plus the old values of changed keys
   * alone. min/max sit across the classical IVM line (a deletion of the
   * current extremum cannot be maintained from the delta) — r10 adds
   * them with the standard answer: inserts and non-extremum removals
   * maintain incrementally (least/greatest combine), and ONLY a removal
   * touching a group's recorded extremum re-scans — restricted to that
   * group via a semi-join, never the table (the Materialize/Flink
   * retract-rescan compromise). Pass `minCols`/`maxCols` on the general
   * overload to opt in.
   *
   * Crash windows: view created but definition meta not yet written →
   * refresh fails loud ("not a materialized view"); drop and recreate.
   * The view must receive writes ONLY through refresh — it is a
   * downstream replica of the source, and a foreign commit would
   * silently diverge it (same contract as any replica).
   */
  def createMaterializedView(view: String, src: String, groupCol: String,
                             sumCol: String): LineageTable =
    createMaterializedView(view, src, Seq(groupCol), Seq(sumCol))

  /**
   * General form: COMPOSITE group keys and MULTIPLE measures. The view's
   * schema is `(groupCols..., n_rows, cents[_sumCol]...)` — one exact
   * cents sum per measure (single-measure views keep the historical
   * `cents` column name). A single group column is the view's lineage
   * key directly; a composite group keys on `_gkey`, an injective
   * length-prefixed encoding of the group tuple ([[gkeyExpr]]), stored
   * alongside the readable group columns. The differential algebra is
   * identical in every arity — adjustments are per-measure long deltas,
   * merged per group key.
   */
  def createMaterializedView(view: String, src: String,
                             groupCols: Seq[String],
                             sumCols: Seq[String],
                             minCols: Seq[String] = Nil,
                             maxCols: Seq[String] = Nil): LineageTable =
    lock(view).synchronized {
      require(!metaExists(view), s"table $view already exists")
      // source epoch read BEFORE the state: if a rewrite lands between the
      // two reads, the recorded epoch is stale and the next refresh takes
      // the conservative full-recompute path — never the wrong delta
      val srcEpoch = readMeta(src).epoch
      val st = getTable(src)
      require(groupCols.nonEmpty && (sumCols ++ minCols ++ maxCols).nonEmpty,
        "view needs at least one group column and one measure")
      require(groupCols.distinct == groupCols && sumCols.distinct == sumCols &&
          minCols.distinct == minCols && maxCols.distinct == maxCols,
        s"duplicate columns in view definition: " +
          s"group=${groupCols.mkString(",")} sum=${sumCols.mkString(",")}")
      require((groupCols ++ sumCols ++ minCols ++ maxCols)
          .forall(st.dataCols.contains) &&
          groupCols.intersect(sumCols ++ minCols ++ maxCols).isEmpty,
        s"view needs distinct source columns, got " +
          s"group=${groupCols.mkString(",")} sum=${sumCols.mkString(",")}")
      val key = if (groupCols.size == 1) groupCols.head else "_gkey"
      createTable(view, key,
        mvAgg(st.snapshot, groupCols, sumCols, minCols, maxCols))
      writeMeta(view, readMeta(view).copy(
        mvSrc = Some(src), mvSums = sumCols, mvGroups = groupCols,
        mvMins = minCols, mvMaxs = maxCols,
        mvSeq = st.opSeq, mvEpoch = srcEpoch))
      getTable(view)
    }

  /** Slim star join for a JOIN materialized view: the dim contributes
    * ONLY its key and the group columns it owns (never the wide row),
    * renamed-key equi-join so a fact fk named like the dim key stays
    * unambiguous. At scale the dim side is the broadcast-small one —
    * the fact (or its delta) is never exchanged for the join. */
  private def mvJoinDim(factRows: org.apache.spark.sql.DataFrame,
                        dt: LineageTable, fk: String,
                        dimGroups: Seq[String]): org.apache.spark.sql.DataFrame =
    mvJoinDimRows(factRows, dt.snapshot, dt.keyCol, fk, dimGroups)

  /** [[mvJoinDim]] against caller-supplied dim rows — the Δdim refresh
    * joins the SAME fact slice against the dim's old and new states. */
  private def mvJoinDimRows(factRows: org.apache.spark.sql.DataFrame,
                            dimRows: org.apache.spark.sql.DataFrame,
                            dimKey: String, fk: String,
                            dimGroups: Seq[String]): org.apache.spark.sql.DataFrame = {
    val dimSlim = dimRows
      .select((dimKey +: dimGroups).distinct.map(col): _*)
      .withColumnRenamed(dimKey, "_dimk")
    factRows.join(dimSlim, col(fk) === col("_dimk"), "inner").drop("_dimk")
  }

  /**
   * JOIN materialized view — the star-schema rollup a dashboard actually
   * asks for: `SELECT g..., count(*), sum(m)... FROM fact JOIN dim ON
   * fact.fk = dim.key GROUP BY g...`, maintained incrementally under
   * FACT changes. Group columns may come from either side (a name on
   * both resolves to the fact); measures must come from the fact — the
   * delta side — which together with the static dim is exactly the
   * self-maintainable boundary: Δview = Δfact ⋈ dim aggregated, the
   * same per-group long-delta algebra as the single-table form.
   *
   * DIM changes degrade, never corrupt: the refresh records the dim's
   * (op_seq, epoch) it joined against, and a refresh finding the dim
   * moved takes the full-recompute path (one atomic delete-all+insert
   * commit) — the classical IVM line (a dim update can touch every
   * group of every fact row that references it; maintaining that is a
   * fact-sized join, not a delta). Dims change rarely; facts stream.
   *
   * Rows whose fk has no dim match contribute nothing (inner join) on
   * every path — create, full recompute, and differential agree.
   */
  def createJoinMaterializedView(view: String, fact: String, dim: String,
                                 fkCol: String, groupCols: Seq[String],
                                 sumCols: Seq[String]): LineageTable =
    lock(view).synchronized {
      require(!metaExists(view), s"table $view already exists")
      // epochs/seqs read BEFORE the states (the createMaterializedView
      // convention): a rewrite landing between the reads leaves a stale
      // recording and the next refresh conservatively full-recomputes
      val factEpoch = readMeta(fact).epoch
      val dimMeta = readMeta(dim)
      val ft = getTable(fact)
      val dt = getTable(dim)
      require(groupCols.nonEmpty && sumCols.nonEmpty,
        "view needs at least one group column and one measure")
      require(groupCols.distinct == groupCols && sumCols.distinct == sumCols,
        "duplicate columns in view definition")
      require(ft.dataCols.contains(fkCol),
        s"join column $fkCol must be a $fact column")
      require(sumCols.forall(ft.dataCols.contains),
        s"measures must come from the fact side (the delta side): " +
          sumCols.filterNot(ft.dataCols.contains).mkString(","))
      require(groupCols.intersect(sumCols).isEmpty,
        "group and measure columns must be distinct")
      val dimGroups = groupCols.filterNot(ft.dataCols.contains)
      require(dimGroups.forall(dt.dataCols.contains),
        s"group columns must exist on the fact or the dim: " +
          dimGroups.filterNot(dt.dataCols.contains).mkString(","))
      require(!dimGroups.contains(dt.keyCol),
        s"group by the fact's $fkCol instead of the dim key ${dt.keyCol}")
      val key = if (groupCols.size == 1) groupCols.head else "_gkey"
      createTable(view, key,
        mvAgg(mvJoinDim(ft.snapshot, dt, fkCol, dimGroups), groupCols, sumCols))
      writeMeta(view, readMeta(view).copy(
        mvSrc = Some(fact), mvSums = sumCols, mvGroups = groupCols,
        mvSeq = ft.opSeq, mvEpoch = factEpoch,
        mvDim = Some(dim), mvFk = Some(fkCol),
        mvDimSeq = dt.opSeq, mvDimEpoch = dimMeta.epoch))
      getTable(view)
    }

  /**
   * Advance a materialized view to the source's current version with
   * work proportional to WHAT CHANGED, not to either table:
   *
   *   1. changed keys = source tail rows stamped past the view's
   *      `mv_seq` (a pushed-down `_ver` predicate — tail files wholly
   *      at-or-before it are skipped by footer min-max);
   *   2. old/new state of those keys only (candidate-restricted
   *      windows — [[LineageTable.asOfVersionKeys]] / the probe path);
   *   3. per-group adjustment = new contribution − old contribution
   *      (exact long arithmetic), dropped where it nets zero;
   *   4. touched groups' current view rows + adjustment MERGE INTO the
   *      view — groups reaching zero rows DELETE, new groups insert —
   *      as ONE staged commit whose record also carries the new
   *      `mv_seq`, so the adjustments and the version they bring the
   *      view to land together or not at all under any crash: a retry
   *      re-derives its delta from whichever `mv_seq` is recorded and
   *      never double-applies.
   *
   * A PHYSICAL REWRITE of the source past `mv_seq` (fold/vacuum/purge/
   * merge re-stamp history; `tail_floor` records it) makes the old
   * state unaddressable — the refresh detects it and falls back to a
   * FULL recompute (delete-all + insert, still one atomic commit), the
   * same degradation Delta's incremental readers take when a source
   * version is vacuumed away.
   */
  def refreshMaterializedView(view: String): LineageTable = {
    recoverTxns() // before the lock: recovery takes other tables' locks
    lock(view).synchronized {
      val vm = readMeta(view)
      val src = vm.mvSrc.getOrElse(throw new IllegalArgumentException(
        s"requirement failed: $view is not a materialized view"))
      val sums = vm.mvSums
      val groups = if (vm.mvGroups.nonEmpty) vm.mvGroups else Seq(vm.key)
      val composite = groups.size > 1
      val cents = sums.map(centsCol(sums, _))
      // delta-algebra measures (long adds) vs extremum measures
      // (least/greatest combine + extremum-removal rescan)
      val measures = "n_rows" +: cents
      val extrema = vm.mvMins.map(minCol) ++ vm.mvMaxs.map(maxCol)
      val srcMeta = readMeta(src)
      val st = getTable(src)
      val newSeq = st.opSeq
      val fromSeq = vm.mvSeq
      val sameEpoch = srcMeta.epoch == vm.mvEpoch
      // JOIN views ([[createJoinMaterializedView]]): every aggregation —
      // full recompute, old state, new state — runs over fact ⋈ dim.
      // Dim meta/state read once here; a dim commit racing this refresh
      // leaves the recorded seq stale, so the NEXT refresh conservatively
      // full-recomputes (never a wrong delta).
      val dimState = vm.mvDim.map(dn => (getTable(dn), readMeta(dn)))
      val dimGroups = dimState.fold(Seq.empty[String]) { case (dt, _) =>
        groups.filterNot(st.dataCols.contains) }
      def viewRows(factRows: org.apache.spark.sql.DataFrame) =
        dimState match {
          case None => mvAgg(factRows, groups, sums, vm.mvMins, vm.mvMaxs)
          case Some((dt, _)) =>
            mvAgg(mvJoinDim(factRows, dt, vm.mvFk.get, dimGroups),
              groups, sums, vm.mvMins, vm.mvMaxs)
        }
      // incremental requires the dim EXACTLY as last joined: a moved dim
      // invalidates every group's old contribution (a dim row update can
      // re-group every fact row referencing it) — full recompute, which
      // re-records the dim vintage below
      val dimUnchanged = dimState.forall { case (dt, dm) =>
        dt.opSeq == vm.mvDimSeq && dm.epoch == vm.mvDimEpoch }
      // LOST-REFRESH detection (ADVICE r8): the last refresh recorded the
      // view op_seq its adjustment rows were stamped with. Warehouses
      // written before refreshes were staged wrote meta before rows, so
      // a crash inside a refresh there could advance mv_seq while the
      // rows never landed — without this probe every later refresh
      // would no-op against the advanced mv_seq and the view would
      // silently diverge FOREVER. The probe is
      // one pushed-predicate existence scan of the newest tail stamp
      // (footer min-max prunes every older file); a refresh that
      // legitimately appended nothing (all adjustments netted zero) can
      // false-positive here once, costing one conservative full
      // recompute — divergence-safe in both directions.
      val lastLanded = vm.mvLastVer < 0 ||
        getTable(view).lineage
          .where(col(LineageTable.VER) === vm.mvLastVer).limit(1)
          .take(1).nonEmpty
      if (newSeq == fromSeq && sameEpoch && lastLanded && dimUnchanged)
        return getTable(view)
      // incremental only while the source history at mv_seq is still
      // addressable: any physical re-stamp bumps the source epoch
      // (op_seq alone cannot reveal a saveCompacted clock reset). The
      // post-read epoch check closes the read race — a rewrite landing
      // between the meta read and the state read would otherwise hand
      // the delta derivation a re-stamped lineage under the old epoch.
      val incremental = sameEpoch && lastLanded && dimUnchanged &&
        fromSeq >= srcMeta.tailFloor &&
        newSeq > fromSeq && readMeta(src).epoch == srcMeta.epoch
      // Δdim incremental (r11, the remaining IVM axis): the FACT is
      // unchanged but the DIM moved — a dim row's group attribute
      // changed, a dim key appeared, or one was deleted. The classical
      // "a dim update can touch every group" problem restricts to the
      // candidates: only fact rows whose fk references a CHANGED dim key
      // can change any group's contribution, so old/new contributions
      // re-aggregate over that slice alone (broadcast semi-join on the
      // changed dim keys — the minmax-rescan candidate machinery), and
      // the shared full-outer delta merge below does the rest. Both
      // sides moved → conservative full recompute, as before.
      val dimIncremental = !incremental && dimState.exists { case (dt, dm) =>
        sameEpoch && lastLanded && newSeq == fromSeq &&
          dt.opSeq > vm.mvDimSeq && dm.epoch == vm.mvDimEpoch &&
          vm.mvDimSeq >= dm.tailFloor &&
          readMeta(vm.mvDim.get).epoch == dm.epoch
      }
      def pre(side: String)(d: org.apache.spark.sql.DataFrame) =
        d.select(groups.map(g => col(g).as(s"_${side}_$g")) ++
          (measures ++ extrema).map(m => col(m).as(s"_${side}_$m")): _*)
      def sides: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
        if (incremental) {
          val keys = st.lineage
            .where(col(LineageTable.VER) > fromSeq)
            .select(col(st.keyCol).as("_match_key")).distinct()
          (pre("o")(viewRows(st.asOfVersionKeys(fromSeq, keys))),
           pre("n")(viewRows(st.probeWithCandidates(keys, lit(true)))))
        } else {
          val (dt, _) = dimState.get
          val fk = vm.mvFk.get
          val dKeys = dt.lineage
            .where(col(LineageTable.VER) > vm.mvDimSeq)
            .select(col(dt.keyCol).as("_match_key")).distinct()
          // the affected fact slice: rows referencing a changed dim key
          // (dim deltas are small — broadcast; the fact probe is a
          // pushed semi-join, never a full re-aggregation)
          val affFact = st.snapshot.join(broadcast(dKeys),
            col(fk) <=> col("_match_key"), "left_semi")
          def agg(dimRows: org.apache.spark.sql.DataFrame) =
            mvAgg(mvJoinDimRows(affFact, dimRows, dt.keyCol, fk, dimGroups),
              groups, sums, vm.mvMins, vm.mvMaxs)
          (pre("o")(agg(dt.asOfVersionKeys(vm.mvDimSeq, dKeys))),
           pre("n")(agg(dt.probeWithCandidates(dKeys, lit(true)))))
        }
      val txn =
        if (!incremental && !dimIncremental)
          Txn.empty.delete(lit(true)).insert(viewRows(st.snapshot))
        else {
          val (o, n) = sides
          // group-migrating updates contribute to BOTH sides of the full
          // outer join: minus on the old group, plus on the new one.
          // Composite groups join on every group column null-safely —
          // same algebra, wider key.
          val on = groups.map(g => col(s"_n_$g") <=> col(s"_o_$g"))
            .reduce(_ && _)
          def delta(m: String): Column =
            coalesce(col(s"_n_$m"), lit(0L)) - coalesce(col(s"_o_$m"), lit(0L))
          val adj = n.join(o, on, "full_outer")
            .select(groups.map(g =>
                coalesce(col(s"_n_$g"), col(s"_o_$g")).as(g)) ++
              measures.map(m => delta(m).as(s"_d_$m")) ++
              // extrema carry both sides raw: the combine/rescan decision
              // below needs the removed side's extremum, not a delta
              extrema.flatMap(m => Seq(col(s"_n_$m"), col(s"_o_$m"))): _*)
            .where((measures.map(m => col(s"_d_$m") =!= 0) ++
              // an update can move an extremum with every long delta zero
              extrema.map(m => !(col(s"_n_$m") <=> col(s"_o_$m"))))
              .reduce(_ || _))
          // the view's own current rows for the touched groups, probed by
          // the view's lineage key (the group column itself, or _gkey for
          // composite groups — re-derived from the adjustment's columns)
          val adjKeyed =
            if (composite) adj.withColumn("_gkey", gkeyExpr(groups))
            else adj
          val viewKey = if (composite) "_gkey" else groups.head
          val cur = getTable(view)
            .probeWithCandidates(
              adjKeyed.select(col(viewKey).as("_match_key")), lit(true))
            .select(col(viewKey).as("_vk") +:
              (measures ++ extrema).map(m => col(m).as(s"_v_$m")): _*)
          val withCur = adjKeyed.join(cur, col(viewKey) <=> col("_vk"),
              "left_outer")
          val outGroups = if (composite) col("_gkey") +: groups.map(col)
                          else groups.map(col)
          def deltaMeasures = measures.map(m =>
            (coalesce(col(s"_v_$m"), lit(0L)) + col(s"_d_$m")).as(m))
          val merged =
            if (extrema.isEmpty)
              withCur.select(outGroups ++ deltaMeasures: _*)
            else {
              // extremum maintenance (the classical IVM boundary): while
              // the REMOVED side's extremum was not the group's recorded
              // one, the new extremum is least/greatest(view, new side) —
              // pure delta work. Only when a removal touches the recorded
              // extremum is the group re-aggregated, and only that group:
              // the rescan reads the source once through a broadcast
              // semi-join on the affected group values.
              val rescan = extrema.map { m =>
                col(s"_o_$m").isNotNull &&
                  (col(s"_v_$m").isNull || col(s"_o_$m") <=> col(s"_v_$m"))
              }.reduce(_ || _)
              def combine(m: String): Column =
                (if (vm.mvMins.map(minCol).contains(m))
                   least(col(s"_v_$m"), col(s"_n_$m"))
                 else greatest(col(s"_v_$m"), col(s"_n_$m"))).as(m)
              val flagged = withCur.withColumn("_rescan", rescan)
              val combined = flagged.where(!col("_rescan"))
                .select(outGroups ++ deltaMeasures ++ extrema.map(combine): _*)
              // rescan groups: counts/sums still come from the delta
              // algebra (exact longs — bit-identical to a recompute);
              // extrema re-aggregate from the source's live rows of
              // exactly these groups. An emptied group finds no rescan
              // row (NULL extrema) and is deleted by n_rows == 0 anyway.
              val rescanDelta = flagged.where(col("_rescan"))
                .select(outGroups ++ deltaMeasures: _*)
              val factRows = dimState match {
                case None => st.snapshot
                case Some((dt, _)) =>
                  mvJoinDim(st.snapshot, dt, vm.mvFk.get, dimGroups)
              }
              val rg = rescanDelta
                .select(groups.map(g => col(g).as(s"_r_$g")): _*)
              val rescanCond = groups.map(g => col(g) <=> col(s"_r_$g"))
                .reduce(_ && _)
              val rescanAgg = mvAgg(
                  factRows.join(broadcast(rg), rescanCond, "left_semi"),
                  groups, sums, vm.mvMins, vm.mvMaxs)
                .select(groups.map(g => col(g).as(s"_ra_$g")) ++
                  extrema.map(m => col(m).as(s"_ra_$m")): _*)
              val raJoin = groups.map(g => col(g) <=> col(s"_ra_$g"))
                .reduce(_ && _)
              val rescanned = rescanDelta
                .join(broadcast(rescanAgg), raJoin, "left_outer")
                .select(outGroups ++ measures.map(col) ++
                  extrema.map(m => col(s"_ra_$m").as(m)): _*)
              combined.unionByName(rescanned)
            }
          Txn.empty.mergeInto(merged, measures ++ extrema,
            deleteWhen = Some(col("n_rows") === 0L))
        }
      commitOne(view, txn, Some(vm.opSeq),
        change = m => m.copy(mvSeq = newSeq, mvEpoch = srcMeta.epoch,
          mvLastVer = m.opSeq,
          // re-record the dim vintage this refresh joined against (the
          // incremental path verified it unchanged; the full path adopts
          // whatever it just rebuilt with)
          mvDimSeq = dimState.fold(m.mvDimSeq)(_._1.opSeq),
          mvDimEpoch = dimState.fold(m.mvDimEpoch)(_._2.epoch)))
    }
  }

  /**
   * The materialized view that can ANSWER an aggregate over `src` grouped
   * by `groupCol`, if one exists and is CURRENT — same source op_seq AND
   * same rewrite epoch, so the routed result is bit-identical to running
   * the aggregate directly (a stale or epoch-crossed view must never
   * serve: freshness is a correctness property here, not a hint).
   * Returns (view table name, summed column). O(tables) metadata reads,
   * zero data I/O — the lookup a query-rewrite front door
   * ([[graft.sql.GraftSql]]) runs per candidate statement.
   */
  def currentViewOf(src: String, groupCol: String): Option[(String, String)] =
    currentViewFor(src, Seq(groupCol))
      .collect { case (n, Seq(s), _, _, _) => (n, s) }

  /** General form: the view answering an aggregate grouped by EXACTLY
    * `groupCols` (as a set — `GROUP BY a, b` ≡ `GROUP BY b, a`), if one
    * exists and is current. Returns (view name, summed columns in
    * definition order, measure column name per summed column, maintained
    * min column per source column, maintained max column per source
    * column). */
  def currentViewFor(src: String, groupCols: Seq[String])
      : Option[(String, Seq[String], Map[String, String],
                Map[String, String], Map[String, String])] = {
    val sm = readMeta(src)
    val want = groupCols.toSet
    tableNames.iterator
      .map(n => (n, Try(readMeta(n)).toOption))
      .collectFirst { case (n, Some(m))
          // join views answer fact⋈dim aggregates, not single-table ones
          // — the rewrite front door must never route onto them
          if m.mvDim.isEmpty && m.mvSrc.contains(src) &&
            (if (m.mvGroups.nonEmpty) m.mvGroups.toSet else Set(m.key))
              == want &&
            (m.mvSums ++ m.mvMins ++ m.mvMaxs).nonEmpty &&
            m.mvSeq == sm.opSeq &&
            m.mvEpoch == sm.epoch =>
        (n, m.mvSums,
          m.mvSums.map(s => s -> centsCol(m.mvSums, s)).toMap,
          m.mvMins.map(c => c -> minCol(c)).toMap,
          m.mvMaxs.map(c => c -> maxCol(c)).toMap) }
  }

  /** The JOIN materialized view that can ANSWER `fact ⋈ dim ON fk = key
    * GROUP BY groupCols`, if one exists and is CURRENT at BOTH sides'
    * (op_seq, epoch) — a stale or epoch-crossed view on either side must
    * never serve (freshness is correctness, exactly as [[currentViewFor]]).
    * `dimKey` must be the dim's lineage key (the only join the view
    * maintains). O(tables) metadata reads, zero data I/O. */
  def currentJoinViewFor(fact: String, dim: String, fk: String,
                         dimKey: String, groupCols: Seq[String])
      : Option[(String, Seq[String], Map[String, String])] = {
    val fm = readMeta(fact)
    val dm = readMeta(dim)
    if (dm.key != dimKey) return None
    val want = groupCols.toSet
    tableNames.iterator
      .map(n => (n, Try(readMeta(n)).toOption))
      .collectFirst { case (n, Some(m))
          if m.mvSrc.contains(fact) && m.mvDim.contains(dim) &&
            m.mvFk.contains(fk) &&
            (if (m.mvGroups.nonEmpty) m.mvGroups.toSet else Set(m.key))
              == want &&
            m.mvSums.nonEmpty &&
            m.mvSeq == fm.opSeq && m.mvEpoch == fm.epoch &&
            m.mvDimSeq == dm.opSeq && m.mvDimEpoch == dm.epoch =>
        (n, m.mvSums,
          m.mvSums.map(s => s -> centsCol(m.mvSums, s)).toMap) }
  }

  /** The `startingVersion` equivalent of a wall-clock
    * `startingTimestamp` ([[graft.streaming.StreamOps.changeFeed]]):
    * the newest LOGGED commit version stamped STRICTLY BEFORE `ts` —
    * feeding it into the `_ver > v` predicate starts the feed at the
    * first logged commit at-or-after `ts` (Delta's startingTimestamp
    * contract). 0 when `ts` precedes the whole log: the feed starts at
    * the tail's beginning. Metadata-only, zero data I/O. */
  def versionBefore(name: String, ts: Long): Long =
    readMeta(name).loggedVersion(_ < ts).getOrElse(0L)

  /** [[LineageTable.changesBetween]] with the re-stamp guard: a physical
    * rewrite re-stamped everything at-or-below `tail_floor`, so a range
    * reaching below it would misread folded base rows as change events —
    * error LOUD instead (the Delta rule: `table_changes` beyond the
    * retained change window fails, never fabricates). */
  def changesBetween(name: String, fromVer: Long, toVer: Long): org.apache.spark.sql.DataFrame = {
    val floor = readMeta(name).tailFloor
    require(fromVer >= floor,
      s"$name: changes at or before version $floor were re-stamped by a " +
        "physical rewrite (compaction/vacuum/purge) and are no longer " +
        "addressable as change events")
    getTable(name).changesBetween(fromVer, toVer)
  }

  /** Drop a table and its files (reference: Database.drop_table). */
  def dropTable(name: String): Unit = deleteRecursively(dir(name))

  /**
   * RENAME TABLE — one atomic directory rename: every table artifact
   * (meta, base, tail, projections, bloom/vector/IVF-PQ sidecars,
   * snapshots) lives UNDER the table directory by construction, so the
   * whole identity moves in one POSIX rename with zero data I/O at any
   * table size. The quiesce-then-rename order matters: acquiring (and
   * releasing) the commit marker first proves no commit is in flight;
   * the engine-wide single-writer-per-table discipline makes the gap
   * between release and rename benign — the renamer IS the writer.
   * History, constraints and indexes all travel with the directory
   * (CatalogSpec pins a versioned read and an index probe through the
   * new name).
   */
  def renameTable(from: String, to: String): Unit =
    lock(from).synchronized {
      require(isDir(dir(from)), s"renameTable: no such table $from")
      require(!isDir(dir(to)), s"renameTable: target $to already exists")
      withCommitMarker(from) {} // quiesce: no in-flight commit
      move(dir(from), dir(to))
    }

  /**
   * Schema evolution — ADD COLUMN (the Delta/Iceberg semantics): a
   * metadata-only op, crash-atomic via the staged meta write, that never
   * touches a data file. Every row written before the add — across ALL
   * its versions — reads back null in the new column; writes from the
   * returned table on carry it (updates can set it per record, and
   * compaction/vacuum bake it into the base as they rewrite). At 100 TB
   * this is the only viable evolve: rewriting files to add a column is a
   * full-warehouse write. `tpe` is a Spark SQL type name restricted to
   * identifier characters (bigint/int/double/string/boolean/...), like
   * every other string the metadata carries.
   */
  def addColumn(name: String, column: String, tpe: String): LineageTable =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      require(!meta.columns.contains(column),
        s"$name already has column $column")
      // every rejection must land BEFORE the meta write — a persisted bad
      // column name or type bricks every subsequent getTable. The whole
      // leading-underscore namespace is reserved, not just the stamp
      // columns (_ver/_del): internal working columns (_rn, _cnt, _kcnt,
      // _match_key, _old, _new, _d, ...) would silently overwrite and
      // drop a user column of the same name mid-operation.
      require(!column.startsWith("_"),
        s"$column: leading-underscore names are reserved for lineage internals")
      // and an unparseable type name would fail the null-fill cast
      org.apache.spark.sql.types.DataType.fromDDL(tpe)
      // a logical name whose PHYSICAL slot is already taken in old files
      // (a dropped column's retired name, or the physical side of a live
      // rename) maps to a FRESH physical name — without this, re-adding
      // a dropped column would resurrect every value the drop retired
      val taken = (meta.droppedPhys ++ meta.renamed.values ++
        meta.columns.map(c => physOf(meta, c)) ++ meta.added.keys).toSet
      val phys =
        if (!taken.contains(column)) column
        else Iterator.from(1).map(i => s"${column}_r$i")
          .find(p => !taken.contains(p)).get
      writeMeta(name, meta.copy(columns = meta.columns :+ column,
        added = meta.added + (phys -> tpe),
        renamed = if (phys == column) meta.renamed
                  else meta.renamed + (column -> phys)))
      getTable(name)
    } }

  /**
   * DROP COLUMN — metadata-only, the Delta column-mapping shape: the
   * logical schema loses the column NOW; no data file is touched (at
   * 100 TB a rewriting drop is a full-warehouse write). Old files keep
   * the retired physical column but no read selects it, new files are
   * written without it, and the physical name is RETIRED
   * (`dropped_phys`) so a later re-ADD of the same logical name maps to
   * a fresh physical slot — the dropped values can never resurrect
   * (EvolveSpec pins it). Physical rewrites (compaction/vacuum) bake
   * the drop in as they rewrite. Load-bearing columns refuse to drop:
   * the lineage key, CHECK-constraint references, index/projection/
   * bloom layout columns, and columns a materialized view aggregates —
   * the Delta rule (drop the dependent first), because a silent break
   * would surface as a failed commit far from its cause.
   */
  def dropColumn(name: String, column: String): LineageTable =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      require(meta.columns.contains(column), s"$name has no column $column")
      requireNotLoadBearing(name, meta, column)
      val phys = physOf(meta, column)
      // the widen entry stays: old files still carry the narrow type,
      // and the declared schema ([[declaredSchema]]) keeps reading it wide
      writeMeta(name, meta.copy(
        columns = meta.columns.filterNot(_ == column),
        added = meta.added - phys, renamed = meta.renamed - column,
        droppedPhys = (meta.droppedPhys :+ phys).distinct))
      getTable(name)
    } }

  /**
   * RENAME COLUMN — metadata-only column mapping (the Delta
   * `ALTER TABLE RENAME COLUMN` semantics): the logical name changes,
   * the physical file column does not — reads alias physical→logical
   * ([[assembleTable]]), writes map back ([[lineageWriter]]), so every
   * old file serves the new name with zero I/O and every new file stays
   * physically consistent with the old ones. History reads carry the
   * renamed schema across pre-rename versions (schema is table-level,
   * not versioned). Same load-bearing guards as [[dropColumn]].
   */
  def renameColumn(name: String, from: String, to: String): LineageTable =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      require(meta.columns.contains(from), s"$name has no column $from")
      require(!meta.columns.contains(to), s"$name already has column $to")
      require(!to.startsWith("_"),
        s"$to: leading-underscore names are reserved for lineage internals")
      checked(to)
      requireNotLoadBearing(name, meta, from)
      val phys = physOf(meta, from)
      val rest = meta.renamed - from
      writeMeta(name, meta.copy(
        columns = meta.columns.map(c => if (c == from) to else c),
        // renaming BACK onto the physical name dissolves the mapping
        renamed = if (phys == to) rest else rest + (to -> phys)))
      getTable(name)
    } }

  /** Legal widenings per source type — lossless numeric promotions only
    * (every value of the narrow type is exactly representable in the
    * wide one), the Delta type-widening table's integer/float rows. */
  private val widenable: Map[String, Set[String]] = Map(
    "tinyint" -> Set("smallint", "int", "bigint"),
    "smallint" -> Set("int", "bigint"),
    "int" -> Set("bigint"),
    "float" -> Set("double"))

  /**
   * ALTER COLUMN TYPE — metadata-only type WIDENING (r11, completing
   * the Delta column-mapping family after ADD/DROP/RENAME): int→bigint,
   * float→double (and the smaller-int chains). No data file is touched:
   * old files keep the narrow physical type and every read promotes
   * them per file under the declared schema ([[declaredSchema]]), while
   * every write from the first post-widen op on carries the wide type,
   * so a tail can MIX pre- and post-widen files and still read as one
   * frame. Narrowing and any lossy conversion are rejected loud. The
   * key, the partition column, and indexed/layout columns widen too —
   * the promotion is order-preserving, so layouts and probes survive —
   * but the PARTITION column is rejected (its declared type is baked
   * into directory-value semantics). A projection on the column is not
   * rewritten either: its narrow files and the wide pairs later commits
   * append read as one frame under the declared type
   * ([[probeProjected]]).
   */
  def widenColumn(name: String, column: String, tpe: String): LineageTable =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      require(meta.columns.contains(column), s"$name has no column $column")
      require(!meta.partCols.contains(column),
        s"$name: $column is a partition column — its declared type is " +
          "part of the directory layout, not evolvable")
      val target = tpe.trim.toLowerCase
      val current = getTable(name).snapshot.schema(column)
        .dataType.simpleString
      require(current != target,
        s"$name.$column is already $target")
      require(widenable.get(current).exists(_.contains(target)),
        s"$name.$column: $current -> $target is not a lossless widening " +
          s"(supported: ${widenable.map { case (f, ts) =>
            s"$f -> ${ts.mkString("/")}" }.mkString("; ")})")
      val phys = physOf(meta, column)
      // an ADDED column's declared type must follow, or the declared
      // schema re-narrows it on tables whose base never carried the
      // column
      writeMeta(name, meta.copy(widened = meta.widened.updated(phys, target),
        added = meta.added.updatedWith(phys)(_.map(_ => target))))
      getTable(name)
    } }

  /** Reject dropping/renaming a column something else addresses by name:
    * the key (structural), CHECK constraints, the physical layout
    * (index/projections/blooms — their maintenance and probes name the
    * column), and materialized views aggregating this table. */
  private def requireNotLoadBearing(name: String, meta: Meta,
                                    column: String): Unit = {
    require(column != meta.key,
      s"$name: $column is the lineage key — structural, not evolvable")
    meta.constraints.foreach { case (cn, ex) =>
      val refs = org.apache.spark.sql.graft.Bridge.parseExpression(spark, ex)
        .collect { case a: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute => a.nameParts.last }
      require(!refs.contains(column),
        s"$name: constraint $cn references $column — drop the constraint first")
    }
    require(!meta.index.contains(column),
      s"$name: $column is the index layout column — dropIndex first")
    require(!meta.partCols.contains(column),
      s"$name: $column is a partition column — structural, not evolvable")
    require(!meta.zorderCols.contains(column),
      s"$name: $column is a Z-order layout column — dropIndex first")
    require(!meta.projCols.contains(column),
      s"$name: $column has a projection — dropProjection first")
    require(!meta.bloomCols.contains(column),
      s"$name: $column carries bloom filters — recreate the table layout first")
    tableNames.foreach { n =>
      Try(readMeta(n)).foreach { m =>
        if (m.mvSrc.contains(name)) {
          // the fact side: group/measure columns AND the join-mview fk —
          // dropping the fk would fail every later refresh far from the
          // cause (ADVICE r9)
          val used = (if (m.mvGroups.nonEmpty) m.mvGroups
                      else Seq(m.key)) ++ m.mvSums ++ m.mvMins ++
            m.mvMaxs ++ m.mvFk.toSeq
          require(!used.contains(column),
            s"$name: materialized view $n aggregates $column — drop the view first")
        }
        if (m.mvDim.contains(name)) {
          // the dim side of a join mview: group columns may resolve
          // against the dim after the fk join (the join target — the dim
          // key — is already structural-protected above)
          require(!m.mvGroups.contains(column),
            s"$name: join materialized view $n reads $column from this dim — drop the view first")
        }
      }
    }
  }

  // ------------------------------------------------------ CHECK constraints

  /**
   * ADD CONSTRAINT — a named SQL CHECK predicate every LIVE row must
   * satisfy (the Delta Lake `ALTER TABLE ... ADD CONSTRAINT` semantics,
   * which is also where the cost model comes from): the full-table scan
   * happens ONCE, here — existing rows must already satisfy the predicate
   * or the add is rejected; every subsequent commit validates only its
   * DELTA ([[tryCommit]]/[[commitMulti]]), O(delta) however large the
   * table. SQL three-valued logic: a NULL predicate PASSES (violation =
   * the predicate is definitely false), matching ANSI CHECK. Tombstone
   * rows are exempt — a deleted record's values are not live state.
   *
   * The expression is validated (parse + resolve against the live
   * schema) BEFORE the meta write: a persisted unresolvable expression
   * would otherwise fail every later commit. The reference's integrity
   * model is the implicit key-column contract (lstore/query.py:61
   * `key = columns[0]`); CHECK
   * generalizes it — note the lineage invariant "≤ 1 live row per key"
   * needs no constraint at all, it holds by snapshot construction.
   */
  def addConstraint(name: String, cname: String, sqlExpr: String): Unit =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      checked(cname)
      require(!meta.constraints.contains(cname),
        s"$name: constraint $cname already exists")
      require(sqlExpr.trim.nonEmpty, "empty constraint expression")
      val bad = getTable(name).snapshot
        .where(!coalesce(expr(sqlExpr), lit(true))).limit(1).collect()
      require(bad.isEmpty,
        s"$name: existing rows violate $cname ($sqlExpr): ${bad.head}")
      writeMeta(name, meta.copy(constraints = meta.constraints + (cname -> sqlExpr)))
    } }

  /** DROP CONSTRAINT — metadata-only. */
  def dropConstraint(name: String, cname: String): Unit =
    lock(name).synchronized { withCommitMarker(name) {
      val meta = readMeta(name)
      require(meta.constraints.contains(cname), s"$name: no constraint $cname")
      writeMeta(name, meta.copy(constraints = meta.constraints - cname))
    } }

  /** The table's CHECK constraints, name → SQL expression. */
  def constraints(name: String): Map[String, String] =
    readMeta(name).constraints

  /**
   * Commit-time CHECK gate: ONE distributed job over the delta (all
   * constraints evaluated as columns of the same scan), short-circuited
   * with limit(1). Runs BEFORE anything is written — a violation aborts
   * with the constraint name and a sample row, nothing committed. Every
   * written row version is validated (a mid-transaction row superseded
   * within the same Txn still must pass — Delta's rule: writes satisfy
   * the invariant, not merely the final state).
   */
  private def validateConstraints(name: String, meta: Meta,
      delta: Option[org.apache.spark.sql.DataFrame]): Unit = {
    val cons = meta.constraints
    if (cons.nonEmpty) delta.foreach { d =>
      // _del is the 0/1 lineage tombstone marker, not a boolean
      val live = d.where(col(LineageTable.DEL) === 0)
      val flagged = cons.foldLeft(live) { case (df, (cn, ce)) =>
        df.withColumn(s"_viol_$cn", !coalesce(expr(ce), lit(true))) }
      val bad = flagged
        .where(cons.map { case (cn, _) => col(s"_viol_$cn") }.reduce(_ || _))
        .limit(1).collect()
      bad.headOption.foreach { r =>
        val which = cons.collect { case (cn, ce)
          if r.getAs[Boolean](s"_viol_$cn") => s"$cn ($ce)" }.mkString("; ")
        throw new IllegalStateException(
          s"$name: CHECK constraint violated: $which — " +
            s"rejected row $r; nothing was committed")
      }
    }
  }

  /** Catalog inventory: name, live-row count, column count. Empty
    * warehouse → empty result (not an error).
    *
    * Compacted tables (empty tail) answer from parquet FOOTERS: after
    * compaction the base holds exactly the live rows (tombstones folded
    * out), so live-row count = footer row count — O(files) metadata reads,
    * no data scan (graft.sources.ParquetMeta). Tables with a live tail
    * still need the snapshot count (old versions/tombstones in the tail
    * make raw row counts ≠ live rows). At 100 TB the warehouse steady
    * state is compacted, so an inventory normally scans nothing. */
  def inventory(): org.apache.spark.sql.DataFrame = {
    val (compacted, tailed) = tableNames.partition { n =>
      val tailDir = new Path(dir(n), "tail")
      // footer counts are only truthful for a live-rows-only base: a
      // keep>1 vacuum leaves history (and possibly tombstones) in the
      // base, so multi_ver tables take the snapshot-count path — and a
      // shallow clone's base is a manifest, not the `base/` dir the
      // footer inventory lists
      !parquetUnder(tailDir).hasNext && !readMeta(n).multiVer &&
        !hasManifest(n)
    }
    val viaFooters =
      if (compacted.isEmpty) None
      else Some(graft.sources.ParquetMeta.inventory(spark, compacted.map(n =>
        (n, baseDir(n).toString, readMeta(n).columns.length))))
    val viaSnapshot = tailed.map { n =>
      val t = getTable(n)
      t.snapshot.agg(count(lit(1)).as("n_rows"))
        .select(lit(n).as("tbl"), col("n_rows"),
          lit(t.dataCols.length).as("n_cols"))
    }
    (viaFooters.toSeq ++ viaSnapshot).reduceOption(_ unionByName _)
      .getOrElse(spark.range(0)
        .select(lit("").as("tbl"), lit(0L).as("n_rows"), lit(0).as("n_cols")))
  }

  // ------------------------------------------------------------- metadata

  // Names are restricted to identifier characters because they become
  // path components (table, projection and staging directories): a '/'
  // or '..' in one could escape the warehouse root. Checked on every
  // path-forming route, and at [[writeMeta]] for every metadata string.
  private val ident = "^[A-Za-z0-9_]+$".r

  private def checked(s: String): String = {
    require(ident.matches(s), s"identifier must be [A-Za-z0-9_]+: '$s'")
    s
  }

  /** Every string the metadata stores, names and types alike (constraint
    * expressions as their hex). */
  private def checkedMeta(m: Meta): Meta = {
    TableMeta.texts(m).foreach(checked)
    m
  }

  /**
   * Crash-atomic metadata write: stage the full JSON as `.tmp`, delete the
   * old file, rename the stage into place (rename is the FS's atomic
   * primitive). An in-place truncate-and-write would leave a torn/empty
   * file if the process died mid-write — an unreadable table. Crash
   * windows here: after the stage, the old meta still reads (the stage is
   * superseded on the next write); after the delete, [[readMeta]] adopts
   * the complete stage. Every state is readable.
   */
  private def writeMeta(name: String, m: Meta): Unit = {
    checkedMeta(m)
    // Adopt a crash-orphaned stage BEFORE overwriting it: while the main
    // file is absent, readers serve directly off the stage ([[readMeta]]
    // never renames — promotion on the read path could steal the rename
    // from a concurrent lock-holding writer and abort its commit), so
    // rewriting the stage in place here could tear a concurrent read.
    // Writers hold the table lock on every mutating path, so this rename
    // races only with readers — who read main first and fall back.
    if (!pathExists(metaPath(name)) && pathExists(metaTmpPath(name)))
      move(metaTmpPath(name), metaPath(name))
    writeString(metaTmpPath(name), TableMeta.encode(m))
    fs.delete(metaPath(name), false)
    move(metaTmpPath(name), metaPath(name))
  }

  private def readMeta(name: String): Meta = {
    // READ-ONLY recovery: when the main file is absent but a stage exists
    // (a crash between writeMeta's delete and rename), read the stage's
    // contents directly — it is only ever written COMPLETE before the
    // main file is deleted. Readers never rename: a read-path promotion
    // would race the lock-holding writer mid-writeMeta (readers take no
    // lock), steal its rename, and fail the writer's move() — a spurious
    // commit abort with op_seq already advanced. Promotion belongs to
    // writers ([[writeMeta]] adopts an orphan stage under the lock). The
    // main file is retried once after a stage miss because a concurrent
    // writer's rename can move the stage between our two reads.
    def tryRead(p: Path): Option[String] =
      try Some(readString(p))
      catch { case _: java.io.FileNotFoundException => None }
    val json = tryRead(metaPath(name))
      .orElse(tryRead(metaTmpPath(name)))
      .orElse(tryRead(metaPath(name)))
      .getOrElse(throw new IllegalArgumentException(
        s"requirement failed: no such table: $name"))
    TableMeta.decodeMeta(json)
  }

  // Crash recovery on open — the reference's Database.open contract. At
  // the END of the class body: recovery rolls committed transactions
  // forward through writeMeta, which needs every field above initialized.
  recoverTxns()
}

object Catalog {

  /** Bucket count out of a "bucket_N" transform tag. */
  private[graft] def bucketModulus(f: String): Int = {
    require(f.startsWith("bucket_"), s"not a bucket transform: '$f'")
    f.stripPrefix("bucket_").toInt
  }

  /** The bucket a canonical string value lands in under a "bucket_N"
    * level — the driver-side replay of [[Catalog]]'s per-row
    * `md5_high_bits(cast(c AS STRING), 32) % N` directory expression,
    * used by SQL routing to hash a literal into its one directory
    * (bit-identical: same digest prefix, same non-negative mod). */
  private[graft] def bucketOf(canonical: String, n: Int): Long =
    graft.functions.Md5HighBits.compute(
      canonical.getBytes(java.nio.charset.StandardCharsets.UTF_8), 32) % n

  /**
   * ATOMIC commit across CATALOGS (r12) — [[Catalog.commitMulti]] lifted
   * to N warehouses with ONE commit point, the presumed-abort two-phase
   * shape every multi-store lakehouse transaction reduces to:
   *
   *   1. Every participant stages its tables' deltas to its own
   *      `_txn/<gid>/<table>/` and writes `_txn/<gid>.part.json` naming
   *      its tables, op_seq transitions, and the COORDINATOR's root —
   *      durable intentions, invisible to readers, not a commit.
   *   2. The coordinator (deterministically the lexicographically
   *      smallest root URI) creates `_txn/<gid>.json` naming the
   *      participants. This ONE atomic file create is the cross-catalog
   *      commit point: before it exists every participant's recovery
   *      presumes abort (staging rolls back after the lease); from the
   *      instant it exists, every participant's recovery reads the
   *      decision THROUGH its part record's coordinator pointer and
   *      rolls forward.
   *   3. Fan-out roll-forward per participant (idempotent — any crash
   *      re-runs under [[recoverTxns]]); the decision file retires LAST,
   *      once no participant still holds a part record, so a crash
   *      mid-fan-out can never flip a survivor to "aborted".
   *
   * Locks/markers are acquired across all participants in global
   * (rootUri, table) order — one order, no deadlock. Same read-
   * atomicity caveat as commitMulti: crash atomicity is both-or-neither
   * across every table of every catalog; concurrent readers may observe
   * the fan-out mid-flight (each table individually consistent).
   */
  def commitAcross(parts: Seq[(Catalog, Map[String, Txn])]): Unit = {
    val flat = parts.filter(_._2.nonEmpty)
    require(flat.nonEmpty, "commitAcross: no work")
    if (flat.size == 1) { flat.head._1.commitMulti(flat.head._2); return }
    val uris = flat.map(_._1.rootUri)
    require(uris.distinct.size == uris.size, "commitAcross: the same " +
      s"warehouse appears twice (${uris.mkString(", ")}) — merge its " +
      "tables into one entry")
    val sorted = flat.sortBy(_._1.rootUri)
    sorted.foreach { case (c, m) =>
      m.keys.foreach(c.checked)
      val aliased = m.keys.toSeq
      require(aliased.distinct.size == aliased.size, "commitAcross: " +
        "duplicate table names in one catalog's entry")
    }
    // complete any predecessor's pending recovery first (idempotent)
    sorted.foreach(_._1.recoverTxns())
    val coord = sorted.head._1
    val gid = "gx_" + java.util.UUID.randomUUID().toString.replace("-", "_")
    def withAll(ps: List[(Catalog, String)])(body: => Unit): Unit =
      ps match {
        case Nil => body
        case (c, n) :: t =>
          c.lock(n).synchronized(c.withCommitMarker(n)(withAll(t)(body)))
      }
    val pairs = sorted.flatMap { case (c, m) =>
      m.keys.toList.sorted.map(c -> _) }.toList
    withAll(pairs) {
      // stage EVERY catalog's deltas before anything is visible; a
      // failing op or CHECK violation aborts here with nothing written
      val staged = sorted.map { case (c, m) =>
        (c, c.stage(gid, m).copy(coordinator = Some(coord.rootUri)))
      }
      coord.crashPoint("across-staged")
      // durable intentions: each participant records its share + the
      // coordinator pointer its recovery will consult
      staged.foreach { case (c, rec) =>
        c.writeRecord(gid, c.txnPartPath(gid), rec)
      }
      coord.crashPoint("across-intent")
      // THE cross-catalog commit point: one atomic file create
      coord.writeRecord(gid, coord.txnRecordPath(gid),
        TxnRecord(participants = sorted.map(_._1.rootUri)))
      coord.crashPoint("across-committed")
      // fan-out roll-forward; decision retires after the last part
      staged.foreach { case (c, rec) =>
        c.applyTxn(gid, rec, c.txnPartPath(gid))
        c.crashPoint("across-rolled")
      }
      coord.fs.delete(coord.txnRecordPath(gid), false)
    }
    sorted.foreach { case (c, m) => c.postCommitMaintenance(m.keys) }
  }

  /** Cap on the per-writer streaming replay map carried in table
    * metadata: the oldest writer entries are dropped past this. A
    * dropped writer's retry then re-applies — but a writer only retries
    * the batch in flight at its crash, and 64 writers must commit in
    * between for the entry to age out, so the window is unreachable in
    * any real deployment (Delta's txn map has the same unbounded-growth
    * concern and solves it with age-based expiry). */
  val maxStreamWriters = 64
}
