package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/**
 * Metadata-only parquet statistics: row counts served from file footers,
 * never from data scans.
 *
 * Scale rationale: a catalog inventory (reference: Database.create_table /
 * get_table, lstore/db.py:441) over a 100 TB warehouse must not cost a
 * full scan per table — parquet already stores the exact row count per
 * row-group in the footer, so the correct plan is O(number of files)
 * footer reads, distributed over executors, reading a few KB each. This
 * is what DuckDB/Trino/Hive do for unfiltered COUNT(*) on parquet; Spark
 * only does it on the DSv2 read path (`spark.sql.parquet.aggregatePushdown`),
 * which `spark.read.parquet` (V1) never takes — so we read the footers
 * directly.
 *
 * All paths resolve through the Hadoop [[org.apache.hadoop.fs.FileSystem]]
 * of the session's hadoopConfiguration — listing and footer reads work the
 * same over file:, hdfs:, or s3a: warehouses (a `java.io.File` listing
 * would silently see zero part files the moment the warehouse moves off
 * the local disk).
 */
object ParquetMeta {

  /**
   * True when `column` in the parquet table at `path` is annotated
   * TIMESTAMP(NANOS) — the encoding `spark.sql.legacy.parquet.nanosAsLong`
   * surfaces as a plain long (testdata rounds 1-6), vs TIMESTAMP(MICROS)
   * which reads as a timestamp (round 7+). ONE footer read of ONE part
   * file (a few KB) — what an explicit-schema stream source probes at
   * query start so its declared type matches what the reader will
   * surface (a mismatch throws in the vectorized reader; schema
   * inference, the alternative, is exactly what a declared-schema
   * source exists to avoid). Absent column/file → false.
   */
  def isNanosTimestamp(conf: Configuration, path: String,
                       column: String): Boolean =
    (try partFiles(conf, path)
     catch { case _: java.io.FileNotFoundException => Nil } // absent → declared schema stands
    ).headOption.exists { file =>
      val in = HadoopInputFile.fromPath(new Path(file), conf)
      val r = ParquetFileReader.open(in)
      try {
        val schema = r.getFooter.getFileMetaData.getSchema
        schema.containsField(column) && {
          val t = schema.getType(schema.getFieldIndex(column))
          t.isPrimitive && (t.asPrimitiveType().getLogicalTypeAnnotation match {
            case ts: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              ts.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          })
        }
      } finally r.close()
    }

  /** All part-files of a parquet table path (single file or directory),
    * listed through the Hadoop FileSystem of `conf`. */
  private def partFiles(conf: Configuration, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (fs.getFileStatus(p).isDirectory)
      fs.listStatus(p).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)
    else Seq(p.toString)
  }

  /**
   * Spark schema of one parquet file, from the footer's
   * `org.apache.spark.sql.parquet.row.metadata` key — written by every
   * Spark parquet writer, so every graft-written file carries it. ONE
   * driver-side footer read (a few KB) where `spark.read.parquet`'s
   * schema inference launches a whole Spark job (readParquetFootersIn-
   * Parallel: task dispatch + scheduler latency per table read). None
   * when the key is absent or unparsable (a non-Spark writer) — callers
   * fall back to inference.
   */
  def footerSparkSchema(conf: Configuration, file: String): Option[StructType] = {
    val in = HadoopInputFile.fromPath(new Path(file), conf)
    val r = ParquetFileReader.open(in)
    try Option(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      .flatMap(j => scala.util.Try(org.apache.spark.sql.types.DataType
        .fromJson(j).asInstanceOf[StructType]).toOption)
    finally r.close()
  }

  /** Exact row count of one parquet file, from its footer (no data pages). */
  def footerRowCount(conf: Configuration, file: String): Long = {
    val in = HadoopInputFile.fromPath(new Path(file), conf)
    val r = ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /**
   * (table, n_rows) for a set of tables, one distributed footer-read job:
   * the (table, file) pairs fan out over executors, each task reads only
   * footer bytes, and the per-table sum is a tiny reduceByKey. The
   * session's hadoopConfiguration ships to the executors (broadcast), so
   * credentials/filesystem settings configured on the session apply to
   * the footer reads too.
   */
  def rowCounts(spark: SparkSession, tables: Seq[(String, String)]): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val pairs = tables.flatMap { case (name, path) =>
      partFiles(hconf, path).map(name -> _)
    }
    // Configuration is not Serializable; ship its entries as plain pairs
    // and rebuild once per task (Spark's own SerializableConfiguration is
    // private[spark]).
    val confEntries = {
      val it = hconf.iterator()
      val buf = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
      buf.result()
    }
    val bcConf = spark.sparkContext.broadcast(confEntries)
    val schema = StructType(Seq(
      StructField("tbl", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false)))
    // per-file counts stay an RDD map (no shuffle); the per-table sum is
    // a SQL aggregate so its exchange uses the UnsafeRow serializer — an
    // RDD reduceByKey would instantiate Kryo, whose Java-17 registration
    // of java.nio buffers needs --add-opens flags a bare `java` launch
    // lacks (the r9 cat_tables false negative in the driver gate)
    val perFile = spark.sparkContext
      .parallelize(pairs, math.min(pairs.size max 1, 64))
      .mapPartitions { it =>
        val conf = new Configuration(false)
        bcConf.value.foreach { case (k, v) => conf.set(k, v) }
        it.map { case (name, file) => Row(name, footerRowCount(conf, file)) }
      }
    spark.createDataFrame(perFile, schema)
      .groupBy(col("tbl"))
      .agg(org.apache.spark.sql.functions.sum(col("n_rows")).as("n_rows"))
  }

  /**
   * Per-column (min, max, null count) of one parquet file from footer
   * statistics alone — None for a column any row-carrying block lacks
   * usable NUMERIC stats for (unknown is never a bound; string stats
   * are excluded outright because parquet may truncate them). Also
   * returns the file's row count.
   */
  private def footerColumnStats(conf: Configuration, file: String,
      columns: Seq[String]): (Long, Map[String, Option[(Double, Double, Long)]]) = {
    val in = HadoopInputFile.fromPath(new Path(file), conf)
    val r = ParquetFileReader.open(in)
    try {
      var rows = 0L
      val acc = scala.collection.mutable.Map[String, Option[(Double, Double, Long)]](
        columns.map(_ -> Option((Double.PositiveInfinity, Double.NegativeInfinity, 0L))): _*)
      r.getFooter.getBlocks.forEach { b =>
        rows += b.getRowCount
        if (b.getRowCount > 0) columns.foreach { cname =>
          val stats = {
            var found: org.apache.parquet.column.statistics.Statistics[_] = null
            b.getColumns.forEach { c =>
              if (c.getPath.toDotString == cname) found = c.getStatistics
            }
            found
          }
          acc(cname) = acc(cname).flatMap { case (mn, mx, nn) =>
            if (stats == null || stats.isEmpty || !stats.isNumNullsSet) None
            else if (!stats.hasNonNullValue) // all-null block: counts only
              Some((mn, mx, nn + stats.getNumNulls))
            else (stats.genericGetMin, stats.genericGetMax) match {
              case (a: Number, z: Number) =>
                Some((mn.min(a.doubleValue), mx.max(z.doubleValue),
                  nn + stats.getNumNulls))
              case _ => None // non-numeric stats (string/binary): excluded
            }
          }
        }
      }
      (rows, acc.toMap)
    } finally r.close()
  }

  /**
   * Footer-only column statistics — the ANALYZE TABLE analog. At 100 TB,
   * stats collection that scans data is a full-warehouse job; parquet
   * footers already carry EXACT per-row-group min/max/null counts for
   * numeric columns, so per-table stats are O(files) footer reads,
   * distributed exactly like [[rowCounts]]. One row per (table, column):
   * min/max as doubles (exact for longs < 2^53 — the bound every double
   * output already obeys), null count, row count. Unknown stats (any
   * block without usable numeric stats) surface as nulls, never as
   * bounds — these feed pruning decisions downstream.
   */
  def columnStats(spark: SparkSession,
                  tables: Seq[(String, String, Seq[String])]): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val pairs = tables.flatMap { case (name, path, cols) =>
      partFiles(hconf, path).map(f => (name, f, cols))
    }
    val confEntries = {
      val it = hconf.iterator()
      val buf = Seq.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
      buf.result()
    }
    val bcConf = spark.sparkContext.broadcast(confEntries)
    val schema = StructType(Seq(
      StructField("tbl", StringType, nullable = false),
      StructField("col_name", StringType, nullable = false),
      StructField("min_val", org.apache.spark.sql.types.DoubleType, nullable = true),
      StructField("max_val", org.apache.spark.sql.types.DoubleType, nullable = true),
      StructField("n_nulls", LongType, nullable = true),
      StructField("n_rows", LongType, nullable = false)))
    val stats = spark.sparkContext
      .parallelize(pairs, math.min(pairs.size max 1, 64))
      .flatMap { case (name, file, cols) =>
        val conf = new Configuration(false)
        bcConf.value.foreach { case (k, v) => conf.set(k, v) }
        val (rows, byCol) = footerColumnStats(conf, file, cols)
        cols.map(c => ((name, c), (byCol(c), rows)))
      }
      .reduceByKey { (a, b) =>
        val (sa, ra) = a
        val (sb, rb) = b
        val merged = for ((mna, mxa, nna) <- sa; (mnb, mxb, nnb) <- sb)
          yield (mna.min(mnb), mxa.max(mxb), nna + nnb)
        (merged, ra + rb)
      }
      .map { case ((name, cname), (s, rows)) =>
        // an empty table (or all-null column) never saw a value: the ±inf
        // initializers are sentinels, not bounds
        val known = s.filter(_._1 != Double.PositiveInfinity)
        // + 0.0 normalizes IEEE negative zero: parquet footer stats use
        // the total order, where -0.0 sorts BELOW 0.0 and becomes the
        // recorded min, while a scan's MIN treats them equal and reports
        // whichever it met — the two surfaces must agree (-0.0 == 0.0
        // numerically, so the bound is unchanged; found live at sf0.1,
        // where the events fixture contains a -0.0)
        Row(name, cname,
          known.map(v => Double.box(v._1 + 0.0)).orNull,
          known.map(v => Double.box(v._2 + 0.0)).orNull,
          s.map(v => Long.box(v._3)).orNull, rows)
      }
    spark.createDataFrame(stats, schema)
  }

  /**
   * (tbl, n_rows, n_cols) inventory from footers alone — the one shape
   * both catalog inventories (CoreQueries cat_tables, Catalog.inventory)
   * share, kept here so a fix reaches both. `tables`: (name, path,
   * column count).
   */
  def inventory(spark: SparkSession,
                tables: Seq[(String, String, Int)]): DataFrame =
    rowCounts(spark, tables.map(t => t._1 -> t._2))
      .join(broadcast(
        spark.createDataFrame(tables.map(t => t._1 -> t._3)).toDF("tbl", "nc")),
        "tbl")
      .select(col("tbl"), col("n_rows"), col("nc").cast("int").as("n_cols"))
}
