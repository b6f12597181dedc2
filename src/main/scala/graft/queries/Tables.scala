package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** Parquet readers for the driver's test tables. */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-session INFERRED-schema cache per fixture path: every fixture
    * read previously ran parquet schema inference — a 1-task Spark job
    * (~25ms + driver gap) repeated by all 277 bench queries, cold and
    * steady. The first read per path in a session still infers (so
    * nanos-vs-micros `ts` handling is exactly what inference decides
    * under THAT session's `nanosAsLong` conf — a second session with
    * other settings infers its own schema); later reads supply that
    * schema and launch no job. Sessions are weak keys, so a finished
    * session's entries go with it. The fixture files are immutable for
    * the life of a run — this caches METADATA only, never data or
    * results. */
  private val schemaCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, StructType]]())

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schemas = schemaCache.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, StructType]())
    val cached = schemas.get(path)
    val raw =
      if (cached != null) spark.read.schema(cached).parquet(path)
      else {
        val df = spark.read.parquet(path)
        schemas.putIfAbsent(path, df.schema)
        df
      }
    normalizeEventTime(raw)
  }

  /**
   * Canonical in-engine event time: nanos-since-epoch BIGINT — every
   * query does integer nano arithmetic on `ts` (SURVEY §4), and the
   * DuckDB oracle mirrors it with `epoch_ns(ts)`. The driver's parquet
   * has shipped `ts` as both TIMESTAMP(NANOS) (rounds 1-6; the
   * `nanosAsLong` legacy conf surfaced it as a long already) and
   * TIMESTAMP(MICROS) (round 7+; arrives as TIMESTAMP_NTZ), so the
   * loaders normalize either shape here instead of leaving every
   * operator to guess. NTZ→epoch goes through a TimestampType cast,
   * which interprets the wall time in the SESSION timezone — every
   * graft entry point (Verify/Bench/Explain/ScaleData/SparkSpec) pins
   * `spark.sql.session.timeZone=UTC`, matching DuckDB's naive-as-UTC
   * `epoch_ns`.
   */
  def normalizeEventTime(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) | Some(TimestampType) =>
        df.withColumn("ts",
          (unix_micros(col("ts").cast(TimestampType)) * 1000L).as("ts"))
      case _ => df // already BIGINT nanos (legacy files, ScaleData output)
    }

  /**
   * Explicit schemas for the STREAMABLE fact tables. A production stream
   * source must never pay (an extra listing+footer pass per deploy) or
   * trust (a sampled mis-type poisons the checkpoint forever) schema
   * inference — [[graft.streaming.StreamOps.fileSource]] reads these.
   * `events.ts` is declared TIMESTAMP_NTZ to match the round-7 driver
   * files; [[graft.streaming.StreamOps.fileSource]] runs
   * [[normalizeEventTime]] over the source so downstream streaming
   * operators see the same nanos-since-epoch BIGINT the batch loaders
   * produce.
   */
  val streamSchemas: Map[String, StructType] = Map(
    "events" -> StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))),
    // change-stream source for the streaming CDC apply (stream_merge)
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType),
      StructField("o_orderpriority", StringType))))

  def streamSchemaOf(name: String): StructType =
    streamSchemas.getOrElse(name,
      throw new IllegalArgumentException(s"no declared stream schema for: $name"))
}
