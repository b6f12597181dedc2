package graft.queries

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.SparkSpec

/** [[Tables]]' inferred-schema cache is per session: parquet schema
  * inference depends on session conf, so one session's cached schema must
  * never be served to another. */
class TablesSpec extends SparkSpec {

  /** A one-column fixture `<dir>/t.parquet` written by parquet-mr, so its
    * footer carries no Spark schema and inference follows the session
    * conf. */
  private def fixture(column: String): String = {
    val d = Files.createTempDirectory("graft_tables_").toString
    val schema = MessageTypeParser.parseMessageType(
      s"message t { required int64 $column; }")
    val w = ExampleParquetWriter
      .builder(new Path(s"$d/t.parquet/part-00000.parquet"))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    (0L until 3L).foreach(i => w.write(rows.newGroup()
      .append(column.split(" ").head, 1704164645000000000L + i)))
    w.close()
    d
  }

  test("a second session with another inferTimestampNTZ setting infers " +
      "its own fixture schema") {
    val d = fixture("at (TIMESTAMP(MICROS,false))")
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(Tables(spark, d, "t").schema("at").dataType === TimestampNTZType)
    assert(Tables(other, d, "t").schema("at").dataType === TimestampType)
    assert(Tables(spark, d, "t").schema("at").dataType === TimestampNTZType)
  }

  test("a second session without nanosAsLong infers its own schema and " +
      "fails loud on a nanos column instead of reusing a cached one") {
    val d = fixture("ts (TIMESTAMP(NANOS,true))")
    assert(Tables(spark, d, "t").schema("ts").dataType === LongType)
    val other = spark.newSession()
    other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[Exception](Tables(other, d, "t"))
    assert(e.getMessage.contains("NANOS"), e.getMessage)
  }
}
