package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.core.{Catalog, Txn}

/** Change-data-feed READ (StreamOps.changeFeed): the table's tail streamed
  * as change events — correctness of the classification, and the
  * incremental contract (a checkpointed consumer resumes after a new
  * commit and receives ONLY the new changes, exactly once). */
class StreamCdfSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable(): (Catalog, String) = {
    val wh = Files.createTempDirectory("graft_cdf_wh_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("t", "k",
      Seq((1L, 10L, "A"), (2L, 20L, "B"), (3L, 30L, "C")).toDF("k", "v", "s"))
    (cat, "t")
  }

  test("feed surfaces each commit's rows with op + commit_ver") {
    val (cat, t) = freshTable()
    cat.commit(t, Txn.empty.update(col("k") === 1L,
      Map("v" -> (col("v") + org.apache.spark.sql.functions.lit(1)))))
    cat.commit(t, Txn.empty
      .insert(Seq((9L, 90L, "I")).toDF("k", "v", "s"))
      .delete(col("k") === 2L))
    val got = StreamOps.drainAppend(spark,
        StreamOps.changeFeed(spark, cat, t))
      .select("k", "v", "s", "commit_ver", "op")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getString(4))).toSet
    assert(got === Set(
      (1L, 11L, "A", 1L, "upsert"),   // commit 1: update postimage
      (9L, 90L, "I", 2L, "upsert"),   // commit 2, op 1: insert
      (2L, 20L, "B", 3L, "delete")))  // commit 2, op 2: tombstone w/ state
  }

  test("draining one commit's feed starts one Spark job") {
    // the micro-batch write; the output reads back under the plan's
    // schema, where a schema-less read started an inference job
    val (cat, t) = freshTable()
    cat.commit(t, Txn.empty.update(col("k") === 1L, Map("s" -> col("s"))))
    val feed = StreamOps.changeFeed(spark, cat, t)
    StreamOps.drainAppend(spark, feed) // warm up
    val (out, jobs) = jobsOf(StreamOps.drainAppend(spark, feed))
    assert(jobs <= 1, s"the drain ran $jobs jobs")
    assert(out.select("k", "op").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "upsert")))
  }

  test("checkpointed consumer resumes: second drain sees ONLY new commits") {
    val (cat, t) = freshTable()
    cat.commit(t, Txn.empty.update(col("k") === 1L, Map("s" -> col("s"))))
    val out = Files.createTempDirectory("graft_cdf_out_").toString + "/sink"
    StreamOps.drainToParquet(spark, StreamOps.changeFeed(spark, cat, t), out)
    assert(spark.read.parquet(out).count() === 1L)
    cat.commit(t, Txn.empty.delete(col("k") === 3L))
    // same checkpoint (lives under out/_checkpoint): the resumed drain
    // must append exactly the new commit's row — no replay of commit 1
    StreamOps.drainToParquet(spark, StreamOps.changeFeed(spark, cat, t), out)
    val rows = spark.read.parquet(out)
      .select("k", "commit_ver", "op")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.length === 2, s"expected exactly-once accumulation, got ${rows.toSeq}")
    assert(rows.toSet === Set((1L, 1L, "upsert"), (3L, 2L, "delete")))
  }

  test("startingVersion skips already-known history for a late consumer") {
    val (cat, t) = freshTable()
    cat.commit(t, Txn.empty.delete(col("k") === 1L))
    cat.commit(t, Txn.empty.insert(Seq((8L, 80L, "H")).toDF("k", "v", "s")))
    val late = StreamOps.drainAppend(spark,
      StreamOps.changeFeed(spark, cat, t, startingVersion = 1L))
    assert(late.select("k", "commit_ver").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((8L, 2L)))
  }

  test("startingTimestamp resolves through the commit log to the same skip") {
    val (cat, t) = freshTable()
    // logged commits with epoch-millis-shaped stamps
    cat.commitAt(t, Txn.empty.delete(col("k") === 1L), ts = 1000L)
    cat.commitAt(t, Txn.empty.insert(Seq((8L, 80L, "H")).toDF("k", "v", "s")),
      ts = 2000L)
    // start at the first commit at-or-after ts=1500 → only the insert
    val late = StreamOps.drainAppend(spark,
      StreamOps.changeFeed(spark, cat, t, startingTimestamp = Some(1500L)))
    assert(late.select("k", "commit_ver").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((8L, 2L)))
    // a timestamp preceding the whole log starts at the tail's beginning
    val all = StreamOps.drainAppend(spark,
      StreamOps.changeFeed(spark, cat, t, startingTimestamp = Some(1L)))
    assert(all.count() === 2L)
    // exactly one start knob at a time
    intercept[IllegalArgumentException](StreamOps.changeFeed(spark, cat, t,
      startingVersion = 1L, startingTimestamp = Some(1500L)))
  }

  test("feed attached before the first commit streams zero rows, then data") {
    val (cat, t) = freshTable()
    // changeFeedInfo creates the (empty) tail dir so the source can start
    val empty = StreamOps.drainAppend(spark, StreamOps.changeFeed(spark, cat, t))
    assert(empty.count() === 0L)
    cat.commit(t, Txn.empty.insert(Seq((7L, 70L, "N")).toDF("k", "v", "s")))
    val after = StreamOps.drainAppend(spark, StreamOps.changeFeed(spark, cat, t))
    assert(after.select("k").as[Long].collect().toSeq === Seq(7L))
  }

  test("feed attached right after a fold streams zero rows, then the next commit") {
    val (cat, t) = freshTable()
    cat.commit(t, Txn.empty.update(col("k") === 1L, Map("s" -> col("s"))))
    // the fold empties the tail and raises tail_floor above 0
    cat.foldTail(t)
    val empty = StreamOps.drainAppend(spark, StreamOps.changeFeed(spark, cat, t))
    assert(empty.count() === 0L)
    cat.commit(t, Txn.empty.insert(Seq((8L, 80L, "M")).toDF("k", "v", "s")))
    val after = StreamOps.drainAppend(spark, StreamOps.changeFeed(spark, cat, t))
    assert(after.select("k", "op").as[(Long, String)].collect().toSeq ===
      Seq((8L, "upsert")))
  }
}
