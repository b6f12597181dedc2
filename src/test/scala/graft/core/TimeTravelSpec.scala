package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Absolute-version reads and timestamp time travel
  * (LineageTable.asOfVersion, Catalog.commitAt/asOfTimestamp). */
class TimeTravelSpec extends SparkSpec {

  import spark.implicits._

  private def base =
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v")

  private def freshCatalog(autoCompact: Boolean = false): (Catalog, String) = {
    val wh = Files.createTempDirectory("graft_tt_wh_").toString
    (new Catalog(spark, wh, autoCompact = autoCompact), wh)
  }

  test("asOfVersion addresses table states; later inserts are absent") {
    val t = LineageTable.fromBase("k", base)          // ver 0
      .update(col("k") === 1L, Map("v" -> lit(11L)))  // ver 1
      .insert(Seq((9L, 90L)).toDF("k", "v"))          // ver 2
      .delete(col("k") === 2L)                        // ver 3
    def snapAt(v: Long) =
      t.asOfVersion(v).collect().map(_.toSeq).toSet
    assert(snapAt(0L) === Set(Seq(1L, 10L), Seq(2L, 20L), Seq(3L, 30L)))
    assert(snapAt(1L) === Set(Seq(1L, 11L), Seq(2L, 20L), Seq(3L, 30L)))
    assert(snapAt(2L) === Set(Seq(1L, 11L), Seq(2L, 20L), Seq(3L, 30L),
      Seq(9L, 90L)))
    assert(snapAt(3L) === Set(Seq(1L, 11L), Seq(3L, 30L), Seq(9L, 90L)))
    // beyond the newest stamp ≡ latest
    assert(snapAt(99L) === snapAt(3L))
  }

  test("asOfTimestamp resolves through the commit log, clamping at base") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.commitAt("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))),
      ts = 1000L)
    cat.commitAt("t", Txn.empty.delete(col("k") === 2L), ts = 2000L)
    def at(ts: Long) =
      cat.asOfTimestamp("t", ts).collect().map(_.toSeq).toSet
    assert(at(500L) === Set(Seq(1L, 10L), Seq(2L, 20L), Seq(3L, 30L)),
      "before the first logged commit → base state")
    assert(at(1000L) === Set(Seq(1L, 11L), Seq(2L, 20L), Seq(3L, 30L)),
      "at-or-after a commit's ts sees that commit")
    assert(at(1500L) === at(1000L))
    assert(at(5000L) === Set(Seq(1L, 11L), Seq(3L, 30L)))
    // the log is durable metadata: a fresh catalog over the same dir agrees
    val reopened = new Catalog(spark, wh, autoCompact = false)
    assert(reopened.asOfTimestamp("t", 1500L).collect().map(_.toSeq).toSet
      === at(1500L))
  }

  test("out-of-order commit timestamps are rejected before writing") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.commitAt("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))),
      ts = 1000L)
    intercept[IllegalArgumentException] {
      cat.commitAt("t", Txn.empty.delete(col("k") === 2L), ts = 999L)
    }
    // the rejected commit wrote nothing
    assert(cat.getTable("t").snapshot.count() === 3L)
  }

  test("with retention OFF, rewrites clear the log: travel is bounded") {
    val wh = Files.createTempDirectory("graft_tt_wh_").toString
    val cat = new Catalog(spark, wh, autoCompact = false,
      snapshotRetention = 0) // the r7 behavior, still available
    cat.createTable("t", "k", base)
    cat.commitAt("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))),
      ts = 1000L)
    cat.foldTail("t") // history-preserving merge — but stamps are rewritten
    // the pre-compaction ts now resolves to the post-rewrite base state
    // (= latest), never to a wrong mixture of re-stamped rows
    assert(cat.asOfTimestamp("t", 500L).collect().map(_.toSeq).toSet ===
      cat.getTable("t").snapshot.collect().map(_.toSeq).toSet)
  }

  test("time travel SURVIVES compaction: retained snapshots serve old ts") {
    val (cat, wh) = freshCatalog() // default snapshotRetention = 2
    cat.createTable("t", "k", base)
    cat.commitAt("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))),
      ts = 1000L)
    cat.commitAt("t", Txn.empty.delete(col("k") === 2L), ts = 2000L)
    cat.foldTail("t") // physical rewrite; pre-rewrite base+tail retire to _snap
    // a post-rewrite logged commit starts the new log
    cat.commitAt("t", Txn.empty.insert(Seq((9L, 90L)).toDF("k", "v")),
      ts = 3000L)
    def at(ts: Long) =
      cat.asOfTimestamp("t", ts).collect().map(_.toSeq).toSet
    assert(at(500L) === Set(Seq(1L, 10L), Seq(2L, 20L), Seq(3L, 30L)),
      "pre-first-commit state must survive the rewrite")
    assert(at(1500L) === Set(Seq(1L, 11L), Seq(2L, 20L), Seq(3L, 30L)),
      "a PRE-COMPACTION timestamp must read the retained snapshot")
    assert(at(2500L) === Set(Seq(1L, 11L), Seq(3L, 30L)))
    assert(at(3500L) === Set(Seq(1L, 11L), Seq(3L, 30L), Seq(9L, 90L)))
    // durable: a fresh catalog over the warehouse resolves identically
    val reopened = new Catalog(spark, wh)
    assert(reopened.asOfTimestamp("t", 1500L).collect().map(_.toSeq).toSet
      === at(1500L))
    // DESCRIBE HISTORY surfaces the full addressable log across snapshots
    assert(cat.history("t").collect().map(_.getLong(1)).toSet
      === Set(1000L, 2000L, 3000L))
  }

  test("pre-compaction ts resolves after an AUTO-compaction (inline trigger)") {
    val wh = Files.createTempDirectory("graft_tt_wh_").toString
    // aggressive ratio so the inline trigger fires on the logged commits
    val cat = new Catalog(spark, wh, autoCompact = true, compactRatio = 0.01)
    cat.createTable("t", "k", base)
    cat.commitAt("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))),
      ts = 1000L)
    cat.commitAt("t", Txn.empty.delete(col("k") === 2L), ts = 2000L)
    assert(cat.getTable("t").opSeq > 2L,
      "fixture assumption: auto-compaction re-stamped (ratio trigger fired)")
    def at(ts: Long) =
      cat.asOfTimestamp("t", ts).collect().map(_.toSeq).toSet
    assert(at(1500L) === Set(Seq(1L, 11L), Seq(2L, 20L), Seq(3L, 30L)),
      "the commit log must survive the commit's own inline compaction")
    assert(at(5000L) === Set(Seq(1L, 11L), Seq(3L, 30L)))
  }

  test("retention expiry: a ts older than every retained snapshot ERRORS") {
    val wh = Files.createTempDirectory("graft_tt_wh_").toString
    val cat = new Catalog(spark, wh, autoCompact = false,
      snapshotRetention = 1)
    cat.createTable("t", "k", base)
    cat.commitAt("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))),
      ts = 1000L)
    cat.foldTail("t") // snapshot A retained (covers ts 1000)
    cat.commitAt("t", Txn.empty.delete(col("k") === 2L), ts = 2000L)
    cat.foldTail("t") // snapshot B retained; A EXPIRES (retention = 1)
    // within the retained window: still resolvable
    assert(cat.asOfTimestamp("t", 2500L).collect().map(_.toSeq).toSet
      === Set(Seq(1L, 11L), Seq(3L, 30L)))
    // beyond it: the data that could answer lived in expired snapshot A —
    // an error, never a silent clamp to wrong data
    val e = intercept[IllegalArgumentException] {
      cat.asOfTimestamp("t", 500L).collect()
    }
    assert(e.getMessage.contains("retention horizon"))
  }

  test("purge drops snapshots (erasure reaches retained history)") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.commitAt("t", Txn.empty.update(col("k") === 2L, Map("v" -> lit(22L))),
      ts = 1000L)
    cat.foldTail("t") // snapshot retains key 2's history
    cat.purge("t", col("k") === 2L)
    // no _snap dir survives a purge — erased keys' rows must be GONE
    assert(!new java.io.File(s"$wh/t/_snap").exists(),
      "purge left snapshot files behind — erasure must reach them")
    assert(cat.getTable("t").snapshot.collect().map(_.getLong(0)).toSet
      === Set(1L, 3L))
    // the pre-purge ts is now unreachable: error, not resurrection
    val e = intercept[IllegalArgumentException] {
      cat.asOfTimestamp("t", 1500L).collect()
    }
    assert(e.getMessage.contains("retention horizon"))
  }

  test("vacuumOlderThan: versions clamp at the retention bound, loud past it (r11)") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.commitAt("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))),
      ts = 1000L)
    cat.commitAt("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(12L))),
      ts = 2000L)
    cat.commitAt("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(13L))),
      ts = 3000L)
    cat.commitAt("t", Txn.empty.delete(col("k") === 2L), ts = 4000L)
    cat.vacuumOlderThan("t", 2500L)
    val t = cat.getTable("t")
    // the snapshot is invariant through retention
    assert(t.snapshot.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((1L, 13L), (3L, 30L)))
    // deep version addressing CLAMPS at the retention-bound state (the
    // ts-2000 commit): v=12 for key 1, never the physically-gone 11 or 10;
    // the deleted key 2 reads back at its bound state
    val deep = t.asOfRelative(-99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(deep === Map(1L -> 12L, 2L -> 20L, 3L -> 30L))
    // wall-clock travel past the horizon fails loud, never fabricates
    val e = intercept[IllegalArgumentException](
      cat.asOfTimestamp("t", 1500L).collect())
    assert(e.getMessage.contains("retention horizon"))
    // a table with no logged commits has no clock: loud error
    val (cat2, _) = freshCatalog()
    cat2.createTable("u", "k", base)
    cat2.commit("u", Txn.empty.update(col("k") === 1L, Map("v" -> lit(1L))))
    assert(intercept[IllegalArgumentException](
      cat2.vacuumOlderThan("u", 99L)).getMessage.contains("no logged"))
  }

  test("CALL graft.vacuum(retain => ts) is the SQL spelling of time retention (r11)") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.commitAt("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))),
      ts = 1000L)
    cat.commitAt("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(12L))),
      ts = java.time.Instant.parse("2024-06-01T00:00:00Z").toEpochMilli)
    val g = new graft.sql.GraftSql(spark).register("t", cat, "t")
    g.sql("CALL graft.vacuum('t', retain => '2024-01-01 00:00:00')")
    // the ts-1000 version is gone; the clamp lands on v=11 (the newest
    // commit at-or-before the retained instant)
    assert(cat.getTable("t").asOfRelative(-99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap ===
      Map(1L -> 11L, 2L -> 20L, 3L -> 30L))
    // exactly one of keep/retain
    assert(intercept[IllegalArgumentException](g.sql(
      "CALL graft.vacuum('t', 2, retain => '2024-01-01 00:00:00')"))
      .getMessage.contains("exactly one"))
    assert(intercept[IllegalArgumentException](g.sql(
      "CALL graft.vacuum('t')")).getMessage.contains("exactly one"))
  }

  test("a partitioned table's retained snapshot reads without its directory column") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k",
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("k", "cat", "v"),
      partitionBy = Some("cat"))
    cat.commitAt("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))),
      ts = 1000L)
    cat.foldTail("t") // the partitioned base retires into a snapshot
    cat.commitAt("t", Txn.empty.delete(col("k") === 2L), ts = 2000L)
    def at(ts: Long) =
      cat.asOfTimestamp("t", ts).collect().map(_.toSeq).toSet
    assert(at(500L) ===
      Set(Seq(1L, "a", 10L), Seq(2L, "b", 20L), Seq(3L, "a", 30L)))
    assert(at(1500L) ===
      Set(Seq(1L, "a", 11L), Seq(2L, "b", 20L), Seq(3L, "a", 30L)))
    assert(at(2500L) === Set(Seq(1L, "a", 11L), Seq(3L, "a", 30L)))
  }
}
