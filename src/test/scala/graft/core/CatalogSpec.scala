package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Reference Database.open/close/create/drop/get semantics over the
  * parquet warehouse (reference: lstore/db.py). */
class CatalogSpec extends SparkSpec {

  private def freshCatalog(autoCompact: Boolean = true): (Catalog, String) = {
    val wh = Files.createTempDirectory("graft_wh_").toString
    (new Catalog(spark, wh, autoCompact = autoCompact), wh)
  }

  private def base = {
    import spark.implicits._
    Seq((1L, 10L, "A"), (2L, 20L, "B"), (3L, 30L, "C")).toDF("k", "v", "s")
  }

  test("create → get round-trips the table through disk") {
    val (cat, _) = freshCatalog()
    cat.createTable("t1", "k", base)
    val got = cat.getTable("t1")
    assert(got.keyCol == "k")
    assert(got.dataCols == Seq("k", "v", "s"))
    assert(got.snapshot.collect().map(_.toSeq).toSet ===
      base.collect().map(_.toSeq).toSet)
  }

  test("txn commit persists only the delta; reopen sees the new state") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.commit("t", Txn.empty
      .update(col("k") === 1L, Map("v" -> lit(99L)))
      .delete(col("k") === 3L))
    // "close and reopen the database": a brand-new Catalog over the same dir
    val reopened = new Catalog(spark, wh).getTable("t")
    val snap = reopened.snapshot.collect().map(_.toSeq).toSet
    assert(snap === Set(Seq(1L, 99L, "A"), Seq(2L, 20L, "B")))
    // lineage retains history: base(3) + update(1) + tombstone(1)
    assert(reopened.lineage.count() === 5)
  }

  test("commit writes the ops' own delta — never a diff of full lineages") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    val before = cat.getTable("t")
    // insert-only: the delta is the literal new rows — its plan must not
    // scan ANY parquet (r1 diffed whole lineages with exceptAll: a
    // two-sided full-table shuffle per commit).
    val ins = Txn.empty.insert(Seq((9L, 90L, "I")).toDF("k", "v", "s"))
    val insDelta = ins.commit(before).delta.get
    val insPlan = insDelta.queryExecution.optimizedPlan.toString
    assert(!insPlan.contains("parquet") && !insPlan.contains("Except"),
      s"insert delta should be scan-free:\n$insPlan")
    // update: the delta must read the table (write-time coalesce) but
    // never diff it — no Except anywhere.
    val upd = Txn.empty.update(col("k") === 1L, Map("v" -> lit(5L)))
    val updPlan = upd.commit(before).delta.get.queryExecution.optimizedPlan.toString
    assert(!updPlan.contains("Except"), updPlan)
    // and the durable path applies the delta correctly end-to-end
    cat.commit("t", ins)
    assert(cat.getTable("t").snapshot.count() === 4)
  }

  test("re-insert after durable delete is visible on reopen") {
    import spark.implicits._
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.commit("t", Txn.empty.delete(col("k") === 2L))
    // op_seq persists across commits, so the later insert outranks the
    // tombstone even though the commits are separate
    cat.commit("t", Txn.empty.insert(Seq((2L, 200L, "R")).toDF("k", "v", "s")))
    val snap = new Catalog(spark, wh).getTable("t")
      .snapshot.where(col("k") === 2L).collect().map(_.toSeq)
    assert(snap.toSet === Set(Seq(2L, 200L, "R")))
  }

  test("index lifecycle: create re-lays out by the column, drop restores") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    val want = cat.getTable("t").snapshot.collect().map(_.toSeq).toSet
    cat.createIndex("t", "v")
    assert(cat.indexOf("t") === Some("v"))
    assert(cat.getTable("t").snapshot.collect().map(_.toSeq).toSet === want)
    cat.dropIndex("t")
    assert(cat.indexOf("t") === None)
    assert(cat.getTable("t").snapshot.collect().map(_.toSeq).toSet === want)
    intercept[IllegalArgumentException](cat.createIndex("t", "nope"))
  }

  test("parallel per-table batches commit concurrently with correct finals") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    cat.createTable("ta", "k", base)
    cat.createTable("tb", "k", base)
    val flags = Txn.runBatches(cat, Map(
      "ta" -> Seq(
        Txn.empty.update(col("k") === 1L, Map("v" -> (col("v") + 1L))),
        Txn.empty.insert(Seq((4L, 40L, "D")).toDF("k", "v", "s")),
        Txn.empty.add(_ => throw new RuntimeException("abort me"))),
      "tb" -> Seq(
        Txn.empty.delete(col("k") === 3L),
        Txn.empty.update(col("k") === 2L, Map("s" -> lit("Z"))))))
    assert(flags("ta") === Seq(true, true, false))
    assert(flags("tb") === Seq(true, true))
    val ta = cat.getTable("ta").snapshot.collect().map(_.toSeq).toSet
    assert(ta === Set(Seq(1L, 11L, "A"), Seq(2L, 20L, "B"), Seq(3L, 30L, "C"),
      Seq(4L, 40L, "D")))
    val tb = cat.getTable("tb").snapshot.collect().map(_.toSeq).toSet
    assert(tb === Set(Seq(1L, 10L, "A"), Seq(2L, 20L, "Z")))
  }

  test("inventory of an empty warehouse is empty, not an error") {
    val (cat, _) = freshCatalog()
    assert(cat.inventory().count() === 0)
  }

  test("metadata rejects non-identifier column names instead of corrupting") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    val evil = Seq((1L, "x")).toDF("k", "a\"b]c")
    intercept[IllegalArgumentException](cat.createTable("t", "k", evil))
  }

  test("saveCompacted folds tail into base and truncates it (merge)") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", base)
    val after = cat.commit("t", Txn.empty
      .update(col("k") === 2L, Map("s" -> lit("Z"))))
    val wantSnap = after.snapshot.collect().map(_.toSeq).toSet
    cat.saveCompacted("t", after)
    val merged = new Catalog(spark, wh).getTable("t")
    assert(merged.snapshot.collect().map(_.toSeq).toSet === wantSnap)
    assert(merged.lineage.count() === merged.snapshot.count()) // tail gone
    assert(!Files.isDirectory(java.nio.file.Paths.get(wh, "t", "tail")))
  }

  test("maybeCompact fires once the tail outgrows the ratio (background merge)") {
    // manual-trigger mechanics under test: auto-compaction off
    val (cat, wh) = freshCatalog(autoCompact = false)
    cat.createTable("t", "k", base)
    // small commit: tail 1 row / base 3 -> under a 0.5 ratio, no compaction
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))))
    assert(!cat.maybeCompact("t", maxTailRatio = 0.5))
    assert(Files.isDirectory(java.nio.file.Paths.get(wh, "t", "tail")))
    // two more commits push the ratio over; compaction folds and truncates
    cat.commit("t", Txn.empty.update(col("k") === 2L, Map("v" -> lit(22L))))
    cat.commit("t", Txn.empty.delete(col("k") === 3L))
    val want = cat.getTable("t").snapshot.collect().map(_.toSeq).toSet
    assert(cat.maybeCompact("t", maxTailRatio = 0.5))
    val t = cat.getTable("t")
    assert(t.snapshot.collect().map(_.toSeq).toSet === want)
    assert(!Files.isDirectory(java.nio.file.Paths.get(wh, "t", "tail")))
    assert(!cat.maybeCompact("t", maxTailRatio = 0.5)) // idempotent when clean
  }

  test("drop removes the table; create rejects duplicates") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    assert(cat.tableNames == Seq("t"))
    intercept[IllegalArgumentException](cat.createTable("t", "k", base))
    cat.dropTable("t")
    assert(cat.tableNames.isEmpty)
    intercept[IllegalArgumentException](cat.getTable("t"))
  }

  test("vacuum drops superseded versions, keeps the snapshot invariant") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", base)
    // 3 write generations over k=1; delete k=2 (tombstone newest)
    cat.commit("t", Txn.empty
      .update(col("k") === 1L, Map("v" -> lit(11L)))
      .update(col("k") === 1L, Map("v" -> lit(12L)))
      .delete(col("k") === 2L))
    val before = cat.getTable("t")
    val snapBefore = before.snapshot.collect().map(_.toSeq).toSet
    val verBefore = before.opSeq

    val v = cat.vacuum("t", keep = 2)
    // snapshot invariant (tombstone for k=2 retained → still deleted)
    assert(v.snapshot.collect().map(_.toSeq).toSet === snapBefore)
    // physical rows: per key min(keep, versions): k1: 2 of 3, k2: 2 (base+tomb), k3: 1
    assert(v.lineage.count() === 5)
    // deep version read clamps at the oldest RETAINED (v=11 for k=1, not 10)
    val old = v.asOfRelative(-9).where(col("k") === 1L).collect()
    assert(old.map(_.getAs[Long]("v")).toSeq === Seq(11L))
    // op_seq advances by keep (retained rows are re-stamped ABOVE every
    // old version — strict shadowing is what makes the swap crash-safe);
    // the next write's _ver stays strictly monotonic
    assert(cat.getTable("t").opSeq === verBefore + 2)
    // a keep>1 base holds history: inventory must COUNT LIVE ROWS, not
    // trust parquet footers (k2 is a retained tombstone in the base)
    val inv2 = cat.inventory().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(inv2("t") === 2L, s"inventory over-reported: $inv2")
    val after = cat.commit("t", Txn.empty
      .update(col("k") === 1L, Map("v" -> lit(13L))))
    // materialize BEFORE the next vacuum: a vacuum rewrites the table's
    // files, so pre-vacuum DataFrames (cached file listings) go stale —
    // same re-read-after-rewrite discipline as compaction
    val snapAfter = after.snapshot.collect().map(_.toSeq).toSet
    assert(after.snapshot.where(col("k") === 1L).collect()
      .map(_.getAs[Long]("v")).toSeq === Seq(13L))

    // keep=1 folds to one LIVE version per record: the fully-dead k=2
    // tombstone is pruned outright, so the base is live-only and the
    // empty-tail fast path + footer inventory stay truthful
    cat.vacuum("t", keep = 1)
    assert(!Files.isDirectory(java.nio.file.Paths.get(wh, "t", "tail")))
    val t1 = cat.getTable("t")
    assert(t1.snapshot.collect().map(_.toSeq).toSet === snapAfter)
    assert(t1.lineage.count() === 2 && t1.snapshot.count() === 2)
    val inv1 = cat.inventory().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(inv1("t") === 2L)
  }

  test("vacuum(keep>1) with no multi-version keys keeps the fast paths") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.vacuum("t", keep = 2) // single-version table: nothing ranks 2nd
    // footer inventory still valid (multi_ver stayed false)...
    val inv = cat.inventory().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(inv("t") === 3L)
    // ...and snapshot is still a bare scan, no window shuffle
    val snap = cat.getTable("t").snapshot
    snap.queryExecution.toRdd.count()
    val plan = snap.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("Exchange"),
      s"fast path lost:\n$plan")
  }

  test("purge durably erases matching keys; survivors keep version reads") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.commit("t", Txn.empty
      .update(col("k") === 1L, Map("v" -> lit(11L)))
      .update(col("k") === 2L, Map("v" -> lit(22L))))
    cat.purge("t", col("v") === 20L) // matches an OLD version of k=2
    // erased from disk: reload sees no trace of k=2 at any version
    val t = cat.getTable("t")
    assert(t.lineage.where(col("k") === 2L).isEmpty)
    // survivors keep full version addressing (k=1 prev is v=10)
    assert(t.snapshot.where(col("k") === 1L).collect()
      .map(_.getAs[Long]("v")).toSeq === Seq(11L))
    assert(t.asOfRelative(-1).where(col("k") === 1L).collect()
      .map(_.getAs[Long]("v")).toSeq === Seq(10L))
    // tail folded into the re-stamped base; later commits stamp above
    assert(!Files.isDirectory(java.nio.file.Paths.get(wh, "t", "tail")))
    val after = cat.commit("t", Txn.empty
      .update(col("k") === 1L, Map("v" -> lit(12L))))
    assert(after.snapshot.where(col("k") === 1L).collect()
      .map(_.getAs[Long]("v")).toSeq === Seq(12L))
    // purging a COMPACTED table keeps the empty-tail fast path truthful
    cat.saveCompacted("t", cat.getTable("t"))
    cat.purge("t", col("k") === 3L)
    val inv = cat.inventory().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(inv("t") === 1L) // k=1 only (k=2, k=3 purged)
  }

  test("optimistic commit aborts the stale writer (CAS on op_seq)") {
    import spark.implicits._
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    val baseSeq = cat.getTable("t").opSeq // private[core]: spec shares the package
    // two writers build against the SAME base state and race the commit:
    // exactly one may win (reference: lock-conflict abort,
    // lstore/transaction.py:26-38)
    val txnA = Txn.empty.update(col("k") === 1L, Map("v" -> lit(100L)))
    val txnB = Txn.empty.update(col("k") === 1L, Map("v" -> lit(200L)))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val results = Await.result(Future.sequence(Seq(txnA, txnB).map(txn =>
      Future(cat.tryCommit("t", txn, baseSeq)))), Duration.Inf)
    assert(results.count(_.isRight) === 1, s"exactly one writer must win: $results")
    assert(results.count(_.isLeft) === 1)
    results.collect { case Left(e) => e }.foreach(e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
    // the winner's value is the one on disk; the loser wrote nothing
    val v = cat.getTable("t").snapshot.where(col("k") === 1L).collect()
      .map(_.getAs[Long]("v")).toSeq
    assert(v === Seq(100L) || v === Seq(200L))
    // a retry from the CURRENT state succeeds
    val retry = cat.tryCommit("t", txnB, cat.getTable("t").opSeq)
    assert(retry.isRight)
  }

  test("auto-compaction bounds the tail under repeated small commits") {
    val (cat, wh) = freshCatalog() // default: autoCompact on, ratio 0.3
    cat.createTable("t", "k", base)
    (1 to 6).foreach { i =>
      cat.commit("t", Txn.empty
        .update(col("k") === 1L, Map("v" -> lit(10L + i))))
      // invariant after EVERY commit: tail/base ratio within bound
      val tail = java.nio.file.Paths.get(wh, "t", "tail")
      val tailRows =
        if (Files.isDirectory(tail)) spark.read.parquet(tail.toString).count()
        else 0L
      val baseRows = spark.read
        .parquet(java.nio.file.Paths.get(wh, "t", "base").toString).count()
      assert(tailRows.toDouble <= 0.3 * baseRows + 1,
        s"after commit $i: tail $tailRows vs base $baseRows")
    }
    // snapshot sees the last write; HISTORY survived compaction (the fold
    // is history-preserving — version reads work across fold boundaries)
    val t = cat.getTable("t")
    assert(t.snapshot.where(col("k") === 1L).collect()
      .map(_.getAs[Long]("v")).toSeq === Seq(16L))
    assert(t.lineage.where(col("k") === 1L).count() === 7) // base + 6 updates
    assert(t.asOfRelative(-1).where(col("k") === 1L).collect()
      .map(_.getAs[Long]("v")).toSeq === Seq(15L))
    assert(t.asOfRelative(-9).where(col("k") === 1L).collect()
      .map(_.getAs[Long]("v")).toSeq === Seq(10L)) // clamps at base
    // op_seq grows LINEARLY with real history across folds: each fold
    // advances it by exactly the deepest per-key depth (here: 1+commits
    // on k=1), never by doubling. The old 2*op_seq+1 budget reached
    // ~2^folds here and overflowed Int on long-lived tables; with 6
    // commits and a fold on every one of them the worst linear bound is
    // base(0) + Σ depth_i ≤ 6 * 7 = 42, and exponential growth would
    // already exceed it at this cadence (2^6 * initial stamps > 64).
    assert(t.opSeq <= 42L,
      s"op_seq ${t.opSeq} after 6 folded commits — superlinear stamp growth?")
  }

  test("full warehouse lifecycle over an explicit file:-scheme Hadoop path") {
    // the API boundary is the point: every catalog I/O (metadata, listing,
    // swap renames, deletes, footer reads) must go through the Hadoop
    // FileSystem — a java.io path would fail or silently see nothing here
    val local = Files.createTempDirectory("graft_wh_hfs_").toString
    val wh = "file://" + local
    val cat = new Catalog(spark, wh)
    cat.createTable("t", "k", base)
    assert(cat.tableNames === Seq("t"))
    cat.commit("t", Txn.empty
      .update(col("k") === 1L, Map("v" -> lit(11L)))
      .delete(col("k") === 3L))
    val snap = cat.getTable("t").snapshot.collect().map(_.toSeq).toSet
    assert(snap === Set(Seq(1L, 11L, "A"), Seq(2L, 20L, "B")))
    // index lifecycle over the scheme-ful path
    cat.createIndex("t", "v")
    assert(cat.indexOf("t") === Some("v"))
    assert(cat.getTable("t").snapshot.collect().map(_.toSeq).toSet === snap)
    // vacuum + purge + inventory (footer reads through Hadoop FS)
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(12L))))
    cat.vacuum("t", keep = 1)
    cat.purge("t", col("k") === 2L)
    val inv = cat.inventory().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(inv === Map("t" -> 1L))
    // reopen through a fresh Catalog over the same URI
    assert(new Catalog(spark, wh).getTable("t")
      .snapshot.collect().map(_.toSeq).toSet === Set(Seq(1L, 12L, "A")))
    cat.dropTable("t")
    assert(cat.tableNames.isEmpty)
  }

  test("metadata writes are crash-atomic: every torn state is readable") {
    // autoCompact off: compaction re-stamps op_seq by measured depth,
    // which would make the post-adoption op_seq assertions below
    // depend on fold cadence instead of the crash protocol under test
    val (cat, wh) = freshCatalog(autoCompact = false)
    cat.createTable("t", "k", base)
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))))
    val meta = java.nio.file.Paths.get(wh, "t", "_graft.json")
    val tmp = java.nio.file.Paths.get(wh, "t", "_graft.json.tmp")
    val current = Files.readString(meta)
    // crash window A: stage written (newer content), main not yet deleted
    // → the old main still reads (the staged write never committed)
    Files.writeString(tmp,
      current.replaceAll("\"op_seq\": \\d+", "\"op_seq\": 77"))
    assert(new Catalog(spark, wh).getTable("t").snapshot.count() === 3)
    assert(Files.readString(meta) === current, "main meta must win while present")
    // crash window B: main deleted, rename not landed → reads serve the
    // COMPLETE stage directly (READ-ONLY: a read-path rename could steal
    // the move from a concurrent lock-holding writer mid-writeMeta and
    // abort its commit — readers never take the table lock)
    Files.delete(meta)
    val adopted = new Catalog(spark, wh, autoCompact = false)
    assert(adopted.tableNames === Seq("t"), "staged-only table must be listed")
    assert(adopted.getTable("t").opSeq === 77) // the stage's op_seq
    assert(!Files.exists(meta) && Files.exists(tmp),
      "reads must never promote the stage")
    // the next WRITE adopts the orphan stage under the table lock, then
    // lands its own meta — main restored, no stage left behind
    adopted.commit("t", Txn.empty.update(col("k") === 2L, Map("v" -> lit(21L))))
    assert(Files.exists(meta) && !Files.exists(tmp),
      "a lock-holding writer must promote the stage")
    assert(adopted.getTable("t").opSeq === 78) // 77 adopted + 1 committed op
  }

  test("purge's depth budget costs one cheap aggregate, never a window") {
    // the stamp budget is op_seq + max per-key depth — ONE map-side-
    // combinable groupBy-count over the key column (the price of linear
    // op_seq growth; the old 2*op_seq+1 budget skipped it but doubled
    // op_seq per fold, overflowing Int after ~31 auto-compactions) —
    // count the Spark jobs to pin that no WINDOWED rank aggregate
    // (shuffle+sort, +3 jobs when it last existed) sneaks back in
    val (cat, _) = freshCatalog(autoCompact = false)
    cat.createTable("t", "k", base)
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))))
    val (_, jobs) = jobsOf(cat.purge("t", col("k") === 2L))
    // measured 11 jobs before the depth aggregate: the staged write under
    // AQE (range-partition sampling + per-stage jobs) + the pruned
    // multi_ver probe. The groupBy-count depth budget adds ~2 (partial +
    // final agg); a windowed rank aggregate would add ~3 more on top —
    // this bound trips if one returns.
    assert(jobs <= 14, s"purge ran $jobs jobs — windowed depth job back?")
  }

  test("the one-row commit path's Spark jobs: insert ≤ 1, update ≤ 2, " +
    "a compaction check below the ratio none") {
    // the auto-compaction check counts rows from footers on the driver
    // (up to 64 files a side); a Spark count job per side, or any other
    // job a refactor slips into the commit path, trips these bounds
    import spark.implicits._
    val (cat, _) = freshCatalog() // autoCompact on, ratio 0.3
    cat.createTable("t", "k", spark.range(100)
      .select(col("id").as("k"), (col("id") * 10).as("v"), lit("x").as("s")))
    val (_, insert) = jobsOf(cat.commit("t",
      Txn.empty.insert(Seq((1000L, 1L, "I")).toDF("k", "v", "s"))))
    assert(insert <= 1, s"one-row insert ran $insert jobs")
    val (_, update) = jobsOf(cat.commit("t",
      Txn.empty.update(col("k") === 7L, Map("v" -> lit(71L)))))
    assert(update <= 2, s"one-key update ran $update jobs")
    val (due, check) = jobsOf(cat.maybeCompact("t"))
    assert(!due, "a 2-row tail over a 100-row base is below the 0.3 ratio")
    assert(check === 0, s"the compaction check ran $check jobs")
    assert(cat.getTable("t").snapshot.count() === 101)
  }

  test("cross-process commits: two catalogs over one warehouse, one aborts") {
    // two Catalog INSTANCES have separate JVM lock maps — the same shape
    // as two processes: nothing in-memory serializes them. The FS commit
    // marker + op_seq CAS must make any interleaving yield EXACTLY ONE
    // winner; the loser gets Left, never a torn write.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val wh = Files.createTempDirectory("graft_xproc_").toString
    val catA = new Catalog(spark, wh, autoCompact = false)
    val catB = new Catalog(spark, wh, autoCompact = false)
    catA.createTable("t", "k", base)
    val seq = catA.getTable("t").opSeq
    val gate = new java.util.concurrent.CountDownLatch(2)
    def race(cat: Catalog, v: Long) = Future {
      gate.countDown(); gate.await()
      cat.tryCommit("t", Txn.empty.update(col("k") === 1L,
        Map("v" -> lit(v))), seq)
    }
    val results = Await.result(
      Future.sequence(Seq(race(catA, 100L), race(catB, 200L))), Duration.Inf)
    // exactly one winner — marker acquisition is ATOMIC (O_EXCL on local
    // FS; HDFS create-if-absent by contract). Before r9 the local path
    // rode Hadoop's check-then-act create and this spec caught BOTH
    // writers acquiring (a double commit) under parallel-suite load.
    assert(results.count(_.isRight) === 1,
      s"expected exactly one winner, got: ${results.map(_.isRight)}")
    // the surviving state is the winner's write, cleanly committed
    val v = new Catalog(spark, wh).getTable("t").snapshot
      .where(col("k") === 1L).head.getAs[Long]("v")
    assert(v === 100L || v === 200L)
    // the loser can re-read and retry successfully (marker released)
    val loserCat = if (results.head.isRight) catB else catA
    val retry = loserCat.tryCommit("t",
      Txn.empty.update(col("k") === 2L, Map("v" -> lit(21L))),
      loserCat.getTable("t").opSeq)
    assert(retry.isRight, s"retry after abort failed: $retry")
  }

  test("cross-process race, repeated: one winner per round, state always clean") {
    // hammer the marker acquisition: the non-atomic local create this
    // replaced won ~1-in-dozens of interleavings, so a single race run
    // can pass on a broken implementation — repetition is the spec
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val wh = Files.createTempDirectory("graft_xproc_rep_").toString
    val catA = new Catalog(spark, wh, autoCompact = false)
    val catB = new Catalog(spark, wh, autoCompact = false)
    catA.createTable("t", "k", base)
    for (round <- 1 to 12) {
      val seq = catA.getTable("t").opSeq
      val gate = new java.util.concurrent.CountDownLatch(2)
      def race(cat: Catalog, v: Long) = Future {
        gate.countDown(); gate.await()
        cat.tryCommit("t", Txn.empty.update(col("k") === 1L,
          Map("v" -> lit(v))), seq)
      }
      val rs = Await.result(
        Future.sequence(Seq(race(catA, round * 10L), race(catB, round * 10L + 1))),
        Duration.Inf)
      assert(rs.count(_.isRight) === 1,
        s"round $round: ${rs.map(_.isRight)} — marker acquisition raced")
    }
    // after 12 contested rounds the table reads cleanly end to end
    assert(new Catalog(spark, wh).getTable("t").snapshot.count() === 3L)
  }

  test("a foreign commit marker blocks mutation; a stale one is broken") {
    val wh = Files.createTempDirectory("graft_marker_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("t", "k", base)
    // simulate another process mid-commit: marker present and fresh
    val marker = java.nio.file.Paths.get(wh, "t", "_commit.lock")
    Files.writeString(marker, "other-process")
    val blocked = cat.tryCommit("t",
      Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))),
      cat.getTable("t").opSeq)
    assert(blocked.isLeft, "commit must abort while a foreign marker is live")
    assert(Files.exists(marker), "a foreign live marker must not be deleted")
    // a crashed writer's marker (older than the lease) is broken and the
    // commit proceeds
    val stale = java.time.Instant.now().minusSeconds(3600).toEpochMilli
    java.nio.file.Files.setLastModifiedTime(marker,
      java.nio.file.attribute.FileTime.fromMillis(stale))
    val ok = cat.tryCommit("t",
      Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))),
      cat.getTable("t").opSeq)
    assert(ok.isRight, s"stale marker not broken: $ok")
    assert(!Files.exists(marker), "marker must be released after commit")
  }

  test("inventory lists every table with live row counts") {
    val (cat, _) = freshCatalog()
    cat.createTable("a", "k", base)
    cat.createTable("b", "k", base.where(col("k") < 3))
    val inv = cat.inventory().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(inv === Set(("a", 3L, 3), ("b", 2L, 3)))
  }

  test("zorderTable: durable multi-column clustering survives maintenance (r10)") {
    val (cat, _) = freshCatalog(autoCompact = false)
    import spark.implicits._
    val rows = (1L to 2000L).map(k => (k, k % 131, (k * 7919) % 1000))
      .toDF("k", "a", "b")
    cat.createTable("t", "k", rows)
    cat.zorderTable("t", Seq("a", "b"))
    assert(cat.zorderColsOf("t") === Seq("a", "b"))
    // snapshot unchanged (layout is never semantics)
    assert(cat.getTable("t").snapshot.count() === 2000L)
    // the layout prunes probes on BOTH columns
    def scanRows(pred: org.apache.spark.sql.Column): Long = {
      val probed = cat.getTable("t").snapshot.where(pred)
      probed.collect()
      probed.queryExecution.executedPlan.collectLeaves()
        .map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum
    }
    assert(scanRows(col("a") <= 10) < 2000L, "a-probe must prune")
    assert(scanRows(col("b") <= 50) < 2000L, "b-probe must prune")
    // commits after the layout work; a FOLD re-applies the clustering
    val ok = cat.tryCommit("t",
      Txn.empty.update(col("k") === 1L, Map("b" -> lit(999L))),
      cat.getTable("t").opSeq)
    assert(ok.isRight, ok.toString)
    cat.foldTail("t")
    assert(cat.zorderColsOf("t") === Seq("a", "b"),
      "the clustering must survive the re-stamp")
    assert(scanRows(col("b") <= 50) < 2000L, "post-fold b-probe must prune")
    // mutual exclusion: the one physical order
    cat.createIndex("t", "a")
    assert(cat.zorderColsOf("t").isEmpty && cat.indexOf("t") === Some("a"))
    cat.zorderTable("t", Seq("a", "b"))
    assert(cat.indexOf("t").isEmpty && cat.zorderColsOf("t") === Seq("a", "b"))
    // layout columns are load-bearing
    intercept[IllegalArgumentException](cat.dropColumn("t", "b"))
    // dropIndex restores the default key layout from either
    cat.dropIndex("t")
    assert(cat.zorderColsOf("t").isEmpty && cat.indexOf("t").isEmpty)
    // guards: single column and unknown columns reject loud
    intercept[IllegalArgumentException](cat.zorderTable("t", Seq("a")))
    intercept[IllegalArgumentException](cat.zorderTable("t", Seq("a", "nope")))
    // ADVICE r10: 4+ columns must lay out successfully (bits derive from
    // the column count) — a persisted zorderCols that saveCompacted
    // cannot re-apply would poison every later rewrite until dropIndex
    cat.addColumn("t", "c", "bigint")
    cat.addColumn("t", "d", "bigint")
    cat.zorderTable("t", Seq("a", "b", "c", "d"))
    assert(cat.getTable("t").snapshot.count() === 2000L)
    cat.foldTail("t") // the rewrite the stale metadata used to break
    assert(cat.zorderColsOf("t") === Seq("a", "b", "c", "d"))
    assert(cat.getTable("t").snapshot.count() === 2000L)
    // past 6 columns the per-dimension resolution is useless — reject
    // BEFORE the metadata persists
    intercept[IllegalArgumentException](
      cat.zorderTable("t", Seq("k", "a", "b", "c", "d", "k2", "k3")))
    assert(cat.zorderColsOf("t") === Seq("a", "b", "c", "d"),
      "a rejected layout must not clobber the persisted one")
  }

  test("path-forming names are identifier-checked on every route (ADVICE r9)") {
    val (cat, wh) = freshCatalog()
    cat.createTable("ok_name", "k", base)
    // a traversal name must be rejected BEFORE any path resolves — on
    // create, rename, clone, drop, and the view routes
    for (bad <- Seq("../evil", "a/b", "a..b/c", "", "a b", "a'b")) {
      intercept[IllegalArgumentException](cat.createTable(bad, "k", base))
      intercept[IllegalArgumentException](cat.renameTable("ok_name", bad))
      intercept[IllegalArgumentException](cat.dropTable(bad))
      intercept[IllegalArgumentException](cat.createView(bad, "SELECT 1"))
      intercept[IllegalArgumentException](cat.dropView(bad))
    }
    // nothing escaped the warehouse root
    val parent = new java.io.File(wh).getParentFile
    assert(!new java.io.File(parent, "evil").exists())
  }

  test("legacy scalar mv_sum metas read back as mvSums (ADVICE r9)") {
    val (cat, wh) = freshCatalog()
    import spark.implicits._
    cat.createTable("f", "k",
      Seq((1L, "a", 5.0), (2L, "a", 7.0), (3L, "b", 1.0)).toDF("k", "g", "m"))
    cat.createMaterializedView("mv_leg", "f", Seq("g"), Seq("m"))
    // rewrite the persisted meta to the pre-r9 single-measure format
    val metaFile = new java.io.File(s"$wh/mv_leg/_graft.json")
    val json = new String(java.nio.file.Files.readAllBytes(metaFile.toPath))
    assert(json.contains("\"mv_sums\": [\"m\"]"), json)
    val legacy = json.replace("\"mv_sums\": [\"m\"]", "\"mv_sum\": \"m\"")
    java.nio.file.Files.write(metaFile.toPath, legacy.getBytes)
    // the rewrite bypassed Hadoop's ChecksumFileSystem — drop the sidecar
    new java.io.File(s"$wh/mv_leg/._graft.json.crc").delete()
    // a reopened catalog must still know the measure: the refresh path
    // would otherwise silently rewrite the view WITHOUT its cents column
    val re = new Catalog(spark, wh)
    val ok = re.tryCommit("f",
      Txn.empty.update(col("k") === 1L, Map("m" -> lit(6.0))),
      re.getTable("f").opSeq)
    assert(ok.isRight, ok.toString)
    re.refreshMaterializedView("mv_leg")
    val got = re.getTable("mv_leg").snapshot
      .select(col("g"), col("n_rows"), (col("cents") / 100.0).as("s"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === Set(("a", 2L, 13.0), ("b", 1L, 1.0)))
  }

  test("a delta is written at the table's declared types: an int frame " +
    "into a bigint column leaves a readable tail") {
    // an API insert whose frame carries int for a bigint column, then a
    // bigint insert: the first-listed tail footer once said int, and
    // every later getTable failed on the other file
    import spark.implicits._
    val (cat, wh) = freshCatalog(autoCompact = false)
    cat.createTable("t", "k", Seq((1L, 10L)).toDF("k", "v"))
    cat.commit("t", Txn.empty.insert(Seq((2L, 20)).toDF("k", "v")))
    cat.commit("t", Txn.empty.insert(Seq((3L, 30L)).toDF("k", "v")))
    val tail = new java.io.File(s"$wh/t/tail").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(tail.length >= 2)
    tail.foreach(f => assert(spark.read.parquet(f.getPath).schema("v")
      .dataType.simpleString === "bigint", s"${f.getName} is not v bigint"))
    val fresh = new Catalog(spark, wh, autoCompact = false)
    assert(fresh.getTable("t").snapshot.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }

  test("a value that does not fit the declared type aborts the commit " +
    "before its record") {
    import spark.implicits._
    val (cat, wh) = freshCatalog(autoCompact = false)
    cat.createTable("t", "k", Seq((1L, 10)).toDF("k", "v"))
    def txnDir = Option(new java.io.File(s"$wh/_txn").list()).toSeq.flatten.toSet
    def state(c: Catalog) = {
      val t = c.getTable("t")
      (t.snapshot.collect().map(_.toSeq).toSet, t.opSeq)
    }
    val (before, txnBefore) = (state(cat), txnDir)
    intercept[Exception](cat.commit("t",
      Txn.empty.insert(Seq((2L, 3000000000L)).toDF("k", "v"))))
    assert(txnDir === txnBefore, "the stage left something under _txn/")
    assert(state(cat) === before)
    assert(state(new Catalog(spark, wh, autoCompact = false)) === before)
  }

  test("getTable on an evolved table with a tail starts no Spark job") {
    // the tail reads under the declared schema; a footer-merging read
    // started one job per getTable
    import spark.implicits._
    val (cat, _) = freshCatalog(autoCompact = false)
    cat.createTable("t", "k", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))))
    cat.addColumn("t", "n", "bigint")
    cat.commit("t", Txn.empty.update(col("k") === 2L, Map("n" -> lit(7L))))
    val (t, jobs) = jobsOf(cat.getTable("t"))
    assert(jobs === 0, s"getTable ran $jobs jobs")
    assert(t.snapshot.collect().map(_.toSeq).toSet ===
      Set(Seq(1L, 11L, null), Seq(2L, 20L, 7L)))
  }
}
