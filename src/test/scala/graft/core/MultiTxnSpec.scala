package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/**
 * Cross-table atomic transactions ([[Catalog.commitMulti]]): both-or-
 * neither across every crash window of the staged-commit protocol
 * (reference: transaction.py holds queries bound to arbitrary tables —
 * its 2PL abort is per-transaction, so a crash never leaves half).
 */
class MultiTxnSpec extends SparkSpec {
  import spark.implicits._

  private def freshCat(): (Catalog, String) = {
    val wh = Files.createTempDirectory("graft_mtx_").toString
    val cat = new Catalog(spark, wh)
    cat.createTable("ta", "k", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    cat.createTable("tb", "k", Seq((1L, "x"), (2L, "y")).toDF("k", "s"))
    (cat, wh)
  }

  private def txns = Map(
    "ta" -> Txn.empty.update(col("k") === 1L,
        Map("v" -> (col("v") + org.apache.spark.sql.functions.lit(100L))))
      .insert(Seq((3L, 30L)).toDF("k", "v")),
    "tb" -> Txn.empty.delete(col("k") === 2L)
      .insert(Seq((9L, "z")).toDF("k", "s")))

  private def stateA(cat: Catalog) = cat.getTable("ta").snapshot
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private def stateB(cat: Catalog) = cat.getTable("tb").snapshot
    .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  private val beforeA = Set((1L, 10L), (2L, 20L))
  private val beforeB = Set((1L, "x"), (2L, "y"))
  private val afterA = Set((1L, 110L), (2L, 20L), (3L, 30L))
  private val afterB = Set((1L, "x"), (9L, "z"))

  test("commitMulti applies all tables' ops as one transaction") {
    val (cat, wh) = freshCat()
    cat.commitMulti(txns)
    assert(stateA(cat) === afterA)
    assert(stateB(cat) === afterB)
    // durable: a fresh catalog over the same warehouse agrees
    val cat2 = new Catalog(spark, wh)
    assert(stateA(cat2) === afterA)
    assert(stateB(cat2) === afterB)
  }

  test("crash BEFORE the commit point: neither table changes (rollback)") {
    val (cat, wh) = freshCat()
    cat.crashPoints = Set("multi-staged")
    intercept[IllegalStateException] { cat.commitMulti(txns) }
    cat.crashPoints = Set.empty
    // nothing visible — staging never reached either tail
    assert(stateA(cat) === beforeA)
    assert(stateB(cat) === beforeB)
    // reopen recovers (stale-staging GC is lease-gated, so the staged
    // files may linger; visibility is what the contract guarantees)
    val cat2 = new Catalog(spark, wh)
    assert(stateA(cat2) === beforeA)
    assert(stateB(cat2) === beforeB)
    // and the next multi commit goes through cleanly
    cat2.commitMulti(txns)
    assert(stateA(cat2) === afterA)
    assert(stateB(cat2) === afterB)
  }

  test("crash AFTER the commit point: reopen rolls BOTH tables forward") {
    for (point <- Seq("multi-committed", "multi-meta-ta", "multi-proj-ta",
                      "multi-done-ta", "multi-meta-tb", "multi-done-tb")) {
      val (cat, wh) = freshCat()
      cat.crashPoints = Set(point)
      intercept[IllegalStateException] { cat.commitMulti(txns) }
      // the crash landed between per-table applications — a NEW catalog
      // (fresh process) must complete the roll-forward on open
      val cat2 = new Catalog(spark, wh)
      assert(stateA(cat2) === afterA, s"ta incomplete after crash at $point")
      assert(stateB(cat2) === afterB, s"tb incomplete after crash at $point")
      // recovery consumed the transaction record — nothing re-applies
      val cat3 = new Catalog(spark, wh)
      assert(stateA(cat3) === afterA)
      assert(stateB(cat3) === afterB)
    }
  }

  test("a failing op aborts the whole transaction with nothing written") {
    val (cat, _) = freshCat()
    val bad = Map(
      "ta" -> Txn.empty.insert(Seq((4L, 40L)).toDF("k", "v")),
      // wrong schema: this table has (k, s) — the op must throw
      "tb" -> Txn.empty.insert(Seq((5L, 50L)).toDF("k", "v")))
    intercept[Exception] { cat.commitMulti(bad) }
    assert(stateA(cat) === beforeA, "sibling table was mutated by an aborted txn")
    assert(stateB(cat) === beforeB)
  }

  test("recovery skips a LIVE writer's record instead of failing the open") {
    val (cat, wh) = freshCat()
    cat.crashPoints = Set("multi-committed")
    intercept[IllegalStateException] { cat.commitMulti(txns) }
    // simulate the writer still being ALIVE mid-roll-forward: it holds
    // the per-table commit markers for the whole commitMulti call
    val marker = new java.io.File(s"$wh/ta/_commit.lock")
    java.nio.file.Files.write(marker.toPath, "live-writer".getBytes)
    // a concurrent catalog OPEN must neither throw (spurious failure)
    // nor roll the record forward out from under the live writer
    val reader = new Catalog(spark, wh)
    assert(stateA(reader) === beforeA, "recovery applied a live writer's txn")
    assert(stateB(reader) === beforeB)
    // writer dies (marker gone) → the next open completes the txn
    assert(marker.delete())
    val recovered = new Catalog(spark, wh)
    assert(stateA(recovered) === afterA)
    assert(stateB(recovered) === afterB)
  }

  test("rollback GC never deletes staging whose owner holds a marker") {
    val (cat, wh) = freshCat()
    cat.crashPoints = Set("multi-staged") // die BEFORE the commit point
    intercept[IllegalStateException] { cat.commitMulti(txns) }
    val staging = new java.io.File(s"$wh/_txn").listFiles()
      .filter(_.isDirectory)
    assert(staging.length === 1, "expected one orphaned staging dir")
    // age the staging past the lease, but keep a table marker present —
    // the shape of a >15-minute 100 TB delta write still in flight
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 20 * 60 * 1000)
    java.nio.file.Files.setLastModifiedTime(staging.head.toPath, old)
    val marker = new java.io.File(s"$wh/ta/_commit.lock")
    java.nio.file.Files.write(marker.toPath, "slow-writer".getBytes)
    new Catalog(spark, wh) // runs recovery
    assert(staging.head.exists(),
      "recovery GC'd a live writer's staging — its commit would apply EMPTY")
    // owner gone → the stale orphan is reclaimed
    assert(marker.delete())
    new Catalog(spark, wh)
    assert(!staging.head.exists(), "dead orphan staging should be GC'd")
  }

  test("randomized: interleaved single/multi commits with crashes ≡ sequential replay") {
    // model check (fixed seed): a random interleaving of single-table
    // commits, multi-table commits, and CRASHED multi commits (random
    // failpoint + reopen-recovery) must leave exactly the state of the
    // sequential replay of the operations that committed — a crashed
    // transaction counts iff its failpoint was past the commit point.
    val rnd = new scala.util.Random(42)
    val wh = Files.createTempDirectory("graft_mtx_rand_").toString
    var cat = new Catalog(spark, wh)
    cat.createTable("ta", "k", Seq((0L, 0L)).toDF("k", "v"))
    cat.createTable("tb", "k", Seq((0L, "z")).toDF("k", "s"))
    var modelA = Map(0L -> 0L)
    var modelB = Map(0L -> "z")
    val failpoints = Seq("multi-staged", "multi-committed",
      "multi-meta-ta", "multi-meta-tb", "multi-done-ta", "multi-done-tb")
    for (step <- 1 to 10) {
      rnd.nextInt(3) match {
        case 0 => // single-table commit on one table
          val k = 100L + step
          cat.commit("ta", Txn.empty.insert(Seq((k, k * 2)).toDF("k", "v")))
          modelA += k -> (k * 2)
        case 1 => // clean multi commit: insert into both + update ta
          val k = 200L + step
          cat.commitMulti(Map(
            "ta" -> Txn.empty.insert(Seq((k, k)).toDF("k", "v")),
            "tb" -> Txn.empty.insert(Seq((k, s"s$step")).toDF("k", "s"))))
          modelA += k -> k
          modelB += k -> s"s$step"
        case 2 => // CRASHED multi commit at a random failpoint + reopen
          val k = 300L + step
          val fp = failpoints(rnd.nextInt(failpoints.length))
          cat.crashPoints = Set(fp)
          intercept[IllegalStateException] { cat.commitMulti(Map(
            "ta" -> Txn.empty.insert(Seq((k, k)).toDF("k", "v")),
            "tb" -> Txn.empty.insert(Seq((k, s"c$step")).toDF("k", "s")))) }
          cat = new Catalog(spark, wh) // recovery decides the outcome
          if (fp != "multi-staged") { // past the commit point → applied
            modelA += k -> k
            modelB += k -> s"c$step"
          }
      }
      assert(stateA(cat) === modelA.toSet.map((t: (Long, Long)) => t),
        s"ta diverged from the model at step $step")
      assert(stateB(cat) === modelB.toSet.map((t: (Long, String)) => t),
        s"tb diverged from the model at step $step")
    }
  }

  test("single-table commitMulti is the staged (no-loss-window) commit") {
    val (cat, _) = freshCat()
    cat.commitMulti(Map("ta" ->
      Txn.empty.update(col("k") === 2L, Map("v" -> col("v") * 2L))))
    assert(stateA(cat) === Set((1L, 10L), (2L, 40L)))
  }

  // --------------------------------------- cross-CATALOG (r12, 2PC)

  private def freshPair(): (Catalog, Catalog, String, String) = {
    val whA = Files.createTempDirectory("graft_gx_a_").toString
    val whB = Files.createTempDirectory("graft_gx_b_").toString
    val ca = new Catalog(spark, whA)
    val cb = new Catalog(spark, whB)
    ca.createTable("ta", "k", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    cb.createTable("tb", "k", Seq((1L, "x"), (2L, "y")).toDF("k", "s"))
    (ca, cb, whA, whB)
  }

  private def acrossParts(ca: Catalog, cb: Catalog) = Seq(
    ca -> Map("ta" -> Txn.empty.update(col("k") === 1L,
        Map("v" -> (col("v") + org.apache.spark.sql.functions.lit(100L))))
      .insert(Seq((3L, 30L)).toDF("k", "v"))),
    cb -> Map("tb" -> Txn.empty.delete(col("k") === 2L)
      .insert(Seq((9L, "z")).toDF("k", "s"))))

  test("commitAcross lands both catalogs' ops; fresh handles agree") {
    val (ca, cb, whA, whB) = freshPair()
    Catalog.commitAcross(acrossParts(ca, cb))
    assert(stateA(ca) === afterA)
    assert(stateB(cb) === afterB)
    assert(stateA(new Catalog(spark, whA)) === afterA)
    assert(stateB(new Catalog(spark, whB)) === afterB)
  }

  test("commitAcross: one catalog's failing op leaves BOTH untouched") {
    val (ca, cb, _, _) = freshPair()
    val bad = Seq(
      ca -> Map("ta" -> Txn.empty.insert(Seq((4L, 40L)).toDF("k", "v"))),
      // wrong schema for tb — staging must abort the WHOLE transaction
      cb -> Map("tb" -> Txn.empty.insert(Seq((5L, 50L)).toDF("k", "v"))))
    intercept[Exception] { Catalog.commitAcross(bad) }
    assert(stateA(ca) === beforeA)
    assert(stateB(cb) === beforeB)
  }

  test("crash BEFORE the decision: neither catalog changes; retry works") {
    for (point <- Seq("across-staged", "across-intent")) {
      val (ca, cb, whA, whB) = freshPair()
      val coord = if (ca.rootUri < cb.rootUri) ca else cb
      coord.crashPoints = Set(point)
      intercept[IllegalStateException] {
        Catalog.commitAcross(acrossParts(ca, cb))
      }
      coord.crashPoints = Set.empty
      assert(stateA(new Catalog(spark, whA)) === beforeA,
        s"ta changed after crash at $point")
      assert(stateB(new Catalog(spark, whB)) === beforeB,
        s"tb changed after crash at $point")
      // the retry goes through (staging/part leftovers never block)
      Catalog.commitAcross(acrossParts(ca, cb))
      assert(stateA(ca) === afterA)
      assert(stateB(cb) === afterB)
    }
  }

  test("crash AFTER the decision: recovery rolls BOTH catalogs forward") {
    for (point <- Seq("across-committed", "across-rolled")) {
      val (ca, cb, whA, whB) = freshPair()
      val sorted = Seq(ca, cb).sortBy(_.rootUri)
      val crasher = if (point == "across-committed") sorted.head
                    else sorted.head // first roll-forward participant
      crasher.crashPoints = Set(point)
      intercept[IllegalStateException] {
        Catalog.commitAcross(acrossParts(ca, cb))
      }
      crasher.crashPoints = Set.empty
      // fresh processes: each participant's construction-time recovery
      // consults the coordinator's decision through its part record
      val ca2 = new Catalog(spark, whA)
      val cb2 = new Catalog(spark, whB)
      assert(stateA(ca2) === afterA, s"ta incomplete after crash at $point")
      assert(stateB(cb2) === afterB, s"tb incomplete after crash at $point")
      // idempotent: nothing re-applies, and the decision record retires
      assert(stateA(new Catalog(spark, whA)) === afterA)
      assert(stateB(new Catalog(spark, whB)) === afterB)
    }
  }

  test("crash AFTER the decision with commas in both warehouse paths: both roll forward") {
    // a decision record's participant URIs are JSON strings: a comma
    // inside one must not split it into bogus participants (the
    // coordinator would then see nothing pending, retire the decision,
    // and leave the other catalog to presume abort)
    val whA = Files.createTempDirectory("graft_gx_a,1_").toString
    val whB = Files.createTempDirectory("graft_gx_b,1_").toString
    val ca = new Catalog(spark, whA)
    val cb = new Catalog(spark, whB)
    ca.createTable("ta", "k", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    cb.createTable("tb", "k", Seq((1L, "x"), (2L, "y")).toDF("k", "s"))
    val coord = Seq(ca, cb).minBy(_.rootUri)
    coord.crashPoints = Set("across-committed")
    intercept[IllegalStateException] {
      Catalog.commitAcross(acrossParts(ca, cb))
    }
    coord.crashPoints = Set.empty
    assert(stateA(new Catalog(spark, whA)) === afterA)
    assert(stateB(new Catalog(spark, whB)) === afterB)
  }

  test("the coordinator's recovery alone completes every participant") {
    val (ca, cb, whA, whB) = freshPair()
    val sorted = Seq(ca, cb).sortBy(_.rootUri)
    sorted.head.crashPoints = Set("across-committed")
    intercept[IllegalStateException] {
      Catalog.commitAcross(acrossParts(ca, cb))
    }
    sorted.head.crashPoints = Set.empty
    // reopen ONLY the coordinator: its decision record fans recovery out
    // to the other participant's warehouse
    val coordWh = if (sorted.head eq ca) whA else whB
    val otherWh = if (sorted.head eq ca) whB else whA
    new Catalog(spark, coordWh)
    // the OTHER warehouse, opened read-only-style afterwards, is already
    // rolled forward (its part record was consumed by the fan-out)
    val other = new Catalog(spark, otherWh)
    if (sorted.head eq ca) assert(stateB(other) === afterB)
    else assert(stateA(other) === afterA)
  }

  test("duplicate warehouse entries and empty work reject loud") {
    val (ca, _, whA, _) = freshPair()
    val ca2 = new Catalog(spark, whA)
    val e = intercept[IllegalArgumentException] {
      Catalog.commitAcross(Seq(
        ca -> Map("ta" -> Txn.empty.insert(Seq((7L, 70L)).toDF("k", "v"))),
        ca2 -> Map("ta" -> Txn.empty.insert(Seq((8L, 80L)).toDF("k", "v")))))
    }
    assert(e.getMessage.contains("same warehouse"))
    intercept[IllegalArgumentException] {
      Catalog.commitAcross(Seq.empty)
    }
  }

  // ------------------ a later commit never overtakes a crashed record

  /** Crash a commitMulti on `ta` past its commit point, then commit again
    * from the SAME catalog: the crashed transaction lands first, at
    * `_ver` 1, the new commit after it, and a reopen reads one row for
    * key 1. (Auto-compaction off: a fold would re-stamp `_ver`.) */
  private def overtake(crashed: Txn, crashedOps: Long): Unit = {
    val wh = Files.createTempDirectory("graft_mtx_overtake_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("ta", "k", Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    cat.crashPoints = Set("multi-committed")
    intercept[IllegalStateException] { cat.commitMulti(Map("ta" -> crashed)) }
    cat.crashPoints = Set.empty
    cat.commit("ta", Txn.empty.update(col("k") === 1L,
      Map("v" -> org.apache.spark.sql.functions.lit(7L))))
    val reopened = new Catalog(spark, wh).getTable("ta")
    val key1 = reopened.snapshot.where(col("k") === 1L)
      .collect().map(_.getLong(1)).toSeq
    assert(key1 === Seq(7L), "one row for key 1, the later commit's")
    val stamps = reopened.lineage.where(col("k") === 1L)
      .collect().map(r => (r.getAs[Long]("_ver"), r.getAs[Long]("v")))
      .toSeq.sortBy(_._1)
    assert(stamps === Seq((0L, 10L), (1L, 110L), (crashedOps + 1, 7L)),
      "the crashed transaction lands first, the later commit after it")
    assert(reopened.opSeq === crashedOps + 1)
  }

  test("a commit after a crashed commitMulti of the same length lands after it") {
    overtake(Txn.empty.update(col("k") === 1L,
      Map("v" -> (col("v") + org.apache.spark.sql.functions.lit(100L)))), 1L)
  }

  test("a commit after a crashed commitMulti of a different length lands after it") {
    overtake(txns("ta"), 2L)
  }
}
