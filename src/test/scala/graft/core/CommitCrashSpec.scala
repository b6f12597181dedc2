package graft.core

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.sql.GraftSql

/**
 * Every single-table commit kind and every physical rewrite is one
 * staged record: a crash at any point of its path reopens to exactly the
 * state before it or exactly the state after it — rows, commit log, a
 * view's recorded source version, a stream batch's replay id, retained
 * snapshots and the table's layout fields included. A completeness check
 * fails the spec when a kind passes a point the sweep never crashes at.
 */
class CommitCrashSpec extends SparkSpec {
  import spark.implicits._

  /** A warehouse with `t` (projection on `v`) and a view `mv` over it,
    * built once and copied per run. */
  private lazy val template: File = {
    val wh = Files.createTempDirectory("graft_ccrash_tpl_").toFile
    val cat = new Catalog(spark, wh.toString, autoCompact = false)
    cat.createTable("t", "k",
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "a")).toDF("k", "v", "g"))
    cat.createProjection("t", "v")
    cat.createMaterializedView("mv", "t", "g", "v")
    wh
  }

  private def copyOf(src: File): String = {
    val wh = Files.createTempDirectory("graft_ccrash_").toFile
    FileUtils.copyDirectory(src, wh)
    wh.toString
  }

  private def copyOfTemplate(): String = copyOf(template)

  private def open(wh: String) = new Catalog(spark, wh, autoCompact = false)

  private def rows(cat: Catalog, table: String) =
    cat.getTable(table).snapshot.collect().map(_.toSeq).toSet

  private def tState(cat: Catalog) =
    (rows(cat, "t"), cat.getTable("t").opSeq,
      cat.history("t").collect().map(_.toSeq).toSet,
      Try(cat.asOfTimestamp("t", 1000L).collect().map(_.toSeq).toSet).toOption,
      cat.probeProjected("t", "v", col("v") >= 100L).collect().map(_.toSeq).toSet)

  private def bump = Txn.empty.update(col("k") === 1L, Map("v" -> (col("v") + lit(100L))))

  /** `table`'s meta as written: every layout field a rewrite sets. */
  private def metaOf(cat: Catalog, table: String): Meta =
    TableMeta.decodeMeta(new String(Files.readAllBytes(
      new File(new File(new java.net.URI(cat.rootUri)), s"$table/_graft.json")
        .toPath), java.nio.charset.StandardCharsets.UTF_8))

  /** What a rewrite may change: [[tState]]'s rows, op_seq, history and
    * projection probe, timestamp reads inside and after the logged
    * history (an error as its message), the previous version of every
    * key, and the meta. */
  private def rwState(cat: Catalog) = {
    val t = cat.getTable("t")
    (rows(cat, "t"), t.opSeq, cat.history("t").collect().map(_.toSeq).toSet,
      Seq(1500L, 2500L).map(ts => Try(cat.asOfTimestamp("t", ts)
        .collect().map(_.toSeq).toSet).toEither.left.map(_.getMessage)),
      t.asOfRelative(-1).collect().map(_.toSeq).toSet,
      cat.probeProjected("t", "v", col("v") >= 100L).collect().map(_.toSeq).toSet,
      metaOf(cat, "t"))
  }

  /** Logged history for a rewrite to act on: a commit at 1000 that a fold
    * retires into a snapshot (when retention is on), then a commit at
    * 2000 in the live tail. */
  private def logged(cat: Catalog): Unit = {
    cat.commitAt("t", bump, 1000L)
    cat.foldTail("t")
    cat.commitAt("t", Txn.empty.update(col("k") === 2L, Map("v" -> lit(25L))), 2000L)
  }

  private def withRetention(n: Int)(wh: String) =
    new Catalog(spark, wh, autoCompact = false, snapshotRetention = n)

  /** One commit kind: its table, an optional setup, the commit itself,
    * what a fresh catalog observes of its outcome, the catalog it runs in,
    * and the crash points its path passes. A kind that lands two records
    * (a commit, then the fold it triggers) gives `mid`, the first alone.
    * `landed` checks the warehouse once every record has landed. */
  private case class Kind(name: String, table: String, run: Catalog => Unit,
                          observe: Catalog => Any,
                          prep: Catalog => Unit = _ => (),
                          mk: String => Catalog = open,
                          points: Seq[String] = commitPoints("t"),
                          mid: Option[Catalog => Unit] = None,
                          landed: String => Unit = _ => ())

  private def rewrite(name: String, run: Catalog => Unit,
                      mk: String => Catalog = open,
                      landed: String => Unit = _ => ()) =
    Kind(name, "t", run, rwState, logged, mk, rewritePoints("t"), None, landed)

  private val kinds = Seq(
    Kind("commit", "t", _.commit("t", bump), tState),
    Kind("commitAt", "t", _.commitAt("t", bump, 1000L), tState),
    Kind("commitStreamBatch", "t",
      _.commitStreamBatch("t", bump, "w", 0L), tState),
    Kind("tryCommit", "t",
      c => c.tryCommit("t", bump, c.getTable("t").opSeq)
        .fold(e => throw e, _ => ()), tState),
    Kind("refreshMaterializedView", "mv", _.refreshMaterializedView("mv"),
      c => (rows(c, "mv"), c.getTable("mv").opSeq,
        c.currentViewOf("t", "g").isDefined),
      prep = _.commit("t", Txn.empty.update(col("k") === 2L,
        Map("g" -> lit("a")))), points = commitPoints("mv")),
    Kind("sql UPDATE", "t",
      c => new GraftSql(spark).register("t", c, "t")
        .sql("UPDATE t SET v = v + 100 WHERE k = 1"), tState),
    rewrite("foldTail with retention", _.foldTail("t")),
    rewrite("foldTail without retention", _.foldTail("t"), withRetention(0)),
    rewrite("vacuum(keep = 2)", _.vacuum("t", 2)),
    // with no snapshot to drop, only the record's horizon makes a
    // pre-bound timestamp fail loud
    rewrite("vacuumOlderThan", _.vacuumOlderThan("t", 2500L), withRetention(0),
      landed = wh => assert(intercept[IllegalArgumentException](
        open(wh).asOfTimestamp("t", 1500L)).getMessage
        .contains("retention horizon"))),
    rewrite("purge", _.purge("t", col("k") === 2L),
      landed = wh => assert(!holdsKey(new File(wh, "t"), 2L),
        "a parquet file under the table still holds the purged key")),
    rewrite("saveCompacted", c => c.saveCompacted("t", c.getTable("t"))),
    rewrite("createIndex", _.createIndex("t", "v")),
    rewrite("zorderTable", _.zorderTable("t", Seq("k", "v"))),
    Kind("auto-compacting commit", "t", _.commit("t", bump), rwState, logged,
      wh => new Catalog(spark, wh, compactRatio = 0.01),
      commitPoints("t") ++ rewritePoints("t"), mid = Some(_.commit("t", bump))))

  private def commitPoints(table: String) = Seq("multi-staged",
    "multi-committed", s"multi-meta-$table", s"multi-proj-$table",
    s"multi-done-$table")

  private def rewritePoints(table: String) =
    Seq("rewrite-staged", "rewrite-committed") ++
      Seq("meta", "base", "tail", "adopted", "snaps", "proj", "done")
        .map(p => s"rewrite-$p-$table")

  /** True when a parquet file under `dir` — base, tail, snapshots and
    * projections — holds a row with key `k`. */
  private def holdsKey(dir: File, k: Long): Boolean =
    FileUtils.listFiles(dir, Array("parquet"), true).asScala.exists(f =>
      !spark.read.parquet(f.toString).where(col("k") === k).isEmpty)

  /** A failpoint set that crashes nowhere and records every point the
    * path asks about. */
  private class Passed extends scala.collection.immutable.AbstractSet[String] {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    def contains(p: String): Boolean = { seen += p; false }
    def incl(p: String): Set[String] = this
    def excl(p: String): Set[String] = this
    def iterator: Iterator[String] = Iterator.empty
  }

  private def crashedAt(e: Throwable, p: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(x => x.getMessage != null &&
        x.getMessage.contains(s"simulated crash at $p"))

  for (k <- kinds) test(s"${k.name}: a crash at every point reopens to before or after") {
    // the setup runs once; every run starts from a copy of its outcome
    val prepared = copyOfTemplate()
    k.prep(k.mk(prepared))
    // the reference outcomes, and the points the uncrashed path passes
    val wh0 = copyOf(new File(prepared))
    val cat0 = k.mk(wh0)
    val before = k.observe(open(wh0))
    val mid = k.mid.map { first =>
      val wh = copyOf(new File(prepared))
      first(open(wh))
      k.observe(open(wh))
    }
    val passed = new Passed
    cat0.crashPoints = passed
    k.run(cat0)
    val after = k.observe(open(wh0))
    k.landed(wh0)
    assert(before !== after, "the commit must change what is observed")
    assert(passed.seen.toSeq === k.points,
      "the path passes points the sweep does not crash at, or misses one")
    // a crash lands every record whose commit point it follows
    val states = before +: mid.toSeq :+ after

    for ((p, i) <- k.points.zipWithIndex) {
      val wh = copyOf(new File(prepared))
      val cat = k.mk(wh)
      cat.crashPoints = Set(p)
      val e = intercept[Throwable](k.run(cat))
      assert(crashedAt(e, p), s"expected a simulated crash at $p, got $e")
      val landed = k.points.take(i + 1).count(_.endsWith("-committed"))
      assert(k.observe(open(wh)) === states(landed), s"torn state after a crash at $p")
      assert(pendingRecords(wh).isEmpty, s"a record outlived recovery after $p")
      if (landed == states.size - 1) k.landed(wh)
      if (k.name == "commitStreamBatch") {
        // the replayed batch applies exactly once: a no-op past the
        // commit point, the whole batch before it
        val replay = open(wh)
        replay.commitStreamBatch("t", bump, "w", 0L)
        assert(k.observe(open(wh)) === after, s"replay after a crash at $p")
      }
    }
  }

  test("a task failing inside the staged delta write leaves the state before") {
    val wh = copyOfTemplate()
    val cat = open(wh)
    val before = tState(open(wh))
    val failing = spark.range(0L, 200L, 1L, 4).select(col("id").as("k"),
      org.apache.spark.sql.functions.when(col("id") === 150L,
        org.apache.spark.sql.functions.raise_error(lit("task failure")))
        .otherwise(col("id")).as("v"), lit("z").as("g"))
    intercept[Exception](cat.commit("t", Txn.empty.insert(failing)))
    assert(tState(open(wh)) === before)
    cat.commit("t", bump)
    assert(rows(open(wh), "t").contains(Seq(1L, 110L, "a")))
  }

  test("a writer id that is not an identifier aborts before anything is written") {
    val wh = copyOfTemplate()
    val cat = open(wh)
    table(cat, "u")
    val before = (rows(cat, "t"), cat.getTable("t").opSeq)
    val e = intercept[IllegalArgumentException](
      cat.commitStreamBatch("t", bump, "orders-stream", 1L))
    assert(e.getMessage.contains("'orders-stream'"))
    assert(Option(new File(wh, "_txn").list()).toSeq.flatten.isEmpty,
      "no record and no staging")
    // the warehouse still opens and commits: nothing is left to recover
    val fresh = open(wh)
    assert((rows(fresh, "t"), fresh.getTable("t").opSeq) === before)
    fresh.commit("u", Txn.empty.insert(Seq((1000L, 1L)).toDF("k", "v")))
    assert(open(wh).getTable("u").opSeq === 1L)
  }

  // ------------------------------------------ concurrent recovery

  private def table(cat: Catalog, name: String): Unit =
    cat.createTable(name, "k", (0L until 100L).map(k => (k, k)).toDF("k", "v"))

  private def pendingRecords(wh: String): Seq[String] =
    Option(new File(wh, "_txn").listFiles()).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".json"))

  test("runBatches over 4 tables × 8 commits: every commit lands once") {
    val wh = Files.createTempDirectory("graft_ccrash_batches_").toString
    val cat = new Catalog(spark, wh)
    val names = (0 until 4).map(i => s"t$i")
    names.foreach(table(cat, _))
    val batches = names.map(n => n -> (1 to 8).map(j =>
      Txn.empty.insert(Seq((1000L + j, j.toLong)).toDF("k", "v")))).toMap
    val results = Txn.runBatches(cat, batches)
    assert(results.values.flatten.forall(identity), s"a commit failed: $results")
    val check = new Catalog(spark, wh)
    names.foreach { n =>
      assert(check.getTable(n).opSeq === 8L, s"$n op_seq")
      assert(check.getTable(n).snapshot.count() === 108L, s"$n rows")
    }
    assert(pendingRecords(wh).isEmpty)
  }

  test("two Catalogs committing to disjoint tables of one warehouse") {
    val wh = Files.createTempDirectory("graft_ccrash_two_").toString
    val setup = new Catalog(spark, wh)
    Seq("a", "b").foreach(table(setup, _))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq("a", "b").map { n =>
      new Thread(() => {
        val cat = new Catalog(spark, wh)
        for (j <- 1 to 8)
          try cat.commit(n, Txn.empty.insert(Seq((1000L + j, j.toLong)).toDF("k", "v")))
          catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"a commit failed: ${errors.toArray.mkString("; ")}")
    val check = new Catalog(spark, wh)
    Seq("a", "b").foreach { n =>
      assert(check.getTable(n).opSeq === 8L, s"$n op_seq")
      assert(check.getTable(n).snapshot.count() === 108L, s"$n rows")
    }
    assert(pendingRecords(wh).isEmpty)
  }
}
