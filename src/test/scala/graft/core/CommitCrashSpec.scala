package graft.core

import java.io.File
import java.nio.file.Files

import scala.util.Try

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.sql.GraftSql

/**
 * Every single-table commit kind is one staged commit: a crash at any
 * point of its path reopens to exactly the state before it or exactly
 * the state after it — rows, commit log, a view's recorded source
 * version and a stream batch's replay id included. A completeness check
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

  private def copyOfTemplate(): String = {
    val wh = Files.createTempDirectory("graft_ccrash_").toFile
    FileUtils.copyDirectory(template, wh)
    wh.toString
  }

  private def open(wh: String) = new Catalog(spark, wh, autoCompact = false)

  private def rows(cat: Catalog, table: String) =
    cat.getTable(table).snapshot.collect().map(_.toSeq).toSet

  private def tState(cat: Catalog) =
    (rows(cat, "t"), cat.getTable("t").opSeq,
      cat.history("t").collect().map(_.toSeq).toSet,
      Try(cat.asOfTimestamp("t", 1000L).collect().map(_.toSeq).toSet).toOption,
      cat.probeProjected("t", "v", col("v") >= 100L).collect().map(_.toSeq).toSet)

  private def bump = Txn.empty.update(col("k") === 1L, Map("v" -> (col("v") + lit(100L))))

  /** One commit kind: its table, an optional setup commit, the commit
    * itself, and what a fresh catalog observes of its outcome. */
  private case class Kind(name: String, table: String, run: Catalog => Unit,
                          observe: Catalog => Any,
                          prep: Catalog => Unit = _ => ())

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
        Map("g" -> lit("a"))))),
    Kind("sql UPDATE", "t",
      c => new GraftSql(spark).register("t", c, "t")
        .sql("UPDATE t SET v = v + 100 WHERE k = 1"), tState))

  private def points(table: String) = Seq("multi-staged", "multi-committed",
    s"multi-meta-$table", s"multi-proj-$table", s"multi-done-$table")

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
    // the reference outcomes, and the points the uncrashed path passes
    val wh0 = copyOfTemplate()
    val cat0 = open(wh0)
    k.prep(cat0)
    val before = k.observe(open(wh0))
    val passed = new Passed
    cat0.crashPoints = passed
    k.run(cat0)
    val after = k.observe(open(wh0))
    assert(before !== after, "the commit must change what is observed")
    assert(passed.seen.toSeq === points(k.table),
      "the path passes points the sweep does not crash at, or misses one")

    for (p <- points(k.table)) {
      val wh = copyOfTemplate()
      val cat = open(wh)
      k.prep(cat)
      cat.crashPoints = Set(p)
      val e = intercept[Throwable](k.run(cat))
      assert(crashedAt(e, p), s"expected a simulated crash at $p, got $e")
      val expected = if (p == "multi-staged") before else after
      assert(k.observe(open(wh)) === expected, s"torn state after a crash at $p")
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
