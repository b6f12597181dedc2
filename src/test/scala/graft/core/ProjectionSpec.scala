package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * Multi-column secondary-index projections (reference: one independent
 * hash index PER column, lstore/index.py:24-31) — slim sorted
 * `(column, key)` side tables maintained on commit, coexisting in any
 * number, serving candidate keys to the probe.
 */
class ProjectionSpec extends SparkSpec {

  private def freshCatalog(autoCompact: Boolean = false): (Catalog, String) = {
    val wh = Files.createTempDirectory("graft_proj_").toString
    (new Catalog(spark, wh, autoCompact = autoCompact), wh)
  }

  private def rows(n: Int) = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, (i % 50).toLong, (i % 7).toLong * 100))
      .toDF("k", "cat", "price")
  }

  test("two projections coexist; both probes equal plain snapshot filters") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", rows(1000))
    cat.createProjection("t", "cat")
    cat.createProjection("t", "price")
    assert(cat.projectionsOf("t") === Seq("cat", "price"))
    // writes AFTER projection creation: updates move keys into and out of
    // the probed predicates, deletes tombstone some matches
    cat.commit("t", Txn.empty
      .update(col("k") % 10 === 0, Map("cat" -> lit(99L)))
      .delete(col("k") % 17 === 0))
    val t = cat.getTable("t")
    def expectEq(column: String, pred: org.apache.spark.sql.Column): Unit = {
      val got = cat.probeProjected("t", column, pred)
        .collect().map(_.toSeq).toSet
      val want = t.snapshot.where(pred).collect().map(_.toSeq).toSet
      assert(got === want, s"projection probe on $column diverged")
    }
    expectEq("cat", col("cat") === 99L)   // post-update values found
    expectEq("cat", col("cat") === 7L)    // moved-away keys filtered out
    expectEq("price", col("price").between(200L, 300L))
    // fallback: probing an un-projected column is the plain probe
    expectEq("k", col("k") === 42L)
    // fallback: a COMPOUND predicate cannot resolve against the slim
    // projection — must transparently take the full probe, same answer
    expectEq("cat", col("cat") === 99L && col("price") > 0L)
  }

  test("building a projection probe starts no Spark job") {
    // the side table reads under the lineage's declared types; a
    // schema-less read started one inference job per probe
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", rows(200))
    cat.createProjection("t", "cat")
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("cat" -> lit(7L))))
    cat.probeProjected("t", "cat", col("cat") === 7L) // warm up
    val (probed, jobs) = jobsOf(cat.probeProjected("t", "cat", col("cat") === 7L))
    assert(jobs === 0, s"building the probe ran $jobs jobs")
    assert(probed.count() === 5L)
  }

  test("a projection on a renamed or re-added column serves through " +
      "commits, a fold and a reopen") {
    import spark.implicits._
    // rename v -> v2 (physical v), and drop-then-re-add w (physical w_r1):
    // in both the logical column is not the name its files carry
    val cases = Seq[(String, Catalog => Unit, String)](
      ("v2", _.renameColumn("t", "v", "v2"), "\"v2\""),
      ("w", { c => c.dropColumn("t", "w"); c.addColumn("t", "w", "bigint") },
        "\"w_r1\""))
    for ((column, evolve, phys) <- cases) {
      val (cat, wh) = freshCatalog()
      cat.createTable("t", "k",
        Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L))
          .toDF("k", "v", "w"))
      evolve(cat)
      assert(new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$wh/t/_graft.json"))).contains(phys))
      cat.createProjection("t", column)
      val pred = col(column) >= 30L
      def check(c: Catalog, step: String): Unit = {
        val got = c.probeProjected("t", column, pred)
          .collect().map(_.toSeq).toSet
        val want = c.getTable("t").snapshot.where(pred)
          .collect().map(_.toSeq).toSet
        assert(got === want, s"$column: probe diverged $step")
        val txn = new java.io.File(s"$wh/_txn")
        assert(Option(txn.list()).forall(_.isEmpty),
          s"$column: _txn holds ${Option(txn.list()).map(_.toSeq)} $step")
      }
      check(cat, "after createProjection")
      val cols = cat.getTable("t").dataCols
      cat.commit("t", Txn.empty.insert(Seq((4L, 40L, 400L)).toDF(cols: _*)))
      check(cat, "after the insert")
      cat.commit("t", Txn.empty.update(col("k") === 1L,
        Map(column -> lit(500L))))
      check(cat, "after the update")
      cat.foldTail("t")
      check(cat, "after foldTail")
      check(new Catalog(spark, wh, autoCompact = false), "after a reopen")
    }
  }

  test("projection maintenance is O(delta): a commit appends delta rows only") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", rows(1000))
    cat.createProjection("t", "cat")
    val projPath = s"$wh/t/proj/cat"
    val before = spark.read.parquet(projPath).count()
    assert(before === 1000L) // built from the full lineage once
    // a 10-key commit must append exactly its 10 delta rows — never
    // rewrite or rescan the projection (the reference updates its
    // per-column index entries in place on update, index.py; the
    // distributed analog is a bounded append)
    cat.commit("t", Txn.empty
      .update(col("k").between(1L, 10L), Map("price" -> lit(777L))))
    assert(spark.read.parquet(projPath).count() === before + 10)
  }

  test("compaction rebuilds projections slim; probes stay correct") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", rows(1000))
    cat.createProjection("t", "cat")
    cat.commit("t", Txn.empty
      .update(col("k") % 4 === 0, Map("cat" -> lit(77L)))
      .delete(col("k") % 25 === 0))
    // fold keeps history, so the projection keeps superset entries;
    // saveCompacted collapses to the live snapshot — rebuild must shrink
    // the projection to exactly the live rows
    cat.saveCompacted("t", cat.getTable("t"))
    val proj = spark.read.parquet(s"$wh/t/proj/cat")
    val live = cat.getTable("t").snapshot.count()
    assert(proj.count() === live, "projection not rebuilt slim on compaction")
    val got = cat.probeProjected("t", "cat", col("cat") === 77L)
      .collect().map(_.toSeq).toSet
    val want = cat.getTable("t").snapshot.where(col("cat") === 77L)
      .collect().map(_.toSeq).toSet
    assert(got === want)
  }

  test("purge scrubs projection files (erasure reaches the side tables)") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", rows(1000))
    cat.createProjection("t", "cat")
    // erase every key that ever carried cat = 13 — the projection holds
    // those values too, so purge must not leave them in the side table
    cat.purge("t", col("cat") === 13L)
    val proj = spark.read.parquet(s"$wh/t/proj/cat")
    assert(proj.where(col("cat") === 13L).isEmpty,
      "purged values survived in the projection side table")
    assert(cat.probeProjected("t", "cat", col("cat") === 13L).isEmpty)
    // neighbors untouched
    assert(cat.probeProjected("t", "cat", col("cat") === 14L).count() === 20)
  }

  test("dropProjection removes one; the other keeps serving") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", rows(200))
    cat.createProjection("t", "cat")
    cat.createProjection("t", "price")
    cat.dropProjection("t", "cat")
    assert(cat.projectionsOf("t") === Seq("price"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$wh/t/proj/cat")))
    // dropped column falls back to the full probe; kept one still serves
    assert(cat.probeProjected("t", "cat", col("cat") === 7L).count() === 4)
    assert(cat.probeProjected("t", "price", col("price") === 100L).count() ===
      cat.getTable("t").snapshot.where(col("price") === 100L).count())
  }

  test("projections survive a catalog reopen (metadata round-trip)") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", rows(100))
    cat.createProjection("t", "cat")
    val reopened = new Catalog(spark, wh, autoCompact = false)
    assert(reopened.projectionsOf("t") === Seq("cat"))
    assert(reopened.probeProjected("t", "cat", col("cat") === 3L).count() === 2)
  }
}
