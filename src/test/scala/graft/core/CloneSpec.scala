package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Zero-copy shallow clones (Catalog.cloneTable): Delta SHALLOW CLONE
  * semantics — frozen file manifest, independent divergence, detach on
  * first physical rewrite, and the documented source-rewrite caveat. */
class CloneSpec extends SparkSpec {

  private def freshCatalog(autoCompact: Boolean = false): (Catalog, String) = {
    val wh = Files.createTempDirectory("graft_clone_").toString
    (new Catalog(spark, wh, autoCompact = autoCompact), wh)
  }

  private def base = {
    import spark.implicits._
    Seq((1L, 10L, "A"), (2L, 20L, "B"), (3L, 30L, "C"), (4L, 40L, "D"))
      .toDF("k", "v", "s")
  }

  private def snap(cat: Catalog, t: String): Set[Seq[Any]] =
    cat.getTable(t).snapshot.collect().map(_.toSeq).toSet

  private def parquetCount(dir: String): Int = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) 0
    else d.listFiles.map { f =>
      if (f.isDirectory) parquetCount(f.getPath)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum
  }

  test("clone equals source at clone point and writes ZERO data files") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(99L))))
    val before = parquetCount(s"$wh/t2")
    cat.cloneTable("t", "t2")
    assert(parquetCount(s"$wh/t2") === before,
      "shallow clone must not copy any parquet file")
    assert(snap(cat, "t2") === snap(cat, "t"))
    // and history came with it: the referenced tail carries the update
    assert(cat.getTable("t2").lineage.count() ===
      cat.getTable("t").lineage.count())
  }

  test("divergence is independent in BOTH directions") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.cloneTable("t", "t2")
    cat.commit("t2", Txn.empty.update(col("k") === 2L, Map("s" -> lit("CL"))))
    cat.commit("t", Txn.empty.delete(col("k") === 3L))
    assert(snap(cat, "t2") === Set(
      Seq(1L, 10L, "A"), Seq(2L, 20L, "CL"), Seq(3L, 30L, "C"),
      Seq(4L, 40L, "D")))
    assert(snap(cat, "t") === Set(
      Seq(1L, 10L, "A"), Seq(2L, 20L, "B"), Seq(4L, 40L, "D")))
  }

  test("source appends AFTER the clone stay invisible to the clone") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.cloneTable("t", "t2")
    import spark.implicits._
    cat.commit("t", Txn.empty.insert(Seq((9L, 90L, "I")).toDF("k", "v", "s")))
    // the new file lands in src's tail dir — but the manifest is a frozen
    // LIST, so the clone keeps reading exactly the clone-time state
    assert(snap(cat, "t2") === base.collect().map(_.toSeq).toSet)
  }

  test("foldTail on the clone DETACHES it; source maintenance then safe") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(99L))))
    cat.cloneTable("t", "t2")
    val expected = snap(cat, "t2")
    cat.foldTail("t2")
    assert(!new java.io.File(s"$wh/t2/_clone.list").exists,
      "physical rewrite must delete the manifest")
    assert(parquetCount(s"$wh/t2/base") > 0, "detached clone owns its base")
    assert(snap(cat, "t2") === expected)
    // the detached clone survives ANY source rewrite
    cat.saveCompacted("t", cat.getTable("t"))
    cat.purge("t", col("k") === 1L)
    assert(snap(cat, "t2") === expected)
    // and keeps full version addressing of its own
    assert(cat.getTable("t2").asOfRelative(-1).count() > 0)
  }

  test("source PHYSICAL REWRITE breaks an un-detached clone (documented)") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(99L))))
    cat.cloneTable("t", "t2")
    cat.saveCompacted("t", cat.getTable("t")) // deletes referenced files
    // the manifest references deleted paths: the read fails LOUDLY (path
    // not found) instead of silently serving partial data — the honest
    // shape of the documented caveat. Materialize (foldTail on the
    // clone) before source maintenance to avoid it.
    val r = scala.util.Try(snap(cat, "t2"))
    assert(r.isFailure, "reading a clone after source compaction should fail loudly")
  }

  test("clone of a clone references the same frozen files") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.cloneTable("t", "t2")
    cat.commit("t2", Txn.empty.update(col("k") === 4L, Map("v" -> lit(44L))))
    cat.cloneTable("t2", "t3")
    assert(parquetCount(s"$wh/t3") === 0)
    assert(snap(cat, "t3") === snap(cat, "t2"))
    cat.commit("t3", Txn.empty.delete(col("k") === 1L))
    assert(snap(cat, "t2") !== snap(cat, "t3"))
  }

  test("clone round-trips through a catalog reopen") {
    val (cat, wh) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.commit("t", Txn.empty.update(col("k") === 2L, Map("s" -> lit("X"))))
    cat.cloneTable("t", "t2")
    cat.commit("t2", Txn.empty.delete(col("k") === 4L))
    val expected = snap(cat, "t2")
    val reopened = new Catalog(spark, wh, autoCompact = false)
    assert(reopened.getTable("t2").snapshot.collect().map(_.toSeq).toSet
      === expected)
  }

  test("clone of a fully compacted source keeps the no-window fast path") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.saveCompacted("t", cat.getTable("t"))
    val t2 = cat.cloneTable("t", "t2")
    // single-version, empty-tail: snapshot must plan WITHOUT the rank
    // window (the fast path a compacted clone inherits)
    val plan = t2.snapshot.queryExecution.optimizedPlan.toString
    assert(!plan.contains("row_number"), s"expected no-window fast path:\n$plan")
  }

  test("constraints carry to the clone") {
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k", base)
    cat.addConstraint("t", "v_pos", "v > 0")
    cat.cloneTable("t", "t2")
    assert(cat.constraints("t2") === Map("v_pos" -> "v > 0"))
    val r = scala.util.Try(cat.commit("t2",
      Txn.empty.update(col("k") === 1L, Map("v" -> lit(-5L)))))
    assert(r.isFailure)
  }

  test("clone of an evolved, widened table reads the source's snapshot") {
    // the source tail mixes files from before and after an ADD COLUMN
    // and an int -> bigint widening; the manifest reads them as one frame
    import spark.implicits._
    val (cat, _) = freshCatalog()
    cat.createTable("t", "k",
      Seq((1L, 10, "A"), (2L, 20, "B"), (3L, 30, "C")).toDF("k", "v", "s"))
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11))))
    cat.addColumn("t", "n", "bigint")
    cat.widenColumn("t", "v", "bigint")
    cat.commit("t", Txn.empty.update(col("k") === 2L,
      Map("n" -> lit(7L), "v" -> lit(3000000000L))))
    val want = Set(Seq(1L, 11L, "A", null), Seq(2L, 3000000000L, "B", 7L),
      Seq(3L, 30L, "C", null))
    assert(snap(cat, "t") === want)
    cat.cloneTable("t", "t2")
    assert(snap(cat, "t2") === want)
    assert(cat.getTable("t2").snapshot.schema("v").dataType.simpleString === "bigint")
    cat.foldTail("t2")
    assert(snap(cat, "t2") === want)
    assert(snap(cat, "t") === want)
  }
}
