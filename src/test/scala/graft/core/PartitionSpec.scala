package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Partition-column tables (r11 — PARTITIONED BY): directory layout,
  * pruned reads below the snapshot window, immutability guards,
  * layout survival through maintenance, and the partition-scoped
  * overwrite. The invariant under test everywhere: partitionSnapshot
  * ≡ snapshot.where(partCol = v), with the base scan reading ONLY the
  * partition's directory. */
class PartitionSpec extends SparkSpec {

  private def fresh(autoCompact: Boolean = false): (Catalog, String) = {
    val wh = Files.createTempDirectory("graft_part_").toString
    (new Catalog(spark, wh, autoCompact = autoCompact), wh)
  }

  private def rows = {
    import spark.implicits._
    Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L),
        (4L, "c", 40L), (5L, "b", 50L), (6L, "a", 60L))
      .toDF("k", "cat", "v")
  }

  private def m(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Long)] =
    df.collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("create lays out one directory per partition value; reads round-trip") {
    val (cat, wh) = fresh()
    cat.createTable("t", "k", rows, partitionBy = Some("cat"))
    val baseDir = new java.io.File(s"$wh/t/base")
    val dirs = baseDir.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("_pd=pa", "_pd=pb", "_pd=pc"))
    // the full snapshot is unchanged by the layout — and the partition
    // column reads back with its exact file type, not a directory guess
    assert(m(cat.getTable("t").snapshot) === m(rows))
    assert(cat.getTable("t").snapshot.schema("cat").dataType.typeName === "string")
    assert(cat.partitionColOf("t") === Some("cat"))
    assert(cat.partitionTypeOf("t") === "string")
  }

  test("partitionSnapshot equals the filtered snapshot, through tail writes") {
    val (cat, _) = fresh()
    cat.createTable("t", "k", rows, partitionBy = Some("cat"))
    // tail traffic in ALL partitions: update, delete, fresh insert
    import spark.implicits._
    cat.commit("t", Txn.empty
      .update(col("k") === 1L, Map("v" -> lit(11L)))
      .delete(col("k") === 5L)
      .insert(Seq((7L, "a", 70L)).toDF("k", "cat", "v")))
    for (v <- Seq("a", "b", "c")) {
      assert(m(cat.partitionSnapshot("t", v)) ===
        m(cat.getTable("t").snapshot.where(col("cat") === v)),
        s"partition $v diverged")
    }
    // ...and through a FOLD (the layout must survive the re-stamp)
    cat.foldTail("t")
    for (v <- Seq("a", "b", "c"))
      assert(m(cat.partitionSnapshot("t", v)) ===
        m(cat.getTable("t").snapshot.where(col("cat") === v)))
  }

  test("the pruned base scan reads ONLY the partition's directory") {
    val (cat, _) = fresh()
    cat.createTable("t", "k", rows, partitionBy = Some("cat"))
    cat.foldTail("t") // everything in the partitioned base
    val probe = cat.partitionSnapshot("t", "a")
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert("_pd#\\d+ = pa".r.findFirstIn(plan).isDefined ||
      plan.contains("_pd = pa"), s"expected a _pd partition filter:\n$plan")
    // file-level proof: the scan touched fewer files than the base holds
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    val total = cat.getTable("t").snapshot.count() // force nothing; count files:
    val allFiles = {
      val full = cat.getTable("t").snapshot
      full.collect()
      full.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    }
    assert(total === 6L)
    assert(scanned > 0 && scanned < allFiles,
      s"pruning read $scanned of $allFiles files")
  }

  test("maybeCompact counts a partitioned base through its directories") {
    // the base's files sit under `_pd=` directories: a count that did not
    // descend into them would see 0 base rows and fold on every call
    val (cat, wh) = fresh()
    cat.createTable("t", "k", rows, partitionBy = Some("cat"))
    val tail = java.nio.file.Paths.get(wh, "t", "tail")
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("v" -> lit(11L))))
    assert(!cat.maybeCompact("t", maxTailRatio = 0.5)) // tail 1 / base 6
    assert(Files.isDirectory(tail))
    Seq(2L, 3L, 4L).foreach(k => cat.commit("t",
      Txn.empty.update(col("k") === k, Map("v" -> lit(k * 10 + 1)))))
    val want = m(cat.getTable("t").snapshot)
    assert(cat.maybeCompact("t", maxTailRatio = 0.5)) // tail 4 / base 6
    assert(m(cat.getTable("t").snapshot) === want)
    assert(!Files.isDirectory(tail))
    val dirs = new java.io.File(s"$wh/t/base").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("_pd=pa", "_pd=pb", "_pd=pc"))
  }

  test("partitionSnapshotIn prunes to EXACTLY the named directory set (r13)") {
    val (cat, _) = fresh()
    cat.createTable("t", "k", rows, partitionBy = Some("cat"))
    cat.foldTail("t") // everything in the partitioned base: 1 file/dir
    // semantics: ≡ snapshot.where(cat IN (a, c)), at any subset size
    assert(m(cat.partitionSnapshotIn("t", Map("cat" -> Seq("a", "c")))) ===
      m(cat.getTable("t").snapshot.where(col("cat").isin("a", "c"))))
    // strict file count: 2 of the 3 partition directories planned
    val probe = cat.partitionSnapshotIn("t", Map("cat" -> Seq("a", "c")))
    probe.collect()
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    assert(scanned === 2L, s"IN-list pruning read $scanned files, expected 2")
    // the one-element set is the r12 equality read exactly
    assert(m(cat.partitionSnapshotIn("t", Map("cat" -> Seq("b")))) ===
      m(cat.partitionSnapshot("t", "b")))
    // empty value set refuses loud
    val e = intercept[IllegalArgumentException](
      cat.partitionSnapshotIn("t", Map("cat" -> Seq.empty)))
    assert(e.getMessage.contains("empty value set"))
  }

  test("partition values are immutable per key: update guard + insert guard") {
    val (cat, _) = fresh()
    cat.createTable("t", "k", rows, partitionBy = Some("cat"))
    // UPDATE may not assign the partition column — rejected before commit
    val e1 = intercept[IllegalArgumentException](
      cat.commit("t", Txn.empty.update(col("k") === 1L,
        Map("cat" -> lit("z")))))
    assert(e1.getMessage.contains("immutable"))
    // an upsert INSERT moving a live key across partitions fails loud
    import spark.implicits._
    val e2 = intercept[Exception](
      cat.commit("t", Txn.empty.insert(
        Seq((1L, "b", 99L)).toDF("k", "cat", "v"))))
    assert(e2.getMessage.contains("immutable") ||
      e2.getCause != null && e2.getCause.getMessage.contains("immutable"),
      e2.getMessage)
    // ...and a resurrect-into-another-partition too (tombstones count)
    cat.commit("t", Txn.empty.delete(col("k") === 2L))
    val e3 = intercept[Exception](
      cat.commit("t", Txn.empty.insert(
        Seq((2L, "c", 99L)).toDF("k", "cat", "v"))))
    assert(e3.getMessage.contains("immutable") ||
      e3.getCause != null && e3.getCause.getMessage.contains("immutable"))
    // same-partition upsert and resurrect stay legal (reference semantics)
    cat.commit("t", Txn.empty.insert(
      Seq((1L, "a", 100L), (2L, "b", 21L)).toDF("k", "cat", "v")))
    assert(m(cat.getTable("t").snapshot)(1L) === ("a", 100L))
    assert(m(cat.getTable("t").snapshot)(2L) === ("b", 21L))
  }

  test("partition overwrite: delete+insert in ONE commit, time-travelable") {
    val (cat, _) = fresh()
    cat.createTable("t", "k", rows, partitionBy = Some("cat"))
    import spark.implicits._
    val verBefore = cat.getTable("t").currentVersion
    // INSERT OVERWRITE PARTITION (cat='a'): one atomic commit
    cat.commit("t", Txn.empty
      .delete(col("cat") === "a")
      .insert(Seq((10L, "a", 1000L), (11L, "a", 1100L)).toDF("k", "cat", "v")))
    val after = cat.getTable("t")
    assert(m(after.snapshot.where(col("cat") === "a")) ===
      Map(10L -> ("a", 1000L), 11L -> ("a", 1100L)))
    // the other partitions are untouched
    assert(after.snapshot.where(col("cat") =!= "a").count() === 3L)
    // the overwritten state is still addressable
    assert(after.asOfVersion(verBefore).where(col("cat") === "a")
      .count() === 3L)
  }

  test("structural guards: clone, zorder, drop/rename of the partition column") {
    val (cat, _) = fresh()
    cat.createTable("t", "k", rows, partitionBy = Some("cat"))
    assert(intercept[IllegalArgumentException](
      cat.cloneTable("t", "t2")).getMessage.contains("partitioned"))
    // Z-order WITHIN partitions is allowed (r13) — but clustering BY the
    // partition column itself rejects: the directory level already
    // prunes it
    assert(intercept[IllegalArgumentException](
      cat.zorderTable("t", Seq("cat", "v"))).getMessage
      .contains("partition column"))
    assert(intercept[IllegalArgumentException](
      cat.dropColumn("t", "cat")).getMessage.contains("partition"))
    assert(intercept[IllegalArgumentException](
      cat.renameColumn("t", "cat", "cat2")).getMessage.contains("partition"))
    // partitioning by the key is a layout catastrophe — rejected at create
    assert(intercept[IllegalArgumentException](
      cat.createTable("t3", "k", rows, partitionBy = Some("k")))
      .getMessage.contains("key"))
  }

  test("Z-order WITHIN partitions: layout lands, survives maintenance, " +
      "and both pruning levels fire (r13)") {
    val (cat, wh) = fresh()
    import spark.implicits._
    // 3 partitions × 40 rows with two numeric dims to cluster
    val data = (0 until 120).map(i =>
      (i.toLong, Seq("a", "b", "c")(i % 3), (i * 7 % 120).toLong,
        (i * 13 % 120).toLong)).toDF("k", "cat", "x", "y")
    cat.createTable("t", "k", data, partitionBy = Some("cat"))
    cat.zorderTable("t", Seq("x", "y"))
    assert(cat.zorderColsOf("t") === Seq("x", "y"))
    // the partition directories survive the zorder rewrite
    val dirs = new java.io.File(s"$wh/t/base").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("_pd=pa", "_pd=pb", "_pd=pc"))
    // semantics unchanged by layout
    assert(cat.getTable("t").snapshot.count() === 120L)
    assert(cat.getTable("t").snapshot
      .where(col("cat") === "b" && col("x") < 30 && col("y") < 30)
      .collect().map(_.getLong(0)).toSet ===
      data.where(col("cat") === "b" && col("x") < 30 && col("y") < 30)
        .collect().map(_.getLong(0)).toSet)
    // a probe through partitionSnapshot prunes the DIRECTORY level and
    // pushes the zorder-column range to the (clustered) base scan
    val probe = cat.partitionSnapshot("t", "b")
      .where(col("x").between(0, 20) && col("y").between(0, 20))
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(x,0\\)".r
      .findFirstIn(plan).isDefined, s"zorder-column filter not pushed:\n$plan")
    // the clustering survives a vacuum re-stamp (layoutOrdered chokepoint)
    cat.commit("t", Txn.empty.update(col("k") === 5L, Map("y" -> lit(0L))))
    cat.vacuum("t")
    assert(cat.zorderColsOf("t") === Seq("x", "y"))
    assert(new java.io.File(s"$wh/t/base").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq ===
      Seq("_pd=pa", "_pd=pb", "_pd=pc"))
    assert(cat.getTable("t").snapshot.where(col("k") === 5L)
      .head().getLong(3) === 0L)
  }

  test("reopen from disk: partition metadata and pruning survive") {
    val (cat, wh) = fresh()
    cat.createTable("t", "k", rows, partitionBy = Some("cat"))
    cat.commit("t", Txn.empty.update(col("k") === 3L, Map("v" -> lit(33L))))
    val cat2 = new Catalog(spark, wh, autoCompact = false)
    assert(cat2.partitionColOf("t") === Some("cat"))
    assert(m(cat2.partitionSnapshot("t", "a")) ===
      Map(1L -> ("a", 10L), 3L -> ("a", 33L), 6L -> ("a", 60L)))
    // vacuum keeps the layout too
    cat2.vacuum("t")
    assert(m(cat2.partitionSnapshot("t", "a")) ===
      Map(1L -> ("a", 10L), 3L -> ("a", 33L), 6L -> ("a", 60L)))
  }

  test("a bigint partition column round-trips type and values exactly") {
    val (cat, _) = fresh()
    import spark.implicits._
    val r = Seq((1L, 202401L, 1.0), (2L, 202402L, 2.0), (3L, 202401L, 3.0))
      .toDF("k", "month", "x")
    cat.createTable("t", "k", r, partitionBy = Some("month"))
    assert(cat.getTable("t").snapshot.schema("month").dataType.typeName === "long")
    assert(cat.partitionSnapshot("t", "202401").count() === 2L)
    assert(cat.partitionSnapshot("t", "202401").schema("month")
      .dataType.typeName === "long")
  }

  // ------------------------------------------------- multi-column (r12)

  private def rows2 = {
    import spark.implicits._
    Seq((1L, "a", "x", 10L), (2L, "a", "y", 20L), (3L, "b", "x", 30L),
        (4L, "b", "y", 40L), (5L, "a", "x", 50L))
      .toDF("k", "region", "cat", "v")
  }

  private def m2(df: org.apache.spark.sql.DataFrame): Map[Long, (String, String, Long)] =
    df.select("k", "region", "cat", "v").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3))).toMap

  test("multi-column create nests one directory level per column (r12)") {
    val (cat, wh) = fresh()
    cat.createTable("t", "k", rows2, partitionBy = Seq("region", "cat"))
    val baseDir = new java.io.File(s"$wh/t/base")
    val l0 = baseDir.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(l0.toSeq === Seq("_pd0=pa", "_pd0=pb"))
    val l1 = new java.io.File(s"$wh/t/base/_pd0=pa").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(l1.toSeq === Seq("_pd1=px", "_pd1=py"))
    assert(m2(cat.getTable("t").snapshot) === m2(rows2))
    assert(cat.partitionColsOf("t") === Seq("region", "cat"))
    assert(cat.partitionTypesOf("t") === Seq("string", "string"))
  }

  test("any subset of partition columns prunes; equals the filtered snapshot") {
    val (cat, _) = fresh()
    cat.createTable("t", "k", rows2, partitionBy = Seq("region", "cat"))
    cat.commit("t", Txn.empty
      .update(col("k") === 1L, Map("v" -> lit(11L)))
      .delete(col("k") === 4L))
    val full = cat.getTable("t").snapshot
    // full tuple
    assert(m2(cat.partitionSnapshot("t", Map("region" -> "a", "cat" -> "x"))) ===
      m2(full.where(col("region") === "a" && col("cat") === "x")))
    // prefix only
    assert(m2(cat.partitionSnapshot("t", Map("region" -> "b"))) ===
      m2(full.where(col("region") === "b")))
    // suffix only (still prunes at its own level)
    assert(m2(cat.partitionSnapshot("t", Map("cat" -> "y"))) ===
      m2(full.where(col("cat") === "y")))
    // single-column legacy API addresses the FIRST column
    assert(m2(cat.partitionSnapshot("t", "a")) ===
      m2(full.where(col("region") === "a")))
    // unknown column rejects loud
    assert(intercept[IllegalArgumentException](
      cat.partitionSnapshot("t", Map("v" -> "10")))
      .getMessage.contains("not partition columns"))
  }

  test("multi-column pruned scan carries PartitionFilters at each level") {
    val (cat, _) = fresh()
    cat.createTable("t", "k", rows2, partitionBy = Seq("region", "cat"))
    cat.foldTail("t")
    val probe = cat.partitionSnapshot("t", Map("region" -> "a", "cat" -> "x"))
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("_pd0") && plan.contains("_pd1"), plan)
    val scanned = probe.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    val allFiles = {
      val full = cat.getTable("t").snapshot
      full.collect()
      full.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    }
    assert(scanned > 0 && scanned < allFiles,
      s"pruning read $scanned of $allFiles files")
  }

  test("the partition TUPLE is immutable per key (multi-column guard)") {
    import spark.implicits._
    val (cat, _) = fresh()
    cat.createTable("t", "k", rows2, partitionBy = Seq("region", "cat"))
    // moving a key across the SECOND level alone must fail too
    val moved = Seq((1L, "a", "y", 99L)).toDF("k", "region", "cat", "v")
    val e = intercept[Exception] {
      cat.commit("t", Txn.empty.insert(moved))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("immutable")), e.toString)
    // same tuple re-insert is fine (upsert)
    cat.commit("t", Txn.empty.insert(
      Seq((1L, "a", "x", 99L)).toDF("k", "region", "cat", "v")))
    assert(cat.partitionSnapshot("t", Map("cat" -> "x"))
      .where(col("k") === 1L).head().getLong(3) === 99L)
  }

  test("multi-column layout + metadata survive fold, vacuum and reopen") {
    val (cat, wh) = fresh()
    cat.createTable("t", "k", rows2, partitionBy = Seq("region", "cat"))
    cat.commit("t", Txn.empty.update(col("k") === 3L, Map("v" -> lit(33L))))
    cat.foldTail("t")
    val cat2 = new Catalog(spark, wh, autoCompact = false)
    assert(cat2.partitionColsOf("t") === Seq("region", "cat"))
    assert(m2(cat2.partitionSnapshot("t", Map("region" -> "b"))) ===
      Map(3L -> ("b", "x", 33L), 4L -> ("b", "y", 40L)))
    cat2.vacuum("t")
    val l0 = new java.io.File(s"$wh/t/base").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(l0.toSeq === Seq("_pd0=pa", "_pd0=pb"))
  }

  test("days(ts) transform: one directory per day; guard on the DERIVED value") {
    import spark.implicits._
    val (cat, wh) = fresh()
    val day = 86400000000000L
    val rows = Seq(
      (1L, 10L * day + 5L, "a"), (2L, 10L * day + 999L, "b"),
      (3L, 11L * day + 1L, "c"), (4L, 12L * day + 7L, "d"))
      .toDF("k", "ts", "s")
    cat.createTable("t", "k", rows,
      partitionBy = Seq("ts"), partitionFuncs = Seq("days"))
    val dirs = new java.io.File(s"$wh/t/base").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("_pd=p10", "_pd=p11", "_pd=p12"))
    assert(cat.partitionFuncsOf("t") === Seq("days"))
    // partitionSnapshot addresses the DERIVED day value
    assert(cat.partitionSnapshot("t", "10").collect().map(_.getLong(0))
      .toSet === Set(1L, 2L))
    // same-day re-insert of an existing key upserts (derived tuple
    // unchanged even though the raw ts moved within the day)
    cat.commit("t", Txn.empty.insert(
      Seq((1L, 10L * day + 777L, "a2")).toDF("k", "ts", "s")))
    assert(cat.getTable("t").snapshot.where(col("k") === 1L)
      .head().getString(2) === "a2")
    // CROSS-day move of an existing key fails loud
    val e = intercept[Exception] {
      cat.commit("t", Txn.empty.insert(
        Seq((2L, 11L * day, "moved")).toDF("k", "ts", "s")))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("immutable")), e.toString)
    // UPDATE may not assign the transform's source column
    assert(intercept[Exception] {
      cat.commit("t", Txn.empty.update(col("k") === 3L,
        Map("ts" -> lit(20L * day))))
    }.getMessage.contains("immutable"))
  }

  test("timeSliceSnapshot prunes day directories below the window") {
    import spark.implicits._
    val (cat, _) = fresh()
    val day = 86400000000000L
    val rows = (0L until 40L).map(i =>
      (i, (i % 8) * day + i * 1000L + 1L, i * 10L)).toDF("k", "ts", "v")
    cat.createTable("t", "k", rows,
      partitionBy = Seq("ts"), partitionFuncs = Seq("days"))
    cat.commit("t", Txn.empty.update(col("k") === 10L,
      Map("v" -> lit(999L))))
    cat.foldTail("t")
    val full = cat.getTable("t").snapshot
    val (lo, hi) = (2L * day, 5L * day)
    val slice = cat.timeSliceSnapshot("t", lo, hi)
    assert(slice.collect().map(_.getLong(0)).toSet ===
      full.where(col("ts") >= lo && col("ts") < hi)
        .collect().map(_.getLong(0)).toSet)
    // updated row in-slice carries the update (k=10 lives in day 2)
    assert(slice.where(col("k") === 10L).head().getLong(2) === 999L)
    // pruning proof: the day-range filter lands as a PARTITION filter
    // (evaluated per directory at planning — whole days skipped); the
    // numFiles metric hides inside AQE query stages here, so the plan
    // string is the assertion surface
    slice.collect()
    val plan = slice.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("substring(_pd"), plan)
    // day math is exact integer div: a row 1ns into day 5 is OUT, the
    // last ns of day 4 is IN
    assert(cat.timeSliceSnapshot("t", 5L * day - 1, 5L * day)
      .collect().forall(r => r.getLong(1) < 5L * day))
  }

  test("days() guards: wrong type, unknown func, SQL surface") {
    import spark.implicits._
    val (cat, _) = fresh()
    assert(intercept[IllegalArgumentException] {
      cat.createTable("bad", "k", Seq((1L, "x")).toDF("k", "s"),
        partitionBy = Seq("s"), partitionFuncs = Seq("days"))
    }.getMessage.contains("BIGINT"))
    assert(intercept[IllegalArgumentException] {
      cat.createTable("bad2", "k", Seq((1L, 2L)).toDF("k", "ts"),
        partitionBy = Seq("ts"), partitionFuncs = Seq("months"))
    }.getMessage.contains("unknown partition transform"))
    cat.createTable("flat2", "k", Seq((1L, 2L)).toDF("k", "ts"))
    assert(intercept[IllegalArgumentException] {
      cat.timeSliceSnapshot("flat2", 0L, 1L)
    }.getMessage.contains("days"))
  }

  test("bucket(N, c) transform: N hash directories; derived-value reads") {
    import spark.implicits._
    val (cat, wh) = fresh()
    val vals = (1L to 40L).map(i => (i, s"u$i", i * 10L))
    cat.createTable("t", "k", vals.toDF("k", "u", "v"),
      partitionBy = Seq("u"), partitionFuncs = Seq("bucket_4"))
    assert(cat.partitionFuncsOf("t") === Seq("bucket_4"))
    val dirs = new java.io.File(s"$wh/t/base").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    // every directory is one of the 4 buckets, named by the md5 formula
    assert(dirs.nonEmpty && dirs.forall(d =>
      (0 until 4).exists(b => d == s"_pd=p$b")), dirs.mkString(", "))
    // partitionSnapshot addresses the DERIVED bucket; each bucket read
    // equals the snapshot filtered by the same formula, and the buckets
    // tile the table exactly
    val snap = cat.getTable("t").snapshot
    var total = 0L
    for (b <- 0 until 4) {
      val part = cat.partitionSnapshot("t", b.toString)
      val expect = vals.filter(x => Catalog.bucketOf(x._2, 4) == b)
      assert(part.collect().map(_.getLong(0)).toSet ===
        expect.map(_._1).toSet, s"bucket $b diverged")
      total += part.count()
    }
    assert(total === snap.count())
    // tail traffic stays addressable: update a key, read through its bucket
    cat.commit("t", Txn.empty.update(col("k") === 7L, Map("v" -> lit(777L))))
    val b7 = Catalog.bucketOf("u7", 4).toString
    assert(cat.partitionSnapshot("t", b7).where(col("k") === 7L)
      .head().getLong(2) === 777L)
  }

  test("bucket guard: WITHIN-bucket drift upserts, cross-bucket moves fail") {
    import spark.implicits._
    val (cat, _) = fresh()
    // find two values in the same bucket and one in a different bucket
    val pool = (1 to 200).map(i => s"u$i")
    val b0 = Catalog.bucketOf(pool.head, 4)
    val same = pool.tail.find(v => Catalog.bucketOf(v, 4) == b0).get
    val other = pool.tail.find(v => Catalog.bucketOf(v, 4) != b0).get
    cat.createTable("t", "k",
      Seq((1L, pool.head, 10L)).toDF("k", "u", "v"),
      partitionBy = Seq("u"), partitionFuncs = Seq("bucket_4"))
    // the guard compares DERIVED bucket values: same-bucket drift is an
    // upsert (the layout stays sound — the key never leaves its directory)
    cat.commit("t", Txn.empty.insert(Seq((1L, same, 11L)).toDF("k", "u", "v")))
    assert(cat.getTable("t").snapshot.where(col("k") === 1L)
      .head().getString(1) === same)
    // a cross-bucket move would strand old versions in another directory
    val e = intercept[Exception] {
      cat.commit("t", Txn.empty.insert(
        Seq((1L, other, 12L)).toDF("k", "u", "v")))
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("immutable")), e.toString)
  }

  test("bucket guards: count bounds, column type; SQL create + routed probe") {
    import spark.implicits._
    val (cat, _) = fresh()
    assert(intercept[IllegalArgumentException] {
      cat.createTable("bad", "k", Seq((1L, "x")).toDF("k", "s"),
        partitionBy = Seq("s"), partitionFuncs = Seq("bucket_1"))
    }.getMessage.contains("bucket count"))
    assert(intercept[IllegalArgumentException] {
      cat.createTable("bad2", "k", Seq((1L, 1.5)).toDF("k", "d"),
        partitionBy = Seq("d"), partitionFuncs = Seq("bucket_4"))
    }.getMessage.contains("string or integral"))
    // SQL surface: CREATE ... PARTITIONED BY (bucket(4, u)), equality
    // probe routes to the literal's hashed directory and returns exactly
    // the filtered rows (co-bucketed keys dropped by the re-applied
    // Filter); a type-coerced literal skips the route but stays correct
    val g = new graft.sql.GraftSql(spark).attach(cat)
    (1L to 30L).map(i => (i, i % 10, i * 2L)).toDF("k", "u", "v")
      .createOrReplaceTempView("bkt_src")
    g.sql("""CREATE TABLE bt (k BIGINT, u BIGINT, v BIGINT) USING graft
            |OPTIONS ('key' = 'k') PARTITIONED BY (bucket(4, u))""".stripMargin)
    g.sql("INSERT INTO bt SELECT k, u, v FROM bkt_src")
    assert(g.sql("SELECT k FROM bt WHERE u = 3 AND k < 20")
      .collect().map(_.getLong(0)).toSet === Set(3L, 13L))
    assert(g.sql("SELECT k FROM bt WHERE u = '3' AND k < 20")
      .collect().map(_.getLong(0)).toSet === Set(3L, 13L))
    // static PARTITION pins on a bucket level reject loud (the
    // directory value is derived, not the literal)
    assert(intercept[IllegalArgumentException] {
      g.sql("INSERT OVERWRITE bt PARTITION (u = 3) SELECT k, v FROM bkt_src")
    }.getMessage.contains("TRANSFORMED"))
  }

  test("bucket(N, key) is the point-lookup layout; identity-by-key still rejects") {
    import spark.implicits._
    val (cat, _) = fresh()
    // identity partitioning by the key stays a loud error
    assert(intercept[IllegalArgumentException] {
      cat.createTable("bad", "k", (1L to 9L).map(i => (i, i * 2L)).toDF("k", "v"),
        partitionBy = Seq("k"))
    }.getMessage.contains("one directory per record"))
    // bucket(4, key): 4 directories, and a key-equality probe through the
    // routed read equals the plain filtered snapshot
    cat.createTable("t", "k", (1L to 40L).map(i => (i, i * 2L)).toDF("k", "v"),
      partitionBy = Seq("k"), partitionFuncs = Seq("bucket_4"))
    cat.commit("t", Txn.empty.update(col("k") === 17L, Map("v" -> lit(999L))))
    val b17 = Catalog.bucketOf("17", 4).toString
    assert(cat.partitionSnapshot("t", b17).where(col("k") === 17L)
      .head().getLong(1) === 999L)
    val g = new graft.sql.GraftSql(spark).attach(cat).register("t", cat, "t")
    assert(g.sql("SELECT v FROM t WHERE k = 17").head().getLong(0) === 999L)
  }

  test("reserved column names reject at create; dup partition cols too") {
    import spark.implicits._
    val (cat, _) = fresh()
    assert(intercept[IllegalArgumentException](
      cat.createTable("bad", "k", Seq((1L, "x")).toDF("k", "_pd")))
      .getMessage.contains("reserved"))
    assert(intercept[IllegalArgumentException](
      cat.createTable("bad2", "k", Seq((1L, "x")).toDF("k", "_pd0")))
      .getMessage.contains("reserved"))
    assert(intercept[IllegalArgumentException](
      cat.createTable("bad3", "k", rows2, partitionBy = Seq("cat", "cat")))
      .getMessage.contains("duplicate"))
  }
}
