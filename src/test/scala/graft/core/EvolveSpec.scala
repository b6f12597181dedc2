package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract tests for [[Catalog.addColumn]] — metadata-only schema
  * evolution (ADD COLUMN) through the warehouse lifecycle. */
class EvolveSpec extends SparkSpec {

  private def freshCat(autoCompact: Boolean = true): (Catalog, String) = {
    val wh = Files.createTempDirectory("graft_evolve_").toString
    (new Catalog(spark, wh, autoCompact = autoCompact), wh)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def seed(cat: Catalog): Unit = {
    import spark.implicits._
    cat.createTable("t", "k",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s"))
  }

  test("added column reads null on pre-evolve rows, set values after") {
    val (cat, _) = freshCat()
    seed(cat)
    cat.addColumn("t", "n", "bigint")
    cat.commit("t", Txn.empty.update(col("k") === 2L, Map("n" -> lit(7L))))
    assert(rows(cat.getTable("t").snapshot) ===
      Set(Seq(1L, "a", null), Seq(2L, "b", 7L), Seq(3L, "c", null)))
    // the evolve is invisible to version addressing: one step back is the
    // pre-update state, all-null in the new column
    assert(rows(cat.getTable("t").asOfRelative(-1)) ===
      Set(Seq(1L, "a", null), Seq(2L, "b", null), Seq(3L, "c", null)))
  }

  test("evolution survives compaction and vacuum (files rewritten)") {
    val (cat, _) = freshCat(autoCompact = false)
    seed(cat)
    cat.addColumn("t", "n", "bigint")
    cat.commit("t", Txn.empty.update(col("k") === 2L, Map("n" -> lit(7L))))
    cat.saveCompacted("t", cat.getTable("t").compact)
    val expected =
      Set(Seq(1L, "a", null), Seq(2L, "b", 7L), Seq(3L, "c", null))
    assert(rows(cat.getTable("t").snapshot) === expected)
    cat.commit("t", Txn.empty.update(col("k") === 3L, Map("n" -> lit(9L))))
    cat.vacuum("t", keep = 2)
    assert(rows(cat.getTable("t").snapshot) ===
      Set(Seq(1L, "a", null), Seq(2L, "b", 7L), Seq(3L, "c", 9L)))
  }

  test("a tail mixing pre- and post-evolve files keeps every set value") {
    // the risky layout: file A written BEFORE the add (lacks the column),
    // file B after (carries it). A single-file schema inference over the
    // tail would drop the column whenever listing order sampled file A —
    // getTable must merge the footers' schemas, deterministically.
    val (cat, _) = freshCat(autoCompact = false)
    seed(cat)
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("s" -> lit("a2"))))
    cat.addColumn("t", "n", "bigint")
    cat.commit("t", Txn.empty.update(col("k") === 2L, Map("n" -> lit(7L))))
    assert(rows(cat.getTable("t").snapshot) ===
      Set(Seq(1L, "a2", null), Seq(2L, "b", 7L), Seq(3L, "c", null)))
  }

  test("a column added before ANY commit materializes at its declared type") {
    val (cat, _) = freshCat()
    seed(cat)
    val t = cat.addColumn("t", "score", "double")
    assert(t.snapshot.schema("score").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(rows(t.snapshot.select(col("k"), col("score"))) ===
      Set(Seq(1L, null), Seq(2L, null), Seq(3L, null)))
  }

  test("duplicate or malformed adds are rejected at the API boundary") {
    val (cat, _) = freshCat()
    seed(cat)
    cat.addColumn("t", "n", "bigint")
    intercept[IllegalArgumentException](cat.addColumn("t", "n", "bigint"))
    intercept[IllegalArgumentException](
      cat.addColumn("t", "m", "decimal(10,2)")) // non-identifier type
    intercept[Exception](cat.addColumn("t", "m", "bigiint")) // unparseable
    intercept[IllegalArgumentException](
      cat.addColumn("t", "_ver", "bigint")) // reserved lineage stamp
    intercept[IllegalArgumentException](
      cat.addColumn("t", "_rn", "bigint")) // reserved window rank
    // every rejection happened BEFORE the meta write: the table still opens
    assert(cat.getTable("t").dataCols === Seq("k", "s", "n"))
  }

  test("evolved tables compose with CDC diff and restore") {
    val (cat, _) = freshCat(autoCompact = false)
    seed(cat)
    cat.addColumn("t", "n", "bigint")
    cat.commit("t", Txn.empty.update(col("k") === 2L, Map("n" -> lit(7L))))
    val t = cat.getTable("t")
    // the diff's payload structs carry the evolved schema: the change is
    // an update from null to the set value
    assert(rows(t.diffRelative(-1)) ===
      Set(Seq(2L, "update", "b", null, "b", 7L)))
    // restore unwinds the post-evolve write; the column stays in the
    // schema (evolution is metadata, restore is data)
    assert(rows(t.restore(-1).snapshot) ===
      Set(Seq(1L, "a", null), Seq(2L, "b", null), Seq(3L, "c", null)))
  }

  test("evolution persists across catalog reopen (metadata round-trip)") {
    val (cat, wh) = freshCat()
    seed(cat)
    cat.addColumn("t", "n", "bigint")
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("n" -> lit(5L))))
    val reopened = new Catalog(spark, wh)
    assert(rows(reopened.getTable("t").snapshot) ===
      Set(Seq(1L, "a", 5L), Seq(2L, "b", null), Seq(3L, "c", null)))
  }

  test("DROP COLUMN is metadata-only; re-ADD of the name never resurrects values") {
    val (cat, wh) = freshCat(autoCompact = false)
    import spark.implicits._
    cat.createTable("t", "k",
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "n"))
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("n" -> lit(11L))))
    cat.dropColumn("t", "n")
    assert(cat.getTable("t").dataCols === Seq("k", "s"))
    assert(rows(cat.getTable("t").snapshot) === Set(Seq(1L, "a"), Seq(2L, "b")))
    // version reads drop the column too (schema is table-level, not
    // versioned — the Delta/Iceberg rule)
    assert(rows(cat.getTable("t").asOfRelative(-1)) ===
      Set(Seq(1L, "a"), Seq(2L, "b")))
    // post-drop commits write files WITHOUT the dropped physical column
    cat.commit("t", Txn.empty.update(col("k") === 2L, Map("s" -> lit("b2"))))
    assert(rows(cat.getTable("t").snapshot) === Set(Seq(1L, "a"), Seq(2L, "b2")))
    // a re-ADD of the same logical name maps to a FRESH physical column:
    // the dropped values (10/11/20 still in the old files) must NOT leak
    cat.addColumn("t", "n", "bigint")
    assert(rows(cat.getTable("t").snapshot) ===
      Set(Seq(1L, "a", null), Seq(2L, "b2", null)),
      "re-added column must read null everywhere, never the dropped values")
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("n" -> lit(99L))))
    assert(rows(cat.getTable("t").snapshot) ===
      Set(Seq(1L, "a", 99L), Seq(2L, "b2", null)))
    // all of it survives reopen
    val reopened = new Catalog(spark, wh, autoCompact = false)
    assert(rows(reopened.getTable("t").snapshot) ===
      Set(Seq(1L, "a", 99L), Seq(2L, "b2", null)))
  }

  test("RENAME COLUMN maps logical→physical; survives commits, compaction, reopen") {
    val (cat, wh) = freshCat(autoCompact = false)
    import spark.implicits._
    cat.createTable("t", "k",
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "n"))
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("n" -> lit(11L))))
    cat.renameColumn("t", "n", "amount")
    assert(cat.getTable("t").dataCols === Seq("k", "s", "amount"))
    assert(rows(cat.getTable("t").snapshot) ===
      Set(Seq(1L, "a", 11L), Seq(2L, "b", 20L)))
    // writes address the NEW name; old files keep serving under it
    cat.commit("t", Txn.empty.update(col("k") === 2L, Map("amount" -> lit(21L))))
    assert(rows(cat.getTable("t").snapshot) ===
      Set(Seq(1L, "a", 11L), Seq(2L, "b", 21L)))
    // history reads carry the renamed schema across pre-rename versions
    assert(rows(cat.getTable("t").asOfRelative(-2).select("k", "amount")) ===
      Set(Seq(1L, 10L), Seq(2L, 20L)))
    // the rename survives a physical rewrite (saveCompacted resets clocks
    // but the mapping is definition metadata) and a reopen
    cat.saveCompacted("t", cat.getTable("t").compact)
    assert(rows(cat.getTable("t").snapshot) ===
      Set(Seq(1L, "a", 11L), Seq(2L, "b", 21L)))
    val reopened = new Catalog(spark, wh, autoCompact = false)
    assert(reopened.getTable("t").dataCols === Seq("k", "s", "amount"))
    assert(rows(reopened.getTable("t").snapshot) ===
      Set(Seq(1L, "a", 11L), Seq(2L, "b", 21L)))
    // rename back onto a name whose physical column still sits in old
    // files (drop n→amount's original name): legal, reads stay mapped
    cat.renameColumn("t", "amount", "n")
    assert(rows(cat.getTable("t").snapshot) ===
      Set(Seq(1L, "a", 11L), Seq(2L, "b", 21L)))
  }

  test("drop/rename guards: key, dependents, unknown and colliding names") {
    val (cat, _) = freshCat(autoCompact = false)
    import spark.implicits._
    cat.createTable("t", "k",
      Seq((1L, "a", 10L, 1.0)).toDF("k", "s", "n", "p"))
    // the lineage key is structural — neither droppable nor renamable
    intercept[IllegalArgumentException](cat.dropColumn("t", "k"))
    intercept[IllegalArgumentException](cat.renameColumn("t", "k", "kk"))
    // unknown / colliding names
    intercept[IllegalArgumentException](cat.dropColumn("t", "nope"))
    intercept[IllegalArgumentException](cat.renameColumn("t", "nope", "x"))
    intercept[IllegalArgumentException](cat.renameColumn("t", "n", "s"))
    intercept[IllegalArgumentException](cat.renameColumn("t", "n", "_rn"))
    // a column a CHECK constraint references is load-bearing — evolve
    // must reject, not silently break every later commit (Delta's rule)
    cat.addConstraint("t", "n_pos", "n > 0")
    val e1 = intercept[IllegalArgumentException](cat.dropColumn("t", "n"))
    assert(e1.getMessage.contains("n_pos"))
    val e2 = intercept[IllegalArgumentException](cat.renameColumn("t", "n", "m"))
    assert(e2.getMessage.contains("n_pos"))
    cat.dropConstraint("t", "n_pos")
    // physical-layout dependents: index, projection, bloom
    cat.createIndex("t", "n")
    val e3 = intercept[IllegalArgumentException](cat.dropColumn("t", "n"))
    assert(e3.getMessage.toLowerCase.contains("index"))
    cat.dropIndex("t")
    cat.createBloomFilter("t", "p")
    intercept[IllegalArgumentException](cat.renameColumn("t", "p", "q"))
    // a materialized view defined over the column blocks evolve on the
    // SOURCE (the view's definition names source columns)
    cat.createMaterializedView("v", "t", "s", "p")
    val e4 = intercept[IllegalArgumentException](cat.dropColumn("t", "s"))
    assert(e4.getMessage.contains("v"))
    // after every rejection the table still opens with its full schema
    assert(cat.getTable("t").dataCols === Seq("k", "s", "n", "p"))
  }

  test("dropped and renamed columns compose with ADD in one lifecycle") {
    val (cat, _) = freshCat(autoCompact = false)
    import spark.implicits._
    cat.createTable("t", "k", Seq((1L, "a", 10L)).toDF("k", "s", "n"))
    cat.addColumn("t", "extra", "string")
    cat.commit("t", Txn.empty.update(col("k") === 1L, Map("extra" -> lit("x"))))
    cat.renameColumn("t", "extra", "note")     // rename an ADDED column
    cat.dropColumn("t", "s")                   // drop an original column
    assert(cat.getTable("t").dataCols === Seq("k", "n", "note"))
    assert(rows(cat.getTable("t").snapshot) === Set(Seq(1L, 10L, "x")))
    // and the whole shape still refreshes through vacuum
    cat.vacuum("t", keep = 1)
    assert(rows(cat.getTable("t").snapshot) === Set(Seq(1L, 10L, "x")))
  }

  test("ALTER COLUMN TYPE widening: mixed-vintage tail, reopen, rewrite (r11)") {
    import spark.implicits._
    val (cat, wh) = freshCat(autoCompact = false)
    cat.createTable("w", "k",
      Seq((1L, 1, 1.5f), (2L, 2, 2.5f)).toDF("k", "qty", "price"))
    // pre-widen tail files carry int/float
    cat.commit("w", Txn.empty.update(col("k") === 1L,
      Map("qty" -> lit(10), "price" -> lit(10.5f))))
    cat.widenColumn("w", "qty", "bigint")
    cat.widenColumn("w", "price", "double")
    val t = cat.getTable("w")
    assert(t.snapshot.schema("qty").dataType.typeName === "long")
    assert(t.snapshot.schema("price").dataType.typeName === "double")
    // post-widen writes land wide INTO THE SAME TAIL — mixed vintages
    cat.commit("w", Txn.empty.insert(
      Seq((3L, 3000000000L, 3.25)).toDF("k", "qty", "price")))
    cat.commit("w", Txn.empty.update(col("k") === 2L,
      Map("qty" -> (col("qty") + lit(1L)))))
    def state(c: Catalog) = c.getTable("w").snapshot.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val want = Seq((1L, 10L, 10.5), (2L, 3L, 2.5), (3L, 3000000000L, 3.25))
    assert(state(cat) === want)
    // reopen from disk: the widening lives in metadata
    val cat2 = new Catalog(spark, wh, autoCompact = false)
    assert(state(cat2) === want)
    assert(cat2.getTable("w").snapshot.schema("qty").dataType.typeName === "long")
    // a physical rewrite makes every file wide and clears the mapping;
    // values and schema are unchanged
    cat2.foldTail("w")
    assert(state(cat2) === want)
    // versioned reads survive the widening too
    assert(cat2.getTable("w").asOfRelative(-9).where(col("k") === 1L)
      .head().getLong(1) === 1L)
    // guards: narrowing, lossy, unknown column, partition column
    assert(intercept[IllegalArgumentException](
      cat2.widenColumn("w", "qty", "int")).getMessage.contains("widening"))
    assert(intercept[IllegalArgumentException](
      cat2.widenColumn("w", "price", "float")).getMessage.contains("widening"))
    intercept[IllegalArgumentException](cat2.widenColumn("w", "nope", "bigint"))
    val (cat3, _) = freshCat(autoCompact = false)
    cat3.createTable("p", "k",
      Seq((1L, 5, "a")).toDF("k", "v", "c"), partitionBy = Some("c"))
    intercept[IllegalArgumentException](cat3.widenColumn("p", "c", "bigint"))
    // ...but a non-partition column of a partitioned table widens fine
    cat3.widenColumn("p", "v", "bigint")
    cat3.commit("p", Txn.empty.insert(Seq((2L, 7L, "a")).toDF("k", "v", "c")))
    assert(cat3.partitionSnapshot("p", "a").orderBy("k").collect()
      .map(_.getLong(1)).toSeq === Seq(5L, 7L))
  }

  test("tinyint and smallint widenings: mixed-vintage tail, reopen, fold") {
    // each pair: a narrow base and a narrow tail file, then a wide tail
    // file whose value only the wide type holds; parquet promotes the
    // narrow files under the declared schema
    import spark.implicits._
    val pairs = Seq("tinyint" -> "smallint", "tinyint" -> "int",
      "tinyint" -> "bigint", "smallint" -> "int", "smallint" -> "bigint")
    val big = Map("smallint" -> 300L, "int" -> 70000L, "bigint" -> 3000000000L)
    for ((from, to) <- pairs) {
      val (cat, wh) = freshCat(autoCompact = false)
      cat.createTable("w", "k", Seq((1L, 1), (2L, 2)).toDF("k", "v")
        .select(col("k"), col("v").cast(from).as("v")))
      cat.commit("w", Txn.empty.update(col("k") === 1L,
        Map("v" -> lit(10).cast(from))))
      cat.widenColumn("w", "v", to)
      cat.commit("w", Txn.empty.insert(Seq((3L, big(to))).toDF("k", "v")
        .select(col("k"), col("v").cast(to).as("v"))))
      val want = Seq((1L, 10L), (2L, 2L), (3L, big(to)))
      def check(c: Catalog, when: String): Unit = {
        val snap = c.getTable("w").snapshot
        assert(snap.schema("v").dataType.simpleString === to, s"$from->$to $when")
        assert(snap.orderBy("k").collect().map(r =>
          (r.getLong(0), r.getAs[Number](1).longValue)).toSeq === want,
          s"$from->$to $when")
      }
      check(cat, "before reopen")
      val reopened = new Catalog(spark, wh, autoCompact = false)
      check(reopened, "after reopen")
      reopened.foldTail("w")
      check(reopened, "after foldTail")
    }
  }

  test("widening a PROJECTED column: the probe serves pre- and post-widen rows (r12)") {
    import spark.implicits._
    val (cat, _) = freshCat(autoCompact = false)
    cat.createTable("wp", "k",
      Seq((1L, 1), (2L, 2), (3L, 3)).toDF("k", "v"))
    cat.createProjection("wp", "v")
    cat.widenColumn("wp", "v", "bigint")
    // post-widen commits append BIGINT pairs to the projection, beside
    // its int32 files; the probe reads both under the declared bigint
    cat.commit("wp", Txn.empty.insert(
      Seq((4L, 4000000000L)).toDF("k", "v")))
    cat.commit("wp", Txn.empty.update(col("k") === 1L,
      Map("v" -> lit(5000000000L))))
    val probed = cat.probeProjected("wp", "v", col("v") >= 2L)
    assert(probed.collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L),
      "the projection-served probe must see pre- AND post-widen rows")
  }

  test("SQL: ALTER TABLE ALTER COLUMN TYPE routes to widenColumn (r11)") {
    import spark.implicits._
    val (cat, _) = freshCat(autoCompact = false)
    cat.createTable("w", "k", Seq((1L, 5)).toDF("k", "qty"))
    val g = new graft.sql.GraftSql(spark).register("w", cat, "w")
    g.sql("ALTER TABLE w ALTER COLUMN qty TYPE BIGINT")
    assert(g.sql("SELECT qty FROM w").schema("qty").dataType.typeName === "long")
    g.sql("INSERT INTO w VALUES (2, 4000000000)")
    assert(g.sql("SELECT sum(qty) AS s FROM w").head().getLong(0) === 4000000005L)
    // narrowing through SQL is loud too
    assert(intercept[IllegalArgumentException](
      g.sql("ALTER TABLE w ALTER COLUMN qty TYPE INT"))
      .getMessage.contains("widening"))
  }
}
