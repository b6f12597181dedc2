package graft.sql

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number, when}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.core.LineageTable

/**
 * The SQL front door's desugars (UPDATE … FROM, DELETE … USING,
 * QUALIFY, ASOF JOIN) read statements through Spark's own lexer: a
 * keyword or alias inside a string literal, a backquoted identifier or
 * a comment must never move a clause boundary or be rewritten.
 */
class GraftSqlLexSpec extends SparkSpec {
  import spark.implicits._

  private def base: DataFrame = Seq(
      (1L, "a", 10L, "x"), (2L, "a", 30L, "rn"), (3L, "a", 20L, "it's"),
      (4L, "b", 5L, "qualify"), (5L, "b", 7L, "y"), (6L, "b", 9L, "rn"))
    .toDF("k", "grp", "v", "note")

  override def beforeAll(): Unit = {
    super.beforeAll()
    Seq((2L, 100L, "where"), (4L, 200L, "keep"), (6L, 300L, "x"))
      .toDF("k", "bump", "why").createOrReplaceTempView("lx_s")
    Seq((2L, 1L, 2L)).toDF("k", "from", "where")
      .createOrReplaceTempView("lx_kw")
    Seq((1L, 18L), (1L, 5L), (2L, 99L)).toDF("k", "t")
      .createOrReplaceTempView("lx_l")
    Seq((1L, 10L, "ok"), (1L, 15L, "l.k"), (1L, 20L, "ok"), (2L, 15L, "ok"),
        (2L, 50L, "l.k")).toDF("k", "t", "tag")
      .createOrReplaceTempView("lx_r")
  }

  /** A front door with a fresh in-session `lx_t` over [[base]]. */
  private def fresh(): GraftSql =
    new GraftSql(spark).register("lx_t", LineageTable.fromBase("k", base))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Rows a statement yields on a fresh `lx_t`: a query's result, or
    * for DML (which returns a frame without columns) the table after. */
  private def run(stmt: String): Seq[String] = {
    val g = fresh()
    val out = g.sql(stmt)
    rowsOf(if (out.columns.nonEmpty) out else g.table("lx_t").snapshot)
  }

  /** `base` with matched keys' column `c` set from lx_s. */
  private def updated(c: String, value: Column): Seq[String] = rowsOf(
    base.join(spark.table("lx_s").withColumn("m", lit(true)), Seq("k"), "left")
      .select(base.columns.map(x =>
        if (x == c) when(col("m"), value).otherwise(col(x)).as(x)
        else col(x)): _*))

  // ------------------------------------------------ comment property

  private val block = "/* FROM WHERE QUALIFY */"
  private val line = "-- ASOF JOIN\n"

  /** The statement with a comment (or none) at each space-separated
    * token boundary, the ends included. */
  private def commented(stmt: String): Gen[String] = {
    val parts = stmt.split(" ").toSeq
    Gen.listOfN(parts.size + 1,
        Gen.frequency(2 -> Gen.const(""), 1 -> Gen.const(block),
          1 -> Gen.const(line)))
      .map { cs =>
        cs.zip(parts.map(Some(_)) :+ None).flatMap { case (c, p) =>
          Seq(c) ++ p.toSeq }.filter(_.nonEmpty).mkString(" ")
      }
  }

  private def holds(stmt: String): Unit = {
    val clean = run(stmt)
    assert(clean.nonEmpty, stmt)
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(Seed(20261018L)),
      Prop.forAll(commented(stmt))(s => run(s) == clean))
    assert(r.passed, s"$stmt: ${r.status}")
  }

  test("UPDATE … FROM yields the clean statement's rows under comments") {
    holds("UPDATE lx_t AS t SET v = v + s.bump , note = concat(t.note, '+') " +
      "FROM lx_s s WHERE t.k = s.k AND s.bump > 100")
  }

  test("DELETE … USING yields the clean statement's rows under comments") {
    holds("DELETE FROM lx_t t USING lx_s s WHERE t.k = s.k AND s.bump < 300")
  }

  test("QUALIFY yields the clean statement's rows under comments") {
    holds("SELECT grp , k , CAST(row_number() OVER (PARTITION BY grp " +
      "ORDER BY v DESC , k) AS BIGINT) AS rn FROM lx_t " +
      "QUALIFY rn <= 2 ORDER BY grp , k LIMIT 3")
  }

  test("ASOF JOIN yields the clean statement's rows under comments") {
    holds("SELECT l.k , l.t , r.t AS rt FROM lx_l l ASOF JOIN lx_r r " +
      "ON l.k = r.k AND l.t >= r.t WHERE l.t > 1")
  }

  test("pass-through SELECT and UPDATE yield the clean rows under comments") {
    holds("SELECT grp , sum(v) AS sv FROM lx_t WHERE note <> 'z' GROUP BY grp")
    holds("UPDATE lx_t SET v = v * 2 WHERE grp = 'a'")
  }

  // --------------------------------------------------- fixed cases

  test("a QUALIFY inside a double-quoted literal is no clause") {
    assert(run("""SELECT k FROM lx_t WHERE note = "qualify"""") ===
      rowsOf(base.where(col("note") === "qualify").select("k")))
  }

  test("a QUALIFY inside a comment is no clause") {
    assert(run("SELECT k FROM lx_t -- qualify later") ===
      rowsOf(base.select("k")))
  }

  test("a QUALIFY after a backslash-escaped literal is no clause") {
    assert(run("SELECT k FROM lx_t WHERE note <> 'it\\'s' AND note <> 'qualify'") ===
      rowsOf(base.where(!col("note").isin("it's", "qualify")).select("k")))
  }

  test("UPDATE … FROM ignores a FROM inside a double-quoted SET literal") {
    assert(run("""UPDATE lx_t t SET note = "from web" FROM lx_s s """ +
      "WHERE t.k = s.k") === updated("note", lit("from web")))
  }

  test("UPDATE … FROM ignores a FROM inside a comment") {
    assert(run("UPDATE lx_t t SET v = s.bump -- copy from s\n" +
      "FROM lx_s s WHERE t.k = s.k") === updated("v", col("bump")))
  }

  test("UPDATE … FROM reads escaped literals and backquoted names") {
    assert(run("UPDATE lx_t t SET note = 'it\\'s from' FROM lx_s s " +
      "WHERE t.k = s.k") === updated("note", lit("it's from")))
    // backquoted keyword-named columns on both sides of the join
    assert(run("UPDATE lx_t AS t SET v = s.`from` + s.`where` " +
      "FROM lx_kw s WHERE t.k = s.k") ===
      rowsOf(base.withColumn("v", when(col("k") === 2L, 3L)
        .otherwise(col("v")))))
  }

  test("DELETE … USING splits at the WHERE clause, not at a WHERE in a " +
      "literal or comment") {
    val kept = rowsOf(base.where(col("k") =!= 4L && col("k") =!= 6L))
    assert(run("DELETE FROM lx_t t USING lx_s s -- where s.bump\n" +
      """WHERE t.k = s.k AND s.why <> "where"""") === kept)
  }

  private def ranked = base.withColumn("rn", row_number().over(
    Window.partitionBy("grp").orderBy(col("v").desc, col("k"))))

  test("QUALIFY leaves an alias-named string literal alone") {
    // rows noted 'rn' among the top two are filtered out
    assert(run("SELECT k, note, row_number() OVER (PARTITION BY grp " +
      "ORDER BY v DESC, k) AS rn FROM lx_t QUALIFY rn <= 2 AND note <> 'rn'") ===
      rowsOf(ranked.where(col("rn") <= 2 && col("note") =!= "rn")
        .select(col("k"), col("note"), col("rn"))))
  }

  test("QUALIFY substitutes a backquoted alias; a WITH head stays in front") {
    assert(run("SELECT k, row_number() OVER (PARTITION BY grp " +
      "ORDER BY v DESC, k) AS `rn` FROM lx_t QUALIFY `rn` = 1") ===
      rowsOf(ranked.where(col("rn") === 1).select("k", "rn")))
    assert(run("WITH c AS (SELECT * FROM lx_t WHERE note <> \"qualify\") " +
      "SELECT k, row_number() OVER (PARTITION BY grp ORDER BY v DESC, k) " +
      "AS rn FROM c QUALIFY rn = 1") ===
      rowsOf(base.where(col("note") =!= "qualify")
        .withColumn("rn", row_number().over(
          Window.partitionBy("grp").orderBy(col("v").desc, col("k"))))
        .where(col("rn") === 1).select("k", "rn")))
  }

  test("QUALIFY registers no view and leaves a user's view of the same " +
      "name alone") {
    val name = "__graft_qualify_src"
    spark.catalog.dropTempView(name)
    val stmt = "SELECT k, row_number() OVER (PARTITION BY grp " +
      "ORDER BY v DESC, k) AS rn FROM lx_t QUALIFY rn = 1"
    run(stmt)
    assert(!spark.catalog.tableExists(name))
    Seq("mine").toDF("owner").createOrReplaceTempView(name)
    try {
      run(stmt)
      assert(rowsOf(spark.table(name)) === Seq("[mine]"))
    } finally spark.catalog.dropTempView(name)
  }

  private def asofWant: Seq[String] = {
    val l = spark.table("lx_l").as("l")
    val r = spark.table("lx_r").as("r")
    rowsOf(l.join(r, col("l.k") === col("r.k") &&
        col("l.t") >= col("r.t") && col("r.tag") =!= "l.k")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("l.k"), col("l.t")).orderBy(col("r.t").desc)))
      .where(col("rn") === 1).select(col("l.k"), col("l.t"), col("r.t")))
  }

  test("ASOF JOIN leaves a left-reference-shaped string literal alone") {
    assert(run("SELECT l.k, l.t, r.t AS rt FROM lx_l l ASOF JOIN lx_r r " +
      "ON l.k = r.k AND l.t >= r.t AND r.tag != 'l.k'") === asofWant)
  }

  test("ASOF JOIN: <> is no inequality; it filters the pick") {
    assert(run("SELECT l.k, l.t, r.t AS rt FROM lx_l l ASOF JOIN lx_r r " +
      "ON l.k = r.k AND l.t >= r.t AND r.tag <> \"l.k\"") === asofWant)
  }

  test("transaction control reads tokens: comments and a trailing ; pass") {
    val g = fresh()
    g.sql("BEGIN /* tx */ ;")
    intercept[IllegalArgumentException](g.sql("-- again\nBEGIN"))
    g.sql("ROLLBACK -- nothing staged")
  }
}
