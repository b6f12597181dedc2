package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Catalog, Txn}
import graft.sql.GraftSql

/**
 * olap_lineage: analytic reads over a durable lineitem table (300,000
 * rows, 4 lines per order, key `l_orderkey*8 + l_linenumber`; at this
 * size a Q1-style read takes about a second on 4 cores, and each run fits
 * the benchmark's time budget). Setup runs three UPDATE
 * commits, on keys ≡ 0 mod 13, 17 and 19, which leaves ~19% of rows with a
 * second version, below the fold ratio. Nothing writes while measured.
 * Every read runs the snapshot window, a shuffle over the whole lineage,
 * so LineageTable plans and Spark execution dominate; commits, drains and
 * folds do not run, so a change to them must read "no change" here.
 *
 * Schedule: blocks of 5 reads in a seeded order per block: a Q1-style
 * group-by on the latest snapshot, the same at relative version -1, a
 * top-10 ORDER BY, a SUM over 5% of the key range, and the group-by
 * through GraftSql. The oracle is the same query in plain Spark over the
 * fixture with the setup updates applied, computed once during setup.
 */
final class Olap(spark: SparkSession, wh: String, seed: Long, tr: Tracer, fail: Failures)
    extends Workload {
  private val T = "lineitem"
  private val rows = 300000L
  private val cat = new Catalog(spark, wh)
  private val gs = new GraftSql(spark)
  def tableDir = new java.io.File(new java.net.URI(wh).getPath, T)
  def logicalBytes = 0L

  private val shapes = Seq("q1-api", "q1v1-api", "top10-api", "range-api", "q1-sql")
  private def shapeOf(i: Int) = Gen.shuffle(seed, 1, i / 5, shapes)(i % 5)
  val minOps = 10
  def boundary(i: Int): Boolean = i % 5 == 4

  private val maxKey = (rows / 4) * 8 + 4
  private val span5 = maxKey / 20
  private val ranges = (0 until 4).map(j => 1 + Gen.pick(seed, 7, j, maxKey - span5))

  /** The generated fixture, in plain Spark. */
  private def fixture: DataFrame = {
    val h = xxhash64(col("id"), lit(seed))
    val h2 = xxhash64(col("id"), lit(seed + 1))
    val words = array(Seq("regular", "final", "ironic", "even", "bold", "silent",
      "pending", "express", "unusual", "quiet").map(lit): _*)
    spark.range(0, rows).select(
      ((col("id") / 4).cast("long") + 1).as("l_orderkey"),
      (pmod(col("id"), lit(4L)) + 1).as("l_linenumber"),
      (pmod(h, lit(50L)) + 1).cast("double").as("l_quantity"),
      (pmod(h2, lit(10000000L)) / 100.0).as("l_extendedprice"),
      (pmod(shiftright(h, 8), lit(11L)) / 100.0).as("l_discount"),
      (pmod(shiftright(h, 16), lit(9L)) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (pmod(shiftright(h, 24), lit(3L)) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (pmod(shiftright(h, 26), lit(2L)) + 1).cast("int")).as("l_linestatus"),
      date_add(lit("1992-01-02").cast("date"), pmod(shiftright(h, 28), lit(2526L)).cast("int")).as("l_shipdate"),
      concat_ws(" ", element_at(words, (pmod(shiftright(h2, 8), lit(10L)) + 1).cast("int")),
        element_at(words, (pmod(shiftright(h2, 16), lit(10L)) + 1).cast("int")),
        element_at(words, (pmod(shiftright(h2, 24), lit(10L)) + 1).cast("int"))).as("l_comment"))
      .withColumn("k", col("l_orderkey") * 8 + col("l_linenumber"))
  }

  /** The three setup updates: predicate, assignments, and the logical
    * bytes each changed row submits (key plus assigned fields). */
  private val updates: Seq[(Column, Map[String, Column], Long)] = Seq(
    (col("k") % 13 === 0, Map("l_quantity" -> (col("l_quantity") + 1)), 16L),
    (col("k") % 17 === 0, Map("l_extendedprice" -> (col("l_extendedprice") + 1.0),
      "l_discount" -> lit(0.1)), 24L),
    (col("k") % 19 === 0, Map("l_returnflag" -> lit("R"), "l_tax" -> lit(0.08)), 17L))

  /** Plain-Spark state: every update applied (latest), or each record's
    * newest update left out (relative version -1: an update shows there
    * only when a later update also hit the record). */
  private def applied(df: DataFrame, prev: Boolean): DataFrame =
    updates.zipWithIndex.foldLeft(df) { case (d, ((p, set, _), u)) =>
      val later = updates.drop(u + 1).map(_._1).foldLeft(lit(false))(_ || _)
      val hit = if (prev) p && later else p
      set.foldLeft(d) { case (d2, (c, e)) => d2.withColumn(c, when(hit, e).otherwise(col(c))) }
    }

  private def q1(df: DataFrame): DataFrame =
    df.where(col("l_shipdate") <= lit("1998-09-02").cast("date"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), sum("l_extendedprice").as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        avg("l_quantity").as("avg_qty"), avg("l_extendedprice").as("avg_price"),
        avg("l_discount").as("avg_disc"), count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  private val q1Sql =
    s"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
       |  SUM(l_extendedprice) AS sum_base_price,
       |  SUM(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
       |  SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       |  AVG(l_quantity) AS avg_qty, AVG(l_extendedprice) AS avg_price,
       |  AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
       |FROM $T WHERE l_shipdate <= DATE '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin
  private def top10(df: DataFrame): DataFrame =
    df.orderBy(col("l_extendedprice").desc, col("k")).limit(10).select("k", "l_extendedprice")
  private def rangeSum(df: DataFrame, lo: Long): DataFrame =
    df.where(col("k").between(lo, lo + span5 - 1))
      .agg(sum("l_extendedprice").as("s"), count(lit(1)).as("n"))
  private def rangeApi(t: graft.core.LineageTable, lo: Long): DataFrame =
    t.keyRange(lo, lo + span5 - 1).agg(sum("l_extendedprice").as("s"), count(lit(1)).as("n"))

  private var expected = Map.empty[String, Array[Row]]

  def setup(): Double = {
    val fx = fixture.cache()
    cat.createTable(T, "k", fx)
    updates.zipWithIndex.foreach { case ((p, set, _), u) =>
      val bw0 = Counters.bytesWritten()
      val (_, ms) = timed(cat.commit(T, Txn.empty.update(p, set)))
      setupBytesWritten += Counters.bytesWritten() - bw0
      setupSamples += Sample(-1 - u, "write", s"setup-update-$u", ms)
    }
    gs.register(T, cat, T)
    // oracle preparation, excluded from setup_s
    val t0 = System.nanoTime
    val latest = applied(fx, prev = false)
    val prev = applied(fx, prev = true)
    setupLogicalBytes = updates.map { case (p, _, b) => fx.where(p).count() * b }.sum
    expected = Map("q1" -> q1(latest).collect(), "q1v1" -> q1(prev).collect(),
      "top10" -> top10(latest).collect()) ++
      ranges.map(lo => s"range$lo" -> rangeSum(latest, lo).collect())
    fx.unpersist(blocking = true)
    (System.nanoTime - t0) / 1e9
  }

  def warmup(): Unit = Seq("q1v1-api", "q1-sql").zipWithIndex.foreach { case (s, j) => run(1000000 + j, s) }

  def op(i: Int): Seq[Sample] = {
    val shape = shapeOf(i)
    tr.op(i, shape)(run(i, shape))
  }

  private def run(i: Int, shape: String): Seq[Sample] = {
    val lo = ranges(Gen.pick(seed, 8, i, ranges.size).toInt)
    val key = shape match {
      case "q1-api" | "q1-sql" => "q1"
      case "q1v1-api" => "q1v1"
      case "top10-api" => "top10"
      case "range-api" => s"range$lo"
    }
    val (got, ms) = timed {
      val df =
        if (shape == "q1-sql") tr.span("GraftSql.sql")(gs.sql(q1Sql))
        else {
          val t = tr.span("Catalog.getTable")(cat.getTable(T))
          tr.span("LineageTable.plan") {
            shape match {
              case "q1-api" => q1(t.snapshot)
              case "q1v1-api" => q1(t.asOfRelative(-1))
              case "top10-api" => top10(t.snapshot)
              case "range-api" => rangeApi(t, lo)
            }
          }
        }
      val rs = tr.span("collect")(df.collect())
      tr.note("rows_out", rs.length)
      rs
    }
    checking {
      val want = expected(key)
      fail.check(s"op $i $shape: got ${got.toSeq} want ${want.toSeq}")(
        got.length == want.length && got.zip(want).forall { case (a, b) => sameRow(a, b) })
    }
    Seq(Sample(i, "read", shape, ms))
  }

  /** Exact on keys and counts; doubles to 1e-9 relative, since Spark sums
    * in whatever order its partitions finish. */
  private def sameRow(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall { j =>
      (a.get(j), b.get(j)) match {
        case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
        case (x, y) => x == y
      }
    }

  def finish(snapshotCopy: DataFrame): Unit = {
    val n = snapshotCopy.count()
    fail.check(s"final snapshot has $n rows, want $rows")(n == rows)
  }

  def snapshot(): DataFrame = cat.getTable(T).snapshot
}
