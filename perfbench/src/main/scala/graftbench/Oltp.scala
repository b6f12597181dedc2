package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.core.{Catalog, Txn}
import graft.sql.GraftSql

/**
 * oltp_point: single-row writes and point reads on a durable orders table
 * (150,000 rows, key `k`, default Catalog settings). Every op touches a
 * handful of rows, so its time is graft's per-op floor: catalog
 * resolution, the commit protocol, job launch and the SQL front door. At
 * the default 0.3 ratio nothing folds, so the tail files every write adds
 * pile up and the read amplification they cause shows.
 *
 * Schedule: blocks of 8 ops, 4 writes and 4 reads, in a seeded order per
 * block. Even blocks and odd blocks take each shape through the other
 * interface (Catalog/LineageTable API or GraftSql), so the same shape is
 * measured both ways. Two shapes always use the API: the relative-version
 * read, which has no SQL spelling, and the 3-op transaction, whose SQL
 * spelling (BEGIN..COMMIT) re-materializes the whole snapshot on every
 * statement and takes ~6 s at this size, which no longer measures a
 * per-op floor. Keys are uniform over the live keys.
 */
final class Oltp(spark: SparkSession, wh: String, seed: Long, tr: Tracer, fail: Failures)
    extends Workload {
  private val T = "orders"
  private val rows = 150000
  private val rangeKeys = 4000
  private val cat = new Catalog(spark, wh)
  private val gs = new GraftSql(spark)
  def tableDir = new java.io.File(new java.net.URI(wh).getPath, T)

  /** Model: every version of every key the ops touched, newest first
    * (None = tombstone); an untouched fixture key holds its generated row. */
  private val versions = mutable.LongMap.empty[List[Option[Order]]]
  private val live = mutable.ArrayBuffer.empty[Long]
  private val liveAt = mutable.LongMap.empty[Int]
  private var nextKey = rows + 1L
  var logicalBytes = 0L

  private def history(k: Long): List[Option[Order]] =
    versions.getOrElse(k, if (k >= 1 && k <= rows) List(Some(Gen.order(seed, k))) else Nil)
  private def addLive(k: Long): Unit = { liveAt(k) = live.size; live += k }
  private def removeLive(k: Long): Unit = {
    val i = liveAt.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; liveAt(last) = i }
  }
  private def current(k: Long): Order = history(k).head.get
  private def pickLive(i: Int, salt: Int): Long = live(Gen.pick(seed, 100 + salt, i, live.size).toInt)

  private val evenBlock = Seq("update-api", "insert-sql", "delete-api", "txn-api",
    "point-api", "point-sql", "version-api", "range-sql")
  private val oddBlock = Seq("update-sql", "insert-api", "delete-sql", "txn-api",
    "point-sql", "point-api", "version-api", "range-api")
  private def shapeOf(i: Int): String = {
    val b = i / 8
    Gen.shuffle(seed, 1, b, if (b % 2 == 0) evenBlock else oddBlock)(i % 8)
  }
  val minOps = 24
  def boundary(i: Int): Boolean = i % 8 == 7

  def setup(): Double = {
    (1L to rows).foreach(addLive)
    cat.createTable(T, "k", Gen.ordersFixture(spark, seed, rows))
    gs.register(T, cat, T)
    0.0
  }

  /** One op of each write path and each read path, outside the schedule. */
  def warmup(): Unit = {
    Seq("update-api", "update-sql", "insert-api", "point-api", "point-sql", "range-api")
      .zipWithIndex.foreach { case (s, j) => run(1000000 + j, s) }
    logicalBytes = 0
  }

  def op(i: Int): Seq[Sample] = {
    val shape = shapeOf(i)
    tr.op(i, shape)(run(i, shape))
  }

  private def newValues(i: Int, o: Order): Order =
    o.copy(totalprice = Gen.pick(seed, 200, i, 50000000L) / 100.0,
      status = Gen.statuses(Gen.pick(seed, 201, i, 3).toInt))
  private def newRow(i: Int): Order = { val k = nextKey; nextKey += 1; Gen.order(seed, k, 300 + i) }

  private def commitApi(txn: Txn): Unit =
    tr.span("Catalog.commit", files = true)(cat.commit(T, txn))
  private def sqlDml(stmt: String): Unit =
    tr.span("GraftSql.sql.dml", files = true)(gs.sql(stmt))

  private def updated(k: Long, o: Order): Unit = versions(k) = Some(o) :: history(k)
  private def inserted(o: Order): Unit = { versions(o.k) = List(Some(o)); addLive(o.k) }
  private def deleted(k: Long): Unit = { versions(k) = None :: history(k); removeLive(k) }
  private def updateBytes(o: Order) = 8L + 8 + o.status.length

  private def run(i: Int, shape: String): Seq[Sample] = shape match {
    case "update-api" | "update-sql" =>
      val k = pickLive(i, 0)
      val o = newValues(i, current(k))
      val (_, ms) = timed {
        if (shape == "update-api")
          commitApi(Txn.empty.update(col("k") === k,
            Map("totalprice" -> lit(o.totalprice), "status" -> lit(o.status))))
        else sqlDml(s"UPDATE $T SET totalprice = ${Order.lit(o.totalprice)}, " +
          s"status = '${o.status}' WHERE k = $k")
      }
      updated(k, o); logicalBytes += updateBytes(o)
      Seq(Sample(i, "write", shape, ms))

    case "insert-api" | "insert-sql" =>
      val o = newRow(i)
      val df = Gen.ordersFrame(spark, Seq(o))
      val (_, ms) = timed {
        if (shape == "insert-api") commitApi(Txn.empty.insert(df))
        else sqlDml(s"INSERT INTO $T VALUES ${o.sqlValues}")
      }
      inserted(o); logicalBytes += o.logicalBytes
      Seq(Sample(i, "write", shape, ms))

    case "delete-api" | "delete-sql" =>
      val k = pickLive(i, 1)
      val (_, ms) = timed {
        if (shape == "delete-api") commitApi(Txn.empty.delete(col("k") === k))
        else sqlDml(s"DELETE FROM $T WHERE k = $k")
      }
      deleted(k); logicalBytes += 8
      Seq(Sample(i, "write", shape, ms))

    case "txn-api" =>
      // update one key, insert one, delete another: one atomic commit
      val k1 = pickLive(i, 2)
      var k2 = pickLive(i, 3)
      var salt = 4
      while (k2 == k1) { k2 = pickLive(i, salt); salt += 1 }
      val o1 = newValues(i, current(k1))
      val o2 = newRow(i)
      val df = Gen.ordersFrame(spark, Seq(o2))
      val (_, ms) = timed {
        commitApi(Txn.empty
          .update(col("k") === k1, Map("totalprice" -> lit(o1.totalprice), "status" -> lit(o1.status)))
          .insert(df)
          .delete(col("k") === k2))
      }
      updated(k1, o1); inserted(o2); deleted(k2)
      logicalBytes += updateBytes(o1) + o2.logicalBytes + 8
      Seq(Sample(i, "write", shape, ms))

    case "point-api" | "point-sql" | "version-api" =>
      val k = pickLive(i, 5)
      val (got, ms) = timed {
        val df =
          if (shape == "point-sql") sqlRead(s"SELECT * FROM $T WHERE k = $k")
          else {
            val t = tr.span("Catalog.getTable")(cat.getTable(T))
            tr.span("LineageTable.plan") {
              if (shape == "point-api") t.snapshot.where(col("k") === k)
              else t.asOfRelative(-1).where(col("k") === k)
            }
          }
        collect(df)
      }
      checking {
        val vs = history(k)
        val want = if (shape == "version-api") vs.lift(1).getOrElse(vs.head) else vs.head
        fail.check(s"op $i $shape k=$k: got ${got.toSeq.map(Order.of)} want $want")(
          got.length == 1 && want.contains(Order.of(got(0))))
      }
      Seq(Sample(i, "read", shape, ms))

    case "range-api" | "range-sql" =>
      val lo = 1 + Gen.pick(seed, 106, i, nextKey - rangeKeys)
      val hi = lo + rangeKeys - 1
      val (got, ms) = timed {
        val df =
          if (shape == "range-sql")
            sqlRead(s"SELECT SUM(totalprice) AS s, COUNT(*) AS n FROM $T WHERE k BETWEEN $lo AND $hi")
          else {
            val t = tr.span("Catalog.getTable")(cat.getTable(T))
            tr.span("LineageTable.plan")(t.keyRange(lo, hi).agg(sum("totalprice").as("s"), count(lit(1)).as("n")))
          }
        collect(df)
      }
      checking {
        var s = 0.0
        var n = 0L
        var k = lo
        while (k <= hi) {
          history(k).headOption.flatten.foreach { o => s += o.totalprice; n += 1 }
          k += 1
        }
        val gs = if (got(0).isNullAt(0)) 0.0 else got(0).getDouble(0)
        fail.check(s"op $i $shape [$lo,$hi]: got ($gs, ${got(0).getLong(1)}) want ($s, $n)")(
          got(0).getLong(1) == n && math.abs(gs - s) <= 1e-9 * math.max(1.0, math.abs(s)))
      }
      Seq(Sample(i, "read", shape, ms))
  }

  /** A SQL read sees API commits only once the table is registered again. */
  private def sqlRead(q: String): DataFrame = {
    tr.span("GraftSql.register")(gs.register(T, cat, T))
    tr.span("GraftSql.sql")(gs.sql(q))
  }
  private def collect(df: DataFrame): Array[org.apache.spark.sql.Row] = {
    val rs = tr.span("collect")(df.collect())
    tr.note("rows_out", rs.length)
    rs
  }

  def finish(snapshotCopy: DataFrame): Unit = {
    val got = snapshotCopy.collect().map(Order.of)
    fail.check(s"final snapshot: ${got.length} rows, model ${live.size}")(
      got.length == live.size && got.map(_.k).distinct.length == got.length &&
        got.forall(o => liveAt.contains(o.k) && current(o.k) == o))
  }

  def snapshot(): DataFrame = cat.getTable(T).snapshot
  override def extra: Map[String, Double] = Map(
    "live_rows" -> live.size.toDouble,
    "tail_files" -> Files.countUnder(new java.io.File(tableDir, "tail"), _.getName.endsWith(".parquet")).toDouble)
}
