package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Catalog, Txn}
import graft.streaming.StreamOps

/**
 * cdc_ingest: bulk upserts with a streaming consumer and explicit
 * maintenance, on a durable orders table (150,000 rows) with
 * `autoCompact = false`. One op is one cycle:
 *
 *   1. MERGE a 3,000-row batch (2/3 updates of existing keys, 1/3 new
 *      keys) through `Catalog.commit(Txn.mergeInto)`;
 *   2. drain the change feed from the last drained version
 *      (`StreamOps.changeFeed` + `drainAppend`);
 *   3. run `Catalog.maybeCompact(preserveHistory = true)`.
 *
 * This is the drain-then-maintain order `changeFeed` documents: a fold
 * before the drain would retire the commit's change events before the
 * consumer read them. It is the only workload with bulk writes, a
 * streaming consumer and the history-preserving fold. The fold ratio is
 * set so that a fold falls every other cycle, and the run stops only right
 * after a fold, so every run ends at the same point of the sawtooth.
 */
final class Cdc(spark: SparkSession, wh: String, seed: Long, tr: Tracer, fail: Failures)
    extends Workload {
  private val T = "orders"
  private val rows = 150000
  private val batch = 3000
  private val foldRatio = 0.03
  private val cat = new Catalog(spark, wh, autoCompact = false)
  def tableDir = new java.io.File(new java.net.URI(wh).getPath, T)
  private val scratch = new java.io.File(new java.net.URI(
    spark.conf.get("spark.graft.scratchDir")).getPath)

  /** Model: rows the merges wrote; an untouched fixture key holds its
    * generated row. */
  private val model = mutable.LongMap.empty[Order]
  private def current(k: Long): Order = model.getOrElse(k, Gen.order(seed, k))
  private var nextKey = rows + 1L
  private var lastVer = 0L
  private var lastFolded = false
  private var folds = 0
  var logicalBytes = 0L

  val minOps = 5
  def boundary(i: Int): Boolean = lastFolded

  def setup(): Double = {
    lastVer = cat.createTable(T, "k", Gen.ordersFixture(spark, seed, rows)).currentVersion
    0.0
  }

  def warmup(): Unit = { cycle(1000000); logicalBytes = 0 }

  def op(i: Int): Seq[Sample] = tr.op(i, "cycle")(cycle(i))

  /** 2/3 distinct existing keys with new values, 1/3 new keys. */
  private def nextBatch(i: Int): Seq[Order] = {
    val upd = mutable.LinkedHashSet.empty[Long]
    var j = 0L
    while (upd.size < batch * 2 / 3) {
      upd += 1 + Gen.pick(seed, 400 + i, j, nextKey - 1)
      j += 1
    }
    val fresh = (0 until batch - upd.size).map { _ => val k = nextKey; nextKey += 1; k }
    (upd.toSeq ++ fresh).map(k => Gen.order(seed, k, 500 + i))
  }

  private def cycle(i: Int): Seq[Sample] = {
    val rowsIn = nextBatch(i)
    val df = Gen.ordersFrame(spark, rowsIn)
    val (t, mergeMs) = timed {
      tr.span("Catalog.commit", files = true)(cat.commit(T, Txn.empty.mergeInto(df, Order.dataCols)))
    }
    val committedAt = System.nanoTime
    val ver = t.currentVersion
    logicalBytes += rowsIn.map(_.logicalBytes).sum
    rowsIn.foreach(o => model(o.k) = o)

    val (drained, drainMs) = timed {
      val feed = tr.span("StreamOps.changeFeed")(StreamOps.changeFeed(spark, cat, T, startingVersion = lastVer))
      val out = tr.span("StreamOps.drainAppend")(StreamOps.drainAppend(spark, feed))
      val rs = tr.span("collect")(out.collect())
      tr.note("rows_out", rs.length)
      rs
    }
    val lagMs = (System.nanoTime - committedAt) / 1e6
    checking {
      // exactly this commit's rows, each once, as upserts
      val got = drained.map(r => (r.getAs[Long]("commit_ver"), r.getAs[String]("op"), Order.of(r)))
      fail.check(s"cycle $i: drained ${got.length} rows for version $ver, want ${rowsIn.size}")(
        got.length == rowsIn.size && got.forall(g => g._1 == ver && g._2 == "upsert") &&
          got.map(_._3).toSet == rowsIn.toSet)
      tr.note("checkpoint_bytes", checkpointBytes())
    }
    lastVer = ver

    val (folded, compactMs) = timed {
      tr.span("Catalog.maybeCompact", files = true) {
        val f = cat.maybeCompact(T, foldRatio, preserveHistory = true)
        tr.note("folded", if (f) 1 else 0)
        f
      }
    }
    lastFolded = folded
    if (folded) folds += 1
    Seq(Sample(i, "write", "merge-api", mergeMs), Sample(i, "read", "drain-api", drainMs),
      Sample(i, "feed", "feed-lag", lagMs), Sample(i, "maint", if (folded) "fold" else "check", compactMs))
  }

  /** Bytes of the newest drain's streaming checkpoint. */
  private def checkpointBytes(): Double =
    Option(scratch.listFiles).map(_.filter(_.getName.startsWith("drain_")))
      .filter(_.nonEmpty).map(_.maxBy(_.lastModified))
      .map(d => Files.bytesUnder(new java.io.File(d, "_ckpt")).toDouble).getOrElse(0.0)

  def finish(snapshotCopy: DataFrame): Unit = {
    val got = snapshotCopy.collect().map(Order.of)
    fail.check(s"final snapshot: ${got.length} rows, model ${nextKey - 1}")(
      got.length == nextKey - 1 && got.map(_.k).distinct.length == got.length &&
        got.forall(o => o.k >= 1 && o.k < nextKey && current(o.k) == o))
  }

  def snapshot(): DataFrame = cat.getTable(T).snapshot
  override def extra: Map[String, Double] = Map("folds" -> folds.toDouble,
    "live_rows" -> (nextKey - 1).toDouble)
}
