package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic generators: every input is a pure function of
  * (seed, salt, index), so the same seed yields the same fixture and the
  * same op schedule in every run and on every commit. */
object Gen {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, salt: Long, i: Long): Long = mix(mix(seed * 1000003L + salt) ^ i)
  /** Uniform draw in [0, n). */
  def pick(seed: Long, salt: Long, i: Long, n: Long): Long =
    java.lang.Math.floorMod(h(seed, salt, i), n)

  /** Seeded permutation of `xs`, one per (salt, block). */
  def shuffle[A](seed: Long, salt: Long, block: Long, xs: Seq[A]): Seq[A] =
    xs.zipWithIndex.sortBy { case (_, j) => h(seed, salt, block * 1000 + j) }.map(_._1)

  private val words = Vector("furious", "sly", "careful", "blithe", "quick",
    "fluffy", "slow", "quiet", "ruthless", "thin", "close", "dogged", "daring",
    "brave", "stealthy", "permanent", "enticing", "idle", "busy", "regular",
    "final", "ironic", "even", "bold", "silent", "pending", "express", "unusual")
  val statuses = Vector("O", "F", "P")
  val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** An orders row (TPC-H shape, sf0.1 sizes). Strings carry no quotes,
    * so SQL literals need no escaping. */
  def order(seed: Long, k: Long, salt: Long = 0): Order = {
    val r = h(seed, 11 + salt, k)
    val nWords = 3 + java.lang.Math.floorMod(r >>> 40, 5)
    val comment = (0 until nWords.toInt)
      .map(j => words(java.lang.Math.floorMod(h(seed, 12 + salt, k * 8 + j), words.size).toInt))
      .mkString(" ")
    Order(k,
      custkey = 1 + java.lang.Math.floorMod(r, 15000L),
      status = statuses(java.lang.Math.floorMod(r >>> 16, 3L).toInt),
      totalprice = java.lang.Math.floorMod(h(seed, 13 + salt, k), 50000000L) / 100.0,
      orderdate = java.time.LocalDate.of(1992, 1, 1)
        .plusDays(java.lang.Math.floorMod(r >>> 24, 2400L)).toString,
      priority = priorities(java.lang.Math.floorMod(r >>> 32, 5L).toInt),
      clerk = f"Clerk#${1 + java.lang.Math.floorMod(r >>> 8, 1000L)}%09d",
      comment = comment)
  }

  def ordersFrame(spark: SparkSession, rows: Seq[Order]): DataFrame =
    spark.createDataFrame(rows)

  /** Orders with keys 1..n, generated by the executors in parallel. */
  def ordersFixture(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(1, n + 1).map(k => order(seed, k)).toDF()
  }
}

final case class Order(k: Long, custkey: Long, status: String, totalprice: Double,
                       orderdate: String, priority: String, clerk: String,
                       comment: String) {
  def sqlValues: String =
    s"($k, $custkey, '$status', ${Order.lit(totalprice)}, '$orderdate', " +
      s"'$priority', '$clerk', '$comment')"
  /** Logical size the client submits: 8 B per numeric field plus the
    * UTF-8 length of each string. */
  def logicalBytes: Long = 8 * 3 + Seq(status, orderdate, priority, clerk, comment)
    .map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
}

object Order {
  val dataCols: Seq[String] =
    Seq("custkey", "status", "totalprice", "orderdate", "priority", "clerk", "comment")
  /** A double as a SQL literal that parses back to the same double. */
  def lit(d: Double): String = s"CAST('${java.lang.Double.toString(d)}' AS DOUBLE)"
  def of(r: org.apache.spark.sql.Row): Order =
    Order(r.getAs[Long]("k"), r.getAs[Long]("custkey"), r.getAs[String]("status"),
      r.getAs[Double]("totalprice"), r.getAs[String]("orderdate"),
      r.getAs[String]("priority"), r.getAs[String]("clerk"), r.getAs[String]("comment"))
}

/** One timed sample. `kind` is read, write or feed; `shape` names the op
  * shape (e.g. update-sql); `ms` is the latency of the user-visible call. */
final case class Sample(op: Int, kind: String, shape: String, ms: Double)

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Geometric mean over shapes of each shape's median latency: every op
    * shape weighs the same however often the schedule ran it, and every
    * sample counts, where a median over a mix of shapes would land on one
    * or two samples at a shape boundary. */
  def shapeMean(ss: Seq[Sample]): Double = {
    val meds = ss.groupBy(_.shape).values.map(g => median(g.map(_.ms)))
    if (meds.isEmpty) Double.NaN else math.exp(meds.map(math.log).sum / meds.size)
  }
  /** The highest order statistic with at least ten samples beyond it, and
    * the percentile it stands for; None below 20 samples, where that
    * statistic would sit below the median. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 20) None
    else {
      val s = xs.sorted
      val i = s.size - 11
      Some((s(i), 100.0 * (i + 1) / s.size))
    }
}

/** Failure bookkeeping shared by every workload: an op that throws or
  * fails its oracle check counts as failed, is reported on stderr, and the
  * run goes on. */
final class Failures {
  var attempted = 0
  var failed = 0
  val messages = scala.collection.mutable.ArrayBuffer.empty[String]
  def check(what: => String)(ok: Boolean): Unit =
    if (!ok) fail(what)
  def fail(what: String): Unit = {
    failed += 1
    if (messages.size < 20) messages += what
    System.err.println(s"[perfbench] FAILED: $what")
  }
}

/** The interface between the driver loop and a workload. */
trait Workload {
  /** Fixture load, table creation and setup commits. Returns the time
    * spent preparing the oracle, which setup_s excludes. */
  def setup(): Double
  /** Untimed warm-up ops of the same shapes as the measured ones. */
  def warmup(): Unit
  /** Run scheduled op `i`; return its samples. Check time is reported
    * through `checkMs` so the driver can exclude it from wall time. */
  def op(i: Int): Seq[Sample]
  /** Ops every run completes: whole blocks of the schedule (and, for
    * cdc_ingest, three folds), so that each run measures the same op mix. */
  def minOps: Int
  /** Whether the loop may stop after op `i` (a schedule boundary). */
  def boundary(i: Int): Boolean
  /** Final check, outside timing, of a plain copy of the live snapshot. */
  def finish(snapshotCopy: DataFrame): Unit
  /** Directory of the benchmark table. */
  def tableDir: java.io.File
  /** Bytes the client submitted during the measured phase. */
  def logicalBytes: Long
  /** The live snapshot, for the space-amplification baseline. */
  def snapshot(): DataFrame
  /** Workload-specific numbers for the run's detail record. */
  def extra: Map[String, Double] = Map.empty
  /** Writes made during setup: a workload that writes nothing while
    * measured reports its setup commits as its write samples. */
  val setupSamples = scala.collection.mutable.ArrayBuffer.empty[Sample]
  var setupBytesWritten = 0.0
  var setupLogicalBytes = 0L
  var checkMs = 0.0

  /** Time `body` in ms. */
  protected def timed[A](body: => A): (A, Double) = {
    val t = System.nanoTime
    val a = body
    (a, (System.nanoTime - t) / 1e6)
  }
  /** Run an oracle check, adding its time to `checkMs`. */
  protected def checking(body: => Unit): Unit = {
    val t = System.nanoTime
    try body finally checkMs += (System.nanoTime - t) / 1e6
  }
}

object Files {
  def bytesUnder(f: java.io.File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)
  def countUnder(f: java.io.File, pred: java.io.File => Boolean): Int =
    if (!f.exists) 0
    else if (f.isFile) (if (pred(f)) 1 else 0)
    else Option(f.listFiles).map(_.map(countUnder(_, pred)).sum).getOrElse(0)
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
