package graft.core

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Crash order of the durable ANN sidecars: a (re)build deletes the
  * provenance file first and writes it last, so a crash at any point
  * reopens as "no index" or as the complete new index — never as old
  * provenance over half-rewritten parts. A refresh that crashes leaves a
  * readable index, and re-running it converges to the uninterrupted
  * result. */
class SidecarCrashSpec extends SparkSpec {

  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def vecs(cs: Seq[(Long, Array[Float])]) =
    cs.map { case (cid, v) => (cid, v.toSeq) }

  /** One index kind on table `e`: its sidecar dir, its crash points in
    * write order (the last one is the provenance write), a build at
    * parameter set 0 or 1, and what a FRESH handle reads back. */
  private case class Kind(dir: String, points: Seq[String],
                          build: (Catalog, Int) => Unit,
                          refresh: Catalog => Unit,
                          drop: Catalog => Unit,
                          read: (Catalog, String) => Option[Any])

  private val vector = Kind("_vecindex", Seq("unsealed _vecindex", "wrote _vecindex"),
    (c, v) => c.createVectorIndex("e", "embedding", nCentroids = 8 - 4 * v),
    _ => (),
    _.dropVectorIndex("e"),
    (c, _) => c.vectorIndex("e").map { case (e, s, cs) => (e, s, vecs(cs)) })

  private val ivfPq = Kind("_ivfpq", Seq("unsealed _ivfpq/cents",
      "wrote _ivfpq/books", "wrote _ivfpq/codes", "wrote _ivfpq/cents"),
    (c, v) => c.createIvfPqIndex("e", "embedding", nCentroids = 8 - 4 * v,
      m = 4 - 2 * v, codebookSize = 8),
    _.refreshIvfPqIndex("e"),
    _.dropIvfPqIndex("e"),
    (c, _) => c.ivfPqIndex("e").map { case (e, s, cs, pm, codes) =>
      (e, s, vecs(cs), pm.books.map(vecs), rows(codes)) })

  // adj and seeds are read as sets: a refresh re-run after a crash
  // between the adj and graph appends re-appends duplicate adj rows,
  // which the beam search's per-frontier dedupe tolerates
  private val knn = Kind("_knn", Seq("unsealed _knn/meta", "wrote _knn/graph",
      "wrote _knn/adj", "wrote _knn/seeds", "wrote _knn/meta"),
    (c, v) => c.createKnnIndex("e", "embedding", k = 5 - v, rounds = 1,
      descentK = 10 - 2 * v),
    _.refreshKnnIndex("e"),
    _.dropKnnIndex("e"),
    (c, wh) => c.knnIndex("e").map { case (e, k, s, graph) =>
      (e, k, s, rows(graph),
        rows(spark.read.parquet(s"$wh/e/_knn/adj").distinct()),
        rows(spark.read.parquet(s"$wh/e/_knn/seeds"))) })

  private def crashAt(cat: Catalog, point: String)(op: => Unit): Unit = {
    cat.crashPoints = Set(point)
    try {
      val e = intercept[IllegalStateException](op)
      assert(e.getMessage === s"simulated crash at $point")
    } finally cat.crashPoints = Set.empty
  }

  /** A catalog over a fresh warehouse holding table `e`, and a way to
    * save a sidecar's files and put them back (cheaper than rebuilding
    * the index before every crash). */
  private def warehouse(kind: Kind): (String, Catalog, () => () => Unit) = {
    val wh = Files.createTempDirectory("graft_sidecar_crash_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings)
    val live = new File(s"$wh/e/${kind.dir}")
    def save(): () => Unit = {
      val copy = Files.createTempDirectory("graft_sidecar_saved_").toFile
      FileUtils.copyDirectory(live, copy)
      () => { FileUtils.deleteDirectory(live); FileUtils.copyDirectory(copy, live) }
    }
    (wh, cat, save _)
  }

  for (kind <- Seq(vector, ivfPq, knn)) {
    test(s"${kind.dir} build and drop: a crash at every point reopens to " +
        "no index or to the complete new index") {
      val (wh, cat, save) = warehouse(kind)
      def reopen() = kind.read(new Catalog(spark, wh), wh)
      kind.build(cat, 0)
      val old = reopen()
      val restoreOld = save()
      kind.build(cat, 1)
      val fresh = reopen()
      assert(old.isDefined && fresh.isDefined && old != fresh)
      for (point <- kind.points; rebuild <- Seq(false, true)) {
        if (rebuild) restoreOld()
        else FileUtils.deleteDirectory(new File(s"$wh/e/${kind.dir}"))
        crashAt(cat, point)(kind.build(cat, 1))
        // only a crash after the provenance write sees the new index
        val expect = if (point == kind.points.last) fresh else None
        assert(reopen() === expect, s"crash at '$point' (rebuild = $rebuild)")
      }
      // drop deletes the provenance first
      restoreOld()
      crashAt(cat, kind.points.head)(kind.drop(cat))
      assert(reopen().isEmpty)
    }
  }

  for ((kind, points) <- Seq(
      ivfPq -> Seq("wrote _ivfpq/codes", "wrote _ivfpq/cents"),
      knn -> Seq("wrote _knn/adj", "wrote _knn/graph", "wrote _knn/meta"))) {
    test(s"${kind.dir} refresh: a crash at every point leaves a readable " +
        "index and a re-run converges to the uninterrupted refresh") {
      val (wh, cat, save) = warehouse(kind)
      def reopen() = kind.read(new Catalog(spark, wh), wh)
      val n = embeddings.count()
      kind.build(cat, 0)
      cat.commit("e", Txn.empty.insert(embeddings.where(col("vec_id") < 3)
        .select((col("vec_id") + lit(n + 1000)).as("vec_id"), col("embedding"))))
      val restoreBuilt = save()
      kind.refresh(cat)
      val expect = reopen()
      for (point <- points) {
        restoreBuilt()
        crashAt(cat, point)(kind.refresh(cat))
        assert(reopen().isDefined, s"crash at '$point' lost the index")
        kind.refresh(cat)
        assert(reopen() === expect, s"re-run after a crash at '$point'")
      }
    }
  }
}
