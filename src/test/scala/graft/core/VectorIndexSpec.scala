package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Similarity

/** Durable IVF vector index: train once ([[Catalog.createVectorIndex]]),
  * probe from any later session ([[Similarity.ivfProbePrebuilt]]) with no
  * re-training. Staleness is advisory — centroids are a partition hint,
  * never a correctness input. */
class VectorIndexSpec extends SparkSpec {

  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def queries = embeddings.where(col("vec_id") < 3)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  test("index persists; a FRESH catalog probes identically to inline training") {
    val wh = Files.createTempDirectory("graft_vecidx_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings)
    assert(cat.vectorIndex("e").isEmpty)
    cat.createVectorIndex("e", "embedding", nCentroids = 8, iters = 1)

    // reopen: a different handle (different session, in deployment)
    val cat2 = new Catalog(spark, wh)
    val Some((embCol, builtSeq, cs)) = cat2.vectorIndex("e")
    assert(embCol === "embedding")
    assert(builtSeq === cat2.getTable("e").opSeq)
    assert(cs.map(_._1) === cs.map(_._1).sorted, "cid-ascending")

    // the stored centroids ARE the deterministic trained set
    val direct = Similarity.collectCentroids(
      Similarity.trainedCentroids(embeddings, 8, 1))
    assert(cs.map(_._1) === direct.map(_._1))
    cs.zip(direct).foreach { case ((_, a), (_, b)) =>
      assert(a.toSeq === b.toSeq) }

    // prebuilt probe ≡ inline build+train probe, bit for bit
    val corpus = cat2.getTable("e").snapshot
      .select(col("vec_id"), col("embedding"))
    val pre = Similarity.ivfProbePrebuilt(corpus, queries, 4, cs, nProbe = 2)
    val inline = Similarity.ivfBuildProbe(embeddings, queries, 4,
      nCentroids = 8, nProbe = 2, trainIters = 1)
    assert(pre.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq ===
      inline.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq)
  }

  test("reading the index starts only its collect job") {
    // the sidecar reads under its footer schema; a schema-less read
    // started an inference job before the collect
    val wh = Files.createTempDirectory("graft_vecidx_jobs_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings)
    cat.createVectorIndex("e", "embedding", nCentroids = 8, iters = 1)
    cat.vectorIndex("e") // warm up
    val (idx, jobs) = jobsOf(cat.vectorIndex("e"))
    assert(jobs <= 1, s"vectorIndex ran $jobs jobs")
    assert(idx.exists(_._3.nonEmpty))
  }

  test("staleness is advisory: probes after commits stay exact IVF over the live snapshot") {
    val wh = Files.createTempDirectory("graft_vecidx_stale_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings)
    cat.createVectorIndex("e", "embedding", nCentroids = 8, iters = 1)
    val Some((_, builtSeq, cs)) = cat.vectorIndex("e")

    // the table moves on; the index does not
    cat.commit("e", Txn.empty.delete(col("vec_id") % 97 === 0))
    assert(cat.getTable("e").opSeq > builtSeq, "index is now stale")

    // stale-index probes run against the LIVE snapshot: deleted vectors
    // can never surface, every query still fills its k, and each
    // reported dot is the true exact dot (checked against dotHof, the
    // declarative semantic reference)
    val live = cat.getTable("e").snapshot
      .select(col("vec_id"), col("embedding"))
    val probed = Similarity.ivfProbePrebuilt(live, queries, 4, cs, nProbe = 1)
    assert(probed.where(col("vec_id") % 97 === 0).count() === 0L)
    assert(probed.groupBy("qid").count().collect().map(_.getLong(1)).toSet
      === Set(4L))
    val recheck = probed.join(live, "vec_id")
      .join(queries.withColumnRenamed("qid", "q2"), col("qid") === col("q2"))
      .select(col("dot"),
        Similarity.dotHof(col("qe"), col("embedding")).as("ref"))
      .collect()
    recheck.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("IVF-PQ index persists; a FRESH catalog probes identically to the inline build") {
    val wh = Files.createTempDirectory("graft_ivfpq_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings)
    assert(cat.ivfPqIndex("e").isEmpty)
    cat.createIvfPqIndex("e", "embedding", nCentroids = 8, m = 4,
      codebookSize = 4)

    // reopen with a different handle; the stored model + codes probe
    // must equal the inline build bit for bit (deterministic build)
    val cat2 = new Catalog(spark, wh)
    val Some((embCol, builtSeq, cs, pm, codes)) = cat2.ivfPqIndex("e")
    assert(embCol === "embedding")
    assert(builtSeq === cat2.getTable("e").opSeq)
    assert(pm.m === 4)
    assert(codes.columns.toSet === Set("vec_id", "cid", "code_0", "code_1",
      "code_2", "code_3"))
    val live = cat2.getTable("e").snapshot
      .select(col("vec_id"), col("embedding"))
    val pre = Similarity.ivfPqProbePrebuilt(live, codes, queries, 4, 10,
      cs, pm, nProbe = 2)
    val inline = Similarity.ivfPqRerank(embeddings, queries, 4, kCand = 10,
      nCentroids = 8, nProbe = 2, m = 4, codebookSize = 4)
    assert(pre.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq ===
      inline.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq)

    // index VINTAGE semantics: a vector deleted after the build can
    // shortlist from its stale code but must DROP at the re-rank's live
    // join — it can never surface as a neighbor
    cat2.commit("e", Txn.empty.delete(col("vec_id") % 11 === 0))
    val liveNow = cat2.getTable("e").snapshot
      .select(col("vec_id"), col("embedding"))
    val stale = Similarity.ivfPqProbePrebuilt(liveNow, codes, queries, 4, 10,
      cs, pm, nProbe = 2)
    assert(stale.where(col("vec_id") % 11 === 0).count() === 0L)

    cat2.dropIvfPqIndex("e")
    assert(cat2.ivfPqIndex("e").isEmpty)
  }

  test("incremental refresh: delta-built index equals the full rebuild; updates keep stale codes") {
    val wh = Files.createTempDirectory("graft_ivfpq_refresh_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings.where(col("vec_id") < 300))
    cat.createIvfPqIndex("e", "embedding", nCentroids = 8, m = 4,
      codebookSize = 4)
    val Some((_, seq0, _, _, codes0)) = cat.ivfPqIndex("e")
    val nBefore = codes0.count()

    // commit the remainder AFTER the build, then refresh: only the
    // delta's codes append, and built_seq advances
    cat.commit("e", Txn.empty.insert(embeddings.where(col("vec_id") >= 300)))
    cat.refreshIvfPqIndex("e")
    val Some((_, seq1, cs, pm, codes1)) = cat.ivfPqIndex("e")
    assert(seq1 > seq0)
    assert(seq1 === cat.getTable("e").opSeq)
    assert(codes1.count() === embeddings.count())
    assert(codes1.count() - nBefore ===
      embeddings.where(col("vec_id") >= 300).count())

    // refresh ≡ rebuild: probe the refreshed index vs the inline
    // full-corpus build — bit for bit
    val live = cat.getTable("e").snapshot
      .select(col("vec_id"), col("embedding"))
    val viaRefresh = Similarity.ivfPqProbePrebuilt(live, codes1, queries,
      4, 10, cs, pm, nProbe = 2)
    val viaRebuild = Similarity.ivfPqRerank(embeddings, queries, 4,
      kCand = 10, nCentroids = 8, nProbe = 2, m = 4, codebookSize = 4)
    assert(viaRefresh.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq ===
      viaRebuild.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq)

    // a no-change refresh is a no-op (same code count, same built_seq)
    cat.refreshIvfPqIndex("e")
    val Some((_, seq2, _, _, codes2)) = cat.ivfPqIndex("e")
    assert(seq2 === seq1 && codes2.count() === codes1.count())

    // an UPDATED key keeps its stale code (refresh covers additions;
    // the doc'd contract) — no duplicate code rows either
    cat.commit("e", Txn.empty.update(col("vec_id") === 42L,
      Map("embedding" -> array((0 until pm.dims).map(_ => lit(9.9f)): _*))))
    cat.refreshIvfPqIndex("e")
    val Some((_, _, _, _, codes3)) = cat.ivfPqIndex("e")
    assert(codes3.where(col("vec_id") === 42L).count() === 1L)
    assert(codes3.count() === codes1.count())
  }

  test("CALL refresh_ivfpq_index drives the refresh through SQL") {
    val wh = Files.createTempDirectory("graft_ivfpq_refresh_sql_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings.where(col("vec_id") < 300))
    val g = new graft.sql.GraftSql(spark).register("e", cat, "e")
    g.sql("CALL graft.create_ivfpq_index('e', 'embedding', 8, 4, 4)")
    cat.commit("e", Txn.empty.insert(embeddings.where(col("vec_id") >= 300)))
    g.sql("CALL graft.refresh_ivfpq_index('e')")
    val Some((_, seq, _, _, codes)) = cat.ivfPqIndex("e")
    assert(seq === cat.getTable("e").opSeq)
    assert(codes.count() === embeddings.count())
    // refresh without an index is loud
    cat.dropIvfPqIndex("e")
    intercept[IllegalArgumentException](cat.refreshIvfPqIndex("e"))
  }

  test("a physical rewrite since the build makes refresh refuse LOUD") {
    val wh = Files.createTempDirectory("graft_ivfpq_refresh_floor_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings.where(col("vec_id") < 300))
    cat.createIvfPqIndex("e", "embedding", nCentroids = 8, m = 4,
      codebookSize = 4)
    cat.commit("e", Txn.empty.insert(embeddings.where(col("vec_id") >= 300)))
    cat.saveCompacted("e", cat.getTable("e")) // re-stamps history
    val e = intercept[IllegalArgumentException](cat.refreshIvfPqIndex("e"))
    assert(e.getMessage.contains("re-stamped"), e.getMessage)
    // full rebuild is the repair
    cat.createIvfPqIndex("e", "embedding", nCentroids = 8, m = 4,
      codebookSize = 4)
    assert(cat.ivfPqIndex("e").get._5.count() === embeddings.count())
  }

  test("drop removes the sidecar; CALL create/drop_vector_index drive the lifecycle") {
    val wh = Files.createTempDirectory("graft_vecidx_call_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings)
    val g = new graft.sql.GraftSql(spark).register("e", cat, "e")
    g.sql("CALL graft.create_vector_index('e', 'embedding', 8, 1)")
    assert(cat.vectorIndex("e").isDefined)
    g.sql("CALL graft.drop_vector_index('e')")
    assert(cat.vectorIndex("e").isEmpty)
    g.sql("CALL graft.create_ivfpq_index('e', 'embedding', 8, 4, 4)")
    assert(cat.ivfPqIndex("e").isDefined)
    g.sql("CALL graft.drop_ivfpq_index('e')")
    assert(cat.ivfPqIndex("e").isEmpty)
    // loud on a missing column
    intercept[IllegalArgumentException](
      cat.createVectorIndex("e", "nope"))
  }
}
