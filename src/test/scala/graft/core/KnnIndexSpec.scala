package graft.core

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{KnnGraph, Similarity}

/** Durable kNN-graph index (r12): NN-Descent built once
  * ([[Catalog.createKnnIndex]]), served by beam search from any later
  * session ([[Catalog.knnSearch]]), refreshed at delta cost for
  * additions, deletions lazily dropped at the live-scoring join —
  * the IVF-PQ vintage contract on a graph index. */
class KnnIndexSpec extends SparkSpec {

  private def embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def queries = embeddings.where(col("vec_id") < 3)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))

  test("graph persists; a FRESH handle serves reads identical to inline") {
    val wh = Files.createTempDirectory("graft_knnidx_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings)
    assert(cat.knnIndex("e").isEmpty)
    cat.createKnnIndex("e", "embedding", k = 5, rounds = 2, descentK = 10)

    val cat2 = new Catalog(spark, wh)
    val Some((embCol, k, builtSeq, graph)) = cat2.knnIndex("e")
    // meta k records the STORED degree (r14: the full descent lists
    // persist — deg = max(k, descentK))
    assert(embCol === "embedding" && k === 10)
    assert(builtSeq === cat2.getTable("e").opSeq)
    // the stored graph IS the deterministic NN-Descent result at the
    // stored degree
    val direct = KnnGraph.nnDescent(embeddings, 10, 2, descentK = 10)
    assert(graph.orderBy("vec_id", "rnk").collect().map(_.toSeq).toSeq ===
      direct.orderBy("vec_id", "rnk").collect().map(_.toSeq).toSeq)
    // the build-time `_knn/adj` sidecar IS symmetrize(graph): the set
    // of undirected edges is identical whether symmetrized at build or
    // at read (the serving path banks on this to skip the per-batch
    // union+distinct)
    val storedAdj = spark.read.parquet(s"$wh/e/_knn/adj")
      .collect().map(_.toSeq).toSet
    val readAdj = KnnGraph.symmetrize(graph).collect().map(_.toSeq).toSet
    assert(storedAdj === readAdj)
    // served read ≡ direct beam search over the same graph + live
    // corpus, starting at the SAME stored per-query entry points (r14
    // `_knn/seeds`: nearest-centroid routing → that centroid's lowest-id
    // members) — the sidecar steers, the search semantics are identical
    val seeds = spark.read.parquet(s"$wh/e/_knn/seeds")
    val cs = Similarity.collectCentroids(
      seeds.select(col("cid"), col("ce")).distinct())
    val perQ = Similarity.assignWith(
        queries.select(col("qid"), col("qe").as("embedding")), cs)
      .select(col("qid"), col("cid"))
      .join(seeds.where(col("rnk") <= 4).select(col("cid"), col("vec_id")),
        Seq("cid"))
      .select(col("qid"), col("vec_id"))
    val served = cat2.knnSearch("e", queries, k = 5, beam = 5, hops = 3)
    val inline = KnnGraph.beamSearch(embeddings, KnnGraph.symmetrize(graph),
      queries, k = 5, beam = 5, hops = 3, entries = 4,
      perQuerySeeds = Some(perQ))
    assert(served.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq ===
      inline.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq)
    // 5 ranked rows per query, rank 1 is the query itself (it is in
    // the corpus and reachable from itself through the graph)
    val byQ = served.collect().groupBy(_.getLong(0))
    assert(byQ.size === 3 && byQ.values.forall(_.length === 5))
  }

  test("entry points steer RECALL, never validity (r14 seeds): both " +
      "seeding strategies return k exact-dot rows per query") {
    val wh = Files.createTempDirectory("graft_knnseed_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings)
    cat.createKnnIndex("e", "embedding", k = 5, rounds = 2, descentK = 10)
    val graph = cat.knnIndex("e").get._4
    val adj = KnnGraph.symmetrize(graph)
    val viaCentroid = cat.knnSearch("e", queries, k = 5, beam = 5, hops = 3)
    val viaLowestId = KnnGraph.beamSearch(embeddings, adj, queries,
      k = 5, beam = 5, hops = 3, entries = 4)
    for (df <- Seq(viaCentroid, viaLowestId)) {
      val rows = df.collect()
      val byQ = rows.groupBy(_.getLong(0))
      assert(byQ.size === 3 && byQ.values.forall(_.length === 5),
        "k ranked rows per query regardless of seeding")
      // every (qid, vec_id, dot) is the EXACT dot of that pair — seeds
      // can change which vectors surface, never the scored values
      val exact = Similarity.bruteTopK(embeddings, queries, 1000)
        .select(col("qid"), col("vec_id"), col("dot")).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      rows.foreach { r =>
        assert(exact((r.getLong(0), r.getLong(1))) === r.getDouble(2),
          s"dot mismatch for (${r.getLong(0)}, ${r.getLong(1)})")
      }
      // ranks are the (dot desc, id asc) total order
      byQ.values.foreach { qs =>
        val sorted = qs.sortBy(_.getLong(3))
        assert(sorted.map(r => (-r.getDouble(2), r.getLong(1))).toSeq ===
          sorted.map(r => (-r.getDouble(2), r.getLong(1))).sorted.toSeq)
      }
    }
  }

  test("beam-search recall vs brute force is measured, not assumed") {
    val wh = Files.createTempDirectory("graft_knnrec_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings)
    cat.createKnnIndex("e", "embedding", k = 5, rounds = 3, descentK = 15)
    val qs = embeddings.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val truth = Similarity.bruteTopK(embeddings, qs, 5)
      .select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def recallAt(beam: Int, hops: Int): Double = {
      val got = cat.knnSearch("e", qs, k = 5, beam = beam, hops = hops)
        .select("qid", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
    }
    val r8 = recallAt(8, 3)
    val r16 = recallAt(16, 4)
    println(s"[knn-search] recall@5 beam8/hops3=$r8 beam16/hops4=$r16")
    // the beam/hop budget is the recall knob (the HNSW ef contract):
    // more search work must buy recall, and the wide setting must land
    // high. Floors pinned under the measured values (0.96 / 1.0 on this
    // corpus with the r14 dense-stored graph + centroid seeds; was
    // 0.64 / 0.84 on the k-trimmed graph with global lowest-id seeds)
    // to catch regressions loudly without flaking.
    assert(r16 >= r8 - 1e-9, s"wider beam lost recall: $r8 -> $r16")
    assert(r8 >= 0.9, s"recall@5 beam8 = $r8")
    assert(r16 >= 0.95, s"recall@5 beam16 = $r16")
  }

  test("refresh attaches additions at delta cost; new nodes reachable") {
    val wh = Files.createTempDirectory("graft_knnref_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    val n = embeddings.count()
    cat.createTable("e", "vec_id", embeddings)
    cat.createKnnIndex("e", "embedding", k = 5, rounds = 2, descentK = 10)
    val before = cat.knnIndex("e").get._4.count()
    // commit NEW vectors (shifted copies of the first three, so each
    // new vector's nearest live neighbor is its source — easy to assert)
    val fresh = embeddings.where(col("vec_id") < 3)
      .select((col("vec_id") + lit(n + 1000)).as("vec_id"), col("embedding"))
    cat.commit("e", Txn.empty.insert(fresh))
    cat.refreshKnnIndex("e")
    val Some((_, _, builtSeq, graph)) = cat.knnIndex("e")
    assert(builtSeq === cat.getTable("e").opSeq)
    // delta cost: stored-degree rows per new vector appended, old
    // lists untouched (deg = max(k=5, descentK=10) = 10)
    assert(graph.count() === before + 3 * 10)
    // refresh keeps the durable adjacency symmetrized: appending both
    // edge directions lands the same SET as symmetrizing the whole
    // refreshed graph at read would
    assert(spark.read.parquet(s"$wh/e/_knn/adj")
      .collect().map(_.toSeq).toSet ===
      KnnGraph.symmetrize(graph).collect().map(_.toSeq).toSet)
    // a new node is REACHABLE: querying with its own embedding finds it
    // (the appended new→old edges traverse in reverse via symmetrize)
    val qNew = cat.getTable("e").snapshot
      .where(col("vec_id") >= n + 1000)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val hits = cat.knnSearch("e", qNew, k = 5, beam = 8, hops = 3)
      .where(col("qid") === col("vec_id"))
    assert(hits.count() === 3,
      "each new vector must surface for its own query after refresh")
    // refresh is idempotent at head
    cat.refreshKnnIndex("e")
    assert(cat.knnIndex("e").get._4.count() === before + 3 * 10)
  }

  test("filtered search admits at the ANSWER only (r14): traversal is " +
      "unfiltered, results are the post-filtered scored set") {
    val wh = Files.createTempDirectory("graft_knnflt_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    val withLabel = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
    cat.createTable("e", "vec_id", withLabel)
    cat.createKnnIndex("e", "embedding", k = 5, rounds = 2, descentK = 10)
    val filtered = cat.knnSearch("e", queries, k = 5, beam = 8, hops = 3,
      filter = Some(col("label") === 1)).collect()
    // every admitted row passes the predicate
    val lab1 = withLabel.where(col("label") === 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(filtered.nonEmpty && filtered.forall(r => lab1(r.getLong(1))))
    // admission-only semantics: the filtered answer IS the top-5 of the
    // unfiltered search's full scored set restricted to the predicate —
    // k=10000 captures everything the same (beam, hops, seeds) scored
    val allScored = cat.knnSearch("e", queries, k = 10000, beam = 8,
      hops = 3).collect()
    val expect = allScored.filter(r => lab1(r.getLong(1)))
      .groupBy(_.getLong(0)).view.mapValues {
        _.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(5)
          .map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }.toMap
    val got = filtered.groupBy(_.getLong(0)).view.mapValues {
      _.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
    }.toMap
    assert(got === expect,
      "filtered result diverged from post-filter of the scored set")
    // ranks are consecutive from 1 within each query
    filtered.groupBy(_.getLong(0)).values.foreach { qs =>
      assert(qs.map(_.getLong(3)).sorted.toSeq ===
        (1L to qs.length).toSeq)
    }
  }

  test("deletions never surface (live-scoring join); epoch bump refuses") {
    val wh = Files.createTempDirectory("graft_knndel_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    cat.createTable("e", "vec_id", embeddings)
    cat.createKnnIndex("e", "embedding", k = 5, rounds = 2, descentK = 10)
    // find some id the search surfaces for query 0, then delete it
    val first = cat.knnSearch("e", queries.where(col("qid") === 0), 5)
      .orderBy("rnk").collect()
    val victim = first(1).getLong(1) // rank 2 (rank 1 is the query itself)
    cat.commit("e", Txn.empty.delete(col("vec_id") === victim))
    val after = cat.knnSearch("e", queries.where(col("qid") === 0), 5)
      .collect().map(_.getLong(1)).toSet
    assert(!after.contains(victim),
      "a deleted vector must drop at the live-scoring join")
    // physical rewrite resets the op_seq clock: refresh refuses loud
    cat.vacuum("e")
    val e = intercept[IllegalArgumentException](cat.refreshKnnIndex("e"))
    assert(e.getMessage.contains("rebuild"))
  }

  test("a sidecar without `_knn/adj` (pre-r14) or `_knn/seeds` (sparse " +
      "keys) serves from symmetrize(graph) and refreshes a full adj") {
    val wh = Files.createTempDirectory("graft_knnlegacy_").toString
    val cat = new Catalog(spark, wh, autoCompact = false)
    val n = embeddings.count()
    cat.createTable("e", "vec_id", embeddings)
    cat.createKnnIndex("e", "embedding", k = 5, rounds = 2, descentK = 10)
    for (part <- Seq("adj", "seeds"))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$wh/e/_knn/$part"))

    // serving: the adjacency is symmetrized at read and the beam starts
    // at the global lowest-id entry points
    val graph = cat.knnIndex("e").get._4
    val before = graph.collect().map(_.toSeq).toSet
    val served = cat.knnSearch("e", queries, k = 5, beam = 5, hops = 3)
    val inline = KnnGraph.beamSearch(embeddings, KnnGraph.symmetrize(graph),
      queries, k = 5, beam = 5, hops = 3, entries = 4)
    assert(served.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq ===
      inline.orderBy("qid", "rnk").collect().map(_.toSeq).toSeq)

    // refresh: with no adj to append to, it writes the whole
    // symmetrized adjacency of the old graph plus the new edges
    val fresh = embeddings.where(col("vec_id") < 3)
      .select((col("vec_id") + lit(n + 1000)).as("vec_id"), col("embedding"))
    cat.commit("e", Txn.empty.insert(fresh))
    cat.refreshKnnIndex("e")
    val grown = cat.knnIndex("e").get._4
    val added = grown.collect().map(_.toSeq).toSet -- before
    assert(added.size === 3 * 10 && added.forall(_.head.asInstanceOf[Long] > n))
    assert(spark.read.parquet(s"$wh/e/_knn/adj")
      .collect().map(_.toSeq).toSet ===
      KnnGraph.symmetrize(grown).collect().map(_.toSeq).toSet)
  }
}
