package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.PipelineQueries

/** Semantic oracles for the rows-only pipeline operators (SURVEY.md §2:
  * dedup_simhash, dedup_embedding, ann_ivf have no SQL twin) plus
  * stream/batch parity for the windowed event aggregation. */
class PipelineSpec extends SparkSpec {

  private def run(name: String) = PipelineQueries.queries(name)(spark, sfDir)

  test("dedup_simhash finds every planted exact copy at hamming 0") {
    val pairs = run("dedup_simhash").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // planted: doc_id % 10 == 0 cloned as doc_id + 100000 → identical text
    // → identical simhash → hamming 0.
    val docIds = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).filter(_ % 10 == 0)
    assert(docIds.nonEmpty)
    docIds.foreach { id =>
      assert(pairs.exists(p => p._1 == id && p._2 == id + 100000 && p._3 == 0),
        s"missing exact-copy pair for doc $id")
    }
    assert(pairs.forall(_._3 <= 3), "pair above hamming threshold")
  }

  test("dedup_spans: planted exact copies read 10^6 ppm; distinct text reads 0") {
    import spark.implicits._
    val stats = run("dedup_spans").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // planted: every doc_id % 10 == 0 is cloned verbatim as +100000 —
    // BOTH sides must read fully duplicated (every span shared)
    val docIds = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val cloned = docIds.filter(_ % 10 == 0)
    assert(cloned.nonEmpty)
    cloned.foreach { id =>
      assert(stats(id)._3 === 1000000L, s"doc $id not fully duplicated")
      assert(stats(id + 100000L)._3 === 1000000L)
      assert(stats(id)._1 === stats(id)._2) // n_spans == dup_spans
    }
    // the near-dup clone (+200000, appended tail) shares MOST spans
    docIds.filter(_ % 7 == 0).foreach { id =>
      assert(stats(id + 200000L)._3 >= 500000L,
        s"near-dup ${id + 200000} unexpectedly low: ${stats(id + 200000L)}")
    }
    // invariants: dup_spans <= n_spans, ppm is the exact integral ratio
    stats.values.foreach { case (n, dup, ppm) =>
      assert(dup <= n && ppm === dup * 1000000L / n)
    }
    // a corpus with no cross-doc overlap reads all-zero
    val solo = Dedup.spanDupStats(Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(solo.forall(_ === ((0L, 0L))))
  }

  test("text_perplexity: floor-log2 surprise orders rare-token docs above common") {
    val byDoc = run("text_perplexity").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(byDoc.size === docs.count())
    // invariants: bits >= 0; bpt = bits / n_tokens exactly
    byDoc.values.foreach { case (n, bits, bpt) =>
      assert(n > 0 && bits >= 0L)
      assert(bpt === bits.toDouble / n)
    }
    // semantic check on a controlled corpus: a doc of corpus-common
    // tokens scores strictly fewer bits/token than a doc of singletons
    import spark.implicits._
    val tiny = (1 to 50).map(i => (100L + i, "the quick brown fox")) ++
      Seq((1L, "the the the the"), (2L, "qqq www zzz yyy"))
    val scored = PipelineQueries.perplexityOf(tiny.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scored(1L) < scored(2L),
      s"common-token doc ${scored(1L)} should underscore singleton doc ${scored(2L)}")
  }

  test("dedup_embedding finds every planted vector copy at cosine ~1") {
    val pairs = run("dedup_embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val vecIds = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id").collect().map(_.getLong(0)).filter(_ % 10 == 0)
    assert(vecIds.nonEmpty)
    vecIds.foreach { id =>
      val hit = pairs.find(p => p._1 == id && p._2 == id + 100000)
      assert(hit.isDefined, s"missing copy pair for vec $id")
      assert(math.abs(hit.get._3 - 1.0) < 1e-6, s"self-cosine not ~1: ${hit.get._3}")
    }
    assert(pairs.forall(_._3 >= 0.95))
  }

  test("lshSizing: occupancy-constant bits, recall-preserving bands") {
    // small corpora keep the 16-bit floor; bits track ⌈log₂N⌉+1 above it
    assert(Dedup.lshSizing(2000, 0.95, 0.8)._1 == 16)
    assert(Dedup.lshSizing(220000, 0.95, 0.8)._1 == 19)
    assert(Dedup.lshSizing(1L << 40, 0.95, 0.8)._1 == 30) // capped
    // wider bucket space ⇒ at least as many bands (monotone), and every
    // sizing actually reaches the target recall: 1-(1-p^bits)^bands ≥ R
    for (n <- Seq(1000L, 100000L, 10000000L, 1000000000L)) {
      val (bits, bands) = Dedup.lshSizing(n, 0.95, 0.8)
      val p = 1.0 - math.acos(0.95) / math.Pi
      val recall = 1.0 - math.pow(1.0 - math.pow(p, bits), bands)
      assert(recall >= 0.8, s"n=$n bits=$bits bands=$bands recall=$recall")
    }
    assert(Dedup.lshSizing(1000000, 0.95, 0.8)._2 >=
      Dedup.lshSizing(1000, 0.95, 0.8)._2)
    // an explicit bits override drives the band derivation
    assert(Dedup.lshSizing(0, 0.95, 0.8, bitsOverride = 24)._1 == 24)
    assert(Dedup.lshSizing(0, 0.95, 0.8, bitsOverride = 24)._2 >
      Dedup.lshSizing(0, 0.95, 0.8, bitsOverride = 16)._2)
  }

  test("ann_ivf probes only the query's bucket and ranks itself first") {
    val rows = run("ann_ivf").collect()
    val labels = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 5)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(rows.nonEmpty)
    // every result row stays in the query's own bucket
    rows.foreach { r =>
      assert(r.getInt(r.fieldIndex("label")) == labels(r.getLong(r.fieldIndex("qid"))))
    }
    // rank 1 of each query is the query vector itself (unit self-dot = max)
    labels.keys.foreach { qid =>
      val top = rows.find(r => r.getLong(r.fieldIndex("qid")) == qid &&
        r.getLong(r.fieldIndex("rnk")) == 1L).get
      assert(top.getLong(top.fieldIndex("vec_id")) == qid)
    }
  }

  test("ann_ivf results are consistent with brute-force within the bucket") {
    import spark.implicits._
    val brute = run("ann_topk").select("qid", "vec_id", "dot")
      .as[(Long, Long, Double)].collect().toSet
    val ivf = run("ann_ivf").select("qid", "vec_id", "dot")
      .as[(Long, Long, Double)].collect()
    // every IVF hit that brute-force also surfaced must carry the same dot
    ivf.filter(t => brute.exists(b => b._1 == t._1 && b._2 == t._2))
      .foreach(t => assert(brute.contains(t), s"dot mismatch for $t"))
  }

  test("TextOps.redact scrubs every PII class and nothing else") {
    import spark.implicits._
    val df = Seq(
      "write to a.b-c_d@ex-ample.org today",
      "go to https://x.example.com/a?b=c now",
      "dial 123-456-7890 plz",
      "two hits a@b.io and c@d.io here",
      "clean text stays clean").toDF("t")
    val out = df.select(TextOps.redact(col("t")).as("r"))
      .collect().map(_.getString(0))
    assert(out(0) == "write to [email] today")
    assert(out(1) == "go to [url] now")
    assert(out(2) == "dial [phone] plz")
    assert(out(3) == "two hits [email] and [email] here")
    assert(out(4) == "clean text stays clean")
    // no residual matches after redaction
    Seq(TextOps.emailRe, TextOps.urlRe, TextOps.phoneRe).foreach { pat =>
      val residual = df.select(TextOps.redact(col("t")).as("r"))
        .where(col("r").rlike(pat)).count()
      assert(residual == 0, s"residual PII for $pat")
    }
  }

  test("kmeansIterate feeds means back and converges to a valid clustering") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val a2 = Similarity.kmeansIterate(emb, nCentroids = 10, iters = 2)
    // every vector assigned exactly once
    assert(a2.count() == n)
    assert(a2.select("vec_id").distinct().count() == n)
    // clusters non-degenerate: more than one, at most the seed count
    val k = a2.select("cid").distinct().count()
    assert(k > 1 && k <= 10, s"got $k clusters")
    // a third iteration still yields a total assignment (plumbing composes)
    val a3 = Similarity.kmeansIterate(emb, nCentroids = 10, iters = 3)
    assert(a3.count() == n)
  }

  test("streaming window agg equals the batch plan (stream/batch parity)") {
    import spark.implicits._
    val streamed = graft.streaming.EventStream.runBatchParity(spark, sfDir)
      .as[(Long, String, Long, Double)].collect().toSet
    val batch = graft.queries.OlapQueries.queries("q_events_window")(spark, sfDir)
      .select(col("window_start_ns"), col("event_type"), col("n"), col("sum_value"))
      .as[(Long, String, Long, Double)].collect().toSet
    assert(streamed == batch)
  }

  test("emb_cov rejects a ragged corpus instead of mis-pairing positions") {
    import spark.implicits._
    def corpus(vecs: Seq[Seq[Float]]): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_embcov_").toString
      vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding").write.parquet(s"$dir/embeddings.parquet")
      dir
    }
    val uniform = corpus(Seq(Seq(1f, 2f), Seq(2f, 1f), Seq(3f, 5f)))
    assert(PipelineQueries.queries("emb_cov")(spark, uniform).count() === 3L)
    val ragged = corpus(Seq(Seq(1f, 2f, 3f), Seq(2f, 1f), Seq(3f, 5f, 4f)))
    val e = intercept[Exception](
      PipelineQueries.queries("emb_cov")(spark, ragged).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(String.valueOf(_))
    assert(msgs.exists(_.contains("ragged embeddings (widths 2 to 3)")), e)
  }
}
