package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

/**
 * LLM-data-pipeline query surface (SURVEY.md §2 #29–40): dedup families,
 * similarity search, text analysis, multimodal plumbing — over the
 * `documents` and `embeddings` tables.
 *
 * The test corpus has no natural duplicates, so dedup queries run over a
 * deterministic augmented corpus: exact copies of every 10th doc and
 * near copies (3 appended tokens) of every 7th — replicated identically in
 * the DuckDB oracle CTE, so the operators provably find exactly the planted
 * structure.
 */
object PipelineQueries {

  /** documents + planted exact/near duplicates. */
  /** Floor-log2 cross-entropy of every doc under the corpus's own
    * unigram LM (text_perplexity's body — package-visible so the spec
    * can score a controlled corpus): per token, surprise =
    * `length(bin(total div cnt)) − 1` exact integer bits. */
  private[graft] def perplexityOf(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    val dt = tok.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("m"))
    val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = docs
      .agg(sum(size(TextOps.tokens(col("text"))).cast("long")).as("total"))
    dt.join(counts, "tok")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_tokens"),
           sum(col("m") *
             (length(bin(expr("total div cnt"))) - lit(1)).cast("long"))
             .as("bits"))
      .select(col("doc_id"), col("n_tokens"), col("bits"),
        (col("bits").cast("double") / col("n_tokens")).as("bpt"))
  }

  private def docCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
    docs
      .unionByName(docs.where(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      .unionByName(docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" near dup tail")).as("text")))
  }

  /** embeddings + planted exact copies of every 10th vector. */
  private def embCorpus(s: SparkSession, d: String): DataFrame = {
    val e = Tables(s, d, "embeddings")
    e.unionByName(e.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"), col("label")))
  }

  /** The read path the three durable IVF-PQ rows share: open the
    * warehouse with a FRESH catalog handle, load the stored model, score
    * from the stored codes and exact-re-rank against the live table. */
  private def probeIvfPq(warehouse: (SparkSession, String) => String,
                         table: String)(s: SparkSession, d: String): DataFrame = {
    val cat = new graft.core.Catalog(s, warehouse(s, d))
    val Some((embCol, _, cs, pm, codes)) = cat.ivfPqIndex(table)
    Similarity.ivfPqProbePrebuilt(
      cat.getTable(table).snapshot
        .select(col("vec_id"), col(embCol).as("embedding")),
      codes, annQueries(s, d).drop("qlabel"), 5, 25, cs, pm, nProbe = 2)
  }

  private def annQueries(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings").where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
              col("label").as("qlabel"))

  /** One-time durable vector-index build for ann_ivf_durable (cached per
    * sfDir like the mview fixtures): ingest embeddings as a catalog
    * table, train + persist the IVF index. The QUERY reopens the
    * warehouse with a fresh handle — the cache holds only the path, so
    * what the query measures is exactly the deployment read path. */
  private def vecIdxWarehouse(s: SparkSession, d: String): String =
    vecIdxCache.getOrElseUpdate(d, {
      val wh = graft.sources.TextSources.scratchDir(s, "graft_vecidx_wh_")
      val cat = new graft.core.Catalog(s, wh, autoCompact = false)
      cat.createTable("emb_vi", "vec_id",
        Tables(s, d, "embeddings").select(col("vec_id"), col("embedding")))
      cat.createVectorIndex("emb_vi", "embedding", nCentroids = 16, iters = 1)
      cat.createIvfPqIndex("emb_vi", "embedding", nCentroids = 16,
        m = 4, codebookSize = 8)
      wh
    })

  private val vecIdxCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Warehouse for the kNN-graph family: embeddings as a catalog table
    * with the NN-Descent graph persisted as its `_knn` sidecar
    * ([[graft.core.Catalog.createKnnIndex]]; k=5, 3 rounds, exploration
    * degree 15 — the ann_knn_graph recipe). Cached per sfDir so
    * ann_knn_search measures the graph-traversal READ path, not the
    * build. */
  private def knnIdxWarehouse(s: SparkSession, d: String): String =
    knnIdxCache.getOrElseUpdate(d, {
      val wh = graft.sources.TextSources.scratchDir(s, "graft_knnidx_wh_")
      val cat = new graft.core.Catalog(s, wh, autoCompact = false)
      // label rides along as a plain attribute column (r14 filtered
      // search); the build projects (key, embedding) so the graph and
      // every unfiltered read are bit-identical with or without it
      cat.createTable("emb_kg", "vec_id",
        Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label")))
      cat.createKnnIndex("emb_kg", "embedding", k = 5, rounds = 3,
        descentK = 15)
      wh
    })

  private val knnIdxCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** DuckDB fixed-order dot replay — shared by the kNN-graph oracles. */
  private def knnDotSql(a: String, b: String): String =
    s"""list_reduce(
       |      list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(range(1, len($a) + 1),
       |          i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
       |      (x, y) -> x + y)""".stripMargin

  /** The NN-Descent build replay (ann_knn_graph's CTE chain, ending at
    * `k3` — the converged top-15 lists): shared verbatim by the build
    * oracle and the search oracle so both address the SAME graph. Every
    * round's `k$r` is MATERIALIZED: a round reads its predecessor three
    * times and DuckDB inlines an unmaterialized CTE at each reference, so
    * `k0` was replayed 27 times and ran out of memory on a 15 GB host.
    * Each `k$r` is a deterministic top-15 per `p` under the total order
    * (dot DESC, q ASC), so materializing changes no row. */
  private lazy val knnGraphCtes: String = {
    def round(prev: String, r: Int): String =
      s"""u$r AS (SELECT p, q FROM $prev UNION SELECT q, p FROM $prev),
         |c$r AS (SELECT DISTINCT x.q AS p, y.q AS q
         |        FROM u$r x JOIN u$r y ON x.p = y.p AND x.q < y.q),
         |t$r AS (SELECT c$r.p, c$r.q,
         |    ${knnDotSql("ep.v", "eq.v")} AS dot
         |  FROM c$r JOIN e ep ON ep.id = c$r.p JOIN e eq ON eq.id = c$r.q),
         |a$r AS (SELECT p, q, max(dot) AS dot FROM (
         |          SELECT p, q, dot FROM $prev
         |          UNION ALL SELECT p, q, dot FROM t$r
         |          UNION ALL SELECT q AS p, p AS q, dot FROM t$r)
         |        GROUP BY p, q),
         |k$r AS MATERIALIZED (SELECT p, q, dot FROM (
         |          SELECT p, q, dot, row_number() OVER (
         |            PARTITION BY p ORDER BY dot DESC, q ASC) AS r
         |          FROM a$r) WHERE r <= 15)""".stripMargin
    s"""e AS MATERIALIZED (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |nn AS (SELECT greatest(1, count(*) // 60) AS nb FROM e),
       |rk0 AS (SELECT id,
       |          CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))
       |            AS BIGINT) % nn.nb AS b
       |        FROM e, nn),
       |rk AS (SELECT id, b,
       |         row_number() OVER (PARTITION BY b ORDER BY id) AS rn
       |       FROM rk0),
       |ib AS (SELECT x.id AS p, y.id AS q
       |       FROM rk x JOIN rk y
       |       ON x.b = y.b AND y.rn BETWEEN x.rn + 1 AND x.rn + 15),
       |cx AS (SELECT x.id AS p, y.id AS q
       |       FROM rk x, nn, range(1, 4) t(d), rk y
       |       WHERE t.d <= nn.nb - 1
       |         AND y.b = (x.b + t.d) % nn.nb AND y.rn = x.rn),
       |i0 AS (SELECT p, q FROM ib UNION ALL SELECT p, q FROM cx),
       |s0 AS (SELECT i0.p, i0.q,
       |    ${knnDotSql("ep.v", "eq.v")} AS dot
       |  FROM i0 JOIN e ep ON ep.id = i0.p JOIN e eq ON eq.id = i0.q),
       |k0 AS MATERIALIZED (SELECT p, q, dot FROM (
       |         SELECT p, q, dot, row_number() OVER (
       |           PARTITION BY p ORDER BY dot DESC, q ASC) AS r
       |         FROM s0) WHERE r <= 15),
       |${round("k0", 1)},
       |${round("k1", 2)},
       |${round("k2", 3)}""".stripMargin
  }

  /** The graph-SERVED read replay, shared by the ann_knn_search and
    * ann_knn_filtered oracles: the same graph-build CTE chain
    * ([[knnGraphCtes]], MATERIALIZED so DuckDB replays the build once),
    * per-query centroid seeds, then the beam search unrolled hop by hop
    * at width `beam`. `admitJoin` is an extra JOIN clause on the final
    * ranking's FROM — the r14 admission filter; `scoreWhere` an extra
    * WHERE on the scored rows BEFORE ranking (the r14 radius θ); `k`
    * the final rank cut. Traversal CTEs are IDENTICAL in every variant
    * (the engine's filtered-HNSW rule, replayed). */
  private def knnServeOracle(beam: Int, admitJoin: String,
                             scoreWhere: String = "",
                             k: Int = 5): String = {
    def hop(h: Int, frontier: String, visited: String): String =
      s"""hc$h AS (SELECT DISTINCT f.qid, a.c AS vec_id
         |        FROM $frontier f JOIN adj a ON a.p = f.vec_id
         |        WHERE NOT EXISTS (SELECT 1 FROM $visited v
         |          WHERE v.qid = f.qid AND v.vec_id = a.c)),
         |sc$h AS (SELECT hc$h.qid, hc$h.vec_id,
         |    ${knnDotSql("qt.qe", "e.v")} AS dot
         |  FROM hc$h JOIN qt ON qt.qid = hc$h.qid
         |  JOIN e ON e.id = hc$h.vec_id),
         |f$h AS (SELECT qid, vec_id, dot FROM (
         |         SELECT qid, vec_id, dot, row_number() OVER (
         |           PARTITION BY qid ORDER BY dot DESC, vec_id ASC) AS r
         |         FROM sc$h) WHERE r <= $beam)""".stripMargin
    s"""WITH $knnGraphCtes,
       |-- the stored graph keeps the FULL descentK=15 lists (r14):
       |-- k3 is already the converged top-15 per node
       |kg AS MATERIALIZED (SELECT p, q, dot FROM (
       |         SELECT p, q, dot, row_number() OVER (
       |           PARTITION BY p ORDER BY dot DESC, q ASC) AS rnk
       |         FROM k3) WHERE rnk <= 15),
       |qt AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
       |       WHERE vec_id < 5),
       |adj AS (SELECT p, q AS c FROM kg UNION SELECT q, p FROM kg),
       |-- per-query entry points (r14 `_knn/seeds`): one Lloyd round of
       |-- 16 centroids (the ann_ivf_trained replay, quantized-exact),
       |-- each query routes to its nearest centroid and starts at that
       |-- centroid's 4 lowest-id members
       |cseed AS (SELECT vec_id AS cid, embedding AS ce
       |          FROM embeddings WHERE vec_id < 16),
       |ca1 AS (SELECT vec_id, embedding, cid FROM (
       |  SELECT emb.vec_id, emb.embedding, c.cid,
       |    row_number() OVER (PARTITION BY emb.vec_id ORDER BY
       |      ${knnDotSql("c.ce", "emb.embedding")} DESC, c.cid ASC) AS crn
       |  FROM embeddings emb, cseed c) WHERE crn = 1),
       |ccomp AS (
       |  SELECT cid, i AS dim,
       |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS fq
       |  FROM ca1, LATERAL (SELECT UNNEST(range(1, len(embedding) + 1)) AS i)),
       |cmean AS (
       |  SELECT cid, dim,
       |    CAST(CAST(SUM(fq) AS DOUBLE) / COUNT(*) / 1e6 AS FLOAT) AS mv
       |  FROM ccomp GROUP BY cid, dim),
       |cml AS (SELECT cid, list(mv ORDER BY dim) AS mce
       |        FROM cmean GROUP BY cid),
       |cents AS (SELECT s.cid, COALESCE(m.mce, s.ce) AS ce
       |          FROM cseed s LEFT JOIN cml m ON s.cid = m.cid),
       |cassign AS (SELECT vec_id, cid FROM (
       |  SELECT emb.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY emb.vec_id ORDER BY
       |      ${knnDotSql("c.ce", "emb.embedding")} DESC, c.cid ASC) AS crn
       |  FROM embeddings emb, cents c) WHERE crn = 1),
       |members AS (SELECT cid, vec_id,
       |    row_number() OVER (PARTITION BY cid ORDER BY vec_id ASC) AS mrnk
       |  FROM cassign),
       |qroute AS (SELECT qid, qcid FROM (
       |  SELECT qt.qid, c.cid AS qcid,
       |    row_number() OVER (PARTITION BY qt.qid ORDER BY
       |      ${knnDotSql("c.ce", "qt.qe")} DESC, c.cid ASC) AS crn
       |  FROM qt, cents c) WHERE crn = 1),
       |qseeds AS (SELECT r.qid, m.vec_id FROM qroute r
       |           JOIN members m ON m.cid = r.qcid WHERE m.mrnk <= 4),
       |sc0 AS (SELECT qs.qid, qs.vec_id,
       |    ${knnDotSql("qt.qe", "e.v")} AS dot
       |  FROM qseeds qs JOIN qt ON qt.qid = qs.qid
       |  JOIN e ON e.id = qs.vec_id),
       |f0 AS (SELECT qid, vec_id, dot FROM (
       |         SELECT qid, vec_id, dot, row_number() OVER (
       |           PARTITION BY qid ORDER BY dot DESC, vec_id ASC) AS r
       |         FROM sc0) WHERE r <= $beam),
       |${hop(1, "f0", "sc0")},
       |v1 AS (SELECT qid, vec_id FROM sc0
       |       UNION ALL SELECT qid, vec_id FROM sc1),
       |${hop(2, "f1", "v1")},
       |v2 AS (SELECT qid, vec_id FROM v1
       |       UNION ALL SELECT qid, vec_id FROM sc2),
       |${hop(3, "f2", "v2")},
       |allsc AS (SELECT * FROM sc0 UNION ALL SELECT * FROM sc1
       |          UNION ALL SELECT * FROM sc2 UNION ALL SELECT * FROM sc3)
       |SELECT qid, vec_id, dot, rnk FROM (
       |  SELECT allsc.qid, allsc.vec_id, allsc.dot,
       |    CAST(row_number() OVER (
       |      PARTITION BY allsc.qid
       |      ORDER BY allsc.dot DESC, allsc.vec_id ASC) AS BIGINT) AS rnk
       |  FROM allsc$admitJoin$scoreWhere) WHERE rnk <= $k""".stripMargin
  }

  /** Warehouse for ann_ivfpq_refresh: the IVF-PQ index is built over a
    * PARTIAL corpus (vec_id < 400 — comfortably above the 16 seed
    * centroids and 8 codeword seeds, so the model is the full-corpus
    * model), the remaining vectors commit AFTER the build, and
    * [[graft.core.Catalog.refreshIvfPqIndex]] appends their codes at
    * change-feed cost. The deterministic model makes the refreshed
    * index bit-identical to a full-corpus build — annIvfPqOracle
    * serves unchanged, which is itself the correctness claim: refresh
    * ≡ rebuild for pure additions. */
  private def vecRefreshWarehouse(s: SparkSession, d: String): String =
    vecRefreshCache.getOrElseUpdate(d, {
      val wh = graft.sources.TextSources.scratchDir(s, "graft_ivfpqref_wh_")
      val cat = new graft.core.Catalog(s, wh, autoCompact = false)
      val emb = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      cat.createTable("emb_rf", "vec_id", emb.where(col("vec_id") < 400))
      cat.createIvfPqIndex("emb_rf", "embedding", nCentroids = 16,
        m = 4, codebookSize = 8)
      cat.commit("emb_rf",
        graft.core.Txn.empty.insert(emb.where(col("vec_id") >= 400)))
      cat.refreshIvfPqIndex("emb_rf")
      wh
    })

  private val vecRefreshCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Warehouse for stream_index — CONTINUOUS indexing: the IVF-PQ index
    * is built over a partial corpus, the remaining vectors arrive as a
    * THREE-micro-batch stream (three files, maxFilesPerTrigger=1), and
    * each batch's durable merge commit is followed by an incremental
    * index refresh (StreamOps.mergeStream refreshIndex=true) — ingest
    * and index stay in lockstep at delta cost. The final index must be
    * bit-identical to a full-corpus build. */
  private def vecStreamWarehouse(s: SparkSession, d: String): String =
    vecStreamCache.getOrElseUpdate(d, {
      val wh = graft.sources.TextSources.scratchDir(s, "graft_ivfpqstrm_wh_")
      val cat = new graft.core.Catalog(s, wh, autoCompact = false)
      val emb = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      cat.createTable("emb_si", "vec_id", emb.where(col("vec_id") < 400))
      cat.createIvfPqIndex("emb_si", "embedding", nCentroids = 16,
        m = 4, codebookSize = 8)
      val srcDir = graft.sources.TextSources.scratchDir(s, "graft_ivfpqstrm_src_")
      (0 until 3).foreach(i =>
        emb.where(col("vec_id") >= 400 && col("vec_id") % 3 === i)
          .coalesce(1).write.mode("append").parquet(srcDir))
      val changes = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      graft.streaming.StreamOps.mergeStream(s, changes, cat, "emb_si",
        Seq("embedding"), refreshIndex = true)
      wh
    })

  private val vecStreamCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private val stopwords = Seq("the", "a", "and", "of", "to")

  private val jsonlCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private val partCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Corpus in a Hive-partitioned layout (one dir per lang), written once
    * per sf dir — the fixture for src_partitioned / q_dpp. */
  private def partitionedDocs(s: SparkSession, d: String): DataFrame = {
    val dir = partCache.getOrElseUpdate(d, {
      val out = graft.sources.TextSources.scratchDir(s, "graft_part_")
      Tables(s, d, "documents").write.partitionBy("lang")
        .mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(dir)
  }

  private val dimCache =
    scala.collection.concurrent.TrieMap.empty[SparkSession, String]

  /** Tiny lang→family dim as a PARQUET scan (not a local relation): the
    * DPP rule prunes against a filtered scan on the dim side — the
    * classic fact⋈date_dim shape. */
  private def langDimDir(s: SparkSession): String =
    dimCache.getOrElseUpdate(s, {
      import s.implicits._
      val out = graft.sources.TextSources.scratchDir(s, "graft_langdim_")
      Seq("en" -> "germanic", "de" -> "germanic", "es" -> "romance",
          "fr" -> "romance", "zh" -> "sinitic").toDF("lang", "family")
        .coalesce(1).write.mode("overwrite").parquet(out)
      out
    })

  // (token/lexicon hit counting is graft.functions.LexiconCounts — a
  // single compiled pass; the declarative split+filter+isin twin lives
  // on as the semantic reference in LexiconCountsSpec)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "dedup_exact" -> { (s, d) => Dedup.exactClusters(docCorpus(s, d)) },

    "dedup_ngram_jaccard" -> { (s, d) => Dedup.jaccardPairs(docCorpus(s, d), 0.6) },

    // Asymmetric overlap: inter/min(|A|,|B|) — catches a short doc wholly
    // QUOTED inside a longer one, which symmetric Jaccard dilutes toward
    // 0 as the length ratio grows. Same blocking, same shuffle profile.
    "dedup_containment" -> { (s, d) => Dedup.containmentPairs(docCorpus(s, d), 0.65) },

    "dedup_minhash" -> { (s, d) => Dedup.minhashCandidates(docCorpus(s, d)) },

    // SPAN-level duplication profile (r12, Lee et al. ACL'22 substring
    // dedup at shingle granularity): the per-doc fraction of 5-token
    // spans that also appear in ANOTHER document — the signal that
    // catches a boilerplate header pasted into thousands of otherwise
    // unique pages, which doc-level dedup never sees. Signature-only
    // shuffles; dup_ppm is an exact integral ratio.
    "dedup_spans" -> { (s, d) => Dedup.spanDupStats(docCorpus(s, d)) },

    // EDIT-DISTANCE near-dup (r9): the filter-verify dedup family's
    // strictest verifier — LSH blocks the candidates (never all-pairs),
    // then exact Levenshtein over a fixed 256-char prefix confirms each
    // pair at ≤20% relative distance (integer math: dist·5 ≤ max length —
    // no double threshold). Edit distance catches in-place edits
    // (typo/boilerplate variants) that shingle Jaccard dilutes and
    // SimHash's bag-of-words signature can't see at all. The O(len²) DP
    // is bounded by the prefix cap × the LSH-bounded candidate count;
    // texts join the slim pair table key-partitioned, never broadcast-
    // assumed. Spark's codegen levenshtein ≡ DuckDB's (unit-cost edits).
    "dedup_edit" -> { (s, d) =>
      val corpus = docCorpus(s, d)
      val cand = Dedup.minhashCandidates(corpus)
      val txt = corpus.select(col("doc_id"),
        substring(col("text"), 1, 256).as("t"))
      cand
        .join(txt.select(col("doc_id").as("a"), col("t").as("ta")), "a")
        .join(txt.select(col("doc_id").as("b"), col("t").as("tb")), "b")
        .select(col("a"), col("b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"),
          greatest(length(col("ta")), length(col("tb"))).as("mx"))
        .where(col("edit_dist") * 5 <= col("mx"))
        .select(col("a"), col("b"), col("edit_dist"))
    },

    "dedup_simhash" -> { (s, d) => Dedup.simhashPairs(docCorpus(s, d)) },

    // Cluster formation: connected components over the minhash candidate
    // pairs — the step that turns pairwise near-dups into dedup groups
    // (cluster id = min doc_id; one keeper per cluster).
    "dedup_clusters" -> { (s, d) =>
      graft.ops.Components.components(Dedup.minhashCandidates(docCorpus(s, d)))
    },

    // Keep-best dedup (r9): the step AFTER clustering — one keeper per
    // near-dup cluster by a TOTAL quality order (longest text, doc_id
    // tiebreak). Pure composition: the minhash-LSH clusters feed a
    // min_by over the lexicographic (-len, doc_id) struct — associative
    // argmax per cluster (the q_argmax/q_mode shape), never a window
    // over the corpus; text lengths ride the existing corpus scan.
    "dedup_keep_best" -> { (s, d) =>
      val lens = docCorpus(s, d)
        .select(col("doc_id"), length(col("text")).as("len"))
      graft.ops.Components.components(Dedup.minhashCandidates(docCorpus(s, d)))
        .join(lens, "doc_id")
        .groupBy(col("cluster"))
        .agg(min_by(struct(col("doc_id"), col("len")),
                    struct((-col("len")).as("nl"), col("doc_id"))).as("k"),
             count(lit(1)).as("n_docs"))
        .select(col("cluster"), col("k.doc_id").as("keeper"),
                col("k.len").as("keeper_len"), col("n_docs"))
    },

    // Incremental ingestion: the planted copies (doc_id >= 100000) arrive
    // as the "new batch"; find which already exist as near-dups in the
    // standing corpus — cross-side LSH bucket matches only.
    "dedup_incremental" -> { (s, d) =>
      val c = docCorpus(s, d)
      Dedup.minhashCrossCandidates(
        c.where(col("doc_id") < 100000L),
        c.where(col("doc_id") >= 100000L))
    },

    // Canonicalization: the step AFTER clustering — keep the best member
    // of each near-dup cluster instead of an arbitrary one (here: longest
    // doc, ties to lowest doc_id — "most complete version wins", integer-
    // deterministic). Cluster formation reuses Components; the keeper
    // choice is one cluster-partitioned window over the members only.
    "pipe_canonical" -> { (s, d) =>
      val corpus = docCorpus(s, d)
      val clusters = graft.ops.Components.components(
        Dedup.minhashCandidates(corpus))
      val members = clusters.join(
        corpus.select(col("doc_id"), length(col("text")).cast("long").as("len")),
        "doc_id")
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("len").desc, col("doc_id").asc)
      members
        .withColumn("_rn", row_number().over(w))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("cluster"))).cast("long"))
        .where(col("_rn") === 1)
        .select(col("cluster"), col("doc_id").as("keeper"),
                col("n_members"), col("len").as("keeper_len"))
    },

    // Boilerplate detection: 10-token spans repeated across documents
    // (headers/footers/license blocks in a real corpus). One explode +
    // one count shuffle; top-50 via TakeOrderedAndProject (per-partition
    // top-k, never a vocabulary-wide single partition). Spans leave each
    // scan task as 60-bit md5 SIGNATURES: the count shuffle carries 8-byte
    // keys, never span text — the r4 plan shuffled the raw 10-token
    // strings, ~10× the corpus bytes through one exchange, the dominant
    // cost at 100×. Collisions are ~|spans|²/2⁶¹ and the oracle hashes
    // identically, so the compare stays exact either way.
    "text_boilerplate" -> { (s, d) =>
      val spans = docCorpus(s, d).select(col("doc_id"),
        explode(TextOps.shingles(TextOps.tokens(col("text")), 10)).as("span"))
      // shingles are distinct within a doc, so count(*) = distinct docs
      spans
        .select(col("doc_id"), TextOps.tokenHash(col("span")).as("span_sig"))
        .groupBy(col("span_sig"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .where(col("n_docs") >= 2)
        .orderBy(col("n_docs").desc, col("span_sig").asc).limit(50)
        .withColumn("rnk", row_number().over(
          Window.partitionBy(pmod(col("n_docs"), lit(1)))
            .orderBy(col("n_docs").desc, col("span_sig").asc)).cast("bigint"))
        .select(col("span_sig"), col("n_docs"), col("first_doc"), col("rnk"))
    },

    "dedup_embedding" -> { (s, d) => Dedup.embeddingPairs(embCorpus(s, d), 0.95) },

    "ann_topk" -> { (s, d) =>
      Similarity.bruteTopK(Tables(s, d, "embeddings"),
        annQueries(s, d).drop("qlabel"), 5)
    },

    "ann_ivf" -> { (s, d) =>
      Similarity.ivfTopK(Tables(s, d, "embeddings"), annQueries(s, d), 5)
    },

    // real IVF: deterministic seed centroids + max-dot assignment + probe
    // of the routed bucket only (ivfTopK's label crutch removed)
    "ann_ivf_build" -> { (s, d) =>
      Similarity.ivfBuildProbe(Tables(s, d, "embeddings"),
        annQueries(s, d).drop("qlabel"), 5)
    },

    // TRAINED IVF (r8): one Lloyd round refines the seed centroids before
    // the build — assign to seeds, quantized-exact per-cluster means
    // (floor(v·10⁶) long sums — associative, partition-order-free, so the
    // single-node oracle agrees bit-for-bit), re-assign to the means.
    // Measured honestly at sf0.1 (RecallProbe): on the driver's synthetic
    // MODE-FREE embeddings training is recall-neutral (0.74→0.71 @ c=16,
    // occupancy already ×1.2 of mean); on clustered corpora — the real-
    // world case SimilaritySpec plants — seeds inside one cluster skew
    // occupancy 6:2 and training flattens it to the true 4:4 with exact
    // recall at equal probe cost. The knob exists for the data shape
    // that needs it; the plans are identical either way.
    "ann_ivf_trained" -> { (s, d) =>
      Similarity.ivfBuildProbe(Tables(s, d, "embeddings"),
        annQueries(s, d).drop("qlabel"), 5, trainIters = 1)
    },

    // DURABLE vector index (r9, Catalog.createVectorIndex +
    // Similarity.ivfProbePrebuilt — train once, probe forever): the
    // trained centroid set persists as a sidecar parquet in the
    // warehouse; a FRESH catalog handle (simulating the next session /
    // another process) loads C×D floats metadata-scale and pays only
    // the probe — no Lloyd pass, no corpus re-scan for training. At
    // 100 TB this turns per-session training (iters+1 corpus passes)
    // into a one-time build amortized over every query batch since.
    // Same centroids as ann_ivf_trained by determinism → same oracle
    // replay (1 Lloyd round, nProbe 1, k 5).
    "ann_ivf_durable" -> { (s, d) =>
      val wh = vecIdxWarehouse(s, d)
      val cat = new graft.core.Catalog(s, wh)
      val Some((embCol, _, cs)) = cat.vectorIndex("emb_vi")
      Similarity.ivfProbePrebuilt(
        cat.getTable("emb_vi").snapshot
          .select(col("vec_id"), col(embCol).as("embedding")),
        annQueries(s, d).drop("qlabel"), 5, cs, nProbe = 1)
    },

    // multi-probe IVF (r6): each query probes its TWO nearest centroids —
    // the standard recall/cost knob (a true neighbor bucketed under the
    // query's second-closest centroid is invisible at nProbe=1;
    // SimilaritySpec plants one and pins the strict recall win). Work per
    // query is 2/C of the corpus, still never a full scan.
    "ann_ivf_probe2" -> { (s, d) =>
      Similarity.ivfBuildProbe(Tables(s, d, "embeddings"),
        annQueries(s, d).drop("qlabel"), 5, nProbe = 2)
    },

    // RADIUS search (r14, Similarity.ivfRadius): every probed candidate
    // with dot ≥ 0.3 — the threshold contract near-dup mining wants
    // where top-k truncates dense neighborhoods. Same probe plan as
    // ann_ivf_probe2; the θ admission replaces the ranking cut (ranks
    // remain for a stable output order)
    "ann_radius" -> { (s, d) =>
      Similarity.ivfRadius(Tables(s, d, "embeddings"),
        annQueries(s, d).drop("qlabel"), theta = 0.3, nProbe = 2)
    },

    // PRODUCT-QUANTIZED ANN (r9, Similarity.pqTopK — the IVF-PQ memory
    // half): 64-dim vectors as 4 subspace codes against 8-entry
    // codebooks; queries score by asymmetric lookup-table sums over the
    // CODES, never the embeddings — at 100 TB the scoring scan streams
    // m bytes per vector instead of 4·D. Encode is one map-only native
    // argmax pass per subspace (zero shuffle); the oracle replays
    // codebooks, assignment and LUT scoring bit-for-bit.
    "ann_pq" -> { (s, d) =>
      Similarity.pqTopK(Tables(s, d, "embeddings"),
        annQueries(s, d).drop("qlabel"), 5, m = 4, codebookSize = 8)
    },

    // PQ shortlist + EXACT re-rank (r9, Similarity.pqRerank — the
    // production ANN recipe): the code scan shortlists 25 candidates
    // per query, then ONLY those (Q×25, broadcast-small) re-score with
    // the exact dot for the final top-5. Full-precision work per query
    // is 25 vectors, not the corpus; the corpus pass stays m bytes per
    // vector. Output shape = bruteTopK's (exact dot + rank).
    "ann_pq_rerank" -> { (s, d) =>
      Similarity.pqRerank(Tables(s, d, "embeddings"),
        annQueries(s, d).drop("qlabel"), 5, kCand = 25)
    },

    // IVF-PQ + exact re-rank (r9, Similarity.ivfPqRerank — the FULL
    // production ANN recipe, IVFADC): IVF routes each query to its 2
    // nearest of 16 buckets (~1/8 of the corpus scored), PQ scores the
    // routed candidates from m-byte codes via broadcast LUTs (the
    // embedding column is never read to score), exact re-rank recovers
    // full precision on the 25-deep shortlist. ONE map-only pass
    // produces bucket id + codes together; the gains multiply:
    // ×(nProbe/C) candidates × (m/4D) bytes each.
    "ann_ivfpq" -> { (s, d) =>
      Similarity.ivfPqRerank(Tables(s, d, "embeddings"),
        annQueries(s, d).drop("qlabel"), 5, kCand = 25,
        nCentroids = 16, nProbe = 2, m = 4, codebookSize = 8)
    },

    // DURABLE IVF-PQ (r9, Catalog.createIvfPqIndex +
    // Similarity.ivfPqProbePrebuilt — the deployment read path the PQ
    // scaladoc promises): centroids, codebooks AND the per-vector code
    // table persisted at build; a FRESH catalog handle loads the
    // driver-small model and scores from the stored CODES (m bytes per
    // vector — neither re-trains, re-assigns, nor re-encodes, and the
    // embedding column is read only to exact-re-rank the Q×kCand
    // shortlist). Same deterministic build as ann_ivfpq → same oracle.
    "ann_ivfpq_durable" -> probeIvfPq(vecIdxWarehouse, "emb_vi"),

    // INCREMENTAL index refresh (r9, Catalog.refreshIvfPqIndex + CALL
    // graft.refresh_ivfpq_index): the index was built over a PARTIAL
    // corpus; the rest committed afterwards; refresh pulled ONLY the
    // delta through the change feed (pushed _ver range), encoded it
    // map-only, and APPENDED to the code table — additions become
    // visible at delta cost, never a corpus re-encode. The probe here
    // is byte-identical to ann_ivfpq_durable's read path; matching the
    // full-rebuild oracle IS the refresh≡rebuild correctness claim.
    "ann_ivfpq_refresh" -> probeIvfPq(vecRefreshWarehouse, "emb_rf"),

    // CONTINUOUS indexing (r9, StreamOps.mergeStream refreshIndex=true):
    // three micro-batches of new vectors each land as one durable merge
    // commit + one incremental index refresh — ANN probes see ingested
    // vectors within a batch of arrival, each refresh paying only that
    // batch's additions (change-feed delta encode + append). The probe
    // reads the streamed-and-refreshed index; matching the full-rebuild
    // oracle proves ingest-then-index converges exactly.
    "stream_index" -> probeIvfPq(vecStreamWarehouse, "emb_si"),

    // MATRYOSHKA retrieval (r9, Similarity.matryoshkaTopK — Kusupati et
    // al.'s MRL deployment recipe): shortlist on the FIRST 16 of 64
    // dimensions (MRL-trained embeddings front-load semantic mass),
    // exact full-dim re-rank on the 25-deep shortlist — the compute per
    // scored pair drops x4 corpus-wide while full precision touches 25
    // vectors per query. The third shortlist family next to PQ (code
    // bytes) and IVF (bucket routing); all three compose.
    "ann_matryoshka" -> { (s, d) =>
      Similarity.matryoshkaTopK(
        Tables(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        annQueries(s, d).drop("qlabel"), 5, kCand = 25, prefixDims = 16)
    },

    // FILTERED vector search (r9): top-k among vectors satisfying a
    // metadata predicate — the retrieval shape behind "nearest docs
    // WHERE lang = 'en'". Strategy is PRE-FILTER + exact scan: for a
    // selective predicate, IVF buckets thin to uselessness (recall
    // collapses at fixed nProbe) while the filtered corpus is ~1/sel
    // of the data — so the predicate belongs IN the scan, not after
    // scoring. The filter reaches the parquet reader as a pushed
    // filter + row-group stat prune (PlanAudit pins PushedFilters), so
    // at 100 TB the engine reads label-matching row groups only, and
    // never scores — never even materializes — an excluded vector.
    "ann_filtered" -> { (s, d) =>
      Similarity.bruteTopK(
        Tables(s, d, "embeddings").where(col("label") === 3)
          .select(col("vec_id"), col("embedding")),
        annQueries(s, d).drop("qlabel"), 5)
    },

    // BM25 keyword retrieval (r9, ops/Retrieval.bm25TopK): the lexical
    // half of a production search stack. Log-free odds idf — monotone
    // in Robertson's idf but free of libm ln — with per-term
    // contributions quantized to floor(x·10⁶) longs BEFORE the per-doc
    // sum (associative ⇒ partition-order-free ⇒ hash-exact vs DuckDB).
    // One corpus scan (dl rides the explode); only query-term postings
    // shuffle; the global top-k is TakeOrderedAndProject (per-partition
    // heaps, k rows to the driver) — never a global sort.
    "text_bm25" -> { (s, d) =>
      graft.ops.Retrieval.bm25TopK(
        Tables(s, d, "documents").select(col("doc_id"), col("text")),
        Seq("vector", "stream", "big"), 10)
    },

    // HYBRID retrieval (r9, Retrieval.rrfFuse): reciprocal-rank fusion
    // of the BM25 top-10 and the vector top-10 (query = embedding 0,
    // doc_id ≡ vec_id in the corpus) — the standard production
    // combiner, fusing in RANK space so the term-frequency and
    // dot-product score scales never need calibration. Both inputs are
    // top-k lists (driver-small by construction); the fuse is a
    // broadcast-size full outer join + rank.
    "ann_hybrid" -> { (s, d) =>
      val lex = graft.ops.Retrieval.bm25TopK(
        Tables(s, d, "documents").select(col("doc_id"), col("text")),
        Seq("vector", "stream", "big"), 10)
      val emb = Tables(s, d, "embeddings")
      val vec = Similarity.bruteTopK(
          emb.select(col("vec_id"), col("embedding")),
          emb.where(col("vec_id") === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qe")), 10)
        .select(col("vec_id").as("doc_id"), col("rnk"))
      graft.ops.Retrieval.rrfFuse(lex, vec, 10)
    },

    // The SQL front door to similarity search: the SAME brute-force
    // top-k as ann_topk, but written as a SQL string over a registered
    // view with the engine's native codegen'd DotProduct expression
    // reached via its injected SQL function `graft_dot`
    // (plans/GraftExtensions.injectFunction) — a pure-SQL user gets the
    // primitive-loop dot product, not an interpreted lambda. The
    // broadcast hint pins the same plan shape as bruteTopK (Q query
    // vectors broadcast × one corpus scan).
    "ann_sql" -> { (s, d) =>
      val view = "graft_embeddings_" + d.replaceAll("[^A-Za-z0-9]", "_")
      Tables(s, d, "embeddings").createOrReplaceTempView(view)
      s.sql(
        s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe
           |           FROM $view WHERE vec_id < 5),
           |dots AS (SELECT /*+ BROADCAST(q) */ q.qid, e.vec_id,
           |                graft_dot(q.qe, e.embedding) AS dot
           |         FROM $view e CROSS JOIN q),
           |rk AS (SELECT qid, vec_id, dot,
           |         CAST(row_number() OVER (PARTITION BY qid
           |              ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
           |       FROM dots)
           |SELECT qid, vec_id, dot, rnk FROM rk WHERE rnk <= 5""".stripMargin)
    },

    // Approximate kNN GRAPH via NN-Descent (r11, ops/KnnGraph — the
    // HNSW-class all-points primitive): deterministic ring init over
    // the dense id space, 3 rounds of neighbors-of-neighbors proposal
    // at exploration degree 15 (≤ (2·15)²N canonical pairs per round —
    // bounded by degree², never N²; 0.995 recall@5 on the spec's
    // clustered corpus), each proposal scored ONCE with the codegen'd
    // fixed-order dot, per-point top-5 output under the TOTAL
    // (dot desc, id) order. The oracle unrolls the three rounds as
    // CTEs with the same fold-order dot — hash-exact.
    "ann_knn_graph" -> { (s, d) =>
      graft.ops.KnnGraph.nnDescent(Tables(s, d, "embeddings"), 5, 3,
        descentK = 15)
    },

    // graph-SERVED ANN (r12, Catalog.knnSearch over the durable _knn
    // sidecar): greedy beam search from the 4 lowest-id entry points,
    // 3 hops at beam 5 over the symmetrized stored adjacency — each hop
    // is a keyed equi-join against the graph plus one against the LIVE
    // snapshot for scoring, so a query batch touches O(Q·beam·k·hops)
    // rows, never a corpus scan. The warehouse fixture persists the
    // build once; this query measures the deployment read path.
    "ann_knn_search" -> { (s, d) =>
      val wh = knnIdxWarehouse(s, d)
      val cat = new graft.core.Catalog(s, wh)
      cat.knnSearch("emb_kg", annQueries(s, d).drop("qlabel"),
        k = 5, beam = 5, hops = 3, entries = 4)
    },

    // FILTERED graph serving (r14, the `WHERE label = 1` vector search
    // every retrieval stack needs): traversal is UNFILTERED — the beam
    // walks the same graph through non-matching nodes (filtering the
    // frontier disconnects the graph under selective predicates, the
    // standard filtered-HNSW rule) — and the predicate gates ADMISSION
    // to the answer top-k against the live snapshot. ~10% selectivity
    // here; the beam is widened 5→8 to keep admitted candidates
    // plentiful (the ef-for-recall trade, now per filter). Same durable
    // index, zero extra sidecars.
    "ann_knn_filtered" -> { (s, d) =>
      val wh = knnIdxWarehouse(s, d)
      val cat = new graft.core.Catalog(s, wh)
      cat.knnSearch("emb_kg", annQueries(s, d).drop("qlabel"),
        k = 5, beam = 8, hops = 3, entries = 4,
        filter = Some(col("label") === 1))
    },

    // graph-served RADIUS (r14, ann_radius' companion on the beam
    // path): everything the beam explored with dot ≥ θ, ranked — the
    // answer is exact-scored over the explored frontier; widen
    // beam/hops to push the frontier past the radius. k stays as an
    // output safety cap (100 ≫ any θ=0.3 neighborhood here).
    "ann_knn_radius" -> { (s, d) =>
      val wh = knnIdxWarehouse(s, d)
      val cat = new graft.core.Catalog(s, wh)
      cat.knnSearch("emb_kg", annQueries(s, d).drop("qlabel"),
        k = 100, beam = 8, hops = 3, entries = 4,
        minDot = Some(0.3))
    },

    "text_stats" -> { (s, d) =>
      val toks = TextOps.tokens(col("text"))
      Tables(s, d, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("len_chars"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        // letter-run count via the single-pass SubwordCounts expression
        // (≡ size(regexp_extract_all(text, '[a-z]+')), SubwordSpec-proven)
        graft.functions.SubwordCounts.subwordCounts(col("text"))
          .getItem(0).as("n_alpha"),
        (aggregate(transform(toks, t => length(t).cast("long")), lit(0L), (a, x) => a + x)
          .cast("double") / size(toks)).as("avg_word_len"))
    },

    // BPE-ish subword units: letter runs, digit runs, punctuation singles
    // — the pre-tokenization split every byte-pair tokenizer starts from.
    // The classes are DISJOINT, so any regex engine agrees on the counts
    // (which is what makes the DuckDB regex oracle exact), and n_units =
    // n_words + n_nums + n_punct by construction. Computed by the native
    // SubwordCounts expression — ONE compiled byte pass per document; the
    // four-regex-scans form this replaces measured 93× (37s) at the 100×
    // SF, pure regex CPU (SubwordSpec proves the expression ≡ the regexes).
    "text_subwords" -> { (s, d) =>
      val c = graft.functions.SubwordCounts.subwordCounts(col("text"))
      Tables(s, d, "documents")
        .select(col("doc_id"), c.as("_c"))
        .select(
          col("doc_id"),
          col("_c").getItem(0).as("n_words"),
          col("_c").getItem(1).as("n_nums"),
          col("_c").getItem(2).as("n_punct"),
          (col("_c").getItem(0) + col("_c").getItem(1) + col("_c").getItem(2))
            .as("n_units"))
    },

    "text_quality" -> { (s, d) =>
      val lex = graft.functions.LexiconCounts.lexiconCounts(
        col("text"), Seq(stopwords))
      val nTokens = col("_lex").getItem(0)
      val stopHits = col("_lex").getItem(1)
      val ratio = stopHits.cast("double") / nTokens
      Tables(s, d, "documents")
        .select(col("doc_id"), col("text"), lex.as("_lex"))
        .select(
          col("doc_id"),
          nTokens.as("n_tokens"),
          stopHits.as("stop_hits"),
          ratio.as("stop_ratio"),
          // clean_chars = total code points − punct code points; punct
          // comes from the same single-pass SubwordCounts expression as
          // text_subwords (≡ the oracle's length − length(regexp_replace(
          // text,'[a-z0-9 ]','')) — that regex scan was this query's
          // remaining cost at the 1000× SF)
          (length(col("text")).cast("long") -
            graft.functions.SubwordCounts.subwordCounts(col("text")).getItem(2))
            .as("clean_chars"),
          when(nTokens >= 20 && ratio <= 0.3, "good")
            .when(nTokens >= 8, "fair")
            .otherwise("poor").as("quality"))
    },

    // One LexiconCounts pass replaces split + 4 interpreted HOF filters:
    // the lambda-per-token×lexicon form measured 57s over 5M docs at the
    // 1000× SF (pure interpreted dispatch); semantics are pinned to the
    // declarative form by LexiconCountsSpec, oracle unchanged.
    "text_langid" -> { (s, d) =>
      val lex = graft.functions.LexiconCounts.lexiconCounts(col("text"), Seq(
        Seq("the", "a", "and"), Seq("el", "la", "y"),
        Seq("le", "les", "et"), Seq("der", "die", "und")))
      val Seq(en, es, fr, de) =
        (1 to 4).map(i => col("_lex").getItem(i))
      Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), lex.as("_lex"))
        .select(
          col("doc_id"), col("lang"),
          en.as("en_hits"), es.as("es_hits"), fr.as("fr_hits"), de.as("de_hits"),
          when(en > 0 && en >= greatest(es, fr, de), "en")
            .when(es > 0 && es >= greatest(fr, de), "es")
            .when(fr > 0 && fr >= de, "fr")
            .when(de > 0, "de")
            .otherwise("und").as("lang_pred"))
    },

    // Readability scoring (r9): Flesch-Kincaid-style reading ease from
    // three exact counts — whitespace words, sentence-punctuation runs,
    // vowel runs as the syllable proxy (all disjoint-class regexes, so
    // Java regex and RE2 agree token for token; the text_subwords
    // precedent). The score is a fixed IEEE op sequence over exact
    // longs (two divisions, two products, two subtractions — textually
    // identical in the oracle). Map-only, zero shuffle.
    "text_readability" -> { (s, d) =>
      val w = size(split(col("text"), " ")).cast("long")
      val sents = greatest(regexp_count(col("text"), lit("[.!?]+")),
        lit(1)).cast("long")
      val syll = regexp_count(col("text"), lit("[aeiouAEIOU]+")).cast("long")
      Tables(s, d, "documents")
        .select(col("doc_id"), w.as("n_words"), sents.as("n_sents"),
                syll.as("n_syll"))
        .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
          (lit(206.835)
            - lit(1.015) * (col("n_words").cast("double")
                            / col("n_sents").cast("double"))
            - lit(84.6) * (col("n_syll").cast("double")
                           / col("n_words").cast("double"))).as("fk"))
    },

    "text_fingerprint" -> { (s, d) =>
      val byFp = Window.partitionBy(col("fp"))
      docCorpus(s, d)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .withColumn("cluster_id", min(col("doc_id")).over(byFp))
        .withColumn("cluster_size", count(lit(1)).over(byFp))
    },

    // Deterministic hash sampling: md5(doc_id) mod N — stable across
    // engines, reruns, and partitionings (never rand(): a training-data
    // sample must be reproducible and join-able against itself later).
    "pipe_sample" -> { (s, d) =>
      Tables(s, d, "documents")
        .where(TextOps.md5Gate(col("doc_id")) % 10 === 0)
        .select(col("doc_id"), col("lang"))
    },

    // Deterministic K-FOLD split (r10): fold = md5(doc_id) mod k — the
    // train/val/test assignment a data pipeline must be able to REPLAY
    // (rand() splits are unjoinable against themselves later; a hash
    // split is a pure function of the id, stable across engines, reruns
    // and partitionings). Map-only; the per-(fold, lang) rollup audits
    // stratification drift — the check run before accepting a split.
    "pipe_kfold" -> { (s, d) =>
      Tables(s, d, "documents")
        .select(col("lang"), col("n_chars"),
          (TextOps.md5Gate(col("doc_id")) % 5).as("fold"))
        .groupBy(col("fold"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    },

    // Stratified balanced sample: exactly 50 docs per language, chosen by
    // deterministic hash order (md5 of the id — reproducible across
    // engines and reruns, never rand()). The per-stratum top-N runs
    // through Layout.topNPerGroup's parallel-exact rank (range partition
    // + local ranks + broadcast offsets) — a plain window PARTITION BY
    // lang would put each language's ENTIRE corpus on one reducer, the
    // few-group scale trap q_percentile documented at ~×95.
    "pipe_stratified" -> { (s, d) =>
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          md5(col("doc_id").cast("string")).as("_h"))
      graft.ops.Layout.topNPerGroup(docs, Seq("lang"), Seq("_h", "doc_id"), 50)
        .select(col("doc_id"), col("lang"), col("_rank").as("sample_rank"))
    },

    // Composite curation: quality gate + exact-dedup keeper in one
    // pipeline — the minimal end-to-end "raw corpus → training set" pass.
    // One scan, one hash aggregation (keeper), one semi-join back.
    "pipe_curate" -> { (s, d) =>
      val lex = graft.functions.LexiconCounts.lexiconCounts(
        col("text"), Seq(stopwords))
      val scored = docCorpus(s, d)
        .select(col("doc_id"), col("text"), lex.as("_lex"))
        .select(
          col("doc_id"), col("text"),
          col("_lex").getItem(0).as("n_tokens"),
          (col("_lex").getItem(1).cast("double") / col("_lex").getItem(0))
            .as("stop_ratio"))
        .where(col("n_tokens") >= 8 && col("stop_ratio") <= 0.5)
      val keepers = scored
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      scored.join(keepers, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("n_tokens"))
    },

    // Repetition scoring (the Gopher-style quality signal): fraction of
    // duplicate 2-gram / 5-gram occurrences per document, in ppm integer
    // arithmetic — repetitive docs (boilerplate, degenerate generations)
    // get filtered before training. Pure per-row column algebra over one
    // scan; shares TextOps.shingles' distinct-set semantics with the
    // dedup family.
    // One NgramRepetition pass (native: tokenize once, per-doc string
    // set) replaces two zipped-slice shingle builds + array_distincts —
    // 47s → scan-priced over 5M docs at the 1000× SF; NgramRepetitionSpec
    // pins equivalence with the TextOps.shingles forms, oracle unchanged.
    "text_repetition" -> { (s, d) =>
      val r = graft.functions.NgramRepetition
        .ngramRepetition(col("text"), Seq(2, 5))
      Tables(s, d, "documents")
        .select(col("doc_id"),
          r.getItem(0).as("t2"), r.getItem(1).as("d2"),
          r.getItem(2).as("t5"), r.getItem(3).as("d5"))
        .select(col("doc_id"),
          expr("(t2 - d2) * 1000000L div t2").as("dup2_ppm"),
          expr("(t5 - d5) * 1000000L div t5").as("dup5_ppm"))
    },

    // The last pipeline step: text → token ids. The vocabulary (same
    // top-100 definition as text_vocab) is collected to the driver —
    // 100 rows, broadcast-small BY CONSTRUCTION — and baked into the
    // plan as a map literal, so tokenization itself is a pure per-row
    // map over one corpus scan: zero joins, zero shuffles, regardless
    // of corpus size. OOV → id 0; the output pins the full id SEQUENCE
    // via md5, not just counts.
    "pipe_tokenize" -> { (s, d) =>
      val toks = TextOps.tokens(col("text"))
      val vocab = Tables(s, d, "documents")
        .select(explode(toks).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc).limit(100)
        .collect()
      // native TokenIds: one split pass + one HASH probe per token. The
      // declarative twin — transform over element_at on a map LITERAL —
      // linear-scans the 100 entries per probe: measured 47.9s over 5M
      // docs at the 1000× SF vs the scan-priced expression
      // (TokenIdsSpec pins the equivalence; empty vocab = all-OOV).
      val ids = graft.functions.TokenIds.tokenIds(col("text"),
        vocab.map(_.getString(0)).toSeq)
      Tables(s, d, "documents").select(
        col("doc_id"),
        size(ids).cast("long").as("n_tokens"),
        size(filter(ids, _ === 0L)).cast("long").as("n_oov"),
        md5(concat_ws(",", transform(ids, _.cast("string")))).as("ids_sig"))
    },

    // Vocabulary coverage curve: top-100 unigrams by corpus frequency
    // with the cumulative share of ALL token occurrences they cover (in
    // ppm integer arithmetic — deterministic) — the vocabulary-size-vs-
    // coverage tradeoff every tokenizer design starts from. Same
    // TakeOrderedAndProject top-k shape as text_ngrams: per-partition
    // top-100, never a vocabulary-wide single partition; the cumsum runs
    // over the ≤100 survivors in one BOUNDED window.
    "text_vocab" -> { (s, d) =>
      val toks = Tables(s, d, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("tok"))
      val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      // total occurrences WITHOUT a second vocabulary aggregation: one
      // cheap scan summing per-doc token counts (≡ sum of counts.n)
      val total = Tables(s, d, "documents")
        .agg(sum(size(TextOps.tokens(col("text"))).cast("long")).as("total"))
      val bounded = Window.partitionBy(pmod(col("n"), lit(1)))
        .orderBy(col("n").desc, col("tok").asc)
      counts.orderBy(col("n").desc, col("tok").asc).limit(100)
        .withColumn("rnk", row_number().over(bounded).cast("bigint"))
        .withColumn("cum", sum(col("n")).over(
          bounded.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(total))
        // ×10⁶ in DECIMAL(38,0) then integral div: cum·10⁶ overflows a
        // long past ~9.2×10¹² total tokens — exactly the 100 TB regime —
        // while the oracle's HUGEINT stays exact; decimal div truncates
        // like // does, so both engines floor identically at any scale
        .select(col("tok"), col("n"), col("rnk"),
          expr("(CAST(cum AS DECIMAL(38,0)) * 1000000) div CAST(total AS DECIMAL(38,0))")
            .as("coverage_ppm"))
    },

    // LM quality scoring (r12, the CCNet perplexity-filter shape): score
    // every document by its cross-entropy under the corpus's OWN unigram
    // LM — high bits/token = rare-word soup (OCR junk, gibberish, wrong
    // language), low = repetitive boilerplate; the standard filter keeps
    // the middle band. Determinism rule §4 bans ln() (libm is not
    // bitwise-portable across engines), so the surprise is FLOOR-log2 —
    // `length(bin(total div cnt)) - 1` — exact integer bit arithmetic
    // that both engines compute identically at any magnitude, preserving
    // the ordering a filter consumes (within 1 bit of Shannon). Shape:
    // one vocab-bounded count shuffle (map-side combine), then the
    // distinct (doc, token) pairs — not raw occurrences — join the
    // counts by token: at 100 TB the exchanged rows are signatures and
    // dedup'd pairs, never text, and the per-doc fold is a partial agg.
    "text_perplexity" -> { (s, d) =>
      perplexityOf(Tables(s, d, "documents"))
    },

    // Corpus n-gram statistics: top-100 bigrams with deterministic
    // tiebreak — one explode + one count shuffle, rank carries order.
    "text_ngrams" -> { (s, d) =>
      val toks = TextOps.tokens(col("text"))
      val bigrams = Tables(s, d, "documents")
        .select(explode(TextOps.shingles(toks, 2)).as("bg"))
      // Top-100 via orderBy+limit = TakeOrderedAndProject: each partition
      // keeps its local top-100 and the driver merges — never "move every
      // distinct bigram to one partition" (the global-window anti-plan,
      // quadratically worse as vocabulary grows with corpus size). The
      // ≤100 survivors then rank inside one BOUNDED partition — keyed by
      // pmod(n,1) ≡ 0, non-foldable so the optimizer keeps the spec.
      bigrams.groupBy(col("bg")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bg").asc).limit(100)
        .withColumn("rnk", row_number().over(
          Window.partitionBy(pmod(col("n"), lit(1)))
            .orderBy(col("n").desc, col("bg").asc)).cast("bigint"))
        .select(col("bg"), col("n"), col("rnk"))
    },

    // QUALITY-WEIGHTED SAMPLING (r9): keep each document with
    // probability proportional to its quality proxy (n_chars / max) —
    // the DCLM-style curation move that keeps MORE of the better data
    // instead of uniform thinning. DETERMINISTIC: the per-doc uniform
    // is the 60-bit md5 of the doc id (never rand() — re-runs, retries
    // and both engines agree), the keep test is one IEEE compare of two
    // exact-integer divisions, and the max normalizer is a 1-row
    // broadcast. Map-only gate; the verification rollup is the only
    // (tiny) aggregation.
    "pipe_sample_weighted" -> { (s, d) =>
      val u = graft.functions.Md5HighBits.hash60(
        col("doc_id").cast("string"))
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val mx = docs.agg(max(col("n_chars")).as("mx"))
      docs.crossJoin(broadcast(mx))
        .where(u.cast("double") / lit(1152921504606846976.0) <
               col("n_chars").cast("double") / col("mx").cast("double"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("sum_chars"))
    },

    // SEMANTIC DEDUP CLUSTERS (r9): connected components over the
    // embedding-cosine near-dup pairs — the SemDeDup-style grouping
    // (paraphrases and re-encodes that share no n-grams cluster here;
    // the minhash clusters can't see them). Same hyperplane-LSH pair
    // generation as dedup_embedding, same iterative min-label
    // propagation as dedup_clusters (diameter-bounded rounds, per-round
    // localCheckpoint freed) — composition, not new machinery.
    "dedup_semantic" -> { (s, d) =>
      graft.ops.Components.components(
          Dedup.embeddingPairs(embCorpus(s, d), 0.95)
            .select(col("a"), col("b")))
        .select(col("doc_id").as("vec_id"), col("cluster"))
    },

    // CLASS REBALANCING / oversampling (r9): minority-language docs
    // replicated toward the majority count — the balancing pass before
    // training on skewed data. Deterministic integer replication: per
    // class factor = min(target div n, 8) (capped ×8, the standard
    // guard against degenerate minority blow-up), applied as a
    // MAP-SIDE explode of a broadcast |classes|-row factor table — the
    // corpus is never shuffled to replicate; the verification rollup is
    // the only (tiny) aggregation.
    "pipe_oversample" -> { (s, d) =>
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("lang"))
      val cnt = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val target = cnt.agg(max(col("n")).as("tgt"))
      val factors = cnt.crossJoin(broadcast(target))
        .select(col("lang"), least(expr("tgt div n"), lit(8L)).as("f"))
      docs.join(broadcast(factors), "lang")
        .select(col("lang"), col("doc_id"),
          explode(expr("sequence(1, f)")).as("rep"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_after"),
             countDistinct(col("doc_id")).as("n_docs"))
    },

    // DEDUP RECALL/PRECISION EVAL (r9): how good is the LSH blocking,
    // MEASURED — candidates from minhash banding scored against the
    // ground truth (exact shingle-Jaccard ≥ 0.6 pairs, the
    // dedup_ngram_jaccard definition). tp via a key semi join of the
    // two slim pair tables; precision/recall are IEEE divisions of
    // exact longs. The eval harness every production dedup deploy runs
    // before trusting its blocking parameters — and the honest-recall
    // counterpart of RecallProbe for the dedup family. One row out.
    "dedup_eval" -> { (s, d) =>
      val corpus = docCorpus(s, d)
      val cand = Dedup.minhashCandidates(corpus)
      val truth = Dedup.jaccardPairs(corpus, 0.6)
        .select(col("a"), col("b"))
      val tp = cand.join(truth, Seq("a", "b"), "left_semi")
        .agg(count(lit(1)).as("tp"))
      val nc = cand.agg(count(lit(1)).as("n_cand"))
      val nt = truth.agg(count(lit(1)).as("n_true"))
      tp.crossJoin(broadcast(nc)).crossJoin(broadcast(nt))
        .select(col("tp"), col("n_cand"), col("n_true"),
          expr("CAST(tp AS DOUBLE) / n_cand").as("precision"),
          expr("CAST(tp AS DOUBLE) / n_true").as("recall"))
    },

    // EMBEDDING OUTLIERS (r9): the top-20 vectors farthest from their
    // label's centroid — the mislabeled-example / anomaly screen run
    // before training on labeled embeddings. EXACT ranking: the scaled
    // distance Σ(qᵢ·n − Σqᵢ)² multiplies the mean through by the label
    // count, so the statistic is pure integer arithmetic (DECIMAL(38,0)
    // squares) with ONE double cast at the end — same rounding in both
    // engines, vec_id tiebreak total-orders the top-20. Centroid sums
    // aggregate once (|labels|×D rows), re-assemble as ordered arrays,
    // and BROADCAST back — the corpus is never exchanged; per-row work
    // is a codegen zip_with/aggregate fold. The distance-to-centroid
    // map-only pass is the same shape ann/kmeans assignment uses.
    "emb_outliers" -> { (s, d) =>
      val emb = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
      val cent = graft.ops.Similarity.centroidStats(
          emb.select(col("label"), col("embedding")), "label")
        .groupBy(col("label"))
        .agg(max(col("n")).as("n"),
          transform(
            array_sort(collect_list(struct(col("dim"), col("sum_q")))),
            x => x("sum_q")).as("sq"))
      val dq = "CAST(CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT) " +
        "* n - s AS DECIMAL(38,0))"
      emb.join(broadcast(cent), "label")
        .select(col("vec_id"), col("label"),
          expr("CAST(aggregate(zip_with(embedding, sq, " +
               s"(v, s) -> $dq * $dq), " +
               "CAST(0 AS DECIMAL(38,0)), (acc, x) -> acc + x) AS DOUBLE)")
            .as("d2"))
        .orderBy(col("d2").desc, col("vec_id").asc)
        .limit(20)
    },

    // CROSS-DOC LINE DEDUP (r9): the CCNet/RefinedWeb pass — sentences
    // repeated across ≥3 documents (headers, footers, templated
    // boilerplate) are REMOVED from every document and the documents
    // REASSEMBLED in original order. Lines shuffle as md5 SIGNATURES
    // (never text) for the distinct-doc frequency count; the hot-line
    // set anti-joins back key-partitioned; reassembly is one
    // map-combined per-doc aggregate (collect positions+lines, sort,
    // join — bounded by the document's own length, never a window).
    // Both engines split on the identical literal '. ' (Spark's split
    // keeps trailing empties like DuckDB's string_split — verified) and
    // the rebuilt text compares by md5, so a single byte of divergence
    // in the reassembly fails the gate.
    "pipe_line_dedup" -> { (s, d) =>
      val lines = Tables(s, d, "documents")
        .select(col("doc_id"), posexplode(split(col("text"), "\\. ")))
        .withColumnRenamed("col", "line")
      val hot = lines
        .groupBy(md5(col("line")).as("h"))
        .agg(countDistinct(col("doc_id")).as("ndocs"))
        .where(col("ndocs") >= 3)
        .select(col("h"))
      lines
        .join(hot, md5(col("line")) === col("h"), "left_anti")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("pos"), col("line")))),
              x => x("line")),
            ". ")).as("clean_sig"))
    },

    // COLLOCATION MINING (r9): PMI-ranked bigrams (reported as the PMI
    // RATIO P(xy)/(P(x)P(y)) — exp(PMI), the same ranking through pure
    // divisions; ln() is not bitwise-portable across engines' libm,
    // the one transcendental the exact-arithmetic convention bans) —
    // the phrase detector
    // every tokenizer-training / vocab-merge pipeline runs before BPE.
    // RAW (non-distinct) bigram and unigram counts from one pass each
    // (the shifted-slice zip is O(tokens) per doc, the shingles recipe
    // minus the dedup); counts shuffle map-combined word/pair partials.
    // The cxy ≥ 5 support prefilter shrinks the pair table BEFORE the
    // two vocabulary joins (key-partitioned on the word — the vocab is
    // |V| counted rows, never broadcast-assumed), the two 1-row totals
    // broadcast, and PMI is one fixed IEEE sequence over exact longs.
    // Top-20 under a total order via TakeOrderedAndProject.
    "text_collocations" -> { (s, d) =>
      val toks = TextOps.tokens(col("text"))
      val docs = Tables(s, d, "documents").select(toks.as("t"))
      val uni = docs.select(explode(col("t")).as("w"))
      val cu = uni.groupBy(col("w")).agg(count(lit(1)).as("cw"))
      val nu = uni.agg(count(lit(1)).as("nu"))
      val m = size(col("t")) - 1
      val bg = docs.where(size(col("t")) >= 2)
        .select(explode(arrays_zip(
          slice(col("t"), lit(1), m), slice(col("t"), lit(2), m))).as("p"))
        .select(col("p.0").as("w1"), col("p.1").as("w2"))
      val cb = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cxy"))
      val nb = bg.agg(count(lit(1)).as("nb"))
      cb.where(col("cxy") >= 5)
        .join(cu.select(col("w").as("w1"), col("cw").as("cx")), "w1")
        .join(cu.select(col("w").as("w2"), col("cw").as("cy")), "w2")
        .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
        .select(col("w1"), col("w2"), col("cxy"), col("cx"), col("cy"),
          expr("CAST(cxy AS DOUBLE) / nb / " +
               "(CAST(cx AS DOUBLE) / nu * (CAST(cy AS DOUBLE) / nu))")
            .as("pmi_ratio"))
        .orderBy(col("pmi_ratio").desc, col("w1").asc, col("w2").asc)
        .limit(20)
    },

    // JSON metadata parsing — the sidecar format every pipeline stage
    // actually receives (crawl records, dataset cards, annotation
    // payloads). The fixture builds each record's JSON EXPLICITLY (same
    // bytes in both engines — no serializer formatting in the contract),
    // then exercises the real parse path: from_json with an explicit
    // schema into typed fields (codegen'd, no UDF), a JSONPath extract,
    // and an array element — per-row algebra, zero shuffle. A production
    // reader does exactly this against a raw string column; schema-on-read
    // means a malformed record nulls its fields instead of failing the
    // scan.
    "text_json" -> { (s, d) =>
      val meta = concat(lit("""{"id":"""), col("doc_id"),
        lit(""","lang":""""), col("lang"),
        lit("""","n":"""), col("n_chars"),
        lit(""","tags":["t"""), col("doc_id") % 7,
        lit("""","src-"""), col("source"), lit(""""]}"""))
      val schema = "id BIGINT, lang STRING, n BIGINT, tags ARRAY<STRING>"
      Tables(s, d, "documents")
        .select(col("doc_id"), meta.as("meta"))
        .select(col("doc_id"),
          from_json(col("meta"), org.apache.spark.sql.types.StructType
            .fromDDL(schema)).as("j"),
          get_json_object(col("meta"), "$.tags[1]").as("tag1"))
        .select(col("doc_id"), col("j.lang").as("j_lang"),
          col("j.n").as("j_n"), col("j.tags")(0).as("tag0"), col("tag1"))
    },

    // L2 normalization — the prerequisite for cosine ANN (a dot product
    // of unit vectors IS the cosine; ann_topk/ann_ivf assume it). Pure
    // per-row algebra, zero shuffle. Exactness across engines: the square
    // sum is a fixed-order left fold of exact float→double widenings (the
    // emb_centroid rule), sqrt is IEEE correctly-rounded in BOTH engines
    // (the one libm function with a required rounding), and the output is
    // floor(1e6·x) ppm integers — the unit vector leaves the plan as an
    // md5 signature (the pipe_tokenize idiom for array outputs).
    "emb_norm" -> { (s, d) =>
      val sq = aggregate(col("embedding"), lit(0.0d),
        (acc, v) => acc + v.cast("double") * v.cast("double"))
      Tables(s, d, "embeddings")
        .withColumn("_nrm", sqrt(sq))
        .where(col("_nrm") > 0)
        .select(col("vec_id"),
          floor(col("_nrm") * 1e6).cast("long").as("norm_ppm"),
          md5(concat_ws(",", transform(col("embedding"),
            v => floor(v.cast("double") * lit(1e6) / col("_nrm"))
              .cast("long")))).as("unit_sig"))
    },

    // Overlapping fixed-window chunking — the unit-of-work transform
    // between raw documents and embedding/packing stages (RAG retrieval
    // and long-context training both consume chunks, not documents).
    // 200-char windows, 150 stride (50 overlap so no boundary context is
    // lost). Pure per-row algebra: explode(sequence) + substr, zero
    // shuffle, whole-stage codegen — output rows ≈ 2.5× docs at any
    // corpus size, and chunk ids are position-derived so re-runs are
    // stable. The chunk-count formula is integer-exact ((m + s-1) div s
    // on non-negative m) so both engines emit identical chunk sets.
    "pipe_chunk" -> { (s, d) =>
      val size = 200
      val stride = 150
      val nChunks = (lit(1) + floor(
        (greatest(lit(0), length(col("text")) - size) + (stride - 1))
          / stride.toDouble)).cast("int")
      val chunk = col("text").substr(col("chunk_id") * stride + lit(1), lit(size))
      Tables(s, d, "documents")
        .select(col("doc_id"), col("text"),
          explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          length(chunk).cast("long").as("chunk_len"),
          md5(chunk).as("chunk_sig"))
    },

    "mm_binary_meta" -> { (s, d) =>
      Multimodal.extractMeta(
        Multimodal.mediaFromDocuments(s, Tables(s, d, "documents"))).toDF()
    },

    "mm_frame_sample" -> { (s, d) =>
      Multimodal.sampleFrames(
        Multimodal.mediaFromDocuments(s, Tables(s, d, "documents"))).toDF()
    },

    "mm_resize" -> { (s, d) =>
      Multimodal.resize(
        Multimodal.mediaFromDocuments(s, Tables(s, d, "documents"))).toDF()
    },

    // Training-mixture sampling: per-language acceptance rates over the
    // same deterministic md5 gate as pipe_sample — reproducible,
    // partition-independent, and re-weightable by editing one map. The
    // rate lookup is a codegen'd when-chain; no join, no shuffle.
    "pipe_mix" -> { (s, d) =>
      val rates = Seq("en" -> 80, "es" -> 50, "fr" -> 30, "de" -> 20)
      val rate = rates.foldLeft(lit(10)) { case (acc, (l, r)) =>
        when(col("lang") === l, r).otherwise(acc)
      }
      Tables(s, d, "documents")
        .where(TextOps.md5Gate(col("doc_id")) % 100 < rate)
        .select(col("doc_id"), col("lang"))
    },

    // Hive-style partitioned layout: the corpus written partitionBy(lang)
    // — one directory per language — and read back with a partition-column
    // filter. The filter prunes DIRECTORIES, before any file is opened
    // (PlanAudit pins PartitionFilters on the scan): at 100 TB this is the
    // first-line pruning lever, one level above row-group min-max stats —
    // a per-language pipeline stage reads 1/5 of the corpus paying zero
    // I/O for the rest. Write once per sf dir; results are layout-free
    // (the oracle is a plain filter).
    "src_partitioned" -> { (s, d) =>
      partitionedDocs(s, d).where(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(length(col("text")).cast("long")).as("chars"))
    },

    // Dynamic partition pruning: the fact's partition filter isn't in the
    // query — it comes out of a JOIN against a filtered dim (the classic
    // fact⋈date_dim shape). Catalyst injects the dim's post-filter lang
    // set as a runtime partition predicate (dynamicpruningexpression,
    // reusing the broadcast), so the partitioned corpus scan opens only
    // the romance-language directories even though no literal says so —
    // static pruning's runtime twin, same lever class as q_bloom_join but
    // at directory granularity. Oracle inlines the dim semantics.
    "q_dpp" -> { (s, d) =>
      val dim = s.read.parquet(langDimDir(s)).where(col("family") === "romance")
      partitionedDocs(s, d).join(broadcast(dim), Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(length(col("text")).cast("long")).as("chars"))
    },

    // JSONL roundtrip: the de-facto training-data interchange format —
    // documents exported as JSON lines and re-ingested with an explicit
    // schema (inference = an extra full scan at 100 TB). JSON escaping
    // round-trips arbitrary text; the aggregate proves it byte-exactly.
    "src_jsonl" -> { (s, d) =>
      val dir = jsonlCache.getOrElseUpdate(d,
        graft.sources.TextSources.scratchDir(s, "graft_jsonl_"))
      graft.sources.TextSources.jsonlRoundtrip(s,
          Tables(s, d, "documents").select(col("doc_id"), col("lang"), col("text")),
          dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(length(col("text")).cast("long")).as("chars"))
    },

    // PII scrubbing: redact emails/URLs/phone numbers before training. The
    // corpus is synthetic lowercase prose with no natural PII, so a
    // deterministic fixture plants doc_id-derived spans (email on every 5th
    // doc, URL on every 9th, phone on every 11th — composable) and the
    // operator provably finds and redacts exactly those. Counting + triple
    // regexp_replace is per-row column algebra: one corpus scan, zero
    // shuffle, whole-stage codegen'd — the shape that holds at 100 TB.
    "text_scrub" -> { (s, d) =>
      val id = col("doc_id").cast("string")
      val pii = concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), id, lit(".dev@mail-example.com now")))
          .otherwise(lit("")),
        when(col("doc_id") % 9 === 0,
          concat(lit(" see https://site"), id, lit(".example.org/p/"), id,
                 lit("?k=v end"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call 555-867-"),
                 lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
                 lit(" today"))).otherwise(lit("")))
      def n(pat: String, c: Column) =
        size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
      Tables(s, d, "documents")
        .select(col("doc_id"), pii.as("pii"))
        .select(col("doc_id"),
          n(TextOps.emailRe, col("pii")).as("n_emails"),
          n(TextOps.urlRe, col("pii")).as("n_urls"),
          n(TextOps.phoneRe, col("pii")).as("n_phones"),
          md5(TextOps.redact(col("pii"))).as("scrub_sig"),
          length(TextOps.redact(col("pii"))).cast("long").as("scrub_len"))
    },

    // Output sharding: the write-planning half of a 100 TB pipeline. Shard
    // id = md5(doc_id) mod 16 — the same deterministic gate as pipe_sample,
    // so shard membership is reproducible and independent of partitioning
    // or cluster size. A writer calls repartition(k, shard) and gets
    // hash-balanced output files regardless of input skew; this query
    // emits the per-shard manifest (doc count + payload bytes) that proves
    // the balance and drives downstream readers.
    "pipe_shard" -> { (s, d) =>
      val shard = (TextOps.md5Gate(col("doc_id")) % 16).as("shard")
      Tables(s, d, "documents")
        .groupBy(shard)
        .agg(count(lit(1)).as("n_docs"),
             sum(length(col("text")).cast("long")).as("bytes"),
             min(col("doc_id")).as("min_doc"),
             max(col("doc_id")).as("max_doc"))
    },

    // The decontamination operator run INCREMENTALLY: documents stream in,
    // the benchmark gram set is a broadcast static side in every
    // micro-batch (stream-static join), the hit counts are the stateful
    // aggregation — continuous ingestion decontaminating against a fixed
    // eval suite. Oracle = the batch twin's SQL.
    "stream_decontam" -> { (s, d) =>
      import graft.streaming.StreamOps
      val src = StreamOps.fileSource(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val bench = Tables(s, d, "documents")
        .where(col("doc_id") % 97 === 0)
        .select(col("doc_id"), col("text"))
      StreamOps.drainComplete(s,
        graft.ops.Decontam.contaminated(
          src.where(col("doc_id") % 97 =!= 0), bench, n = 5))
    },

    // Symmetric int8 quantization of the embedding store: 4× smaller at
    // 100 TB, error bounded by scale/2 per element. Pure per-row column
    // algebra — a map over the corpus scan, zero shuffle.
    "emb_quantize" -> { (s, d) =>
      graft.ops.Quantize.int8(Tables(s, d, "embeddings"), "vec_id", "embedding")
    },

    // Distinctive-term extraction (TF-IDF family): top-3 terms per doc by
    // tf·10⁶/df in INTEGER arithmetic — rarer-corpus-wide wins, exact in
    // both engines (a float idf = tf·ln(N/df) would hinge on libm log
    // rounding, which the two engines don't share). Scale: the df side is
    // vocabulary-sized, so the term join is a real shuffle join on both
    // sides (never broadcast — a 100 TB corpus has a many-GB vocabulary);
    // the top-k window partitions by doc_id. Every stage is keyed; nothing
    // is global.
    "text_tfidf" -> { (s, d) =>
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = toks.distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      tf.join(dfreq, Seq("term"))
        .withColumn("score", expr("tf * 1000000L div df"))
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .where(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
                col("score"), col("rnk"))
    },

    // Per-label mean embedding (long format: label, dim): the vector
    // aggregate behind class centroids / topic prototypes. Quantized-exact
    // sums (see Similarity.centroidStats) make the distributed aggregation
    // hash-match a single-node oracle — a raw float sum never would.
    "emb_centroid" -> { (s, d) =>
      Similarity.centroidStats(
        Tables(s, d, "embeddings").select(col("label"), col("embedding")),
        "label")
    },

    // Embedding COVARIANCE matrix (r9): the D×D second-moment statistic
    // behind whitening / PCA-style dimensionality analysis. Per row the
    // upper-triangle quantized products expand MAP-SIDE (nested
    // transform + slice — D(D+1)/2 longs per vector, all codegen), and
    // the only shuffle carries ≤ D²·partitions partial sums into the
    // |D²|-group aggregate (DECIMAL(38,0) accumulators — products are
    // exact ≤1e12 longs, their corpus sums are not). Dim means come
    // from a second slim aggregate; both join broadcast (≤ D rows).
    // Every covariance is ONE fixed IEEE op sequence over exact sums
    // (the q_stats_agg convention). At 100 TB: no corpus-keyed
    // exchange, CPU-bound map expansion, 4096-row result.
    "emb_cov" -> { (s, d) =>
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id"), expr(
          "transform(embedding, x -> " +
            "CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("qv"))
      // r15: the upper-triangle products explode as ONE flat primitive
      // long array per vector — the r9 shape built 2080 struct<i,j,p>
      // rows per vector (an object allocation each), and at 32 threads
      // the GC pressure made the whole query ANTI-SCALE (faster on 8
      // cores than 32 — the driver's 8v32 ratio 0.73). The (i, j) pair
      // is recovered from the triangular POSITION after the |D²|-group
      // aggregate, on ≤ D(D+1)/2 rows instead of per product: pos(i,j)
      // = i·D − i(i−1)/2 + (j−i), exact integer arithmetic, joined from
      // a broadcast |pairs|-row mapping built off the slim dim table.
      // Same sums, same groups, same output rows. Requires one embedding
      // width (position → (i,j) is per-corpus): the per-dim pass carries
      // each vector's width, and `dd` raises on a ragged corpus.
      val prods = e.select(posexplode(expr(
          "flatten(transform(qv, (x, i) -> " +
            "transform(slice(qv, i + 1, size(qv) - i), (y, k) -> x * y)))"))
          .as(Seq("pos", "p")))
        .select(col("pos").cast("long").as("pos"), col("p"))
      val byPos = prods.groupBy(col("pos"))
        .agg(sum(col("p").cast("decimal(38,0)")).as("spq"))
      val sums = e.select(posexplode(col("qv")).as(Seq("pos", "q")),
          size(col("qv")).as("w"))
        .select(col("pos").cast("long").as("dim"), col("q"), col("w"))
        .groupBy(col("dim"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"),
          min(col("w")).as("wmin"), max(col("w")).as("wmax"))
      val dcount = sums.agg(count(lit(1)).as("dd"),
          min(col("wmin")).as("wmin"), max(col("wmax")).as("wmax"))
        .select(when(col("wmin") <=> col("wmax"), col("dd")).otherwise(
          raise_error(format_string("emb_cov: ragged embeddings " +
            "(widths %d to %d)", col("wmin"), col("wmax")))).as("dd"))
      val mapping = sums.select(col("dim").as("i"))
        .crossJoin(sums.select(col("dim").as("j")))
        .where(col("j") >= col("i"))
        .crossJoin(broadcast(dcount))
        .select(expr("i * dd - (i * (i - 1)) div 2 + (j - i)").as("pos"),
          col("i"), col("j"))
      val spq = byPos.join(broadcast(mapping), "pos")
        .select(col("i"), col("j"), col("spq"))
      spq
        .join(broadcast(sums.select(col("dim").as("i"),
          col("sq").as("si"), col("n"))), "i")
        .join(broadcast(sums.select(col("dim").as("j"),
          col("sq").as("sj"))), "j")
        .select(col("i"), col("j"), expr(
          "(CAST(spq AS DOUBLE) - CAST(si AS DOUBLE) * CAST(sj AS DOUBLE) / n)" +
            " / (n - 1) / 1000000.0 / 1000000.0").as("cov"))
    },

    // One Lloyd k-means step over the embedding corpus: seed centroids →
    // exact max-dot assignment → quantized-exact centroid update. The
    // data-curation clustering primitive (domain discovery, stratified
    // sampling); iterating feeds the means back as the next centroids.
    "emb_kmeans" -> { (s, d) =>
      Similarity.kmeansStep(
        Tables(s, d, "embeddings").select(col("vec_id"), col("embedding")))
    },

    // Random-projection dimensionality reduction (r9): 64-dim embeddings
    // → 8 dims via a SEEDED ±1 sign matrix (Achlioptas' database-friendly
    // JL projection — signs from integer hash((i,j)), never stored, never
    // random at runtime). MAP-ONLY: zero shuffle, zero state — the
    // 8× bandwidth cut a 100 TB corpus wants BEFORE any ANN/clustering
    // pass. Determinism: per-dim products are exact (float × ±1.0), the
    // fold is fixed left-to-right in both engines (the ann_topk oracle
    // convention), so doubles hash-match bit for bit.
    "emb_project" -> { (s, d) =>
      val projs = (0 until 8).map { j =>
        expr(
          s"""aggregate(
             |  zip_with(embedding, sequence(0, size(embedding) - 1),
             |    (e, i) -> CAST(e AS DOUBLE) *
             |      CAST(1 - 2 * (((i * 2654435761L + ${j}L * 40503L)
             |                     div 128L) % 2) AS DOUBLE)),
             |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)""".stripMargin)
          .as(s"p$j")
      }
      Tables(s, d, "embeddings")
        .select(col("vec_id") +: projs: _*)
    },

    // Benchmark decontamination: every serious LLM corpus removes training
    // docs that overlap the eval sets. Benchmark = deterministic 1% slice
    // (doc_id % 97 = 0); its distinct 5-gram set BROADCASTS, the training
    // side is one scan + broadcast join + groupBy — no shuffle of corpus
    // text, which is what makes this runnable against 100 TB.
    "pipe_decontaminate" -> { (s, d) =>
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
      graft.ops.Decontam.contaminated(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0), n = 5)
    },

    // Sequence packing (concat-and-chunk): global exclusive cumsum of
    // token counts via the parallel-prefix-sum shape — range partition,
    // local cumsums, broadcast P-row offset histogram. Never a global
    // single-reducer window.
    "pipe_pack" -> { (s, d) =>
      val withTokens = Tables(s, d, "documents").select(
        col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.Packing.packConcat(withTokens, "doc_id", "n_tokens", 2048L)
    },

    "stream_events_window" -> { (s, d) =>
      graft.streaming.EventStream.runBatchParity(s, d)
    },

    // Streaming dedup: the SAME exactClusters operator as dedup_exact,
    // maintained incrementally over a file stream — clusters update as new
    // documents arrive (state = one row per distinct hash, the minimum
    // possible). At-scale shape for continuous corpus ingestion.
    "stream_dedup" -> { (s, d) =>
      import graft.streaming.StreamOps
      StreamOps.drainComplete(s, Dedup.exactClusters(
        StreamOps.fileSource(s, d, "documents").select(col("doc_id"), col("text"))))
    },

    // Streaming distinct-count: the KMV sketch (q_kmv_distinct's
    // aggregate) maintained INCREMENTALLY over the events stream —
    // TypedImperativeAggregate buffers merge across micro-batches, so
    // streaming state is ONE ~2 KB sketch (contrast stream_dedup's
    // row-per-distinct-hash: this is the cardinality question answered
    // in constant state at any stream length; exact streaming distinct
    // isn't even supported — DISTINCT aggregates can't stream). The
    // drained result is deterministic order statistics, so the batch
    // oracle agrees bit-for-bit.
    "stream_ndv" -> { (s, d) =>
      import graft.streaming.StreamOps
      val k = 256
      val h = graft.functions.Md5HighBits.hash60(col("user_id").cast("string"))
      val plan = StreamOps.fileSource(s, d, "events")
        .select(h.as("h"))
        .agg(graft.functions.KMinValues.kMinValues(col("h"), k).as("kmv"))
        .select(
          lit(k.toLong).as("k"),
          // sub-k = exact distinct set (the driver-SF case: ~150 users);
          // past k the shared estimator (KMinValues.ndvEstimate — one
          // definition across cat_ndv/stream_ndv and their oracles)
          graft.functions.KMinValues.ndvEstimate(col("kmv"), k).as("ndv"))
      StreamOps.drainComplete(s, plan)
    },

    // Streaming quantiles from a MERGEABLE fixed-bin histogram: the
    // stream aggregates floor(value/width) bucket counts incrementally —
    // state is one counter per OCCUPIED bucket (bounded by value range /
    // width, ~20 rows here; never by stream length), each micro-batch a
    // map-side partial merge — then a tiny batch pass over the histogram
    // reads p50/p95/p99 as the first bucket whose cumulative count
    // crosses ceil(q·n). Exact sort-based percentiles over a stream
    // would buffer every value forever; the histogram trades bounded
    // error (one bucket width, reported as [est_lo, est_hi)) for O(1)
    // state — and is DETERMINISTIC (integer counts + one fixed IEEE op
    // sequence), so the oracle replays it bit-for-bit, unlike an
    // approx_percentile sketch whose internals are engine-specific.
    // Streaming MODE (r9): q_mode's incremental twin — the level-1
    // composite-key counts maintain as a streaming aggregation (state =
    // |status×priority| rows, map-side merged per micro-batch); the
    // level-2 argmax runs batch-side over the drained group-cardinality
    // table, exactly like stream_quantile's post-processing. Same total
    // tie order, same oracle as q_mode.
    "stream_mode" -> { (s, d) =>
      import graft.streaming.StreamOps
      val counts = StreamOps.fileSource(s, d, "orders")
        .groupBy(col("o_orderstatus").as("status"),
                 col("o_orderpriority").as("prio"))
        .agg(count(lit(1)).as("cnt"))
      StreamOps.drainComplete(s, counts)
        .groupBy(col("status"))
        .agg(min_by(struct(col("prio"), col("cnt")),
                    struct((-col("cnt")).as("nc"), col("prio"))).as("m"))
        .select(col("status"), col("m.prio").as("mode_prio"),
                col("m.cnt").as("n"))
    },

    // Streaming OHLC (r9): q_ohlc's incremental twin — per-day
    // open/high/low/close maintained as a streaming aggregation.
    // min_by/max_by on the (ts, event_id) composite are declarative
    // aggregates, so the state store holds ONE candidate row per day
    // (never the day's events) and each micro-batch merges map-side —
    // the bars update continuously at O(#days) state. Batch/stream
    // parity by construction: same plan, same oracle as q_ohlc.
    "stream_ohlc" -> { (s, d) =>
      import graft.streaming.StreamOps
      val day = 86400L * 1000 * 1000 * 1000
      val bars = StreamOps.fileSource(s, d, "events")
        .select((col("ts") - col("ts") % day).as("day_ns"),
                struct(col("ts"), col("event_id")).as("ord"), col("value"))
        .groupBy(col("day_ns"))
        .agg(min_by(col("value"), col("ord")).as("open"),
             max(col("value")).as("high"),
             min(col("value")).as("low"),
             max_by(col("value"), col("ord")).as("close"),
             count(lit(1)).as("n"))
      StreamOps.drainComplete(s, bars)
    },

    "stream_quantile" -> { (s, d) =>
      import graft.streaming.StreamOps
      val width = 25.0
      val hist = StreamOps.fileSource(s, d, "events")
        .select(floor(col("value") / width).cast("long").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
      val h = StreamOps.drainComplete(s, hist)
      // post-processing over ≤ O(range/width) histogram rows — the
      // pmod(bucket,1) partition key keeps the window spec explicit
      // (single bounded partition BY CONSTRUCTION, not by accident)
      val part = pmod(col("bucket"), lit(1))
      val cum = h
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy(part).orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy(part)))
      Seq(0.5, 0.95, 0.99).map { q =>
        cum.where(col("cum") >= ceil(lit(q) * col("n")))
          .orderBy(col("bucket")).limit(1)
          .select(lit(q).as("q"), col("bucket"),
            (col("bucket") * width).as("est_lo"),
            ((col("bucket") + 1) * width).as("est_hi"), col("n"))
      }.reduce(_ unionByName _)
    },

    // Streaming dedup with BOUNDED state (the 100 TB shape): first
    // occurrence per text hash, state row EVICTED once the watermark
    // passes its event time + TTL (dropDuplicatesWithinWatermark) —
    // unlike stream_dedup above, whose complete-mode state grows with
    // every distinct hash forever. Event time is synthesized from doc_id
    // (1s apart) and the TTL covers the drained window's whole span, so
    // the result is deterministically one row per distinct hash; only
    // hash-determined columns are projected (which duplicate is kept is
    // arrival order). StreamStateSpec pins the eviction itself.
    "stream_dedup_ttl" -> { (s, d) =>
      import graft.streaming.StreamOps
      val src = StreamOps.fileSource(s, d, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"),
          timestamp_micros(lit(1704067200000000L) + col("doc_id") * 1000000L)
            .as("ets"))
      StreamOps.drainAppend(s,
        Dedup.exactFirstWithinTtl(src, "ets", "30 days")
          .select(col("h"), col("n_chars")))
    },

    // Batch twin of the flatMapGroupsWithState sessionizer (streaming
    // parity is SessionizeSpec); gap-based sessions are the canonical
    // "state the built-in windows can't express" workload.
    "q_sessionize" -> { (s, d) =>
      graft.streaming.Sessionize.sessionsBatch(s, d, microsPrecision = true).toDF()
    },

    // The flatMapGroupsWithState sessionizer run INCREMENTALLY over the
    // events file stream; append mode emits only closed sessions (the
    // oracle drops each user's final open session accordingly).
    "stream_sessionize" -> { (s, d) =>
      import graft.streaming.{Sessionize, StreamOps}
      StreamOps.drainAppend(s, Sessionize.sessionsStream(s, d).toDF())
    },

    // Spark's NATIVE session_window operator (r10) — the declarative
    // sibling of the custom flatMapGroupsWithState sessionizer above
    // (use the built-in when plain gap sessions suffice; drop to custom
    // state only for semantics it can't express — SURVEY's preference
    // order). Boundary semantics differ from q_sessionize at exact
    // gap spacing: session_window's window is [ts, ts+gap), so an event
    // EXACTLY gap after the last one starts a NEW session (the oracle's
    // new-session test is >= where q_sessionize's is >), and the window
    // end is last_ts + gap, not last_ts. Timestamps µs-truncate first so
    // both engines see identical values.
    "q_session_window" -> { (s, d) =>
      Tables(s, d, "events")
        .select(col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("ets"))
        .groupBy(col("user_id"),
          session_window(col("ets"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          unix_micros(col("sw.end")).as("session_end_us"),
          col("n_events"))
    },

    // SLIDING event-time windows (r10, the native window(size, slide)
    // operator) — the overlapping-window shape tumbling can't express:
    // each event contributes to size/slide windows (here 2). The oracle
    // replays the overlap as a UNION of the two shifted tumbling
    // assignments (epoch-aligned starts, the operator's default).
    "q_sliding_window" -> { (s, d) =>
      Tables(s, d, "events")
        .select(col("event_type"),
          timestamp_micros(expr("ts div 1000")).as("ets"), col("value"))
        .groupBy(window(col("ets"), "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Exact.sumMoney(col("value")).as("sum_value"))
        .select(unix_micros(col("w.start")).as("window_start_us"),
          col("event_type"), col("n"), col("sum_value"))
    },

    // Sliding windows run INCREMENTALLY (r10): watermarked append mode
    // emits a window's final aggregate once the watermark passes its
    // end; each event updates size/slide open windows. The oracle keeps
    // the batch windows whose end ≤ the final ms-floored watermark.
    "stream_sliding_window" -> { (s, d) =>
      import graft.streaming.StreamOps
      val e = StreamOps.fileSource(s, d, "events")
        .select(col("event_type"),
          timestamp_micros(expr("ts div 1000")).as("ets"), col("value"))
        .withWatermark("ets", "2 hours")
      StreamOps.drainAppend(s,
        e.groupBy(window(col("ets"), "2 hours", "1 hour").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            graft.functions.Exact.sumMoney(col("value")).as("sum_value"))
          .select(unix_micros(col("w.start")).as("window_start_us"),
            col("event_type"), col("n"), col("sum_value")))
    },

    // Native session_window run INCREMENTALLY (r10): the built-in
    // sessionizer's streaming form — watermarked append mode emits a
    // session once the watermark proves it can no longer extend. State
    // is merged per session window (bounded by open sessions, not stream
    // length). The oracle reproduces the emission boundary from the
    // batch sessions: emitted iff session_end (last event + gap) < W,
    // the ms-floored final watermark.
    "stream_session_window" -> { (s, d) =>
      import graft.streaming.StreamOps
      // session state ∝ |users with an open session| — corpus-scale at a
      // bounded drain's single batch, so this operator opts into the
      // RocksDB state store (the in-memory default OOMed the 1000×
      // fixture; with RocksDB it completes at an O(disk) ceiling)
      val e = StreamOps.fileSource(s, d, "events", rocksdb = true)
        .select(col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("ets"))
        .withWatermark("ets", "2 hours")
      StreamOps.drainAppend(s,
        e.groupBy(col("user_id"),
            session_window(col("ets"), "30 minutes").as("sw"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("sw.start")).as("session_start_us"),
            unix_micros(col("sw.end")).as("session_end_us"),
            col("n_events")))
    },

    // Stream-STREAM join: views and purchases are two event STREAMS,
    // inner-joined per user with an event-time range (purchase within 2h
    // after the view) and 2h watermarks on BOTH sides — the watermark +
    // time bound is what lets Spark evict join state, so memory is
    // bounded by the window, not the stream length. The remaining
    // streaming capability class after stateful agg / arbitrary state /
    // stream-static joins. Timestamps µs-truncate BEFORE joining (both
    // engines see identical values; SURVEY §4).
    "stream_stream_join" -> { (s, d) =>
      import graft.streaming.StreamOps
      def side(tpe: String, idAs: String, tsAs: String) =
        StreamOps.fileSource(s, d, "events")
          .where(col("event_type") === tpe)
          .select(col("user_id"),
            col("event_id").as(idAs),
            timestamp_micros(expr("ts div 1000")).as(tsAs))
          .withWatermark(tsAs, "2 hours")
      val views = side("view", "view_id", "vts")
      val purch = side("purchase", "purchase_id", "pts")
        .withColumnRenamed("user_id", "p_user_id")
      StreamOps.drainAppend(s,
        views.join(purch,
          col("user_id") === col("p_user_id") &&
          col("pts") >= col("vts") &&
          col("pts") <= col("vts") + expr("INTERVAL 2 HOURS"))
        .select(col("user_id"), col("view_id"), col("purchase_id"),
          (unix_micros(col("pts")) - unix_micros(col("vts"))).as("gap_us")))
    },

    // Stream-stream LEFT OUTER join (r10) — the other half of the funnel
    // class: views with NO purchase inside the attribution window emit
    // with a NULL purchase side once the watermark proves no match can
    // arrive (Spark runs no-data batches after the data drains, so state
    // eviction fires inside one AvailableNow run). The un-expirable tail
    // — views younger than (min of both sides' final watermarks) minus
    // the join window — stays in state and never emits; the oracle
    // reproduces exactly that boundary from the batch left join
    // (watermarks are millisecond-truncated: Spark's event-time stats
    // track max at ms precision — the oracle mirrors the floor).
    "stream_outer_join" -> { (s, d) =>
      import graft.streaming.StreamOps
      def side(tpe: String, idAs: String, tsAs: String) =
        StreamOps.fileSource(s, d, "events")
          .where(col("event_type") === tpe)
          .select(col("user_id"),
            col("event_id").as(idAs),
            timestamp_micros(expr("ts div 1000")).as(tsAs))
          .withWatermark(tsAs, "2 hours")
      val views = side("view", "view_id", "vts")
      val purch = side("purchase", "purchase_id", "pts")
        .withColumnRenamed("user_id", "p_user_id")
      StreamOps.drainAppend(s,
        views.join(purch,
          col("user_id") === col("p_user_id") &&
          col("pts") >= col("vts") &&
          col("pts") <= col("vts") + expr("INTERVAL 2 HOURS"),
          "left_outer")
        .select(col("user_id"), col("view_id"), col("purchase_id"),
          (unix_micros(col("pts")) - unix_micros(col("vts"))).as("gap_us")))
    },

    // Stream-stream FULL OUTER join (r10) — completes the join class:
    // unmatched VIEWS emit (view, NULL) as in stream_outer_join, and
    // unmatched PURCHASES emit (NULL, purchase) once the watermark
    // proves no view can still match them. The right side's eviction
    // boundary differs from the left's: a purchase at pts is matchable
    // by views with vts ∈ [pts − 2h, pts], and a non-late future view
    // must have vts > W — so the purchase expires when pts ≤ W (no
    // +window shift). The oracle reproduces both boundaries.
    "stream_full_outer_join" -> { (s, d) =>
      import graft.streaming.StreamOps
      def side(tpe: String, idAs: String, tsAs: String) =
        StreamOps.fileSource(s, d, "events")
          .where(col("event_type") === tpe)
          .select(col("user_id"),
            col("event_id").as(idAs),
            timestamp_micros(expr("ts div 1000")).as(tsAs))
          .withWatermark(tsAs, "2 hours")
      val views = side("view", "view_id", "vts")
      val purch = side("purchase", "purchase_id", "pts")
        .withColumnRenamed("user_id", "p_user_id")
      StreamOps.drainAppend(s,
        views.join(purch,
          col("user_id") === col("p_user_id") &&
          col("pts") >= col("vts") &&
          col("pts") <= col("vts") + expr("INTERVAL 2 HOURS"),
          "full_outer")
        .select(coalesce(col("user_id"), col("p_user_id")).as("uid"),
          col("view_id"), col("purchase_id")))
    },

    // Stream-STATIC join: the events file stream interval-joined (same
    // bucketized RangeJoin operator as batch q_range_join) to the static
    // periods table, aggregated per period. Covers the third streaming
    // capability class: stateless enrichment joins against reference data
    // (the static side broadcasts into every micro-batch; only the
    // aggregation keeps state). Oracle = the batch q_range_join SQL.
    "stream_range_join" -> { (s, d) =>
      import graft.streaming.StreamOps
      val hour = 3600L * 1000 * 1000 * 1000
      val t0 = 1704067200L * 1000000000L
      val periods = s.range(0, 40).toDF("period_id")
        .withColumn("lo_ns", lit(t0) + col("period_id") * lit(17L * hour))
        .withColumn("hi_ns",
          col("lo_ns") + (lit(3L * hour) + (col("period_id") % 5) * lit(7L * hour)) - 1L)
      val src = StreamOps.fileSource(s, d, "events").select(col("ts"), col("value"))
      StreamOps.drainComplete(s,
        graft.ops.RangeJoin.intervalJoin(src, "ts", periods, "lo_ns", "hi_ns", 6L * hour)
          .groupBy(col("period_id"))
          .agg(count(lit(1)).as("n"),
               graft.functions.Exact.sumMoney(col("value")).as("sum_value")))
    }
  )

  // ---------------------------------------------------------------- oracles

  private val corpusCte =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000 AS doc_id, text
      |    FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 200000 AS doc_id, text || ' near dup tail' AS text
      |    FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  // twin of TextOps.shingles(tokens(text), 5) over a named source table
  private def shingleCtesFrom(src: String): String =
    s"""toks AS (SELECT doc_id, string_split(text,' ') AS toks FROM $src),
       |sh0 AS (SELECT doc_id,
       |  CASE WHEN len(toks) < 5 THEN [array_to_string(toks,' ')]
       |       ELSE list_distinct(list_transform(range(1, len(toks)-3),
       |              i -> array_to_string(toks[i:i+4],' ')))
       |  END AS shingles FROM toks),
       |sh AS (SELECT doc_id, unnest(shingles) AS sh FROM sh0)""".stripMargin

  private val shingleCtes = shingleCtesFrom("corpus")

  // twin of TextOps.hashMember: four 8-hex members per digest
  private def duckHash(i: Int): String =
    s"MIN(CAST(('0x'||substr(md5('${i / 4}:'||sh),${1 + 8 * (i % 4)},8)) AS BIGINT)) AS mh$i"

  // shared by pipe_decontaminate and its streaming twin — one string so
  // the two oracles can never drift apart
  private lazy val decontamOracle: String =
    s"""WITH ${shingleCtesFrom("documents")},
         |shh AS (SELECT doc_id,
         |        CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS gh FROM sh),
         |bg AS (SELECT DISTINCT gh FROM shh WHERE doc_id % 97 = 0),
         |tg AS (SELECT doc_id, gh FROM shh WHERE doc_id % 97 <> 0)
         |SELECT t.doc_id, COUNT(*) AS n_hits
         |FROM tg t JOIN bg b ON t.gh = b.gh GROUP BY 1""".stripMargin

  /** DuckDB replay of graft's BM25 (ops/Retrieval.bm25: log-free odds
    * idf, k1=1.2 b=0.75, floor(x·10⁶)-long per-term contributions) for
    * the fixed term set (vector, stream, big) — CTE prefix ending at
    * the per-doc score table `sc`, shared by text_bm25 (ranks it) and
    * ann_hybrid (fuses it with the vector ranks). */
  private val bm25OracleCtes: String =
    """WITH qt AS (SELECT unnest(['vector','stream','big']) AS term),
      |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents),
      |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |       FROM documents),
      |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      |dfq AS (SELECT t.term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      |        FROM tok t JOIN qt ON t.term = qt.term GROUP BY 1),
      |tf AS (SELECT t.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
      |       FROM tok t JOIN qt ON t.term = qt.term GROUP BY 1, 2),
      |contrib AS (
      |  SELECT tf.doc_id,
      |    CAST(FLOOR(
      |      ((CAST(stats.n AS DOUBLE) - CAST(dfq.df AS DOUBLE) + 0.5)
      |        / (CAST(dfq.df AS DOUBLE) + 0.5))
      |      * ((CAST(tf.tf AS DOUBLE) * 2.2)
      |        / (CAST(tf.tf AS DOUBLE)
      |           + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))
      |      * 1000000.0) AS BIGINT) AS cq
      |  FROM tf JOIN dfq ON tf.term = dfq.term
      |          JOIN dl ON tf.doc_id = dl.doc_id, stats),
      |sc AS (SELECT doc_id, CAST(SUM(cq) AS BIGINT) AS score_q
      |       FROM contrib GROUP BY 1)
      |""".stripMargin

  /** DuckDB replay of IVF-PQ + exact re-rank (16 seed centroids,
    * nProbe 2, 4 subspaces x 8-codeword books, 25-deep shortlist, k 5)
    * — shared verbatim by ann_ivfpq (inline build) and
    * ann_ivfpq_durable (stored index): the build is deterministic, so
    * both paths land on the same centroids, codebooks and codes. */
  private val annIvfPqOracle: String =
    """WITH cents AS (SELECT vec_id AS cid, embedding AS ce
        |               FROM embeddings WHERE vec_id < 16),
        |seeds AS (SELECT vec_id AS cid, embedding AS ce
        |          FROM embeddings WHERE vec_id < 8),
        |q AS (SELECT vec_id AS qid, embedding AS qe
        |      FROM embeddings WHERE vec_id < 5),
        |ms AS (SELECT unnest(range(0, 4)) AS m),
        |adots AS (
        |  SELECT e.vec_id, c.cid,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(c.ce) + 1),
        |          i -> CAST(c.ce[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS cdot
        |  FROM embeddings e, cents c),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |         ORDER BY cdot DESC, cid ASC) AS rn FROM adots) WHERE rn = 1),
        |qdots AS (
        |  SELECT q.qid, c.cid,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(c.ce) + 1),
        |          i -> CAST(c.ce[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS cdot
        |  FROM q, cents c),
        |qroute AS (SELECT qid, cid AS qcid FROM (
        |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |         ORDER BY cdot DESC, cid ASC) AS rn FROM qdots) WHERE rn <= 2),
        |subdots AS (
        |  SELECT e.vec_id, c.cid, ms.m,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, 17),
        |          i -> CAST(c.ce[ms.m * 16 + i] AS DOUBLE)
        |             * CAST(e.embedding[ms.m * 16 + i] AS DOUBLE))),
        |      (a, b) -> a + b) AS sdot
        |  FROM embeddings e, seeds c, ms),
        |codes AS (SELECT vec_id, m, cid AS code FROM (
        |  SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m
        |         ORDER BY sdot DESC, cid ASC) AS rn FROM subdots)
        |  WHERE rn = 1),
        |wide AS (SELECT vec_id,
        |    MAX(CASE WHEN m = 0 THEN code END) AS c0,
        |    MAX(CASE WHEN m = 1 THEN code END) AS c1,
        |    MAX(CASE WHEN m = 2 THEN code END) AS c2,
        |    MAX(CASE WHEN m = 3 THEN code END) AS c3
        |  FROM codes GROUP BY vec_id),
        |qsub AS (
        |  SELECT q.qid, c.cid, ms.m,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, 17),
        |          i -> CAST(q.qe[ms.m * 16 + i] AS DOUBLE)
        |             * CAST(c.ce[ms.m * 16 + i] AS DOUBLE))),
        |      (a, b) -> a + b) AS sdot
        |  FROM q, seeds c, ms),
        |scores AS (
        |  SELECT s0.qid, w.vec_id,
        |    ((s0.sdot + s1.sdot) + s2.sdot) + s3.sdot AS adot
        |  FROM wide w
        |  JOIN assign a ON a.vec_id = w.vec_id
        |  JOIN qroute r ON r.qcid = a.cid
        |  JOIN qsub s0 ON s0.qid = r.qid AND s0.m = 0 AND s0.cid = w.c0
        |  JOIN qsub s1 ON s1.m = 1 AND s1.cid = w.c1 AND s1.qid = s0.qid
        |  JOIN qsub s2 ON s2.m = 2 AND s2.cid = w.c2 AND s2.qid = s0.qid
        |  JOIN qsub s3 ON s3.m = 3 AND s3.cid = w.c3 AND s3.qid = s0.qid),
        |short AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |         ORDER BY adot DESC, vec_id ASC) AS rnk FROM scores)
        |  WHERE rnk <= 25),
        |exact AS (
        |  SELECT s.qid, s.vec_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(q.qe) + 1),
        |          i -> CAST(q.qe[i] AS DOUBLE)
        |             * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS dot
        |  FROM short s
        |  JOIN q ON q.qid = s.qid
        |  JOIN embeddings e ON e.vec_id = s.vec_id),
        |rk2 AS (SELECT qid, vec_id, dot,
        |         CAST(row_number() OVER (PARTITION BY qid
        |              ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
        |       FROM exact)
        |SELECT qid, vec_id, dot, rnk FROM rk2 WHERE rnk <= 5""".stripMargin

  /** DuckDB replay of the trained-IVF build + probe (16 seed
    * centroids, 1 Lloyd round, nProbe 1, k 5) — shared verbatim by
    * ann_ivf_trained (inline training) and ann_ivf_durable (stored
    * index): determinism makes the two engines' paths land on the
    * same centroids, so one replay oracles both. */
  private val annTrainedOracle: String =
    """WITH seeds AS (SELECT vec_id AS cid, embedding AS ce
        |               FROM embeddings WHERE vec_id < 16),
        |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |a1 AS (SELECT vec_id, embedding, cid FROM (
        |  SELECT e.vec_id, e.embedding, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_reduce(
        |        list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(range(1, len(c.ce) + 1),
        |            i -> CAST(c.ce[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |        (a, b) -> a + b) DESC, c.cid ASC) AS crn
        |  FROM embeddings e, seeds c) WHERE crn = 1),
        |comps AS (
        |  SELECT cid, i AS dim,
        |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS fq
        |  FROM a1, LATERAL (SELECT UNNEST(range(1, len(embedding) + 1)) AS i)),
        |means AS (
        |  SELECT cid, dim,
        |    CAST(CAST(SUM(fq) AS DOUBLE) / COUNT(*) / 1e6 AS FLOAT) AS mv
        |  FROM comps GROUP BY cid, dim),
        |mlists AS (SELECT cid, list(mv ORDER BY dim) AS mce FROM means GROUP BY cid),
        |cents AS (SELECT s.cid, COALESCE(m.mce, s.ce) AS ce
        |          FROM seeds s LEFT JOIN mlists m ON s.cid = m.cid),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT e.vec_id, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |      list_reduce(
        |        list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(range(1, len(c.ce) + 1),
        |            i -> CAST(c.ce[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |        (a, b) -> a + b) DESC, c.cid ASC) AS crn
        |  FROM embeddings e, cents c) WHERE crn = 1),
        |qroute AS (SELECT qid, qcid FROM (
        |  SELECT q.qid, c.cid AS qcid,
        |    row_number() OVER (PARTITION BY q.qid ORDER BY
        |      list_reduce(
        |        list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(range(1, len(c.ce) + 1),
        |            i -> CAST(c.ce[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))),
        |        (a, b) -> a + b) DESC, c.cid ASC) AS crn
        |  FROM q, cents c) WHERE crn = 1),
        |dots AS (
        |  SELECT q.qid, a.cid, e.vec_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(q.qe) + 1),
        |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS dot
        |  FROM q JOIN qroute r ON q.qid = r.qid
        |  JOIN assign a ON a.cid = r.qcid
        |  JOIN embeddings e ON e.vec_id = a.vec_id),
        |rk AS (SELECT qid, cid, vec_id, dot,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
        |       FROM dots)
        |SELECT qid, cid, vec_id, dot, rnk FROM rk WHERE rnk <= 5""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // same seeded sign matrix ((i,j) integer hash, 0-indexed dim = the
    // 1-based list position - 1), same fixed-order fold — the ann_topk
    // replay convention applied per output dim
    "emb_project" -> {
      val cols = (0 until 8).map { j =>
        s"""  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |    list_transform(range(1, len(embedding) + 1),
           |      i -> CAST(embedding[i] AS DOUBLE) *
           |        CAST(1 - 2 * ((((i - 1) * 2654435761 + $j * 40503)
           |                       // 128) % 2) AS DOUBLE))),
           |    (a, b) -> a + b) AS p$j""".stripMargin
      }.mkString(",\n")
      s"SELECT vec_id,\n$cols\nFROM embeddings"
    },

    // float→double widening is exact; fixed-order IEEE arithmetic and
    // floor(v+0.5) rounding are engine-identical (never round(): half-even
    // vs half-away diverges). qsig hashes the int vector as text — the one
    // array encoding both engines agree on byte-for-byte.
    "emb_quantize" ->
      """WITH e AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))))
        |    AS amax FROM embeddings),
        |q AS (SELECT vec_id, amax, embedding,
        |  list_transform(embedding, v ->
        |    CASE WHEN amax = 0 THEN 0
        |         ELSE CAST(FLOOR(CAST(v AS DOUBLE) * 127.0 / amax + 0.5) AS INT)
        |    END) AS qv
        |  FROM e)
        |SELECT vec_id, amax / 127.0 AS scale,
        |  md5(array_to_string(qv, ',')) AS qsig,
        |  list_max(list_transform(range(1, len(embedding) + 1), i ->
        |    abs(CAST(embedding[i] AS DOUBLE) - qv[i] * (amax / 127.0))))
        |    AS err_max
        |FROM q""".stripMargin,

    // integer tf·10⁶//df scoring: BIGINT division truncates identically in
    // both engines for the non-negative counts involved
    "text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
        |j AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |        CAST(tf.tf * 1000000 // df.df AS BIGINT) AS score
        |      FROM tf JOIN df USING (term)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score DESC, term ASC) AS BIGINT) AS rnk FROM j)
        |SELECT doc_id, term, tf, df, score, rnk FROM r WHERE rnk <= 3""".stripMargin,

    // quantized-exact centroid stats: floor(v*1e6) longs sum exactly in any
    // order, so the distributed Spark agg and this single-node SQL agree
    "emb_centroid" ->
      """WITH x AS (
        |  SELECT label, unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'dim': i - 1,
        |          'q': CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)}))
        |    AS s
        |  FROM embeddings)
        |SELECT label, CAST(s.dim AS BIGINT) AS dim, COUNT(*) AS n,
        |  CAST(SUM(s.q) AS BIGINT) AS sum_q,
        |  CAST(CAST(SUM(s.q) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_q
        |FROM x GROUP BY 1, 2""".stripMargin,

    // same quantization, same upper-triangle pairs via a self-join on
    // vec_id (single-node; the engine expands map-side instead), same
    // textual IEEE covariance formula over exact integer sums
    "emb_cov" ->
      """WITH x AS (
        |  SELECT vec_id, unnest(list_transform(range(1, len(embedding) + 1),
        |    i -> {'dim': i - 1,
        |          'q': CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000)
        |               AS BIGINT)})) AS s
        |  FROM embeddings),
        |e AS (SELECT vec_id, CAST(s.dim AS BIGINT) AS dim, s.q AS q FROM x),
        |sums AS (SELECT dim, SUM(q) AS sq, COUNT(*) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.dim AS i, b.dim AS j, SUM(a.q * b.q) AS spq
        |      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim <= b.dim
        |      GROUP BY 1, 2)
        |SELECT p.i, p.j,
        |  (CAST(spq AS DOUBLE) - CAST(si.sq AS DOUBLE) * CAST(sj.sq AS DOUBLE)
        |     / si.n) / (si.n - 1) / 1000000.0 / 1000000.0 AS cov
        |FROM p
        |JOIN sums si ON p.i = si.dim
        |JOIN sums sj ON p.j = sj.dim""".stripMargin,

    // assignment twin of ann_ivf_build (fixed-order double dot, argmax with
    // cid-asc tiebreak), update twin of emb_centroid
    "emb_kmeans" ->
      """WITH c AS (SELECT vec_id AS cid, embedding AS ce
        |           FROM embeddings WHERE vec_id < 10),
        |d AS (SELECT e.vec_id, e.embedding, c.cid,
        |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |          list_transform(range(1, len(c.ce) + 1),
        |            i -> CAST(c.ce[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |          (a, b) -> a + b) AS cdot
        |      FROM embeddings e, c),
        |a AS (SELECT vec_id, embedding, cid FROM (
        |        SELECT vec_id, embedding, cid,
        |          row_number() OVER (PARTITION BY vec_id
        |                             ORDER BY cdot DESC, cid ASC) AS crn
        |        FROM d) WHERE crn = 1),
        |x AS (SELECT cid, unnest(list_transform(range(1, len(embedding) + 1),
        |        i -> {'dim': i - 1,
        |              'q': CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)}))
        |        AS s
        |      FROM a)
        |SELECT cid, CAST(s.dim AS BIGINT) AS dim, COUNT(*) AS n,
        |  CAST(SUM(s.q) AS BIGINT) AS sum_q,
        |  CAST(CAST(SUM(s.q) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_q
        |FROM x GROUP BY 1, 2""".stripMargin,

    "pipe_mix" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 100
        |  < CASE lang WHEN 'en' THEN 80 WHEN 'es' THEN 50
        |              WHEN 'fr' THEN 30 WHEN 'de' THEN 20 ELSE 10 END""".stripMargin,

    // joins on the 60-bit md5 gram hash, mirroring Decontam.contaminated
    // (same TextOps.tokenHash the jaccard oracle already twins)
    "pipe_decontaminate" -> decontamOracle,

    // vocabulary as a DuckDB MAP; mp[t] yields a 1-element list (or
    // empty), so [1] + coalesce is the OOV fallback
    "pipe_tokenize" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |c AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY 1),
        |v AS (SELECT tok,
        |        CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS BIGINT) AS id
        |      FROM c ORDER BY n DESC, tok ASC LIMIT 100),
        |m AS (SELECT map(list(tok), list(id)) AS mp FROM v),
        |x AS (SELECT doc_id,
        |        list_transform(string_split(text, ' '),
        |          t -> coalesce(mp[t][1], 0)) AS ids
        |      FROM documents, m)
        |SELECT doc_id,
        |  CAST(len(ids) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(ids, i -> i = 0)) AS BIGINT) AS n_oov,
        |  md5(array_to_string(ids, ',')) AS ids_sig
        |FROM x""".stripMargin,

    // shingle-count twin at n=2 and n=5; docs shorter than n collapse to
    // one whole-text shingle on both sides (ppm 0)
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |m AS (SELECT doc_id,
        |  CASE WHEN len(toks) < 2 THEN 1 ELSE len(toks) - 1 END AS t2,
        |  CASE WHEN len(toks) < 2 THEN 1
        |       ELSE len(list_distinct(list_transform(range(1, len(toks)),
        |            i -> array_to_string(toks[i:i+1], ' ')))) END AS d2,
        |  CASE WHEN len(toks) < 5 THEN 1 ELSE len(toks) - 4 END AS t5,
        |  CASE WHEN len(toks) < 5 THEN 1
        |       ELSE len(list_distinct(list_transform(range(1, len(toks) - 3),
        |            i -> array_to_string(toks[i:i+4], ' ')))) END AS d5
        |  FROM t)
        |SELECT doc_id,
        |  CAST((t2 - d2) * 1000000 // t2 AS BIGINT) AS dup2_ppm,
        |  CAST((t5 - d5) * 1000000 // t5 AS BIGINT) AS dup5_ppm
        |FROM m""".stripMargin,

    // HUGEINT window sum × 1000000 // BIGINT total: integer throughout
    // floor-log2 surprise: length(bin(total // cnt)) - 1 is exact
    // integer bit arithmetic in both engines (ln() is banned, §4)
    "text_perplexity" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |dt AS (SELECT doc_id, tok, COUNT(*) AS m FROM tok GROUP BY 1, 2),
        |c AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
        |SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
        |  CAST(SUM(m * (length(bin(total // cnt)) - 1)) AS BIGINT) AS bits,
        |  CAST(SUM(m * (length(bin(total // cnt)) - 1)) AS DOUBLE)
        |    / CAST(SUM(m) AS BIGINT) AS bpt
        |FROM dt JOIN c USING (tok), tot
        |GROUP BY doc_id""".stripMargin,

    "text_vocab" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |c AS (SELECT tok, COUNT(*) AS n FROM tok GROUP BY 1),
        |tot AS (SELECT SUM(n) AS total FROM c),
        |top AS (SELECT tok, n,
        |          CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS BIGINT)
        |            AS rnk
        |        FROM c ORDER BY n DESC, tok ASC LIMIT 100)
        |SELECT tok, n, rnk,
        |  CAST(SUM(n) OVER (ORDER BY rnk
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |       * 1000000 // total AS BIGINT) AS coverage_ppm
        |FROM top, tot""".stripMargin,

    "src_jsonl" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(text)) AS BIGINT) AS chars
        |FROM documents GROUP BY 1""".stripMargin,

    // layout is never semantics: partition pruning's oracle is the filter
    "src_partitioned" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(text)) AS BIGINT) AS chars
        |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin,

    // the dim's post-filter lang set, inlined (romance = es, fr)
    "q_dpp" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(len(text)) AS BIGINT) AS chars
        |FROM documents WHERE lang IN ('es', 'fr') GROUP BY 1""".stripMargin,

    // twin of the text_scrub fixture + TextOps.redact; regexp_replace needs
    // the 'g' flag (DuckDB replaces first-match-only by default, Java all)
    "text_scrub" ->
      """WITH pii AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 5 = 0
        |       THEN ' contact user' || doc_id || '.dev@mail-example.com now'
        |       ELSE '' END
        |  || CASE WHEN doc_id % 9 = 0
        |       THEN ' see https://site' || doc_id || '.example.org/p/'
        |            || doc_id || '?k=v end'
        |       ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0
        |       THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |            || ' today'
        |       ELSE '' END AS pii
        |  FROM documents),
        |scrubbed AS (SELECT doc_id, pii,
        |  regexp_replace(regexp_replace(regexp_replace(pii,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[email]', 'g'),
        |    'https?://[^ ]+', '[url]', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '[phone]', 'g') AS s
        |  FROM pii)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(pii, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(pii, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(pii, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  md5(s) AS scrub_sig,
        |  CAST(length(s) AS BIGINT) AS scrub_len
        |FROM scrubbed""".stripMargin,

    // same md5 gate as pipe_sample/pipe_mix; SUM(BIGINT)→HUGEINT cast back
    "pipe_shard" ->
      """SELECT CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 16
        |    AS shard,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(len(text)) AS BIGINT) AS bytes,
        |  MIN(doc_id) AS min_doc,
        |  MAX(doc_id) AS max_doc
        |FROM documents GROUP BY 1""".stripMargin,

    "pipe_pack" ->
      """WITH t AS (SELECT doc_id,
        |       CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
        |       FROM documents),
        |-- DuckDB SUM(BIGINT) widens to HUGEINT (renders as float through
        |-- pandas) — cast back to BIGINT so types match Spark's long.
        |c AS (SELECT doc_id, n_tokens,
        |      CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |        AS start_tok FROM t)
        |SELECT doc_id, n_tokens, start_tok,
        |       CAST(start_tok // 2048 AS BIGINT) AS pack_id,
        |       CAST(((start_tok + n_tokens - 1) // 2048) - (start_tok // 2048) + 1
        |         AS BIGINT) AS n_packs
        |FROM c""".stripMargin,

    "dedup_exact" ->
      s"""WITH $corpusCte
         |SELECT md5(text) AS h, COUNT(*) AS sz, MIN(doc_id) AS keeper
         |FROM corpus GROUP BY 1""".stripMargin,

    "text_subwords" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_nums,
        |  CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) AS n_punct,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
        |    AS n_units
        |FROM documents""".stripMargin,

    // same LSH banding as dedup_minhash; only cross-side (corpus × new
    // batch) bucket matches are candidates
    "dedup_incremental" ->
      s"""WITH $corpusCte,
         |$shingleCtes,
         |mh AS (SELECT doc_id, ${(0 until 8).map(duckHash).mkString(", ")}
         |       FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR)||'_'||CAST(mh1 AS VARCHAR) AS bucket FROM mh
         |  UNION ALL SELECT doc_id, 1, CAST(mh2 AS VARCHAR)||'_'||CAST(mh3 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 2, CAST(mh4 AS VARCHAR)||'_'||CAST(mh5 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 3, CAST(mh6 AS VARCHAR)||'_'||CAST(mh7 AS VARCHAR) FROM mh)
         |SELECT DISTINCT o.doc_id AS corpus_id, n.doc_id AS new_id
         |FROM bands o JOIN bands n
         |ON o.band = n.band AND o.bucket = n.bucket
         |   AND o.doc_id < 100000 AND n.doc_id >= 100000""".stripMargin,

    "dedup_ngram_jaccard" ->
      s"""WITH $corpusCte,
         |$shingleCtes,
         |szs AS (SELECT doc_id, len(shingles) AS n FROM sh0),
         |sh2 AS (SELECT doc_id,
         |        CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS h FROM sh),
         |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
         |          FROM sh2 a JOIN sh2 b ON a.h = b.h AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT p.a, p.b, p.inter, na.n AS na, nb.n AS nb,
         |       p.inter / (na.n + nb.n - p.inter) AS jac
         |FROM pairs p
         |JOIN szs na ON p.a = na.doc_id
         |JOIN szs nb ON p.b = nb.doc_id
         |WHERE p.inter / (na.n + nb.n - p.inter) >= 0.6""".stripMargin,

    // the cross-doc-duplicated shingle-hash set, left-joined back per doc
    "dedup_spans" ->
      s"""WITH $corpusCte,
         |$shingleCtes,
         |shh AS (SELECT doc_id,
         |        CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS h FROM sh),
         |dup AS (SELECT h FROM shh GROUP BY h
         |        HAVING COUNT(DISTINCT doc_id) >= 2)
         |SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         |       CAST(COUNT(d.h) AS BIGINT) AS dup_spans,
         |       CAST(COUNT(d.h) * 1000000 // COUNT(*) AS BIGINT) AS dup_ppm
         |FROM shh s LEFT JOIN dup d ON s.h = d.h
         |GROUP BY 1""".stripMargin,

    // same shared-shingle pairs; only the final scalar differs (one
    // division of exact longs — least() of two BIGINTs in both engines)
    "dedup_containment" ->
      s"""WITH $corpusCte,
         |$shingleCtes,
         |szs AS (SELECT doc_id, len(shingles) AS n FROM sh0),
         |sh2 AS (SELECT doc_id,
         |        CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS h FROM sh),
         |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
         |          FROM sh2 a JOIN sh2 b ON a.h = b.h AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT p.a, p.b, p.inter, na.n AS na, nb.n AS nb,
         |       p.inter / least(na.n, nb.n) AS cont
         |FROM pairs p
         |JOIN szs na ON p.a = na.doc_id
         |JOIN szs nb ON p.b = nb.doc_id
         |WHERE p.inter / least(na.n, nb.n) >= 0.65""".stripMargin,

    // transitive min over the reachable set == min id of the (undirected)
    // component; recursive UNION dedups, so the tuple count is bounded by
    // sum of component sizes squared — tiny for near-dup clusters
    "dedup_clusters" ->
      s"""WITH RECURSIVE $corpusCte,
         |$shingleCtes,
         |mh AS (SELECT doc_id, ${(0 until 8).map(duckHash).mkString(", ")}
         |       FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR)||'_'||CAST(mh1 AS VARCHAR) AS bucket FROM mh
         |  UNION ALL SELECT doc_id, 1, CAST(mh2 AS VARCHAR)||'_'||CAST(mh3 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 2, CAST(mh4 AS VARCHAR)||'_'||CAST(mh5 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 3, CAST(mh6 AS VARCHAR)||'_'||CAST(mh7 AS VARCHAR) FROM mh),
         |prs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |        FROM bands a JOIN bands b
         |        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |edges AS (SELECT a AS src, b AS dst FROM prs
         |          UNION SELECT b, a FROM prs),
         |reach(v, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.l FROM edges e JOIN reach r ON e.dst = r.v)
         |SELECT v AS doc_id, MIN(l) AS cluster FROM reach GROUP BY 1""".stripMargin,

    // same three disjoint-class counts, same textual IEEE formula
    "text_readability" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |         AS BIGINT) AS n_sents,
        |    CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+'))
        |         AS BIGINT) AS n_syll
        |  FROM documents)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
        |    - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)) AS fk
        |FROM t""".stripMargin,

    // the clusters replay + a per-cluster argmax in the same total
    // order (len desc, doc_id asc)
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $corpusCte,
         |$shingleCtes,
         |mh AS (SELECT doc_id, ${(0 until 8).map(duckHash).mkString(", ")}
         |       FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR)||'_'||CAST(mh1 AS VARCHAR) AS bucket FROM mh
         |  UNION ALL SELECT doc_id, 1, CAST(mh2 AS VARCHAR)||'_'||CAST(mh3 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 2, CAST(mh4 AS VARCHAR)||'_'||CAST(mh5 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 3, CAST(mh6 AS VARCHAR)||'_'||CAST(mh7 AS VARCHAR) FROM mh),
         |prs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |        FROM bands a JOIN bands b
         |        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |edges AS (SELECT a AS src, b AS dst FROM prs
         |          UNION SELECT b, a FROM prs),
         |reach(v, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.l FROM edges e JOIN reach r ON e.dst = r.v),
         |cl AS (SELECT v AS doc_id, MIN(l) AS cluster FROM reach GROUP BY 1),
         |j AS (SELECT cl.cluster, cl.doc_id, length(c.text) AS len
         |      FROM cl JOIN corpus c ON c.doc_id = cl.doc_id),
         |r AS (SELECT cluster, doc_id, len,
         |        row_number() OVER (PARTITION BY cluster
         |          ORDER BY len DESC, doc_id ASC) AS rn,
         |        COUNT(*) OVER (PARTITION BY cluster) AS n_docs
         |      FROM j)
         |SELECT cluster, doc_id AS keeper, len AS keeper_len, n_docs
         |FROM r WHERE rn = 1""".stripMargin,

    // dedup_clusters' recursive-CTE components + longest-member argmax
    "pipe_canonical" ->
      s"""WITH RECURSIVE $corpusCte,
         |$shingleCtes,
         |mh AS (SELECT doc_id, ${(0 until 8).map(duckHash).mkString(", ")}
         |       FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR)||'_'||CAST(mh1 AS VARCHAR) AS bucket FROM mh
         |  UNION ALL SELECT doc_id, 1, CAST(mh2 AS VARCHAR)||'_'||CAST(mh3 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 2, CAST(mh4 AS VARCHAR)||'_'||CAST(mh5 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 3, CAST(mh6 AS VARCHAR)||'_'||CAST(mh7 AS VARCHAR) FROM mh),
         |prs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |        FROM bands a JOIN bands b
         |        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |edges AS (SELECT a AS src, b AS dst FROM prs
         |          UNION SELECT b, a FROM prs),
         |reach(v, l) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.l FROM edges e JOIN reach r ON e.dst = r.v),
         |comp AS (SELECT v AS doc_id, MIN(l) AS cluster FROM reach GROUP BY 1),
         |m AS (SELECT comp.cluster, comp.doc_id,
         |        CAST(length(corpus.text) AS BIGINT) AS len
         |      FROM comp JOIN corpus ON comp.doc_id = corpus.doc_id),
         |r AS (SELECT cluster, doc_id, len,
         |        row_number() OVER (PARTITION BY cluster
         |                           ORDER BY len DESC, doc_id ASC) AS rn,
         |        COUNT(*) OVER (PARTITION BY cluster) AS n_members FROM m)
         |SELECT cluster, doc_id AS keeper, CAST(n_members AS BIGINT) AS n_members,
         |       len AS keeper_len
         |FROM r WHERE rn = 1""".stripMargin,

    // 10-token span twin of the 5-gram shingle CTE; HAVING >= 2 = repeated;
    // span_sig = the same 60-bit md5 signature TextOps.tokenHash computes
    "text_boilerplate" ->
      s"""WITH $corpusCte,
         |toks AS (SELECT doc_id, string_split(text,' ') AS toks FROM corpus),
         |sh0 AS (SELECT doc_id,
         |  CASE WHEN len(toks) < 10 THEN [array_to_string(toks,' ')]
         |       ELSE list_distinct(list_transform(range(1, len(toks)-8),
         |              i -> array_to_string(toks[i:i+9],' ')))
         |  END AS spans FROM toks),
         |sp AS (SELECT doc_id, unnest(spans) AS span FROM sh0),
         |sg AS (SELECT doc_id,
         |         CAST(('0x'||substr(md5(span),1,15)) AS BIGINT) AS span_sig
         |       FROM sp),
         |agg AS (SELECT span_sig, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc
         |        FROM sg GROUP BY 1 HAVING COUNT(*) >= 2),
         |top AS (SELECT *, CAST(row_number() OVER (ORDER BY n_docs DESC, span_sig ASC)
         |          AS BIGINT) AS rnk FROM agg)
         |SELECT span_sig, n_docs, first_doc, rnk
         |FROM top WHERE rnk <= 50""".stripMargin,

    "dedup_minhash" ->
      s"""WITH $corpusCte,
         |$shingleCtes,
         |mh AS (SELECT doc_id, ${(0 until 8).map(duckHash).mkString(", ")}
         |       FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR)||'_'||CAST(mh1 AS VARCHAR) AS bucket FROM mh
         |  UNION ALL SELECT doc_id, 1, CAST(mh2 AS VARCHAR)||'_'||CAST(mh3 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 2, CAST(mh4 AS VARCHAR)||'_'||CAST(mh5 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 3, CAST(mh6 AS VARCHAR)||'_'||CAST(mh7 AS VARCHAR) FROM mh)
         |SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id""".stripMargin,

    // same LSH candidates, same 256-char prefixes, same unit-cost
    // Levenshtein and the same integer threshold
    "dedup_edit" ->
      s"""WITH $corpusCte,
         |$shingleCtes,
         |mh AS (SELECT doc_id, ${(0 until 8).map(duckHash).mkString(", ")}
         |       FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR)||'_'||CAST(mh1 AS VARCHAR) AS bucket FROM mh
         |  UNION ALL SELECT doc_id, 1, CAST(mh2 AS VARCHAR)||'_'||CAST(mh3 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 2, CAST(mh4 AS VARCHAR)||'_'||CAST(mh5 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 3, CAST(mh6 AS VARCHAR)||'_'||CAST(mh7 AS VARCHAR) FROM mh),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |t AS (SELECT doc_id, substr(text, 1, 256) AS t FROM corpus)
         |SELECT c.a, c.b, levenshtein(ta.t, tb.t) AS edit_dist
         |FROM cand c JOIN t ta ON ta.doc_id = c.a JOIN t tb ON tb.doc_id = c.b
         |WHERE levenshtein(ta.t, tb.t) * 5 <= greatest(length(ta.t), length(tb.t))""".stripMargin,

    // Replicates the signature computation exactly: per token occurrence,
    // ±1 into each of 60 bit sums keyed by the 15-hex-digit md5 token hash
    // (TextOps.tokenHash ≡ the CAST('0x'||substr(md5(tok),1,15)) below),
    // then the pigeonhole 15-bit chunk join and bit_count(xor()) verify.
    "dedup_simhash" -> {
      val bitSum = (b: Int) =>
        s"CASE WHEN SUM(CASE WHEN (h & ${1L << b}) != 0 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END"
      val sig = (0 until 60).map(bitSum).mkString("\n      + ")
      s"""WITH $corpusCte,
         |tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM corpus),
         |th AS (SELECT doc_id, CAST(('0x'||substr(md5(tok),1,15)) AS BIGINT) AS h FROM tok),
         |sig AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM th GROUP BY doc_id),
         |ch AS (SELECT doc_id, simhash, c, (simhash >> (15*c)) & 32767 AS chunk
         |       FROM sig, (SELECT unnest([0,1,2,3]) AS c)),
         |pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
         |            CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |          FROM ch a JOIN ch b
         |            ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         |SELECT a, b, hamming FROM pairs WHERE hamming <= 3""".stripMargin
    },

    // The oracle scores ALL pairs (no blocking) — on this corpus every
    // pair above the 0.95 threshold is an exact planted copy, and exact
    // copies agree on every hyperplane sign, so the Spark LSH path finds
    // them with recall 1 by construction; the brute-force oracle therefore
    // certifies both the cosine values and the blocking's recall.
    "dedup_embedding" ->
      """WITH emb AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 100000 AS vec_id, embedding
        |    FROM embeddings WHERE vec_id % 10 = 0),
        |pairs AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(a.embedding) + 1),
        |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
        |      (x, y) -> x + y) AS cos
        |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id)
        |SELECT a, b, cos FROM pairs WHERE cos >= 0.95""".stripMargin,

    // ONE Lloyd round unrolled in SQL: assign-to-seeds, quantized-exact
    // means (floor(v·1e6) BIGINT sums → double mean → FLOAT component,
    // the exact arithmetic of Similarity.centroidStats/lloydUpdate; an
    // empty cluster carries its seed forward via the LEFT JOIN COALESCE),
    // then the standard IVF build/probe over the refined centroids.
    // the durable index trains the SAME deterministic centroids (16
    // seeds, 1 Lloyd round) and probes nProbe=1 k=5 over the same
    // corpus — one replay serves both queries
    "ann_ivf_durable" -> annTrainedOracle,

    "ann_ivf_trained" -> annTrainedOracle,


    // PQ replayed declaratively: per-subspace codebooks from the first 8
    // vectors, per-(vector, subspace) argmax assignment (dot desc, cid
    // asc), per-(query, subspace, codeword) exact LUT dots, approximate
    // score = the 4 lookups added in subspace order (explicit
    // left-assoc parens — the engine's reduceLeft), rank ≤ 5
    "ann_pq" ->
      """WITH seeds AS (SELECT vec_id AS cid, embedding AS ce
        |               FROM embeddings WHERE vec_id < 8),
        |q AS (SELECT vec_id AS qid, embedding AS qe
        |      FROM embeddings WHERE vec_id < 5),
        |ms AS (SELECT unnest(range(0, 4)) AS m),
        |subdots AS (
        |  SELECT e.vec_id, c.cid, ms.m,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, 17),
        |          i -> CAST(c.ce[ms.m * 16 + i] AS DOUBLE)
        |             * CAST(e.embedding[ms.m * 16 + i] AS DOUBLE))),
        |      (a, b) -> a + b) AS sdot
        |  FROM embeddings e, seeds c, ms),
        |codes AS (SELECT vec_id, m, cid AS code FROM (
        |  SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m
        |         ORDER BY sdot DESC, cid ASC) AS rn FROM subdots)
        |  WHERE rn = 1),
        |wide AS (SELECT vec_id,
        |    MAX(CASE WHEN m = 0 THEN code END) AS c0,
        |    MAX(CASE WHEN m = 1 THEN code END) AS c1,
        |    MAX(CASE WHEN m = 2 THEN code END) AS c2,
        |    MAX(CASE WHEN m = 3 THEN code END) AS c3
        |  FROM codes GROUP BY vec_id),
        |qsub AS (
        |  SELECT q.qid, c.cid, ms.m,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, 17),
        |          i -> CAST(q.qe[ms.m * 16 + i] AS DOUBLE)
        |             * CAST(c.ce[ms.m * 16 + i] AS DOUBLE))),
        |      (a, b) -> a + b) AS sdot
        |  FROM q, seeds c, ms),
        |scores AS (
        |  SELECT s0.qid, w.vec_id,
        |    ((s0.sdot + s1.sdot) + s2.sdot) + s3.sdot AS adot
        |  FROM wide w
        |  JOIN qsub s0 ON s0.m = 0 AND s0.cid = w.c0
        |  JOIN qsub s1 ON s1.m = 1 AND s1.cid = w.c1 AND s1.qid = s0.qid
        |  JOIN qsub s2 ON s2.m = 2 AND s2.cid = w.c2 AND s2.qid = s0.qid
        |  JOIN qsub s3 ON s3.m = 3 AND s3.cid = w.c3 AND s3.qid = s0.qid),
        |rk AS (SELECT qid, vec_id, adot,
        |         CAST(row_number() OVER (PARTITION BY qid
        |              ORDER BY adot DESC, vec_id ASC) AS BIGINT) AS rnk
        |       FROM scores)
        |SELECT qid, vec_id, adot, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    // IVF routing (seed cents, nProbe 2) composed with the PQ replay
    // restricted to the routed buckets, then the exact re-rank tail —
    // every stage replayed bit-for-bit
    // the durable build persists the SAME deterministic centroids,
    // codebooks and codes — one replay serves both queries
    "ann_ivfpq" -> annIvfPqOracle,

    "ann_ivfpq_durable" -> annIvfPqOracle,

    // refresh ≡ rebuild for pure additions: the partial-build + delta
    // refresh must land exactly where a full-corpus build lands
    "ann_ivfpq_refresh" -> annIvfPqOracle,

    // streamed ingest + per-batch refresh converges on the same index
    "stream_index" -> annIvfPqOracle,

    // the ann_pq pipeline widened to a 25-deep shortlist, then re-scored
    // with the exact dot and re-ranked to the final 5
    "ann_pq_rerank" ->
      """WITH seeds AS (SELECT vec_id AS cid, embedding AS ce
        |               FROM embeddings WHERE vec_id < 8),
        |q AS (SELECT vec_id AS qid, embedding AS qe
        |      FROM embeddings WHERE vec_id < 5),
        |ms AS (SELECT unnest(range(0, 4)) AS m),
        |subdots AS (
        |  SELECT e.vec_id, c.cid, ms.m,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, 17),
        |          i -> CAST(c.ce[ms.m * 16 + i] AS DOUBLE)
        |             * CAST(e.embedding[ms.m * 16 + i] AS DOUBLE))),
        |      (a, b) -> a + b) AS sdot
        |  FROM embeddings e, seeds c, ms),
        |codes AS (SELECT vec_id, m, cid AS code FROM (
        |  SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m
        |         ORDER BY sdot DESC, cid ASC) AS rn FROM subdots)
        |  WHERE rn = 1),
        |wide AS (SELECT vec_id,
        |    MAX(CASE WHEN m = 0 THEN code END) AS c0,
        |    MAX(CASE WHEN m = 1 THEN code END) AS c1,
        |    MAX(CASE WHEN m = 2 THEN code END) AS c2,
        |    MAX(CASE WHEN m = 3 THEN code END) AS c3
        |  FROM codes GROUP BY vec_id),
        |qsub AS (
        |  SELECT q.qid, c.cid, ms.m,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, 17),
        |          i -> CAST(q.qe[ms.m * 16 + i] AS DOUBLE)
        |             * CAST(c.ce[ms.m * 16 + i] AS DOUBLE))),
        |      (a, b) -> a + b) AS sdot
        |  FROM q, seeds c, ms),
        |scores AS (
        |  SELECT s0.qid, w.vec_id,
        |    ((s0.sdot + s1.sdot) + s2.sdot) + s3.sdot AS adot
        |  FROM wide w
        |  JOIN qsub s0 ON s0.m = 0 AND s0.cid = w.c0
        |  JOIN qsub s1 ON s1.m = 1 AND s1.cid = w.c1 AND s1.qid = s0.qid
        |  JOIN qsub s2 ON s2.m = 2 AND s2.cid = w.c2 AND s2.qid = s0.qid
        |  JOIN qsub s3 ON s3.m = 3 AND s3.cid = w.c3 AND s3.qid = s0.qid),
        |short AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |         ORDER BY adot DESC, vec_id ASC) AS rnk FROM scores)
        |  WHERE rnk <= 25),
        |exact AS (
        |  SELECT s.qid, s.vec_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(q.qe) + 1),
        |          i -> CAST(q.qe[i] AS DOUBLE)
        |             * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS dot
        |  FROM short s
        |  JOIN q ON q.qid = s.qid
        |  JOIN embeddings e ON e.vec_id = s.vec_id),
        |rk2 AS (SELECT qid, vec_id, dot,
        |         CAST(row_number() OVER (PARTITION BY qid
        |              ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
        |       FROM exact)
        |SELECT qid, vec_id, dot, rnk FROM rk2 WHERE rnk <= 5""".stripMargin,

    "ann_ivf_build" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding AS ce
        |               FROM embeddings WHERE vec_id < 16),
        |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |adots AS (
        |  SELECT e.vec_id, c.cid,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(c.ce) + 1),
        |          i -> CAST(c.ce[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS cdot
        |  FROM embeddings e, cents c),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |         ORDER BY cdot DESC, cid ASC) AS crn FROM adots) WHERE crn = 1),
        |qdots AS (
        |  SELECT q.qid, c.cid,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(c.ce) + 1),
        |          i -> CAST(c.ce[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS cdot
        |  FROM q, cents c),
        |qroute AS (SELECT qid, cid AS qcid FROM (
        |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |         ORDER BY cdot DESC, cid ASC) AS crn FROM qdots) WHERE crn = 1),
        |dots AS (
        |  SELECT q.qid, a.cid, e.vec_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(q.qe) + 1),
        |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS dot
        |  FROM q JOIN qroute r ON q.qid = r.qid
        |  JOIN assign a ON a.cid = r.qcid
        |  JOIN embeddings e ON e.vec_id = a.vec_id),
        |rk AS (SELECT qid, cid, vec_id, dot,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
        |       FROM dots)
        |SELECT qid, cid, vec_id, dot, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    // ann_ivf_build with the route rank widened to the two nearest
    // centroids (crn <= 2) — every centroid/assignment/dot CTE identical
    "ann_ivf_probe2" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding AS ce
        |               FROM embeddings WHERE vec_id < 16),
        |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |adots AS (
        |  SELECT e.vec_id, c.cid,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(c.ce) + 1),
        |          i -> CAST(c.ce[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS cdot
        |  FROM embeddings e, cents c),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |         ORDER BY cdot DESC, cid ASC) AS crn FROM adots) WHERE crn = 1),
        |qdots AS (
        |  SELECT q.qid, c.cid,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(c.ce) + 1),
        |          i -> CAST(c.ce[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS cdot
        |  FROM q, cents c),
        |qroute AS (SELECT qid, cid AS qcid FROM (
        |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |         ORDER BY cdot DESC, cid ASC) AS crn FROM qdots) WHERE crn <= 2),
        |dots AS (
        |  SELECT q.qid, a.cid, e.vec_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(q.qe) + 1),
        |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS dot
        |  FROM q JOIN qroute r ON q.qid = r.qid
        |  JOIN assign a ON a.cid = r.qcid
        |  JOIN embeddings e ON e.vec_id = a.vec_id),
        |rk AS (SELECT qid, cid, vec_id, dot,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
        |       FROM dots)
        |SELECT qid, cid, vec_id, dot, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    // the probe2 replay with the θ admission replacing the top-k cut
    // (SQL WHERE evaluates before the window — same as the engine's
    // filter-then-rank)
    "ann_radius" ->
      """WITH cents AS (SELECT vec_id AS cid, embedding AS ce
        |               FROM embeddings WHERE vec_id < 16),
        |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |adots AS (
        |  SELECT e.vec_id, c.cid,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(c.ce) + 1),
        |          i -> CAST(c.ce[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS cdot
        |  FROM embeddings e, cents c),
        |assign AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
        |         ORDER BY cdot DESC, cid ASC) AS crn FROM adots) WHERE crn = 1),
        |qdots AS (
        |  SELECT q.qid, c.cid,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(c.ce) + 1),
        |          i -> CAST(c.ce[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS cdot
        |  FROM q, cents c),
        |qroute AS (SELECT qid, cid AS qcid FROM (
        |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
        |         ORDER BY cdot DESC, cid ASC) AS crn FROM qdots) WHERE crn <= 2),
        |dots AS (
        |  SELECT q.qid, e.vec_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(q.qe) + 1),
        |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS dot
        |  FROM q JOIN qroute r ON q.qid = r.qid
        |  JOIN assign a ON a.cid = r.qcid
        |  JOIN embeddings e ON e.vec_id = a.vec_id)
        |SELECT qid, vec_id, dot,
        |  CAST(row_number() OVER (PARTITION BY qid
        |    ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
        |FROM dots WHERE dot >= 0.3""".stripMargin,

    "ann_ivf" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
        |           FROM embeddings WHERE vec_id < 5),
        |dots AS (
        |  SELECT q.qid, e.label, e.vec_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(q.qe) + 1),
        |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS dot
        |  FROM q JOIN embeddings e ON e.label = q.qlabel),
        |rk AS (SELECT qid, label, vec_id, dot,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
        |       FROM dots)
        |SELECT qid, label, vec_id, dot, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    // The dot is a fixed-order left fold in double: list_reduce folds the
    // element products in the same order Spark's `aggregate` does, so the
    // IEEE result is bit-identical (see graft.ops.Similarity).
    "ann_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |dots AS (
        |  SELECT q.qid, e.vec_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(q.qe) + 1),
        |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS dot
        |  FROM q, embeddings e),
        |rk AS (SELECT qid, vec_id, dot,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
        |       FROM dots)
        |SELECT qid, vec_id, dot, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    // NN-Descent replayed exactly: ring init at exploration degree 15,
    // three unrolled rounds of neighbors-of-neighbors proposal +
    // fixed-order-fold scoring + per-point top-15 working lists, then
    // the top-5 output under the total (dot desc, id) order; pair
    // dedupe groups on the LONG keys (max of identical doubles)
    // exactly like the engine — never DISTINCT over the double column
    "ann_knn_graph" -> {
      s"""WITH $knnGraphCtes
         |SELECT vec_id, nbr_id, dot, rnk FROM (
         |  SELECT p AS vec_id, q AS nbr_id, dot,
         |    CAST(row_number() OVER (
         |      PARTITION BY p ORDER BY dot DESC, q ASC) AS BIGINT) AS rnk
         |  FROM k3) WHERE rnk <= 5""".stripMargin
    },

    // graph-SERVED read: the shared beam-search replay at the engine's
    // beam width ([[knnServeOracle]]) — seeds are the per-query
    // centroid-routed entry points, each hop expands the current beam
    // through the symmetrized adjacency, anti-joins everything already
    // scored, scores with the fixed-order dot, and the answer is the
    // top-5 of all scored
    "ann_knn_search" -> knnServeOracle(beam = 5, admitJoin = ""),

    // the r14 ADMISSION filter: traversal CTEs identical (same graph,
    // same hops, beam 8 to match the engine's widened ef-for-recall
    // setting), and the final ranking admits only label-1 rows
    "ann_knn_filtered" -> knnServeOracle(beam = 8, admitJoin =
      " JOIN embeddings lb ON lb.vec_id = allsc.vec_id AND lb.label = 1"),

    // the θ admission before ranking, rank cut at the safety cap —
    // traversal CTEs identical to the other serve replays
    "ann_knn_radius" -> knnServeOracle(beam = 8, admitJoin = "",
      scoreWhere = " WHERE allsc.dot >= 0.3", k = 100),


    // prefix-dot shortlist (first 16 dims), exact full-dim re-rank —
    // both stages replayed with the fixed-order fold
    "ann_matryoshka" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |pd AS (
        |  SELECT q.qid, e.vec_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, 17),
        |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS pdot
        |  FROM q, embeddings e),
        |short AS (SELECT qid, vec_id FROM (
        |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
        |         ORDER BY pdot DESC, vec_id ASC) AS rnk FROM pd)
        |  WHERE rnk <= 25),
        |exact AS (
        |  SELECT s.qid, s.vec_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(q.qe) + 1),
        |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS dot
        |  FROM short s JOIN q ON q.qid = s.qid
        |  JOIN embeddings e ON e.vec_id = s.vec_id),
        |rk AS (SELECT qid, vec_id, dot,
        |         CAST(row_number() OVER (PARTITION BY qid
        |              ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
        |       FROM exact)
        |SELECT qid, vec_id, dot, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    // pre-filter + exact scan: the predicate restricts the corpus BEFORE
    // any scoring — the replay is ann_topk's over the filtered corpus
    "ann_filtered" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding FROM embeddings WHERE label = 3),
        |dots AS (
        |  SELECT q.qid, c.vec_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(q.qe) + 1),
        |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS dot
        |  FROM q, c),
        |rk AS (SELECT qid, vec_id, dot,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
        |       FROM dots)
        |SELECT qid, vec_id, dot, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    // log-free odds idf, pinned association order, floor(x*1e6) long
    // quantization per term BEFORE the per-doc sum (see ops/Retrieval)
    "text_bm25" ->
      (bm25OracleCtes +
       """SELECT doc_id, score_q,
         |  CAST(row_number() OVER (ORDER BY score_q DESC, doc_id ASC) AS BIGINT) AS rnk
         |FROM sc QUALIFY rnk <= 10""".stripMargin),

    // reciprocal-rank fusion of the BM25 top-10 and the vector top-10
    // (query = embedding 0): rank-space sum 1/(60+r), missing lists
    // contribute 0; CAST(1 AS DOUBLE) keeps the division double (DuckDB
    // parses a bare 1.0 as DECIMAL)
    "ann_hybrid" ->
      (bm25OracleCtes +
       """,bm AS (SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY score_q DESC, doc_id ASC) AS BIGINT) AS rb
         |       FROM sc QUALIFY rb <= 10),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |vd AS (SELECT e.vec_id AS doc_id,
         |         list_reduce(
         |           list_prepend(CAST(0 AS DOUBLE),
         |             list_transform(range(1, len(qv.qe) + 1),
         |               i -> CAST(qv.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
         |           (a, b) -> a + b) AS dot
         |       FROM embeddings e, qv),
         |vr AS (SELECT doc_id,
         |         CAST(row_number() OVER (ORDER BY dot DESC, doc_id ASC) AS BIGINT) AS rv
         |       FROM vd QUALIFY rv <= 10),
         |fused AS (SELECT COALESCE(bm.doc_id, vr.doc_id) AS doc_id,
         |    COALESCE(CAST(1 AS DOUBLE) / (60 + bm.rb), CAST(0 AS DOUBLE))
         |      + COALESCE(CAST(1 AS DOUBLE) / (60 + vr.rv), CAST(0 AS DOUBLE)) AS rrf
         |  FROM bm FULL OUTER JOIN vr ON bm.doc_id = vr.doc_id)
         |SELECT doc_id, rrf,
         |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rnk
         |FROM fused QUALIFY rnk <= 10""".stripMargin),

    // ann_sql is ann_topk through the SQL front door — same oracle text
    "ann_sql" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
        |dots AS (
        |  SELECT q.qid, e.vec_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(q.qe) + 1),
        |          i -> CAST(q.qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))),
        |      (a, b) -> a + b) AS dot
        |  FROM q, embeddings e),
        |rk AS (SELECT qid, vec_id, dot,
        |         CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, vec_id ASC) AS BIGINT) AS rnk
        |       FROM dots)
        |SELECT qid, vec_id, dot, rnk FROM rk WHERE rnk <= 5""".stripMargin,

    "text_stats" ->
      """SELECT doc_id,
        |  length(text) AS len_chars,
        |  len(string_split(text,' ')) AS n_tokens,
        |  len(list_distinct(string_split(text,' '))) AS n_distinct,
        |  len(regexp_extract_all(text,'[a-z]+')) AS n_alpha,
        |  CAST(list_sum(list_transform(string_split(text,' '), t -> length(t))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS avg_word_len
        |FROM documents""".stripMargin,

    "text_quality" ->
      """SELECT doc_id,
        |  len(string_split(text,' ')) AS n_tokens,
        |  len(list_filter(string_split(text,' '),
        |      t -> t IN ('the','a','and','of','to'))) AS stop_hits,
        |  CAST(len(list_filter(string_split(text,' '),
        |      t -> t IN ('the','a','and','of','to'))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS stop_ratio,
        |  length(text) - length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS clean_chars,
        |  CASE
        |    WHEN len(string_split(text,' ')) >= 20
        |     AND CAST(len(list_filter(string_split(text,' '),
        |           t -> t IN ('the','a','and','of','to'))) AS DOUBLE)
        |         / len(string_split(text,' ')) <= 0.3 THEN 'good'
        |    WHEN len(string_split(text,' ')) >= 8 THEN 'fair'
        |    ELSE 'poor' END AS quality
        |FROM documents""".stripMargin,

    "text_langid" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text,' '), t -> t IN ('the','a','and'))) AS en_hits,
        |    len(list_filter(string_split(text,' '), t -> t IN ('el','la','y'))) AS es_hits,
        |    len(list_filter(string_split(text,' '), t -> t IN ('le','les','et'))) AS fr_hits,
        |    len(list_filter(string_split(text,' '), t -> t IN ('der','die','und'))) AS de_hits
        |  FROM documents)
        |SELECT doc_id, lang, en_hits, es_hits, fr_hits, de_hits,
        |  CASE
        |    WHEN en_hits > 0 AND en_hits >= greatest(es_hits, fr_hits, de_hits) THEN 'en'
        |    WHEN es_hits > 0 AND es_hits >= greatest(fr_hits, de_hits) THEN 'es'
        |    WHEN fr_hits > 0 AND fr_hits >= de_hits THEN 'fr'
        |    WHEN de_hits > 0 THEN 'de'
        |    ELSE 'und' END AS lang_pred
        |FROM h""".stripMargin,

    "text_fingerprint" ->
      s"""WITH $corpusCte,
         |fp AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')) AS fp
         |  FROM corpus)
         |SELECT doc_id, fp,
         |  MIN(doc_id) OVER (PARTITION BY fp) AS cluster_id,
         |  COUNT(*) OVER (PARTITION BY fp) AS cluster_size
         |FROM fp""".stripMargin,

    "pipe_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 10 = 0""".stripMargin,

    "pipe_kfold" ->
      """SELECT CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 5
        |         AS fold,
        |       lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // the oracle takes the naive single-reducer window the engine avoids;
    // md5 hex is lowercase [0-9a-f] in both engines, so ASCII string
    // order agrees
    "pipe_stratified" ->
      """SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rn
        |  FROM documents) t
        |WHERE rn <= 50""".stripMargin,

    "pipe_curate" ->
      s"""WITH $corpusCte,
         |s AS (SELECT doc_id, text,
         |        len(string_split(text,' ')) AS n_tokens,
         |        CAST(len(list_filter(string_split(text,' '),
         |            t -> t IN ('the','a','and','of','to'))) AS DOUBLE)
         |          / len(string_split(text,' ')) AS stop_ratio
         |      FROM corpus),
         |f AS (SELECT * FROM s WHERE n_tokens >= 8 AND stop_ratio <= 0.5),
         |k AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY md5(text))
         |SELECT f.doc_id, f.n_tokens FROM f JOIN k USING (doc_id)""".stripMargin,

    // bigram df (shingles are distinct per doc, like the dedup family)
    "text_ngrams" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |bg0 AS (SELECT doc_id,
        |  CASE WHEN len(toks) < 2 THEN [array_to_string(toks,' ')]
        |       ELSE list_distinct(list_transform(range(1, len(toks)),
        |              i -> toks[i]||' '||toks[i+1]))
        |  END AS bgs FROM toks),
        |bg AS (SELECT unnest(bgs) AS bg FROM bg0),
        |c AS (SELECT bg, COUNT(*) AS n FROM bg GROUP BY bg)
        |SELECT bg, n,
        |       CAST(row_number() OVER (ORDER BY n DESC, bg ASC) AS BIGINT) AS rnk
        |FROM c QUALIFY rnk <= 100""".stripMargin,

    // same md5 uniform, same two exact divisions, same IEEE compare
    "pipe_sample_weighted" ->
      """WITH m AS (SELECT MAX(n_chars) AS mx FROM documents),
        |k AS (SELECT d.lang, d.n_chars FROM documents d CROSS JOIN m
        |      WHERE CAST(CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,15))
        |                 AS BIGINT) AS DOUBLE) / 1152921504606846976.0 <
        |            CAST(d.n_chars AS DOUBLE) / CAST(m.mx AS DOUBLE))
        |SELECT lang, COUNT(*) AS n_kept,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM k GROUP BY 1""".stripMargin,

    // same brute-force cosine pairs as dedup_embedding (recall-1 at the
    // 0.95 exact-copy threshold), same min-label reach recursion as
    // dedup_clusters
    "dedup_semantic" ->
      """WITH RECURSIVE emb AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 100000 AS vec_id, embedding
        |    FROM embeddings WHERE vec_id % 10 = 0),
        |pairs AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b
        |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |  WHERE list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE),
        |        list_transform(range(1, len(a.embedding) + 1),
        |          i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
        |      (x, y) -> x + y) >= 0.95),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |          UNION SELECT b, a FROM pairs),
        |reach(v, l) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.l FROM edges e JOIN reach r ON e.dst = r.v)
        |SELECT v AS vec_id, MIN(l) AS cluster FROM reach GROUP BY 1""".stripMargin,

    // no unnest needed single-node: the exploded row count per class is
    // n·f by construction
    "pipe_oversample" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |t AS (SELECT MAX(n) AS tgt FROM c),
        |f AS (SELECT lang, least(tgt // n, 8) AS f FROM c CROSS JOIN t)
        |SELECT d.lang, CAST(SUM(f.f) AS BIGINT) AS n_after,
        |       COUNT(DISTINCT d.doc_id) AS n_docs
        |FROM documents d JOIN f USING (lang) GROUP BY 1""".stripMargin,

    // candidates = the dedup_minhash recipe; truth = the
    // dedup_ngram_jaccard recipe at 0.6; the scores are divisions of
    // the same exact longs
    "dedup_eval" ->
      s"""WITH $corpusCte,
         |$shingleCtes,
         |szs AS (SELECT doc_id, len(shingles) AS n FROM sh0),
         |sh2 AS (SELECT doc_id,
         |        CAST(('0x'||substr(md5(sh),1,15)) AS BIGINT) AS h FROM sh),
         |op AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
         |       FROM sh2 a JOIN sh2 b ON a.h = b.h AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2),
         |truth AS (SELECT p.a, p.b FROM op p
         |          JOIN szs na ON p.a = na.doc_id
         |          JOIN szs nb ON p.b = nb.doc_id
         |          WHERE p.inter / (na.n + nb.n - p.inter) >= 0.6),
         |mh AS (SELECT doc_id, ${(0 until 8).map(duckHash).mkString(", ")}
         |       FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR)||'_'||CAST(mh1 AS VARCHAR) AS bucket FROM mh
         |  UNION ALL SELECT doc_id, 1, CAST(mh2 AS VARCHAR)||'_'||CAST(mh3 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 2, CAST(mh4 AS VARCHAR)||'_'||CAST(mh5 AS VARCHAR) FROM mh
         |  UNION ALL SELECT doc_id, 3, CAST(mh6 AS VARCHAR)||'_'||CAST(mh7 AS VARCHAR) FROM mh),
         |cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |         FROM bands a JOIN bands b
         |           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |m AS (SELECT
         |        (SELECT COUNT(*) FROM cand c
         |         WHERE EXISTS (SELECT 1 FROM truth t
         |                       WHERE t.a = c.a AND t.b = c.b)) AS tp,
         |        (SELECT COUNT(*) FROM cand) AS n_cand,
         |        (SELECT COUNT(*) FROM truth) AS n_true)
         |SELECT tp, n_cand, n_true,
         |  CAST(tp AS DOUBLE) / n_cand AS precision,
         |  CAST(tp AS DOUBLE) / n_true AS recall
         |FROM m""".stripMargin,

    // same quantized sums, same integer scaled distance, one double
    // cast at the end; vec_id total-orders the top-20
    "emb_outliers" ->
      """WITH x AS (
        |  SELECT vec_id, label,
        |    unnest(list_transform(range(1, len(embedding) + 1),
        |      i -> {'dim': i - 1,
        |            'q': CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000)
        |                 AS BIGINT)})) AS s
        |  FROM embeddings),
        |e AS (SELECT vec_id, label, CAST(s.dim AS BIGINT) AS dim,
        |        s.q AS q FROM x),
        |c AS (SELECT label, dim, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS sq
        |      FROM e GROUP BY 1, 2),
        |d AS (SELECT e.vec_id, e.label,
        |        SUM((CAST(e.q AS HUGEINT) * c.n - c.sq) *
        |            (CAST(e.q AS HUGEINT) * c.n - c.sq)) AS d2q
        |      FROM e JOIN c ON e.label = c.label AND e.dim = c.dim
        |      GROUP BY 1, 2)
        |SELECT vec_id, label, CAST(d2q AS DOUBLE) AS d2
        |FROM d ORDER BY d2 DESC, vec_id ASC LIMIT 20""".stripMargin,

    // same literal split, same ≥3-doc hot-line set, same ordered
    // reassembly — the md5 of the rebuilt text must match to the byte
    "pipe_line_dedup" ->
      """WITH l AS (SELECT doc_id,
        |             unnest(list_transform(
        |               range(1, len(string_split(text, '. ')) + 1),
        |               i -> {'pos': i, 'line': string_split(text, '. ')[i]}),
        |               recursive := true)
        |           FROM documents),
        |hot AS (SELECT md5(line) AS h
        |        FROM l GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 3),
        |kept AS (SELECT doc_id, pos, line FROM l
        |         WHERE md5(line) NOT IN (SELECT h FROM hot))
        |SELECT doc_id, COUNT(*) AS n_kept,
        |  md5(array_to_string(
        |    list_transform(list_sort(list({'pos': pos, 'line': line})),
        |                   x -> x.line), '. ')) AS clean_sig
        |FROM kept GROUP BY 1""".stripMargin,

    // same raw bigram/unigram counts single-node; PMI is the identical
    // textual op sequence over the same exact longs
    "text_collocations" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |uni AS (SELECT unnest(t) AS w FROM toks),
        |cu AS (SELECT w, COUNT(*) AS cw FROM uni GROUP BY 1),
        |nu AS (SELECT COUNT(*) AS nu FROM uni),
        |bg AS (SELECT unnest(list_transform(range(1, len(t)),
        |         i -> {'w1': t[i], 'w2': t[i+1]}), recursive := true)
        |       FROM toks WHERE len(t) >= 2),
        |cb AS (SELECT w1, w2, COUNT(*) AS cxy FROM bg GROUP BY 1, 2),
        |nb AS (SELECT COUNT(*) AS nb FROM bg)
        |SELECT w1, w2, cxy, cx, cy,
        |  CAST(cxy AS DOUBLE) / nb /
        |  (CAST(cx AS DOUBLE) / nu * (CAST(cy AS DOUBLE) / nu)) AS pmi_ratio
        |FROM cb
        |JOIN (SELECT w AS w1, cw AS cx FROM cu) c1 USING (w1)
        |JOIN (SELECT w AS w2, cw AS cy FROM cu) c2 USING (w2)
        |CROSS JOIN nb CROSS JOIN nu
        |WHERE cxy >= 5
        |ORDER BY pmi_ratio DESC, w1 ASC, w2 ASC
        |LIMIT 20""".stripMargin,

    // same explicit JSON bytes, parsed with DuckDB's json functions
    "text_json" ->
      """WITH m AS (SELECT doc_id,
        |  '{"id":' || doc_id || ',"lang":"' || lang || '","n":' || n_chars
        |    || ',"tags":["t' || (doc_id % 7) || '","src-' || source || '"]}'
        |    AS meta
        |  FROM documents)
        |SELECT doc_id,
        |  json_extract_string(meta, '$.lang') AS j_lang,
        |  CAST(json_extract(meta, '$.n') AS BIGINT) AS j_n,
        |  json_extract_string(meta, '$.tags[0]') AS tag0,
        |  json_extract_string(meta, '$.tags[1]') AS tag1
        |FROM m""".stripMargin,

    // the same left-fold square sum, sqrt, and ppm floor — both engines
    // compute identical doubles at every step (see the Spark-side note)
    "emb_norm" ->
      """WITH ss AS (SELECT vec_id, embedding,
        |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))),
        |    (x, y) -> x + y) AS sq
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(floor(sqrt(sq) * 1000000) AS BIGINT) AS norm_ppm,
        |  md5(array_to_string(list_transform(embedding,
        |    v -> CAST(floor(CAST(v AS DOUBLE) * 1000000 / sqrt(sq)) AS BIGINT)),
        |    ',')) AS unit_sig
        |FROM ss WHERE sqrt(sq) > 0""".stripMargin,

    // identical integer chunk-count formula; range() is exclusive like
    // sequence(0, n-1) is inclusive — both yield chunk ids 0..n-1
    "pipe_chunk" ->
      """WITH n AS (SELECT doc_id, text,
        |  1 + CAST(floor((greatest(0, length(text) - 200) + 149) / 150.0)
        |           AS BIGINT) AS n_chunks
        |  FROM documents)
        |SELECT doc_id, i AS chunk_id,
        |  CAST(length(substr(text, CAST(i * 150 + 1 AS BIGINT), 200)) AS BIGINT)
        |    AS chunk_len,
        |  md5(substr(text, CAST(i * 150 + 1 AS BIGINT), 200)) AS chunk_sig
        |FROM n, unnest(range(0, n_chunks)) AS t(i)""".stripMargin,

    "mm_binary_meta" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'jpg' WHEN 1 THEN 'png' ELSE 'wav' END AS fmt,
        |  octet_length(encode(text)) AS size_bytes,
        |  CASE WHEN doc_id % 3 = 2 THEN 0 ELSE octet_length(encode(text)) % 640 END AS width,
        |  CASE WHEN doc_id % 3 = 2 THEN 0 ELSE (doc_id * 7) % 480 END AS height,
        |  CASE WHEN doc_id % 3 = 2 THEN (octet_length(encode(text)) * 1000) // 16 ELSE 0 END AS duration_ms
        |FROM documents""".stripMargin,

    // every-4th-byte decimation; text is pure ASCII so chars ≡ bytes and
    // the char-built md5 equals the Spark decoder's byte-built one
    "mm_resize" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'jpg' WHEN 1 THEN 'png'
        |       ELSE 'wav' END AS fmt,
        |  CAST(length(text) AS BIGINT) AS orig_bytes,
        |  CAST(len(range(1, length(text) + 1, 4)) AS BIGINT) AS resized_bytes,
        |  md5(array_to_string(list_transform(range(1, length(text) + 1, 4),
        |      i -> text[i:i]), '')) AS resized_md5
        |FROM documents""".stripMargin,

    // text is pure ASCII (verified over the corpus), so the char-substring
    // md5 below equals the byte-window md5 the Spark decoder computes
    "mm_frame_sample" ->
      """WITH media AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'jpg' WHEN 1 THEN 'png' ELSE 'wav' END AS fmt,
        |    text, octet_length(encode(text)) AS size FROM documents)
        |SELECT doc_id, fmt, i AS frame_idx,
        |  (i * size) // 4 AS off,
        |  ((i + 1) * size) // 4 - (i * size) // 4 AS frame_len,
        |  md5(substr(text, CAST((i * size) // 4 + 1 AS INTEGER),
        |             CAST(((i + 1) * size) // 4 - (i * size) // 4 AS INTEGER))) AS frame_md5
        |FROM media, range(0, 4) t(i)""".stripMargin,

    // raw documents (no planted corpus): the stream reads the file as-is
    "stream_dedup" ->
      """SELECT md5(text) AS h, COUNT(*) AS sz, MIN(doc_id) AS keeper
        |FROM documents GROUP BY 1""".stripMargin,

    // batch twin of the streaming sketch: same order statistics, same
    // estimate arithmetic (cf. q_kmv_distinct's oracle)
    "stream_ndv" ->
      """WITH h AS (SELECT DISTINCT
        |    CAST(('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15)) AS BIGINT) AS h
        |  FROM events),
        |km AS (SELECT h FROM h ORDER BY h LIMIT 256)
        |SELECT CAST(256 AS BIGINT) AS k,
        |       CASE WHEN (SELECT COUNT(*) FROM h) < 256
        |            THEN (SELECT COUNT(*) FROM h)
        |            ELSE CAST(floor(255.0 * pow(2, 60) /
        |                   (SELECT MAX(h) FROM km)) AS BIGINT)
        |       END AS ndv""".stripMargin,

    // the histogram is deterministic (integer counts, fixed bucketing),
    // so the full-drain stream equals this batch replay bit-for-bit;
    // sums cast back to BIGINT (DuckDB SUM(BIGINT) → HUGEINT)
    "stream_quantile" ->
      """WITH b AS (SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
        |             COUNT(*) AS cnt
        |           FROM events GROUP BY 1),
        |c AS (SELECT bucket,
        |        CAST(SUM(cnt) OVER (ORDER BY bucket
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |        CAST(SUM(cnt) OVER () AS BIGINT) AS n
        |      FROM b)
        |(SELECT CAST(0.5 AS DOUBLE) AS q, bucket, bucket * 25.0 AS est_lo,
        |   (bucket + 1) * 25.0 AS est_hi, n
        | FROM c WHERE cum >= ceil(0.5 * n) ORDER BY bucket LIMIT 1)
        |UNION ALL
        |(SELECT CAST(0.95 AS DOUBLE) AS q, bucket, bucket * 25.0 AS est_lo,
        |   (bucket + 1) * 25.0 AS est_hi, n
        | FROM c WHERE cum >= ceil(0.95 * n) ORDER BY bucket LIMIT 1)
        |UNION ALL
        |(SELECT CAST(0.99 AS DOUBLE) AS q, bucket, bucket * 25.0 AS est_lo,
        |   (bucket + 1) * 25.0 AS est_hi, n
        | FROM c WHERE cum >= ceil(0.99 * n) ORDER BY bucket LIMIT 1)""".stripMargin,

    // TTL covers the whole drained span ⇒ exactly one row per distinct
    // hash; only hash-determined columns appear (n_chars is a function
    // of text), so DISTINCT is the exact oracle
    "stream_dedup_ttl" ->
      """SELECT DISTINCT md5(text) AS h, n_chars FROM documents""",

    // full drain (single AvailableNow batch) ⇒ no late data ⇒ the
    // stream-stream join equals the batch self-join exactly
    "stream_stream_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |       CAST((epoch_ns(p.ts) // 1000) - (epoch_ns(v.ts) // 1000) AS BIGINT)
        |         AS gap_us
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND (epoch_ns(p.ts) // 1000) >= (epoch_ns(v.ts) // 1000)
        | AND (epoch_ns(p.ts) // 1000) - (epoch_ns(v.ts) // 1000) <= 7200000000""".stripMargin,

    // the batch left join, with null-side rows restricted to views the
    // final watermark can expire: W = min of both sides' (ms-floored
    // max event time − 2h delay); a view emits its null row iff
    // vts + 2h (its last possible match instant) < W. The tail window
    // stays in state and never emits — exactly Spark's outer-join
    // eviction rule, reproduced declaratively.
    "stream_outer_join" ->
      """WITH v AS (SELECT user_id, event_id AS view_id,
        |             epoch_ns(ts)//1000 AS vts
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, event_id AS purchase_id,
        |        epoch_ns(ts)//1000 AS pts
        |      FROM events WHERE event_type = 'purchase'),
        |w AS (SELECT LEAST(
        |        (SELECT ((MAX(vts)//1000) - 7200000) * 1000 FROM v),
        |        (SELECT ((MAX(pts)//1000) - 7200000) * 1000 FROM p)) AS wm),
        |j AS (SELECT v.user_id, v.view_id, p.purchase_id,
        |        p.pts - v.vts AS gap_us, v.vts
        |      FROM v LEFT JOIN p ON v.user_id = p.user_id
        |        AND p.pts >= v.vts AND p.pts - v.vts <= 7200000000)
        |SELECT user_id, view_id, purchase_id, gap_us FROM j, w
        |WHERE purchase_id IS NOT NULL OR vts + 7200000000 < wm""".stripMargin,

    // both outer boundaries: an unmatched VIEW expires when its last
    // match instant (vts + window) passes W; an unmatched PURCHASE when
    // pts itself does (a non-late future view must have vts > W and the
    // condition needs vts ≤ pts — no +window shift on the right side)
    "stream_full_outer_join" ->
      """WITH v AS (SELECT user_id, event_id AS view_id,
        |             epoch_ns(ts)//1000 AS vts
        |           FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id AS p_user_id, event_id AS purchase_id,
        |        epoch_ns(ts)//1000 AS pts
        |      FROM events WHERE event_type = 'purchase'),
        |w AS (SELECT LEAST(
        |        (SELECT ((MAX(vts)//1000) - 7200000) * 1000 FROM v),
        |        (SELECT ((MAX(pts)//1000) - 7200000) * 1000 FROM p)) AS wm),
        |j AS (SELECT COALESCE(v.user_id, p.p_user_id) AS uid,
        |        v.view_id, p.purchase_id, v.vts, p.pts
        |      FROM v FULL JOIN p ON v.user_id = p.p_user_id
        |        AND p.pts >= v.vts AND p.pts - v.vts <= 7200000000)
        |SELECT uid, view_id, purchase_id FROM j, w
        |WHERE (view_id IS NOT NULL AND purchase_id IS NOT NULL)
        |   OR (purchase_id IS NULL AND vts + 7200000000 < wm)
        |   OR (view_id IS NULL AND pts < wm)""".stripMargin,

    // streaming twin of pipe_decontaminate: identical result by design
    "stream_decontam" -> decontamOracle,

    "stream_events_window" ->
      """SELECT epoch_ns(ts) - (epoch_ns(ts) % 3600000000000) AS window_start_ns,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    // identical to q_mode's replay: the drained counts ARE the batch
    // counts, the argmax is the same total order
    "stream_mode" ->
      """WITH c AS (SELECT o_orderstatus AS status, o_orderpriority AS prio,
        |             COUNT(*) AS cnt
        |           FROM orders GROUP BY 1, 2),
        |r AS (SELECT status, prio, cnt,
        |        row_number() OVER (PARTITION BY status
        |          ORDER BY cnt DESC, prio ASC) AS rn
        |      FROM c)
        |SELECT status, prio AS mode_prio, cnt AS n FROM r WHERE rn = 1""".stripMargin,

    // identical to q_ohlc's replay: the streaming result table IS the
    // batch bars at drain time
    "stream_ohlc" ->
      """WITH e AS (SELECT epoch_ns(ts) AS tns, event_id, value,
        |             epoch_ns(ts) - epoch_ns(ts) % 86400000000000 AS day_ns
        |           FROM events),
        |r AS (SELECT day_ns, value,
        |        row_number() OVER (PARTITION BY day_ns
        |          ORDER BY tns ASC, event_id ASC) AS ra,
        |        row_number() OVER (PARTITION BY day_ns
        |          ORDER BY tns DESC, event_id DESC) AS rd
        |      FROM e)
        |SELECT day_ns,
        |  MAX(CASE WHEN ra = 1 THEN value END) AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX(CASE WHEN rd = 1 THEN value END) AS close,
        |  COUNT(*) AS n
        |FROM r GROUP BY 1""".stripMargin,

    "q_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts FROM events),
        |f AS (SELECT user_id, ts,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |       > 1800000000000 THEN 1 ELSE 0 END AS _new FROM e),
        |s AS (SELECT user_id, ts,
        |  SUM(_new) OVER (PARTITION BY user_id ORDER BY ts) AS _sid FROM f)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |       COUNT(*) AS n_events
        |FROM s GROUP BY user_id, _sid""".stripMargin,

    // native session_window semantics: new session at diff >= gap (the
    // window is [ts, ts+gap)), window end = last event + gap
    "q_session_window" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS tus FROM events),
        |f AS (SELECT user_id, tus,
        |  CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus)
        |       >= 1800000000 THEN 1 ELSE 0 END AS _new FROM e),
        |s AS (SELECT user_id, tus,
        |  SUM(_new) OVER (PARTITION BY user_id ORDER BY tus) AS _sid FROM f)
        |SELECT user_id, MIN(tus) AS session_start_us,
        |       MAX(tus) + 1800000000 AS session_end_us,
        |       COUNT(*) AS n_events
        |FROM s GROUP BY user_id, _sid""".stripMargin,

    // every event lands in exactly two 2h/1h windows: its floor-hour
    // start and the hour before
    "q_sliding_window" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts)//1000 AS tus, value
        |           FROM events),
        |x AS (SELECT event_type, value,
        |        (tus - tus % 3600000000) AS h FROM e),
        |u AS (SELECT event_type, value, h AS ws FROM x
        |      UNION ALL
        |      SELECT event_type, value, h - 3600000000 FROM x)
        |SELECT ws AS window_start_us, event_type, COUNT(*) AS n,
        |  SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
        |FROM u GROUP BY 1, 2""".stripMargin,

    // the batch sliding windows whose end the final watermark passed
    "stream_sliding_window" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts)//1000 AS tus, value
        |           FROM events),
        |x AS (SELECT event_type, value, tus,
        |        (tus - tus % 3600000000) AS h FROM e),
        |u AS (SELECT event_type, value, h AS ws FROM x
        |      UNION ALL
        |      SELECT event_type, value, h - 3600000000 FROM x),
        |w AS (SELECT ((MAX(tus)//1000) - 7200000) * 1000 AS wm FROM e)
        |SELECT ws AS window_start_us, event_type, COUNT(*) AS n,
        |  SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS sum_value
        |FROM u, w GROUP BY 1, 2, wm
        |HAVING ws + 7200000000 < wm""".stripMargin,

    // the batch sessions, kept iff the final ms-floored watermark can
    // close them (session_end < W — the un-closable tail stays in state)
    "stream_session_window" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts)//1000 AS tus FROM events),
        |f AS (SELECT user_id, tus,
        |  CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus)
        |       >= 1800000000 THEN 1 ELSE 0 END AS _new FROM e),
        |s AS (SELECT user_id, tus,
        |  SUM(_new) OVER (PARTITION BY user_id ORDER BY tus) AS _sid FROM f),
        |g AS (SELECT user_id, MIN(tus) AS session_start_us,
        |       MAX(tus) + 1800000000 AS session_end_us,
        |       COUNT(*) AS n_events
        |      FROM s GROUP BY user_id, _sid),
        |w AS (SELECT ((MAX(tus)//1000) - 7200000) * 1000 AS wm FROM e)
        |SELECT user_id, session_start_us, session_end_us, n_events
        |FROM g, w WHERE session_end_us < wm""".stripMargin,

    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS ts FROM events),
        |f AS (SELECT user_id, ts,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |       > 1800000000000 THEN 1 ELSE 0 END AS _new FROM e),
        |s AS (SELECT user_id, ts,
        |  SUM(_new) OVER (PARTITION BY user_id ORDER BY ts) AS _sid FROM f),
        |g AS (SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |      COUNT(*) AS n_events FROM s GROUP BY user_id, _sid)
        |SELECT user_id, session_start, session_end, n_events FROM (
        |  SELECT g.*, ROW_NUMBER() OVER (PARTITION BY user_id
        |         ORDER BY session_start DESC) AS rn FROM g)
        |WHERE rn > 1""".stripMargin,

    "stream_range_join" ->
      """WITH periods AS (
        |  SELECT i AS period_id,
        |         1704067200000000000 + i * 61200000000000 AS lo_ns,
        |         1704067200000000000 + i * 61200000000000
        |           + (10800000000000 + (i % 5) * 25200000000000) - 1 AS hi_ns
        |  FROM range(0, 40) t(i))
        |SELECT p.period_id, COUNT(*) AS n,
        |       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM periods p JOIN events e
        |  ON epoch_ns(e.ts) BETWEEN p.lo_ns AND p.hi_ns
        |GROUP BY 1""".stripMargin
  )
}
