package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Iterative graph analytics over an edge list — the entity-importance
 * step of a data-curation pipeline (rank sources/authors/hosts by link
 * structure, weight documents by their provenance's rank). PageRank in
 * the "mean 1" formulation: every node starts at rank 1, each round a
 * node keeps 0.15 and receives 0.85 × the sum of its in-neighbors'
 * rank/outdegree shares. A fixed round count (the caller picks it; the
 * web-graph literature uses a few dozen, tests use 3) rather than a
 * convergence probe: rank deltas shrink geometrically, and a
 * deterministic round count keeps the result oracle-replayable.
 *
 * Determinism (SURVEY §4): ranks are scaled longs (1.0 ≡ `scaleQ` =
 * 1e9), every update is integer arithmetic — `rank div outdeg` shares,
 * `(85 × Σshares) div 100` damping — so the distributed sum is
 * associative and the result hash-matches a single-node replay exactly,
 * with zero float drift across any partitioning. Headroom: Σ rank mass
 * = N×1e9 and the ×85 step needs 100× slack, so the quantum holds to
 * ~10^8 nodes; a 100 TB graph drops scaleQ a decade per ×10 nodes
 * (the caller owns the trade — documented, not silent).
 *
 * Scale shape — the |E| vs |V| split is the whole design. The edge
 * list is materialized ONCE to scratch parquet and re-read per round:
 * an iterative operator must NOT pin |E| in executor block memory
 * (the first cut localCheckpoint'd 117M symmetrized edges at the 100×
 * fixture — ~GBs of pinned storage squeezing execution memory until
 * the round's hash aggregates died with UNABLE_TO_ACQUIRE_MEMORY; a
 * file-backed edge table is also simply what a 100 TB graph IS).
 * Per round, |E|-sized work is exactly: ONE equi-join of the edge
 * scan against the |V|-row send table (shares pre-joined at |V| —
 * never two passes over edges) and ONE map-side-combined groupBy(dst).
 * Everything |V|-sized (outdegrees, node set, per-round ranks) DOES
 * localCheckpoint, with superseded rounds freed exactly like
 * [[Components]] — the fixpoint-graph idiom that keeps plans flat and
 * the block store bounded by O(|V|), not O(|E|).
 */
object Graph {

  val scaleQ: Long = 1000000000L // rank 1.0 as a scaled long

  /** edges: columns (src, dst), directed, multi-edges allowed (they
    * weight the share like parallel links). Returns (node, rank_q) for
    * every node appearing as src or dst; rank_q = PageRank × scaleQ
    * after exactly `iters` synchronous rounds, damping 0.85. */
  def pagerank(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"pagerank: iters=$iters must be >= 1")
    val spark = edges.sparkSession
    // |E| lives in files, not block memory (see scaladoc)
    val dir = graft.sources.TextSources.scratchDir(spark, "graft_pagerank_")
    val e = edges.select(col("src"), col("dst"))
    e.write.mode("overwrite").parquet(dir)
    val out = pagerankOn(spark.read.schema(e.schema).parquet(dir), iters)
    deleteQuietly(spark, dir)
    out
  }

  /** [[pagerank]] over an edge frame that ALREADY lives in files — the
    * standing-table path ([[standingEdges]]): a bucketed-by-src edge
    * table is built once and probed by every ranking run, so the
    * per-query cost is the rounds alone, and each round's |E|-join
    * needs no Exchange on the edge side (its bucketing IS the join
    * distribution). The caller owns the layout contract: `e` must be
    * file-backed (scanned per round, never pinned). */
  def pagerankOn(e: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"pagerank: iters=$iters must be >= 1")
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    // the initial rank is checkpointed too: freeCheckpoint walks the
    // plan's LogicalRDDs, so a NON-checkpointed initial rank would hand
    // the shared `nodes` checkpoint to round 1's free
    var rank = nodes.withColumn("rank_q", lit(scaleQ)).localCheckpoint()
    // |V| is already materialized (the nodes checkpoint), so the count
    // is one cheap scan — it decides the per-round join strategy: a
    // broadcastable send table (16 bytes/node; ≤4M nodes ≈ ≤64 MB)
    // makes each round a MAP-ONLY pass over the edge files + one
    // map-combined groupBy — no per-round sort of |E|. Measured at the
    // 100× fixture (117M edges, 1.5M nodes): 66s → the sort-merge
    // rounds were the wall. Beyond the threshold the join falls back
    // to shuffle (the only option at 10⁹ nodes; a production deploy
    // pre-buckets edges and ranks by src to get co-location back).
    val broadcastSend = nodes.count() <= 4000000L
    for (_ <- 1 to iters) {
      // shares resolve at |V|: rank ⋈ outdeg BEFORE touching edges, so
      // the |E| scan joins one slim (src, share) table, not two
      val send = rank
        .join(outdeg, col("node") === col("src"))
        .select(col("src"), expr("rank_q div outdeg").as("share"))
      // the round's |E| work: one equi-join + one map-combined groupBy
      val recv = e.join(if (broadcastSend) broadcast(send) else send, "src")
        .groupBy(col("dst").as("node")).agg(sum(col("share")).as("recv_q"))
      val next = nodes
        .join(recv, Seq("node"), "left")
        .select(col("node"),
          (lit(15L * scaleQ / 100) +
            expr(s"(85 * coalesce(recv_q, 0L)) div 100")).as("rank_q"))
        .localCheckpoint()
      freeCheckpoint(rank)
      rank = next
    }
    freeCheckpoint(outdeg); freeCheckpoint(nodes)
    rank // its own checkpoint — the caller may drop the edge files
  }

  /**
   * Multi-source BFS: minimum hop distance from any `sources` row to every
   * reachable node, bounded at `maxHops` synchronous rounds. `edges` is
   * (src, dst) directed — pass a symmetrized table for undirected
   * semantics; `sources` is a 1-column ("node") seed table (stays a
   * DataFrame so a data-derived seed — "the min node" — never collects).
   *
   * Scale shape (the pagerank lessons applied): |E| lives in FILES and is
   * re-read once per round (never pinned in block memory — the 100× OOM
   * that redesigned pagerank); per round ONE equi-join of the edge files
   * against the frontier (AQE broadcasts a small frontier, falls back to
   * shuffle when a hop saturates the graph) + one distinct at |frontier|
   * + one anti join against the visited set. Visited state is |reached|
   * rows, localCheckpoint'd with predecessors freed each round; an
   * exhausted frontier short-circuits — the emptiness probe scans the
   * just-materialized checkpoint, not a recompute.
   */
  def bfs(edges: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"bfs: maxHops=$maxHops must be >= 0")
    val spark = edges.sparkSession
    val dir = graft.sources.TextSources.scratchDir(spark, "graft_bfs_")
    val e = edges.select(col("src"), col("dst"))
    e.write.mode("overwrite").parquet(dir)
    val out = bfsOn(spark.read.schema(e.schema).parquet(dir), sources, maxHops)
    deleteQuietly(spark, dir)
    out
  }

  /**
   * The STANDING edge table (r11 — the production path this file's
   * scaladoc promised since the pagerank redesign): symmetrize/derive
   * edges ONCE, write them bucketed by `src` ([[Layout.writeBucketed]]),
   * and let every traversal probe the layout. Two things amortize:
   * the |E| derivation (the per-run scratch materialization that
   * dominated q_bfs at 1000× — ~1.17B symmetrized edges rebuilt per
   * query), and the per-hop Exchange+Sort of |E| — the bucketed scan's
   * partitioning IS the join distribution, so a saturated-frontier
   * sort-merge hop shuffles only the |frontier| side and never re-sorts
   * the edge files. Build-if-absent keyed by the caller's name: the
   * cache key is the caller's contract (same name ⇒ same edge
   * derivation), exactly like a lakehouse standing table.
   */
  def standingEdges(edges: => DataFrame, spark: org.apache.spark.sql.SparkSession,
                    table: String, buckets: Int = 32): DataFrame = {
    if (!spark.catalog.tableExists(table))
      Layout.writeBucketed(edges.select(col("src"), col("dst")),
        table, "src", buckets)
    spark.table(table)
  }

  /** [[bfs]] over an edge frame that ALREADY lives in files (see
    * [[standingEdges]]); per-hop cost on a bucketed-by-src table is a
    * co-located probe — no Exchange, no Sort on the |E| side. */
  def bfsOn(e: DataFrame, sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"bfs: maxHops=$maxHops must be >= 0")
    var visited = sources.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("dist")).localCheckpoint()
    // round 1's frontier IS the seed checkpoint — never free both handles
    var frontier = visited
    var hop = 1
    while (hop <= maxHops && frontier != null) {
      val next = e.join(frontier.select(col("node").as("src")), "src")
        .select(col("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .select(col("node"), lit(hop.toLong).as("dist"))
        .localCheckpoint()
      if (next.isEmpty) { freeCheckpoint(next); frontier = null }
      else {
        val grown = visited.unionByName(next).localCheckpoint()
        // grown is materialized: the superseded visited and the previous
        // frontier's blocks are garbage; `next` lives on as the frontier
        if (frontier ne visited) freeCheckpoint(frontier)
        freeCheckpoint(visited)
        visited = grown
        frontier = next
      }
      hop += 1
    }
    if (frontier != null && (frontier ne visited)) freeCheckpoint(frontier)
    visited
  }

  private def deleteQuietly(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Unit =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true); ()
    } catch { case _: Exception => () }

  /** Release a superseded localCheckpoint's blocks now (see
    * [[Components.freeCheckpoint]] for why unpersist alone is not it). */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
