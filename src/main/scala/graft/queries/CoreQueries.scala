package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Catalog, LineageTable, Txn}
import graft.functions.Exact

/**
 * The reference's query surface (reference: lstore/query.py) as Spark
 * queries over a deterministic lineage fixture derived from `orders`:
 *
 *   base  = orders (k, custkey, status, totalprice)
 *   v1    = full update where k % 3 = 0  (totalprice + 10.0, status 'U1')
 *   v2    = partial update where k % 9 = 0 (status 'U2' only — totalprice
 *           carries forward, exercising schema-encoding semantics)
 *   tomb  = delete where k % 17 = 0
 *
 * The DuckDB oracles replicate the same lineage with UNION ALL CTEs and the
 * same window reconstruction, so results hash-match exactly (additive-only
 * double arithmetic; decimal-exact sums — see graft.functions.Exact).
 */
object CoreQueries {

  /**
   * The standard fixture, built through the public LineageTable API.
   *
   * Memoized per sf dir with the lineage materialized to a leaf: the lineage table IS the
   * database — every query runs against the same table state, so rebuilding
   * the write DAG (three stacked snapshot windows) per query would bench the
   * fixture construction, not the read path. Mirrors the reference, where
   * pages are written once and queries read them (lstore/db.py bufferpool).
   */
  def ordersLineage(spark: SparkSession, sfDir: String): LineageTable =
    fixtureCache.getOrElseUpdate(sfDir, {
      val base = Tables(spark, sfDir, "orders").select(
        col("o_orderkey").as("k"),
        col("o_custkey").as("custkey"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("totalprice"))
      val t = LineageTable.fromBase("k", base)
        .update(col("k") % 3 === 0,
          Map("totalprice" -> (col("totalprice") + lit(10.0)), "status" -> lit("U1")))
        .update(col("k") % 9 === 0, Map("status" -> lit("U2")))
        .delete(col("k") % 17 === 0)
      t.materialized
    })

  private val fixtureCache =
    scala.collection.concurrent.TrieMap.empty[String, LineageTable]

  /**
   * Warehouse-backed twin of [[ordersLineage]] exercising the full index
   * lifecycle (reference: lstore/index.py:59,66): the same fixture lineage
   * committed durably through the [[Catalog]] (delta-native tail append),
   * then `createIndex("custkey")` re-lays the base out range-partitioned +
   * sorted by the secondary column. Queries against it prune to the
   * matching custkey files/row-groups instead of scanning the snapshot —
   * the lever `ls_select_secondary` (deliberately index-less) lacks.
   */
  def indexedOrders(spark: SparkSession, sfDir: String): LineageTable =
    indexedCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_idx_wh_")
      val cat = new Catalog(spark, wh)
      cat.createTable("orders_ls", "k", baseOrders(spark, sfDir))
      cat.commit("orders_ls", Txn.empty
        .update(col("k") % 3 === 0,
          Map("totalprice" -> (col("totalprice") + lit(10.0)), "status" -> lit("U1")))
        .update(col("k") % 9 === 0, Map("status" -> lit("U2")))
        .delete(col("k") % 17 === 0))
      cat.createIndex("orders_ls", "custkey")
    })

  private val indexedCache =
    scala.collection.concurrent.TrieMap.empty[String, LineageTable]

  /**
   * Index-composed probe fixture: the SAME fixture lineage, but committed
   * with the index created MID-history — base + first update compact into
   * the custkey-sorted indexed layout, the remaining ops stay in a live
   * tail. This is the at-scale shape of an indexed warehouse table under
   * continuous writes, and it makes `ls_select_secondary` exercise BOTH
   * probe levers at once: WindowProbeRule turns the snapshot filter into
   * a candidate-key semi-join, and the candidate scan's pushed predicate
   * row-group-prunes on the indexed base (the r4 fixture probed an
   * UNINDEXED checkpoint leaf, so the candidate scan read everything).
   * Final snapshot is identical to [[ordersLineage]] — the oracle doesn't
   * change.
   */
  def indexedOrdersTailed(spark: SparkSession, sfDir: String): LineageTable =
    tailedCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_idxt_wh_")
      val cat = new Catalog(spark, wh)
      cat.createTable("orders_ls", "k", baseOrders(spark, sfDir))
      cat.commit("orders_ls", Txn.empty
        .update(col("k") % 3 === 0,
          Map("totalprice" -> (col("totalprice") + lit(10.0)),
              "status" -> lit("U1"))))
      cat.createIndex("orders_ls", "custkey")
      cat.commit("orders_ls", Txn.empty
        .update(col("k") % 9 === 0, Map("status" -> lit("U2")))
        .delete(col("k") % 17 === 0))
      cat.getTable("orders_ls")
    })

  private val tailedCache =
    scala.collection.concurrent.TrieMap.empty[String, LineageTable]

  /**
   * Multi-projection fixture: the SAME fixture lineage committed through
   * the warehouse with maintained `(column, key)` projections on BOTH
   * `custkey` AND `totalprice` (Catalog.createProjection — the
   * reference's one-hash-index-PER-column model, lstore/index.py:24-31,
   * which the single physical layout of createIndex cannot give: a
   * second createIndex replaces the first). Projections are created
   * mid-history, so the second commit exercises the O(delta) projection
   * append and the table ends with a live tail — the probe path where
   * candidate pruning matters.
   */
  def multiProjectedOrders(spark: SparkSession, sfDir: String): (Catalog, String) =
    multiProjCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_proj_wh_")
      val cat = new Catalog(spark, wh)
      cat.createTable("orders_mp", "k", baseOrders(spark, sfDir))
      cat.commit("orders_mp", Txn.empty
        .update(col("k") % 3 === 0,
          Map("totalprice" -> (col("totalprice") + lit(10.0)),
              "status" -> lit("U1"))))
      cat.createProjection("orders_mp", "custkey")
      cat.createProjection("orders_mp", "totalprice")
      cat.commit("orders_mp", Txn.empty
        .update(col("k") % 9 === 0, Map("status" -> lit("U2")))
        .delete(col("k") % 17 === 0))
      (cat, "orders_mp")
    })

  private val multiProjCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String)]

  /**
   * Z-ordered orders layout (built once per sf dir): the multi-column
   * index analog — ONE layout serving range probes on custkey AND
   * totalprice via file/row-group min-max pruning (reference builds one
   * hash index per column, lstore/index.py:59; Z-order is the distributed
   * equivalent for ranges over two columns). LayoutSpec measures the
   * pruning; correctness here is layout-independent.
   */
  def zorderedOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = zorderCache.getOrElseUpdate(sfDir, {
      val d = graft.sources.TextSources.scratchDir(spark, "graft_zorder_")
      graft.ops.Layout.zorder(baseOrders(spark, sfDir), "custkey", "totalprice")
        .write.mode("overwrite").parquet(d)
      d
    })
    spark.read.parquet(dir)
  }

  private val zorderCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** 3-column Z-order fixture (r10 — Layout.zorder N-column form): one
    * layout serving range probes on custkey, totalprice AND the key. */
  def zordered3Orders(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = zorder3Cache.getOrElseUpdate(sfDir, {
      val d = graft.sources.TextSources.scratchDir(spark, "graft_zorder3_")
      graft.ops.Layout.zorder(baseOrders(spark, sfDir),
        Seq("custkey", "totalprice", "k"), 16, 0)
        .write.mode("overwrite").parquet(d)
      d
    })
    spark.read.parquet(dir)
  }

  private val zorder3Cache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Durable-table Z-order fixture (r10 — Catalog.zorderTable via CALL
    * graft.zorder): the clustering is table METADATA, re-applied by
    * every later rewrite, and commits after it keep working (the tail
    * rides on top until the next fold). */
  def zorderTableFixture(spark: SparkSession, sfDir: String): (Catalog, String) =
    zorderTableCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_zt_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_zt", "k", baseOrders(spark, sfDir))
      val g = new graft.sql.GraftSql(spark).register("orders_zt", cat, "orders_zt")
      g.sql("CALL graft.zorder('orders_zt', 'custkey,totalprice')")
      g.sql("UPDATE orders_zt SET status = 'Z' WHERE k % 97 = 0")
      (cat, "orders_zt")
    })

  private val zorderTableCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String)]

  /** Partition-by-status + Z-order-within fixture (r13 — the standard
    * lakehouse layout: partition by a low-cardinality column, ZORDER BY
    * inside each directory). A post-layout UPDATE exercises the tail. */
  def zorderPartFixture(spark: SparkSession, sfDir: String): (Catalog, String) =
    zorderPartCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_zp_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_zp", "k", baseOrders(spark, sfDir),
        partitionBy = Some("status"))
      cat.zorderTable("orders_zp", Seq("custkey", "totalprice"))
      cat.commit("orders_zp", graft.core.Txn.empty
        .update(col("k") % 101 === 0,
          Map("totalprice" -> (col("totalprice") + lit(5.0)))))
      // vacuum to a single-version clustered base (the OPTIMIZE +
      // VACUUM flow): with one live version per record, the snapshot is
      // the window-free base scan and data predicates push straight to
      // it, where the per-file boxes row-group-prune — retained history
      // keeps them above the reconstruction window instead (sound: a
      // mutable column's latest value needs every version)
      cat.vacuum("orders_zp")
      (cat, "orders_zp")
    })

  private val zorderPartCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String)]

  /**
   * Schema-evolution fixture (built once per sf dir): orders committed,
   * updated, then ALTERed with a `priority` column (Catalog.addColumn — a
   * metadata-only op; no data file is rewritten) and updated again so some
   * records carry a value. Pre-evolve rows — all their versions — read
   * back null in the new column. autoCompact is OFF so the tail keeps
   * BOTH generations of files — commit 1's without the column, commit 2's
   * with it — making this query exercise the mixed-schema tail read
   * (Catalog's declared read schema), the one genuinely risky evolve
   * path; the fold/vacuum interplay is EvolveSpec's job.
   */
  def evolvedOrders(spark: SparkSession, sfDir: String): LineageTable =
    evolveCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_evolve_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_ev", "k", baseOrders(spark, sfDir))
      cat.commit("orders_ev", Txn.empty.update(col("k") % 3 === 0,
        Map("totalprice" -> (col("totalprice") + lit(10.0)),
            "status" -> lit("U1"))))
      cat.addColumn("orders_ev", "priority", "bigint")
      cat.commit("orders_ev", Txn.empty.update(col("k") % 4 === 0,
        Map("priority" -> (col("custkey") % 5))))
      cat.getTable("orders_ev")
    })

  private val evolveCache =
    scala.collection.concurrent.TrieMap.empty[String, LineageTable]

  /**
   * Full schema-evolution lifecycle fixture (ADD + RENAME + DROP COLUMN,
   * all metadata-only — the Delta column-mapping family), driven through
   * the SQL front door's ALTER TABLE statements: a column is added and
   * populated, `totalprice` is RENAMED to `price` (old files keep
   * serving under the new name — zero I/O), writes continue against the
   * new name, and `status` is DROPPED (files untouched, the physical
   * column retired so a re-add could never resurrect it). The final read
   * mixes pre-evolve files, post-add files and post-rename files in one
   * tail.
   */
  def evolveDropOrders(spark: SparkSession, sfDir: String): LineageTable =
    evolveDropCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_evd_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_ed", "k", baseOrders(spark, sfDir))
      val g = new graft.sql.GraftSql(spark).register("orders_ed", cat, "orders_ed")
      g.sql("ALTER TABLE orders_ed ADD COLUMN priority BIGINT")
      g.sql("UPDATE orders_ed SET priority = custkey % 5 WHERE k % 4 = 0")
      g.sql("ALTER TABLE orders_ed RENAME COLUMN totalprice TO price")
      g.sql("UPDATE orders_ed SET price = price + 1.0 WHERE k % 6 = 0")
      g.sql("ALTER TABLE orders_ed DROP COLUMN status")
      cat.getTable("orders_ed")
    })

  private val evolveDropCache =
    scala.collection.concurrent.TrieMap.empty[String, LineageTable]

  /**
   * Commit-log fixture for timestamp time travel: the SAME fixture
   * lineage committed durably in two LOGGED commits
   * ([[Catalog.commitAt]] — logical clock: ts=1000 carries the v1 full
   * update, ts=2000 the v2 partial update + delete). autoCompact stays
   * off so no mid-fixture re-stamp clears the commit log (the
   * Delta/Iceberg rule: physical rewrites bound the travel window).
   */
  /** The two commit stamps, as a deployment would issue them: epoch
    * MILLIS wall clocks (the convention that makes SQL `TIMESTAMP AS OF
    * '<literal>'` resolvable — GraftSql parses the literal to UTC epoch
    * millis and resolves through the same commit log). Fixed instants,
    * not now(): determinism is the oracle contract.
    *   T1 = 2023-11-14 22:13:20 UTC, T2 = +10 minutes. */
  val tsCommit1 = 1700000000000L
  val tsCommit2 = 1700000600000L

  def tsLoggedOrders(spark: SparkSession, sfDir: String): (Catalog, String) =
    tsLogCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_ts_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_ts", "k", baseOrders(spark, sfDir))
      cat.commitAt("orders_ts", Txn.empty
        .update(col("k") % 3 === 0,
          Map("totalprice" -> (col("totalprice") + lit(10.0)),
              "status" -> lit("U1"))), ts = tsCommit1)
      cat.commitAt("orders_ts", Txn.empty
        .update(col("k") % 9 === 0, Map("status" -> lit("U2")))
        .delete(col("k") % 17 === 0), ts = tsCommit2)
      (cat, "orders_ts")
    })

  private val tsLogCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String)]

  /**
   * Streaming-CDC-apply target (stream_merge): baseOrders committed as a
   * warehouse table once per sf dir; the QUERY drains the change stream
   * into it — one durable MERGE INTO commit per micro-batch
   * (StreamOps.mergeStream). The change stream is upsert-only, so
   * re-draining (the bench's second execution, with a fresh checkpoint)
   * re-lands identical values: history grows, the SNAPSHOT is invariant.
   */
  def mergeTargetOrders(spark: SparkSession, sfDir: String): (Catalog, String) =
    mergeTgtCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_smerge_wh_")
      val cat = new Catalog(spark, wh)
      cat.createTable("orders_sm", "k", baseOrders(spark, sfDir))
      (cat, "orders_sm")
    })

  private val mergeTgtCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String)]

  /**
   * Continuous-view-maintenance target (stream_mview): a warehouse orders
   * table PLUS a per-status materialized rollup, both advanced by the
   * query's drain — one durable MERGE commit and one incremental view
   * refresh per micro-batch. autoCompact off keeps every refresh on the
   * differential path (a fold would bump the epoch → full recompute,
   * correct but not what this query demonstrates).
   */
  def mviewTargetOrders(spark: SparkSession, sfDir: String): (Catalog, String, String) =
    mviewTgtCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_smv_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_smv", "k", baseOrders(spark, sfDir))
      cat.createMaterializedView("orders_smv_rollup", "orders_smv",
        "status", "totalprice")
      (cat, "orders_smv", "orders_smv_rollup")
    })

  private val mviewTgtCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String, String)]

  /** Streaming JOIN-mview fixture (r10): a star schema whose FACT takes
    * the change stream — the dim stays put, so every per-batch refresh
    * runs the differential Δfact ⋈ dim path. */
  def mviewJoinTargetOrders(spark: SparkSession,
                            sfDir: String): (Catalog, String, String) =
    mviewJoinTgtCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_sjv_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_sjv", "k", baseOrders(spark, sfDir))
      cat.createTable("cust_sjv", "ck",
        Tables(spark, sfDir, "customer").select(
          col("c_custkey").as("ck"), col("c_mktsegment").as("seg")))
      cat.createJoinMaterializedView("orders_sjv_rollup",
        "orders_sjv", "cust_sjv", "custkey", Seq("seg"), Seq("totalprice"))
      (cat, "orders_sjv", "orders_sjv_rollup")
    })

  private val mviewJoinTgtCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String, String)]

  /**
   * Bloom-index fixture ([[Catalog.createBloomFilter]]): the standard
   * transcript with parquet bloom filters on `custkey` created
   * MID-history — the creation fold bakes them into the base, the later
   * commit's tail files carry them via the shared writer options, and
   * (unlike createIndex) version history survives. The physical sort
   * order stays on the KEY, so the custkey probe has no min-max help —
   * exactly the layout where hash-skipping is the only lever.
   */
  def bloomOrders(spark: SparkSession, sfDir: String): LineageTable =
    bloomCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_bf_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_bf", "k", baseOrders(spark, sfDir))
      cat.commit("orders_bf", Txn.empty
        .update(col("k") % 3 === 0,
          Map("totalprice" -> (col("totalprice") + lit(10.0)),
              "status" -> lit("U1"))))
      cat.createBloomFilter("orders_bf", "custkey")
      cat.commit("orders_bf", Txn.empty
        .update(col("k") % 9 === 0, Map("status" -> lit("U2")))
        .delete(col("k") % 17 === 0))
      cat.getTable("orders_bf")
    })

  private val bloomCache =
    scala.collection.concurrent.TrieMap.empty[String, LineageTable]

  /**
   * SQL-only lifecycle fixture (sql_call): the standard transcript driven
   * ENTIRELY through the SQL front door — DML writes (UPDATE/DELETE)
   * interleaved with CALL maintenance procedures (analyze, optimize =
   * history-preserving fold, vacuum) against a durable warehouse table.
   * Maintenance never moves the snapshot, so the final state equals the
   * standard fixture's — the oracle can't tell HOW the table was driven,
   * which is the point: SQL users get the whole lifecycle.
   */
  def sqlCallOrders(spark: SparkSession, sfDir: String): graft.sql.GraftSql =
    sqlCallCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_call_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_call", "k", baseOrders(spark, sfDir))
      val g = new graft.sql.GraftSql(spark).register("orders_call", cat, "orders_call")
      g.sql("""UPDATE orders_call SET totalprice = totalprice + 10.0,
              |status = 'U1' WHERE k % 3 = 0""".stripMargin)
      g.sql("CALL graft.analyze('orders_call', 'custkey', 'status')")
      g.sql("CALL graft.optimize('orders_call')")
      g.sql("UPDATE orders_call SET status = 'U2' WHERE k % 9 = 0")
      g.sql("CALL graft.vacuum('orders_call', 1)")
      g.sql("DELETE FROM orders_call WHERE k % 17 = 0")
      g
    })

  private val sqlCallCache =
    scala.collection.concurrent.TrieMap.empty[String, graft.sql.GraftSql]

  /**
   * Shallow-clone fixture ([[Catalog.cloneTable]]): orders committed and
   * updated once, cloned ZERO-COPY (the clone's base is a frozen file
   * manifest — no data written), then both tables diverge with their own
   * commits. autoCompact is OFF: a physical rewrite on the SOURCE deletes
   * files the clone references (the documented Delta shallow-clone
   * caveat, caught live by CloneSpec) — production materializes clones
   * (foldTail on the clone detaches it) before source maintenance.
   */
  def clonedOrders(spark: SparkSession, sfDir: String): (Catalog, String, String) =
    cloneCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_clone_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_cl", "k", baseOrders(spark, sfDir))
      cat.commit("orders_cl", Txn.empty.update(col("k") % 3 === 0,
        Map("totalprice" -> (col("totalprice") + lit(10.0)),
            "status" -> lit("U1"))))
      cat.cloneTable("orders_cl", "orders_cl2")
      // divergence in BOTH directions from the clone point
      cat.commit("orders_cl2", Txn.empty
        .update(col("k") % 5 === 0, Map("status" -> lit("C"))))
      cat.commit("orders_cl", Txn.empty
        .update(col("k") % 7 === 0, Map("status" -> lit("S"))))
      (cat, "orders_cl", "orders_cl2")
    })

  private val cloneCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String, String)]

  /**
   * Materialized-view fixture ([[Catalog.createMaterializedView]]): the
   * standard 3-op transcript committed to a warehouse table with an
   * incrementally-maintained per-status rollup refreshed after EACH
   * commit — both refreshes take the O(changed keys) differential path
   * (autoCompact off keeps history addressable), so the final view state
   * the oracle checks is the product of two incremental merges, not a
   * recompute. MviewSpec pins incremental ≡ full under randomized ops.
   */
  def mviewOrders(spark: SparkSession, sfDir: String): (Catalog, String) =
    mviewCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_mv_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_mv", "k", baseOrders(spark, sfDir))
      cat.createMaterializedView("orders_mv_by_status", "orders_mv",
        "status", "totalprice")
      cat.commit("orders_mv", Txn.empty
        .update(col("k") % 3 === 0,
          Map("totalprice" -> (col("totalprice") + lit(10.0)),
              "status" -> lit("U1"))))
      cat.refreshMaterializedView("orders_mv_by_status")
      cat.commit("orders_mv", Txn.empty
        .update(col("k") % 9 === 0, Map("status" -> lit("U2")))
        .delete(col("k") % 17 === 0))
      cat.refreshMaterializedView("orders_mv_by_status")
      (cat, "orders_mv_by_status")
    })

  private val mviewCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String)]

  /**
   * min/max materialized-view fixture (r10 — [[Catalog
   * .createMaterializedView]] with `minCols`/`maxCols`): per-status
   * count + exact-cents sum + min/max price, advanced through THREE
   * differential refreshes that exercise both extremum paths:
   * a price raise (least/greatest combine, possible in-place extremum
   * move), an insert batch with a brand-new group, then a commit that
   * DELETES every row above a price threshold — removing group MAXIMA,
   * the case the classical IVM boundary is about — plus a floor update
   * that moves group MINIMA. The extremum-removal groups re-aggregate
   * via the group-restricted rescan; everything else stays delta work.
   */
  def mviewMinmaxOrders(spark: SparkSession, sfDir: String): (Catalog, String) =
    mviewMinmaxCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_mvmm_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_mm", "k", baseOrders(spark, sfDir))
      cat.createMaterializedView("orders_mm_px", "orders_mm",
        Seq("status"), Seq("totalprice"),
        minCols = Seq("totalprice"), maxCols = Seq("totalprice"))
      cat.commit("orders_mm", Txn.empty
        .update(col("k") % 11 === 0,
          Map("totalprice" -> (col("totalprice") + lit(2.0)))))
      cat.refreshMaterializedView("orders_mm_px")
      cat.commit("orders_mm", Txn.empty
        .insert(baseOrders(spark, sfDir).where(col("k") % 50 === 0)
          .select((col("k") + 90000000L).as("k"), col("custkey"),
            lit("NX").as("status"),
            (col("totalprice") + lit(0.25)).as("totalprice"))))
      cat.refreshMaterializedView("orders_mm_px")
      cat.commit("orders_mm", Txn.empty
        .delete(col("totalprice") > 400000.0)
        .update(col("totalprice") < 1200.0,
          Map("totalprice" -> (col("totalprice") - lit(0.75)))))
      cat.refreshMaterializedView("orders_mm_px")
      (cat, "orders_mm_px")
    })

  private val mviewMinmaxCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String)]

  /**
   * JOIN materialized view fixture ([[Catalog.createJoinMaterializedView]]):
   * orders (fact) × customer (dim) rolled up by the DIM's market segment —
   * the star-schema dashboard shape. The transcript exercises all three
   * refresh modes: a fact update lands DIFFERENTIALLY (Δfact ⋈ dim), a
   * dim re-segmentation forces the documented FULL-RECOMPUTE degradation
   * (and re-records the dim vintage), then a fact delete refreshes
   * differentially again against the new dim.
   */
  def mviewJoinOrders(spark: SparkSession, sfDir: String): (Catalog, String) =
    mviewJoinCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_jmv_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      cat.createTable("orders_jf", "k", baseOrders(spark, sfDir))
      cat.createTable("cust_jd", "ckey",
        Tables(spark, sfDir, "customer").select(
          col("c_custkey").as("ckey"), col("c_mktsegment").as("seg")))
      cat.createJoinMaterializedView("orders_by_seg", "orders_jf", "cust_jd",
        "custkey", Seq("seg"), Seq("totalprice"))
      cat.commit("orders_jf", Txn.empty
        .update(col("k") % 4 === 0,
          Map("totalprice" -> (col("totalprice") + lit(5.0)))))
      cat.refreshMaterializedView("orders_by_seg")
      cat.commit("cust_jd", Txn.empty
        .update(col("ckey") % 10 === 0, Map("seg" -> lit("SEGX"))))
      cat.refreshMaterializedView("orders_by_seg")
      cat.commit("orders_jf", Txn.empty.delete(col("k") % 13 === 0))
      cat.refreshMaterializedView("orders_by_seg")
      (cat, "orders_by_seg")
    })

  private val mviewJoinCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String)]

  /**
   * COMPOSITE-group, multi-measure materialized view fixture (r9,
   * [[Catalog.createMaterializedView]] general form): the standard
   * transcript against a table widened with a second group column
   * (`seg` = custkey % 3) and a second money measure (`custval`), rolled
   * up by (status, seg) with per-measure exact cents sums. The view keys
   * on the injective `_gkey` encoding; both refreshes take the
   * differential path — per-measure long deltas through the same
   * full-outer adjustment join, group-migrating updates (status changes)
   * crossing composite groups.
   */
  def mviewMultiOrders(spark: SparkSession, sfDir: String): (Catalog, String) =
    mviewMultiCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_mvm_wh_")
      val cat = new Catalog(spark, wh, autoCompact = false)
      val base = baseOrders(spark, sfDir).select(
        col("k"), (col("custkey") % 3).as("seg"), col("status"),
        col("totalprice"), col("custkey").cast("double").as("custval"))
      cat.createTable("orders_mvm", "k", base)
      cat.createMaterializedView("orders_mvm_roll", "orders_mvm",
        Seq("status", "seg"), Seq("totalprice", "custval"))
      cat.commit("orders_mvm", Txn.empty
        .update(col("k") % 3 === 0,
          Map("totalprice" -> (col("totalprice") + lit(10.0)),
              "status" -> lit("U1"))))
      cat.refreshMaterializedView("orders_mvm_roll")
      cat.commit("orders_mvm", Txn.empty
        .update(col("k") % 9 === 0, Map("status" -> lit("U2")))
        .delete(col("k") % 17 === 0))
      cat.refreshMaterializedView("orders_mvm_roll")
      (cat, "orders_mvm_roll")
    })

  private val mviewMultiCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String)]

  /**
   * CHECK-constraint fixture ([[Catalog.addConstraint]]): two constraints
   * on a committed orders table; a violating transaction (negated prices)
   * is REJECTED atomically — tryCommit returns Left, nothing lands — and
   * a clean commit then applies. The oracle replays base + clean commit
   * only: any trace of the rejected transaction breaks the hash.
   */
  def constrainedOrders(spark: SparkSession, sfDir: String): (Catalog, String) =
    constraintCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_ck_wh_")
      val cat = new Catalog(spark, wh)
      cat.createTable("orders_ck", "k", baseOrders(spark, sfDir))
      cat.addConstraint("orders_ck", "price_nonneg", "totalprice >= 0.0")
      cat.addConstraint("orders_ck", "status_notnull", "status IS NOT NULL")
      val rejected = scala.util.Try(cat.commit("orders_ck",
        Txn.empty.update(col("k") % 4 === 0,
          Map("totalprice" -> (col("totalprice") * -1)))))
      require(rejected.isFailure, "violating commit must be rejected")
      cat.commit("orders_ck", Txn.empty.update(col("k") % 6 === 0,
        Map("totalprice" -> (col("totalprice") + lit(5.0)),
            "status" -> lit("OK"))))
      (cat, "orders_ck")
    })

  private val constraintCache =
    scala.collection.concurrent.TrieMap.empty[String, (Catalog, String)]

  private val csvCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private val orcCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def baseOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders").select(
      col("o_orderkey").as("k"),
      col("o_custkey").as("custkey"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("totalprice"))

  /** Shared order_by body (reference: Query.order_by, lstore/query.py:341
    * — parameterized ascending). Global sort is a range-partitioned
    * exchange at scale; the rank column carries the order into the hash. */
  private def orderBySnapshot(s: SparkSession, d: String,
                              ascending: Boolean): DataFrame = {
    val keys =
      if (ascending) Seq(col("totalprice").asc, col("k").asc)
      else Seq(col("totalprice").desc, col("k").asc)
    // orderBy+limit plans as TakeOrderedAndProject (per-partition top-100,
    // merged at the driver) — the scale-correct global top-k. Ranking the
    // ≤100 survivors partitions on pmod(k,1) ≡ 0: one partition, but a
    // bounded one by construction, and non-foldable so the optimizer keeps
    // the partition spec (a lit(0) is stripped, re-triggering the
    // unpartitioned-window WARN).
    val top = ordersLineage(s, d).snapshot.orderBy(keys: _*).limit(100)
    top.withColumn("rnk",
        row_number().over(
          Window.partitionBy(pmod(col("k"), lit(1))).orderBy(keys: _*))
          .cast("bigint"))
      .select(col("rnk"), col("k"), col("totalprice"))
  }

  /**
   * The fixture snapshot registered as a session-local TEMP VIEW — the
   * SQL front door (r6): analytics users arrive with SQL strings, so the
   * core reads below route through `spark.sql` over this view instead of
   * the DataFrame API. Both routes parse/resolve to the SAME logical
   * plan (PlanAudit pins the executed plans identical modulo expr ids),
   * so every probe/pushdown lever fires regardless of front door.
   * Registration is per call: temp views are session-local and the
   * bench/tuning clones each carry their own catalog.
   */
  private def snapshotView(s: SparkSession, d: String): String = {
    val name = "graft_orders_snap_" + d.replaceAll("[^A-Za-z0-9]", "_")
    ordersLineage(s, d).snapshot.createOrReplaceTempView(name)
    name
  }

  /**
   * Cross-table transaction fixture ([[Catalog.commitMulti]]): an orders
   * lineage and a documents lineage mutated by ONE atomic transaction —
   * the reference's multi-table Transaction (lstore/transaction.py binds
   * a table per query; a crash between per-table commits must leave
   * nothing). MultiTxnSpec drives every crash window; this fixture is the
   * committed end state the oracle reproduces.
   */
  def multiTxnTables(spark: SparkSession, sfDir: String): Catalog =
    multiTxnCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_mtx_wh_")
      val cat = new Catalog(spark, wh)
      val docs = Tables(spark, sfDir, "documents").select(
        col("doc_id").as("k"), col("lang"), col("n_chars"))
      cat.createTable("orders_mt", "k", baseOrders(spark, sfDir))
      cat.createTable("docs_mt", "k", docs)
      cat.commitMulti(Map(
        "orders_mt" -> Txn.empty
          .update(col("k") % 3 === 0,
            Map("totalprice" -> (col("totalprice") + lit(10.0)),
                "status" -> lit("U1")))
          .delete(col("k") % 17 === 0),
        "docs_mt" -> Txn.empty
          .delete(col("lang") === "zh")
          .insert(docs.where(col("lang") === "en").select(
            (col("k") + 10000000L).as("k"), lit("xx").as("lang"),
            col("n_chars")))))
      cat
    })

  private val multiTxnCache =
    scala.collection.concurrent.TrieMap.empty[String, Catalog]

  /**
   * SQL-transaction fixture ([[graft.sql.GraftSql]] BEGIN..COMMIT →
   * [[Catalog.commitMulti]]): the SAME cross-table mutation transcript as
   * [[multiTxnTables]], driven entirely as ANSI SQL statements inside one
   * transaction — four DML statements across two tables accumulate
   * (two compose on orders_sx, proving per-table statement ordering) and
   * land as ONE staged atomic commit. A first transaction is ROLLED BACK
   * before it: any trace of it in the final state breaks the oracle hash.
   * The INSERT..SELECT inside the transaction reads the 'en' rows, which
   * no staged op touches — its result is identical under r9's snapshot
   * isolation and r10's read-your-own-writes overlay (the RYOW-sensitive
   * transcript is sql_txn_ryow).
   */
  def sqlTxnTables(spark: SparkSession, sfDir: String): Catalog =
    sqlTxnCache.getOrElseUpdate(sfDir, {
      val wh = graft.sources.TextSources.scratchDir(spark, "graft_stx_wh_")
      val cat = new Catalog(spark, wh)
      val docs = Tables(spark, sfDir, "documents").select(
        col("doc_id").as("k"), col("lang"), col("n_chars"))
      cat.createTable("orders_sx", "k", baseOrders(spark, sfDir))
      cat.createTable("docs_sx", "k", docs)
      val g = new graft.sql.GraftSql(spark)
        .register("orders_sx", cat, "orders_sx")
        .register("docs_sx", cat, "docs_sx")
      g.sql("BEGIN")
      g.sql("UPDATE orders_sx SET status = 'ZZ' WHERE k % 2 = 0")
      g.sql("DELETE FROM docs_sx WHERE lang = 'en'")
      g.sql("ROLLBACK")
      g.sql("BEGIN")
      g.sql("""UPDATE orders_sx SET totalprice = totalprice + 10.0,
              |status = 'U1' WHERE k % 3 = 0""".stripMargin)
      g.sql("DELETE FROM orders_sx WHERE k % 17 = 0")
      g.sql("DELETE FROM docs_sx WHERE lang = 'zh'")
      g.sql("""INSERT INTO docs_sx SELECT k + 10000000, 'xx', n_chars
              |FROM docs_sx WHERE lang = 'en'""".stripMargin)
      g.sql("COMMIT")
      cat
    })

  private val sqlTxnCache =
    scala.collection.concurrent.TrieMap.empty[String, Catalog]

  /** The ls_merge_into change set (shared by the SQL front-door query
    * and PlanAudit's Column-route twin, so the plan-identity pin
    * compares the same source). */
  def mergeSource(s: SparkSession, d: String): DataFrame = {
    val base = baseOrders(s, d)
    base.where(col("k") % 10 === 0).select(
        col("k"), col("custkey"), lit("M").as("status"),
        (col("totalprice") + lit(1000.0)).as("totalprice"))
      .unionByName(base.where(col("k") % 1000 === 0).select(
        (col("k") + 3000000L).as("k"), col("custkey"),
        lit("N").as("status"), col("totalprice")))
  }

  /** Register the merge change set as the `graft_merge_src` view the
    * SQL MERGE statement names in its USING clause. */
  def mergeSourceView(s: SparkSession, d: String): Unit =
    mergeSource(s, d).createOrReplaceTempView("graft_merge_src")

  // ---------------------------------------------------------------- queries

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ls_insert" -> { (s, d) =>
      val base = baseOrders(s, d)
      val inserted = base.where(col("k") % 500 === 0).select(
        (col("k") + 1000000L).as("k"), col("custkey"),
        lit("NEW").as("status"), col("totalprice"))
      LineageTable.fromBase("k", base).insert(inserted)
        .snapshot.where(col("k") % 250 === 0)
    },

    "ls_select_point" -> { (s, d) =>
      // Point lookup THROUGH THE SQL FRONT DOOR: the key predicate is
      // pushed below the snapshot view's window to the scan exactly as
      // on the DataFrame route (the distributed analog of Index.locate;
      // PlanAudit pins the two routes' executed plans identical).
      s.sql(s"""SELECT k, status, totalprice FROM ${snapshotView(s, d)}
               |WHERE k IN (42, 45, 100, 4211, 34)""".stripMargin)
    },

    "ls_select_secondary" -> { (s, d) =>
      // Plain filter on the snapshot of the INDEXED, tailed warehouse
      // table: WindowProbeRule (GraftExtensions) rewrites it automatically
      // into the candidate-key semi-join probe (explicit API twin:
      // LineageTable.probe), and the candidate scan's pushed custkey
      // predicate row-group-prunes on the index layout — probe + index
      // COMPOSED, the reference's Index.locate → select path at scale.
      indexedOrdersTailed(s, d).snapshot
        .where(col("custkey") === 77L)
        .select(col("k"), col("custkey"), col("totalprice"))
    },

    // Two SIMULTANEOUS secondary indexes on one table (reference: an
    // independent hash index per column, lstore/index.py:24-31): each
    // probe's candidate keys come from a pruned scan of its OWN slim
    // sorted (column, key) projection — point predicate on custkey AND
    // range predicate on totalprice both prune, which one physical
    // layout (createIndex / idx_zorder's two-column Morton) cannot give
    // three-plus columns. Maintenance is O(delta) per commit
    // (ProjectionSpec pins it); the union tags which index served.
    "idx_multi" -> { (s, d) =>
      val (cat, tbl) = multiProjectedOrders(s, d)
      cat.probeProjected(tbl, "custkey", col("custkey") === 77L)
        .select(lit("custkey").as("probe"), col("k"), col("custkey"),
          col("totalprice"))
        .unionByName(
          cat.probeProjected(tbl, "totalprice",
              col("totalprice").between(1000.0, 2000.0))
            .select(lit("totalprice").as("probe"), col("k"), col("custkey"),
              col("totalprice")))
    },

    "ls_select_version_latest" -> { (s, d) =>
      ordersLineage(s, d).snapshot.where(col("k").between(0L, 2000L))
    },

    // TIMESTAMP AS OF time travel (Catalog.commitAt / asOfTimestamp):
    // three reads of the SAME warehouse table at wall-clock points —
    // before the first logged commit (clamps to base), between the two
    // commits (v1 state), after both (latest). Resolving ts → version is
    // a metadata-only commit-log lookup; the read's _ver predicate prunes
    // tail files by footer min-max BELOW the snapshot window
    // (LineageTable.asOfVersion).
    "ls_asof_ts" -> { (s, d) =>
      val (cat, tbl) = tsLoggedOrders(s, d)
      def rd(ts: Long, tag: String) =
        cat.asOfTimestamp(tbl, ts)
          .where(col("k").between(0L, 600L))
          .select(lit(tag).as("asof"), col("k"), col("custkey"),
            col("status"), col("totalprice"))
      rd(tsCommit1 - 1000L, "t0").unionByName(rd(tsCommit1 + 500L, "t1"))
        .unionByName(rd(tsCommit2 + 500L, "t2"))
    },

    // MERGE INTO (LineageTable.mergeInto) — one atomic upsert op,
    // routed THROUGH THE SQL FRONT DOOR (graft.sql.GraftSql): Spark's
    // own parser parses the ANSI MERGE and the front door maps it onto
    // the same engine op the Column API builds (PlanAudit pins the two
    // routes' executed plans identical). The k%10 source slice updates
    // status+totalprice (custkey carries forward), the matched
    // custkey%50 sub-slice DELETES instead (the WHEN MATCHED AND cond
    // THEN DELETE clause), and unmatched source rows (a shifted key
    // range; also any fixture-tombstoned k%10 keys) INSERT/resurrect.
    // The whole merge takes ONE _ver stamp, and the target side windows
    // only the source's key partitions (the probe trick) — cost ∝
    // |source|, never the table.
    "ls_merge_into" -> { (s, d) =>
      mergeSourceView(s, d)
      val g = new graft.sql.GraftSql(s)
        .register("graft_merge_tgt", ordersLineage(s, d))
      g.sql("""MERGE INTO graft_merge_tgt t USING graft_merge_src s
              |ON t.k = s.k
              |WHEN MATCHED AND s.custkey % 50 = 0 THEN DELETE
              |WHEN MATCHED THEN UPDATE SET status = s.status,
              |                             totalprice = s.totalprice
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      g.table("graft_merge_tgt").snapshot.where(col("k") % 5 === 0)
    },

    // MERGE with WHEN NOT MATCHED BY SOURCE (r12) — the Delta sync-job
    // form: the source IS the upstream's full current state, so target
    // rows whose key the source no longer carries deactivate (here the
    // custkey%7 slice of them, via the AND gate, which evaluates on the
    // TARGET row — the only row that exists for a vanished record). One
    // _ver stamp for all three arms. This arm is the one merge shape
    // that pays |target|: a key anti-join against the |source| build
    // side — no history window, no fact-side shuffle beyond the probe.
    "ls_merge_source" -> { (s, d) =>
      mergeSourceView(s, d)
      val g = new graft.sql.GraftSql(s)
        .register("graft_merge_tgt2", ordersLineage(s, d))
      g.sql("""MERGE INTO graft_merge_tgt2 t USING graft_merge_src s
              |ON t.k = s.k
              |WHEN MATCHED THEN UPDATE SET status = s.status,
              |                             totalprice = s.totalprice
              |WHEN NOT MATCHED THEN INSERT *
              |WHEN NOT MATCHED BY SOURCE AND custkey % 7 = 0 THEN DELETE"""
        .stripMargin)
      g.table("graft_merge_tgt2").snapshot.where(col("k") % 5 === 0)
    },

    // MERGE ... WHEN NOT MATCHED BY SOURCE THEN UPDATE (r12): the
    // deactivate-instead-of-delete sync-job form — target rows whose key
    // vanished from the source get re-stamped with assignments evaluated
    // over the TARGET row (`SET status = 'STALE'`), in the SAME single
    // `_ver` commit as the upsert arms. Same |target| key anti-join
    // shape as the delete form; a source-qualified reference in the
    // gate or an assignment rejects loud (no source row exists).
    "ls_merge_source_upd" -> { (s, d) =>
      mergeSourceView(s, d)
      val g = new graft.sql.GraftSql(s)
        .register("graft_merge_tgt3", ordersLineage(s, d))
      g.sql("""MERGE INTO graft_merge_tgt3 t USING graft_merge_src s
              |ON t.k = s.k
              |WHEN MATCHED THEN UPDATE SET status = s.status,
              |                             totalprice = s.totalprice
              |WHEN NOT MATCHED THEN INSERT *
              |WHEN NOT MATCHED BY SOURCE AND custkey % 7 = 0
              |  THEN UPDATE SET status = 'STALE',
              |                  totalprice = totalprice + 1.0""".stripMargin)
      g.table("graft_merge_tgt3").snapshot.where(col("k") % 5 === 0)
    },

    // MERGE with ORDERED conditional WHEN MATCHED arms (r13 — Delta's
    // first-match-wins clause-order semantics): an UPDATE arm, a DELETE
    // arm, and a second UPDATE arm, each with its own AND condition. A
    // matched row takes the FIRST arm whose condition holds (an even
    // custkey that is also %5 UPDATES — the earlier arm shadows the
    // delete), and a row passing NO arm stays UNCHANGED (the engine's
    // updateWhen gate drops it from the delta — no new version row).
    // Desugared on the driver to disjoint prefix-negated gates over ONE
    // engine merge: still a single `_ver` commit, still |source|-priced.
    "ls_merge_arms" -> { (s, d) =>
      mergeSourceView(s, d)
      val g = new graft.sql.GraftSql(s)
        .register("graft_merge_tgt4", ordersLineage(s, d))
      g.sql("""MERGE INTO graft_merge_tgt4 t USING graft_merge_src s
              |ON t.k = s.k
              |WHEN MATCHED AND s.custkey % 2 = 0
              |  THEN UPDATE SET status = s.status, totalprice = s.totalprice
              |WHEN MATCHED AND s.custkey % 5 = 0 THEN DELETE
              |WHEN MATCHED AND s.custkey % 3 = 0
              |  THEN UPDATE SET status = s.status, totalprice = s.totalprice
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      g.table("graft_merge_tgt4").snapshot.where(col("k") % 5 === 0)
    },

    // Ordered arms that SET DIFFERENT columns (r13 per-column update
    // gates): a matched row taking an arm copies exactly THAT arm's
    // columns from the source and carries the rest — even custkeys
    // re-status, odd %3 custkeys re-price, everything else unchanged.
    // Still one engine merge, one `_ver` stamp: each gated column rides
    // its own disjoint prefix-negated gate on the source row.
    "ls_merge_arms_cols" -> { (s, d) =>
      mergeSourceView(s, d)
      val g = new graft.sql.GraftSql(s)
        .register("graft_merge_tgt5", ordersLineage(s, d))
      g.sql("""MERGE INTO graft_merge_tgt5 t USING graft_merge_src s
              |ON t.k = s.k
              |WHEN MATCHED AND s.custkey % 2 = 0
              |  THEN UPDATE SET status = s.status
              |WHEN MATCHED AND s.custkey % 3 = 0
              |  THEN UPDATE SET totalprice = s.totalprice
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      g.table("graft_merge_tgt5").snapshot.where(col("k") % 5 === 0)
    },

    // DESCRIBE HISTORY: the commit log as a table read — zero data files
    // opened at any table size (the log lives in _graft.json). This is
    // how a user discovers what asOfTimestamp can address.
    "cat_history" -> { (s, d) =>
      val (cat, tbl) = tsLoggedOrders(s, d)
      cat.history(tbl)
    },

    // Streaming CDC apply (StreamOps.mergeStream — the Delta
    // merge-in-foreachBatch pattern): the upsert half of ls_merge_into's
    // change set drained from a file stream into a warehouse table, ONE
    // durable MERGE INTO commit per micro-batch, exactly-once via the
    // checkpoint. Keys are unique stream-wide, so the final table is the
    // same for ANY micro-batch split (StreamMergeSpec drives the
    // multi-batch path); per-batch cost ∝ |batch| — a continuous
    // deployment pays for its changes, never its table size.
    "stream_merge" -> { (s, d) =>
      val (cat, tbl) = mergeTargetOrders(s, d)
      def arm(where: Column => Column, proj: DataFrame => DataFrame) =
        proj(graft.streaming.StreamOps.fileSource(s, d, "orders")
          .where(where(col("o_orderkey"))))
      val changes = arm(_ % 10 === 0, _.select(
          col("o_orderkey").as("k"), col("o_custkey").as("custkey"),
          lit("M").as("status"),
          (col("o_totalprice") + lit(1000.0)).as("totalprice")))
        .unionByName(arm(_ % 1000 === 0, _.select(
          (col("o_orderkey") + 3000000L).as("k"),
          col("o_custkey").as("custkey"),
          lit("N").as("status"), col("o_totalprice").as("totalprice"))))
      graft.streaming.StreamOps.mergeStream(s, changes, cat, tbl,
        Seq("status", "totalprice"))
      cat.getTable(tbl).snapshot.where(col("k") % 20 === 0)
    },

    // Incrementally-maintained aggregate view (Catalog
    // .createMaterializedView / refreshMaterializedView): a per-status
    // count + exact-cents rollup of the warehouse orders table, advanced
    // after each commit with O(changed keys) work — changed keys from a
    // pushed-down _ver predicate on the tail, old/new state via
    // candidate-restricted windows, per-group adjustments MERGEd in one
    // atomic commit whose meta write also records the source version
    // (crash-safe, never double-applied). The oracle recomputes the
    // rollup from the final snapshot the expensive way: two incremental
    // refreshes must land bit-identical to a full recompute (exact long
    // arithmetic end to end).
    "cat_mview" -> { (s, d) =>
      val (cat, v) = mviewOrders(s, d)
      cat.getTable(v).snapshot
        .select(col("status"), col("n_rows"),
          (col("cents") / 100.0).as("total"))
    },

    // min/max materialized view (r10): the fixture's third commit deletes
    // every row above a price threshold — group maxima go away and those
    // groups re-aggregate through the group-restricted rescan; the floor
    // update moves minima the same way. Three differential refreshes must
    // land bit-identical to the oracle's sequential replay (exact cents
    // end to end; min/max are exact longs, /100.0 is one IEEE divide).
    "cat_mview_minmax" -> { (s, d) =>
      val (cat, v) = mviewMinmaxOrders(s, d)
      cat.getTable(v).snapshot
        .select(col("status"), col("n_rows"),
          (col("cents") / 100.0).as("total"),
          (col("minc_totalprice") / 100.0).as("lo"),
          (col("maxc_totalprice") / 100.0).as("hi"))
    },

    // min/max ROUTING through the SQL front door (r10): the dashboard
    // statement with min()/max()/HAVING-over-max serves from the
    // maintained extremum columns at |groups| cost — the fact is never
    // scanned. Same fixture as cat_mview_minmax; the oracle replays the
    // transcript and applies the HAVING declaratively (routed arithmetic
    // is the view's exact cents longs /100.0 — bit-identical).
    "q_mview_route_minmax" -> { (s, d) =>
      val (cat, _) = mviewMinmaxOrders(s, d)
      val g = new graft.sql.GraftSql(s)
        .register("orders_mm", cat, "orders_mm")
      g.sql("""SELECT status, count(*) AS n, sum(totalprice) AS total,
              |  min(totalprice) AS lo, max(totalprice) AS hi
              |FROM orders_mm GROUP BY status
              |HAVING max(totalprice) > 1000.0""".stripMargin)
    },

    // JOIN materialized view (r9): the star-schema rollup — orders ⋈
    // customer grouped by the DIM's segment, maintained under fact
    // changes at Δfact ⋈ dim cost (the dim side joins broadcast-slim:
    // key + group column only, never the wide row). A dim change takes
    // the documented full-recompute degradation — never a wrong delta —
    // and differential maintenance resumes against the re-recorded dim
    // vintage (JoinMviewSpec pins all three modes; the fixture
    // transcript exercises them end to end).
    "cat_mview_join" -> { (s, d) =>
      val (cat, v) = mviewJoinOrders(s, d)
      cat.getTable(v).snapshot
        .select(col("seg"), col("n_rows"),
          (col("cents") / 100.0).as("total"))
    },

    // CONTINUOUS incremental view maintenance (mergeStream + Catalog
    // .refreshMaterializedView): the stream_merge change set drained into
    // a warehouse table whose per-status rollup is refreshed after EVERY
    // micro-batch's commit — each refresh pays O(the batch's changed
    // keys), so a standing dashboard aggregate over a 100 TB ingest
    // stream costs the changes, never a recompute. The oracle rolls up
    // the fully-merged table directly: N incremental refreshes must land
    // bit-identical (exact long arithmetic end to end). A re-drain (the
    // bench's second run) re-lands identical values — every adjustment
    // nets zero and the view provably does not move.
    "stream_mview" -> { (s, d) =>
      val (cat, tbl, view) = mviewTargetOrders(s, d)
      def arm(where: Column => Column, proj: DataFrame => DataFrame) =
        proj(graft.streaming.StreamOps.fileSource(s, d, "orders")
          .where(where(col("o_orderkey"))))
      val changes = arm(_ % 10 === 0, _.select(
          col("o_orderkey").as("k"), col("o_custkey").as("custkey"),
          lit("M").as("status"),
          (col("o_totalprice") + lit(1000.0)).as("totalprice")))
        .unionByName(arm(_ % 1000 === 0, _.select(
          (col("o_orderkey") + 3000000L).as("k"),
          col("o_custkey").as("custkey"),
          lit("N").as("status"), col("o_totalprice").as("totalprice"))))
      graft.streaming.StreamOps.mergeStream(s, changes, cat, tbl,
        Seq("status", "totalprice"), refreshView = Some(view))
      cat.getTable(view).snapshot
        .select(col("status"), col("n_rows"),
          (col("cents") / 100.0).as("total"))
    },

    // Continuously-maintained STAR-SCHEMA rollup (r10): the change
    // stream merges into the FACT of a join materialized view, and each
    // micro-batch's refresh advances the view differentially at
    // Δfact ⋈ dim cost (the dim never moves, so the full-recompute
    // degradation never fires). The dashboard's segment rollup tracks a
    // live ingest stream without ever re-scanning or re-joining the
    // fact. Oracle = the direct join rollup of the fully-merged state.
    "stream_mview_join" -> { (s, d) =>
      val (cat, tbl, view) = mviewJoinTargetOrders(s, d)
      def arm(where: Column => Column, proj: DataFrame => DataFrame) =
        proj(graft.streaming.StreamOps.fileSource(s, d, "orders")
          .where(where(col("o_orderkey"))))
      val changes = arm(_ % 10 === 0, _.select(
          col("o_orderkey").as("k"), col("o_custkey").as("custkey"),
          lit("M").as("status"),
          (col("o_totalprice") + lit(1000.0)).as("totalprice")))
        .unionByName(arm(_ % 1000 === 0, _.select(
          (col("o_orderkey") + 3000000L).as("k"),
          col("o_custkey").as("custkey"),
          lit("N").as("status"), col("o_totalprice").as("totalprice"))))
      graft.streaming.StreamOps.mergeStream(s, changes, cat, tbl,
        Seq("status", "totalprice"), refreshView = Some(view))
      cat.getTable(view).snapshot
        .select(col("seg"), col("n_rows"),
          (col("cents") / 100.0).as("total"))
    },

    // Change-data-feed READ (StreamOps.changeFeed — the read half of the
    // CDC story; stream_merge is the write half, ls_diff the batch form):
    // the ts-logged warehouse table's tail streamed as change events —
    // one row per changed record per commit, op ∈ {upsert, delete},
    // commit_ver = the commit's _ver stamp. The tail IS the feed (every
    // commit appends exactly its change rows), so CDC-out costs no second
    // copy of the data and no write-path hook; the k%5 filter composes
    // into the incremental file scan (stateless — no state store, no
    // shuffle; per-batch cost ∝ commits drained, never table size).
    // StreamCdfSpec drives the incremental half: a checkpointed consumer
    // resumes after a new commit and receives ONLY the new changes.
    "stream_cdf" -> { (s, d) =>
      val (cat, tbl) = tsLoggedOrders(s, d)
      val feed = graft.streaming.StreamOps.changeFeed(s, cat, tbl)
        .where(col("k") % 5 === 0)
      graft.streaming.StreamOps.drainAppend(s, feed)
    },

    // startingTimestamp change-feed attach (r9): a consumer that knows
    // WHEN it last looked, not which version — the wall-clock instant
    // resolves through the commit log (Catalog.versionBefore, metadata
    // only) to the same pushed _ver floor startingVersion uses, so the
    // drain receives exactly the commits stamped after the instant
    // (here: everything past the first logged commit — the same event
    // set sql_changes reads, hence the same oracle).
    "stream_cdf_ts" -> { (s, d) =>
      val (cat, tbl) = tsLoggedOrders(s, d)
      val feed = graft.streaming.StreamOps.changeFeed(s, cat, tbl,
          startingTimestamp = Some(tsCommit1 + 1L))
        .where(col("k") % 5 === 0)
      graft.streaming.StreamOps.drainAppend(s, feed)
        .select(col("k"), col("custkey"), col("status"), col("totalprice"),
          col("commit_ver"), col("op"))
    },

    "ls_select_version_prev" -> { (s, d) =>
      ordersLineage(s, d).asOfRelative(-1).where(col("k").between(0L, 2000L))
    },

    // Batch CDC through SQL (the Delta table_changes shape): change
    // events of commits PAST version 1 — the tail rows of commit 2's
    // update and commit 3's delete, with the k%5 filter composing into
    // the pushed _ver range scan. Complements stream_cdf (the same
    // events as a stream) and ls_diff (net change, old/new per record);
    // a re-stamped range fails loud (GraftSqlSpec).
    "sql_changes" -> { (s, d) =>
      val (cat, tbl) = tsLoggedOrders(s, d)
      val g = new graft.sql.GraftSql(s).register(tbl, cat, tbl)
      g.sql(s"""SELECT k, custkey, status, totalprice, commit_ver, op
               |FROM table_changes('$tbl', 1) WHERE k % 5 = 0""".stripMargin)
    },

    // SQL time travel (GraftSql.resolveTimeTravel): VERSION AS OF and
    // TIMESTAMP AS OF as ANSI clauses over Spark's own parser — the
    // time-travel relation is spliced into the statement pre-analysis,
    // so versions compose freely (here a UNION of two points in time;
    // GraftSqlSpec joins two versions of one table). VERSION is the
    // absolute _ver clock (predicate pushed below the snapshot window);
    // TIMESTAMP resolves through the commit log, metadata-only — r9:
    // as a WALL-CLOCK string literal, parsed to UTC epoch millis
    // against the fixture's epoch-millis commit stamps (the instant
    // lands between the two commits → the t1 state).
    "sql_asof" -> { (s, d) =>
      val (cat, tbl) = tsLoggedOrders(s, d)
      val g = new graft.sql.GraftSql(s).register(tbl, cat, tbl)
      g.sql(s"""SELECT 'v0' AS asof, k, custkey, status, totalprice
               |FROM $tbl VERSION AS OF 0 WHERE k BETWEEN 0 AND 600
               |UNION ALL
               |SELECT 't1' AS asof, k, custkey, status, totalprice
               |FROM $tbl TIMESTAMP AS OF '2023-11-14 22:13:25'
               |WHERE k BETWEEN 0 AND 600""".stripMargin)
    },

    // AUTOMATIC QUERY REWRITE over the materialized view (GraftSql
    // .routeToView): the plain GROUP BY aggregate a dashboard would run
    // is answered by the CURRENT view — a group-cardinality-sized scan
    // (FLAT at any table size, §5k) instead of aggregating the table;
    // staleness gates the rewrite (same source op_seq + rewrite epoch),
    // so routed ≡ direct bit-for-bit and a lagging view silently takes
    // the direct path (GraftSqlSpec pins route, fallback, re-route).
    "q_mview_route" -> { (s, d) =>
      val (cat, view) = mviewOrders(s, d)
      val g = new graft.sql.GraftSql(s)
        .register("orders_mv", cat, "orders_mv")
        .register(view, cat, view)
      g.sql("""SELECT status, count(*) AS n_orders,
              |sum(totalprice) AS sum_price, avg(totalprice) AS avg_price
              |FROM orders_mv GROUP BY status""".stripMargin)
    },

    // COMPOSITE-group multi-measure incremental view (r9): the (status,
    // seg) rollup with TWO exact-cents measures, advanced by two
    // differential refreshes across group-migrating updates — must land
    // bit-identical to the oracle's direct two-column rollup. The _gkey
    // lineage key is internal; the read surfaces the group columns.
    "cat_mview_multi" -> { (s, d) =>
      val (cat, v) = mviewMultiOrders(s, d)
      cat.getTable(v).snapshot
        .select(col("status"), col("seg"), col("n_rows"),
          (col("cents_totalprice") / 100.0).as("total"),
          (col("cents_custval") / 100.0).as("cv"))
    },

    // Star-join query rewrite (r9, GraftSql.routeAggregate join shape):
    // `fact JOIN dim ON fk = key GROUP BY dim-attr` routes onto the
    // CURRENT join view — the dashboard reads |groups| maintained rows
    // and the fact table is never scanned, joined, or aggregated. Both
    // side orders and qualified equalities route; staleness on EITHER
    // side (fact or dim vintage) falls back to the always-correct
    // direct path (GraftSqlSpec pins all directions).
    "q_mview_route_join" -> { (s, d) =>
      val (cat, view) = mviewJoinOrders(s, d)
      val g = new graft.sql.GraftSql(s)
        .register("orders_jf", cat, "orders_jf")
        .register("cust_jd", cat, "cust_jd")
        .register(view, cat, view)
      g.sql("""SELECT seg, count(*) AS n_orders, sum(totalprice) AS sum_price
              |FROM orders_jf JOIN cust_jd ON custkey = ckey
              |GROUP BY seg""".stripMargin)
    },

    // Query rewrite WITH a routed filter (r9, GraftSql.routeToView): a
    // WHERE over the GROUP column removes whole groups — exactly
    // filtering the view's rows — so the filtered dashboard aggregate
    // still reads the group-cardinality-sized view, never the table.
    // Non-group-column predicates fall back to the direct path
    // (GraftSqlSpec pins both directions).
    "q_mview_route_filter" -> { (s, d) =>
      val (cat, view) = mviewOrders(s, d)
      val g = new graft.sql.GraftSql(s)
        .register("orders_mv", cat, "orders_mv")
        .register(view, cat, view)
      g.sql("""SELECT status, count(*) AS n_orders,
              |sum(totalprice) AS sum_price
              |FROM orders_mv WHERE status IN ('U1', 'U2', 'F')
              |GROUP BY status""".stripMargin)
    },

    // Query rewrite with a routed HAVING (r9, GraftSql.translateHaving):
    // the predicate's aggregates rewrite onto the view's maintained
    // columns (sum → cents arithmetic, count(*) → n_rows) and filter the
    // routed group-cardinality rows — the table is never aggregated.
    // Untranslatable predicates (min/max, non-group columns) silently
    // take the direct path (GraftSqlSpec pins both directions).
    "q_mview_route_having" -> { (s, d) =>
      val (cat, view) = mviewOrders(s, d)
      val g = new graft.sql.GraftSql(s)
        .register("orders_mv", cat, "orders_mv")
        .register(view, cat, view)
      g.sql("""SELECT status, count(*) AS n_orders,
              |sum(totalprice) AS sum_price
              |FROM orders_mv GROUP BY status
              |HAVING sum(totalprice) > 100000.0 AND count(*) > 10""".stripMargin)
    },

    // The full dashboard top-n on the routed path (r9,
    // GraftSql.routeToView Sort/Limit wrappers): WHERE + HAVING +
    // ORDER BY output alias + LIMIT all compose ONTO the
    // group-cardinality-sized view — the table is never aggregated,
    // never sorted. The sort runs over |groups| rows, so the routed
    // top-n is FLAT in table size like every routed read (§5k).
    "q_mview_route_topn" -> { (s, d) =>
      val (cat, view) = mviewOrders(s, d)
      val g = new graft.sql.GraftSql(s)
        .register("orders_mv", cat, "orders_mv")
        .register(view, cat, view)
      g.sql("""SELECT status, count(*) AS n_orders,
              |sum(totalprice) AS sum_price
              |FROM orders_mv
              |WHERE status IN ('U1', 'U2', 'F', 'O', 'P')
              |GROUP BY status HAVING count(*) > 5
              |ORDER BY sum_price DESC, status ASC LIMIT 3""".stripMargin)
    },

    // SQL-only table lifecycle (graft.sql.GraftSql CALL procedures —
    // Spark 4's stored-procedure syntax mapped onto the catalog's
    // maintenance ops): the standard transcript driven entirely as SQL —
    // UPDATE/DELETE DML interleaved with CALL graft.analyze / optimize
    // (history-preserving fold) / vacuum — then read back through the
    // registered view. Completes the SQL story: reads, writes, schema
    // (ALTER TABLE CONSTRAINT), maintenance; a SQL-only operator never
    // needs the Scala API. Maintenance never moves the snapshot, so the
    // oracle is the standard fixture's.
    "sql_call" -> { (s, d) =>
      sqlCallOrders(s, d)
        .sql("""SELECT k, custkey, status, totalprice FROM orders_call
                |WHERE k % 10 = 0""".stripMargin)
    },

    // HASH-SKIPPING index probe (Catalog.createBloomFilter): equality
    // probe on a column with NO sort order — the key holds the physical
    // layout, so min-max stats can't prune custkey; the parquet bloom
    // filters baked into every data file (and the dictionaries where
    // chunks stayed dict-encoded) let the reader skip row groups that
    // cannot contain the value, inside parquet-mr's row-group filter
    // with zero engine code. WindowProbeRule still shrinks the snapshot
    // window to candidate keys; the bloom shrinks the candidate SCAN.
    "idx_bloom" -> { (s, d) =>
      bloomOrders(s, d).snapshot
        .where(col("custkey") === 42L)
        .select(col("k"), col("custkey"), col("totalprice"))
    },

    // TEMPORAL JOIN: facts enriched with the dimension AS OF a past
    // version — the reproducible-pipeline read (re-running a report
    // against the dimension state a training run saw, regardless of what
    // has been committed since). Composition, not a new operator: the
    // versioned snapshot is one key-partitioned window, then an ordinary
    // equi-join + rollup that Catalyst plans like any other (the fact
    // filter pushes to its scan; the join shuffles on the key both sides
    // already hash by). ls_* versioned reads are single-table; this is
    // the cross-table form.
    "q_temporal_join" -> { (s, d) =>
      val dimAtV1 = ordersLineage(s, d).asOfRelative(-2)
      Tables(s, d, "lineitem")
        .where(col("l_orderkey") % 100 === 0)
        .join(dimAtV1, col("l_orderkey") === col("k"))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_items"),
          Exact.sumMoney(col("l_extendedprice")).as("sum_price"))
    },

    "ls_select_version_base" -> { (s, d) =>
      ordersLineage(s, d).asOfRelative(-5).where(col("k").between(0L, 2000L))
    },

    "ls_update" -> { (s, d) =>
      // Partial-update proof: status is 'U2' (v2) while totalprice still
      // reflects v1's +10.0 — untouched columns carried forward.
      ordersLineage(s, d).snapshot
        .where(col("k") % 9 === 0 && col("k") <= 3000L)
        .select(col("k"), col("status"), col("totalprice"))
    },

    "ls_restore" -> { (s, d) =>
      // Roll the table back one op AS A WRITE (core/LineageTable.restore):
      // the new snapshot equals version -1 (deleted keys resurrect, the
      // last update unwinds) while history is appended, not rewritten —
      // RestoreSpec pins the append-only/changed-keys-only semantics.
      ordersLineage(s, d).restore(-1).snapshot
        .where(col("k").between(500L, 5000L))
    },

    "ls_diff" -> { (s, d) =>
      // CDC read: everything that changed in the last two ops (v2's
      // partial updates surface as 'update' with the carried-forward
      // price visible on both sides; tombstoned keys as 'delete' with
      // their pre-delete state). One scan, one key shuffle, no self-join
      // (core/LineageTable.diffRelative); DiffSpec covers the 'insert'
      // arm the fixture's history can't produce.
      ordersLineage(s, d).diffRelative(-2)
        .where(col("k") <= 3000L)
    },

    "ls_delete" -> { (s, d) =>
      val lt = ordersLineage(s, d)
      baseOrders(s, d).select("k")
        .join(lt.snapshot.select("k"), Seq("k"), "left_anti")
    },

    // SQL front door; the aggregate is the SQL spelling of Exact.sumMoney
    // (cents-long sum, exact and associative — SURVEY §4). The divisor MUST
    // be the `100.0D` DOUBLE literal: a bare `100.0` parses as DECIMAL(4,1)
    // in Spark SQL (unlike the Scala-side lit(100.0)), making the output
    // column DECIMAL and hash-diverging from the oracle's DOUBLE — the one
    // red row in CORRECTNESS_r06.
    "ls_sum_range" -> { (s, d) =>
      s.sql(
        s"""SELECT SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) / 100.0D
           |  AS sum_price
           |FROM ${snapshotView(s, d)} WHERE k BETWEEN 0 AND 5000""".stripMargin)
    },

    "ls_sum_version" -> { (s, d) =>
      ordersLineage(s, d).keyRangeAsOf(0L, 5000L, -1)
        .agg(Exact.sumMoney(col("totalprice")).as("sum_price"))
    },

    "ls_avg_range" -> { (s, d) =>
      ordersLineage(s, d).keyRange(0L, 5000L)
        .agg(Exact.avgMoney(col("totalprice")).as("avg_price"))
    },

    "ls_min_max_range" -> { (s, d) =>
      ordersLineage(s, d).keyRange(0L, 5000L)
        .agg(min(col("totalprice")).as("min_price"),
             max(col("totalprice")).as("max_price"))
    },

    "ls_count_range" -> { (s, d) => // SQL front door (see ls_select_point)
      s.sql(s"SELECT COUNT(*) AS n FROM ${snapshotView(s, d)} " +
        "WHERE k BETWEEN 0 AND 5000")
    },

    "ls_increment" -> { (s, d) =>
      ordersLineage(s, d).increment(col("k") % 7 === 0, "custkey")
        .snapshot
        .where(col("k") % 7 === 0 && col("k") <= 2000L)
        .select(col("k"), col("custkey"), col("status"))
    },

    "ls_select_distinct" -> { (s, d) =>
      ordersLineage(s, d).snapshot
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), min(col("k")).as("first_k"))
    },

    "ls_order_by" -> { (s, d) => orderBySnapshot(s, d, ascending = false) },

    // reference Query.order_by(column_index, ascending=True) — the
    // parameterized direction (query.py:344); same plan, flipped sort.
    "ls_order_by_asc" -> { (s, d) => orderBySnapshot(s, d, ascending = true) },

    "ls_merge" -> { (s, d) =>
      // Compaction invariant: the merged base equals the live snapshot.
      ordersLineage(s, d).compact.snapshot.agg(
        count(lit(1)).as("n"),
        Exact.sumMoney(col("totalprice")).as("sum_price"),
        countDistinct(col("status")).as("n_status"))
    },

    "idx_locate" -> { (s, d) =>
      ordersLineage(s, d).snapshot
        .where(col("status") === "U2" && col("k") <= 1000L)
        .select(col("k"))
    },

    "idx_locate_range" -> { (s, d) =>
      ordersLineage(s, d).snapshot
        .where(col("totalprice").between(50000.0, 60000.0) && col("k") <= 3000L)
        .select(col("k"), col("totalprice"))
    },

    "idx_secondary" -> { (s, d) =>
      // Post-createIndex secondary range probe: same answer as a snapshot
      // filter, but the scan prunes on custkey min-max stats (PlanAuditSpec
      // pins the pushed filter + the indexed layout).
      indexedOrders(s, d).snapshot
        .where(col("custkey").between(100L, 120L))
        .select(col("k"), col("custkey"), col("status"), col("totalprice"))
    },

    "idx_zorder" -> { (s, d) =>
      // 2-d range probe over the Z-ordered layout: ONE layout answers
      // range predicates on custkey AND totalprice by min-max pruning
      // (each parquet file covers a bounded rectangle in that plane).
      // Results are layout-independent — the oracle is a plain filter;
      // LayoutSpec measures the actual row-group skipping.
      zorderedOrders(s, d)
        .where(col("custkey").between(10L, 60L) &&
               col("totalprice").between(50000.0, 200000.0))
        .select(col("k"), col("custkey"), col("status"), col("totalprice"))
    },

    "idx_zorder3" -> { (s, d) =>
      // 3-d range probe over the N-column Z-order (r10): the SAME single
      // layout also min-max-prunes on the THIRD column (k) — each parquet
      // file covers a bounded box in (custkey, totalprice, k) space.
      // Results are layout-independent (plain-filter oracle); LayoutSpec
      // measures the third column's row-group skipping.
      zordered3Orders(s, d)
        .where(col("custkey").between(10L, 60L) &&
               col("totalprice").between(50000.0, 200000.0) &&
               col("k") <= 300000L)
        .select(col("k"), col("custkey"), col("status"), col("totalprice"))
    },

    "idx_zorder_table" -> { (s, d) =>
      // DURABLE-table Z-order (r10, Catalog.zorderTable through CALL
      // graft.zorder — the OPTIMIZE ZORDER BY analog): the multi-column
      // clustering becomes table metadata applied by every base rewrite,
      // and a post-layout UPDATE commits normally (tail rides on top).
      // The 2-d probe row-group-prunes on both columns; results are
      // layout-independent (replay oracle).
      val (cat, t) = zorderTableFixture(s, d)
      cat.getTable(t).snapshot
        .where(col("custkey").between(10L, 60L) &&
               col("totalprice").between(50000.0, 200000.0))
        .select(col("k"), col("custkey"), col("status"), col("totalprice"))
    },

    "idx_zorder_part" -> { (s, d) =>
      // Z-order WITHIN partitions (r13): status directories prune at
      // planning (the SQL router substitutes the partitionSnapshot
      // scan), and inside the surviving directory every file covers a
      // bounded (custkey, totalprice) box, so the 2-d range probe
      // row-group-prunes too — BOTH pruning levels from one layout.
      // Results are layout-independent (replay oracle); PlanAuditSpec
      // pins both filters.
      val (cat, t) = zorderPartFixture(s, d)
      val g = new graft.sql.GraftSql(s).register("orders_zp", cat, t)
      g.sql("""SELECT k, custkey, status, totalprice FROM orders_zp
              |WHERE status = 'O' AND custkey BETWEEN 10 AND 60
              |  AND totalprice BETWEEN 50000.0 AND 200000.0""".stripMargin)
    },

    "src_csv" -> { (s, d) =>
      // CSV roundtrip (the reference's durability format): write the
      // orders projection as headered CSV, read it back with an explicit
      // schema, aggregate — values survive bit-exactly (shortest-repr
      // doubles), proving the source path end to end.
      val dir = csvCache.getOrElseUpdate(d,
        graft.sources.TextSources.scratchDir(s, "graft_csv_"))
      graft.sources.TextSources.csvRoundtrip(s, baseOrders(s, d), dir)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
             Exact.sumMoney(col("totalprice")).as("sum_price"))
    },

    "sql_describe" -> { (s, d) =>
      // SQL-only discoverability (r9): DESCRIBE a registered table
      // through the front door — column names, engine types, the
      // lineage key marked. SHOW TABLES IN graft is the sibling
      // (GraftSqlSpec drives both, plus the pass-through guards for
      // qualified namespaces). Metadata-only: no data file opens.
      val g = new graft.sql.GraftSql(s)
      g.register("orders_d", LineageTable.fromBase("k", baseOrders(s, d)))
      g.sql("DESCRIBE TABLE orders_d")
    },

    "src_orc" -> { (s, d) =>
      // ORC roundtrip (r9): the OTHER columnar interchange format a
      // lakehouse must read and write — same footer-stats pushdown and
      // column-pruning properties as the native parquet path, different
      // container. Values survive bit-exactly; the aggregate proves the
      // write→read path end to end against the parquet-sourced oracle.
      val dir = orcCache.getOrElseUpdate(d,
        graft.sources.TextSources.scratchDir(s, "graft_orc_"))
      graft.sources.TextSources.orcRoundtrip(s, baseOrders(s, d), dir)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
             Exact.sumMoney(col("totalprice")).as("sum_price"))
    },

    "ls_purge" -> { (s, d) =>
      // Right-to-be-forgotten: custkey 77's records are GONE — all
      // versions, not tombstoned (contrast ls_delete). Neighbors with
      // their full history survive untouched.
      ordersLineage(s, d).purge(col("custkey") === 77L)
        .snapshot
        .where(col("custkey").between(70L, 90L))
        .select(col("k"), col("custkey"), col("status"), col("totalprice"))
    },

    "ls_history" -> { (s, d) =>
      // The audit read a lineage store exists for: EVERY version of a key
      // range, newest first — ranks instead of raw _ver stamps (stamps
      // are an internal encoding; rank order is the portable contract).
      // Catalyst pushes the key predicate below the rank window (same
      // partition key) — down to the parquet scans on a warehouse-backed
      // table (here the memoized fixture is a checkpoint leaf).
      val w = Window.partitionBy(col("k")).orderBy(col("_ver").desc)
      ordersLineage(s, d).lineage
        .where(col("k").between(0L, 200L))
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .select(col("k"), col("rnk"), col("_del").cast("long").as("deleted"),
                col("status"), col("totalprice"))
    },

    "ls_vacuum" -> { (s, d) =>
      // Retention proof: after vacuum(keep=2) the snapshot is invariant
      // (newest rows survive) but deep version addressing clamps to the
      // oldest RETAINED version — base rows beyond the last two writes are
      // physically gone. This read differs from ls_select_version_base
      // exactly on the keys with 3+ versions.
      ordersLineage(s, d).vacuum(2).asOfRelative(-5)
        .where(col("k").between(0L, 2000L))
    },

    // TIME-BASED retention (r11, Catalog.vacuumOlderThan — the Delta
    // `VACUUM ... RETAIN` rule on wall-clock commits): three logged
    // commits at ts 1000/2000/3000, retention at 2500 resolves through
    // the commit log to the ts-2000 commit — every version superseded
    // at-or-before it is physically gone, the snapshot is invariant,
    // and deep version addressing clamps at the RETENTION-BOUND state
    // (the ts-2000 state), not base. Phase 'asof' differs from base
    // exactly by commits 1+2; a wrong bound shifts both phases.
    "ls_vacuum_time" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_vactime_")
      val cat = new Catalog(s, wh, autoCompact = false)
      cat.createTable("vt", "k", baseOrders(s, d))
      cat.commitAt("vt", graft.core.Txn.empty.update(col("k") % 3 === 0,
        Map("totalprice" -> (col("totalprice") + lit(10.0)))), 1000L)
      cat.commitAt("vt", graft.core.Txn.empty.update(col("k") % 5 === 0,
        Map("totalprice" -> (col("totalprice") + lit(100.0)))), 2000L)
      cat.commitAt("vt", graft.core.Txn.empty
        .delete(col("k") % 7 === 0), 3000L)
      cat.vacuumOlderThan("vt", 2500L)
      val t = cat.getTable("vt")
      def agg(df: DataFrame, phase: String): DataFrame =
        df.agg(count(lit(1)).as("n"),
            sum(expr("CAST(ROUND(totalprice * 100) AS BIGINT)")).as("cents"))
          .select(lit(phase).as("phase"), col("n"), col("cents"))
      agg(t.snapshot, "snap").unionByName(agg(t.asOfRelative(-9), "asof"))
    },

    // ALTER COLUMN TYPE widening end to end (r11, Catalog.widenColumn —
    // the remaining Delta column-mapping member after ADD/DROP/RENAME):
    // an int/float table takes a pre-widen commit (narrow tail files),
    // widens qty→bigint and price→double METADATA-ONLY, then a
    // post-widen commit pushes qty past int range — the SAME tail now
    // mixes int32 and int64 files for one column, read back as one
    // frame (the declared-schema read promotes per file). The
    // oracle replays with the same narrow→wide casts; values past 2^31
    // prove the widening is real, not a display cast.
    "ls_evolve_widen" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_widen_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val base = baseOrders(s, d).select(col("k"), col("custkey"),
        (col("custkey") % 1000).cast("int").as("qty"),
        col("totalprice").cast("float").as("price"))
      cat.createTable("wt", "k", base)
      cat.commit("wt", graft.core.Txn.empty.update(col("k") % 3 === 0,
        Map("qty" -> (col("qty") + lit(1)),
            "price" -> (col("price") + lit(0.5f)))))
      cat.widenColumn("wt", "qty", "bigint")
      cat.widenColumn("wt", "price", "double")
      cat.commit("wt", graft.core.Txn.empty.update(col("k") % 5 === 0,
        Map("qty" -> (col("qty") + lit(4000000000L)))))
      cat.getTable("wt").snapshot
        .groupBy((col("custkey") % 7).as("g"))
        .agg(sum(col("qty")).as("qty_sum"),
          sum(expr("CAST(ROUND(price * 100) AS BIGINT)")).as("cents"),
          count(lit(1)).as("n"))
    },

    "ls_evolve" -> { (s, d) =>
      // ADD COLUMN end to end: updated rows carry their set value, every
      // pre-evolve row (and version) reads null — read through a tail
      // that MIXES pre- and post-evolve files (see evolvedOrders).
      evolvedOrders(s, d).snapshot.where(col("k") <= 2000L)
    },

    // DROP + RENAME COLUMN lifecycle (Catalog.dropColumn/renameColumn —
    // metadata-only column mapping, the Delta shape): reads alias
    // physical→logical, writes map back, dropped physical names retire.
    // The read must show the renamed column serving pre-rename files'
    // values, the post-rename write landed, and the dropped column gone.
    "ls_evolve_drop" -> { (s, d) =>
      evolveDropOrders(s, d).snapshot.where(col("k") <= 2000L)
    },

    "txn_batch" -> { (s, d) =>
      val base = baseOrders(s, d)
      val insertRows = base.where(col("k") % 400 === 0).select(
        (col("k") + 2000000L).as("k"), col("custkey"),
        lit("T").as("status"), col("totalprice"))
      val txn = Txn.empty
        .insert(insertRows)
        .update(col("k") % 5 === 0,
          Map("totalprice" -> (col("totalprice") + lit(5.0))))
        .delete(col("k") % 13 === 0)
      txn.commit(ordersLineage(s, d))
        .snapshot.where(col("k") % 100 === 0)
    },

    // Cross-table ATOMIC transaction (Catalog.commitMulti): one staged
    // write-ahead commit mutates an orders lineage AND a documents
    // lineage — both-or-neither under any crash (MultiTxnSpec drives
    // every failpoint; recovery is the single atomic `_txn/<id>.json`
    // create). The read is one aggregate per table, unioned — the oracle
    // reproduces both end states from the raw parquet, so a half-applied
    // transaction could never hash-match.
    "txn_multi" -> { (s, d) =>
      val cat = multiTxnTables(s, d)
      val orders = cat.getTable("orders_mt").snapshot
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
             Exact.sumMoney(col("totalprice")).as("val"))
        .select(lit("orders").as("tbl"), col("status").as("grp"),
                col("n"), col("val"))
      val docs = cat.getTable("docs_mt").snapshot
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
             sum(col("n_chars")).cast("double").as("val"))
        .select(lit("docs").as("tbl"), col("lang").as("grp"),
                col("n"), col("val"))
      orders.unionByName(docs)
    },

    // SQL multi-statement TRANSACTIONS (GraftSql BEGIN..COMMIT →
    // Catalog.commitMulti): the txn_multi cross-table transcript as four
    // ANSI DML statements inside one BEGIN..COMMIT — accumulated per
    // table (two statements compose on orders_sx), staged, and landed
    // from ONE atomic commit point; a preceding transaction ROLLS BACK
    // leaving zero trace. Same two-branch read as txn_multi: a
    // half-applied or rollback-leaking state can never hash-match.
    "sql_txn" -> { (s, d) =>
      val cat = sqlTxnTables(s, d)
      val orders = cat.getTable("orders_sx").snapshot
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
             Exact.sumMoney(col("totalprice")).as("val"))
        .select(lit("orders").as("tbl"), col("status").as("grp"),
                col("n"), col("val"))
      val docs = cat.getTable("docs_sx").snapshot
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
             sum(col("n_chars")).cast("double").as("val"))
        .select(lit("docs").as("tbl"), col("lang").as("grp"),
                col("n"), col("val"))
      orders.unionByName(docs)
    },

    // READ-YOUR-OWN-WRITES inside BEGIN..COMMIT (r10, GraftSql.stash):
    // the reference's Transaction.run executes each op immediately
    // (transaction.py:26), so a later query in the same transaction sees
    // earlier writes. graft stages everything for the atomic commit but
    // re-registers each touched table's view as the pre-transaction
    // snapshot + staged ops applied IN MEMORY. This transcript is
    // RYOW-sensitive three ways: the mid-transaction SELECT aggregates
    // rows only the staged UPDATE created ('RW' status — under r9's
    // snapshot isolation it returned zero such rows), the INSERT..SELECT
    // copies those same staged rows, and the DELETE prunes by the staged
    // status. The oracle replays the statements sequentially in SQL.
    // The mid-transaction frame is analyzed (and its file listing
    // pinned) before COMMIT, so evaluating it later still reads the
    // pre-commit snapshot + in-memory ops — both phases return together.
    "sql_txn_ryow" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_ryow_")
      val cat = new Catalog(s, wh, autoCompact = false)
      cat.createTable("ord_ry", "k", baseOrders(s, d))
      val g = new graft.sql.GraftSql(s).register("ord_ry", cat, "ord_ry")
      g.sql("BEGIN")
      g.sql("""UPDATE ord_ry SET totalprice = totalprice + 5.0,
              |status = 'RW' WHERE k % 4 = 0""".stripMargin)
      val mid = g.sql(
        """SELECT 'mid' AS phase, status, count(*) AS n,
          |  CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS val
          |FROM ord_ry WHERE status = 'RW' GROUP BY 1, 2""".stripMargin)
      g.sql("""INSERT INTO ord_ry SELECT k + 9000000, custkey, 'CP',
              |totalprice FROM ord_ry WHERE status = 'RW'""".stripMargin)
      g.sql("DELETE FROM ord_ry WHERE status = 'RW' AND k % 8 = 0")
      g.sql("COMMIT")
      val fin = g.sql(
        """SELECT 'final' AS phase, status, count(*) AS n,
          |  CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS val
          |FROM ord_ry GROUP BY 1, 2""".stripMargin)
      mid.unionByName(fin)
    },

    // CROSS-CATALOG transaction (r12, Catalog.commitAcross — commitMulti
    // lifted to N warehouses behind ONE commit point): the SQL
    // transcript touches a table in catalog A (orders) and a table in
    // catalog B (documents) inside one BEGIN..COMMIT; the INSERT..SELECT
    // reads its own staged DELETE (RYOW across the catalog boundary);
    // COMMIT stages both catalogs' deltas, writes per-participant part
    // records, then the one decision-file create at the coordinator
    // makes both visible — both-or-neither under any crash (MultiTxnSpec
    // drives every window). The oracle replays sequentially.
    "sql_txn_cross" -> { (s, d) =>
      val whA = graft.sources.TextSources.scratchDir(s, "graft_gxq_a_")
      val whB = graft.sources.TextSources.scratchDir(s, "graft_gxq_b_")
      val ca = new Catalog(s, whA, autoCompact = false)
      val cb = new Catalog(s, whB, autoCompact = false)
      ca.createTable("ord_gx", "k", baseOrders(s, d))
      cb.createTable("docs_gx", "k", Tables(s, d, "documents").select(
        col("doc_id").as("k"), col("lang"), col("n_chars")))
      val g = new graft.sql.GraftSql(s)
        .register("ord_gx", ca, "ord_gx")
        .register("docs_gx", cb, "docs_gx")
      g.sql("BEGIN")
      g.sql("""UPDATE ord_gx SET totalprice = totalprice + 7.0,
              |status = 'GX' WHERE k % 5 = 0""".stripMargin)
      g.sql("DELETE FROM docs_gx WHERE lang = 'de'")
      g.sql("""INSERT INTO docs_gx SELECT k + 20000000, 'gx', n_chars
              |FROM docs_gx WHERE lang = 'en'""".stripMargin)
      g.sql("DELETE FROM ord_gx WHERE k % 35 = 0")
      g.sql("COMMIT")
      val o = ca.getTable("ord_gx").snapshot
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"),
             graft.functions.Exact.sumMoney(col("totalprice")).as("val"))
        .select(lit("orders").as("tbl"), col("status").as("grp"),
                col("n"), col("val"))
      val dd = cb.getTable("docs_gx").snapshot
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
             sum(col("n_chars")).cast("double").as("val"))
        .select(lit("docs").as("tbl"), col("lang").as("grp"),
                col("n"), col("val"))
      o.unionByName(dd)
    },

    // The full SQL WRITE surface in one flow (graft.sql.GraftSql):
    // UPDATE, DELETE, then an INSERT ... SELECT that reads the table's
    // own refreshed snapshot view MID-TRANSCRIPT — three ANSI statements
    // parsed by Spark's parser, each one engine op, one _ver apiece.
    // The reference's write API (query.py:57,131,27) as SQL strings.
    // SQL CREATE TABLE lifecycle (r9, GraftSql CREATE TABLE/CTAS —
    // `USING graft` is the explicit provider opt-in): an empty keyed
    // table filled by INSERT..SELECT, a CTAS straight off a session
    // view, DML against both, one aggregate over the result. With the
    // attach()ed catalog both tables are durable versioned tables —
    // the whole transcript is SQL, no Scala createTable anywhere.
    "sql_create" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_sqlcreate_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val g = new graft.sql.GraftSql(s).attach(cat)
      baseOrders(s, d).createOrReplaceTempView("sqlcreate_src")
      g.sql("""CREATE TABLE sqlc_small (k BIGINT, custkey BIGINT,
              |status STRING, totalprice DOUBLE) USING graft
              |OPTIONS ('key' = 'k')""".stripMargin)
      g.sql("""INSERT INTO sqlc_small SELECT k, custkey, status, totalprice
              |FROM sqlcreate_src WHERE k % 7 = 0""".stripMargin)
      g.sql("""CREATE TABLE sqlc_big USING graft OPTIONS ('key' = 'k')
              |AS SELECT k, custkey, status, totalprice FROM sqlcreate_src
              |WHERE totalprice > 150000.0""".stripMargin)
      g.sql("UPDATE sqlc_big SET status = 'X' WHERE k % 2 = 0")
      g.sql("""SELECT 'small' AS src, status, count(*) AS n,
              |       CAST(sum(custkey) AS BIGINT) AS ck
              |FROM sqlc_small GROUP BY status
              |UNION ALL
              |SELECT 'big' AS src, status, count(*) AS n,
              |       CAST(sum(custkey) AS BIGINT) AS ck
              |FROM sqlc_big GROUP BY status""".stripMargin)
    },

    // PARTITION COLUMNS end to end (r11, Catalog partitionBy + GraftSql
    // PARTITIONED BY / INSERT ... PARTITION): the most common lakehouse
    // layout — CREATE TABLE PARTITIONED BY (status), a bulk load, a
    // partition-scoped OVERWRITE (tombstone ONE partition + refill, one
    // atomic commit, old state still time-travelable), and a
    // static-partition append. The base lays out as one directory per
    // status value and every rewrite re-applies the layout.
    "sql_partition" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_sqlpart_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val g = new graft.sql.GraftSql(s).attach(cat)
      baseOrders(s, d).createOrReplaceTempView("sqlpart_src")
      g.sql("""CREATE TABLE part_t (k BIGINT, custkey BIGINT,
              |status STRING, totalprice DOUBLE) USING graft
              |OPTIONS ('key' = 'k') PARTITIONED BY (status)""".stripMargin)
      g.sql("""INSERT INTO part_t SELECT k, custkey, status, totalprice
              |FROM sqlpart_src""".stripMargin)
      g.sql("""INSERT OVERWRITE part_t PARTITION (status = 'F')
              |SELECT k, custkey, totalprice + 1.0 FROM sqlpart_src
              |WHERE status = 'F' AND k % 2 = 0""".stripMargin)
      g.sql("""INSERT INTO part_t PARTITION (status = 'Z')
              |SELECT k + 9000000, custkey, totalprice FROM sqlpart_src
              |WHERE k % 100 = 0""".stripMargin)
      g.sql("""SELECT status, count(*) AS n,
              |  SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS cents
              |FROM part_t GROUP BY status""".stripMargin)
    },

    // DYNAMIC partition overwrite (r11, GraftSql.runInsert under
    // spark.sql.sources.partitionOverwriteMode=dynamic — Spark's own
    // conf and contract): INSERT OVERWRITE with NO partition clause
    // replaces exactly the partitions the incoming rows touch ('F' and
    // 'O' here), leaves 'P' untouched, lands as ONE atomic versioned
    // commit — and the pre-overwrite state stays time-travelable
    // (VERSION AS OF proves both vintages). Static mode (the default)
    // keeps ANSI truncate-all; the conf is restored either way.
    "sql_partition_dynamic" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_sqlpdyn_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val g = new graft.sql.GraftSql(s).attach(cat)
      baseOrders(s, d).createOrReplaceTempView("sqlpdyn_src")
      g.sql("""CREATE TABLE pdyn_t (k BIGINT, custkey BIGINT,
              |status STRING, totalprice DOUBLE) USING graft
              |OPTIONS ('key' = 'k') PARTITIONED BY (status)""".stripMargin)
      g.sql("""INSERT INTO pdyn_t SELECT k, custkey, status, totalprice
              |FROM sqlpdyn_src""".stripMargin)
      val prev = s.conf.get("spark.sql.sources.partitionOverwriteMode",
        "static")
      try {
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        g.sql("""INSERT OVERWRITE pdyn_t
                |SELECT k, custkey, status, totalprice * 2.0
                |FROM sqlpdyn_src
                |WHERE status IN ('F', 'O') AND k % 3 = 0""".stripMargin)
      } finally
        s.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
      g.sql("""SELECT 'now' AS phase, status, count(*) AS n,
              |  SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS cents
              |FROM pdyn_t GROUP BY status
              |UNION ALL
              |SELECT 'was', status, count(*),
              |  SUM(CAST(ROUND(totalprice * 100) AS BIGINT))
              |FROM pdyn_t VERSION AS OF 1 GROUP BY status""".stripMargin)
    },

    // MULTI-COLUMN partitioning (r12, GraftSql PARTITIONED BY (a, b) +
    // Catalog partCols): one nested directory level per column
    // (_pd0=/_pd1=), a static PARTITION clause may pin the full tuple
    // (one leaf directory) or any prefix (a whole subtree), and reads
    // prune on any subset of the columns. The layouts after the two
    // scoped overwrites are verified by the final full-table rollup.
    "sql_partition_multi" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_sqlpmulti_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val g = new graft.sql.GraftSql(s).attach(cat)
      baseOrders(s, d).createOrReplaceTempView("sqlpmulti_src")
      g.sql("""CREATE TABLE pm2 (k BIGINT, grp BIGINT,
              |status STRING, totalprice DOUBLE) USING graft
              |OPTIONS ('key' = 'k') PARTITIONED BY (status, grp)""".stripMargin)
      g.sql("""INSERT INTO pm2 SELECT k, custkey % 3, status, totalprice
              |FROM sqlpmulti_src""".stripMargin)
      // full-tuple overwrite: exactly the (F, 1) leaf directory
      g.sql("""INSERT OVERWRITE pm2 PARTITION (status = 'F', grp = 1)
              |SELECT k, totalprice + 1.0 FROM sqlpmulti_src
              |WHERE status = 'F' AND custkey % 3 = 1 AND k % 2 = 0""".stripMargin)
      // prefix overwrite: the whole status='O' subtree, rows carry grp
      g.sql("""INSERT OVERWRITE pm2 PARTITION (status = 'O')
              |SELECT k, custkey % 3, totalprice FROM sqlpmulti_src
              |WHERE status = 'O' AND k % 5 = 0""".stripMargin)
      g.sql("""SELECT status, grp, count(*) AS n,
              |  SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS cents
              |FROM pm2 GROUP BY status, grp""".stripMargin)
    },

    // BUCKET transform partitioning (r12, PARTITIONED BY (bucket(8, c))
    // + Catalog partFuncs "bucket_N" — the Iceberg bucket shape over the
    // engine's portable md5 hash family): a high-cardinality dimension
    // lays out as exactly N directories (identity partitioning would
    // write one per value — a layout catastrophe past ~10^4 values), a
    // point probe `WHERE custkey = 7` routes to the literal's ONE
    // hashed directory (GraftSql hashes the literal with the writer's
    // formula; the re-applied equality drops co-bucketed keys), and the
    // per-key immutability guard compares DERIVED bucket values — an
    // update may drift the column within its bucket, never across. The
    // 'hist' branch replays the bucket formula declaratively over the
    // full table: buckets must agree with the oracle bit-for-bit.
    "sql_partition_bucket" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_sqlpbkt_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val g = new graft.sql.GraftSql(s).attach(cat)
      baseOrders(s, d).createOrReplaceTempView("sqlpbkt_src")
      g.sql("""CREATE TABLE pbk (k BIGINT, custkey BIGINT, status STRING,
              |totalprice DOUBLE) USING graft OPTIONS ('key' = 'k')
              |PARTITIONED BY (bucket(8, custkey))""".stripMargin)
      g.sql("""INSERT INTO pbk SELECT k, custkey, status, totalprice
              |FROM sqlpbkt_src""".stripMargin)
      g.sql("UPDATE pbk SET totalprice = totalprice + 1.0 WHERE k % 10 = 0")
      g.sql("DELETE FROM pbk WHERE k % 97 = 0")
      g.sql("""SELECT 'probe' AS phase, custkey AS gv, count(*) AS n,
              |  SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS cents
              |FROM pbk WHERE custkey = 7 GROUP BY custkey
              |UNION ALL
              |SELECT 'hist',
              |  CAST(conv(substring(md5(CAST(custkey AS STRING)), 1, 8),
              |            16, 10) AS BIGINT) % 8,
              |  count(*), SUM(CAST(ROUND(totalprice * 100) AS BIGINT))
              |FROM pbk GROUP BY 2""".stripMargin)
    },

    // TRANSFORM partitioning + time-slice pruning (r12,
    // createTable(partitionFuncs = days) + Catalog.timeSliceSnapshot —
    // the Iceberg days(ts) shape): the event table lays out one
    // directory per epoch day (integer div over the canonical nanos
    // BIGINT — no double rounding near midnight), and a 5-day slice
    // read prunes to 5 day directories BELOW the snapshot window (the
    // planning-time filter parses the day back out of the directory
    // string), with the exact nanos predicate re-applied above. The
    // raw ts column keeps its exact type in the files; a key's ts is
    // write-guarded immutable so every version of every in-slice key
    // lives inside the pruned set.
    "q_partition_time" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_ptime_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val ev = Tables(s, d, "events").select(col("event_id").as("k"),
        col("ts"), col("event_type"), col("value"))
      cat.createTable("evt", "k", ev,
        partitionBy = Seq("ts"), partitionFuncs = Seq("days"))
      cat.commit("evt", graft.core.Txn.empty
        .update(col("k") % 7 === 0,
          Map("value" -> (col("value") + lit(1.0)))))
      val day0 = 1704067200000000000L // 2024-01-01, the fixture's epoch
      val dayNs = 86400000000000L
      cat.timeSliceSnapshot("evt", day0 + 5 * dayNs, day0 + 10 * dayNs)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             graft.functions.Exact.sumMoney(col("value")).as("sum_value"))
    },

    // The SQL spelling of the pruned time slice (r12, GraftSql
    // .routeToPartition range extension): a bounded `ts >= lo AND
    // ts < hi` over a registered days(ts)-partitioned table substitutes
    // Catalog.timeSliceSnapshot — SQL users get day-directory pruning
    // without knowing the API exists; every conjunct stays applied
    // above the substituted scan. Equalities route as one-ns slices;
    // half-open ranges read plain (nothing to prune to).
    "q_partition_time_route" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_ptroute_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val ev = Tables(s, d, "events").select(col("event_id").as("k"),
        col("ts"), col("event_type"), col("value"))
      cat.createTable("evr", "k", ev,
        partitionBy = Seq("ts"), partitionFuncs = Seq("days"))
      cat.commit("evr", graft.core.Txn.empty
        .delete(col("k") % 11 === 0))
      val g = new graft.sql.GraftSql(s).register("evr", cat, "evr")
      val day0 = 1704067200000000000L
      val dayNs = 86400000000000L
      g.sql(s"""SELECT event_type, count(*) AS n,
              |  SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
              |FROM evr
              |WHERE ts >= ${day0 + 12 * dayNs} AND ts < ${day0 + 15 * dayNs}
              |  AND k % 2 = 0
              |GROUP BY event_type""".stripMargin)
    },

    // Directory-pruned partition probe (r11, Catalog.partitionSnapshot):
    // the partition restriction lands BELOW the snapshot window — the
    // base scan plans only `_pd=pO/` (PartitionFilters, whole files
    // skipped), the flat tail gets the same predicate pushed to row
    // groups, and only then does the per-key window reconstruct
    // versions (sound: a key's partition value is write-guarded
    // immutable). PlanAuditSpec pins the pruned file count.
    "q_partition_prune" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_partprune_")
      val cat = new Catalog(s, wh, autoCompact = false)
      cat.createTable("po", "k", baseOrders(s, d),
        partitionBy = Some("status"))
      cat.commit("po", graft.core.Txn.empty
        .update(col("k") % 10 === 0,
          Map("totalprice" -> (col("totalprice") + lit(2.0)))))
      cat.commit("po", graft.core.Txn.empty.delete(col("k") % 1000 === 0))
      cat.partitionSnapshot("po", "O")
        .groupBy((col("custkey") % 10).as("g"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(ROUND(totalprice * 100) AS BIGINT)")).as("cents"))
    },

    // The SQL spelling of the pruned partition probe (r11, GraftSql
    // .routeToPartition): `WHERE status = 'O'` over a registered
    // partitioned table substitutes the directory-pruned scan — SQL
    // users get partition pruning without knowing the API exists; the
    // remaining conjuncts stay applied above the substituted scan.
    "q_partition_route" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_partroute_")
      val cat = new Catalog(s, wh, autoCompact = false)
      cat.createTable("pr", "k", baseOrders(s, d),
        partitionBy = Some("status"))
      cat.commit("pr", graft.core.Txn.empty
        .update(col("k") % 9 === 0,
          Map("totalprice" -> (col("totalprice") + lit(3.0)))))
      val g = new graft.sql.GraftSql(s).register("pr", cat, "pr")
      g.sql("""SELECT custkey % 5 AS g, count(*) AS n,
              |  SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS cents
              |FROM pr WHERE status = 'O' AND k % 2 = 1
              |GROUP BY custkey % 5""".stripMargin)
    },

    // IN-LIST partition routing (r13, GraftSql.routeToPartition In arm +
    // Catalog.partitionSnapshotIn): `WHERE c IN (...)` over a registered
    // partitioned table prunes to exactly the named directory SET — on
    // an identity level the literals key the directories; on a bucket
    // level each literal hashes to its directory (duplicates collapse:
    // the probe lists 7 twice) and the re-applied IN drops co-bucketed
    // keys. The type gate is all-or-nothing: one coercible member and
    // the whole level reads plain. PlanAuditSpec pins the file counts.
    "q_partition_in" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_partin_")
      val cat = new Catalog(s, wh, autoCompact = false)
      cat.createTable("pid", "k", baseOrders(s, d),
        partitionBy = Some("status"))
      cat.commit("pid", graft.core.Txn.empty
        .update(col("k") % 8 === 0,
          Map("totalprice" -> (col("totalprice") + lit(2.0)))))
      cat.createTable("pib", "k", baseOrders(s, d),
        partitionBy = Seq("custkey"), partitionFuncs = Seq("bucket_8"))
      cat.commit("pib", graft.core.Txn.empty.delete(col("k") % 13 === 0))
      val g = new graft.sql.GraftSql(s)
        .register("pid", cat, "pid").register("pib", cat, "pib")
      g.sql("""SELECT 'id' AS phase, status AS gv, count(*) AS n,
              |  SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS cents
              |FROM pid WHERE status IN ('F', 'P') AND k % 3 = 0
              |GROUP BY status
              |UNION ALL
              |SELECT 'bkt', CAST(custkey AS STRING), count(*),
              |  SUM(CAST(ROUND(totalprice * 100) AS BIGINT))
              |FROM pib WHERE custkey IN (7, 11, 7) GROUP BY custkey""".stripMargin)
    },

    // TIMESTAMP-literal spelling of the routed time slice (r13,
    // GraftSql.rebaseTsLiterals): bounds written as TIMESTAMP '...' or
    // a wall-clock string rewrite to the canonical nanos BIGINT (the
    // sql_asof micros→nanos / UTC-instant conventions) BEFORE slice
    // extraction, so they route to the same pruned day directories as
    // the integral spelling — and the re-applied Filter compares
    // BIGINT to BIGINT (the raw TIMESTAMP comparison would not even
    // analyze against the nanos column).
    "q_partition_time_route_ts" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_ptrts_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val ev = Tables(s, d, "events").select(col("event_id").as("k"),
        col("ts"), col("event_type"), col("value"))
      cat.createTable("evts", "k", ev,
        partitionBy = Seq("ts"), partitionFuncs = Seq("days"))
      cat.commit("evts", graft.core.Txn.empty
        .delete(col("k") % 11 === 0))
      val g = new graft.sql.GraftSql(s).register("evts", cat, "evts")
      g.sql("""SELECT event_type, count(*) AS n,
              |  SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
              |FROM evts
              |WHERE ts >= TIMESTAMP '2024-01-13 00:00:00'
              |  AND ts < '2024-01-16'
              |  AND k % 2 = 0
              |GROUP BY event_type""".stripMargin)
    },

    // ALTER TABLE RENAME TO end to end (r9, Catalog.renameTable): a
    // durable table accumulates history, is renamed — ONE atomic
    // directory rename, zero data I/O at any table size (every
    // artifact lives under the table dir by construction) — and then
    // serves BOTH a current read and a versioned read through the new
    // name: the rename moved the identity, not a copy of the data.
    "sql_rename" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_sqlrename_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val g = new graft.sql.GraftSql(s).attach(cat)
      baseOrders(s, d).createOrReplaceTempView("sqlren_src")
      g.sql("""CREATE TABLE sqlr_t USING graft OPTIONS ('key' = 'k')
              |AS SELECT k, custkey, status, totalprice FROM sqlren_src
              |WHERE k % 5 = 0""".stripMargin)
      g.sql("UPDATE sqlr_t SET status = 'R' WHERE k % 10 = 0")
      g.sql("ALTER TABLE sqlr_t RENAME TO sqlr_renamed")
      g.sql("""SELECT 'now' AS vintage, status, count(*) AS n,
              |       CAST(sum(custkey) AS BIGINT) AS ck
              |FROM sqlr_renamed GROUP BY status
              |UNION ALL
              |SELECT 'v0' AS vintage, status, count(*) AS n,
              |       CAST(sum(custkey) AS BIGINT) AS ck
              |FROM sqlr_renamed VERSION AS OF 0 GROUP BY status""".stripMargin)
    },

    // INSERT OVERWRITE end to end (r9): delete-all + insert as ONE
    // atomic commit (one `_ver`) — readers see old or new contents,
    // never a truncated middle, and because the table is versioned the
    // overwritten state stays time-travelable: the query reads the
    // post-overwrite contents AND the pre-overwrite CTAS state through
    // VERSION AS OF. The lakehouse "replace the partition/table" op
    // without losing history.
    "sql_overwrite" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_sqlow_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val g = new graft.sql.GraftSql(s).attach(cat)
      baseOrders(s, d).createOrReplaceTempView("sqlow_src")
      g.sql("""CREATE TABLE sqlo_t USING graft OPTIONS ('key' = 'k')
              |AS SELECT k, custkey, status, totalprice FROM sqlow_src
              |WHERE k % 4 = 0""".stripMargin)
      g.sql("""INSERT OVERWRITE TABLE sqlo_t
              |SELECT k, custkey, status, totalprice FROM sqlow_src
              |WHERE k % 5 = 0""".stripMargin)
      g.sql("""SELECT 'now' AS vintage, count(*) AS n,
              |       CAST(sum(k) AS BIGINT) AS sk FROM sqlo_t
              |UNION ALL
              |SELECT 'v0' AS vintage, count(*) AS n,
              |       CAST(sum(k) AS BIGINT) AS sk
              |FROM sqlo_t VERSION AS OF 0""".stripMargin)
    },

    // DURABLE SQL VIEWS end to end (r9, Catalog.createView + GraftSql
    // CreateView/DropView/expandDurableViews): CREATE VIEW stores the
    // SQL TEXT in the warehouse — never a plan, never a materialization
    // — so (a) DML issued AFTER view creation is visible through the
    // view (text re-parses at every read; an analyzed-plan temp view
    // would have frozen the old snapshot), (b) views stack (the rollup
    // view reads the filter view reads the table — recursive expansion
    // behind a cycle guard), and (c) a FRESH session over the same
    // warehouse reads the view with zero re-declaration. Expansion is
    // driver-side plan surgery; the executed plan is identical to
    // writing the view text inline — no second execution path.
    "sql_view" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_sqlview_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val g = new graft.sql.GraftSql(s).attach(cat)
      baseOrders(s, d).createOrReplaceTempView("sqlview_src")
      g.sql("""CREATE TABLE sqlv_t USING graft OPTIONS ('key' = 'k')
              |AS SELECT k, custkey, status, totalprice FROM sqlview_src
              |WHERE k % 3 = 0""".stripMargin)
      g.sql("""CREATE VIEW sqlv_big AS
              |SELECT k, custkey, status, totalprice FROM sqlv_t
              |WHERE totalprice > 100000.0""".stripMargin)
      g.sql("""CREATE VIEW sqlv_roll AS
              |SELECT status, count(*) AS n,
              |       CAST(sum(custkey) AS BIGINT) AS ck
              |FROM sqlv_big GROUP BY status""".stripMargin)
      // DML after creation: the views must track it
      g.sql("UPDATE sqlv_t SET status = 'V' WHERE k % 6 = 0")
      // a fresh catalog handle + fresh front door (a new session over
      // the same warehouse): the durable view serves with no setup
      // beyond registering the base table
      val cat2 = new Catalog(s, wh, autoCompact = false)
      val g2 = new graft.sql.GraftSql(s).attach(cat2)
      g2.register("sqlv_t", cat2, "sqlv_t")
      g2.sql("SELECT status, n, ck FROM sqlv_roll")
    },

    "sql_dml" -> { (s, d) =>
      val g = new graft.sql.GraftSql(s)
        .register("sqldml_t", LineageTable.fromBase("k", baseOrders(s, d)))
      g.sql("UPDATE sqldml_t SET totalprice = totalprice + 10.0, " +
        "status = 'U1' WHERE k % 3 = 0")
      g.sql("DELETE FROM sqldml_t WHERE k % 17 = 0")
      g.sql("INSERT INTO sqldml_t SELECT k + 4000000, custkey, 'S', " +
        "totalprice FROM sqldml_t WHERE k % 500 = 0")
      g.table("sqldml_t").snapshot.where(col("k") % 5 === 0)
        .select(col("k"), col("custkey"), col("status"), col("totalprice"))
    },

    // UPDATE ... FROM (r14, GraftSql.runUpdateFrom): the Postgres/T-SQL
    // join-update, desugared onto the engine merge — here the canonical
    // "update the fact from an aggregate of itself" shape: per-customer
    // order counts join back and both SET expressions read the joined
    // source. Unmatched target rows (custkeys below the HAVING bar)
    // append NOTHING; a multi-match source would reject loud (the
    // Delta cardinality rule — pinned in GraftSqlSpec). One statement,
    // one `_ver` commit, |matched|-priced like every merge.
    "sql_update_join" -> { (s, d) =>
      val g = new graft.sql.GraftSql(s)
        .register("graft_updjoin", ordersLineage(s, d))
      g.sql("""UPDATE graft_updjoin t
              |SET totalprice = totalprice + s.cnt,
              |    status = concat(t.status, '*')
              |FROM (SELECT custkey AS ck, COUNT(*) AS cnt
              |      FROM graft_updjoin GROUP BY custkey
              |      HAVING COUNT(*) >= 8) s
              |WHERE t.custkey = s.ck""".stripMargin)
      g.table("graft_updjoin").snapshot.where(col("k") % 5 === 0)
    },

    // DELETE ... USING (r14, GraftSql.runDeleteUsing — the Postgres
    // join-delete, sql_update_join's companion): target rows matched by
    // the join tombstone in ONE `_ver` commit through the engine merge's
    // delete arm. Multi-match is collapsed by DISTINCT over the
    // key-unique snapshot rows (Postgres DELETE permits it — no
    // cardinality rule, unlike UPDATE). Here: drop every order of the
    // heaviest customers (an aggregate-of-self USING source).
    "sql_delete_join" -> { (s, d) =>
      val g = new graft.sql.GraftSql(s)
        .register("graft_deljoin", ordersLineage(s, d))
      g.sql("""DELETE FROM graft_deljoin t
              |USING (SELECT custkey AS ck FROM graft_deljoin
              |       GROUP BY custkey HAVING COUNT(*) >= 14) s
              |WHERE t.custkey = s.ck""".stripMargin)
      g.table("graft_deljoin").snapshot.where(col("k") % 5 === 0)
    },

    // COPY TO (r14, the export half of the ingest story): the table's
    // post-DML SNAPSHOT lands as status-partitioned parquet — the
    // lakehouse handoff layout for consumers outside the engine — and
    // the §2 result is the READ-BACK of those files. A wrong export
    // (missing partition dir, stale snapshot, partition-column type
    // drift on read-back) hash-fails against the snapshot replay.
    "cat_copy_to" -> { (s, d) =>
      val out = graft.sources.TextSources.scratchDir(s, "graft_copyto_")
      val g = new graft.sql.GraftSql(s)
        .register("cpt_t", LineageTable.fromBase("k", baseOrders(s, d)))
      g.sql("UPDATE cpt_t SET status = 'X' WHERE k % 11 = 0")
      g.sql("DELETE FROM cpt_t WHERE k % 13 = 0")
      g.sql(s"CALL copy_to('cpt_t', '$out/orders_export', " +
        "'parquet', 'status')")
      s.read.parquet(s"$out/orders_export")
        .where(col("k") % 5 === 0)
        .select(col("k"), col("custkey"), col("status"), col("totalprice"))
    },

    // MERGE WITH SCHEMA EVOLUTION (r14, Spark 4's own MERGE syntax flag
    // wired to the engine's ADD COLUMN): the source carries a column the
    // target lacks — evolution adds it through the same metadata path
    // the DDL uses (pre-evolve rows and versions read NULL), then the
    // ordinary merge runs over the evolved column set, SET * / INSERT *
    // picking the new column up. Matched rows get the source channel;
    // unmatched keep NULL — the Delta mergeSchema contract.
    "ls_merge_evolve" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_mergeevo_")
      val cat = new Catalog(s, wh, autoCompact = false)
      cat.createTable("mev_t", "k", baseOrders(s, d))
      val g = new graft.sql.GraftSql(s).register("mev_t", cat, "mev_t")
      baseOrders(s, d).where(col("k") % 4 === 0)
        .withColumn("channel",
          concat(lit("ch"), (col("k") % 3).cast("string")))
        .withColumn("totalprice", col("totalprice") + 5.0)
        .createOrReplaceTempView("graft_mev_src")
      g.sql("""MERGE WITH SCHEMA EVOLUTION INTO mev_t t
              |USING graft_mev_src s ON t.k = s.k
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      cat.getTable("mev_t").snapshot.where(col("k") % 5 === 0)
        .select(col("k"), col("custkey"), col("status"),
          col("totalprice"), col("channel"))
    },

    // COPY INTO (r14, Catalog.copyInto + the CALL front door): idempotent
    // FILE-granularity bulk ingest — the landing-directory pattern a
    // 100 TB pipeline ingests through. Three calls: new files load, a
    // re-scan of the whole landing dir loads ONLY the unseen drop, and a
    // third call is a pure no-op. The loaded-file manifest is itself a
    // lineage table committed with the data rows at ONE commitMulti
    // point — both-or-neither under any crash. (Precision note: the
    // lineage model makes a same-content re-load VALUE-idempotent
    // anyway — latest-version-per-key collapses re-appended rows — so
    // this oracle verifies the drops land exactly; the skip behavior
    // itself is pinned by CopyIntoSpec's files_loaded receipts, and
    // the manifest's real wins are unwasted re-reads and unpolluted
    // version history.)
    "cat_copy_into" -> { (s, d) =>
      val wh = graft.sources.TextSources.scratchDir(s, "graft_copyinto_")
      val landing =
        graft.sources.TextSources.scratchDir(s, "graft_copyinto_land_")
      val cat = new Catalog(s, wh, autoCompact = false)
      val base = baseOrders(s, d)
      cat.createTable("cpi_t", "k", base.where(col("k") % 7 === 0))
      base.where(col("k") % 7 =!= 0 && col("k") % 2 === 0)
        .write.mode("overwrite").parquet(s"$landing/p1")
      val g = new graft.sql.GraftSql(s).register("cpi_t", cat, "cpi_t")
      g.sql(s"CALL copy_into('cpi_t', '$landing/p1')")
      base.where(col("k") % 7 =!= 0 && col("k") % 4 === 1)
        .write.mode("overwrite").parquet(s"$landing/p2")
      g.sql(s"CALL copy_into('cpi_t', '$landing/*')")
      g.sql(s"CALL copy_into('cpi_t', '$landing/*')")
      cat.getTable("cpi_t").snapshot.where(col("k") % 5 === 0)
        .select(col("k"), col("custkey"), col("status"), col("totalprice"))
    },

    // ASOF JOIN (r14, GraftSql.runAsofJoin — the DuckDB/kdb syntax in
    // the front door): each event joined to the SAME USER's latest
    // strictly-earlier event. The desugar rewrites to an equi-joined
    // domain with a row_number() = 1 pick per key (PlanAuditSpec pins
    // hash/sort-merge joins + WindowGroupLimit) — never a per-row loop
    // or a nested-loop join. INNER semantics: a user's first event has
    // no prior and drops, exactly DuckDB's default. The oracle is the
    // SAME statement — DuckDB speaks ASOF JOIN natively. (ts stays out
    // of the projection: the engine reads it as canonical nanos, the
    // oracle as TIMESTAMP — same ORDER, different print.)
    "sql_asof_join" -> { (s, d) =>
      val g = new graft.sql.GraftSql(s)
      Tables(s, d, "events")
        .createOrReplaceTempView("graft_asofj_events")
      g.sql("""SELECT a.event_id, b.event_id AS prior_id,
              |       b.value AS prior_value
              |FROM graft_asofj_events a ASOF JOIN graft_asofj_events b
              |  ON a.user_id = b.user_id AND a.ts > b.ts
              |WHERE a.event_id % 37 = 0""".stripMargin)
    },

    // WITH RECURSIVE (r14): Spark 4's native recursive CTE (SPARK-24497)
    // through the front door — 2-hop BFS with path multiplicity over a
    // co-purchase edge list derived from lineitem. The working-table
    // semantics (each step sees ONLY the previous iteration, UNION ALL
    // accumulates the bag) must agree with DuckDB's standard recursion —
    // the oracle is the SAME statement verbatim, so any divergence in
    // iteration semantics, bag counting, or termination hash-fails.
    // Scale shape: every iteration is one distributed join of the
    // previous frontier against the edge list — the BFS pattern, depth
    // bounded by the d < 2 predicate, never a driver loop.
    "sql_recursive" -> { (s, d) =>
      val g = new graft.sql.GraftSql(s)
      Tables(s, d, "lineitem")
        .createOrReplaceTempView("graft_rec_lineitem")
      g.sql("""WITH RECURSIVE edges AS (
              |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
              |  FROM graft_rec_lineitem a JOIN graft_rec_lineitem b
              |    ON a.l_orderkey = b.l_orderkey
              |   AND a.l_partkey <> b.l_partkey
              |  WHERE a.l_orderkey % 10 = 0),
              |hop(part, d) AS (
              |  SELECT p1, 0 FROM (SELECT min(p1) AS p1 FROM edges)
              |  UNION ALL
              |  SELECT e.p2, h.d + 1 FROM hop h
              |  JOIN edges e ON e.p1 = h.part WHERE h.d < 2)
              |SELECT part, CAST(min(d) AS BIGINT) AS dist,
              |       CAST(count(*) AS BIGINT) AS paths
              |FROM hop GROUP BY part ORDER BY part""".stripMargin)
    },

    // QUALIFY (r14, GraftSql.runQualify — the window-filter clause of
    // DuckDB/Snowflake/BigQuery, absent from Spark's grammar): top-3
    // orders per customer, filtered ON the ranking column the select
    // list already computes. The desugar projects the predicate as one
    // extra boolean column (alias `rn` substituted by its definition —
    // Catalyst dedupes the identical window spec, so the filter costs
    // no second Window pass) and the trailing ORDER BY/LIMIT run after
    // the filter — the clause's exact evaluation order. The oracle is
    // the SAME statement: DuckDB speaks QUALIFY natively.
    "sql_qualify" -> { (s, d) =>
      val g = new graft.sql.GraftSql(s)
      Tables(s, d, "orders").createOrReplaceTempView("graft_qualify_orders")
      g.sql("""SELECT o_custkey, o_orderkey, o_totalprice,
              |  CAST(row_number() OVER (PARTITION BY o_custkey
              |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
              |FROM graft_qualify_orders
              |QUALIFY rn <= 3
              |ORDER BY o_custkey, rn LIMIT 500""".stripMargin)
    },

    // ANALYZE TABLE as a queryable surface (Catalog.analyzeTable → the
    // stats NdvBroadcastRule plans joins from): per-column KMV NDV + live
    // row count over the post-transaction warehouse state, ONE scan for
    // all columns. The oracle recomputes the same exact order statistics
    // the expensive declarative way.
    "cat_analyze" -> { (s, d) =>
      val cat = multiTxnTables(s, d)
      val ndvs = cat.analyzeTable("orders_mt", Seq("custkey", "status"))
      val t = cat.getTable("orders_mt")
      val rows = t.snapshot.count()
      import s.implicits._
      Seq(("custkey", ndvs("custkey"), rows),
          ("status", ndvs("status"), rows))
        .toDF("col_name", "ndv", "n_rows")
    },

    // Zero-copy shallow clone (Catalog.cloneTable): the clone's base is a
    // frozen manifest of the source's files — cloning a 100 TB table is
    // two metadata writes — and the tables then diverge independently
    // (each commit lands in its own tail). The read unions both snapshots
    // with a side tag: a clone leaking its source's post-clone commit (or
    // vice versa) could never hash-match the two-branch oracle.
    "cat_clone" -> { (s, d) =>
      val (cat, src, dst) = clonedOrders(s, d)
      def side(t: String, tag: String) =
        cat.getTable(t).snapshot.where(col("k") <= 1500)
          .select(lit(tag).as("side"), col("k"), col("custkey"),
                  col("status"), col("totalprice"))
      side(src, "src").unionByName(side(dst, "clone"))
    },

    // CHECK constraints enforced at commit (Catalog.addConstraint — the
    // Delta ALTER TABLE ADD CONSTRAINT shape): the full-table validation
    // scan runs ONCE at add time; every commit then validates only its
    // DELTA (one job, all constraints as columns of the same scan) —
    // O(delta) at any table size. The fixture commits a violating
    // transaction (REJECTED atomically, nothing lands) then a clean one;
    // the oracle replays base + clean commit only.
    "cat_constraint" -> { (s, d) =>
      val (cat, t) = constrainedOrders(s, d)
      cat.getTable(t).snapshot.where(col("k") <= 2000)
        .select(col("k"), col("custkey"), col("status"), col("totalprice"))
    },

    "cat_stats" -> { (s, d) =>
      // ANALYZE TABLE from footers alone (sources/ParquetMeta.columnStats):
      // exact numeric min/max/null-count per column with ZERO data pages
      // read — O(files) footer fetches distributed over executors. These
      // are the stats that drive row-group pruning and join planning; the
      // oracle recomputes them the expensive way (full scans) and they
      // hash-match because parquet numeric footer stats are exact.
      graft.sources.ParquetMeta.columnStats(s, Seq(
        ("orders", s"$d/orders.parquet",
          Seq("o_orderkey", "o_custkey", "o_totalprice")),
        ("lineitem", s"$d/lineitem.parquet",
          Seq("l_quantity", "l_extendedprice")),
        ("events", s"$d/events.parquet", Seq("user_id", "value"))))
    },

    // ANALYZE-style NDV (distinct-count) statistics — the cardinality
    // stats a cost-based planner joins/reorders by — for THREE columns in
    // ONE scan: one KMV sketch per column inside a single aggregation
    // (functions/KMinValues; ~2 KB buffer per column per partition,
    // map-side partial). cat_stats gives min/max/nulls from footers; NDV
    // is the stat footers don't carry, and the full-scan DISTINCT
    // alternative pays one shuffle of every value PER COLUMN. Sketches
    // with fewer than k members ARE the exact distinct set (the
    // low-cardinality fast answer: o_orderpriority); past k the standard
    // (k-1)·2^60/h_k estimate applies — deterministic order statistics,
    // so the oracle's expensive declarative path agrees bit-for-bit.
    "cat_ndv" -> { (s, d) =>
      val k = 256
      def h(c: String) =
        graft.functions.Md5HighBits.hash60(col(c).cast("string"))
      def est(kmv: Column): Column =
        graft.functions.KMinValues.ndvEstimate(kmv, k)
      val agged = Tables(s, d, "orders").agg(
        graft.functions.KMinValues.kMinValues(h("o_custkey"), k).as("k_cust"),
        graft.functions.KMinValues.kMinValues(h("o_orderkey"), k).as("k_ord"),
        graft.functions.KMinValues.kMinValues(h("o_orderpriority"), k).as("k_prio"))
      agged.select(explode(array(
          struct(lit("o_custkey").as("col_name"), est(col("k_cust")).as("ndv")),
          struct(lit("o_orderkey").as("col_name"), est(col("k_ord")).as("ndv")),
          struct(lit("o_orderpriority").as("col_name"),
            est(col("k_prio")).as("ndv")))).as("r"))
        .select(col("r.col_name").as("col_name"), col("r.ndv").as("ndv"))
    },

    "cat_tables" -> { (s, d) =>
      // Database.create_table / get_table surface: the catalog inventory.
      // Row counts come from parquet FOOTERS (graft.sources.ParquetMeta),
      // not table scans — at 100 TB an inventory is O(files) metadata
      // reads, the same trick DSv2 aggregate pushdown plays; column counts
      // come from the schema (also footer metadata).
      graft.sources.ParquetMeta.inventory(s, Tables.names.map { name =>
        (name, s"$d/$name.parquet", Tables(s, d, name).schema.length)
      })
    }
  )

  // ---------------------------------------------------------------- oracles

  /** Shared DuckDB CTE prefix replicating the lineage fixture. */
  private val fixture: String =
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_custkey AS custkey, o_orderstatus AS status,
      |         o_totalprice AS totalprice, 0 AS _ver, 0 AS _del FROM orders),
      |v1 AS (SELECT k, custkey, 'U1' AS status, totalprice + 10.0 AS totalprice,
      |       1 AS _ver, 0 AS _del FROM base WHERE k % 3 = 0),
      |v2 AS (SELECT k, custkey, 'U2' AS status, totalprice,
      |       2 AS _ver, 0 AS _del FROM v1 WHERE k % 9 = 0),
      |-- delete tombstones carry the snapshot AT DELETE TIME (the op reads
      |-- the current version and re-stamps it deleted), i.e. v2/v1 values
      |-- where those fired — visible only to history reads, but the
      |-- fixture mirrors the write semantics exactly
      |tomb AS (SELECT k, custkey,
      |         CASE WHEN k % 9 = 0 THEN 'U2' WHEN k % 3 = 0 THEN 'U1'
      |              ELSE status END AS status,
      |         CASE WHEN k % 3 = 0 THEN totalprice + 10.0
      |              ELSE totalprice END AS totalprice,
      |         9 AS _ver, 1 AS _del
      |         FROM base WHERE k % 17 = 0),
      |lineage AS (SELECT * FROM base UNION ALL SELECT * FROM v1
      |            UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM tomb),
      |ranked AS (SELECT *,
      |    row_number() OVER (PARTITION BY k ORDER BY _ver DESC) AS _rn,
      |    count(*) OVER (PARTITION BY k) AS _cnt FROM lineage),
      |snap AS (SELECT k, custkey, status, totalprice FROM ranked
      |         WHERE _rn = 1 AND _del = 0)""".stripMargin

  /** Snapshot at relative version `rel` (clamped at base), as a CTE body. */
  private def asOfSql(rel: Int): String =
    s"SELECT k, custkey, status, totalprice FROM ranked " +
      s"WHERE _rn = least(${1 - rel}, _cnt) AND _del = 0"

  val oracleSql: Map[String, String] = Map(
    "ls_insert" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey, o_orderstatus AS status,
        |         o_totalprice AS totalprice FROM orders),
        |ins AS (SELECT k + 1000000 AS k, custkey, 'NEW' AS status, totalprice
        |        FROM base WHERE k % 500 = 0),
        |allr AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
        |SELECT k, custkey, status, totalprice FROM allr WHERE k % 250 = 0""".stripMargin,

    "ls_select_point" ->
      s"""$fixture
         |SELECT k, status, totalprice FROM snap
         |WHERE k IN (42, 45, 100, 4211, 34)""".stripMargin,

    "ls_select_secondary" ->
      s"""$fixture
         |SELECT k, custkey, totalprice FROM snap WHERE custkey = 77""".stripMargin,

    // projections are layout, never semantics: both probes equal plain
    // snapshot filters
    "idx_multi" ->
      s"""$fixture
         |SELECT 'custkey' AS probe, k, custkey, totalprice FROM snap
         |WHERE custkey = 77
         |UNION ALL
         |SELECT 'totalprice' AS probe, k, custkey, totalprice FROM snap
         |WHERE totalprice BETWEEN 1000.0 AND 2000.0""".stripMargin,

    "ls_select_version_latest" ->
      s"""$fixture
         |SELECT k, custkey, status, totalprice FROM snap
         |WHERE k BETWEEN 0 AND 2000""".stripMargin,

    // t0 clamps to base, t1 is the v1-only state, t2 is the live snapshot
    "ls_asof_ts" ->
      s"""$fixture
         |SELECT 't0' AS asof, k, custkey, status, totalprice FROM base
         |WHERE k BETWEEN 0 AND 600
         |UNION ALL
         |SELECT 't1' AS asof, k, custkey,
         |       CASE WHEN k % 3 = 0 THEN 'U1' ELSE status END AS status,
         |       CASE WHEN k % 3 = 0 THEN totalprice + 10.0
         |            ELSE totalprice END AS totalprice
         |FROM base WHERE k BETWEEN 0 AND 600
         |UNION ALL
         |SELECT 't2' AS asof, k, custkey, status, totalprice FROM snap
         |WHERE k BETWEEN 0 AND 600""".stripMargin,

    // the oracle spells the merge as its three joins; matched+delete rows
    // drop, matched rows take source status/totalprice, unmatched insert
    "ls_merge_into" ->
      s"""$fixture,
         |src AS (
         |  SELECT k, custkey, 'M' AS status, totalprice + 1000.0 AS totalprice
         |  FROM base WHERE k % 10 = 0
         |  UNION ALL
         |  SELECT k + 3000000 AS k, custkey, 'N' AS status, totalprice
         |  FROM base WHERE k % 1000 = 0),
         |upd AS (
         |  SELECT t.k, t.custkey,
         |         CASE WHEN s.k IS NOT NULL THEN s.status ELSE t.status END AS status,
         |         CASE WHEN s.k IS NOT NULL THEN s.totalprice
         |              ELSE t.totalprice END AS totalprice,
         |         CASE WHEN s.k IS NOT NULL AND s.custkey % 50 = 0
         |              THEN 1 ELSE 0 END AS dd
         |  FROM snap t LEFT JOIN src s ON t.k = s.k),
         |ins AS (
         |  SELECT s.k, s.custkey, s.status, s.totalprice, 0 AS dd
         |  FROM src s LEFT JOIN snap t ON s.k = t.k WHERE t.k IS NULL),
         |merged AS (SELECT * FROM upd WHERE dd = 0
         |           UNION ALL SELECT * FROM ins)
         |SELECT k, custkey, status, totalprice FROM merged
         |WHERE k % 5 = 0""".stripMargin,

    // same merge, with the NOT MATCHED BY SOURCE arm: target rows the
    // source omitted (s.k IS NULL) drop when the target-side gate holds
    "ls_merge_source" ->
      s"""$fixture,
         |src AS (
         |  SELECT k, custkey, 'M' AS status, totalprice + 1000.0 AS totalprice
         |  FROM base WHERE k % 10 = 0
         |  UNION ALL
         |  SELECT k + 3000000 AS k, custkey, 'N' AS status, totalprice
         |  FROM base WHERE k % 1000 = 0),
         |upd AS (
         |  SELECT t.k, t.custkey,
         |         CASE WHEN s.k IS NOT NULL THEN s.status ELSE t.status END AS status,
         |         CASE WHEN s.k IS NOT NULL THEN s.totalprice
         |              ELSE t.totalprice END AS totalprice,
         |         CASE WHEN s.k IS NULL AND t.custkey % 7 = 0
         |              THEN 1 ELSE 0 END AS dd
         |  FROM snap t LEFT JOIN src s ON t.k = s.k),
         |ins AS (
         |  SELECT s.k, s.custkey, s.status, s.totalprice, 0 AS dd
         |  FROM src s LEFT JOIN snap t ON s.k = t.k WHERE t.k IS NULL),
         |merged AS (SELECT * FROM upd WHERE dd = 0
         |           UNION ALL SELECT * FROM ins)
         |SELECT k, custkey, status, totalprice FROM merged
         |WHERE k % 5 = 0""".stripMargin,

    // same sync-job merge, deactivating instead of deleting: unmatched-
    // by-source rows passing the gate re-stamp with the assignments
    "ls_merge_source_upd" ->
      s"""$fixture,
         |src AS (
         |  SELECT k, custkey, 'M' AS status, totalprice + 1000.0 AS totalprice
         |  FROM base WHERE k % 10 = 0
         |  UNION ALL
         |  SELECT k + 3000000 AS k, custkey, 'N' AS status, totalprice
         |  FROM base WHERE k % 1000 = 0),
         |upd AS (
         |  SELECT t.k, t.custkey,
         |         CASE WHEN s.k IS NOT NULL THEN s.status
         |              WHEN t.custkey % 7 = 0 THEN 'STALE'
         |              ELSE t.status END AS status,
         |         CASE WHEN s.k IS NOT NULL THEN s.totalprice
         |              WHEN t.custkey % 7 = 0 THEN t.totalprice + 1.0
         |              ELSE t.totalprice END AS totalprice
         |  FROM snap t LEFT JOIN src s ON t.k = s.k),
         |ins AS (
         |  SELECT s.k, s.custkey, s.status, s.totalprice
         |  FROM src s LEFT JOIN snap t ON s.k = t.k WHERE t.k IS NULL),
         |merged AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
         |SELECT k, custkey, status, totalprice FROM merged
         |WHERE k % 5 = 0""".stripMargin,

    // ordered arms, first-match-wins: update when even OR (odd,
    // non-%5, %3); delete when odd AND %5; otherwise unchanged
    "ls_merge_arms" ->
      s"""$fixture,
         |src AS (
         |  SELECT k, custkey, 'M' AS status, totalprice + 1000.0 AS totalprice
         |  FROM base WHERE k % 10 = 0
         |  UNION ALL
         |  SELECT k + 3000000 AS k, custkey, 'N' AS status, totalprice
         |  FROM base WHERE k % 1000 = 0),
         |upd AS (
         |  SELECT t.k, t.custkey,
         |         CASE WHEN s.k IS NOT NULL AND (s.custkey % 2 = 0 OR
         |                (s.custkey % 2 <> 0 AND s.custkey % 5 <> 0
         |                 AND s.custkey % 3 = 0))
         |              THEN s.status ELSE t.status END AS status,
         |         CASE WHEN s.k IS NOT NULL AND (s.custkey % 2 = 0 OR
         |                (s.custkey % 2 <> 0 AND s.custkey % 5 <> 0
         |                 AND s.custkey % 3 = 0))
         |              THEN s.totalprice ELSE t.totalprice END AS totalprice,
         |         CASE WHEN s.k IS NOT NULL AND s.custkey % 2 <> 0
         |                AND s.custkey % 5 = 0
         |              THEN 1 ELSE 0 END AS dd
         |  FROM snap t LEFT JOIN src s ON t.k = s.k),
         |ins AS (
         |  SELECT s.k, s.custkey, s.status, s.totalprice, 0 AS dd
         |  FROM src s LEFT JOIN snap t ON s.k = t.k WHERE t.k IS NULL),
         |merged AS (SELECT * FROM upd WHERE dd = 0
         |           UNION ALL SELECT * FROM ins)
         |SELECT k, custkey, status, totalprice FROM merged
         |WHERE k % 5 = 0""".stripMargin,

    // per-column gates: even custkeys take the status arm only, odd %3
    // custkeys take the price arm only, everything else is unchanged
    "ls_merge_arms_cols" ->
      s"""$fixture,
         |src AS (
         |  SELECT k, custkey, 'M' AS status, totalprice + 1000.0 AS totalprice
         |  FROM base WHERE k % 10 = 0
         |  UNION ALL
         |  SELECT k + 3000000 AS k, custkey, 'N' AS status, totalprice
         |  FROM base WHERE k % 1000 = 0),
         |upd AS (
         |  SELECT t.k, t.custkey,
         |         CASE WHEN s.k IS NOT NULL AND s.custkey % 2 = 0
         |              THEN s.status ELSE t.status END AS status,
         |         CASE WHEN s.k IS NOT NULL AND s.custkey % 2 <> 0
         |                AND s.custkey % 3 = 0
         |              THEN s.totalprice ELSE t.totalprice END AS totalprice
         |  FROM snap t LEFT JOIN src s ON t.k = s.k),
         |ins AS (
         |  SELECT s.k, s.custkey, s.status, s.totalprice
         |  FROM src s LEFT JOIN snap t ON s.k = t.k WHERE t.k IS NULL),
         |merged AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
         |SELECT k, custkey, status, totalprice FROM merged
         |WHERE k % 5 = 0""".stripMargin,

    // the incrementally-maintained view must equal the rollup computed
    // directly over the final snapshot (decimal-exact sums — the same
    // rational number as the engine's cents longs, identical as DOUBLE)
    "cat_mview" ->
      s"""$fixture
         |SELECT status, COUNT(*) AS n_rows,
         |       CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         |FROM snap GROUP BY status""".stripMargin,

    // sequential replay of the min/max fixture's three commits
    "cat_mview_minmax" ->
      """WITH s0 AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    o_totalprice AS p FROM orders),
        |s1 AS (SELECT k, status,
        |    CASE WHEN k % 11 = 0 THEN p + 2.0 ELSE p END AS p FROM s0),
        |s2 AS (SELECT * FROM s1
        |  UNION ALL
        |  SELECT k + 90000000, 'NX', p + 0.25 FROM s0 WHERE k % 50 = 0),
        |s3 AS (SELECT * FROM s2 WHERE p <= 400000.0),
        |s4 AS (SELECT k, status,
        |    CASE WHEN p < 1200.0 THEN p - 0.75 ELSE p END AS p FROM s3)
        |SELECT status, COUNT(*) AS n_rows,
        |  SUM(CAST(ROUND(p * 100) AS BIGINT)) / 100.0 AS total,
        |  MIN(CAST(ROUND(p * 100) AS BIGINT)) / 100.0 AS lo,
        |  MAX(CAST(ROUND(p * 100) AS BIGINT)) / 100.0 AS hi
        |FROM s4 GROUP BY 1""".stripMargin,

    // the same replay, HAVING applied over the exact cents max
    "q_mview_route_minmax" ->
      """WITH s0 AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    o_totalprice AS p FROM orders),
        |s1 AS (SELECT k, status,
        |    CASE WHEN k % 11 = 0 THEN p + 2.0 ELSE p END AS p FROM s0),
        |s2 AS (SELECT * FROM s1
        |  UNION ALL
        |  SELECT k + 90000000, 'NX', p + 0.25 FROM s0 WHERE k % 50 = 0),
        |s3 AS (SELECT * FROM s2 WHERE p <= 400000.0),
        |s4 AS (SELECT k, status,
        |    CASE WHEN p < 1200.0 THEN p - 0.75 ELSE p END AS p FROM s3)
        |SELECT status, COUNT(*) AS n,
        |  SUM(CAST(ROUND(p * 100) AS BIGINT)) / 100.0 AS total,
        |  MIN(CAST(ROUND(p * 100) AS BIGINT)) / 100.0 AS lo,
        |  MAX(CAST(ROUND(p * 100) AS BIGINT)) / 100.0 AS hi
        |FROM s4 GROUP BY 1
        |HAVING MAX(CAST(ROUND(p * 100) AS BIGINT)) / 100.0 > 1000.0""".stripMargin,

    // three refreshes (differential, dim-forced full recompute,
    // differential again) must land exactly the direct join rollup over
    // the final fact/dim states
    "cat_mview_join" ->
      """WITH f AS (SELECT o_orderkey AS k, o_custkey AS custkey,
        |             CASE WHEN o_orderkey % 4 = 0
        |                  THEN o_totalprice + 5.0
        |                  ELSE o_totalprice END AS totalprice
        |           FROM orders WHERE o_orderkey % 13 <> 0),
        |d AS (SELECT c_custkey AS ckey,
        |        CASE WHEN c_custkey % 10 = 0 THEN 'SEGX'
        |             ELSE c_mktsegment END AS seg
        |      FROM customer)
        |SELECT d.seg, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM f JOIN d ON f.custkey = d.ckey
        |GROUP BY 1""".stripMargin,

    // the startingTimestamp attach lands on the same commit-2+ events
    // sql_changes addresses by version range
    "stream_cdf_ts" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |v2 AS (SELECT k, custkey, 'U2' AS status,
        |       totalprice + 10.0 AS totalprice,
        |       CAST(2 AS BIGINT) AS commit_ver, 'upsert' AS op
        |       FROM base WHERE k % 9 = 0),
        |tomb AS (SELECT k, custkey,
        |         CASE WHEN k % 9 = 0 THEN 'U2' WHEN k % 3 = 0 THEN 'U1'
        |              ELSE status END AS status,
        |         CASE WHEN k % 3 = 0 THEN totalprice + 10.0
        |              ELSE totalprice END AS totalprice,
        |         CAST(3 AS BIGINT) AS commit_ver, 'delete' AS op
        |         FROM base WHERE k % 17 = 0),
        |feed AS (SELECT * FROM v2 UNION ALL SELECT * FROM tomb)
        |SELECT k, custkey, status, totalprice, commit_ver, op FROM feed
        |WHERE k % 5 = 0""".stripMargin,

    // commits 2 and 3 only: v2's status-only postimages (price carries
    // v1's +10) and the tombstones with their state at delete time
    "sql_changes" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |v2 AS (SELECT k, custkey, 'U2' AS status,
        |       totalprice + 10.0 AS totalprice,
        |       CAST(2 AS BIGINT) AS commit_ver, 'upsert' AS op
        |       FROM base WHERE k % 9 = 0),
        |tomb AS (SELECT k, custkey,
        |         CASE WHEN k % 9 = 0 THEN 'U2' WHEN k % 3 = 0 THEN 'U1'
        |              ELSE status END AS status,
        |         CASE WHEN k % 3 = 0 THEN totalprice + 10.0
        |              ELSE totalprice END AS totalprice,
        |         CAST(3 AS BIGINT) AS commit_ver, 'delete' AS op
        |         FROM base WHERE k % 17 = 0),
        |feed AS (SELECT * FROM v2 UNION ALL SELECT * FROM tomb)
        |SELECT k, custkey, status, totalprice, commit_ver, op FROM feed
        |WHERE k % 5 = 0""".stripMargin,

    // v0 = base, t1 = the v1-only state (same clamp algebra as ls_asof_ts)
    "sql_asof" ->
      s"""$fixture
         |SELECT 'v0' AS asof, k, custkey, status, totalprice FROM base
         |WHERE k BETWEEN 0 AND 600
         |UNION ALL
         |SELECT 't1' AS asof, k, custkey,
         |       CASE WHEN k % 3 = 0 THEN 'U1' ELSE status END AS status,
         |       CASE WHEN k % 3 = 0 THEN totalprice + 10.0
         |            ELSE totalprice END AS totalprice
         |FROM base WHERE k BETWEEN 0 AND 600""".stripMargin,

    // the routed aggregate must equal the direct rollup over the final
    // snapshot — the rewrite is invisible to results
    "q_mview_route" ->
      s"""$fixture
         |SELECT status, COUNT(*) AS n_orders,
         |       CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |         AS sum_price,
         |       CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |         / COUNT(*) AS avg_price
         |FROM snap GROUP BY status""".stripMargin,

    // the composite rollup recomputed directly: seg = custkey % 3 rides
    // the fixture's snap CTE (updates never touch custkey), both measures
    // as exact decimal sums surfaced as doubles
    "cat_mview_multi" ->
      s"""$fixture
         |SELECT status, custkey % 3 AS seg, COUNT(*) AS n_rows,
         |       CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |         AS total,
         |       CAST(SUM(CAST(custkey AS DECIMAL(18,2))) AS DOUBLE) AS cv
         |FROM snap GROUP BY 1, 2""".stripMargin,

    // the routed star aggregate must equal the direct join rollup over
    // the final fact/dim states
    "q_mview_route_join" ->
      """WITH f AS (SELECT o_orderkey AS k, o_custkey AS custkey,
        |             CASE WHEN o_orderkey % 4 = 0
        |                  THEN o_totalprice + 5.0
        |                  ELSE o_totalprice END AS totalprice
        |           FROM orders WHERE o_orderkey % 13 <> 0),
        |d AS (SELECT c_custkey AS ckey,
        |        CASE WHEN c_custkey % 10 = 0 THEN 'SEGX'
        |             ELSE c_mktsegment END AS seg
        |      FROM customer)
        |SELECT d.seg, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_price
        |FROM f JOIN d ON f.custkey = d.ckey
        |GROUP BY 1""".stripMargin,

    // the routed-with-filter aggregate must equal the directly-filtered
    // rollup — the view-side filter is invisible to results
    "q_mview_route_filter" ->
      s"""$fixture
         |SELECT status, COUNT(*) AS n_orders,
         |       CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |         AS sum_price
         |FROM snap WHERE status IN ('U1', 'U2', 'F')
         |GROUP BY status""".stripMargin,

    // the routed-HAVING aggregate must equal the directly-filtered
    // rollup — HAVING compares the same exact decimal-derived doubles
    "q_mview_route_having" ->
      s"""$fixture
         |SELECT status, COUNT(*) AS n_orders,
         |       CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |         AS sum_price
         |FROM snap GROUP BY status
         |HAVING CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |         > 100000.0
         |   AND COUNT(*) > 10""".stripMargin,

    // the routed top-n must pick exactly the groups the directly-sorted
    // rollup picks (deterministic: status tiebreak on equal sums)
    "q_mview_route_topn" ->
      s"""$fixture
         |SELECT status, COUNT(*) AS n_orders,
         |       CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |         AS sum_price
         |FROM snap WHERE status IN ('U1', 'U2', 'F', 'O', 'P')
         |GROUP BY status HAVING COUNT(*) > 5
         |ORDER BY sum_price DESC, status ASC LIMIT 3""".stripMargin,

    // maintenance is never semantics: the SQL-driven lifecycle lands on
    // the standard fixture's snapshot
    "sql_call" ->
      s"""$fixture
         |SELECT k, custkey, status, totalprice FROM snap
         |WHERE k % 10 = 0""".stripMargin,

    // layout is never semantics: the bloom-indexed probe's oracle is the
    // plain snapshot filter
    "idx_bloom" ->
      s"""$fixture
         |SELECT k, custkey, totalprice FROM snap WHERE custkey = 42""".stripMargin,

    // facts joined to the versioned dimension CTE — the oracle reuses the
    // same relative-version clamp the single-table reads pin
    "q_temporal_join" ->
      s"""$fixture,
         |dim AS (${asOfSql(-2)})
         |SELECT status, COUNT(*) AS n_items,
         |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         |         AS sum_price
         |FROM lineitem JOIN dim ON l_orderkey = k
         |WHERE l_orderkey % 100 = 0
         |GROUP BY status""".stripMargin,

    // the continuously-maintained rollup must equal a direct rollup of
    // the fully-merged table (same merge algebra as stream_merge)
    "stream_mview" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS status,
        |         o_totalprice AS totalprice
        |  FROM orders),
        |upd AS (
        |  SELECT k,
        |         CASE WHEN k % 10 = 0 THEN 'M' ELSE status END AS status,
        |         CASE WHEN k % 10 = 0 THEN totalprice + 1000.0
        |              ELSE totalprice END AS totalprice
        |  FROM base),
        |ins AS (
        |  SELECT k + 3000000 AS k, 'N' AS status, totalprice
        |  FROM base WHERE k % 1000 = 0),
        |merged AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT status, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM merged GROUP BY status""".stripMargin,

    // the continuously-maintained star rollup must equal the direct
    // join rollup of the fully-merged fact against the static dim
    "stream_mview_join" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_totalprice AS totalprice
        |  FROM orders),
        |upd AS (
        |  SELECT k, custkey,
        |         CASE WHEN k % 10 = 0 THEN totalprice + 1000.0
        |              ELSE totalprice END AS totalprice
        |  FROM base),
        |ins AS (
        |  SELECT k + 3000000 AS k, custkey, totalprice
        |  FROM base WHERE k % 1000 = 0),
        |merged AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT c_mktsegment AS seg, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM merged JOIN customer ON custkey = c_custkey
        |GROUP BY 1""".stripMargin,

    // the tail rows the three warehouse ops appended, with their commit
    // stamps: commit 1's update → _ver 1, commit 2's update → _ver 2,
    // its delete → _ver 3 (tombstones carry the state at delete time)
    "stream_cdf" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |v1 AS (SELECT k, custkey, 'U1' AS status,
        |       totalprice + 10.0 AS totalprice,
        |       CAST(1 AS BIGINT) AS commit_ver, 'upsert' AS op
        |       FROM base WHERE k % 3 = 0),
        |v2 AS (SELECT k, custkey, 'U2' AS status,
        |       totalprice + 10.0 AS totalprice,
        |       CAST(2 AS BIGINT) AS commit_ver, 'upsert' AS op
        |       FROM base WHERE k % 9 = 0),
        |tomb AS (SELECT k, custkey,
        |         CASE WHEN k % 9 = 0 THEN 'U2' WHEN k % 3 = 0 THEN 'U1'
        |              ELSE status END AS status,
        |         CASE WHEN k % 3 = 0 THEN totalprice + 10.0
        |              ELSE totalprice END AS totalprice,
        |         CAST(3 AS BIGINT) AS commit_ver, 'delete' AS op
        |         FROM base WHERE k % 17 = 0),
        |feed AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
        |         UNION ALL SELECT * FROM tomb)
        |SELECT k, custkey, status, totalprice, commit_ver, op FROM feed
        |WHERE k % 5 = 0""".stripMargin,

    // the fixture's logical clock: commit 1 (one op) at ts 1000, commit 2
    // (two ops) at ts 2000 — deterministic by construction
    "cat_history" ->
      """SELECT CAST(1 AS BIGINT) AS version,
        |       CAST(1700000000000 AS BIGINT) AS commit_ts
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), CAST(1700000600000 AS BIGINT)""".stripMargin,

    // upsert-only merge algebra over the plain base table
    "stream_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |upd AS (
        |  SELECT k, custkey,
        |         CASE WHEN k % 10 = 0 THEN 'M' ELSE status END AS status,
        |         CASE WHEN k % 10 = 0 THEN totalprice + 1000.0
        |              ELSE totalprice END AS totalprice
        |  FROM base),
        |ins AS (
        |  SELECT k + 3000000 AS k, custkey, 'N' AS status, totalprice
        |  FROM base WHERE k % 1000 = 0),
        |allr AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT k, custkey, status, totalprice FROM allr
        |WHERE k % 20 = 0""".stripMargin,

    "ls_select_version_prev" ->
      s"""$fixture, prev AS (${asOfSql(-1)})
         |SELECT k, custkey, status, totalprice FROM prev
         |WHERE k BETWEEN 0 AND 2000""".stripMargin,

    "ls_select_version_base" ->
      s"""$fixture, old AS (${asOfSql(-5)})
         |SELECT k, custkey, status, totalprice FROM old
         |WHERE k BETWEEN 0 AND 2000""".stripMargin,

    "ls_update" ->
      s"""$fixture
         |SELECT k, status, totalprice FROM snap
         |WHERE k % 9 = 0 AND k <= 3000""".stripMargin,

    // restore(-1) then read latest ≡ the version -1 state (the restore's
    // defining postcondition; the append-only mechanics are spec-pinned).
    "ls_restore" ->
      s"""$fixture, prev AS (${asOfSql(-1)})
         |SELECT k, custkey, status, totalprice FROM prev
         |WHERE k BETWEEN 500 AND 5000""".stripMargin,

    "ls_delete" ->
      s"""$fixture
         |SELECT k FROM base WHERE k NOT IN (SELECT k FROM snap)""".stripMargin,

    // diff(-2) = full outer of the -2 state vs latest, changed rows only —
    // the oracle spells the join the engine's one-pass window avoids
    "ls_diff" ->
      s"""$fixture, old AS (${asOfSql(-2)})
         |SELECT coalesce(s.k, o.k) AS k,
         |  CASE WHEN o.k IS NULL THEN 'insert'
         |       WHEN s.k IS NULL THEN 'delete'
         |       ELSE 'update' END AS change,
         |  o.custkey AS old_custkey, o.status AS old_status,
         |  o.totalprice AS old_totalprice,
         |  s.custkey AS new_custkey, s.status AS new_status,
         |  s.totalprice AS new_totalprice
         |FROM snap s FULL OUTER JOIN old o ON s.k = o.k
         |WHERE (s.k IS NULL OR o.k IS NULL
         |   OR s.custkey <> o.custkey OR s.status <> o.status
         |   OR s.totalprice <> o.totalprice)
         |  AND coalesce(s.k, o.k) <= 3000""".stripMargin,

    "ls_sum_range" ->
      s"""$fixture
         |SELECT CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM snap WHERE k BETWEEN 0 AND 5000""".stripMargin,

    "ls_sum_version" ->
      s"""$fixture, prev AS (${asOfSql(-1)})
         |SELECT CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         |FROM prev WHERE k BETWEEN 0 AND 5000""".stripMargin,

    "ls_avg_range" ->
      s"""$fixture
         |SELECT CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(totalprice)
         |  AS avg_price
         |FROM snap WHERE k BETWEEN 0 AND 5000""".stripMargin,

    "ls_min_max_range" ->
      s"""$fixture
         |SELECT MIN(totalprice) AS min_price, MAX(totalprice) AS max_price
         |FROM snap WHERE k BETWEEN 0 AND 5000""".stripMargin,

    "ls_count_range" ->
      s"""$fixture
         |SELECT COUNT(*) AS n FROM snap WHERE k BETWEEN 0 AND 5000""".stripMargin,

    "ls_increment" ->
      s"""$fixture
         |SELECT k, custkey + 1 AS custkey, status FROM snap
         |WHERE k % 7 = 0 AND k <= 2000""".stripMargin,

    "ls_select_distinct" ->
      s"""$fixture
         |SELECT status, COUNT(*) AS n, MIN(k) AS first_k FROM snap
         |GROUP BY status""".stripMargin,

    "ls_order_by" ->
      s"""$fixture
         |SELECT * FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY totalprice DESC, k) AS BIGINT) AS rnk,
         |         k, totalprice FROM snap)
         |WHERE rnk <= 100""".stripMargin,

    "ls_order_by_asc" ->
      s"""$fixture
         |SELECT * FROM (
         |  SELECT CAST(row_number() OVER (ORDER BY totalprice ASC, k) AS BIGINT) AS rnk,
         |         k, totalprice FROM snap)
         |WHERE rnk <= 100""".stripMargin,

    "ls_merge" ->
      s"""$fixture
         |SELECT COUNT(*) AS n,
         |  CAST(SUM(CAST(totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         |  COUNT(DISTINCT status) AS n_status
         |FROM snap""".stripMargin,

    "idx_locate" ->
      s"""$fixture
         |SELECT k FROM snap WHERE status = 'U2' AND k <= 1000""".stripMargin,

    "idx_locate_range" ->
      s"""$fixture
         |SELECT k, totalprice FROM snap
         |WHERE totalprice BETWEEN 50000.0 AND 60000.0 AND k <= 3000""".stripMargin,

    "idx_secondary" ->
      s"""$fixture
         |SELECT k, custkey, status, totalprice FROM snap
         |WHERE custkey BETWEEN 100 AND 120""".stripMargin,

    "idx_zorder" ->
      """SELECT o_orderkey AS k, o_custkey AS custkey,
        |       o_orderstatus AS status, o_totalprice AS totalprice
        |FROM orders
        |WHERE o_custkey BETWEEN 10 AND 60
        |  AND o_totalprice BETWEEN 50000.0 AND 200000.0""".stripMargin,

    "idx_zorder3" ->
      """SELECT o_orderkey AS k, o_custkey AS custkey,
        |       o_orderstatus AS status, o_totalprice AS totalprice
        |FROM orders
        |WHERE o_custkey BETWEEN 10 AND 60
        |  AND o_totalprice BETWEEN 50000.0 AND 200000.0
        |  AND o_orderkey <= 300000""".stripMargin,

    // the transcript replay: layout is never semantics
    "idx_zorder_table" ->
      """SELECT o_orderkey AS k, o_custkey AS custkey,
        |  CASE WHEN o_orderkey % 97 = 0 THEN 'Z'
        |       ELSE o_orderstatus END AS status,
        |  o_totalprice AS totalprice
        |FROM orders
        |WHERE o_custkey BETWEEN 10 AND 60
        |  AND o_totalprice BETWEEN 50000.0 AND 200000.0""".stripMargin,

    // layout is never semantics: the partitioned + z-ordered probe is a
    // plain filtered replay (with the post-layout update applied)
    "idx_zorder_part" ->
      """WITH live AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status,
        |         o_totalprice +
        |           CASE WHEN o_orderkey % 101 = 0 THEN 5.0 ELSE 0.0 END
        |           AS totalprice
        |  FROM orders)
        |SELECT k, custkey, status, totalprice FROM live
        |WHERE status = 'O' AND custkey BETWEEN 10 AND 60
        |  AND totalprice BETWEEN 50000.0 AND 200000.0""".stripMargin,

    "src_csv" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,

    // the front-door schema report is a metadata contract — the oracle
    // is the expected projection schema, literally
    "sql_describe" ->
      """SELECT * FROM (VALUES
        |  ('k', 'bigint', 'key'),
        |  ('custkey', 'bigint', ''),
        |  ('status', 'string', ''),
        |  ('totalprice', 'double', '')) AS t(col_name, data_type, info)""".stripMargin,

    // layout is never semantics: the ORC roundtrip reports the same
    // rollup the parquet tables do
    "src_orc" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1""".stripMargin,

    // purge removes keys any of whose versions matched; custkey is never
    // updated in the fixture, so the key set is simply custkey = 77
    "ls_purge" ->
      s"""$fixture
         |SELECT k, custkey, status, totalprice FROM snap
         |WHERE custkey BETWEEN 70 AND 90
         |  AND k NOT IN (SELECT k FROM lineage WHERE custkey = 77)""".stripMargin,

    "ls_history" ->
      s"""$fixture
         |SELECT k, CAST(_rn AS BIGINT) AS rnk, CAST(_del AS BIGINT) AS deleted,
         |       status, totalprice
         |FROM ranked WHERE k BETWEEN 0 AND 200""".stripMargin,

    // vacuum(2) then version-addressing: re-rank the retained rows (newest
    // 2 per key) and clamp the -5 read at the oldest retained
    "ls_vacuum" ->
      s"""$fixture,
         |kept AS (SELECT * FROM ranked WHERE _rn <= 2),
         |rr AS (SELECT k, custkey, status, totalprice, _del,
         |         row_number() OVER (PARTITION BY k ORDER BY _ver DESC) AS _rn2,
         |         count(*) OVER (PARTITION BY k) AS _cnt2 FROM kept)
         |SELECT k, custkey, status, totalprice FROM rr
         |WHERE _rn2 = least(6, _cnt2) AND _del = 0
         |  AND k BETWEEN 0 AND 2000""".stripMargin,

    // evolution is metadata-only, so the oracle is pure column algebra:
    // the pre-evolve update where k%3=0, null priority except where the
    // post-evolve update (k%4=0) set it
    "ls_evolve" ->
      """SELECT o_orderkey AS k, o_custkey AS custkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'U1' ELSE o_orderstatus END AS status,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 10.0
        |       ELSE o_totalprice END AS totalprice,
        |  CASE WHEN o_orderkey % 4 = 0 THEN o_custkey % 5 END AS priority
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin,

    // the evolve lifecycle replayed declaratively: priority set where the
    // add-then-update fired, totalprice serves AS price (+1.0 where the
    // post-rename update fired), status absent
    "ls_evolve_drop" ->
      """SELECT o_orderkey AS k, o_custkey AS custkey,
        |  o_totalprice + CASE WHEN o_orderkey % 6 = 0 THEN 1.0 ELSE 0.0 END
        |    AS price,
        |  CASE WHEN o_orderkey % 4 = 0 THEN o_custkey % 5 END AS priority
        |FROM orders WHERE o_orderkey <= 2000""".stripMargin,

    "txn_batch" ->
      s"""$fixture,
         |ins AS (SELECT k + 2000000 AS k, custkey, 'T' AS status, totalprice
         |        FROM base WHERE k % 400 = 0),
         |s1 AS (SELECT * FROM snap UNION ALL SELECT * FROM ins),
         |s2 AS (SELECT k, custkey, status,
         |         CASE WHEN k % 5 = 0 THEN totalprice + 5.0 ELSE totalprice END
         |           AS totalprice FROM s1),
         |s3 AS (SELECT * FROM s2 WHERE k % 13 <> 0)
         |SELECT k, custkey, status, totalprice FROM s3 WHERE k % 100 = 0""".stripMargin,

    // the three-statement SQL transcript replayed as CTE stages
    // rename moves identity, not data: 'now' replays CTAS+UPDATE,
    // 'v0' replays the CTAS alone — both read through the NEW name
    "sql_rename" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |t0 AS (SELECT * FROM base WHERE k % 5 = 0),
        |t1 AS (SELECT k, custkey,
        |         CASE WHEN k % 10 = 0 THEN 'R' ELSE status END AS status,
        |         totalprice FROM t0)
        |SELECT 'now' AS vintage, status, COUNT(*) AS n,
        |       CAST(SUM(custkey) AS BIGINT) AS ck
        |FROM t1 GROUP BY status
        |UNION ALL
        |SELECT 'v0' AS vintage, status, COUNT(*) AS n,
        |       CAST(SUM(custkey) AS BIGINT) AS ck
        |FROM t0 GROUP BY status""".stripMargin,

    // new contents = the %5 set; v0 = the %4 CTAS set — both states
    // recomputed directly
    "sql_overwrite" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k FROM orders),
        |nw AS (SELECT k FROM base WHERE k % 5 = 0),
        |v0 AS (SELECT k FROM base WHERE k % 4 = 0)
        |SELECT 'now' AS vintage, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sk
        |FROM nw
        |UNION ALL
        |SELECT 'v0' AS vintage, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS sk
        |FROM v0""".stripMargin,

    // the stacked views over the DML'd table must equal the inline
    // pipeline: filter-view over updated rows, rollup-view over that
    "sql_view" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |t AS (SELECT k, custkey,
        |        CASE WHEN k % 6 = 0 THEN 'V' ELSE status END AS status,
        |        totalprice
        |      FROM base WHERE k % 3 = 0),
        |big AS (SELECT * FROM t WHERE totalprice > 100000.0)
        |SELECT status, COUNT(*) AS n, CAST(SUM(custkey) AS BIGINT) AS ck
        |FROM big GROUP BY status""".stripMargin,

    // narrow→wide replay: float32 arithmetic where the engine ran
    // float32 (the pre-widen update), exact upcasts after
    "ls_evolve_widen" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         CAST(o_custkey % 1000 AS INTEGER) AS qty,
        |         CAST(o_totalprice AS REAL) AS price
        |  FROM orders),
        |s1 AS (SELECT k, custkey,
        |         CASE WHEN k % 3 = 0 THEN qty + 1 ELSE qty END AS qty0,
        |         CASE WHEN k % 3 = 0
        |              THEN CAST(price + CAST(0.5 AS REAL) AS REAL)
        |              ELSE price END AS price
        |       FROM base),
        |s2 AS (SELECT k, custkey,
        |         CAST(CASE WHEN k % 5 = 0 THEN qty0 + 4000000000
        |              ELSE qty0 END AS BIGINT) AS qty,
        |         CAST(price AS DOUBLE) AS price
        |       FROM s1)
        |SELECT custkey % 7 AS g, CAST(SUM(qty) AS BIGINT) AS qty_sum,
        |       CAST(SUM(CAST(ROUND(price * 100) AS BIGINT)) AS BIGINT)
        |         AS cents,
        |       COUNT(*) AS n
        |FROM s2 GROUP BY 1""".stripMargin,

    // the retention bound resolves to the ts-2000 commit: 'snap' is the
    // full replay, 'asof' is the replay through commit 2 only
    "ls_vacuum_time" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |s1 AS (SELECT k, custkey, status,
        |         CASE WHEN k % 3 = 0 THEN totalprice + 10.0
        |              ELSE totalprice END AS totalprice FROM base),
        |s2 AS (SELECT k, custkey, status,
        |         CASE WHEN k % 5 = 0 THEN totalprice + 100.0
        |              ELSE totalprice END AS totalprice FROM s1),
        |s3 AS (SELECT * FROM s2 WHERE k % 7 <> 0)
        |SELECT 'snap' AS phase, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM s3
        |UNION ALL
        |SELECT 'asof', COUNT(*),
        |       CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM s2""".stripMargin,

    // sequential replay of the partition lifecycle: bulk load, the 'F'
    // partition overwritten by the halved+bumped rows, the 'Z' static
    // append — per-partition counts and exact cents must match
    "sql_partition" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |fnew AS (SELECT k, custkey, 'F' AS status,
        |           totalprice + 1.0 AS totalprice
        |         FROM base WHERE status = 'F' AND k % 2 = 0),
        |znew AS (SELECT k + 9000000 AS k, custkey, 'Z' AS status,
        |           totalprice
        |         FROM base WHERE k % 100 = 0),
        |final AS (SELECT * FROM base WHERE status <> 'F'
        |          UNION ALL SELECT * FROM fnew
        |          UNION ALL SELECT * FROM znew)
        |SELECT status, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM final GROUP BY status""".stripMargin,

    // the routed slice replay: the same 3-day window, k%11 deletes and
    // the k%2 residue through raw events
    "q_partition_time_route" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |WHERE epoch_ns(ts) >= 1704067200000000000 + 12 * 86400000000000
        |  AND epoch_ns(ts) <  1704067200000000000 + 15 * 86400000000000
        |  AND event_id % 11 <> 0 AND event_id % 2 = 0
        |GROUP BY 1""".stripMargin,

    // the time-slice replay: the same 5-day nanos window and the k%7
    // update applied over raw events
    "q_partition_time" ->
      """SELECT event_type, COUNT(*) AS n,
        |  SUM(CAST(ROUND((value +
        |    CASE WHEN event_id % 7 = 0 THEN 1.0 ELSE 0.0 END) * 100)
        |    AS BIGINT)) / 100.0 AS sum_value
        |FROM events
        |WHERE epoch_ns(ts) >= 1704067200000000000 + 5 * 86400000000000
        |  AND epoch_ns(ts) <  1704067200000000000 + 10 * 86400000000000
        |GROUP BY 1""".stripMargin,

    // multi-column: the (F,1) leaf and the whole O subtree were replaced
    "sql_partition_multi" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey % 3 AS grp,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |f1 AS (SELECT k, 1 AS grp, 'F' AS status,
        |         totalprice + 1.0 AS totalprice
        |       FROM base WHERE status = 'F' AND grp = 1 AND k % 2 = 0),
        |o5 AS (SELECT k, grp, 'O' AS status, totalprice
        |       FROM base WHERE status = 'O' AND k % 5 = 0),
        |final AS (
        |  SELECT * FROM base
        |  WHERE NOT (status = 'F' AND grp = 1) AND status <> 'O'
        |  UNION ALL SELECT * FROM f1
        |  UNION ALL SELECT * FROM o5)
        |SELECT status, grp, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM final GROUP BY status, grp""".stripMargin,

    // bucket(8, custkey): the hist branch replays the portable md5
    // bucket formula; the probe branch is the routed one-directory read
    "sql_partition_bucket" ->
      """WITH live AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_totalprice +
        |           CASE WHEN o_orderkey % 10 = 0 THEN 1.0 ELSE 0.0 END
        |           AS totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0)
        |SELECT 'probe' AS phase, custkey AS gv, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM live WHERE custkey = 7 GROUP BY custkey
        |UNION ALL
        |SELECT 'hist',
        |       CAST(('0x' || substr(md5(CAST(custkey AS VARCHAR)), 1, 8))
        |            AS BIGINT) % 8,
        |       COUNT(*),
        |       CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM live GROUP BY 2""".stripMargin,

    // dynamic overwrite replaced exactly the F and O partitions; 'was'
    // is the pre-overwrite bulk state read back through VERSION AS OF
    "sql_partition_dynamic" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |repl AS (SELECT k, custkey, status, totalprice * 2.0 AS totalprice
        |         FROM base WHERE status IN ('F', 'O') AND k % 3 = 0),
        |final AS (SELECT * FROM base WHERE status NOT IN ('F', 'O')
        |          UNION ALL SELECT * FROM repl)
        |SELECT 'now' AS phase, status, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM final GROUP BY status
        |UNION ALL
        |SELECT 'was', status, COUNT(*),
        |       CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM base GROUP BY status""".stripMargin,

    // the routed SQL read must equal the filtered replay exactly
    "q_partition_route" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |s1 AS (SELECT k, custkey, status,
        |         CASE WHEN k % 9 = 0 THEN totalprice + 3.0
        |              ELSE totalprice END AS totalprice
        |       FROM base)
        |SELECT custkey % 5 AS g, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM s1 WHERE status = 'O' AND k % 2 = 1
        |GROUP BY 1""".stripMargin,

    // the routed IN-list reads must equal the filtered replays exactly
    // (the engine's duplicate literal collapses; IN semantics are the
    // oracle's own)
    "q_partition_in" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |s1 AS (SELECT k, custkey, status,
        |         CASE WHEN k % 8 = 0 THEN totalprice + 2.0
        |              ELSE totalprice END AS totalprice
        |       FROM base),
        |b1 AS (SELECT * FROM base WHERE k % 13 <> 0)
        |SELECT 'id' AS phase, status AS gv, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM s1 WHERE status IN ('F', 'P') AND k % 3 = 0 GROUP BY status
        |UNION ALL
        |SELECT 'bkt', CAST(custkey AS VARCHAR), COUNT(*),
        |       CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM b1 WHERE custkey IN (7, 11) GROUP BY custkey""".stripMargin,

    // the TIMESTAMP spelling routes to the same slice as the integral
    // one — the oracle is the same nanos-window replay
    "q_partition_time_route_ts" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events
        |WHERE epoch_ns(ts) >= 1704067200000000000 + 12 * 86400000000000
        |  AND epoch_ns(ts) <  1704067200000000000 + 15 * 86400000000000
        |  AND event_id % 11 <> 0 AND event_id % 2 = 0
        |GROUP BY 1""".stripMargin,

    // the pruned partition must hold exactly the filtered post-DML state
    "q_partition_prune" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |s1 AS (SELECT k, custkey, status,
        |         CASE WHEN k % 10 = 0 THEN totalprice + 2.0
        |              ELSE totalprice END AS totalprice
        |       FROM base),
        |s2 AS (SELECT * FROM s1 WHERE k % 1000 <> 0)
        |SELECT custkey % 10 AS g, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM s2 WHERE status = 'O' GROUP BY 1""".stripMargin,

    // the SQL-created tables must land exactly the filtered/updated
    // states a direct relational pipeline computes
    "sql_create" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |small AS (SELECT * FROM base WHERE k % 7 = 0),
        |big AS (SELECT k, custkey,
        |          CASE WHEN k % 2 = 0 THEN 'X' ELSE status END AS status,
        |          totalprice
        |        FROM base WHERE totalprice > 150000.0)
        |SELECT 'small' AS src, status, COUNT(*) AS n,
        |       CAST(SUM(custkey) AS BIGINT) AS ck
        |FROM small GROUP BY status
        |UNION ALL
        |SELECT 'big' AS src, status, COUNT(*) AS n,
        |       CAST(SUM(custkey) AS BIGINT) AS ck
        |FROM big GROUP BY status""".stripMargin,

    // the join-delete replayed as an anti-join: rows of the heavy
    // custkeys vanish, everything else survives
    "sql_delete_join" ->
      s"""$fixture,
         |big AS (SELECT custkey AS ck FROM snap
         |        GROUP BY custkey HAVING COUNT(*) >= 14)
         |SELECT k, custkey, status, totalprice FROM snap t
         |WHERE NOT EXISTS (SELECT 1 FROM big WHERE big.ck = t.custkey)
         |  AND k % 5 = 0""".stripMargin,

    // the join-update replayed as a CTE stage: aggregate the snapshot,
    // LEFT JOIN it back, matched rows take the SET expressions
    "sql_update_join" ->
      s"""$fixture,
         |src AS (SELECT custkey AS ck, COUNT(*) AS cnt
         |        FROM snap GROUP BY custkey HAVING COUNT(*) >= 8),
         |upd AS (SELECT t.k, t.custkey,
         |          CASE WHEN s.ck IS NOT NULL THEN t.status || '*'
         |               ELSE t.status END AS status,
         |          CASE WHEN s.ck IS NOT NULL THEN t.totalprice + s.cnt
         |               ELSE t.totalprice END AS totalprice
         |        FROM snap t LEFT JOIN src s ON t.custkey = s.ck)
         |SELECT k, custkey, status, totalprice FROM upd
         |WHERE k % 5 = 0""".stripMargin,

    // the export read-back replays as the post-DML snapshot
    "cat_copy_to" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |s1 AS (SELECT k, custkey,
        |         CASE WHEN k % 11 = 0 THEN 'X' ELSE status END AS status,
        |         totalprice
        |       FROM base WHERE k % 13 <> 0)
        |SELECT k, custkey, status, totalprice FROM s1
        |WHERE k % 5 = 0""".stripMargin,

    // the evolved merge replayed as a LEFT JOIN: matched rows take the
    // source values (totalprice bumped, channel set), unmatched read
    // NULL for the evolved column
    "ls_merge_evolve" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |src AS (SELECT k, custkey, status,
        |          totalprice + 5.0 AS totalprice,
        |          'ch' || CAST(k % 3 AS VARCHAR) AS channel
        |        FROM base WHERE k % 4 = 0)
        |SELECT b.k, b.custkey,
        |  CASE WHEN s.k IS NOT NULL THEN s.status ELSE b.status END AS status,
        |  CASE WHEN s.k IS NOT NULL THEN s.totalprice
        |       ELSE b.totalprice END AS totalprice,
        |  s.channel AS channel
        |FROM base b LEFT JOIN src s ON b.k = s.k
        |WHERE b.k % 5 = 0""".stripMargin,

    // exactly-once replay: the table is the base slice plus each landing
    // drop ONCE — a double-load would double these rows and break both
    // the row count and the hash
    "cat_copy_into" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders)
        |SELECT k, custkey, status, totalprice FROM base
        |WHERE (k % 7 = 0 OR k % 2 = 0 OR k % 4 = 1) AND k % 5 = 0""".stripMargin,

    // DuckDB's native ASOF JOIN replays the statement — the desugar's
    // latest-strictly-earlier pick must agree row-for-row
    "sql_asof_join" ->
      """SELECT a.event_id, b.event_id AS prior_id,
        |       b.value AS prior_value
        |FROM events a ASOF JOIN events b
        |  ON a.user_id = b.user_id AND a.ts > b.ts
        |WHERE a.event_id % 37 = 0""".stripMargin,

    // DuckDB's standard recursion replays the statement verbatim —
    // identical working-table semantics is the claim under test
    "sql_recursive" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey <> b.l_partkey
        |  WHERE a.l_orderkey % 10 = 0),
        |hop(part, d) AS (
        |  SELECT p1, 0 FROM (SELECT min(p1) AS p1 FROM edges)
        |  UNION ALL
        |  SELECT e.p2, h.d + 1 FROM hop h
        |  JOIN edges e ON e.p1 = h.part WHERE h.d < 2)
        |SELECT part, CAST(min(d) AS BIGINT) AS dist,
        |       CAST(count(*) AS BIGINT) AS paths
        |FROM hop GROUP BY part ORDER BY part""".stripMargin,

    // DuckDB speaks QUALIFY natively — the oracle is the same statement
    // over the raw table
    "sql_qualify" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |FROM orders
        |QUALIFY rn <= 3
        |ORDER BY o_custkey, rn LIMIT 500""".stripMargin,

    "sql_dml" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey,
        |         o_orderstatus AS status, o_totalprice AS totalprice
        |  FROM orders),
        |s1 AS (SELECT k, custkey,
        |         CASE WHEN k % 3 = 0 THEN 'U1' ELSE status END AS status,
        |         CASE WHEN k % 3 = 0 THEN totalprice + 10.0
        |              ELSE totalprice END AS totalprice
        |       FROM base),
        |s2 AS (SELECT * FROM s1 WHERE k % 17 <> 0),
        |ins AS (SELECT k + 4000000 AS k, custkey, 'S' AS status, totalprice
        |        FROM s2 WHERE k % 500 = 0),
        |s3 AS (SELECT * FROM s2 UNION ALL SELECT * FROM ins)
        |SELECT k, custkey, status, totalprice FROM s3
        |WHERE k % 5 = 0""".stripMargin,

    // the same exact KMV order statistics, computed the expensive
    // declarative way over the post-transaction state
    "cat_analyze" ->
      """WITH snap AS (
        |  SELECT o_custkey AS custkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN 'U1' ELSE o_orderstatus END AS status
        |  FROM orders WHERE o_orderkey % 17 <> 0),
        |hc AS (SELECT DISTINCT
        |         CAST(('0x'||substr(md5(CAST(custkey AS VARCHAR)),1,15)) AS BIGINT) AS h
        |       FROM snap),
        |kc AS (SELECT h FROM hc ORDER BY h LIMIT 256),
        |hs AS (SELECT DISTINCT
        |         CAST(('0x'||substr(md5(status),1,15)) AS BIGINT) AS h
        |       FROM snap),
        |ks AS (SELECT h FROM hs ORDER BY h LIMIT 256),
        |n AS (SELECT COUNT(*) AS n_rows FROM snap)
        |SELECT 'custkey' AS col_name,
        |  CASE WHEN (SELECT COUNT(*) FROM kc) < 256
        |       THEN (SELECT COUNT(*) FROM kc)
        |       ELSE CAST(floor(255.0 * pow(2, 60) /
        |            (SELECT MAX(h) FROM kc)) AS BIGINT) END AS ndv,
        |  (SELECT n_rows FROM n) AS n_rows
        |UNION ALL
        |SELECT 'status',
        |  CASE WHEN (SELECT COUNT(*) FROM ks) < 256
        |       THEN (SELECT COUNT(*) FROM ks)
        |       ELSE CAST(floor(255.0 * pow(2, 60) /
        |            (SELECT MAX(h) FROM ks)) AS BIGINT) END,
        |  (SELECT n_rows FROM n)""".stripMargin,

    // both tables' end states recomputed from raw parquet: a transaction
    // that applied to only one table could never match both branches
    "txn_multi" ->
      """SELECT 'orders' AS tbl,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'U1' ELSE o_orderstatus END AS grp,
        |  COUNT(*) AS n,
        |  SUM(CAST(ROUND((o_totalprice +
        |    CASE WHEN o_orderkey % 3 = 0 THEN 10.0 ELSE 0.0 END) * 100)
        |    AS BIGINT)) / 100.0 AS val
        |FROM orders WHERE o_orderkey % 17 <> 0
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT 'docs', lang, COUNT(*), CAST(SUM(n_chars) AS DOUBLE)
        |FROM documents WHERE lang <> 'zh'
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT 'docs', 'xx', COUNT(*), CAST(SUM(n_chars) AS DOUBLE)
        |FROM documents WHERE lang = 'en'""".stripMargin,

    // same end state as txn_multi: the SQL transaction replays the same
    // cross-table transcript; the rolled-back first transaction must
    // leave nothing
    "sql_txn" ->
      """SELECT 'orders' AS tbl,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'U1' ELSE o_orderstatus END AS grp,
        |  COUNT(*) AS n,
        |  SUM(CAST(ROUND((o_totalprice +
        |    CASE WHEN o_orderkey % 3 = 0 THEN 10.0 ELSE 0.0 END) * 100)
        |    AS BIGINT)) / 100.0 AS val
        |FROM orders WHERE o_orderkey % 17 <> 0
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT 'docs', lang, COUNT(*), CAST(SUM(n_chars) AS DOUBLE)
        |FROM documents WHERE lang <> 'zh'
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT 'docs', 'xx', COUNT(*), CAST(SUM(n_chars) AS DOUBLE)
        |FROM documents WHERE lang = 'en'""".stripMargin,

    // cross-catalog transcript replayed sequentially: o* is catalog A's
    // orders after each statement, d* catalog B's documents
    "sql_txn_cross" ->
      """WITH o0 AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    o_totalprice AS totalprice FROM orders),
        |o1 AS (SELECT k,
        |    CASE WHEN k % 5 = 0 THEN 'GX' ELSE status END AS status,
        |    totalprice + CASE WHEN k % 5 = 0 THEN 7.0 ELSE 0.0 END AS totalprice
        |  FROM o0),
        |o2 AS (SELECT * FROM o1 WHERE k % 35 <> 0),
        |d0 AS (SELECT doc_id AS k, lang, n_chars FROM documents),
        |d1 AS (SELECT * FROM d0 WHERE lang <> 'de'),
        |d2 AS (SELECT * FROM d1
        |  UNION ALL
        |  SELECT k + 20000000, 'gx', n_chars FROM d1 WHERE lang = 'en')
        |SELECT 'orders' AS tbl, status AS grp, COUNT(*) AS n,
        |  SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) / 100.0 AS val
        |FROM o2 GROUP BY 1, 2
        |UNION ALL
        |SELECT 'docs', lang, COUNT(*), CAST(SUM(n_chars) AS DOUBLE)
        |FROM d2 GROUP BY 1, 2""".stripMargin,

    // sequential replay of the transaction: each CTE is the table state
    // after one statement — exactly what read-your-own-writes must see
    "sql_txn_ryow" ->
      """WITH s0 AS (SELECT o_orderkey AS k, o_custkey AS custkey,
        |    o_orderstatus AS status, o_totalprice AS totalprice FROM orders),
        |s1 AS (SELECT k, custkey,
        |    CASE WHEN k % 4 = 0 THEN 'RW' ELSE status END AS status,
        |    totalprice + CASE WHEN k % 4 = 0 THEN 5.0 ELSE 0.0 END AS totalprice
        |  FROM s0),
        |s2 AS (SELECT * FROM s1
        |  UNION ALL
        |  SELECT k + 9000000, custkey, 'CP', totalprice
        |  FROM s1 WHERE status = 'RW'),
        |s3 AS (SELECT * FROM s2 WHERE NOT (status = 'RW' AND k % 8 = 0))
        |SELECT 'mid' AS phase, status, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) / 100.0 AS DOUBLE) AS val
        |FROM s1 WHERE status = 'RW' GROUP BY 1, 2
        |UNION ALL
        |SELECT 'final', status, COUNT(*),
        |  CAST(SUM(CAST(ROUND(totalprice * 100) AS BIGINT)) / 100.0 AS DOUBLE)
        |FROM s3 GROUP BY 1, 2""".stripMargin,

    // the oracle recomputes the footer stats by scanning — exact numeric
    // stats make the cheap path and the expensive path hash-identical
    "cat_stats" -> {
      val specs = Seq(
        ("orders", Seq("o_orderkey", "o_custkey", "o_totalprice")),
        ("lineitem", Seq("l_quantity", "l_extendedprice")),
        ("events", Seq("user_id", "value")))
      specs.flatMap { case (t, cs) =>
        cs.map { c =>
          s"SELECT '$t' AS tbl, '$c' AS col_name, " +
            s"CAST(MIN($c) AS DOUBLE) AS min_val, " +
            s"CAST(MAX($c) AS DOUBLE) AS max_val, " +
            s"COUNT(*) - COUNT($c) AS n_nulls, COUNT(*) AS n_rows FROM $t"
        }
      }.mkString("\nUNION ALL\n")
    },

    // the oracle takes the expensive path per column: full DISTINCT, sort,
    // limit k — same order statistics, same estimate arithmetic
    "cat_ndv" -> {
      def perCol(c: String) =
        s"""SELECT '$c' AS col_name,
           |  CASE WHEN (SELECT COUNT(*) FROM h_$c) < 256
           |       THEN (SELECT COUNT(*) FROM h_$c)
           |       ELSE CAST(floor(255.0 * pow(2, 60) / (
           |              SELECT MAX(h) FROM (SELECT h FROM h_$c ORDER BY h
           |                                  LIMIT 256))) AS BIGINT)
           |  END AS ndv""".stripMargin
      val ctes = Seq("o_custkey", "o_orderkey", "o_orderpriority").map(c =>
        s"""h_$c AS (SELECT DISTINCT
           |  CAST(('0x'||substr(md5(CAST($c AS VARCHAR)),1,15)) AS BIGINT) AS h
           |  FROM orders)""".stripMargin).mkString("WITH ", ",\n", "")
      ctes + "\n" +
        Seq("o_custkey", "o_orderkey", "o_orderpriority").map(perCol)
          .mkString("\nUNION ALL\n")
    },

    // two independent branches from the shared clone point — a clone
    // leaking its source's post-clone commit (or vice versa) breaks this
    "cat_clone" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey, o_orderstatus AS status,
        |         o_totalprice AS totalprice FROM orders),
        |v1 AS (SELECT k, custkey,
        |         CASE WHEN k % 3 = 0 THEN 'U1' ELSE status END AS status,
        |         CASE WHEN k % 3 = 0 THEN totalprice + 10.0
        |              ELSE totalprice END AS totalprice FROM base),
        |src AS (SELECT k, custkey,
        |          CASE WHEN k % 7 = 0 THEN 'S' ELSE status END AS status,
        |          totalprice FROM v1),
        |cl AS (SELECT k, custkey,
        |         CASE WHEN k % 5 = 0 THEN 'C' ELSE status END AS status,
        |         totalprice FROM v1)
        |SELECT 'src' AS side, k, custkey, status, totalprice FROM src
        |WHERE k <= 1500
        |UNION ALL
        |SELECT 'clone' AS side, k, custkey, status, totalprice FROM cl
        |WHERE k <= 1500""".stripMargin,

    // base + the CLEAN commit only: any trace of the rejected
    // transaction (negated prices) breaks the hash
    "cat_constraint" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_custkey AS custkey, o_orderstatus AS status,
        |         o_totalprice AS totalprice FROM orders),
        |v1 AS (SELECT k, custkey,
        |         CASE WHEN k % 6 = 0 THEN 'OK' ELSE status END AS status,
        |         CASE WHEN k % 6 = 0 THEN totalprice + 5.0
        |              ELSE totalprice END AS totalprice FROM base)
        |SELECT k, custkey, status, totalprice FROM v1 WHERE k <= 2000""".stripMargin,

    "cat_tables" -> {
      val cols = Map(
        "region" -> 2, "nation" -> 3, "customer" -> 5, "supplier" -> 4,
        "part" -> 6, "orders" -> 6, "lineitem" -> 11, "events" -> 6,
        "documents" -> 5, "embeddings" -> 3)
      Tables.names.map { n =>
        s"SELECT '$n' AS tbl, (SELECT COUNT(*) FROM $n) AS n_rows, ${cols(n)} AS n_cols"
      }.mkString("\nUNION ALL\n")
    }
  )
}
