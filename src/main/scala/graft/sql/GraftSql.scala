package graft.sql

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedNamespace, UnresolvedRelation, UnresolvedStar, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{CheckConstraint, EqualNullSafe, EqualTo, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.parser.SqlBaseLexer
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.Bridge

import graft.core.{Catalog, LineageTable, Txn}
import graft.sql.GraftSql.Lexed

/**
 * SQL DML front door: `INSERT` / `UPDATE` / `DELETE` / `MERGE INTO` as
 * SQL strings against registered graft tables, parsed by Spark's OWN
 * ANSI parser and mapped onto the engine's native ops
 * ([[graft.core.Txn]] through [[graft.core.Catalog.commit]] for durable
 * tables; [[graft.core.LineageTable]] directly for in-session ones).
 * This closes the half of the SQL surface the r6/r7 read front door
 * (registered snapshot views + injected functions) left open — the
 * reference's write surface is query.py:57 (insert), 131 (update), 27
 * (delete) behind a host-language API; here the same writes are ANSI
 * statements (reads pass through to `spark.sql` untouched).
 *
 * Architecture: no grammar of our own — `Bridge.parsePlan` runs the
 * session parser, and the UNRESOLVED catalyst command trees
 * (`MergeIntoTable`, `UpdateTable`, `DeleteFromTable`,
 * `InsertIntoStatement`) are pattern-matched before analysis (analysis
 * would reject them: graft tables are not V2 catalog tables). Source
 * subtrees (`USING (...)`, `INSERT ... SELECT`, `VALUES`) go through
 * the full analyzer via `Bridge.ofRows`, so they can read any view or
 * function the session knows. Condition/assignment expressions are
 * re-based onto the engine's DataFrames by stripping their dangling
 * alias qualifiers — the engine evaluates them against the same columns
 * the SQL names. The four forms Spark's grammar lacks (UPDATE … FROM,
 * DELETE … USING, QUALIFY, ASOF JOIN) and BEGIN/COMMIT/ROLLBACK are
 * read from the token stream of Spark's own `SqlBaseLexer`, lexed once
 * per statement ([[GraftSql.Lexed]]) — no second lexer, no regex over
 * statement text.
 *
 * Scale: the translation is pure plan surgery on the driver; every
 * statement executes as the SAME distributed op the Column API builds
 * (PlanAuditSpec pins ls_merge_into's SQL and Column routes to
 * identical executed plans), so the SQL surface inherits the engine's
 * delta-proportional merge cost, pushed-down update/delete predicates,
 * and single-`_ver` atomicity — there is no second execution path to
 * keep fast.
 */
class GraftSql(val spark: SparkSession) {

  /** In-session tables: name → current lineage (mutated in place by DML,
    * like the reference's in-process Query API over an open table). */
  private val session = TrieMap.empty[String, LineageTable]
  /** Durable tables: name → (catalog, stored name); DML commits. */
  private val durable = TrieMap.empty[String, (Catalog, String)]

  /** Register an in-session table. DML mutates the registered handle;
    * reads see the CURRENT snapshot through the refreshed view. */
  def register(name: String, t: LineageTable): GraftSql = {
    session(name) = t
    refreshView(name)
    this
  }

  /** Register a warehouse table: DML becomes a durable catalog commit. */
  def register(name: String, cat: Catalog, table: String): GraftSql = {
    durable(name) = (cat, table)
    refreshView(name)
    this
  }

  /** Default catalog for SQL-created tables: `CREATE TABLE ... USING
    * graft` lands here as a durable table (and auto-registers). Without
    * an attached catalog, CREATE TABLE makes an in-session table — the
    * same two-tier story as [[register]]. */
  private var attached: Option[Catalog] = None

  /** Attach the warehouse `CREATE TABLE` statements create into. */
  def attach(cat: Catalog): GraftSql = { attached = Some(cat); this }

  /** Current state of a registered table. */
  def table(name: String): LineageTable =
    session.getOrElse(name,
      durable.get(name).map { case (c, t) => c.getTable(t) }
        .getOrElse(throw new IllegalArgumentException(
          s"graft SQL: unknown table '$name' — register() it first")))

  // ------------------------------------------------- SQL transactions

  /** Open transaction: statement-ordered per-table [[Txn]] accumulation
    * (None = autocommit), each alongside the table's BASE pinned at its
    * FIRST stash — every RYOW overlay re-registration folds the staged
    * ops over that one base, so a concurrent commit by another process
    * mid-transaction cannot shift the overlay between statements (the
    * durable COMMIT target is deliberately NOT pinned: ops land on
    * whatever state holds the commit point, the lakehouse rule).
    * LinkedHashMap keeps first-touch order for error messages; commit
    * order is [[Catalog.commitMulti]]'s sorted global order. */
  private var openTxn: Option[scala.collection.mutable.LinkedHashMap[
      String, (graft.core.LineageTable, Txn)]] = None

  private def inTxn: Boolean = openTxn.isDefined

  /** `BEGIN` / `COMMIT` / `ROLLBACK` recognized as bare control
    * statements. Spark's grammar has no session-transaction statements
    * (its BEGIN opens a SQL-scripting compound block), so these three
    * keywords are matched on the statement's tokens — the one bounded
    * departure from the no-second-grammar rule, two tokens deep. */
  private def txnControl(lx: Lexed): Option[String] =
    if (lx.size > 2) None
    else lx.toks.map(_.text.toUpperCase).mkString(" ") match {
      case "BEGIN" | "BEGIN TRANSACTION" | "START TRANSACTION" => Some("BEGIN")
      case "COMMIT" => Some("COMMIT")
      case "ROLLBACK" | "ABORT" => Some("ROLLBACK")
      case _ => None
    }

  /**
   * SQL multi-statement transactions: `BEGIN; <DML>...; COMMIT` maps the
   * accumulated statements onto ONE [[Catalog.commitMulti]] staged
   * commit — both-or-neither across every touched table under any crash,
   * the reference's multi-table Transaction (transaction.py binds queries
   * to arbitrary tables) as ANSI SQL. Semantics:
   *
   *   - DML inside the transaction targets registered DURABLE tables
   *     (atomicity is the staged write-ahead protocol; an in-session
   *     handle or a non-graft table has no staging to join — loud error);
   *   - statements accumulate per table IN ORDER and land as one commit
   *     per table inside the one cross-table commit point;
   *   - reads inside the transaction see READ-YOUR-OWN-WRITES overlays:
   *     each staged statement re-registers its table's view as the
   *     pre-transaction snapshot with the accumulated ops applied IN
   *     MEMORY (nothing persists until COMMIT — the durable state and
   *     every other session's view of it do not move). This matches the
   *     reference's Transaction.run, which executes each op immediately;
   *     materialized-view routing is suspended while writes are staged
   *     (the mview is current vs durable state but stale vs the overlay);
   *   - COMMIT: every table's accumulated ops stage, gate through CHECK
   *     constraints (any violation aborts the WHOLE transaction —
   *     nothing lands anywhere), then roll forward from the atomic
   *     commit point. The failed transaction is rolled back (state
   *     cleared), matching the reference's abort;
   *   - ROLLBACK: discard everything (free — nothing was written);
   *   - maintenance (CALL) and schema (ALTER TABLE) inside a
   *     transaction are rejected loud: physical maintenance is not
   *     transactional in any lakehouse, and a half-rolled-back schema
   *     change is worse than none.
   */
  private def runTxnControl(op: String): DataFrame = {
    op match {
      case "BEGIN" =>
        require(!inTxn, "graft SQL: BEGIN inside an open transaction — " +
          "COMMIT or ROLLBACK first (nested transactions are not supported)")
        openTxn = Some(scala.collection.mutable.LinkedHashMap.empty)
      case "ROLLBACK" =>
        require(inTxn, "graft SQL: ROLLBACK without an open transaction")
        val stashed = openTxn.get
        openTxn = None
        // the RYOW overlays die with the transaction — restore the
        // durable snapshots
        stashed.keys.foreach(refreshView)
      case "COMMIT" =>
        require(inTxn, "graft SQL: COMMIT without an open transaction")
        val stashed = openTxn.get
        openTxn = None // cleared FIRST: a failed commit is an abort
        if (stashed.nonEmpty) {
          // two registered names aliasing one stored table (in one
          // catalog) would silently drop one table's statements in the
          // maps below — reject loud
          val stored = stashed.keys
            .map(n => (durable(n)._1, durable(n)._2)).toSeq
          require(stored.distinct.size == stored.size, "graft SQL COMMIT: " +
            "two registered names alias the same stored table " +
            s"(${stored.map(_._2).mkString(", ")}) — route the " +
            "statements through one name")
          // group by catalog: one catalog commits through commitMulti's
          // single commit point; several commit through commitAcross's
          // cross-catalog two-phase point (r12) — both-or-neither across
          // every table of every catalog under any crash
          val parts = stashed.toSeq
            .groupBy { case (n, _) => durable(n)._1 }
            .toSeq
            .map { case (cat, entries) =>
              cat -> entries.map { case (n, (_, t)) =>
                (durable(n)._2, t) }.toMap
            }
          // refreshView in FINALLY: on success the views adopt the new
          // durable state; on abort (constraint violation — nothing
          // landed anywhere) they revert from the RYOW overlay to the
          // intact pre-transaction snapshots
          try graft.core.Catalog.commitAcross(parts)
          finally stashed.keys.foreach(refreshView)
        }
    }
    spark.emptyDataFrame
  }

  /** Stash a statement's op into the open transaction, then re-register
    * the table's view as the READ-YOUR-OWN-WRITES overlay: the table's
    * base as pinned at its FIRST stash with every staged op applied in
    * memory ([[Txn.commit]] is a pure LineageTable fold — nothing
    * persists, so ROLLBACK stays free and the durable commit point is
    * untouched). A later SELECT in the same transaction now sees earlier
    * writes — the reference's Transaction.run semantics
    * (transaction.py:26 executes each op immediately), which pure
    * snapshot isolation diverged from.
    *
    * The overlay snapshot is EAGERLY MATERIALIZED (`localCheckpoint`)
    * before the view registers. A lazy overlay pins only a PLAN — its
    * leaf file listing can be invalidated by unrelated catalog traffic
    * between stash and evaluation, so a mid-transaction SELECT (or the
    * source of a staged INSERT..SELECT, which resolves against this
    * same view) evaluated after COMMIT could silently re-read
    * post-commit state. Checkpointing pins VALUES: everything that read
    * the overlay returns the same rows no matter when or where it is
    * executed — the reference's immediate-execution semantics. The cost
    * is one O(overlay) materialization per staged statement, bounded by
    * the open-transaction lifetime; that is the price of
    * read-your-own-writes, not an implementation artifact. */
  private def stash(name: String, txn: Txn): DataFrame = {
    require(durable.contains(name), "graft SQL: DML on in-session table " +
      s"'$name' inside a transaction — atomic transactions need the " +
      "durable staged-commit path; register(name, catalog, table) or " +
      "run the statement outside BEGIN..COMMIT")
    val m = openTxn.get
    val (cat, tbl) = durable(name)
    val (base, acc) = m.get(name) match {
      case Some((b, t0)) => (b, t0.andThen(txn))
      case None => (cat.getTable(tbl), txn)
    }
    m(name) = (base, acc)
    acc.commit(base).snapshot
      .localCheckpoint(true).createOrReplaceTempView(name)
    spark.emptyDataFrame
  }

  /** One SQL statement. DML against a registered table executes the
    * engine op and returns an empty frame (Spark's own DML convention);
    * everything else passes through to `spark.sql` (snapshot views are
    * kept registered, so SELECTs over registered tables just work).
    * Inside BEGIN..COMMIT, DML accumulates instead (see
    * [[runTxnControl]]). */
  def sql(statement: String): DataFrame = {
    val lx = new Lexed(statement)
    txnControl(lx) match {
      case Some(op) => runTxnControl(op)
      case None => sqlParsed(statement, lx)
    }
  }

  private def sqlParsed(statement: String, lx: Lexed): DataFrame = {
    // QUALIFY is not in Spark's grammar either — and its failure mode is
    // worse than a ParseException (the keyword can parse as a table
    // alias and fail later with a misleading error), so the desugar is
    // probed FIRST; so is ASOF JOIN, which parses with ASOF as an alias
    val desugared = runQualify(lx).orElse(runAsofJoin(lx))
    if (desugared.isDefined) return desugared.get
    // UPDATE ... FROM is not in Spark's grammar: when the parser rejects
    // an UPDATE statement, try the join-update desugar before giving up
    val plan =
      try Bridge.parsePlan(spark, statement)
      catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          return runUpdateFrom(lx)
            .orElse(runDeleteUsing(lx)).getOrElse(throw e)
      }
    sqlPlanned(statement, plan)
  }

  /**
   * `UPDATE t [AS a] SET c = expr, ... FROM src [AS s] WHERE cond` —
   * the Postgres/T-SQL join-update, desugared onto the engine merge
   * (the first DML shape a Delta user types that MERGE-only front doors
   * reject). Spark's grammar has no FROM clause on UPDATE, so the front
   * door rewrites the statement's tokens into one source SELECT — every
   * target column, with the SET expressions substituted — inner-joined
   * to the source on the WHERE condition, and feeds it to the same
   * [[Txn.mergeInto]] the MERGE path uses:
   *   - only matched target rows appear in the merge source (inner
   *     join against the snapshot view), so nothing inserts and
   *     unmatched target rows are untouched — UPDATE semantics exactly;
   *   - SET expressions may reference BOTH sides (the whole point of
   *     the join-update) because they evaluate inside the source
   *     SELECT, where both sides are in scope;
   *   - a target row matching MORE THAN ONE source row rejects loud —
   *     the Delta cardinality rule — via the engine's distributed
   *     duplicate-source-key raise_error (no extra pass: the check
   *     rides the merge's own candidate-key aggregation).
   * The one-statement-one-commit contract holds: the rewrite is one
   * merge, one `_ver` stamp, and inside BEGIN..COMMIT it stashes like
   * every other DML.
   */
  private def runUpdateFrom(lx: Lexed): Option[DataFrame] = for {
    // target + optional alias, then FROM and WHERE at depth 0 (a
    // subquery source carries its own FROM/WHERE inside parentheses)
    (tName, alias, iSet) <-
      if (lx.is(0, "UPDATE")) lx.named(1, "SET") else None
    if isRegistered(tName)
    iFrom <- lx.find(iSet)(lx.is(_, "FROM"))
    iWhere <- lx.find(iFrom + 1)(lx.is(_, "WHERE"))
  } yield {
    val t = table(tName)
    val tAlias = alias.getOrElse(tName)
    // split the SET list on depth-0 commas (commas inside parentheses
    // or string literals belong to the expressions)
    val assigns = lx.split(iSet, iFrom)(lx.kind(_) == SqlBaseLexer.COMMA)
      .map { case (a, b) =>
        val eq = lx.find(a, b)(lx.kind(_) == SqlBaseLexer.EQ).getOrElse(a)
        require(eq > a,
          s"graft SQL UPDATE FROM: malformed assignment '${lx.slice(a, b)}'")
        val c = lx.toks(eq - 1).name
        require(t.dataCols.contains(c) && c != t.keyCol,
          s"graft SQL UPDATE FROM: SET target must be a non-key data " +
            s"column of '$tName', got '$c'")
        c -> lx.slice(eq + 1, b)
      }
    require(assigns.map(_._1).distinct.size == assigns.size,
      "graft SQL UPDATE FROM: a column is SET twice")
    // one source row per matched target row: every data column, SET
    // expressions substituted in place (both sides in scope)
    val selects = t.dataCols.map { c =>
      assigns.find(_._1 == c)
        .map { case (_, e) => s"($e) AS `$c`" }
        .getOrElse(s"`$tAlias`.`$c` AS `$c`")
    }
    val src = spark.sql(s"SELECT ${selects.mkString(", ")} " +
      s"FROM `$tName` AS `$tAlias` JOIN ${lx.slice(iFrom + 1, iWhere)} " +
      s"ON (${lx.slice(iWhere + 1, lx.size)})")
    // Delta cardinality rule, checked EAGERLY: a session table's
    // merge is lazy (nothing executes until the next snapshot
    // read), so relying on the engine's distributed raise_error
    // alone would defer the rejection to an arbitrary later read —
    // and leave the table poisoned. One |source|-priced count here
    // keeps the statement all-or-nothing; the engine's own guard
    // still rides the merge for the durable path.
    val dup = src.groupBy(col(t.keyCol)).count()
      .where(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"graft SQL UPDATE FROM: target row with key " +
        s"'${dup.head.get(0)}' matched more than one source row — " +
        "aggregate or deduplicate the FROM source so each target " +
        "row matches at most once (the Delta cardinality rule)")
    apply(tName, Txn.empty.mergeInto(src, assigns.map(_._1)))
  }

  /**
   * `DELETE FROM t [AS a] USING src [AS s] WHERE cond` — the Postgres
   * join-delete, [[runUpdateFrom]]'s companion on the same engine-merge
   * desugar: the merge source is the DISTINCT target rows the join
   * matches (the snapshot is key-unique, so DISTINCT collapses
   * multi-match — which Postgres DELETE permits, unlike the UPDATE
   * cardinality rule) and every matched row takes the delete arm. One
   * statement, one `_ver` tombstone stamp, |matched|-priced; unmatched
   * target rows never appear in the source, nothing inserts.
   */
  private def runDeleteUsing(lx: Lexed): Option[DataFrame] = for {
    (tName, alias, iUsing) <-
      if (lx.is(0, "DELETE") && lx.is(1, "FROM")) lx.named(2, "USING")
      else None
    if isRegistered(tName)
    iWhere <- lx.find(iUsing)(lx.is(_, "WHERE"))
  } yield {
    val t = table(tName)
    val tAlias = alias.getOrElse(tName)
    val selects = t.dataCols
      .map(c => s"`$tAlias`.`$c` AS `$c`").mkString(", ")
    val src = spark.sql(s"SELECT DISTINCT $selects " +
      s"FROM `$tName` AS `$tAlias` JOIN ${lx.slice(iUsing, iWhere)} " +
      s"ON (${lx.slice(iWhere + 1, lx.size)})")
    apply(tName, Txn.empty.mergeInto(src,
      t.dataCols.filterNot(_ == t.keyCol),
      deleteWhen = Some(lit(true))))
  }

  /**
   * `SELECT ... QUALIFY <pred> [ORDER BY ...] [LIMIT ...]` — the
   * window-filter clause (DuckDB/Snowflake/BigQuery/Teradata), absent
   * from Spark's grammar. Desugared over the statement's tokens onto
   * one plain Spark SQL statement with the clause's exact evaluation
   * order (after windows and HAVING, before ORDER BY/LIMIT):
   *   - the predicate becomes one extra projected boolean column of the
   *     statement-without-QUALIFY (windows in the predicate evaluate in
   *     the same Window operator as the select list's own — Catalyst
   *     dedupes identical window specs, so `rn <= 3` costs nothing
   *     beyond the `rn` the user already computes);
   *   - select-list aliases referenced by the predicate are substituted
   *     by their definitions (Spark's lateral column alias resolution
   *     refuses window expressions, so `QUALIFY rn <= 3` cannot lean on
   *     it); only bare identifier tokens are aliases, never a string
   *     literal or a qualified `x.rn`;
   *   - that query becomes a derived table; the outer query filters on
   *     the flag and carries the trailing ORDER BY/LIMIT, and a leading
   *     WITH clause stays in front of it. No view is registered.
   * Every clause location is a depth-0 token — a subquery's own
   * QUALIFY/ORDER/FROM inside parentheses never splits the outer
   * statement, and neither does a keyword inside a literal or comment.
   * SELECT DISTINCT rejects loud: the flag column would change the
   * distinct key set, and the clause's semantics over DISTINCT differ
   * across dialects — not worth a silent guess.
   */
  private def runQualify(lx: Lexed): Option[DataFrame] =
    lx.find(0)(lx.is(_, "QUALIFY")).filter(_ => lx.isQuery).map { iQ =>
      val cut = lx.find(iQ + 1)(i => lx.is(i, "ORDER") || lx.is(i, "LIMIT"))
        .getOrElse(lx.size)
      require(cut > iQ + 1, "graft SQL QUALIFY: empty predicate")
      // the outermost select list spans the depth-0 SELECT to the
      // depth-0 FROM (CTE bodies and subqueries are parenthesized)
      val iSel = lx.find(0, iQ)(lx.is(_, "SELECT")).getOrElse(-1)
      require(iSel >= 0, "graft SQL QUALIFY: no top-level SELECT")
      require(!lx.is(iSel + 1, "DISTINCT"),
        "graft SQL QUALIFY: QUALIFY with SELECT DISTINCT is not supported " +
          "— filter in an outer query instead")
      val iFrom = lx.find(iSel + 1, iQ)(lx.is(_, "FROM")).getOrElse(-1)
      require(iFrom >= 0, "graft SQL QUALIFY: no top-level FROM")
      // alias → definition; only the explicit `expr AS alias` form
      // defines one (CAST(y AS INT)'s AS sits inside parentheses)
      val aliases = lx.split(iSel + 1, iFrom)(lx.kind(_) == SqlBaseLexer.COMMA)
        .collect { case (a, b) if b - a > 2 && lx.is(b - 2, "AS") &&
            lx.ident(b - 1) =>
          lx.toks(b - 1).name.toLowerCase -> lx.slice(a, b - 2)
        }.toMap
      val pred = lx.rewrite(iQ + 1, cut) { i =>
        if (!lx.ident(i) || lx.qualified(i)) None
        else aliases.get(lx.toks(i).name.toLowerCase).map(d => (s"($d)", 1))
      }
      val inner = s"${lx.slice(iSel, iFrom)}, ($pred) AS __qualify " +
        lx.slice(iFrom, iQ)
      spark.sql(s"${lx.slice(0, iSel)} SELECT * FROM ($inner) " +
        s"WHERE __qualify ${lx.slice(cut, lx.size)}").drop("__qualify")
    }

  /**
   * `FROM a ASOF JOIN b ON a.k = b.k AND a.ts > b.ts` — the
   * DuckDB/kdb as-of join in the front door (Spark's grammar has no
   * ASOF). Desugared onto an equi-joined domain with a per-key
   * `row_number() = 1` pick (the shape is explained in the body), so the
   * executed plan is shuffle joins + WindowGroupLimit, never a per-row
   * loop or a nested-loop join. Semantics matched
   * to DuckDB's default: INNER (a left row with no match drops), the
   * picked row is the extreme of the b-side inequality expression —
   * latest-at-or-before for a backward join (`a.ts >= b.ts`), earliest
   * -at-or-after for forward (`a.ts <= b.ts`); strict variants the
   * same. Supported form: plain table/view names with aliases, ON a
   * conjunction of equalities plus EXACTLY one inequality (both
   * dialects' contract); anything else rejects loud. Ties on the
   * b-side expression are unspecified in DuckDB too — fixtures must be
   * tie-free.
   */
  private def runAsofJoin(lx: Lexed): Option[DataFrame] =
    // the two-word ASOF JOIN sequence, not the bare word — `'v0' AS
    // asof` is a legal column alias (the r14 full sweep caught exactly
    // that collision in sql_asof's time-travel statement)
    lx.find(0)(i => lx.is(i, "ASOF") && lx.is(i + 1, "JOIN"))
      .filter(_ => lx.isQuery).map { iA =>
      // FROM <t1> [AS] <a1> ASOF JOIN <t2> [AS] <a2> ON
      val left = Seq(iA - 4, iA - 3).filter(lx.is(_, "FROM")).flatMap { f =>
        lx.named(f + 1, "ASOF").collect {
          case (t, Some(a), next) if next == iA + 1 => (f, t, a) }
      }.headOption
      val right = lx.named(iA + 2, "ON").collect {
        case (t, Some(a), next) => (t, a, next) }
      val ((iFrom, t1, a1), (t2, a2, iOn)) = left.zip(right).getOrElse(
        throw new IllegalArgumentException("graft SQL ASOF JOIN: supported " +
          "form is FROM <table> <alias> ASOF JOIN <table> <alias> ON " +
          "<equalities AND one inequality>"))
      val onEnd = lx.find(iOn)(i => Seq("WHERE", "GROUP", "HAVING", "ORDER",
          "LIMIT", "QUALIFY", "UNION").exists(lx.is(i, _)))
        .getOrElse(lx.size)
      val (ge, le) = (Seq(SqlBaseLexer.GT, SqlBaseLexer.GTE),
        Seq(SqlBaseLexer.LT, SqlBaseLexer.LTE))
      val ineqs = lx.split(iOn, onEnd)(lx.is(_, "AND")).flatMap { case (a, b) =>
        lx.find(a, b)(i => (ge ++ le).contains(lx.kind(i))).map(op => (a, op, b))
      }
      require(ineqs.size == 1, "graft SQL ASOF JOIN: the ON condition " +
        s"needs exactly ONE inequality (got ${ineqs.size}) — equalities " +
        "pick the key, the inequality picks the as-of direction")
      val (lo, op, hi) = ineqs.head
      def bRef(from: Int, until: Int) = (from until until).exists(lx.ref(_, a2))
      val (bExpr, backward) =
        if (bRef(op + 1, hi) && !bRef(lo, op))
          (lx.slice(op + 1, hi), ge.contains(lx.kind(op)))
        else if (bRef(lo, op) && !bRef(op + 1, hi))
          (lx.slice(lo, op), le.contains(lx.kind(op)))
        else throw new IllegalArgumentException("graft SQL ASOF JOIN: the " +
          "inequality must compare a left-side expression to a " +
          s"'$a2'-side expression")
      val dir = if (backward) "DESC" else "ASC"
      // Desugar to the engine's own asof shape (q_asof_join /
      // OlapQueries.rankValue): a DISTINCT domain over the LEFT columns
      // the ON references, EQUI-joined to the right side (the equalities
      // become hash-join keys; the one inequality rides as the join
      // filter), one row_number()=1 pick per domain tuple, then an equi
      // JOIN-BACK to the left table. The r14.0 correlated-LATERAL
      // spelling handed Catalyst's decorrelation only the INEQUALITY for
      // its domain join — a BroadcastNestedLoopJoin of |distinct ts| ×
      // |right| (~5·10⁹ rows at sf0.1, 28 GB of sort spill, unfinishable;
      // plans/r14/sql_asof_join_before.txt) — while this spelling keeps
      // every equality in an Exchange-keyed join, so the pair explosion
      // is bounded per key group, the shape that scales. The pick rule
      // (ORDER BY <right expr> DESC/ASC, first row) is unchanged.
      def leftRef(i: Int) = lx.ref(i, a1) && lx.ident(i + 2)
      // left columns the ON condition references, in first-use order
      val leftCols = (iOn until onEnd).filter(leftRef)
        .map(i => lx.toks(i + 2).name).distinctBy(_.toLowerCase)
      require(leftCols.nonEmpty, "graft SQL ASOF JOIN: the ON condition " +
        s"references no '$a1'-side columns")
      val slot = leftCols.map(_.toLowerCase).zipWithIndex.toMap
      val domCols = leftCols.zipWithIndex
        .map { case (c, i) => s"`$a1`.`$c` AS __asof_k$i" }
        .mkString(", ")
      // rewrite a.<col> -> __dl.__asof_k<i> inside the ON condition
      val condDl = lx.rewrite(iOn, onEnd) { i =>
        Option.when(leftRef(i))(
          (s"__dl.__asof_k${slot(lx.toks(i + 2).name.toLowerCase)}", 3))
      }
      val joinBack = leftCols.zipWithIndex
        .map { case (c, i) => s"`$a1`.`$c` = `$a2`.__asof_k$i" }
        .mkString(" AND ")
      val partBy = leftCols.indices.map(i => s"__dl.__asof_k$i").mkString(", ")
      spark.sql(lx.slice(0, iFrom) +
        s" FROM `$t1` `$a1` JOIN (" +
        s"SELECT * FROM (" +
        s"SELECT __dl.*, `$a2`.*, row_number() OVER (" +
        s"PARTITION BY $partBy ORDER BY $bExpr $dir) AS __asof_rn " +
        s"FROM (SELECT DISTINCT $domCols FROM `$t1` `$a1`) __dl " +
        s"JOIN `$t2` `$a2` ON $condDl" +
        s") WHERE __asof_rn = 1" +
        s") `$a2` ON $joinBack " + lx.slice(onEnd, lx.size))
    }

  private def sqlPlanned(statement: String, plan: LogicalPlan): DataFrame = plan match {
    case m: MergeIntoTable if targetOf(m.targetTable).exists(isRegistered) =>
      runMerge(targetOf(m.targetTable).get, m)
    case u: UpdateTable if targetOf(u.table).exists(isRegistered) =>
      apply(targetOf(u.table).get, txnUpdate(u))
    case d: DeleteFromTable if targetOf(d.table).exists(isRegistered) =>
      apply(targetOf(d.table).get, Txn.empty.delete(rebased(d.condition)))
    case i: InsertIntoStatement if targetOf(i.table).exists(isRegistered) =>
      runInsert(targetOf(i.table).get, i)
    case a: AddCheckConstraint if targetOf(a.child).exists(isRegistered) =>
      noTxn("ALTER TABLE"); runAddConstraint(targetOf(a.child).get, a.checkConstraint)
    case a: AddConstraint if targetOf(a.table).exists(isRegistered) =>
      noTxn("ALTER TABLE"); a.tableConstraint match {
        case c: CheckConstraint =>
          runAddConstraint(targetOf(a.table).get, c)
        case other => throw new IllegalArgumentException(
          s"graft SQL: only CHECK constraints are enforced, got $other — " +
            "the lineage key is unique by snapshot construction (no PK " +
            "constraint needed); FOREIGN KEY is not supported")
      }
    case dc: DropConstraint if targetOf(dc.table).exists(isRegistered) =>
      noTxn("ALTER TABLE"); runDropConstraint(targetOf(dc.table).get, dc)
    // ALTER TABLE ... ADD/DROP/RENAME COLUMN — metadata-only evolution
    // (Catalog.addColumn / dropColumn / renameColumn, the Delta
    // column-mapping family); durable tables only, like constraints
    case a: AddColumns if targetOf(a.table).exists(isRegistered) =>
      noTxn("ALTER TABLE")
      val name = targetOf(a.table).get
      val cat = durableCat(name, "ADD COLUMN")
      a.columnsToAdd.foreach { qc =>
        require(qc.name.length == 1, "graft SQL ADD COLUMN: nested " +
          s"fields are not supported (${qc.name.mkString(".")})")
        cat._1.addColumn(cat._2, qc.name.head, qc.dataType.simpleString)
      }
      refreshView(name); spark.emptyDataFrame
    case d: DropColumns if targetOf(d.table).exists(isRegistered) =>
      noTxn("ALTER TABLE")
      val name = targetOf(d.table).get
      val cat = durableCat(name, "DROP COLUMN")
      d.columnsToDrop.foreach {
        case org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName(parts) =>
          require(parts.length == 1, "graft SQL DROP COLUMN: nested " +
            s"fields are not supported (${parts.mkString(".")})")
          if (!(d.ifExists && !table(name).dataCols.contains(parts.head)))
            cat._1.dropColumn(cat._2, parts.head)
        case other => throw new IllegalArgumentException(
          s"graft SQL DROP COLUMN: unsupported field reference $other")
      }
      refreshView(name); spark.emptyDataFrame
    // DROP TABLE — deregisters the name and (durable tables) deletes the
    // warehouse directory. Erasure-on-drop rather than Delta's
    // keep-until-VACUUM: the engine's erasure surface (purge/vacuum) is
    // explicit elsewhere, and a dropped table lingering on disk would be
    // the surprising half-state.
    case dt: DropTable if targetOf(dt.child).exists(isRegistered) =>
      noTxn("DROP TABLE")
      val name = targetOf(dt.child).get
      if (session.remove(name).isEmpty) {
        val (cat, tbl) = durable(name)
        cat.dropTable(tbl)
        durable.remove(name)
      }
      spark.catalog.dropTempView(name)
      spark.emptyDataFrame
    // CREATE TABLE ... USING graft — the explicit provider is the
    // opt-in (any other provider passes through to Spark untouched):
    // an empty keyed table from the column list, or CTAS from any
    // query the session can analyze. With an attached catalog the
    // table is durable (and auto-registered, the CALL create_mview
    // rule); otherwise in-session. Completes the SQL-only lifecycle:
    // CREATE → DML/SELECT → maintenance CALLs → DROP TABLE.
    case ct: CreateTable if providerIsGraft(ct.tableSpec) =>
      noTxn("CREATE TABLE")
      runCreate(createName(ct.name), ct.ignoreIfExists,
        specOptions(ct.tableSpec), Left(ct.columns),
        partitionSpecsOf(ct.partitioning))
    case cas: CreateTableAsSelect if providerIsGraft(cas.tableSpec) =>
      noTxn("CREATE TABLE")
      runCreate(createName(cas.name), cas.ignoreIfExists,
        specOptions(cas.tableSpec), Right(cas.query),
        partitionSpecsOf(cas.partitioning))
    // ALTER TABLE ... ALTER COLUMN c TYPE t — metadata-only type
    // WIDENING (r11, Catalog.widenColumn); comments/positions/defaults
    // and narrowing reject loud
    case a: AlterColumns if targetOf(a.table).exists(isRegistered) =>
      noTxn("ALTER TABLE")
      val name = targetOf(a.table).get
      val cat = durableCat(name, "ALTER COLUMN")
      a.specs.foreach { spec =>
        require(spec.newDataType.isDefined && spec.newNullability.isEmpty &&
          spec.newComment.isEmpty && spec.newPosition.isEmpty &&
          spec.newDefaultExpression.isEmpty,
          "graft SQL ALTER COLUMN: only TYPE <widening> is supported")
        require(spec.column.name.length == 1, "graft SQL ALTER COLUMN: " +
          s"nested fields are not supported (${spec.column.name.mkString(".")})")
        cat._1.widenColumn(cat._2, spec.column.name.head,
          spec.newDataType.get.simpleString)
      }
      refreshView(name); spark.emptyDataFrame
    case r: RenameColumn if targetOf(r.table).exists(isRegistered) =>
      noTxn("ALTER TABLE")
      val name = targetOf(r.table).get
      val cat = durableCat(name, "RENAME COLUMN")
      r.column match {
        case org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName(parts) =>
          require(parts.length == 1, "graft SQL RENAME COLUMN: nested " +
            s"fields are not supported (${parts.mkString(".")})")
          cat._1.renameColumn(cat._2, parts.head, r.newName)
        case other => throw new IllegalArgumentException(
          s"graft SQL RENAME COLUMN: unsupported field reference $other")
      }
      refreshView(name); spark.emptyDataFrame
    // ALTER TABLE ... RENAME TO — one atomic directory rename for
    // durable tables (Catalog.renameTable: every artifact lives under
    // the table directory, so history/constraints/indexes travel with
    // zero data I/O); a map move for in-session ones. The registered
    // view follows the name.
    case rt: RenameTable if targetOf(rt.child).exists(isRegistered) =>
      noTxn("ALTER TABLE")
      val from = targetOf(rt.child).get
      require(rt.newName.length == 1, "graft SQL RENAME TO: qualified " +
        s"target names are not supported (${rt.newName.mkString(".")})")
      val to = rt.newName.head
      require(!isRegistered(to),
        s"graft SQL RENAME TO: '$to' is already registered")
      session.remove(from) match {
        case Some(t) => session.put(to, t)
        case None =>
          val (cat, tbl) = durable(from)
          cat.renameTable(tbl, to)
          durable.remove(from); durable.put(to, (cat, to))
      }
      spark.catalog.dropTempView(from)
      refreshView(to)
      spark.emptyDataFrame
    // SHOW TABLES IN graft / DESCRIBE <registered> — SQL-only
    // DISCOVERABILITY for the front door. The ADVICE-r8 qualification
    // rule applies in this direction too: only the EXPLICIT `graft`
    // namespace is intercepted for SHOW (a bare SHOW TABLES or a
    // spark_catalog namespace passes through untouched), and DESCRIBE
    // intercepts single-part registered names only.
    case st: ShowTables if (st.namespace match {
        case ns: UnresolvedNamespace =>
          ns.multipartIdentifier == Seq("graft")
        case _ => false
      }) =>
      import spark.implicits._
      (session.keysIterator.map((_, "session")) ++
        durable.keysIterator.map((_, "durable")) ++
        attached.iterator.flatMap(_.viewNames).map((_, "view")))
        .toSeq.sorted.toDF("table_name", "scope")
    case dr: DescribeRelation if (dr.relation match {
        case u: UnresolvedTableOrView =>
          u.multipartIdentifier.length == 1 &&
            isRegistered(u.multipartIdentifier.head)
        case _ => false
      }) =>
      import spark.implicits._
      val name = dr.relation.asInstanceOf[UnresolvedTableOrView]
        .multipartIdentifier.head
      val t = table(name)
      t.snapshot.schema.fields.toSeq
        .map(f => (f.name, f.dataType.simpleString,
          if (f.name == t.keyCol) "key" else ""))
        .toDF("col_name", "data_type", "info")
    // CREATE [OR REPLACE] VIEW — durable TEXT views in the attached
    // catalog (the Hive/Delta/Iceberg-view contract: store the SQL, not
    // a plan or a materialization; re-parse at every read so results
    // track the live tables). The opt-in is the ATTACHED catalog +
    // single-part name: qualified names, temp views (a different parse
    // node), and sessions without attach() all pass through to Spark's
    // own view machinery untouched.
    case cv: CreateView if attached.isDefined && (cv.child match {
        case ui: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
          ui.nameParts.length == 1
        case _ => false
      }) =>
      noTxn("CREATE VIEW")
      val name = cv.child
        .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier]
        .nameParts.head
      require(cv.userSpecifiedColumns.isEmpty, "graft SQL CREATE VIEW: " +
        "a column alias list is not supported — alias inside the SELECT")
      require(cv.properties.isEmpty,
        "graft SQL CREATE VIEW: TBLPROPERTIES are not supported")
      require(!isRegistered(name),
        s"graft SQL CREATE VIEW: '$name' is a registered table")
      val text = cv.originalText.getOrElse(throw new IllegalArgumentException(
        "graft SQL CREATE VIEW: the parser delivered no original text"))
      val cat = attached.get
      if (!(cv.allowExisting && cat.viewSql(name).isDefined))
        cat.createView(name, text, replace = cv.replace)
      spark.emptyDataFrame
    case dv: DropView if attached.isDefined && (dv.child match {
        case ui: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier =>
          ui.nameParts.length == 1 &&
            attached.exists(_.viewSql(ui.nameParts.head).isDefined)
        case _ => false
      }) =>
      noTxn("DROP VIEW")
      attached.get.dropView(dv.child
        .asInstanceOf[org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier]
        .nameParts.head)
      spark.emptyDataFrame
    case c: Call if procedureOf(c).isDefined =>
      noTxn("CALL"); runCall(procedureOf(c).get, c)
    // DML that would pass through to spark.sql cannot join the staged
    // commit — inside a transaction that silent escape would break the
    // both-or-neither promise, so it fails loud instead
    case p if inTxn && (p match {
        case _: MergeIntoTable | _: UpdateTable | _: DeleteFromTable |
             _: InsertIntoStatement => true
        case _ => false
      }) =>
      throw new IllegalArgumentException("graft SQL: DML on an " +
        "unregistered table inside a transaction — only registered " +
        "durable graft tables can join the atomic commit")
    case p =>
      // durable-view expansion first: the expanded plan is what time
      // travel and mview routing should see (a view OF an aggregate can
      // still route; a view text using VERSION AS OF still resolves)
      val expanded = expandDurableViews(p)
      val q = expanded.getOrElse(p)
      resolveTimeTravel(q)
        .map(Bridge.ofRows(spark, _))
        // inside a transaction with staged writes, a materialized view is
        // CURRENT vs the durable state but STALE vs the read-your-own-
        // writes overlay — serve aggregates from the overlay views, never
        // the mview, until COMMIT lands (then routing resumes)
        .orElse(if (openTxn.exists(_.nonEmpty)) None else routeToView(q))
        // a filter pinning a PARTITIONED table's partition column to a
        // literal substitutes the directory-pruned scan (r11) — SQL
        // users get partition pruning without knowing the API exists
        .orElse(if (openTxn.exists(_.nonEmpty)) None else routeToPartition(q))
        .orElse(expanded.map(Bridge.ofRows(spark, _)))
        .getOrElse(spark.sql(statement))
  }

  /** Substitute the DIRECTORY-PRUNED partition read (r11, [[Catalog
    * .partitionSnapshot]]) under any Filter that pins a registered
    * PARTITIONED durable table's partition column to a literal
    * (`WHERE p = 'v' AND ...` — the equality may sit among other
    * conjuncts, which stay applied above, so the rewrite is pure scan
    * substitution: the pruned set IS exactly the partition). Literals
    * beyond strings/integrals are skipped (their cast-to-string forms
    * are engine-sensitive); staged-transaction reads never reach here
    * (the RYOW overlay must win). */
  private def routeToPartition(p: LogicalPlan): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{And, Literal}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val integral = Set("tinyint", "smallint", "int", "bigint")
    // TYPED canonicalization (r12, was untyped in r11): the literal is
    // accepted only when its type FAMILY matches the column's declared
    // partition type. `WHERE strcol = 1` or `WHERE intcol = '01'` would
    // match rows under Spark's implicit coercion, but the substituted
    // pruned scan keys directories off the literal's string form and
    // would silently drop them — skip the rewrite and read plain.
    def canonical(l: Literal, declared: String): Option[String] =
      l.value match {
        case null => None
        case s: org.apache.spark.unsafe.types.UTF8String
            if declared == "string" => Some(s.toString)
        case v: Byte if integral(declared) => Some(v.toString)
        case v: Short if integral(declared) => Some(v.toString)
        case v: Int if integral(declared) => Some(v.toString)
        case v: Long if integral(declared) => Some(v.toString)
        case _ => None
      }
    def partsOf(name: String): Seq[String] =
      durable.get(name).map { case (c, t) => c.partitionColsOf(t) }
        .getOrElse(Nil)
    var hit = false
    def prune(name: String, alias: String, cond: Expression,
              child: LogicalPlan): LogicalPlan = {
      val (cat, tbl) = durable(name)
      val pcols = cat.partitionColsOf(tbl)
      val ptypes = cat.partitionTypesOf(tbl)
      def refsPart(a: UnresolvedAttribute, pcol: String): Boolean =
        a.nameParts.last.equalsIgnoreCase(pcol) &&
          (a.nameParts.length == 1 ||
            a.nameParts.init.last.equalsIgnoreCase(alias))
      val pfuncs = cat.partitionFuncsOf(tbl)
      // every IDENTITY or BUCKET partition column with a type-matching
      // literal equality OR IN-list prunes its own directory level —
      // any subset routes (r12; IN r13). An identity hit keys the
      // directory set by the literals themselves; a bucket hit hashes
      // each literal into its directory (same md5 formula as the
      // writer, duplicates collapsed) and the Filter re-applied above
      // drops the co-bucketed keys — pure scan substitution either
      // way. An IN-list routes only when EVERY member passes the type
      // gate (one coercible member could match rows the pruned set
      // drops). days levels never route on equality here (the
      // bounded-range slice below covers them).
      import org.apache.spark.sql.catalyst.expressions.In
      val hits: Map[String, Seq[String]] = pcols.zip(ptypes).zip(pfuncs)
        .collect { case ((pc, pt), f)
            if f == "id" || f.startsWith("bucket_") => (pc, pt, f) }
        .flatMap { case (pc, pt, f) =>
          conjuncts(cond).collectFirst {
            case EqualTo(a: UnresolvedAttribute, l: Literal)
                if refsPart(a, pc) => Seq(l)
            case EqualTo(l: Literal, a: UnresolvedAttribute)
                if refsPart(a, pc) => Seq(l)
            case In(a: UnresolvedAttribute, ls)
                if refsPart(a, pc) && ls.nonEmpty &&
                  ls.forall(_.isInstanceOf[Literal]) =>
              ls.map(_.asInstanceOf[Literal])
          }.flatMap { ls =>
            val canon = ls.map(canonical(_, pt))
            if (canon.exists(_.isEmpty)) None // all members or no route
            else Some(pc -> canon.flatten.map { v =>
              if (f == "id") v
              else graft.core.Catalog.bucketOf(v,
                graft.core.Catalog.bucketModulus(f)).toString
            }.distinct)
          }
      }.toMap
      // a BOUNDED integral range over a days(ts) level routes onto the
      // directory-pruned time slice (r12, Catalog.timeSliceSnapshot) —
      // SQL users get day pruning without knowing the API exists. Both
      // bounds must be literal (a half-open scan prunes nothing); the
      // Filter above re-applies every conjunct, so the rewrite is pure
      // scan substitution.
      import org.apache.spark.sql.catalyst.expressions.{
        GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
      def longOf(l: Literal): Option[Long] = l.value match {
        case v: Byte => Some(v.toLong)
        case v: Short => Some(v.toLong)
        case v: Int => Some(v.toLong)
        case v: Long => Some(v)
        case _ => None
      }
      val slice: Option[(Long, Long)] =
        pcols.zip(pfuncs).collectFirst { case (pc, "days") => pc }
          .flatMap { pc =>
            // normalize every shape to [lo, hi): >=x / x<= / >x / x< ...
            val los = conjuncts(cond).flatMap {
              case EqualTo(a: UnresolvedAttribute, l: Literal)
                  if refsPart(a, pc) => longOf(l)
              case EqualTo(l: Literal, a: UnresolvedAttribute)
                  if refsPart(a, pc) => longOf(l)
              case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal)
                  if refsPart(a, pc) => longOf(l)
              case GreaterThan(a: UnresolvedAttribute, l: Literal)
                  if refsPart(a, pc) => longOf(l).map(_ + 1)
              case LessThanOrEqual(l: Literal, a: UnresolvedAttribute)
                  if refsPart(a, pc) => longOf(l)
              case LessThan(l: Literal, a: UnresolvedAttribute)
                  if refsPart(a, pc) => longOf(l).map(_ + 1)
              case _ => None
            }
            val his = conjuncts(cond).flatMap {
              case EqualTo(a: UnresolvedAttribute, l: Literal)
                  if refsPart(a, pc) => longOf(l).map(_ + 1)
              case EqualTo(l: Literal, a: UnresolvedAttribute)
                  if refsPart(a, pc) => longOf(l).map(_ + 1)
              case LessThan(a: UnresolvedAttribute, l: Literal)
                  if refsPart(a, pc) => longOf(l)
              case LessThanOrEqual(a: UnresolvedAttribute, l: Literal)
                  if refsPart(a, pc) => longOf(l).map(_ + 1)
              case GreaterThan(l: Literal, a: UnresolvedAttribute)
                  if refsPart(a, pc) => longOf(l)
              case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute)
                  if refsPart(a, pc) => longOf(l).map(_ + 1)
              case _ => None
            }
            (los.maxOption, his.minOption) match {
              case (Some(lo), Some(hi)) if lo <= hi => Some((lo, hi))
              case _ => None
            }
          }
      (slice, hits) match {
        case (Some((lo, hi)), _) =>
          hit = true
          SubqueryAlias(alias,
            Bridge.planOf(cat.timeSliceSnapshot(tbl, lo, hi)))
        case (None, h) if h.nonEmpty =>
          hit = true
          SubqueryAlias(alias,
            Bridge.planOf(cat.partitionSnapshotIn(tbl, h)))
        case _ => child
      }
    }
    // TIMESTAMP-typed and wall-clock-string bounds over a days(ts)
    // level rewrite to the canonical nanos BIGINT (r13) — the same
    // micros→nanos / UTC-instant conventions sql_asof established —
    // BEFORE the slice extraction, so `ts >= TIMESTAMP '2024-01-06'`
    // routes exactly like its integral spelling. The rewrite lands in
    // the re-applied Filter too: comparing the BIGINT ts column to a
    // TIMESTAMP literal would otherwise not even analyze.
    def rebaseTsLiterals(name: String, alias: String,
                         cond: Expression): Expression = {
      val (cat, tbl) = durable(name)
      val dayCols = cat.partitionColsOf(tbl).zip(cat.partitionFuncsOf(tbl))
        .collect { case (pc, "days") => pc }.toSet
      if (dayCols.isEmpty) cond
      else {
        import org.apache.spark.sql.catalyst.expressions.BinaryComparison
        import org.apache.spark.sql.types.{StringType, TimestampType}
        def refsDay(a: UnresolvedAttribute): Boolean =
          dayCols.exists(pc => a.nameParts.last.equalsIgnoreCase(pc)) &&
            (a.nameParts.length == 1 ||
              a.nameParts.init.last.equalsIgnoreCase(alias))
        def nanosLit(l: Literal): Option[Literal] = (l.value, l.dataType) match {
          case (us: Long, TimestampType) =>
            // the parser read the literal's wall-clock text in the
            // SESSION timezone; the days(ts) canonical nanos use the
            // UTC wall-clock convention (wallClockMillis). Re-read the
            // instant's session-TZ wall clock as UTC so
            // `ts >= TIMESTAMP '2024-01-13'` and `ts >= '2024-01-13'`
            // route to the SAME day slice in any session timezone.
            val zone = java.time.ZoneId.of(
              spark.sessionState.conf.sessionLocalTimeZone)
            val ldt = java.time.Instant.ofEpochSecond(
                Math.floorDiv(us, 1000000L),
                Math.floorMod(us, 1000000L) * 1000L)
              .atZone(zone).toLocalDateTime
            val utcUs = math.addExact(math.multiplyExact(
              ldt.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
              ldt.getNano / 1000L)
            Some(Literal(math.multiplyExact(utcUs, 1000L)))
          case (s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
            // non-instant strings (e.g. a numeric string meant for the
            // BIGINT coercion path) pass through untouched
            try Some(Literal(math.multiplyExact(
              wallClockMillis(s.toString), 1000000L)))
            catch { case _: IllegalArgumentException => None }
          case _ => None
        }
        cond.transform {
          case b: BinaryComparison => (b.left, b.right) match {
            case (a: UnresolvedAttribute, l: Literal) if refsDay(a) =>
              nanosLit(l).map(nl => b.withNewChildren(Seq(a, nl)))
                .getOrElse(b)
            case (l: Literal, a: UnresolvedAttribute) if refsDay(a) =>
              nanosLit(l).map(nl => b.withNewChildren(Seq(nl, a)))
                .getOrElse(b)
            case _ => b
          }
        }
      }
    }
    val out = p.transformUpWithSubqueries {
      case f @ Filter(cond, r: UnresolvedRelation)
          if r.multipartIdentifier.length == 1 &&
            partsOf(r.multipartIdentifier.head).nonEmpty =>
        val n = r.multipartIdentifier.head
        val c2 = rebaseTsLiterals(n, n, cond)
        Filter(c2, prune(n, n, c2, r))
      case f @ Filter(cond, SubqueryAlias(id, r: UnresolvedRelation))
          if r.multipartIdentifier.length == 1 &&
            partsOf(r.multipartIdentifier.head).nonEmpty =>
        val n = r.multipartIdentifier.head
        val c2 = rebaseTsLiterals(n, id.name, cond)
        Filter(c2, prune(n, id.name, c2, SubqueryAlias(id, r)))
    }
    if (hit) Some(Bridge.ofRows(spark, out)) else None
  }

  /** Substitute DURABLE VIEW references (attached-catalog stored SQL
    * text) into a parsed plan: each SINGLE-PART UnresolvedRelation whose
    * name is a stored view (and not a registered table — registrations
    * win) becomes a SubqueryAlias over the view text's parsed plan,
    * recursively (views on views) behind a seen-set cycle guard.
    * Qualified names pass through untouched (the ADVICE-r8
    * qualification rule), and subquery expressions are traversed too.
    * Returns None when the plan references no view — the statement then
    * takes the untouched spark.sql path. */
  private def expandDurableViews(p: LogicalPlan): Option[LogicalPlan] =
    attached.flatMap { cat =>
      val views = cat.viewNames.toSet
      if (views.isEmpty) None
      else {
        var hit = false
        def expand(plan: LogicalPlan, seen: Set[String]): LogicalPlan =
          plan.transformUpWithSubqueries {
            case u: UnresolvedRelation
                if u.multipartIdentifier.length == 1 &&
                  views.contains(u.multipartIdentifier.head) &&
                  !isRegistered(u.multipartIdentifier.head) =>
              val name = u.multipartIdentifier.head
              require(!seen.contains(name),
                s"graft SQL: view definition cycle through '$name'")
              hit = true
              SubqueryAlias(name,
                expand(Bridge.parsePlan(spark, cat.viewSql(name).get),
                       seen + name))
          }
        val out = expand(p, Set.empty)
        if (hit) Some(out) else None
      }
    }

  /** The catalog handle behind a registered DURABLE table, or a loud
    * error naming the statement kind — schema evolution and maintenance
    * live in catalog metadata. */
  private def durableCat(name: String, what: String): (Catalog, String) =
    durable.getOrElse(name, throw new IllegalArgumentException(
      s"graft SQL $what: '$name' is an in-session table — schema " +
        "evolution lives in catalog metadata; register(name, catalog, " +
        "table) a durable table"))

  /** Maintenance/schema statements are not transactional — reject inside
    * BEGIN..COMMIT rather than silently autocommitting mid-transaction. */
  private def noTxn(what: String): Unit =
    require(!inTxn, s"graft SQL: $what inside an open transaction — " +
      "maintenance and schema changes are not transactional; COMMIT or " +
      "ROLLBACK first")

  // ------------------------------------------------------ SQL time travel

  /**
   * `FROM t VERSION AS OF n` / `FROM t TIMESTAMP AS OF ts` on registered
   * tables — the lakehouse time-travel read as ANSI SQL. Pure plan
   * surgery: every [[org.apache.spark.sql.catalyst.analysis
   * .RelationTimeTravel]] leaf naming a registered table is replaced by
   * the engine's versioned-snapshot plan (aliased under the table name so
   * qualified references keep resolving), and the WHOLE statement then
   * runs through the analyzer — so time-travel relations compose freely:
   * joins of two versions, aggregates over a version, UNIONs of
   * different points in time. `VERSION AS OF` is the engine's absolute
   * `_ver` clock ([[graft.core.LineageTable.asOfVersion]] — the predicate
   * pushes below the snapshot window, tail files prune by footer
   * min-max); `TIMESTAMP AS OF` resolves through the commit log
   * ([[graft.core.Catalog.asOfTimestamp]] — durable tables only, and the
   * engine's commit timestamps are LOGICAL longs, so the literal must be
   * integral; both restrictions fail loud).
   */
  private def resolveTimeTravel(p: LogicalPlan): Option[LogicalPlan] = {
    import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedTableValuedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Literal, NamedArgumentExpression}
    var touched = false
    val out = p.transformUp {
      // `FROM table_changes('t', from [, to] [, inclusive => true])` —
      // batch CDC as a table-valued function: change events of the
      // commits in the EXCLUSIVE-INCLUSIVE range (from, to] (default
      // to = current version) — i.e. `from` is the version the caller is
      // ALREADY AT, and the result is what happened since (the
      // resume-token shape: composes directly with a stored "last
      // version seen"). Delta's table_changes treats startingVersion as
      // INCLUSIVE — `inclusive => true` adopts that convention for
      // version-number bounds (r10), so a ported statement needs no
      // off-by-one rewrite. Wall-clock STRING bounds are already
      // at-or-after the instant on every path, so the flag rejects them
      // rather than silently double-shifting. Same row shape as the
      // streaming changeFeed; filters above compose into the pushed
      // `_ver` range. Durable tables guard against re-stamped history
      // (Catalog.changesBetween); in-session tables read direct.
      case UnresolvedTableValuedFunction(Seq("table_changes"),
          Literal(tn: org.apache.spark.unsafe.types.UTF8String, _) +: rest, _)
          if isRegistered(tn.toString) && rest.count {
              case _: NamedArgumentExpression => false
              case _ => true
            } <= 2 &&
            rest.forall {
              case Literal(_: Number, _) => true
              case Literal(_: org.apache.spark.unsafe.types.UTF8String, _) => true
              case NamedArgumentExpression("inclusive",
                Literal(_: Boolean, _)) => true
              case _ => false
            } =>
        val name = tn.toString
        touched = true
        val (named, positional) = rest.partition(_.isInstanceOf[NamedArgumentExpression])
        val inclusive = named.collectFirst {
          case NamedArgumentExpression("inclusive", Literal(b: Boolean, _)) => b
        }.getOrElse(false)
        // r9: bounds may also be wall-clock STRING literals, resolved
        // through the commit log (durable tables only — the log is
        // catalog metadata): `from` = the newest commit strictly before
        // the instant (so events at-or-after it emit), `to` = the last
        // commit at-or-before it
        val longs = positional.zipWithIndex.map {
          case (Literal(v: Number, _), _) => v.longValue
          case (Literal(s: org.apache.spark.unsafe.types.UTF8String, _), i) =>
            require(!(inclusive && i == 0), "graft SQL table_changes: " +
              "inclusive => true applies to version-number bounds; a " +
              "wall-clock 'from' already includes commits at-or-after " +
              "the instant")
            val (c, t) = durable.getOrElse(name,
              throw new IllegalArgumentException("graft SQL table_changes: " +
                s"timestamp bounds resolve through the commit log — '$name' " +
                "is an in-session table; use version numbers"))
            val ms = wallClockMillis(s.toString)
            if (i == 0) c.versionBefore(t, ms) else c.versionBefore(t, ms + 1)
          case (other, _) => throw new IllegalStateException(other.toString)
        }
        // Delta compat: an inclusive numeric `from` is our exclusive
        // (from − 1) — the caller's startingVersion itself then emits.
        // Clamped at 0: graft versions start at 1, so Delta's common
        // `startingVersion = 0` means "full history", not a range
        // reaching below the version floor
        val from = math.max(longs.headOption.getOrElse(0L) -
          (if (inclusive && longs.nonEmpty) 1L else 0L), 0L)
        val to = longs.lift(1).getOrElse(table(name).currentVersion)
        val df = durable.get(name)
          .map { case (c, t) => c.changesBetween(t, from, to) }
          .getOrElse(table(name).changesBetween(from, to))
        SubqueryAlias(name, Bridge.planOf(df))
      // single-part identifiers only: a QUALIFIED reference
      // (spark_catalog.db.orders VERSION AS OF 5) names some other
      // catalog's table — matching on the last segment alone would
      // hijack it into the graft plan on a name collision; let it fall
      // through to spark.sql instead
      case RelationTimeTravel(r: UnresolvedRelation, ts, ver)
          if r.multipartIdentifier.length == 1 &&
            isRegistered(r.multipartIdentifier.last) =>
        val name = r.multipartIdentifier.last
        touched = true
        val df = (ts, ver) match {
          case (None, Some(v)) =>
            require(v.forall(_.isDigit), s"graft SQL VERSION AS OF: " +
              s"expected a numeric version, got '$v'")
            table(name).asOfVersion(v.toLong)
          case (Some(expr), None) =>
            val t = expr match {
              // a TIMESTAMP-typed literal (`TIMESTAMP '...'`) carries
              // MICROS since epoch — matched before the raw-Long case,
              // which is the bare clock value
              case Literal(us: Long,
                  org.apache.spark.sql.types.TimestampType) => us / 1000L
              case Literal(v: Int, _) => v.toLong
              case Literal(v: Long, _) => v
              // a plain string literal parses as a UTC wall-clock
              // instant → epoch millis, resolved through the same
              // commit log — the production convention where commitAt
              // stamps System.currentTimeMillis. With purely logical
              // (non-millis) clocks, use an integral literal instead.
              case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
                wallClockMillis(s.toString)
              case other => throw new IllegalArgumentException(
                "graft SQL TIMESTAMP AS OF: expected an integral clock " +
                  "value, a TIMESTAMP literal, or a wall-clock string " +
                  s"(UTC); got ${other.sql}")
            }
            val (cat, tbl) = durable.getOrElse(name,
              throw new IllegalArgumentException("graft SQL TIMESTAMP AS " +
                s"OF: '$name' is an in-session table — the commit log " +
                "lives in catalog metadata; use VERSION AS OF, or " +
                "register(name, catalog, table) a durable table"))
            cat.asOfTimestamp(tbl, t)
          case _ => throw new IllegalArgumentException(
            s"graft SQL time travel on '$name': exactly one of VERSION / " +
              "TIMESTAMP AS OF is required")
        }
        // alias under the table name so `t.col` references keep resolving
        // (an outer SubqueryAlias from `... AS a` shadows it, as SQL does)
        SubqueryAlias(name, Bridge.planOf(df))
    }
    if (touched) Some(out) else None
  }

  /** Parse a wall-clock literal to UTC epoch millis: `yyyy-MM-dd` (day
    * start) or `yyyy-MM-dd HH:mm:ss[.fff]` (T separator accepted).
    * Loud on anything else — a silently mis-parsed instant would time
    * travel to the wrong state. */
  private def wallClockMillis(s: String): Long = {
    val t = s.trim
    try {
      if (t.length == 10)
        java.time.LocalDate.parse(t)
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      else
        java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    } catch {
      case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException("graft SQL TIMESTAMP AS OF: " +
          s"cannot parse '$t' as a UTC instant (yyyy-MM-dd[ HH:mm:ss[.fff]]) " +
          "— for logical longs (Catalog.commitAt's raw clock) use an " +
          "integral literal", e)
    }
  }

  // --------------------------------------------------- view query rewrite

  /**
   * AUTOMATIC QUERY REWRITE over materialized views (the Oracle/BigQuery/
   * Databricks warehouse feature): a `SELECT g, count(*), sum(c), avg(c)
   * FROM t GROUP BY g` whose shape a CURRENT view answers reads the VIEW
   * — a group-cardinality-sized scan — instead of aggregating the source
   * table; at 100 TB that is the difference between a dashboard query
   * and a table scan. Correctness gates, in order:
   *
   *   - the statement must be EXACTLY the maintainable shape (plain
   *     group columns matching the view's group set in any order;
   *     count(*) / count(1) / sum / avg of the view's summed columns;
   *     explicit aliases; optionally ONE WHERE over group columns only —
   *     such a predicate removes whole groups, so it routes as a
   *     view-side filter — and/or a HAVING whose aggregates translate to
   *     the view's maintained columns; no DISTINCT) — anything else
   *     passes through untouched;
   *   - the view must be CURRENT ([[graft.core.Catalog.currentViewOf]]:
   *     same source op_seq AND rewrite epoch) — a stale view never
   *     serves; the query silently takes the direct path instead
   *     (freshness is correctness, not a performance hint).
   *
   * The rewrite emits the same exact arithmetic the view maintains
   * (cents longs → one correctly-rounded double), so routed and direct
   * results are bit-identical for the 2dp money columns views support
   * (GraftSqlSpec pins routed ≡ direct ≡ oracle, and that a stale view
   * falls back).
   */
  private def routeToView(p: LogicalPlan): Option[DataFrame] = p match {
    case agg: Aggregate => routeAggregate(agg).map(_._1)
    // HAVING routes too: the predicate's aggregate calls translate to
    // the view's maintained columns (count(*) → n_rows, sum/avg →
    // cents arithmetic) and filter the routed frame — group-cardinality
    // rows, never the table. Untranslatable predicates take the direct
    // path.
    case h: org.apache.spark.sql.catalyst.analysis.UnresolvedHaving =>
      routeHaving(h)
    // ORDER BY / LIMIT above a routable aggregate — the standard
    // dashboard top-n (`GROUP BY g ... ORDER BY measure DESC LIMIT n`)
    // — route the aggregate, then sort/limit the GROUP-CARDINALITY
    // rows: the heavy work (ordering the whole table's aggregation)
    // never happens. Sort keys must name output columns / group
    // columns (or be 1-based ordinals); anything else (an aggregate
    // call in the ORDER BY, an expression) takes the direct path.
    case Sort(order, true, child, _) =>
      routeBelowSort(child).flatMap { df =>
        val keys = order.map(translateSortKey(_, df.columns))
        if (keys.forall(_.isDefined)) Some(df.sort(keys.map(_.get): _*))
        else None
      }
    case GlobalLimit(org.apache.spark.sql.catalyst.expressions.Literal(n: Int, _),
        LocalLimit(_, child)) =>
      routeToView(child).map(_.limit(n))
    // a durable VIEW whose text is itself a routable aggregate:
    // expandDurableViews wraps the parsed text in SubqueryAlias (plus a
    // star Project for `SELECT * FROM v`) — peel the no-op wrappers and
    // route what's inside, so a dashboard VIEW serves from its mview at
    // |groups| cost. A real projection/filter on top takes the direct
    // path (the expanded plan still executes correctly either way).
    case SubqueryAlias(_, inner) => routeToView(inner)
    case Project(pl, child) if pl.nonEmpty &&
        pl.forall(_.isInstanceOf[UnresolvedStar]) =>
      routeToView(child)
    case _ => None
  }

  /** The plans a Sort may legally sit on in a routable statement. */
  private def routeBelowSort(p: LogicalPlan): Option[DataFrame] = p match {
    case agg: Aggregate => routeAggregate(agg).map(_._1)
    case h: org.apache.spark.sql.catalyst.analysis.UnresolvedHaving =>
      routeHaving(h)
    case _ => None
  }

  private def routeHaving(
      h: org.apache.spark.sql.catalyst.analysis.UnresolvedHaving): Option[DataFrame] =
    h.child match {
      case agg: Aggregate =>
        for {
          (df, gs, measures) <- routeAggregate(agg)
          // the translated predicate references the view's RAW measure
          // columns (n_rows, cents[_x]) and is applied after the select
          // aliased them away — Spark's ResolveMissingReferences then
          // resolves them from the child. If a USER alias shadows one of
          // those names (… sum(v) AS n_rows … HAVING count(*) > 5), the
          // predicate would silently bind to the user column and filter
          // the wrong measure — fall back to the direct path (ADVICE r9).
          internal = "n_rows" +: (measures.centsOf.values.toSeq ++
            measures.minOf.values ++ measures.maxOf.values)
          userAliases = agg.aggregateExpressions.collect {
            case a: org.apache.spark.sql.catalyst.expressions.Alias => a.name
          }
          if userAliases.intersect(internal).isEmpty
          cond <- translateHaving(h.havingCondition, gs, measures)
        } yield df.where(cond)
      case _ => None
    }

  /** An ORDER BY key onto the routed frame: an output-column name or a
    * 1-based select-list ordinal, with direction and null ordering
    * preserved. Anything else → None (direct path). */
  private def translateSortKey(so: org.apache.spark.sql.catalyst.expressions.SortOrder,
                               outCols: Array[String]): Option[Column] = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, Literal, NullsFirst, NullsLast}
    val named = so.child match {
      case a: UnresolvedAttribute
          if a.nameParts.length == 1 && outCols.contains(a.nameParts.head) =>
        Some(a.nameParts.head)
      case Literal(i: Int, _) if i >= 1 && i <= outCols.length =>
        Some(outCols(i - 1))
      // `ORDER BY 2` parses as an UnresolvedOrdinal, not a bare literal
      case o: org.apache.spark.sql.catalyst.analysis.UnresolvedOrdinal
          if o.ordinal >= 1 && o.ordinal <= outCols.length =>
        Some(outCols(o.ordinal - 1))
      case _ => None
    }
    named.map { n =>
      (so.direction, so.nullOrdering) match {
        case (Ascending, NullsFirst) => col(n).asc_nulls_first
        case (Ascending, NullsLast) => col(n).asc_nulls_last
        case (Descending, NullsFirst) => col(n).desc_nulls_first
        case (Descending, NullsLast) => col(n).desc_nulls_last
      }
    }
  }

  /** count(*) / count(1) shape. */
  private def isCount1(args: Seq[Expression]): Boolean = args match {
    case Seq(org.apache.spark.sql.catalyst.expressions.Literal(1, _)) => true
    case Seq(_: UnresolvedStar) => true
    case _ => false
  }

  /** The view-summed column a sum/avg argument names, if it names one. */
  private def sumArgOf(args: Seq[Expression],
                       sumCols: Seq[String]): Option[String] = args match {
    case Seq(a: UnresolvedAttribute) if sumCols.contains(a.nameParts.last) =>
      Some(a.nameParts.last)
    case _ => None
  }

  /** What a routed view maintains per measure: its summed columns and
    * their cents columns, and its min/max extremum columns (empty for a
    * join view). */
  private case class ViewMeasures(sumCols: Seq[String],
                                  centsOf: Map[String, String],
                                  minOf: Map[String, String],
                                  maxOf: Map[String, String])

  /** The one measure translator, shared by the routed select list and
    * HAVING: an aggregate call onto the view's columns — count(*) →
    * n_rows, sum/avg of a summed column → the exact cents arithmetic,
    * min/max of a maintained extremum → its column. None for any other
    * call, which fails the route. */
  private def measureOf(e: Expression, m: ViewMeasures): Option[Column] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    e match {
      case UnresolvedFunction(Seq(f), args, false, None, false, Nil, false) =>
        def arg(cols: Iterable[String]) = sumArgOf(args, cols.toSeq)
        f match {
          case "count" if isCount1(args) => Some(col("n_rows"))
          case "sum" => arg(m.sumCols).map(c => col(m.centsOf(c)) / 100.0)
          case "avg" => arg(m.sumCols).map(c =>
            col(m.centsOf(c)) / 100.0 / col("n_rows"))
          case "min" => arg(m.minOf.keys).map(c => col(m.minOf(c)) / 100.0)
          case "max" => arg(m.maxOf.keys).map(c => col(m.maxOf(c)) / 100.0)
          case _ => None
        }
      case _ => None
    }
  }

  /** Translate a HAVING predicate onto the view's columns: group
    * attributes pass through, aggregate calls go through [[measureOf]];
    * anything else (another function, a non-group column, a subquery)
    * fails the route. */
  private def translateHaving(cond: Expression, gs: Seq[String],
                              measures: ViewMeasures): Option[Column] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
    var ok = true
    // explicit top-down recursion, NOT transformUp/Down: bottom-up would
    // rewrite the attribute INSIDE sum(x) before the function node ever
    // matches, and top-down would then recurse into the replacement's
    // own view-column attributes — both falsely fail the group-column
    // check. Aggregate-call leaves are terminal here.
    def tr(e: Expression): Expression = e match {
      case _: UnresolvedFunction =>
        measureOf(e, measures).fold { ok = false; e }(Bridge.expression)
      case _: SubqueryExpression => ok = false; e
      case a: UnresolvedAttribute =>
        if (!gs.contains(a.nameParts.last)) ok = false
        UnresolvedAttribute(Seq(a.nameParts.last))
      case other => other.mapChildren(tr)
    }
    val t = tr(cond)
    if (ok) Some(Bridge.column(t)) else None
  }

  /** Route a bare GROUP BY aggregate onto its current view, returning
    * the routed frame plus the translation context (group columns,
    * summed columns, measure-column names) a HAVING above needs. */
  private def routeAggregate(aggPlan: Aggregate)
      : Option[(DataFrame, Seq[String], ViewMeasures)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.Alias
    aggPlan match {
      case Aggregate(groupExprs, aggs, child, _)
          if groupExprs.nonEmpty && groupExprs.forall {
            case a: UnresolvedAttribute => a.nameParts.length == 1
            case _ => false
          } =>
        val gs = groupExprs.map(_.asInstanceOf[UnresolvedAttribute]
          .nameParts.head)
        // peel one optional WHERE below the aggregate: a predicate over
        // GROUP columns only filters WHOLE groups out of the source —
        // exactly filtering the view's rows, so it routes as a view-side
        // filter. Anything else below the aggregate is not the view's
        // shape.
        val (rel, filt) = child match {
          case Filter(cond, c) => (c, Some(cond))
          case c => (c, None)
        }
        def relName(p: LogicalPlan): Option[String] = p match {
          case _: UnresolvedRelation => targetOf(p)
          case SubqueryAlias(_, _: UnresolvedRelation) => targetOf(p)
          case _ => None
        }
        // the statement's FROM: a bare registered table (single-table
        // views) or `fact JOIN dim ON fk = key` (join views — both sides
        // registered in the SAME catalog, equality of two plain columns;
        // fact/dim and fk/key orders all tried, the dim-key check in
        // currentJoinViewFor disambiguates)
        val hit: Option[(Catalog, String, ViewMeasures)] =
          rel match {
            case Join(l, r, org.apache.spark.sql.catalyst.plans.Inner,
                Some(EqualTo(x: UnresolvedAttribute, y: UnresolvedAttribute)),
                _) =>
              def tryOrder(factP: LogicalPlan, dimP: LogicalPlan,
                           fk: String, dk: String) =
                for {
                  fsrc <- relName(factP)
                  dsrc <- relName(dimP)
                  if durable.contains(fsrc) && durable.contains(dsrc)
                  (fcat, ftbl) = durable(fsrc)
                  (dcat, dtbl) = durable(dsrc)
                  if fcat eq dcat
                  h <- fcat.currentJoinViewFor(ftbl, dtbl, fk, dk, gs)
                  // join views maintain count/sum only — no extrema maps
                } yield (fcat, h._1, ViewMeasures(h._2, h._3, Map.empty,
                  Map.empty))
              val xs = x.nameParts.last; val ys = y.nameParts.last
              tryOrder(l, r, xs, ys).orElse(tryOrder(l, r, ys, xs))
                .orElse(tryOrder(r, l, xs, ys))
                .orElse(tryOrder(r, l, ys, xs))
            case _ =>
              for {
                src <- relName(rel)
                if durable.contains(src)
                (cat, tbl) = durable(src)
                h <- cat.currentViewFor(tbl, gs)
              } yield (cat, h._1, ViewMeasures(h._2, h._3, h._4, h._5))
          }
        for {
          (cat, view, measures) <- hit
          // the WHERE routes only when every column it names is a group
          // column and it calls no functions (a nondeterministic rand()
          // gate must not be re-evaluated against different rows) and no
          // subqueries — otherwise the whole statement silently takes
          // the always-correct direct path
          if filt.forall { cond =>
            var ok = true
            cond.foreach {
              case a: UnresolvedAttribute =>
                if (!gs.contains(a.nameParts.last)) ok = false
              case _: UnresolvedFunction => ok = false
              case _: SubqueryExpression => ok = false
              case _ => ()
            }
            ok
          }
          cols <- {
            val translated = aggs.map {
              case a: UnresolvedAttribute if gs.contains(a.nameParts.last) =>
                Some(col(a.nameParts.last))
              case UnresolvedAlias(a: UnresolvedAttribute, _)
                  if gs.contains(a.nameParts.last) =>
                Some(col(a.nameParts.last))
              case Alias(f, name) => measureOf(f, measures).map(_.as(name))
              case _ => None
            }
            if (translated.forall(_.isDefined)) Some(translated.map(_.get))
            else None
          }
        } yield {
          val base = cat.getTable(view).snapshot
          (filt.fold(base)(c => base.where(rebased(c))).select(cols: _*),
            gs, measures)
        }
      case _ => None
    }
  }

  // ------------------------------------------------------------ procedures

  /** The graft maintenance procedure a `CALL` names, when it names one:
    * `CALL graft.optimize('t')` / `CALL optimize('t')` — an unqualified
    * or graft-qualified name from [[procedures]]. Anything else passes
    * through to `spark.sql` (a real DSv2 procedure catalog may own it). */
  private def procedureOf(c: Call): Option[String] = c.procedure match {
    case org.apache.spark.sql.catalyst.analysis.UnresolvedProcedure(parts)
        if parts.length <= 2 && parts.init.forall(_ == "graft") &&
          procedures.contains(parts.last) =>
      Some(parts.last)
    case _ => None
  }

  private val procedures = Set("optimize", "compact", "vacuum", "purge",
    "analyze", "refresh_mview", "create_mview", "create_join_mview",
    "clone", "create_bloom", "copy_into", "copy_to",
    "create_index", "zorder", "history", "restore", "create_vector_index",
    "drop_vector_index", "create_ivfpq_index", "drop_ivfpq_index",
    "refresh_ivfpq_index")

  /**
   * MAINTENANCE through the SQL front door — Spark 4's stored-procedure
   * `CALL` syntax mapped onto the catalog's lifecycle ops, completing
   * the SQL story: reads (registered snapshot views), writes (DML),
   * schema (ALTER TABLE ... CONSTRAINT), and now maintenance — a
   * SQL-only operator can run the whole table lifecycle:
   *
   *   CALL graft.optimize('t')            history-preserving fold
   *   CALL graft.compact('t')             reference merge (collapses history)
   *   CALL graft.vacuum('t', 2)           keep newest 2 versions per key
   *   CALL graft.purge('t', 'k = 5')      hard erasure by predicate
   *   CALL graft.analyze('t', 'a', 'b')   NDV stats → returns (col, ndv)
   *   CALL graft.refresh_mview('v')       advance a materialized view
   *   CALL graft.create_mview('v', 't', 'g', 'c')   define + build one
   *   CALL graft.clone('src', 'dst')      zero-copy shallow clone
   *   CALL graft.create_bloom('t', 'c')   bloom-filter index
   *   CALL graft.create_index('t', 'c')   sorted physical layout
   *   CALL graft.history('t')             → (version, commit_ts) rows
   *
   * Durable (catalog-registered) tables only — maintenance is physical
   * storage work; an in-session handle has no files to maintain. Args
   * are literals, positional or named (`tbl => 't'`); the purge
   * predicate arrives as SQL text and is parsed by the session parser —
   * the same no-second-grammar rule as the DML path.
   */
  /** Declared parameter order per procedure — what named arguments
    * (`keep => 1`) resolve against, so they are order-free as SQL named
    * args must be. `analyze` is variadic past `tbl` (named args would be
    * ambiguous there — positional only). */
  private val procParams: Map[String, Seq[String]] = Map(
    "optimize" -> Seq("tbl"), "compact" -> Seq("tbl"),
    "vacuum" -> Seq("tbl", "keep", "retain"),
    "copy_into" -> Seq("tbl", "path", "format"),
    "purge" -> Seq("tbl", "predicate"),
    "refresh_mview" -> Seq("view"),
    "create_mview" -> Seq("view", "src", "group_col", "sum_col",
      "min_col", "max_col"),
    "create_join_mview" ->
      Seq("view", "fact", "dim", "fk", "group_col", "sum_col"),
    "clone" -> Seq("src", "dst"),
    "copy_to" -> Seq("tbl", "path", "format", "partition_by"),
    "create_bloom" -> Seq("tbl", "col"),
    "create_index" -> Seq("tbl", "col"),
    "zorder" -> Seq("tbl", "cols"),
    "history" -> Seq("tbl"), "restore" -> Seq("tbl", "rel"),
    "create_vector_index" -> Seq("tbl", "col", "centroids", "iters"),
    "drop_vector_index" -> Seq("tbl"),
    "create_ivfpq_index" -> Seq("tbl", "col", "centroids", "m", "books"),
    "drop_ivfpq_index" -> Seq("tbl"),
    "refresh_ivfpq_index" -> Seq("tbl"))

  private def runCall(proc: String, c: Call): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, NamedArgumentExpression}
    def value(e: org.apache.spark.sql.catalyst.expressions.Expression): Any =
      e match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
        case Literal(v, _) => v
        // `-1` parses as UnaryMinus(Literal(1)) — restore's relative
        // versions are negative by contract
        case org.apache.spark.sql.catalyst.expressions.UnaryMinus(
            Literal(v: Int, _), _) => -v
        case org.apache.spark.sql.catalyst.expressions.UnaryMinus(
            Literal(v: Long, _), _) => -v
        case other => throw new IllegalArgumentException(
          s"graft SQL CALL: arguments must be literals, got ${other.sql}")
      }
    // SQL named-argument rule: positional args fill parameters in order,
    // named args fill their parameter regardless of position; assigning
    // the same slot twice (positionally then by name, or two named args)
    // is a user error and must not silently overwrite
    val params = procParams.getOrElse(proc, Nil)
    val slots = scala.collection.mutable.LinkedHashMap.empty[Int, Any]
    def fill(i: Int, v: Any): Unit = {
      require(!slots.contains(i), s"graft SQL CALL $proc: parameter " +
        s"'${params.lift(i).getOrElse((i + 1).toString)}' assigned twice")
      slots(i) = v
    }
    var pos = 0
    c.args.foreach {
      case NamedArgumentExpression(name, v) =>
        val i = params.indexOf(name)
        require(i >= 0, s"graft SQL CALL $proc: unknown parameter '$name' " +
          s"(takes ${if (params.isEmpty) "positional arguments only"
            else params.mkString(", ")})")
        fill(i, value(v))
      case e =>
        fill(pos, value(e)); pos += 1
    }
    // optional TRAILING parameters (create_mview's min_col/max_col) may
    // leave gaps when named args skip slots — argv carries Options and
    // the required-parameter error moves into the accessors
    val argv: Seq[Option[Any]] =
      (0 to slots.keys.maxOption.getOrElse(-1)).map(slots.get)
    def required(i: Int): Any = argv.lift(i).flatten.getOrElse(
      throw new IllegalArgumentException(
        s"graft SQL CALL $proc: parameter ${params.lift(i).getOrElse(i + 1)} " +
          "not provided"))
    def str(i: Int): String = required(i) match {
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"graft SQL CALL $proc: argument ${i + 1} must be a string, got $other")
    }
    def int(i: Int): Int = required(i) match {
      case n: Int => n
      // a Long literal past Int range must not silently truncate
      case n: Long if n >= Int.MinValue && n <= Int.MaxValue => n.toInt
      case other => throw new IllegalArgumentException(
        s"graft SQL CALL $proc: argument ${i + 1} must be an int-range " +
          s"integer, got $other")
    }
    def durableOf(name: String): (Catalog, String) =
      durable.getOrElse(name, throw new IllegalArgumentException(
        s"graft SQL CALL $proc: '$name' is not a registered durable table " +
          "— maintenance is physical storage work; register(name, catalog, " +
          "table) first"))
    def arity(n: Int): Unit = require(argv.length == n && slots.size == n,
      s"graft SQL CALL $proc: expected $n arguments, got ${slots.size}")
    // `lo` required leading slots; anything up to params.size may follow
    def arityAtLeast(lo: Int): Unit = {
      (0 until lo).foreach(required)
      require(argv.length <= params.size,
        s"graft SQL CALL $proc: expected at most ${params.size} arguments, " +
          s"got ${argv.length}")
    }
    val done = spark.emptyDataFrame
    proc match {
      case "optimize" =>
        arity(1); val (cat, t) = durableOf(str(0))
        cat.foldTail(t); refreshView(str(0)); done
      case "compact" =>
        arity(1); val (cat, t) = durableOf(str(0))
        cat.saveCompacted(t, cat.getTable(t).compact)
        refreshView(str(0)); done
      case "vacuum" =>
        // count-based: vacuum('t', 2). Time-based (r11, the Delta RETAIN
        // shape): vacuum('t', retain => '2024-01-02 00:00:00') — the
        // instant resolves through the commit log (Catalog
        // .vacuumOlderThan); exactly one of the two forms
        arityAtLeast(1); val (cat, t) = durableOf(str(0))
        val keepOpt = argv.lift(1).flatten
        val retainOpt = argv.lift(2).flatten
        require(keepOpt.isDefined != retainOpt.isDefined,
          "graft SQL CALL vacuum: provide exactly one of keep (count-" +
            "based) or retain => '<wall-clock instant>' (time-based)")
        if (keepOpt.isDefined) cat.vacuum(t, int(1))
        else cat.vacuumOlderThan(t, wallClockMillis(str(2)))
        refreshView(str(0)); done
      case "copy_to" =>
        // CALL copy_to('t', '/export/dir', 'parquet', 'status') — the
        // export half of the ingest story: the table's SNAPSHOT (not
        // lineage — exports are for consumers outside the engine) lands
        // as overwrite-mode files, optionally directory-partitioned by
        // one column (the lakehouse handoff layout). Works for session
        // AND durable tables — reads need no catalog metadata.
        arityAtLeast(2)
        val src = table(str(0)).snapshot
        val fmt = if (argv.lift(2).flatten.isDefined) str(2) else "parquet"
        val w0 = src.write
          .mode(org.apache.spark.sql.SaveMode.Overwrite).format(fmt)
        val w = if (argv.lift(3).flatten.isDefined) w0.partitionBy(str(3))
                else w0
        w.save(str(1))
        import spark.implicits._
        // one extra count pass, documented: the export is the expensive
        // part and already ran; the row count is the receipt
        Seq(src.count()).toDF("rows_exported")
      case "copy_into" =>
        // CALL copy_into('t', '/landing/dir', 'parquet') — idempotent
        // file-granularity bulk ingest (Catalog.copyInto): each file's
        // rows land exactly once across any number of calls/retries
        arityAtLeast(2); val (cat, t) = durableOf(str(0))
        val fmt = if (argv.lift(2).flatten.isDefined) str(2) else "parquet"
        val n = cat.copyInto(t, str(1), fmt)
        refreshView(str(0))
        import spark.implicits._
        Seq(n).toDF("files_loaded")
      case "purge" =>
        arity(2); val (cat, t) = durableOf(str(0))
        cat.purge(t, rebased(Bridge.parseExpression(spark, str(1))))
        refreshView(str(0)); done
      case "analyze" =>
        require(argv.length >= 2,
          "graft SQL CALL analyze: expected a table and ≥1 column")
        val (cat, t) = durableOf(str(0))
        val cols = (1 until argv.length).map(str)
        val stats = cat.analyzeTable(t, cols)
        import spark.implicits._
        cols.map(c => (c, stats(c))).toDF("column", "ndv")
      case "refresh_mview" =>
        arity(1); val (cat, t) = durableOf(str(0))
        cat.refreshMaterializedView(t); refreshView(str(0)); done
      case "zorder" =>
        // CALL graft.zorder('t', 'a,b,c') — the OPTIMIZE ZORDER BY analog
        arity(2); val (cat, zt) = durableOf(str(0))
        cat.zorderTable(zt,
          str(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        refreshView(str(0)); done
      case "create_mview" =>
        // auto-register the created view as a durable SQL table: the
        // catalog handle is in hand, and without it the advertised
        // SQL-only lifecycle dead-ends immediately (a following CALL
        // refresh_mview / SELECT on the view would fail until the user
        // dropped to the Scala register() API)
        // group_col / sum_col take comma-separated lists — the composite-
        // group / multi-measure form through the same procedure
        // min_col / max_col (r10): optional trailing comma-separated
        // lists — extremum measures through the same procedure; an empty
        // string means none (so max-only views can be spelled
        // positionally: '', 'price')
        arityAtLeast(4); val (cat, srcT) = durableOf(str(1))
        def cols(i: Int): Seq[String] =
          str(i).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        def optCols(i: Int): Seq[String] =
          argv.lift(i).flatten.fold(Seq.empty[String])(_ => cols(i))
        cat.createMaterializedView(str(0), srcT, cols(2), cols(3),
          minCols = optCols(4), maxCols = optCols(5))
        register(str(0), cat, str(0)); done
      case "create_join_mview" =>
        // the star-schema form: fact and dim must live in ONE catalog
        // (a view cannot span warehouses); comma-separated lists as in
        // create_mview; the result auto-registers like create_mview
        arity(6); val (fcat, factT) = durableOf(str(1))
        val (dcat, dimT) = durableOf(str(2))
        require(fcat eq dcat,
          s"graft SQL CALL $proc: '${str(1)}' and '${str(2)}' are " +
            "registered against different catalogs")
        def jcols(i: Int): Seq[String] =
          str(i).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        fcat.createJoinMaterializedView(str(0), factT, dimT, str(3),
          jcols(4), jcols(5))
        register(str(0), fcat, str(0)); done
      case "clone" =>
        arity(2); val (cat, src) = durableOf(str(0))
        cat.cloneTable(src, str(1))
        register(str(1), cat, str(1)); done
      case "create_bloom" =>
        arity(2); val (cat, t) = durableOf(str(0))
        cat.createBloomFilter(t, str(1)); refreshView(str(0)); done
      case "create_index" =>
        arity(2); val (cat, t) = durableOf(str(0))
        cat.createIndex(t, str(1)); refreshView(str(0)); done
      case "history" =>
        arity(1); val (cat, t) = durableOf(str(0))
        cat.history(t)
      case "restore" =>
        // time-travel WRITE: re-append the state at relative version
        // `rel` as a new commit (LineageTable.restore — never a history
        // rewrite; delta ∝ records changed in the last |rel| ops)
        arity(2); val (cat, t) = durableOf(str(0))
        cat.commit(t, Txn.empty.add(_.restore(int(1))))
        refreshView(str(0)); done
      case "create_vector_index" =>
        // train-once IVF centroids, persisted as a sidecar — later
        // sessions probe without re-training (Catalog.createVectorIndex)
        arity(4); val (cat, t) = durableOf(str(0))
        cat.createVectorIndex(t, str(1), int(2), int(3)); done
      case "drop_vector_index" =>
        arity(1); val (cat, t) = durableOf(str(0))
        cat.dropVectorIndex(t); done
      case "create_ivfpq_index" =>
        // centroids + codebooks + the per-vector code table, one map-only
        // build pass persisted (Catalog.createIvfPqIndex)
        arity(5); val (cat, t) = durableOf(str(0))
        cat.createIvfPqIndex(t, str(1), int(2), int(3), int(4)); done
      case "drop_ivfpq_index" =>
        arity(1); val (cat, t) = durableOf(str(0))
        cat.dropIvfPqIndex(t); done
      case "refresh_ivfpq_index" =>
        // incremental: change-feed delta → anti join vs stored keys →
        // encode + append (Catalog.refreshIvfPqIndex)
        arity(1); val (cat, t) = durableOf(str(0))
        cat.refreshIvfPqIndex(t); done
    }
  }

  // ------------------------------------------------------------ statements

  private def txnUpdate(u: UpdateTable): Txn = {
    val sets = u.assignments.map { a =>
      val name = a.key match {
        case attr: UnresolvedAttribute => attr.nameParts.last
        case other => throw new IllegalArgumentException(
          s"graft SQL UPDATE: SET target must be a column, got $other")
      }
      name -> rebased(a.value)
    }
    Txn.empty.update(u.condition.map(rebased).getOrElse(lit(true)), sets.toMap)
  }

  private def runInsert(name: String, i: InsertIntoStatement): DataFrame = {
    // INSERT OVERWRITE = delete-all + insert in ONE atomic commit (one
    // `_ver`): readers see either the old contents or the new, never a
    // truncated middle — and because graft tables are versioned, the
    // overwritten state stays time-travelable (VERSION AS OF the prior
    // commit), unlike a filesystem truncate.
    // A static PARTITION (p = 'v') spec scopes both halves to ONE
    // partition (r11): OVERWRITE deletes only that partition's rows,
    // and the query provides the remaining columns — the Hive/Spark
    // INSERT OVERWRITE ... PARTITION contract, versioned.
    val partSpec: Seq[(String, String)] =
      if (i.partitionSpec.isEmpty) Nil
      else {
        val declared = durable.get(name)
          .map { case (c, t) => c.partitionColsOf(t) }.getOrElse(Nil)
        // any SUBSET of the partition columns may be pinned statically —
        // each pinned column scopes the overwrite one directory level
        // tighter and is filled into the rows
        val funcs = durable.get(name)
          .map { case (c, t) => c.partitionFuncsOf(t) }.getOrElse(Nil)
        i.partitionSpec.toSeq.map { case (pc, pv) =>
          require(declared.contains(pc), s"graft SQL INSERT PARTITION: " +
            s"'$name' is ${if (declared.isEmpty) "not partitioned"
              else s"partitioned by (${declared.mkString(", ")})"}, got '$pc'")
          require(funcs(declared.indexOf(pc)) == "id", "graft SQL INSERT " +
            s"PARTITION: '$pc' is a TRANSFORMED partition level — pin " +
            "transformed partitions with raw-predicate DML or dynamic " +
            "overwrite on an identity level")
          val v = pv.getOrElse(throw new IllegalArgumentException(
            "graft SQL INSERT PARTITION: dynamic partition values are not " +
              "supported — rows carry the column; omit the PARTITION clause"))
          (pc, v)
        }
      }
    val q = Bridge.ofRows(spark, i.query)
    val cols = table(name).dataCols
    // a static PARTITION (p='v') fills the partition column — the query
    // provides the remaining columns in table order
    val filled =
      if (partSpec.isEmpty) q
      else {
        val pinned = partSpec.map(_._1)
        val rest = cols.filterNot(pinned.contains)
        require(i.userSpecifiedCols.isEmpty, "graft SQL INSERT PARTITION: " +
          "combine with a column list is not supported — provide the " +
          s"non-partition columns positionally (${rest.mkString(", ")})")
        require(q.columns.length == rest.size, "graft SQL INSERT " +
          s"PARTITION: expected ${rest.size} columns (${rest.mkString(", ")})" +
          s", got ${q.columns.length}")
        partSpec.foldLeft(q.toDF(rest: _*)) { case (d, (pc, v)) =>
          d.withColumn(pc, lit(v)) }
          .select(cols.map(col): _*)
      }
    // positional VALUES/SELECT get the table's column names; an explicit
    // column list renames then fills like SQL does (missing → NULL would
    // break lineage NOT NULL keys, so require full coverage instead)
    val named =
      if (partSpec.nonEmpty) filled
      else if (i.userSpecifiedCols.nonEmpty) {
        require(i.userSpecifiedCols.size == q.columns.length,
          s"graft SQL INSERT: ${i.userSpecifiedCols.size} target columns " +
            s"but ${q.columns.length} provided")
        require(cols.toSet == i.userSpecifiedCols.toSet,
          s"graft SQL INSERT: column list must cover the table's columns " +
            s"(${cols.mkString(", ")}) exactly")
        q.toDF(i.userSpecifiedCols: _*)
      } else {
        require(q.columns.length == cols.size,
          s"graft SQL INSERT: table has ${cols.size} columns, " +
            s"got ${q.columns.length}")
        q.toDF(cols: _*)
      }
    // cast to the table's declared types (SQL literals parse narrow —
    // an int literal into a bigint column must widen, as ANSI INSERT does)
    val target = table(name).snapshot.schema
    val casted = named.select(cols.map(c =>
      col(c).cast(target(c).dataType).as(c)): _*)
    val txn = (i.overwrite, partSpec) match {
      // partition-scoped overwrite: tombstone ONLY the named partition
      // slice (AND of the pinned levels), then insert — one atomic
      // commit, the overwritten state stays time-travelable
      case (true, spec) if spec.nonEmpty =>
        Txn.empty.delete(spec.map { case (pc, v) =>
            col(pc) === lit(v).cast(target(pc).dataType) }.reduce(_ && _))
          .insert(casted)
      case (true, _) =>
        // DYNAMIC partition overwrite (r11) — Spark's own conf gates it
        // (spark.sql.sources.partitionOverwriteMode=dynamic, default
        // static): on a partitioned table, replace EXACTLY the
        // partitions the incoming rows touch and leave every other
        // partition untouched, as one atomic versioned commit. The
        // touched set is |partitions|-bounded metadata (the distinct
        // pass reads the source pruned to the one partition column);
        // static mode keeps ANSI truncate-all semantics, identical to
        // Spark's contract for a missing PARTITION clause.
        val dynPcs = durable.get(name)
          .map { case (c, t) =>
            val cols = c.partitionColsOf(t)
            if (cols.nonEmpty && spark.conf
                .get("spark.sql.sources.partitionOverwriteMode", "static")
                .equalsIgnoreCase("dynamic"))
              require(c.partitionFuncsOf(t).forall(_ == "id"),
                "graft SQL INSERT OVERWRITE (dynamic): transformed " +
                  "partition levels are not supported — the touched set " +
                  "is derived from raw row values; overwrite with " +
                  "raw-predicate DELETE + INSERT instead")
            cols
          }.getOrElse(Nil)
          .filter(_ => spark.conf
            .get("spark.sql.sources.partitionOverwriteMode", "static")
            .equalsIgnoreCase("dynamic"))
        dynPcs match {
          case pcs if pcs.nonEmpty =>
            // pin the source ONCE before deriving the touched set: the
            // tombstone partitions and the inserted rows must come from
            // the SAME evaluation (a nondeterministic SELECT re-evaluated
            // for the insert could land rows in a partition missing from
            // the tombstone set), and at scale it is one source scan
            // instead of two
            val pinned = casted.localCheckpoint(eager = true)
            // the touched set is the DISTINCT TUPLE of partition values —
            // |partitions|-bounded metadata; the tombstone is an OR of
            // per-tuple AND-equalities (each a directory subtree)
            val vals = pinned.select(pcs.map(col): _*).distinct().collect()
            require(!vals.exists(r => (0 until pcs.size).exists(r.isNullAt)),
              "graft SQL INSERT OVERWRITE (dynamic): NULL partition " +
                "values are not supported")
            // an empty source touches no partitions: overwrite nothing
            // (Spark's dynamic-mode contract), but still commit the
            // (empty) insert so the statement is one versioned op
            val pred =
              if (vals.isEmpty) lit(false)
              else vals.map { r =>
                pcs.zipWithIndex.map { case (pc, j) =>
                  col(pc) === lit(r.get(j)) }.reduce(_ && _)
              }.reduce(_ || _)
            Txn.empty.delete(pred).insert(pinned)
          case _ => Txn.empty.delete(lit(true)).insert(casted)
        }
      case (false, _) => Txn.empty.insert(casted)
    }
    apply(name, txn)
  }

  private def runMerge(name: String, m: MergeIntoTable): DataFrame = {
    // MERGE WITH SCHEMA EVOLUTION (r14 — the Delta mergeSchema shape):
    // source-only columns are ADDED to the target before the merge
    // through the same ADD COLUMN path the DDL uses (durable tables
    // only — schema lives in catalog metadata); every pre-evolve row
    // and version reads NULL for them, then the merge proceeds over the
    // evolved column set, so SET * / INSERT * pick the new columns up.
    if (m.withSchemaEvolution) {
      val (cat, tbl) = durable.getOrElse(name,
        throw new IllegalArgumentException("graft SQL MERGE WITH SCHEMA " +
          s"EVOLUTION: '$name' is an in-session table — evolution needs " +
          "catalog metadata; register(name, catalog, table)"))
      val have = table(name).dataCols.toSet
      Bridge.ofRows(spark, m.sourceTable).schema.fields
        .filterNot(f => have.contains(f.name))
        .foreach(f => cat.addColumn(tbl, f.name, f.dataType.simpleString))
      refreshView(name)
    }
    val t = table(name)
    // ON must equate the primary key across the two sides — the engine's
    // merge contract (key-matched upsert; arbitrary join conditions would
    // make "matched" ambiguous per key)
    def lastName(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute => Some(a.nameParts.last)
      case _ => None
    }
    val onOk = m.mergeCondition match {
      case EqualTo(l, r) =>
        lastName(l).contains(t.keyCol) && lastName(r).contains(t.keyCol)
      case EqualNullSafe(l, r) =>
        lastName(l).contains(t.keyCol) && lastName(r).contains(t.keyCol)
      case _ => false
    }
    require(onOk, s"graft SQL MERGE: ON must equate the key column " +
      s"'${t.keyCol}' of target and source, got ${m.mergeCondition.sql}")
    // matched actions. Legacy shape: one optional unconditional UPDATE
    // (SET c = s.c or SET *) + one optional `AND cond THEN DELETE`,
    // order-insensitive, delete-gate-first. Ordered shape (r13, any
    // CONDITIONAL update arm present): N WHEN MATCHED arms with Delta's
    // first-match-wins clause-order semantics — only the last arm may
    // omit its AND condition; a matched row passing no arm stays
    // UNCHANGED (the engine's updateWhen gate). All conditions evaluate
    // on the SOURCE row pre-join (the engine contract), and all UPDATE
    // arms must SET the same columns — the assignments are same-name
    // source copies, so the per-arm CASE collapses to one gate.
    def updColsOf(assigns: Seq[Assignment]): Seq[String] = assigns.map { a =>
      val tgt = a.key match {
        case attr: UnresolvedAttribute => attr.nameParts.last
        case other => throw new IllegalArgumentException(
          s"graft SQL MERGE: UPDATE SET target must be a column, got $other")
      }
      val srcOk = lastName(a.value).contains(tgt)
      require(srcOk, "graft SQL MERGE: UPDATE SET must copy the " +
        s"source column of the same name (got ${a.key.sql} = ${a.value.sql}); " +
        "compute derived values in the USING subquery")
      tgt
    }
    // evaluated on the SOURCE row pre-join (the engine's gate contract)
    // — a gate over TARGET columns can't be expressed here, and silently
    // rebinding `t.col` to a same-named source column would invert the
    // user's intent, so reject it loud
    def requireSourceOnly(c: Expression, what: String): Unit = {
      val tgtAlias = aliasOf(m.targetTable)
      c.foreach {
        case a: UnresolvedAttribute if a.nameParts.length > 1 &&
            tgtAlias.contains(a.nameParts.head) =>
          throw new IllegalArgumentException("graft SQL MERGE: the " +
            s"$what must gate on SOURCE columns (got " +
            s"${a.name} — the engine's matched gates evaluate on the " +
            "source row pre-join; put target-state conditions in the " +
            "USING subquery by joining the snapshot view)")
        case _ => ()
      }
    }
    var updateCols = Seq.empty[String]
    var deleteWhen: Option[Column] = None
    var updateWhen: Option[Column] = None
    var updateColGates = Map.empty[String, Column]
    val hasConditionalUpdate = m.matchedActions.exists {
      case UpdateAction(Some(_), _, _) | UpdateStarAction(Some(_)) => true
      case _ => false
    }
    if (hasConditionalUpdate) {
      // ordered first-match-wins arms
      val arms: Seq[(Option[Expression], Boolean, Seq[String])] =
        m.matchedActions.map {
          case UpdateAction(c, assigns, _) => (c, false, updColsOf(assigns))
          case UpdateStarAction(c) =>
            (c, false, t.dataCols.filterNot(_ == t.keyCol))
          case DeleteAction(c) => (c, true, Seq.empty[String])
          case other => throw new IllegalArgumentException(
            s"graft SQL MERGE: unsupported WHEN MATCHED action $other")
        }
      arms.init.foreach { case (c, _, _) => require(c.isDefined,
        "graft SQL MERGE: only the LAST WHEN MATCHED arm may omit its " +
          "AND condition — an earlier unconditional arm makes every " +
          "later arm unreachable") }
      arms.foreach { case (c, isDel, _) => c.foreach(requireSourceOnly(_,
        if (isDel) "DELETE condition" else "UPDATE condition")) }
      // NULL conditions read as "arm did not match" at every position
      def g(c: Option[Expression]): Column =
        org.apache.spark.sql.functions.coalesce(
          c.map(rebased).getOrElse(lit(true)).cast("boolean"), lit(false))
      def firstMatch(i: Int): Column =
        (0 until i).map(j => !g(arms(j)._1)).foldLeft(g(arms(i)._1))(_ && _)
      deleteWhen = arms.zipWithIndex
        .collect { case ((_, true, _), i) => firstMatch(i) }
        .reduceOption(_ || _)
      updateWhen = Some(arms.zipWithIndex
        .collect { case ((_, false, _), i) => firstMatch(i) }
        .reduceOption(_ || _).getOrElse(lit(false)))
      // union of the arms' SET columns, first-seen order; when the arms
      // SET DIFFERENT columns, each column additionally gates on the OR
      // of the arms that set it (per-column gates, r13) — a row taking
      // arm i copies exactly arm i's columns and carries the rest
      val updColSets = arms.collect { case (_, false, cs) => cs }
      updateCols = updColSets.flatten.distinct
      if (updColSets.map(_.toSet).distinct.size > 1)
        updateColGates = updateCols.map { c =>
          c -> arms.zipWithIndex
            .collect { case ((_, false, cs), i) if cs.contains(c) =>
              firstMatch(i) }
            .reduce(_ || _)
        }.toMap
    } else m.matchedActions.foreach {
      case UpdateAction(None, assigns, _) => updateCols = updColsOf(assigns)
      case UpdateStarAction(None) =>
        updateCols = t.dataCols.filterNot(_ == t.keyCol)
      case DeleteAction(cond) =>
        cond.foreach(requireSourceOnly(_, "DELETE condition"))
        deleteWhen = Some(cond.map(rebased).getOrElse(lit(true)))
      case other => throw new IllegalArgumentException(
        s"graft SQL MERGE: unsupported WHEN MATCHED action $other")
    }
    // not-matched: INSERT * (or the identity column list) — the engine
    // always inserts unmatched source rows, so the clause must be present
    // for the SQL to mean what it executes
    val insertOk = m.notMatchedActions match {
      case Seq(InsertStarAction(None)) => true
      case Seq(InsertAction(None, assigns)) =>
        assigns.forall(a => lastName(a.key).isDefined &&
          lastName(a.key) == lastName(a.value))
      case _ => false
    }
    require(insertOk, "graft SQL MERGE: exactly one unconditional " +
      "WHEN NOT MATCHED THEN INSERT * (or identity column list) is required " +
      "— the engine's merge always inserts unmatched source rows")
    // WHEN NOT MATCHED BY SOURCE THEN DELETE [AND cond] — the sync-job
    // arm (rows that vanished from the source get tombstoned). The
    // condition evaluates on the TARGET row (the only row that exists
    // for an unmatched-by-source record), so a source-qualified column
    // reference is a loud error, mirroring the matched-DELETE guard.
    // every expression in a BY SOURCE clause evaluates on the TARGET row
    // (the only row that exists for an unmatched-by-source record) — a
    // source-qualified reference is a loud error, never a silent rebind
    def requireTargetOnly(e: Expression, what: String): Unit = {
      val srcAlias = aliasOf(m.sourceTable)
      e.foreach {
        case a: UnresolvedAttribute if a.nameParts.length > 1 &&
            srcAlias.contains(a.nameParts.head) =>
          throw new IllegalArgumentException("graft SQL MERGE: the " +
            s"NOT MATCHED BY SOURCE $what must reference TARGET " +
            s"columns (got ${a.name} — no source row exists for an " +
            "unmatched-by-source record)")
        case _ => ()
      }
    }
    val bySourceDelete: Option[Column] = m.notMatchedBySourceActions match {
      case Seq(DeleteAction(cond)) =>
        cond.foreach(requireTargetOnly(_, "condition"))
        Some(cond.map(rebased).getOrElse(lit(true)))
      case _ => None
    }
    // WHEN NOT MATCHED BY SOURCE THEN UPDATE SET ... [AND cond] (r12):
    // the deactivate-instead-of-delete sync-job arm — assignments and
    // gate both evaluate over the target row
    val bySourceUpdate: Option[(Option[Column], Map[String, Column])] =
      m.notMatchedBySourceActions match {
        case Seq(UpdateAction(cond, assigns, _)) =>
          cond.foreach(requireTargetOnly(_, "condition"))
          val asg = assigns.map { a =>
            // the assignment TARGET gets the same source-alias rejection
            // as values and the gate: SET s.col = ... must error loudly,
            // not silently bind to the bare target column
            requireTargetOnly(a.key, "assignment target")
            val tgt = a.key match {
              case attr: UnresolvedAttribute => attr.nameParts.last
              case other => throw new IllegalArgumentException(
                "graft SQL MERGE: BY SOURCE UPDATE SET target must be a " +
                  s"column, got $other")
            }
            requireTargetOnly(a.value, s"assignment to '$tgt'")
            tgt -> rebased(a.value)
          }.toMap
          Some((cond.map(rebased), asg))
        case Seq() | Seq(DeleteAction(_)) => None
        case other => throw new IllegalArgumentException(
          "graft SQL MERGE: WHEN NOT MATCHED BY SOURCE supports exactly " +
            s"one THEN DELETE [AND cond] or THEN UPDATE SET ... action, " +
            s"got $other")
      }
    require(updateCols.nonEmpty || deleteWhen.isDefined,
      "graft SQL MERGE: at least one WHEN MATCHED action is required")
    // a delete-only merge still needs updateCols for the engine op; the
    // delete gate shadows the update for every row it matches
    val effectiveUpdate =
      if (updateCols.nonEmpty) updateCols
      else t.dataCols.filterNot(_ == t.keyCol)
    val src = Bridge.ofRows(spark, m.sourceTable)
    apply(name, Txn.empty.mergeInto(src, effectiveUpdate, deleteWhen,
      bySourceDelete, bySourceUpdate, updateWhen, updateColGates))
  }

  /** `ALTER TABLE t ADD CONSTRAINT c CHECK (expr)` — Spark 4's own
    * grammar parses the statement ([[AddCheckConstraint]] carrying a
    * [[CheckConstraint]] whose `condition` is the raw predicate text);
    * the engine enforces it ([[Catalog.addConstraint]]: full scan once
    * here, O(delta) per subsequent commit). Durable tables only —
    * constraints are catalog metadata; an in-session handle has nowhere
    * durable to keep them. */
  private def runAddConstraint(name: String, c: CheckConstraint): DataFrame = {
    val (cat, tbl) = durable.getOrElse(name,
      throw new IllegalArgumentException("graft SQL ADD CONSTRAINT: " +
        s"'$name' is an in-session table — constraints live in catalog " +
        "metadata; register(name, catalog, table) a durable table"))
    cat.addConstraint(tbl, c.userProvidedName, c.condition)
    spark.emptyDataFrame
  }

  /** `ALTER TABLE t DROP CONSTRAINT [IF EXISTS] c` — metadata-only. */
  private def runDropConstraint(name: String, dc: DropConstraint): DataFrame = {
    val (cat, tbl) = durable.getOrElse(name,
      throw new IllegalArgumentException("graft SQL DROP CONSTRAINT: " +
        s"'$name' is an in-session table"))
    if (!(dc.ifExists && !cat.constraints(tbl).contains(dc.name)))
      cat.dropConstraint(tbl, dc.name)
    spark.emptyDataFrame
  }

  // ---------------------------------------------------------- CREATE TABLE

  /** The `USING graft` opt-in: only an explicit graft provider is
    * intercepted — `CREATE TABLE ... USING parquet` (or providerless)
    * passes through to Spark untouched. */
  private def providerIsGraft(spec: TableSpecBase): Boolean = spec match {
    case u: UnresolvedTableSpec => u.provider.exists(_.equalsIgnoreCase("graft"))
    case _ => false
  }

  /** CREATE TABLE names are single-part: the statement explicitly asked
    * for the graft provider, so a qualified name is a loud error, not a
    * pass-through (Spark would fail to resolve a 'graft' datasource
    * anyway — this error says why). */
  private def createName(p: LogicalPlan): String = p match {
    case id: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
        if id.nameParts.length == 1 => id.nameParts.head
    case other => throw new IllegalArgumentException(
      "graft SQL CREATE TABLE: single-part table names only (the name " +
        s"registers with THIS session), got $other")
  }

  /** OPTIONS of a CREATE TABLE spec as literal strings. The one
    * supported option is `key` (the lineage key column); TBLPROPERTIES
    * and inline constraints are rejected loud rather than dropped. */
  private def specOptions(spec: TableSpecBase): Map[String, String] = spec match {
    case u: UnresolvedTableSpec =>
      require(u.constraints.isEmpty, "graft SQL CREATE TABLE: inline " +
        "constraints are not supported — ALTER TABLE ... ADD CONSTRAINT " +
        "... CHECK (...) after create (same enforcement, one path)")
      require(u.properties.isEmpty, "graft SQL CREATE TABLE: " +
        "TBLPROPERTIES are not supported — the engine's table metadata " +
        "lives in _graft.json; use OPTIONS ('key' = '<col>')")
      u.optionExpression.options.map {
        case (k, org.apache.spark.sql.catalyst.expressions.Literal(v, _)) =>
          k.toLowerCase -> String.valueOf(v)
        case (k, other) => throw new IllegalArgumentException(
          s"graft SQL CREATE TABLE: option '$k' must be a literal, " +
            s"got ${other.sql}")
      }.toMap
    case _ => Map.empty
  }

  /**
   * CREATE TABLE ([[CreateTable]] empty-schema form / [[CreateTableAsSelect]]):
   * build the initial rows (an empty frame of the declared schema, or
   * the analyzed CTAS query's result), pick the lineage key (OPTIONS
   * `key`, default first column), then create durable (attached catalog)
   * or in-session and register the name. IF NOT EXISTS on an existing
   * durable table ADOPTS it (registers, creates nothing) — the Delta
   * no-op shape with the table left usable.
   */
  /** The partition levels of a CREATE TABLE's PARTITIONED BY clause
    * (r11; multi-column r12 — one nested directory level per column,
    * declaration order): identity columns, `days(ts)` (one directory
    * per epoch day), and `bucket(N, c)` (N hash directories — the
    * Iceberg bucket transform over the engine's portable md5 family;
    * equality probes route to ONE directory). Other transforms
    * (months/years/truncate) are rejected loud — derived-value
    * partitioning beyond these belongs in an explicit column. */
  private def partitionSpecsOf(transforms: Seq[org.apache.spark.sql.connector
      .expressions.Transform]): (Seq[String], Seq[String]) = transforms.map {
    case t if t.name == "identity" && t.references.length == 1 &&
        t.references.head.fieldNames.length == 1 =>
      (t.references.head.fieldNames.head, "id")
    case t if t.name == "days" && t.references.length == 1 &&
        t.references.head.fieldNames.length == 1 =>
      // days(ts) over the engine's canonical nanos-since-epoch BIGINT —
      // one directory per day (Catalog validates the column type)
      (t.references.head.fieldNames.head, "days")
    case t if t.name == "bucket" && t.references.length == 1 &&
        t.references.head.fieldNames.length == 1 =>
      // bucket(N, c): the N literal rides along in the transform's
      // arguments next to the field reference (Catalog validates range
      // and column type)
      val n = t.arguments.collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value.toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"graft SQL PARTITIONED BY: bucket needs a literal count, got " +
          t.describe))
      (t.references.head.fieldNames.head, s"bucket_$n")
    case other => throw new IllegalArgumentException(
      "graft SQL PARTITIONED BY: identity columns, days(col) and " +
        s"bucket(n, col) only (a directory level per value/day/bucket), " +
        s"got ${other.describe} — for other derived values add the " +
        "column explicitly")
  }.unzip

  private def runCreate(name: String, ifNotExists: Boolean,
                        opts: Map[String, String],
                        source: Either[Seq[ColumnDefinition], LogicalPlan],
                        partitioned: (Seq[String], Seq[String])): DataFrame = {
    val unknown = opts.keySet - "key"
    require(unknown.isEmpty, "graft SQL CREATE TABLE: unknown option(s) " +
      s"${unknown.mkString(", ")} (supported: 'key')")
    if (isRegistered(name)) {
      if (ifNotExists) return spark.emptyDataFrame
      throw new IllegalArgumentException(
        s"graft SQL CREATE TABLE: '$name' is already registered")
    }
    val rows = source match {
      case Right(q) => Bridge.ofRows(spark, q)
      case Left(cols) =>
        val fields = cols.map { c =>
          require(c.defaultValue.isEmpty && c.generationExpression.isEmpty &&
            c.identityColumnSpec.isEmpty, "graft SQL CREATE TABLE: " +
            s"DEFAULT/GENERATED/IDENTITY on column '${c.name}' is not " +
            "supported — versioned writes carry explicit values")
          org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)
        }
        spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(fields))
    }
    val key = opts.getOrElse("key", rows.columns.head)
    require(rows.columns.contains(key), "graft SQL CREATE TABLE: key " +
      s"column '$key' not in (${rows.columns.mkString(", ")})")
    attached match {
      case Some(cat) =>
        if (cat.tableNames.contains(name)) {
          require(ifNotExists, s"graft SQL CREATE TABLE: '$name' already " +
            "exists in the attached catalog (CREATE TABLE IF NOT EXISTS " +
            "adopts it)")
        } else cat.createTable(name, key, rows,
          partitionBy = partitioned._1, partitionFuncs = partitioned._2)
        register(name, cat, name)
      case None =>
        require(partitioned._1.isEmpty, "graft SQL CREATE TABLE: PARTITIONED " +
          "BY needs a durable table (the partition layout is directories " +
          "on disk) — attach(catalog) first")
        register(name, LineageTable.fromBase(key, rows))
    }
    spark.emptyDataFrame
  }

  // -------------------------------------------------------------- plumbing

  private def isRegistered(name: String): Boolean =
    session.contains(name) || durable.contains(name)

  /** Target table name out of the (possibly aliased) relation subtree.
    * DML statements parse their target as [[UnresolvedRelation]]; ALTER
    * TABLE statements as [[org.apache.spark.sql.catalyst.analysis
    * .UnresolvedTable]]; DROP TABLE as [[org.apache.spark.sql.catalyst
    * .analysis.UnresolvedTableOrView]] — each carries the multipart
    * identifier. Single-part only for the table-or-view shape: a
    * qualified `catalog.db.t` names some OTHER catalog's table and must
    * pass through to Spark (the r9 no-hijack rule). */
  private def targetOf(p: LogicalPlan): Option[String] = p match {
    case SubqueryAlias(_, child) => targetOf(child)
    // AddCheckConstraint wraps its target in Filter(condition, table)
    case Filter(_, child) => targetOf(child)
    case r: UnresolvedRelation => Some(r.multipartIdentifier.last)
    case t: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
      Some(t.multipartIdentifier.last)
    case tv: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView
        if tv.multipartIdentifier.length == 1 =>
      Some(tv.multipartIdentifier.head)
    case id: org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
        if id.nameParts.length == 1 =>
      Some(id.nameParts.head)
    case _ => None
  }

  /** The alias a DML statement bound to its target (`MERGE INTO t AS x`
    * → `x`; unaliased → the table name itself). */
  private def aliasOf(p: LogicalPlan): Option[String] = p match {
    case SubqueryAlias(ident, _) => Some(ident.name)
    case r: UnresolvedRelation => Some(r.multipartIdentifier.last)
    case _ => None
  }

  /** Re-base a parsed expression onto the engine's frames: strip alias
    * qualifiers off column references (`t.status` → `status` — the
    * engine's update/delete/deleteWhen evaluate against a single frame
    * where the bare name is unambiguous) and reject subqueries (they
    * would need the analyzer mid-op; pre-compute them in the source). */
  private def rebased(e: Expression): Column = {
    val stripped = e.transform {
      case a: UnresolvedAttribute if a.nameParts.length > 1 =>
        UnresolvedAttribute(Seq(a.nameParts.last))
      case s: UnresolvedStar => s
    }
    require(stripped.collectFirst { case sq: SubqueryExpression => sq }.isEmpty,
      s"graft SQL: subqueries in DML conditions are not supported (${e.sql})")
    Bridge.column(stripped)
  }

  /** Execute the op on the registered handle; DML returns empty (the
    * Spark command convention) and the read view re-registers from the
    * handle the op returned — the commit already resolved the new state,
    * so it is not resolved again. Inside an open transaction the op is
    * STASHED instead — nothing lands durably until COMMIT; this session's
    * reads see the in-memory read-your-own-writes overlay ([[stash]]). */
  private def apply(name: String, txn: Txn): DataFrame = {
    if (inTxn) return stash(name, txn)
    val t = session.get(name) match {
      case Some(t0) =>
        val t = txn.commit(t0)
        session(name) = t
        t
      case None =>
        val (cat, tbl) = durable(name)
        cat.commit(tbl, txn)
    }
    t.snapshot.createOrReplaceTempView(name)
    spark.emptyDataFrame
  }

  private def refreshView(name: String): Unit =
    table(name).snapshot.createOrReplaceTempView(name)
}

private object GraftSql {
  import org.antlr.v4.runtime.{CharStreams, Token}
  import org.antlr.v4.runtime.misc.Interval

  /** One default-channel token: its text, its code-point span
    * [start, stop] in the statement, and its parenthesis depth (a
    * parenthesis itself sits at the depth outside it). */
  final case class Tok(kind: Int, text: String, start: Int, stop: Int,
                       depth: Int) {
    private def backquoted = kind == SqlBaseLexer.BACKQUOTED_IDENTIFIER
    /** A name: a backquoted identifier or a bare word. Keywords count —
      * without Spark's package-private upper-casing stream most of them
      * lex as IDENTIFIER anyway, so words are matched by text. */
    def ident: Boolean = backquoted ||
      (text.head.isLetter || text.head == '_') &&
        text.forall(c => c.isLetterOrDigit || c == '_')
    def name: String =
      if (backquoted) text.substring(1, text.length - 1).replace("``", "`")
      else text
  }

  /** A statement as Spark's own `SqlBaseLexer` splits it: the
    * default-channel tokens, without a trailing `;`. Comments and
    * whitespace sit on the hidden channel; every string literal (`'…'`,
    * `"…"`, `'it\'s'`) and backquoted identifier is one token. The
    * desugars locate clauses by token index and cut the original text
    * between token offsets, so a keyword inside a literal or a comment
    * never splits a statement. */
  final class Lexed(statement: String) {
    private val input = CharStreams.fromString(statement)

    val toks: IndexedSeq[Tok] = {
      val lexer = new SqlBaseLexer(input)
      lexer.removeErrorListeners()
      val out = IndexedSeq.newBuilder[Tok]
      var depth = 0
      var t = lexer.nextToken()
      while (t.getType != Token.EOF) {
        if (t.getChannel == Token.DEFAULT_CHANNEL) {
          if (t.getType == SqlBaseLexer.RIGHT_PAREN) depth -= 1
          out += Tok(t.getType, t.getText, t.getStartIndex, t.getStopIndex,
            depth)
          if (t.getType == SqlBaseLexer.LEFT_PAREN) depth += 1
        }
        t = lexer.nextToken()
      }
      val all = out.result()
      if (all.lastOption.exists(_.kind == SqlBaseLexer.SEMICOLON)) all.init
      else all
    }

    def size: Int = toks.size
    def kind(i: Int): Int =
      if (i >= 0 && i < size) toks(i).kind else Token.INVALID_TYPE
    def is(i: Int, word: String): Boolean =
      i >= 0 && i < size && toks(i).text.equalsIgnoreCase(word)
    def ident(i: Int): Boolean = i >= 0 && i < size && toks(i).ident
    def isQuery: Boolean = is(0, "SELECT") || is(0, "WITH")
    /** Token i is part of a dotted name (`x.rn`, `rn.x`). */
    def qualified(i: Int): Boolean =
      kind(i - 1) == SqlBaseLexer.DOT || kind(i + 1) == SqlBaseLexer.DOT
    /** Token i opens a reference through `alias` (`alias.col`). */
    def ref(i: Int, alias: String): Boolean = ident(i) &&
      toks(i).name.equalsIgnoreCase(alias) &&
      kind(i + 1) == SqlBaseLexer.DOT && kind(i - 1) != SqlBaseLexer.DOT

    /** First depth-0 token index in [from, until) satisfying `p`. */
    def find(from: Int, until: Int = size)(p: Int => Boolean): Option[Int] =
      (from until until).find(i => toks(i).depth == 0 && p(i))

    /** [from, until) cut at every depth-0 token satisfying `p`, as
      * half-open token ranges without the separators. */
    def split(from: Int, until: Int)(p: Int => Boolean): Seq[(Int, Int)] = {
      val cuts = (from until until).filter(i => toks(i).depth == 0 && p(i))
      (from +: cuts.map(_ + 1)).zip(cuts :+ until)
    }

    /** `<name> [[AS] <alias>] <word>` from token i: the name, the alias
      * when one is given, and the index after `word`. */
    def named(i: Int, word: String): Option[(String, Option[String], Int)] =
      if (!ident(i)) None
      else if (is(i + 1, word)) Some((toks(i).name, None, i + 2))
      else {
        val a = if (is(i + 1, "AS")) i + 2 else i + 1
        if (ident(a) && is(a + 1, word))
          Some((toks(i).name, Some(toks(a).name), a + 2))
        else None
      }

    /** The statement text of tokens [from, until), comments inside the
      * range kept, the hidden text around it dropped (so a trailing
      * `-- comment` never swallows what a desugar appends). `sub(i)`
      * may replace the tokens from i on: (replacement, tokens used). */
    def rewrite(from: Int, until: Int)(
        sub: Int => Option[(String, Int)]): String = {
      val out = new StringBuilder
      var i = from
      while (i < until) {
        if (i > from) out ++= input.getText(
          Interval.of(toks(i - 1).stop + 1, toks(i).start - 1))
        val (text, used) = sub(i).getOrElse((toks(i).text, 1))
        out ++= text
        i += used
      }
      out.result()
    }

    def slice(from: Int, until: Int): String = rewrite(from, until)(_ => None)
  }
}
