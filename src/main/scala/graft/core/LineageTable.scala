package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Spark-native L-Store table: a versioned, append-only lineage of records.
 *
 * The reference engine (reference: lstore/table.py:26) keeps base pages plus
 * tail pages of updates, an indirection pointer per record, and a
 * schema-encoding bitmask; reads chase indirection to materialize the latest
 * version, and a background merge (reference: lstore/table.py:186) folds
 * tails into base pages.
 *
 * Here the same contract is declarative and distributed:
 *
 *   - `lineage` is one DataFrame of full records stamped with `_ver`
 *     (monotonic per key; 0 = base) and `_del` (tombstone flag). Partial
 *     updates are coalesced against the current snapshot at WRITE time
 *     (write-time merge), so reads never chase pointers — the reference does
 *     the equivalent merge in its page directory (lstore/query.py:160-168).
 *   - Snapshot reconstruction is a single window:
 *     `row_number() over (partition by key order by _ver desc) = 1`.
 *     One shuffle on the table key; key predicates are pushed below it to
 *     the parquet scan, so point/range reads prune before shuffling.
 *   - `compact` is the reference's merge: rewrite base := snapshot. It is a
 *     pure transformation here; [[Catalog]] persists it.
 *
 * At 100 TB the tail stays small relative to base (compaction keeps it so),
 * so snapshot cost is dominated by the base scan; the window shuffle is
 * AQE-coalesced and can be avoided entirely when the base is bucketed by
 * the key (the snapshot window partitions by the same key).
 */
final class LineageTable private (
    val keyCol: String,
    val dataCols: Seq[String],
    val lineage: DataFrame,
    /** Number of write ops applied since base/compaction. Every op stamps
      * `_ver = opSeq + 1` — a TABLE-level monotonic version, so any later
      * op's rows shadow any earlier op's rows for the same key. In
      * particular an insert after a delete becomes visible again (the
      * reference removes deleted RIDs from the page directory so re-insert
      * reads back live — same observable behavior), and re-inserting a live
      * key is a deterministic upsert. Within ONE op each key must appear at
      * most once (the reference's primary index rejects duplicate-key
      * inserts); predicate-driven ops satisfy this by construction. */
    private[core] val opSeq: Long,
    /** Rows appended by ops since this table was loaded (None = none):
      * exactly what a durable commit must write. [[Catalog.commit]] appends
      * this delta — never a diff of full lineages. */
    private[core] val delta: Option[DataFrame],
    /** True when every record provably has exactly one (live) version — a
      * fresh base or a compacted table with an empty tail and no ops since.
      * Then snapshot ≡ the lineage itself: no window, no key shuffle — a
      * probe is a pure pushed-down parquet scan, which is what makes
      * [[Catalog.createIndex]]'s sorted layout a real index (min-max
      * pruning with zero reconstruction overhead). Any write op clears it. */
    private val compactedOnly: Boolean,
    /** The table's partition guard, when [[Catalog]] created it
      * PARTITIONED BY (r11; multi-column + transforms r12): one
      * (source column, derived directory-value expression) per level.
      * Write ops enforce the invariant pruned reads depend on — a key's
      * DERIVED partition tuple never changes: UPDATE may not assign any
      * source column, and every appended row is guarded against moving
      * an existing key across directories ([[withAppend]]). */
    private val partGuard: Seq[(String, Column)] = Nil,
    /** True when the lineage is PROVABLY empty (a freshly created,
      * never-committed table whose base footers all count zero —
      * [[Catalog.assembleTable]] establishes it driver-side): the
      * partition-immutability guard joins appended rows against the
      * EXISTING distinct (key → partition) pairs, which is vacuous over
      * no rows — skipping it removes a distinct + join (two AQE shuffle
      * stages) from the first INSERT into every partitioned table, the
      * CREATE-then-load shape of every bulk ingest. Any append clears
      * the flag, so later ops in the same txn still guard against the
      * keys the first op added. */
    private val knownEmpty: Boolean = false) {

  import LineageTable.{DEL, VER}

  /** The table's current version — the stamp of the newest committed op
    * (what `VERSION AS OF currentVersion` addresses, and the natural
    * upper bound for [[changesBetween]]). */
  def currentVersion: Long = opSeq

  /** Current version of every live record, metadata retained (for chaining). */
  private[core] def snapshotMeta: DataFrame = asOfMeta(0)

  private def asOfMeta(relativeVersion: Int): DataFrame =
    asOfMetaOver(lineage, relativeVersion)

  private def asOfMetaOver(rows: DataFrame, relativeVersion: Int): DataFrame = {
    require(relativeVersion <= 0, s"relative version must be <= 0, got $relativeVersion")
    // Single-version fast path: version addressing clamps at base, so every
    // relative version IS the lineage. The _del filter is kept (pushed to
    // the scan, free) as a guard; compacted bases hold live rows only.
    if (compactedOnly) return rows.where(col(DEL) === 0)
    // Latest-version fast path (r14): at relativeVersion 0 the clamp
    // `least(1, _cnt)` is identically 1 (every key partition has ≥ 1 row),
    // so the rank+count pair — TWO WindowExec passes (the specs differ:
    // rank orders by _ver, count is unordered) — reduces to max(_ver) per
    // key: (key, _ver) is unique per key (each op stamps a key at most
    // once), so `_ver = max(_ver) over key` IS rank 1. ONE unordered-frame
    // window pass, sorted by the key alone (no _ver comparator), no count.
    // NOT spelled as a row_number()=1 filter: that lone-rank shape makes
    // InferWindowGroupLimit insert a map-side partial top-1 whose full
    // local sort MEASURED ×2.5–4.6 SLOWER at 100× (ls_delete 3.7→16.9s,
    // snap100 A/B in OPTIMIZATION_r14.md) — shuffle bytes were never the
    // local bottleneck, the extra sort is pure cost at version depth ~2.
    if (relativeVersion == 0)
      return rows
        .withColumn("_mx",
          max(col(VER)).over(Window.partitionBy(col(keyCol))))
        .where(col(VER) === col("_mx"))
        .where(col(DEL) === 0)
        .drop("_mx")
    // Version addressing is relative to latest, clamped at base — the
    // reference's select_version falls back to the oldest record when the
    // lineage is shorter than |relative_version| (lstore/query.py:118).
    rankedWithCount(rows)
      .where(col("_rn") === clampedRank(relativeVersion))
      .where(col(DEL) === 0)
      .drop("_rn", "_cnt")
  }

  /** The ONE version-ranking definition every relative read shares
    * ([[asOfMetaOver]] — both arms, [[restore]], [[diffRelative]]): `_rn`
    * = 1-newest rank by `_ver` desc. A future tie-break change lands here
    * once or the reads silently diverge. */
  private def rankedNewestFirst(rows: DataFrame): DataFrame =
    rows.withColumn("_rn", row_number().over(
      Window.partitionBy(col(keyCol)).orderBy(col(VER).desc)))

  /** [[rankedNewestFirst]] plus `_cnt` = versions per key (same key
    * partitioning — one shuffle) for the deep-version clamp. Only the
    * relative-version arms that actually clamp pay the count's
    * whole-partition frame. */
  private def rankedWithCount(rows: DataFrame): DataFrame =
    rankedNewestFirst(rows)
      .withColumn("_cnt", count(lit(1)).over(Window.partitionBy(col(keyCol))))

  /** The base-clamped rank a relative version addresses (per record). */
  private def clampedRank(relativeVersion: Int): Column =
    least(lit(1 - relativeVersion), col("_cnt"))

  /**
   * Secondary-predicate probe (reference: Index.locate on a non-key column
   * feeding Query.select, lstore/query.py:85): find candidate KEYS first —
   * any lineage row matching the predicate, a column-pruned scan with the
   * predicate pushed to parquet — semi-join the lineage down to those keys,
   * window only the candidates, then re-apply the predicate to the
   * reconstructed rows.
   *
   * Equivalent to `snapshot.where(predicate)`: a record whose latest
   * version matches has ≥1 matching version, so its key survives the
   * candidate scan. The win at scale: the window shuffle+sort shrinks from
   * the WHOLE table to the candidate keys (the scan cost itself is the
   * floor either way; Catalyst cannot push a non-key predicate below the
   * key-partitioned window, because an old version's value must not decide
   * the record's fate).
   */
  def probe(predicate: Column): DataFrame =
    probeWithCandidates(matchingKeys(predicate), predicate)

  /** The probe body with the candidate-key set supplied by the caller —
    * [[probe]] scans the lineage for it; [[Catalog.probeProjected]] reads
    * a slim maintained (column, key) projection instead, so the semi-join
    * + window shrink to the candidates without ever scanning the full
    * table's columns for the candidate discovery either. Contract: `keys`
    * is a single `_match_key` column holding a SUPERSET of the keys whose
    * any version matches (the final predicate re-application makes extras
    * harmless; a missing key would lose rows). */
  private[core] def probeWithCandidates(keys: DataFrame,
                                        predicate: Column): DataFrame = {
    if (compactedOnly)
      return lineage.where(col(DEL) === 0).where(predicate)
        .select(dataCols.map(col): _*)
    val candidates = lineage.join(keys,
      col(keyCol) <=> col("_match_key"), "left_semi")
    asOfMetaOver(candidates, 0).where(predicate).select(dataCols.map(col): _*)
  }

  /** Keys any of whose lineage rows matches — the candidate scan shared
    * by [[probe]] (semi join) and [[purge]] (anti join). Null-safe key
    * equality: a null-keyed record's versions form one window partition,
    * so they must match like any other. */
  private def matchingKeys(predicate: Column): DataFrame =
    lineage.where(predicate)
      .select(col(keyCol).as("_match_key")).distinct()

  /** Latest live version of every record (reference: Query.select semantics). */
  def snapshot: DataFrame = snapshotMeta.select(dataCols.map(col): _*)

  /** Record state `relativeVersion` steps back (reference: Query.select_version). */
  def asOfRelative(relativeVersion: Int): DataFrame =
    asOfMeta(relativeVersion).select(dataCols.map(col): _*)

  /**
   * State at ABSOLUTE version `maxVer`: every record's newest live row
   * stamped ≤ `maxVer`; records whose whole history stamps above it
   * (inserted later) are absent. [[asOfRelative]] is per-RECORD
   * addressing (the reference's select_version, lstore/query.py:118);
   * this is per-TABLE — the lakehouse `VERSION AS OF`, and the read
   * [[Catalog.asOfTimestamp]] resolves a wall-clock timestamp to via the
   * commit log. The `_ver` predicate is a plain column compare BELOW the
   * window, so it pushes to the parquet scan (tail files past the
   * version are skipped wholesale by footer min-max); the rank window
   * then runs over surviving rows only.
   */
  def asOfVersion(maxVer: Long): DataFrame = liveAt(lineage, maxVer)

  /** [[asOfVersion]] restricted to candidate keys BEFORE the window (the
    * [[probe]] trick, shared with [[Catalog.refreshMaterializedView]]'s
    * old-state read): the state at `maxVer` of ONLY the keys in `keys`
    * (a single `_match_key` column) — the rank window shuffles the
    * candidates, never the table, so a differential read against a
    * 100 TB table costs its changed keys. */
  private[core] def asOfVersionKeys(maxVer: Long, keys: DataFrame): DataFrame =
    liveAt(lineage.join(keys, col(keyCol) <=> col("_match_key"), "left_semi"),
      maxVer)

  /** Each record's newest live row of `rows` (lineage-shaped) stamped
    * ≤ `maxVer`, as data columns. */
  private def liveAt(rows: DataFrame, maxVer: Long): DataFrame = {
    val upTo = rows.where(col(VER) <= maxVer)
    val live =
      if (compactedOnly) upTo.where(col(DEL) === 0)
      else rankedWithCount(upTo)
        .where(col("_rn") === 1 && col(DEL) === 0)
        .drop("_rn", "_cnt")
    live.select(dataCols.map(col): _*)
  }

  /** Append new records (reference: Query.insert, lstore/query.py:57).
    * Stamped with the next table version — NOT 0 — so inserting a key that
    * was previously deleted resurrects it (see opSeq doc above). */
  def insert(rows: DataFrame): LineageTable = {
    val stamped = rows
      .select(dataCols.map(col): _*)
      .withColumn(VER, lit(opSeq + 1))
      .withColumn(DEL, lit(0))
    withAppend(stamped.select(lineage.columns.map(col): _*))
  }

  /**
   * Partial update (reference: Query.update, lstore/query.py:131). Columns
   * absent from `set` carry forward — the schema-encoding semantics of the
   * reference, resolved at write time. `set` expressions may reference
   * current column values (so `increment` is `c -> col(c) + 1`).
   */
  def update(predicate: Column, set: Map[String, Column]): LineageTable = {
    // the partition column is immutable per key (directory pruning
    // soundness) — the lakehouse rule: move a record by delete + insert
    partGuard.foreach { case (p, _) => require(!set.contains(p),
      s"UPDATE may not assign partition column '$p' — a key's partition " +
        "is immutable (delete + insert under the new value instead)") }
    val current = snapshotMeta.where(predicate)
    // each assignment CASTS to the column's declared type (ANSI UPDATE):
    // a bare int literal into a bigint column must widen, or the delta
    // file's physical type would diverge from the table schema and
    // poison later tail reads. Unknown columns fail loud here (schema
    // lookup) instead of silently dropping in the final select.
    val updated = set.foldLeft(current) { case (df, (c, e)) =>
      df.withColumn(c, e.cast(df.schema(c).dataType)) }
      .withColumn(VER, lit(opSeq + 1))
      .withColumn(DEL, lit(0))
    // partition columns unassignable here (required above) — rows keep
    // their snapshot partition, guard elided
    withAppend(updated.select(lineage.columns.map(col): _*), guard = false)
  }

  /** Tombstone matching records (reference: Query.delete, lstore/query.py:27). */
  def delete(predicate: Column): LineageTable = {
    val tomb = snapshotMeta.where(predicate)
      .withColumn(VER, lit(opSeq + 1))
      .withColumn(DEL, lit(1))
    // tombstones copy snapshot rows — partition unchanged, guard elided
    withAppend(tomb.select(lineage.columns.map(col): _*), guard = false)
  }

  /** Increment one column of matching records (reference: Query.increment). */
  def increment(predicate: Column, column: String): LineageTable =
    update(predicate, Map(column -> (col(column) + lit(1))))

  /**
   * MERGE INTO — the lakehouse upsert as ONE atomic op. `source` carries
   * the table schema, with unique keys (the reference's primary-index
   * contract for a single op, lstore/query.py:57):
   *
   *   - matched records UPDATE: `updateCols` taken from the source row,
   *     every other column carried forward from the current version (the
   *     same write-time-merge semantics as [[update]]);
   *   - matched records where `deleteWhen` holds (evaluated on the SOURCE
   *     row's columns, pre-join — the `WHEN MATCHED AND cond THEN DELETE`
   *     clause) tombstone instead, carrying the current values like
   *     [[delete]];
   *   - unmatched source rows INSERT (tombstoned keys resurrect, exactly
   *     as a plain [[insert]] would — matching is against the live
   *     snapshot).
   *
   * The reference spells this as separate insert/update/delete calls in
   * one transaction (lstore/transaction.py:26); MERGE is the
   * single-statement form, and as ONE op it takes one `_ver` stamp — the
   * whole merge is a single version in history, which is what an audit
   * (ls_history) should see.
   *
   * Delta-proportional at 100 TB: the target side is pre-restricted to
   * the source's key set before the snapshot window (the [[probe]]
   * trick — lineage semi-joined to source keys, window over candidates
   * only), so the window shuffle scales with |source|, never with the
   * table; the appended delta is exactly one row per source row. Delta
   * Lake's MERGE rewrites every matched file — an append-only lineage
   * pays rows, not files.
   */
  def mergeInto(source: DataFrame, updateCols: Seq[String],
                deleteWhen: Option[Column] = None,
                notMatchedBySourceDelete: Option[Column] = None,
                notMatchedBySourceUpdate:
                  Option[(Option[Column], Map[String, Column])] = None,
                updateWhen: Option[Column] = None,
                /** Per-COLUMN update gates (r13 — ordered arms that SET
                  * different columns): column c copies from the source
                  * only when its gate holds on the source row; ungated
                  * updateCols columns copy whenever the row updates.
                  * Gates evaluate on the source row pre-join, like
                  * deleteWhen/updateWhen; keys must be updateCols
                  * members. */
                updateColGates: Map[String, Column] = Map.empty):
      LineageTable = {
    require(updateCols.nonEmpty && updateCols.forall(c =>
      dataCols.contains(c) && c != keyCol),
      s"updateCols must be non-key data columns, got ${updateCols.mkString(",")}")
    require(updateColGates.keySet.subsetOf(updateCols.toSet),
      "mergeInto: updateColGates keys must be updateCols members, got " +
        (updateColGates.keySet -- updateCols.toSet).mkString(","))
    require(notMatchedBySourceDelete.isEmpty ||
        notMatchedBySourceUpdate.isEmpty,
      "mergeInto: at most ONE not-matched-by-source action (the engine " +
        "takes no clause-order semantics — express delete-some/" +
        "deactivate-rest as two merges)")
    notMatchedBySourceUpdate.foreach { case (_, asg) =>
      require(asg.nonEmpty && asg.keys.forall(c =>
        dataCols.contains(c) && c != keyCol),
        "mergeInto: BY SOURCE UPDATE assignments must set non-key data " +
          s"columns, got ${asg.keys.mkString(",")}")
    }
    // a NULL gate must read as "don't delete": three-valued logic would
    // otherwise stamp a NULL _del, and the appended newest version would
    // fail the snapshot's _del = 0 filter — the record silently VANISHES
    val src = source.select(dataCols.map(col): _*)
      .withColumn("_mdel",
        coalesce(deleteWhen.getOrElse(lit(false)).cast("boolean"), lit(false)))
      // matched-UPDATE gate (r13 — ordered WHEN MATCHED arms): a matched
      // row passing neither gate appends NOTHING (the target row stays
      // the live version — SQL MERGE's "no arm matched" semantics).
      // Absent = always update (every pre-r13 caller). Evaluates on the
      // source row pre-join, like deleteWhen; deleteWhen wins when both
      // hold (callers with ordered-arm semantics pass disjoint gates).
      .withColumn("_mupd",
        coalesce(updateWhen.getOrElse(lit(true)).cast("boolean"), lit(false)))
      // per-column gates ride the source row the same way (NULL = don't
      // copy this column)
      .transform(df => updateColGates.foldLeft(df) { case (d, (c, g)) =>
        d.withColumn(s"_mg_$c",
          coalesce(g.cast("boolean"), lit(false))) })
    // Source keys must be unique (one row per key per op — the snapshot
    // window's tie rule demands it): the check rides the aggregation the
    // candidate-key distinct already pays, erroring DISTRIBUTED on the
    // first duplicate instead of silently making snapshot ties
    // nondeterministic forever (a real CDC hazard — a batch with two
    // changes for one key must be collapsed by the caller first).
    val keys = src.groupBy(col(keyCol).as("_match_key"))
      .agg(count(lit(1)).as("_n"))
      .select(when(col("_n") > 1, raise_error(concat(
          lit(s"mergeInto: duplicate source key in column '$keyCol': "),
          coalesce(col("_match_key").cast("string"), lit("NULL")))))
        .otherwise(col("_match_key")).as("_match_key"))
    // current state restricted to the source's keys: semi-join BEFORE the
    // snapshot window, so only candidate partitions shuffle (cf. probe).
    // The compacted fast path keeps the semi-join too — it both shrinks
    // the merge join's build input and keeps the duplicate check in the
    // executed plan on every path.
    val candidates =
      lineage.join(keys, col(keyCol) <=> col("_match_key"), "left_semi")
    val current =
      if (compactedOnly) candidates.where(col(DEL) === 0)
      else asOfMetaOver(candidates, 0)
    // matched-ness via an explicit marker, NOT the key's null-ness: a
    // null-keyed record legitimately matches through the null-safe join,
    // and misreading it as unmatched would run the insert arm (dropping
    // carry-forward columns and bypassing the delete gate)
    val tgt = current.select(
      dataCols.map(c => col(c).as(s"_t_$c")) :+ lit(true).as("_t_exists"): _*)
    val joined = src.join(tgt, col(keyCol) <=> col(s"_t_$keyCol"), "left_outer")
    val matched = coalesce(col("_t_exists"), lit(false))
    val vals = dataCols.map { c =>
      when(matched && col("_mdel"), col(s"_t_$c"))
        .when(matched,
          if (c == keyCol) col(c)
          else if (updateColGates.contains(c))
            // gated column: copy only when ITS arm fired; else carry
            when(col(s"_mg_$c"), col(c)).otherwise(col(s"_t_$c"))
          else if (updateCols.contains(c)) col(c)
          else col(s"_t_$c"))
        .otherwise(col(c))
        .as(c)
    }
    val stamped = joined
      // matched rows passing neither gate drop out: no new version row,
      // the target record is untouched by this merge
      .where(!matched || col("_mdel") || col("_mupd"))
      .select(vals :+ (matched && col("_mdel")).cast("int").as(DEL): _*)
      .withColumn(VER, lit(opSeq + 1))
    val delta = stamped.select(lineage.columns.map(col): _*)
    // WHEN NOT MATCHED BY SOURCE THEN DELETE (the Delta sync-job form):
    // tombstone live target records whose key the source did NOT carry,
    // optionally gated by a condition over TARGET columns. This arm is
    // the one place merge pays |target| instead of |source| — inherent
    // to the semantics ("what vanished from the source?" is a question
    // about every target row), and it is a key anti-join against a
    // |source|-sized build side, not a window over history. Same _ver
    // stamp: the whole merge is still ONE version in the audit trail.
    // WHEN NOT MATCHED BY SOURCE THEN UPDATE (r12): re-stamp — not
    // tombstone — live target records the source no longer carries,
    // with assignments evaluated over the TARGET row (the only row
    // that exists), e.g. `SET active = false` in a sync job that
    // deactivates instead of deleting. Same |target| anti-join shape
    // and the same single `_ver` stamp as the delete arm.
    val bySource: Option[(Option[Column], DataFrame => DataFrame)] =
      (notMatchedBySourceDelete, notMatchedBySourceUpdate) match {
        case (Some(cond), _) => Some((Some(cond), (df: DataFrame) =>
          df.withColumn(VER, lit(opSeq + 1)).withColumn(DEL, lit(1))))
        case (_, Some((gate, asg))) => Some((gate, (df: DataFrame) =>
          df.select(df.columns.map {
            case c if asg.contains(c) => asg(c).as(c)
            case VER => lit(opSeq + 1).as(VER)
            case c => col(c)
          }.toSeq: _*)))
        case _ => None
      }
    val full = bySource match {
      case None => delta
      case Some((cond, restamp)) =>
        val srcKeys = src.select(col(keyCol).as("_match_key")).distinct()
        // two-phase gone set (r13): the single fat window previously
        // moved |target| FULL-WIDTH rows through its shuffle just to
        // find what vanished. Phase 1 windows a slim (key, _ver, _del)
        // projection of the lineage to the live key set and anti-joins
        // the source — |target| ~24-byte rows; phase 2 windows only the
        // gone candidates at full width — |gone| rows, and the sync-job
        // contract makes |gone| ≪ |target|. Column pruning cannot do
        // this alone: the restamp needs every column, so the fat
        // window's shuffle width was load-bearing.
        val goneKeys = asOfMetaOver(
            lineage.select(col(keyCol), col(VER), col(DEL)), 0)
          .select(col(keyCol).as("_gone_key"))
          .join(srcKeys, col("_gone_key") <=> col("_match_key"), "left_anti")
        val goneLive = asOfMetaOver(
          lineage.join(goneKeys, col(keyCol) <=> col("_gone_key"),
            "left_semi"), 0)
        val gone = restamp(goneLive
          .where(coalesce(cond.getOrElse(lit(true)).cast("boolean"),
            lit(false))))
        delta.unionByName(gone.select(lineage.columns.map(col): _*))
    }
    withAppend(full)
  }

  /**
   * Time-travel restore, as a WRITE: make every record's state
   * `relativeVersion` steps back (clamped at its oldest version — the
   * [[asOfRelative]] clamp, reference lstore/query.py:118) the new
   * latest, by appending one re-stamped version per CHANGED record.
   * History is preserved: the restore is itself an op, so it can be
   * rolled back (`restore(-1)` twice returns to the pre-restore state)
   * and an audit sees it like any other write — never a history rewrite.
   * Records whose latest row already IS their target row (untouched
   * since) append nothing, so the write is proportional to the records
   * changed in the last |k| ops, not to the table — the property that
   * makes restore viable on a 100 TB table with a small bad commit to
   * undo. A record live at the target and deleted now resurrects; one
   * dead at the target gets its tombstone re-appended; by construction
   * `restore(-k).snapshot` ≡ `asOfRelative(-k)`. One key-partitioned
   * window — the same single shuffle as any snapshot read.
   */
  def restore(relativeVersion: Int): LineageTable = {
    require(relativeVersion < 0,
      s"restore target must be a negative relative version, got $relativeVersion")
    // Single-version table: every relative version clamps to the present —
    // nothing to change, and a no-op must not dirty compactedOnly.
    if (compactedOnly) return this
    val target = clampedRank(relativeVersion)
    val changed = rankedWithCount(lineage)
      .where(col("_rn") === target && target > lit(1))
      .withColumn(VER, lit(opSeq + 1))
      .drop("_rn", "_cnt")
    // re-stamped historical versions of existing keys — a key's
    // partition is immutable across its versions, guard elided
    withAppend(changed.select(lineage.columns.map(col): _*), guard = false)
  }

  /**
   * Change-data-capture diff: what changed between the state
   * `relativeVersion` steps back and now, one row per changed record with
   * `change ∈ {insert, delete, update}` plus old_ / new_ value columns.
   * This is the read that turns a lineage store into a CDC source (the
   * lakehouse "change feed"): downstream consumers re-sync from a version
   * instead of re-reading the table.
   *
   * ONE pass, no self-join: the usual formulation — full-outer-join the
   * two snapshots — scans and shuffles the lineage twice; here both
   * versions come out of the SAME ranked window (the old version is just
   * a different rank in the same per-key order), picked by conditional
   * aggregation over the key partitioning the window already established,
   * so Catalyst plans one scan, one shuffle, zero joins. Unchanged
   * records (the overwhelming majority at 100 TB) are filtered by a
   * null-safe struct compare before anything leaves the aggregate.
   */
  def diffRelative(relativeVersion: Int): DataFrame = {
    require(relativeVersion < 0,
      s"diff target must be a negative relative version, got $relativeVersion")
    val valueCols = dataCols.filterNot(_ == keyCol)
    val payload = struct(valueCols.map(col): _*)
    val changeAndValues =
      when(col("_old").isNull, lit("insert"))
        .when(col("_new").isNull, lit("delete"))
        .otherwise(lit("update")).as("change") +:
      (valueCols.map(c => col(s"_old.$c").as(s"old_$c")) ++
       valueCols.map(c => col(s"_new.$c").as(s"new_$c")))
    // Single-version table: old state ≡ new state (version addressing
    // clamps at base) — the diff is empty by definition, but return a
    // plan with the right schema rather than a special case.
    rankedWithCount(lineage)
      .groupBy(col(keyCol))
      .agg(
        max(when(col("_rn") === 1 && col(DEL) === 0, payload)).as("_new"),
        max(when(col("_rn") === clampedRank(relativeVersion) && col(DEL) === 0,
          payload)).as("_old"))
      .where(!(col("_new") <=> col("_old")))
      .select(col(keyCol) +: changeAndValues: _*)
  }

  /**
   * The reference's merge (lstore/table.py:186) as compaction: the lineage
   * collapses to the current snapshot re-stamped as base. Persisting the
   * result (and truncating the tail) is [[Catalog.compact]].
   */
  def compact: LineageTable =
    new LineageTable(keyCol, dataCols,
      snapshotMeta.withColumn(VER, lit(0L)).withColumn(DEL, lit(0)),
      opSeq = 0, delta = None, compactedOnly = true, partGuard)

  /**
   * Retention vacuum (storage reclaim): keep only the newest `keep`
   * lineage rows per key; older superseded versions are physically
   * dropped. The newest row always survives — tombstones included — so
   * the SNAPSHOT is invariant; version addressing deeper than the retained
   * history clamps to the oldest retained row, the same clamp the
   * reference's merge imposes when history folds into base
   * (lstore/table.py:186). At 100 TB this is the lever that keeps a
   * heavily-updated table's lineage from growing without bound while
   * still serving bounded time travel ([[compact]] is vacuum(1) that
   * also re-stamps base). One key-partitioned window — the same single
   * shuffle as a snapshot read; [[Catalog.vacuum]] persists the result.
   */
  def vacuum(keep: Int): LineageTable =
    // The pending delta passes through untouched: uncommitted ops stay
    // durable through a later Catalog.commit (vacuum trims HISTORY, it
    // must never eat a write). Only Catalog.vacuum persists retention.
    new LineageTable(keyCol, dataCols, retained(keep).drop("_rn"), opSeq,
      delta, compactedOnly = false, partGuard)

  /** The retention core shared by [[vacuum]] and [[Catalog.vacuum]] (ONE
    * implementation of the safety-critical rules): newest `keep` rows per
    * key, ranked in `_rn` (1 = newest — the caller drops or re-stamps
    * from it). A key whose entire retained history is one tombstone is
    * fully dead — no version of it is visible at ANY relative version —
    * so the tombstone itself goes too; that is what keeps a keep=1 result
    * live-only, the invariant the empty-tail fast path and the footer
    * inventory rely on. (Both windows share the key partitioning: one
    * shuffle.) */
  private[core] def retained(keep: Int): DataFrame = {
    require(keep >= 1, s"must keep at least the newest version, got $keep")
    val byKey = Window.partitionBy(col(keyCol))
    lineage
      .withColumn("_rn", row_number().over(byKey.orderBy(col(VER).desc)))
      .where(col("_rn") <= keep)
      .withColumn("_kcnt", count(lit(1)).over(byKey))
      .where(!(col("_kcnt") === 1 && col(DEL) === 1))
      .drop("_kcnt")
  }

  /** TIME-BASED retention core ([[Catalog.vacuumOlderThan]] — the Delta
    * `VACUUM ... RETAIN n HOURS` shape over versioned lineage): keep
    * every row stamped ABOVE `bound` (the newest logged commit at-or-
    * before the retention instant) plus each key's newest row at-or-
    * below it — the key's state AS OF the bound, which any read at-or-
    * after the instant may still need; everything older is superseded
    * history. The snapshot is invariant by construction (each key's
    * newest row always survives); deep relative-version reads clamp at
    * the bound state. Same lone-tombstone rule as [[retained]]: a key
    * whose entire kept history is one tombstone is fully dead and goes
    * entirely. Two windows over one key partitioning — one shuffle. */
  private[core] def retainedSince(bound: Long): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol))
    val byKeyOld = Window.partitionBy(col(keyCol), col("_old"))
    lineage
      .withColumn("_old", (col(VER) <= bound).cast("int"))
      .withColumn("_rno", row_number().over(byKeyOld.orderBy(col(VER).desc)))
      .where(col("_old") === 0 || col("_rno") === 1)
      .drop("_old", "_rno")
      .withColumn("_kcnt", count(lit(1)).over(byKey))
      .where(!(col("_kcnt") === 1 && col(DEL) === 1))
      .drop("_kcnt")
  }

  /**
   * Hard purge (right-to-be-forgotten): physically remove EVERY version
   * of every key any of whose lineage rows matches `predicate` — unlike
   * [[delete]] (a tombstone append: history stays) and [[vacuum]]
   * (retention: the newest versions stay). Matching is against any
   * version, not just the live one, because the point is erasure: a
   * value that ever appeared must take its whole record with it.
   * One pushed-down candidate scan + one anti join on the key — no
   * window, no re-ranking; remaining keys are untouched so all version
   * addressing is preserved (removing whole keys can't create
   * multi-version records, so the compacted fast path survives too).
   * [[Catalog.purge]] persists the result durably.
   */
  def purge(predicate: Column): LineageTable = {
    val keys = matchingKeys(predicate)
    def scrub(rows: DataFrame): DataFrame =
      rows.join(keys, col(keyCol) <=> col("_match_key"), "left_anti")
    // the pending delta is scrubbed too — erasure must hold through a
    // later commit, not just in-memory reads (contrast vacuum, which
    // passes the delta through untouched because it only trims history)
    new LineageTable(keyCol, dataCols, scrub(lineage), opSeq,
      delta.map(scrub), compactedOnly, partGuard)
  }

  /**
   * Batch change feed: the change rows of commits in (fromVer, toVer] —
   * one row per changed record per commit, `op ∈ {upsert, delete}`,
   * `commit_ver` = the commit's stamp (the same event shape as the
   * streaming [[graft.streaming.StreamOps.changeFeed]]; `diffRelative`
   * is the NET-change variant that collapses a record's commits into one
   * old/new row). A pushed `_ver` range predicate — tail files wholly
   * outside the range skip by footer min-max; base files (stamped at or
   * below any legitimate `fromVer`) never read past their footers.
   */
  def changesBetween(fromVer: Long, toVer: Long): DataFrame = {
    require(fromVer < toVer,
      s"changesBetween: empty range ($fromVer, $toVer]")
    lineage.where(col(VER) > fromVer && col(VER) <= toVer)
      .select(dataCols.map(col) ++ Seq(
        col(VER).as("commit_ver"),
        when(col(DEL) === 1, lit("delete")).otherwise(lit("upsert"))
          .as("op")): _*)
  }

  /** Key-range scan of the current snapshot (reference aggregates iterate
    * keys in [start, end]; here it is a pushed-down range predicate). */
  def keyRange(lo: Long, hi: Long): DataFrame =
    snapshot.where(col(keyCol).between(lo, hi))

  /** Range scan at a relative version (reference: Query.sum_version). */
  def keyRangeAsOf(lo: Long, hi: Long, relativeVersion: Int): DataFrame =
    asOfRelative(relativeVersion).where(col(keyCol).between(lo, hi))

  /** Pin the lineage in executor memory/disk (reference: bufferpool pinning,
    * lstore/db.py — Spark's block manager plays that role). Lazy: the first
    * action materializes; later reads skip re-executing the write DAG. */
  def persisted: LineageTable = {
    lineage.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    this
  }

  /**
   * Materialize the lineage into the block store and truncate its write
   * DAG to a leaf (the bufferpool analog for a DERIVED in-memory table —
   * committed tables get the same property from their parquet base).
   *
   * Why not just [[persisted]]: plan-cache substitution matches SUBTREES,
   * and `unionByName` eagerly flattens nested Unions (CombineUnions), so
   * the moment a chained write op unions new rows onto a persisted
   * lineage that is itself a union, the persisted subtree stops existing
   * as a node in the new plan — every op then re-derives the whole prior
   * state, exponentially for a chain (a 3-op txn over the persisted
   * fixture re-executed its three snapshot windows ~8x). A leaf plan
   * cannot be flattened apart, so chained ops reference the materialized
   * blocks no matter how the plan above them is rewritten.
   */
  def materialized: LineageTable =
    // SERIALIZED storage, not the default deserialized objects: a
    // deserialized row costs several× its serialized bytes in heap, and
    // at the 1000× SF the checkpointed lineage (~165M rows) OOMed a 24g
    // driver as live objects while fitting comfortably as compact bytes
    // that spill to disk under pressure (measured r8: ls_merge_into at
    // 1000× went from OOM to finishing; the per-read deserialization
    // cost at sf0.1 is inside the noise band). Production-shaped tables
    // live in the Catalog (parquet) — this fixture cache is the
    // in-session path, and it must degrade to disk, never fall over.
    new LineageTable(keyCol, dataCols,
      lineage.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER), opSeq,
      delta, compactedOnly, partGuard, knownEmpty)

  /** Chain an op: append its rows to the lineage AND to the pending delta.
    *
    * Partitioned tables guard EVERY appended row here — the one
    * chokepoint all ops funnel through — against moving an existing key
    * across partitions (directory-pruned reads would otherwise resurrect
    * the old partition's shadowed versions after a fold). The guard is a
    * lazy `raise_error` folded INTO the partition column itself (a
    * side-channel check column would be pruned away unevaluated): each
    * appended row left-joins the existing distinct (key → partition)
    * pairs — a two-column dictionary-encoded scan, the documented
    * write-path price of upsert-by-key into a partitioned layout; update/
    * delete/merge-matched rows inherit their partition from the snapshot
    * and pass structurally. */
  private def withAppend(rows: DataFrame): LineageTable =
    withAppend(rows, guard = true)

  /** [[withAppend]] with the partition guard ELIDED for ops whose rows
    * inherit their partition from the snapshot BY CONSTRUCTION and so
    * can never move a key across directories: [[update]] (assigning a
    * partition column is rejected up front), [[delete]] (tombstones copy
    * the snapshot row), [[restore]] (re-stamps a historical version of
    * the same key — partitions are immutable per key, so every version
    * shares one). For those the guard join is provably vacuous; paying
    * its distinct + join (two AQE shuffle stages over the whole key set)
    * per tombstone batch was pure cost. [[insert]] and [[mergeInto]]
    * keep the guard: their rows carry caller-supplied partition values
    * (merge's BY SOURCE UPDATE arm may even assign one). */
  private def withAppend(rows: DataFrame, guard: Boolean): LineageTable = {
    val guarded = partGuard match {
      case Seq() => rows
      case _ if !guard => rows
      // no existing keys ⇒ no key can move partitions: the guard join is
      // vacuous, skip its distinct + join (the flag is cleared below, so
      // a second op in the same txn guards against the first op's keys)
      case _ if knownEmpty => rows
      case ps =>
        // the guard compares the TUPLE of DERIVED directory values (r12
        // multi-column + transforms — for days(ts) two timestamps in the
        // same day are the same partition): one struct per side, one
        // null-safe struct compare — still a dictionary-friendly scan
        val derived = struct(ps.map(_._2): _*)
        val existing = lineage
          .select(col(keyCol).as("_gk"), derived.as("_gp"))
          .distinct()
        val p0 = ps.head._1
        rows.join(existing, col(keyCol) <=> col("_gk"), "left")
          .withColumn(p0,
            when(col("_gk").isNotNull && !(col("_gp") <=> derived),
              raise_error(concat(
                lit(s"partition columns (${ps.map(_._1).mkString(", ")}) " +
                  "are immutable per key: key "),
                col(keyCol).cast("string"),
                lit(" already lives in partition "),
                col("_gp").cast("string")))
                .cast(rows.schema(p0).dataType))
            .otherwise(col(p0)))
          .drop("_gk", "_gp")
          .select(rows.columns.map(col): _*)
    }
    new LineageTable(keyCol, dataCols, lineage.unionByName(guarded), opSeq + 1,
      Some(delta.fold(guarded)(_.unionByName(guarded))),
      compactedOnly = false, partGuard, knownEmpty = false)
  }
}

object LineageTable {
  private[core] val VER = "_ver"
  private[core] val DEL = "_del"

  /** Re-attach a persisted lineage (already carries _ver/_del) — used by
    * [[Catalog]] when reopening a warehouse table. */
  private[core] def fromPersisted(keyCol: String, dataCols: Seq[String],
                                  lineage: DataFrame, maxVer: Long,
                                  tailEmpty: Boolean,
                                  partGuard: Seq[(String, Column)] = Nil,
                                  knownEmpty: Boolean = false): LineageTable =
    new LineageTable(keyCol, dataCols, lineage, maxVer, delta = None,
      compactedOnly = tailEmpty, partGuard, knownEmpty = knownEmpty)

  /** Bootstrap a lineage table from plain rows (all base, version 0). */
  def fromBase(keyCol: String, rows: DataFrame): LineageTable = {
    val dataCols = rows.columns.toSeq
    require(dataCols.contains(keyCol), s"key column $keyCol not in ${dataCols.mkString(",")}")
    new LineageTable(keyCol, dataCols,
      rows.withColumn(VER, lit(0L)).withColumn(DEL, lit(0)), opSeq = 0,
      delta = None, compactedOnly = true)
  }
}
