package graft.core

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.util.MinimalPrettyPrinter
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, PropertyNamingStrategies}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/**
 * Table metadata: the content of `<table>/_graft.json` and of each
 * retained snapshot manifest `_snap/<id>.json`. On disk it is one flat
 * JSON object of the fields below, in this order, under their snake_case
 * names ([[TableMeta]]); a field missing from the file takes its default.
 * Each keyed pairing is one insertion-ordered map here and two parallel
 * arrays on disk (keys, then values), a layout only [[TableMeta]] knows.
 */
private[core] case class Meta(
    key: String,
    columns: Seq[String],
    index: Option[String],
    opSeq: Long,
    /** True when the base itself holds multi-version
      * history (a keep>1 vacuum) — the empty-tail
      * fast path and footer inventory must not fire. */
    multiVer: Boolean = false,
    /** op_seq of the last physical rewrite: every
      * row of its base stamps at or below this and
      * every later commit above it, so it addresses
      * the base state ([[asOfTimestamp]]'s clamp). */
    tailFloor: Long = 0,
    /** Columns added by [[addColumn]] after creation:
      * PHYSICAL name → declared type. Files written
      * before the add lack the column and read back
      * as null ([[getTable]] fill). On disk
      * `added_cols`/`added_types`. */
    added: ListMap[String, String] = ListMap.empty,
    /** Columns with a maintained (column, key)
      * projection side table ([[createProjection]]):
      * commit appends deltas, compaction rebuilds. */
    projCols: Seq[String] = Nil,
    /** COLUMN MAPPING ([[renameColumn]], the Delta
      * column-mapping shape): logical name →
      * physical file-column name; only renamed
      * columns appear. Writes map logical→physical
      * ([[lineageWriter]]), reads map back
      * ([[assembleTable]]) — no data file is ever
      * rewritten for a rename. On disk
      * `ren_logical`/`ren_physical`. */
    renamed: ListMap[String, String] = ListMap.empty,
    /** Physical columns retired by [[dropColumn]]:
      * old files still carry them (metadata-only
      * drop); a later re-ADD of the same logical
      * name maps to a FRESH physical name so the
      * dropped column's values can never
      * resurrect. */
    droppedPhys: Seq[String] = Nil,
    /** Commit log for timestamp time travel
      * ([[commitAt]]/[[asOfTimestamp]]): (resulting
      * op_seq, caller timestamp) pairs, append-only
      * and time-ordered; cleared by any physical
      * re-stamp. On disk `commit_vers`/`commit_ts`. */
    commitLog: Seq[(Long, Long)] = Nil,
    /** Last applied streaming batch PER WRITER
      * (writer id → last batch id, least recently
      * committing writer first; on disk
      * `stream_apps`/`stream_batches`), recorded
      * atomically with the commit (its
      * record) — the Delta txn-appId/version
      * idempotence pattern ([[tryCommit]] skips a
      * replayed batch). A MAP, not a single slot:
      * with two interleaved writers on one table a
      * single slot lets writer B's commit overwrite
      * A's record, so A's retry of an already-
      * applied batch would double-apply. Bounded at
      * [[Catalog.maxStreamWriters]] entries (oldest
      * dropped — a dropped writer's replay window
      * has long since closed). */
    streamBatches: ListMap[String, Long] = ListMap.empty,
    /** ANALYZE results ([[analyzeTable]]): column
      * → NDV estimate (on disk `stats_cols`/
      * `stats_ndv`) + live row count, the
      * statistics [[graft.plans.NdvBroadcastRule]]
      * plans joins from. */
    stats: ListMap[String, Long] = ListMap.empty,
    statsRows: Long = -1L,
    /** Retained pre-rewrite snapshot ids, oldest
      * first (id = the pre-rewrite op_seq; data
      * under `_snap/<id>/`, the pre-rewrite meta —
      * whose commit log still addresses the old
      * stamps — under `_snap/<id>.json`). */
    snaps: Seq[Long] = Nil,
    /** True once ANY snapshot has been dropped
      * (retention expiry, vacuum/purge/merge):
      * a timestamp older than every retained log
      * then ERRORS instead of clamping — the state
      * it names may have lived in a dropped
      * snapshot, and a silent clamp would serve
      * the wrong data as if it were right. */
    snapsDropped: Boolean = false,
    /** CHECK constraints ([[addConstraint]]):
      * name (a checked identifier) → SQL
      * expression. On disk `con_names`/`con_exprs`,
      * the expression hex-encoded as every metadata
      * file has held it. Enforced at O(delta) per
      * commit ([[tryCommit]]/[[commitMulti]]); the
      * full-table scan happens ONCE, at add time. */
    constraints: ListMap[String, String] = ListMap.empty,
    /** Materialized-view definition
      * ([[createMaterializedView]]): the source
      * table + summed columns + group columns
      * (a single-column group IS this table's key;
      * composite groups key on the synthesized
      * `_gkey`), and the source op_seq this view is
      * current AT — advanced atomically with each
      * refresh commit (same commit record), so a
      * crashed refresh can never double-apply its
      * adjustments. */
    mvSrc: Option[String] = None,
    mvSums: Seq[String] = Nil,
    /** min/max-maintained measure columns (r10):
      * maintained incrementally while the removed
      * side's extremum is not the group's; a
      * deletion OF the extremum re-scans that
      * group only ([[refreshMaterializedView]]). */
    mvMins: Seq[String] = Nil,
    mvMaxs: Seq[String] = Nil,
    /** Multi-column Z-order layout (r10,
      * [[zorderTable]]): when ≥2 columns, the
      * physical order of every base rewrite is the
      * morton code over these columns instead of
      * the single index/key sort — one layout
      * serving range probes on all of them.
      * Mutually exclusive with `index`. */
    zorderCols: Seq[String] = Nil,
    /** The view's group columns (see [[mvSrc]]). */
    mvGroups: Seq[String] = Nil,
    mvSeq: Long = -1L,
    /** The view op_seq whose adjustment rows the
      * LAST refresh appended (−1 before any
      * refresh). Releases that wrote meta before
      * rows could crash inside a refresh with
      * `mv_seq` advanced and the rows absent — the
      * next refresh probes for rows at this stamp
      * and falls back to a full recompute when they
      * never landed, instead of silently serving a
      * diverged view forever (ADVICE r8). */
    mvLastVer: Long = -1L,
    /** Incremented by EVERY physical re-stamp
      * (fold/vacuum/purge/saveCompacted). op_seq
      * alone cannot reveal a rewrite — saveCompacted
      * resets the clock to 0, so a later commit can
      * land on a previously-seen op_seq with
      * entirely different history behind it. An
      * incremental reader ([[refreshMaterializedView]])
      * compares the epoch it recorded and falls back
      * to a full recompute on mismatch. */
    epoch: Long = 0L,
    /** Source epoch the view's `mv_seq` belongs to. */
    mvEpoch: Long = -1L,
    /** Columns whose data files carry PARQUET BLOOM
      * FILTERS ([[createBloomFilter]]): every
      * lineage write (tail append, compaction,
      * re-stamp) emits them, so point probes
      * row-group-skip on a column whose sort order
      * is spent elsewhere. */
    bloomCols: Seq[String] = Nil,
    /** JOIN materialized view
      * ([[createJoinMaterializedView]]): the dim
      * table inner-joined to the source on
      * src.`mvFk` = dim.key before grouping. The
      * dim's (op_seq, epoch) at the view's last
      * (re)build: the incremental path requires the
      * dim UNCHANGED since (star-schema IVM — fact
      * deltas maintain, dim changes force a full
      * recompute, the classical self-maintainability
      * boundary). */
    mvDim: Option[String] = None,
    mvFk: Option[String] = None,
    mvDimSeq: Long = -1L,
    mvDimEpoch: Long = -1L,
    /** PARTITION COLUMNS (r11; multi-column
      * r12 — the lakehouse PARTITIONED BY): the
      * base lays out as `base/_pd=p<value>/`
      * directories (nested `_pd0=/_pd1=/...` for
      * multi-column) (the `p`
      * prefix forces string partition-value
      * inference, so types and leading zeros
      * survive the round-trip; the real column
      * stays IN the files with its exact type) and
      * a partition-scoped read prunes whole
      * directories below the snapshot window
      * ([[partitionSnapshot]]). The TAIL stays
      * flat — the column is a pushed data filter
      * there — so crash-heal and footer machinery
      * are untouched and the pruning win lands
      * where the bytes are (the compacted base).
      * Sound because a key's partition value is
      * IMMUTABLE ([[LineageTable]] write guards). */
    partCols: Seq[String] = Nil,
    partTypes: Seq[String] = Nil,
    /** Partition TRANSFORM per column (r12):
      * "id" = identity (the directory value is the
      * column's string form), "days" = epoch-day
      * bucket of a nanos-since-epoch BIGINT column
      * (the Iceberg days(ts) shape — one directory
      * per day). Empty = all identity (pre-r12
      * metadata). */
    partFuncs: Seq[String] = Nil,
    /** TYPE WIDENING ([[widenColumn]], the Delta
      * type-widening shape, r11): PHYSICAL column
      * name → widened type (on disk `widen_cols`/
      * `widen_types`). Metadata-only — old files keep their narrow
      * physical type and the reader upcasts
      * (explicit-schema parquet reads promote
      * int32→bigint / float→double per file);
      * writes use the widened type from the first
      * post-widen op on. */
    widened: ListMap[String, String] = ListMap.empty) {
  /** First partition column — the single-column convenience the r11
    * surface exposed; multi-column callers read [[partCols]]. */
  def partCol: Option[String] = partCols.headOption
  def partType: String = partTypes.headOption.getOrElse("")
  /** Transform per partition column, defaulted to identity for
    * metadata written before r12 carried part_funcs. */
  def funcs: Seq[String] =
    if (partFuncs.size == partCols.size) partFuncs
    else partCols.map(_ => "id")
  /** The newest logged op_seq whose timestamp passes `within` — what
    * timestamp time travel, time-based vacuum and a change feed's
    * starting timestamp resolve through. */
  def loggedVersion(within: Long => Boolean): Option[Long] =
    commitLog.collect { case (v, t) if within(t) => v }.maxOption
}

/**
 * A transaction record under `<warehouse>/_txn/`. Empty fields are not
 * written, which leaves three shapes: `<id>.json`, the commit point of
 * every single-catalog commit and physical rewrite (tables with their
 * `expected` → `next` op_seq, a `patch` for each table whose commit sets
 * more meta fields than op_seq, and the `rewrites`); `<gid>.part.json`
 * from [[Catalog.commitAcross]]
 * (one participant's share plus the `coordinator`'s root URI); and the
 * coordinator's `<gid>.json` decision naming every participant's root.
 */
@JsonInclude(JsonInclude.Include.NON_EMPTY)
private[core] case class TxnRecord(coordinator: Option[String] = None,
                                   tables: Seq[String] = Nil,
                                   expected: Seq[Long] = Nil,
                                   next: Seq[Long] = Nil,
                                   participants: Seq[String] = Nil,
                                   /** Per table: the meta fields the
                                     * commit sets besides op_seq, as a
                                     * partial meta object ([[TableMeta
                                     * .diff]]) — the commit-log entry, a
                                     * stream batch id, a view's `mv_*`,
                                     * every field a rewrite sets. */
                                   patch: Map[String, ObjectNode] = Map.empty,
                                   /** The tables this record gives a new
                                     * base, staged under
                                     * `_txn/<id>/<table>/base/` — a
                                     * physical rewrite ([[Catalog
                                     * .commitRewrite]]). */
                                   rewrites: Seq[String] = Nil)

/** The one JSON codec for [[Meta]] and [[TxnRecord]]. It writes one line
  * in the `{"field": value, "list": [a, b]}` spacing earlier releases
  * wrote, and reads every earlier release's files through one path. It
  * alone knows that a [[Meta]] map is stored as two parallel arrays: the
  * on-disk tree ([[tree]]) serves encoding, [[diff]] and [[patch]]. */
private[core] object TableMeta {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    // Seq[Long] elements erase to Object: bind JSON integers as Long
    .enable(DeserializationFeature.USE_LONG_FOR_INTS)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
    .build()
  private val writer = mapper.writer(new MinimalPrettyPrinter {
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit =
      g.writeRaw(": ")
    override def writeObjectEntrySeparator(g: JsonGenerator): Unit =
      g.writeRaw(", ")
    override def writeArrayValueSeparator(g: JsonGenerator): Unit =
      g.writeRaw(", ")
  })

  /** Each keyed pairing of [[Meta]] with the arrays that store its keys
    * and its values on disk, at the pairing's position. */
  private val pairs = Seq(
    ("added", "added_cols", "added_types"),
    ("renamed", "ren_logical", "ren_physical"),
    ("commit_log", "commit_vers", "commit_ts"),
    ("stream_batches", "stream_apps", "stream_batches"),
    ("stats", "stats_cols", "stats_ndv"),
    ("constraints", "con_names", "con_exprs"),
    ("widened", "widen_cols", "widen_types"))
  private val byField = pairs.map(p => p._1 -> p).toMap
  private val byKeys = pairs.map(p => p._2 -> p).toMap
  private val valueArrays = pairs.map(_._3).toSet

  def encode(m: Meta): String = writer.writeValueAsString(tree(m))
  def encode(r: TxnRecord): String = writer.writeValueAsString(r)

  /** Every text value `m` stores, as written — names, types and the
    * hex of constraint expressions. */
  def texts(m: Meta): Iterator[String] = {
    def walk(n: JsonNode): Iterator[String] =
      if (n.isTextual) Iterator(n.textValue)
      else n.elements.asScala.flatMap(walk)
    walk(tree(m))
  }

  def decodeMeta(json: String): Meta = {
    val o = mapper.readTree(json) match {
      case o: ObjectNode => o
      case _ => throw new IllegalArgumentException(s"not table metadata: $json")
    }
    // legacy scalars, read as one-element lists: "mv_sum" from before
    // multi-measure views (ADVICE r9: dropping it would make the next
    // refresh rewrite the view WITHOUT its measure), and a pre-r12
    // partitioned table's "part_col"/"part_type"
    for ((list, scalar) <- Seq("mv_sums" -> "mv_sum",
        "part_cols" -> "part_col", "part_types" -> "part_type"))
      if (o.path(list).isEmpty && o.path(scalar).isTextual)
        o.putArray(list).add(o.get(scalar))
    val m = fromTree(o)
    require(m.key != null, s"table metadata lacks a key: $json")
    m
  }

  def decodeTxn(json: String): TxnRecord =
    mapper.readValue(json, classOf[TxnRecord])

  /** The fields of `to` whose value differs from `from`'s. */
  def diff(from: Meta, to: Meta): ObjectNode = {
    val d = tree(to)
    tree(from).properties.forEach(e =>
      if (d.get(e.getKey) == e.getValue) d.remove(e.getKey))
    d
  }

  /** `m` with the fields of a [[diff]] replaced. */
  def patch(m: Meta, fields: ObjectNode): Meta =
    fromTree(tree(m).setAll[ObjectNode](fields))

  /** `m` in its on-disk shape: each map split in place into its key and
    * value arrays, constraint expressions hex-encoded. */
  private def tree(m: Meta): ObjectNode = {
    val out = mapper.createObjectNode()
    mapper.valueToTree[ObjectNode](m).properties.forEach { e =>
      byField.get(e.getKey) match {
        case Some((field, keys, values)) =>
          val (ks, vs) = (out.putArray(keys), out.putArray(values))
          // the commit log is an array of pairs, every other field an object
          if (field == "commit_log")
            e.getValue.forEach { kv => ks.add(kv.get(0)); vs.add(kv.get(1)) }
          else e.getValue.properties.forEach { kv =>
            ks.add(kv.getKey)
            if (field == "constraints") vs.add(hex(kv.getValue.textValue))
            else vs.add(kv.getValue)
          }
        case None => out.set[JsonNode](e.getKey, e.getValue)
      }
    }
    out
  }

  /** The [[Meta]] an on-disk tree holds: each key array zipped with its
    * value array into the map at the key array's position. */
  private def fromTree(o: ObjectNode): Meta = {
    val in = mapper.createObjectNode()
    o.properties.forEach { e =>
      byKeys.get(e.getKey) match {
        case Some((field, _, values)) =>
          val zipped = e.getValue.elements.asScala
            .zip(o.path(values).elements.asScala)
          if (field == "commit_log") {
            val log = in.putArray(field)
            zipped.foreach { case (k, v) => log.addArray().add(k).add(v) }
          } else {
            val map = in.putObject(field)
            zipped.foreach { case (k, v) =>
              if (field == "constraints") map.put(k.asText, unhex(v.asText))
              else map.set[JsonNode](k.asText, v)
            }
          }
        case None if valueArrays(e.getKey) => ()
        case None => in.set[JsonNode](e.getKey, e.getValue)
      }
    }
    mapper.treeToValue(in, classOf[Meta])
  }

  /** `con_exprs` has always held each expression hex-encoded, which also
    * passes the metadata identifier check. */
  private def hex(s: String): String =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .map("%02x".format(_)).mkString

  private def unhex(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray,
      java.nio.charset.StandardCharsets.UTF_8)
}
