package graft.core

import scala.collection.immutable.ListMap

import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/**
 * The metadata codec ([[TableMeta]]) against golden files written by the
 * earlier hand-built encoder (resources under `graft/core/table_meta/`):
 * every form already on disk must decode to the same values, and
 * re-encode to the same bytes. Warehouse URIs inside the transaction
 * records were renamed to `file:/data/warehouse/...`; their commas are
 * the point (a comma inside a JSON string is data, not a separator).
 * The `*_patch_*` files were written by the release before [[Meta]]
 * held maps: records carrying a `patch`, and the table metadata before
 * and after their roll-forward.
 */
class TableMetaSpec extends AnyFunSuite {

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/graft/core/table_meta/$name")
    assert(in != null, s"missing fixture $name")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  test("a meta with every field set decodes to its values and re-encodes byte-identically") {
    val json = fixture("meta_full.json")
    val m = TableMeta.decodeMeta(json)
    assert(m === Meta(key = "k", columns = Seq("k", "v", "s"),
      index = Some("v"), opSeq = 42L, multiVer = true, tailFloor = 7L,
      added = ListMap("a1" -> "bigint"),
      projCols = Seq("s"), renamed = ListMap("v2" -> "v"),
      droppedPhys = Seq("old"), commitLog = Seq(40L -> 1000L, 41L -> 2000L),
      streamBatches = ListMap("w1" -> 3L, "w2" -> 5L),
      stats = ListMap("v" -> 10L, "s" -> 3L), statsRows = 100L,
      snaps = Seq(12L, 30L), snapsDropped = true,
      constraints = ListMap("pos_v" -> "v > 0"), mvSrc = Some("src"),
      mvSums = Seq("m1", "m2"), mvMins = Seq("m1"), mvMaxs = Seq("m2"),
      zorderCols = Seq("v", "s"), mvGroups = Seq("g"), mvSeq = 9L,
      mvLastVer = 8L, epoch = 4L, mvEpoch = 3L, bloomCols = Seq("s"),
      mvDim = Some("dim"), mvFk = Some("fk"), mvDimSeq = 6L, mvDimEpoch = 2L,
      partCols = Seq("region", "ts"), partTypes = Seq("string", "bigint"),
      partFuncs = Seq("id", "days"), widened = ListMap("v" -> "bigint")))
    // numeric lists and map values hold Longs (an Integer element would
    // compare equal above but fail to unbox here)
    assert((m.commitLog.flatMap { case (v, t) => Seq(v, t) } ++
      m.streamBatches.values ++ m.stats.values ++ m.snaps).sum === 3144L)
    assert(TableMeta.encode(m) === json)
  }

  test("a pre-r12 meta's scalar part_col/part_type read as one-element sequences") {
    val m = TableMeta.decodeMeta(fixture("meta_pre_r12_partition.json"))
    assert(m === Meta(key = "k", columns = Seq("k", "region", "v"),
      index = None, opSeq = 3L, tailFloor = 2L, epoch = 1L,
      partCols = Seq("region"), partTypes = Seq("string")))
    assert(m.partCol === Some("region"))
    assert(m.funcs === Seq("id"), "no part_funcs means identity")
  }

  test("missing fields take their defaults; the legacy scalar mv_sum still reads") {
    val m = TableMeta.decodeMeta("""{"key": "k", "columns": ["k", "v"]}""")
    assert(m === Meta("k", Seq("k", "v"), None, 0L))
    assert((m.opSeq, m.tailFloor, m.statsRows, m.mvSeq, m.mvEpoch, m.epoch) ===
      ((0L, 0L, -1L, -1L, -1L, 0L)))
    val legacy = TableMeta.decodeMeta(
      """{"key": "g", "columns": ["g", "cents"], "mv_src": "f", "mv_sum": "m"}""")
    assert(legacy.mvSums === Seq("m"))
    assert(legacy.mvSrc === Some("f"))
    intercept[IllegalArgumentException](
      TableMeta.decodeMeta("""{"columns": ["k"]}"""))
  }

  test("transaction, part and decision records decode and re-encode byte-identically") {
    val a = "file:/data/warehouse/wh_a,1"
    val b = "file:/data/warehouse/wh_b,1"
    val expected = Seq(
      "txn_multi.json" -> TxnRecord(tables = Seq("ta", "tb"),
        expected = Seq(0L, 0L), next = Seq(1L, 1L)),
      "txn_part_a.json" -> TxnRecord(Some(a), Seq("ta"), Seq(0L), Seq(1L)),
      "txn_part_b.json" -> TxnRecord(Some(a), Seq("tb"), Seq(1L), Seq(2L)),
      "txn_decision.json" -> TxnRecord(participants = Seq(a, b)))
    expected.foreach { case (file, rec) =>
      val json = fixture(file)
      assert(TableMeta.decodeTxn(json) === rec, file)
      assert(TableMeta.encode(rec) === json, file)
    }
  }

  private val ident = Gen.identifier.map(_.take(10))

  /** Constraint text is SQL, not an identifier. */
  private val sqlText = Gen.oneOf(Gen.const("'é' > v"),
    Gen.asciiPrintableStr.map(_.take(12)))

  private def listMap[V](v: Gen[V]): Gen[ListMap[String, V]] =
    Gen.containerOf[Vector, (String, V)](Gen.zip(ident, v))
      .map(es => ListMap.from(es.take(4)))

  /** Draws every field of one Meta, in declaration order, from per-type
    * pools — each argument's type picks its pool. */
  private val genMeta: Gen[Meta] = for {
    strs <- Gen.listOfN(14, Gen.containerOf[Vector, String](ident).map(_.take(4)))
    nums <- Gen.containerOf[Vector, Long](Arbitrary.arbitrary[Long]).map(_.take(4))
    log <- Gen.containerOf[Vector, (Long, Long)](Gen.zip(
      Arbitrary.arbitrary[Long], Arbitrary.arbitrary[Long])).map(_.take(4))
    names <- Gen.listOfN(3, listMap(ident))
    batches <- Gen.listOfN(2, listMap(Arbitrary.arbitrary[Long]))
    cons <- listMap(sqlText)
    longs <- Gen.listOfN(10, Arbitrary.arbitrary[Long])
    opts <- Gen.listOfN(5, Gen.option(ident))
    bools <- Gen.listOfN(3, Arbitrary.arbitrary[Boolean])
    key <- ident
  } yield {
    val (si, mi, bmi, li, oi, bi) = (strs.iterator, names.iterator,
      batches.iterator, longs.iterator, opts.iterator, bools.iterator)
    def s = si.next(); def sm = mi.next(); def lm = bmi.next()
    def l = li.next(); def o = oi.next(); def b = bi.next()
    Meta(key, s, o, l, b, l, sm, s, sm, s, log, lm, lm, l, nums, b,
      cons, o, s, s, s, s, s, l, l, l, l, s, o, o, l, l, s, s, s, sm)
  }

  private val genTxn: Gen[TxnRecord] = {
    val uri = Gen.oneOf(Gen.asciiPrintableStr, Gen.const("file:/w/a,1\"]"))
    for {
      coordinator <- Gen.option(uri)
      tables <- Gen.containerOf[Vector, String](ident)
      expected <- Gen.containerOf[Vector, Long](Arbitrary.arbitrary[Long])
      next <- Gen.containerOf[Vector, Long](Arbitrary.arbitrary[Long])
      participants <- Gen.containerOf[Vector, String](uri)
    } yield TxnRecord(coordinator, tables, expected, next, participants)
  }

  private def holds(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(300).withInitialSeed(Seed(20261018L)), p)
    assert(r.passed, r.status.toString)
  }

  test("encode then decode is the identity on generated metas") {
    holds(Prop.forAll(genMeta)(m =>
      TableMeta.decodeMeta(TableMeta.encode(m)) == m))
  }

  test("encode then decode is the identity on generated transaction records") {
    holds(Prop.forAll(genTxn)(r =>
      TableMeta.decodeTxn(TableMeta.encode(r)) == r))
  }

  test("records with a patch re-encode byte-identically and roll forward to the earlier release's bytes") {
    for (kind <- Seq("commit", "refresh")) {
      val json = fixture(s"txn_patch_$kind.json")
      val rec = TableMeta.decodeTxn(json)
      assert(rec.patch.size === 1, kind)
      assert(TableMeta.encode(rec) === json, kind)
      val before = TableMeta.decodeMeta(fixture(s"meta_patch_${kind}_before.json"))
      val (t, next) = (rec.tables.head, rec.next.head)
      assert(TableMeta.encode(TableMeta.patch(before.copy(opSeq = next),
        rec.patch(t))) === fixture(s"meta_patch_${kind}_after.json"), kind)
    }
    // the commit's patch names the value array alone: the writer list
    // is unchanged, and the zip pairs it with the patched batch ids
    val after = TableMeta.decodeMeta(fixture("meta_patch_commit_after.json"))
    assert(after.streamBatches === ListMap("w0" -> 1L, "w1" -> 3L))
    assert(after.commitLog === Seq(1L -> 500L, 4L -> 1000L))
    assert(after.constraints === ListMap("pos_v" -> "v > 0 AND g <> 'é'"))
  }

  test("the catalog's map updates keep a re-widened entry in place and move a committing writer last") {
    val m = ListMap("a" -> 1L, "b" -> 2L, "c" -> 3L)
    assert(m.updated("a", 9L).toSeq === Seq("a" -> 9L, "b" -> 2L, "c" -> 3L))
    assert(m.updatedWith("b")(_.map(_ => 7L)).toSeq ===
      Seq("a" -> 1L, "b" -> 7L, "c" -> 3L))
    assert(m.updatedWith("z")(_.map(_ => 7L)) === m)
    assert((m - "a" + ("a" -> 4L)).takeRight(2).toSeq === Seq("c" -> 3L, "a" -> 4L))
  }

  test("the text values are every stored string, constraint expressions as hex") {
    val m = Meta("k", Seq("k", "v"), Some("v"), 1L,
      constraints = ListMap("c1" -> "v > 'é'"), widened = ListMap("v" -> "bigint"))
    assert(TableMeta.texts(m).toSeq ===
      Seq("k", "k", "v", "v", "c1", "76203e2027c3a927", "v", "bigint"))
  }
}
