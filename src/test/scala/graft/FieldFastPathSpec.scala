package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Scheme-id field-resolution fast path (r18, [[Graph.plainFieldAesThrough]]):
  * under the bound, field()/fields()/selectByField skip the relation-atoms
  * scan+join and recover the owner from the plain `ae:rt/<ownerId>` prefix.
  * Every suite case asserts the fast path returns EXACTLY the general
  * (relation-join) path's rows — the two plans must be interchangeable —
  * and that the bound clamps where the scheme stops holding (terminations,
  * instanced fields), so the general path takes over exactly there.
  */
class FieldFastPathSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** The same graph with the fast path disabled — the general-path oracle. */
  private def slow(g: Graph): Graph = g.copy(plainFieldAesThrough = -1)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertSame(fast: DataFrame, general: DataFrame): Unit = {
    assert(fast.columns.toSeq == general.columns.toSeq,
      "fast path must preserve the exact output schema")
    assert(sortedRows(fast) == sortedRows(general))
  }

  test("encoder graph: field()/fieldValue() fast path ≡ relation-join path") {
    val g = GraphEncoder.encodeTpch(spark, sf)
    assert(g.plainFieldAesThrough == Int.MaxValue)
    val fast = g.now.all("Customer").field("c_acctbal")
    val gen = slow(g).now.all("Customer").field("c_acctbal")
    assertSame(fast, gen)
    // carried columns (provenance) survive the fast path identically
    val fastP = g.now.all("Customer").outsWithSource("Placed", "cust")
      .field("o_totalprice")
    val genP = slow(g).now.all("Customer").outsWithSource("Placed", "cust")
      .field("o_totalprice")
    assertSame(fastP, genP)
  }

  test("encoder graph: fields() multi-field fast path ≡ pivoted max_by path") {
    val g = GraphEncoder.encodeTpch(spark, sf)
    def proj(gr: Graph) = gr.now.all("Customer").fields(
      ("c_name", "v_str", "name"),
      ("c_acctbal", "v_double", "acctbal"),
      ("c_mktsegment", "v_str", "segment"))
    assertSame(proj(g), proj(slow(g)))
  }

  test("event-history graph (multi-assignment): fast path ≡ general, now and mid") {
    val g = GraphEncoder.encodeEventHistory(spark, sf)
    assert(g.plainFieldAesThrough == Int.MaxValue)
    val mid = g.maxSlice / 2
    for (s <- Seq(mid, g.maxSlice)) {
      val fast = g.at(s).all("User")
        .fields(("Value", "v_double", "v"), ("EventType", "v_str", "t"))
      val gen = slow(g).at(s).all("User")
        .fields(("Value", "v_double", "v"), ("EventType", "v_str", "t"))
      assertSame(fast, gen)
    }
  }

  test("selectByField fast path ≡ general, and value collisions stay rt-typed") {
    val g = GraphEncoder.encodeTpch(spark, sf)
    def sel(gr: Graph) =
      gr.now.selectByField("Customer", "c_mktsegment", "v_str", "BUILDING")
        .df.select("atom_id")
    assertSame(sel(g), sel(slow(g)))
    // a value that exists under a DIFFERENT field must not leak through the
    // prefix-strip path: probe c_mktsegment for a c_name-only value
    val name = graft.Tables.customer(spark, sf)
      .select("c_name").head().getString(0)
    def selMiss(gr: Graph) =
      gr.now.selectByField("Customer", "c_mktsegment", "v_str", name)
        .df.select("atom_id")
    assert(sortedRows(selMiss(g)).isEmpty)
    assertSame(selMiss(g), selMiss(slow(g)))
  }

  test("plain-only transacts preserve the bound; terminate/instanced clamp it") {
    val g0 = Graph.empty(spark).copy(plainFieldAesThrough = Int.MaxValue)
    val (g1, _) = Transactor.transact(g0, Seq(
      PutEntity("P", "a"), PutField("a", "Name", "A"),
      PutEntity("P", "b"), PutField("b", "Name", "B")))
    assert(g1.plainFieldAesThrough == Int.MaxValue,
      "plain puts must not clamp the bound")
    // instanced field clamps to the pre-tx slice
    val (g2, _) = Transactor.transact(g1, Seq(
      PutField("e:P/a", "Nick", "x", instanceKey = "1")))
    assert(g2.plainFieldAesThrough == g1.maxSlice)
    // the instanced frame takes the general path and still answers right:
    // fields() at the clamped-past slice sees the instanced AE via max_by
    val nick = g2.now.all("P").fields(("Nick", "v_str", "nick"))
      .filter(col("nick").isNotNull)
    assert(nick.collect().map(_.getString(1)).toSeq == Seq("x"))
    // termination clamps too
    val (g3, _) = Transactor.transact(g1, Seq(TerminateAtom("e:P/b")))
    assert(g3.plainFieldAesThrough == g1.maxSlice)
    // pre-clamp frames keep the fast path and agree with the general path
    val fast = g3.at(g1.maxSlice).all("P").fields(("Name", "v_str", "n"))
    val gen = slow(g3).at(g1.maxSlice).all("P").fields(("Name", "v_str", "n"))
    assertSame(fast, gen)
  }

  test("bulk field assignment preserves the bound; both frames agree") {
    val g = GraphEncoder.encodeTpch(spark, sf)
    val assignments = graft.Tables.customer(spark, sf).select(
      GraphEncoder.entityId("Customer", col("c_custkey")).as("owner_id"),
      (col("c_acctbal") * 2).as("value"))
    val g2 = Transactor.assignFieldBulk(g, assignments, "score", "double")
    assert(g2.plainFieldAesThrough == Int.MaxValue,
      "plain bulk delta must not clamp the bound")
    def read(gr: Graph, s: Int) = gr.at(s).all("Customer")
      .fieldValue("score", "v_double", "score")
    assertSame(read(g2, g2.maxSlice), read(slow(g2), g2.maxSlice))
    // the pre-assignment frame must see NO score either way
    assert(read(g2, g.maxSlice).count() == 0)
    assert(read(slow(g2), g.maxSlice).count() == 0)
  }

  test("bucketed re-home preserves the bound (clamped) and stays equivalent") {
    val g = GraphEncoder.encodeTpch(spark, sf)
    val prefix = "bfastpath"
    GraphStore.saveBucketed(g, prefix, numBuckets = 4)
    val bkt = GraphStore.loadBucketed(spark, prefix)
    assert(bkt.plainFieldAesThrough == g.maxSlice,
      "bucketed TBLPROPERTIES round-trip must restore the clamped bound")
    val fast = bkt.now.all("Customer").fields(
      ("c_name", "v_str", "name"), ("c_acctbal", "v_double", "acctbal"))
    val gen = slow(bkt).now.all("Customer").fields(
      ("c_name", "v_str", "name"), ("c_acctbal", "v_double", "acctbal"))
    assertSame(fast, gen)
    val fastSel = bkt.now
      .selectByField("Customer", "c_mktsegment", "v_str", "BUILDING")
      .df.select("atom_id")
    val genSel = slow(bkt).now
      .selectByField("Customer", "c_mktsegment", "v_str", "BUILDING")
      .df.select("atom_id")
    assertSame(fastSel, genSel)
  }

  test("store round-trip clamps the persisted bound to save-time maxSlice") {
    val dir = s"/tmp/graft_fastpath_spec/p${ProcessHandle.current().pid()}"
    graft.core.Fs.rm(new java.io.File(dir))
    val g = GraphEncoder.encodeTpch(spark, sf)
    GraphStore.save(g, dir)
    val loaded = GraphStore.load(spark, dir)
    assert(loaded.plainFieldAesThrough == g.maxSlice,
      "persisted bound must be finite (clamped to save-time maxSlice) so " +
        "post-save appends can never retro-break pre-save frames")
    val fast = loaded.now.all("Customer").fields(("c_name", "v_str", "n"))
    val gen = slow(loaded).now.all("Customer").fields(("c_name", "v_str", "n"))
    assertSame(fast, gen)
    graft.core.Fs.rm(new java.io.File(dir))
  }
}
