package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Distributed relational→graph encoding — the bulk-ingest analogue of zef's
  * `pandas_to_gd` (impl.py:7836), restated as pure DataFrame transforms: no
  * driver-side loops, no collect; id generation is deterministic string
  * construction from business keys, so re-encoding is idempotent and
  * parallel encoding needs no coordination.
  *
  * Every row of a source table becomes: 1 entity atom + per field
  * (1 relation atom + 1 AE atom + 1 value row) — the 6th-normal-form
  * property graph of SURVEY §1.1. FK columns become entity-entity relation
  * atoms. The rows are built by [[Schema]]'s row builders, one projection
  * per source table and output table: a source row's atoms (entity, field
  * AEs and relations, its FK relation) are cells of one exploded array,
  * and its value rows likewise, so each table is scanned once per output
  * table whatever its field count. At 100 TB this is a map-only job per
  * table (narrow, no shuffle); the write would be partitioned by
  * (kind, atype) and bucketed by atom_id.
  */
object GraphEncoder {

  // Encoded graphs are deterministic functions of (session, sfDir): cache
  // them storage-deserialized so a batch of graph queries (Verify/Bench)
  // encodes once. At scale this materialization is the bulk-load job whose
  // output is the partitioned+bucketed atoms/values tables.
  // Access is SERIALIZED (memoize below): TrieMap.getOrElseUpdate is not
  // atomic in its by-name argument, so two concurrent cold calls would
  // each build-and-markShared a Graph and the loser — already registered
  // in TransientCaches.shared, an identity set nothing ever clears —
  // leaked its persisted tables and CacheManager registrations for the
  // process lifetime. Encoding is heavy and rare; one lock is correct.
  private val tpchCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Graph]
  private val eventCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Graph]

  private def memoize(cache: scala.collection.concurrent.TrieMap[
      (SparkSession, String), Graph], key: (SparkSession, String))(
      build: => Graph): Graph =
    cache.get(key) match {
      case Some(g) => g
      case None => cache.synchronized {
        cache.getOrElseUpdate(key, cached(build))
      }
    }

  private def cached(g: Graph): Graph = {
    // copy(), not a positional rebuild: every metadata flag
    // (uniqueValuesThrough, plainFieldAesThrough, future ones) must ride
    // along or the cached instance silently loses its fast paths.
    //
    // localCheckpoint, not persist (r19): a persisted DataFrame keeps the
    // full encode tree as its LOGICAL plan, so every query built over the
    // shared graph re-analyzes that tree — measured at ~5.2 s of
    // analysis_ms across the 125-query registry (PLANSHAPES;
    // graph_bulk_rescore paid 552 ms of its 1.6 s median per run). The
    // eager localCheckpoint truncates the lineage to a LogicalRDD leaf
    // that carries the origin plan's statistics estimate, collapsing
    // per-construction Catalyst analysis registry-wide. The trades:
    // - the leaf is stored twice, as DISK_ONLY checkpoint blocks plus the
    //   MEMORY_AND_DISK in-memory relation persisted over them;
    // - built with AQE on (bench, production), the leaf has no output
    //   partitioning, so its consumers plan exchanges that a leaf built
    //   with AQE off does not need (ROADMAP open item 1);
    // - the frames are not fault-tolerant to executor loss — fine for a
    //   single-JVM session cache; a cluster deployment would persist the
    //   encode as partitioned+bucketed TABLES (GraphStore.saveBucketed),
    //   which this cache stands in for.
    def leaf(df: DataFrame): DataFrame =
      df.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c = g.copy(
      atoms = leaf(g.atoms), values = leaf(g.values), txs = leaf(g.txs))
    // memoized across queries: exempt from between-query cache release
    TransientCaches.markShared(c)
    c
  }

  def entityId(et: String, key: Column): Column =
    concat(lit(s"e:$et/"), key.cast("string"))

  /** [[entityId]] with a LOUD null-key abort riding the encode job itself
    * (raise_error inside the id expression — no extra validation scan): a
    * null business key would otherwise concat to a null atom_id, and the
    * row would vanish from every id-keyed read while its value rows
    * anchored to nothing — the silent-identity-corruption class
    * IncrementalDedup/SqlImport reject at their own boundaries. */
  private def entityIdStrict(et: String, key: Column): Column =
    concat(lit(s"e:$et/"),
      when(key.isNull, raise_error(lit(
        s"GraphEncoder: null business key encoding $et — every row needs " +
          "a non-null key (filter or surrogate first)")))
        .otherwise(key.cast("string")))

  /** Entities + their field AEs/relations/values, all at inst_slice, in
    * one projection per output table: each source row yields its entity
    * atom plus the AE and field-relation atoms of every present field,
    * and one value row per present field ([[Schema.rows]]).
    * A NULL field value encodes as NO field — no AE, no field relation,
    * no value row (the write path's "omit the field instead" contract,
    * [[graft.gql.GqlLite.compileMutation]]); a null-valued row otherwise
    * landed a vtype'd all-null value row plus a born-empty AE that no
    * transact could ever produce. */
  def encodeEntities(df: DataFrame, et: String, keyCol: String,
      fieldCols: Seq[String], instSlice: Int = 1): (DataFrame, DataFrame) =
    (Schema.rows(df, entityAtoms(et, keyCol, fieldCols, instSlice)),
      fieldValues(df, et, keyCol, fieldCols, instSlice))

  private def present(f: String)(cell: Column): Column =
    when(col(f).isNotNull, cell)

  /** One source row's entity atom cell plus its present fields' AE and
    * field-relation cells. */
  private def entityAtoms(et: String, keyCol: String, fieldCols: Seq[String],
      instSlice: Int): Seq[Column] = {
    val id = entityIdStrict(et, col(keyCol))
    Schema.atom(id, Kind.Entity, lit(et), Schema.noEnd, Schema.noEnd,
      lit(instSlice)) +: fieldCols.flatMap(f =>
      Schema.fieldAtoms(f, id, lit(instSlice)).map(present(f)))
  }

  private def fieldValues(df: DataFrame, et: String, keyCol: String,
      fieldCols: Seq[String], instSlice: Int): DataFrame =
    if (fieldCols.isEmpty)
      // empty VALUES must still carry the ValueRow schema: a zero-column
      // emptyDataFrame constructs a Graph fine but throws on the first
      // read (latestValues filters tx_slice) or unionByName downstream
      df.sparkSession.emptyDataset(
        org.apache.spark.sql.Encoders.product[ValueRow]).toDF()
    else {
      val id = entityIdStrict(et, col(keyCol))
      Schema.rows(df, fieldCols.map(f => present(f)(Schema.value(
        Schema.aeId(f, id), lit(instSlice), Schema.vtypeOf(df.schema(f)),
        col(f)))))
    }

  /** FK column → entity-entity relation atoms. A NULL FK on either side
    * encodes as NO relation (standard optional-FK semantics) — unfiltered,
    * the row landed a relation atom with a null endpoint, the exact
    * missing-endpoint shape downstream readers must then defend against
    * (schemaRegistry's null-safe grouping found it the hard way).
    *
    * Identity note: the relation id is `r:rt/src>dst`, so a source with
    * DUPLICATE (src, dst) pairs lands duplicate open-interval rows for one
    * atom id — pre-`dropDuplicates` such inputs (TPC-H-shaped FKs are
    * per-row unique; a distinct here would tax every clean bulk load with
    * a shuffle for the dirty exception). */
  def encodeRelations(df: DataFrame, rt: String,
      srcEt: String, srcKeyCol: String, dstEt: String, dstKeyCol: String,
      instSlice: Int = 1): DataFrame =
    Schema.rows(df,
      Seq(relationAtom(rt, srcEt, srcKeyCol, dstEt, dstKeyCol, instSlice)))

  private def relationAtom(rt: String, srcEt: String, srcKeyCol: String,
      dstEt: String, dstKeyCol: String, instSlice: Int): Column = {
    val src = entityId(srcEt, col(srcKeyCol))
    val dst = entityId(dstEt, col(dstKeyCol))
    when(col(srcKeyCol).isNotNull && col(dstKeyCol).isNotNull,
      Schema.atom(concat(lit(s"r:$rt/"), src, lit(">"), dst), Kind.Relation,
        lit(rt), src, dst, lit(instSlice)))
  }

  /** TPC-H-ish testdata → temporal property graph.
    *
    * Structure: Nation/Customer/Order entities; Customer -Placed-> Order;
    * Customer -MemberOf-> Nation; field AEs for the scalar columns.
    * Everything is slice 1 (a bulk-load snapshot), with the `events` table
    * supplying real multi-slice history via [[encodeEventHistory]].
    */
  def encodeTpch(spark: SparkSession, sfDir: String): Graph =
    memoize(tpchCache, (spark, sfDir))(encodeTpchUncached(spark, sfDir))

  def encodeTpchUncached(spark: SparkSession, sfDir: String): Graph = {
    val cust = Tables.customer(spark, sfDir)
    val ord = Tables.orders(spark, sfDir)
    val nat = Tables.nation(spark, sfDir)

    // one projection per source table: its entities with their fields,
    // plus the table's FK relation
    val sources = Seq(
      (nat, "Nation", "n_nationkey", Seq("n_name"), None),
      (cust, "Customer", "c_custkey", Seq("c_name", "c_acctbal", "c_mktsegment"),
        Some(relationAtom("MemberOf", "Customer", "c_custkey",
          "Nation", "c_nationkey", 1))),
      (ord, "Order", "o_orderkey", Seq("o_totalprice", "o_orderstatus", "o_orderdate"),
        Some(relationAtom("Placed", "Customer", "o_custkey",
          "Order", "o_orderkey", 1))))
    val atoms = sources.map { case (df, et, key, fields, rel) =>
      Schema.rows(df, entityAtoms(et, key, fields, 1) ++ rel)
    }.reduce(_ unionByName _)
    val values = sources.map { case (df, et, key, fields, _) =>
      fieldValues(df, et, key, fields, 1)
    }.reduce(_ unionByName _)
    import spark.implicits._
    val txs = Seq(TxRow(1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF()
    // every field lands exactly one value row at slice 1 (entity keys are
    // primary keys, one AE per (entity, field)) — as-of reads can skip the
    // latest-per-AE aggregate entirely (Graph.latestValues fast path).
    // plainFieldAesThrough: every field AE is plain ae:f/<id> and everything
    // is born alive, so scheme-id field resolution holds at EVERY slice
    // until a mutation clamps it (Transactor does, on terminate/instanced)
    Graph(atoms, values, txs).copy(uniqueValuesThrough = 1,
      plainFieldAesThrough = Int.MaxValue)
  }

  /** The `events` table as genuine temporal history: each user_id becomes an
    * entity with a `Value`/`EventType` AE; each event is a value assignment
    * in its own tx slice (slice = global rank of the event by (ts, event_id),
    * offset past the bulk-load slice 1). This gives a graph whose field
    * values CHANGE across thousands of slices — the fixture for as-of /
    * time-travel verification against the DuckDB oracle.
    */
  def encodeEventHistory(spark: SparkSession, sfDir: String,
      baseSlice: Int = 1): Graph =
    if (baseSlice != 1) encodeEventHistoryUncached(spark, sfDir, baseSlice)
    else memoize(eventCache, (spark, sfDir))(
      encodeEventHistoryUncached(spark, sfDir, 1))

  def encodeEventHistoryUncached(spark: SparkSession, sfDir: String,
      baseSlice: Int = 1): Graph = {
    val ev = Tables.events(spark, sfDir)
    // Global deterministic slice numbering (zef's monotone time_slice
    // counter is a total order) via the two-phase range-partitioned
    // enumerate — no single-partition global window even at scale.
    import graft.ops.ZOps.DataFrameZOps
    val ranked = ev.enumerate(Seq(col("ts"), col("event_id")), "__rank")
      .withColumn("tx_slice", (col("__rank") + 1 + baseSlice).cast("int"))
      .drop("__rank")

    val userId = entityIdStrict("User", col("user_id"))
    val fields = Seq(("Value", "double", col("value")),
      ("EventType", "str", col("event_type")))
    // User entities appear at the slice of their first event, with their
    // field AEs/relations; each event assigns both fields at its slice.
    val firstSlice = col("first_slice")
    val atoms = Schema.rows(
      ranked.groupBy(col("user_id")).agg(min(col("tx_slice")).as("first_slice")),
      Schema.atom(userId, Kind.Entity, lit("User"), Schema.noEnd,
        Schema.noEnd, firstSlice) +:
        fields.flatMap(f => Schema.fieldAtoms(f._1, userId, firstSlice)))
    val values = Schema.rows(ranked, fields.map { case (f, vtype, v) =>
      Schema.value(Schema.aeId(f, userId), col("tx_slice"), vtype, v) })

    val txs = ranked.select(col("tx_slice").as("tx_id"), col("ts"))
    // multi-assignment history (no uniqueValuesThrough), but the AEs are
    // all plain ae:Value/ae:EventType forms born alive — scheme-id field
    // resolution holds at every slice until a mutation clamps it
    Graph(atoms, values, txs)
      .copy(plainFieldAesThrough = Int.MaxValue)
  }
}
