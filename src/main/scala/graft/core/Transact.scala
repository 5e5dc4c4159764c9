package graft.core

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Write-path wishes — the user-facing templates of a transaction
  * (reference: graph templates + `transact[g] | run`,
  * `python/zef/core/graph_additions/transact.py:34-79`,
  * `python/tests/test_graph_delta.py:26-38`).
  *
  * Keys are user-chosen stable names within the transaction scope (zef's
  * internal ids / tags); atom_ids derive deterministically from them.
  */
sealed trait Wish
/** `ET.Person["joe"]` + fields: instantiate an entity (idempotent per key)
  * with optional field assignments. Multi-valued fields = repeated
  * PutField wishes. */
final case class PutEntity(et: String, key: String) extends Wish
/** `(src, RT.X, dst)` with its own key so the relation can itself be a
  * relation endpoint (meta-relations, test_graph_delta.py:37). */
final case class PutRelation(rt: String, srcKey: String, dstKey: String,
    key: String = null) extends Wish
/** `(entity, RT.Field, AE)` + assignment: creates field relation + AE on
  * first use, then assigns the value in this tx — zef `set_field` /
  * `assign` (impl.py:5665, 7275). `instanceKey` distinguishes multiple
  * instances of the same field type (zef NickName case). */
final case class PutField(ownerKey: String, rt: String, value: Any,
    instanceKey: String = "") extends Wish
/** Re-assign an existing field AE — new value row, new slice visible. */
final case class AssignField(ownerKey: String, rt: String, value: Any,
    instanceKey: String = "") extends Wish
/** zef `terminate` (impl.py:7261): close the validity interval of an atom
  * (and, for entities, of their field relations' visibility is governed by
  * the relation atoms — terminate those explicitly or via cascade=true). */
final case class TerminateAtom(key: String) extends Wish
/** zef `tag` (impl.py:7361): bind a name to an atom as of this tx. */
final case class TagAtom(key: String, tag: String) extends Wish
/** zef `untag` (impl.py:7406): tombstone the binding. */
final case class UntagAtom(tag: String) extends Wish

final case class Receipt(ids: Map[String, String], slice: Int,
    newAtoms: Seq[AtomRow] = Nil, newValues: Seq[ValueRow] = Nil,
    terminatedIds: Seq[String] = Nil, newTags: Seq[TagRow] = Nil,
    ts: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00"),
    cascadedIds: Seq[String] = Nil)

/** Wish → command → atomic append; the Spark restatement of zef's staged
  * write path (`graph_additions/_explanations.txt:1-60`): interpretation and
  * ordering happen as pure Scala on the (small) wish list; the append is one
  * union per table. Single-writer-per-graph discipline mirrors zef's
  * transactor role (`fx_types.py:122`).
  *
  * Bulk data does NOT go through here — see [[GraphEncoder]] for the
  * distributed encoding path. Transactions are for OLTP-ish mutations where
  * the wish list fits on the driver, exactly like the reference.
  */
object Transactor {

  /** Deterministic id scheme shared with GraphEncoder: entities "e:ET/key",
    * relations "r:RT/key", field AEs "ae:RT/ownerId",
    * field relations "rel:RT/ownerId". */
  def atomId(kind: String, atype: String, key: String): String = {
    val prefix = kind match {
      case Kind.Entity => "e"
      case Kind.Relation => "r"
      case Kind.AttributeEntity => "ae"
    }
    s"$prefix:$atype/$key"
  }
  def aeId(ownerId: String, rt: String, instanceKey: String): String =
    s"ae:$rt${if (instanceKey.isEmpty) "" else s"#$instanceKey"}/$ownerId"
  def fieldRelId(ownerId: String, rt: String, instanceKey: String): String =
    s"rel:$rt${if (instanceKey.isEmpty) "" else s"#$instanceKey"}/$ownerId"

  /** The atom's type from the deterministic id scheme, driver-side — the
    * String twin of [[graft.fx.Sync.atypeFromId]]'s Column form (one
    * contract, asserted equal by SyncSpec): the type name ends at the
    * first `/`, `#`, or `[`, so plain, instanced, and array-element ids
    * all carry the same type. Null when the id is foreign. */
  def atypeOfId(atomId: String): String = {
    val colon = atomId.indexOf(':')
    if (colon < 0) null
    else {
      val rest = atomId.substring(colon + 1)
      val cut = rest.indexWhere(c => c == '/' || c == '#' || c == '[')
      if (cut <= 0) null else rest.substring(0, cut)
    }
  }

  def transact(g: Graph, wishes: Seq[Wish],
      ts: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00")): (Graph, Receipt) = {
    val spark = g.spark
    import spark.implicits._
    val slice = g.maxSlice + 1

    // Resolve every key this tx touches to an atom_id. Entities/relations
    // named in wishes; keys not defined in THIS tx refer to existing atoms.
    val entityPairs = wishes.collect {
      case PutEntity(et, key) => key -> atomId(Kind.Entity, et, key)
    }
    val entityIds: Map[String, String] = entityPairs.toMap
    // Relation keys this tx defines — needed BEFORE the alive-check so that
    // a PutField on a relation referenced by its tx key resolves the owner
    // to the same id the write phase (refAll) will use. Resolving with a
    // weaker map here queried the wrong ae/rel ids, so replaying a tx
    // appended duplicate open intervals for the same atom_id.
    val relationPairs = wishes.collect {
      case PutRelation(rt, s0, d0, key) =>
        val k = Option(key).getOrElse(s"$s0-$d0")
        k -> atomId(Kind.Relation, rt, k)
    }
    val relationIds: Map[String, String] = relationPairs.toMap
    // A key shared by wishes of DIFFERENT types (PutEntity("Person","joe")
    // + PutEntity("Company","joe"); two default-keyed relations between
    // one endpoint pair) is legal to CREATE — type-scoped ids never
    // collide, and callers like the GraphQL add path legitimately reuse
    // input ids across types — but a BARE-KEY REFERENCE to it (field,
    // tag, terminate, endpoint) would Map-resolve to whichever wish came
    // last: a silent wrong-atom write. Such references reject loudly at
    // resolution; pass the full atom_id to disambiguate.
    val ambiguousKeys: Set[String] =
      (entityPairs ++ relationPairs).groupBy(_._1)
        .filter(_._2.map(_._2).distinct.size > 1).keySet
    def requireUnambiguous(key: String): Unit =
      require(!ambiguousKeys.contains(key),
        s"transact: key '$key' names atoms of DIFFERENT types in this tx — " +
          "reference it by full atom_id")
    // one key, one atom: a key naming both an entity and a relation would
    // make the alive-check and the write phase resolve DIFFERENT ids
    // (resolveOwner reads entityIds first, refAll reads the receipt where
    // the relation pass overwrote the entry) — replaying such a tx
    // appends duplicate open intervals. Reject loudly instead.
    locally {
      val dup = entityIds.keySet.intersect(relationIds.keySet)
      require(dup.isEmpty,
        s"transact: keys name both an entity and a relation: $dup")
    }
    // tx-local keys first (entities, then relations — PutRelation
    // endpoints may be relations defined in this tx, the meta-relation
    // case its doc advertises), then pass-through for full atom_ids.
    // relationIds BEFORE the ':' passthrough: fixture keys may contain
    // ':' (Zascii emits "a>b:Likes") and must still resolve to the
    // scheme id, not be written verbatim as a dangling endpoint.
    def ref(key: String): String = {
      requireUnambiguous(key)
      entityIds.getOrElse(key, relationIds.getOrElse(key,
        if (key.contains(":")) key // already a full atom_id
        else throw new IllegalArgumentException(
          s"unknown key '$key' — pass a full atom_id for atoms outside this tx")))
    }

    val newAtoms = scala.collection.mutable.ArrayBuffer[AtomRow]()
    val newValues = scala.collection.mutable.ArrayBuffer[ValueRow]()
    val newTags = scala.collection.mutable.ArrayBuffer[TagRow]()
    val terminated = scala.collection.mutable.ArrayBuffer[String]()
    val receipt = scala.collection.mutable.Map[String, String]()
    // ids already (re)opened within THIS tx — duplicate wishes are
    // idempotent (reference dedups commands, graph_delta.py:1046)
    val createdInTx = scala.collection.mutable.Set[String]()

    // same resolution order as refAll/ref
    def resolveOwner(key: String): String = {
      requireUnambiguous(key)
      entityIds.getOrElse(key, relationIds.getOrElse(key, key))
    }

    // Existing-atom check scoped to the ids this tx could touch (pushed-down
    // isin filter — never a full scan collect, graph size notwithstanding).
    val candidateIds: Set[String] = wishes.flatMap {
      case PutEntity(et, key) => Seq(atomId(Kind.Entity, et, key))
      case PutRelation(rt, s0, d0, key) =>
        Seq(atomId(Kind.Relation, rt, Option(key).getOrElse(s"$s0-$d0")))
      case PutField(ownerKey, rt, _, inst) =>
        val owner = resolveOwner(ownerKey)
        Seq(aeId(owner, rt, inst), fieldRelId(owner, rt, inst))
      case AssignField(ownerKey, rt, _, inst) =>
        Seq(aeId(resolveOwner(ownerKey), rt, inst)) // existence probe below
      case _ => Nil
    }.toSet
    // (atom_id -> currently alive?) — an id that exists only with closed
    // intervals can be RE-instantiated: a new interval row with the same
    // atom_id opens at this slice (zef terminate→instantiate round trip;
    // aliveAt(S) then matches exactly one interval row per frame).
    val existingAlive: Map[String, Boolean] =
      if (candidateIds.isEmpty) Map.empty
      else g.atoms
        .filter(col("atom_id").isInCollection(candidateIds))
        .groupBy(col("atom_id"))
        .agg(org.apache.spark.sql.functions.max(
          col("term_slice").isNull.cast("int")).as("alive"))
        .collect().map(r => r.getString(0) -> (r.getInt(1) == 1)).toMap
    val aliveNow: Set[String] = existingAlive.filter(_._2).keySet

    // DAG ordering is implicit in wish types: entities, then relations,
    // then fields, then assigns/terminates (reference
    // `graph_delta.py:1242-1290` resolves the same ordering dynamically).
    wishes.foreach {
      case PutEntity(et, key) =>
        val id = atomId(Kind.Entity, et, key)
        receipt(key) = id
        if (!aliveNow.contains(id) && createdInTx.add(id))
          newAtoms += AtomRow(id, Kind.Entity, et, None, None, slice, None, id)
      case _ =>
    }
    wishes.foreach {
      case PutRelation(rt, srcKey, dstKey, key) =>
        val src = ref(srcKey); val dst = ref(dstKey)
        val k = Option(key).getOrElse(s"$srcKey-$dstKey")
        val id = atomId(Kind.Relation, rt, k)
        receipt(k) = id
        if (!aliveNow.contains(id) && createdInTx.add(id))
          newAtoms += AtomRow(id, Kind.Relation, rt, Some(src), Some(dst),
            slice, None, id)
      case _ =>
    }
    def localIds: Map[String, String] = receipt.toMap
    def refAll(key: String): String = {
      requireUnambiguous(key)
      localIds.getOrElse(key, ref(key))
    }

    wishes.foreach {
      case PutField(ownerKey, rt, value, inst) =>
        val owner = refAll(ownerKey)
        val ae = aeId(owner, rt, inst)
        val rel = fieldRelId(owner, rt, inst)
        // AE and its field relation are (re)opened independently: a
        // cascade-terminate of the owner kills the relation but leaves the
        // AE atom (unreachable), so re-instantiation may need either one.
        if (!aliveNow.contains(ae) && createdInTx.add(ae))
          newAtoms += AtomRow(ae, Kind.AttributeEntity, rt, None, None,
            slice, None, ae)
        if (!aliveNow.contains(rel) && createdInTx.add(rel))
          newAtoms += AtomRow(rel, Kind.Relation, rt, Some(owner), Some(ae),
            slice, None, rel)
        newValues += ValueRow.of(ae, slice, value)
      case AssignField(ownerKey, rt, value, inst) =>
        val ae = aeId(refAll(ownerKey), rt, inst)
        // assign targets an EXISTING field AE (zef `assign`): unguarded,
        // a wrong instanceKey (or a never-created field) appended a value
        // row anchored to no atom — invisible to every field() read, so
        // the caller's write silently vanished
        require(aliveNow.contains(ae) || createdInTx.contains(ae),
          s"assign: field AE '$ae' does not exist — use PutField " +
            "(create-or-assign) or pass the instanceKey the field was " +
            "created with")
        newValues += ValueRow.of(ae, slice, value)
      case TerminateAtom(key) =>
        terminated += refAll(key)
      case TagAtom(key, tag) =>
        newTags += TagRow(tag, Some(refAll(key)), slice)
      case UntagAtom(tag) =>
        newTags += TagRow(tag, None, slice)
      case _ =>
    }

    // ONE value row per AE per tx EVERYWHERE, not only in the seeded
    // cache: assign-after-assign in one tx keeps the LAST wish (the
    // reference dedups commands the same way). Appending both rows would
    // leave a same-slice max_by tie in the DURABLE table — the writer's
    // cache reads the last wish, but a cold load or a replica opening
    // from the store would get an arbitrary winner.
    val valueWinners: Seq[ValueRow] = {
      val m = scala.collection.mutable.LinkedHashMap[String, ValueRow]()
      newValues.foreach(v => m(v.ae_id) = v)
      m.values.toSeq
    }
    // ONE tag row per tag per tx, same last-wish-wins rule: tag-then-untag
    // (or re-tag) in one mutation list used to append BOTH rows at the
    // same tx_slice, leaving byTag's max_by a durable same-slice tie —
    // a partition-order-dependent binding on every cold read
    val tagWinners: Seq[TagRow] = {
      val m = scala.collection.mutable.LinkedHashMap[String, TagRow]()
      newTags.foreach(t => m(t.tag) = t)
      m.values.toSeq
    }

    val atomsAppended =
      if (newAtoms.isEmpty) g.atoms
      else g.atoms.unionByName(spark.createDataset(newAtoms.toSeq).toDF())
    val termSet = terminated.toSet
    // Relations closed by the cascade, AS IDS — the receipt carries them
    // so the durable closure log records what this tx actually closed
    // (flagged `cascaded`): without them the LIVE closure feed silently
    // misses every cascaded termination, while batch readers reconstruct
    // it at load time (loadWithClosures). One bounded collect, only on
    // terminating wish-path txs (the set is the terminated atoms'
    // incident relations).
    val cascadedIds: Seq[String] =
      if (terminated.isEmpty) Nil
      else atomsAppended.filter(col("term_slice").isNull &&
          !col("atom_id").isInCollection(termSet) &&
          (col("src_id").isInCollection(termSet) ||
            col("dst_id").isInCollection(termSet)))
        .select(col("atom_id")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
    // Termination updates the denormalized interval column. An immutable-DF
    // union can't update in place, so we map the closed intervals over the
    // table; on durable storage this is a Delta-style MERGE keyed on atom_id.
    val atomsFinal =
      if (terminated.isEmpty) atomsAppended
      else {
        val isTerm = col("atom_id").isInCollection(termSet) ||
          col("src_id").isInCollection(termSet) ||  // cascade: relations of a
          col("dst_id").isInCollection(termSet)     // dead atom die with it
        atomsAppended.withColumn("term_slice",
          when(col("term_slice").isNull && isTerm, lit(slice))
            .otherwise(col("term_slice")))
      }
    val valuesFinal =
      if (valueWinners.isEmpty) g.values
      else g.values.unionByName(spark.createDataset(valueWinners).toDF())
    val txsFinal = g.txs.unionByName(
      spark.createDataset(Seq(TxRow(slice, ts))).toDF())
    val tagsFinal =
      if (tagWinners.isEmpty) g.tags
      else g.tags.unionByName(spark.createDataset(tagWinners).toDF())

    // values are append-only at a strictly later slice, so the bulk
    // encoder's single-assignment guarantee (unique ae_id through its
    // encode slice) survives every transact unchanged
    //
    // plainFieldAesThrough maintenance: a tx of plain-scheme writes only
    // (no terminations, no instanced fields) cannot break scheme-id field
    // resolution at ANY slice — new AEs are plain and born alive with
    // their relation. A terminating or instanced-field tx breaks it from
    // this slice on, so the bound clamps to the last pre-tx slice (frames
    // ≤ maxSlice stay fast; later frames take the relation-join path).
    val plainSafe = wishes.forall {
      case TerminateAtom(_) => false
      case PutField(_, _, _, ik) => ik.isEmpty
      case AssignField(_, _, _, ik) => ik.isEmpty
      case _ => true
    }
    val g2 = Graph(atomsFinal, valuesFinal, txsFinal, tagsFinal,
      g.uniqueValuesThrough,
      if (plainSafe) g.plainFieldAesThrough
      else math.min(g.plainFieldAesThrough, slice - 1))
    // Incremental view maintenance: the new frame's current-values table is
    // the PRIOR frame's (planned lazily on the prior graph instance, where
    // it stays cached — and therefore materialized once — across repeated
    // transacts off the same base) minus the AEs this tx re-assigned,
    // unioned with this tx's driver-built winning rows. That is a MAP-ONLY
    // plan — no re-shuffle of the whole table per transact, unlike a
    // union+groupBy merge. Delta rows carry the highest tx_slice, so
    // dropping their old rows preserves exact max_by semantics. Depth-capped
    // so an unboundedly long transact chain falls back to one fresh
    // aggregation instead of an ever-deeper filter/union lineage.
    val priorDepth = g.latestValuesDepth(g.maxSlice)
    if (priorDepth < Graph.MaxSeedDepth) {
      val base = g.latestValues(g.maxSlice) // lazy: a plan until first read
      // no new values → the prior frame's table IS this frame's, by
      // reference; owned=false so g2's release/eviction can't unpersist
      // the parent graph's live cache out from under it
      if (valueWinners.isEmpty)
        g2.seedLatestValues(slice, base, priorDepth, owned = false)
      else {
        val vcols = "tx_slice" +: FieldIndex.vcols
        // valueWinners already holds one row per AE (last wish wins)
        val deltaIds = valueWinners.map(_.ae_id).toSet
        val delta = spark.createDataset(valueWinners).toDF()
          .select(col("ae_id") +: vcols.map(col): _*)
        val merged = base
          .filter(!col("ae_id").isInCollection(deltaIds))
          .unionByName(delta)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        g2.seedLatestValues(slice, merged, priorDepth + 1)
      }
    }
    (g2,
      Receipt(receipt.toMap, slice, newAtoms.toSeq, valueWinners,
        terminated.toSeq, tagWinners, ts, cascadedIds))
  }

  /** Distributed BULK field assignment — set-level `set_field` whose delta
    * is a DATAFRAME. This is the write path for updates that must never
    * fit a driver wish list (re-scoring every document of a corpus,
    * stamping a computed field on millions of entities): ONE transaction,
    * one new slice, and every per-row step stays on the cluster —
    * missing field-AE/field-relation atoms are found with an anti-join
    * (no collect), one value row lands per assignment row.
    *
    * Completes the write-path triad: [[GraphEncoder]] = bulk ENCODE,
    * [[transact]] = OLTP wishes, this = bulk UPDATE. The latestValues
    * cache seeds with the same lazy map-only merge as [[transact]] (the
    * anti-join replaces the driver isin filter), so as-of reads on the
    * new frame stay incremental.
    *
    * `assignments` needs columns (`owner_id` — atom_id of an existing
    * entity/relation — and `value`, cast per `vtype` ∈
    * str/long/double/bool/ts). ONE row per owner: duplicate owners would
    * land same-slice value rows with an arbitrary max_by winner, so they
    * are rejected (cheap count-distinct check, not a silent coin flip).
    * Owners that lack the field get AE + field-relation atoms opened at
    * this slice; prior values stay readable in earlier frames (as-of).
    */
  def assignFieldBulk(g: Graph, assignments: DataFrame, rt: String,
      vtype: String = "str",
      ts: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00"),
      materializeDelta: Boolean = false): Graph =
    // assignNulls preserves this entry point's original contract: a
    // NULL-valued assignment still RECORDS (value row + atoms opened) —
    // set_field(null) is an explicit clear, not a no-op. The multi-field
    // API's sparse-update semantics (null = skip) are its own contract.
    // materializeDelta: pass true when the returned graph will be read in
    // several frames (rescore-then-compare) — the delta computes once and
    // each frame's plan embeds a checkpoint leaf instead of the full
    // delta derivation (update-sized state, never graph-sized).
    assignFieldsBulkDelta(g,
      assignments.select(col("owner_id"), col("value").as(rt)),
      Seq(BulkField(rt, vtype)), ts, assignNulls = true,
      materializeDelta = materializeDelta)._1

  /** One distributed field assignment in a multi-field bulk write. */
  final case class BulkField(rt: String, vtype: String)

  /** The data-sized analogue of a [[Receipt]]: the delta frames a bulk
    * write appends, for callers that must durably replicate the same
    * transaction (e.g. a synced store — [[GraphStore.appendBulk]]).
    * `values` carries the full [[ValueRow]] schema including vtype. */
  final case class BulkDelta(atoms: DataFrame, values: DataFrame,
      slice: Int, ts: Timestamp)

  /** Multi-field generalization of [[assignFieldBulk]]: ONE transaction
    * (one slice) assigning several fields per owner — the shape of a real
    * ingest tick or rescore job, where a reference transact carries many
    * field assignments per entity in one tx (zef `impl.py` transact over
    * dict wishes). `assignments` has one `owner_id` column plus one value
    * column PER FIELD, named after the field's rt; a NULL value skips that
    * field for that owner (so sparse multi-field updates don't fabricate
    * assignments).
    *
    * `ensureOwnerType`: when set, owner ids that don't resolve to an alive
    * entity of that type get the ENTITY atom opened at this slice too
    * (anti-join, distributed) — the upsert shape a CDC-apply needs, where
    * the stream both creates and updates entities. Owner ids must then be
    * scheme ids (`e:<et>/<key>`, [[GraphEncoder.entityId]]).
    *
    * `materializeDelta`: eagerly localCheckpoints the delta frames before
    * they enter the new graph's lineage — callers that BOTH append the
    * delta durably and keep transacting on the in-memory graph (streaming
    * ingest) compute the delta once instead of once per consumer, and the
    * two consumers are guaranteed bitwise-identical rows. */
  def assignFieldsBulkDelta(g: Graph, assignments: DataFrame,
      fields: Seq[BulkField],
      ts: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00"),
      ensureOwnerType: Option[String] = None,
      materializeDelta: Boolean = false,
      assignNulls: Boolean = false,
      trustedUniqueOwners: Boolean = false): (Graph, BulkDelta) = {
    val spark = g.spark
    val slice = g.maxSlice + 1
    require(fields.nonEmpty, "assignFieldsBulk: at least one field")
    require(fields.map(_.rt).distinct.size == fields.size,
      "assignFieldsBulk: duplicate field rts")
    require(fields.forall(_.rt != "owner_id"),
      "field rt cannot be named owner_id")
    // a NULL owner_id would concat into null ae/rel/atom ids — value rows
    // anchored to nothing, atoms invisible to every id-keyed read (the
    // silent-identity-corruption class GraphEncoder/IncrementalDedup
    // reject at their own boundaries). The guard RIDES the delta
    // expressions themselves (raise_error inside the id concat — no extra
    // validation job), so it also covers `trustedUniqueOwners` callers:
    // a groupBy-on-owner winner reduction dedups rows fine but happily
    // emits ONE null-keyed group. (Pass 31: previously the untrusted
    // count check tripped on nulls only by accident — count_distinct
    // ignores them — with a misleading "duplicate owner_id" message, and
    // the trusted path admitted them silently.)
    val ownerIdChecked: org.apache.spark.sql.Column =
      when(col("owner_id").isNull, raise_error(lit(
        "assignFieldsBulk: null owner_id — every assignment row needs a " +
          "non-null owner atom id (filter or key first)")).cast("string"))
        .otherwise(col("owner_id"))
    // value rows: one per assignment per field, this slice — by default a
    // NULL skips that field for that owner (sparse multi-field update);
    // assignNulls=true records it (explicit clear, the single-field
    // wrapper's contract). Built (and vtype-checked) before the guard job.
    def assigned(f: BulkField): org.apache.spark.sql.Column =
      if (assignNulls) lit(true) else col(f.rt).isNotNull
    val valuesDelta0 = Schema.rows(assignments, fields.map(f =>
      when(assigned(f), Schema.value(Schema.aeId(f.rt, ownerIdChecked),
        lit(slice), f.vtype, col(f.rt)))))
    // one row per owner per tx. `trustedUniqueOwners` skips the check's
    // count job for callers whose assignments come out of a groupBy on
    // owner_id (streaming ingest's winner reduction) — uniqueness holds
    // by construction there and a per-tick guard job is pure overhead
    if (!trustedUniqueOwners) {
      val counts = assignments.agg(count(lit(1)).as("n"),
        count_distinct(col("owner_id")).as("d"),
        count(when(col("owner_id").isNull, lit(1))).as("nulls")).collect()(0)
      require(counts.getLong(2) == 0L,
        s"assignFieldsBulk: ${counts.getLong(2)} null owner_id rows — " +
          "every assignment row needs a non-null owner atom id")
      require(counts.getLong(0) == counts.getLong(1),
        s"assignFieldsBulk: duplicate owner_id rows (${counts.getLong(0)} rows, " +
          s"${counts.getLong(1)} distinct owners) — one row per owner per tx")
    }

    // Atoms this tx might need to open: field AE + field RELATION per
    // non-null assignment (checked INDEPENDENTLY, mirroring PutField: a
    // cascade-terminate of the owner closes the field relation but leaves
    // the AE alive, so a re-instantiated owner needs only the relation
    // re-opened) and, when upserting, the owner entity itself. All
    // candidates carry their full atom row in ONE exploded frame, so the
    // existence check is a single two-phase join instead of one anti-join
    // per field side (2F+1 atom-table scans otherwise, the dominant cost
    // of an ingest tick): alive ids prefix-narrowed by scan predicate,
    // semi-joined down to the candidate ids (AQE broadcasts the candidate
    // set when delta-sized, so the atom scan STREAMS, no shuffle of the
    // atom table), then one anti-join of candidates vs that small
    // existing set. Scheme ids make id equality imply (kind, atype)
    // equality, so matching on atom_id alone is exact.
    val cand = Schema.rows(assignments, fields.flatMap(f =>
      Schema.fieldAtoms(f.rt, ownerIdChecked, lit(slice))
        .map(when(assigned(f), _))) ++
      ensureOwnerType.map(et => Schema.atom(ownerIdChecked, Kind.Entity,
        lit(et), Schema.noEnd, Schema.noEnd, lit(slice))))
    val prefixes = fields.flatMap(f => Schema.fieldPrefixes(f.rt)) ++
      ensureOwnerType.map(et => s"e:$et/")
    val aliveProbed = g.atoms.filter(col("term_slice").isNull &&
        prefixes.map(p => col("atom_id").startsWith(p)).reduce(_ || _))
      .select(col("atom_id"))
    val existing = aliveProbed
      .join(cand.select(col("atom_id")), Seq("atom_id"), "left_semi")
      .withColumnRenamed("atom_id", "__ex_id")
    val atomsDelta0 = cand
      .join(existing, col("atom_id") === col("__ex_id"), "left_anti")
    // materialize BOTH delta frames in ONE job: packed as a tagged union
    // (their schemas differ, so each side rides in its own struct column),
    // checkpointed once, then split by tag — the split is a map over the
    // cached checkpoint blocks, not a recompute. Two separate
    // localCheckpoints were two scheduled jobs per ingest tick.
    val (atomsDelta, valuesDelta) =
      if (materializeDelta) {
        val packed = atomsDelta0
          .select(struct(atomsDelta0.columns.map(col): _*).as("__a"),
            lit(null).cast(org.apache.spark.sql.types.StructType(
              valuesDelta0.schema.fields)).as("__v"))
          .unionByName(valuesDelta0.select(
            lit(null).cast(org.apache.spark.sql.types.StructType(
              atomsDelta0.schema.fields)).as("__a"),
            struct(valuesDelta0.columns.map(col): _*).as("__v")))
          .localCheckpoint(true)
        (packed.filter(col("__a").isNotNull).select(col("__a.*")),
          packed.filter(col("__v").isNotNull).select(col("__v.*")))
      } else (atomsDelta0, valuesDelta0)

    import spark.implicits._
    val g2 = Graph(
      g.atoms.unionByName(atomsDelta),
      g.values.unionByName(valuesDelta),
      g.txs.unionByName(Seq(TxRow(slice, ts)).toDF()),
      g.tags,
      g.uniqueValuesThrough, // delta lands at a later slice — see transact
      // bulk deltas open only plain ae:rt/ + rel:rt/ forms and terminate
      // nothing, so the scheme-id field-resolution bound survives unchanged
      g.plainFieldAesThrough)
    // same depth-capped lazy map-only seeding as transact, with the
    // distributed delta: drop re-assigned AEs by anti-join, union the delta
    val priorDepth = g.latestValuesDepth(g.maxSlice)
    if (priorDepth < Graph.MaxSeedDepth) {
      val base = g.latestValues(g.maxSlice)
      val merged = base
        .join(valuesDelta.select(col("ae_id").as("__d_id")),
          col("ae_id") === col("__d_id"), "left_anti")
        .unionByName(valuesDelta.drop("vtype"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      g2.seedLatestValues(slice, merged, priorDepth + 1)
    }
    (g2, BulkDelta(atomsDelta, valuesDelta, slice, ts))
  }
}
