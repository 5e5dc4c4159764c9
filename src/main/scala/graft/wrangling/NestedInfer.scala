package graft.wrangling

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StringType}
import graft.core.{Graph, Kind, Schema, TxRow}

/** Nested `infer_types` — the reference's rule-fixpoint type inference over
  * nested JSON objects (`python/zef/core/op_implementations/
  * data_wrangling.py:19-163`), restated for scale.
  *
  * The reference builds an in-memory object tree per document
  * (`create_object`), flattens it to (source, relation, target) triples
  * (`flatten_object`), and iterates a rule list to fixpoint, each step
  * re-typing one `ET.ZEF_Unknown` object whose triple matches a rule with a
  * `Z` marker at the position to replace (`resolve_unknown`, `infer_types`).
  *
  * Here the object tree of EVERY document lives in two DataFrames — an
  * `objects` table and a `triples` table — built by a depth-bounded
  * flattening loop of narrow map operations (no UDFs, no shuffles), and the
  * fixpoint is a driver loop whose every step is one distributed join of the
  * triples against the current type map plus one rule-predicate union.
  * Rules are data on the driver (they are tiny); documents never leave the
  * cluster. Convergence is per-OBJECT bulk: each round assigns every object
  * whose triple matches some rule (first matching rule wins, like the
  * reference's rule-list order), so rounds are O(type-dependency depth),
  * not O(object count) like the reference's one-replacement-per-iteration
  * driver loop — same fixpoint, cluster-friendly schedule.
  */
object NestedInfer {

  val UnknownType: String = EntityResolution.UnknownType

  /** Triple-pattern element (reference `match_rule`, data_wrangling.py:74):
    * `Z` marks the object to re-type (exactly one per rule, reference
    * `validate_rules`), `T(et)` matches an object currently typed `et`,
    * `V(s)` matches a scalar target (or the relation name), `AnyP` matches
    * anything. */
  sealed trait Pat
  case object ZP extends Pat
  case object AnyP extends Pat
  final case class T(et: String) extends Pat
  final case class V(value: String) extends Pat

  /** `[(src, rel, tgt), replacement]` rule. */
  final case class TripleRule(src: Pat, rel: Pat, tgt: Pat, toType: String) {
    require(Seq(src, rel, tgt).count(_ == ZP) == 1,
      s"rule must contain exactly one Z (got src=$src rel=$rel tgt=$tgt)")
    require(rel != ZP, "Z in the relation position cannot type an object")
  }

  /** Flattened representation of nested JSON documents.
    *
    * objects: (obj_id, obj_type) — obj_type from the "type" key when
    *   present (reference create_object), else ZEF_Unknown.
    * triples: (src_id, rel, tgt_id, tgt_value, pos) — tgt_id non-null for
    *   object-valued fields, tgt_value for scalars. Array fields emit one
    *   triple per element (reference flatten_object's list branch), with
    *   `pos` carrying the element index so multi-valued fields keep every
    *   element AND its order through to the graph (pos is null for plain
    *   scalar/object fields).
    */
  final case class Flattened(objects: DataFrame, triples: DataFrame)

  private val mapSS = MapType(StringType, StringType)

  /** Flatten nested JSON into objects + triples. `maxDepth` bounds the
    * driver loop — depth is a property of the SCHEMA (how deeply documents
    * nest), not of data volume, so the loop stays O(schema depth) rounds of
    * narrow, codegen'd map work regardless of document count. */
  def flatten(df: DataFrame, idCol: String, jsonCol: String,
      maxDepth: Int = 8): Flattened = {
    val spark = df.sparkSession
    var frontier = df.select(
      concat(col(idCol).cast("string"), lit(":$")).as("obj_id"),
      col(jsonCol).as("__json"))

    var objects = Vector.empty[DataFrame]
    var triples = Vector.empty[DataFrame]
    var depth = 0
    var done = false
    while (depth < maxDepth && !done) {
      // each level's parse is frozen (lazy, persist-backed): FIVE branches
      // consume it (objects, three triple kinds, the next frontier) and the
      // next level's lineage starts here — without the freeze every branch
      // of every level re-runs all previous levels' from_json, an O(depth²)
      // recompute pyramid that also re-executes under every downstream
      // action over the result
      val parsed = frontier
        .withColumn("__m", from_json(col("__json"), mapSS))
        .filter(col("__m").isNotNull)
        .localCheckpoint(eager = false)
      objects :+= parsed.select(
        col("obj_id"),
        coalesce(element_at(col("__m"), "type"), lit(UnknownType))
          .as("obj_type"))

      // one row per (object, key, raw value); nested objects/arrays come
      // back from from_json as their raw JSON text (StringType target)
      val entries = parsed.select(col("obj_id"),
          explode(map_entries(col("__m"))).as("__e"))
        .select(col("obj_id"), col("__e.key").as("rel"),
          col("__e.value").as("raw"))
        .filter(col("rel") =!= "type" && col("raw").isNotNull)

      // classification is by PARSE SUCCESS, not raw prefix alone: a scalar
      // string that merely STARTS with '{' or '[' ("[sic] quote", "{draft")
      // is not valid JSON, so from_json returns null and it stays a scalar
      // — prefix-only routing silently dropped such values (the array parse
      // yields null -> posexplode emits nothing) or worse left a dangling
      // child triple. One genuine ambiguity remains, inherent to the text
      // round-trip: a scalar string whose full content IS valid JSON
      // ("[1, 2]") is indistinguishable from nesting and parses as such.
      val isObj = col("raw").startsWith("{") &&
        from_json(col("raw"), mapSS).isNotNull
      val isArr = col("raw").startsWith("[") &&
        from_json(col("raw"), ArrayType(StringType)).isNotNull

      val noPos = lit(null).cast("int").as("pos")

      // scalar fields → value triples
      triples :+= entries.filter(!isObj && !isArr).select(
        col("obj_id").as("src_id"), col("rel"),
        lit(null).cast("string").as("tgt_id"), col("raw").as("tgt_value"),
        noPos)

      // array fields → one triple per element (object or scalar), keeping
      // the element index
      val arrElems = entries.filter(isArr).select(col("obj_id"), col("rel"),
          posexplode(from_json(col("raw"), ArrayType(StringType))))
        .withColumnRenamed("col", "elem")
        .filter(col("elem").isNotNull)
      // same parse-success rule for array ELEMENTS as for field values
      val elemIsObj = col("elem").startsWith("{") &&
        from_json(col("elem"), mapSS).isNotNull
      val arrChildId =
        concat(col("obj_id"), lit("/"), col("rel"), lit("["), col("pos"), lit("]"))
      triples :+= arrElems.filter(!elemIsObj).select(
        col("obj_id").as("src_id"), col("rel"),
        lit(null).cast("string").as("tgt_id"), col("elem").as("tgt_value"),
        col("pos").cast("int").as("pos"))
      val arrChildren = arrElems.filter(elemIsObj).select(
        arrChildId.as("obj_id"), col("elem").as("__json"),
        col("obj_id").as("__parent"), col("rel").as("__rel"),
        col("pos").cast("int").as("__pos"))
      triples :+= arrChildren.select(
        col("__parent").as("src_id"), col("__rel").as("rel"),
        col("obj_id").as("tgt_id"), lit(null).cast("string").as("tgt_value"),
        col("__pos").as("pos"))

      // object fields → child objects + object triples
      val objChildren = entries.filter(isObj).select(
        concat(col("obj_id"), lit("/"), col("rel")).as("obj_id"),
        col("raw").as("__json"),
        col("obj_id").as("__parent"), col("rel").as("__rel"))
      triples :+= objChildren.select(
        col("__parent").as("src_id"), col("__rel").as("rel"),
        col("obj_id").as("tgt_id"), lit(null).cast("string").as("tgt_value"),
        noPos)

      frontier = objChildren.select(col("obj_id"), col("__json"))
        .unionByName(arrChildren.select(col("obj_id"), col("__json")))
      depth += 1
      // emptiness probe only when another level could follow
      if (depth < maxDepth) done = frontier.isEmpty
    }
    // deeper-than-maxDepth nesting must not truncate SILENTLY: the last
    // level already emitted child triples for the unparsed frontier, so
    // proceeding would leave dangling tgt_ids (relations into entities
    // that don't exist) and lose every deeper value
    if (!done && !frontier.isEmpty)
      throw new IllegalArgumentException(
        s"NestedInfer.flatten: documents nest deeper than maxDepth=$maxDepth" +
          " — raise maxDepth (depth is a schema property; the loop stays" +
          " O(depth) rounds)")
    // the triple union is scanned by every fixpoint round AND by every
    // consumer of the result graph — freeze it once
    Flattened(objects.reduce(_ unionByName _),
      triples.reduce(_ unionByName _).localCheckpoint(eager = false))
  }

  private def srcPred(p: Pat): Column = p match {
    case ZP      => col("src_type") === UnknownType
    case AnyP    => lit(true)
    case T(et)   => col("src_type") === et
    case V(_)    => lit(false) // triple sources are always objects
  }
  private def relPred(p: Pat): Column = p match {
    case V(rt)   => col("rel") === rt
    case AnyP    => lit(true)
    case T(_)    => lit(false)
    case ZP      => lit(false) // rejected at rule construction
  }
  private def tgtPred(p: Pat): Column = p match {
    case ZP      => col("tgt_id").isNotNull && col("tgt_type") === UnknownType
    case AnyP    => lit(true)
    case T(et)   => col("tgt_id").isNotNull && col("tgt_type") === et
    case V(v)    => col("tgt_value") === v
  }

  /** Run the rule fixpoint: returns (obj_id, obj_type) with every resolvable
    * ZEF_Unknown replaced; unmatched objects keep the sentinel (reference
    * semantics — `resolve_unknown` only ever replaces Unknowns).
    *
    * Each round: triples ⋈ types (src) ⟕ types (tgt), then one unioned
    * rule-predicate scan; first matching rule per object wins (min_by on
    * rule index — the reference applies rules in list order). Converged
    * when a round assigns nothing. Rounds are bounded by the longest chain
    * of type dependencies between rules, so `maxIters` is a safety rail,
    * not the expected exit. */
  def fixpoint(flat: Flattened, rules: Seq[TripleRule],
      maxIters: Int = 25): DataFrame = {
    // no rules -> every object keeps its type (the natural fixpoint);
    // unguarded, the per-rule union below would throw empty.reduce
    if (rules.isEmpty) return flat.objects
    val base = flat.objects.localCheckpoint(true)
    // duplicate ROOT document ids collide whole object subtrees onto the
    // same obj_id paths ("id:$", "id:$/field", …): the types-view join
    // then multiplies rows and every downstream consumer silently
    // double-counts. toGraph's atom-id check is one stage too late to
    // protect fixpoint-only callers. The distinct-count rides the SAME
    // aggregate job the broadcast-regime decision already pays — the
    // check costs zero extra passes over the (cached) base.
    val idc = base.agg(count(lit(1)), count_distinct(col("obj_id")),
      count(when(col("obj_id").isNull, 1))).collect()(0)
    // count_distinct ignores NULLs, so a null root id (concat propagates
    // null through every sub-path) would otherwise surface as a phantom
    // "duplicate id" — count nulls in the SAME aggregate and report them
    // as their own input defect with an accurate diagnosis
    require(idc.getLong(2) == 0L,
      s"NestedInfer.fixpoint: ${idc.getLong(2)} objects with a NULL id — " +
        "a document's root id column is null; drop or re-key null-id " +
        "documents before flatten")
    require(idc.getLong(0) == idc.getLong(1),
      s"NestedInfer.fixpoint: ${idc.getLong(0) - idc.getLong(1)} duplicate " +
        "object ids — the flattened documents share root id values; " +
        "dedupe or re-key the id column before flatten")
    // Checkpointed RDD stats are too weak for Catalyst to pick broadcast
    // joins on its own, and a shuffle join per rule-scan turns each round
    // into ~15 AQE stage-jobs of pure scheduling overhead. The object table
    // size is KNOWN here (base is materialized), so dispatch adaptively —
    // same pattern as ZOps' group_consecutive: small object sets broadcast
    // (zero shuffles per round), huge ones fall back to shuffle joins,
    // which is the correct plan when types genuinely can't fit an executor.
    val bcTypes = idc.getLong(0) <= 5_000_000L
    def hint(df: DataFrame): DataFrame = if (bcTypes) broadcast(df) else df
    // Accumulated re-typings. Only ZEF_Unknown objects ever change type, and
    // a resolved object never matches Z again, so rounds produce DISJOINT
    // (obj_id → new type) deltas; the current types table is the cheap view
    // `base ⟕ union(deltas)` with coalesce. Each delta is tiny (objects
    // typed that round) and eagerly checkpointed, so per-round cost is the
    // rule scan + one small-table join — NOT a full types-table rewrite and
    // materialization per round (the r3 constant-factor tax).
    var resolved: Option[DataFrame] = None
    def typesView: DataFrame = resolved match {
      case None => base
      case Some(r) => base.join(hint(r), Seq("obj_id"), "left")
        .select(col("obj_id"),
          coalesce(col("__new"), col("obj_type")).as("obj_type"))
    }
    // a triple can only fire a rule whose rel pattern admits it — when no
    // rule has an AnyP relation, restrict the scanned triples ONCE to the
    // named rels (typical rule lists name a handful of rels; documents
    // carry many more fields than that)
    val scanTriples =
      if (rules.exists(_.rel == AnyP)) flat.triples
      else {
        val rels = rules.collect { case TripleRule(_, V(rt), _, _) => rt }.distinct
        flat.triples.filter(col("rel").isin(rels: _*)).localCheckpoint(true)
      }
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val types = typesView
      val t = scanTriples
        .join(hint(types.select(col("obj_id").as("src_id"),
          col("obj_type").as("src_type"))), "src_id")
        .join(hint(types.select(col("obj_id").as("tgt_id"),
          col("obj_type").as("tgt_type"))), Seq("tgt_id"), "left")
      val perRule = rules.zipWithIndex.map { case (r, i) =>
        val zCol = if (r.src == ZP) col("src_id") else col("tgt_id")
        t.filter(srcPred(r.src) && relPred(r.rel) && tgtPred(r.tgt))
          .select(zCol.as("obj_id"), lit(i).as("__prio"),
            lit(r.toType).as("__new"))
      }
      val delta = perRule.reduce(_ unionByName _)
        .groupBy("obj_id")
        .agg(min_by(col("__new"), col("__prio")).as("__new"))
      if (bcTypes) {
        // broadcast regime: the round's delta is bounded by the object set,
        // which already fits the driver (a broadcast join materializes its
        // build side there anyway) — so collect it ONCE and re-enter it as
        // a LocalRelation. One job per round instead of two (the
        // checkpoint-then-isEmpty shape), later rounds broadcast the local
        // rows without a job, and no per-round checkpoint RDD outlives the
        // fixpoint (a long session used to accumulate them).
        val rows = delta.collect()
        converged = rows.isEmpty
        if (!converged) {
          val fresh = delta.sparkSession.createDataFrame(
            java.util.Arrays.asList(rows: _*), delta.schema)
          resolved = Some(resolved.map(_.unionByName(fresh)).getOrElse(fresh))
        }
      } else {
        // shuffle regime (types too big for one executor): eagerly frozen —
        // the convergence probe, the delta union, and the final view all
        // read the round's assignments. Re-wrapped as a fresh LogicalRDD
        // (new attribute ids): each round's delta descends from the
        // previous deltas' plan, and unioning frames that share attribute
        // ids trips Catalyst's union constraint rewrite.
        val ck = delta.localCheckpoint(eager = true)
        converged = ck.isEmpty // reads the cached checkpoint blocks — cheap
        if (!converged) {
          val fresh = ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
          resolved = Some(resolved.map(_.unionByName(fresh)).getOrElse(fresh))
        }
      }
      iter += 1
    }
    // maxIters is a rail against pathological rule lists, but exhaustion
    // is DATA-reachable: a dependency chain through a deep object path
    // (rule (Z, "next", T("Node")) over a 30-deep linked list) needs one
    // round per link. Returning the half-typed table silently would be a
    // wrong answer that no downstream check can attribute — same loud
    // contract as flatten's maxDepth.
    if (!converged)
      throw new IllegalStateException(
        s"NestedInfer.fixpoint: not converged after maxIters=$maxIters " +
          "rounds (the last round still assigned types) — raise maxIters; " +
          "rounds are bounded by the longest type-dependency chain")
    typesView
  }

  /** infer_types end-to-end: flatten + fixpoint (reference
    * data_wrangling.py:144-163). */
  def inferTypes(df: DataFrame, idCol: String, jsonCol: String,
      rules: Seq[TripleRule], maxDepth: Int = 8): Flattened = {
    val flat = flatten(df, idCol, jsonCol, maxDepth)
    Flattened(fixpoint(flat, rules), flat.triples)
  }

  /** Emit the typed object forest as a graph — the reference's
    * "obj → graph wishes" step (its infer_types output is transacted via
    * graph templates). Bulk path, mirroring [[graft.core.GraphEncoder]]:
    * one entity atom per object, one relation atom per object triple, one
    * AE + relation + value row per scalar triple; all at `instSlice`.
    * Scalar values land in v_str (JSON scalars are text; numeric reads cast
    * in the query, like the reference's untyped AET.String default). */
  def toGraph(flat: Flattened, instSlice: Int = 1,
      ts: java.sql.Timestamp = java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      : Graph = {
    val spark = flat.objects.sparkSession
    import spark.implicits._
    val slice = lit(instSlice)

    val entities = Schema.rows(flat.objects, Seq(Schema.atom(col("obj_id"),
      Kind.Entity, col("obj_type"), Schema.noEnd, Schema.noEnd, slice)))

    // one projection over the triples: an object triple is a relation
    // atom, a scalar triple an AE + field relation + value row.
    // One AE per (object, rel, pos): array elements each get their own AE
    // (suffixed with the element index) so NO element value is dropped and
    // element order survives as part of the identity — the reference's
    // flatten_object list branch keeps one triple per element too
    // (data_wrangling.py:49-60); a one-AE-per-field collapse would silently
    // keep a single array element.
    val isObj = col("tgt_id").isNotNull
    val key = concat(col("rel"), when(col("pos").isNotNull,
      concat(lit("["), col("pos"), lit("]"))).otherwise(lit("")))
    val relAtom = Schema.atom(concat(lit("r:"), col("rel"), lit("/"),
      col("src_id"), lit(">"), col("tgt_id")), Kind.Relation, col("rel"),
      col("src_id"), col("tgt_id"), slice)
    val tripleAtoms = Schema.rows(flat.triples, when(isObj, relAtom) +:
      Schema.fieldAtoms(col("rel"), col("src_id"), slice, key)
        .map(when(!isObj, _)))
    val values = Schema.rows(flat.triples, Seq(when(!isObj, Schema.value(
      Schema.aeId(key, col("src_id")), slice, "str", col("tgt_value")))))

    // the result graph's tables are scanned many times by any real
    // consumer (traversals join atoms against atoms against values):
    // persist them like GraphEncoder's bulk-load cache so the flatten +
    // fixpoint lineage executes once, not once per scan
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // tracked as transient: each toGraph call builds a fresh graph, so a
    // batch harness releases these between queries (TransientCaches)
    // AE/field-rel ids are (rel, pos, src_id) paths; JSON map keys are
    // unique per object and pos is unique per array, so the ids are unique
    // by construction — no dedup shuffle needed (it used to cost two
    // exchanges of pure defensiveness here). One adversarial exception
    // exists: a LITERAL key that ends in a bracket suffix (e.g. keys
    // "a[0]" and "a":[...] in one object) collides with an array-element
    // id. That would silently double field-join rows under the
    // single-assignment flag below, so it is checked LOUDLY instead —
    // one cheap count-distinct over the (persisted) values table.
    val atoms = graft.core.TransientCaches.trackTable(
      entities.unionByName(tripleAtoms).persist(lvl))
    val v = graft.core.TransientCaches.trackTable(values.persist(lvl))
    val c = v.agg(count(lit(1)), count_distinct(col("ae_id"))).collect()(0)
    require(c.getLong(0) == c.getLong(1),
      s"NestedInfer: ${c.getLong(0) - c.getLong(1)} colliding AE ids — a " +
        "literal JSON key carries a bracket suffix that collides with an " +
        "array-element id (e.g. both \"a[0]\" and \"a\": [...] in one object)")
    // entity/relation ids are path-derived too, so a literal key containing
    // the path separator can collide two ENTITY ids ({"a/b": {...}, "a":
    // {"b": {...}}}) — which the AE check above cannot see. One distinct
    // count over the (persisted) atoms table closes every id class loudly
    // instead of shipping duplicate atom_ids into every downstream join.
    val ac = atoms.agg(count(lit(1)), count_distinct(col("atom_id"))).collect()(0)
    require(ac.getLong(0) == ac.getLong(1),
      s"NestedInfer: ${ac.getLong(0) - ac.getLong(1)} colliding atom ids — " +
        "a literal JSON key containing '/', '>', or a bracket suffix " +
        "collides with a path-derived id; rename the offending keys")
    Graph(atoms, v, Seq(TxRow(instSlice, ts)).toDF())
      // one value row per AE at one slice, scheme ids (ae:rel[pos]/src) —
      // as-of reads take Graph.latestValues' single-assignment fast path
      .copy(uniqueValuesThrough = instSlice)
  }
}
