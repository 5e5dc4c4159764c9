package graft.core

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField

/** Columnar schema of the temporal property graph (SURVEY.md §1.2).
  *
  * The reference (zefhub/zef) stores a row-oriented append-only blob log with
  * denormalized validity intervals on each atom (`core/include/blobs.h:159-161,
  * 221-225`). We keep the *semantics* — every entity/relation/attribute-entity
  * carries an instantiation/termination time-slice interval; relations are
  * first-class atoms so they can be endpoints of other relations
  * (`core/include/blobs.h:217`) — but invert the layout to columnar
  * DataFrames for scan/join-oriented execution at scale.
  *
  * Partitioning posture at 100 TB: `atoms` is written partitioned by
  * (kind, atype) so `all[ET.X]` scans prune to one partition tree
  * (the analogue of zef's per-type instance lists, `blobs.h:136-144`), and
  * bucketed by atom_id so traversal joins co-locate; `values` is bucketed by
  * ae_id for shuffle-free as-of resolution against the AE partition.
  */
object Kind {
  val Entity = "entity"
  val Relation = "relation"
  val AttributeEntity = "ae"
}

/** One atom: entity, relation, or attribute entity.
  * src_id/dst_id are null except for relations. term_slice null = alive.
  * origin_uid supports cross-graph merge identity
  * (reference `core/include/uids.h`). */
final case class AtomRow(
    atom_id: String,
    kind: String,
    atype: String,
    src_id: Option[String],
    dst_id: Option[String],
    inst_slice: Int,
    term_slice: Option[Int],
    origin_uid: String)

/** One value assignment event on an attribute entity at a tx slice
  * (reference ATTRIBUTE_VALUE_ASSIGNMENT_EDGE, `core/include/blobs.h:284`).
  * Typed columns instead of zef's content-addressed VALUE_NODEs: columnar
  * typed storage gives codegen'd predicates; dedup comes free from
  * parquet dictionary encoding. */
final case class ValueRow(
    ae_id: String,
    tx_slice: Int,
    vtype: String,
    v_str: Option[String],
    v_long: Option[Long],
    v_double: Option[Double],
    v_bool: Option[Boolean],
    v_ts: Option[Timestamp])

/** Transaction row (reference TX_EVENT_NODE, `core/include/blobs.h:116-125`):
  * tx_id == time_slice (monotone). */
final case class TxRow(tx_id: Int, ts: Timestamp)

/** Tag binding event (reference ASSIGN_TAG_NAME_EDGE chain,
  * `core/include/blobs.h:314-330`): the binding of `tag` as of slice S is
  * the latest row with tx_slice ≤ S; atom_id None = tombstone (untag). */
final case class TagRow(tag: String, atom_id: Option[String], tx_slice: Int)

object Schema {
  /** Core atom columns; any other column on an AtomSet's df is carried
    * pipeline metadata (e.g. traversal provenance) and is preserved by
    * projection ops like `field`. */
  val atomCols: Set[String] = Set("atom_id", "kind", "atype", "src_id",
    "dst_id", "inst_slice", "term_slice", "origin_uid")

  // Row builders: the ONE place the atom/value row format is written.
  // Each returns a struct cell; a bulk producer puts all the cells one
  // source row yields into one [[rows]] projection.

  /** The missing endpoint of an entity or AE atom. */
  val noEnd: Column = lit(null).cast("string")

  /** One [[AtomRow]] cell, born alive at the int slice `inst`:
    * term_slice null, origin_uid = `id`. */
  def atom(id: Column, kind: String, atype: Column, src: Column,
      dst: Column, inst: Column): Column =
    struct(id.as("atom_id"), lit(kind).as("kind"), atype.as("atype"),
      src.as("src_id"), dst.as("dst_id"), inst.as("inst_slice"),
      lit(null).cast("int").as("term_slice"), id.as("origin_uid"))

  /** Scheme id of the AE of field `key` on `ownerId`: `ae:<key>/<owner>`. */
  def aeId(key: Column, ownerId: Column): Column =
    concat(lit("ae:"), key, lit("/"), ownerId)
  def aeId(rt: String, ownerId: Column): Column = aeId(lit(rt), ownerId)

  /** The id prefixes of field `rt`'s AE and field-relation atoms. */
  def fieldPrefixes(rt: String): Seq[String] = Seq(s"ae:$rt/", s"rel:$rt/")

  /** The AE cell and the field-relation cell (owner → AE) of field `rt`
    * on `ownerId`, ids `ae:<key>/<owner>` and `rel:<key>/<owner>`. `key`
    * is `rt` unless the field is one element of a multi-valued field
    * (NestedInfer's `rt[pos]`). */
  def fieldAtoms(rt: Column, ownerId: Column, inst: Column,
      key: Column): Seq[Column] = {
    val ae = aeId(key, ownerId)
    val rel = concat(lit("rel:"), key, lit("/"), ownerId)
    Seq(atom(ae, Kind.AttributeEntity, rt, noEnd, noEnd, inst),
      atom(rel, Kind.Relation, rt, ownerId, ae, inst))
  }
  def fieldAtoms(rt: String, ownerId: Column, inst: Column): Seq[Column] =
    fieldAtoms(lit(rt), ownerId, inst, lit(rt))

  /** vtype → the SQL type of its typed column `v_<vtype>`. */
  private val sqlTypes = Map("str" -> "string", "long" -> "long",
    "double" -> "double", "bool" -> "boolean", "ts" -> "timestamp")

  /** One [[ValueRow]] cell at the int slice `slice`: `v` cast into the
    * typed column of `vtype` (str/long/double/bool/ts), every other typed
    * column null. */
  def value(aeId: Column, slice: Column, vtype: String, v: Column): Column = {
    require(sqlTypes.contains(vtype),
      s"vtype must be one of str/long/double/bool/ts, got '$vtype'")
    struct(Seq(aeId.as("ae_id"), slice.as("tx_slice"),
      lit(vtype).as("vtype")) ++ FieldIndex.vcols.map { c =>
      val t = sqlTypes(c.stripPrefix("v_"))
      (if (c == s"v_$vtype") v.cast(t) else lit(null).cast(t)).as(c)
    }: _*)
  }

  /** The vtype a source column of this Spark type encodes as. */
  def vtypeOf(f: StructField): String = f.dataType.typeName match {
    case "string" => "str"
    case "long" | "integer" | "short" => "long"
    case "double" | "float" => "double"
    case "boolean" => "bool"
    case "timestamp" | "timestamp_ntz" => "ts"
    case other => throw new IllegalArgumentException(s"field ${f.name}: $other")
  }

  /** The rows of `cells` for every row of `df`, in one projection: a
    * null cell (gated off with `when`) yields no row. All cells share one
    * struct type. */
  def rows(df: DataFrame, cells: Seq[Column]): DataFrame =
    df.select((if (cells.size == 1) cells.head else explode(array(cells: _*)))
        .as("__r"))
      .filter(col("__r").isNotNull).select("__r.*")
}

object ValueRow {
  def of(aeId: String, slice: Int, v: Any): ValueRow = v match {
    case s: String     => ValueRow(aeId, slice, "str", Some(s), None, None, None, None)
    case i: Int        => ValueRow(aeId, slice, "long", None, Some(i.toLong), None, None, None)
    case l: Long       => ValueRow(aeId, slice, "long", None, Some(l), None, None, None)
    case d: Double     => ValueRow(aeId, slice, "double", None, None, Some(d), None, None)
    case b: Boolean    => ValueRow(aeId, slice, "bool", None, None, None, Some(b), None)
    case t: Timestamp  => ValueRow(aeId, slice, "ts", None, None, None, None, Some(t))
    case other => throw new IllegalArgumentException(
      s"unsupported value type: ${other.getClass}")
  }
}
