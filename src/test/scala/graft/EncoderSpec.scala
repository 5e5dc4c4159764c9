package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** The atom/value row format has one builder ([[Schema]]) and every bulk
  * producer emits through it. Checked three ways: the bulk encoder
  * against an in-memory model built from [[AtomRow]]/[[ValueRow.of]] on
  * seeded random frames (the method of [[ZArrPropertySpec]]); the bulk
  * write path against the bulk encoder on one owner frame; and the encode
  * plan's scan count, so the encoder stays one projection per source. */
class EncoderSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val fieldTypes: Seq[DataType] = Seq(StringType, IntegerType,
    LongType, DoubleType, BooleanType, TimestampType)

  private def randomValue(t: DataType, rnd: scala.util.Random): Any = t match {
    case StringType => rnd.alphanumeric.take(rnd.nextInt(4)).mkString
    case IntegerType => rnd.nextInt(7) - 3
    case LongType => rnd.nextLong() % 1000L
    case DoubleType => rnd.nextInt(9) / 4.0 - 1.0
    case BooleanType => rnd.nextBoolean()
    case TimestampType => new Timestamp(1700000000000L + rnd.nextInt(99) * 1000L)
  }

  /** A source frame of ≤ 20 rows: unique non-null key `k`, 0-3 nullable
    * fields of random type, random null cells. */
  private def randomSource(seed: Int): (DataFrame, Seq[String], Seq[Row]) = {
    val rnd = new scala.util.Random(seed)
    val types = Seq.fill(rnd.nextInt(4))(fieldTypes(rnd.nextInt(fieldTypes.size)))
    val fields = types.indices.map(i => s"f$i")
    val schema = StructType(StructField("k", LongType, nullable = false) +:
      fields.zip(types).map { case (f, t) => StructField(f, t) })
    val rows = rnd.shuffle((0 until 40).toList).take(rnd.nextInt(21)).map { k =>
      Row.fromSeq(k.toLong +: types.map(t =>
        if (rnd.nextInt(3) == 0) null else randomValue(t, rnd)))
    }
    (spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      fields, rows)
  }

  /** The rows the encoder must produce, built without Spark. */
  private def model(et: String, fields: Seq[String], rows: Seq[Row],
      slice: Int): (Seq[AtomRow], Seq[ValueRow]) = {
    val perRow = rows.map { r =>
      val id = s"e:$et/${r.getLong(0)}"
      val present = fields.zipWithIndex.collect {
        case (f, i) if !r.isNullAt(i + 1) => (f, r.get(i + 1))
      }
      val atoms = AtomRow(id, Kind.Entity, et, None, None, slice, None, id) +:
        present.flatMap { case (f, _) =>
          val ae = s"ae:$f/$id"; val rel = s"rel:$f/$id"
          Seq(AtomRow(ae, Kind.AttributeEntity, f, None, None, slice, None, ae),
            AtomRow(rel, Kind.Relation, f, Some(id), Some(ae), slice, None, rel))
        }
      (atoms, present.map { case (f, v) => ValueRow.of(s"ae:$f/$id", slice, v) })
    }
    (perRow.flatMap(_._1), perRow.flatMap(_._2))
  }

  private val valueSchema =
    org.apache.spark.sql.Encoders.product[ValueRow].schema

  private def sorted[T](xs: Seq[T]): Seq[String] = xs.map(_.toString).sorted

  test("encodeEntities emits exactly the model's rows (50 random frames)") {
    val s = spark; import s.implicits._
    (1 to 50).foreach { seed =>
      val (df, fields, rows) = randomSource(seed)
      val slice = 1 + seed % 3
      val (atoms, values) = GraphEncoder.encodeEntities(df, "T", "k", fields, slice)
      val (expAtoms, expValues) = model("T", fields, rows, slice)
      assert(values.schema.map(f => (f.name, f.dataType)) ==
        valueSchema.map(f => (f.name, f.dataType)), s"seed=$seed")
      assert(sorted(atoms.as[AtomRow].collect().toSeq) == sorted(expAtoms),
        s"atoms, seed=$seed fields=${df.schema.simpleString}")
      assert(sorted(values.as[ValueRow].collect().toSeq) == sorted(expValues),
        s"values, seed=$seed fields=${df.schema.simpleString}")
    }
  }

  test("the bulk write path and the bulk encoder agree on one owner frame") {
    val s = spark; import s.implicits._
    val ts = Timestamp.valueOf("2024-03-01 12:00:00")
    val df = Seq(
      (1L, Option("a"), Option(3), Option(2.5), Option(true), Option(ts)),
      (2L, None, Some(-1), None, Some(false), None),
      (3L, Some(""), None, Some(0.0), None, Some(ts)),
      (4L, None, None, None, None, None))
      .toDF("k", "name", "n", "score", "ok", "at")
    val fields = Seq("name", "n", "score", "ok", "at")
    val owners = df.select(GraphEncoder.entityId("T", col("k")).as("owner_id") +:
      fields.map(col): _*)
    val (_, delta) = Transactor.assignFieldsBulkDelta(Graph.empty(spark), owners,
      fields.map(f => Transactor.BulkField(f, Schema.vtypeOf(df.schema(f)))),
      ensureOwnerType = Some("T"))
    val (atoms, values) = GraphEncoder.encodeEntities(df, "T", "k", fields)
    def noSlices(d: DataFrame): Seq[String] =
      d.drop("inst_slice", "term_slice", "tx_slice").collect().map(_.toString).sorted.toSeq
    assert(atoms.count() == 4 + 2 * 10)
    assert(noSlices(delta.atoms) == noSlices(atoms))
    assert(noSlices(delta.values) == noSlices(values))
  }

  test("the TPC-H encode reads each source table once per output table") {
    // planning only (sparkPlan), no job: a per-field branch per table
    // would scan each table 1 + 2N times for atoms and N times for values
    val g = GraphEncoder.encodeTpchUncached(spark, "/root/testdata/sf0.001")
    def scans(df: DataFrame): Int = df.queryExecution.sparkPlan.collect {
      case n if n.getClass.getSimpleName == "FileSourceScanExec" => n }.size
    val n = scans(g.atoms) + scans(g.values)
    assert(n <= 8, s"$n parquet scans in the TPC-H encode plan")
  }
}
