package graft.server

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.Pinned
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.core.IoxSchema
import graft.operators.Upsert

/** The snapshot fold's one-task merge (SnapshotMerge) against the dedup it
  * replaces, `Upsert.dedup(IoxSchema.mergeUnion(base @ 0, added @ 1..k))`
  * over one partition: the same rows in the same order (compared as
  * strings, so `-0.0`, `0.0` and `NaN` stay apart), the same column order
  * and the same schema, category metadata included.
  *
  * The base is a deduplicated snapshot of one partition, as the facade
  * folds over; the added chunks are line-protocol-shaped frames of one
  * partition. Tiny value domains force duplicate keys within a chunk and
  * across chunks; tags and fields are often null; doubles draw from
  * `NaN`, `-0.0` and `0.0`; an added chunk may bring a new tag or field
  * column, drop a field column, or hold no rows. */
class SnapshotMergePropSpec extends SparkSpec {

  private def tag(n: String) = IoxSchema.tagged(n, StringType, IoxSchema.Tag)
  private def field(n: String, t: DataType) = IoxSchema.tagged(n, t, IoxSchema.Field)
  private val time = IoxSchema.tagged("time", LongType, IoxSchema.Time)

  private val baseFields = Seq(field("fl", LongType), field("fd", DoubleType),
    field("fs", StringType), field("fb", BooleanType))

  private def valueGen(t: DataType): Gen[Any] = Gen.frequency(3 -> (t match {
    case LongType => Gen.choose(0L, 3L)
    case DoubleType => Gen.oneOf(Double.NaN, -0.0, 0.0, 1.5, -2.0)
    case StringType => Gen.oneOf("x", "y", "")
    case BooleanType => Gen.oneOf(true, false)
  }), 2 -> Gen.const(null))

  /** Rows of `schema` over a few hosts, regions and times. */
  private def rowsGen(schema: StructType, max: Int): Gen[List[Row]] =
    Gen.choose(0, max).flatMap(n => Gen.listOfN(n, Gen.sequence[List[Any], Any](
      schema.fields.toList.map { f =>
        if (f.name == "time") Gen.choose(0L, 4L)
        else if (IoxSchema.categoryOf(f).contains(IoxSchema.Tag))
          Gen.frequency(4 -> Gen.oneOf("a", "b"), 1 -> Gen.const(null))
        else valueGen(f.dataType)
      }).map(Row.fromSeq)))

  /** An added chunk's schema: tags, a subset of the fields, maybe a new
    * tag or field column, then time — line protocol's column order. */
  private val addedSchemaGen: Gen[StructType] = for {
    fields <- Gen.someOf(baseFields).map(fs => baseFields.filter(fs.contains))
    rack <- Gen.frequency(3 -> false, 1 -> true)
    extra <- Gen.frequency(3 -> false, 1 -> true)
  } yield StructType(Seq(tag("host"), tag("region")) ++
    (if (rack) Seq(tag("rack")) else Nil) ++ fields ++
    (if (extra) Seq(field("fx", DoubleType)) else Nil) :+ time)

  private val baseSchema =
    StructType(Seq(tag("host"), tag("region")) ++ baseFields :+ time)

  private val caseGen: Gen[(List[Row], List[(StructType, List[Row])])] = for {
    base <- rowsGen(baseSchema, 40)
    k <- Gen.choose(1, 3)
    added <- Gen.listOfN(k, addedSchemaGen.flatMap(s => rowsGen(s, 12).map(s -> _)))
  } yield (base, added)

  private def chunk(schema: StructType, rows: List[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private def seqd(frames: Seq[DataFrame]): DataFrame =
    IoxSchema.mergeUnion(frames.zipWithIndex.map { case (df, i) =>
      df.withColumn(SnapshotMerge.SeqCol, lit(i.toLong))
    })

  private def pk(df: DataFrame): Seq[String] =
    df.schema.fields.filter(SnapshotMerge.isKey).map(_.name).toSeq

  /** The dedup over one partition: its SortAggregate emits key order. */
  private def dedup(frames: Seq[DataFrame]): DataFrame = {
    val merged = seqd(frames).coalesce(1)
    Upsert.dedup(merged, pk(merged), SnapshotMerge.SeqCol)
  }

  private def rdd(df: DataFrame) =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd

  test("merge == dedup(mergeUnion(base @ 0, added @ 1..k)): rows, row order, columns, metadata") {
    val prop = Prop.forAllNoShrink(caseGen) { case (baseRows, addedRows) =>
      val base = Pinned.lazily(dedup(Seq(chunk(baseSchema, baseRows))))
      val added = addedRows.map { case (s, rows) => chunk(s, rows) }
      val frames = base +: added
      val schemas = frames.map(_.schema)
      val shape = SnapshotMerge.shapeOf(spark, schemas)
      assert(SnapshotMerge.mergeable(schemas, shape))
      val got = Pinned.rows(spark,
        SnapshotMerge.merge(frames.map(rdd), schemas, shape), shape.out)
      val want = dedup(frames)
      assert(got.schema == want.schema)
      assert(got.schema.fields.map(IoxSchema.categoryOf).toSeq ==
        want.schema.fields.map(IoxSchema.categoryOf).toSeq)
      val (g, w) = (got.collect().map(_.toString).toSeq,
        want.collect().map(_.toString).toSeq)
      assert(g == w, s"\nbase $baseRows\nadded $addedRows")
      true
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, res.status)
  }

  test("mergeable: no field to group, an unsorted base, a cast or a floating key fall back") {
    val lp = StructType(Seq(tag("host"), field("v", LongType), time))
    val snap = StructType(Seq(tag("host"), time, field("v", LongType)))
    def ok(schemas: StructType*) =
      SnapshotMerge.mergeable(schemas, SnapshotMerge.shapeOf(spark, schemas))
    assert(ok(snap, lp))
    // the dedup of key-only frames is a hash DISTINCT: no order to merge into
    assert(!ok(StructType(Seq(tag("host"), time)), StructType(Seq(tag("host"), time))))
    // a base whose key does not lead is not a dedup output
    assert(!ok(lp, lp))
    // the union would widen v to double
    assert(!ok(snap, StructType(Seq(tag("host"), field("v", DoubleType), time))))
    assert(!ok(StructType(Seq(IoxSchema.tagged("time", DoubleType, IoxSchema.Time),
      field("v", LongType))), StructType(Seq(field("v", LongType),
      IoxSchema.tagged("time", DoubleType, IoxSchema.Time)))))
  }
}
