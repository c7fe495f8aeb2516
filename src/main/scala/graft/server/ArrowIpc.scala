package graft.server

import java.io.{InputStream, OutputStream}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, BitVector, Float4Vector, Float8Vector, IntVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ArrowSchema}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.core.ResultRows

/** Arrow IPC (de)serialization of query results — the data plane of the
  * reference's Arrow Flight `do_get` (src/influxdb_ioxd/rpc/flight.rs:158:
  * schema message, then one record batch per result batch, over the wire).
  * Spark ships the arrow-vector/arrow-memory jars, so the stream bytes
  * here are the same IPC format any Flight/pyarrow client decodes; only
  * the gRPC transport is stood in by HTTP (see [[HttpFacade]]).
  *
  * Types cover the engine's column universe (tags = utf8, fields =
  * f64/i64/u64-as-i64/bool/utf8, time = i64 ns) — the same set the
  * reference's optimize_schema emits after dictionary unwrapping
  * (flight.rs:320-360).
  */
object ArrowIpc {

  private def arrowField(f: StructField): Field = {
    val at = f.dataType match {
      case LongType => new ArrowType.Int(64, true)
      case IntegerType => new ArrowType.Int(32, true)
      case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
      case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
      case BooleanType => ArrowType.Bool.INSTANCE
      case StringType => ArrowType.Utf8.INSTANCE
      case other =>
        throw new IllegalArgumentException(
          s"column '${f.name}': type ${other.simpleString} not supported over flight")
    }
    new Field(f.name, FieldType.nullable(at), java.util.Collections.emptyList())
  }

  /** Serialize a DataFrame as an Arrow IPC stream in `batchRows` batches.
    * Rows arrive through [[graft.core.ResultRows.stream]] — one partition
    * in memory at a time, streamed as they are written (the reference
    * TODO-notes exactly this streaming upgrade over its collect(),
    * flight.rs:156). */
  def writeStream(df: DataFrame, out: OutputStream, batchRows: Int = 4096): Unit = {
    val sparkSchema = df.schema
    val schema = new ArrowSchema(sparkSchema.fields.map(arrowField).toSeq.asJava)
    val alloc = new RootAllocator()
    val root = VectorSchemaRoot.create(schema, alloc)
    val writer = new ArrowStreamWriter(root, null, out)
    try {
      writer.start()
      ResultRows.stream(df)(_.grouped(batchRows).foreach { rows =>
        root.allocateNew()
        var i = 0
        rows.foreach { row =>
          var c = 0
          while (c < sparkSchema.length) {
            val vec = root.getVector(c)
            if (row.isNullAt(c)) vec.setNull(i)
            else vec match {
              case v: BigIntVector => v.setSafe(i, row.getLong(c))
              case v: IntVector => v.setSafe(i, row.getInt(c))
              case v: Float8Vector => v.setSafe(i, row.getDouble(c))
              case v: Float4Vector => v.setSafe(i, row.getFloat(c))
              case v: BitVector => v.setSafe(i, if (row.getBoolean(c)) 1 else 0)
              case v: VarCharVector =>
                v.setSafe(i, row.getString(c).getBytes("UTF-8"))
              case other =>
                throw new IllegalStateException(s"unreachable: ${other.getClass}")
            }
            c += 1
          }
          i += 1
        }
        root.setRowCount(i)
        writer.writeBatch()
      })
      writer.end()
    } finally {
      writer.close(); root.close(); alloc.close()
    }
  }

  private def sparkTypeOf(name: String, at: ArrowType): DataType = at match {
    case i: ArrowType.Int if i.getBitWidth == 64 => LongType
    case i: ArrowType.Int if i.getBitWidth == 32 => IntegerType
    case fp: ArrowType.FloatingPoint
        if fp.getPrecision == FloatingPointPrecision.DOUBLE => DoubleType
    case fp: ArrowType.FloatingPoint
        if fp.getPrecision == FloatingPointPrecision.SINGLE => FloatType
    case _: ArrowType.Bool => BooleanType
    case _: ArrowType.Utf8 => StringType
    case other => throw new IllegalArgumentException(
      s"column '$name': arrow type $other not supported over flight")
  }

  /** Decode an Arrow IPC stream into a typed (Spark schema, rows) pair —
    * the INGEST half of the Flight surface (`do_put`): the exact inverse
    * of [[arrowField]] over the same six types, so anything the engine
    * can serve it can also accept.
    *
    * Dictionary-encoded columns (how Arrow-native clients ship
    * low-cardinality tag columns — the reference hydrates exactly these
    * before use, src/influxdb_ioxd/rpc/flight.rs:285-348's
    * optimize_record_batch / dictionary unwrapping) are HYDRATED here:
    * each encoded vector is decoded against its dictionary batch and
    * lands as a plain dense column of the dictionary's VALUE type, so a
    * dictionary utf8 tag arrives as StringType rows indistinguishable
    * from a dense utf8 send. */
  def readStreamTyped(in: InputStream)
      : (StructType, Seq[org.apache.spark.sql.Row]) = {
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(in, alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val fields = root.getSchema.getFields.asScala.toSeq
      // a dictionary-encoded field's Field carries the INDEX type; its
      // Spark type comes from the dictionary's value vector, resolvable
      // only after the stream's dictionary batches load — fill then
      val sparkTypes =
        scala.collection.mutable.ArraySeq.fill[DataType](fields.size)(NullType)
      fields.zipWithIndex.foreach { case (f, c) =>
        if (f.getDictionary == null)
          sparkTypes(c) = sparkTypeOf(f.getName, f.getFieldType.getType)
      }
      val rows = Seq.newBuilder[org.apache.spark.sql.Row]
      while (reader.loadNextBatch()) {
        val decoded = fields.zipWithIndex.map { case (f, c) =>
          val fv = root.getVector(c)
          Option(f.getDictionary) match {
            case None => (fv, false)
            case Some(enc) =>
              val dict = reader.lookup(enc.getId)
              require(dict != null,
                s"column '${f.getName}': dictionary ${enc.getId} not in stream")
              if (sparkTypes(c) == NullType)
                sparkTypes(c) = sparkTypeOf(f.getName,
                  dict.getVector.getField.getFieldType.getType)
              (org.apache.arrow.vector.dictionary.DictionaryEncoder
                .decode(fv, dict), true)
          }
        }
        try {
          var r = 0
          while (r < root.getRowCount) {
            rows += org.apache.spark.sql.Row.fromSeq(decoded.map { case (v, _) =>
              if (v.isNull(r)) null
              else v.getObject(r) match {
                case t: org.apache.arrow.vector.util.Text => t.toString
                case other => other
              }
            })
            r += 1
          }
        } finally decoded.foreach { case (v, owned) => if (owned) v.close() }
      }
      // an empty stream never loads a dictionary batch: tags are utf8 in
      // this engine (IoxSchema), the same default the reference hydrates to
      fields.zipWithIndex.foreach { case (_, c) =>
        if (sparkTypes(c) == NullType) sparkTypes(c) = StringType
      }
      val sparkFields = fields.zipWithIndex.map { case (f, c) =>
        StructField(f.getName, sparkTypes(c))
      }
      (StructType(sparkFields), rows.result())
    } finally {
      reader.close(); alloc.close()
    }
  }

  /** Decode an Arrow IPC stream into (column names, rows) — the client
    * half, for tests and the demo client. Strings come back as String,
    * everything else as the vector's boxed JVM value. */
  def readStream(in: InputStream): (Seq[String], Seq[Seq[Any]]) = {
    val alloc = new RootAllocator()
    val reader = new ArrowStreamReader(in, alloc)
    try {
      val root = reader.getVectorSchemaRoot
      val cols = root.getSchema.getFields.asScala.map(_.getName).toSeq
      val rows = Seq.newBuilder[Seq[Any]]
      while (reader.loadNextBatch()) {
        val vectors = (0 until root.getFieldVectors.size).map(root.getVector)
        var r = 0
        while (r < root.getRowCount) {
          rows += vectors.map { v =>
            if (v.isNull(r)) null
            else v.getObject(r) match {
              case t: org.apache.arrow.vector.util.Text => t.toString
              case other => other
            }
          }
          r += 1
        }
      }
      (cols, rows.result())
    } finally {
      reader.close(); alloc.close()
    }
  }
}
