package graft.server

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import graft.operators.InfluxRpc

/** Protobuf wire encoding of the storage gRPC response messages — the
  * reference's `read_response` shapes (generated_types/protos/influxdata/
  * platform/storage/storage_common.proto:72-155; conversion logic
  * src/influxdb_ioxd/rpc/storage/data.rs:58-213). A hand-rolled proto3
  * writer: these messages are flat enough that a codegen stack buys
  * nothing, and the byte layout is pinned by golden tests instead of a
  * generated parser. Matches prost's encoding discipline so the bytes are
  * what the reference's tonic server would put on the wire:
  *
  *  - proto3 scalar fields at their default value are omitted
  *    (data_type = FLOAT = 0 writes nothing);
  *  - repeated numeric fields are PACKED (one length-delimited payload);
  *  - repeated bytes/string/message fields write one length-delimited
  *    element each, including empty elements;
  *  - oneof members are always written, even when the payload is empty
  *    (presence is the information).
  *
  * Only the gRPC/HTTP2 transport framing is out of scope (no tonic
  * equivalent in this environment, disclosed SURVEY §8.1); the message
  * payloads a storage client would decode are byte-exact.
  */
object StorageProto {

  // ------------------------------------------------------ proto3 writer

  final class Writer {
    private val out = new ByteArrayOutputStream()

    def varint(v: Long): Writer = {
      var x = v
      // negative varints use the full 10-byte two's-complement form
      while ((x & ~0x7fL) != 0L) {
        out.write(((x & 0x7f) | 0x80).toInt)
        x = x >>> 7
      }
      out.write(x.toInt)
      this
    }

    private def key(field: Int, wireType: Int): Writer =
      varint((field.toLong << 3) | wireType)

    /** Length-delimited field (bytes / string / submessage / packed). */
    def bytes(field: Int, b: Array[Byte]): Writer = {
      key(field, 2).varint(b.length.toLong)
      out.write(b, 0, b.length)
      this
    }

    def string(field: Int, s: String): Writer = bytes(field, s.getBytes(UTF_8))

    /** Varint scalar field, omitted at proto3 default (0). */
    def varintField(field: Int, v: Long): Writer =
      if (v == 0L) this else key(field, 0).varint(v)

    private def packed(field: Int, body: Writer => Unit): Writer = {
      val w = new Writer
      body(w)
      val payload = w.result()
      if (payload.isEmpty) this else bytes(field, payload)
    }

    def packedSfixed64(field: Int, vs: Seq[Long]): Writer =
      packed(field, w => vs.foreach(w.fixed64))

    def packedDouble(field: Int, vs: Seq[Double]): Writer =
      packed(field, w => vs.foreach(v => w.fixed64(java.lang.Double.doubleToLongBits(v))))

    def packedVarint(field: Int, vs: Seq[Long]): Writer =
      packed(field, w => vs.foreach(w.varint))

    def packedBool(field: Int, vs: Seq[Boolean]): Writer =
      packed(field, w => vs.foreach(b => w.varint(if (b) 1L else 0L)))

    private def fixed64(v: Long): Unit = {
      var i = 0
      while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }

    /** Single sfixed64 scalar field (wire type 1), omitted at proto3
      * default (0) per prost discipline. */
    def sfixed64Field(field: Int, v: Long): Writer =
      if (v == 0L) this else { key(field, 1); fixed64(v); this }

    def result(): Array[Byte] = out.toByteArray
  }

  // --------------------------------------------- storage_common messages

  /** Tag { bytes key = 1; bytes value = 2; } */
  def tag(key: Array[Byte], value: Array[Byte]): Array[Byte] = {
    val w = new Writer
    if (key.nonEmpty) w.bytes(1, key)
    if (value.nonEmpty) w.bytes(2, value)
    w.result()
  }

  /** ReadResponse.DataType enum values (storage_common.proto:84-90). */
  val Float = 0; val Integer = 1; val Unsigned = 2; val Boolean = 3; val String = 4

  /** SeriesFrame { repeated Tag tags = 1; DataType data_type = 2; } with
    * the reference's tag ordering: `_field`, `_measurement`, then the
    * series' own tags (convert_tags, data.rs:228-249). */
  def seriesFrame(measurement: String, field: String,
      seriesTags: Seq[(String, String)], dataType: Int): Array[Byte] = {
    val w = new Writer
    val all = Seq("_field" -> field, "_measurement" -> measurement) ++ seriesTags
    all.foreach { case (k, v) => w.bytes(1, tag(k.getBytes(UTF_8), v.getBytes(UTF_8))) }
    w.varintField(2, dataType.toLong)
    w.result()
  }

  /** GroupFrame { repeated bytes tag_keys = 1; repeated bytes
    * partition_key_vals = 2; } — group_description_to_frames writes the
    * plain keys, no 0x00/0xff specials (data.rs:104-121). */
  def groupFrame(tagKeys: Seq[String], partitionKeyVals: Seq[String]): Array[Byte] = {
    val w = new Writer
    tagKeys.foreach(k => w.bytes(1, k.getBytes(UTF_8)))
    partitionKeyVals.foreach(v => w.bytes(2, v.getBytes(UTF_8)))
    w.result()
  }

  /** *PointsFrame { repeated sfixed64 timestamps = 1; repeated <T>
    * values = 2; } — every variant shares the packed-timestamps layout;
    * only the values encoding differs. */
  def floatPoints(ts: Seq[Long], vs: Seq[Double]): Array[Byte] =
    new Writer().packedSfixed64(1, ts).packedDouble(2, vs).result()
  def integerPoints(ts: Seq[Long], vs: Seq[Long]): Array[Byte] =
    new Writer().packedSfixed64(1, ts).packedVarint(2, vs).result()
  def booleanPoints(ts: Seq[Long], vs: Seq[Boolean]): Array[Byte] =
    new Writer().packedSfixed64(1, ts).packedBool(2, vs).result()
  def stringPoints(ts: Seq[Long], vs: Seq[String]): Array[Byte] = {
    val w = new Writer().packedSfixed64(1, ts)
    vs.foreach(v => w.string(2, v))
    w.result()
  }

  /** Frame oneof member numbers (storage_common.proto:92-102). */
  val FrameSeries = 1; val FrameFloatPoints = 2; val FrameIntegerPoints = 3
  val FrameBooleanPoints = 5; val FrameGroup = 7

  /** Frame { oneof data { ... } } — the member is written even when its
    * payload is empty (oneof presence is explicit). */
  def frame(member: Int, payload: Array[Byte]): Array[Byte] =
    new Writer().bytes(member, payload).result()

  /** ReadResponse { repeated Frame frames = 1; } */
  def readResponse(frames: Seq[Array[Byte]]): Array[Byte] = {
    val w = new Writer
    frames.foreach(f => w.bytes(1, f))
    w.result()
  }

  /** StringValuesResponse { repeated bytes values = 1; } — the response
    * for tag_keys/tag_values/measurement_names (storage_common.proto:186).
    */
  def stringValuesResponse(values: Seq[Array[Byte]]): Array[Byte] = {
    val w = new Writer
    values.foreach(v => w.bytes(1, v))
    w.result()
  }

  /** Int64ValuesResponse { repeated int64 values = 1; } — the
    * read_series_cardinality response (storage_common_idpe.proto:23;
    * repeated scalar = packed in proto3). */
  def int64ValuesResponse(values: Seq[Long]): Array[Byte] =
    new Writer().packedVarint(1, values).result()

  /** MeasurementFieldsResponse.FieldType (storage_common.proto:224-231). */
  val FieldFloat = 0; val FieldInteger = 1; val FieldUnsigned = 2
  val FieldString = 3; val FieldBoolean = 4; val FieldUndefined = 5

  /** Engine column type (Spark `DataType.simpleString`) -> wire FieldType.
    * u64 fields ride as decimal(20,0) per the LP ingest mapping. */
  def fieldTypeOf(simpleType: String): Int = simpleType match {
    case "double" | "float" => FieldFloat
    case "bigint" | "int" | "smallint" | "tinyint" => FieldInteger
    case s if s.startsWith("decimal") => FieldUnsigned
    case "string" => FieldString
    case "boolean" => FieldBoolean
    case _ => FieldUndefined
  }

  /** MeasurementFieldsResponse { repeated MessageField fields = 1; } with
    * MessageField { string key = 1; FieldType type = 2; sfixed64
    * timestamp = 3; } (storage_common.proto:222-240; conversion
    * data.rs' fieldlist path). `fields` carries (name, FieldType,
    * last-timestamp ns). */
  def measurementFieldsResponse(fields: Seq[(String, Int, Long)]): Array[Byte] = {
    val w = new Writer
    fields.foreach { case (name, ftype, ts) =>
      val mf = new Writer().string(1, name)
      mf.varintField(2, ftype.toLong)
      mf.sfixed64Field(3, ts)
      w.bytes(1, mf.result())
    }
    w.result()
  }

  /** tag_keys_to_byte_vecs (data.rs:45-56): measurement rides as the
    * 0x00 key, field as 0xff, first and last in sort order. */
  def tagKeysByteVecs(tagKeys: Seq[String]): Seq[Array[Byte]] =
    Array[Byte](0) +: tagKeys.map(_.getBytes(UTF_8)) :+ Array[Byte](-1)

  /** CapabilitiesResponse { map<string, Capability> caps = 1; } with the
    * reference's hardcoded support matrix (service.rs:567-600): map
    * entries are key=1/value=2 submessages, emitted in sorted key order
    * for deterministic bytes. */
  def capabilitiesResponse(
      caps: Map[String, Seq[String]] = DefaultCapabilities): Array[Byte] = {
    val w = new Writer
    caps.toSeq.sortBy(_._1).foreach { case (name, features) =>
      val cap = new Writer
      features.foreach(f => cap.string(1, f))
      val entry = new Writer().string(1, name).bytes(2, cap.result())
      w.bytes(1, entry.result())
    }
    w.result()
  }

  /** The reference's advertised pushdown support (service.rs:577-600,
    * pinned by its test_storage_rpc_capabilities). */
  val DefaultCapabilities: Map[String, Seq[String]] = Map(
    "WindowAggregate" -> Seq("Count", "Sum", "Min", "Max", "Mean"),
    "Group" -> Seq("First", "Last", "Min", "Max"))

  // ------------------------------------------ InfluxRpc.Frame -> bytes

  /** Encode one engine frame row. Series values flow through the engine
    * as doubles (the series converters cast them), so points land as
    * FloatPointsFrame, matching the reference's float path; the series
    * frame's synthetic `_measurement`/`_field` tags are re-split into
    * the reference's explicit ordering. */
  def encodeFrame(f: InfluxRpc.Frame): Array[Byte] = f.frameType match {
    case "series" =>
      val measurement = f.tags.getOrElse("_measurement", "")
      val field = f.tags.getOrElse("_field", "")
      val rest = (f.tags - "_measurement" - "_field").toSeq.sortBy(_._1)
      frame(FrameSeries, seriesFrame(measurement, field, rest, Float))
    case "points" =>
      frame(FrameFloatPoints, floatPoints(f.timestamps, f.values))
    case "group" =>
      frame(FrameGroup, groupFrame(f.tagKeys, f.partitionKeyVals))
    case other =>
      throw new IllegalArgumentException(s"unknown frame type: $other")
  }

  /** Encode a full frame stream as one ReadResponse message. */
  def encodeReadResponse(frames: Seq[InfluxRpc.Frame]): Array[Byte] =
    readResponse(frames.map(encodeFrame))
}
