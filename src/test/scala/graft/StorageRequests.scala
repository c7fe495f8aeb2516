package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

import graft.server.{GrpcClient, HttpFacade, IoxGrpc, StorageGrpc, StorageProto, StorageProtoReader => R}

/** Storage request protobuf builders (storage_common.proto messages,
  * predicate.proto Node trees) and a facade serving the gRPC surface,
  * for the specs that drive [[StorageGrpc]]. */
object StorageRequests {

  /** The org and bucket ids [[source]] carries, and the database they
    * name (service.rs get_database_name: `{org:016x}_{bucket:016x}`). */
  val Org = "00000000000000ab"
  val Bucket = "00000000000000cd"
  val Db = s"${Org}_$Bucket"

  def msg(f: StorageProto.Writer => Unit): Array[Byte] = {
    val w = new StorageProto.Writer
    f(w); w.result()
  }

  // predicate.proto Node builders (Writer omits zero enums, which is
  // exactly what the decoder must tolerate: EQUAL=0, AND=0)
  def tagRef(b: Array[Byte]): Array[Byte] = msg(w => w.varintField(1, 3).bytes(9, b))
  def tagRef(key: String): Array[Byte] = tagRef(key.getBytes(UTF_8))
  def fieldRef(name: String): Array[Byte] = msg(w => w.varintField(1, 5).string(10, name))
  def litStr(s: String): Array[Byte] = msg(w => w.varintField(1, 4).string(3, s))
  def litRegex(s: String): Array[Byte] = msg(w => w.varintField(1, 4).string(8, s))
  def litFloat(d: Double): Array[Byte] = msg(w => w.varintField(1, 4)
    .sfixed64Field(7, java.lang.Double.doubleToLongBits(d)))
  def cmp(op: Int, l: Array[Byte], r: Array[Byte]): Array[Byte] =
    msg(w => w.varintField(1, 1).bytes(2, l).bytes(2, r).varintField(12, op.toLong))
  def logical(op: Int, children: Array[Byte]*): Array[Byte] = msg { w =>
    w.varintField(1, 0)
    children.foreach(c => w.bytes(2, c))
    w.varintField(11, op.toLong)
  }
  def predicate(root: Array[Byte]): Array[Byte] = msg(w => w.bytes(1, root))
  def range(start: Long, stop: Long): Array[Byte] =
    msg(w => w.varintField(1, start).varintField(2, stop))

  val measurementSentinel: Array[Byte] = Array(0x00.toByte)
  val fieldSentinel: Array[Byte] = Array(0xff.toByte)

  /** `_measurement = name`: how a storage client names the table. */
  def measurementIs(name: String): Array[Byte] =
    cmp(R.Cmp.Equal, tagRef(measurementSentinel), litStr(name))

  /** The Any-wrapped ReadSource a request's field 1 carries directly. */
  def readSource(org: Long, bucket: Long): Array[Byte] =
    msg(s => s.string(1, "type.googleapis.com/ReadSource")
      .bytes(2, msg(rs => rs.varintField(1, org).varintField(2, bucket))))

  /** The read_source of [[Db]]. */
  val source: Array[Byte] = readSource(0xab, 0xcd)

  /** Runs `body` with the facade and the port of a gRPC server carrying
    * the full surface ([[IoxGrpc]]), after writing `lp` into [[Db]]. */
  def withStorageGrpc[A](spark: SparkSession, lp: String = "")(
      body: (HttpFacade, Int) => A): A = {
    val facade = new HttpFacade(spark, port = 0, clockNs = () => 42L)
    try {
      if (lp.nonEmpty) {
        val status = HttpFacade.postWrite(facade.boundPort, Org, Bucket, lp)
        require(status == 204, s"write failed with HTTP $status")
      }
      val grpc = IoxGrpc.start(facade)
      try body(facade, grpc.boundPort) finally grpc.stop()
    } finally facade.stop()
  }

  /** One storage RPC: its grpc-status and response messages. */
  def call(port: Int, method: String, req: Array[Byte]): (Int, Seq[Array[Byte]]) =
    GrpcClient.call(port, StorageGrpc.ServicePrefix + method, req)

  /** The values of a StringValuesResponse. */
  def stringValues(resp: Array[Byte]): Seq[String] = {
    val r = new R.Reader(resp)
    val out = Seq.newBuilder[String]
    while (r.hasMore) r.key() match {
      case (1, 2) => out += new String(r.bytesField(), UTF_8)
      case (_, wt) => r.skip(wt)
    }
    out.result()
  }

  /** The frames of a read's ReadResponse messages, in order, as (oneof
    * member, frame body): 1 series, 2 float points, 7 group. */
  def frames(resp: Seq[Array[Byte]]): Seq[(Int, Array[Byte])] =
    resp.flatMap { m =>
      val r = new R.Reader(m)
      val out = Seq.newBuilder[(Int, Array[Byte])]
      while (r.hasMore) r.key() match {
        case (1, 2) =>
          val f = r.sub()
          val (member, _) = f.key()
          out += member -> f.bytesField()
        case (_, wt) => r.skip(wt)
      }
      out.result()
    }
}
