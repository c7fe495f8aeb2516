package graft

import graft.server.{GrpcClient, HttpFacade, IoxGrpc, ManagementGrpc, ManagementProto => P, StorageProto, StorageProtoReader => R}
import graft.streaming.DatabaseRules

/** The management API over gRPC for the specs: one call per method, its
  * response decoded into the facade's own rows. Each call returns the
  * grpc-status with what it decoded. */
object ManagementCalls {
  val NotFound = 5
  val InvalidArgument = 3

  private val M = ManagementGrpc.ManagementPrefix
  private val O = ManagementGrpc.OperationsPrefix

  /** A decoded `google.longrunning.Operation`: its name, the job in its
    * metadata (with the chunk id of a close), and whether it is done or
    * cancelled. */
  final case class Op(name: String, job: String, chunkId: Option[Long],
      done: Boolean, cancelled: Boolean)

  private def msg(f: StorageProto.Writer => Unit): Array[Byte] = {
    val w = new StorageProto.Writer; f(w); w.result()
  }

  /** `body` with the facade's gRPC services listening on the port it gets. */
  def withGrpc[A](facade: HttpFacade)(body: Int => A): A = {
    val grpc = IoxGrpc.start(facade)
    try body(grpc.boundPort) finally grpc.stop()
  }

  /** The `field` sub-messages of `bytes`, in order. */
  private def subs(bytes: Array[Byte], field: Int): Seq[Array[Byte]] = {
    val r = new R.Reader(bytes)
    val out = Seq.newBuilder[Array[Byte]]
    while (r.hasMore) r.key() match {
      case (`field`, 2) => out += r.bytesField()
      case (_, wt) => r.skip(wt)
    }
    out.result()
  }

  /** The one response message of a unary call: empty when none came. */
  private def call(port: Int, path: String, req: Array[Byte]): (Int, Array[Byte]) = {
    val (status, resp) = GrpcClient.call(port, path, req)
    (status, resp.headOption.getOrElse(Array.emptyByteArray))
  }

  private def dbReq(db: String): Array[Byte] = msg(_.string(1, db))

  private def decodeChunk(b: Array[Byte]): HttpFacade.ChunkRow = {
    val r = new R.Reader(b)
    var key = ""; var id = 0; var storage = 0; var table = ""; var rows = 0L
    while (r.hasMore) r.key() match {
      case (1, 2) => key = r.stringField()
      case (2, 0) => id = r.varint().toInt
      case (3, 0) => storage = r.varint().toInt
      case (8, 2) => table = r.stringField()
      case (9, 0) => rows = r.varint()
      case (_, wt) => r.skip(wt)
    }
    val stage = Seq("OpenMutableBuffer", "ClosedMutableBuffer", "ReadBuffer",
      "ReadBufferAndObjectStore", "ObjectStoreOnly").find(P.storageEnum(_) == storage)
    HttpFacade.ChunkRow(key, table, id, stage.getOrElse(s"unknown $storage"), rows)
  }

  private def decodeOp(b: Array[Byte]): Op = {
    val job = subs(b, 2).flatMap(any => subs(any, 2)).headOption
      .getOrElse(Array.emptyByteArray)
    val (kind, chunkId) =
      if (subs(job, 7).nonEmpty) ("CloseChunk", Some(P.readVarint(subs(job, 7).head, 3)))
      else if (subs(job, 9).nonEmpty) ("WipePreservedCatalog", None)
      else ("Dummy", None)
    Op(P.readString(b, 1), kind, chunkId, P.readVarint(b, 3) == 1L, subs(b, 4).nonEmpty)
  }

  def createDatabase(port: Int, rules: DatabaseRules): Int =
    call(port, M + "CreateDatabase", msg(_.bytes(1, P.encodeDatabaseRules(rules))))._1

  /** UpdateDatabase with the DatabaseRules message `rules` as it is. */
  def updateDatabase(port: Int, rules: Array[Byte]): Int =
    call(port, M + "UpdateDatabase", msg(_.bytes(1, rules)))._1

  def updateDatabase(port: Int, rules: DatabaseRules): Int =
    updateDatabase(port, P.encodeDatabaseRules(rules))

  def getDatabase(port: Int, db: String): (Int, Option[DatabaseRules]) = {
    val (s, resp) = call(port, M + "GetDatabase", dbReq(db))
    (s, subs(resp, 1).headOption.map(b =>
      P.decodeDatabaseRules(b).fold(e => throw new IllegalStateException(e), identity)))
  }

  def listDatabases(port: Int): Seq[String] = {
    val r = new R.Reader(call(port, M + "ListDatabases", Array.emptyByteArray)._2)
    val out = Seq.newBuilder[String]
    while (r.hasMore) r.key() match {
      case (1, 2) => out += r.stringField()
      case (_, wt) => r.skip(wt)
    }
    out.result()
  }

  def listChunks(port: Int, db: String): (Int, Seq[HttpFacade.ChunkRow]) = {
    val (s, resp) = call(port, M + "ListChunks", dbReq(db))
    (s, subs(resp, 1).map(decodeChunk))
  }

  def listPartitions(port: Int, db: String): (Int, Seq[String]) = {
    val (s, resp) = call(port, M + "ListPartitions", dbReq(db))
    (s, subs(resp, 1).map(P.readString(_, 1)))
  }

  /** GetPartition: the key of the partition the response carries, if any. */
  def getPartition(port: Int, db: String, key: String): (Int, Option[String]) = {
    val (s, resp) = call(port, M + "GetPartition",
      msg { w => w.string(1, db); w.string(2, key) })
    (s, subs(resp, 1).headOption.map(P.readString(_, 1)))
  }

  def listPartitionChunks(port: Int, db: String,
      key: String): (Int, Seq[HttpFacade.ChunkRow]) = {
    val (s, resp) = call(port, M + "ListPartitionChunks",
      msg { w => w.string(1, db); w.string(2, key) })
    (s, subs(resp, 1).map(decodeChunk))
  }

  def newPartitionChunk(port: Int, db: String, key: String, table: String): Int =
    call(port, M + "NewPartitionChunk",
      msg { w => w.string(1, db); w.string(2, key); w.string(3, table) })._1

  def closePartitionChunk(port: Int, db: String, key: String, table: String,
      chunkId: Int): (Int, Option[Op]) = {
    val (s, resp) = call(port, M + "ClosePartitionChunk", msg { w =>
      w.string(1, db); w.string(2, key); w.varintField(3, chunkId.toLong)
      w.string(4, table)
    })
    (s, subs(resp, 1).headOption.map(decodeOp))
  }

  def listOperations(port: Int): Seq[Op] =
    subs(call(port, O + "ListOperations", Array.emptyByteArray)._2, 1).map(decodeOp)

  def getOperation(port: Int, name: String): (Int, Option[Op]) = {
    val (s, resp) = call(port, O + "GetOperation", msg(_.string(1, name)))
    (s, Option.when(s == 0)(decodeOp(resp)))
  }
}
