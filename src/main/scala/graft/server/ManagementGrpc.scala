package graft.server

import scala.util.control.NonFatal

/** The management-plane gRPC services over [[GrpcServer]]'s real HTTP/2
  * framing — `influxdata.iox.management.v1.ManagementService`
  * (reference: src/influxdb_ioxd/rpc/management.rs:50-472),
  * `google.longrunning.Operations` (rpc/operations.rs:129-205) and
  * `influxdata.iox.write.v1.WriteService` (rpc/write.rs:18-72) — the
  * only transport of the management API, wired to the facade's state,
  * so a database created here is queryable over HTTP.
  *
  * Error codes follow the reference's tonic statuses: NOT_FOUND(5) for
  * unknown databases/partitions/operations, ALREADY_EXISTS(6) for
  * create-database collisions and wipe-of-active-database,
  * INVALID_ARGUMENT(3) for field violations, UNIMPLEMENTED(12) for
  * DeleteOperation (rpc/operations.rs:162-169 — the reference does not
  * support operation deletion). WriteEntry accepts the flatbuffers
  * `Entry` format ([[EntryFlat]], entry.rs:749-944) and lands batches in
  * the same store as every other write path.
  */
/** The full gRPC route surface on one [[GrpcServer]] — storage, Arrow
  * Flight, management, operations and write services multiplexed by
  * `:path`, exactly the reference's single tonic endpoint
  * (src/influxdb_ioxd/rpc.rs add_service stanza). */
object IoxGrpc {
  def dispatcher(facade: HttpFacade)
      : (String, Array[Byte]) => Either[String, Iterator[Array[Byte]]] = {
    val storage = StorageGrpc.dispatcher(facade)
    val flight = FlightGrpc.dispatcher(facade)
    val mgmt = ManagementGrpc.dispatcher(facade)
    (path, req) =>
      if (path.startsWith(FlightGrpc.ServicePrefix)) flight(path, req)
      else if (ManagementGrpc.handles(path)) mgmt(path, req)
      else storage(path, req)
  }

  def start(facade: HttpFacade, port: Int = 0): GrpcServer =
    new GrpcServer(dispatcher(facade), port)
}

object ManagementGrpc {
  val ManagementPrefix = "/influxdata.iox.management.v1.ManagementService/"
  val OperationsPrefix = "/google.longrunning.Operations/"
  val WritePrefix = "/influxdata.iox.write.v1.WriteService/"
  val TestingPrefix = "/influxdata.platform.storage.IOxTesting/"

  private val P = ManagementProto

  private def notFound(msg: String) = Left(GrpcServer.statusError(5, msg))
  private def alreadyExists(msg: String) = Left(GrpcServer.statusError(6, msg))
  private def unimplemented(msg: String) = Left(GrpcServer.statusError(12, msg))
  private def one(bytes: Array[Byte]) = Right(Iterator.single(bytes))
  private def build(f: StorageProto.Writer => Unit): Array[Byte] = {
    val w = new StorageProto.Writer; f(w); w.result()
  }
  private def empty = one(Array.emptyByteArray)

  def dispatcher(facade: HttpFacade)
      : (String, Array[Byte]) => Either[String, Iterator[Array[Byte]]] =
    (path, req) =>
      try route(facade, path, req)
      catch {
        case NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName))
      }

  /** True when [[dispatcher]] serves this `:path`. */
  def handles(path: String): Boolean =
    path.startsWith(ManagementPrefix) || path.startsWith(OperationsPrefix) ||
      path.startsWith(WritePrefix) || path.startsWith(TestingPrefix)

  private def route(f: HttpFacade, path: String, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] =
    if (path.startsWith(ManagementPrefix))
      management(f, path.stripPrefix(ManagementPrefix), raw)
    else if (path.startsWith(OperationsPrefix))
      operations(f, path.stripPrefix(OperationsPrefix), raw)
    else if (path.startsWith(WritePrefix))
      write(f, path.stripPrefix(WritePrefix), raw)
    else if (path.startsWith(TestingPrefix))
      testing(path.stripPrefix(TestingPrefix))
    else Left(s"unknown service: $path")

  // --------------------------------------------- IOxTesting (test.proto)

  /** The reference's debug/testing service (rpc/testing.rs): TestError
    * deliberately panics the handler ("This is a test panic",
    * testing.rs:16), which tonic surfaces to the client as an aborted
    * RPC. A JVM service must not kill the process for a test hook, so
    * the client-observable contract is kept instead: the RPC fails with
    * INTERNAL carrying the reference's panic text. */
  private def testing(method: String)
      : Either[String, Iterator[Array[Byte]]] = method match {
    case "TestError" =>
      Left(GrpcServer.statusError(13, "This is a test panic"))
    case other => unimplemented(s"IOxTesting method: $other")
  }

  // ------------------------------------------------- ManagementService

  private def management(f: HttpFacade, method: String, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = method match {
    case "GetServerId" =>
      f.serverId match {
        case Some(id) => one(P.serverIdResponse(id))
        case None => notFound("server id not set")
      }
    case "UpdateServerId" =>
      f.setServerId(P.readVarint(raw, 1).toInt) match {
        case Right(()) => empty
        case Left(e) => Left(e)
      }
    case "SetServingReadiness" =>
      f.setServingReadiness(P.readVarint(raw, 1) != 0); empty
    case "GetServerStatus" =>
      one(P.serverStatusResponse(f.databaseNames))
    case "ListDatabases" =>
      one(build(w => f.databaseNames.foreach(w.string(1, _))))
    case "GetDatabase" =>
      val name = P.readString(raw, 1)
      f.storedRules(name) match {
        case Some(r) =>
          one(build(_.bytes(1, P.encodeDatabaseRules(r))))
        case None => notFound(s"database not found: $name")
      }
    case "CreateDatabase" =>
      P.readRules(raw).flatMap(r => f.createDatabase(r) match {
        case Right(()) => Right(())
        case Left(e) => alreadyExists(e)
      }).map(_ => Iterator.single(Array.emptyByteArray))
    case "UpdateDatabase" =>
      P.readRules(raw).flatMap(r => f.updateRules(r) match {
        case Right(updated) =>
          one(build(_.bytes(1, P.encodeDatabaseRules(updated))))
        case Left(e) => notFound(e)
      })
    case "ListChunks" =>
      requireDb(f, P.readString(raw, 1)).map(db =>
        Iterator.single(P.chunksResponse(f.chunkRows(db))))
    case "ListRemotes" =>
      one(P.remotesResponse(f.remotesSorted))
    case "UpdateRemote" =>
      P.readRemote(raw).map { case (id, conn) =>
        f.updateRemote(id, conn); Iterator.single(Array.emptyByteArray)
      }
    case "DeleteRemote" =>
      val id = P.readVarint(raw, 1).toInt
      if (id == 0) Left("id is required")
      else if (f.deleteRemote(id)) empty
      else notFound(s"remote $id not found")
    case "CreateDummyJob" =>
      one(P.operationWrapper(f.createDummyJob(P.readNanos(raw))))
    case "ListPartitions" =>
      requireDb(f, P.readString(raw, 1)).map(db =>
        Iterator.single(P.partitionsResponse(f.partitionKeysOf(db))))
    case "GetPartition" =>
      requireDb(f, P.readString(raw, 1)).flatMap { db =>
        val key = P.readString(raw, 2)
        // management.rs:281-290: an absent partition is an empty
        // response, not an error — the `partition` field is simply unset
        if (f.partitionExists(db, key)) one(P.partitionResponse(key))
        else one(Array.emptyByteArray)
      }
    case "ListPartitionChunks" =>
      requireDb(f, P.readString(raw, 1)).map { db =>
        Iterator.single(P.chunksResponse(
          f.partitionChunkRows(db, P.readString(raw, 2))))
      }
    case "NewPartitionChunk" =>
      requireDb(f, P.readString(raw, 1)).flatMap { db =>
        val (_, key, table, _) = P.readChunkRef(raw, tableField = 3)
        if (f.rolloverPartition(db, key, table)) empty
        else notFound(s"partition not found: $key (table $table)")
      }
    case "ClosePartitionChunk" =>
      requireDb(f, P.readString(raw, 1)).flatMap { db =>
        val (_, key, table, chunkId) = P.readChunkRef(raw, tableField = 4)
        f.closeChunkAction(db, key, table, chunkId)
          .flatMap(rec => one(P.operationWrapper(rec)))
      }
    case "UnloadPartitionChunk" =>
      requireDb(f, P.readString(raw, 1)).flatMap { db =>
        val (_, key, table, chunkId) = P.readChunkRef(raw, tableField = 4)
        f.unloadChunkAction(db, key, table, chunkId).flatMap(_ => empty)
      }
    case "WipePreservedCatalog" =>
      f.wipePreservedCatalog(P.readString(raw, 1)) match {
        case Right(rec) => one(P.operationWrapper(rec))
        case Left(e) => alreadyExists(e)
      }
    case other => unimplemented(s"unimplemented method: $other")
  }

  private def requireDb(f: HttpFacade, db: String): Either[String, String] =
    if (db.isEmpty) Left("db_name is required")
    else if (f.hasDatabase(db)) Right(db)
    else notFound(s"database not found: $db").map(_ => db)

  // ------------------------------------------------ Operations service

  private def operations(f: HttpFacade, method: String, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = method match {
    case "ListOperations" =>
      one(P.listOperationsResponse(f.operationsList))
    case "GetOperation" | "WaitOperation" =>
      // every facade job is terminal, so Wait returns immediately —
      // the degenerate case of rpc/operations.rs:183-204
      withOperation(f, raw)(rec => one(P.encodeOperation(rec)))
    case "CancelOperation" =>
      withOperation(f, raw) { rec =>
        f.cancelOperation(rec.id); empty
      }
    case "DeleteOperation" =>
      unimplemented("IOx does not support operation deletion")
    case other => unimplemented(s"unimplemented method: $other")
  }

  private def withOperation(f: HttpFacade, raw: Array[Byte])(
      body: HttpFacade.OpRecord => Either[String, Iterator[Array[Byte]]])
      : Either[String, Iterator[Array[Byte]]] = {
    val name = P.readString(raw, 1)
    name.toLongOption match {
      case None => Left(s"name is not an operation id: $name")
      case Some(id) => f.operationGet(id) match {
        case Some(rec) => body(rec)
        case None => notFound(s"operation $name not found")
      }
    }
  }

  // ----------------------------------------------------- Write service

  private def write(f: HttpFacade, method: String, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = method match {
    case "Write" =>
      val (db, lp) = P.readWriteRequest(raw)
      if (db.isEmpty) Left("db_name is required")
      else f.writeLines(db, lp, lp.getBytes("UTF-8").length) match {
        case Right(lines) => one(build(_.varintField(1, lines)))
        case Left(e) => Left(s"Invalid Line Protocol: $e")
      }
    case "WriteEntry" =>
      // WriteEntryRequest { db_name = 1, entry (flatbuffers bytes) = 2 }
      // — one pass over the (entry-dominated) request buffer
      val r = new StorageProtoReader.Reader(raw)
      var db = ""
      var entryBytes: Array[Byte] = Array.emptyByteArray
      while (r.hasMore) r.key() match {
        case (1, 2) => db = r.stringField()
        case (2, 2) => entryBytes = r.bytesField()
        case (_, wt) => r.skip(wt)
      }
      if (db.isEmpty) Left("db_name is required")
      else if (entryBytes.isEmpty) Left("entry is required")
      else EntryFlat.decode(entryBytes).flatMap { entry =>
        if (entry.deletes.nonEmpty)
          unimplemented("delete entries are not accepted on the write path")
        else {
          val tables = entry.partitionWrites.flatMap(_.tables)
          if (tables.isEmpty) Left("entry carries no table batches")
          else {
            f.writeBatches(db, tables, entryBytes.length)
            empty
          }
        }
      }
    case other => unimplemented(s"unimplemented method: $other")
  }
}
