package graft.server

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.ByteBuffer
import java.nio.channels.Channels
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.arrow.vector.ipc.{ReadChannel, WriteChannel}
import org.apache.arrow.vector.ipc.message.MessageSerializer

/** Arrow Flight DoGet over [[GrpcServer]]'s real HTTP/2 framing — the
  * actual `arrow.flight.protocol.FlightService` wire mapping (reference:
  * src/influxdb_ioxd/rpc/flight.rs behind tonic): the request is a
  * Flight `Ticket { bytes ticket = 1 }` carrying the same ReadInfo JSON
  * the HTTP bridge accepts, and each response message is a `FlightData`
  * protobuf — `data_header` (2) holding one Arrow IPC flatbuffer Message
  * (schema, then record batches) and `data_body` (1000, Flight's
  * historical high-tag optimization) holding that message's buffer body.
  * A Flight client reassembles the IPC stream from exactly these frames;
  * [[flightDataToIpc]] is that client half, used by the spec to prove
  * byte-level round-tripping.
  */
object FlightGrpc {
  val ServicePrefix = "/arrow.flight.protocol.FlightService/"

  def dispatcher(facade: HttpFacade)
      : (String, Array[Byte]) => Either[String, Iterator[Array[Byte]]] =
    (path, req) =>
      try route(facade, path, req)
      catch {
        case NonFatal(e) =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName))
      }

  private def route(f: HttpFacade, path: String, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] =
    if (!path.startsWith(ServicePrefix)) Left(s"unknown service: $path")
    else path.stripPrefix(ServicePrefix) match {
      case "DoGet" => doGet(f, raw)
      case other => Left(s"unimplemented method: $other")
    }

  private def doGet(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    // Ticket { bytes ticket = 1 }
    val r = new StorageProtoReader.Reader(raw)
    var ticket = Array.emptyByteArray
    while (r.hasMore) r.key() match {
      case (1, 2) => ticket = r.bytesField()
      case (_, wt) => r.skip(wt)
    }
    HttpFacade.parseTicket(new String(ticket, UTF_8)) match {
      case None => Left("invalid ticket: expected " +
        """{"database_name": ..., "sql_query": ...}""")
      case Some((db, sql)) =>
        // existence, not emptiness: a freshly created or drop-emptied
        // database is real — queries over it should plan (and fail with
        // table-not-found where warranted), matching the HTTP bridge
        if (!f.hasDatabase(db)) Left(s"database not found: $db")
        else
          f.planSql(db, sql).map { df =>
            val bos = new ByteArrayOutputStream()
            ArrowIpc.writeStream(df, bos)
            ipcToFlightData(bos.toByteArray).iterator
          }
    }
  }

  /** Split an Arrow IPC stream into FlightData protobuf messages — the
    * Flight wire mapping: one FlightData per IPC message, metadata
    * flatbuffer in `data_header`, buffer body in `data_body`. */
  def ipcToFlightData(ipc: Array[Byte]): Seq[Array[Byte]] = {
    val ch = new ReadChannel(Channels.newChannel(new ByteArrayInputStream(ipc)))
    val out = Seq.newBuilder[Array[Byte]]
    var done = false
    while (!done) {
      val m = MessageSerializer.readMessage(ch)
      if (m == null) done = true
      else {
        val mb = m.getMessageBuffer.duplicate()
        val header = new Array[Byte](mb.remaining()); mb.get(header)
        val bodyLen = m.getMessageBodyLength
        val body = new Array[Byte](bodyLen.toInt)
        if (bodyLen > 0) {
          val bb = ByteBuffer.wrap(body)
          if (ch.readFully(bb) != bodyLen)
            throw new IllegalStateException("truncated IPC message body")
        }
        val w = new StorageProto.Writer
        w.bytes(2, header)
        if (body.nonEmpty) w.bytes(1000, body)
        out += w.result()
      }
    }
    out.result()
  }

  /** Client half: reassemble the Arrow IPC stream from FlightData
    * messages (metadata re-framed with the continuation token + length
    * prefix + 8-byte alignment, body appended verbatim, EOS marker at
    * the end). Feeding the result to [[ArrowIpc.readStream]] proves the
    * server mapping is the real Flight framing. */
  def flightDataToIpc(messages: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val wch = new WriteChannel(Channels.newChannel(bos))
    messages.foreach { m =>
      var header = Array.emptyByteArray
      var body = Array.emptyByteArray
      val r = new StorageProtoReader.Reader(m)
      while (r.hasMore) r.key() match {
        case (2, 2) => header = r.bytesField()
        case (1000, 2) => body = r.bytesField()
        case (_, wt) => r.skip(wt)
      }
      MessageSerializer.writeMessageBuffer(wch, header.length,
        ByteBuffer.wrap(header))
      if (body.nonEmpty) wch.write(ByteBuffer.wrap(body))
    }
    // end-of-stream: continuation token + zero length
    wch.write(Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0))
    bos.toByteArray
  }
}
