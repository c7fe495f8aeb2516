package graft.server

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame

import graft.core.{ResultRows, RpcPredicate}
import graft.operators.InfluxRpc
import graft.server.{StorageProtoReader => R}

/** The storage gRPC service over [[GrpcServer]]'s real HTTP/2 framing —
  * `influxdata.platform.storage.Storage`, the one transport for the
  * storage API (reference: src/influxdb_ioxd/rpc/storage/service.rs
  * behind tonic). Requests are protobuf; database resolution is the
  * read_source org/bucket rendering, table selection the
  * `\x00 _measurement` predicate sentinel (or the measurement field of
  * the Measurement* requests) — exactly what reference storage clients
  * put on the wire.
  *
  * The FULL service.rs route surface is wired: Capabilities, ReadFilter /
  * ReadGroup / ReadWindowAggregate (server-streaming ReadResponse, planned
  * by the facade's planning cores and converted to frames on the driver
  * as the rows stream in), TagKeys, TagValues (incl. the
  * `_measurement`/`_field` sentinel keys), MeasurementNames,
  * MeasurementTagKeys, MeasurementTagValues, MeasurementFields,
  * ReadSeriesCardinality (exact; service.rs:560 declares it
  * unimplemented), and Offsets (empty response, service.rs:794).
  * TagKeys, TagValues, MeasurementNames, MeasurementTagKeys and
  * MeasurementTagValues answer from the chunk summaries with no Spark job
  * when the predicate allows, and scan otherwise ([[ChunkSummaries]]).
  *
  * Statuses follow the reference's: an unknown database or measurement
  * is NOT_FOUND (5; service.rs maps DatabaseNotFound to
  * `Status::not_found`), so a mistyped name never reads as "exists and
  * is empty"; a malformed request is INVALID_ARGUMENT (3).
  */
object StorageGrpc {
  val ServicePrefix = "/influxdata.platform.storage.Storage/"

  /** Aggregate.AggregateType enum (storage_common.proto:56-66). A code
    * outside 0-7 is rejected like the reference's AggregateType
    * conversion (expr.rs convert_aggregate), not degraded to raw. */
  private val aggKinds: Map[Int, InfluxRpc.AggKind] = {
    import InfluxRpc.AggKind._
    Map(0 -> None, 1 -> Sum, 2 -> Count, 3 -> Min, 4 -> Max, 5 -> First,
      6 -> Last, 7 -> Mean)
  }

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
      case "Capabilities" => Right(one(StorageProto.capabilitiesResponse()))
      case "ReadFilter" => readFilter(f, raw)
      case "ReadGroup" => readGroup(f, raw)
      case "ReadWindowAggregate" => readWindowAggregate(f, raw)
      case "TagKeys" => tagKeys(f, raw)
      case "TagValues" => tagValues(f, raw)
      case "MeasurementNames" => measurementNames(f, raw)
      case "MeasurementTagKeys" => measurementTagKeys(f, raw)
      case "MeasurementTagValues" => measurementTagValues(f, raw)
      case "MeasurementFields" => measurementFields(f, raw)
      case "ReadSeriesCardinality" => readSeriesCardinality(f, raw)
      case "Offsets" =>
        // service.rs:794 returns an empty OffsetsResponse; mirror that
        Right(one(Array.emptyByteArray))
      case other => Left(s"unimplemented method: $other")
    }

  private def one(bytes: Array[Byte]): Iterator[Array[Byte]] =
    Iterator.single(bytes)

  private def strings(vs: Seq[String]): Iterator[Array[Byte]] =
    one(StorageProto.stringValuesResponse(vs.map(_.getBytes(UTF_8))))

  /** The request's predicate, its `_measurement` sentinel and its
    * database, which must exist. */
  private def parse(f: HttpFacade, req: R.StorageRequest)
      : Either[String, (RpcPredicate, Option[String], String)] =
    R.toRpcPredicate(req).flatMap { case (pred, meas) =>
      req.databaseName match {
        case Some(db) if f.hasDatabase(db) => Right((pred, meas, db))
        case Some(db) =>
          Left(GrpcServer.statusError(5, s"database not found: $db"))
        case None => Left("request needs read_source")
      }
    }

  private def table(meas: Option[String]): Either[String, String] =
    meas.toRight("request needs a measurement")

  private def view(f: HttpFacade, db: String, t: String): Either[String, DataFrame] =
    f.measurementView(db, t).toRight(f.noTable(db, t))

  private def measurementNames(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] =
    parse(f, R.decodeReadFilter(raw)).map { case (pred, _, db) => // same layout
      strings(f.planMeasurementNames(db, pred))
    }

  private def measurementTagKeys(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val (req, meas) = R.decodeMeasurementScoped(raw)
    parse(f, req).flatMap { case (pred, sentinel, db) =>
      table(meas.orElse(sentinel)).flatMap(t =>
        f.planTagKeys(db, Some(t), pred).toRight(f.noTable(db, t))).map(ks =>
        one(StorageProto.stringValuesResponse(StorageProto.tagKeysByteVecs(ks))))
    }
  }

  private def measurementTagValues(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val (req, meas) = R.decodeMeasurementTagValues(raw)
    parse(f, req).flatMap { case (pred, sentinel, db) =>
      for {
        t <- table(meas.orElse(sentinel))
        tk <- req.tagKey.toRight("request needs tag_key")
        vs <- (R.renderTagKey(tk) match {
          case "_measurement" => Option.when(f.measurements(db).contains(t))(Seq(t))
          case k => f.planTagValues(db, Some(t), k, pred)
        }).toRight(f.noTable(db, t))
      } yield strings(vs)
    }
  }

  private def measurementFields(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val (req, meas) = R.decodeMeasurementScoped(raw)
    parse(f, req).flatMap { case (pred, sentinel, db) =>
      table(meas.orElse(sentinel)).flatMap(view(f, db, _)).map { df =>
        val fields = ResultRows.collect(InfluxRpc.fieldColumns(df, pred))
          .map(r => (r.getString(0),
            StorageProto.fieldTypeOf(r.getString(1)), r.getLong(2)))
        one(StorageProto.measurementFieldsResponse(fields))
      }
    }
  }

  private def readSeriesCardinality(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] =
    parse(f, R.decodeReadFilter(raw)).flatMap { case (pred, meas, db) => // same layout
      val n = meas match {
        case Some(t) =>
          view(f, db, t).map(InfluxRpc.seriesCardinality(_, pred, exact = true))
        case None => Right(f.dbTables(db).values
          .map(InfluxRpc.seriesCardinality(_, pred, exact = true)).sum)
      }
      n.map(v => one(StorageProto.int64ValuesResponse(Seq(v))))
    }

  /** One ReadResponse message per frame, converted on the driver as the
    * plan's rows stream in and encoded inside the read, since the
    * transport writes the response set after the dispatch returns. */
  private def frameStream(plan: InfluxRpc.SeriesPlan): Iterator[Array[Byte]] =
    plan.streamFrames(_.map(fr =>
      StorageProto.readResponse(Seq(StorageProto.encodeFrame(fr)))).toVector).iterator

  private def readFilter(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] =
    parse(f, R.decodeReadFilter(raw)).flatMap { case (pred, meas, db) =>
      table(meas).flatMap(t =>
        f.planReadFilter(db, t, pred).toRight(f.noTable(db, t)).map(frameStream))
    }

  private def readGroup(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val req = R.decodeReadGroup(raw)
    parse(f, req).flatMap { case (pred, meas, db) =>
      val code = req.aggregates.headOption.getOrElse(0)
      for {
        t <- table(meas)
        agg <- aggKinds.get(code).toRight(s"unconvertible aggregate type enum: $code")
        plan <- f.planReadGroup(db, t, pred, agg, req.groupKeys)
      } yield frameStream(plan)
    }
  }

  private def readWindowAggregate(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val req = R.decodeReadWindowAggregate(raw)
    parse(f, req).flatMap { case (pred, meas, db) =>
      for {
        t <- table(meas)
        // expr.rs:553 AggregateNotSingleton: exactly one aggregate
        code <- (if (req.aggregates.size == 1) Right(req.aggregates.head)
          else Left(s"aggregate must be a singleton, got ${req.aggregates.size}"))
        agg <- aggKinds.get(code).toRight(s"unconvertible aggregate type enum: $code")
        plan <- f.resolveProtoWindow(req).flatMap {
          case (everyNs, everyMonths, offsetNs, offsetMonths) =>
            f.planReadWindowAggregate(db, t, pred, agg, everyNs, everyMonths,
              offsetNs, offsetMonths)
        }
      } yield frameStream(plan)
    }
  }

  private def tagKeys(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] =
    parse(f, R.decodeReadFilter(raw)).flatMap { case (pred, meas, db) => // same layout
      f.planTagKeys(db, meas, pred).toRight(f.noTable(db, meas.mkString)).map(ks =>
        one(StorageProto.stringValuesResponse(StorageProto.tagKeysByteVecs(ks))))
    }

  private def tagValues(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val req = R.decodeTagValues(raw)
    parse(f, req).flatMap { case (pred, meas, db) =>
      req.tagKey.toRight("request needs tag_key").flatMap(tk =>
        f.planTagValues(db, meas, R.renderTagKey(tk), pred) // None: meas is missing
          .toRight(f.noTable(db, meas.mkString)).map(strings))
    }
  }
}
