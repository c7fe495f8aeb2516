package graft.server

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import graft.core.ResultRows
import graft.operators.InfluxRpc

/** The storage gRPC service over [[GrpcServer]]'s real HTTP/2 framing —
  * `influxdata.platform.storage.Storage` methods wired to the SAME
  * protobuf decode/plan/encode pipeline the HTTP transport bridge serves
  * (reference: src/influxdb_ioxd/rpc/storage/service.rs behind tonic).
  * Requests here are always protobuf (no JSON convenience branch);
  * database resolution is the read_source org/bucket rendering, table
  * selection the `\x00 _measurement` predicate sentinel — exactly what
  * reference storage clients put on the wire.
  *
  * The FULL service.rs route surface is wired: Capabilities, ReadFilter /
  * ReadGroup / ReadWindowAggregate (server-streaming ReadResponse, planned
  * by transport-neutral cores shared with the HTTP bridge and converted
  * to frames on the driver as the rows stream in), TagKeys, TagValues
  * (incl. the `_measurement`/`_field` sentinel keys, also through a
  * shared core), MeasurementNames, MeasurementTagKeys,
  * MeasurementTagValues, MeasurementFields, ReadSeriesCardinality
  * (exact; service.rs:560 declares it unimplemented), and Offsets
  * (empty response, service.rs:794).
  */
object StorageGrpc {
  val ServicePrefix = "/influxdata.platform.storage.Storage/"

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
      case "Capabilities" =>
        Right(Iterator.single(StorageProto.capabilitiesResponse()))
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
        Right(Iterator.single(Array.emptyByteArray))
      case other => Left(s"unimplemented method: $other")
    }

  private def measurementNames(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val req = StorageProtoReader.decodeReadFilter(raw) // same field layout
    StorageProtoReader.toRpcPredicate(req).flatMap { case (pred, _) =>
      req.databaseName match {
        case Some(db) => Right(Iterator.single(
          StorageProto.stringValuesResponse(
            InfluxRpc.tableNames(f.dbTables(db), pred)
              .map(_.getBytes(UTF_8)))))
        case None => Left("request needs read_source")
      }
    }
  }

  private def measurementTagKeys(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val (req, meas) = StorageProtoReader.decodeMeasurementScoped(raw)
    StorageProtoReader.toRpcPredicate(req).flatMap { case (pred, sentinel) =>
      (req.databaseName, meas.orElse(sentinel)) match {
        case (Some(db), Some(t)) =>
          f.measurementView(db, t) match {
            case Some(df) => Right(Iterator.single(
              StorageProto.stringValuesResponse(
                StorageProto.tagKeysByteVecs(InfluxRpc.tagKeys(df, pred)))))
            case None => Left(s"no table $t in database $db")
          }
        case (None, _) => Left("request needs read_source")
        case (_, None) => Left("request needs a measurement")
      }
    }
  }

  private def measurementTagValues(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val (req, meas) = StorageProtoReader.decodeMeasurementTagValues(raw)
    StorageProtoReader.toRpcPredicate(req).flatMap { case (pred, sentinel) =>
      (req.databaseName, meas.orElse(sentinel), req.tagKey) match {
        case (Some(db), Some(t), Some(tk)) =>
          f.measurementView(db, t) match {
            case Some(df) =>
              val values = StorageProtoReader.renderTagKey(tk) match {
                case "_measurement" => Seq(t)
                case "_field" =>
                  ResultRows.collect(InfluxRpc.fieldColumns(df, pred))
                    .map(_.getString(0))
                case k => ResultRows.collect(InfluxRpc.tagValues(df, k, pred))
                  .map(_.getString(0))
              }
              Right(Iterator.single(StorageProto.stringValuesResponse(
                values.map(_.getBytes(UTF_8)))))
            case None => Left(s"no table $t in database $db")
          }
        case (None, _, _) => Left("request needs read_source")
        case (_, None, _) => Left("request needs a measurement")
        case (_, _, None) => Left("request needs tag_key")
      }
    }
  }

  private def measurementFields(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val (req, meas) = StorageProtoReader.decodeMeasurementScoped(raw)
    StorageProtoReader.toRpcPredicate(req).flatMap { case (pred, sentinel) =>
      (req.databaseName, meas.orElse(sentinel)) match {
        case (Some(db), Some(t)) =>
          f.measurementView(db, t) match {
            case Some(df) =>
              val fields = ResultRows.collect(InfluxRpc.fieldColumns(df, pred))
                .map(r => (r.getString(0),
                  StorageProto.fieldTypeOf(r.getString(1)), r.getLong(2)))
              Right(Iterator.single(
                StorageProto.measurementFieldsResponse(fields)))
            case None => Left(s"no table $t in database $db")
          }
        case (None, _) => Left("request needs read_source")
        case (_, None) => Left("request needs a measurement")
      }
    }
  }

  private def readSeriesCardinality(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val req = StorageProtoReader.decodeReadFilter(raw) // same field layout
    StorageProtoReader.toRpcPredicate(req).flatMap { case (pred, meas) =>
      req.databaseName match {
        case Some(db) =>
          val n = meas match {
            case Some(t) => f.measurementView(db, t)
              .map(InfluxRpc.seriesCardinality(_, pred, exact = true))
            case None => Some(f.dbTables(db).values
              .map(InfluxRpc.seriesCardinality(_, pred, exact = true)).sum)
          }
          n match {
            case Some(v) => Right(Iterator.single(
              StorageProto.int64ValuesResponse(Seq(v))))
            case None => Left(s"no such table in $db")
          }
        case None => Left("request needs read_source")
      }
    }
  }

  private def readWindowAggregate(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val req = StorageProtoReader.decodeReadWindowAggregate(raw)
    StorageProtoReader.toRpcPredicate(req).flatMap { case (pred, meas) =>
      (req.databaseName, meas) match {
        case (Some(db), Some(t)) =>
          if (req.aggregates.size != 1)
            Left(s"aggregate must be a singleton, got ${req.aggregates.size}")
          else f.protoAggNames.get(req.aggregates.head) match {
            case Some(aggName) =>
              f.resolveProtoWindow(req).flatMap {
                case (evNs, evMonths, offNs, offMonths) =>
                  f.planReadWindowAggregate(db, t, pred, aggName, evNs,
                      evMonths, offNs, offMonths) match {
                    case Left((_, err)) => Left(err)
                    case Right(plan) => Right(frameStream(plan))
                  }
              }
            case None =>
              Left(s"unconvertible aggregate type enum: ${req.aggregates.head}")
          }
        case (None, _) => Left("request needs read_source")
        case (_, None) => Left("request needs a _measurement predicate")
      }
    }
  }

  /** One ReadResponse message per frame, converted on the driver as the
    * plan's rows stream in and encoded inside the read, since the
    * transport writes the response set after the dispatch returns. */
  private def frameStream(plan: InfluxRpc.SeriesPlan): Iterator[Array[Byte]] =
    plan.streamFrames(_.map(fr =>
      StorageProto.readResponse(Seq(StorageProto.encodeFrame(fr)))).toVector).iterator

  private def readGroup(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val req = StorageProtoReader.decodeReadGroup(raw)
    StorageProtoReader.toRpcPredicate(req).flatMap { case (pred, meas) =>
      (req.databaseName, meas) match {
        case (Some(db), Some(t)) =>
          val code = req.aggregates.headOption.getOrElse(0)
          f.protoAggNames.get(code) match {
            case Some(aggName) =>
              f.planReadGroup(db, t, pred, aggName, req.groupKeys) match {
                case Left((_, err)) => Left(err)
                case Right(plan) => Right(frameStream(plan))
              }
            case None => Left(s"unconvertible aggregate type enum: $code")
          }
        case (None, _) => Left("request needs read_source")
        case (_, None) => Left("request needs a _measurement predicate")
      }
    }
  }

  private def readFilter(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val req = StorageProtoReader.decodeReadFilter(raw)
    StorageProtoReader.toRpcPredicate(req).flatMap { case (pred, meas) =>
      (req.databaseName, meas) match {
        case (Some(db), Some(t)) =>
          f.planReadFilter(db, t, pred) match {
            case Some(plan) => Right(frameStream(plan))
            case None => Left(s"no table $t in database $db")
          }
        case (None, _) => Left("request needs read_source")
        case (_, None) => Left("request needs a _measurement predicate")
      }
    }
  }

  private def tagKeys(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val req = StorageProtoReader.decodeReadFilter(raw) // same field set
    StorageProtoReader.toRpcPredicate(req).flatMap { case (pred, meas) =>
      req.databaseName match {
        case Some(db) =>
          val keys = meas match {
            case Some(t) =>
              f.measurementView(db, t).map(InfluxRpc.tagKeys(_, pred))
            case None =>
              Some(InfluxRpc.tagKeysAcrossTables(f.dbTables(db), pred))
          }
          keys match {
            case Some(ks) => Right(Iterator.single(
              StorageProto.stringValuesResponse(
                StorageProto.tagKeysByteVecs(ks))))
            case None => Left(s"no such table in $db")
          }
        case None => Left("request needs read_source")
      }
    }
  }

  private def tagValues(f: HttpFacade, raw: Array[Byte])
      : Either[String, Iterator[Array[Byte]]] = {
    val req = StorageProtoReader.decodeTagValues(raw)
    StorageProtoReader.toRpcPredicate(req).flatMap { case (pred, meas) =>
      (req.databaseName, req.tagKey) match {
        case (Some(db), Some(tk)) =>
          f.planTagValues(db, meas, StorageProtoReader.renderTagKey(tk), pred) match {
            case Some(vs) => Right(Iterator.single(
              StorageProto.stringValuesResponse(vs.map(_.getBytes(UTF_8)))))
            case None => Left(s"no such table in $db")
          }
        case (None, _) => Left("request needs read_source")
        case (_, None) => Left("request needs tag_key")
      }
    }
  }
}
