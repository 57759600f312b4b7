package graft.server

import scala.util.control.NonFatal

/** The storage gRPC service over [[GrpcServer]]'s real HTTP/2 framing —
  * `influxdata.platform.storage.Storage` (reference:
  * src/influxdb_ioxd/rpc/storage/service.rs behind tonic). A thin
  * adapter: each data method's request protobuf decodes into a
  * [[StorageService.Call]] and is served by the same core as the HTTP
  * storage routes; frames stream back one ReadResponse message each, and
  * every error becomes a grpc-status 3 (INVALID_ARGUMENT) trailer.
  * Database resolution is the read_source org/bucket rendering, table
  * selection the `\x00 _measurement` predicate sentinel — exactly what
  * reference storage clients put on the wire.
  *
  * Besides the ten data methods of [[StorageService.Methods]], the
  * service answers Capabilities and Offsets (an empty response, as
  * service.rs:794 does).
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
      case "Offsets" => Right(Iterator.single(Array.emptyByteArray))
      case method if StorageService.Methods(method) =>
        StorageService.decodeProto(method, raw)
          .flatMap(StorageService.run(f, _))
          .left.map(_._2).map(_.messages)
      case other => Left(s"unimplemented method: $other")
    }
}
