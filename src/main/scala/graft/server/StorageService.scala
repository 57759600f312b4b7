package graft.server

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

import graft.core.{IoxSchema, RpcPredicate}
import graft.operators.InfluxRpc
import graft.server.{StorageProtoReader => R}

/** The storage RPC surface (reference: src/influxdb_ioxd/rpc/storage/
  * service.rs:212-782) as one transport-neutral core. Every request,
  * whichever way it arrived, becomes one typed [[Call]]:
  *
  *  - gRPC ([[StorageGrpc]]) and HTTP `application/x-protobuf` bodies
  *    decode through [[decodeProto]] — the per-method request messages
  *    of storage_common.proto, database from read_source, table from
  *    the `\x00` `_measurement` predicate sentinel (or the
  *    measurement-scoped messages' own `measurement` field);
  *  - the HTTP JSON spelling decodes through [[decodeJson]].
  *
  * [[run]] serves a call against the facade's measurement views and
  * answers with frames to stream or one response message; the
  * transports only map its `(status, message)` errors onto their own
  * status channel (HTTP status, grpc-status 3).
  *
  * The measurement_* methods are the measurement-scoped spelling of the
  * same operators: with a measurement they answer for that table, without
  * one they give the database-level merge (the *AcrossTables operators).
  */
object StorageService {

  /** The data methods, by their gRPC names; HTTP serves each at
    * `/api/v1/storage/<snake_case name>`. */
  val Methods: Set[String] = Set("ReadFilter", "ReadGroup",
    "ReadWindowAggregate", "TagKeys", "TagValues", "MeasurementNames",
    "MeasurementTagKeys", "MeasurementTagValues", "MeasurementFields",
    "ReadSeriesCardinality")

  /** Methods that stream series frames from one table. */
  private val TableScoped = Set("ReadFilter", "ReadGroup", "ReadWindowAggregate")
  private val TagKeyed = Set("TagValues", "MeasurementTagValues")

  /** `/api/v1/storage/read_filter` → `ReadFilter`, for the data methods. */
  object HttpRoute {
    private val Path = "/api/v1/storage/([a-z_]+)".r
    def unapply(path: String): Option[String] = path match {
      case Path(name) => Some(name.split('_').map(_.capitalize).mkString)
        .filter(Methods)
      case _ => None
    }
  }

  /** A window width and offset: fixed ns, or calendar months. */
  final case class Window(everyNs: Option[Long] = None,
      everyMonths: Option[Long] = None, offsetNs: Long = 0L,
      offsetMonths: Int = 0)

  /** One storage request, whatever its transport and encoding. */
  final case class Call(method: String, db: Option[String],
      table: Option[String], pred: RpcPredicate,
      tagKey: Option[String] = None, aggregate: String = "none",
      groupKeys: Seq[String] = Nil, window: Window = Window(),
      exact: Boolean = true)

  sealed trait Reply {
    /** The encoded response messages; frames are pulled lazily, one
      * partition at a time, so a large series set never sits in memory. */
    def messages: Iterator[Array[Byte]]
  }
  final case class Frames(frames: Dataset[InfluxRpc.Frame]) extends Reply {
    def messages: Iterator[Array[Byte]] =
      frames.toLocalIterator().asScala.map(fr =>
        StorageProto.readResponse(Seq(StorageProto.encodeFrame(fr))))
  }
  final case class Message(bytes: Array[Byte]) extends Reply {
    def messages: Iterator[Array[Byte]] = Iterator.single(bytes)
  }

  type Result[A] = Either[(Int, String), A]

  private def badRequest[A](e: Throwable, what: String): Result[A] =
    Left((400, s"bad $what request: ${Option(e.getMessage)
      .getOrElse(e.getClass.getName)}"))

  // -------------------------------------------------------- decoders

  /** Aggregate.AggregateType enum (storage_common.proto:56-66) → the
    * facade's aggregate names. */
  private val protoAggNames: Map[Int, String] = Map(0 -> "none", 1 -> "sum",
    2 -> "count", 3 -> "min", 4 -> "max", 5 -> "first", 6 -> "last",
    7 -> "mean")

  /** The request protobuf of `method` → a call. */
  def decodeProto(method: String, raw: Array[Byte]): Result[Call] =
    try {
      val (req, measurement) = method match {
        case "ReadGroup" => (R.decodeReadGroup(raw), None)
        case "ReadWindowAggregate" => (R.decodeReadWindowAggregate(raw), None)
        case "TagValues" => (R.decodeTagValues(raw), None)
        // MeasurementTagKeysRequest / MeasurementFieldsRequest carry the
        // measurement as field 2 — decoding them with the read_filter
        // layout would parse those bytes as a range
        case "MeasurementTagKeys" | "MeasurementFields" =>
          R.decodeMeasurementScoped(raw)
        case "MeasurementTagValues" => R.decodeMeasurementTagValues(raw)
        // ReadFilter, TagKeys, MeasurementNames, ReadSeriesCardinality:
        // the {source=1, range=2, predicate=3} layout
        case _ => (R.decodeReadFilter(raw), None)
      }
      // reject enum values outside the proto's 0-7 range like the
      // reference's AggregateType conversion (expr.rs convert_aggregate)
      // instead of silently degrading to raw
      def aggName(code: Int) = protoAggNames.get(code)
        .toRight(s"unconvertible aggregate type enum: $code")
      val aggregate = method match {
        case "ReadGroup" => aggName(req.aggregates.headOption.getOrElse(0))
        case "ReadWindowAggregate" if req.aggregates.size != 1 =>
          // expr.rs:553 AggregateNotSingleton: exactly one aggregate
          Left(s"aggregate must be a singleton, got ${req.aggregates.size}")
        case "ReadWindowAggregate" => aggName(req.aggregates.head)
        case _ => Right("none")
      }
      val window =
        if (method == "ReadWindowAggregate") resolveProtoWindow(req)
        else Right(Window())
      R.toRpcPredicate(req).flatMap { case (pred, sentinel) =>
        for (agg <- aggregate; w <- window)
          yield Call(method, req.databaseName, measurement.orElse(sentinel),
            pred, req.tagKey.map(R.renderTagKey), agg, req.groupKeys, w)
      }.left.map(400 -> _)
    } catch { case NonFatal(e) => badRequest(e, "protobuf") }

  /** expr.rs:568-570: nonzero flat WindowEvery/Offset WIN and the
    * `window` message is ignored; the message applies only when both
    * flat fields are zero. The reference's convert_duration also rejects
    * a Duration carrying BOTH nonzero months and nsecs — mixed units
    * have no single window unit. */
  private def resolveProtoWindow(req: R.StorageRequest): Either[String, Window] =
    (req.window, req.windowEveryNs, req.offsetNs) match {
      case (Some(w), 0L, 0L) =>
        val every = w.every.getOrElse(R.Dur(0, 0, negative = false))
        val off = w.offset.getOrElse(R.Dur(0, 0, negative = false))
        if ((every.months != 0L && every.nsecs != 0L) ||
            (off.months != 0L && off.nsecs != 0L))
          Left("window Duration cannot mix months and nsecs")
        else {
          val offSign = if (off.negative) -1L else 1L
          if (every.months > 0)
            Right(Window(everyMonths = Some(every.months),
              offsetMonths = (offSign * off.months).toInt))
          else Right(Window(Some(every.nsecs), offsetNs = offSign * off.nsecs))
        }
      case _ => Right(Window(Some(req.windowEveryNs), offsetNs = req.offsetNs))
    }

  /** The JSON spelling of a call: `database_name`, `table` (or
    * `measurement`), `tag_key` (the `\u0000`/`ÿ` sentinels or
    * `_measurement`/`_field`), `aggregate` (a facade aggregate name),
    * `group_keys`, `window_every` / `window_every_months` / `offset` /
    * `offset_months`, `mode` (`estimate` for HLL cardinality) and the
    * predicate fields of [[predOf]]. */
  def decodeJson(method: String, body: String): Result[Call] = {
    import HttpFacade.{jsonLongField, jsonStrArrayField, jsonStrField}
    try Right(Call(method,
      db = jsonStrField(body, "database_name"),
      table = jsonStrField(body, "table")
        .orElse(jsonStrField(body, "measurement")),
      pred = predOf(body),
      tagKey = jsonStrField(body, "tag_key"),
      aggregate = jsonStrField(body, "aggregate").getOrElse("none"),
      groupKeys = jsonStrArrayField(body, "group_keys"),
      window = Window(jsonLongField(body, "window_every"),
        jsonLongField(body, "window_every_months"),
        jsonLongField(body, "offset").getOrElse(0L),
        jsonLongField(body, "offset_months").getOrElse(0L).toInt),
      exact = !jsonStrField(body, "mode").contains("estimate")))
    catch { case NonFatal(e) => badRequest(e, "JSON") }
  }

  /** Request predicate (predicate.proto / PredicateBuilder): optional
    * `[start, stop)` range plus the request-level restrictions the
    * reference's storage requests carry —
    * `"tag_eq": {"host": "a", ...}` (tag = value conjuncts),
    * `"tag_regex": {"host": "^a.*"}` (`=~`, Java-dialect),
    * `"fields": ["usage", ...]` (field-column restriction). */
  private def predOf(body: String): RpcPredicate = {
    import HttpFacade.{jsonLongField, jsonStrArrayField, jsonStrMapField}
    var p = (jsonLongField(body, "start"), jsonLongField(body, "stop")) match {
      case (Some(s), Some(e)) => RpcPredicate().withRange(s, e)
      case _ => RpcPredicate()
    }
    for ((k, v) <- jsonStrMapField(body, "tag_eq"))
      p = p.withExpr(col(k) === v)
    for ((k, re) <- jsonStrMapField(body, "tag_regex"))
      p = p.withRegexMatch(k, re)
    val fields = jsonStrArrayField(body, "fields")
    if (fields.nonEmpty) p = p.withFields(fields: _*)
    p
  }

  // ------------------------------------------------------------ serve

  /** Serve one call. No catalog lock here: these plans build from
    * measurementView over the concurrent chunk map and never touch the
    * shared temp-view catalog the SQL endpoints synchronize on — a slow
    * metadata scan must not stall queries. */
  def run(f: HttpFacade, c: Call): Result[Reply] = c.db match {
    case None =>
      Left((400, "request needs a database (read_source, database_name or ?db=)"))
    case Some(_) if TableScoped(c.method) && c.table.isEmpty =>
      Left((400, "request needs a measurement " +
        "(_measurement predicate, table or ?table=)"))
    case Some(_) if TagKeyed(c.method) && c.tagKey.isEmpty =>
      Left((400, "request needs tag_key"))
    // existence, not emptiness: a created but never written database is
    // real and answers empty; an unknown one is an error, never "exists
    // and is empty" for a typo'd name
    case Some(db) if !f.hasDatabase(db) =>
      Left((404, s"database not found: $db"))
    case Some(db) => serve(f, db, c)
  }

  private def serve(f: HttpFacade, db: String, c: Call): Result[Reply] = {
    val pred = c.pred
    def view(t: String): Result[DataFrame] = f.measurementView(db, t)
      .toRight((404, s"no table $t in database $db"))
    // the named table's view, or every view of the database
    def scoped[A](one: (String, DataFrame) => A)(
        all: Map[String, DataFrame] => A): Result[A] = c.table match {
      case Some(t) => view(t).map(one(t, _))
      case None => Right(all(f.dbTables(db)))
    }
    def strings(vs: Seq[String]) =
      Message(StorageProto.stringValuesResponse(vs.map(_.getBytes(UTF_8))))
    def column0(df: DataFrame) = df.collect().map(_.getString(0)).toSeq
    // tag_values meta keys (service.rs:483-526): `\u0000`/`_measurement`
    // lists measurement names, `ÿ`/`_field` lists field names
    def tagValues(key: String): Result[Reply] = (key match {
      case "\u0000" | "_measurement" =>
        scoped((t, df) => InfluxRpc.tableNames(Map(t -> df), pred))(
          InfluxRpc.tableNames(_, pred))
      case "ÿ" | "_field" =>
        scoped((_, df) => column0(InfluxRpc.fieldColumns(df, pred)))(
          InfluxRpc.fieldColumnsAcrossTables(_, pred).map(_._1))
      case k =>
        scoped((_, df) => column0(InfluxRpc.tagValues(df, k, pred)))(
          InfluxRpc.tagValuesAcrossTables(_, k, pred))
    }).map(strings)
    c.method match {
      case "ReadFilter" =>
        val t = c.table.get
        view(t).map(df => Frames(InfluxRpc.toFrames(
          InfluxRpc.toSeriesSet(InfluxRpc.readFilter(df, pred),
            IoxSchema.fieldColumns(df.schema)), t)))
      case "ReadGroup" =>
        planReadGroup(f, db, c.table.get, pred, c.aggregate, c.groupKeys)
          .map(Frames)
      case "ReadWindowAggregate" =>
        val w = c.window
        planReadWindowAggregate(f, db, c.table.get, pred, c.aggregate,
          w.everyNs, w.everyMonths, w.offsetNs, w.offsetMonths).map(Frames)
      // tag_keys / measurement_tag_keys (service.rs:403,661): the
      // 0x00/0xff measurement/field sentinels (data.rs:45-56) around the
      // tag keys
      case "TagKeys" | "MeasurementTagKeys" =>
        scoped((_, df) => InfluxRpc.tagKeys(df, pred))(
          InfluxRpc.tagKeysAcrossTables(_, pred)).map(ks => Message(
          StorageProto.stringValuesResponse(StorageProto.tagKeysByteVecs(ks))))
      case "TagValues" | "MeasurementTagValues" => tagValues(c.tagKey.get)
      // measurement_names (service.rs:605): the tables with a row that
      // passes the predicate — the `_measurement` tag values
      case "MeasurementNames" => tagValues("_measurement")
      // measurement_fields (service.rs:771): (key, FieldType,
      // last-timestamp) per field; the database-level answer is
      // fieldlist.rs into_fieldlist's merge
      case "MeasurementFields" =>
        scoped((_, df) => InfluxRpc.fieldColumns(df, pred).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq)(
          InfluxRpc.fieldColumnsAcrossTables(_, pred)).map(fs => Message(
          StorageProto.measurementFieldsResponse(fs.map { case (n, t, ts) =>
            (n, StorageProto.fieldTypeOf(t), ts) })))
      // read_series_cardinality (service.rs:560 — declared but
      // unimplemented there; completed here): series are per-table tag
      // sets, so the database-level count sums the tables'
      case "ReadSeriesCardinality" =>
        scoped((_, df) => InfluxRpc.seriesCardinality(df, pred, c.exact))(
          _.values.map(InfluxRpc.seriesCardinality(_, pred, c.exact)).sum)
          .map(n => Message(StorageProto.int64ValuesResponse(Seq(n))))
    }
  }

  private val aggKinds: Map[String, InfluxRpc.AggKind] = {
    import InfluxRpc.AggKind._
    Map("none" -> None, "sum" -> Sum, "count" -> Count, "min" -> Min,
      "max" -> Max, "mean" -> Mean, "first" -> First, "last" -> Last)
  }

  /** read_group (service.rs:260): group frames + member series. The
    * response stream interleaves one GroupFrame per distinct group-key
    * value with its member series/points pairs (data.rs:75-121). */
  private def planReadGroup(f: HttpFacade, db: String, table: String,
      pred: RpcPredicate, aggName: String, groupKeys: Seq[String])
      : Result[Dataset[InfluxRpc.Frame]] = {
    import InfluxRpc.AggKind
    val agg = aggKinds.get(aggName) match {
      case Some(a) => a
      case scala.None => return Left((400, s"unknown aggregate: $aggName"))
    }
    f.measurementView(db, table) match {
      case scala.None => Left((404, s"no table $table in database $db"))
      case Some(df) =>
        val tags = IoxSchema.tagColumns(df.schema)
        val bad = groupKeys.filterNot(tags.contains)
        if (bad.nonEmpty)
          Left((400,
            s"group keys must be tag columns; not tags: ${bad.mkString(", ")}"))
        else {
          val out = InfluxRpc.readGroup(df, pred, agg, groupKeys)
          val fieldCols = IoxSchema.fieldColumns(df.schema)
          val series = agg match {
            case AggKind.None | AggKind.Sum | AggKind.Count | AggKind.Mean =>
              // output shape is (tags..., fields..., time): direct
              InfluxRpc.toSeriesSet(out, fieldCols)
            case _ =>
              // selectors emit per-field (value, time_<field>): one
              // series per field from its own selected timestamps; a
              // field-less table has no series at all
              fieldCols.map { f =>
                InfluxRpc.toSeriesSet(
                  out.select((IoxSchema.tagColumns(out.schema).map(col) :+
                    col(f)) :+
                    col(s"${graft.core.NsTime.TimeColumn}_$f")
                      .as(graft.core.NsTime.TimeColumn): _*),
                  Seq(f))
              }.reduceOption(_ union _).getOrElse {
                import df.sparkSession.implicits._
                df.sparkSession.emptyDataset[InfluxRpc.Series]
              }
          }
          Right(
            if (agg == AggKind.None)
              InfluxRpc.toGroupedFramesStreaming(series, table, groupKeys)
            else InfluxRpc.toGroupedFrames(series, table, groupKeys))
        }
    }
  }

  /** read_window_aggregate (service.rs:339): per-series time-bucketed
    * series frames; fixed ns or calendar-month widths. */
  private def planReadWindowAggregate(f: HttpFacade, db: String,
      table: String, pred: RpcPredicate, aggName: String,
      everyNs: Option[Long], everyMonths: Option[Long], offsetNs: Long,
      offsetMonths: Int): Result[Dataset[InfluxRpc.Frame]] = {
    val agg = aggKinds.get(aggName) match {
      case Some(InfluxRpc.AggKind.None) | scala.None =>
        return Left((400,
          s"window aggregate requires an aggregate, got '$aggName'"))
      case Some(a) => a
    }
    val everyDefined = everyNs.exists(_ != 0L) || everyMonths.isDefined
    if (!everyDefined)
      return Left((400, "window_every (ns) or window_every_months required"))
    if (everyNs.exists(_ < 0L) ||
        everyMonths.exists(m => m <= 0L || m > Int.MaxValue))
      return Left((400, "window width must be a positive " +
        "duration (months fit in 32 bits)"))
    f.measurementView(db, table) match {
      case scala.None => Left((404, s"no table $table in database $db"))
      case Some(df) =>
        val out = (everyNs.filter(_ > 0L), everyMonths) match {
          case (Some(every), _) =>
            InfluxRpc.readWindowAggregate(df, pred, agg, every, offsetNs)
          case (_, months) =>
            InfluxRpc.readWindowAggregateMonths(df, pred, agg,
              months.get.toInt, offsetMonths)
        }
        Right(InfluxRpc.toFrames(
          InfluxRpc.toSeriesSet(out, IoxSchema.fieldColumns(df.schema)),
          table))
    }
  }
}
