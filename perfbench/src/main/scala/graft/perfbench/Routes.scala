package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}

import graft.core.{IoxSchema, NsTime}
import graft.operators.{InfluxMeasurement, InfluxQlPlanner, InfluxRpc}
import graft.perfbench.Gen.{Field, Measurement, Point, Tags, tagValue}
import graft.server.{ArrowIpc, HttpFacade, StorageProto, StorageProtoReader}

/** Expected answers over a table's visible points (last write wins
  * already applied), indexed by time for range queries. */
final class Model(points: Seq[Point]) {
  private val byTime: Vector[Point] = points.toVector.sortBy(_.time)
  private val times: Array[Long] = byTime.iterator.map(_.time).toArray

  def inRange(from: Long, to: Long): Vector[Point] = {
    def lower(t: Long): Int = {
      val i = java.util.Arrays.binarySearch(times, t)
      if (i >= 0) i else -i - 1
    }
    byTime.slice(lower(from), lower(to))
  }

  def select(from: Long, to: Long, tags: Seq[(Int, Int)]): Vector[Point] =
    inRange(from, to).filter(p => tags.forall { case (k, v) => p.tags(k) == v })
}

/** The eight query routes. Each query names its route, renders its
  * request, checks a reply against the model, and, for the traced run,
  * replays its layers through the program's public functions. */
object Routes {
  val All: Seq[String] = Seq("sql_csv", "sql_json", "influxql", "read_filter",
    "read_group", "window_agg", "tag_values", "flight_doget")

  /** Window width of the InfluxQL and window-aggregate routes. */
  val WindowNs: Long = 1000000000L

  private def near(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def countSum(ps: Seq[Point]): (Long, Double) =
    (ps.size.toLong, ps.iterator.map(_.f).sum)

  private def tagEq(tags: Seq[(Int, Int)]): Seq[(String, String)] =
    tags.map { case (k, v) => Tags(k) -> tagValue(k, v) }

  private def sqlWhere(from: Long, to: Long, tags: Seq[(Int, Int)]): String =
    (s"time >= $from AND time < $to" +: tagEq(tags).map { case (k, v) => s"$k = '$v'" })
      .mkString(" AND ")

  private def expect(cond: Boolean, what: => String): Option[String] =
    if (cond) None else Some(what)

  /** What one query needs: its route and parameters. `tag` is the group
    * or tag-values key where the route has one. */
  final case class Query(route: String, from: Long, to: Long,
      filter: Seq[(Int, Int)], tag: Int) {
    require(All.contains(route), s"unknown route $route")

    def sql: String = route match {
      case "sql_csv" =>
        s"SELECT ${Tags(tag)} AS k, count(*) AS n, sum($Field) AS s FROM $Measurement " +
          s"WHERE ${sqlWhere(from, to, filter)} GROUP BY ${Tags(tag)} ORDER BY ${Tags(tag)}"
      case "sql_json" =>
        s"SELECT ${Tags(0)}, ${Tags(4)}, $Field, time FROM $Measurement " +
          s"WHERE ${sqlWhere(from, to, filter)}"
      case "influxql" =>
        s"SELECT mean($Field) FROM $Measurement WHERE ${sqlWhere(from, to, filter)} " +
          s"GROUP BY time(${WindowNs / 1000000000L}s), ${Tags(tag)} fill(none)"
      case "flight_doget" =>
        s"SELECT ${Tags(4)}, $Field, time FROM $Measurement " +
          s"WHERE ${sqlWhere(from, to, filter)}"
      case other => sys.error(s"$other has no SQL text")
    }

    def grpcRequest(db: Db): Array[Byte] = {
      val pred = Wire.predicate(Measurement, tagEq(filter))
      route match {
        case "read_filter" => Wire.readFilterReq(db.source, from, to, pred)
        case "read_group" => Wire.readGroupReq(db.source, from, to, pred, Tags(tag))
        case "window_agg" => Wire.windowAggReq(db.source, from, to, pred, WindowNs)
        case "tag_values" => Wire.tagValuesReq(db.source, from, to, pred, Tags(tag))
        case "flight_doget" => Wire.ticket(db.name, sql)
        case other => sys.error(s"$other is not a gRPC route")
      }
    }

    /** Sends the query over its route and checks the answer. Only the
      * call is timed; decoding and checking the reply are not. */
    def run(s: Server, db: Db, model: Model): Done = {
      def call[A](send: => Wire.Reply[A])(check: A => Option[String]): Done = {
        val t0 = System.nanoTime()
        val r = send
        val ms = Stats.ms(t0, System.nanoTime())
        val err = try r.value.fold(e => Some(e), check) catch {
          case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        Done(route, ms, r.bytesOut, err)
      }
      lazy val want = model.select(from, to, filter)
      route match {
        case "sql_csv" =>
          call(Wire.sql(s.http, db.name, sql, "csv"))(b => checkGroups(parseCsv(b), want))
        case "sql_json" =>
          call(Wire.sql(s.http, db.name, sql, "json"))(b => checkRows(parseJsonRows(b), want))
        case "influxql" =>
          call(Wire.influxql(s.http, db.name, sql))(b => checkMeans(parseInfluxQl(b), want))
        case "read_filter" =>
          call(Wire.readFilter(s.rpc, grpcRequest(db)))(checkSeriesPoints(_, want))
        case "read_group" =>
          call(Wire.readGroup(s.rpc, grpcRequest(db)))(checkGroupSums(_, want))
        case "window_agg" =>
          call(Wire.windowAgg(s.rpc, grpcRequest(db)))(checkWindows(_, want))
        case "tag_values" =>
          call(Wire.tagValues(s.rpc, grpcRequest(db)))(checkTagValues(_, want))
        case "flight_doget" =>
          call(Wire.doGet(s.rpc, grpcRequest(db))) { case (_, rows) =>
            checkRows(rows.map(r => (r(2).asInstanceOf[Long], r(1).asInstanceOf[Double])), want)
          }
      }
    }

    // ------------------------------------------------------------ checks

    private def parseCsv(body: String): Seq[(String, Long, Double)] = {
      val lines = body.split("\n").toSeq.filter(_.nonEmpty)
      require(lines.headOption.contains("k,n,s"), s"bad csv header: ${lines.headOption}")
      lines.tail.map { l =>
        val Array(k, n, s) = l.split(",", -1)
        (k, n.toLong, s.toDouble)
      }
    }

    private def checkGroups(got: Seq[(String, Long, Double)], want: Seq[Point])
        : Option[String] = {
      val exp = want.groupBy(p => tagValue(tag, p.tags(tag))).map { case (k, ps) =>
        val (n, s) = countSum(ps); (k, (n, s))
      }
      val gotM = got.map { case (k, n, s) => k -> (n, s) }.toMap
      expect(gotM.size == got.size && gotM == exp,
        s"groups differ: got ${gotM.toSeq.sortBy(_._1).take(3)} want ${exp.toSeq.sortBy(_._1).take(3)}")
    }

    private def parseJsonRows(body: String): Seq[(Long, Double)] =
      MiniJson.parse(body).asInstanceOf[Vector[Map[String, Any]]].map(r =>
        (r("time").asInstanceOf[Long], MiniJson.num(r(Field))))

    private def checkRows(got: Seq[(Long, Double)], want: Seq[Point]): Option[String] = {
      val (n, s) = countSum(want)
      val gs = got.iterator.map(_._2).sum
      expect(got.size == n && gs == s && got.forall(r => r._1 >= from && r._1 < to),
        s"rows differ: got ${got.size} rows sum $gs, want $n rows sum $s")
    }

    private def parseInfluxQl(body: String): Map[(String, Long), Double] = {
      val res = MiniJson.parse(body).asInstanceOf[Map[String, Any]]("results")
        .asInstanceOf[Vector[Map[String, Any]]].head
      require(!res.contains("error"), s"influxql error: ${res.get("error")}")
      res.getOrElse("series", Vector.empty).asInstanceOf[Vector[Map[String, Any]]]
        .flatMap { s =>
          val tv = s("tags").asInstanceOf[Map[String, Any]](Tags(tag)).toString
          s("values").asInstanceOf[Vector[Vector[Any]]].map(v =>
            (tv, v(0).asInstanceOf[Long]) -> MiniJson.num(v(1)))
        }.toMap
    }

    private def checkMeans(got: Map[(String, Long), Double], want: Seq[Point])
        : Option[String] = {
      val exp = want.groupBy(p => (tagValue(tag, p.tags(tag)),
        p.time - Math.floorMod(p.time, WindowNs))).map { case (k, ps) =>
        k -> ps.iterator.map(_.f).sum / ps.size
      }
      expect(got.keySet == exp.keySet && exp.forall { case (k, m) => near(got(k), m) },
        s"means differ: got ${got.size} cells, want ${exp.size}")
    }

    private def checkSeriesPoints(fs: Seq[Wire.Frame], want: Seq[Point]): Option[String] = {
      val pts = Wire.seriesPoints(fs)
      val (n, s) = countSum(want)
      val gs = pts.iterator.map(_._3).sum
      val tagsOk = pts.forall { case (t, time, _) =>
        time >= from && time < to && tagEq(filter).forall { case (k, v) => t.get(k).contains(v) }
      }
      expect(pts.size == n && gs == s && tagsOk,
        s"read_filter differs: got ${pts.size} points sum $gs, want $n sum $s")
    }

    private def checkGroupSums(fs: Seq[Wire.Frame], want: Seq[Point]): Option[String] = {
      val sums = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      var cur = ""
      fs.foreach {
        case Wire.GroupF(kv) => cur = kv.mkString(","); sums.getOrElseUpdate(cur, 0.0)
        case Wire.PointsF(_, vs) => sums(cur) = sums.getOrElse(cur, 0.0) + vs.sum
        case _ => ()
      }
      val exp = want.groupBy(p => tagValue(tag, p.tags(tag)))
        .map { case (k, ps) => k -> ps.iterator.map(_.f).sum }
      expect(sums.toMap == exp,
        s"read_group differs: got ${sums.size} groups, want ${exp.size}")
    }

    private def checkWindows(fs: Seq[Wire.Frame], want: Seq[Point]): Option[String] = {
      val pts = Wire.seriesPoints(fs)
      val cells = want.map(p => (p.tags.toSeq, Math.floorDiv(p.time, WindowNs))).distinct.size
      val (_, s) = countSum(want)
      val gs = pts.iterator.map(_._3).sum
      expect(pts.size == cells && gs == s,
        s"window_agg differs: got ${pts.size} cells sum $gs, want $cells sum $s")
    }

    private def checkTagValues(got: Seq[String], want: Seq[Point]): Option[String] = {
      val exp = want.map(p => tagValue(tag, p.tags(tag))).distinct.sorted
      expect(got.sorted == exp, s"tag values differ: got ${got.size}, want ${exp.size}")
    }

    // ------------------------------------------------------ traced layers

    /** Replays this query's layers through the program's public
      * functions, each under its own span: view build (the upsert scan),
      * plan (request decode and planning up to an executed plan), exec
      * (plan to rows, pulled the way the server pulls them) and encode
      * (rows to the wire format). The InfluxQL series writer is private
      * to the server, so that route has no encode span and its encoding
      * falls into the transport remainder. */
    def layers(spark: SparkSession, s: Server, db: Db, tr: Tracer, req: Long)
        : Layers = {
      val (view, vSpan) = tr.span("operators.view_build", req) {
        s.facade.measurementView(db.name, Measurement).get
      }
      val viewNodes = Plans.nodeCount(view)
      def predOf(r: StorageProtoReader.StorageRequest) =
        StorageProtoReader.toRpcPredicate(r).fold(e => sys.error(e), _._1)
      def frames(out: DataFrame) = InfluxRpc.toSeriesSet(out,
        IoxSchema.fieldColumns(view.schema))
      val (planned, pSpan) = tr.span("operators.plan", req) {
        val ds: Dataset[_] = route match {
          case "sql_csv" | "sql_json" | "flight_doget" =>
            HttpFacade.synchronized {
              view.createOrReplaceTempView(Measurement)
              spark.sql(sql)
            }
          case "influxql" =>
            val m = InfluxMeasurement(view, NsTime.TimeColumn,
              IoxSchema.tagColumns(view.schema))
            InfluxQlPlanner.run(Map(Measurement -> m), sql) // parses, then plans
          case "read_filter" =>
            val pred = predOf(StorageProtoReader.decodeReadFilter(grpcRequest(db)))
            InfluxRpc.toFrames(frames(InfluxRpc.readFilter(view, pred)), Measurement)
          case "read_group" =>
            val r = StorageProtoReader.decodeReadGroup(grpcRequest(db))
            InfluxRpc.toGroupedFrames(frames(InfluxRpc.readGroup(view, predOf(r),
              InfluxRpc.AggKind.Sum, r.groupKeys)), Measurement, r.groupKeys)
          case "window_agg" =>
            val r = StorageProtoReader.decodeReadWindowAggregate(grpcRequest(db))
            InfluxRpc.toFrames(frames(InfluxRpc.readWindowAggregate(view, predOf(r),
              InfluxRpc.AggKind.Sum, WindowNs, 0L)), Measurement)
          case "tag_values" =>
            val r = StorageProtoReader.decodeTagValues(grpcRequest(db))
            InfluxRpc.tagValues(view, Tags(tag), predOf(r))
        }
        ds.queryExecution.executedPlan
        ds
      }
      val (rows, eSpan) = tr.span("operators.exec", req) {
        planned.toLocalIterator().asScala.toVector
      }
      val scanned = Plans.scannedRows(planned.queryExecution.executedPlan)
      def local = spark.createDataFrame(
        rows.map(_.asInstanceOf[Row]).asJava, planned.schema)
      // the row writers pull rows through a Spark iterator even from a
      // local relation; that pull is timed on its own and subtracted
      // (medians of three of each, alternating)
      def encode(write: java.io.OutputStream => Unit): Option[Double] =
        Some(tr.span("server.encode", req)(write(new CountingStream))._2.ms)
      def encodeLocal(write: (DataFrame, java.io.OutputStream) => Unit): Option[Double] = {
        val df = local
        val pairs = (1 to 3).map { _ =>
          val (_, pull) = tr.span("server.encode.pull", req)(df.toLocalIterator().asScala.size)
          (pull.ms, encode(write(df, _)).get)
        }
        Some(Stats.median(pairs.map(_._2)) - Stats.median(pairs.map(_._1)))
      }
      val encMs = route match {
        case "sql_csv" => encodeLocal(HttpFacade.writeResult(_, "csv", _))
        case "sql_json" => encodeLocal(HttpFacade.writeResult(_, "json", _))
        case "flight_doget" => encodeLocal(ArrowIpc.writeStream(_, _))
        case "influxql" => None
        case "tag_values" => encode(_.write(StorageProto.stringValuesResponse(
          rows.map(_.asInstanceOf[Row].getString(0).getBytes(UTF_8)))))
        case _ => encode(out => rows.foreach(fr => out.write(StorageProto.readResponse(
          Seq(StorageProto.encodeFrame(fr.asInstanceOf[InfluxRpc.Frame]))))))
      }
      Layers(vSpan, pSpan, eSpan, encMs, viewNodes, scanned, rows.size.toLong)
    }
  }

  /** One answered query: route, latency of the call, bytes received
    * and the failure, if any. */
  final case class Done(route: String, ms: Double, bytes: Long, error: Option[String])

  /** One traced query's layer spans and sizes. */
  final case class Layers(view: Span, plan: Span, exec: Span,
      encodeMs: Option[Double], viewNodes: Int, scannedRows: Long,
      resultRows: Long) {
    def totalMs: Double = view.ms + plan.ms + exec.ms + encodeMs.getOrElse(0.0)
  }

  final class CountingStream extends java.io.OutputStream {
    var count = 0L
    override def write(b: Int): Unit = count += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = count += len
  }
}
