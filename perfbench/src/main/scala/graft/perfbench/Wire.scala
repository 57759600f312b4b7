package graft.perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import graft.server.{ArrowIpc, FlightGrpc, GrpcClient, ManagementGrpc, StorageGrpc, StorageProto, StorageProtoReader => R}

/** Client side of every route the benchmark drives: request builders,
  * the HTTP and gRPC calls, and response decoders. Nothing here touches
  * the server's internals; it speaks the public wire formats only. */
object Wire {
  /** One finished call: the decoded payload, or the reason it failed. */
  final case class Reply[A](value: Either[String, A], bytesOut: Long)

  // ------------------------------------------------------------- HTTP

  def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

  private def readAll(conn: HttpURLConnection): (Int, Array[Byte]) = {
    val status = conn.getResponseCode
    val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (is == null) Array.emptyByteArray else try is.readAllBytes() finally is.close()
    (status, body)
  }

  def httpGet(port: Int, pathAndQuery: String): (Int, Array[Byte]) = {
    val conn = new URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setReadTimeout(120000)
    readAll(conn)
  }

  def httpPost(port: Int, pathAndQuery: String, body: Array[Byte]): (Int, Array[Byte]) = {
    val conn = new URI(s"http://127.0.0.1:$port$pathAndQuery").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setReadTimeout(120000)
    conn.setFixedLengthStreamingMode(body.length)
    val os = conn.getOutputStream
    try os.write(body) finally os.close()
    readAll(conn)
  }

  private def ok(status: Int, body: Array[Byte]): Either[String, Array[Byte]] =
    if (status == 200 || status == 204) Right(body)
    else Left(s"HTTP $status: ${new String(body, UTF_8).take(300)}")

  def sql(port: Int, db: String, q: String, format: String): Reply[String] = {
    val (s, b) = httpGet(port,
      s"/iox/api/v1/databases/${enc(db)}/query?q=${enc(q)}&format=$format")
    Reply(ok(s, b).map(new String(_, UTF_8)), b.length.toLong)
  }

  def influxql(port: Int, db: String, q: String): Reply[String] = {
    val (s, b) = httpGet(port, s"/query?db=${enc(db)}&q=${enc(q)}")
    Reply(ok(s, b).map(new String(_, UTF_8)), b.length.toLong)
  }

  def writeLp(port: Int, org: String, bucket: String, lp: Array[Byte]): Reply[Unit] = {
    val (s, b) = httpPost(port, s"/api/v2/write?org=$org&bucket=$bucket", lp)
    Reply(ok(s, b).map(_ => ()), 0L)
  }

  def health(port: Int): Reply[Unit] = {
    val (s, b) = httpGet(port, "/health")
    Reply(ok(s, b).map(_ => ()), b.length.toLong)
  }

  /** `/iox/api/v1/chunks`: chunk count per table. */
  def chunks(port: Int, org: String, bucket: String): Reply[Map[String, Int]] = {
    val (s, b) = httpGet(port, s"/iox/api/v1/chunks?org=$org&bucket=$bucket")
    Reply(ok(s, b).map { body =>
      MiniJson.parse(new String(body, UTF_8)).asInstanceOf[Vector[Map[String, Any]]]
        .groupBy(_("table_name").toString).map { case (t, rows) =>
          t -> rows.map(r => MiniJson.num(r("id")).toLong).distinct.size
        }
    }, b.length.toLong)
  }

  // ------------------------------------------------------------- gRPC

  private def grpc(port: Int, path: String, req: Array[Byte])
      : Reply[Seq[Array[Byte]]] = {
    val (status, msgs) = GrpcClient.call(port, path, req, timeoutMs = 120000)
    val bytes = msgs.iterator.map(_.length.toLong).sum
    Reply(if (status == 0) Right(msgs) else Left(s"grpc-status $status"), bytes)
  }

  def msg(f: StorageProto.Writer => Unit): Array[Byte] = {
    val w = new StorageProto.Writer
    f(w); w.result()
  }

  private def tagRef(key: Array[Byte]) =
    msg(_.varintField(1, R.NodeType.TagRef.toLong).bytes(9, key))
  private def litStr(s: String) =
    msg(_.varintField(1, R.NodeType.Literal.toLong).string(3, s))
  private def eq(key: Array[Byte], v: String) =
    msg(_.varintField(1, R.NodeType.Comparison.toLong)
      .bytes(2, tagRef(key)).bytes(2, litStr(v)).varintField(12, R.Cmp.Equal.toLong))
  private def and(a: Array[Byte], b: Array[Byte]) = msg(_.bytes(2, a).bytes(2, b))
  private val MeasurementKey = Array(0x00.toByte)

  /** Predicate: `_measurement = m` AND every `tag = value` given. */
  def predicate(m: String, tags: Seq[(String, String)]): Array[Byte] = {
    val root = tags.foldLeft(eq(MeasurementKey, m)) { case (acc, (k, v)) =>
      and(acc, eq(k.getBytes(UTF_8), v))
    }
    msg(_.bytes(1, root))
  }

  /** The Any-wrapped ReadSource naming database `<org>_<bucket>`. */
  def readSource(org: Long, bucket: Long): Array[Byte] =
    msg(s => s.string(1, "type.googleapis.com/com.github.influxdata.idpe.storage.read.ReadSource")
      .bytes(2, msg(rs => rs.varintField(1, org).varintField(2, bucket))))

  private def range(from: Long, to: Long) =
    msg(_.varintField(1, from).varintField(2, to))

  def readFilterReq(src: Array[Byte], from: Long, to: Long, pred: Array[Byte])
      : Array[Byte] =
    msg { b => b.bytes(1, src); b.bytes(2, range(from, to)); b.bytes(3, pred) }

  /** ReadGroup by `key` with SUM. */
  def readGroupReq(src: Array[Byte], from: Long, to: Long, pred: Array[Byte],
      key: String): Array[Byte] =
    msg { b =>
      b.bytes(1, src); b.bytes(2, range(from, to)); b.bytes(3, pred)
      b.bytes(4, key.getBytes(UTF_8))
      b.varintField(5, 2); b.bytes(6, msg(_.varintField(1, 1)))
    }

  /** ReadWindowAggregate with SUM over `everyNs` windows. */
  def windowAggReq(src: Array[Byte], from: Long, to: Long, pred: Array[Byte],
      everyNs: Long): Array[Byte] =
    msg { b =>
      b.bytes(1, src); b.bytes(2, range(from, to)); b.bytes(3, pred)
      b.varintField(4, everyNs); b.bytes(5, msg(_.varintField(1, 1)))
    }

  def tagValuesReq(src: Array[Byte], from: Long, to: Long, pred: Array[Byte],
      key: String): Array[Byte] =
    msg { b =>
      b.bytes(1, src); b.bytes(2, range(from, to)); b.bytes(3, pred)
      b.bytes(4, key.getBytes(UTF_8))
    }

  def ticket(db: String, sql: String): Array[Byte] =
    msg(_.bytes(1, (s"""{"database_name":${graft.core.Json.str(db)},""" +
      s""""sql_query":${graft.core.Json.str(sql)}}""").getBytes(UTF_8)))

  def writeEntryReq(db: String, entry: Array[Byte]): Array[Byte] =
    msg { w => w.string(1, db); w.bytes(2, entry) }

  private val S = StorageGrpc.ServicePrefix

  def capabilities(port: Int): Reply[Unit] =
    grpcUnit(grpc(port, S + "Capabilities", Array.emptyByteArray))
  def writeEntry(port: Int, req: Array[Byte]): Reply[Unit] =
    grpcUnit(grpc(port, ManagementGrpc.WritePrefix + "WriteEntry", req))
  private def grpcUnit(r: Reply[Seq[Array[Byte]]]): Reply[Unit] =
    Reply(r.value.map(_ => ()), r.bytesOut)

  def readFilter(port: Int, req: Array[Byte]): Reply[Seq[Frame]] =
    decodeFrames(grpc(port, S + "ReadFilter", req))
  def readGroup(port: Int, req: Array[Byte]): Reply[Seq[Frame]] =
    decodeFrames(grpc(port, S + "ReadGroup", req))
  def windowAgg(port: Int, req: Array[Byte]): Reply[Seq[Frame]] =
    decodeFrames(grpc(port, S + "ReadWindowAggregate", req))

  def tagValues(port: Int, req: Array[Byte]): Reply[Seq[String]] = {
    val r = grpc(port, S + "TagValues", req)
    Reply(r.value.map(_.flatMap(stringValues)), r.bytesOut)
  }

  def doGet(port: Int, ticket: Array[Byte]): Reply[(Seq[String], Seq[Seq[Any]])] = {
    val r = grpc(port, FlightGrpc.ServicePrefix + "DoGet", ticket)
    Reply(r.value.map(fd => ArrowIpc.readStream(
      new java.io.ByteArrayInputStream(FlightGrpc.flightDataToIpc(fd)))), r.bytesOut)
  }

  // -------------------------------------------------------- decoders

  /** One storage-RPC frame: a series (tags), its float points, or a
    * group header (the partition key values). */
  sealed trait Frame
  final case class SeriesF(tags: Map[String, String]) extends Frame
  final case class PointsF(times: Vector[Long], values: Vector[Double]) extends Frame
  final case class GroupF(keyVals: Seq[String]) extends Frame

  private def decodeFrames(r: Reply[Seq[Array[Byte]]]): Reply[Seq[Frame]] =
    Reply(r.value.map(_.flatMap(frames)), r.bytesOut)

  def frames(readResponse: Array[Byte]): Seq[Frame] = {
    val r = new R.Reader(readResponse)
    val out = Vector.newBuilder[Frame]
    while (r.hasMore) r.key() match {
      case (1, 2) =>
        val f = r.sub()
        f.key() match {
          case (StorageProto.FrameSeries, 2) => out += series(f.sub())
          case (StorageProto.FrameFloatPoints, 2) => out += points(f.sub())
          case (StorageProto.FrameGroup, 2) => out += group(f.sub())
          case (n, _) => throw new IllegalStateException(s"unexpected frame member $n")
        }
      case (_, wt) => r.skip(wt)
    }
    out.result()
  }

  private def series(r: R.Reader): SeriesF = {
    val tags = Map.newBuilder[String, String]
    while (r.hasMore) r.key() match {
      case (1, 2) =>
        val t = r.sub()
        var k = ""; var v = ""
        while (t.hasMore) t.key() match {
          case (1, 2) => k = new String(t.bytesField(), UTF_8)
          case (2, 2) => v = new String(t.bytesField(), UTF_8)
          case (_, wt) => t.skip(wt)
        }
        tags += k -> v
      case (_, wt) => r.skip(wt)
    }
    SeriesF(tags.result())
  }

  private def fixed64s(b: Array[Byte]): Vector[Long] =
    Vector.tabulate(b.length / 8) { i =>
      java.nio.ByteBuffer.wrap(b, i * 8, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    }

  private def points(r: R.Reader): PointsF = {
    var ts = Vector.empty[Long]; var vs = Vector.empty[Double]
    while (r.hasMore) r.key() match {
      case (1, 2) => ts ++= fixed64s(r.bytesField())
      case (2, 2) => vs ++= fixed64s(r.bytesField()).map(java.lang.Double.longBitsToDouble)
      case (_, wt) => r.skip(wt)
    }
    PointsF(ts, vs)
  }

  private def group(r: R.Reader): GroupF = {
    val vals = Vector.newBuilder[String]
    while (r.hasMore) r.key() match {
      case (2, 2) => vals += new String(r.bytesField(), UTF_8)
      case (_, wt) => r.skip(wt)
    }
    GroupF(vals.result())
  }

  def stringValues(resp: Array[Byte]): Seq[String] = {
    val r = new R.Reader(resp)
    val out = Seq.newBuilder[String]
    while (r.hasMore) r.key() match {
      case (1, 2) => out += new String(r.bytesField(), UTF_8)
      case (_, wt) => r.skip(wt)
    }
    out.result()
  }

  /** (series tags, time, value) per point, in stream order. */
  def seriesPoints(frames: Seq[Frame]): Vector[(Map[String, String], Long, Double)] = {
    var cur = Map.empty[String, String]
    val out = Vector.newBuilder[(Map[String, String], Long, Double)]
    frames.foreach {
      case SeriesF(t) => cur = t
      case PointsF(ts, vs) => ts.indices.foreach(i => out += ((cur, ts(i), vs(i))))
      case GroupF(_) => ()
    }
    out.result()
  }
}
