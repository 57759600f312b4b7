package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.BeforeAndAfterAll

import graft.server.{ArrowIpc, FlightGrpc, GrpcClient, HttpFacade, IoxGrpc, StorageGrpc, StorageProto, StorageProtoReader => R}

/** One storage request, three ways in: gRPC over real HTTP/2, the HTTP
  * route with a protobuf body and the HTTP route with the JSON spelling.
  * Every way must answer with the same bytes, or fail alike. */
class StorageParitySpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val facade = new HttpFacade(spark, port = 0, clockNs = () => 42L)
  private lazy val grpc = IoxGrpc.start(facade)

  /** The database read_source (0xab, 0xcd) renders to. */
  private val Db = "00000000000000ab_00000000000000cd"

  override def beforeAll(): Unit = {
    super.beforeAll()
    val (status, _) = http(
      "/api/v2/write?org=00000000000000ab&bucket=00000000000000cd",
      ("cpu,host=a usage=1.5 100\ncpu,host=a usage=2.5 200\n" +
        "cpu,host=b usage=5.0 100\n" +
        "mem,host=a,region=r free=10.0,load=3i 150").getBytes(UTF_8))
    assert(status == 204)
  }

  override def afterAll(): Unit = {
    try { grpc.stop(); facade.stop() } finally super.afterAll()
  }

  private def http(path: String, body: Array[Byte], method: String = "POST",
      contentType: Option[String] = None): (Int, Array[Byte]) = {
    val conn = new URI(s"http://127.0.0.1:${facade.boundPort}$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method); conn.setDoOutput(true)
    contentType.foreach(conn.setRequestProperty("Content-Type", _))
    conn.getOutputStream.write(body); conn.getOutputStream.close()
    val status = conn.getResponseCode
    val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
    (status, if (is == null) Array.emptyByteArray else is.readAllBytes())
  }

  private def msg(f: StorageProto.Writer => Unit): Array[Byte] = {
    val w = new StorageProto.Writer; f(w); w.result()
  }
  private def source(org: Long, bucket: Long) =
    msg(s => s.string(1, "type.googleapis.com/ReadSource")
      .bytes(2, msg(rs => rs.varintField(1, org).varintField(2, bucket))))
  private val src = source(0xab, 0xcd)
  private def range(start: Long, end: Long) =
    msg(r => r.varintField(1, start).varintField(2, end))
  private def tagRef(b: Array[Byte]) = msg(w => w.varintField(1, 3).bytes(9, b))
  private def litStr(s: String) = msg(w => w.varintField(1, 4).string(3, s))
  private def cmpEq(l: Array[Byte], v: String) = msg(w => w.varintField(1, 1)
    .bytes(2, l).bytes(2, litStr(v)).varintField(12, R.Cmp.Equal))
  private def and(a: Array[Byte], b: Array[Byte]) =
    msg(w => w.varintField(1, 0).bytes(2, a).bytes(2, b))
  private def predicate(root: Array[Byte]) = msg(w => w.bytes(1, root))
  private def isCpu = cmpEq(tagRef(Array(0x00.toByte)), "cpu")

  /** The snake_case HTTP name of a gRPC method name. */
  private def snake(method: String) =
    method.replaceAll("([a-z])([A-Z])", "$1_$2").toLowerCase

  /** (way, ok, body) of each way in; gRPC's streamed messages concatenate
    * into the one body the HTTP route sends. */
  private def threeWays(method: String, proto: Array[Byte], json: String)
      : Seq[(String, Boolean, Seq[Byte])] = {
    val (gs, gm) = GrpcClient.call(grpc.boundPort,
      StorageGrpc.ServicePrefix + method, proto)
    val (ps, pb) = http(s"/api/v1/storage/${snake(method)}", proto,
      contentType = Some("application/x-protobuf"))
    val (js, jb) = http(s"/api/v1/storage/${snake(method)}", json.getBytes(UTF_8))
    Seq(("grpc", gs == 0, gm.flatten),
      ("http protobuf", ps == 200, if (ps == 200) pb.toSeq else Nil),
      ("http json", js == 200, if (js == 200) jb.toSeq else Nil))
  }

  private def assertParity(method: String, proto: Array[Byte], json: String,
      ok: Boolean): Seq[Byte] = {
    val ways = threeWays(method, proto, json)
    ways.foreach { case (way, success, _) =>
      assert(success == ok, s"$method over $way: success=$success")
    }
    val bodies = ways.map(_._3).distinct
    assert(bodies.size == 1, s"$method bodies differ: " +
      ways.map { case (w, _, b) => s"$w=${b.size}B" }.mkString(", "))
    bodies.head
  }

  private def stringValues(resp: Seq[Byte]): Seq[String] = {
    val r = new R.Reader(resp.toArray)
    val out = Seq.newBuilder[String]
    while (r.hasMore) r.key() match {
      case (1, 2) => out += new String(r.bytesField(), UTF_8)
      case (_, wt) => r.skip(wt)
    }
    out.result()
  }

  test("every storage data method answers byte-identically over gRPC, " +
      "HTTP protobuf and HTTP JSON") {
    val cases: Seq[(String, Array[Byte], String)] = Seq(
      ("ReadFilter", msg { b => b.bytes(1, src).bytes(2, range(0, 1000))
        b.bytes(3, predicate(and(isCpu, cmpEq(tagRef("host".getBytes(UTF_8)), "a")))) },
        s"""{"database_name":"$Db","table":"cpu","start":0,"stop":1000,""" +
          """"tag_eq":{"host":"a"}}"""),
      ("ReadGroup", msg { b => b.bytes(1, src).bytes(3, predicate(isCpu))
        b.bytes(4, "host".getBytes(UTF_8)).varintField(5, 2)
        b.bytes(6, msg(a => a.varintField(1, 1))) },
        s"""{"database_name":"$Db","table":"cpu","aggregate":"sum",""" +
          """"group_keys":["host"]}"""),
      ("ReadWindowAggregate", msg { b => b.bytes(1, src).bytes(3, predicate(isCpu))
        b.varintField(4, 100L).bytes(5, msg(a => a.varintField(1, 1))) },
        s"""{"database_name":"$Db","table":"cpu","aggregate":"sum",""" +
          """"window_every":100}"""),
      ("TagKeys", msg(b => b.bytes(1, src).bytes(3, predicate(isCpu))),
        s"""{"database_name":"$Db","table":"cpu"}"""),
      ("TagKeys", msg(b => b.bytes(1, src)), s"""{"database_name":"$Db"}"""),
      ("TagValues", msg(b => b.bytes(1, src).bytes(4, "host".getBytes(UTF_8))),
        s"""{"database_name":"$Db","tag_key":"host"}"""),
      ("TagValues", msg(b => b.bytes(1, src).bytes(4, Array(0xff.toByte))),
        s"""{"database_name":"$Db","tag_key":"_field"}"""),
      ("MeasurementNames", msg(b => b.bytes(1, src).bytes(2, range(200, 300))),
        s"""{"database_name":"$Db","start":200,"stop":300}"""),
      ("MeasurementTagKeys", msg(b => b.bytes(1, src).string(2, "mem")),
        s"""{"database_name":"$Db","measurement":"mem"}"""),
      ("MeasurementTagValues", msg { b => b.bytes(1, src).string(2, "cpu")
        b.bytes(3, "host".getBytes(UTF_8)) },
        s"""{"database_name":"$Db","measurement":"cpu","tag_key":"host"}"""),
      ("MeasurementFields", msg(b => b.bytes(1, src).string(2, "mem")),
        s"""{"database_name":"$Db","measurement":"mem"}"""),
      ("ReadSeriesCardinality", msg(b => b.bytes(1, src)),
        s"""{"database_name":"$Db"}"""))
    assert(cases.map(_._1).distinct.size == 10, "the ten data methods")
    val bodies = cases.map { case (m, proto, json) =>
      m -> assertParity(m, proto, json, ok = true)
    }
    // the answers are the data's, not three identical empties
    assert(bodies.forall(_._2.nonEmpty))
    assert(stringValues(bodies(5)._2) == Seq("a", "b"))
    assert(stringValues(bodies(7)._2) == Seq("cpu"))

    // failures fail on every way in
    assertParity("ReadFilter", msg(b => b.bytes(1, src)),
      s"""{"database_name":"$Db"}""", ok = false) // no measurement
    assertParity("ReadFilter", msg { b => b.bytes(1, src)
      b.bytes(3, predicate(cmpEq(tagRef(Array(0x00.toByte)), "nope"))) },
      s"""{"database_name":"$Db","table":"nope"}""", ok = false)
    assertParity("ReadWindowAggregate", msg { b => b.bytes(1, src)
      b.bytes(3, predicate(isCpu)).bytes(5, msg(a => a.varintField(1, 1))) },
      s"""{"database_name":"$Db","table":"cpu","aggregate":"sum"}""",
      ok = false) // no window width
    assertParity("TagValues", msg(b => b.bytes(1, src)),
      s"""{"database_name":"$Db"}""", ok = false) // no tag key
  }

  test("an unknown database is refused on every transport, not answered " +
      "as empty") {
    val unknown = source(0x1, 0x2)
    for (m <- Seq("MeasurementNames", "TagKeys", "TagValues",
        "ReadSeriesCardinality")) {
      val req = msg { b => b.bytes(1, unknown)
        if (m == "TagValues") b.bytes(4, "host".getBytes(UTF_8)) }
      val (status, _) = GrpcClient.call(grpc.boundPort,
        StorageGrpc.ServicePrefix + m, req)
      assert(status != 0, s"gRPC $m answered an unknown database")
      val (hs, _) = http(s"/api/v1/storage/${snake(m)}", req,
        contentType = Some("application/x-protobuf"))
      assert(hs == 404, s"HTTP $m: $hs")
    }
  }

  test("_measurement tag values name the scoped measurement only when one " +
      "of its rows passes the predicate") {
    // cpu has rows at 100 and 200, mem at 150
    def measurementValues(start: Long, stop: Long): Seq[String] =
      stringValues(assertParity("MeasurementTagValues",
        msg { b => b.bytes(1, src).string(2, "cpu")
          b.bytes(3, Array(0x00.toByte)).bytes(4, range(start, stop)) },
        s"""{"database_name":"$Db","measurement":"cpu",""" +
          s""""tag_key":"_measurement","start":$start,"stop":$stop}""",
        ok = true))
    assert(measurementValues(0, 1000) == Seq("cpu"))
    assert(measurementValues(150, 160) == Nil)
  }

  test("a created but never written database answers alike on both " +
      "transports") {
    val rules = graft.streaming.DatabaseRules.toJson(
      graft.streaming.DatabaseRules("created_db"))
    assert(http("/iox/api/v1/databases/created_db/rules",
      rules.getBytes(UTF_8), method = "PUT")._1 == 200)

    val sql = "SELECT 7 AS x"
    val viaHttp = HttpFacade.doGet(facade.boundPort, "created_db", sql)
    val ticket = msg(_.bytes(1,
      s"""{"database_name":"created_db","sql_query":"$sql"}""".getBytes(UTF_8)))
    val (fs, fdata) = GrpcClient.call(grpc.boundPort,
      FlightGrpc.ServicePrefix + "DoGet", ticket)
    assert(fs == 0, s"flight grpc-status $fs")
    val viaGrpc = ArrowIpc.readStream(
      new java.io.ByteArrayInputStream(FlightGrpc.flightDataToIpc(fdata)))
    assert(viaHttp == viaGrpc)
    assert(viaHttp._1 == Seq("x") && viaHttp._2.size == 1)

    // and the storage metadata of its (no) measurements is empty, not 404
    val (hs, names) = http("/api/v1/storage/measurement_names",
      """{"database_name":"created_db"}""".getBytes(UTF_8))
    assert(hs == 200 && stringValues(names.toSeq) == Nil)
  }
}
