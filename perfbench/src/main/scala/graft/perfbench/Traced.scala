package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Collects the traced run's per-layer numbers and turns them into the
  * per-layer metrics. Each query is sent end to end first, then its
  * layers are replayed one by one; the transport share is the end-to-end
  * latency minus the layers' in-process time. */
final class Traced(spark: SparkSession, val tr: Tracer, ledger: Ledger) {
  import Traced.{Q, W}

  private val queries = mutable.ArrayBuffer.empty[Q]
  private val writes = mutable.ArrayBuffer.empty[W]
  private val untraced = mutable.ArrayBuffer.empty[Routes.Done]
  private val untracedWrites = mutable.ArrayBuffer.empty[Double]
  private var floorGrpc = 0.0
  private var floorHttp = 0.0
  private val chunkCounts = mutable.ArrayBuffer.empty[Int]
  private val chunkListMs = mutable.ArrayBuffer.empty[Double]
  private var storedBytes = 0L

  /** Median latency of the cheapest call on each transport. */
  def measureFloors(s: Server, n: Int = 20): Unit = {
    floorGrpc = Stats.median((1 to n).map(_ => Timing.timed(Wire.capabilities(s.rpc))._2))
    floorHttp = Stats.median((1 to n).map(_ => Timing.timed(Wire.health(s.http))._2))
  }

  /** An untraced single-client query: the baseline for the overhead
    * and the per-route latencies. */
  def untracedQuery(s: Server, db: Db, q: Routes.Query, model: Model): Routes.Done = {
    val d = q.run(s, db, model)
    ledger.record(s"untraced ${q.route}", d.error)
    untraced += d
    d
  }

  def untracedWrite(s: Server, w: Write): Unit = {
    val (ms, err) = w.send(s)
    ledger.record(s"untraced ${w.route}", err)
    untracedWrites += ms
  }

  private var untracedFirst = false

  /** Runs the untraced and the traced twin of one operation, which one
    * goes first alternating from call to call. */
  def paired(untraced: => Unit, traced: => Unit): Unit = {
    untracedFirst = !untracedFirst
    if (untracedFirst) { untraced; traced } else { traced; untraced }
  }

  def query(s: Server, db: Db, q: Routes.Query, model: Model): Routes.Done = {
    val req = tr.nextRequest()
    val (d, _) = tr.span(s"request.${q.route}", req)(q.run(s, db, model))
    ledger.record(s"traced ${q.route}", d.error)
    val (layers, _) = tr.span("layers", req)(q.layers(spark, s, db, tr, req))
    val work = tr.counter.forSpan(layers.plan.id) + tr.counter.forSpan(layers.exec.id)
    queries += Q(d, layers, work)
    d
  }

  def write(s: Server, w: Write): Unit = {
    val req = tr.nextRequest()
    val fromMs = System.currentTimeMillis()
    val ((ms, err), _) = tr.span(s"request.${w.route}", req)(w.send(s))
    val toMs = System.currentTimeMillis()
    ledger.record(s"traced ${w.route}", err)
    val dec = WriteLayers.decode(w, spark, tr, req)
    writes += W(w.route, ms, dec, w.points.size, tr.counter.inWindow(fromMs, toMs))
  }

  def listChunks(s: Server, db: Db): Unit = {
    val (r, ms) = Timing.timed(Wire.chunks(s.http, db.orgHex, db.bucketHex))
    ledger.record("chunk list", r.value.left.toOption)
    r.value.foreach(m => chunkCounts += m.getOrElse(Gen.Measurement, 0))
    chunkListMs += ms
  }

  def stored(bytes: Long): Unit = storedBytes = bytes

  def metrics: Seq[Metric] = {
    def mean(xs: Iterable[Double]) = Stats.mean(xs.toSeq)
    val out = mutable.ArrayBuffer.empty[Metric]
    def m(name: String, v: Double, unit: String): Unit = out += Metric(name, v, unit)

    val lp = writes.filter(_.route == "write_lp")
    val entry = writes.filter(_.route == "write_entry")
    m("sources.lp_parse_us_per_line",
      lp.map(_.dec.parseMs).sum * 1000.0 / math.max(1, lp.map(_.lines).sum), "us")
    m("sources.lp_frames_ms", mean(lp.map(_.dec.framesMs)), "ms")
    m("server.entry_decode_ms", mean(entry.map(_.dec.entryMs)), "ms")
    m("server.land_ms", mean(writes.map(w => w.ms - w.dec.totalMs -
      (if (w.route == "write_entry") floorGrpc else floorHttp))), "ms")
    m("server.jobs_per_write", mean(writes.map(_.work.jobs.toDouble)), "count")
    m("server.stored_bytes", storedBytes.toDouble, "B")
    m("server.chunks.first", chunkCounts.headOption.getOrElse(0).toDouble, "count")
    m("server.chunks.last", chunkCounts.lastOption.getOrElse(0).toDouble, "count")
    m("server.chunk_list_ms", mean(chunkListMs), "ms")
    m("server.transport_floor_grpc_ms", floorGrpc, "ms")
    m("server.transport_floor_http_ms", floorHttp, "ms")

    m("operators.view_build_ms", mean(queries.map(_.layers.view.ms)), "ms")
    m("operators.view_build_ms.first", queries.head.layers.view.ms, "ms")
    m("operators.view_build_ms.last", queries.last.layers.view.ms, "ms")
    m("operators.view_plan_nodes", queries.last.layers.viewNodes.toDouble, "count")
    m("operators.scan_rows_per_result_row", queries.map(_.layers.scannedRows).sum.toDouble /
      math.max(1L, queries.map(_.layers.resultRows).sum), "ratio")

    Routes.All.foreach { r =>
      val qs = queries.filter(_.done.route == r)
      val un = untraced.filter(_.route == r)
      m(s"route.${r}_p50_ms", if (un.isEmpty) 0.0 else Stats.median(un.map(_.ms).toSeq), "ms")
      m(s"operators.plan_ms.$r", mean(qs.map(_.layers.plan.ms)), "ms")
      m(s"operators.exec_ms.$r", mean(qs.map(_.layers.exec.ms)), "ms")
      m(s"operators.jobs_per_query.$r", mean(qs.map(_.work.jobs.toDouble)), "count")
      m(s"operators.task_ms_per_query.$r", mean(qs.map(_.work.taskMs.toDouble)), "ms")
      m(s"operators.shuffle_bytes_per_query.$r",
        mean(qs.map(_.work.shuffleBytes.toDouble)), "B")
      if (r != "influxql")
        m(s"server.encode_ms.$r", mean(qs.flatMap(_.layers.encodeMs)), "ms")
      m(s"server.bytes_out.$r", mean(qs.map(_.done.bytes.toDouble)), "B")
      m(s"server.transport_ms.$r", mean(qs.map(q => q.done.ms - q.layers.totalMs)), "ms")
    }

    // overhead: the same operations, traced minus untraced
    val withWrites = untracedWrites.nonEmpty
    val tracedE2e = mean(queries.map(_.done.ms) ++
      (if (withWrites) writes.map(_.ms) else Nil))
    val untracedE2e = mean(untraced.map(_.ms) ++ untracedWrites)
    m("trace.untraced_e2e_ms", untracedE2e, "ms")
    m("trace.traced_e2e_ms", tracedE2e, "ms")
    m("trace.overhead_ms", tracedE2e - untracedE2e, "ms")

    // the rise from the first traced query to the last, end to end and
    // summed over the blocking layers
    val first = queries.head
    val last = queries.last
    val rise = last.done.ms - first.done.ms
    val layersRise = last.layers.totalMs - first.layers.totalMs
    m("trace.probe_rise_ms", rise, "ms")
    m("trace.probe_rise_layers_ms", layersRise, "ms")
    m("trace.probe_rise_unexplained_ms", rise - layersRise, "ms")
    out.toSeq
  }
}

object Traced {
  private final case class Q(done: Routes.Done, layers: Routes.Layers, work: SparkWork)
  private final case class W(route: String, ms: Double, dec: WriteLayers.Decoded,
      lines: Int, work: SparkWork)
}
