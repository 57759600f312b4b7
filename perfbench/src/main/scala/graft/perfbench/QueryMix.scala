package graft.perfbench

import java.nio.file.Path
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.perfbench.Gen.{StepNs, T0}
import graft.perfbench.Routes.{Query, WindowNs}

/** `query_mix`: a table loaded by a few large writes (a share of its
  * points rewritten, so the upsert scan deduplicates), then closed-loop
  * clients each running a seeded sequence over the eight query routes. */
object QueryMix {
  val Rows = 12000
  val BaseWrites = 4
  val RewriteShare = 0.05
  /** Four clients, never more than the cpus. */
  val Clients: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  val SetupReps = 3
  val Db0 = Db(0xab, 0xcd)

  /** One query of `route` with seeded parameters over `rows` points. */
  def query(route: String, rng: SplittableRandom, rows: Int): Query = {
    val end = T0 + rows * StepNs
    route match {
      case "sql_csv" => Query(route, T0, end, Nil, rng.nextInt(3))
      case "sql_json" =>
        val from = T0 + rng.nextInt(rows - 500) * StepNs
        Query(route, from, from + 500 * StepNs, Nil, 0)
      case "influxql" =>
        val windows = ((end - T0) / WindowNs).toInt
        val from = T0 + rng.nextInt(windows - 20) * WindowNs
        Query(route, from, from + 20 * WindowNs, Nil, rng.nextInt(2))
      case "read_filter" => Query(route, T0, end, Seq(3 -> rng.nextInt(50)), 0)
      case "read_group" => Query(route, T0, end, Seq(3 -> rng.nextInt(50)), rng.nextInt(2))
      case "window_agg" => Query(route, T0, end, Seq(3 -> rng.nextInt(50)), 0)
      case "tag_values" => Query(route, T0, end, Nil, 1 + rng.nextInt(3))
      case "flight_doget" => Query(route, T0, end, Seq(1 -> rng.nextInt(10)), 0)
    }
  }

  /** Client `c`'s sequence: blocks of the eight routes, each block in a
    * seeded order, each query with seeded parameters. */
  def sequence(seed: Long, c: Int, blocks: Int): Vector[Query] = {
    val rng = new SplittableRandom(seed * 1000003L + c)
    Vector.fill(blocks) {
      val order = Routes.All.toArray
      for (i <- order.indices.reverse) {
        val j = rng.nextInt(i + 1)
        val t = order(i); order(i) = order(j); order(j) = t
      }
      order.toVector.map(query(_, rng, Rows))
    }.flatten
  }

  /** Odd base writes go over gRPC `WriteEntry`, the rest (and the
    * rewrite) over HTTP LP. */
  def writes(data: Gen.MixData): Vector[Write] =
    data.writes.zipWithIndex.map { case (ps, i) =>
      Write(ps, viaGrpc = i % 2 == 1 && i < BaseWrites, Db0)
    }

  /** Every route once, checked but not timed. */
  def warm(s: Server, seed: Long, model: Model, ledger: Ledger): Unit =
    Warmup.routes(Routes.All) { r =>
      val d = query(r, new SplittableRandom(seed), Rows).run(s, Db0, model)
      ledger.record(s"warm-up $r", d.error)
    }

  final case class Loaded(server: Server, setupMs: Double, visibleMs: Double,
      writeMs: Seq[Double])

  /** Set-up on a fresh data directory: generate and encode the writes,
    * start the server, load, and wait for the first full answer. */
  def load(spark: SparkSession, dir: Path, seed: Long, ledger: Ledger,
      traced: Option[Traced]): (Loaded, Model) = {
    val t0 = System.nanoTime()
    val data = Gen.mix(seed, Rows, BaseWrites, RewriteShare)
    val ws = writes(data)
    val model = new Model(data.expected)
    val s = new Server(spark, dir)
    val writeMs = ws.map { w =>
      traced match {
        case Some(t) => t.write(s, w); 0.0
        case None =>
          val (ms, err) = w.send(s)
          ledger.record(w.route, err)
          ms
      }
    }
    val lastWrite = System.nanoTime()
    val first = Query("sql_csv", T0, T0 + Rows * StepNs, Nil, 1).run(s, Db0, model)
    ledger.record("first read", first.error)
    val end = System.nanoTime()
    (Loaded(s, Stats.ms(t0, end), Stats.ms(lastWrite - (writeMs.last * 1e6).toLong, end),
      writeMs), model)
  }

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Int,
      ledger: Ledger, traced: Option[Traced]): Outcome = traced match {
    case Some(t) => runTraced(spark, work, seed, seconds, ledger, t)
    case None =>
      val data = Gen.mix(seed, Rows, BaseWrites, RewriteShare)
      // a first set-up warms every route (JIT, generated code) and is not
      // measured; then SetupReps measured set-ups, the last one serving
      val (w, wModel) = load(spark, work.resolve("warm"), seed, ledger, None)
      val warmupS = Timing.timed(warm(w.server, seed, wModel, ledger))._2 / 1000
      w.server.stop(); Timing.deleteTree(work.resolve("warm"))
      val reps = (0 until SetupReps).map { i =>
        val (l, model) = load(spark, work.resolve(s"data$i"), seed, ledger, None)
        if (i < SetupReps - 1) { l.server.stop(); Timing.deleteTree(work.resolve(s"data$i")) }
        (l, model)
      }
      val (loaded, model) = reps.last
      val s = loaded.server
      val storedBytes = Stats.dirBytes(s.dataDir.resolve(Db0.name))
      val seqs = (0 until Clients).map(c => sequence(seed, c, 64))
      val done = new ConcurrentLinkedQueue[Routes.Done]()
      val heapWatch = new HeapWatch
      val timedBefore = Calibration.factor()
      val start = System.nanoTime()
      val deadline = start + seconds * 1000000000L
      val ends = new java.util.concurrent.atomic.AtomicLong(start)
      val threads = seqs.zipWithIndex.map { case (qs, c) =>
        val th = new Thread(() => {
          var i = 0
          while (System.nanoTime() < deadline) {
            val d = qs(i % qs.size).run(s, Db0, model)
            ledger.record(d.route, d.error)
            done.add(d)
            ends.accumulateAndGet(System.nanoTime(), math.max)
            i += 1
          }
        }, s"client-$c")
        th.start(); th
      }
      threads.foreach(_.join())
      val elapsedS = (ends.get() - start) / 1e9
      val timedF = (timedBefore + Calibration.factor()) / 2
      val heap = heapWatch.stopMb()
      s.stop()
      val lat = done.asScala.toSeq.map(_.ms)
      val writeMs = reps.flatMap(_._1.writeMs)
      Outcome(Seq(
        Metric("setup_s", Stats.median(reps.map(_._1.setupMs)) / 1000.0 / timedF, "s"),
        Metric("query_p50_ms", Stats.pct(lat, 50) / timedF, "ms"),
        Metric("query_p90_ms", Stats.pct(lat, 90) / timedF, "ms"),
        Metric("queries_per_s", lat.size / elapsedS * timedF, "1/s"),
        Metric("write_p50_ms", Stats.pct(writeMs, 50) / timedF, "ms"),
        Metric("write_p90_ms", Stats.pct(writeMs, 90) / timedF, "ms"),
        Metric("visible_p50_ms", Stats.median(reps.map(_._1.visibleMs)) / timedF, "ms"),
        Metric("stored_bytes_per_row", storedBytes.toDouble / data.rows, "B"),
        Metric("heap_peak_mb", heap, "MB")),
        Seq("rows" -> Rows.toString, "load_writes" -> (BaseWrites + 1).toString,
          "clients" -> Clients.toString, "queries" -> lat.size.toString,
          "timed_s" -> f"$elapsedS%.3f", "warmup_s" -> f"$warmupS%.3f",
          "speed_factor" -> f"$timedF%.4f",
          "raw_query_p50_ms" -> f"${Stats.pct(lat, 50)}%.3f",
          "raw_write_p50_ms" -> f"${Stats.pct(writeMs, 50)}%.3f",
          "acknowledged_rows" -> data.rows.toString,
          "cardinalities" -> Gen.cardinalities(data.expected).mkString("/")) ++
          Routes.All.map { r =>
            val xs = done.asScala.toSeq.filter(_.route == r).map(_.ms)
            s"p50_ms.$r" -> (if (xs.isEmpty) "-" else f"${Stats.median(xs)}%.3f")
          })
  }

  /** The traced replay: one client, client 0's sequence, each query sent
    * both untraced and traced, the traced one with every layer replayed. */
  private def runTraced(spark: SparkSession, work: Path, seed: Long, seconds: Int,
      ledger: Ledger, t: Traced): Outcome = {
    val (loaded, model) = load(spark, work.resolve("data0"), seed, ledger, Some(t))
    val s = loaded.server
    t.measureFloors(s)
    t.listChunks(s, Db0)
    warm(s, seed, model, ledger)
    // each query is sent twice, untraced and traced (its layers then
    // replayed), the order alternating so that neither run always goes
    // second; whole blocks of the eight routes until the time is up
    val qs = sequence(seed, 0, 64)
    val deadline = System.nanoTime() + seconds * 1000000000L
    var n = 0
    while (n < qs.size && (n % Routes.All.size != 0 || System.nanoTime() < deadline)) {
      t.paired(t.untracedQuery(s, Db0, qs(n), model), t.query(s, Db0, qs(n), model))
      n += 1
    }
    t.listChunks(s, Db0)
    t.stored(Stats.dirBytes(s.dataDir.resolve(Db0.name)))
    s.stop()
    Outcome(t.metrics, Seq("traced_queries" -> n.toString))
  }
}
