package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.SparkSession

import graft.perfbench.Gen.{StepNs, T0}
import graft.perfbench.Routes.Query

/** `write_read_growth`: rounds of small writes in lockstep, two writers
  * per round (HTTP LP and gRPC `WriteEntry`, each half of the round's
  * lines), so every write adds one chunk and the chunk count at each read
  * is fixed by the round index. Every `ProbeEvery` rounds a probe read,
  * rotating over the eight query routes, must return that round's rows.
  * At the first probe a parity probe compares HTTP SQL, gRPC ReadFilter
  * and Flight DoGet on the same rows; at the end a restart on the same
  * data directory must read back every acknowledged row. */
object Growth {
  val Rounds = 16
  val Lines = 200
  val RewriteShare = 0.05
  val ProbeEvery = 2
  /** Probes per probe point; with 8 points every route is read once. */
  val ProbesPerPoint = 1
  val SetupReps = 3

  final case class Round(writes: Seq[Write], probes: Seq[Query])

  def plan(data: Gen.GrowthData, db: Db): Vector[Round] =
    data.rounds.zipWithIndex.map { case (ps, r) =>
      val (a, b) = ps.zipWithIndex.partition(_._2 % 2 == 0)
      val writes = Seq(Write(a.map(_._1), viaGrpc = false, db),
        Write(b.map(_._1), viaGrpc = true, db))
      val point = (r + 1) / ProbeEvery - 1
      val probes = if ((r + 1) % ProbeEvery != 0) Nil else {
        val (from, to) = data.slab(r)
        (0 until ProbesPerPoint).map { k =>
          Query(Routes.All((point * ProbesPerPoint + k) % Routes.All.size), from, to, Nil, 1)
        }
      }
      Round(writes, probes)
    }

  final case class Cycle(writeMs: Seq[Double], probeMs: Seq[Double],
      visibleMs: Seq[Double], elapsedS: Double)

  /** Runs every round on `s`; writers of a round run concurrently and the
    * probes wait for both acks. */
  def cycle(s: Server, db: Db, data: Gen.GrowthData, rounds: Vector[Round],
      ledger: Ledger, traced: Option[Traced], base: Option[Server] = None): Cycle = {
    val pool = Executors.newFixedThreadPool(2)
    val writeMs = Vector.newBuilder[Double]
    val probeMs = Vector.newBuilder[Double]
    val visibleMs = Vector.newBuilder[Double]
    val start = System.nanoTime()
    var checksNs = 0L
    try rounds.zipWithIndex.foreach { case (round, r) =>
      val roundStart = System.nanoTime()
      traced match {
        case Some(t) => round.writes.foreach { w =>
          t.paired(base.foreach(t.untracedWrite(_, w)), t.write(s, w))
        }
        case None =>
          val fs = round.writes.map(w => pool.submit(new Callable[(Double, Option[String])] {
            def call(): (Double, Option[String]) = w.send(s)
          }))
          round.writes.zip(fs).foreach { case (w, f) =>
            val (ms, err) = f.get()
            ledger.record(w.route, err)
            writeMs += ms
          }
      }
      val model = new Model(data.fresh(r))
      val first = r + 1 == ProbeEvery
      if (round.probes.nonEmpty && (first || r + 1 == rounds.size))
        traced.foreach(_.listChunks(s, db))
      round.probes.zipWithIndex.foreach { case (q, k) =>
        val d = traced match {
          case Some(t) =>
            var d: Routes.Done = null
            t.paired(base.foreach(t.untracedQuery(_, db, q, model)),
              { d = t.query(s, db, q, model) })
            d
          case None =>
            val d = q.run(s, db, model)
            ledger.record(s"probe ${q.route}", d.error)
            d
        }
        probeMs += d.ms
        // visibility: from the round's first write to the first read
        // returning its rows
        if (k == 0) visibleMs += Stats.ms(roundStart, System.nanoTime())
      }
      if (round.probes.nonEmpty && first) {
        val t = System.nanoTime()
        parity(s, db, new Model(Gen.lastWriteWins(data.rounds.take(r + 1))),
          data.slab(r)._2, 7, ledger)
        checksNs += System.nanoTime() - t
      }
    } finally pool.shutdown()
    Cycle(writeMs.result(), probeMs.result(), visibleMs.result(),
      (System.nanoTime() - start - checksNs) / 1e9)
  }

  /** HTTP SQL, gRPC ReadFilter and Flight DoGet must return the same
    * (time, value) rows for one tag predicate, and they must be the
    * model's rows. */
  def parity(s: Server, db: Db, model: Model, end: Long, tagValue: Int,
      ledger: Ledger): Unit = ledger.check("parity") {
    val filter = Seq(3 -> tagValue)
    val want = model.select(T0, end, filter).map(p => (p.time, p.f)).toSet
    val sql = Query("sql_json", T0, end, filter, 0).sql
    val http = Wire.sql(s.http, db.name, sql, "json").value.map(b =>
      MiniJson.parse(b).asInstanceOf[Vector[Map[String, Any]]]
        .map(r => (r("time").asInstanceOf[Long], MiniJson.num(r(Gen.Field)))).toSet)
    val grpc = Wire.readFilter(s.rpc, Query("read_filter", T0, end, filter, 0)
      .grpcRequest(db)).value.map(fs => Wire.seriesPoints(fs).map(p => (p._2, p._3)).toSet)
    val flight = Wire.doGet(s.rpc, Wire.ticket(db.name, sql)).value.map(_._2
      .map(r => (r(3).asInstanceOf[Long], r(2).asInstanceOf[Double])).toSet)
    (http, grpc, flight) match {
      case (Right(h), Right(g), Right(f)) =>
        if (h == g && g == f && f == want) None
        else Some(s"routes disagree: http ${h.size} grpc ${g.size} flight ${f.size} " +
          s"model ${want.size} rows")
      case other => Some(s"parity call failed: $other")
    }
  }

  /** Stops `s`, opens a new server on the same data directory and
    * requires every acknowledged row back: per-tag counts and sums over
    * the whole table, last write winning. */
  def durability(spark: SparkSession, s: Server, db: Db, model: Model, end: Long,
      ledger: Ledger): Unit = {
    s.stop()
    val again = new Server(spark, s.dataDir)
    try {
      val d = Query("sql_csv", T0, end, Nil, 1).run(again, db, model)
      ledger.record("durability", d.error)
    } finally again.stop()
  }

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Int,
      ledger: Ledger, traced: Option[Traced]): Outcome = {
    val db = Db(0xb1, 0xc2)
    val warmDb = Db(0xb1, 0xff)
    val end = T0 + Rounds * Lines * StepNs
    // set-up: generate and encode, start the server, warm the write and
    // read paths on a separate warm-up database
    def setup(i: Int): (Server, Gen.GrowthData, Vector[Round], Double) = {
      val t0 = System.nanoTime()
      val data = Gen.growth(seed, Rounds, Lines, RewriteShare)
      val rounds = plan(data, db)
      val s = new Server(spark, work.resolve(s"data$i"))
      val warmData = Gen.growth(seed + 1, 1, Lines, 0.0)
      plan(warmData, warmDb).head.writes.foreach(w =>
        ledger.record(s"warm-up ${w.route}", w.send(s)._2))
      if (i == 0) Warmup.routes(Routes.All) { route =>
        val q = Query(route, T0, T0 + Lines * StepNs, Nil, 1)
        ledger.record(s"warm-up $route", q.run(s, warmDb, new Model(warmData.fresh(0))).error)
      }
      (s, data, rounds, Stats.ms(t0, System.nanoTime()))
    }
    // set-up 0 also warms every route and is not measured; the traced run
    // sets up only that once
    def rep(i: Int) = {
      val r = setup(i)
      if (i < SetupReps && traced.isEmpty) {
        r._1.stop(); Timing.deleteTree(work.resolve(s"data$i"))
      }
      r
    }
    val reps = (0 to (if (traced.isDefined) 0 else SetupReps)).map(rep)
    val (s, data, rounds, _) = reps.last
    val model = new Model(data.expected)
    traced match {
      case None =>
        val heapWatch = new HeapWatch
        val (c, cycleF) = Calibration.around(cycle(s, db, data, rounds, ledger, None))
        val heap = heapWatch.stopMb()
        val storedBytes = Stats.dirBytes(s.dataDir.resolve(db.name))
        val (_, durMs) = Timing.timed(durability(spark, s, db, model, end, ledger))
        val acked = data.rounds.iterator.map(_.size).sum
        Outcome(Seq(
          Metric("setup_s", Stats.median(reps.tail.map(_._4)) / 1000.0 / cycleF, "s"),
          Metric("query_p50_ms", Stats.pct(c.probeMs, 50) / cycleF, "ms"),
          Metric("query_p90_ms", Stats.pct(c.probeMs, 90) / cycleF, "ms"),
          Metric("queries_per_s", c.probeMs.size / c.elapsedS * cycleF, "1/s"),
          Metric("write_p50_ms", Stats.pct(c.writeMs, 50) / cycleF, "ms"),
          Metric("write_p90_ms", Stats.pct(c.writeMs, 90) / cycleF, "ms"),
          Metric("visible_p50_ms", Stats.pct(c.visibleMs, 50) / cycleF, "ms"),
          Metric("stored_bytes_per_row", storedBytes.toDouble / acked, "B"),
          Metric("heap_peak_mb", heap, "MB")),
          Seq("rounds" -> Rounds.toString, "writes" -> c.writeMs.size.toString,
            "probes" -> c.probeMs.size.toString, "acknowledged_rows" -> acked.toString,
            "timed_s" -> f"${c.elapsedS}%.3f", "durability_s" -> f"${durMs / 1000}%.3f",
            "speed_factor" -> f"$cycleF%.4f",
            "raw_query_p50_ms" -> f"${Stats.pct(c.probeMs, 50)}%.3f",
            "raw_write_p50_ms" -> f"${Stats.pct(c.writeMs, 50)}%.3f",
            "setup_ms" -> reps.map(r => f"${r._4}%.0f").mkString(" "),
            "probe_ms" -> c.probeMs.map(x => f"$x%.1f").mkString(" "),
            "cardinalities" -> Gen.cardinalities(data.expected).mkString("/")))
      case Some(t) =>
        t.measureFloors(s)
        // the untraced baseline runs the same rounds on a second server in
        // lockstep with the traced one, so both see the same JVM state
        val base = new Server(spark, work.resolve("base"))
        cycle(s, db, data, rounds, ledger, Some(t), Some(base))
        base.stop()
        t.stored(Stats.dirBytes(s.dataDir.resolve(db.name)))
        durability(spark, s, db, model, end, ledger)
        Outcome(t.metrics, Seq("rounds" -> Rounds.toString))
    }
  }
}
