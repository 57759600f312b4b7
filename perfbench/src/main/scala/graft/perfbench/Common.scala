package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.server.{GrpcServer, HttpFacade, IoxGrpc}

/** The program under test: the HTTP facade and the gRPC endpoint on one
  * durable data directory. Every acknowledged write is written through
  * to parquet under `dataDir` before the ack (the facade's only flush
  * policy when a data directory is set). */
final class Server(spark: SparkSession, val dataDir: Path) {
  val facade = new HttpFacade(spark, port = 0, dataDir = Some(dataDir.toString))
  val grpc: GrpcServer = IoxGrpc.start(facade)
  def http: Int = facade.boundPort
  def rpc: Int = grpc.boundPort
  def stop(): Unit = { grpc.stop(); facade.stop() }
}

object Server {
  val FlushPolicy = "write-through: each acknowledged write is a parquet chunk in dataDir before the ack"
}

/** A database addressed three ways: HTTP `org`/`bucket`, the gRPC read
  * source ids, and the `<org>_<bucket>` name both resolve to. */
final case class Db(org: Long, bucket: Long) {
  val orgHex: String = f"$org%016x"
  val bucketHex: String = f"$bucket%016x"
  val name: String = s"${orgHex}_$bucketHex"
  val source: Array[Byte] = Wire.readSource(org, bucket)
}

/** Operation ledger: every attempted operation, and why any failed.
  * A wrong answer is a failure like an error status is. */
final class Ledger {
  private val attempted = new AtomicLong
  private val failed = new AtomicLong
  private val reasons = new ConcurrentLinkedQueue[String]()

  def record(op: String, error: Option[String]): Boolean = {
    attempted.incrementAndGet()
    error.foreach { e =>
      failed.incrementAndGet()
      if (reasons.size < 20) reasons.add(s"$op: ${e.take(400)}")
    }
    error.isEmpty
  }

  /** Runs `body`, turning an exception into a recorded failure. */
  def check(op: String)(body: => Option[String]): Boolean =
    record(op, try body catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    })

  def attemptedCount: Long = attempted.get()
  def failedCount: Long = failed.get()
  def failures: Seq[String] = reasons.asScala.toSeq
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), q in [0, 100]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Peak live heap over a measured region: the most heap in use right
  * after any collection, and after one full collection at the end. The
  * pools' raw peaks mostly show how far the collector let eden fill
  * before collecting; heap in use after a collection is what the program
  * keeps. */
final class HeapWatch {
  import java.lang.management.ManagementFactory
  import com.sun.management.GarbageCollectionNotificationInfo
  private val peak = new AtomicLong
  private val listener: javax.management.NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
      peak.accumulateAndGet(info.getGcInfo.getMemoryUsageAfterGc.values.asScala
        .map(_.getUsed).sum, math.max)
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Stops watching; returns the peak in MB. */
  def stopMb(): Double = {
    System.gc()
    peak.accumulateAndGet(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed, math.max)
    emitters.foreach(_.removeNotificationListener(listener))
    peak.get / (1024.0 * 1024.0)
  }
}

/** Machine speed around the timed region, from a fixed cpu-bound kernel
  * run on every cpu at once. On a shared host a neighbour's load (time
  * the hypervisor steals, contended cores) slows everything the
  * benchmark times, and the kernel slows with it, while nothing the
  * program does changes the kernel. A run's timings are reported divided
  * by its factor (kernel time over its time on a quiet 4-cpu reference
  * host), so runs from busy and quiet periods compare; the record keeps
  * the raw timings and the factor. The kernel is not run right after the
  * warm-up, where the JIT's own threads would slow it. */
object Calibration {
  /** The kernel's median time on the quiet reference host. */
  val ReferenceMs = 100.0

  private def kernel(iters: Int): Long = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    acc
  }

  private def once(threads: Int): Double = {
    val sink = new AtomicLong
    val t0 = System.nanoTime()
    (1 to threads).map { _ =>
      val t = new Thread(() => { sink.addAndGet(kernel(40000000)); () })
      t.start(); t
    }.foreach(_.join())
    Stats.ms(t0, System.nanoTime())
  }

  /** Kernel time on every cpu (median of five after one warm run) over
    * the reference time. */
  def factor(): Double = {
    val threads = Runtime.getRuntime.availableProcessors()
    once(threads)
    Stats.median((1 to 5).map(_ => once(threads))) / ReferenceMs
  }

  /** `body`'s result and the mean of the factors taken before and after it. */
  def around[A](body: => A): (A, Double) = {
    val before = factor()
    val a = body
    (a, (before + factor()) / 2)
  }
}

/** One metric line of the result: name, value and unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run reports. */
final case class Outcome(metrics: Seq[Metric], info: Seq[(String, String)])

object Timing {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, Stats.ms(t0, System.nanoTime()))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(Files.deleteIfExists)
      finally s.close()
    }
}

object Warmup {
  /** Runs `body` once per route, four routes at a time, so the first
    * compilation of each route's generated code overlaps. */
  def routes(rs: Seq[String])(body: String => Unit): Unit =
    rs.grouped(math.max(1, rs.size / 4)).toSeq.map { group =>
      val th = new Thread(() => group.foreach(body))
      th.start(); th
    }.foreach(_.join())
}
