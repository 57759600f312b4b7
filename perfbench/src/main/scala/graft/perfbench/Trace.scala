package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Spark work attributed to a span or a time window. */
final case class SparkWork(jobs: Long, taskMs: Long, shuffleBytes: Long) {
  def +(o: SparkWork): SparkWork =
    SparkWork(jobs + o.jobs, taskMs + o.taskMs, shuffleBytes + o.shuffleBytes)
}

object SparkWork { val Zero: SparkWork = SparkWork(0, 0, 0) }

/** Benchmark-side Spark listener. Jobs carry the id of the span that
  * submitted them (a thread-local property the tracer sets around its own
  * calls); jobs submitted by server threads have none and are attributed
  * by submission time instead. Counters are read after the listener bus
  * drains, so late events are never lost. */
final class JobCounter(spark: SparkSession) extends SparkListener {
  import JobCounter.Job
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stageJob = TrieMap.empty[Int, Int]
  private val stageWork = TrieMap.empty[Int, SparkWork]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobCounter.SpanProp))).map(_.toLong).getOrElse(-1L)
    jobs.add(Job(e.jobId, span, e.time))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null)
      stageWork(e.stageInfo.stageId) = SparkWork(0, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
  }

  spark.sparkContext.addSparkListener(this)

  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain.drain(spark.sparkContext)

  private def workOf(sel: Job => Boolean): SparkWork = {
    drain()
    val ids = jobs.asScala.filter(sel).map(_.id).toSet
    val stages = stageJob.collect { case (s, j) if ids.contains(j) => s }
    stages.foldLeft(SparkWork(ids.size.toLong, 0, 0))((acc, s) =>
      acc + stageWork.getOrElse(s, SparkWork.Zero))
  }

  def forSpan(span: Long): SparkWork = workOf(_.span == span)
  /** Jobs without a span submitted in [fromMs, toMs]. */
  def inWindow(fromMs: Long, toMs: Long): SparkWork =
    workOf(j => j.span < 0 && j.submitMs >= fromMs && j.submitMs <= toMs)

  def stop(): Unit = spark.sparkContext.removeSparkListener(this)
}

object JobCounter {
  val SpanProp = "perfbench.span"
  private final case class Job(id: Int, span: Long, submitMs: Long)
}

/** One traced call: name, start and end (ns), parent span, request id. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder for the traced run: each span has a name,
  * start and end (ns), a parent span and a request id. Spans are kept
  * until the run ends and then written out as JSON lines. */
final class Tracer(spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = -1L }
  val counter = new JobCounter(spark)

  def nextRequest(): Long = ids.incrementAndGet()

  /** Runs `body` as span `name`; Spark jobs it submits on this thread
    * are tagged with the span id. Returns the result and the span. */
  def span[A](name: String, request: Long)(body: => A): (A, Span) = {
    val id = ids.incrementAndGet()
    val parent = current.get()
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(JobCounter.SpanProp)
    current.set(id)
    sc.setLocalProperty(JobCounter.SpanProp, id.toString)
    val t0 = System.nanoTime()
    try {
      val a = body
      val s = Span(id, name, parent, request, t0, System.nanoTime())
      done.add(s)
      (a, s)
    } finally {
      current.set(parent)
      sc.setLocalProperty(JobCounter.SpanProp, prevProp)
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":${graft.core.Json.str(s.name)},"parent":${s.parent},""" +
        s""""request":${s.request},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def stop(): Unit = counter.stop()
}

object Plans {
  /** Physical leaves of an executed plan, looking through adaptive
    * wrappers and materialized query stages. */
  def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case _ if p.children.isEmpty => Seq(p)
    case _ => p.children.flatMap(leaves)
  }

  /** Rows the scans under an executed plan produced. */
  def scannedRows(p: SparkPlan): Long =
    leaves(p).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum

  def nodeCount(df: org.apache.spark.sql.DataFrame): Int = {
    var n = 0
    df.queryExecution.analyzed.foreach(_ => n += 1)
    n
  }
}
