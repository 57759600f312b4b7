package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Serving benchmark entry point.
  *
  * {{{
  * Main --workload <query_mix|write_read_growth> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir> --record <file>
  * }}}
  *
  * Runs one workload against the real HTTP facade and gRPC endpoint in
  * this JVM, checks every answer, writes the full record (environment,
  * metrics, failures, spans when traced) to `--record`, and prints the
  * result object as the last line of stdout. `perfbench/run.py` builds
  * the program and wraps this main; see `perfbench/README.md`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val record = Paths.get(opts("record"))
    require(Seq("query_mix", "write_read_growth").contains(workload),
      s"unknown workload $workload")
    Files.createDirectories(work)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sparkStartS = (System.nanoTime() - t0) / 1e9

    val ledger = new Ledger
    val traced = if (trace) Some(new Traced(spark, new Tracer(spark), ledger)) else None
    val outcome =
      try {
        if (workload == "query_mix") QueryMix.run(spark, work, seed, seconds, ledger, traced)
        else Growth.run(spark, work, seed, seconds, ledger, traced)
      } catch {
        case e: Throwable =>
          ledger.record("workload", Some(s"${e.getClass.getName}: ${e.getMessage}"))
          e.printStackTrace()
          Outcome(Nil, Nil)
      }
    traced.foreach { t =>
      t.tr.writeJsonl(Paths.get(record.toString.stripSuffix(".json") + ".spans.jsonl"))
      t.tr.stop()
    }

    val correct = ledger.failedCount == 0 && outcome.metrics.nonEmpty
    val env = Seq(
      "workload" -> workload, "seed" -> seed.toString, "seconds" -> seconds.toString,
      "trace" -> (if (trace) "1" else "0"),
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "spark_graft_cpus" -> cpus,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory() / (1024 * 1024)).toString,
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "flush_policy" -> Server.FlushPolicy,
      "spark_start_s" -> f"$sparkStartS%.3f",
      "jvm_uptime_s" -> f"${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.3f") ++
      outcome.info
    def js(s: String) = graft.core.Json.str(s)
    val metricsJson = outcome.metrics.map(m =>
      s"${js(m.name)}:{\"value\":${num(m.value)},\"unit\":${js(m.unit)}}").mkString("{", ",", "}")
    val full = s"""{"env":${env.map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString("{", ",", "}")},""" +
      s""""correct":$correct,"attempted":${ledger.attemptedCount},"failed":${ledger.failedCount},""" +
      s""""failed_frac":${num(ledger.failedCount.toDouble / math.max(1L, ledger.attemptedCount))},""" +
      s""""failures":${ledger.failures.map(js).mkString("[", ",", "]")},""" +
      s""""metrics":$metricsJson}"""
    Files.createDirectories(Option(record.getParent).getOrElse(Paths.get(".")))
    Files.write(record, (full + "\n").getBytes(UTF_8))
    // no spark.stop(): the JVM exits next and run.py removes the work
    // directory, so an orderly shutdown would only lengthen every run
    println(s"""{"correct":$correct,"attempted":${ledger.attemptedCount},""" +
      s""""failed":${ledger.failedCount},"metrics":$metricsJson}""")
    System.exit(0)
  }

  /** A JSON number with every digit the double carries. */
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
