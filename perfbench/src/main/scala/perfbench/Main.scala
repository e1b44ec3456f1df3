package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark client JVM: one workload, one closed-loop client, one run.
  *
  * Arguments are `key=value` pairs written by run.py: workload, seed,
  * trace (0|1), cpus, data (table root), work (run directory), and per
  * workload `queries` (comma list) and `passes`, or `stream` (generated
  * envelope directory), `warmup_files` and `files_per_pass`. The run
  * writes `result.json` and `spans.jsonl` under `work`; run.py turns them
  * into metrics and checks every output. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val Array(k, v) = a.split("=", 2)
      k -> v
    }.toMap
    val work = opts("work")
    val cpus = opts("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // recentProgress must keep every trigger of a run: the gate sums the
      // watermark's late drops over it
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, opts, new Tracer)
    val result =
      try opts("workload") match {
        case "cdc_ingest" => CdcIngest(run)
        case _ => QueryBoard(run)
      } finally spark.stop()
    Files.writeString(Paths.get(work, "spans.jsonl"),
      run.tracer.all.map(json).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(work, "result.json"), json(result ++ Map(
      "host" -> Probe.host(cpus),
      "passes" -> run.passes)))
  }
}

/** State shared by the workloads of one run: options, the session, the
  * tracer, and the per-pass counters. */
final class Run(val spark: SparkSession, val opts: Map[String, String],
                val tracer: Tracer) {
  val seed: Long = opts("seed").toLong
  val traced: Boolean = opts("trace") == "1"
  val work: String = opts("work")
  val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Seconds since the JVM started: set-up time includes JVM start. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** A traced run starts with an untraced lead-in pass, the one that still
    * warms up, then attaches the listeners in the order untraced, traced,
    * traced, untraced (passes 1-4, repeating). Passes are not
    * interchangeable: the JIT still settles and, on cdc_ingest, the
    * serving state grows. This order cancels a linear trend between the
    * traced and the untraced passes, so their difference measures the
    * tracing overhead. Untraced runs never attach the listeners. */
  def isTraced(index: Int): Boolean = traced && (index % 4 == 2 || index % 4 == 3)

  /** The lead-in pass of a traced run, left out of the overhead. */
  def isLeadIn(index: Int): Boolean = traced && index == 0

  /** Runs one pass and records its counters and the live heap after it. */
  def pass(index: Int)(body: => Unit): Unit = {
    val withTrace = isTraced(index)
    if (withTrace) tracer.attach(spark)
    val t0 = System.currentTimeMillis()
    val s0 = Probe.sample()
    body
    val s1 = Probe.sample()
    val t1 = System.currentTimeMillis()
    if (withTrace) tracer.detach(spark)
    passes += s0.until(s1) ++ Map("pass" -> index, "traced" -> withTrace,
      "lead_in" -> isLeadIn(index),
      "start" -> t0, "end" -> t1, "live_heap_mb" -> Probe.liveHeapMb())
  }

  /** Runs `body` as one client call, tagging its jobs with the call id. */
  def call[T](kind: String, name: String, pass: Int)(body: => T)
      : (T, String, Long, Long) = {
    val id = Tracer.nextCallId()
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.CallKey, id)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try {
      val out = body
      (out, id, t0, System.nanoTime() - n0)
    } finally sc.setLocalProperty(Tracer.CallKey, null)
  }
}
