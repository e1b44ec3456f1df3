package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's own spans, kept in memory and written out once at the
  * end of a run.
  *
  * Call spans come from the client loop (one per registry call, ingest
  * trigger and lookup). Job, stage, trigger and SQL-execution spans come
  * from the three public listener interfaces, attached only while a traced
  * pass runs. A job names its parent through local properties: the
  * client's [[Tracer.CallKey]] for calls, and Spark's own
  * `sql.streaming.queryId` / `streaming.sql.batchId` for stream jobs. It
  * also carries its SQL execution id, whose start event holds the call
  * site of the action that caused it, also for the jobs Spark starts on
  * helper threads (adaptive query stages, broadcasts).
  * Times are epoch milliseconds. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private def add(span: Map[String, Any]): Unit =
    spans.synchronized(spans += span)

  def all: Seq[Map[String, Any]] = spans.synchronized(spans.toVector)

  // stage id -> (submission time, accumulated per-task sched wait ms)
  private val stageWait = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      add(Map("kind" -> "job", "id" -> s"j${e.jobId}", "start" -> e.time,
        "site" -> site, "call" -> prop(Tracer.CallKey),
        "exec" -> prop("spark.sql.execution.id"),
        "query" -> prop("sql.streaming.queryId"),
        "batch" -> prop("streaming.sql.batchId"),
        "stages" -> e.stageIds))
    }
    // the SQL execution's call site is the client thread's, even when all
    // of its jobs run on Spark's helper threads
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        add(Map("kind" -> "exec", "id" -> s"e${x.executionId}",
          "exec" -> x.executionId.toString, "start" -> x.time,
          "site" -> x.description))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add(Map("kind" -> "job_end", "id" -> s"j${e.jobId}", "end" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageWait.put(e.stageInfo.stageId,
        Array(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()), 0L))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageWait.get(e.stageId)).foreach { w =>
        w.synchronized(w(1) += (e.taskInfo.launchTime - w(0)).max(0L))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val wait = Option(stageWait.remove(s.stageId)).map(_(1)).getOrElse(0L)
      add(Map("kind" -> "stage", "id" -> s"s${s.stageId}.${s.attemptNumber()}",
        "stage" -> s.stageId, "start" -> s.submissionTime.getOrElse(0L),
        "end" -> s.completionTime.getOrElse(0L), "tasks" -> s.numTasks,
        "cpu_ns" -> Option(m).map(t =>
          t.executorCpuTime + t.executorDeserializeCpuTime).getOrElse(0L),
        "input_bytes" -> Option(m).map(_.inputMetrics.bytesRead).getOrElse(0L),
        "input_records" -> Option(m).map(_.inputMetrics.recordsRead).getOrElse(0L),
        "output_bytes" -> Option(m).map(_.outputMetrics.bytesWritten).getOrElse(0L),
        "shuffle_bytes" -> Option(m).map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        "spill_bytes" -> Option(m).map(t =>
          t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L),
        "sched_wait_ms" -> wait))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      add(Map("kind" -> "trigger", "id" -> s"t${p.id}:${p.batchId}",
        "query" -> p.id.toString, "name" -> Option(p.name).getOrElse(""),
        "batch" -> p.batchId, "start" -> start,
        "end" -> (start + durations.getOrElse("triggerExecution", 0L)),
        "rows" -> p.numInputRows, "durations" -> durations,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "late_dropped" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum))
    }
  }

  private val executionListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = System.currentTimeMillis()
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      add(Map("kind" -> "sql", "id" -> s"x${qe.id}", "func" -> func,
        "start" -> (end - durationNs / 1000000), "end" -> end,
        "plan_ms" -> phases.values.sum, "phases" -> phases))
    }
    override def onFailure(func: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  /** Client-side span; recorded in every run, traced or not. `id` comes
    * from [[Tracer.nextCallId]] and was set as [[Tracer.CallKey]] while
    * the call ran. */
  def call(id: String, kind: String, name: String, pass: Int, start: Long,
           end: Long, attrs: Map[String, Any] = Map.empty): Unit =
    add(Map("kind" -> kind, "id" -> id, "name" -> name, "pass" -> pass,
      "start" -> start, "end" -> end) ++ attrs)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(executionListener)
  }

  /** Waits until every event posted so far has reached the listeners, then
    * detaches them, so a traced pass loses none of its tail events. */
  def detach(spark: SparkSession): Unit = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(executionListener)
  }
}

object Tracer {
  /** Local property carrying the client span id into every job a call
    * starts (and, through Spark's inheritance, into its helper threads). */
  val CallKey = "perfbench.call"
  private val ids = new java.util.concurrent.atomic.AtomicLong
  def nextCallId(): String = s"c${ids.incrementAndGet()}"
}
