package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Everything the benchmark observes from outside the library.
  *
  * Always on: a count of the streaming queries each registry call starts
  * (the workload drift guard). On while `tracing` is set: spans around the
  * harness's calls into the library, plus job, stage, task and micro-batch
  * records from Spark's public listener interfaces. Records stay in memory
  * and are written once, when the run ends.
  *
  * Jobs are attributed to the harness span that caused them through local
  * properties set around each call; threads the engine starts (the stream
  * execution thread) inherit them. Jobs run by a micro-batch also carry the
  * engine's own query-id and batch-id properties, which name their batch.
  */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall clock in epoch milliseconds with sub-millisecond resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  @volatile var tracing = false
  /** The trace id of the registry call in flight (closed loops run one). */
  @volatile var currentTrace = ""

  private val records = mutable.ArrayBuffer.empty[collection.Map[String, Any]]
  private def add(r: collection.Map[String, Any]): Unit = records.synchronized { records += r }

  private val streamRuns = new ConcurrentHashMap[String, java.util.Set[String]]()
  /** Distinct streaming query runs started while `trace` was in flight. */
  def streamsStarted(trace: String): Int =
    Option(streamRuns.get(trace)).map(_.size).getOrElse(0)

  private val ids = new AtomicLong
  private val stack = new java.util.ArrayDeque[Long]()

  /** Time `body` as a span named `name` of `trace`, child of the innermost
    * open span. Spans nest on the calling thread only. */
  def span[T](name: String, trace: String)(body: => T): T =
    if (!tracing) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val parent = Option(stack.peek())
      val prevTrace = sc.getLocalProperty(TraceKey)
      val prevSpan = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(TraceKey, trace)
      sc.setLocalProperty(SpanKey, id.toString)
      stack.push(id)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack.pop()
        sc.setLocalProperty(TraceKey, prevTrace)
        sc.setLocalProperty(SpanKey, prevSpan)
        add(Map("kind" -> "span", "id" -> s"h$id", "name" -> name, "trace" -> trace,
          "parent" -> parent.map(p => s"h$p"), "start" -> t0, "end" -> t1))
      }
    }

  // ---- Spark scheduler events -------------------------------------------

  private val stageSubmit = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val stageTasks = new ConcurrentHashMap[(Int, Int), StageAcc]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      add(Map("kind" -> "job_start", "job" -> e.jobId, "start" -> e.time.toDouble,
        "trace" -> prop(TraceKey), "span" -> prop(SpanKey).map("h" + _),
        "stream_query" -> prop(StreamQueryIdKey), "batch" -> prop(BatchIdKey)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing)
      add(Map("kind" -> "job_end", "job" -> e.jobId, "end" -> e.time.toDouble,
        "ok" -> (e.jobResult == JobSucceeded)))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (tracing) {
      val si = e.stageInfo
      si.submissionTime.foreach(t => stageSubmit.put((si.stageId, si.attemptNumber()), t))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tracing) {
      val key = (e.stageId, e.stageAttemptId)
      val acc = stageTasks.computeIfAbsent(key, _ => new StageAcc)
      val submitted = Option(stageSubmit.get(key)).map(_.longValue)
      acc.synchronized {
        acc.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) acc.failed += 1
        submitted.foreach(s => acc.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tracing) {
      val si = e.stageInfo
      val m = si.taskMetrics
      add(Map("kind" -> "stage", "stage" -> si.stageId, "attempt" -> si.attemptNumber(),
        "job" -> Option(stageJob.get(si.stageId)).map(_.intValue),
        "start" -> si.submissionTime.map(_.toDouble),
        "end" -> si.completionTime.map(_.toDouble),
        "run_ms" -> Option(m).map(_.executorRunTime),
        "cpu_ns" -> Option(m).map(_.executorCpuTime),
        "gc_ms" -> Option(m).map(_.jvmGCTime),
        "shuffle_write_bytes" -> Option(m).map(_.shuffleWriteMetrics.bytesWritten),
        "shuffle_read_bytes" -> Option(m).map(_.shuffleReadMetrics.totalBytesRead),
        "fetch_wait_ms" -> Option(m).map(_.shuffleReadMetrics.fetchWaitTime),
        "spill_bytes" -> Option(m).map(_.diskBytesSpilled),
        "input_rows" -> Option(m).map(_.inputMetrics.recordsRead),
        "input_bytes" -> Option(m).map(_.inputMetrics.bytesRead)))
    }
  }

  // ---- Structured Streaming events --------------------------------------

  private val runTrace = new ConcurrentHashMap[String, (String, Option[String], Double)]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val run = e.runId.toString
      streamRuns.computeIfAbsent(currentTrace, _ => ConcurrentHashMap.newKeySet[String]())
        .add(run)
      if (tracing) {
        // the stream thread inherits the starting thread's local properties
        val span = Option(spark.sparkContext.getLocalProperty(SpanKey)).map("h" + _)
        runTrace.putIfAbsent(run, (currentTrace, span, parseTs(e.timestamp)))
      }
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (tracing) {
        val p = e.progress
        val start = parseTs(p.timestamp)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        add(Map("kind" -> "batch", "run" -> p.runId.toString, "query" -> p.id.toString,
          "batch" -> p.batchId, "start" -> start,
          "end" -> (start + d.getOrElse("triggerExecution", 0L)),
          "trace" -> Option(runTrace.get(p.runId.toString)).map(_._1),
          "input_rows" -> p.numInputRows, "durations" -> d,
          "state" -> p.stateOperators.toSeq.map { s =>
            Map("rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
              "memory_bytes" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
              "update_ms" -> s.allUpdatesTimeMs)
          }))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Option(runTrace.remove(e.runId.toString)).foreach { case (trace, parent, start) =>
        add(Map("kind" -> "stream", "id" -> s"s${e.runId}", "run" -> e.runId.toString,
          "query" -> e.id.toString, "name" -> "stream", "trace" -> trace,
          "parent" -> parent, "start" -> start, "end" -> nowMs))
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  /** Wait until every event posted so far has reached the listeners. */
  def settle(): Unit = org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** All records, with each stage's task counts folded in. */
  def dump(): Seq[collection.Map[String, Any]] = {
    settle()
    records.synchronized(records.toList).map { r =>
      if (r("kind") != "stage") r
      else {
        val acc = Option(stageTasks.get((r("stage").asInstanceOf[Int], r("attempt").asInstanceOf[Int])))
        r ++ Map("tasks" -> acc.map(_.tasks).getOrElse(0),
          "tasks_failed" -> acc.map(_.failed).getOrElse(0),
          "task_wait_ms" -> acc.map(_.waitMs).getOrElse(0L))
      }
    }
  }
}

object Recorder {
  private final class StageAcc {
    var tasks = 0
    var failed = 0
    var waitMs = 0L
  }

  val TraceKey = "perfbench.trace"
  val SpanKey = "perfbench.span"
  // set by the micro-batch engine on the jobs of each batch
  val StreamQueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"

  def parseTs(iso: String): Double = java.time.Instant.parse(iso).toEpochMilli.toDouble
}
