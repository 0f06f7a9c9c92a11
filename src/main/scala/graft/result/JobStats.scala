package graft.result

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/**
 * Execution stats via SparkListener — the Spark-native stand-in for the
 * reference's per-task metric labels + invoker stats builder
 * (frocket/common/metrics.py, frocket/invoker/stats_builder.py; response
 * "stats" block in docs/api.md). Spark already measures everything the
 * reference hand-instruments; this just snapshots task metrics around one
 * query execution.
 */
object JobStats {

  /** One Spark job of a measurement: wall time from the job's start event
    * to its end event, and the tasks of its stages that ran (a stage an
    * earlier job already computed is skipped and counts none). */
  final case class Job(id: Int, description: String, wallMs: Long, tasks: Int)

  /** One completed stage of a measurement; `name` is its call site. */
  final case class Stage(id: Int, name: String, wallMs: Long, tasks: Int)

  /** One micro-batch of a streaming query that ran inside a measurement:
    * the query's name (its id if unnamed) and the batch's
    * `StreamingQueryProgress.durationMs` phases (`addBatch`, `getBatch`,
    * `queryPlanning`, `walCommit`, `triggerExecution`, …). */
  final case class Batch(query: String, batchId: Long, durationMs: Map[String, Long])

  /** `rowsScanned` and `bytesScanned` are the tasks' input records and
    * bytes: Parquet rows and bytes read, or, for a resident copy
    * (`Catalog.load`), the rows read from its persisted blocks and those
    * blocks' size as Spark's block manager accounts it (the estimated
    * in-memory size of the deserialized rows, or the on-disk size if
    * spilled), which is not the size of the part files. */
  final case class Snapshot(
      wallTimeMs: Long,
      tasks: Int,
      rowsScanned: Long,
      bytesScanned: Long,
      shuffleBytesWritten: Long,
      peakExecutionMemory: Long,
      executorRunMs: Long,
      jobs: Seq[Job] = Nil,
      stages: Seq[Stage] = Nil,
      batches: Seq[Batch] = Nil) {
    /** Engine-appropriate analog of the reference's per-query cost estimate
      * (invoker/stats_builder.py:42+, api.md "cost"): the reference prices
      * Lambda GB-seconds; on Spark the billable unit is executor-core time,
      * so report summed task run time as core-seconds. Cluster $/query =
      * coreSecs x the deployment's per-core-second rate. */
    def coreSecs: Double = executorRunMs / 1000.0
    /** Wall time outside every job: planning, driver-side collects and
      * result shaping (the reference's invoke-vs-task split). */
    def driverGapMs: Long = wallTimeMs - jobs.map(_.wallMs).sum
    /** Key → rendered-JSON-value pairs — callers composing a larger object
      * (ApiServer's stats block) append their own pairs instead of slicing
      * the serialized string. The job, stage and batch records are not
      * rendered. */
    def fields: Seq[(String, String)] = Seq(
      "wallTimeMs" -> wallTimeMs.toString,
      "tasks" -> tasks.toString,
      "rowsScanned" -> rowsScanned.toString,
      "bytesScanned" -> bytesScanned.toString,
      "shuffleBytesWritten" -> shuffleBytesWritten.toString,
      "peakExecutionMemory" -> peakExecutionMemory.toString,
      "coreSecs" -> coreSecs.toString)
    def toJson: String = toJsonWith()
    /** The stats object with `extra` (pre-rendered JSON values) appended as
      * trailing keys. */
    def toJsonWith(extra: (String, String)*): String =
      (fields ++ extra).map { case (k, v) => s""""$k": $v""" }
        .mkString("{", ", ", "}")
  }

  /** The scale probes' steady-state convention: run `body` twice and keep
    * the faster run's (result, snapshot) — even after a warmup, the first
    * full-occupancy pass at a new input size carries residual
    * JIT/page-cache warm-in on ambient-noisy hosts (measured up to 2.5×).
    */
  def minOf2[T](body: => (T, Snapshot)): (T, Snapshot) = {
    val a = body; val c = body
    if (c._2.wallTimeMs < a._2.wallTimeMs) c else a
  }

  /** The local-property key that tags every Spark job submitted inside one
    * [[measure]] call with its measurement's identity. Local properties are
    * thread-local on the driver and Spark SQL re-applies the submitting
    * query's properties on its internal execution threads
    * (broadcast-exchange / subquery pools via SQLExecution's thread-local
    * capture), so AQE stages, broadcast builds and subqueries all carry
    * the tag. */
  private val MeasureIdKey = "graft.stats.measureId"
  private val measureSeq = new AtomicLong()
  /** The local property a stream's jobs carry its query id in
    * (`StreamExecution.QUERY_ID_KEY`). */
  private val StreamQueryIdKey = "sql.streaming.queryId"

  /** Run `body` with a listener attached; returns its result plus the
    * aggregated task metrics of everything executed inside. Attribution is
    * per-measurement, not global (r15): the calling thread tags its jobs
    * with a unique local property, the listener collects that measurement's
    * stage ids at job start and counts ONLY tasks of those stages — so
    * concurrent queries (ApiServer's async/stream paths) no longer
    * cross-attribute rowsScanned/coreSecs, the cost basis (reference
    * parity: invoker/stats_builder.py prices each job's own tasks). The
    * same attribution yields the measurement's job and stage records, and
    * its streaming micro-batches: a stream started inside `body` runs on a
    * thread that inherits the tag, so its jobs carry it beside their
    * `sql.streaming.queryId`, and every `QueryProgressEvent` of such a
    * query id (posted to the same bus, after the batch's jobs) becomes a
    * [[Batch]]. `wallTimeMs` is the wall time of `body` alone. */
  def measure[T](spark: SparkSession)(body: => T): (T, Snapshot) = {
    val tasks = new AtomicInteger
    val rows = new AtomicLong
    val bytes = new AtomicLong
    val shuffle = new AtomicLong
    val peak = new AtomicLong
    val runMs = new AtomicLong
    val measureId = s"m${measureSeq.incrementAndGet()}"
    // Every stage of this measurement's jobs, mapped to the first job that
    // lists it: the job that runs it, since a later job reusing its output
    // skips it.
    val stageJob = new ConcurrentHashMap[Int, Int]()
    val jobStarts = new ConcurrentHashMap[Int, SparkListenerJobStart]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val stages = new ConcurrentHashMap[Int, Stage]()
    val streamIds = ConcurrentHashMap.newKeySet[String]()
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    val marker = new org.apache.spark.GraftListenerBus.Marker
    val settled = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(MeasureIdKey) == measureId) {
          e.stageIds.foreach(id => stageJob.putIfAbsent(id, e.jobId))
          jobStarts.put(e.jobId, e)
          Option(e.properties.getProperty(StreamQueryIdKey)).foreach(streamIds.add)
        }
      // Stage completions are posted before their job's end, so the job's
      // stages are all recorded by the time it ends.
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(e.jobId)).foreach { s =>
          // Most jobs set neither property: name them by their result
          // stage, the action's call site — the job's newest stage, as
          // Spark creates a job's parent stages before its result stage.
          val desc = Option(s.properties.getProperty("spark.job.description"))
            .orElse(Option(s.properties.getProperty("callSite.short")))
            .orElse(s.stageInfos.maxByOption(_.stageId).map(_.name.takeWhile(_ != '\n')))
            .getOrElse("?")
          val ran = s.stageIds.filter(id => stageJob.get(id) == e.jobId)
          jobs.add(Job(e.jobId, desc, e.time - s.time,
            ran.flatMap(id => Option(stages.get(id))).map(_.tasks).sum))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        if (stageJob.containsKey(si.stageId))
          stages.put(si.stageId, Stage(si.stageId, si.name.takeWhile(_ != '\n'),
            (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(0L),
            si.numTasks))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null && stageJob.containsKey(e.stageId)) {
          tasks.incrementAndGet()
          rows.addAndGet(m.inputMetrics.recordsRead)
          bytes.addAndGet(m.inputMetrics.bytesRead)
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          peak.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
          // Run time, not CPU time: a core blocked on shuffle I/O is still
          // a core the deployment pays for.
          runMs.addAndGet(m.executorRunTime)
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent if streamIds.contains(p.progress.id.toString) =>
          val q = p.progress
          batches.add(Batch(Option(q.name).getOrElse(q.id.toString), q.batchId,
            q.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
        case m if m eq marker => settled.countDown()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // Save/restore rather than set/clear: measure() nests (a probe
    // measuring a body that itself measures) and HTTP worker threads are
    // pooled — a leaked property would mis-tag the pool's next request.
    val outerId = spark.sparkContext.getLocalProperty(MeasureIdKey)
    spark.sparkContext.setLocalProperty(MeasureIdKey, measureId)
    val t0 = System.nanoTime()
    try {
      val result = body
      // The clock stops before the wait: the wall is the body's alone.
      val wallMs = (System.nanoTime() - t0) / 1000000
      // Listener events post asynchronously. Every job inside `body`
      // completed before body returned, so its events are already POSTED;
      // a marker posted now reaches this listener after all of them, as
      // its queue delivers in order. Waiting for the marker, not for the
      // whole bus to drain, leaves out the other queues, whose drain
      // polls with 10 ms sleeps (BENCH.md §"Registration in two jobs").
      // On timeout (5s — a flooded bus) proceed with what arrived.
      if (!spark.sparkContext.isStopped) {
        org.apache.spark.GraftListenerBus.post(spark.sparkContext, marker)
        settled.await(5000, java.util.concurrent.TimeUnit.MILLISECONDS)
      }
      (result, Snapshot(wallMs, tasks.get(),
        rows.get(), bytes.get(), shuffle.get(), peak.get(), runMs.get(),
        jobs.asScala.toSeq.sortBy(_.id), stages.values.asScala.toSeq.sortBy(_.id),
        batches.asScala.toSeq.sortBy(b => (b.query, b.batchId))))
    } finally {
      spark.sparkContext.setLocalProperty(MeasureIdKey, outerId)
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
