package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.catalog.Catalog
import graft.engine.{DatasetSpec, QueryEngine}
import graft.query.{QueryParser, SchemaValidator}
import graft.result.ResultJson
import graft.server.ApiServer

/**
 * JVM side of the query-service benchmark: hosts `ApiServer` in process on
 * a `local[cores]` SparkSession and drives it with one closed-loop client
 * (one thread, one keep-alive connection) over a fixed request list.
 *
 * `perfbench/run.py` writes the config (`plan.json`) and reads back:
 *  - `result.json`: setup times, the timed phase's wall time, `/metrics`
 *    counters, the live heap after a full GC;
 *  - `records.jsonl`: one line per timed request (status, round trip,
 *    response body), for the oracle check and the latency metrics;
 *  - with tracing on, `spans.jsonl` and `trace.json`: each request is
 *    followed by a replay through the modules' public functions in the
 *    order `ApiServer.query` calls them, every call wrapped in a span; a
 *    SparkListener attributes jobs, stages and tasks to the open span
 *    through a local property.
 */
object Harness {

  private implicit val formats: Formats = DefaultFormats

  final case class Request(kind: String, body: String, version: String)

  def main(args: Array[String]): Unit = {
    val cfg = JsonMethods.parse(new File(args(0)))
    val out = new File((cfg \ "outDir").extract[String])
    val launchedAtMs = (cfg \ "launchedAtMs").extract[Long]
    val cores = (cfg \ "cores").extract[Int]
    val setups = (cfg \ "setups").extract[Int]
    val cacheEntries = (cfg \ "cacheEntries").extract[Int]
    val routingMinBytes = (cfg \ "routingMinBytes").extractOpt[Long]
    val trace = (cfg \ "trace").extract[Boolean]
    val basepaths = (cfg \ "basepaths").extract[Map[String, String]]
    val warmup = (cfg \ "warmup").extract[Seq[String]]
    val prewarm = (cfg \ "prewarm").extract[Seq[String]]
    val requests = (cfg \ "requests").children.map { r =>
      Request((r \ "kind").extract[String], (r \ "body").extractOrElse[String](""),
        (r \ "version").extractOrElse[String]("v1"))
    }

    // ---- set-up, several times: the first from process launch (JVM,
    // SparkSession, server, registration, warm-up), the rest a fresh
    // server, registration and warm-up on the same SparkSession.
    val setupSecs = mutable.ArrayBuffer.empty[Double]
    val setupRegisterMs = mutable.ArrayBuffer.empty[Double]
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var session: Session = null
    for (k <- 0 until setups) {
      val t0 = if (k == 0) launchedAtMs * 1000000L else wallNanos()
      if (session != null) session.srv.stop()
      session = Session.start(spark, cacheEntries, routingMinBytes, basepaths("v1"), warmup)
      setupSecs += (wallNanos() - t0) / 1e9
      setupRegisterMs += session.setupRegisterNs / 1e6
    }
    val s = session
    // Warm the JIT outside set-up time, before the reset drops any answer
    // these queries leave in the result cache.
    prewarm.foreach(b => ok(s.http("POST", s"/datasets/${Session.Name}/query", b), "warm-up query"))

    // ---- the timed pass; with tracing on, each request is followed by
    // its replay through the modules' public functions.
    val tracer = if (trace) Some(new Tracer(s.spark, routingMinBytes)) else None
    // Registrations outside set-up, for register_p50_ms: the one that
    // starts the pass and, untraced, one after it. Each follows a pass of
    // queries, as do the timed ones: back-to-back re-registrations run
    // faster by a share that changes from run to run, and a median over
    // both kinds jumps between them.
    val passRegisterMs = mutable.ArrayBuffer(s.reset(basepaths("v1")) / 1e6)
    // The set-up registration, traced once: registration moves set-up time.
    tracer.foreach(_.register(-1, basepaths("v1")))
    val before = s.scrape()
    val gcBefore = gcTimeMs()
    val t0 = System.nanoTime()
    val records = requests.zipWithIndex.map { case (r, i) =>
      val rec = s.send(r, basepaths)
      tracer.foreach { t =>
        if (r.kind == "register") t.register(i, basepaths(r.version)) else t.replay(i, r.body)
      }
      rec
    }
    val timedSecs = (System.nanoTime() - t0) / 1e9
    val timedGcMs = gcTimeMs() - gcBefore
    val after = s.scrape()
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    writeRecords(new File(out, "records.jsonl"), records)
    tracer.foreach(_.finish(new File(out, "spans.jsonl"), new File(out, "trace.json")))
    if (!trace) {
      val r = s.register(basepaths("v1"))
      ok(r, "register")
      passRegisterMs += r._3 / 1e6
    }

    val result = Map(
      "setupSecs" -> setupSecs.toSeq,
      "setupRegisterMs" -> setupRegisterMs.toSeq,
      "passRegisterMs" -> passRegisterMs.toSeq,
      "timedSecs" -> timedSecs,
      "timedGcMs" -> timedGcMs,
      "heapLiveMb" -> heapLiveMb,
      "metricsBefore" -> before, "metricsAfter" -> after)
    val pw = new PrintWriter(new File(out, "result.json"), "UTF-8")
    try pw.write(org.json4s.jackson.Serialization.write(result)) finally pw.close()
    s.stop()
  }

  /** Epoch nanoseconds on the monotonic clock (one anchor per JVM), so
    * spans and Spark's epoch-millisecond job events share a time base. */
  private val anchorWall = System.currentTimeMillis() * 1000000L
  private val anchorNano = System.nanoTime()
  def wallNanos(): Long = anchorWall + (System.nanoTime() - anchorNano)

  private def gcTimeMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  final case class Record(kind: String, status: Int, rttNs: Long, body: String)

  private def writeRecords(f: File, rs: Seq[Record]): Unit = {
    val pw = new PrintWriter(f, "UTF-8")
    try rs.foreach { r =>
      pw.println(org.json4s.jackson.Serialization.write(
        Map("kind" -> r.kind, "status" -> r.status, "rttNs" -> r.rttNs, "body" -> r.body)))
    } finally pw.close()
  }

  // ------------------------------------------------------------- session

  final class Session(val spark: SparkSession, val srv: ApiServer) {
    /** Round trip of the set-up registration. */
    var setupRegisterNs = 0L
    private val base = s"http://127.0.0.1:${srv.boundPort}"

    /** One HTTP exchange on the client's keep-alive connection; the
      * round trip runs from send until the full body is read. */
    def http(method: String, path: String, body: String): (Int, String, Long) = {
      val t0 = System.nanoTime()
      val c = new URL(base + path).openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod(method)
      if (body != null) {
        val bytes = body.getBytes(UTF_8)
        c.setDoOutput(true)
        c.setRequestProperty("Content-Type", "application/json")
        c.setFixedLengthStreamingMode(bytes.length)
        val os = c.getOutputStream
        os.write(bytes); os.close()
      }
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val text = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
      (code, text, System.nanoTime() - t0)
    }

    def register(basepath: String): (Int, String, Long) =
      http("POST", "/datasets/register", org.json4s.jackson.Serialization.write(Map(
        "name" -> Session.Name, "basepath" -> basepath,
        "groupIdColumn" -> "user_id", "timestampColumn" -> "ts")))

    def send(r: Request, basepaths: Map[String, String]): Record = {
      val (code, text, ns) =
        if (r.kind == "register") register(basepaths(r.version))
        else http("POST", s"/datasets/${Session.Name}/query", r.body)
      Record(r.kind, code, ns, text)
    }

    /** Drop every cached answer and register v1 afresh, so each pass
      * starts from the same server state. */
    def reset(basepath: String): Long = {
      http("POST", s"/datasets/${Session.Name}/unregister?force=true", "")
      val r = register(basepath)
      ok(r, "register")
      r._3
    }

    /** `/metrics` as name → value. */
    def scrape(): Map[String, Double] =
      http("GET", "/metrics", null)._2.linesIterator
        .filterNot(_.startsWith("#")).map(_.split(" "))
        .collect { case Array(k, v) => k -> v.toDouble }.toMap

    def stop(): Unit = { srv.stop(); spark.stop() }
  }

  private def ok(r: (Int, String, Long), what: String): Unit =
    if (r._1 != 200) throw new IllegalStateException(s"$what answered ${r._1}: ${r._2.take(300)}")

  object Session {
    val Name = "events"

    /** The server, the registration and one warm-up pass over every
      * template, on a SparkSession built as `ApiServerMain` builds it. */
    def start(spark: SparkSession, cacheEntries: Int, routingMinBytes: Option[Long],
              basepath: String, warmup: Seq[String]): Session = {
      val srv = new ApiServer(spark, 0, resultCacheSize = cacheEntries,
        routingMinBytes = routingMinBytes)
      srv.start()
      val s = new Session(spark, srv)
      val r = s.register(basepath)
      ok(r, "register")
      s.setupRegisterNs = r._3
      warmup.foreach(b => ok(s.http("POST", s"/datasets/$Name/query", b), "warm-up query"))
      s
    }
  }

  // -------------------------------------------------------------- tracing

  final case class Span(id: Long, name: String, req: Int, parent: Long,
                        startNs: Long, var endNs: Long = 0L)

  /** Task, stage and job totals of one span. */
  final class SpanExec {
    var jobs = 0; var stages = 0; var tasks = 0; var failedTasks = 0
    var runMs = 0L; var rows = 0L; var bytes = 0L; var shuffleWrite = 0L
    var spill = 0L; var peakMem = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  final class Tracer(spark: SparkSession, routingMinBytes: Option[Long]) {
    private val SpanKey = "perfbench.span"
    private val spans = mutable.ArrayBuffer.empty[Span]
    private val exec = new java.util.concurrent.ConcurrentHashMap[Long, SpanExec]()
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    private val extras = mutable.ArrayBuffer.empty[Map[String, Any]]
    private var open: List[Span] = Nil
    private var seq = 0L
    private val handles = mutable.Map.empty[(String, Long), org.apache.spark.sql.DataFrame]

    private def execOf(span: Long): SpanExec = exec.computeIfAbsent(span, _ => new SpanExec)

    private val listener = new org.apache.spark.scheduler.SparkListener {
      import org.apache.spark.scheduler._
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).map(_.getProperty(SpanKey)).orNull
        if (p != null) {
          val span = p.toLong
          jobStart.put(e.jobId, (span, e.time))
          e.stageIds.foreach(id => stageSpan.put(id, span))
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
          val x = execOf(span)
          x.synchronized { x.jobs += 1; x.jobSpans += ((t0, e.time)) }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
          val x = execOf(span)
          x.synchronized { x.stages += 1 }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageSpan.get(e.stageId)).foreach { span =>
          val x = execOf(span)
          val m = e.taskMetrics
          x.synchronized {
            x.tasks += 1
            if (!e.taskInfo.successful) x.failedTasks += 1
            x.taskMs += e.taskInfo.duration
            if (m != null) {
              x.runMs += m.executorRunTime
              x.rows += m.inputMetrics.recordsRead
              x.bytes += m.inputMetrics.bytesRead
              x.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              x.spill += m.memoryBytesSpilled + m.diskBytesSpilled
              x.peakMem = math.max(x.peakMem, m.peakExecutionMemory)
            }
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    /** Run `body` inside a span; Spark jobs it submits carry the span id. */
    def span[T](name: String, req: Int)(body: => T): T = {
      seq += 1
      val sp = Span(seq, name, req, open.headOption.map(_.id).getOrElse(0L), wallNanos())
      spans += sp
      open = sp :: open
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, sp.id.toString)
      try body
      finally {
        sp.endNs = wallNanos()
        sc.setLocalProperty(SpanKey, outer)
        open = open.tail
      }
    }

    def register(req: Int, basepath: String): Unit = span("catalog.register", req) {
      Catalog.register(spark, Session.Name, basepath, "user_id", "ts")
    }

    /** Replay one query through the public functions, in `ApiServer.query`'s
      * order, with the DatasetSpec built the way the server builds it. */
    def replay(req: Int, body: String): Unit = span("request", req) {
      val ds = Catalog.get(Session.Name).get
      val parsed = span("query.parse", req)(QueryParser.parse(body))
      span("query.validate", req)(
        SchemaValidator.validateTimeframeScale(parsed, ds.minTimestamp, ds.maxTimestamp))
      val df = handles.getOrElseUpdate((ds.name, ds.registeredAt),
        span("catalog.load", req)(Catalog.load(spark, ds)))
      val baseEngine = new QueryEngine(DatasetSpec(ds.groupIdColumn, ds.timestampColumn,
        dayPartitionColumn = ds.dayPartitionColumn,
        numGroups = if (ds.statsExact) Some(ds.numGroups) else None,
        gidMaxBytes = if (ds.statsExact) ds.gidMaxBytes else None))
      val engine = routingMinBytes.fold(baseEngine)(baseEngine.withRoutingThreshold)
      graft.util.Caches.scoped {
        val planned = span("engine.plan", req)(engine.runValidated(df, parsed))
        val json = span("result.build", req)(ResultJson.build(planned))
        val frames = Seq(planned.summary) ++ planned.aggregations.map(_._2) ++
          planned.funnel.toSeq ++ planned.funnelAggregations.map(_._2)
        val catalystMs = frames.map { f =>
          scala.util.Try(f.queryExecution.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
        }.sum
        extras += Map("req" -> req, "plan" -> planned.plan, "catalystMs" -> catalystMs,
          "answer" -> json)
      }
    }

    def finish(spanFile: File, traceFile: File): Unit = {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext, 10000)
      spark.sparkContext.removeSparkListener(listener)
      val pw = new PrintWriter(spanFile, "UTF-8")
      try spans.foreach { sp =>
        val x = Option(exec.get(sp.id))
        val fields = Map[String, Any]("id" -> sp.id, "name" -> sp.name, "req" -> sp.req,
          "parent" -> sp.parent, "startNs" -> sp.startNs, "endNs" -> sp.endNs) ++
          x.map(e => Map[String, Any]("jobs" -> e.jobs, "stages" -> e.stages, "tasks" -> e.tasks,
            "failedTasks" -> e.failedTasks, "runMs" -> e.runMs, "rows" -> e.rows,
            "bytes" -> e.bytes, "shuffleWrite" -> e.shuffleWrite, "spill" -> e.spill,
            "peakMem" -> e.peakMem, "taskMs" -> e.taskMs.toSeq,
            "jobSpansMs" -> e.jobSpans.toSeq.map { case (a, b) => Seq(a, b) }))
            .getOrElse(Map.empty)
        pw.println(org.json4s.jackson.Serialization.write(fields))
      } finally pw.close()
      val tw = new PrintWriter(traceFile, "UTF-8")
      try tw.write(org.json4s.jackson.Serialization.write(Map("replays" -> extras.toSeq)))
      finally tw.close()
    }
  }
}
