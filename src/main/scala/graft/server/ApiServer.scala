package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.catalog.Catalog
import graft.engine.{DatasetSpec, QueryEngine}
import graft.query.{QueryParser, QueryValidationException, SchemaValidator}
import graft.result.{JobStats, ResultJson}

/**
 * HTTP API front — parity with the reference's Flask apiserver
 * (frocket/apiserver.py), on the JDK's built-in HttpServer (zero deps):
 *
 *   POST /datasets/register              {"name","basepath","groupIdColumn","timestampColumn"}
 *   GET  /datasets                       list registered datasets
 *   POST /datasets/<name>/unregister     ?force=true overrides the last-used safety interval
 *   GET  /datasets/<name>/schema         ?full=true for per-column attributes
 *   GET  /datasets/<name>/parts          file listing (naming method LIST)
 *   GET  /datasets/<name>/empty-query    basic group/row stats (empty query, GET)
 *   POST /datasets/<name>/query          JSON query body → reference-shaped result
 *        ?stream=true                    chunked: progress lines, then the result
 *        ?async=true                     → {"queryId"}; poll GET /queries/<id>/status
 *   GET  /queries/<id>/status            {"stage","done",...,"result"? }
 *   GET  /metrics                        Prometheus text exposition (counters)
 *
 * Errors return the reference's shape: {"errorMessage": ...} with 400 for
 * validation failures and 500 otherwise (apiserver.py error handling).
 * The Spark driver hosts the server; queries run as ordinary Spark jobs.
 * At 100 TB a query takes minutes — `stream`/`async` are how clients
 * actually call this (the reference's run_streamable, apiserver.py:125-172);
 * the sync path stays for small interactive queries. Repeated queries can
 * opt into the versioned result cache (`resultCacheSize` — see the field
 * scaladoc below).
 *
 * Execution profile: a dataset whose registered part files add up to less
 * than `ExecutionProfile.InterpretedMaxBytes` runs its queries (and its
 * registration stats pass) in an interpreted child session — no AQE, no
 * whole-stage codegen, expression factory mode NO_CODEGEN — and every
 * larger dataset in the host session as configured. The choice follows
 * the registration (`Catalog.load` loads the per-registration handle
 * through it) and each response's stats block names it as "profile".
 * The reason is a measured one: an uncached small query compiled 7-22
 * Janino classes, a third of its latency, because Spark inlines numeric
 * literals into generated code and its static 100-entry compiled-class
 * cache is smaller than a dashboard's mix of shapes. Raising that cache
 * is the host process's call, not this server's; binding literals as
 * non-inlined references was measured and rejected (shape churn still
 * evicts). See `graft.catalog.ExecutionProfile` and BENCH.md
 * §"Execution profile crossover".
 *
 * Resident copy: every interpreted registration is served from a
 * resident copy laid out by group id (`Catalog.load`), so its queries
 * open no Parquet file and their windows and per-group aggregates plan
 * no shuffle. The catalog owns the copies and releases them on
 * re-registration and unregister. It also memoises every handle it
 * loads, per registration snapshot and host session, so this server
 * keeps no handle cache of its own. Over a copy, the stats block's
 * `rowsScanned` counts the rows read from it and `bytesScanned` the
 * size of its blocks as Spark's block manager accounts it, not Parquet
 * bytes (BENCH.md §"One interpreted profile"). Every query, on every
 * profile, is
 * one SQL execution and one Spark job over the union of its output
 * frames (`ResultJson`; BENCH.md §"One job per served query"). Nothing
 * here is user-settable.
 */
final class ApiServer(spark: SparkSession, port: Int, unregisterSafetySec: Int = 0,
                      catalogStore: Option[String] = None,
                      /** Override the engine's Auto-routing size gate
                        * (QueryEngine.DefaultRoutingMinBytes when None;
                        * 0 = route every shape-compatible query). An ops
                        * knob: the default crossover was measured on one
                        * box — a deployment whose storage/CPU balance
                        * differs can re-pin it without a rebuild
                        * (GRAFT_ROUTING_MIN_BYTES in ApiServerMain). */
                      routingMinBytes: Option[Long] = None,
                      /** Entries in the versioned query-result cache;
                        * 0 (default) disables. See `resultCache` below —
                        * sound under the reference's dataset-immutability
                        * contract. GRAFT_RESULT_CACHE_SIZE in
                        * ApiServerMain. */
                      resultCacheSize: Int = 0,
                      /** Per-entry byte ceiling for the result cache: the
                        * LRU bounds entry COUNT, so without this a handful
                        * of giant results (countPerValue over a
                        * high-cardinality column) could pin GBs on the
                        * driver. Oversized results are still served (and
                        * still coalesce concurrent identical requests via
                        * the in-flight future) — they just don't persist in
                        * the LRU. GRAFT_RESULT_CACHE_MAX_ENTRY_BYTES in
                        * ApiServerMain. */
                      resultCacheMaxEntryBytes: Long = 8L << 20,
                      /** HTTP worker threads. The measured serving floor
                        * scales with this up to the sync-path concurrency a
                        * deployment wants to allow (async queries run on
                        * their own bounded pool regardless); 2 keeps the
                        * default behavior — one query can run while
                        * /queries status polls answer. Note coalescing
                        * (result cache ON): waiters hold their HTTP worker
                        * thread for up to `coalesceWaitSec`, so a herd of
                        * SYNC clients on a slow cold query can occupy the
                        * whole pool for the scan's duration — size
                        * httpThreads for the sync herd a deployment allows,
                        * or point herding dashboards at ?async=true.
                        * GRAFT_HTTP_THREADS in ApiServerMain. */
                      httpThreads: Int = 2,
                      /** Async-query executor size (r16; the reference
                        * bounds this identically with a sized pool,
                        * invoker_api.py:36,147-161). A burst beyond the
                        * pool QUEUES (stage "QUEUED" in /queries status)
                        * instead of spawning one driver thread + one
                        * concurrent Spark job per request — at the measured
                        * O(10) req/s floor an unbounded client burst would
                        * otherwise degrade the whole driver. Queued jobs
                        * are never evicted from the job registry (eviction
                        * removes only finished jobs). GRAFT_ASYNC_THREADS
                        * in ApiServerMain. */
                      asyncThreads: Int = 8,
                      /** Ceiling on how long a coalesced waiter blocks on
                        * the in-flight winner before giving up and
                        * executing the query itself (uncoalesced but
                        * correct). Bounds the worker-thread starvation
                        * window described on `httpThreads`. */
                      coalesceWaitSec: Int = 600,
                      /** Cap on async jobs WAITING behind the pool (r17):
                        * the fixed pool bounds concurrency but its FIFO
                        * queue — and the QUEUED population of the job
                        * registry — would otherwise grow without bound
                        * under a sustained flood. Beyond `asyncThreads`
                        * running + `asyncQueueMax` queued, submissions are
                        * rejected with 429 + Retry-After (counted in
                        * graft_query_rejected_total) instead of admitted.
                        * This EXCEEDS the reference, whose Flask pool has
                        * the same unbounded-queue shape
                        * (invoker_api.py:36,147-161). Generous default:
                        * 1000 queued jobs is hours of backlog at the
                        * measured serving floor — the cap is an
                        * abuse/runaway-client backstop, not a normal-load
                        * limiter. GRAFT_ASYNC_QUEUE_MAX in ApiServerMain. */
                      asyncQueueMax: Int = 1000,
                      /** Request-body byte ceiling (r17): readBody
                        * otherwise buffers the whole POST on the driver —
                        * a multi-GB body (malicious or a client bug) is
                        * unbounded driver memory, the same vector family
                        * the async queue cap closes. Real bodies are
                        * KB-scale (query JSON, register request); past the
                        * cap the request answers 413 and the connection
                        * drops the rest. GRAFT_MAX_BODY_BYTES in
                        * ApiServerMain. */
                      maxBodyBytes: Int = 8 << 20,
                      /** Byte budget over retained async RESULTS (r17) —
                        * see `retainedResultBytes`. Oldest payloads are
                        * dropped past it (job entries stay, flagged
                        * "resultEvicted"); the newest completion is always
                        * retained. GRAFT_ASYNC_RESULTS_MAX_BYTES in
                        * ApiServerMain. */
                      asyncResultsMaxBytes: Long = 256L << 20,
                      /** Age ceiling (seconds) on retained async RESULT
                        * payloads (r19) — the byte budget above bounds how
                        * MUCH a quiet server retains, not for how LONG: a
                        * server that goes idle after a burst would hold up
                        * to `asyncResultsMaxBytes` of stale payloads
                        * forever. The reference expires task results by
                        * Redis TTL (redis_store.py:174-180,253-275); here
                        * payloads older than the TTL are dropped lazily —
                        * on status reads, metrics scrapes, and inside the
                        * retention critical section — so an idle server's
                        * retained-bytes gauge returns to 0 on the next
                        * observation. The job ENTRY stays (stage DONE,
                        * "resultEvicted": true), same late-poller contract
                        * as byte eviction. Unlike the byte budget, the TTL
                        * has no newest-always-kept carve-out: an absolute
                        * age bound is the contract (the client had
                        * `asyncResultTtlSec` to poll), exactly as a Redis
                        * TTL would expire the newest too. 0 disables.
                        * GRAFT_ASYNC_RESULT_TTL_SEC in ApiServerMain. */
                      asyncResultTtlSec: Long = 3600L) {

  // Validated BEFORE the server field binds the port: start() would
  // otherwise throw out of newFixedThreadPool with the socket still held,
  // and a corrected retry on the same fixed port would hit BindException
  // (the same asymmetry the catalog-store failure path guards against).
  require(httpThreads >= 1, s"httpThreads must be >= 1, got $httpThreads")
  require(asyncThreads >= 1, s"asyncThreads must be >= 1, got $asyncThreads")
  // A negative wait would silently degrade every coalesced waiter to
  // immediate-timeout self-execution, defeating single-flight coalescing
  // (0 is a legitimate explicit opt-out, used by the fallback tests).
  require(coalesceWaitSec >= 0, s"coalesceWaitSec must be >= 0, got $coalesceWaitSec")
  require(asyncQueueMax >= 0, s"asyncQueueMax must be >= 0, got $asyncQueueMax")
  // Strict upper bound: readBody reads limit+1 to detect overflow, which
  // must not wrap past Int.MaxValue.
  require(maxBodyBytes >= 1 && maxBodyBytes < Int.MaxValue,
    s"maxBodyBytes must be in [1, ${Int.MaxValue - 1}], got $maxBodyBytes")
  require(asyncResultsMaxBytes >= 0,
    s"asyncResultsMaxBytes must be >= 0, got $asyncResultsMaxBytes")
  require(asyncResultTtlSec >= 0,
    s"asyncResultTtlSec must be >= 0 (0 disables), got $asyncResultTtlSec")

  // TCP_NODELAY on the JDK's built-in HttpServer (its static ServerConfig
  // reads this once, at first server creation): without it a small
  // response's header+body writes can sit behind the peer's 40ms
  // delayed-ACK timer — measured as ~40ms of the per-request serving
  // floor (BENCH.md §"Serving-path latency floor").
  System.setProperty("sun.net.httpserver.nodelay", "true")

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = {
    // Durable registrations (reference redis_store.py:83-94): with a store
    // configured, a server restart reloads every registered dataset.
    // Attached here, not at construction: merely constructing a server
    // must not mutate the process-global catalog. The catalog itself
    // rejects a second, different store (one store per JVM) — on that
    // failure, release the port the constructor bound so a corrected
    // retry on the same port doesn't hit BindException.
    try catalogStore.foreach(Catalog.enablePersistence)
    catch { case e: Throwable => server.stop(0); throw e }
    server.createContext("/datasets", (ex: HttpExchange) => handle(ex))
    server.createContext("/queries", (ex: HttpExchange) => handle(ex))
    server.createContext("/metrics", (ex: HttpExchange) => handle(ex))
    // Worker threads (default 2: one can poll /queries status while a
    // sync query runs).
    pool = java.util.concurrent.Executors.newFixedThreadPool(httpThreads)
    // Bounded async-query pool (r16): a fixed pool with its unbounded
    // queue gives the explicit overflow semantics — burst N > pool size
    // runs `asyncThreads` jobs concurrently and queues the rest in FIFO
    // order (visible as stage "QUEUED"). Named threads so boundedness is
    // observable (the burst test counts live graft-async-* threads).
    val seq = new AtomicLong()
    asyncPool = java.util.concurrent.Executors.newFixedThreadPool(asyncThreads,
      (r: Runnable) => new Thread(r, s"graft-async-${seq.incrementAndGet()}"))
    server.setExecutor(pool)
    server.start()
  }

  // HttpServer.stop does NOT shut down a user-supplied executor, and the
  // pools' non-daemon threads otherwise keep the JVM alive after stop()
  // (observed: probe mains printing their result and then hanging).
  private var pool: java.util.concurrent.ExecutorService = _
  private var asyncPool: java.util.concurrent.ExecutorService = _

  def stop(): Unit = {
    server.stop(0)
    if (pool != null) pool.shutdown()
    // shutdownNow: stop() must not wait for queued async jobs; running
    // queries' waiters are covered by the in-flight latch's
    // belt-and-braces completeExceptionally.
    if (asyncPool != null) asyncPool.shutdownNow()
  }

  /** Graceful stop (r16): drain in-flight work for up to `drainSec`
    * before tearing down — an abrupt `stop()` can abandon a coalesce
    * winner mid-latch (waiters are then failed by the belt-and-braces
    * completeExceptionally, but a drain answers them instead). Stops
    * accepting connections immediately, lets active HTTP exchanges and
    * already-RUNNING async jobs finish within the budget, then force-
    * stops whatever remains. QUEUED async jobs also run if the budget
    * permits (pool shutdown drains its queue); leftovers are dropped —
    * a restarted server has a fresh registry anyway, matching the
    * reference, whose async state dies with the apiserver process.
    * Returns true iff every submitted async job completed within the
    * budget (false = something was force-dropped). The budget is SHARED
    * across the two waits (r17): `server.stop` can itself block up to
    * `drainSec` for active HTTP exchanges, so the async-pool wait gets
    * only what remains — total blocking is bounded by ~drainSec, not 2×. */
  def stopGracefully(drainSec: Int): Boolean = {
    val deadline = System.nanoTime() + drainSec.toLong * 1000000000L
    server.stop(drainSec)
    if (pool != null) pool.shutdown()
    if (asyncPool == null) true
    else {
      asyncPool.shutdown()
      val remainingMs = math.max(0L, (deadline - System.nanoTime()) / 1000000L)
      val drained =
        try asyncPool.awaitTermination(remainingMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch { case _: InterruptedException => Thread.currentThread().interrupt(); false }
      asyncPool.shutdownNow()
      drained
    }
  }

  // ------------------------------------------------------------ async jobs

  private final case class AsyncJob(
      id: String, dataset: String,
      @volatile var stage: String,
      @volatile var result: Option[String] = None,
      @volatile var error: Option[String] = None,
      @volatile var resultBytes: Long = 0L,
      @volatile var resultEvicted: Boolean = false,
      /** Wall-clock completion instant, set under resultEvictLock at
        * retain time — the TTL sweep's age basis. 0 = not yet DONE. */
      @volatile var doneAtMs: Long = 0L)

  private val jobs = new ConcurrentHashMap[String, AsyncJob]()
  private val jobSeq = new AtomicLong()

  /** UTF-8 byte budget over RETAINED async results (r17): the registry
    * keeps each DONE job's full result string until registry eviction —
    * ~1000 finished entries × an unbounded body (countPerValue over a
    * high-cardinality column is multi-MB) is the last unbounded
    * driver-memory vector on the serving surface (the result cache has
    * its per-entry ceiling for exactly this reason). Past the budget the
    * OLDEST retained result payloads are dropped — the job entry stays
    * (stage DONE, done:true) with "resultEvicted": true in its status, so
    * a late poller learns to re-run instead of 404ing. The NEWEST
    * completion is always retained even if it alone exceeds the budget:
    * async delivery IS the one-shot persistence of that result — evicting
    * it before anyone polled would silently destroy completed work, so
    * the bound is max(budget, largest single result). The reference's
    * analog is Redis task-result TTL eviction. */
  private val retainedResultBytes = new AtomicLong()
  private val resultEvictLock = new Object

  private def retainResult(job: AsyncJob, r: String): Unit = {
    val bytes = utf8Length(r) // O(|r|) scan stays outside the lock
    // The retain (result/resultBytes/budget writes) and the eviction sweep
    // run as ONE critical section on resultEvictLock. Two races otherwise:
    // a concurrent dropRetained between `result = Some(r)` and the budget
    // addAndGet releases a stale 0 and strands the payload's bytes in the
    // counter forever; and two simultaneous completions' sweeps could each
    // evict the OTHER's just-retained payload, breaking the newest-always-
    // kept invariant. Serializing completions makes "newest" well-defined:
    // a sweep can only ever see payloads retained strictly before its own.
    resultEvictLock.synchronized {
      // Expired payloads release their budget BEFORE the byte sweep runs:
      // stale bytes must never force eviction of a fresh completion.
      ttlSweepLocked()
      job.result = Some(r)
      job.resultBytes = bytes
      job.stage = "DONE"
      job.doneAtMs = System.currentTimeMillis()
      val total = retainedResultBytes.addAndGet(bytes)
      if (total > asyncResultsMaxBytes) {
        import scala.jdk.CollectionConverters._
        val retained = jobs.values.asScala
          .filter(j => j.result.isDefined && (j ne job))
          .toSeq.sortBy(_.id.drop(1).toLong)
        val it = retained.iterator
        while (retainedResultBytes.get() > asyncResultsMaxBytes && it.hasNext)
          dropRetained(it.next())
      }
    }
  }

  /** Lazy TTL sweep over retained result payloads (r19) — called on the
    * read paths (status polls, metrics scrapes) and inside the retention
    * critical section, so expiry needs no timer thread: the next
    * observation of the registry is what ages payloads out, the same
    * lazy-expiry shape as the result-byte budget. O(registry) per call,
    * bounded by the ~1500-entry registry cap. */
  private def sweepExpiredResults(): Unit =
    if (asyncResultTtlSec > 0) resultEvictLock.synchronized { ttlSweepLocked() }

  /** The sweep body; caller must hold resultEvictLock. */
  private def ttlSweepLocked(): Unit = if (asyncResultTtlSec > 0) {
    val cutoff = System.currentTimeMillis() - asyncResultTtlSec * 1000L
    val it = jobs.values.iterator()
    while (it.hasNext) {
      val j = it.next()
      if (j.result.isDefined && j.doneAtMs <= cutoff) dropRetained(j)
    }
  }

  /** Drop a job's retained result payload and release its budget share —
    * idempotent and locked, so the byte-budget sweep and registry
    * eviction can't double-release one payload between them. */
  private def dropRetained(j: AsyncJob): Unit = resultEvictLock.synchronized {
    if (j.result.isDefined) {
      j.result = None
      j.resultEvicted = true
      retainedResultBytes.addAndGet(-j.resultBytes)
    }
  }

  /** Exact UTF-8 length without materializing the byte copy a
    * multi-megabyte result's getBytes would allocate. */
  private def utf8Length(s: String): Long = {
    var i = 0; var n = 0L
    while (i < s.length) {
      val c = s.charAt(i)
      // Surrogates count 2 each so a pair sums to its true 4 UTF-8 bytes.
      n += (if (c < 0x80) 1 else if (c < 0x800) 2
            else if (Character.isSurrogate(c)) 2 else 3)
      i += 1
    }
    n
  }
  /** Jobs admitted but not yet finished (QUEUED + RUNNING) — the quantity
    * `asyncQueueMax` bounds (see submitAsync). Incremented at admission,
    * decremented when the job's runnable exits either way. */
  private val pendingAsync = new AtomicLong()

  /** Stage → count over the async-job registry. Ops introspection: the
    * shutdown path reports FAILED jobs so a drain that technically
    * completed every runnable but let the queries inside them die (e.g.
    * Spark torn down mid-drain) is visible, not silently "drained". */
  def asyncJobCounts: Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.groupBy(_.stage).map { case (k, v) => k -> v.size }
  }

  // ---------------------------------------------------------- result cache

  /** Cache/latch key: dataset name + registration version + the parsed
    * query's case-class AST, compared STRUCTURALLY (r16). The r15 key
    * rendered the AST through case-class `toString`, which does not quote
    * embedded strings — a filter value containing AST-rendering text
    * (`")), RowFilter("`…) could make two structurally different queries
    * render identical keys, serving one query's cached result to the
    * other (and riding its single-flight latch). The AST already has
    * structural equality/hashCode, so the key holds it directly — no
    * string rendering, no injection surface (pinned by the
    * toString-collision test in ApiServerSpec). */
  private final case class QueryKey(dataset: String, registeredAt: Long,
                                    query: graft.query.QueryAst.GraftQuery)

  /** Versioned query-result cache (extension). The reference's analog is
    * the worker-side parquet part cache (part_loader.py LRU), and both
    * lean on the same contract: a registered dataset's files are IMMUTABLE
    * — updating data means re-registering under a new DatasetId
    * (dataset.py:36-53 `DatasetId.now()`). The key is therefore a
    * [[QueryKey]] — re-registration invalidates naturally (new
    * registeredAt → new keys; stale entries age out of the LRU), and two
    * textual spellings of one query share an entry. Values are final
    * result bodies WITHOUT the per-execution stats block, plus the plan
    * that produced them. Every battery query is deterministic (exact
    * aggregations; top-K has a total-order tie-break), so a hit is
    * bit-identical to a re-run. At 100 TB a repeated dashboard query
    * re-scans the corpus — minutes of cluster time; this answers it at the
    * HTTP floor. Access-order LRU bounded at `resultCacheSize`, 0 disables. */
  private val resultCache: java.util.Map[QueryKey, (String, String)] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[QueryKey, (String, String)](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[QueryKey, (String, String)]): Boolean =
          size() > resultCacheSize
      })

  /** Single-flight latch (with the cache on): N concurrent requests for
    * the SAME cold key would each run the full query — at 100 TB that's N
    * simultaneous corpus scans for one dashboard panel, hit hardest right
    * after a re-registration invalidates a popular key (the thundering
    * herd). The first request computes; the rest await its future and are
    * answered from the fresh value (counted as cache hits, plus the
    * coalesced counter). An execution failure propagates to every waiter
    * (same deterministic query, same dataset version) and the latch is
    * dropped, so the next fresh request retries. Off when the cache is
    * off: coalescing would silently break the every-query-executes stats
    * contract uncached clients rely on. */
  private val inFlight =
    new ConcurrentHashMap[QueryKey, java.util.concurrent.CompletableFuture[(String, String)]]()

  private def handle(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      val method = ex.getRequestMethod
      (method, path.split("/").toList.filter(_.nonEmpty)) match {
        case ("POST", List("datasets", "register"))         => register(ex)
        case ("GET",  List("datasets"))                     => list(ex)
        case ("POST", List("datasets", name, "unregister")) => unregister(ex, name)
        case ("GET",  List("datasets", name, "schema"))     => schema(ex, name)
        case ("GET",  List("datasets", name, "parts"))      => parts(ex, name)
        case ("GET",  List("datasets", name, "empty-query")) => query(ex, name, emptyBody = true)
        case ("POST", List("datasets", name, "query"))      => query(ex, name, emptyBody = false)
        case ("GET",  List("queries", id, "status"))        => queryStatus(ex, id)
        case ("GET",  List("metrics"))                      => metrics(ex)
        case _ => respond(ex, 404, """{"errorMessage": "not found"}""")
      }
    } catch {
      case e: QueryValidationException =>
        respond(ex, 400, s"""{"errorMessage": ${q(e.getMessage)}}""")
      case e: Catalog.RegistrationException =>
        respond(ex, 400, s"""{"errorMessage": ${q(e.getMessage)}}""")
      case e: com.fasterxml.jackson.core.JacksonException =>
        respond(ex, 400, s"""{"errorMessage": ${q("malformed JSON: " + e.getOriginalMessage)}}""")
      case e: BodyTooLargeException =>
        // 413 Payload Too Large; ex.close() in the finally aborts whatever
        // the client is still sending.
        respond(ex, 413, s"""{"errorMessage": ${q(e.getMessage)}}""")
      case e: Throwable =>
        respond(ex, 500, s"""{"errorMessage": ${q(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  private final class BodyTooLargeException(limit: Int) extends RuntimeException(
    s"request body exceeds the $limit-byte limit")

  private def arg(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getQuery).toSeq
      .flatMap(_.split("&").toSeq)
      .map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name => v }

  private def boolArg(ex: HttpExchange, name: String): Boolean =
    arg(ex, name).exists(_.trim.equalsIgnoreCase("true"))

  // ---------------------------------------------------------------- routes

  private def register(ex: HttpExchange): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val body = JsonMethods.parse(readBody(ex))
    def str(k: String): String = body \ k match {
      case JString(s) => s
      case _ => throw QueryValidationException("schema", s"register requires string field '$k'")
    }
    val (name, path, gid, ts) =
      (str("name"), str("basepath"), str("groupIdColumn"), str("timestampColumn"))
    // validationMode: FULL (default — exact stats) | SINGLE | FIRST_LAST |
    // SAMPLE, mirroring the reference's register request (docs/api.md:50-55).
    // Sampled modes scan only the chosen part files, so stats come back
    // flagged approximate.
    val mode = body \ "validationMode" match {
      case JString(s) => Catalog.ValidationMode.parse(s)
      case _          => Catalog.ValidationMode.Full
    }
    // Opt-in migration check: assert each group id lives in one part file,
    // as the reference's execution model requires (registration_job.py:252-272).
    val vgl = body \ "validateGroupLocality" match {
      case JBool(b) => b
      case _        => false
    }
    // Optional GroupedWriter.partitionByDay declaration: validated against
    // the data at registration, then used for timeframe partition pruning
    // on every query against this dataset. A malformed (non-string) value
    // is a 400 — silently dropping it would leave the client believing the
    // declaration is active.
    val dayCol = body \ "dayPartitionColumn" match {
      case JString(s) => Some(s)
      // Explicit JSON null is a semantically absent declaration, same as an
      // omitted field — clients serializing optional fields as null must
      // not be 400'd for it.
      case JNothing | JNull => None
      case other      => throw QueryValidationException("schema",
        s"dayPartitionColumn must be a string, got $other")
    }
    def doRegister(): String = {
      val ds = Catalog.register(spark, name, path, gid, ts, mode = mode,
        validateGroupLocality = vgl, dayPartitionColumn = dayCol)
      val cats = ds.columnAttrs.collect { case (n, a) if a.categorical => n }.toSeq.sorted
      s"""{"dataset": ${q(ds.name)}, "rows": ${ds.numRows}, "groups": ${ds.numGroups},
         | "minTimestamp": ${ds.minTimestamp}, "maxTimestamp": ${ds.maxTimestamp},
         | "statsExact": ${ds.statsExact}, "sampledParts": ${ds.sampledParts},
         | "totalParts": ${ds.totalParts},
         | "potentialCategoricals": [${cats.map(q).mkString(", ")}],
         | "unsupportedColumns": [${ds.unsupportedColumns.map(q).mkString(", ")}]}""".stripMargin
    }
    // Registration scans the whole dataset (stats + categorical pass) — at
    // 100 TB that's a long job, so the async path mirrors the reference's
    // streamed registration (apiserver.py:176-184).
    if (boolArg(ex, "async")) submitAsync(ex, s"register:$name")(doRegister())
    else respond(ex, 200, doRegister())
  }

  private def list(ex: HttpExchange): Unit = {
    val items = Catalog.list().sortBy(_.name).map { ds =>
      s"""{"name": ${q(ds.name)}, "basepath": ${q(ds.basepath)}, "rows": ${ds.numRows}}"""
    }
    respond(ex, 200, s"""{"datasets": [${items.mkString(", ")}]}""")
  }

  private def unregister(ex: HttpExchange, name: String): Unit =
    Catalog.get(name) match {
      case None =>
        respond(ex, 200, """{"success": true, "datasetFound": false, "datasetLastUsed": null}""")
      case Some(_) =>
        val lastUsed = Catalog.lastUsed(name)
        val sinceSec = lastUsed.map(t => (System.currentTimeMillis() - t) / 1000)
        val blocked = sinceSec.exists(_ < unregisterSafetySec) && !boolArg(ex, "force")
        if (blocked)
          // Reference invoker_api.unregister_dataset: refuse within the
          // safety interval unless forced (success=false, not an HTTP error).
          respond(ex, 200,
            s"""{"success": false, "datasetFound": true, "datasetLastUsed": ${lastUsed.get},
               | "errorMessage": "Dataset was last used ${sinceSec.get} seconds ago, which is less than safety interval $unregisterSafetySec. Use the 'force' parameter to unregister anyway."}""".stripMargin)
        else {
          // Unregister also drops the catalog's memoised handles (and a
          // resident copy) for the registration.
          Catalog.unregister(name)
          // Sweep the serving caches (r17). Correctness never depended on
          // this — every key is registeredAt-versioned and the name lookup
          // fails post-unregister — but the dead registration's
          // result-cache entries are unreachable driver memory. The
          // in-flight sweep only removes the LATCH (new arrivals can't
          // coalesce onto it); a winner mid-execution still completes its
          // future for the waiters already holding it, and its own
          // compare-and-remove no-ops harmlessly.
          resultCache.synchronized {
            resultCache.keySet().removeIf(k => k.dataset == name)
          }
          inFlight.keySet().removeIf(k => k.dataset == name)
          respond(ex, 200,
            s"""{"success": true, "datasetFound": true, "datasetLastUsed": ${lastUsed.map(_.toString).getOrElse("null")}}""")
        }
    }

  private def schema(ex: HttpExchange, name: String): Unit = {
    val ds = Catalog.get(name).getOrElse(
      throw QueryValidationException("schema", s"Unknown dataset '$name'"))
    if (!boolArg(ex, "full")) {
      // Short schema (reference DatasetShortSchema, dataset.py:142-150).
      // Parquet/Spark has no pandas "category" dtype, so sourceCategoricals
      // is always empty; registration-detected ones are potential.
      val cols = ds.columns.toSeq.sortBy(_._1)
        .map { case (n, t) => s"${q(n)}: ${q(t.toString.toUpperCase)}" }
      val cats = ds.columnAttrs.collect { case (n, a) if a.categorical => n }.toSeq.sorted
      respond(ex, 200,
        s"""{"columns": {${cols.mkString(", ")}},
           | "minTimestamp": ${ds.minTimestamp}, "maxTimestamp": ${ds.maxTimestamp},
           | "sourceCategoricals": [], "potentialCategoricals": [${cats.map(q).mkString(", ")}]}""".stripMargin)
    } else {
      // Full schema (reference DatasetSchema: per-column DatasetColumn with
      // dtype name + attributes from registration).
      val cols = ds.columns.toSeq.sortBy(_._1).map { case (n, t) =>
        val a = ds.columnAttrs.getOrElse(n, Catalog.ColumnAttrs())
        val attrs = Seq(
          a.numericMin.map(v => s""""numericMin": $v"""),
          a.numericMax.map(v => s""""numericMax": $v"""),
          Some(s""""categorical": ${a.categorical}"""),
          a.catUniqueRatio.map(v => s""""catUniqueRatio": $v"""),
          if (a.catTopValues.nonEmpty)
            Some(s""""catTopValues": {${a.catTopValues.map { case (v, r) => s"${q(v)}: $r" }.mkString(", ")}}""")
          else None
        ).flatten.mkString(", ")
        s"""${q(n)}: {"name": ${q(n)}, "dtypeName": ${q(ds.dtypeNames.getOrElse(n, ""))}, "coltype": ${q(t.toString.toUpperCase)}, "colattrs": {$attrs}}"""
      }
      val unsup = ds.unsupportedColumns.sorted
        .map(n => s"${q(n)}: ${q(ds.dtypeNames.getOrElse(n, ""))}")
      respond(ex, 200,
        s"""{"groupIdColumn": ${q(ds.groupIdColumn)}, "timestampColumn": ${q(ds.timestampColumn)},
           | "columns": {${cols.mkString(", ")}},
           | "unsupportedColumns": {${unsup.mkString(", ")}}}""".stripMargin)
    }
  }

  private def parts(ex: HttpExchange, name: String): Unit = {
    val ds = Catalog.get(name).getOrElse(
      throw QueryValidationException("schema", s"Unknown dataset '$name'"))
    // The registration's own listing — works for local paths and s3a alike
    // (reference DatasetPartsInfo with naming method LIST, dataset.py:81-96).
    val files = Catalog.partFiles(spark, ds.basepath)
    respond(ex, 200,
      s"""{"namingMethod": "LIST", "totalParts": ${files.size},
         | "totalSize": ${files.map(_.length).sum},
         | "filenames": [${files.map(f => q(f.path.toUri.getPath)).mkString(", ")}]}""".stripMargin)
  }

  /** Plan + execute a query; `emptyBody` serves GET empty-query. */
  private def query(ex: HttpExchange, name: String, emptyBody: Boolean): Unit = {
    val ds = Catalog.get(name).getOrElse(
      throw QueryValidationException("schema", s"Unknown dataset '$name'"))
    val bodyText = if (emptyBody) "{}" else readBody(ex)
    val parsed = QueryParser.parse(bodyText)
    SchemaValidator.validateTimeframeScale(parsed, ds.minTimestamp, ds.maxTimestamp)

    // Cache key captured with the SAME catalog snapshot the query runs on
    // (ds fetched once at request entry): registeredAt versions the entry.
    val cacheKey = QueryKey(ds.name, ds.registeredAt, parsed)

    // "plan" names WHICH plan answered (r14): routing is deliberately
    // invisible in the results — the operability surface is the stats
    // block, where "plan" rides as a trailing key, beside the number of
    // Spark jobs and the wall time outside them.
    def withStats(body: String, firedPlan: String, stats: JobStats.Snapshot,
                  cached: Boolean): String =
      ResultJson.addTopLevelField(body, "stats",
        stats.toJsonWith("jobs" -> stats.jobs.size.toString,
          "driverGapMs" -> stats.driverGapMs.toString,
          "plan" -> q(firedPlan), "profile" -> q(ds.profile.name),
          "cached" -> cached.toString))

    // Answer from a (body, plan) already paid for by someone else — a
    // cache hit or a coalesced wait. Zero-cost stats block,
    // schema-identical to a real run's (clients read
    // stats.rowsScanned/coreSecs as the cost basis — a hit's cost IS
    // zero), with "cached": true and the plan that produced the entry.
    def cachedResponse(body: String, firedPlan: String): String = {
      mQueries.incrementAndGet()
      mCacheHits.incrementAndGet()
      // A cached query is still a use for the unregister safety interval.
      Catalog.touch(name)
      withStats(body, firedPlan, JobStats.Snapshot(0, 0, 0, 0, 0, 0, 0), cached = true)
    }

    def runQuery(): ((String, String), JobStats.Snapshot) = {
      // Loaded on the result-cache miss path only (a hit must not pay the
      // parquet footer/file-index read — the cache test's zero-jobs
      // assertion watches exactly this), and even misses reuse the
      // catalog's memoised handle: the footer/index read happens once per
      // (name, registeredAt), not once per query (r16, probe-first: it
      // was ~10% of the measured ~270ms serving floor, BENCH.md
      // §"Serving-path latency floor").
      // Load through the ds SNAPSHOT bound at request entry, never by
      // name (r16 race fix): a re-registration landing mid-request would
      // otherwise swap the basepath under this request's registeredAt —
      // a torn version that would also poison the handle memo's key.
      // The handle lives in the registration's execution-profile session,
      // so every query planned on it runs under that profile.
      val df = Catalog.load(spark, ds)
      val engine = ApiServer.engine(ds, routingMinBytes)
      // Caches.scoped: each query owns (and on exit drains) exactly the
      // frames IT retained — async/stream queries run concurrently on
      // their own threads, and the r14 global drain-per-request let one
      // query's finally unpersist another's in-flight shared
      // candidate-pass table (perf-only, but it silently re-introduced
      // the per-frame recomputation the cache exists to avoid).
      val result = try graft.util.Caches.scoped(JobStats.measure(spark) {
        val planned = engine.runValidated(df, parsed)
        (ResultJson.build(planned), planned.plan)
      }) catch { case e: Throwable =>
        mQueryErrors.incrementAndGet()
        throw e
      }
      val stats = result._2
      mQueries.incrementAndGet()
      mQueryMs.addAndGet(stats.wallTimeMs)
      mRowsScanned.addAndGet(stats.rowsScanned)
      mBytesScanned.addAndGet(stats.bytesScanned)
      mShuffleBytes.addAndGet(stats.shuffleBytesWritten)
      mCoreMs.addAndGet(stats.executorRunMs)
      result
    }

    def execute(): String = {
      val hit = if (resultCacheSize > 0) resultCache.get(cacheKey) else null
      if (hit != null) cachedResponse(hit._1, hit._2)
      else if (resultCacheSize > 0) {
        val fresh = new java.util.concurrent.CompletableFuture[(String, String)]()
        val winner = inFlight.putIfAbsent(cacheKey, fresh)
        if (winner != null) {
          // Coalesced: an identical query is executing right now — await
          // it instead of running a second full scan. Counted coalesced
          // whatever the outcome (the request DID ride the latch); a
          // propagated failure is this client's own visible failure too,
          // so it counts in graft_query_errors_total — N herding clients
          // seeing the one failed scan is N failed requests. The
          // ExecutionException unwraps to the winner's own exception so
          // the waiter's status code matches (400 stays 400). The wait is
          // TIMED (r16): a waiter holds an HTTP worker thread, so an
          // untimed get on a wedged winner would starve the status/metrics
          // endpoints forever under a small pool — past `coalesceWaitSec`
          // the waiter gives up the latch and executes the query itself
          // (uncoalesced but correct; the belt-and-braces
          // completeExceptionally in the winner's finally covers the
          // abandoned-future case well before this ceiling).
          mCoalesced.incrementAndGet()
          try {
            val (body, firedPlan) =
              try winner.get(coalesceWaitSec.toLong, java.util.concurrent.TimeUnit.SECONDS)
              catch {
                case e: java.util.concurrent.ExecutionException =>
                  mQueryErrors.incrementAndGet()
                  throw e.getCause
              }
            cachedResponse(body, firedPlan)
          } catch {
            case _: java.util.concurrent.TimeoutException =>
              // Before paying a full scan, re-check the cache (r17): the
              // winner — or an earlier timed-out waiter — may have
              // completed and cached just after this waiter's deadline.
              val late = resultCache.get(cacheKey)
              if (late != null) cachedResponse(late._1, late._2)
              else {
                val (pair, stats) = runQuery()
                // Cache the fallback's result too (r17, same byte
                // ceiling): with a wedged winner holding the latch, every
                // subsequent waiter times out — without this put each one
                // would re-execute serially instead of hitting the cache.
                if (pair._1.getBytes(StandardCharsets.UTF_8).length <= resultCacheMaxEntryBytes)
                  resultCache.put(cacheKey, pair)
                withStats(pair._1, pair._2, stats, cached = false)
              }
          }
        } else {
          try {
            // Won the latch; re-check the cache — the prior winner may
            // have completed between our get() and putIfAbsent().
            val nowCached = resultCache.get(cacheKey)
            if (nowCached != null) {
              fresh.complete(nowCached)
              cachedResponse(nowCached._1, nowCached._2)
            } else {
              val (pair, stats) = try runQuery()
              catch { case e: Throwable => fresh.completeExceptionally(e); throw e }
              // Byte ceiling measured on the actual UTF-8 encoding (body
              // data can carry non-ASCII ≥ 0x20, which q() passes through
              // raw — String.length would undercount those up to 3×). An
              // oversized result serves but is not retained.
              if (pair._1.getBytes(StandardCharsets.UTF_8).length <= resultCacheMaxEntryBytes)
                resultCache.put(cacheKey, pair)
              fresh.complete(pair)
              withStats(pair._1, pair._2, stats, cached = false)
            }
          } finally {
            // Belt-and-braces liveness: if anything above exited without
            // completing the future (e.g. a VirtualMachineError between
            // runQuery() returning and complete()), waiters already hold
            // a reference to it and sit in an untimed get() — complete it
            // exceptionally so they fail instead of blocking HTTP worker
            // threads forever. No-op when already completed.
            fresh.completeExceptionally(
              new IllegalStateException("in-flight query abandoned before completion"))
            inFlight.remove(cacheKey, fresh)
          }
        }
      } else {
        val (pair, stats) = runQuery()
        withStats(pair._1, pair._2, stats, cached = false)
      }
    }

    if (boolArg(ex, "async")) submitAsync(ex, name)(execute())
    else if (boolArg(ex, "stream")) {
      // Chunked response: progress lines while the query runs, then the
      // result as the last line (reference run_streamable, apiserver.py:125-172).
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, 0) // length 0 → chunked
      val out = ex.getResponseBody
      // Timed future get, not a sleep-poll (r16): the former 200ms poll
      // granularity added ~180ms p50 to every short stream request
      // (BENCH.md serving floor: stream p50 403ms vs sync 222ms) — the
      // waiter now wakes the instant the query completes, emitting a
      // progress line each second it doesn't.
      val done = new java.util.concurrent.CompletableFuture[String]()
      val t = new Thread(() => {
        try done.complete(execute())
        catch { case e: Throwable => done.completeExceptionally(e) }
      }, "graft-query-stream")
      t.start()
      var last: String = null
      var waited = 0L
      while (last == null) {
        try last = done.get(1, java.util.concurrent.TimeUnit.SECONDS)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            waited += 1000
            out.write(s"""{"stage": "RUNNING", "message": "query running", "elapsedMs": $waited}\n"""
              .getBytes(StandardCharsets.UTF_8))
            out.flush()
          case e: java.util.concurrent.ExecutionException =>
            last = s"""{"errorMessage": ${q(String.valueOf(e.getCause.getMessage))}}"""
        }
      }
      out.write((last + "\n").getBytes(StandardCharsets.UTF_8))
      out.flush()
    } else respond(ex, 200, execute())
  }

  /** Submit `work` to the bounded async pool, track it in the job
    * registry, answer 202 with the id + status URL. Beyond `asyncThreads`
    * concurrent jobs, submissions queue FIFO (stage "QUEUED") up to
    * `asyncQueueMax` waiting; past that the submission is REJECTED with
    * 429 + Retry-After (r17) — the pool queue and the QUEUED registry
    * population stay bounded under a flood, at the price of the client
    * retrying. Admission is exact (atomic increment-then-check, backed
    * out on rejection), never approximate under concurrency. */
  private def submitAsync(ex: HttpExchange, dataset: String)(work: => String): Unit = {
    if (pendingAsync.incrementAndGet() > asyncThreads.toLong + asyncQueueMax) {
      pendingAsync.decrementAndGet()
      mRejected.incrementAndGet()
      // Retry-After sized to one pool-drain round at the measured floor —
      // a hint, not a promise (RFC 6585 §4 requires no accuracy).
      ex.getResponseHeaders.set("Retry-After", "1")
      respond(ex, 429,
        s"""{"errorMessage": "async queue full ($asyncQueueMax queued); retry later"}""")
      return
    }
    // Bound the job registry: evict FINISHED jobs beyond the last 1000 (a
    // long-lived server would otherwise accumulate one entry per query).
    // Only DONE/FAILED are evictable — a QUEUED job's registry entry is
    // the client's only handle on work the pool hasn't started yet (and
    // with the admission cap above, the un-evictable population is now
    // bounded by asyncThreads + asyncQueueMax).
    if (jobs.size > 1000) {
      import scala.jdk.CollectionConverters._
      jobs.values.asScala.filter(j => j.stage == "DONE" || j.stage == "FAILED")
        .toSeq.sortBy(_.id.drop(1).toLong)
        .dropRight(500).foreach { j =>
          // Registry eviction releases the result-byte budget too — the
          // removed entry's payload is unreachable.
          if (jobs.remove(j.id) != null) dropRetained(j)
        }
    }
    val id = s"q${jobSeq.incrementAndGet()}"
    val job = AsyncJob(id, dataset, stage = "QUEUED")
    jobs.put(id, job)
    // A rejected submit (pool shut down mid-stop) must release the
    // admission slot it claimed — the 500 it surfaces as is fine, a
    // stuck-high pendingAsync that 429s forever is not.
    try asyncPool.submit(new Runnable {
      override def run(): Unit = {
        job.stage = "RUNNING"
        try retainResult(job, work)
        catch { case e: Throwable => job.error = Some(String.valueOf(e.getMessage)); job.stage = "FAILED" }
        finally pendingAsync.decrementAndGet()
      }
    })
    catch { case e: Throwable =>
      pendingAsync.decrementAndGet(); jobs.remove(id); throw e
    }
    respond(ex, 202, s"""{"queryId": ${q(id)}, "status": "/queries/$id/status"}""")
  }

  private def queryStatus(ex: HttpExchange, id: String): Unit = {
    // Lazy TTL expiry rides the poll itself: a status read past the TTL
    // observes "resultEvicted", never a payload older than the bound.
    sweepExpiredResults()
    Option(jobs.get(id)) match {
      case None => respond(ex, 404, s"""{"errorMessage": "unknown query '$id'"}""")
      case Some(job) =>
        val result = job.result.map(r => s""", "result": $r""").getOrElse("")
        val error = job.error.map(e => s""", "errorMessage": ${q(e)}""").getOrElse("")
        // A DONE job whose payload fell to the retained-result byte budget
        // says so: the late poller re-runs the query instead of reading
        // "done with no result" as a server bug.
        val evicted = if (job.resultEvicted) s""", "resultEvicted": true""" else ""
        val done = job.stage == "DONE" || job.stage == "FAILED"
        respond(ex, 200,
          s"""{"queryId": ${q(job.id)}, "dataset": ${q(job.dataset)}, "stage": ${q(job.stage)}, "done": $done$error$evicted$result}""")
    }
  }

  // ----------------------------------------------------------------- metrics

  // Cumulative server counters, exposed in the Prometheus text format —
  // parity with the reference's Prometheus export (frocket/common/
  // metrics.py:126-174, invoker/stats_builder.py). Per-query detail stays
  // in each response's "stats" block; this is the fleet-scrape view.
  private val mQueries      = new AtomicLong()
  private val mCacheHits    = new AtomicLong()
  private val mCoalesced    = new AtomicLong()
  private val mQueryErrors  = new AtomicLong()
  private val mRejected     = new AtomicLong()
  private val mQueryMs      = new AtomicLong()
  private val mRowsScanned  = new AtomicLong()
  private val mBytesScanned = new AtomicLong()
  private val mShuffleBytes = new AtomicLong()
  private val mCoreMs       = new AtomicLong()

  private def metrics(ex: HttpExchange): Unit = {
    // A scrape is an observation of the registry: expired payloads drop
    // BEFORE the gauges read, so an idle server's retained-bytes gauge
    // reports 0 past the TTL instead of stale bytes nobody can reach.
    sweepExpiredResults()
    def m(name: String, kind: String, help: String, value: Long): String =
      s"# HELP $name $help\n# TYPE $name $kind\n$name $value\n"
    val body =
      m("graft_queries_total", "counter", "Queries executed successfully", mQueries.get) +
      m("graft_query_cache_hits_total", "counter", "Queries answered from the versioned result cache", mCacheHits.get) +
      m("graft_query_coalesced_total", "counter", "Queries coalesced onto an identical in-flight execution", mCoalesced.get) +
      m("graft_query_errors_total", "counter", "Queries that failed", mQueryErrors.get) +
      m("graft_query_wall_ms_total", "counter", "Total query wall time (ms)", mQueryMs.get) +
      m("graft_rows_scanned_total", "counter", "Rows read by queries", mRowsScanned.get) +
      m("graft_bytes_scanned_total", "counter", "Bytes read by queries", mBytesScanned.get) +
      m("graft_shuffle_bytes_total", "counter", "Shuffle bytes written by queries", mShuffleBytes.get) +
      m("graft_core_ms_total", "counter", "Executor-core milliseconds consumed by queries (cost basis)", mCoreMs.get) +
      m("graft_datasets_registered", "gauge", "Currently registered datasets", Catalog.list().size.toLong) +
      m("graft_query_rejected_total", "counter", "Async submissions rejected 429 at the queue cap", mRejected.get) +
      m("graft_result_cache_entries", "gauge", "Entries currently in the versioned result cache", resultCache.size.toLong) +
      m("graft_df_handle_entries", "gauge", "Per-registration DataFrame handles the catalog holds loaded (all host sessions)", Catalog.loadedHandles.toLong) +
      m("graft_async_jobs_pending", "gauge", "Async jobs admitted but not yet finished (QUEUED + RUNNING)", pendingAsync.get) +
      m("graft_async_result_bytes_retained", "gauge", "UTF-8 bytes of async results currently retained in the job registry", retainedResultBytes.get) +
      m("graft_inflight_coalescable_queries", "gauge", "Cold-key queries executing under the single-flight latch right now", inFlight.size.toLong)
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "text/plain; version=0.0.4; charset=utf-8")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  // ----------------------------------------------------------------- plumbing

  // Bounded read (r17): readNBytes allocates incrementally up to the
  // requested limit, so an oversized body costs at most maxBodyBytes+1 of
  // driver memory before the 413, never the client's full payload.
  private def readBody(ex: HttpExchange): String = {
    val bytes = ex.getRequestBody.readNBytes(maxBodyBytes + 1)
    if (bytes.length > maxBodyBytes) throw new BodyTooLargeException(maxBodyBytes)
    new String(bytes, StandardCharsets.UTF_8)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  private def q(s: String): String =
    "\"" + Option(s).getOrElse("null").flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object ApiServer {

  /** The engine a query on registration `ds` runs through. The
    * registration-validated day-partition declaration flows into the
    * engine here — timeframe queries over partitionByDay layouts prune
    * whole day directories on the serving path too. numGroups (+
    * gidMaxBytes for string gids) gate the routed plan's
    * survivor-sharing broadcast (QueryEngine.SurvivorShareMax*); passed
    * only when the registration scanned every part — a sampled
    * registration's approximate stats could undercount past the gate's
    * headroom. */
  private[graft] def engine(ds: Catalog.RegisteredDataset,
                            routingMinBytes: Option[Long]): QueryEngine = {
    val base = new QueryEngine(DatasetSpec(ds.groupIdColumn, ds.timestampColumn,
      dayPartitionColumn = ds.dayPartitionColumn,
      numGroups = if (ds.statsExact) Some(ds.numGroups) else None,
      gidMaxBytes = if (ds.statsExact) ds.gidMaxBytes else None))
    routingMinBytes.fold(base)(base.withRoutingThreshold)
  }
}

/** `runMain graft.server.ApiServerMain [port]` — serve until killed. */
object ApiServerMain {
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8318)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val srv = new ApiServer(spark, port,
      unregisterSafetySec = sys.env.getOrElse("GRAFT_UNREGISTER_SAFETY_SEC", "0").toInt,
      catalogStore = sys.env.get("GRAFT_CATALOG_STORE"),
      routingMinBytes = sys.env.get("GRAFT_ROUTING_MIN_BYTES").map(_.toLong),
      resultCacheSize = sys.env.getOrElse("GRAFT_RESULT_CACHE_SIZE", "0").toInt,
      resultCacheMaxEntryBytes =
        sys.env.getOrElse("GRAFT_RESULT_CACHE_MAX_ENTRY_BYTES", (8L << 20).toString).toLong,
      httpThreads = sys.env.getOrElse("GRAFT_HTTP_THREADS", "2").toInt,
      asyncThreads = sys.env.getOrElse("GRAFT_ASYNC_THREADS", "8").toInt,
      coalesceWaitSec = sys.env.getOrElse("GRAFT_COALESCE_WAIT_SEC", "600").toInt,
      asyncQueueMax = sys.env.getOrElse("GRAFT_ASYNC_QUEUE_MAX", "1000").toInt,
      maxBodyBytes = sys.env.getOrElse("GRAFT_MAX_BODY_BYTES", (8 << 20).toString).toInt,
      asyncResultsMaxBytes =
        sys.env.getOrElse("GRAFT_ASYNC_RESULTS_MAX_BYTES", (256L << 20).toString).toLong,
      asyncResultTtlSec =
        sys.env.getOrElse("GRAFT_ASYNC_RESULT_TTL_SEC", "3600").toLong)
    srv.start()
    // SIGTERM/SIGINT → graceful drain (r17): without this hook a kill is
    // the abrupt stop() — in-flight queries die mid-latch and a coalesce
    // winner's waiters are failed rather than answered. Registered with
    // HADOOP's ShutdownHookManager, not Runtime.addShutdownHook: Spark
    // registers its ENTIRE teardown (SparkContext stop, block manager,
    // temp dirs) as one Hadoop hook at priority 40
    // (SparkShutdownHookManager.install), and Runtime hooks run
    // CONCURRENTLY with it — a plain Runtime drain races Spark's teardown
    // and in-flight queries die mid-scan (observed: FAILED_READ_FILE on a
    // drain that still reported success). Priority 60 > 40 orders the
    // drain strictly BEFORE Spark's hook inside Hadoop's single-threaded
    // manager, so admitted queries FINISH on a live SparkContext, then
    // Spark tears down. The explicit timeout keeps Hadoop's default
    // per-hook limit from clipping a long drain. stopGracefully bounds
    // the drain at GRAFT_DRAIN_SEC total (default 30s); an orchestrator's
    // kill-grace window (e.g. Kubernetes' terminationGracePeriodSeconds)
    // just needs to exceed it.
    val drainSec = sys.env.getOrElse("GRAFT_DRAIN_SEC", "30").toInt
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(new Runnable {
      override def run(): Unit = {
        val drained = srv.stopGracefully(drainSec)
        val failed = srv.asyncJobCounts.getOrElse("FAILED", 0)
        // println, not a logger: logging backends may already be shut down
        // inside a shutdown hook.
        println(s"""{"shutdown": "graceful", "drainSec": $drainSec, "drained": $drained, "jobsFailed": $failed}""")
      }
    }, 60, drainSec.toLong + 10L, java.util.concurrent.TimeUnit.SECONDS)
    println(s"""{"serving": ${srv.boundPort}}""")
    Thread.currentThread().join()
  }
}
