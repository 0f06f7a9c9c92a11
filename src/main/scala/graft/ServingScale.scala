package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.result.JobStats

/**
 * Serving-path latency-floor probe (r15): at 100 TB a query's cost is the
 * scan, but a deployment also answers many SMALL queries, where the
 * per-request overhead — parse, validate, plan (including `bigEnough`'s
 * one optimizer pass for routable shapes), execution of a tiny job, stats
 * settle, cache scope churn, HTTP — sets the latency floor and the max
 * QPS one driver sustains. The reference's serving analog is the Flask
 * apiserver fronting warm Lambdas (frocket/apiserver.py), whose own floor
 * is the invoke round-trip.
 *
 * Run on sf0.001 (1k rows) so execution is negligible and the overhead is
 * what's measured. Modes:
 *   - planning-only: QueryParser.parse + engine.runValidated, NO actions —
 *     isolates the per-request planning cost, routed vs window engines,
 *     and a non-routable filters shape (no bigEnough pass);
 *   - HTTP end-to-end: a live ApiServer answering the routable sequence
 *     query, 1 sequential client and 2 concurrent clients (= the server's
 *     worker pool), requests/sec + per-request percentiles.
 *
 * Prints one JSON line per phase (BENCH.md §"Serving-path latency floor").
 *
 * `ServingScale crossover [--reps N] <dir>...` instead times uncached
 * queries of nine dashboard shapes on the three layouts a registration
 * can be served from (`graft.catalog.Catalog.load`: codegen over the part
 * files, and the interpreted profile's resident copy hashed by group id
 * and in one partition) over each events directory, e.g. the
 * query-service benchmark's generator output at several row counts. Each repetition draws fresh
 * literals, so the codegen profile compiles as a first-seen query does;
 * every layout must give the same answer. Prints a table, each copy's
 * size in the block manager, and one JSON line per shape and layout
 * (BENCH.md §"Execution profile crossover", §"One interpreted profile").
 */
object ServingScale extends Probe.Body {
  // The battery's serving shape: one shuffle partition per core.
  override def confs(cpus: Int) = Map("spark.sql.shuffle.partitions" -> cpus.toString)

  def run(p: Probe.Run): Unit =
    if (p.args.headOption.contains("crossover")) crossover(p, p.args.tail.toList) else floor(p)

  private def floor(p: Probe.Run): Unit = {
    val spark = p.spark
    val sfDir = p.args.headOption.getOrElse("/root/testdata/sf0.001")

    import graft.engine.{DatasetSpec, QueryEngine}
    val ev = ops.Tables.events(spark, sfDir)
    val spec = DatasetSpec("user_id", "ts")
    val routedEngine = new QueryEngine(spec).withRoutingThreshold(0)
    val windowEngine = new QueryEngine(spec).withWindowPlan

    val seqJson =
      """{"query": {"conditions": [{"sequence": [
        |  {"filter": ["event_type","==","view"]},
        |  {"filter": ["event_type","==","purchase"]}]}]}}""".stripMargin
    val filtersJson =
      """{"query": {"conditions": [
        |  {"filter": ["event_type","==","purchase"], "target": ["count", ">=", 2]}]}}""".stripMargin

    // -------------------------------------------------- planning-only cost
    // runValidated builds every output frame lazily — no job runs; for the
    // routable shape the routed engine still pays bigEnough's optimizer
    // pass and the window engine doesn't, which is exactly the difference
    // worth a number.
    def planMs(label: String, engine: QueryEngine, json: String, iters: Int = 100): Unit = {
      val q = graft.query.QueryParser.parse(json)
      (1 to 20).foreach(_ => engine.runValidated(ev, q)) // JIT + analysis warm
      val (_, stats) = p.measure {
        (1 to iters).foreach(_ => engine.runValidated(ev, graft.query.QueryParser.parse(json)))
      }
      p.emit(label, stats, "sf" -> sfDir, "ms_per_req" -> stats.wallTimeMs.toDouble / iters)
    }
    planMs("plan_seq_routed", routedEngine, seqJson)
    planMs("plan_seq_window", windowEngine, seqJson)
    planMs("plan_filters", routedEngine, filtersJson)

    // -------------------------------------------------- HTTP end-to-end
    val server = new graft.server.ApiServer(spark, 0, routingMinBytes = Some(0))
    server.start()
    val client = HttpClient.newHttpClient()
    // The q-quantile, in ms, of client-side request latencies in ns; each
    // phase's wall is its measurement's.
    def pct(lat: Seq[Long], q: Double): Double = lat.sorted.apply(((lat.length - 1) * q).toInt) / 1e6
    def post(to: graft.server.ApiServer, path: String, body: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${to.boundPort}$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    def register(to: graft.server.ApiServer, name: String): Unit = {
      val r = post(to, "/datasets/register",
        s"""{"name": "$name", "basepath": "$sfDir/events.parquet",
           | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      require(r.statusCode() == 200, r.body())
    }
    // One request's client-side latency in ns; `ok` checks the response.
    def timedPost(to: graft.server.ApiServer, path: String)(ok: HttpResponse[String] => Boolean): Long = {
      val t = System.nanoTime()
      val r = post(to, path, seqJson)
      require(ok(r), r.body())
      System.nanoTime() - t
    }
    try {
      register(server, "srv")
      def oneRequest(): Long = timedPost(server, "/datasets/srv/query")(r =>
        r.statusCode() == 200 && r.body().contains("\"plan\""))
      (1 to 30).foreach(_ => oneRequest()) // warm: JIT, parquet footer, plans

      val n1 = 200
      val (lat, one) = p.measure(Seq.fill(n1)(oneRequest()))
      p.emit("http_1client", one, "sf" -> sfDir, "requests" -> n1,
        "rps" -> n1 * 1000.0 / one.wallTimeMs, "p50_ms" -> pct(lat, 0.5), "p95_ms" -> pct(lat, 0.95))

      // 2 concurrent clients = the server's worker-thread count; also the
      // regime the r15 per-query cache scope + stats attribution protect.
      val n2 = 200
      val errs = new java.util.concurrent.atomic.AtomicInteger
      val (_, two) = p.measure {
        val threads = (1 to 2).map { _ =>
          new Thread(() => (1 to n2 / 2).foreach { _ =>
            try oneRequest() catch { case _: Throwable => errs.incrementAndGet() }
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
      }
      require(errs.get() == 0, s"${errs.get()} concurrent requests failed")
      p.emit("http_2clients", two, "sf" -> sfDir, "requests" -> n2,
        "rps" -> n2 * 1000.0 / two.wallTimeMs)

      // Chunked-stream path (r16): the long-query surface clients actually
      // use at 100 TB — progress lines then the result. Its floor is the
      // sync floor plus the server's completion-detection granularity.
      def oneStream(): Long = timedPost(server, "/datasets/srv/query?stream=true")(r =>
        r.statusCode() == 200 && r.body().split("\n").last.contains("matchingGroups"))
      (1 to 20).foreach(_ => oneStream())
      val nS = 100
      val (latS, streamed) = p.measure(Seq.fill(nS)(oneStream()))
      p.emit("http_stream", streamed, "sf" -> sfDir, "requests" -> nS,
        "p50_ms" -> pct(latS, 0.5), "p95_ms" -> pct(latS, 0.95))

      // Cached repeats (r15): the same query against a server with the
      // versioned result cache ON — the repeated-dashboard-query regime.
      // The floor collapses to parse + key lookup + HTTP; at 100 TB this
      // is the difference between re-scanning the corpus and answering
      // from the driver's LRU.
      val cServer = new graft.server.ApiServer(spark, 0,
        routingMinBytes = Some(0), resultCacheSize = 64,
        httpThreads = 4) // 4 sync workers so the herd probe below genuinely overlaps
      cServer.start()
      try {
        def reRegister(): Unit = register(cServer, "srvcache")
        reRegister()
        def oneCached(): Long =
          timedPost(cServer, "/datasets/srvcache/query")(_.statusCode() == 200)
        oneCached() // cold fill
        (1 to 30).foreach(_ => oneCached()) // warm
        val nC = 500
        val (latC, cached) = p.measure(Seq.fill(nC)(oneCached()))
        p.emit("http_cached", cached, "sf" -> sfDir, "requests" -> nC,
          "rps" -> nC * 1000.0 / cached.wallTimeMs, "p50_ms" -> pct(latC, 0.5))

        // Cold-key herd (r15): 4 concurrent clients fire the SAME query
        // right after a re-registration invalidated its key — the regime
        // the single-flight latch exists for. Per iteration: re-register
        // (fresh key), measure one solo cold request; re-register again,
        // measure the 4-client batch wall. With coalescing the batch costs
        // ONE execution, so its wall tracks the solo cold request instead
        // of stacking four. Min of 3 iterations (drift protocol: paired,
        // back-to-back).
        val herdErrs = new java.util.concurrent.atomic.AtomicInteger
        val (soloCold, herd) = (1 to 3).map { _ =>
          reRegister()
          val solo = oneCached() / 1e6
          reRegister()
          (solo, p.measure {
            val threads = (1 to 4).map(_ => new Thread(() =>
              try oneCached() catch { case _: Throwable => herdErrs.incrementAndGet() }))
            threads.foreach(_.start()); threads.foreach(_.join())
          }._2)
        }.minBy(_._2.wallTimeMs)
        require(herdErrs.get() == 0, s"${herdErrs.get()} herd requests failed")
        p.emit("http_herd4", herd, "sf" -> sfDir, "solo_cold_ms" -> soloCold)
      } finally cServer.stop()
    } finally {
      server.stop()
      // The catalog is process-wide: release both registrations' copies.
      Seq("srv", "srvcache").foreach(graft.catalog.Catalog.unregister)
    }
  }


  /** Nine shapes covering every query family — count/sum targets with
    * includeZero, an OR relation, 2- and 3-step (negated) sequences,
    * counts-only and step-aggregated funnels, a per-value top-K and a
    * timeframe — over the events schema (user_id, ts, event_type, value,
    * props). `r` varies every literal. */
  private def shapes(r: Int): Seq[(String, String)] = {
    val types = Seq("view", "search", "click", "add_to_cart", "purchase", "signup")
    def et(k: Int) = types((r + k) % types.size)
    val v = 50 + 25 * ((r * 7) % 37)
    val dur = Seq(2L, 6L, 24L, 72L, 240L)(r % 5) * 3600L * 1000000000L
    val dayNs = 86400L * 1000000000L
    val from = 1704067200L * 1000000000L + (r % 23) * dayNs
    def step(k: Int, extra: String = "", found: Boolean = true) =
      s"""{"filters":[["event_type","==","${et(k)}"]$extra]${if (found) "" else ""","rowFound":false"""}}"""
    val valueGt = s""",["value",">",$v]"""
    Seq(
      "count_target" ->
        s"""{"query":{"conditions":[{"filters":[["value",">",$v]],"target":["count",">=",${1 + r % 5}]}],"aggregations":[{"column":"event_type","type":"countPerValue"}]}}""",
      "sum_include_zero" ->
        s"""{"query":{"conditions":[{"filters":[["event_type","==","${et(0)}"]],"target":["sum","value",">",${200 + 100 * (r % 28)}]},{"filters":[["event_type","==","${et(1)}"]],"target":["count","<",${1 + r % 3}],"includeZero":true}]}}""",
      "or_relation" ->
        s"""{"query":{"conditions":[{"filters":[["event_type","==","${et(2)}"]],"target":["count",">=",${2 + r % 6}]},{"filters":[["event_type","==","${et(3)}"]$valueGt],"target":["count",">=",1]}],"relation":"$$0 or $$1"}}""",
      "sequence2" ->
        s"""{"query":{"conditions":[{"sequence":[${step(0)},${step(1, valueGt)}]}]}}""",
      "sequence3_negated" ->
        s"""{"query":{"conditions":[{"sequence":[${step(0)},${step(1, found = false)},${step(2)}],"maxDuration":$dur}]}}""",
      "funnel_counts" ->
        s"""{"funnel":{"sequence":[${step(0)},${step(1)},${step(2, valueGt)}],"maxDuration":$dur}}""",
      "funnel_aggs" ->
        s"""{"funnel":{"sequence":[${step(0)},${step(1)}],"stepAggregations":[{"column":"event_type","type":"countPerValue","top":5}]}}""",
      "topk" ->
        s"""{"query":{"aggregations":[{"column":"props","type":"sumPerValue","otherColumn":"value","top":${3 + r % 8}}]}}""",
      "timeframe" ->
        s"""{"query":{"conditions":[{"filters":[["props","contains","\\"k\\": ${1 + r % 9}"]],"target":["count",">=",1]}]},"timeframe":{"from":$from,"to":${from + 5 * dayNs}}}""")
  }

  private def crossover(p: Probe.Run, args: List[String]): Unit = {
    import graft.catalog.{Catalog, ExecutionProfile}
    val (reps, dirs) = args match {
      case "--reps" :: n :: rest => (n.toInt, rest)
      case rest                  => (5, rest)
    }
    require(dirs.nonEmpty, "usage: ServingScale crossover [--reps N] <events dir>...")
    val spark = p.spark
    // A recorded size that picks each layout: no size keeps codegen's file
    // scan, the others pick the interpreted profile's two copies.
    val layouts = Seq("codegen" -> None, "hashed" -> Some(ExecutionProfile.ResidentMaxBytes),
      "one-partition" -> Some(0L))
    val labels = layouts.map(_._1)
    dirs.foreach { dir => try {
      val ds = Catalog.register(spark, "crossover", dir, "user_id", "ts")
      // The production load path, with the recorded size overridden so
      // each layout reads the same files.
      val handles = layouts.map { case (l, size) => l -> Catalog.load(spark, ds.copy(totalBytes = size)) }.toMap
      val engine = graft.server.ApiServer.engine(ds, None)
      def run(layout: String, json: String) = p.measure {
        val parsed = graft.query.QueryParser.parse(json)
        graft.query.SchemaValidator.validateTimeframeScale(parsed, ds.minTimestamp, ds.maxTimestamp)
        graft.util.Caches.scoped(
          graft.result.ResultJson.build(engine.runValidated(handles(layout), parsed)))
      }
      // One warm-up repetition on literals the timed ones never draw.
      shapes(1000).foreach { case (_, json) => labels.foreach(run(_, json)) }
      val runs = scala.collection.mutable.Map.empty[(String, String), Seq[JobStats.Snapshot]]
        .withDefaultValue(Seq.empty)
      for (r <- 0 until reps; (shape, json) <- shapes(r)) {
        // Rotate which layout goes first, so drift hits all alike.
        val order = labels.drop(r % labels.size) ++ labels.take(r % labels.size)
        val answers = order.map { layout =>
          val (a, stats) = run(layout, json)
          runs((shape, layout)) = runs((shape, layout)) :+ stats
          a
        }
        require(answers.distinct.size == 1, s"layouts disagree on $shape r=$r: $answers")
      }
      def median(xs: Seq[Double]): Double = {
        val s = xs.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
      val names = shapes(0).map(_._1)
      val rows = names.map(n => n -> labels.map(l =>
        median(runs((n, l)).map(_.wallTimeMs.toDouble))))
      val sums = labels.indices.map(i => rows.map(_._2(i)).sum)
      def line(label: String, v: Seq[Double]): String =
        f"[crossover]   $label%-18s" + v.map(x => f"$x%14.1f").mkString +
          f"  ${v(1) / v(0)}%5.2f ${v(2) / v(0)}%5.2f ${v(2) / v(1)}%5.2f"
      println(f"[crossover] $dir: ${ds.numRows} rows, ${ds.totalBytes.get} bytes, $reps reps")
      println(f"[crossover]   ${"ms (median)"}%-18s" + labels.map(l => f"$l%14s").mkString +
        "  hsh/cg one/cg one/hsh")
      rows.foreach { case (n, v) => println(line(n, v)) }
      println(line("sum of medians", sums))
      // Each copy's deserialized size, from the block manager.
      val mb = ds.totalBytes.get / 1e6
      spark.sparkContext.getRDDStorageInfo
        .filter(_.name.startsWith("resident copy of 'crossover'"))
        .foreach(i => println(f"[crossover]   copy in ${i.numPartitions}%d partitions: " +
          f"${i.memSize / 1e6}%.1f MB in memory, ${i.diskSize / 1e6}%.1f MB on disk, " +
          f"${(i.memSize + i.diskSize) / 1e6 / mb}%.1f MB per Parquet MB"))
      // One line per shape and layout: its median-wall run.
      for (n <- names; l <- labels)
        p.emit("crossover", runs((n, l)).sortBy(_.wallTimeMs).apply(reps / 2),
          "dir" -> dir, "rows" -> ds.numRows, "bytes" -> ds.totalBytes.get, "reps" -> reps,
          "shape" -> n, "layout" -> l)
    } finally Catalog.unregister("crossover") }
  }
}
