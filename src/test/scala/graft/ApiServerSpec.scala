package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.server.ApiServer

/** End-to-end HTTP API coverage: register → list → query → errors, through
  * a real socket (reference apiserver.py parity). */
class ApiServerSpec extends SparkSpec {

  private lazy val server = { val s = new ApiServer(spark, 0); s.start(); s }
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = HttpClient.newHttpClient()

  override def afterAll(): Unit = { server.stop(); super.afterAll() }

  private def post(path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("register, list, query, and error paths over HTTP") {
    val reg = post("/datasets/register",
      """{"name": "ev", "basepath": "/root/testdata/sf0.001/events.parquet",
        | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
    assert(reg.statusCode() == 200, reg.body())
    assert(reg.body().contains(""""rows": 1000"""))

    val ls = get("/datasets")
    assert(ls.statusCode() == 200 && ls.body().contains(""""name": "ev""""))

    val q = post("/datasets/ev/query",
      """{"query": {"conditions": [
        |  {"filter": ["event_type", "==", "purchase"], "target": ["count", ">=", 2]}]}}""".stripMargin)
    assert(q.statusCode() == 200, q.body())
    assert(q.body().contains(""""matchingGroups": 15"""))
    assert(q.body().contains(""""matchingGroupRows": 1000"""))
    assert(q.body().contains(""""stats""") && q.body().contains(""""rowsScanned"""), q.body())
    // per-query cost figure: executor-core-seconds (the reference's cost
    // estimate analog — stats_builder.py:42+)
    assert(q.body().contains(""""coreSecs"""), q.body())

    // validation error → 400 with errorMessage (reference error shape)
    val bad = post("/datasets/ev/query",
      """{"query": {"conditions": [{"filter": ["nope", "==", "x"]}]}}""")
    assert(bad.statusCode() == 400 && bad.body().contains("errorMessage"), bad.body())

    // timeframe at the wrong scale → 400 (dataset-aware scale check)
    val scale = post("/datasets/ev/query", """{"timeframe": {"from": 1705}}""")
    assert(scale.statusCode() == 400 && scale.body().contains("digits"), scale.body())

    // unknown dataset → 400
    val unk = post("/datasets/nope/query", """{"query": {}}""")
    assert(unk.statusCode() == 400, unk.body())

    // Lossy-cast audit at the HTTP surface (r13): a float gid can never
    // reach SequenceMatch's long-cast hazard through the serving path
    // because REGISTRATION already 4xxes it with the int-or-string
    // contract — the reference's registration_task_runner.py:85-92 rule.
    val dblDir = java.nio.file.Files.createTempDirectory("dblgid").toString
    spark.range(10).selectExpr("CAST(id AS DOUBLE) AS uid", "id AS ts",
      "'x' AS etype").write.mode("overwrite").parquet(dblDir)
    val dblReg = post("/datasets/register",
      s"""{"name": "dblgid", "basepath": "$dblDir",
         | "groupIdColumn": "uid", "timestampColumn": "ts"}""".stripMargin)
    assert(dblReg.statusCode() == 400 &&
      dblReg.body().contains("must be int or string"), dblReg.body())

    // unknown route → 404
    assert(get("/datasets/ev/bogus/deeper").statusCode() == 404)
  }

  test("query stats surface the fired plan, flipping routed vs window (r14)") {
    // Routing is semantically invisible by design; the stats block's
    // "plan" field is the operability surface — a threshold-0 server
    // routes and reports it, the default server (32 MB gate, sf0.001 is
    // far under) answers the SAME query with "window" and says so.
    val s2 = new ApiServer(spark, 0, routingMinBytes = Some(0))
    s2.start()
    try {
      val b2 = s"http://localhost:${s2.boundPort}"
      def post2(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b2 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val reg = post2("/datasets/register",
        """{"name": "evplan", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())
      val seqQ = """{"query": {"conditions": [{"sequence": [
        |  {"filter": ["event_type","==","view"]},
        |  {"filter": ["event_type","==","purchase"]}]}]}}""".stripMargin
      val routed = post2("/datasets/evplan/query", seqQ)
      assert(routed.statusCode() == 200 &&
        routed.body().contains(""""plan": "routed-sequence""""), routed.body())
      // A funnel WITH an end aggregation routes too (r14) and is labeled.
      val funQ = """{"funnel": {"sequence": [
        |  {"filter": ["event_type","==","view"]},
        |  {"filter": ["event_type","==","purchase"]}],
        | "endAggregations": [{"column": "event_type", "type": "countPerValue"}]}}""".stripMargin
      val routedF = post2("/datasets/evplan/query", funQ)
      assert(routedF.statusCode() == 200 &&
        routedF.body().contains(""""plan": "routed-funnel""""), routedF.body())
      // Same sequence query through the DEFAULT server (shared process
      // catalog): the size gate keeps the window plan, and the stats say so.
      val win = post("/datasets/evplan/query", seqQ)
      assert(win.statusCode() == 200 &&
        win.body().contains(""""plan": "window""""), win.body())
    } finally {
      s2.stop()
      graft.catalog.Catalog.unregister("evplan")
    }
  }

  test("schema routes: short lists categoricals, full carries attributes") {
    post("/datasets/register",
      """{"name": "ev2", "basepath": "/root/testdata/sf0.001/events.parquet",
        | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)

    val short = get("/datasets/ev2/schema")
    assert(short.statusCode() == 200, short.body())
    assert(short.body().contains(""""event_type": "STR""""), short.body())
    // event_type has few distinct values over 1000 rows → categorical
    assert(short.body().contains(""""potentialCategoricals": ["event_type""""), short.body())
    assert(short.body().contains(""""sourceCategoricals": []"""))

    val full = get("/datasets/ev2/schema?full=true")
    assert(full.statusCode() == 200, full.body())
    assert(full.body().contains(""""groupIdColumn": "user_id""""))
    assert(full.body().contains(""""categorical": true"""), full.body())
    assert(full.body().contains(""""catUniqueRatio""""), full.body())
    assert(full.body().contains(""""catTopValues""""), full.body())
    assert(full.body().contains(""""purchase""""), full.body()) // a top value
    assert(full.body().contains(""""numericMin""""), full.body()) // numeric attrs
  }

  test("parts route lists dataset files with sizes") {
    post("/datasets/register",
      """{"name": "ev3", "basepath": "/root/testdata/sf0.001/events.parquet",
        | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
    val parts = get("/datasets/ev3/parts")
    assert(parts.statusCode() == 200, parts.body())
    assert(parts.body().contains(""""namingMethod": "LIST""""))
    assert(parts.body().contains(""""totalParts": 1"""))
    assert(parts.body().contains("events.parquet"))
  }

  test("empty-query GET returns group/row stats") {
    post("/datasets/register",
      """{"name": "ev4", "basepath": "/root/testdata/sf0.001/events.parquet",
        | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
    val eq = get("/datasets/ev4/empty-query")
    assert(eq.statusCode() == 200, eq.body())
    assert(eq.body().contains(""""matchingGroups": 15"""))
    assert(eq.body().contains(""""matchingGroupRows": 1000"""))
  }

  test("async query: 202 + status polling to completion") {
    post("/datasets/register",
      """{"name": "ev5", "basepath": "/root/testdata/sf0.001/events.parquet",
        | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
    val sub = post("/datasets/ev5/query?async=true", """{"query": {}}""")
    assert(sub.statusCode() == 202, sub.body())
    val id = """"queryId": "([^"]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)
    var status = ""
    val deadline = System.currentTimeMillis() + 60000
    while (!status.contains(""""done": true""") && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      status = get(s"/queries/$id/status").body()
    }
    assert(status.contains(""""stage": "DONE""""), status)
    assert(status.contains(""""matchingGroups": 15"""), status)
    // unknown id → 404
    assert(get("/queries/zzz/status").statusCode() == 404)
  }

  test("concurrent queries own their caches and stats (r15)") {
    // Threshold-0 server: funnel-with-aggregation queries route and retain
    // a shared candidate-pass table per query — exactly the regime where
    // r14's global per-request drain let one query evict another's cache
    // mid-flight and the global stats listener cross-attributed tasks.
    val s4 = new ApiServer(spark, 0, routingMinBytes = Some(0))
    s4.start()
    try {
      val b4 = s"http://127.0.0.1:${s4.boundPort}"
      def post4(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b4 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def get4(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b4 + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val reg = post4("/datasets/register",
        """{"name": "evconc", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())
      val qA = """{"funnel": {"sequence": [
        |  {"filter": ["event_type","==","view"]},
        |  {"filter": ["event_type","==","purchase"]}],
        | "endAggregations": [{"column": "event_type", "type": "countPerValue"}]}}""".stripMargin
      val qB = """{"funnel": {"sequence": [
        |  {"filter": ["event_type","==","click"]},
        |  {"filter": ["event_type","==","purchase"]}],
        | "stepAggregations": [{"column": "event_type", "type": "countPerValue"}]}}""".stripMargin

      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def rowsScanned(j: JValue): BigInt = (j \ "stats" \ "rowsScanned") match {
        case JInt(n) => n
        case other   => fail(s"no rowsScanned in response: $other")
      }
      def resultPart(j: JValue): JValue = j.removeField { case (k, _) => k == "stats" }

      // Solo baselines — each query's scope drains on completion. The
      // response must parse as ONE valid JSON document end-to-end (advice
      // r14: no more string-surgery assembly), with "plan" inside stats.
      val soloA = JsonMethods.parse(post4("/datasets/evconc/query", qA).body())
      val soloB = JsonMethods.parse(post4("/datasets/evconc/query", qB).body())
      assert((soloA \ "stats" \ "plan") == JString("routed-funnel"),
        JsonMethods.compact(soloA))
      assert((soloB \ "stats" \ "plan") == JString("routed-funnel"),
        JsonMethods.compact(soloB))

      // Fire both concurrently: each async query runs on its own thread.
      val subA = post4("/datasets/evconc/query?async=true", qA)
      val subB = post4("/datasets/evconc/query?async=true", qB)
      assert(subA.statusCode() == 202 && subB.statusCode() == 202)
      def awaitResult(sub: HttpResponse[String]): JValue = {
        val id = """"queryId": "([^"]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)
        val deadline = System.currentTimeMillis() + 120000
        var status: JValue = JNothing
        while ((status \ "done") != JBool(true) && System.currentTimeMillis() < deadline) {
          Thread.sleep(100)
          status = JsonMethods.parse(get4(s"/queries/$id/status").body())
        }
        assert((status \ "stage") == JString("DONE"), JsonMethods.compact(status))
        status \ "result"
      }
      val concA = awaitResult(subA)
      val concB = awaitResult(subB)
      // (a) both concurrent results correct: identical to their solo twins.
      assert(resultPart(concA) == resultPart(soloA), "concurrent A diverged from solo A")
      assert(resultPart(concB) == resultPart(soloB), "concurrent B diverged from solo B")
      // (b) no cross-drain, no cross-attribution: each concurrent query
      // reports exactly its solo rowsScanned. A cross-drain would force
      // candidate-pass recomputation (extra scanned rows); the old global
      // listener would have added the OTHER query's scan on overlap.
      assert(rowsScanned(concA) == rowsScanned(soloA),
        s"A: concurrent=${rowsScanned(concA)} solo=${rowsScanned(soloA)}")
      assert(rowsScanned(concB) == rowsScanned(soloB),
        s"B: concurrent=${rowsScanned(concB)} solo=${rowsScanned(soloB)}")
    } finally {
      s4.stop()
      graft.catalog.Catalog.unregister("evconc")
    }
  }

  test("versioned result cache answers repeats without Spark jobs (r15)") {
    val s5 = new ApiServer(spark, 0, resultCacheSize = 8)
    s5.start()
    try {
      val b5 = s"http://127.0.0.1:${s5.boundPort}"
      def post5(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b5 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def get5(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b5 + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val reg = post5("/datasets/register",
        """{"name": "evcache", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())
      val q1 = """{"query": {"conditions": [
        |  {"filter": ["event_type", "==", "purchase"], "target": ["count", ">=", 2]}]}}""".stripMargin
      // Textually different spelling, same canonical AST → must share the entry.
      val q2 = """{"query":{"conditions":[{"filter":["event_type","==","purchase"],"target":["count",">=",2]}]}}"""

      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def resultPart(j: JValue): JValue = j.removeField { case (k, _) => k == "stats" }

      val first = JsonMethods.parse(post5("/datasets/evcache/query", q1).body())
      assert((first \ "query" \ "matchingGroups") == JInt(15), JsonMethods.compact(first))
      assert((first \ "stats" \ "cached") == JBool(false), JsonMethods.compact(first))

      // Count Spark jobs during the repeat: a hit must run ZERO jobs.
      val jobCount = new java.util.concurrent.atomic.AtomicInteger
      val counter = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobCount.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(counter)
      try {
        val second = JsonMethods.parse(post5("/datasets/evcache/query", q2).body())
        org.apache.spark.GraftListenerBus.waitUntilEmpty(spark.sparkContext, 10000)
        assert((second \ "stats" \ "cached") == JBool(true), JsonMethods.compact(second))
        assert((second \ "stats" \ "plan") == (first \ "stats" \ "plan"))
        // bit-identical result, zero reported cost, zero jobs run
        assert(resultPart(second) == resultPart(first), "cached result diverged")
        assert((second \ "stats" \ "rowsScanned") == JInt(0))
        assert(jobCount.get() == 0, s"cache hit ran ${jobCount.get()} Spark jobs")
      } finally spark.sparkContext.removeSparkListener(counter)

      assert(get5("/metrics").body().contains("graft_query_cache_hits_total 1"))

      // Re-registration versions the key: the same query re-executes on the
      // new registration (reference contract: data updates re-register,
      // DatasetId.now() — dataset.py:36-53).
      val rereg = post5("/datasets/register",
        """{"name": "evcache", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(rereg.statusCode() == 200, rereg.body())
      val third = JsonMethods.parse(post5("/datasets/evcache/query", q1).body())
      assert((third \ "stats" \ "cached") == JBool(false), JsonMethods.compact(third))
      assert(resultPart(third) == resultPart(first))

      // The default server has the cache OFF: repeats re-execute.
      val r1 = JsonMethods.parse(post("/datasets/evcache/query", q1).body())
      val r2 = JsonMethods.parse(post("/datasets/evcache/query", q1).body())
      assert((r1 \ "stats" \ "cached") == JBool(false))
      assert((r2 \ "stats" \ "cached") == JBool(false))
    } finally {
      s5.stop()
      graft.catalog.Catalog.unregister("evcache")
    }
  }

  test("result cache skips entries over the per-entry byte ceiling (r15)") {
    // The LRU bounds entry COUNT; the byte ceiling keeps a few giant
    // results (countPerValue over a high-cardinality column) from pinning
    // GBs on the driver. With a 16-byte ceiling every result is oversized:
    // it must serve correctly but never persist, so repeats re-execute.
    val s7 = new ApiServer(spark, 0, resultCacheSize = 8, resultCacheMaxEntryBytes = 16)
    s7.start()
    try {
      val b7 = s"http://127.0.0.1:${s7.boundPort}"
      def post7(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b7 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val reg = post7("/datasets/register",
        """{"name": "evbig", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())
      val q1 = """{"query": {"conditions": [
        |  {"filter": ["event_type", "==", "purchase"], "target": ["count", ">=", 2]}]}}""".stripMargin
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def resultPart(j: JValue): JValue = j.removeField { case (k, _) => k == "stats" }
      val r1 = JsonMethods.parse(post7("/datasets/evbig/query", q1).body())
      val r2 = JsonMethods.parse(post7("/datasets/evbig/query", q1).body())
      assert((r1 \ "stats" \ "cached") == JBool(false))
      assert((r2 \ "stats" \ "cached") == JBool(false), "oversized entry was cached")
      assert(resultPart(r1) == resultPart(r2))
    } finally {
      s7.stop()
      graft.catalog.Catalog.unregister("evbig")
    }
  }

  test("concurrent identical cold-key queries coalesce to one execution (r15)") {
    // Thundering herd: N clients fire the SAME query right after a
    // re-registration invalidated its cache key. Without the single-flight
    // latch each would run the full scan (at 100 TB, N simultaneous corpus
    // scans for one dashboard panel); with it exactly one executes and the
    // rest answer from its result.
    val s6 = new ApiServer(spark, 0, resultCacheSize = 8)
    s6.start()
    try {
      val b6 = s"http://127.0.0.1:${s6.boundPort}"
      def post6(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b6 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def get6(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b6 + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      def registerHerd(): Unit = {
        val reg = post6("/datasets/register",
          """{"name": "evherd", "basepath": "/root/testdata/sf0.001/events.parquet",
            | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
        assert(reg.statusCode() == 200, reg.body())
      }
      registerHerd()
      val q1 = """{"query": {"conditions": [
        |  {"filter": ["event_type", "==", "purchase"], "target": ["count", ">=", 2]}]}}""".stripMargin

      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def resultPart(j: JValue): JValue = j.removeField { case (k, _) => k == "stats" }
      def countingJobs[A](count: java.util.concurrent.atomic.AtomicInteger)(work: => A): A = {
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            count.incrementAndGet()
        }
        spark.sparkContext.addSparkListener(l)
        try {
          val r = work
          org.apache.spark.GraftListenerBus.waitUntilEmpty(spark.sparkContext, 10000)
          r
        } finally spark.sparkContext.removeSparkListener(l)
      }

      // Solo cold-key baseline: the Spark jobs ONE execution costs.
      val soloCount = new java.util.concurrent.atomic.AtomicInteger
      val solo = countingJobs(soloCount) {
        JsonMethods.parse(post6("/datasets/evherd/query", q1).body())
      }
      assert((solo \ "stats" \ "cached") == JBool(false), JsonMethods.compact(solo))

      // Re-register: new registeredAt → the key is cold again. Fire 4
      // identical queries concurrently (async: each runs on its own thread).
      registerHerd()
      val herdCount = new java.util.concurrent.atomic.AtomicInteger
      val results = countingJobs(herdCount) {
        val subs = (1 to 4).map(_ => post6("/datasets/evherd/query?async=true", q1))
        subs.foreach(s => assert(s.statusCode() == 202, s.body()))
        subs.map { sub =>
          val id = """"queryId": "([^"]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)
          val deadline = System.currentTimeMillis() + 120000
          var status: JValue = JNothing
          while ((status \ "done") != JBool(true) && System.currentTimeMillis() < deadline) {
            Thread.sleep(50)
            status = JsonMethods.parse(get6(s"/queries/$id/status").body())
          }
          assert((status \ "stage") == JString("DONE"), JsonMethods.compact(status))
          status \ "result"
        }
      }

      // (a) all four answers are the solo answer
      results.foreach(r => assert(resultPart(r) == resultPart(solo), "herd result diverged"))
      // (b) the herd cost exactly ONE execution's jobs — the single-flight
      // contract (a non-winner either coalesced onto the in-flight run or
      // hit the entry it left behind; both run zero jobs).
      assert(herdCount.get() == soloCount.get(),
        s"herd of 4 ran ${herdCount.get()} jobs vs solo ${soloCount.get()}")
      // (c) the three non-winners are counted as hits, and the coalesced
      // counter is exposed (its exact value depends on overlap timing).
      val metrics = get6("/metrics").body()
      assert(metrics.contains("graft_query_cache_hits_total 3"), metrics)
      assert(metrics.contains("graft_query_coalesced_total"), metrics)
    } finally {
      s6.stop()
      graft.catalog.Catalog.unregister("evherd")
    }
  }

  test("result cache keys structurally: toString-colliding queries get distinct entries (r16)") {
    // The r15 key rendered the parsed AST via case-class toString, which
    // does not quote embedded strings — qA below carries ONE filter whose
    // value embeds AST-rendering text so that its rendering is
    // char-identical to qB's TWO-filter condition. Under the string key
    // these collided (qB would be served qA's cached result); the
    // structural key must keep two entries with two distinct results.
    import graft.query.QueryParser
    val dir = java.nio.file.Files.createTempDirectory("collide").toString
    spark.range(10).selectExpr("id % 5 AS uid", "id AS ts",
      "CASE WHEN id % 2 = 0 THEN 'x' ELSE 'z' END AS a", "'y' AS b")
      .write.mode("overwrite").parquet(dir)
    val qA = """{"query": {"conditions": [
      |  {"filter": ["a", "==", "x)), RowFilter(b,Eq,Str(y"]}]}}""".stripMargin
    val qB = """{"query": {"conditions": [
      |  {"filters": [["a", "==", "x"], ["b", "==", "y"]]}]}}""".stripMargin
    val (astA, astB) = (QueryParser.parse(qA), QueryParser.parse(qB))
    // The attack premise, pinned: different ASTs, identical renderings.
    assert(astA != astB, "collision queries must differ structurally")
    assert(astA.toString == astB.toString,
      s"test vectors out of date — renderings differ:\n${astA.toString}\n${astB.toString}")

    val s8 = new ApiServer(spark, 0, resultCacheSize = 8)
    s8.start()
    try {
      val b8 = s"http://127.0.0.1:${s8.boundPort}"
      def post8(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b8 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val reg = post8("/datasets/register",
        s"""{"name": "evcoll", "basepath": "$dir",
           | "groupIdColumn": "uid", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())

      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def run(q: String): JValue = JsonMethods.parse(post8("/datasets/evcoll/query", q).body())
      def groups(j: JValue): JValue = j \ "query" \ "matchingGroups"

      val a1 = run(qA) // fills qA's entry
      val b1 = run(qB) // MUST miss (a collision would serve a1's body here)
      assert(groups(a1) == JInt(0), JsonMethods.compact(a1))  // weird value matches nothing
      assert(groups(b1) == JInt(5), JsonMethods.compact(b1))  // every group has (a=x, b=y) rows
      assert((b1 \ "stats" \ "cached") == JBool(false),
        "qB was served from qA's cache entry — key collision")
      // Repeats: each hits ITS OWN entry with its own body.
      val (a2, b2) = (run(qA), run(qB))
      assert((a2 \ "stats" \ "cached") == JBool(true) && groups(a2) == JInt(0))
      assert((b2 \ "stats" \ "cached") == JBool(true) && groups(b2) == JInt(5))
    } finally {
      s8.stop()
      graft.catalog.Catalog.unregister("evcoll")
    }
  }

  /** Storage level of the rows under a small registration's resident
    * copy (the DataFrame `Catalog.load` returns for it). */
  private def residentLevel(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getStorageLevel
      case p => fail(s"not a resident copy: $p")
    }

  test("DataFrame handle cache: reused within a registration, dropped on re-register (r16)") {
    // The handle cache is always on (result cache off on the default-ish
    // server here), keyed (name, registeredAt): repeats of a registration
    // reuse the loaded plan; a re-registration over CHANGED files must
    // miss and see the new listing — the stale handle would silently
    // answer from the old files.
    val dir = java.nio.file.Files.createTempDirectory("handle").toString
    def write(n: Int): Unit =
      spark.range(n).selectExpr("id % 5 AS uid", "id AS ts", "'e' AS etype")
        .write.mode("overwrite").parquet(dir)
    def register(): Unit = {
      val r = post("/datasets/register",
        s"""{"name": "evhandle", "basepath": "$dir",
           | "groupIdColumn": "uid", "timestampColumn": "ts"}""".stripMargin)
      assert(r.statusCode() == 200, r.body())
    }
    try {
      write(10)
      register()
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def rows(): JValue =
        JsonMethods.parse(post("/datasets/evhandle/query", """{"query": {}}""").body()) \
          "query" \ "matchingGroupRows"
      assert(rows() == JInt(10))
      assert(rows() == JInt(10)) // handle-cache hit path answers identically
      // A small registration's handle is its resident copy, and the stats
      // block counts the copy's rows, not its cached batches.
      val first = graft.catalog.Catalog.get("evhandle").get
      val stats = JsonMethods.parse(post("/datasets/evhandle/query", """{"query": {}}""").body()) \
        "stats"
      assert((stats \ "rowsScanned") == JInt(first.numRows), JsonMethods.compact(stats))
      val copy = graft.catalog.Catalog.load(spark, first)
      assert(residentLevel(copy) != org.apache.spark.storage.StorageLevel.NONE)
      write(20)
      register() // new registeredAt → fresh handle over the new listing
      assert(rows() == JInt(20), "stale DataFrame handle survived re-registration")
      assert(residentLevel(copy) == org.apache.spark.storage.StorageLevel.NONE,
        "re-registration left the replaced registration's copy persisted")
    } finally {
      graft.catalog.Catalog.unregister("evhandle")
    }
  }

  test("async burst beyond the pool queues, stays bounded, and all complete (r16)") {
    val s9 = new ApiServer(spark, 0, asyncThreads = 2)
    s9.start()
    try {
      val b9 = s"http://127.0.0.1:${s9.boundPort}"
      def post9(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b9 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def get9(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b9 + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val reg = post9("/datasets/register",
        """{"name": "evburst", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())

      def liveAsyncThreads(): Int = {
        val arr = new Array[Thread](Thread.activeCount() * 2 + 16)
        Thread.enumerate(arr)
        arr.count(t => t != null && t.getName.startsWith("graft-async-"))
      }
      val threadsBefore = liveAsyncThreads()

      // Burst of 6 > pool of 2. Cache off (default), so every job executes.
      val subs = (1 to 6).map(_ =>
        post9("/datasets/evburst/query?async=true", """{"query": {}}"""))
      subs.foreach(s => assert(s.statusCode() == 202, s.body()))
      val ids = subs.map(s =>
        """"queryId": "([^"]+)"""".r.findFirstMatchIn(s.body()).get.group(1))

      import org.json4s._
      import org.json4s.jackson.JsonMethods
      // Boundedness: a fixed pool's threads persist once created, so the
      // peak graft-async-* thread delta is an exact record of the burst's
      // max concurrency. (Counting stage==RUNNING across a sequential
      // status sweep is NOT sound — a job can finish and another start
      // mid-sweep, so one sweep can observe >poolSize RUNNING stages.)
      var maxThreadDelta = 0
      val deadline = System.currentTimeMillis() + 120000
      def statuses(): Seq[JValue] =
        ids.map(id => JsonMethods.parse(get9(s"/queries/$id/status").body()))
      var cur = statuses()
      while (!cur.forall(s => (s \ "done") == JBool(true)) &&
             System.currentTimeMillis() < deadline) {
        maxThreadDelta = math.max(maxThreadDelta, liveAsyncThreads() - threadsBefore)
        Thread.sleep(50)
        cur = statuses()
      }
      cur.foreach { s =>
        assert((s \ "stage") == JString("DONE"), JsonMethods.compact(s))
        assert((s \ "result" \ "query" \ "matchingGroups") == JInt(15),
          JsonMethods.compact(s))
      }
      // Pool threads persist until stop(), so sampling after completion
      // still sees them — the measurement can't be vacuously zero.
      maxThreadDelta = math.max(maxThreadDelta, liveAsyncThreads() - threadsBefore)
      assert(maxThreadDelta >= 1, "no async pool thread observed — measurement broken")
      assert(maxThreadDelta <= 2, s"burst grew the async pool by $maxThreadDelta threads")
    } finally {
      s9.stop()
      graft.catalog.Catalog.unregister("evburst")
    }
  }

  test("coalesce-wait timeout falls back to direct execution, still correct (r16)") {
    // coalesceWaitSec=0 makes every waiter time out instantly — the
    // starvation escape hatch. Waiters must then execute the query
    // themselves (uncoalesced) and answer correctly as fresh responses.
    val s12 = new ApiServer(spark, 0, resultCacheSize = 8, coalesceWaitSec = 0,
      asyncThreads = 4)
    s12.start()
    try {
      val b12 = s"http://127.0.0.1:${s12.boundPort}"
      def post12(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b12 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def get12(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b12 + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val reg = post12("/datasets/register",
        """{"name": "evwait0", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val subs = (1 to 4).map(_ =>
        post12("/datasets/evwait0/query?async=true", """{"query": {}}"""))
      subs.foreach(s => assert(s.statusCode() == 202, s.body()))
      val results = subs.map { sub =>
        val id = """"queryId": "([^"]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)
        val deadline = System.currentTimeMillis() + 120000
        var status: JValue = JNothing
        while ((status \ "done") != JBool(true) && System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          status = JsonMethods.parse(get12(s"/queries/$id/status").body())
        }
        assert((status \ "stage") == JString("DONE"), JsonMethods.compact(status))
        status \ "result"
      }
      results.foreach { r =>
        assert((r \ "query" \ "matchingGroups") == JInt(15), JsonMethods.compact(r))
      }
    } finally {
      s12.stop()
      graft.catalog.Catalog.unregister("evwait0")
    }
  }

  test("concurrent queries across a re-registration never mix versions (r16)") {
    // Every request snapshots its registration (ds fetched once), and
    // every cache — result, latch, DataFrame handle — is keyed by
    // registeredAt. A herd racing a re-registration must therefore see
    // ONE version per response: either the old data or the new, never a
    // blend or a stale-handle error. Two distinct basepaths (the
    // reference's update contract: new data registers as a new version,
    // DatasetId.now()), distinguishable by row count.
    val dirA = java.nio.file.Files.createTempDirectory("vrace_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("vrace_b").toString
    spark.range(10).selectExpr("id % 5 AS uid", "id AS ts", "'e' AS etype")
      .write.mode("overwrite").parquet(dirA)
    spark.range(20).selectExpr("id % 5 AS uid", "id AS ts", "'e' AS etype")
      .write.mode("overwrite").parquet(dirB)
    val s11 = new ApiServer(spark, 0, resultCacheSize = 8, asyncThreads = 4)
    s11.start()
    try {
      val b11 = s"http://127.0.0.1:${s11.boundPort}"
      def post11(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b11 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def get11(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b11 + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      def register(dir: String): Unit = {
        val r = post11("/datasets/register",
          s"""{"name": "evrace", "basepath": "$dir",
             | "groupIdColumn": "uid", "timestampColumn": "ts"}""".stripMargin)
        assert(r.statusCode() == 200, r.body())
      }
      register(dirA)
      import org.json4s._
      import org.json4s.jackson.JsonMethods

      // Fire a herd of async queries; re-register to dirB mid-herd.
      val subs1 = (1 to 4).map(_ => post11("/datasets/evrace/query?async=true", """{"query": {}}"""))
      register(dirB)
      val subs2 = (1 to 4).map(_ => post11("/datasets/evrace/query?async=true", """{"query": {}}"""))
      def awaitRows(sub: HttpResponse[String]): BigInt = {
        val id = """"queryId": "([^"]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)
        val deadline = System.currentTimeMillis() + 120000
        var status: JValue = JNothing
        while ((status \ "done") != JBool(true) && System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          status = JsonMethods.parse(get11(s"/queries/$id/status").body())
        }
        assert((status \ "stage") == JString("DONE"), JsonMethods.compact(status))
        (status \ "result" \ "query" \ "matchingGroupRows") match {
          case JInt(n) => n
          case other   => fail(s"no matchingGroupRows: $other")
        }
      }
      val rows1 = subs1.map(awaitRows)
      val rows2 = subs2.map(awaitRows)
      // Pre-re-registration submissions bind version A at REQUEST entry
      // (the async body captured its ds snapshot synchronously); the
      // post-re-registration herd must all see B.
      rows1.foreach(n => assert(n == BigInt(10), s"pre-reregister response saw $n rows"))
      rows2.foreach(n => assert(n == BigInt(20), s"post-reregister response saw $n rows"))
      // And a fresh sync query answers from B, cached or not.
      val fin = JsonMethods.parse(post11("/datasets/evrace/query", """{"query": {}}""").body())
      assert((fin \ "query" \ "matchingGroupRows") == JInt(20), JsonMethods.compact(fin))
    } finally {
      s11.stop()
      graft.catalog.Catalog.unregister("evrace")
    }
  }

  test("graceful stop drains in-flight async queries (r16)") {
    val s10 = new ApiServer(spark, 0, asyncThreads = 2)
    s10.start()
    val b10 = s"http://127.0.0.1:${s10.boundPort}"
    def post10(path: String, body: String) = client.send(
      HttpRequest.newBuilder(URI.create(b10 + path))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    try {
      val reg = post10("/datasets/register",
        """{"name": "evdrain", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())
      val subs = (1 to 4).map(_ =>
        post10("/datasets/evdrain/query?async=true", """{"query": {}}"""))
      subs.foreach(s => assert(s.statusCode() == 202, s.body()))
      // Drain: every submitted job — the 2 running AND the 2 queued
      // behind the pool of 2 — must COMPLETE inside the budget even
      // though the server stops accepting; true = nothing force-dropped.
      assert(s10.stopGracefully(60), "graceful stop dropped in-flight async jobs")
      // The HTTP surface is down post-stop: a fresh request is refused.
      intercept[Throwable] { post10("/datasets/evdrain/query", """{"query": {}}""") }
    } finally {
      graft.catalog.Catalog.unregister("evdrain")
    }
  }

  test("async queue cap: 429 past asyncThreads+asyncQueueMax, accepted jobs all complete (r17)") {
    // Admission cap = 1 running + 1 queued; a rapid burst of 8 must see
    // rejections, every ACCEPTED job must still complete correctly, and
    // the server must admit again once the backlog drains.
    val s13 = new ApiServer(spark, 0, asyncThreads = 1, asyncQueueMax = 1)
    s13.start()
    try {
      val b13 = s"http://127.0.0.1:${s13.boundPort}"
      def post13(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b13 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def get13(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b13 + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val reg = post13("/datasets/register",
        """{"name": "evqcap", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())

      val subs = (1 to 8).map(_ =>
        post13("/datasets/evqcap/query?async=true", """{"query": {}}"""))
      val (accepted, rejected) = subs.partition(_.statusCode() == 202)
      // The first two submissions land before anything can finish (the
      // whole burst takes ms; one query takes ~1s), so both admission
      // slots fill; a job finishing mid-burst only ADDS acceptances.
      assert(accepted.size >= 2, subs.map(_.statusCode()).mkString(","))
      assert(rejected.nonEmpty, "burst of 8 past a cap of 2 saw no 429")
      rejected.foreach { r =>
        assert(r.statusCode() == 429, s"${r.statusCode()}: ${r.body()}")
        assert(r.body().contains("errorMessage"), r.body())
        assert(r.headers().firstValue("Retry-After").isPresent, "429 without Retry-After")
      }
      // Every accepted job completes with the correct result — rejection
      // never drops admitted work.
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      accepted.foreach { sub =>
        val id = """"queryId": "([^"]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)
        val deadline = System.currentTimeMillis() + 120000
        var status: JValue = JNothing
        while ((status \ "done") != JBool(true) && System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          status = JsonMethods.parse(get13(s"/queries/$id/status").body())
        }
        assert((status \ "stage") == JString("DONE"), JsonMethods.compact(status))
        assert((status \ "result" \ "query" \ "matchingGroups") == JInt(15),
          JsonMethods.compact(status))
      }
      // Registry/queue bookkeeping: the rejected counter matches the 429s
      // EXACTLY (a substring check would accept any count with the expected
      // value as a prefix), and the pending gauge drains to zero — polled,
      // because stage flips to DONE before the runnable's finally decrements
      // the gauge, so a raced single read is theoretically flaky.
      def scrape13(name: String): Long =
        get13("/metrics").body().linesIterator
          .find(_.startsWith(name + " ")).map(_.split(" ")(1).toLong).getOrElse(-1L)
      assert(scrape13("graft_query_rejected_total") == rejected.size.toLong,
        get13("/metrics").body())
      val gaugeDeadline = System.currentTimeMillis() + 5000
      while (scrape13("graft_async_jobs_pending") != 0L &&
             System.currentTimeMillis() < gaugeDeadline) Thread.sleep(20)
      assert(scrape13("graft_async_jobs_pending") == 0L, "pending gauge stuck non-zero")
      // Backlog drained → the server admits again.
      val retry = post13("/datasets/evqcap/query?async=true", """{"query": {}}""")
      assert(retry.statusCode() == 202, s"${retry.statusCode()}: ${retry.body()}")
    } finally {
      s13.stop()
      graft.catalog.Catalog.unregister("evqcap")
    }
  }

  test("constructor rejects negative coalesceWaitSec and asyncQueueMax (r17)") {
    // A negative GRAFT_COALESCE_WAIT_SEC would silently degrade every
    // coalesced waiter to immediate self-execution — fail loudly instead.
    intercept[IllegalArgumentException] { new ApiServer(spark, 0, coalesceWaitSec = -1) }
    intercept[IllegalArgumentException] { new ApiServer(spark, 0, asyncQueueMax = -1) }
    intercept[IllegalArgumentException] { new ApiServer(spark, 0, maxBodyBytes = 0) }
    intercept[IllegalArgumentException] { new ApiServer(spark, 0, maxBodyBytes = Int.MaxValue) }
    intercept[IllegalArgumentException] { new ApiServer(spark, 0, asyncResultTtlSec = -1L) }
  }

  test("retained async results respect the byte budget, newest always kept (r17)") {
    // Budget of 1 byte: every completion exceeds it, so each new DONE
    // evicts every OLDER payload while the newest is always retained
    // (async delivery is that result's only persistence). Sequential
    // submissions with a wait between make the completion order — and so
    // the eviction order — deterministic.
    val s17 = new ApiServer(spark, 0, asyncResultsMaxBytes = 1L)
    s17.start()
    try {
      val b17 = s"http://127.0.0.1:${s17.boundPort}"
      def post17(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b17 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def get17(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b17 + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val reg = post17("/datasets/register",
        """{"name": "evres", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def runOne(): String = {
        val sub = post17("/datasets/evres/query?async=true", """{"query": {}}""")
        assert(sub.statusCode() == 202, sub.body())
        val id = """"queryId": "([^"]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)
        val deadline = System.currentTimeMillis() + 120000
        var status: JValue = JNothing
        while ((status \ "done") != JBool(true) && System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          status = JsonMethods.parse(get17(s"/queries/$id/status").body())
        }
        assert((status \ "stage") == JString("DONE"), JsonMethods.compact(status))
        id
      }
      val ids = (1 to 3).map(_ => runOne())
      // Newest keeps its payload; both older jobs stay DONE but flagged.
      val newest = JsonMethods.parse(get17(s"/queries/${ids.last}/status").body())
      assert((newest \ "result" \ "query" \ "matchingGroups") == JInt(15),
        JsonMethods.compact(newest))
      assert((newest \ "resultEvicted") == JNothing, JsonMethods.compact(newest))
      ids.dropRight(1).foreach { id =>
        val st = JsonMethods.parse(get17(s"/queries/$id/status").body())
        assert((st \ "stage") == JString("DONE") && (st \ "done") == JBool(true),
          JsonMethods.compact(st))
        assert((st \ "resultEvicted") == JBool(true), JsonMethods.compact(st))
        assert((st \ "result") == JNothing, JsonMethods.compact(st))
      }
      // The gauge tracks exactly one retained payload.
      val gauge = get17("/metrics").body().linesIterator
        .find(_.startsWith("graft_async_result_bytes_retained "))
        .map(_.split(" ")(1).toLong).getOrElse(-1L)
      assert(gauge > 0, s"retained-bytes gauge should be positive, got $gauge")
    } finally {
      s17.stop()
      graft.catalog.Catalog.unregister("evres")
    }
  }

  test("retention budget survives concurrent completions: one survivor, exact gauge (r18)") {
    // Races the byte-budget sweep: 32 async jobs complete on an 8-thread
    // pool with a 1-byte budget, so every completion triggers a sweep and
    // near-simultaneous retains are common. Under the pre-r18 code two
    // interleavings were possible: a sweep's dropRetained landing between
    // another completion's `result = Some(r)` and its budget addAndGet
    // strands that payload's bytes in the counter forever (the gauge then
    // reads MULTIPLE payloads though at most one is retained), and two
    // simultaneous sweeps could evict each OTHER's just-retained payload
    // (zero survivors). With retains serialized through resultEvictLock the
    // terminal state is exact: ONE retained payload, gauge ≈ its size.
    val s18 = new ApiServer(spark, 0, asyncResultsMaxBytes = 1L)
    s18.start()
    try {
      val b18 = s"http://127.0.0.1:${s18.boundPort}"
      def post18(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b18 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def get18(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b18 + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      def gauge18(): Long = get18("/metrics").body().linesIterator
        .find(_.startsWith("graft_async_result_bytes_retained "))
        .map(_.split(" ")(1).toLong).getOrElse(-1L)
      val reg = post18("/datasets/register",
        """{"name": "evrace", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      def await18(id: String): JValue = {
        val deadline = System.currentTimeMillis() + 120000
        var status: JValue = JNothing
        while ((status \ "done") != JBool(true) && System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          status = JsonMethods.parse(get18(s"/queries/$id/status").body())
        }
        assert((status \ "stage") == JString("DONE"), JsonMethods.compact(status))
        status
      }
      // Baseline: one sequential completion calibrates a single payload's
      // size (identical query shape → later payloads differ only in stat
      // digit counts, a few bytes).
      val base = post18("/datasets/evrace/query?async=true", """{"query": {}}""")
      assert(base.statusCode() == 202, base.body())
      await18(""""queryId": "([^"]+)"""".r.findFirstMatchIn(base.body()).get.group(1))
      val oneBytes = gauge18()
      assert(oneBytes > 0, s"baseline retained-bytes gauge: $oneBytes")
      // The flood: 32 concurrent submissions racing retain-vs-sweep.
      val subs = (1 to 32).map(_ =>
        post18("/datasets/evrace/query?async=true", """{"query": {}}"""))
      subs.foreach(s => assert(s.statusCode() == 202, s"${s.statusCode()}: ${s.body()}"))
      val ids = subs.map(s =>
        """"queryId": "([^"]+)"""".r.findFirstMatchIn(s.body()).get.group(1))
      ids.foreach(await18)
      // Terminal invariant: exactly one job (flood or baseline) retains its
      // payload; the gauge reads one payload's bytes, not a stranded pile.
      val statuses = (ids :+ """"queryId": "([^"]+)"""".r
        .findFirstMatchIn(base.body()).get.group(1))
        .map(id => JsonMethods.parse(get18(s"/queries/$id/status").body()))
      val survivors = statuses.count(st => (st \ "result") != JNothing)
      assert(survivors == 1,
        s"expected exactly 1 retained payload, got $survivors")
      val g = gauge18()
      assert(g > 0 && g < 2 * oneBytes,
        s"gauge $g outside (0, ${2 * oneBytes}) — stranded bytes from a raced eviction")
    } finally {
      s18.stop()
      graft.catalog.Catalog.unregister("evrace")
    }
  }

  test("async results expire past the TTL: payload released, entry flagged, gauge 0 (r19)") {
    // 1-second TTL: a completed payload must be served while fresh, then
    // dropped by the lazy sweep once stale — the age bound the byte budget
    // alone never gave (a quiet server retained stale payloads forever;
    // the reference expires them by Redis TTL, redis_store.py:174-180).
    // No timer thread exists, so the pin drives expiry exactly the way
    // production observes it: a metrics scrape and a status poll.
    val s19 = new ApiServer(spark, 0, asyncResultTtlSec = 1L)
    s19.start()
    try {
      val b19 = s"http://127.0.0.1:${s19.boundPort}"
      def post19(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b19 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def get19(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b19 + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      def gauge19(): Long = get19("/metrics").body().linesIterator
        .find(_.startsWith("graft_async_result_bytes_retained "))
        .map(_.split(" ")(1).toLong).getOrElse(-1L)
      val reg = post19("/datasets/register",
        """{"name": "evttl", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val sub = post19("/datasets/evttl/query?async=true", """{"query": {}}""")
      assert(sub.statusCode() == 202, sub.body())
      val id = """"queryId": "([^"]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)
      val deadline = System.currentTimeMillis() + 120000
      var status: JValue = JNothing
      while ((status \ "done") != JBool(true) && System.currentTimeMillis() < deadline) {
        Thread.sleep(50)
        status = JsonMethods.parse(get19(s"/queries/$id/status").body())
      }
      // Fresh (completed < TTL ago): the payload serves and the gauge
      // tracks it — the sweep each poll ran must NOT have fired early.
      assert((status \ "stage") == JString("DONE"), JsonMethods.compact(status))
      assert((status \ "result" \ "query" \ "matchingGroups") == JInt(15),
        JsonMethods.compact(status))
      assert(gauge19() > 0, "fresh payload should be retained")
      Thread.sleep(1300) // age past the 1s TTL; server fully idle
      // The next observation — a scrape — returns the idle server's
      // retained bytes to 0 (the verdict's done-criterion).
      assert(gauge19() == 0L, s"gauge after TTL: ${gauge19()}")
      val late = JsonMethods.parse(get19(s"/queries/$id/status").body())
      assert((late \ "stage") == JString("DONE") && (late \ "done") == JBool(true),
        JsonMethods.compact(late))
      assert((late \ "resultEvicted") == JBool(true), JsonMethods.compact(late))
      assert((late \ "result") == JNothing, JsonMethods.compact(late))
    } finally {
      s19.stop()
      graft.catalog.Catalog.unregister("evttl")
    }
  }

  test("oversized request bodies answer 413 and bound driver memory (r17)") {
    // A tiny cap makes the bound observable without shipping megabytes:
    // a body one byte over answers 413 (query AND register paths), a body
    // at the cap still parses, and the server stays healthy throughout.
    val s16 = new ApiServer(spark, 0, maxBodyBytes = 4096)
    s16.start()
    try {
      val b16 = s"http://127.0.0.1:${s16.boundPort}"
      def post16(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b16 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val reg = post16("/datasets/register",
        """{"name": "evbody", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())

      // Valid JSON padded with trailing whitespace to exactly cap+1 bytes:
      // proves rejection happens on SIZE, not content.
      val base16 = """{"query": {}}"""
      def padded(total: Int): String = base16 + " " * (total - base16.length)
      val over = post16("/datasets/evbody/query", padded(4097))
      assert(over.statusCode() == 413, s"${over.statusCode()}: ${over.body()}")
      assert(over.body().contains("errorMessage") && over.body().contains("4096"), over.body())
      val overReg = post16("/datasets/register", padded(4097))
      assert(overReg.statusCode() == 413, s"${overReg.statusCode()}: ${overReg.body()}")
      // At the cap: parses and answers normally; the server survived the
      // oversized requests.
      val at = post16("/datasets/evbody/query", padded(4096))
      assert(at.statusCode() == 200, at.body())
      assert(at.body().contains(""""matchingGroups": 15"""), at.body())
    } finally {
      s16.stop()
      graft.catalog.Catalog.unregister("evbody")
    }
  }

  test("unregister sweeps the serving caches: handle, results, latch (r17)") {
    val s14 = new ApiServer(spark, 0, resultCacheSize = 8)
    s14.start()
    try {
      val b14 = s"http://127.0.0.1:${s14.boundPort}"
      def post14(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b14 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      def get14(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b14 + path)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val reg = post14("/datasets/register",
        """{"name": "evsweep", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())
      val q1 = post14("/datasets/evsweep/query", """{"query": {}}""")
      assert(q1.statusCode() == 200, q1.body())
      val copy = graft.catalog.Catalog.load(spark, graft.catalog.Catalog.get("evsweep").get)
      assert(residentLevel(copy) != org.apache.spark.storage.StorageLevel.NONE)
      // The handle gauge counts every handle the catalog holds, over all
      // registrations in the process: unregister drops exactly this one.
      def handles(metrics: String): Long =
        metrics.linesIterator.collectFirst {
          case l if l.startsWith("graft_df_handle_entries ") => l.split(" ")(1).toLong
        }.getOrElse(fail(s"no handle gauge in $metrics"))
      val warm = get14("/metrics").body()
      assert(warm.contains("graft_result_cache_entries 1"), warm)
      assert(handles(warm) >= 1, warm)
      // Unregister must drop the dead registration's cached plan/handle and
      // result entries — not leave them pinned until LRU churn ages them out.
      val un = post14("/datasets/evsweep/unregister", "{}")
      assert(un.statusCode() == 200 && un.body().contains(""""success": true"""), un.body())
      val swept = get14("/metrics").body()
      assert(swept.contains("graft_result_cache_entries 0"), swept)
      assert(handles(swept) == handles(warm) - 1, swept)
      assert(residentLevel(copy) == org.apache.spark.storage.StorageLevel.NONE,
        "unregister left the registration's copy persisted")
    } finally {
      s14.stop()
      graft.catalog.Catalog.unregister("evsweep")
    }
  }

  test("timed-out coalesce waiter re-checks and warms the result cache (r17)") {
    // The wedged-winner scenario, made deterministic: a never-completing
    // future is installed in the in-flight latch map for the exact
    // QueryKey (white-box via reflection — production code has no test
    // seam). With coalesceWaitSec=0 every arrival times out instantly:
    //   waiter-1: cache miss → executes itself → MUST cache its result
    //   waiter-2: cache re-check on timeout → MUST hit, zero execution
    // Pre-r17, waiter-2 re-ran the full scan (fallback never consulted or
    // fed the cache), so every waiter behind a wedged winner paid serially.
    val s15 = new ApiServer(spark, 0, resultCacheSize = 8, coalesceWaitSec = 0)
    s15.start()
    val inFlightField = classOf[ApiServer].getDeclaredFields
      .find(_.getName.endsWith("inFlight"))
      .getOrElse(fail("inFlight field not found"))
    inFlightField.setAccessible(true)
    val inFlightMap = inFlightField.get(s15)
      .asInstanceOf[java.util.concurrent.ConcurrentHashMap[AnyRef,
        java.util.concurrent.CompletableFuture[(String, String)]]]
    val wedge = new java.util.concurrent.CompletableFuture[(String, String)]()
    var wedgeKey: AnyRef = null
    try {
      val b15 = s"http://127.0.0.1:${s15.boundPort}"
      def post15(path: String, body: String) = client.send(
        HttpRequest.newBuilder(URI.create(b15 + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val reg = post15("/datasets/register",
        """{"name": "evwedge", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())
      val queryBody = """{"query": {}}"""
      // Build the same QueryKey the server builds: (dataset, registeredAt,
      // parsed AST) — structural AST equality is what makes this land on
      // the identical latch entry (the r16 key design under test).
      val ds = graft.catalog.Catalog.get("evwedge").get
      val qkCtor = Class.forName("graft.server.ApiServer$QueryKey")
        .getDeclaredConstructors.head
      qkCtor.setAccessible(true)
      wedgeKey = qkCtor.newInstance(s15, ds.name,
        java.lang.Long.valueOf(ds.registeredAt),
        graft.query.QueryParser.parse(queryBody)).asInstanceOf[AnyRef]
      inFlightMap.put(wedgeKey,
        wedge.asInstanceOf[java.util.concurrent.CompletableFuture[(String, String)]])

      // Waiter-1: times out on the wedge, finds no cache entry, executes.
      val w1 = post15("/datasets/evwedge/query", queryBody)
      assert(w1.statusCode() == 200, w1.body())
      assert(w1.body().contains(""""cached": false"""), w1.body())
      assert(w1.body().contains(""""matchingGroups": 15"""), w1.body())
      // Waiter-2: the wedge still holds the latch — the timeout path must
      // answer from waiter-1's cached result, not run a second scan
      // (cached response ⇒ the zero-cost stats block).
      val w2 = post15("/datasets/evwedge/query", queryBody)
      assert(w2.statusCode() == 200, w2.body())
      assert(w2.body().contains(""""cached": true"""), w2.body())
      assert(w2.body().contains(""""matchingGroups": 15"""), w2.body())
      assert(w2.body().contains(""""rowsScanned": 0"""), w2.body())
    } finally {
      wedge.completeExceptionally(new IllegalStateException("test wedge released"))
      if (wedgeKey != null) inFlightMap.remove(wedgeKey)
      s15.stop()
      graft.catalog.Catalog.unregister("evwedge")
    }
  }

  test("async registration: 202 + status polling to the register result") {
    val sub = post("/datasets/register?async=true",
      """{"name": "ev8", "basepath": "/root/testdata/sf0.001/events.parquet",
        | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
    assert(sub.statusCode() == 202, sub.body())
    val id = """"queryId": "([^"]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)
    var status = ""
    val deadline = System.currentTimeMillis() + 60000
    while (!status.contains(""""done": true""") && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      status = get(s"/queries/$id/status").body()
    }
    assert(status.contains(""""stage": "DONE""""), status)
    assert(status.contains(""""rows": 1000"""), status)
    assert(get("/datasets").body().contains(""""name": "ev8""""))
  }

  test("streamed query emits progress chunks then the result") {
    post("/datasets/register",
      """{"name": "ev6", "basepath": "/root/testdata/sf0.001/events.parquet",
        | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
    val res = post("/datasets/ev6/query?stream=true", """{"query": {}}""")
    assert(res.statusCode() == 200, res.body())
    val lines = res.body().split("\n").filter(_.nonEmpty)
    // last line is the result; earlier lines (if the query ran >1s) are progress
    assert(lines.last.contains(""""matchingGroups": 15"""), res.body())
    assert(lines.init.forall(_.contains(""""stage": "RUNNING"""")), res.body())
  }

  test("unregister honors the safety interval and force flag") {
    // dedicated server with a large safety interval
    val s2 = new ApiServer(spark, 0, unregisterSafetySec = 3600)
    s2.start()
    try {
      val b2 = s"http://127.0.0.1:${s2.boundPort}"
      def post2(path: String) = client.send(
        HttpRequest.newBuilder(URI.create(b2 + path))
          .POST(HttpRequest.BodyPublishers.ofString("""{"query": {}}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      client.send(HttpRequest.newBuilder(URI.create(b2 + "/datasets/register"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"name": "ev7", "basepath": "/root/testdata/sf0.001/events.parquet",
            | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)).build(),
        HttpResponse.BodyHandlers.ofString())

      // not yet used → unregisters cleanly; then re-register and use it
      val clean = post2("/datasets/ev7/unregister")
      assert(clean.body().contains(""""success": true"""), clean.body())
      client.send(HttpRequest.newBuilder(URI.create(b2 + "/datasets/register"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"name": "ev7", "basepath": "/root/testdata/sf0.001/events.parquet",
            | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)).build(),
        HttpResponse.BodyHandlers.ofString())
      post2("/datasets/ev7/query") // marks last-used

      val blocked = post2("/datasets/ev7/unregister")
      assert(blocked.body().contains(""""success": false"""), blocked.body())
      assert(blocked.body().contains("safety interval"), blocked.body())
      val forced = post2("/datasets/ev7/unregister?force=true")
      assert(forced.body().contains(""""success": true"""), forced.body())
      // gone now
      val again = post2("/datasets/ev7/unregister")
      assert(again.body().contains(""""datasetFound": false"""), again.body())
    } finally s2.stop()
  }

  test("catalog store: a fresh server instance reloads registrations") {
    val store = java.nio.file.Files.createTempDirectory("srvstore")
      .resolve("catalog.json").toString
    val s1 = new ApiServer(spark, 0, catalogStore = Some(store))
    s1.start()
    try {
      val b1 = s"http://127.0.0.1:${s1.boundPort}"
      val reg = client.send(HttpRequest.newBuilder(URI.create(b1 + "/datasets/register"))
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"name": "evp", "basepath": "/root/testdata/sf0.001/events.parquet",
            | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(reg.statusCode() == 200, reg.body())
    } finally s1.stop()
    // Simulate process death: wipe the in-memory catalog while detached.
    graft.catalog.Catalog.disablePersistence()
    graft.catalog.Catalog.unregister("evp")
    assert(graft.catalog.Catalog.get("evp").isEmpty)

    val s2 = new ApiServer(spark, 0, catalogStore = Some(store))
    s2.start()
    try {
      val b2 = s"http://127.0.0.1:${s2.boundPort}"
      val ls = client.send(HttpRequest.newBuilder(URI.create(b2 + "/datasets"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(ls.body().contains(""""name": "evp""""), ls.body())
      val sch = client.send(HttpRequest.newBuilder(URI.create(b2 + "/datasets/evp/schema"))
        .GET().build(), HttpResponse.BodyHandlers.ofString())
      assert(sch.statusCode() == 200 && sch.body().contains("user_id"), sch.body())
      // and it is queryable without re-registering
      val q = client.send(HttpRequest.newBuilder(URI.create(b2 + "/datasets/evp/query"))
        .POST(HttpRequest.BodyPublishers.ofString("""{"query": {}}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(q.statusCode() == 200 && q.body().contains(""""matchingGroups""""), q.body())
    } finally {
      s2.stop()
      graft.catalog.Catalog.disablePersistence()
      graft.catalog.Catalog.unregister("evp")
    }
  }

  test("sampled registration over HTTP marks stats approximate") {
    val r = post("/datasets/register",
      """{"name": "evs", "basepath": "/root/testdata/sf0.001/events.parquet",
        | "groupIdColumn": "user_id", "timestampColumn": "ts",
        | "validationMode": "SINGLE"}""".stripMargin)
    assert(r.statusCode() == 200, r.body())
    // single-file dataset: the one sampled part IS the whole dataset, but
    // the mode still flags the stats as sampled
    assert(r.body().contains(""""statsExact": false"""), r.body())
    assert(r.body().contains(""""sampledParts": 1"""), r.body())
    val bad = post("/datasets/register",
      """{"name": "evs2", "basepath": "/root/testdata/sf0.001/events.parquet",
        | "groupIdColumn": "user_id", "timestampColumn": "ts",
        | "validationMode": "BOGUS"}""".stripMargin)
    assert(bad.statusCode() == 400 && bad.body().contains("validationMode"), bad.body())
    post("/datasets/evs/unregister", "{}")
  }

  test("day-partitioned registration declares dt and timeframe queries still answer") {
    val dir = java.nio.file.Files.createTempDirectory("api_dtpart").toString
    graft.sources.GroupedWriter.partitionByDay(
      graft.ops.Tables.events(spark, "/root/testdata/sf0.001"),
      "ts", "user_id", nParts = 2, dir)
    val reg = post("/datasets/register",
      s"""{"name": "evdt", "basepath": "$dir",
         | "groupIdColumn": "user_id", "timestampColumn": "ts",
         | "dayPartitionColumn": "dt"}""".stripMargin)
    assert(reg.statusCode() == 200, reg.body())
    val q = post("/datasets/evdt/query",
      """{"timeframe": {"from": 1705000000000000000, "to": 1706000000000000000},
        | "query": {"conditions": [
        |   {"filter": ["event_type", "==", "purchase"]}]}}""".stripMargin)
    assert(q.statusCode() == 200, q.body())
    assert(q.body().contains("matchingGroups"), q.body())
    // a mis-declared day column is a 400 at registration, not silent
    val bad = post("/datasets/register",
      s"""{"name": "evdt2", "basepath": "$dir",
         | "groupIdColumn": "user_id", "timestampColumn": "ts",
         | "dayPartitionColumn": "user_id"}""".stripMargin)
    assert(bad.statusCode() == 400 && bad.body().contains("dayPartitionColumn"), bad.body())
    // explicit JSON null = absent declaration (clients serializing optional
    // fields as null), not a 400
    val nul = post("/datasets/register",
      s"""{"name": "evdt3", "basepath": "$dir",
         | "groupIdColumn": "user_id", "timestampColumn": "ts",
         | "dayPartitionColumn": null}""".stripMargin)
    assert(nul.statusCode() == 200, nul.body())
    post("/datasets/evdt3/unregister", "{}")
    post("/datasets/evdt/unregister", "{}")
  }

  test("GET /metrics exposes Prometheus counters that move with queries") {
    post("/datasets/register",
      """{"name": "evm", "basepath": "/root/testdata/sf0.001/events.parquet",
        | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
    def scrape(): Map[String, Long] = {
      val r = get("/metrics")
      assert(r.statusCode() == 200, r.body())
      assert(r.headers.firstValue("Content-Type").orElse("").startsWith("text/plain"), "exposition content type")
      r.body().linesIterator.filterNot(_.startsWith("#")).map { l =>
        val Array(k, v) = l.split(" ", 2); k -> v.toLong
      }.toMap
    }
    val before = scrape()
    assert(before.contains("graft_queries_total") &&
      before.contains("graft_query_errors_total") &&
      before.contains("graft_rows_scanned_total") &&
      before.contains("graft_core_ms_total") &&
      before.contains("graft_datasets_registered") &&
      before.contains("graft_result_cache_entries") &&
      before.contains("graft_inflight_coalescable_queries"), before.toString)
    assert(get("/metrics").body().contains("# TYPE graft_queries_total counter"))

    val q = post("/datasets/evm/query", """{"query": {}}""")
    assert(q.statusCode() == 200, q.body())
    val after = scrape()
    assert(after("graft_queries_total") == before("graft_queries_total") + 1)
    assert(after("graft_rows_scanned_total") > before("graft_rows_scanned_total"))
    assert(after("graft_query_errors_total") == before("graft_query_errors_total"))
    post("/datasets/evm/unregister", "{}")
  }

  /** Physical plans of the queries `session` executes inside `body`. */
  private def capturePlans(session: org.apache.spark.sql.SparkSession)(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    session.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftListenerBus.waitUntilEmpty(spark.sparkContext, 10000)
    } finally session.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("execution profile: a small registration's uncached query compiles no code") {
    import graft.catalog.{Catalog, ExecutionProfile}
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val dir = java.nio.file.Files.createTempDirectory("evinterp").toString
    spark.range(2000)
      .selectExpr("id % 50 AS user_id", "id AS ts", "CAST(id % 997 AS DOUBLE) AS value",
        "IF(id % 3 = 0, 'view', 'click') AS event_type")
      .write.mode("overwrite").parquet(dir)
    val reg = post("/datasets/register",
      s"""{"name": "evinterp", "basepath": "$dir",
         | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
    assert(reg.statusCode() == 200, reg.body())
    try {
      val ds = Catalog.get("evinterp").get
      assert(ds.totalBytes.exists(b => b > 0 && b < ExecutionProfile.InterpretedMaxBytes),
        ds.totalBytes)
      assert(ds.profile == ExecutionProfile.Interpreted)
      def query(value: Double, count: Int) = post("/datasets/evinterp/query",
        s"""{"query": {"conditions": [{"filters": [["value", ">", $value]],
           |  "target": ["count", ">=", $count]}],
           | "aggregations": [{"column": "event_type", "type": "countPerValue"}]}}""".stripMargin)
      // A warm-up of the same shape with other literals. The first query of
      // a shape in a fresh JVM compiles what Spark generates on every
      // profile from the schemas alone: the top-K's two SpecificOrderings
      // and the partial aggregates' three UnsafeRowJoiners. Nothing more.
      val beforeWarmUp = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(query(45.678, 2).statusCode() == 200)
      val warmUp = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - beforeWarmUp
      assert(warmUp <= 5, s"the warm-up query compiled $warmUp classes")
      var tasks = -1
      val plans = capturePlans(ExecutionProfile.session(spark, ExecutionProfile.Interpreted)) {
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        // Literals no other query uses: under codegen they would compile
        // fresh classes (Spark inlines numeric literals).
        val r = query(123.4567, 3)
        assert(r.statusCode() == 200, r.body())
        val stats = JsonMethods.parse(r.body()) \ "stats"
        assert((stats \ "profile") == JString("interpreted") &&
          (stats \ "cached") == JBool(false), JsonMethods.compact(stats))
        tasks = (stats \ "tasks") match {
          case JInt(n) => n.toInt
          case other => fail(s"no task count: $other")
        }
        // If a Spark upgrade drops spark.sql.codegen.factoryMode, the
        // query still answers but compiles again — this is the guard.
        assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
          "an interpreted-profile query compiled generated code")
      }
      assert(plans.nonEmpty, "no query ran in the interpreted session")
      plans.foreach { p =>
        assert(!p.isInstanceOf[AdaptiveSparkPlanExec], p.treeString)
        assert(p.find(_.isInstanceOf[WholeStageCodegenExec]).isEmpty, p.treeString)
        assert(p.find(_.isInstanceOf[ShuffleExchangeExec]).isEmpty, p.treeString)
      }
      // Served from the resident copy in one action, whose one stage runs
      // one task per output frame (the summary, then the aggregation).
      assert(plans.size == 1, s"${plans.size} actions")
      assert(tasks == 2, s"$tasks tasks for two output frames")
    } finally Catalog.unregister("evinterp")
  }

  test("a query with every kind of output frame runs one SQL execution and one job") {
    import graft.catalog.{Catalog, ExecutionProfile}
    import graft.result.ResultJson
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val dir = java.nio.file.Files.createTempDirectory("evfold").toString
    spark.range(2000)
      .selectExpr("id % 50 AS user_id", "id AS ts", "CAST(id % 997 AS DOUBLE) AS value",
        "IF(id % 3 = 0, 'view', 'click') AS event_type", "CAST(id % 4 AS STRING) AS tier")
      .write.mode("overwrite").parquet(dir)
    val reg = post("/datasets/register",
      s"""{"name": "evfold", "basepath": "$dir",
         | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
    assert(reg.statusCode() == 200, reg.body())
    // Conditions, a scalar count, a top-K whose four values tie (500 rows
    // each, so the value order decides), and a funnel with step and end
    // aggregations: seven output frames.
    val query =
      """{"query": {"conditions": [{"filters": [["value", ">", 12.5]],
        |  "target": ["count", ">=", 3]}],
        | "aggregations": [{"column": "value", "type": "count"},
        |   {"column": "tier", "type": "countPerValue", "top": 3}]},
        | "funnel": {"sequence": [{"filter": ["event_type", "==", "view"]},
        |   {"filter": ["event_type", "==", "click"]}],
        |  "stepAggregations": [{"column": "tier", "type": "countPerValue", "top": 2}],
        |  "endAggregations": [{"column": "value", "type": "count"}]}}""".stripMargin
    // (every job, result jobs). Only a result job runs result tasks: the
    // other jobs are those adaptive execution runs to materialize shuffles.
    def jobsOf(body: => Unit): (Int, Int) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val resultStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskType == "ResultTask") resultStages.add(e.stageId)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        org.apache.spark.GraftListenerBus.waitUntilEmpty(spark.sparkContext, 10000)
      } finally spark.sparkContext.removeSparkListener(listener)
      (jobs.get, resultStages.size)
    }
    try {
      val ds = Catalog.get("evfold").get
      assert(ds.profile == ExecutionProfile.Interpreted)
      var served: JValue = JNothing
      var jobs = (-1, -1)
      val plans = capturePlans(ExecutionProfile.session(spark, ExecutionProfile.Interpreted)) {
        jobs = jobsOf {
          val r = post("/datasets/evfold/query", query)
          assert(r.statusCode() == 200, r.body())
          served = JsonMethods.parse(r.body())
        }
      }
      assert((served \ "stats" \ "profile") == JString("interpreted"), JsonMethods.compact(served))
      assert(plans.size == 1 && jobs == (1, 1), s"${plans.size} SQL executions, $jobs jobs")
      // The funnel counts its steps per group: no Expand, and so no
      // exchange, over the one resident partition.
      plans.foreach { p =>
        assert(p.find(_.isInstanceOf[ExpandExec]).isEmpty, p.treeString)
        assert(p.find(_.isInstanceOf[ShuffleExchangeExec]).isEmpty, p.treeString)
      }
      // Compact strings, not JValues: JObject equality ignores key order.
      val answer = JsonMethods.compact(served.removeField { case (k, _) => k == "stats" })
      assert(answer.contains(""""values":{"0":500,"1":500,"2":500}"""), answer)

      // The same query on the codegen profile (the registration loaded
      // without a recorded size): one SQL execution and one result job,
      // after the shuffle-stage jobs of adaptive execution.
      val codegenDf = Catalog.load(spark, ds.copy(totalBytes = None))
      val engine = ApiServer.engine(ds, None)
      var codegen = ""
      val codegenPlans = capturePlans(spark) {
        jobs = jobsOf(graft.util.Caches.scoped {
          codegen = JsonMethods.compact(JsonMethods.parse(ResultJson.build(
            engine.runValidated(codegenDf, graft.query.QueryParser.parse(query)))))
        })
      }
      assert(codegenPlans.size == 1 && jobs._2 == 1,
        s"${codegenPlans.size} SQL executions, ${jobs._2} result jobs of ${jobs._1}")
      assert(codegen == answer)
    } finally Catalog.unregister("evfold")
  }

  test("execution profile: a registration past the resident size is a hashed copy") {
    import graft.catalog.{Catalog, ExecutionProfile}
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // Uncompressed, dictionary-free 64-char hashes: at least 64 bytes a
    // row on disk, so this many rows clear the resident size.
    val dir = java.nio.file.Files.createTempDirectory("evhashed").toString
    spark.range(ExecutionProfile.ResidentMaxBytes / 64 + 1000)
      .selectExpr("id % 1000 AS uid", "id AS ts",
        "CASE WHEN id % 3 = 0 THEN 'a' ELSE 'b' END AS etype",
        "sha2(CAST(id AS STRING), 256) AS pad")
      .write.mode("overwrite").option("compression", "none")
      .option("parquet.enable.dictionary", "false").parquet(dir)
    val reg = post("/datasets/register",
      s"""{"name": "evhashed", "basepath": "$dir",
         | "groupIdColumn": "uid", "timestampColumn": "ts"}""".stripMargin)
    assert(reg.statusCode() == 200, reg.body())
    try {
      val ds = Catalog.get("evhashed").get
      assert(ds.totalBytes.exists(b => b >= ExecutionProfile.ResidentMaxBytes &&
        b < ExecutionProfile.InterpretedMaxBytes), ds.totalBytes)
      assert(ds.profile == ExecutionProfile.Interpreted)
      // The handle is the copy, one partition per core, read from no file.
      val handle = Catalog.load(spark, ds)
      val copy = handle.queryExecution.analyzed match {
        case lr: LogicalRDD => lr.rdd
        case p => fail(s"not a resident copy: $p")
      }
      assert(copy.getNumPartitions == spark.sparkContext.defaultParallelism)
      assert(handle.queryExecution.executedPlan.find(_.isInstanceOf[FileSourceScanExec]).isEmpty,
        handle.queryExecution.executedPlan.treeString)
      def query(ts: Int, count: Int) = post("/datasets/evhashed/query",
        s"""{"query": {"conditions": [{"filters": [["etype", "==", "a"], ["ts", ">", $ts]],
           |  "target": ["count", ">=", $count]}]}}""".stripMargin)
      // The shape's first query may compile the partial aggregate's row
      // joiner, which Spark generates for every profile (its source
      // depends on the schemas only, so it is compiled once per shape).
      assert(query(7654, 2).statusCode() == 200)
      val plans = capturePlans(ExecutionProfile.session(spark, ExecutionProfile.Interpreted)) {
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        // Fresh literals: under codegen they would compile fresh classes.
        val r = query(8765, 3)
        assert(r.statusCode() == 200, r.body())
        val stats = JsonMethods.parse(r.body()) \ "stats"
        assert((stats \ "profile") == JString("interpreted"), JsonMethods.compact(stats))
        assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiles,
          "an interpreted-profile query compiled generated code")
      }
      assert(plans.nonEmpty, "no query ran in the interpreted session")
      plans.foreach { p =>
        assert(!p.isInstanceOf[AdaptiveSparkPlanExec], p.treeString)
        assert(p.find(_.isInstanceOf[WholeStageCodegenExec]).isEmpty, p.treeString)
        assert(p.find(_.isInstanceOf[FileSourceScanExec]).isEmpty, p.treeString)
        // The copy is laid out by group id: nothing reshuffles by it.
        val byGid = p.collect {
          case e: ShuffleExchangeExec => e.outputPartitioning
        }.collect {
          case h: HashPartitioning if h.references.exists(_.name == "uid") => h
        }
        assert(byGid.isEmpty, p.treeString)
      }
    } finally Catalog.unregister("evhashed")
  }

  test("execution profile: a registration above the crossover keeps AQE and whole-stage codegen") {
    import graft.catalog.{Catalog, ExecutionProfile}
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // Uncompressed, dictionary-free 64-char hashes: at least 64 bytes a
    // row on disk, so this many rows clear the crossover.
    val dir = java.nio.file.Files.createTempDirectory("evcodegen").toString
    spark.range(ExecutionProfile.InterpretedMaxBytes / 64 + 1000)
      .selectExpr("id % 1000 AS uid", "id AS ts",
        "CASE WHEN id % 3 = 0 THEN 'a' ELSE 'b' END AS etype",
        "sha2(CAST(id AS STRING), 256) AS pad")
      .write.mode("overwrite").option("compression", "none")
      .option("parquet.enable.dictionary", "false").parquet(dir)
    val reg = post("/datasets/register",
      s"""{"name": "evcodegen", "basepath": "$dir",
         | "groupIdColumn": "uid", "timestampColumn": "ts"}""".stripMargin)
    assert(reg.statusCode() == 200, reg.body())
    try {
      val ds = Catalog.get("evcodegen").get
      assert(ds.totalBytes.exists(_ >= ExecutionProfile.InterpretedMaxBytes), ds.totalBytes)
      assert(ds.profile == ExecutionProfile.Codegen)
      var compiled = 0L
      val plans = capturePlans(spark) {
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val r = post("/datasets/evcodegen/query",
          """{"query": {"conditions": [{"filters": [["etype", "==", "a"], ["ts", ">", 987653]],
            |  "target": ["count", ">=", 2]}]}}""".stripMargin)
        assert(r.statusCode() == 200, r.body())
        val stats = JsonMethods.parse(r.body()) \ "stats"
        assert((stats \ "profile") == JString("codegen"), JsonMethods.compact(stats))
        compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
      }
      assert(compiled > 0, "the codegen profile compiled nothing for a fresh literal")
      assert(plans.nonEmpty, "no query ran in the host session")
      val helper = new AdaptiveSparkPlanHelper {}
      plans.foreach { p =>
        assert(p.isInstanceOf[AdaptiveSparkPlanExec], p.treeString)
        assert(helper.find(p)(_.isInstanceOf[WholeStageCodegenExec]).nonEmpty, p.treeString)
      }
    } finally Catalog.unregister("evcodegen")
  }
}
