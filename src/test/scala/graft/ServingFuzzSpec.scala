package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.util.Random

import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.catalog.Catalog
import graft.result.ResultJson
import graft.server.ApiServer

/**
 * Concurrent-serving fuzz (r16): N random battery-shaped queries
 * ([[QueryFuzzer.genQuery]] — the same generator the differential fuzzer
 * oracles against DuckDB) fired CONCURRENTLY at one cache-enabled,
 * routing-enabled ApiServer, every response compared to its solo twin.
 *
 * This is the regime the r15 serving machinery exists for — per-query
 * cache scopes ([[graft.util.Caches.scoped]]), per-measurement stats
 * attribution, the versioned result cache, single-flight coalescing, and
 * the r16 bounded async pool + structural cache keys — and the r15 pin
 * was one deterministic two-query test. Here the shapes are random
 * (relations × sequences × negated steps × funnels × step/end
 * aggregations × timeframes), each query is duplicated so the
 * cache/coalesce paths fire under contention, and correctness is
 * "bit-identical to the solo run", which FuzzSpec already ties to DuckDB
 * for this exact generator.
 *
 * The solo pass runs on the interpreted execution profile (the fuzz
 * frame is small); each query is replayed on the codegen profile and must
 * answer identically.
 *
 * Solo pass → re-register (new registeredAt = every key cold) →
 * concurrent pass. The duplicate of each query must be answered from the
 * winner's execution (hit or coalesced), so the cache-hit counter ends at
 * exactly N — any re-execution or cross-serving shows up as a counter or
 * body mismatch.
 */
class ServingFuzzSpec extends SparkSpec {

  private val sfDir = sys.env.getOrElse("GRAFT_FUZZ_SF", "/root/testdata/sf0.001")
  private val N = sys.env.get("GRAFT_SERVING_FUZZ_N").map(_.toInt).getOrElse(24)
  private val Seed = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(FuzzRound.seed + 23)

  private val client = HttpClient.newHttpClient()

  test(s"$N random queries, each fired twice concurrently, match their solo twins") {
    assume(new java.io.File(s"$sfDir/events.parquet").exists(), s"$sfDir missing")
    import org.apache.spark.sql.functions._

    // The fuzz frame (events + derived null/boolean/NaN columns the
    // generator draws from), materialized to parquet so the SERVER loads
    // it like any registered dataset.
    val dir = java.nio.file.Files.createTempDirectory("servfuzz").toString
    graft.ops.Tables.events(spark, sfDir)
      .withColumn("value", col("value").cast("decimal(20,4)"))
      .withColumn("etype_n",
        when(pmod(col("event_id"), lit(7)) === 0, lit(null).cast("string"))
          .otherwise(col("event_type")))
      .withColumn("value_n",
        when(pmod(col("event_id"), lit(5)) === 0, lit(null).cast("decimal(20,4)"))
          .otherwise(col("value")))
      .withColumn("is_big", col("value") > 150)
      .withColumn("is_big_n",
        when(pmod(col("event_id"), lit(3)) === 0, lit(null).cast("boolean"))
          .otherwise(col("value") > 150))
      .withColumn("value_nan",
        when(pmod(col("event_id"), lit(11)) === 0, lit(Double.NaN))
          .otherwise(floor(col("value")).cast("double")))
      .write.mode("overwrite").parquet(dir)

    // Cache + routing on, enough async workers that duplicates genuinely
    // overlap their winners. Cache sized above 2N so no entry is evicted
    // mid-test (eviction would legitimately re-execute a duplicate and
    // break the exact-hit-count assertion).
    val server = new ApiServer(spark, 0, routingMinBytes = Some(0),
      resultCacheSize = 2 * N + 8, httpThreads = 4, asyncThreads = 8)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      def post(path: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      def get(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      def register(): Unit = {
        val r = post("/datasets/register",
          s"""{"name": "servfuzz", "basepath": "$dir",
             | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
        assert(r.statusCode() == 200, r.body())
      }
      def resultPart(j: JValue): JValue = j.removeField { case (k, _) => k == "stats" }
      def scrape(name: String): Long =
        get("/metrics").body().linesIterator
          .find(_.startsWith(name + " ")).map(_.split(" ")(1).toLong).getOrElse(-1L)

      val rnd = new Random(Seed)
      val queries = (0 until N).map(_ => QueryFuzzer.genQuery(rnd, s"$sfDir/events.parquet").json)
      // The generator can legitimately draw structurally identical queries
      // (small shapes recur); those share one cache key, so the expected
      // execution count is the number of DISTINCT parsed ASTs — exactly
      // the structural key the server uses (r16).
      val distinctAsts = queries.map(graft.query.QueryParser.parse).distinct.size

      // ---- solo pass: the twin every concurrent answer must equal. The
      // fuzz frame is far below the profile crossover, so the server
      // answers on the interpreted profile.
      register()
      val solo = queries.zipWithIndex.map { case (q, i) =>
        val r = post("/datasets/servfuzz/query", q)
        assert(r.statusCode() == 200, s"seed=$Seed q$i solo failed: ${r.body()}\n$q")
        val j = JsonMethods.parse(r.body())
        assert((j \ "stats" \ "profile") == JString("interpreted"), s"q$i: ${r.body()}")
        resultPart(j)
      }

      // ---- the codegen profile: the same registration loaded without a
      // recorded size (the profile such a registration keeps) through the
      // server's engine must answer every query identically. Exact
      // equality holds because the fuzz frame's measures are decimals or
      // integer-valued doubles, whose sums do not depend on the order
      // AQE's partitioning adds them in.
      val ds = Catalog.get("servfuzz").get
      val codegenDf = Catalog.load(spark, ds.copy(totalBytes = None))
      val engine = ApiServer.engine(ds, Some(0))
      queries.zipWithIndex.foreach { case (q, i) =>
        val codegen = graft.util.Caches.scoped(JsonMethods.parse(ResultJson.build(
          engine.runValidated(codegenDf, graft.query.QueryParser.parse(q)))))
        assert(codegen == solo(i),
          s"seed=$Seed q$i: codegen and interpreted profiles disagree\nquery: $q")
      }

      // ---- on both profiles, the rows ResultJson collects for each output
      // frame through its one union equal, in order, the frame's own
      // collect.
      for ((profile, df) <- Seq("interpreted" -> Catalog.load(spark, ds), "codegen" -> codegenDf);
           (q, i) <- queries.zipWithIndex) graft.util.Caches.scoped {
        val plan = engine.runValidated(df, graft.query.QueryParser.parse(q))
        val folded = ResultJson.frameRows(plan).map(_.toSeq)
        val perFrame = ResultJson.frames(plan).map(_.collect().toSeq)
        assert(folded == perFrame,
          s"seed=$Seed q$i $profile: the union's frames differ from their own collects\nquery: $q")
      }

      // ---- concurrent pass: fresh registration (all keys cold), every
      // query submitted twice to the async pool, interleaved.
      register()
      val hitsBefore = scrape("graft_query_cache_hits_total")
      val subs = queries.zipWithIndex.flatMap { case (q, i) =>
        Seq.fill(2)(i -> post("/datasets/servfuzz/query?async=true", q))
      }
      subs.foreach { case (i, s) => assert(s.statusCode() == 202, s"q$i: ${s.body()}") }
      val results = subs.map { case (i, sub) =>
        val id = """"queryId": "([^"]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)
        val deadline = System.currentTimeMillis() + 180000
        var status: JValue = JNothing
        while ((status \ "done") != JBool(true) && System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          status = JsonMethods.parse(get(s"/queries/$id/status").body())
        }
        assert((status \ "stage") == JString("DONE"),
          s"seed=$Seed q$i async: ${JsonMethods.compact(status)}")
        i -> resultPart(status \ "result")
      }

      // Every concurrent answer — fresh, coalesced, or cached — equals the
      // solo twin.
      for ((i, r) <- results)
        assert(r == solo(i),
          s"seed=$Seed q$i concurrent diverged from solo\nquery: ${queries(i)}")
      // Exactly one execution per DISTINCT query AST: of the 2N requests,
      // every non-winner is answered from its winner's execution (cache
      // hit or coalesced-counted hit) — so hits = 2N − distinct ASTs.
      val hits = scrape("graft_query_cache_hits_total") - hitsBefore
      assert(hits == 2 * N - distinctAsts,
        s"seed=$Seed expected ${2 * N - distinctAsts} hits (2×$N req, $distinctAsts distinct), got $hits")
    } finally {
      server.stop()
      graft.catalog.Catalog.unregister("servfuzz")
    }
  }

  test("random invalid queries 400 over HTTP and never pollute the cache") {
    // QueryFuzzer.genInvalid's randomized rule violations, pushed through
    // the SERVING surface: each must answer 400 with the reference's
    // errorMessage shape (never a 500 — parse/validation errors are
    // client errors), and a valid query answered before and after the
    // barrage must be bit-identical with the second a cache hit —
    // rejected queries must leave no cache/latch residue.
    val rnd = new Random(Seed + 202)
    val server = new ApiServer(spark, 0, resultCacheSize = 8)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      def post(path: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      val reg = post("/datasets/register",
        """{"name": "servneg", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())
      def resultPart(j: JValue): JValue = j.removeField { case (k, _) => k == "stats" }

      val good = """{"query": {"conditions": [
        |  {"filter": ["event_type", "==", "purchase"], "target": ["count", ">=", 2]}]}}""".stripMargin
      val first = JsonMethods.parse(post("/datasets/servneg/query", good).body())
      assert((first \ "stats" \ "cached") == JBool(false), JsonMethods.compact(first))

      (0 until 50).foreach { i =>
        val (json, reason) = QueryFuzzer.genInvalid(rnd)
        val r = post("/datasets/servneg/query", json)
        assert(r.statusCode() == 400,
          s"seed=$Seed invalid q$i ($reason) answered ${r.statusCode()}: ${r.body()}\n$json")
        assert(r.body().contains("errorMessage"), s"seed=$Seed q$i: ${r.body()}")
      }

      val second = JsonMethods.parse(post("/datasets/servneg/query", good).body())
      assert((second \ "stats" \ "cached") == JBool(true), JsonMethods.compact(second))
      assert(resultPart(second) == resultPart(first), "cache polluted by rejected queries")
    } finally {
      server.stop()
      graft.catalog.Catalog.unregister("servneg")
    }
  }

  test("submission flood against a random queue cap: exact accounting, no lost work") {
    // The r17 admission cap under the abuse regime it exists for: a
    // CONCURRENT flood of async submissions against a server with a
    // randomized tiny pool (1-3 threads) and queue cap (0-3). Invariants:
    // every response is 202 or 429 (never a 500, never a hang); every
    // ACCEPTED job reaches DONE with the correct result (rejection never
    // drops admitted work); graft_query_rejected_total equals the 429s
    // the clients saw (admission accounting is exact under concurrency,
    // not approximate); the pending gauge returns to 0; and a fresh
    // submission after the drain is admitted again.
    val rnd = new Random(Seed + 307)
    val nThreads = 1 + rnd.nextInt(3)
    val qMax = rnd.nextInt(4)
    val server = new ApiServer(spark, 0, asyncThreads = nThreads, asyncQueueMax = qMax)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      def post(path: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      def get(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      def scrape(name: String): Long =
        get("/metrics").body().linesIterator
          .find(_.startsWith(name + " ")).map(_.split(" ")(1).toLong).getOrElse(-1L)
      val reg = post("/datasets/register",
        """{"name": "evflood", "basepath": "/root/testdata/sf0.001/events.parquet",
          | "groupIdColumn": "user_id", "timestampColumn": "ts"}""".stripMargin)
      assert(reg.statusCode() == 200, reg.body())

      // 4 client threads × 8 submissions, genuinely concurrent.
      val all = java.util.Collections.synchronizedList(
        new java.util.ArrayList[HttpResponse[String]]())
      val clients = (1 to 4).map(_ => new Thread(() =>
        (1 to 8).foreach { _ =>
          all.add(post("/datasets/evflood/query?async=true", """{"query": {}}"""))
        }))
      clients.foreach(_.start()); clients.foreach(_.join())
      import scala.jdk.CollectionConverters._
      val responses = all.asScala.toSeq
      assert(responses.size == 32)
      val (accepted, other) = responses.partition(_.statusCode() == 202)
      other.foreach { r =>
        assert(r.statusCode() == 429,
          s"seed=$Seed cap=$nThreads+$qMax unexpected ${r.statusCode()}: ${r.body()}")
        assert(r.headers().firstValue("Retry-After").isPresent, "429 without Retry-After")
      }
      // The first burst can't all fit a cap of at most 6 — rejections
      // must occur; and the cap admits at least min(flood, cap) — with a
      // 32-wide flood both sides are non-vacuous.
      assert(accepted.nonEmpty && other.nonEmpty,
        s"seed=$Seed cap=$nThreads+$qMax: ${accepted.size} accepted / ${other.size} rejected")
      accepted.foreach { sub =>
        val id = """"queryId": "([^"]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)
        val deadline = System.currentTimeMillis() + 180000
        var status: JValue = JNothing
        while ((status \ "done") != JBool(true) && System.currentTimeMillis() < deadline) {
          Thread.sleep(50)
          status = JsonMethods.parse(get(s"/queries/$id/status").body())
        }
        assert((status \ "stage") == JString("DONE"),
          s"seed=$Seed accepted job lost: ${JsonMethods.compact(status)}")
        assert((status \ "result" \ "query" \ "matchingGroups") == JInt(15),
          JsonMethods.compact(status))
      }
      assert(scrape("graft_query_rejected_total") == other.size.toLong,
        s"seed=$Seed rejected-counter mismatch: metric=${scrape("graft_query_rejected_total")} clients saw ${other.size}")
      // stage=DONE is visible a hair before the pending decrement (the
      // runnable's finally) — poll the gauge briefly instead of racing it.
      val gaugeDeadline = System.currentTimeMillis() + 5000
      while (scrape("graft_async_jobs_pending") != 0L &&
             System.currentTimeMillis() < gaugeDeadline) Thread.sleep(20)
      assert(scrape("graft_async_jobs_pending") == 0L, "pending gauge stuck non-zero")
      val retry = post("/datasets/evflood/query?async=true", """{"query": {}}""")
      assert(retry.statusCode() == 202, s"post-drain submission rejected: ${retry.body()}")
    } finally {
      server.stop()
      graft.catalog.Catalog.unregister("evflood")
    }
  }

  test("re-registration storm: every response is version-consistent") {
    // Random interleaving of re-registrations (alternating two basepaths
    // with different row counts) and concurrent queries against one
    // cache-enabled server. The invariant every serving cache must
    // preserve: a response reflects exactly ONE registration version —
    // matchingGroupRows is 10 or 20, never a blend, a stale-handle
    // error, or a 500. Exercises the structural result-cache keys, the
    // (name, registeredAt) handle cache, coalescing, and the r16
    // snapshot-load fix under the exact race they exist for.
    val rnd = new Random(Seed + 101)
    val dirA = java.nio.file.Files.createTempDirectory("storm_a").toString
    val dirB = java.nio.file.Files.createTempDirectory("storm_b").toString
    spark.range(10).selectExpr("id % 5 AS uid", "id AS ts", "'e' AS etype")
      .write.mode("overwrite").parquet(dirA)
    spark.range(20).selectExpr("id % 5 AS uid", "id AS ts", "'e' AS etype")
      .write.mode("overwrite").parquet(dirB)
    val server = new ApiServer(spark, 0, resultCacheSize = 8,
      httpThreads = 4, asyncThreads = 4)
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.boundPort}"
      def post(path: String, body: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      def get(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      def register(dir: String): Unit = {
        val r = post("/datasets/register",
          s"""{"name": "storm", "basepath": "$dir",
             | "groupIdColumn": "uid", "timestampColumn": "ts"}""".stripMargin)
        assert(r.statusCode() == 200, r.body())
      }
      register(dirA)
      val pending = scala.collection.mutable.Buffer.empty[HttpResponse[String]]
      (1 to 40).foreach { _ =>
        rnd.nextInt(4) match {
          case 0 => register(if (rnd.nextBoolean()) dirA else dirB)
          case _ =>
            val sub = post("/datasets/storm/query?async=true", """{"query": {}}""")
            assert(sub.statusCode() == 202, sub.body())
            pending += sub
        }
      }
      assert(pending.nonEmpty)
      pending.foreach { sub =>
        val id = """"queryId": "([^"]+)"""".r.findFirstMatchIn(sub.body()).get.group(1)
        val deadline = System.currentTimeMillis() + 120000
        var status: JValue = JNothing
        while ((status \ "done") != JBool(true) && System.currentTimeMillis() < deadline) {
          Thread.sleep(25)
          status = JsonMethods.parse(get(s"/queries/$id/status").body())
        }
        assert((status \ "stage") == JString("DONE"),
          s"seed=$Seed storm query failed: ${JsonMethods.compact(status)}")
        val rows = status \ "result" \ "query" \ "matchingGroupRows"
        assert(rows == JInt(10) || rows == JInt(20),
          s"seed=$Seed version-inconsistent response: ${JsonMethods.compact(status)}")
      }
    } finally {
      server.stop()
      graft.catalog.Catalog.unregister("storm")
    }
  }
}
