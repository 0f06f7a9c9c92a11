package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{Catalog, ExecutionProfile}
import graft.engine.{DatasetSpec, QueryEngine}
import graft.query.QueryParser
import graft.result.ResultJson
import graft.sources.GroupedWriter
import graft.streaming.{FunnelProgress, StreamingFunnel}

/** Coverage for catalog registration, grouped writers, result JSON shaping,
  * and the streaming funnel extension. */
class LibrarySpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("catalog: registration classifies columns, computes stats, rejects bad keys") {
    val dir = tmpDir("cat")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("price", DoubleType), StructField("flag", BooleanType),
      StructField("cat", StringType), StructField("when", TimestampType)))
    frame(schema, Seq(
      Map("uid" -> 1L, "ts" -> 100L, "price" -> 1.5, "flag" -> true, "cat" -> "x",
        "when" -> java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      Map("uid" -> 2L, "ts" -> 300L, "price" -> 2.5, "flag" -> false, "cat" -> "y",
        "when" -> java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))))
      .write.mode("overwrite").parquet(dir)

    val ds = Catalog.register(spark, "t1", dir, "uid", "ts")
    assert(ds.columns("uid") == Catalog.ColType.Int)
    assert(ds.columns("price") == Catalog.ColType.Float)
    assert(ds.columns("flag") == Catalog.ColType.Bool)
    assert(ds.columns("cat") == Catalog.ColType.Str)
    // Datetime columns normalize to epoch-nanos long at registration
    // (Tables.tsToNanos) — usable opaque numbers, not unsupported.
    assert(ds.columns("when") == Catalog.ColType.Int)
    assert(ds.unsupportedColumns.isEmpty)
    assert(ds.minTimestamp == 100.0 && ds.maxTimestamp == 300.0)
    assert(ds.numGroups == 2 && ds.numRows == 2)
    // integral gid: no byte stat (the survivor gate's integral cap is
    // byte-bounded by construction)
    assert(ds.gidMaxBytes.isEmpty)
    assert(Catalog.get("t1").isDefined)

    // string gid records its max UTF-8 byte length (r16): "x"/"y" → 1;
    // the engine's byte-aware broadcast gate reads it via the server.
    val dsStr = Catalog.register(spark, "t1s", dir, "cat", "ts")
    assert(dsStr.gidMaxBytes.contains(1L), dsStr.gidMaxBytes.toString)
    Catalog.unregister("t1s")

    // float group id rejected (reference registration_task_runner.py:85-92)
    intercept[Catalog.RegistrationException] {
      Catalog.register(spark, "bad", dir, "price", "ts")
    }
    // string timestamp rejected
    intercept[Catalog.RegistrationException] {
      Catalog.register(spark, "bad", dir, "uid", "cat")
    }
    // null group ids rejected
    val dir2 = tmpDir("cat2")
    frame(StructType(Seq(StructField("uid", LongType), StructField("ts", LongType))),
      Seq(Map("uid" -> 1L, "ts" -> 1L), Map("ts" -> 2L)))
      .write.mode("overwrite").parquet(dir2)
    intercept[Catalog.RegistrationException] {
      Catalog.register(spark, "bad", dir2, "uid", "ts")
    }
  }

  test("catalog: categorical + numeric column attributes on a known fixture") {
    val dir = tmpDir("catstats")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("color", StringType), StructField("token", StringType),
      StructField("price", DoubleType)))
    // color: 3 distinct over 100 rows (ratio 0.03 → categorical; a=50%,
    // b=30%, c=20%); token: 100 distinct (ratio 1.0 → not categorical)
    frame(schema, (0 until 100).map { i =>
      val color = if (i < 50) "a" else if (i < 80) "b" else "c"
      Map[String, Any]("uid" -> i.toLong, "ts" -> (1000L + i), "color" -> color,
        "token" -> s"t$i", "price" -> (i * 1.5))
    }).write.mode("overwrite").parquet(dir)

    val ds = Catalog.register(spark, "catstats", dir, "uid", "ts")
    val color = ds.columnAttrs("color")
    assert(color.categorical, s"color should be categorical: $color")
    // approx_count_distinct is exact at this tiny cardinality
    assert(color.catUniqueRatio.contains(0.03))
    assert(color.catTopValues == Seq("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
    val token = ds.columnAttrs("token")
    assert(!token.categorical && token.catUniqueRatio.exists(_ > 0.9))
    assert(token.catTopValues.isEmpty)
    val price = ds.columnAttrs("price")
    assert(price.numericMin.contains(0.0) && price.numericMax.contains(148.5))
    // the timestamp column's range is already the dataset min/max timestamp
    assert(!ds.columnAttrs.contains("ts"))
  }

  test("catalog: registration runs ONE top-K job regardless of categorical width") {
    val dir = tmpDir("catwide")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("c1", StringType), StructField("c2", StringType),
      StructField("c3", StringType), StructField("c4", StringType)))
    frame(schema, (0 until 100).map { i =>
      Map[String, Any]("uid" -> i.toLong, "ts" -> (1000L + i),
        "c1" -> s"a${i % 2}", "c2" -> s"b${i % 3}",
        "c3" -> s"c${i % 4}", "c4" -> s"d${i % 5}")
    }).write.mode("overwrite").parquet(dir)
    // Registration = the stats aggregate + ONE fused (column, value) top-K
    // job for ALL categorical columns — 2 actions total; the per-column
    // loop this replaces ran 1 + 4 here and 1 + N on an N-categorical
    // schema (QueryExecutionListener fires once per action, so AQE stage
    // jobs don't inflate the count).
    val actions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // Isolated child session: listenerManager is session-scoped, so an
    // async action from an EARLIER suite completing late (ApiServer jobs)
    // can't bleed into this count — only the registration's own actions do.
    // The registration's scans run in the session of the dataset's
    // execution profile (interpreted for this tiny input), so the count
    // covers both the caller's session and its interpreted child.
    val sess = spark.newSession()
    val sessions = Seq(sess, ExecutionProfile.session(sess, ExecutionProfile.Interpreted))
    sessions.foreach(_.listenerManager.register(listener))
    try {
      val ds = Catalog.register(sess, "catwide", dir, "uid", "ts")
      // all four are categorical, with full per-column top values
      for ((c, n) <- Seq("c1" -> 2, "c2" -> 3, "c3" -> 4, "c4" -> 5)) {
        assert(ds.columnAttrs(c).categorical, c)
        assert(ds.columnAttrs(c).catTopValues.size == n, c)
      }
      // shares are per-column (each column's shares sum to ~1)
      assert(ds.columnAttrs("c2").catTopValues.map(_._2).sum > 0.99)
      // top-K ordering within a column: count desc, value asc
      assert(ds.columnAttrs("c2").catTopValues.head._1 == "b0")
      var prev = -1; var settled = 0; var iters = 0
      while (settled < 2 && iters < 50) {
        val cur = actions.get()
        if (cur == prev) settled += 1 else settled = 0
        prev = cur; iters += 1; Thread.sleep(100)
      }
      assert(actions.get() == 2,
        s"registration must cost 2 actions (stats + fused top-K), saw ${actions.get()}")
    } finally sessions.foreach(_.listenerManager.unregister(listener))
  }

  test("catalog: sampled validation modes scan only the chosen part files") {
    val dir = tmpDir("catsample")
    // 4 part files with disjoint uid/ts ranges so sampled stats are
    // distinguishable from the exact ones.
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType)))
    frame(schema, (0 until 400).map(i =>
      Map[String, Any]("uid" -> i.toLong, "ts" -> (1000L + i))))
      .repartition(4, col("uid")).write.mode("overwrite").parquet(dir)

    val full = Catalog.register(spark, "vm_full", dir, "uid", "ts")
    assert(full.statsExact && full.numRows == 400)
    assert(full.sampledParts == full.totalParts && full.totalParts == 4)

    val single = Catalog.register(spark, "vm_single", dir, "uid", "ts",
      mode = Catalog.ValidationMode.Single)
    assert(!single.statsExact)
    assert(single.sampledParts == 1 && single.totalParts == 4)
    assert(single.numRows > 0 && single.numRows < 400)

    val fl = Catalog.register(spark, "vm_fl", dir, "uid", "ts",
      mode = Catalog.ValidationMode.FirstLast)
    assert(!fl.statsExact && fl.sampledParts == 2)
    assert(fl.numRows > single.numRows && fl.numRows < 400)

    val sm = Catalog.register(spark, "vm_sm", dir, "uid", "ts",
      mode = Catalog.ValidationMode.Sample(ratio = 0.5, maxSamples = 1))
    assert(!sm.statsExact && sm.sampledParts == 3) // first + last + 1 extra

    // schema still comes from the full footprint in every mode
    assert(single.columns.keySet == full.columns.keySet)
    assert(Catalog.ValidationMode.parse("first_last") == Catalog.ValidationMode.FirstLast)
    intercept[Catalog.RegistrationException](Catalog.ValidationMode.parse("nope"))
    Seq("vm_full", "vm_single", "vm_fl", "vm_sm").foreach(Catalog.unregister)
  }

  test("catalog: group-locality validation flags groups split across parts") {
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType)))
    val rows = (0 until 200).map(i =>
      Map[String, Any]("uid" -> (i % 10).toLong, "ts" -> (1000L + i)))

    // Round-robin partitioning deliberately scatters every uid over all 3
    // part files — the invariant the reference asserts at registration
    // (registration_job.py:252-272) is violated.
    val splitDir = tmpDir("catloc_split")
    frame(schema, rows).repartition(3)
      .write.mode("overwrite").parquet(splitDir)
    val e = intercept[Catalog.RegistrationException] {
      Catalog.register(spark, "loc_bad", splitDir, "uid", "ts",
        validateGroupLocality = true)
    }
    assert(e.getMessage.contains("Group locality"), e.getMessage)
    assert(Catalog.get("loc_bad").isEmpty) // failed registration not kept

    // Hash-partitioned by uid = each group lives in exactly one file; the
    // same check passes, including under a sampled mode.
    val okDir = tmpDir("catloc_ok")
    frame(schema, rows).repartition(3, col("uid"))
      .write.mode("overwrite").parquet(okDir)
    val ds = Catalog.register(spark, "loc_ok", okDir, "uid", "ts",
      mode = Catalog.ValidationMode.FirstLast, validateGroupLocality = true)
    assert(ds.sampledParts == 2)
    // default stays off: the split layout registers fine without the flag
    val ds2 = Catalog.register(spark, "loc_bad_ok", splitDir, "uid", "ts")
    assert(ds2.numRows == 200)
    Seq("loc_ok", "loc_bad_ok").foreach(Catalog.unregister)
  }

  test("catalog: a registration that fails validation releases its resident copy") {
    // The copy's cached RDD is named after its plan, which names the files.
    def cachedOver(dir: String): Boolean =
      spark.sparkContext.getPersistentRDDs.values.exists(r =>
        Option(r.name).exists(_.contains(dir)))
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType)))
    val goodDir = tmpDir("catcopy_ok")
    frame(schema, (0 until 50).map(i =>
      Map[String, Any]("uid" -> (i % 5).toLong, "ts" -> (1000L + i))))
      .write.mode("overwrite").parquet(goodDir)
    // A small Full-mode registration fills its copy, and unregister drops it.
    val ds = Catalog.register(spark, "copy_ok", goodDir, "uid", "ts")
    assert(ds.profile == ExecutionProfile.Interpreted)
    assert(cachedOver(goodDir), "registration built no resident copy")
    Catalog.unregister("copy_ok")
    assert(!cachedOver(goodDir))
    // A null group id fails the stats pass after it filled the copy.
    val badDir = tmpDir("catcopy_bad")
    frame(schema, (0 until 50).map(i => Map[String, Any](
      "uid" -> (if (i == 7) null else (i % 5).toLong), "ts" -> (1000L + i))))
      .write.mode("overwrite").parquet(badDir)
    val e = intercept[Catalog.RegistrationException] {
      Catalog.register(spark, "copy_bad", badDir, "uid", "ts")
    }
    assert(e.getMessage.contains("contains nulls"), e.getMessage)
    assert(Catalog.get("copy_bad").isEmpty)
    assert(!cachedOver(badDir), "a failed registration left its copy cached")
  }

  test("catalog: each host session gets its own handle over one resident copy") {
    import org.apache.spark.sql.execution.LogicalRDD
    val dir = tmpDir("cathosts")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType)))
    frame(schema, (0 until 60).map(i =>
      Map[String, Any]("uid" -> (i % 6).toLong, "ts" -> (1000L + i))))
      .write.mode("overwrite").parquet(dir)
    val ds = Catalog.register(spark, "hosts", dir, "uid", "ts")
    try {
      assert(ds.profile == ExecutionProfile.Interpreted)
      val other = spark.newSession()
      val (mine, theirs) = (Catalog.load(spark, ds), Catalog.load(other, ds))
      // Memoised per host: a repeat load returns the same handle.
      assert(Catalog.load(spark, ds) eq mine)
      assert(Catalog.load(other, ds) eq theirs)
      // Each handle is planned in its own host's interpreted child ...
      assert(mine.sparkSession eq ExecutionProfile.session(spark, ExecutionProfile.Interpreted))
      assert(theirs.sparkSession eq ExecutionProfile.session(other, ExecutionProfile.Interpreted))
      // ... over the same persisted rows.
      def rows(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed match {
        case lr: LogicalRDD => lr.rdd
        case p => fail(s"not a resident copy: $p")
      }
      assert(rows(mine) eq rows(theirs))
      assert(theirs.count() == 60 && mine.groupBy("uid").count().count() == 6)
      Catalog.unregister("hosts")
      assert(rows(mine).getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "unregister left the copy persisted")
    } finally Catalog.unregister("hosts")
  }

  test("catalog: a resident copy whose blocks are lost recomputes on both layouts") {
    import org.apache.spark.sql.execution.LogicalRDD
    val dir = tmpDir("catlost")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType), StructField("v", LongType)))
    frame(schema, (0 until 200).map(i => Map[String, Any](
      "uid" -> (i % 13).toLong, "ts" -> (1000L + i), "v" -> (i * 7 % 31).toLong)))
      .write.mode("overwrite").parquet(dir)
    val ds = Catalog.register(spark, "lost", dir, "uid", "ts")
    try {
      val sc = spark.sparkContext
      // The registered size picks the one-partition copy; a recorded size
      // of ResidentMaxBytes picks the copy hashed by group id.
      val layouts = Seq(1 -> ds,
        sc.defaultParallelism -> ds.copy(totalBytes = Some(ExecutionProfile.ResidentMaxBytes)))
      val q = graft.query.QueryParser.parse(
        """{"query": {"conditions": [{"filters": [["v", ">", 9]], "target": ["count", ">=", 3]}],
          | "aggregations": [{"column": "v", "type": "sumPerValue", "otherColumn": "ts", "top": 4}]}}""".stripMargin)
      val engine = graft.server.ApiServer.engine(ds, None)
      val master = org.apache.spark.SparkEnv.get.blockManager.master
      for ((parts, snapshot) <- layouts) {
        val df = Catalog.load(spark, snapshot)
        val rows = df.queryExecution.analyzed match {
          case lr: LogicalRDD => lr.rdd
          case p => fail(s"not a resident copy: $p")
        }
        assert(rows.getNumPartitions == parts)
        def answer() = graft.util.Caches.scoped(
          graft.result.ResultJson.build(engine.runValidated(df, q)))
        def cached() = (0 until parts).count(i =>
          master.getLocations(org.apache.spark.storage.RDDBlockId(rows.id, i)).nonEmpty)
        val before = answer()
        assert(cached() == parts, s"$parts-partition copy: ${cached()} blocks after a query")
        // Lose every block; the storage level stays, so the next query
        // recomputes the copy from lineage and caches it again.
        master.removeRdd(rows.id, blocking = true)
        assert(cached() == 0)
        assert(rows.getStorageLevel == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        assert(answer() == before, s"$parts-partition copy answered differently after its loss")
        assert(cached() == parts, s"$parts-partition copy: ${cached()} blocks after the recompute")
      }
    } finally Catalog.unregister("lost")
  }

  test("catalog: JSON store round-trips registrations across a restart") {
    val store = Files.createTempDirectory("catstore").resolve("catalog.json")
    Catalog.enablePersistence(store.toString)
    try {
      val ds = Catalog.register(spark, "pers1",
        "/root/testdata/sf0.001/events.parquet", "user_id", "ts")
      assert(Files.exists(store))
      // Simulate a driver restart: drop the in-memory state while detached,
      // then re-attach to the store — the registration must come back whole.
      Catalog.disablePersistence()
      Catalog.unregister("pers1")
      assert(Catalog.get("pers1").isEmpty)
      Catalog.enablePersistence(store.toString)
      val back = Catalog.get("pers1").getOrElse(fail("pers1 not reloaded"))
      assert(back == ds) // schema, stats, attrs — bit-identical round trip
      // The input size survives too, and with it the execution profile.
      assert(ds.totalBytes.exists(_ > 0) && back.totalBytes == ds.totalBytes)
      assert(back.profile == ExecutionProfile.Interpreted)
      // Unregister while attached persists the removal too.
      Catalog.unregister("pers1")
      Catalog.disablePersistence()
      Catalog.unregister("pers1")
      Catalog.enablePersistence(store.toString)
      assert(Catalog.get("pers1").isEmpty)
    } finally {
      Catalog.disablePersistence()
      Catalog.unregister("pers1")
    }
  }

  test("catalog: a store written before totalBytes loads as None and keeps codegen") {
    // A registration persisted by an older build has no "totalBytes" key.
    val dir = tmpDir("catold")
    spark.range(10).selectExpr("id AS user_id", "id AS ts").write.mode("overwrite").parquet(dir)
    val store = Files.createTempDirectory("catstore_old").resolve("catalog.json")
    Files.writeString(store,
      s"""{"datasets": [{"name": "old1", "basepath": "$dir",
        |  "groupIdColumn": "user_id", "timestampColumn": "ts",
        |  "columns": {"user_id": "Int", "ts": "Int"},
        |  "unsupportedColumns": [], "minTimestamp": 0.0, "maxTimestamp": 1.0,
        |  "numGroups": 10, "numRows": 10, "registeredAt": 1,
        |  "dtypeNames": {}, "columnAttrs": {}}]}""".stripMargin)
    Catalog.enablePersistence(store.toString)
    try {
      val old = Catalog.get("old1").getOrElse(fail("old1 not loaded"))
      assert(old.totalBytes.isEmpty)
      assert(old.profile == ExecutionProfile.Codegen)
      // Its handle stays in the host session, so queries keep codegen.
      assert(Catalog.load(spark, old).sparkSession eq spark)
    } finally {
      Catalog.disablePersistence()
      Catalog.unregister("old1")
    }
  }

  test("grouped writer: every group lands in exactly one file") {
    val dir = tmpDir("gw")
    val schema = StructType(Seq(StructField("uid", LongType), StructField("v", LongType)))
    val df = frame(schema, (0L until 100L).map(i => Map[String, Any]("uid" -> i % 10, "v" -> i)))
    GroupedWriter.repartitionByGroup(df, "uid", 4, dir)
    val filesPerGroup = spark.read.parquet(dir)
      .select(col("uid"), input_file_name().as("f")).distinct()
      .groupBy(col("uid")).agg(count(lit(1)).as("nf"))
      .agg(max("nf")).collect()(0).getLong(0)
    assert(filesPerGroup == 1L)
  }

  test("day-partitioned source: timeframe prunes whole day directories") {
    import graft.query.QueryAst._
    val dir = tmpDir("dtpart")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("etype", StringType)))
    // 10 days of events at nanos timestamps starting 2024-01-01 UTC.
    val day0 = 1704067200000000000L
    val dayNs = 86400000000000L
    val ev = frame(schema, (0L until 500L).map(i => Map[String, Any](
      "uid" -> i % 20, "ts" -> (day0 + (i % 10) * dayNs + i * 1000000L),
      "etype" -> Seq("view", "click", "buy")((i % 3).toInt))))
    GroupedWriter.partitionByDay(ev, "ts", "uid", nParts = 2, dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("dt=")) == 10)

    val engine = new QueryEngine(
      DatasetSpec("uid", "ts", dayPartitionColumn = Some("dt")))
    // Days 2..4 (from inclusive, to exclusive at an exact midnight).
    val q = GraftQuery(
      Some(Timeframe(Some(day0 + 2 * dayNs), Some(day0 + 5 * dayNs))),
      Seq(Condition.Filters(None, Seq(RowFilter("etype", FilterOp.Eq,
        Scalar.Str("view"))), Target.Count(CmpOp.Gte, 1), includeZero = false)),
      None, Nil, None)
    val part = engine.runValidated(spark.read.parquet(dir), q).summary
    val plan = part.queryExecution.executedPlan.toString
    // dt bounds reach the scan's partition filters — whole days are pruned
    // at planning time (an exact-midnight `to` excludes its own day).
    assert("PartitionFilters: \\[[^\\]]*dt".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains(">= 2024-01-03") && plan.contains("<= 2024-01-05"), plan)
    // Same numbers as the flat (unpartitioned) layout.
    val flat = engine.run(ev, q).summary.collect()(0)
    val got = part.collect()(0)
    assert(got == flat, s"partitioned $got vs flat $flat")
    assert(got.getLong(1) > 0L) // the timeframe actually selected rows
  }

  test("timeframe bounds on a timestamp-typed source reach the parquet scan") {
    import graft.query.QueryAst._
    // Source stores ts as µs TIMESTAMP_NTZ (the round-8 testdata shape);
    // Tables.events normalizes to epoch-nanos long, which makes the
    // timeframe filter a DERIVED expression — TimeframePushdown must add
    // the equivalent raw-attribute bound so row-group stats still prune.
    val dir = tmpDir("tspush")
    val epoch = java.time.LocalDateTime.of(1970, 1, 1, 0, 0)
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampNTZType),
      StructField("etype", StringType)))
    val usBase = 1704067200000000L // 2024-01-01 UTC in µs
    val ev = frame(schema, (0L until 400L).map(i => Map[String, Any](
      "user_id" -> i % 20, "ts" -> epoch.plusNanos((usBase + i * 60000000L) * 1000),
      "etype" -> Seq("view", "click", "buy")((i % 3).toInt))))
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")

    val loaded = graft.ops.Tables.events(spark, dir)
    // Bounds deliberately NOT µs multiples: from = row-100's ts + 1 ns must
    // EXCLUDE row 100 (ceil µs conversion), to = row-300's ts + 1 ns must
    // INCLUDE row 300 — a wrong rounding direction in the added bound would
    // drop/keep boundary rows and fail the count check below.
    val fromNs = (usBase + 100 * 60000000L) * 1000L + 1L
    val toNs   = (usBase + 300 * 60000000L) * 1000L + 1L
    val engine = new QueryEngine(DatasetSpec("user_id", "ts"))
    val q = GraftQuery(Some(Timeframe(Some(fromNs), Some(toNs))),
      Seq(Condition.Filters(None, Seq(RowFilter("etype", FilterOp.Eq,
        Scalar.Str("view"))), Target.Count(CmpOp.Gte, 1), includeZero = false)),
      None, Nil, None)
    val res = engine.run(loaded, q).summary
    val plan = res.queryExecution.executedPlan.toString
    // The raw µs bounds reach the scan's pushed filters.
    assert("PushedFilters: \\[[^\\]]*GreaterThan(OrEqual)?\\(ts".r.findFirstIn(plan).isDefined, plan)
    assert("PushedFilters: \\[[^\\]]*LessThan(OrEqual)?\\(ts".r.findFirstIn(plan).isDefined, plan)
    val row = res.collect()(0)
    // 200 in-frame rows (101..300 inclusive: +1ns excludes row 100, includes
    // row 300), all 20 users have a view among any 200 consecutive rows.
    assert(row.getLong(1) == 200L, row.toString)

    // Review regression: an "unbounded" sentinel to = Long.MaxValue used to
    // overflow the rewrite's ceil division (a+b-1 wraps negative), and the
    // wrapped bound — conjuncted into the Filter — dropped EVERY row.
    val qOpen = GraftQuery(Some(Timeframe(Some(fromNs), Some(Long.MaxValue))),
      Seq(Condition.Filters(None, Seq(RowFilter("etype", FilterOp.Eq,
        Scalar.Str("view"))), Target.Count(CmpOp.Gte, 1), includeZero = false)),
      None, Nil, None)
    val openRow = engine.run(loaded, qOpen).summary.collect()(0)
    // rows 101..399 inclusive = 299 (the wrapped bound would yield 0).
    assert(openRow.getLong(1) == 299L,
      s"open-ended timeframe dropped rows: $openRow")
  }

  test("an unrelated DATE column named dt is NOT used for pruning unless declared") {
    import graft.query.QueryAst._
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("dt", DateType), StructField("etype", StringType)))
    val day0 = 1704067200000000000L
    // dt is a SIGNUP date, unrelated to ts (deliberately days away from
    // the event time) — an undeclared spec must ignore it entirely or
    // every in-timeframe row would be wrongly filtered out.
    val ev = frame(schema, (0L until 100L).map(i => Map[String, Any](
      "uid" -> i % 10, "ts" -> (day0 + i * 1000000000L),
      "dt" -> java.sql.Date.valueOf("2020-06-15"), "etype" -> "view")))
    val q = GraftQuery(
      Some(Timeframe(Some(day0), Some(day0 + 100L * 1000000000L))),
      Seq(Condition.Filters(None, Seq(RowFilter("etype", FilterOp.Eq,
        Scalar.Str("view"))), Target.Count(CmpOp.Gte, 1), includeZero = false)),
      None, Nil, None)
    val undeclared = new QueryEngine(DatasetSpec("uid", "ts"))
    val got = undeclared.run(ev, q).summary.collect()(0)
    assert(got.getLong(0) == 10L && got.getLong(1) == 100L,
      s"undeclared dt must not prune: $got")
    // declaring it DOES derive bounds (and here wrongly filters everything
    // — which is exactly why declaration must be explicit)
    val declared = new QueryEngine(DatasetSpec("uid", "ts", Some("dt")))
    assert(declared.run(ev, q).summary.collect()(0).getLong(1) == 0L)
  }

  test("catalog registers a day-partitioned dataset and timeframe queries prune it") {
    import graft.query.QueryAst._
    val dir = tmpDir("dtcat")
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("etype", StringType)))
    val day0 = 1704067200000000000L
    val dayNs = 86400000000000L
    val ev = frame(schema, (0L until 300L).map(i => Map[String, Any](
      "uid" -> i % 10, "ts" -> (day0 + (i % 6) * dayNs + i * 1000000L),
      "etype" -> Seq("view", "click")((i % 2).toInt))))
    GroupedWriter.partitionByDay(ev, "ts", "uid", nParts = 2, dir)

    // Registration sees the partition column (the sampled modes read with
    // basePath for the same reason) and stats cover the full data. dt is
    // date-typed — outside the reference's int/float/bool/string query
    // type system by design (queries filter time via the ts timeframe and
    // the engine derives dt pruning bounds from it), so it surfaces in
    // dtypeNames + unsupported rather than as a filterable column.
    val reg = Catalog.register(spark, "dtcat1", dir, "uid", "ts",
      dayPartitionColumn = Some("dt"))
    assert(reg.numRows == 300, reg.numRows.toString)
    assert(reg.dtypeNames.get("dt").contains("date"), reg.dtypeNames.toString)
    assert(reg.unsupportedColumns.contains("dt"), reg.unsupportedColumns.toString)
    assert(reg.dayPartitionColumn.contains("dt"))
    // a mis-declared column is rejected at registration (uid is not a DATE;
    // a DATE column unequal to day-of-ts would be rejected by the data check)
    intercept[Catalog.RegistrationException] {
      Catalog.register(spark, "dtcat_bad", dir, "uid", "ts",
        dayPartitionColumn = Some("uid"))
    }

    // Catalog.load → engine timeframe → dt partition pruning end-to-end,
    // with the spec built from the REGISTRATION's validated declaration —
    // the exact construction the ApiServer serving path uses. The 300 rows
    // are served from a resident copy, which has no directories to prune,
    // so pruning is pinned on the codegen serving path: the registration
    // loaded without a recorded size, which reads the part files.
    val engine = new QueryEngine(
      DatasetSpec("uid", "ts", dayPartitionColumn = reg.dayPartitionColumn))
    val q = GraftQuery(
      Some(Timeframe(Some(day0 + dayNs), Some(day0 + 3 * dayNs))),
      Seq(Condition.Filters(None, Seq(RowFilter("etype", FilterOp.Eq,
        Scalar.Str("view"))), Target.Count(CmpOp.Gte, 1), includeZero = false)),
      None, Nil, None)
    val planned = engine.runValidated(Catalog.load(spark, reg.copy(totalBytes = None)), q).summary
    val plan = planned.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*dt".r.findFirstIn(plan).isDefined, plan)
    val flat = engine.run(ev, q).summary.collect()(0)
    assert(planned.collect()(0) == flat)
    val resident = Catalog.load(spark, "dtcat1")
    assert(resident.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      resident.queryExecution.analyzed.treeString)
    assert(engine.runValidated(resident, q).summary.collect()(0) == flat)
    Catalog.unregister("dtcat1")
  }

  test("bucketed-by-group source eliminates the window shuffle (100 TB plan)") {
    import graft.query.QueryAst._
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("etype", StringType)))
    val ev = frame(schema, (0L until 200L).map(i => Map[String, Any](
      "uid" -> i % 20, "ts" -> i, "etype" -> Seq("view", "click", "buy")((i % 3).toInt))))
    // This test pins the WINDOW plan's layout story (bucketing removes its
    // exchange+sort); Auto routing would swap the sequence to the
    // aggregator and the pin would measure the wrong plan.
    val engine = new QueryEngine(DatasetSpec("uid", "ts")).withWindowPlan
    val q = GraftQuery(None, Seq(Condition.Sequence(None, Seq(
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("view")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("click"))))), None)),
      None, Nil, None)

    def count(df: org.apache.spark.sql.DataFrame, pat: String): Int =
      pat.r.findAllIn(df.queryExecution.executedPlan.toString).length
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = count(df, "Exchange")
    def sorts(df: org.apache.spark.sql.DataFrame): Int = count(df, "\\n[^\\n]*Sort \\[")

    val plainPlan = engine.run(ev, q).summary
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")
    GroupedWriter.bucketBy(ev, "uid", 4, "ev_bucketed", "ts")
    // sound here: the writer guarantees one file per bucket (see scaladoc);
    // counts are forced inside the conf window (planning is lazy)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val (bx, bs, bplan) = try {
      val p = engine.run(spark.table("ev_bucketed"), q).summary
      (exchanges(p), sorts(p), p.queryExecution.executedPlan.toString)
    } finally spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    // Plain source: one exchange for the window partitioning + the final
    // aggregation gather. Bucketed source: the window exchange disappears —
    // the reference's shuffle-free layout, planner-managed — and because
    // buckets are written sorted by (uid, ts) with one file per bucket, the
    // window's SORT disappears too: the whole query is a map-side pass.
    assert(bx < exchanges(plainPlan), s"bucketed=$bx plain=${exchanges(plainPlan)}")
    assert(bs < sorts(plainPlan),
      s"bucketed sorts=$bs plain=${sorts(plainPlan)}\n$bplan")
  }

  test("native batch scorers plan shuffle-free") {
    // The LM and DSIR serve rows (both names of each pair) score through
    // the one native row-local fold. Pin it on the physical plan — the
    // scoring projection must contain NO Exchange at all for the LM rows,
    // and only the TakeOrdered gather (no full Exchange) for the DSIR
    // top-k rows.
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("tx_lm_score_serve", "tx_lm_score_native")) {
      val lmPlan = graft.ops.PipelineQueries.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!lmPlan.contains("Exchange"),
        s"$name must serve without any exchange:\n$lmPlan")
    }
    for (name <- Seq("pipeline_dsir_serve", "pipeline_dsir_native")) {
      val dsPlan = graft.ops.PipelineQueries.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!dsPlan.contains("Exchange") && dsPlan.contains("TakeOrderedAndProject"),
        s"$name must be map-only + TakeOrdered:\n$dsPlan")
      // One fold per row: no filter inlines a second dsir_row_score call.
      assert("dsir_row_score\\(".r.findAllIn(dsPlan).size == 1,
        s"$name must evaluate the fold once per row:\n$dsPlan")
    }
  }

  test("LM scorer rows evaluate lm_row_score once per row, batch and stream") {
    // The score filter must not inline a second fold. The stream rows'
    // micro-batch plans are their own executions: read them from the SQL
    // status store.
    val dir = "/root/testdata/sf0.001"
    def folds(plan: String) = "lm_row_score\\(".r.findAllIn(plan).size
    for (name <- Seq("tx_lm_score", "tx_lm_score_serve", "tx_lm_score_native")) {
      val plan = graft.ops.PipelineQueries.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(folds(plan) == 1, s"$name must evaluate the fold once per row:\n$plan")
    }
    val store = spark.sharedState.statusStore
    for (name <- Seq("st_lm", "st_lm_serve")) {
      val before = store.executionsList().map(_.executionId).maxOption.getOrElse(-1L)
      graft.ops.StreamingQueries.queries(name)(spark, dir)
      org.apache.spark.GraftListenerBus.waitUntilEmpty(spark.sparkContext, 5000)
      val plans = store.executionsList().filter(_.executionId > before)
        .map(_.physicalPlanDescription).filter(folds(_) > 0)
      assert(plans.nonEmpty, s"$name ran no plan holding lm_row_score")
      plans.foreach(p => assert(folds(p) == 1, s"$name must evaluate the fold once per row:\n$p"))
    }
  }

  test("LM scorer's text filter keeps exactly the rows the fold scores") {
    // LmScore.score filters on the text (HasTrigram), not on the fold: the
    // kept rows must be exactly those whose fold is non-null.
    import org.apache.spark.unsafe.types.UTF8String
    val fold = graft.functions.LmRowScore(
      org.apache.spark.sql.catalyst.expressions.Literal(""), Array.fill(27 * 27 * 27)(0L))
    val rnd = new scala.util.Random(7)
    val edge = Seq("", "ab", "a b", "a-b", "a -b", "a\t b", " a  b ", "abc", "\u00e9 a",
      "Ab1", "x y z", "ab  ", "1a2b3c", "a\nb", "a\n b", "  ", "-a- -b-", null)
    val texts = edge ++ Seq.fill(400)(
      Seq.fill(rnd.nextInt(7))("aB -.\t\u00e9"(rnd.nextInt(7))).mkString)
    val d = spark.createDataFrame(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")
    val model = graft.operators.LmScore.trainModel(
      spark.createDataFrame(Seq((0L, "the quick brown fox"))).toDF("doc_id", "text"),
      "doc_id", "text")
    val got = graft.operators.LmScore.score(d, model, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val want = texts.zipWithIndex.collect {
      case (t, i) if t != null && fold.compute(UTF8String.fromString(t)) != null => i.toLong
    }.toSet
    assert(got == want, texts.zipWithIndex.filter(x => got(x._2) != want(x._2)))
  }

  test("boilerplate strip fast path: document side rebuilds without a shuffle") {
    // stripBoilerplateFast's 100 TB contract (BENCH.md §PipelineScale:
    // 28 GB → 4 GB stage shuffle at 10M docs): the only shuffles are the
    // narrow unit-key aggregate (partial/final groupBy(unit) + the
    // single-row collect_list gather); the DOCUMENT side — the data-sized
    // one — must rebuild map-side off a broadcast of the bounded df>=minDf
    // set, never through a shuffled join keyed by unit or doc.
    val dir = "/root/testdata/sf0.001"
    val out = graft.ops.PipelineQueries.queries("dd_strip_lines_fast")(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"fast strip must broadcast the boilerplate set:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"fast strip must not shuffle-join the document side:\n$plan")
    // r12: the boilerplate set is counted FIRST (the broadcast-bound
    // runtime guard) and cached, so by rebuild time the unit-key
    // aggregate's exchanges — the countDistinct's (unit, doc_id) dedup +
    // per-unit count — have already run inside the guard pass and only
    // replay from the InMemoryRelation. The LIVE plan may carry exactly
    // one shuffle: the single-row collect_list gather. Truncating at the
    // first InMemoryRelation line is sound here because the cache sits
    // in the broadcast branch, which this plan prints last; exchanges
    // after it are the cached subtree's replay-only copies.
    val raw = graft.operators.Dedup.stripBoilerplateFast(
      graft.ops.Tables.documents(spark, dir), "doc_id", "text",
      minDf = 400, sep = " ")
    val rawPlan = raw.queryExecution.executedPlan.toString
    assert(rawPlan.contains("InMemoryRelation"),
      s"guard pass must cache the boilerplate set for the collect to reuse:\n$rawPlan")
    val livePlan = rawPlan.split("InMemoryRelation")(0)
    val shuffles = "Exchange (hashpartitioning|SinglePartition)"
      .r.findAllIn(livePlan).size
    assert(shuffles <= 1,
      s"fast strip's live plan may shuffle only the single-row gather (<=1 exchange), got $shuffles:\n$rawPlan")
  }

  test("funnel twin plans without sorting the corpus") {
    // funnelCounts' contract vs the window funnel (BENCH.md §Counts-only
    // funnel twin): no Window, no Sort over event rows — two hash
    // aggregates plus a group-sized join. The window plan necessarily
    // sorts every partition for Window.partitionBy; a Sort appearing here
    // means the twin regressed into that shape.
    val dir = "/root/testdata/sf0.001"
    val out = graft.ops.FrQueries.queries("fr_funnel_fast")(spark, dir)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort ") && !plan.contains("Window"),
      s"funnelCounts must not sort or window the corpus:\n$plan")
  }

  test("Auto routing picks the fast paths and falls back exactly at the contract edges") {
    import graft.query.QueryAst._
    // Pins WHICH plan QueryEngine.run fires per shape (r13 routing): the
    // battery rows fr_sequence_routed / fr_funnel_routed prove the routed
    // RESULTS equal the window plan's; this proves the routed PLANS are the
    // aggregator's (no Window node) and that every documented fallback
    // shape really re-plans the window stack.
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("etype", StringType)))
    val ev = frame(schema, (0L until 90L).map(i => Map[String, Any](
      "uid" -> i % 9, "ts" -> i,
      "etype" -> Seq("view", "click", "buy")((i % 3).toInt))))
    def steps(ts: String*) = ts.map(t =>
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str(t)))))
    val seq2 = Condition.Sequence(None, steps("view", "click"), None)
    val auto = new QueryEngine(DatasetSpec("uid", "ts"))
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString

    // Routed sequence: no Window anywhere, the semi-join present.
    val routedSeq = auto.run(ev,
      GraftQuery(None, Seq(seq2), None, Nil, None)).summary
    assert(!plan(routedSeq).contains("Window"),
      s"routable sequence must leave the window stack:\n${plan(routedSeq)}")
    assert(plan(routedSeq).contains("LeftSemi"),
      s"routed sequence restricts rows via the semi-join:\n${plan(routedSeq)}")

    // Routed funnel: funnelCounts' shape — no Window node anywhere. (The
    // corpus-Sort-free pin lives in "funnel twin plans without sorting the
    // corpus" over real parquet; on this tiny in-memory frame the twin's
    // GROUP-sized join may legitimately sort-merge.)
    val routedFun = auto.run(ev, GraftQuery(None, Nil, None, Nil,
      Some(Funnel(steps("view", "click"), None, Nil, Nil)))).funnel.get
    assert(!plan(routedFun).contains("Window"),
      s"aggregation-free funnel must route to funnelCounts:\n${plan(routedFun)}")

    // Fallback edges — each one re-plans the window stack:
    // (1) an explicit relation (OR needs per-group flags);
    val rel = auto.run(ev, GraftQuery(None,
      Seq(seq2, Condition.Filters(None,
        Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("buy"))),
        Target.Count(CmpOp.Gte, 1), includeZero = false)),
      Some(Relation.Or(Relation.Ref(0), Relation.Ref(1))), Nil, None)).summary
    assert(plan(rel).contains("Window"), s"relation must pin the window plan:\n${plan(rel)}")
    // (1b) ...but the EXPRESSION form of the default AND over every
    // condition ("$0 and $1") canonicalizes to None at parse (r14,
    // QueryParser.isCompleteAnd), so an HTTP query spelling the default
    // out still ROUTES: the sequence semi-joins while the filters
    // condition windows — the mixed shape, through the parser.
    val explicitAnd = auto.runJson(ev,
      """{"query": {"conditions": [
        |  {"sequence": [{"filter": ["etype","==","view"]},
        |                {"filter": ["etype","==","click"]}]},
        |  {"filter": ["etype","==","buy"], "target": ["count",">=",1]}],
        | "relation": "$0 and $1"}}""".stripMargin).summary
    assert(plan(explicitAnd).contains("LeftSemi"),
      s"explicit all-AND relation must still route the sequence:\n${plan(explicitAnd)}")
    // (2) a non-integral ts (SequenceMatch's long buffer would truncate);
    val evF = ev.withColumn("tsf", col("ts").cast("double"))
    val floatTs = new QueryEngine(DatasetSpec("uid", "tsf")).run(evF,
      GraftQuery(None, Seq(seq2), None, Nil, None)).summary
    assert(plan(floatTs).contains("Window"), s"float ts must pin the window plan:\n${plan(floatTs)}")
    // (3) an all-negated sequence (satisfied by groups with no matching rows);
    val allNeg = auto.run(ev, GraftQuery(None,
      Seq(Condition.Sequence(None,
        Seq(SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("zzz"))),
          rowFound = false)), None)), None, Nil, None)).summary
    assert(plan(allNeg).contains("Window"), s"all-negated must pin the window plan:\n${plan(allNeg)}")
    // (4) funnel step/end aggregations ROUTE too since r14: counts via
    // funnelCounts (no Window), each aggregation input recovered by a
    // group-sized survivor join against the max-step table — the end-agg
    // frame must show the semi-join and no window stack.
    val aggFunPlan = auto.run(ev, GraftQuery(None, Nil, None, Nil,
      Some(Funnel(steps("view", "click"), None, Nil,
        Seq(Aggregation(None, "etype", AggType.CountPerValue, None))))))
    assert(!plan(aggFunPlan.funnel.get).contains("Window"),
      s"routed funnel counts must leave the window stack:\n${plan(aggFunPlan.funnel.get)}")
    val endAggDf = aggFunPlan.funnelAggregations.head._2
    assert(!plan(endAggDf).contains("Window") && plan(endAggDf).contains("LeftSemi"),
      s"routed end-agg input is a survivor semi-join, not window flags:\n${plan(endAggDf)}")
    // A LEADING NEGATED step inverts the join for the steps before the
    // first rowFound one: survivors of step 0 are everyone EXCEPT groups
    // witnessed to fail — a left-ANTI join.
    val negLead = auto.run(ev, GraftQuery(None, Nil, None, Nil,
      Some(Funnel(
        SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("zzz"))),
          rowFound = false) +: steps("view", "click"),
        None, Seq(Aggregation(None, "etype", AggType.Count, None)), Nil))))
    val step0Df = negLead.funnelAggregations.head._2
    assert(plan(step0Df).contains("LeftAnti") && !plan(step0Df).contains("Window"),
      s"leading-negated step-0 survivors use the anti-join:\n${plan(step0Df)}")
    // (5) withWindowPlan pins the general plan even for the routable shape.
    val pinned = auto.withWindowPlan.run(ev,
      GraftQuery(None, Seq(seq2), None, Nil, None)).summary
    assert(plan(pinned).contains("Window"), s"withWindowPlan must pin:\n${plan(pinned)}")

    // (6) the SIZE gate: a small FILE-backed source (Catalyst estimates
    // real file bytes, far under the measured 32 MB crossover) keeps the
    // window plan under the default engine; threshold 0 routes it. The
    // in-memory frames above are RDD-backed (LogicalRDD — `frame` goes
    // through createDataFrame on an RDD), so they estimate as
    // defaultSizeInBytes ≈ infinite and route, the scale-safe default the
    // gate's scaladoc documents; a LocalRelation (`Seq(...).toDF`) would
    // instead estimate its REAL in-memory size and stay on the window plan.
    val pq = tmpDir("routegate")
    ev.write.mode("overwrite").parquet(pq)
    val small = spark.read.parquet(pq)
    val gated = auto.run(small, GraftQuery(None, Seq(seq2), None, Nil, None)).summary
    assert(plan(gated).contains("Window"),
      s"small file-backed input must keep the window plan:\n${plan(gated)}")
    val forced = auto.withRoutingThreshold(0)
      .run(small, GraftQuery(None, Seq(seq2), None, Nil, None)).summary
    assert(!plan(forced).contains("Window") && plan(forced).contains("LeftSemi"),
      s"threshold 0 must route the same input:\n${plan(forced)}")
    assert(gated.collect().toSeq == forced.collect().toSeq)

    // And the routed results equal the pinned window results, including a
    // MIXED condition set (Filters stays windowed, the sequence routes).
    val mixed = GraftQuery(None,
      Seq(Condition.Filters(None,
        Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("buy"))),
        Target.Count(CmpOp.Gte, 3), includeZero = false), seq2),
      None, Nil, None)
    assert(auto.run(ev, mixed).summary.collect().toSeq ==
      auto.withWindowPlan.run(ev, mixed).summary.collect().toSeq)
    val mixedPlan = plan(auto.run(ev, mixed).summary)
    assert(mixedPlan.contains("Window") && mixedPlan.contains("LeftSemi"),
      s"mixed conditions: Filters windows, sequence semi-joins:\n$mixedPlan")
  }

  test("job stats settle correctly for a >1000-task job") {
    // Regression: the settle loop must bound ITERATIONS, not the task count
    // — a 1200-task job previously could snapshot before events drained.
    val (_, stats) = graft.result.JobStats.measure(spark) {
      spark.range(0, 2400, 1, 1200).count()
    }
    assert(stats.tasks >= 1200, s"expected all 1200 tasks counted, got ${stats.tasks}")
  }

  test("job stats record each job and stage of the measured body, not in the stats keys") {
    val (_, first) = graft.result.JobStats.measure(spark)(spark.range(100).count())
    val (_, stats) = graft.result.JobStats.measure(spark) {
      spark.sparkContext.setJobDescription("two-stage count")
      try spark.range(0, 4000, 1, 4).repartition(3).selectExpr("id % 5 AS k")
        .groupBy("k").count().collect()
      finally spark.sparkContext.setJobDescription(null)
    }
    assert(stats.jobs.nonEmpty && stats.stages.size >= 2, s"$stats")
    assert(stats.jobs.map(_.id).intersect(first.jobs.map(_.id)).isEmpty,
      "a measurement must not see an earlier one's jobs")
    assert(stats.jobs.forall(_.description == "two-stage count"), s"${stats.jobs}")
    // Each ran task belongs to exactly one stage record and one job record.
    assert(stats.stages.map(_.tasks).sum == stats.tasks, s"$stats")
    assert(stats.jobs.map(_.tasks).sum == stats.tasks, s"$stats")
    assert(stats.fields.map(_._1) == Seq("wallTimeMs", "tasks", "rowsScanned",
      "bytesScanned", "shuffleBytesWritten", "peakExecutionMemory", "coreSecs"))
  }

  test("job stats attribute metrics per measurement under concurrency (r15)") {
    // Two measurements racing on their own threads (ApiServer's async
    // regime): each must count ONLY its own tasks. Pre-r15 the listener
    // summed every task that ended while attached, so concurrent queries
    // cross-attributed rowsScanned/coreSecs — the cost basis.
    val dirA = java.nio.file.Files.createTempDirectory("statsA").toString
    val dirB = java.nio.file.Files.createTempDirectory("statsB").toString
    spark.range(5000).selectExpr("id", "id % 7 AS v").write.mode("overwrite").parquet(dirA)
    spark.range(50000).selectExpr("id", "id % 7 AS v").write.mode("overwrite").parquet(dirB)
    val dfA = spark.read.parquet(dirA)
    val dfB = spark.read.parquet(dirB)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    @volatile var snapA: graft.result.JobStats.Snapshot = null
    @volatile var snapB: graft.result.JobStats.Snapshot = null
    val tA = new Thread(() => {
      val (_, s) = graft.result.JobStats.measure(spark) {
        barrier.await(); dfA.agg(sum("v")).collect()
      }
      snapA = s
    }, "stats-conc-a")
    val tB = new Thread(() => {
      val (_, s) = graft.result.JobStats.measure(spark) {
        barrier.await(); dfB.agg(sum("v")).collect()
      }
      snapB = s
    }, "stats-conc-b")
    tA.start(); tB.start(); tA.join(120000); tB.join(120000)
    assert(snapA != null && snapB != null, "measurement threads timed out")
    assert(snapA.rowsScanned == 5000,
      s"A must see exactly its own 5000 rows, got ${snapA.rowsScanned}")
    assert(snapB.rowsScanned == 50000,
      s"B must see exactly its own 50000 rows, got ${snapB.rowsScanned}")

    // Broadcast-exchange jobs run on Spark's internal thread pool; SQL
    // captures the submitting thread's local properties onto them, so the
    // broadcast build's scan still lands in ITS query's measurement.
    val (_, sJoin) = graft.result.JobStats.measure(spark) {
      dfB.join(org.apache.spark.sql.functions.broadcast(dfA), "id")
        .agg(sum(dfB("v"))).collect()
    }
    assert(sJoin.rowsScanned == 55000,
      s"broadcast build side must be attributed (50000+5000), got ${sJoin.rowsScanned}")
  }

  test("Caches.drain inside a scope releases only that scope's frames") {
    import org.apache.spark.storage.StorageLevel
    val global = spark.range(300).toDF("g").filter("g >= 0")
    val scoped = spark.range(400).toDF("s").filter("s >= 0")
    graft.util.Caches.retain(global)
    try {
      graft.util.Caches.scoped {
        graft.util.Caches.retain(scoped)
        graft.util.Caches.drain()
        assert(scoped.storageLevel == StorageLevel.NONE)
        assert(global.storageLevel != StorageLevel.NONE)
      }
      assert(global.storageLevel != StorageLevel.NONE)
    } finally graft.util.Caches.drain()
    assert(global.storageLevel == StorageLevel.NONE)
  }

  test("Caches.scoped: a query's exit drains only its own frames (r15)") {
    import java.util.concurrent.CountDownLatch
    import org.apache.spark.storage.StorageLevel
    // Distinct plans so CacheManager gives each thread its own entry.
    val dfA = spark.range(100).toDF("a").filter("a >= 0")
    val dfB = spark.range(200).toDF("b").filter("b >= 0")
    val bothRetained = new CountDownLatch(2)
    val aExited = new CountDownLatch(1)
    @volatile var bLevelAfterAExit: StorageLevel = null
    val tA = new Thread(() => graft.util.Caches.scoped {
      graft.util.Caches.retain(dfA); dfA.count()
      bothRetained.countDown()
      bothRetained.await()
    }, "caches-scope-a") // scope exit drains dfA — and must NOT touch dfB
    val tB = new Thread(() => graft.util.Caches.scoped {
      graft.util.Caches.retain(dfB); dfB.count()
      bothRetained.countDown()
      aExited.await()
      bLevelAfterAExit = dfB.storageLevel
    }, "caches-scope-b")
    tA.start(); tB.start()
    tA.join(60000); aExited.countDown(); tB.join(60000)
    assert(bLevelAfterAExit != null, "scope threads timed out")
    // Pre-r15 this was the bug: A's per-request drain emptied the GLOBAL
    // bin, unpersisting B's in-flight shared candidate-pass cache.
    assert(bLevelAfterAExit != StorageLevel.NONE,
      "A's scope exit must not drain B's in-flight retained frame")
    assert(dfA.storageLevel == StorageLevel.NONE, "A's own frame must be drained")
    assert(dfB.storageLevel == StorageLevel.NONE, "B's frame drains when B exits")
  }

  test("pair-generation battery queries plan without cartesian products") {
    // The VERDICT-r2 scale-killers: these must stay equi-join-shaped. The
    // assertion is on the physical plan, so a regression to crossJoin (or a
    // join Catalyst can only execute as BroadcastNestedLoop) fails here even
    // while the small-SF oracle stays green.
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("dd_simhash_pairs", "dd_embed_near", "dd_jaccard", "dd_minhash_lsh",
                     "tx_contamination")) {
      val plan = graft.ops.PipelineQueries.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        s"$name physical plan contains a cartesian product:\n$plan")
    }
    graft.util.Caches.drain()
  }

  test("result JSON matches the reference response shape") {
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("timestamp", LongType),
      StructField("category", StringType)))
    val df = frame(schema, Seq(
      Map("id" -> "a", "timestamp" -> 1L, "category" -> "x"),
      Map("id" -> "a", "timestamp" -> 2L, "category" -> "y"),
      Map("id" -> "b", "timestamp" -> 3L, "category" -> "x")))
    val engine = new QueryEngine(DatasetSpec("id", "timestamp"))
    val plan = engine.run(df, QueryParser.parse(
      """{"query": {"aggregations": [{"column": "category", "type": "countPerValue"}]},
        | "funnel": {"sequence": [{"filter": ["category", "==", "x"]}]}}""".stripMargin))
    val json = ResultJson.build(plan)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val parsed = JsonMethods.parse(json)
    assert((parsed \ "query" \ "matchingGroups") == JInt(2))
    assert((parsed \ "query" \ "matchingGroupRows") == JInt(3))
    val values = (parsed \ "query" \ "aggregations")(0) \ "values"
    assert(values == JObject(List("x" -> JInt(2), "y" -> JInt(1))))
    assert(((parsed \ "funnel" \ "sequence")(0) \ "sequenceGroups") == JInt(2))

    // r15: the checked top-level append the server composes responses with
    // (replaced the dropRight string surgery) — appended keys must parse,
    // empty objects must not gain a stray comma, non-objects fail fast.
    val withStats = ResultJson.addTopLevelField(json, "stats", """{"x": 1}""")
    assert((JsonMethods.parse(withStats) \ "stats" \ "x") == JInt(1))
    assert((JsonMethods.parse(withStats) \ "query" \ "matchingGroups") == JInt(2))
    assert(ResultJson.addTopLevelField("{}", "a", "1") == """{"a": 1}""")
    intercept[IllegalArgumentException](
      ResultJson.addTopLevelField("[1, 2]", "a", "1"))
  }

  test("windowed rates with watermark aggregate event-time windows") {
    import graft.streaming.WindowedRates
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String, Double)]
    val events = input.toDF().toDF("eid", "tsl", "etype", "value")
      .withColumn("ts", timestamp_seconds(col("tsl")))
    val out = WindowedRates.perWindow(events, "ts", "etype", "value",
      windowLength = "10 seconds", watermarkDelay = "5 seconds")
    val q = out.writeStream.format("memory").queryName("rates_out")
      .outputMode("update").start()
    try {
      input.addData((1L, 1L, "view", 1.0), (2L, 3L, "view", 2.0), (3L, 12L, "click", 4.0))
      q.processAllAvailable()
      val rows = spark.table("rates_out")
        .select(col("etype"), col("n_events"), col("sum_value")).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(rows("view") == ((2L, 3.0)))  // both in [0,10)
      assert(rows("click") == ((1L, 4.0))) // in [10,20)
    } finally q.stop()
  }

  test("stream-stream interval join: window boundaries, keys, multi-match") {
    import graft.streaming.StreamIntervalJoin
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lin = MemoryStream[(Long, Long, Long)] // (user, p_id, sec)
    val rin = MemoryStream[(Long, Long)]       // (user, sec)
    val purchases = lin.toDF().toDF("user", "p_id", "psec")
      .withColumn("p_ts", timestamp_seconds(col("psec")))
    val clicks = rin.toDF().toDF("user", "csec")
      .withColumn("c_ts", timestamp_seconds(col("csec")))
    val joined = StreamIntervalJoin.join(purchases, clicks, Seq("user"),
      "p_ts", "c_ts", window = "10 seconds", watermark = "1 hour")
    val q = joined.writeStream.format("memory").queryName("sij_out")
      .outputMode("append").start()
    try {
      lin.addData((1L, 100L, 50L), (2L, 200L, 50L))
      rin.addData(
        (1L, 50L),  // == p_ts: half-open lower bound INCLUDES it
        (1L, 59L),  // inside the window — second match for p 100
        (1L, 60L),  // == p_ts + window: EXCLUDED (half-open upper)
        (1L, 49L),  // before the purchase: excluded
        (2L, 55L),  // other key, inside ITS window
        (3L, 55L))  // key with no purchase: excluded
      q.processAllAvailable()
      val got = spark.table("sij_out")
        .select(col("p_id"), col("csec")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((100L, 50L), (100L, 59L), (200L, 55L)), got)
    } finally q.stop()

    // Shared non-key columns fail loudly (the RangeJoin rule).
    intercept[IllegalArgumentException] {
      StreamIntervalJoin.join(purchases, clicks.withColumnRenamed("c_ts", "p_ts"),
        Seq("user"), "p_ts", "p_ts", "10 seconds", "1 hour")
    }
  }

  test("streaming session_window matches batch sessionization boundaries") {
    import graft.streaming.StreamingSessions
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val events = input.toDF().toDF("uid", "tsl")
      .withColumn("ts", timestamp_seconds(col("tsl")))
    // 10s gap: u1 has sessions {100,105,109} and {130}; u2 has {200}
    val out = StreamingSessions.sessionCounts(events, "uid", "ts",
      gap = "10 seconds", watermarkDelay = "0 seconds")
    val q = out.writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      input.addData((1L, 100L), (1L, 105L), (1L, 109L), (1L, 130L), (2L, 200L))
      q.processAllAvailable()
      input.addData((1L, 500L)) // advance watermark far enough to close all
      q.processAllAvailable()
      val rows = spark.table("sessions_out")
        .select(col("uid"), unix_timestamp(col("session_start")), col("n_events"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(rows((1L, 100L)) == 3L) // merged 100,105,109 (chained gaps < 10)
      assert(rows((1L, 130L)) == 1L)
      assert(rows((2L, 200L)) == 1L)
      // batch operator agrees on boundaries for the same data
      val batch = graft.operators.Sessionize.sessions(
        Seq((1L, 100L), (1L, 105L), (1L, 109L), (1L, 130L), (2L, 200L))
          .toDF("uid", "ts"), "uid", "ts", maxGap = 10L)
        .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).size
      assert(batch == 3) // same 3 sessions among these events
    } finally q.stop()
  }

  test("streaming dedup keeps first occurrences, drops watermark-window dupes") {
    import graft.streaming.StreamingDedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val docs = input.toDF().toDF("doc_id", "tsl", "text")
      .withColumn("ts", timestamp_seconds(col("tsl")))
    val out = StreamingDedup.firstOccurrences(docs, "ts", "text", "10 seconds")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, 1L, "aaa"), (2L, 2L, "bbb"), (3L, 3L, "aaa"))
      q.processAllAvailable()
      input.addData((4L, 4L, "aaa"), (5L, 5L, "ccc"))
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 5L)) // 3 and 4 are duplicates of 1
    } finally q.stop()
  }

  test("streaming as-of enrichment agrees with the batch as-of join") {
    import graft.streaming.StreamingAsOf
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static reference: key 1 has prices at t=10 (two rows — tie, last by
    // rid wins) and t=20; key 2 at t=50 (after its only event: no match)
    val right = Seq((1L, 10L, 200L), (1L, 10L, 201L), (1L, 20L, 202L),
      (2L, 50L, 203L)).toDF("k", "rt", "rid")
    val input = MemoryStream[(Long, Long, Long)]
    val events = input.toDF().toDF("k", "lt", "lid")
    val out = StreamingAsOf.backward(events, right, Seq("k"), "lt", "rt",
      rightVals = Seq("rid"), tieBreak = Seq("rid"))
    val q = out.writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      input.addData((1L, 10L, 100L), (1L, 25L, 101L), (2L, 5L, 102L))
      q.processAllAvailable()
      input.addData((1L, 15L, 103L))
      q.processAllAvailable()
      val got = spark.table("asof_out")
        .select(col("lid"), col("asof_rid")).collect()
        .map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      val batch = graft.operators.AsOfJoin.backward(
        Seq((1L, 10L, 100L), (1L, 25L, 101L), (2L, 5L, 102L), (1L, 15L, 103L))
          .toDF("k", "lt", "lid"),
        right, Seq("k"), "lt", "rt", rightVals = Seq("rid"), tieBreak = Seq("rid"))
        .collect().map(r => r.getLong(2) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
      assert(got == batch)
      assert(got == Map(100L -> Some(201L), 101L -> Some(202L),
        102L -> None, 103L -> Some(201L)))
    } finally q.stop()
  }

  test("streaming funnel matches batch sequence semantics on in-order events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, String)]
    val events = input.toDF().toDF("uid", "ts", "etype")
    val out = StreamingFunnel.progress(events, "uid", "ts",
      Seq(col("etype") === "view", col("etype") === "click", col("etype") === "buy"))
    val q = out.writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    try {
      // user 1 completes the funnel; user 2 stalls after view; same-ts click
      // for user 2 must NOT advance (strict inequality).
      input.addData((1L, 10L, "view"), (1L, 20L, "click"), (2L, 10L, "view"), (2L, 10L, "click"))
      q.processAllAvailable()
      input.addData((1L, 30L, "buy"))
      q.processAllAvailable()
      val rows = spark.table("funnel_out").as[FunnelProgress].collect()
        .groupBy(_.groupId).map { case (g, rs) => g -> rs.maxBy(_.completedSteps) }
      assert(rows(1L).completedSteps == 3)
      assert(rows(1L).anchors == Seq(10L, 20L, 30L))
      assert(rows(2L).completedSteps == 1)
    } finally q.stop()

    // Gid/ts contract (r12): the typed state rows key a LONG gid, so a
    // string gid must be rejected loudly at plan time — not silently
    // nulled into one collapsed group's state.
    val strEvents = events.withColumn("uid",
      concat(lit("u"), col("uid").cast("string")))
    val err = intercept[IllegalArgumentException] {
      StreamingFunnel.progress(strEvents, "uid", "ts",
        Seq(col("etype") === "view"))
    }
    assert(err.getMessage.contains("must be integral"))
  }

  test("tables: TIMESTAMP_NTZ and TIMESTAMP event-time columns normalize to epoch nanos") {
    // The round-8 driver regenerated events.ts as µs TIMESTAMP_NTZ; the
    // engine contract is epoch-nanos LongType (reference: timestamps are
    // opaque numbers — query_validator.py:268-299). Tables.tsToNanos must
    // restore it for BOTH timestamp flavors, with the UTC reading DuckDB's
    // epoch_ns gives the oracle side, exact to the microsecond.
    val ldt = java.time.LocalDateTime.of(2024, 1, 15, 12, 0, 0, 123456000)
    val expectedNs = ldt.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000000L + 123456000L
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("tz_ts", TimestampType),
      StructField("value", DoubleType)))
    val df = frame(schema, Seq(Map(
      "user_id" -> 7L, "ts" -> ldt,
      "tz_ts" -> java.sql.Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC)),
      "value" -> 1.0)))
    val dir = tmpDir("ntz")
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")

    val loaded = graft.ops.Tables.events(spark, dir)
    assert(loaded.schema("ts").dataType == LongType)
    assert(loaded.schema("tz_ts").dataType == LongType)
    val row = loaded.collect()(0)
    assert(row.getAs[Long]("ts") == expectedNs)
    assert(row.getAs[Long]("tz_ts") == expectedNs)
    // Numeric (already-normalized) event tables pass through untouched.
    val asIs = graft.ops.Tables.tsToNanos(frame(
      StructType(Seq(StructField("ts", LongType))), Seq(Map("ts" -> 42L))))
    assert(asIs.schema("ts").dataType == LongType && asIs.collect()(0).getLong(0) == 42L)
  }
}
