package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{DatasetSpec, QueryEngine}
import graft.query.QueryAst._

/**
 * One-off throughput probe for the BASELINE.md comparison: the reference's
 * only published number is the empty query (distinct groups + row count)
 * over 254M rows on 256 warm Lambda cores — 2.11 s wall, i.e. ~470k
 * rows/s/core end-to-end, ~4.3M rows/s/core compute-only (docs/api.md).
 *
 * At sf0.1 (100k rows) fixed job overhead dominates, so this probe builds a
 * ~50M-row parquet replica of the events table once (user ids shifted per
 * replica so group cardinality scales too) and measures the same
 * scan → partial/final aggregate plan warm. Prints one JSON line with
 * rows/s/core for a like-for-like comparison.
 */
object Throughput extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val args = p.args
    val replicas = args.headOption.map(_.toInt).getOrElse(500)
    val cpus = p.cpus
    // The harness's default 4× cores (r13, Probe.shuffleParts scaladoc: the
    // partitions==cores shape sat at the 8g execution-memory margin on the
    // 6-step probe; real clusters run partitions >> cores).
    // SPARK_GRAFT_SHUFFLE pins an explicit count — e.g. =32 to reproduce
    // the pre-r13 margin numbers.
    val shuffleParts = spark.sessionState.conf.numShufflePartitions
    // Every timed shape: one warm run, then the faster of two, each run's
    // per-request caches drained outside its measurement (see the
    // funnel-agg branch note).
    def best[T](body: => T): (T, graft.result.JobStats.Snapshot) = {
      def once() = { val r = p.measure(body); util.Caches.drain(); r }
      once()
      graft.result.JobStats.minOf2(once())
    }

    def perCore(rows: Long, s: graft.result.JobStats.Snapshot) =
      rows * 1000.0 / s.wallTimeMs / cpus

    // Every shape's steps filter an event type and a value floor.
    def step(t: String, minValue: Double = 100) = SequenceStep(Seq(
      RowFilter("event_type", FilterOp.Eq, Scalar.Str(t)),
      RowFilter("value", FilterOp.Gt, Scalar.Num(minValue))))
    val funnel3 = Seq("view", "click", "purchase").map(step(_))
    val funnelQ = GraftQuery(None, Nil, None, Nil, Some(Funnel(funnel3, None, Nil, Nil)))
    // The funnel with one step aggregation and one end aggregation.
    val funnelAggQ = GraftQuery(None, Nil, None, Nil, Some(Funnel(funnel3, None,
      stepAggregations = Seq(Aggregation(None, "event_type", AggType.CountPerValue, None)),
      endAggregations = Seq(Aggregation(None, "value", AggType.Count, None)))))
    // 6 steps, every one value-filtered (~12% of rows match any step):
    // the selective long-funnel shape where the Aggregator's claimed
    // advantage — shuffle only candidate rows, one pass instead of six
    // window aggregates — should be largest.
    val steps6 = Seq(step("signup"), step("view"), step("click"),
      step("view", 150), step("purchase"), step("purchase", 200))
    val seqAggs = Seq(Aggregation(None, "value", AggType.Count, None),
      Aggregation(None, "event_type", AggType.CountPerValue, None))
    def windowEngine = new QueryEngine(DatasetSpec("user_id", "ts")).withWindowPlan
    // Threshold 0: the probe measures the ROUTED plan at whatever replica
    // count the caller picked, not the production size gate.
    def routedEngine(spec: DatasetSpec = DatasetSpec("user_id", "ts")) =
      new QueryEngine(spec).withRoutingThreshold(0)
    // numGroups: the replicated corpus has ~1.5k distinct users per
    // replica of sf0.1 events — the routed engine's survivor-sharing
    // broadcast gate reads it exactly as ApiServer passes the catalog's
    // registration stat.
    val numGroups = Some(1500L * replicas)

    // The shared-SURVIVOR plan (see the sequence-agg-shared mode's note):
    // the matching groups' rows, projected to the used columns, retained
    // once, then the summary and both aggregation frames over them.
    def sharedSurvivors(in: DataFrame, steps: Seq[SequenceStep]): Unit = {
      val g = operators.SequenceMatch
        .matchingGroups(in, "user_id", "ts", steps)
        .withColumnRenamed("user_id", "__seq_gid")
      // EXPLICIT broadcast hint — the shape the engine ships
      // (QueryEngine routed fold, numGroups gate). Measured history
      // at 1B rows, all same-session pairs: a persisted plan freezes
      // BEFORE AQE's runtime broadcast conversion, so the un-hinted
      // cache materialization paid the full-corpus sort-merge join
      // (73.2s; lazy localCheckpoint 73.0s; persist under
      // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=
      // true STILL ran the SMJ at 75.2s — SPARK-35332 lets AQE
      // re-plan around cached-plan partitioning, it does not re-plan
      // the cached plan's own join); the explicit hint fixed it to
      // 28.8s. The unbounded-hint hazard is the engine's numGroups/
      // gidMaxBytes gate, not an adaptive conf.
      val survivors = util.Caches.retain(
        in.select(col("user_id"), col("ts"), col("event_type"), col("value"))
          .join(broadcast(g), col("user_id") === g("__seq_gid"), "left_semi"))
      survivors.agg(count_distinct(col("user_id")).as("matching_groups"),
        count(lit(1)).as("matching_group_rows")).collect()
      val eng = new QueryEngine(DatasetSpec("user_id", "ts"))
      seqAggs.foreach(a => eng.runAggregation(survivors, a).collect())
    }

    val target = p.path(s"graft_scale/events_x$replicas")
    if (!new java.io.File(target, "_SUCCESS").exists()) {
      val ev = ops.Tables.events(spark, "/root/testdata/sf0.1")
      // Repartition BEFORE the explode: the source is a single parquet file
      // (1-2 input splits), so exploding first would run the 250M-row
      // generation on 1-2 cores and the write behind a 250M-row shuffle.
      ev.repartition(cpus * 4)
        .withColumn("__r", explode(lit((0 until replicas).toArray)))
        .withColumn("user_id", col("user_id") + col("__r").cast("long") * 1000000L)
        .drop("__r")
        .write.mode("overwrite").parquet(target)
    }

    // Optional second mode: the same corpus bucketed by group id — the
    // engine-native analog of the data invariant the reference REQUIRES
    // (each group lives in exactly one part, registration_job.py:252-272),
    // which is what lets its empty query sum per-part nunique with no
    // cross-worker exchange. On the bucketed table Catalyst knows the
    // scan's hash partitioning, so the distinct-groups aggregation plans
    // with NO 250M-row shuffle either: like-for-like with the reference's
    // own layout assumption, while the plain-parquet mode above stays the
    // honest no-assumptions comparison.
    // Modes: "" / "bucketed" = the empty query (BASELINE.md comparison);
    // "funnel" / "funnel-bucketed" = the 3-step value-filtered funnel
    // (fr_funnel's exact shape) at the same scale — the engine's namesake
    // plan, wall-clock-verifying that the bucketed layout's
    // pre-window-exchange-free plan holds at 250M rows, not just in the
    // sf0.001 plan tests;
    // "sequence[-bucketed]" / "sequence-fast[-bucketed]" = a 6-step
    // selective sequence condition via the chained-window plan vs the
    // SequenceMatch Aggregator — the head-to-head that decides which
    // implementation to reach for on long funnels (BENCH.md §Sequence
    // at reference scale).
    // "sequence-stringgid" / "sequence-fast-stringgid" = the same two
    // plans keyed by a derived NON-NUMERIC STRING gid ("u<id>") — the
    // reference's other gid type (r12: the aggregator keys strings
    // natively). Results must equal the long-gid runs exactly
    // (representation invariance at 250M); the wall delta prices string
    // keys in the window sort / aggregation hash map. Plain layout only:
    // the bucketed table is bucketed by the LONG id, so a string-gid query
    // over it gains nothing and the layout label would mislead — which is
    // why the mode whitelist below deliberately contains no token combining
    // "stringgid" and "bucketed" (the whitelist IS the rejection).
    // "skew" = the fr window stack under a degenerate hot group: remap a
    // fraction of all rows (3rd arg, percent, default 10) onto ONE user id
    // and run fr_funnel's 3-step funnel + a C1 count-target condition —
    // Window.partitionBy(gid) necessarily lands the hot group in a single
    // task, and this measures that bound (BENCH.md §SkewScale).
    val mode = if (args.length > 1) args(1) else "plain"
    // Unknown modes fail loudly (r13, the DedupScale flag fix's sibling):
    // a typo like "seqence" previously fell through every startsWith test
    // and silently ran the EMPTY-query probe under the intended label.
    require(Set("plain", "bucketed",
        "funnel", "funnel-bucketed", "funnel-fast", "funnel-fast-bucketed",
        "funnel-agg", "funnel-agg-bucketed",
        "funnel-agg-routed", "funnel-agg-routed-bucketed",
        "sequence", "sequence-bucketed", "sequence-fast",
        "sequence-fast-bucketed", "sequence-routed", "sequence-routed-bucketed",
        "sequence-stringgid", "sequence-fast-stringgid",
        "sequence-routed-stringgid",
        "sequence-agg", "sequence-agg-bucketed",
        "sequence-agg-routed", "sequence-agg-routed-bucketed",
        "sequence-agg-shared", "sequence-agg-shared-bucketed",
        // r16, the byte-gate evidence at scale: the same 6-step
        // sequence-with-aggregations keyed by the derived STRING gid —
        // "-shared-stringgid" runs the ENGINE end-to-end with
        // numGroups+gidMaxBytes set (the byte gate admits the hint),
        // "-routed-stringgid" the engine with no numGroups (the r14
        // per-frame plan) as its unshared baseline.
        "sequence-agg-routed-stringgid", "sequence-agg-shared-stringgid",
        "skew", "skew-bucketed").contains(mode),
      s"unknown mode '$mode' — see the mode list in the scaladoc above")
    val bucketed = mode.endsWith("bucketed")
    val funnelMode = mode.startsWith("funnel")
    // "funnel-fast[-bucketed]": the counts-only candidate-pass funnel
    // (SequenceMatch.funnelCounts) against the window-stack funnel above.
    val funnelFast = mode.startsWith("funnel-fast")
    val seqMode = mode.startsWith("sequence")
    val seqFast = mode.startsWith("sequence-fast")
    // "sequence-routed": the ENGINE end-to-end (QueryEngine.run, default
    // Auto routing) — must track sequence-fast, proving the r13 routing
    // decision reproduces the hand-picked plan's throughput at 250M rows.
    val seqRouted = mode.startsWith("sequence-routed")
    val skewMode = mode.startsWith("skew")
    val df =
      if (!bucketed || skewMode) spark.read.parquet(target)
      else {
        val table = s"throughput_events_x$replicas"
        if (!spark.catalog.tableExists(table))
          sources.GroupedWriter.bucketBy(
            spark.read.parquet(target), "user_id", cpus * 4, table)
        spark.table(table)
      }
    val layout = if (bucketed) "bucketed" else "parquet"
    // The sequence modes' gid: "-stringgid" derives the non-numeric "u<id>".
    val stringGid = mode.endsWith("stringgid")
    val (sdf, gidCol) =
      if (stringGid)
        (df.withColumn("uid_s", concat(lit("u"), col("user_id").cast("string"))), "uid_s")
      else (df, "user_id")

    if (skewMode) {
      val hotPct = if (args.length > 2) args(2).toInt else 10
      // Deterministic per-row draw: hotPct% of ALL rows move to user -1
      // (a "bot" group holding that share of the corpus). hotPct=0 is the
      // unskewed control on the identical remap-bearing plan.
      val draw = pmod(xxhash64(col("user_id"), col("event_id")), lit(100L))
      val skewed =
        if (!bucketed) df.withColumn("user_id",
          when(draw < lit(hotPct.toLong), lit(-1L)).otherwise(col("user_id")))
        else {
          // "skew-bucketed" (r15): the hot group must live IN the layout —
          // a remap projection on top of a bucketed scan discards the very
          // partitioning invariant the bucketed cell measures (Catalyst
          // can no longer trust hash(user_id) after the remap, so every
          // plan re-exchanges). Write the remapped corpus bucketBy(gid)
          // once, keyed by hotPct; the bot's single bucket holds hotPct%
          // of the corpus in one sorted file — the honest physical shape
          // a bot group has in a group-partitioned 100 TB layout.
          val table = s"throughput_events_x${replicas}_hot$hotPct"
          if (!spark.catalog.tableExists(table))
            sources.GroupedWriter.bucketBy(
              df.withColumn("user_id",
                when(draw < lit(hotPct.toLong), lit(-1L)).otherwise(col("user_id"))),
              "user_id", cpus * 4, table)
          spark.table(table)
        }
      // Window plan pinned: these shapes MEASURE the window stack's skew
      // bound (the engine's Auto routing would silently swap in the very
      // fast paths the other shapes measure against).
      val eng = windowEngine
      val shapes: Seq[(String, () => Unit)] = Seq(
        "fr_funnel" -> (() => eng.run(skewed, funnelQ).funnel.get.collect()),
        "fr_count_target" -> (() => eng.run(skewed, GraftQuery(None,
          Seq(Condition.Filters(None,
            Seq(RowFilter("event_type", FilterOp.Eq, Scalar.Str("purchase")),
              RowFilter("value", FilterOp.Gt, Scalar.Num(100))),
            Target.Count(CmpOp.Gte, 3), includeZero = false)), None, Nil, None))
          .summary.collect()),
        // The skew escape hatch for summary-only count targets
        // (fr_count_target_salted's exact plan): salted two-phase
        // aggregate, no per-row window — the hot group spreads over
        // `salts` tasks instead of serializing one.
        "fr_count_target_salted" -> (() => {
          operators.Skew.saltedSumCount(skewed.withColumn("__m",
            when(col("event_type") === lit("purchase") &&
              col("value") > lit(100), 1L).otherwise(0L)), "user_id", "__m")
            .where(col("sum") >= 3)
            .agg(count(lit(1)).as("matching_groups"),
              coalesce(sum(col("count")), lit(0L)).as("matching_group_rows"))
            .collect()
          ()
        }),
        // The engine-surface cap (QueryEngine.capGroupRows) BINDING on
        // the hot group: 100k rows/group leaves every real user intact
        // (they hold ≤ ~100 rows each) but samples the bot down from its
        // 25-75M rows before the window stack sorts it — the funnel shape
        // that pays the full 5.2x serialization above.
        "fr_funnel_capped" -> (() => {
          eng.capGroupRows(100000, "event_id").run(skewed, funnelQ).funnel.get.collect()
          ()
        }),
        // The counts-only funnel twin under the hot group: the window
        // funnel serializes the bot's full share into one task's sort;
        // funnelCounts bounds the bot's single merge to its CANDIDATE
        // rows and counts the rest algebraically.
        "fr_funnel_fast" -> (() => {
          operators.SequenceMatch.funnelCounts(skewed, "user_id", "ts", funnel3).collect()
          ()
        }),
        // r13: the ENGINE's Auto routing end-to-end under the hot group —
        // QueryEngine.run (default engine) must route this aggregation-free
        // funnel to funnelCounts and track fr_funnel_fast's wall, proving
        // the routing decision (not just the hand-picked twin) survives
        // skew at 250M rows.
        "fr_funnel_routed" -> (() => {
          routedEngine().run(skewed, funnelQ).funnel.get.collect()
          ()
        }),
        // r14 head-to-head: the 3-step funnel WITH one step aggregation
        // and one end aggregation — the shape that always paid the window
        // stack before routedFunnel. Wall is funnel counts + 3 step-agg
        // frames + 1 end-agg frame collected in sequence (a real query's
        // full result). Window side pinned...
        "fr_funnel_agg" -> (() => {
          val plan = eng.run(skewed, funnelAggQ)
          plan.funnel.get.collect()
          plan.funnelAggregations.foreach(_._2.collect())
        }),
        // ...vs the ROUTED plan end-to-end (threshold 0): funnelCounts for
        // the counts + per-step survivor joins against the max-step table
        // for each aggregation frame.
        "fr_funnel_agg_routed" -> (() => {
          val plan = routedEngine().run(skewed, funnelAggQ)
          plan.funnel.get.collect()
          plan.funnelAggregations.foreach(_._2.collect())
        }),
        // r14: the ROUTED sequence + 2 aggregations (3 frames sharing the
        // cached matched-gid set) under the hot group — the round's
        // biggest-win shape (5.6x uniform), here measuring how the win
        // holds when the bot's candidate rows reach one merge per pass.
        "fr_sequence_agg_routed" -> (() => {
          val plan = routedEngine(DatasetSpec("user_id", "ts", numGroups = numGroups))
            .run(skewed, GraftQuery(None, Seq(Condition.Sequence(None,
              Seq(step("signup"), step("view"), step("click")), None)), None, seqAggs, None))
          plan.summary.collect()
          plan.aggregations.foreach(_._2.collect())
          ()
        }),
        // The shared-SURVIVOR variant of fr_sequence_agg_routed under the
        // hot group (r15 probe): the bot's 30% of the corpus matches, so
        // the retained survivor table is ~30% of all rows — the worst
        // case for caching the semi-join output instead of re-scanning
        // per frame. This cell decides whether the lever needs a gate.
        "fr_sequence_agg_shared" -> (() =>
          sharedSurvivors(skewed, Seq(step("signup"), step("view"), step("click")))),
        // The aggregator under the hot group: only step-matching rows
        // (~7% here) reach the bot group's single merge, so its sort is
        // bounded by the bot's CANDIDATE rows — the skew story the
        // SequenceMatch scaladoc claims, measured.
        "fr_sequence_aggregator" -> (() => {
          val g = operators.SequenceMatch.matchingGroups(skewed, "user_id", "ts", funnel3)
            .repartition(shuffleParts) // AQE stats boundary — must be round-robin (r13)
          skewed.join(g, Seq("user_id"), "left_semi").agg(
            count_distinct(col("user_id")).as("matching_groups"),
            count(lit(1)).as("matching_group_rows")).collect()
          ()
        }))
      // Optional 4th arg: comma-separated shape filter (dev: rerun one
      // shape without paying for the whole set).
      val want = if (args.length > 3) args(3).split(",").toSet else Set.empty[String]
      val chosen = if (want.isEmpty) shapes else shapes.filter(s => want(s._1))
      val rows = df.count()
      // The routed agg shapes retain a group-sized table the serving
      // surfaces drain per query; `best` drains it outside the timer.
      for ((name, body) <- chosen)
        p.emit(name, best(body())._2, "plan" -> "skew", "hot_pct" -> hotPct,
          "rows" -> rows, "cores" -> cpus, "layout" -> layout)
    } else if (mode.startsWith("sequence-agg")) {
      // r14: the 6-step sequence WITH aggregations — the shape where the
      // routed path's matched-gid set is consumed by THREE separate
      // actions (summary + 2 aggregation frames), each of which would
      // re-run the candidate pass without the Caches.retain sharing.
      // "sequence-agg[-bucketed]" pins the window plan,
      // "sequence-agg-routed[-bucketed]" the routed one (threshold 0).
      val q = GraftQuery(None, Seq(Condition.Sequence(None, steps6, None)), None, seqAggs, None)
      val routed = mode.startsWith("sequence-agg-routed")
      // "sequence-agg-shared[-bucketed]" (r15, probe-first for a candidate
      // engine lever): the routed plan's output frames each re-scan the
      // corpus for their broadcast semi-join — at 1B rows those scans ARE
      // most of the routed wall (BENCH.md §sequence-with-aggregations,
      // 88.5s ≈ 3 × ~25s scans + candidate pass). This variant retains the
      // semi-join OUTPUT (the matching groups' rows, projected to the used
      // columns) once, so the summary and both aggregation frames
      // aggregate the cached survivors instead of re-scanning. Whether
      // that wins depends on survivor volume: tiny matched sets should
      // win big; a hot group holding 30% of the corpus makes the cache
      // write itself the cost — which is why this is a PROBE, not yet an
      // engine behavior (the engine can't know survivor volume at plan
      // time).
      val sharedMode = mode.startsWith("sequence-agg-shared")
      // String-gid dimension (r16): derive "u<id>" and run the ENGINE
      // end-to-end — shared-stringgid passes numGroups + gidMaxBytes so
      // the BYTE gate itself decides the hint (150k groups × ~11B ids ≈
      // 5 MB estimated broadcast, far under the 512 MB budget);
      // routed-stringgid omits numGroups = the unshared r14 baseline.
      val eng =
        if (stringGid && sharedMode)
          routedEngine(DatasetSpec(gidCol, "ts", numGroups = numGroups,
            // "u" + up to 10 digits (ids reach ~1e9 at 1000 replicas)
            gidMaxBytes = Some(11L)))
        else if (stringGid) routedEngine(DatasetSpec(gidCol, "ts"))
        else if (routed) routedEngine(DatasetSpec("user_id", "ts", numGroups = numGroups))
        else windowEngine
      val rows = df.count()
      val (_, stats) = best {
        if (sharedMode && !stringGid) sharedSurvivors(df, steps6)
        else {
          val plan = eng.run(sdf, q)
          plan.summary.collect()
          plan.aggregations.foreach(_._2.collect())
        }
      }
      val planName =
        (if (sharedMode) "sequence6-agg-shared"
         else if (routed) "sequence6-agg-routed" else "sequence6-agg-window") +
          (if (stringGid) "-stringgid" else "")
      p.emit(planName, stats, "rows" -> rows, "cores" -> cpus, "layout" -> layout)
    } else if (seqMode) {
      val rows = df.count()
      val (out, stats) = best {
        if (seqRouted) {
          routedEngine(DatasetSpec(gidCol, "ts"))
            .run(sdf, GraftQuery(None,
              Seq(Condition.Sequence(None, steps6, None)),
              None, Nil, None)).summary.head()
        } else if (seqFast) {
          // fr_sequence_fast's exact summary shape: semi-join back, with
          // the r13 repartition stage boundary on the matched-gid set so
          // AQE broadcasts from runtime stats (without it the static
          // estimate planned a 250M-row sort-merge join — see the
          // FrQueries entry and BENCH.md §Sequence at reference scale).
          val groups = operators.SequenceMatch.matchingGroups(
            sdf, gidCol, "ts", steps6).repartition(shuffleParts)
          sdf.join(groups, Seq(gidCol), "left_semi").agg(
            count_distinct(col(gidCol)).as("matching_groups"),
            count(lit(1)).as("matching_group_rows")).head()
        } else {
          // Window plan pinned — this branch IS the window side of the
          // head-to-head (Auto routing would collapse both branches onto
          // the aggregator).
          new QueryEngine(DatasetSpec(gidCol, "ts")).withWindowPlan
            .run(sdf, GraftQuery(None,
            Seq(Condition.Sequence(None, steps6, None)),
            None, Nil, None)).summary.head()
        }
      }
      val plan = (if (seqRouted) "sequence6-routed"
        else if (seqFast) "sequence6-aggregator"
        else "sequence6-window") +
        (if (stringGid) "-stringgid" else "")
      p.emit(plan, stats, "rows" -> rows, "cores" -> cpus,
        "rows_per_sec_per_core" -> perCore(rows, stats),
        "matching_groups" -> out.getLong(0), "matching_group_rows" -> out.getLong(1),
        "layout" -> layout)
    } else if (!funnelMode) {
      def once() = p.measure {
        df.agg(count_distinct(col("user_id")).as("matching_groups"),
          count(lit(1)).as("matching_group_rows")).collect()(0)
      }
      once() // warm
      val (r, stats) = (1 to 3).map(_ => once()).minBy(_._2.wallTimeMs)
      val rows = r.getLong(1)
      p.emit("empty", stats, "rows" -> rows, "groups" -> r.getLong(0), "cores" -> cpus,
        "rows_per_sec_per_core" -> perCore(rows, stats), "layout" -> layout)
    } else if (mode.startsWith("funnel-agg")) {
      // r14: the funnel WITH one step aggregation and one end aggregation —
      // "funnel-agg[-bucketed]" pins the window plan, "funnel-agg-routed
      // [-bucketed]" runs the engine's routedFunnel (threshold 0). Wall is
      // funnel counts + 3 step-agg frames + 1 end-agg frame collected in
      // sequence (a real query's full result); the skew A/B for this shape
      // lives in the skew mode (fr_funnel_agg[_routed] shapes).
      val routed = mode.startsWith("funnel-agg-routed")
      val eng = if (routed) routedEngine() else windowEngine
      val rows = df.count()
      // Per-request cache lifecycle (ApiServer drains after each query):
      // without `best`'s drain, Spark's plan-matching CacheManager would
      // hand run N+1 the candidate-pass cache run N materialized, and the
      // timed runs would measure a warm cross-request cache no serving
      // path keeps. Drained OUTSIDE the timer, like the server does.
      val (_, stats) = best {
        val plan = eng.run(df, funnelAggQ)
        plan.funnel.get.collect()
        plan.funnelAggregations.foreach(_._2.collect())
      }
      val planName = if (routed) "funnel3-agg-routed" else "funnel3-agg-window"
      p.emit(planName, stats, "rows" -> rows, "cores" -> cpus, "layout" -> layout)
    } else {
      // Window plan pinned for the non-fast branch (the head-to-head's
      // window side; Auto routing would make both branches funnelCounts).
      def funnelDf() =
        if (funnelFast) operators.SequenceMatch.funnelCounts(df, "user_id", "ts", funnel3)
        else windowEngine.run(df, funnelQ).funnel.get
      val rows = df.count()
      val (out, stats) = best(funnelDf().collect().toSeq)
      // Exchange count from the FINAL adaptive plan (the Initial Plan
      // section would double-count) — the bucketed layout must show one
      // fewer exchange (no pre-window shuffle of the 250M rows).
      val fdf = funnelDf()
      fdf.collect()
      val finalPlan = fdf.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val exchanges = "(?m)Exchange".r.findAllIn(finalPlan).size
      val plan = if (funnelFast) "funnel3-fast" else "funnel3"
      p.emit(plan, stats, "rows" -> rows, "cores" -> cpus,
        "rows_per_sec_per_core" -> perCore(rows, stats), "exchanges" -> exchanges,
        "steps" -> out.sortBy(_.getInt(0)).map(r => Seq(r.getInt(0), r.getLong(1), r.getLong(2))),
        "layout" -> layout)
    }
  }
}
