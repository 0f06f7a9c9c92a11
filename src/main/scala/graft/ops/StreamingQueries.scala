package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{StreamingSessions, WindowedRates}

/**
 * Battery-promoted Structured Streaming queries (SURVEY.md §2.9 extension —
 * the reference has no streaming surface): the same event-time operators the
 * unit specs exercise with MemoryStream, here driven end-to-end through a
 * REAL file stream source → availableNow trigger → memory sink, and gated
 * by the DuckDB oracle like every batch operator.
 *
 * Determinism (the driver hashes results): the input is finite, the
 * availableNow trigger processes all of it, and `complete` output mode
 * emits every window/session regardless of watermark progress — so the
 * result equals the batch equivalent row-for-row. Watermark-driven
 * APPEND emission (what an unbounded production stream would use, where
 * only watermark-finalized windows ever emit) is covered by the
 * MemoryStream unit specs instead, because its output on a finite input
 * depends on batch boundaries — the last batch's windows are never
 * finalized — which is exactly the nondeterminism the battery must avoid.
 * Timestamps are emitted as epoch-micros longs (cross-engine rule: no
 * timestamp arithmetic in the compared output).
 */
object StreamingQueries {
  type QFn = (SparkSession, String) => DataFrame

  /** DSIR model fixture for st_dsir, SF-keyed like the LM/DSIR batch
    * fixtures (separate path from pipeline_dsir's so neither clobbers the
    * other between dump and oracle compare). */
  private def dsirStreamFixturePath(dir: String): String =
    s"/tmp/graft_dsir_stream_fixture/${new java.io.File(dir).getName}/model"

  private def dsirStreamOracleGlob: String =
    s"/tmp/graft_dsir_stream_fixture/${sys.props.getOrElse("graft.sfdir.name", "sf0.01")}/model/*.parquet"

  /** LM model fixture for st_lm (separate from tx_lm_score's, same
    * SF-keyed contract). */
  private def lmStreamFixturePath(dir: String): String =
    s"/tmp/graft_lm_stream_fixture/${new java.io.File(dir).getName}/model"

  private def lmStreamOracleGlob: String =
    s"/tmp/graft_lm_stream_fixture/${sys.props.getOrElse("graft.sfdir.name", "sf0.01")}/model/*.parquet"

  /** Run a (bounded) streaming frame to completion into a memory sink and
    * return the sink's contents as a batch frame. Aggregations run in
    * `complete` mode (every window emits regardless of watermark progress);
    * row-emitting operators like dropDuplicates use `append` (they emit
    * each surviving row immediately, so a finite input still yields the
    * complete result — unlike watermark-finalized window APPEND, which
    * never emits the last batch's windows). */
  private def runToBatch(s: SparkSession, stream: DataFrame,
                         sink: String, mode: String = "complete"): DataFrame = {
    s.catalog.dropTempView(sink) // re-runs (bench warmup/timed) re-create it
    val q = stream.writeStream
      .format("memory").queryName(sink)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Dev-only visibility (ProfileJobs cannot see a child session's
    // StreamingQueryManager): per-batch driver duration split.
    if (sys.env.contains("SPARK_GRAFT_STREAM_DEBUG"))
      q.recentProgress.foreach(p =>
        println(s"  [stream $sink batch=${p.batchId} durationMs=${p.durationMs} " +
          s"stateRows=${p.stateOperators.map(_.numRowsTotal).mkString(",")}]"))
    s.table(sink)
  }

  /** Isolated child session for the streaming queries: shared
    * SparkContext/cache/catalog, separate SQLConf with 8 shuffle
    * partitions. State-store cost scales with partition count (each
    * stateful partition opens + commits a store every micro-batch), so
    * partitions are sized to state VOLUME, not core count — measured on
    * the stream-stream join: 32 → 8 partitions, 7.4 s → 3.1 s at sf0.1,
    * identical results. The child session means the parent's
    * shuffle-partition default is never touched — a batch query planned
    * concurrently keeps its own conf. */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    // Env-overridable (r20) so deployments size state partitioning to their
    // state volume without a rebuild; the default stays the measured local
    // value so the driver's bench is comparable across rounds. An 8 → 2
    // probe (r20, ProfileJobs) moved st_attribution's addBatch 1499 → 1433
    // ms — per-partition store overhead is NOT the cost at battery scale,
    // consistent with the r17 8 → 4 probe.
    ss.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "8"))
    // (8 → 4 was probed r17 on top of the no-data change below:
    // 10.1/9.2s vs 8.8/10.1s paired — indistinguishable once the extra
    // batch is gone, so the measured state-volume sizing above stands.)
    // Skip the trailing no-data micro-batch (r17): on a FINITE
    // availableNow run every stateful row otherwise pays one extra full
    // batch — open + commit a state store on every shuffle partition —
    // purely to advance the watermark after the last data batch, and the
    // battery's single-file sources deliver all data in ONE batch, so
    // nothing is left for that batch to seal or flush. Measured paired on
    // the 6-row streaming subset: 12.2/18.1s default → 8.8/10.1s without
    // (state-heavy rows halve: st_attribution 3.2→2.0, st_dedup 1.9→0.9).
    // Battery-only tuning, NOT an operator default: an UNBOUNDED
    // deployment needs no-data batches for watermark-driven sealing,
    // timeouts, and state eviction on idle streams — production sessions
    // keep Spark's default (true), and the MemoryStream unit specs pin the
    // multi-batch disorder semantics under that default. If the driver
    // ever ships multi-part stream inputs (→ multiple data batches), the
    // DuckDB oracle on every st_* row is the tripwire: sealed-state rows
    // would go red here and this conf reverts.
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    ss
  }

  /** File-source stream over the events table: the stream reads with the
    * ON-DISK schema (Tables.loadRaw — a file source must match the files,
    * whether ts is int64 nanos or TIMESTAMP_NTZ), then Tables.tsToNanos
    * restores the engine's epoch-nanos-long contract, and event_ts is its
    * proper event-time timestamp at micros precision. */
  private def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val schema = Tables.loadRaw(s, dir, "events").schema
    // The file stream source requires a DIRECTORY path; pathGlobFilter
    // narrows it to the events table (the SF dir holds all tables).
    Tables.tsToNanos(
      s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
  }

  /** File-source stream over the documents table (eventsStream's on-disk
    * schema and directory-path rules). */
  private def documentsStream(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(Tables.loadRaw(s, dir, "documents").schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)

  val queries: Map[String, QFn] = Map(
    // Event-time hourly rates by event type: readStream → watermark →
    // window → agg, the canonical Structured Streaming shape. State at
    // scale is O(active windows × keys), bounded by the watermark.
    "st_rates" -> ((s, dir) => {
      val ss = streamSession(s)
      val rates = WindowedRates.perWindow(
        eventsStream(ss, dir)
          .withColumn("value_d", col("value").cast("decimal(20,4)")),
        "event_ts", "event_type", "value_d", "1 hour", "10 minutes")
      runToBatch(ss, rates, "st_rates_sink")
        .select(unix_micros(col("window_start")).as("window_us"),
          col("event_type"), col("n_events"),
          col("sum_value").cast("double").as("sum_value"))
    }),

    // Streaming exact dedup over the event stream: first occurrence of each
    // (user, event_type) pair — continuous first-touch dedup backed by
    // dropDuplicatesWithinWatermark state. Determinism: only the KEY set is
    // emitted (which duplicate row survives depends on task scheduling),
    // and the watermark delay (90 d) exceeds the table's event-time span,
    // so state never expires mid-run and the result is exactly the batch
    // DISTINCT — the production-sized watermark (bounded state, horizon-
    // scoped dedup) is covered by the MemoryStream unit spec instead.
    "st_dedup" -> ((s, dir) => {
      val ss = streamSession(s)
      val keyed = eventsStream(ss, dir)
        .withColumn("__payload", concat_ws(":", col("user_id"), col("event_type")))
      val first = graft.streaming.StreamingDedup.firstOccurrences(
        keyed, "event_ts", "__payload", "90 days")
      runToBatch(ss, first, "st_dedup_sink", mode = "append")
        .select(col("user_id"), col("event_type"))
    }),

    // Per-user session_window sessions (30-minute inactivity gap), the
    // streaming counterpart of the batch fr_sessions operator. State per
    // group is only the open session once the watermark passes.
    "st_sessions" -> ((s, dir) => {
      val ss = streamSession(s)
      val sessions = StreamingSessions.sessionCounts(
        eventsStream(ss, dir), "user_id", "event_ts",
        "30 minutes", "10 minutes")
      runToBatch(ss, sessions, "st_sessions_sink")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("session_start_us"),
          unix_micros(col("session_end")).as("session_end_us"),
          col("n_events"))
    }),

    // Streaming funnel (flatMapGroupsWithState): the same value-filtered
    // 3-step chain as the batch fr_funnel, folded incrementally — the
    // DISORDER-EXACT variant, which buffers events in state until the
    // watermark seals them and so matches the batch engine under any
    // cross-batch arrival order (state = O(steps + watermark-horizon
    // events) per group, not stream length). completedSteps only grows
    // across updates, so the max per group IS the final state however
    // availableNow batches the input. step_rows is the batch funnel's
    // group-constant flag summed over ALL rows of completing groups —
    // state carries only the flag, so the final state joins back to
    // static per-group row counts (a broadcast join at scale: one row per
    // group that reached step 1). The oracle is fr_funnel's verbatim —
    // full (step, step_groups, step_rows) parity.
    "st_funnel" -> ((s, dir) => {
      val ss = streamSession(s)
      val v = col("value").cast("decimal(20,4)")
      val prog = graft.streaming.StreamingFunnel.progressExact(
        eventsStream(ss, dir), "user_id", "ts", "event_ts", "90 days", Seq(
          col("event_type") === "view" && v > 100,
          col("event_type") === "click" && v > 100,
          col("event_type") === "purchase" && v > 100),
        // ts is epoch nanos, event_ts its µs truncation: a non-late event
        // at watermark W ms satisfies (ts div 1000) >= W*1000 ⟺ ts >= W*1e6.
        watermarkToTs = ms => ms * 1000000L)
      val fin = runToBatch(ss, prog.toDF(), "st_funnel_sink", mode = "update")
        .groupBy(col("groupId"))
        .agg(max(col("completedSteps")).as("completed"))
      val perUser = Tables.events(ss, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"))
      fin.join(perUser, col("groupId") === col("user_id"))
        .agg(
          sum(when(col("completed") >= 1, 1L).otherwise(0L)).as("s0"),
          sum(when(col("completed") >= 2, 1L).otherwise(0L)).as("s1"),
          sum(when(col("completed") >= 3, 1L).otherwise(0L)).as("s2"),
          sum(when(col("completed") >= 1, col("n_rows")).otherwise(0L)).as("r0"),
          sum(when(col("completed") >= 2, col("n_rows")).otherwise(0L)).as("r1"),
          sum(when(col("completed") >= 3, col("n_rows")).otherwise(0L)).as("r2"))
        .select(expr("stack(3, " +
          "0, coalesce(s0, CAST(0 AS BIGINT)), coalesce(r0, CAST(0 AS BIGINT)), " +
          "1, coalesce(s1, CAST(0 AS BIGINT)), coalesce(r1, CAST(0 AS BIGINT)), " +
          "2, coalesce(s2, CAST(0 AS BIGINT)), coalesce(r2, CAST(0 AS BIGINT))) " +
          "AS (step, step_groups, step_rows)"))
    }),

    // Stream-static as-of enrichment (StreamingAsOf.backward): streaming
    // error events pick up the latest prior-or-equal static click — the
    // interval reformulation keeps the join STATELESS (no watermark, no
    // state store). Oracle = q_asof's window SQL verbatim: the streaming
    // plan must agree with the batch AsOfJoin result row-for-row.
    "st_asof" -> ((s, dir) => {
      val ss = streamSession(s)
      val errors = eventsStream(ss, dir)
        .where(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), expr("ts div 1000").as("tl"))
      val clicks = Tables.events(ss, dir)
        .where(col("event_type") === "click")
        .select(col("user_id"), expr("ts div 1000").as("rtl"),
          col("event_id").as("click_eid"))
      val enriched = graft.streaming.StreamingAsOf.backward(
        errors, clicks, Seq("user_id"), "tl", "rtl",
        rightVals = Seq("rtl"), tieBreak = Seq("click_eid"), prefix = "click_")
      // The summary aggregates the SINK, not the stream (r20, the
      // st_attribution pattern): the measured operator — the STATELESS
      // stream-static interval join — emits every enriched row immediately,
      // so append mode is exact on a finite input, and the per-user rollup
      // runs once as a plain batch aggregate. Aggregating INSIDE the stream
      // forced complete mode: a stateful agg exchange + a state store
      // opened/committed on every shuffle partition every batch, purely to
      // compact output the sink can compact after the fact. Same rows, same
      // oracle; the micro-batch plan loses its only stateful operator.
      runToBatch(ss, enriched.select(col("user_id"), col("tl"), col("click_rtl")),
        "st_asof_sink", mode = "append")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_errors"),
          count(col("click_rtl")).as("n_matched"),
          coalesce(max(col("tl") - col("click_rtl")), lit(-1L)).as("max_gap_us"))
    }),

    // Stream-stream interval join (StreamIntervalJoin): purchases stream ⋈
    // clicks stream, click within the 24h after its purchase, per-user —
    // in-flight attribution with watermark-bounded two-sided state. The
    // raw matches emit in append mode (exact on a finite input); the
    // attribution summary aggregates the SINK, as a batch frame. Oracle =
    // q_range_join's SQL verbatim: the streaming plan must agree with the
    // batch coarse-bucket range join row-for-row.
    "st_attribution" -> ((s, dir) => {
      // State partitioning is the stream-stream join's cost knob: each
      // shuffle partition carries TWO state stores, opened + committed
      // every micro-batch, so partition count is sized to state VOLUME,
      // not core count (measured 32 → 8 partitions: 7.4 s → 3.1 s at
      // sf0.1, identical results). The streaming query runs on an
      // ISOLATED child session (shared SparkContext, cache and catalog;
      // separate SQLConf) so the parent session's shuffle-partition
      // default is never touched — a batch query planned concurrently in
      // the parent keeps its own conf.
      val ss = streamSession(s)
      // ONE readStream source feeding both join sides (r20): the former
      // two eventsStream() calls created two FileStreamSources over the
      // same file — two directory listings, two offset-log entries and two
      // source initializations per micro-batch, for byte-identical input.
      // MicroBatchExecution dedups a SHARED streaming relation, so deriving
      // both branches from one frame halves the source machinery; the
      // stream-stream self-join semantics (and the oracle) are unchanged.
      val ev = eventsStream(ss, dir)
      val purchases = ev
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("event_ts").as("p_ts"))
      val clicks = ev
        .where(col("event_type") === "click")
        .select(col("user_id"), col("event_ts").as("click_ts"))
      val matches = graft.streaming.StreamIntervalJoin.join(
        purchases, clicks, Seq("user_id"), "p_ts", "click_ts",
        window = "24 hours", watermark = "90 days")
      runToBatch(ss, matches, "st_attr_sink", mode = "append")
        .groupBy(col("user_id"), col("p_id")).agg(count(lit(1)).as("nc"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_purchases_hit"),
          sum(col("nc")).as("n_attributed"),
          max(col("nc")).as("max_clicks"))
    }),

    // Windowed heavy hitters with BOUNDED state (Space-Saving per hourly
    // window, hash-bucketed so a hot window spreads over 4 state groups):
    // top-3 event types per hour. The per-bucket summary capacity (32)
    // exceeds the key cardinality here, so every count is exact and
    // monotone across updates — max(count) per (window, key) over the
    // update stream is the batch groupBy count verbatim, and the DuckDB
    // rank oracle pins the whole path. The m-bounded approximate regime
    // (eviction + error tracking) is covered by StreamFuzzSpec's
    // guarantee assertions instead.
    // Windowed approximate distinct users (hourly uniques): streaming
    // groupBy(window).approx_count_distinct — HLL++ sketch per window, so
    // state is O(active windows × sketch size) instead of O(windows ×
    // distinct keys): the bounded-state form of the classic uniques
    // metric. HLL is hash-based and merge-commutative, hence
    // deterministic under any batching; the gate compares every window
    // against the batch EXACT distinct — |approx − exact| within
    // max(3, 5%·exact) (rsd 2%; the absolute floor covers the 4-6-user
    // tail windows where one HLL count of slack is a 25% relative error)
    // — the fr_agg_groups_approx pattern, so sketch noise can't flip the
    // oracle while a real regression (wrong window, dropped rows, a
    // whole window missing on either side) fails it.
    "st_distinct" -> ((s, dir) => {
      val ss = streamSession(s)
      val approx = eventsStream(ss, dir)
        .withWatermark("event_ts", "90 days")
        .groupBy(window(col("event_ts"), "1 hour"))
        .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("n_approx"))
      val sunk = runToBatch(ss, approx, "st_distinct_sink")
        .select(unix_micros(col("window.start")).as("window_us"), col("n_approx"))
      val exact = Tables.events(ss, dir)
        .groupBy(expr("(ts div 1000 div 3600000000) * 3600000000").as("window_us"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      sunk.join(exact, Seq("window_us"), "full")
        .select(
          abs(coalesce(col("n_approx"), lit(0L)) -
            coalesce(col("n_exact"), lit(0L))).cast("double").as("dev"),
          greatest(lit(3.0),
            lit(0.05) * coalesce(col("n_exact"), lit(0L)).cast("double")).as("allow"))
        .agg(max(col("dev") - col("allow")).as("worst"))
        .select(when(col("worst") <= 0.0, lit(1L)).otherwise(lit(0L)).as("passed"))
    }),

    // Streaming DSIR scoring — the serving deployment: train the hashed
    // n-gram model ONCE on the static corpus (same params as
    // pipeline_dsir), and score each arriving document with Dsir.score —
    // the native row-local dsir_row_score fold, which holds the 256-bucket
    // model inside the expression: no explode/join/shuffle/state, so it
    // is trivially batching-invariant. The oracle is the batch scoring
    // SQL minus the top-k cut, so green certifies that streamed scores
    // equal the batch integers.
    "st_dsir" -> ((s, dir) => {
      val ss = streamSession(s)
      val d = Tables.documents(ss, dir)
      val fix = dsirStreamFixturePath(dir)
      graft.operators.Dsir.trainLogRatios(
        d.where(col("doc_id") % 5 === 0), d, "doc_id", "text", 256, "dsir")
        .coalesce(1).write.mode("overwrite").parquet(fix)
      runToBatch(ss, graft.operators.Dsir.score(documentsStream(ss, dir),
        ss.read.parquet(fix), "doc_id", "text", 256, "dsir"),
        "st_dsir_sink", mode = "append")
    }),

    // Streaming LM quality scoring — the CCNet-style perplexity filter in
    // a stream: the trigram model trains once on the static reference
    // slice, and LmScore.score scores every arriving document row-locally
    // (the native lm_row_score fold over the dense 27^3 table: one
    // codegen'd call, O(1) lookups, zero shuffle/state — trivially
    // batching-invariant). Gated on the batch scoring SQL over this
    // fixture, so green certifies that streamed scores equal the batch
    // integers.
    "st_lm" -> ((s, dir) => {
      val ss = streamSession(s)
      val d = Tables.documents(ss, dir)
      val fix = lmStreamFixturePath(dir)
      graft.operators.LmScore.trainModel(
        d.where(col("doc_id") % 10 === 0), "doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(fix)
      runToBatch(ss, graft.operators.LmScore.score(documentsStream(ss, dir),
        ss.read.parquet(fix), "doc_id", "text"), "st_lm_sink", mode = "append")
    }),

    // Serve-only twins of st_dsir / st_lm: the contract rows above bundle
    // train + fixture write + stream serve in one timed number; these time
    // ONLY the streaming serve against the already-materialized fixture
    // (building it on first touch in the untimed warmup, so restricted
    // `graft.Bench <name>` runs stay self-contained). Same oracles as the
    // twins — identical fixtures, identical scoring.
    "st_dsir_serve" -> ((s, dir) => {
      val ss = streamSession(s)
      val fix = dsirStreamFixturePath(dir)
      if (!new java.io.File(fix, "_SUCCESS").exists()) {
        val d = Tables.documents(ss, dir)
        graft.operators.Dsir.trainLogRatios(
          d.where(col("doc_id") % 5 === 0), d, "doc_id", "text", 256, "dsir")
          .coalesce(1).write.mode("overwrite").parquet(fix)
      }
      runToBatch(ss, graft.operators.Dsir.score(documentsStream(ss, dir),
        ss.read.parquet(fix), "doc_id", "text", 256, "dsir"),
        "st_dsir_serve_sink", mode = "append")
    }),

    "st_lm_serve" -> ((s, dir) => {
      val ss = streamSession(s)
      val fix = lmStreamFixturePath(dir)
      if (!new java.io.File(fix, "_SUCCESS").exists())
        graft.operators.LmScore.trainModel(
          Tables.documents(ss, dir).where(col("doc_id") % 10 === 0),
          "doc_id", "text")
          .coalesce(1).write.mode("overwrite").parquet(fix)
      runToBatch(ss, graft.operators.LmScore.score(documentsStream(ss, dir),
        ss.read.parquet(fix), "doc_id", "text"), "st_lm_serve_sink", mode = "append")
    }),

    // Streaming span decontamination — scrub documents IN FLIGHT: the
    // eval slice's distinct 13-token window hashes collect once
    // (driver-bounded, full 128-bit md5 — membership bit-identical to the
    // batch equi-join), ship to the stream, and the native scrub_row_spans
    // expression rebuilds each arriving document row-locally. Zero
    // shuffle, zero state; gated on tx_scrub_spans' oracle verbatim, so
    // green certifies the native scrubber equals the batch
    // explode+semi-join+rebuild pipeline byte-for-byte.
    "st_scrub" -> ((s, dir) => {
      val ss = streamSession(s)
      val d = Tables.documents(ss, dir)
      val hashes = graft.functions.ScrubFunctions.evalWindowHashes(
        d.where(col("doc_id") < 20), "text", n = 13)
      val stream = documentsStream(ss, dir).where(col("doc_id") >= 20)
      graft.functions.ScrubFunctions.withScrub(ss, hashes, 13, col("text")) { sc =>
        val scrubbed = stream.select(col("doc_id"), sc.as("s"))
          .where(col("s").isNotNull) // null-text docs: scrubSpans omits them
          .select(col("doc_id"), col("s.n_tokens").as("n_tokens"),
            col("s.n_removed").as("n_removed"),
            col("s.clean_text").as("clean_text"))
        runToBatch(ss, scrubbed, "st_scrub_sink", mode = "append")
      }
    }),

    "st_topk" -> ((s, dir) => {
      val ss = streamSession(s)
      val hh = graft.streaming.StreamingTopK.heavyHitters(
        eventsStream(ss, dir), "event_ts", "event_type", "1 hour", "90 days",
        m = 32, buckets = 4)
      val counts = runToBatch(ss, hh.toDF(), "st_topk_sink", mode = "update")
        .groupBy(col("windowUs"), col("key"))
        .agg(max(col("count")).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("windowUs")).orderBy(col("cnt").desc, col("key"))
      counts.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("windowUs").as("window_us"), col("key").as("event_type"),
          col("cnt"), col("rk"))
    }))

  /** DuckDB equivalents over the same parquet (batch semantics — complete
    * mode over a finite stream must agree exactly). Session islands break
    * where the gap to the previous event is >= 30 min, mirroring
    * session_window's half-open [ts, ts+gap) merge rule; session_end =
    * last event + gap. */
  // def, not val: st_dsir's SQL embeds the SF-keyed model fixture path,
  // resolved from the property Verify sets before dumping oracle_sql.json
  // (same contract as PipelineQueries.oracleSql).
  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // Serve-only rows read the exact fixtures their contract twins wrote,
    // so the twins' oracles apply verbatim.
    base ++ Map(
      "st_dsir_serve" -> base("st_dsir"),
      "st_lm_serve" -> base("st_lm"))
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "st_dsir" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |uni AS (SELECT doc_id, unnest(ts) AS gram FROM t),
         |bi AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS gram
         |       FROM t, generate_series(1, 4000) s(i) WHERE i <= len(ts) - 1),
         |g AS (SELECT doc_id,
         |        ('0x' || substr(md5('dsir:' || gram), 1, 8))::BIGINT % 256 AS bucket
         |      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
         |m AS (SELECT bucket, lr_micro FROM read_parquet('${dsirStreamOracleGlob}'))
         |SELECT g.doc_id, count(*) AS n_grams,
         |       CAST(sum(m.lr_micro) AS BIGINT) AS logw_micro
         |FROM g JOIN m USING (bucket) GROUP BY g.doc_id""".stripMargin,

    "st_lm" ->
      s"""WITH t AS (SELECT doc_id,
         |    trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')),
         |                        ' +', ' ', 'g')) AS nt FROM documents),
         |g AS (SELECT doc_id, nt[i : i+2] AS tri
         |      FROM t, generate_series(1, 800) s(i)
         |      WHERE i <= len(nt) - 2),
         |m AS (SELECT tri, score_micro
         |      FROM read_parquet('${lmStreamOracleGlob}') WHERE tri <> '__OOV__'),
         |o AS (SELECT score_micro AS oov
         |      FROM read_parquet('${lmStreamOracleGlob}') WHERE tri = '__OOV__')
         |SELECT g.doc_id, count(*) AS n_tri,
         |       CAST(sum(coalesce(m.score_micro, o.oov)) AS DOUBLE) / count(*)
         |         AS avg_logp_micro
         |FROM g LEFT JOIN m USING (tri), o
         |GROUP BY g.doc_id""".stripMargin,

    "st_scrub" -> PipelineQueries.oracleSql("tx_scrub_spans"),

    "st_rates" ->
      """SELECT (epoch_ns(ts) // 1000 // 3600000000) * 3600000000 AS window_us,
        |       event_type,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    "st_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "st_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS us FROM events
        |), m AS (
        |  SELECT user_id, us,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
        |              >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e
        |), g AS (
        |  SELECT user_id, us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY us
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m
        |)
        |SELECT user_id,
        |       min(us) AS session_start_us,
        |       max(us) + 1800000000 AS session_end_us,
        |       count(*) AS n_events
        |FROM g
        |GROUP BY user_id, sid""".stripMargin,

    // fr_funnel's oracle verbatim — streaming state + the static row-count
    // join must land on the batch funnel's full (step, step_groups,
    // step_rows) output.
    "st_funnel" -> FrQueries.oracleSql("fr_funnel"),

    // q_asof's window SQL verbatim — the stream-static interval plan must
    // agree with the batch union-window as-of row-for-row.
    "st_asof" -> RelationalQueries.oracleSql("q_asof"),

    // q_range_join's SQL verbatim — the stream-stream interval join must
    // agree with the batch range join row-for-row.
    "st_attribution" -> RelationalQueries.oracleSql("q_range_join"),

    // Oracle-gated quality row (the fr_agg_groups_approx pattern): the
    // compared output is the single gate bit.
    "st_distinct" -> "SELECT CAST(1 AS BIGINT) AS passed",

    // Batch per-window counts + rank: in the exact regime the Space-Saving
    // summaries must reproduce this verbatim.
    "st_topk" ->
      """WITH c AS (
        |  SELECT (epoch_ns(ts) // 1000 // 3600000000) * 3600000000 AS window_us,
        |         event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY window_us
        |                               ORDER BY cnt DESC, event_type) AS rk
        |  FROM c
        |)
        |SELECT window_us, event_type, cnt, rk FROM r WHERE rk <= 3""".stripMargin)
}
