package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{DatasetSpec, QueryEngine}
import graft.query.QueryAst._
import graft.query.QueryParser

/**
 * Driver-contract queries exercising the funnel-rocket query surface
 * (SURVEY.md §2.2-2.5) on the `events` table (group id = user_id, timestamp =
 * ts as epoch-nanos long), each paired with an equivalent DuckDB oracle SQL.
 *
 * Numeric determinism: the `value` measure column is pre-cast to
 * DECIMAL(20,4) before group sums, so partial aggregation is exact and
 * order-independent in both engines; final results cast to double are then
 * bit-identical (see QueryEngine SumPerValue/MeanPerValue notes).
 */
object FrQueries {

  type QFn = (SparkSession, String) => DataFrame

  private val spec   = DatasetSpec("user_id", "ts")
  /** Window plan pinned: the fr_* rows keep the GENERAL plan under battery
    * coverage; the engine's default fast-path routing (r13) is pinned by
    * the `*_routed` twins below, sharing the same oracles. */
  private val engine = new QueryEngine(spec).withWindowPlan
  /** Auto-routing engine with the size gate disabled: the battery SFs are
    * far below the measured 32 MB crossover (where the default engine
    * would — correctly — keep the window plan), and these rows exist to
    * pin the ROUTED plan's semantics (QueryEngine class doc §"Fast-path
    * routing"). */
  private val routedEngine = new QueryEngine(spec).withRoutingThreshold(0)
  /** The routed engine over the derived string gid `uid_s`. */
  private val stringGidRouted =
    new QueryEngine(DatasetSpec("uid_s", "ts")).withRoutingThreshold(0)
  /** For day-partitioned fixtures: declares dt as ts's day partition. */
  private val prunedEngine =
    new QueryEngine(spec.copy(dayPartitionColumn = Some("dt")))

  /** events with the measure column cast for exact distributed sums. */
  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("value", col("value").cast("decimal(20,4)"))

  /** events with a non-numeric string group id `uid_s` = "u<user_id>". */
  private def evStringGid(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).withColumn("uid_s", concat(lit("u"), col("user_id").cast("string")))

  private def filters(fs: RowFilter*): Seq[RowFilter] = fs

  private def eq(c: String, v: String)  = RowFilter(c, FilterOp.Eq, Scalar.Str(v))
  private def gt(c: String, v: Int)     = RowFilter(c, FilterOp.Gt, Scalar.Num(v))

  /** Value-filtered funnel steps (value > 100 per step) — thresholds probed
    * to discriminate at every SF (not saturate at 100% of groups). */
  private def valueSteps: Seq[SequenceStep] = Seq(
    SequenceStep(filters(eq("event_type", "view"), gt("value", 100))),
    SequenceStep(filters(eq("event_type", "click"), gt("value", 100))),
    SequenceStep(filters(eq("event_type", "purchase"), gt("value", 100))))
  private def cond(fs: Seq[RowFilter], t: Target, includeZero: Boolean = false) =
    Condition.Filters(None, fs, t, includeZero)

  /** Oracle prelude: events with ts as epoch-nanos long, mirroring Spark's view. */
  private val E = "SELECT user_id, event_type, epoch_ns(ts) AS tl, CAST(value AS DECIMAL(20,4)) AS value FROM events"

  /** Oracle coda: summary over all rows of groups in CTE `m(user_id)`. */
  private val SUMMARY =
    """SELECT count(DISTINCT e.user_id) AS matching_groups, count(*) AS matching_group_rows
      |FROM events e JOIN m ON e.user_id = m.user_id""".stripMargin

  private val sequenceQ =
    GraftQuery(None, Seq(Condition.Sequence(None, valueSteps, None)), None, Nil, None)
  private val seqMaxDurationQ = GraftQuery(None,
    Seq(Condition.Sequence(None, Seq(
      SequenceStep(filters(eq("event_type", "view"))),
      SequenceStep(filters(eq("event_type", "click"))),
      SequenceStep(filters(eq("event_type", "purchase")))),
      maxDuration = Some(86400000000000L))), // 1 day in nanos
    None, Nil, None)
  private val seqNegatedQ = GraftQuery(None,
    Seq(Condition.Sequence(None, Seq(
      SequenceStep(filters(eq("event_type", "view"))),
      SequenceStep(filters(eq("event_type", "error"), gt("value", 150)), rowFound = false),
      SequenceStep(filters(eq("event_type", "purchase")))), None)),
    None, Nil, None)
  private val funnelQ =
    GraftQuery(None, Nil, None, Nil, Some(Funnel(valueSteps, None, Nil, Nil)))
  private val conditionedFunnelQ = GraftQuery(None,
    Seq(cond(filters(eq("event_type", "purchase")), Target.Count(CmpOp.Gte, 14))),
    None, Nil, Some(Funnel(valueSteps, None, Nil, Nil)))

  /** The routed twins' rows: each serves two battery names. */
  private val sequenceRouted: QFn = (s, dir) =>
    routedEngine.run(ev(s, dir), sequenceQ).summary
  private val funnelRouted: QFn = (s, dir) =>
    routedEngine.run(ev(s, dir), funnelQ).funnel.get
  private val funnelConditionedRouted: QFn = (s, dir) =>
    routedEngine.run(ev(s, dir), conditionedFunnelQ).funnel.get

  // -------------------------------------------------------------- queries

  val queries: Map[String, QFn] = Map(
    "fr_empty" -> ((s, dir) => engine.run(ev(s, dir), GraftQuery.empty).summary),

    "fr_count_target" -> ((s, dir) => engine.run(ev(s, dir), GraftQuery(None,
      Seq(cond(filters(eq("event_type", "purchase")), Target.Count(CmpOp.Gte, 15))),
      None, Nil, None)).summary),

    // Skew-safe twin of fr_count_target for SUMMARY-ONLY callers: the
    // per-group match count and row count come from ONE salted two-phase
    // aggregate (operators.Skew.saltedSumCount) — no per-row window, so a
    // bot group holding 30% of the corpus spreads over `salts` tasks
    // instead of serializing one (the measured 5.2x window bound,
    // BENCH.md §SkewScale "fr window stack"). Shares fr_count_target's
    // oracle: identical semantics, different physical plan.
    "fr_count_target_salted" -> ((s, dir) => {
      val e = ev(s, dir).withColumn("__m",
        when(col("event_type") === "purchase", 1L).otherwise(0L))
      graft.operators.Skew.saltedSumCount(e, "user_id", "__m")
        .where(col("sum") >= 15)
        .agg(count(lit(1)).as("matching_groups"),
          coalesce(sum(col("count")), lit(0L)).as("matching_group_rows"))
    }),

    // The engine-surface hot-group cap (QueryEngine.capGroupRows) with
    // the cap NOT binding: 1M rows/group is far above any group in the
    // corpus, so capPerKeyApprox's keep rule (count <= n keeps all rows
    // EXACTLY) makes this bit-identical to fr_count_target — proving the
    // hook is semantics-free until a group actually exceeds the cap. The
    // binding case is measured at 250M rows in BENCH.md §SkewScale.
    "fr_count_target_capped" -> ((s, dir) =>
      engine.capGroupRows(1000000, "event_id").run(ev(s, dir), GraftQuery(None,
        Seq(cond(filters(eq("event_type", "purchase")), Target.Count(CmpOp.Gte, 15))),
        None, Nil, None)).summary),

    "fr_count_eq_zero" -> ((s, dir) => engine.run(ev(s, dir), GraftQuery(None,
      Seq(cond(filters(eq("event_type", "error"), gt("value", 150)), Target.Count(CmpOp.Eq, 0), includeZero = true)),
      None, Nil, None)).summary),

    "fr_sum_target" -> ((s, dir) => engine.run(ev(s, dir), GraftQuery(None,
      Seq(cond(filters(eq("event_type", "purchase")), Target.Sum("value", CmpOp.Gte, BigDecimal(500)))),
      None, Nil, None)).summary),

    "fr_multi_filter" -> ((s, dir) => engine.run(ev(s, dir), GraftQuery(None,
      Seq(cond(
        filters(eq("event_type", "purchase"), RowFilter("value", FilterOp.Gt, Scalar.Num(100))),
        Target.Count(CmpOp.Gte, 1))),
      None, Nil, None)).summary),

    // Every row-filter operator (P2-P5) compiled by the engine, as one row of counts.
    "fr_ops_battery" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val fs: Seq[(String, RowFilter)] = Seq(
        "c_eq"        -> RowFilter("lang", FilterOp.Eq, Scalar.Str("en")),
        "c_neq"       -> RowFilter("lang", FilterOp.Neq, Scalar.Str("en")),
        "c_gt"        -> RowFilter("n_chars", FilterOp.Gt, Scalar.Num(200)),
        "c_gte"       -> RowFilter("n_chars", FilterOp.Gte, Scalar.Num(200)),
        "c_lt"        -> RowFilter("n_chars", FilterOp.Lt, Scalar.Num(100)),
        "c_lte"       -> RowFilter("n_chars", FilterOp.Lte, Scalar.Num(100)),
        "c_contains"  -> RowFilter("text", FilterOp.Contains, Scalar.Str("spark table")),
        "c_ncontains" -> RowFilter("text", FilterOp.NotContains, Scalar.Str("spark table")),
        "c_regex"     -> RowFilter("text", FilterOp.Regex, Scalar.Str("scan [a-z]+ slow")))
      val aggs = fs.map { case (n, f) =>
        sum(when(engine.compileFilter(f), 1L).otherwise(0L)).as(n)
      }
      docs.agg(aggs.head, aggs.tail: _*)
    }),

    "fr_relation" -> ((s, dir) => engine.run(ev(s, dir), GraftQuery(None,
      Seq(
        cond(filters(eq("event_type", "purchase")), Target.Count(CmpOp.Gte, 15)),
        cond(filters(eq("event_type", "click")), Target.Count(CmpOp.Gte, 15)),
        cond(filters(eq("event_type", "error"), gt("value", 150)), Target.Count(CmpOp.Eq, 0), includeZero = true)),
      Some(Relation.Or(Relation.And(Relation.Ref(0), Relation.Ref(1)), Relation.Ref(2))),
      Nil, None)).summary),

    // Relation mixing a sequence condition with a filter condition (C8
    // across condition kinds).
    "fr_mixed_relation" -> ((s, dir) => engine.run(ev(s, dir), GraftQuery(None,
      Seq(
        Condition.Sequence(None, Seq(
          SequenceStep(filters(eq("event_type", "view"))),
          SequenceStep(filters(eq("event_type", "click")))),
          maxDuration = Some(3600000000000L)), // click within 1h of first view
        cond(filters(eq("event_type", "purchase")), Target.Count(CmpOp.Gte, 14))),
      Some(Relation.Or(Relation.Ref(0), Relation.Ref(1))),
      Nil, None)).summary),

    "fr_timeframe" -> ((s, dir) => engine.run(ev(s, dir), GraftQuery(
      Some(Timeframe(Some(1705000000000000000L), Some(1706000000000000000L))),
      Seq(cond(filters(eq("event_type", "purchase")), Target.Count(CmpOp.Gte, 1))),
      None, Nil, None)).summary),

    // Same timeframe query over a day-partitioned (dt=DATE) copy of events:
    // the spec DECLARES dt as the day-partition column, so the engine
    // derives dt partition bounds from the timeframe and whole day
    // directories are pruned at planning time (the 100 TB layout path,
    // plan-pinned in LibrarySpec). The fixture is keyed by SF-dir name —
    // the side-effect-fixture rule q_csv_ingest established.
    "fr_timeframe_pruned" -> ((s, dir) => {
      // Fixture keyed by SF-dir name AND the source file's size+mtime, so
      // it is written once per distinct input (steady-state layout, like a
      // real day-partitioned deployment) yet can never go stale if the
      // driver regenerates testdata under the same path.
      val src = new java.io.File(dir, "events.parquet")
      val fixture = s"/tmp/graft_dtpart_fixture/${new java.io.File(dir).getName}" +
        s"_${src.length}_${src.lastModified}/events"
      if (!new java.io.File(fixture, "_SUCCESS").exists())
        graft.sources.GroupedWriter.partitionByDay(
          ev(s, dir), "ts", "user_id", nParts = 4, fixture)
      prunedEngine.runValidated(
        s.read.parquet(fixture)
          .withColumn("value", col("value").cast("decimal(20,4)")),
        GraftQuery(
          Some(Timeframe(Some(1705000000000000000L), Some(1706000000000000000L))),
          Seq(cond(filters(eq("event_type", "purchase")), Target.Count(CmpOp.Gte, 1))),
          None, Nil, None)).summary
    }),

    "fr_sequence" -> ((s, dir) => engine.run(ev(s, dir), sequenceQ).summary),

    // The same query through the DEFAULT engine: Auto routing resolves the
    // sequence via SequenceMatch + semi-join inside run() — the r13
    // planner-level routing, pinned at battery level against fr_sequence's
    // oracle (LibrarySpec pins WHICH plan fires; this pins that the routed
    // plan is semantically the window plan). fr_sequence_fast, the
    // single-pass Aggregator's row, runs the very same function: every
    // SequenceMatch plan is built by the engine.
    "fr_sequence_routed" -> sequenceRouted,
    "fr_sequence_fast" -> sequenceRouted,

    // The reference's gid contract includes STRING group ids
    // (registration_task_runner.py:85-92); until r12 no battery row
    // proved either plan handles them. Window plan over non-numeric
    // "u<id>" gids — a surviving lossy long cast anywhere would null
    // every gid and collapse the counts. Counts are gid-representation-
    // invariant, so this shares fr_sequence's oracle verbatim.
    "fr_sequence_stringgid" -> ((s, dir) =>
      new QueryEngine(DatasetSpec("uid_s", "ts")).withWindowPlan
        .run(evStringGid(s, dir), sequenceQ).summary),

    // The routed plan on the same string gids (r12: native string
    // keying — previously a silent long-cast hazard, now either keyed
    // natively or rejected loudly). Shares fr_sequence's oracle.
    "fr_sequence_fast_stringgid" -> ((s, dir) =>
      stringGidRouted.run(evStringGid(s, dir), sequenceQ).summary),

    // Float timestamps (the reference allows float epoch ts; SURVEY
    // §1.2): the window plan compares ts natively with no cast. ts as
    // DOUBLE milliseconds — exact below 2^53, and the millisecond
    // truncation creates the identical tie structure in both engines,
    // so the strict-after chain is deterministic. Own oracle (the tie
    // structure differs from fr_sequence's nanos). FLOOR division to
    // match the oracle's `//` for any sign (`div` truncates toward
    // zero; event ts are epoch-positive so both agree today, but the
    // floor form removes the latent negative-ts mismatch): ts minus its
    // non-negative pmod remainder is an exact multiple, so the `div` is
    // exact — all on longs, never through double (nanos exceed 2^53).
    // Deliberately on an Auto-routing engine with the SIZE gate disabled
    // (r14): under the default 32 MB threshold, battery-SF file inputs
    // short-circuit at bigEnough before the TYPE gate is ever consulted —
    // threshold 0 makes bigEnough pass, so this row genuinely exercises
    // the type-gate fallback at every SF: the double ts must re-plan the
    // window stack instead of truncating under SequenceMatch's long
    // buffers (LibrarySpec pins the same edge on an in-memory frame).
    "fr_sequence_floatts" -> ((s, dir) => {
      val e = ev(s, dir)
        .withColumn("ts_f",
          expr("(ts - pmod(ts, 1000000)) div 1000000").cast("double"))
      new QueryEngine(DatasetSpec("user_id", "ts_f")).withRoutingThreshold(0)
        .run(e, sequenceQ).summary
    }),

    "fr_seq_maxduration" -> ((s, dir) => engine.run(ev(s, dir), seqMaxDurationQ).summary),

    // The routed plan under maxDuration (SequenceMatch resolves the
    // duration bound at finish time). Shares fr_seq_maxduration's oracle.
    "fr_seq_maxduration_fast" -> ((s, dir) =>
      routedEngine.run(ev(s, dir), seqMaxDurationQ).summary),

    "fr_seq_negated" -> ((s, dir) => engine.run(ev(s, dir), seqNegatedQ).summary),

    // The routed plan with a negated step (r11: one scalar max per
    // negated step — rows matching it are evidence, never array entries).
    // Shares fr_seq_negated's oracle.
    "fr_seq_negated_fast" -> ((s, dir) =>
      routedEngine.run(ev(s, dir), seqNegatedQ).summary),

    "fr_funnel" -> ((s, dir) => engine.run(ev(s, dir), funnelQ).funnel.get),

    // The same funnel through the DEFAULT engine: Auto routing picks the
    // counts-only candidate-pass funnel (SequenceMatch.funnelCounts) for
    // an aggregation-free funnel inside run() (r13) — no per-group sort
    // of the corpus. fr_funnel_fast runs the same function. Both share
    // fr_funnel's oracle verbatim.
    "fr_funnel_routed" -> funnelRouted,
    "fr_funnel_fast" -> funnelRouted,

    // The routed funnel over STRING gids (r13, the r12 verdict's missing
    // pin): the per-group count aggregate, the group-sized left join, and
    // the absent-group default all keyed by a non-numeric string. Counts
    // are gid-representation-invariant, so this shares fr_funnel's oracle
    // verbatim.
    "fr_funnel_fast_stringgid" -> ((s, dir) =>
      stringGidRouted.run(evStringGid(s, dir), funnelQ).funnel.get),

    // F4: conditions + funnel combined — the funnel consumes only the rows
    // of groups passing the condition (>= 14 purchases: keeps roughly half
    // the groups at every SF, so the condition genuinely restricts).
    "fr_funnel_conditioned" -> ((s, dir) =>
      engine.run(ev(s, dir), conditionedFunnelQ).funnel.get),

    // Condition + funnel through the ROUTED engine end-to-end (r14): the
    // Filters condition stays on window flags (only sequences route), the
    // funnel routes over the condition-restricted matchedRows — the
    // composed shape the fuzzer draws randomly, pinned deterministically
    // at battery level. fr_funnel_conditioned_fast runs the same function.
    // Both share fr_funnel_conditioned's oracle verbatim.
    "fr_funnel_conditioned_routed" -> funnelConditionedRouted,
    "fr_funnel_conditioned_fast" -> funnelConditionedRouted,

    "fr_funnel_end_agg" -> ((s, dir) => engine.run(ev(s, dir), GraftQuery(None, Nil, None, Nil,
      Some(Funnel(valueSteps, None, Nil,
        Seq(Aggregation(None, "event_type", AggType.CountPerValue, None)))))).funnelAggregations.head._2),

    "fr_funnel_step_agg" -> ((s, dir) => {
      val plan = engine.run(ev(s, dir), GraftQuery(None, Nil, None, Nil,
        Some(Funnel(valueSteps, None,
          stepAggregations = Seq(Aggregation(None, "event_type", AggType.GroupsPerValue, None)),
          endAggregations = Nil))))
      plan.funnelAggregations.collectFirst {
        case (name, df) if name.startsWith("step1_") => df
      }.get
    }),

    // The same step-aggregation funnel through the ROUTED plan (r14,
    // QueryEngine.routedFunnel): the step-1 aggregation input comes from a
    // group-sized survivor semi-join against the candidate pass's
    // max-step table instead of window flags. Shares fr_funnel_step_agg's
    // oracle verbatim — identical semantics, no window stack anywhere.
    "fr_funnel_step_agg_routed" -> ((s, dir) => {
      val plan = routedEngine.run(ev(s, dir), GraftQuery(None, Nil, None, Nil,
        Some(Funnel(valueSteps, None,
          stepAggregations = Seq(Aggregation(None, "event_type", AggType.GroupsPerValue, None)),
          endAggregations = Nil))))
      plan.funnelAggregations.collectFirst {
        case (name, df) if name.startsWith("step1_") => df
      }.get
    }),

    // The end-aggregation twin through the routed plan (r14): survivors of
    // the LAST step via the same max-step semi-join. Shares
    // fr_funnel_end_agg's oracle verbatim.
    "fr_funnel_end_agg_routed" -> ((s, dir) =>
      routedEngine.run(ev(s, dir), GraftQuery(None, Nil, None, Nil,
        Some(Funnel(valueSteps, None, Nil,
          Seq(Aggregation(None, "event_type", AggType.CountPerValue, None)))))).funnelAggregations.head._2),

    // Sessionization: per-user session summary at a 6-hour inactivity gap
    // (one window exchange — the sequence/funnel plan shape). Timestamps
    // truncated to MICROseconds on both sides: DuckDB's TIMESTAMP is µs
    // internally, and the span subtraction would expose the dropped nanos.
    "fr_sessions" -> ((s, dir) =>
      graft.operators.Sessionize.groupSummary(
        Tables.events(s, dir).select(col("user_id"), expr("ts div 1000").as("ts_us")),
        "user_id", "ts_us", maxGap = 21600000000L)),

    "fr_agg_count" -> ((s, dir) => aggQuery(s, dir, Aggregation(None, "value", AggType.Count, None))),
    "fr_agg_count_per_value" -> ((s, dir) =>
      aggQuery(s, dir, Aggregation(None, "event_type", AggType.CountPerValue, None))),
    "fr_agg_groups_per_value" -> ((s, dir) =>
      aggQuery(s, dir, Aggregation(None, "event_type", AggType.GroupsPerValue, None))),
    "fr_agg_sum_per_value" -> ((s, dir) =>
      aggQuery(s, dir, Aggregation(None, "event_type", AggType.SumPerValue, Some("value")))),
    "fr_agg_mean_per_value" -> ((s, dir) =>
      aggQuery(s, dir, Aggregation(None, "event_type", AggType.MeanPerValue, Some("value")))),
    // A3's documented fast mode: approximate distinct-group counts
    // (HyperLogLog++). Deterministic for fixed input but not exactly the
    // true count, so rows-only check (no oracle).
    "fr_agg_groups_approx" -> ((s, dir) => {
      val e = ev(s, dir)
      e.groupBy(col("event_type").as("value"))
        .agg(approx_count_distinct(col("user_id")).as("groups_approx"))
        .orderBy(desc("groups_approx"), asc("value"))
    }),

    // Error gate for the approx path: max relative error of HLL++ vs the
    // exact distinct count across all values, reduced to `passed = 1` iff
    // <= 15% (3× the default 5% rsd). HLL++ is deterministic for fixed
    // input, so this pins the fast mode's accuracy as a hard oracle row.
    "fr_agg_groups_approx_err" -> ((s, dir) => {
      val e = ev(s, dir)
      e.groupBy(col("event_type").as("value"))
        .agg(approx_count_distinct(col("user_id")).as("a"),
          countDistinct(col("user_id")).as("x"))
        .agg(max(abs(col("a") - col("x")) / col("x")).as("maxerr"))
        .select(when(col("maxerr") <= 0.15, lit(1L)).otherwise(lit(0L)).as("passed"))
    }),

    "fr_top_k" -> ((s, dir) =>
      aggQuery(s, dir, Aggregation(None, "user_id", AggType.CountPerValue, None))),

    // Full JSON round-trip: parse → expand/validate → plan (SURVEY.md §3).
    "fr_json" -> ((s, dir) => {
      val json =
        """{"query": {
          |  "conditions": [
          |    {"name": "buyers",   "filter": ["event_type", "==", "purchase"], "target": ["count", ">=", 15]},
          |    {"name": "clickers", "filter": ["event_type", "==", "click"],    "target": ["count", ">=", 15]}
          |  ],
          |  "relation": "$buyers or $clickers",
          |  "aggregations": [{"column": "event_type", "type": "countPerValue"}]
          |}}""".stripMargin
      engine.run(ev(s, dir), QueryParser.parse(json)).aggregations.head._2
    })
  )

  /** Shared shape: condition purchase>=1, then one aggregation over all rows
    * of matching groups (reference semantics, docs/example-dataset.md:313-317). */
  private def aggQuery(s: SparkSession, dir: String, a: Aggregation): DataFrame =
    engine.run(ev(s, dir), GraftQuery(None,
      Seq(cond(filters(eq("event_type", "purchase")), Target.Count(CmpOp.Gte, 1))),
      None, Seq(a), None)).aggregations.head._2

  // -------------------------------------------------------------- oracles

  /** m = groups with >=1 purchase; rows = all rows of those groups. */
  private val MATCHED_PURCHASE =
    """WITH e AS (%s),
      |m AS (SELECT user_id FROM e GROUP BY user_id
      |      HAVING count(CASE WHEN event_type = 'purchase' THEN 1 END) >= 1),
      |r AS (SELECT e.* FROM e JOIN m ON e.user_id = m.user_id)""".stripMargin.format(E)

  /** Value-filtered (value > 100) view->click->purchase step CTEs over a
    * pre-existing CTE `e`, mirroring `valueSteps`. */
  private val SEQ_STEPS =
    """s0 AS (SELECT user_id, min(tl) AS m0 FROM e
      |       WHERE event_type = 'view' AND value > 100 GROUP BY user_id),
      |s1 AS (SELECT e.user_id, min(s0.m0) AS m0, min(e.tl) AS m1 FROM e
      |       JOIN s0 ON e.user_id = s0.user_id
      |       WHERE e.event_type = 'click' AND e.value > 100 AND e.tl > s0.m0 GROUP BY e.user_id),
      |s2 AS (SELECT e.user_id, min(s1.m0) AS m0, min(e.tl) AS m2 FROM e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'purchase' AND e.value > 100 AND e.tl > s1.m1 GROUP BY e.user_id)""".stripMargin

  /** Value-filtered chain over all events. Shared with StreamingQueries:
    * st_funnel's oracle is BY CONSTRUCTION the same step chain, so the
    * streaming operator is gated against the identical batch semantics. */
  private[ops] val SEQ_CTES = s"WITH e AS ($E),\n$SEQ_STEPS"

  /** Funnel result rows (step, step_groups, step_rows) over s0/s1/s2 + e. */
  private val FUNNEL_SELECT =
    """SELECT 0 AS step,
      |  (SELECT count(*) FROM s0) AS step_groups,
      |  (SELECT count(*) FROM e WHERE user_id IN (SELECT user_id FROM s0)) AS step_rows
      |UNION ALL SELECT 1,
      |  (SELECT count(*) FROM s1),
      |  (SELECT count(*) FROM e WHERE user_id IN (SELECT user_id FROM s1))
      |UNION ALL SELECT 2,
      |  (SELECT count(*) FROM s2),
      |  (SELECT count(*) FROM e WHERE user_id IN (SELECT user_id FROM s2))""".stripMargin

  /** Unfiltered chain, used by the maxDuration query only. */
  private val SEQ_PLAIN_CTES =
    """WITH e AS (%s),
      |s0 AS (SELECT user_id, min(tl) AS m0 FROM e WHERE event_type = 'view' GROUP BY user_id),
      |s1 AS (SELECT e.user_id, min(s0.m0) AS m0, min(e.tl) AS m1 FROM e
      |       JOIN s0 ON e.user_id = s0.user_id
      |       WHERE e.event_type = 'click' AND e.tl > s0.m0 GROUP BY e.user_id),
      |s2 AS (SELECT e.user_id, min(s1.m0) AS m0, min(e.tl) AS m2 FROM e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'purchase' AND e.tl > s1.m1 GROUP BY e.user_id)""".stripMargin.format(E)

  val oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // Alternate-plan twins share their reference row's oracle verbatim:
    // identical semantics, different physical shape.
    base ++ Map(
      "fr_count_target_salted" -> base("fr_count_target"),
      "fr_count_target_capped" -> base("fr_count_target"),
      "fr_sequence_stringgid" -> base("fr_sequence"),
      "fr_sequence_fast_stringgid" -> base("fr_sequence"),
      "fr_sequence_routed" -> base("fr_sequence"),
      "fr_seq_maxduration_fast" -> base("fr_seq_maxduration"),
      "fr_seq_negated_fast" -> base("fr_seq_negated"),
      "fr_funnel_fast" -> base("fr_funnel"),
      "fr_funnel_routed" -> base("fr_funnel"),
      "fr_funnel_fast_stringgid" -> base("fr_funnel"),
      "fr_funnel_conditioned_fast" -> base("fr_funnel_conditioned"),
      "fr_funnel_conditioned_routed" -> base("fr_funnel_conditioned"),
      "fr_funnel_step_agg_routed" -> base("fr_funnel_step_agg"),
      "fr_funnel_end_agg_routed" -> base("fr_funnel_end_agg"))
  }

  private def oracleSqlBase: Map[String, String] = Map(
    // Spark reduces approx-vs-exact to a boolean row; the oracle is the
    // literal expectation (see ann_*_recall for the same pattern).
    "fr_agg_groups_approx_err" -> "SELECT CAST(1 AS BIGINT) AS passed",

    "fr_empty" ->
      "SELECT count(DISTINCT user_id) AS matching_groups, count(*) AS matching_group_rows FROM events",

    "fr_count_target" ->
      s"""WITH e AS ($E),
         |m AS (SELECT user_id FROM e GROUP BY user_id
         |      HAVING count(CASE WHEN event_type = 'purchase' THEN 1 END) >= 15)
         |$SUMMARY""".stripMargin,

    "fr_count_eq_zero" ->
      s"""WITH e AS ($E),
         |m AS (SELECT user_id FROM e GROUP BY user_id
         |      HAVING count(CASE WHEN event_type = 'error' AND value > 150 THEN 1 END) = 0)
         |$SUMMARY""".stripMargin,

    "fr_sum_target" ->
      s"""WITH e AS ($E),
         |m AS (SELECT user_id FROM e GROUP BY user_id
         |      HAVING count(CASE WHEN event_type = 'purchase' THEN 1 END) > 0
         |         AND sum(CASE WHEN event_type = 'purchase' THEN value END) >= 500)
         |$SUMMARY""".stripMargin,

    "fr_multi_filter" ->
      s"""WITH e AS ($E),
         |m AS (SELECT user_id FROM e GROUP BY user_id
         |      HAVING count(CASE WHEN event_type = 'purchase' AND value > 100 THEN 1 END) >= 1)
         |$SUMMARY""".stripMargin,

    // Negated operators model pandas semantics explicitly (`!=` and
    // `not contains` are TRUE for nulls — na=False inversion), so the oracle
    // stays pinned even if null-bearing rows enter the documents table.
    "fr_ops_battery" ->
      """SELECT
        |  count(CASE WHEN lang = 'en' THEN 1 END) AS c_eq,
        |  count(CASE WHEN lang IS NULL OR lang <> 'en' THEN 1 END) AS c_neq,
        |  count(CASE WHEN n_chars > 200 THEN 1 END) AS c_gt,
        |  count(CASE WHEN n_chars >= 200 THEN 1 END) AS c_gte,
        |  count(CASE WHEN n_chars < 100 THEN 1 END) AS c_lt,
        |  count(CASE WHEN n_chars <= 100 THEN 1 END) AS c_lte,
        |  count(CASE WHEN contains(text, 'spark table') THEN 1 END) AS c_contains,
        |  count(CASE WHEN text IS NULL OR NOT contains(text, 'spark table') THEN 1 END) AS c_ncontains,
        |  count(CASE WHEN regexp_matches(text, 'scan [a-z]+ slow') THEN 1 END) AS c_regex
        |FROM documents""".stripMargin,

    "fr_relation" ->
      s"""WITH e AS ($E),
         |g AS (SELECT user_id,
         |        count(CASE WHEN event_type = 'purchase' THEN 1 END) AS p,
         |        count(CASE WHEN event_type = 'click' THEN 1 END) AS c,
         |        count(CASE WHEN event_type = 'error' AND value > 150 THEN 1 END) AS er
         |      FROM e GROUP BY user_id),
         |m AS (SELECT user_id FROM g WHERE (p >= 15 AND c >= 15) OR er = 0)
         |$SUMMARY""".stripMargin,

    "fr_mixed_relation" ->
      s"""WITH e AS ($E),
         |s0 AS (SELECT user_id, min(tl) AS m0 FROM e WHERE event_type = 'view' GROUP BY user_id),
         |s1 AS (SELECT e.user_id, min(s0.m0) AS m0, min(e.tl) AS m1 FROM e
         |       JOIN s0 ON e.user_id = s0.user_id
         |       WHERE e.event_type = 'click' AND e.tl > s0.m0 GROUP BY e.user_id),
         |g AS (SELECT user_id, count(CASE WHEN event_type = 'purchase' THEN 1 END) AS p
         |      FROM e GROUP BY user_id),
         |m AS (SELECT user_id FROM g WHERE p >= 14
         |      UNION SELECT user_id FROM s1 WHERE m1 - m0 <= 3600000000000)
         |$SUMMARY""".stripMargin,

    "fr_timeframe" ->
      s"""WITH e0 AS ($E),
         |e AS (SELECT * FROM e0 WHERE tl >= 1705000000000000000 AND tl < 1706000000000000000),
         |m AS (SELECT user_id FROM e GROUP BY user_id
         |      HAVING count(CASE WHEN event_type = 'purchase' THEN 1 END) >= 1)
         |SELECT count(DISTINCT e.user_id) AS matching_groups, count(*) AS matching_group_rows
         |FROM e JOIN m ON e.user_id = m.user_id""".stripMargin,

    // Identical semantics to fr_timeframe: partition pruning must not
    // change results, only the number of directories scanned.
    "fr_timeframe_pruned" ->
      s"""WITH e0 AS ($E),
         |e AS (SELECT * FROM e0 WHERE tl >= 1705000000000000000 AND tl < 1706000000000000000),
         |m AS (SELECT user_id FROM e GROUP BY user_id
         |      HAVING count(CASE WHEN event_type = 'purchase' THEN 1 END) >= 1)
         |SELECT count(DISTINCT e.user_id) AS matching_groups, count(*) AS matching_group_rows
         |FROM e JOIN m ON e.user_id = m.user_id""".stripMargin,

    "fr_sequence" ->
      s"""$SEQ_CTES,
         |m AS (SELECT user_id FROM s2)
         |$SUMMARY""".stripMargin,

    "fr_sequence_fast" ->
      s"""$SEQ_CTES,
         |m AS (SELECT user_id FROM s2)
         |$SUMMARY""".stripMargin,

    // Millisecond-truncated DOUBLE timestamps: same step chain, the tie
    // structure of tl is the millis one on both sides.
    "fr_sequence_floatts" ->
      s"""WITH e AS (SELECT user_id, event_type, CAST(epoch_ns(ts) // 1000000 AS DOUBLE) AS tl,
         |           CAST(value AS DECIMAL(20,4)) AS value FROM events),
         |$SEQ_STEPS,
         |m AS (SELECT user_id FROM s2)
         |$SUMMARY""".stripMargin,

    "fr_seq_maxduration" ->
      s"""$SEQ_PLAIN_CTES,
         |m AS (SELECT user_id FROM s2 WHERE m2 - m0 <= 86400000000000)
         |$SUMMARY""".stripMargin,

    "fr_seq_negated" ->
      s"""WITH e AS ($E),
         |s0 AS (SELECT user_id, min(tl) AS m0 FROM e WHERE event_type = 'view' GROUP BY user_id),
         |ok AS (SELECT s0.user_id, s0.m0 FROM s0 WHERE NOT EXISTS (
         |        SELECT 1 FROM e WHERE e.user_id = s0.user_id
         |          AND e.event_type = 'error' AND e.value > 150 AND e.tl > s0.m0)),
         |m AS (SELECT e.user_id FROM e JOIN ok ON e.user_id = ok.user_id
         |      WHERE e.event_type = 'purchase' AND e.tl > ok.m0 GROUP BY e.user_id)
         |$SUMMARY""".stripMargin,

    "fr_funnel" ->
      s"""$SEQ_CTES
         |$FUNNEL_SELECT""".stripMargin,

    // F4: funnel over condition survivors (reference query_engine.py:102-105
    // — the funnel's input is the rows of groups matching query.conditions).
    "fr_funnel_conditioned" ->
      s"""WITH ea AS ($E),
         |mg AS (SELECT user_id FROM ea GROUP BY user_id
         |       HAVING count(CASE WHEN event_type = 'purchase' THEN 1 END) >= 14),
         |e AS (SELECT ea.* FROM ea JOIN mg ON ea.user_id = mg.user_id),
         |$SEQ_STEPS
         |$FUNNEL_SELECT""".stripMargin,

    "fr_funnel_end_agg" ->
      s"""$SEQ_CTES
         |SELECT e.event_type AS value, count(*) AS count
         |FROM e WHERE e.user_id IN (SELECT user_id FROM s2)
         |GROUP BY e.event_type ORDER BY count DESC, value ASC LIMIT 10""".stripMargin,

    "fr_funnel_step_agg" ->
      s"""$SEQ_CTES
         |SELECT e.event_type AS value, count(DISTINCT e.user_id) AS groups
         |FROM e WHERE e.user_id IN (SELECT user_id FROM s1)
         |GROUP BY e.event_type ORDER BY groups DESC, value ASC LIMIT 10""".stripMargin,

    "fr_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tl FROM events),
        |g AS (SELECT user_id, tl,
        |        CASE WHEN lag(tl) OVER w IS NULL OR tl - lag(tl) OVER w > 21600000000
        |             THEN 1 ELSE 0 END AS nb
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tl)),
        |s AS (SELECT user_id, sum(nb) OVER (PARTITION BY user_id ORDER BY tl
        |        ROWS UNBOUNDED PRECEDING) - 1 AS sid, tl FROM g),
        |per AS (SELECT user_id, sid, count(*) AS n, min(tl) AS st, max(tl) AS en
        |        FROM s GROUP BY user_id, sid)
        |SELECT user_id, count(*) AS n_sessions, max(n) AS max_session_events,
        |       max(en - st) AS longest_session_span
        |FROM per GROUP BY user_id""".stripMargin,

    "fr_agg_count" ->
      s"""$MATCHED_PURCHASE
         |SELECT count(value) AS value FROM r""".stripMargin,

    "fr_agg_count_per_value" ->
      s"""$MATCHED_PURCHASE
         |SELECT event_type AS value, count(*) AS count FROM r
         |GROUP BY event_type ORDER BY count DESC, value ASC LIMIT 10""".stripMargin,

    "fr_agg_groups_per_value" ->
      s"""$MATCHED_PURCHASE
         |SELECT event_type AS value, count(DISTINCT user_id) AS groups FROM r
         |GROUP BY event_type ORDER BY groups DESC, value ASC LIMIT 10""".stripMargin,

    "fr_agg_sum_per_value" ->
      s"""$MATCHED_PURCHASE
         |SELECT event_type AS value, CAST(sum(value) AS DOUBLE) AS sum FROM r
         |GROUP BY event_type ORDER BY sum DESC, value ASC LIMIT 10""".stripMargin,

    "fr_agg_mean_per_value" ->
      s"""$MATCHED_PURCHASE
         |SELECT event_type AS value, CAST(sum(value) AS DOUBLE) / count(value) AS mean FROM r
         |GROUP BY event_type ORDER BY mean DESC, value ASC LIMIT 10""".stripMargin,

    "fr_top_k" ->
      s"""$MATCHED_PURCHASE
         |SELECT user_id AS value, count(*) AS count FROM r
         |GROUP BY user_id ORDER BY count DESC, value ASC LIMIT 10""".stripMargin,

    "fr_json" ->
      s"""WITH e AS ($E),
         |g AS (SELECT user_id,
         |        count(CASE WHEN event_type = 'purchase' THEN 1 END) AS p,
         |        count(CASE WHEN event_type = 'click' THEN 1 END) AS c
         |      FROM e GROUP BY user_id),
         |m AS (SELECT user_id FROM g WHERE p >= 15 OR c >= 15),
         |r AS (SELECT e.* FROM e JOIN m ON e.user_id = m.user_id)
         |SELECT event_type AS value, count(*) AS count FROM r
         |GROUP BY event_type ORDER BY count DESC, value ASC LIMIT 10""".stripMargin
  )
}
