package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.query.QueryAst._

/**
 * Dataset binding for a query: which column is the group ID (e.g. user id)
 * and which is the (numeric, scale-agnostic) event timestamp.
 *
 * Mirrors the reference's `QueryEngine(group_by_column, timestamp_column)`
 * (frocket/engine/query_engine.py:72-75). Timestamps are deliberately opaque
 * numbers — epoch seconds/millis/micros all work, matching the reference's
 * scale-agnostic stance (frocket/common/validation/query_validator.py:268-299).
 *
 * `dayPartitionColumn`: set to the `GroupedWriter.partitionByDay` DATE
 * partition column (conventionally "dt") to let timeframe queries prune
 * whole day directories at planning time. It is an explicit declaration
 * that the column IS the day of `timestampColumn` (nanos) — the engine must
 * never infer that from a column's name: an unrelated DATE column that
 * happens to be called "dt" would silently drop in-timeframe rows.
 */
final case class DatasetSpec(groupIdColumn: String, timestampColumn: String,
                             dayPartitionColumn: Option[String] = None,
                             /** Registered distinct-group count, when the
                               * caller knows it (ApiServer passes the
                               * catalog's registration stat; library
                               * callers may omit). Bounds the matched-gid
                               * set statically — the survivor-sharing
                               * broadcast gate reads it (see the routed
                               * sequence fold). */
                             numGroups: Option[Long] = None,
                             /** Max UTF-8 byte length of a STRING group id
                               * (r16; the catalog records it at
                               * registration). Makes the survivor-sharing
                               * gate byte-aware for string gids: the
                               * broadcast estimate is numGroups ×
                               * (gidMaxBytes + row overhead), so a dataset
                               * with long ids is kept off the explicit
                               * hint even under the group-count cap.
                               * Unknown → the conservative
                               * [[QueryEngine.SurvivorShareMaxStringGroups]]
                               * count cap applies instead. */
                             gidMaxBytes: Option[Long] = None)

/**
 * The planned query: every output is a lazily-evaluated DataFrame, so Catalyst
 * sees the complete plan (scan → window → filter → aggregate) and can push
 * filters/pruning into the parquet scan.
 */
final case class PlannedQuery(
    /** All rows of groups matching the conditions (reference semantics:
      * aggregations run over ALL rows of matching groups, not just rows
      * matching the filters — docs/example-dataset.md:313-317). */
    matchedRows: DataFrame,
    /** One row: matching_groups, matching_group_rows. */
    summary: DataFrame,
    /** Aggregation name → result frame (scalar aggs: 1 row; per-value: top-K). */
    aggregations: Seq[(String, DataFrame)],
    /** Funnel per-step counts: (step, step_groups, step_rows). */
    funnel: Option[DataFrame],
    /** Funnel step/end aggregations, keyed "step<i>_<name>" / "end_<name>". */
    funnelAggregations: Seq[(String, DataFrame)],
    /** Which plan answered (r14, the operability twin of silent routing —
      * a user debugging a slow query at scale needs to know WHICH plan
      * fired without reading `.explain`): "window" (the general plan),
      * "routed-sequence", "routed-funnel", or
      * "routed-sequence+routed-funnel" when both fast paths fired in one
      * query. Surfaced by the HTTP API's per-query stats block. */
    plan: String = "window")

/**
 * Spark-native implementation of the reference's query semantics
 * (frocket/engine/query_engine.py), redesigned for Spark's execution model:
 *
 * **Single-shuffle design.** The reference avoids shuffles by a physical
 * invariant (all rows of a group in one file). Here, per-group condition
 * results are computed as window aggregates over `Window.partitionBy(gid)` and
 * attached to every row, so the "restrict rows to matching groups" semi-join
 * (reference filter_by_isin, helpers/pandas.py:20-37) becomes a plain row
 * filter — no join, ONE hash-exchange of the fact table by group ID. All
 * chained sequence steps reuse the same window partitioning, so Spark plans a
 * single Exchange feeding a stack of Window operators. When the source is
 * bucketed/pre-partitioned by the group ID column, even that exchange
 * disappears — the 100 TB story matches the reference's shuffle-free layout.
 *
 * **Null semantics match pandas**, which the reference inherits
 * (SURVEY.md §7.4): `!=` and `not contains` are TRUE for nulls; `==`,
 * ordered comparisons, `contains` and `regex` are FALSE for nulls; group sums
 * skip nulls and an all-null matched group sums to 0.0.
 *
 * **Hot-group bound** (measured, BENCH.md §SkewScale "fr window stack"):
 * `Window.partitionBy(gid)` serializes each group into one task, so a bot
 * user holding p% of the corpus costs ~linear-in-p wall (10% → 2.2×,
 * 30% → 5.2× at 250M rows, both funnel and C1 shapes). Count/sum targets
 * are algebraic — a summary-only caller can switch to
 * `Skew.saltedSumCount`; sequences/funnels are not — [[capGroupRows]]
 * is the engine-surface mitigation: cap every group at n rows map-only
 * BEFORE the window stack.
 *
 * **Fast-path routing (r13, default ON — [[QueryEngine.Routing.Auto]]).**
 * The window plan above is the GENERAL plan; for the two shapes where the
 * typed [[graft.operators.SequenceMatch]] aggregator is semantically
 * interchangeable and measured faster at scale, the planner routes
 * automatically instead of making the caller pick:
 *
 *  - a sequence condition under the default AND relation → candidate gid
 *    set via `SequenceMatch.matchingGroups` + a plain-equality left-semi
 *    join back into the rows (AQE broadcasts the group-sized set) — 2.2×
 *    at 250M rows on plain parquet, 2.8× bucketed, ~1.6× degradation
 *    under a 30%-hot bot group where the window stack degrades 5.2×;
 *    multi-frame queries (aggregations and/or a funnel) persist the
 *    semi-joined SURVIVORS once behind an explicit broadcast hint, gated
 *    on the registration's group count/bytes (r15; the adaptive
 *    alternatives, including a lazy localCheckpoint, were measured
 *    freezing a full-corpus SMJ) so each extra output frame reads cached
 *    blocks instead of re-scanning the corpus — see the body comment for
 *    the measured cells;
 *  - an aggregation-free funnel → `SequenceMatch.funnelCounts` — 2.3×
 *    bucketed at 250M rows and FLAT under 30%-hot skew (14.1s vs 142.1s);
 *  - a funnel WITH step/end aggregations (r14) → funnelCounts for the
 *    counts plus per-step survivor joins against the candidate pass's
 *    max-step table ([[routedFunnel]]) — step flags are group-constant,
 *    so each aggregation input is a group-sized semi-join, not a per-row
 *    flag column.
 *
 * Routing is shape/type/size-gated, never throwing: a query leaves the
 * fast path and falls back to the window plan whenever the aggregator's
 * contract doesn't hold — an explicit `relation` (OR needs per-group
 * flags), an all-negated sequence (satisfied by groups with no matching
 * rows, which never reach an aggregation), a non-integral/string gid or
 * non-integral ts (float ts
 * compares natively only in the window plan) — or when Catalyst's input
 * size estimate is under [[QueryEngine.DefaultRoutingMinBytes]] (the
 * measured small-input crossover, where the window plan wins;
 * `withRoutingThreshold` overrides, 0 = always route). Both plans share every
 * oracle (battery rows `fr_sequence[_routed]`, `fr_funnel[_routed]`; the
 * fuzzer runs whole random queries through both). Since r14 the PARSER
 * canonicalizes the expression spelling of the default relation
 * ("$0 and $1" over every condition) to None, so those queries route
 * too. Mixed relations beyond that (e.g. "($a or $b) and $seq", where
 * the sequence is a bare top-level conjunct) COULD route the sequence
 * while the OR keeps window flags — the rewrite would split the
 * relation into top-level AND conjuncts, route sequences appearing as
 * bare conjuncts, and window the rest; deliberately NOT built: the
 * fuzzer's relation corpus shows the complete-AND spelling is the only
 * routable form real queries hit, and each routed conjunct would pay
 * its own semi-join against an already-OR-restricted frame. The one contract
 * divergence: a NULL group id forms a group under `Window.partitionBy`
 * but never joins back through the semi-join — and the REFERENCE agrees
 * with the semi-join, not the window plan: pandas groupby drops NaN keys
 * (query_engine.py:143,237), so null-gid groups never satisfy a condition
 * there either. Since r14 this divergence also covers two MORE spellings a
 * direct library caller on an un-validated frame can hit: (1) the parser's
 * complete-AND relation fold means an EXPLICIT `relation: "$0 and $1"`
 * query now routes too, flipping its null-gid groups from
 * window-plan-visible to dropped; (2) [[routedFunnel]]'s leading-negated
 * branch is a left-ANTI against the witnessed-failed gid set, and an
 * anti-join's null keys never match — so that one branch KEEPS null-gid
 * rows unconditionally (the window plan evaluates the negation per
 * group). The catalog's registration validation rejects null gids
 * outright (the same contract [[graft.operators.SequenceMatch]]
 * documents), so all of these differences are unreachable through the
 * serving surface. `withWindowPlan` pins the general plan for callers that want
 * the single-exchange shape regardless (small inputs: the typed
 * aggregation's fixed overhead costs ~20% at sf0.1).
 */
final class QueryEngine(spec: DatasetSpec,
                        groupRowCap: Option[(Int, String)] = None,
                        routing: QueryEngine.Routing = QueryEngine.Routing.Auto,
                        routingMinBytes: Long = QueryEngine.DefaultRoutingMinBytes) {

  private val gid = spec.groupIdColumn
  private val ts  = spec.timestampColumn
  private def w: WindowSpec = Window.partitionBy(col(gid))

  /** Opt-in hot-group cap for bot-ridden corpora: every query this engine
    * plans first passes through `TextAnalysis.capPerKeyApprox(gid, n)` —
    * a group-count aggregate plus a map-only deterministic hash filter
    * (AQE-broadcast join, nothing sorted), so a bot group holding 30% of
    * the corpus reaches `Window.partitionBy(gid)` at ~n rows instead of
    * serializing its full share into one task (the measured 5.2× bound in
    * the class doc). `rowIdColumn` seeds the per-row keep draw and should
    * be ~unique per row (the events schema's event id). Null ids are SAFE
    * (r13, capPerKeyApprox's coalesced hash input): under-cap groups keep
    * every row bit-exactly including null-id rows — the silent null-drop
    * class is gone; in an OVER-cap group all null-id rows share one
    * deterministic draw, so uniqueness (not nullability) remains the only
    * contract that affects sample quality.
    *
    * SEMANTICS: groups with ≤ n rows (within the query's timeframe) are
    * untouched — set n above the max plausible real-user group size and
    * only telemetry-noise groups are affected, keeping every human-scale
    * result bit-identical (battery row `fr_count_target_capped` shares
    * fr_count_target's oracle with the cap not binding; the binding case
    * is measured in BENCH.md §SkewScale). A group OVER the cap keeps a
    * deterministic Binomial(count, n/count) sample of its rows — an
    * explicit approximation, which is why this is an opt-in constructor
    * of a separate engine rather than a default. */
  def capGroupRows(n: Int, rowIdColumn: String): QueryEngine =
    new QueryEngine(spec, Some((n, rowIdColumn)), routing, routingMinBytes)

  /** Pin the chained-window plan for every query shape (see class doc
    * "Fast-path routing"): single-exchange, per-row flags, native float-ts
    * comparison — the better plan at small inputs and the semantic
    * reference the fast paths are fuzzed against. */
  def withWindowPlan: QueryEngine =
    new QueryEngine(spec, groupRowCap, QueryEngine.Routing.WindowOnly,
      routingMinBytes)

  /** Override the Auto-routing size gate (bytes of Catalyst's estimate for
    * the query input below which the window plan is kept — see
    * [[QueryEngine.DefaultRoutingMinBytes]] for the measured default).
    * 0 routes every shape-compatible query regardless of size. */
  def withRoutingThreshold(bytes: Long): QueryEngine =
    new QueryEngine(spec, groupRowCap, routing, bytes)

  /** Plan `q` against `df`. Pure plan construction — nothing is executed. */
  def run(df: DataFrame, q: GraftQuery): PlannedQuery = {
    val framed = q.timeframe match {
      case Some(Timeframe(from, to)) =>
        // ts >= from && ts < to (reference query_task_runner.py:116-133);
        // both pushed to parquet row-group stats by Catalyst — directly when
        // ts is a stored long, via plans.TimeframePushdown's raw-attribute
        // bound when ts is Tables.tsToNanos-derived from a TIMESTAMP column.
        val lower = from.map(f => col(ts) >= lit(f))
        val upper = to.map(t => col(ts) < lit(t))
        // Day-partitioned layouts (GroupedWriter.partitionByDay) carry a
        // DATE partition column; when the spec DECLARES it (never inferred
        // from a name), derive its bounds from the timeframe so whole day
        // directories are pruned at planning time (the filter is a superset
        // of the row filter above, which stays authoritative). The upper
        // bound uses to-1ns: an exact-midnight `to` excludes its own day
        // entirely. The day derivation is GroupedWriter.dayOfTsNanos — the
        // SAME definition the writer used, so the bounds are a safe
        // superset by construction (and timezone-free; Catalyst constant-
        // folds it over the literal).
        val dtBounds = spec.dayPartitionColumn match {
          case Some(dtCol) if df.schema.exists(f =>
              f.name == dtCol && f.dataType == org.apache.spark.sql.types.DateType) =>
            val dayOf = (nanos: Long) =>
              graft.sources.GroupedWriter.dayOfTsNanos(lit(nanos))
            from.map(f => col(dtCol) >= dayOf(f)) ++
              to.map(t => col(dtCol) <= dayOf(t - 1L))
          case _ => Nil
        }
        (lower ++ upper ++ dtBounds).reduceOption(_ && _).map(df.filter).getOrElse(df)
      case None => df
    }

    // Hot-group cap (opt-in, see capGroupRows): applied AFTER the
    // timeframe filter (the cap contract is rows-in-scope) and before any
    // window/aggregate sees the data.
    val prepared = groupRowCap match {
      case Some((n, idc)) =>
        graft.operators.TextAnalysis.capPerKeyApprox(framed, gid, idc, n,
          salt = s"fr_cap:$n")
      case None => framed
    }

    // Fast-path routing (class doc): under the default AND relation, a
    // sequence condition whose shape/types fit SequenceMatch's contract is
    // resolved by the typed aggregator + a group-sized semi-join instead of
    // the window stack. An explicit relation needs per-group flags (an OR
    // can't be expressed as an intersection of semi-joins), so any relation
    // pins the whole query to the window plan.
    // Guard order matters: bigEnough forces one optimizer pass over the
    // input, so it is only evaluated when a sequence condition exists to
    // route — a filters-only query must not pay it.
    // The routed plan renames the aggregator's gid output to the internal
    // name __seq_gid before the semi-join; an input frame already carrying
    // that name would make the join condition ambiguous, so such a frame
    // falls back to the window plan (routing never throws — same spirit as
    // the shape/type/size gates; serving-surface schemas can't collide,
    // registration rejects no column but datasets don't use __-names).
    val routedSeqIdx: Set[Int] =
      if (routing == QueryEngine.Routing.Auto && q.relation.isEmpty &&
          q.conditions.exists(_.isInstanceOf[Condition.Sequence]) &&
          !prepared.columns.contains("__seq_gid") &&
          bigEnough(prepared))
        q.conditions.zipWithIndex.collect {
          case (s: Condition.Sequence, i)
              if s.steps.exists(_.rowFound) && fastPathTypesOk(prepared) => i
        }.toSet
      else Set.empty

    val matched: DataFrame =
      if (q.conditions.isEmpty) prepared
      else if (routedSeqIdx.isEmpty)
        windowMatched(prepared, q.conditions, q.relation, framed.columns.toIndexedSeq)
      else {
        // Window-plan condition flags are group-constant (every flag is an
        // aggregate over partitionBy(gid)), so filtering on them removes
        // WHOLE groups — computing each routed sequence over the already-
        // restricted frame is equivalent to ANDing the flags (the relation
        // is the default AND here, by the routing guard) and cheaper: fewer
        // candidate rows reach the aggregation.
        val windowed = q.conditions.zipWithIndex.collect {
          case (c, i) if !routedSeqIdx(i) => c
        }
        val base =
          if (windowed.isEmpty)
            prepared.select(framed.columns.map(col).toIndexedSeq: _*)
          else windowMatched(prepared, windowed, None, framed.columns.toIndexedSeq)
        q.conditions.zipWithIndex.collect {
          case (s: Condition.Sequence, i) if routedSeqIdx(i) => s
        }.foldLeft(base) { (cur, s) =>
          val matchedGids = graft.operators.SequenceMatch
            .matchingGroups(cur, gid, ts, s.steps, s.maxDuration)
            .withColumnRenamed(gid, "__seq_gid")
          // Multi-frame queries (aggregations and/or a funnel) — r15:
          // every output frame consumes this semi-joined SURVIVOR frame
          // as its own action, so each would re-scan the corpus and
          // re-run the candidate pass. r14 cached only the group-sized
          // gid set (the candidate pass); the per-frame corpus re-scan
          // remained, and at 1B rows those scans dominate the routed
          // wall. When the broadcast gate below holds, persist the
          // SURVIVORS once with an explicit broadcast-hinted join;
          // each extra frame then reads cached blocks. Probe-first
          // evidence (BENCH.md §sequence-with-aggregations): the shared
          // survivors beat the gid-set-only plan in every measured cell
          // — 1B bucketed 28.8s vs 31.9s, 250M plain 0-hot 16.1s vs
          // 20.5s, and 2.2× under a 30%-hot group (15.8s vs 35.1s — the
          // presumed worst case, where caching ~30% of the corpus is
          // still far cheaper than two more scan+join+aggregate passes
          // over it).
          //
          // The hint is EXPLICIT and statically GATED, both deliberately
          // (all three adaptive alternatives were measured failing at 1B
          // before this shape was chosen): a persisted plan never gets
          // AQE's runtime broadcast conversion — plain persist ran the
          // full-corpus sort-merge join the stage boundary of
          // [[semiJoinGids]] exists to avoid (73.2s vs 28.8s hinted), a
          // lazy localCheckpoint froze the same SMJ (73.0s), and persist
          // under spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
          // =true still did (75.2s). So sharing survivors REQUIRES the
          // static hint — and an unbounded hint would fail hard (8 GB
          // broadcast cap / driver memory) exactly on a huge matched
          // set, where the r14 plan's AQE correctly keeps the SMJ. The
          // gate: the matched set is at most the dataset's registered
          // group count (DatasetSpec.numGroups, flowing from the
          // catalog's registration stats on the serving path) — long
          // gids gate at 64M groups (≤ ~512 MB worst-case broadcast);
          // string gids are BYTE-aware (r16): ids have unbounded length,
          // so when the registration recorded the max id byte length the
          // gate bounds numGroups × (gidMaxBytes + per-row overhead) by
          // the same 512 MB budget, and without the stat it falls back
          // to an 8M count cap (~50-byte ids stay under ~400 MB; longer
          // unmeasured ids are a library-caller-only surface — the
          // serving path always has the stat). No numGroups (direct
          // library callers) or over the gate → the exact r14 plan: gid
          // set retained, per-frame AQE semi-joins. A summary-only query
          // collects one frame and keeps the exact r13 plan, cache-free.
          val multiFrame = q.aggregations.nonEmpty || q.funnel.nonEmpty
          // Exact name match first, then case-insensitive (r16):
          // fastPathTypesOk gates routing on an exact match today, but if
          // that ever loosens, a case-mismatched string gid must not
          // silently classify as integral and ride the 8× looser cap.
          val gidField = cur.schema.find(_.name == gid)
            .orElse(cur.schema.find(_.name.equalsIgnoreCase(gid)))
          val gidIsString =
            gidField.exists(_.dataType == org.apache.spark.sql.types.StringType)
          val broadcastable = spec.numGroups.exists { n =>
            if (!gidIsString) n <= QueryEngine.SurvivorShareMaxGroups
            else spec.gidMaxBytes match {
              // Divide, don't multiply: n × bytes can overflow Long on
              // adversarial inputs; the bound is equivalent.
              case Some(b) => n <= QueryEngine.SurvivorShareMaxBytes /
                math.max(1L, b + QueryEngine.BroadcastRowOverheadBytes)
              case None    => n <= QueryEngine.SurvivorShareMaxStringGroups
            }
          }
          if (multiFrame && broadcastable)
            // The hint makes the stage boundary unnecessary — join the
            // gid set directly (one fewer tiny shuffle).
            graft.util.Caches.retain(
              cur.join(broadcast(matchedGids),
                cur(gid) === matchedGids("__seq_gid"), "left_semi"))
          else semiJoinGids(cur,
            if (multiFrame) graft.util.Caches.retain(matchedGids) else matchedGids,
            "__seq_gid", "left_semi")
        }
      }

    val summary = matched.agg(
      count_distinct(col(gid)).as("matching_groups"),
      count(lit(1)).as("matching_group_rows"))

    val aggs = q.aggregations.map(a => aggName(a) -> runAggregation(matched, a))

    // Funnel routing (class doc): counts come from the single-candidate-
    // pass funnelCounts; step/end aggregations (r14) no longer pin the
    // window plan — their inputs are recovered from the same candidate
    // pass's max-step table via group-sized joins (see routedFunnel).
    // The __fn_gid guard mirrors the sequence path's __seq_gid one.
    val funnelRouted = q.funnel.exists(f =>
      routing == QueryEngine.Routing.Auto &&
        f.steps.exists(_.rowFound) && fastPathTypesOk(matched) &&
        !matched.columns.contains("__fn_gid") &&
        bigEnough(matched))
    val (funnelDf, funnelAggs) = q.funnel match {
      case Some(f) if funnelRouted => routedFunnel(matched, f)
      case Some(f)                 => planFunnel(matched, f)
      case None                    => (None, Nil)
    }

    val planLabel = (
      (if (routedSeqIdx.nonEmpty) Seq("routed-sequence") else Nil) ++
        (if (funnelRouted) Seq("routed-funnel") else Nil)) match {
      case Nil   => "window"
      case parts => parts.mkString("+")
    }
    PlannedQuery(matched, summary, aggs, funnelDf, funnelAggs, planLabel)
  }

  /** The general (window) condition plan: one group-constant flag column
    * per condition via window aggregates, relation filter, then the
    * original columns back. */
  private def windowMatched(prepared: DataFrame, conditions: Seq[Condition],
                            relation: Option[Relation],
                            outCols: Seq[String]): DataFrame = {
    var cur = prepared
    val condCols = conditions.zipWithIndex.map { case (c, i) =>
      val name = s"__cond_$i"
      c match {
        case f: Condition.Filters =>
          cur = cur.withColumn(name, filterConditionCol(f))
        case s: Condition.Sequence =>
          // A sequence condition's flag is its last step's.
          val (df2, passed) = anchorChain(cur, s.steps, s"__c${i}", s.maxDuration)
          cur = df2.withColumn(name, passed.last)
      }
      name
    }
    val relCol = relation match {
      case Some(rel) => compileRelation(rel)
      case None      => condCols.map(col).reduce(_ && _) // default: AND over all
    }
    cur.filter(relCol).select(outCols.map(col): _*)
  }

  /** Rows of `rows` whose group id is (`left_semi`) or is not
    * (`left_anti`) in column `key` of the group-sized set `gids` — the
    * routed plans' way back from a matched-gid set to the corpus rows.
    *
    * Stage boundary ON the gid set (measured at 250M rows, r13):
    * Catalyst's static size estimate for the aggregation inherits the
    * candidate shuffle's bytes, so without a materialized stage here the
    * join plans as a sort-merge join — a 250M-row sort of the fact side
    * landing in the same stage as the aggregator's group-buffer merge:
    * intermittent UNABLE_TO_ACQUIRE_MEMORY at the 8g default heap, 23-28s
    * when it survives. With the boundary, AQE reads the stage's RUNTIME
    * stats (group-sized, usually tiny) and converts the join to
    * broadcast: the fact-side SORT disappears (the initial plan's
    * single-join-column shuffle write still runs — AQE reads it back
    * locally — which is the remaining gap to the bucketed layout):
    * 16.6-17.7s, 4/4 clean at the default heap. The repartition must be
    * ROUND-ROBIN — a hash-repartition on the gid is elided as redundant
    * (the aggregation's output already carries that partitioning), so no
    * stage would form. It moves only the gid set, and a genuinely huge
    * set just keeps the SMJ, whose gid-hash exchange AQE stacks on top.
    *
    * PLAIN equality, deliberately (measured at 250M rows, r13): a
    * null-safe <=> join keys the probe on (coalesce(gid), isnull(gid)),
    * which costs ~2× wall on the 250M probe side (41s vs 17s) and
    * misaligns the join's output partitioning with the summary's
    * count_distinct. Null-gid semantics: a null gid never joins back, so
    * a semi-join DROPS null-gid groups — exactly the REFERENCE's own
    * behavior (pandas groupby dropna=True, query_engine.py:143,237) —
    * and an anti-join KEEPS them (class doc's divergence note). The
    * catalog's registration validation rejects null gids outright, so
    * neither edge is reachable through the serving surface. */
  private def semiJoinGids(rows: DataFrame, gids: DataFrame, key: String,
                           how: String): DataFrame = {
    val shuffleN = rows.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt
    val g = gids.repartition(shuffleN)
    rows.join(g, rows(gid) === g(key), how)
  }

  /** Size gate for routing (measured crossover, BENCH.md §"Sequence at
    * reference scale", r13): Catalyst's plan-time size estimate for the
    * query input, compared against `routingMinBytes`. File-backed sources
    * estimate as their file bytes; an RDD-backed or otherwise unknown-size
    * source (LogicalRDD) estimates as `spark.sql.defaultSizeInBytes`
    * (effectively infinite), so unknown sizes route — the scale-safe
    * default. A LocalRelation (`Seq(...).toDF`) is the exception: its
    * stats are computed from the actual in-memory data, so small literal
    * frames keep the window plan like any other measured-small input.
    * Plan-time only: forcing `optimizedPlan` runs the optimizer once,
    * never a job. */
  private def bigEnough(df: DataFrame): Boolean =
    routingMinBytes <= 0L ||
      df.queryExecution.optimizedPlan.stats.sizeInBytes >= routingMinBytes

  /** Type gate for routing to [[graft.operators.SequenceMatch]] (its
    * enforced contract): gid integral or string, ts integral. Anything
    * else — float/decimal ts, decimal gid, a TIMESTAMP ts — stays on the
    * window plan, which compares those natively. */
  private def fastPathTypesOk(df: DataFrame): Boolean = {
    import org.apache.spark.sql.types._
    // EXACT name match, deliberately: SequenceMatch resolves the gid via
    // case-sensitive StructType.fieldIndex, so routing a case-mismatched
    // spec would throw mid-plan. A mismatch (possible only for direct
    // library callers — registration requires exact names) falls to the
    // window plan, whose col() lookups use Spark's case-insensitive
    // resolver — correct, just not fast-pathed. This also means the
    // survivor gate's gid classification below always sees an
    // exact-matching schema field; its case-insensitive fallback is
    // defense in depth against the two lookups drifting apart.
    def tpe(c: String) = df.schema.find(_.name == c).map(_.dataType)
    tpe(gid).exists {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    } && tpe(ts).exists {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  /** Parse the JSON query text and plan it. */
  def runJson(df: DataFrame, json: String): PlannedQuery =
    run(df, graft.query.QueryParser.parse(json))

  /** Dataset-aware validation (reference query_validator.py phase 2), then
    * plan over the used-columns projection (the reference's used_columns
    * pruning — Catalyst would prune anyway; the explicit select keeps every
    * derived plan minimal and fails fast on bad queries). */
  def runValidated(df: DataFrame, q: GraftQuery): PlannedQuery = {
    graft.query.SchemaValidator.validate(df.schema, spec, q)
    val used = graft.query.SchemaValidator.usedColumns(spec, q)
    // Keep the dt partition column through the projection when a timeframe
    // is present, or the derived partition pruning in run() has nothing to
    // bind to.
    val usedPlus =
      if (q.timeframe.nonEmpty && df.columns.contains("dt") && !used.contains("dt"))
        used :+ "dt"
      else used
    run(df.select(usedPlus.map(col): _*), q)
  }

  // ------------------------------------------------------------------ filters

  /** Row-level predicate with pandas null semantics (see class doc). */
  def compileFilter(f: RowFilter): Column = {
    val c = col(f.column)
    val v: Column = f.value match {
      case Scalar.Num(d) => if (d.isValidLong) lit(d.toLong) else lit(d.toDouble)
      case Scalar.Str(s) => lit(s)
      case Scalar.Bool(b) => lit(b)
    }
    f.op match {
      case FilterOp.Eq          => coalesce(c === v, lit(false))
      case FilterOp.Neq         => coalesce(c =!= v, lit(true))   // NaN != x is True in pandas
      case FilterOp.Gt          => coalesce(c > v, lit(false))
      case FilterOp.Gte         => coalesce(c >= v, lit(false))
      case FilterOp.Lt          => coalesce(c < v, lit(false))
      case FilterOp.Lte         => coalesce(c <= v, lit(false))
      case FilterOp.Contains    => f.value match {
        case Scalar.Str(s) => coalesce(c.contains(lit(s)), lit(false))
        case _             => throw new IllegalArgumentException("contains requires a string value")
      }
      case FilterOp.NotContains => f.value match {
        case Scalar.Str(s) => !coalesce(c.contains(lit(s)), lit(false)) // null → true, as pandas ~contains(na=False)
        case _             => throw new IllegalArgumentException("not contains requires a string value")
      }
      case FilterOp.Regex       => f.value match {
        case Scalar.Str(s) => coalesce(c.rlike(s), lit(false))
        case _             => throw new IllegalArgumentException("regex requires a string value")
      }
    }
  }

  private def conj(filters: Seq[RowFilter]): Column =
    filters.map(compileFilter).reduce(_ && _)

  private def cmp(c: Column, op: CmpOp, v: Column): Column = op match {
    case CmpOp.Eq  => c === v
    case CmpOp.Neq => c =!= v
    case CmpOp.Gt  => c > v
    case CmpOp.Gte => c >= v
    case CmpOp.Lt  => c < v
    case CmpOp.Lte => c <= v
  }

  // --------------------------------------------------------------- conditions

  /** Group-level boolean for a filters+target condition, attached per-row via
    * a window aggregate (one pass; reference C1-C4, engine/query_engine.py:139-178). */
  private def filterConditionCol(c: Condition.Filters): Column = {
    val pred = conj(c.filters)
    val matchCount = sum(when(pred, 1L).otherwise(0L)).over(w)
    c.target match {
      case Target.Count(op, value) =>
        val base = cmp(matchCount, op, lit(value))
        // Without includeZero, groups with zero matching rows never satisfy the
        // target (the reference's groupby-on-filtered-rows simply omits them);
        // with includeZero they're compared like any other (reference C3).
        if (c.includeZero) base else base && (matchCount > 0)
      case Target.Sum(column, op, value) =>
        // pandas groupby().sum() skips NaN and yields 0.0 for an all-null
        // matched group, so the group still participates in the comparison.
        // The sum keeps the column's natural type (decimal stays decimal, so
        // callers can pre-cast to decimal for exact, order-independent sums).
        val s = coalesce(sum(when(pred, col(column))).over(w), lit(0))
        (matchCount > 0) && cmp(s, op, lit(value))
    }
  }

  /**
   * Chained-min-timestamp anchors (reference C5,
   * engine/query_engine.py:217-249), shared by sequence conditions and
   * funnels: step 0 anchor = min ts of rows matching step-0 filters; step
   * i anchor = min ts of rows matching step-i filters with ts STRICTLY
   * greater than the previous anchor (same-timestamp events do not
   * advance the funnel — reference query_engine.py:233). Returns the
   * frame with one anchor column per step (`<prefix>_m<j>`, or
   * `<prefix>_x<j>` for a negated step) and, per step, the flag "every
   * step up to here passed": step j's flag holds when its anchor exists.
   *
   * Extensions beyond reference behavior (schema'd there but unimplemented —
   * SURVEY.md §2.5): `rowFound:false` steps require NO matching row after the
   * previous anchor (anchor carries over); `maxDuration` requires
   * anchor − firstAnchor <= d, cut per step on the chain so far.
   *
   * Emits one window aggregate per step over the same `partitionBy(gid)`
   * spec — Catalyst plans a single exchange for the whole stack.
   */
  private def anchorChain(
      df0: DataFrame,
      steps: Seq[SequenceStep],
      prefix: String,
      maxDuration: Option[Long]): (DataFrame, IndexedSeq[Column]) = {
    var cur = df0
    var anchor: Option[String] = None     // column holding previous step's min ts
    var firstAnchor: Option[String] = None
    var passedSoFar: Column = lit(true)
    val flags = steps.zipWithIndex.map { case (step, j) =>
      val pred = conj(step.filters)
      val afterPrev = anchor match {
        case Some(a) => pred && col(ts) > col(a)
        case None    => pred
      }
      if (step.rowFound) {
        val mcol = s"${prefix}_m$j"
        cur = cur.withColumn(mcol, min(when(afterPrev, col(ts))).over(w))
        passedSoFar = passedSoFar && col(mcol).isNotNull
        anchor = Some(mcol)
        if (firstAnchor.isEmpty) firstAnchor = Some(mcol)
      } else {
        val xcol = s"${prefix}_x$j"
        cur = cur.withColumn(xcol, max(when(afterPrev, lit(1))).over(w))
        passedSoFar = passedSoFar && col(xcol).isNull
        // anchor unchanged: a negated step does not advance the clock
      }
      (maxDuration, anchor, firstAnchor) match {
        case (Some(d), Some(last), Some(first)) if last != first =>
          passedSoFar && (col(last) - col(first) <= lit(d))
        case _ => passedSoFar
      }
    }
    (cur, flags.toIndexedSeq)
  }

  private def compileRelation(rel: Relation): Column = rel match {
    case Relation.Ref(i)    => col(s"__cond_$i")
    case Relation.And(l, r) => compileRelation(l) && compileRelation(r)
    case Relation.Or(l, r)  => compileRelation(l) || compileRelation(r)
  }

  // ------------------------------------------------------------- aggregations

  private def aggName(a: Aggregation): String =
    a.name.getOrElse(s"${a.column}_${a.atype.token}")

  /**
   * One aggregation over a row set (reference A1-A7,
   * engine/query_engine.py:61-67,251-292). Per-value aggregations return
   * exact global top-K ordered by the measure desc, value asc (deterministic
   * tie-break) — exact where the reference's per-part grace-factor trim is
   * approximate (SURVEY.md §2.4 A7), and Spark's partial aggregation already
   * provides the network win the trim was for.
   */
  def runAggregation(rows: DataFrame, a: Aggregation): DataFrame = {
    val c = col(a.column)
    a.atype match {
      case AggType.Count =>
        rows.agg(count(c).as("value")) // counts non-null values, like pandas notnull().sum()
      case AggType.CountPerValue =>
        rows.groupBy(c.as("value")).agg(count(lit(1)).as("count"))
          .orderBy(desc("count"), asc("value")).limit(a.top)
      case AggType.GroupsPerValue =>
        rows.groupBy(c.as("value")).agg(count_distinct(col(gid)).as("groups"))
          .orderBy(desc("groups"), asc("value")).limit(a.top)
      case AggType.SumPerValue =>
        // Result is always double; callers wanting bit-exact distributed sums
        // pre-cast the measure column to decimal (exact partial aggregation,
        // order-independent) and the final cast to double is deterministic.
        rows.groupBy(c.as("value"))
          .agg(sum(col(a.otherColumn.get)).cast("double").as("sum"))
          .orderBy(desc("sum"), asc("value")).limit(a.top)
      case AggType.MeanPerValue =>
        // Correct distributed mean as exact-sum / count — the reference's
        // cross-part reduce of per-part means is statistically wrong
        // (tasks/query.py:84-93); we deliberately diverge (SURVEY.md §2.4 A5).
        // sum-then-single-divide (vs avg's running mean) is also
        // order-independent when the input is decimal.
        val o = col(a.otherColumn.get)
        rows.groupBy(c.as("value"))
          .agg((sum(o).cast("double") / count(o)).as("mean"))
          .orderBy(desc("mean"), asc("value")).limit(a.top)
    }
  }

  // ------------------------------------------------------------------- funnel

  /**
   * Funnel (reference F1-F4, engine/query_engine.py:294-321): over the rows of
   * condition-matching groups, compute per-step passed flags with the same
   * chained-window machinery, then aggregate all steps in ONE pass: per
   * group its row count and each step's flag, then per step the groups
   * and rows whose flag holds, unpivoted to (step, step_groups, step_rows)
   * rows.
   */
  private def planFunnel(rows: DataFrame, f: Funnel): (Option[DataFrame], Seq[(String, DataFrame)]) = {
    val (cur, stepPassed) = anchorChain(rows, f.steps, "__f", f.maxDuration)
    val n = f.steps.size
    val flagged = stepPassed.zipWithIndex.foldLeft(cur) { case (d, (p, j)) =>
      d.withColumn(s"__f_p$j", p)
    }
    // Every step flag is constant within a group, so count per group
    // first (each flag, and the group's rows), then sum over the groups:
    // the group-by keeps the window's partitioning, where one distinct
    // count per step would plan an Expand of (steps + 1)× the rows and a
    // shuffle of it. A null gid is one group here, as in the window: its
    // rows count, but not as a group, as count_distinct skips it.
    val perGroup = flagged.groupBy(col(gid)).agg(count(lit(1)).as("__n"),
      (0 until n).map(j => max(col(s"__f_p$j")).as(s"__p$j")): _*)
    val funnelDf = graft.operators.SequenceMatch.stepCounts(perGroup, n)(
      j => count(when(col(s"__p$j") && col(gid).isNotNull, lit(1))),
      // coalesce: sum over an EMPTY matched set is NULL, but a funnel
      // over zero rows counts zero (reference: per-part ints, empty
      // part → 0) — and the serving JSON reads these as longs
      // (r16 fuzz-caught: ResultJson crashed on the NULL).
      j => coalesce(sum(when(col(s"__p$j"), col("__n"))), lit(0L)))

    val origCols: IndexedSeq[Column] = rows.columns.map(col).toIndexedSeq
    val stepAggs: Seq[(String, DataFrame)] = for {
      j <- 0 until n
      a <- f.stepAggregations
    } yield s"step${j}_${aggName(a)}" ->
      runAggregation(flagged.filter(col(s"__f_p$j")).select(origCols: _*), a)
    val endAggs: Seq[(String, DataFrame)] = f.endAggregations.map { a =>
      s"end_${aggName(a)}" ->
        runAggregation(flagged.filter(col(s"__f_p${n - 1}")).select(origCols: _*), a)
    }
    (Some(funnelDf), stepAggs ++ endAggs)
  }

  /**
   * The ROUTED funnel plan (r14): counts from
   * [[graft.operators.SequenceMatch.funnelCounts]] exactly as the r13
   * counts-only routing, and step/end aggregations from per-step
   * survivor joins against the same candidate pass's max-step table —
   * instead of the window plan's per-row flags.
   *
   * Step flags are GROUP-constant in the window plan (every flag is an
   * aggregate over partitionBy(gid)), so "rows where step j passed" is
   * exactly "all rows of groups whose greedy chain reaches step j" — a
   * group-sized left-semi join of the corpus against `maxStep >= j`
   * ([[semiJoinGids]], whose stage boundary lets AQE broadcast the set).
   * k aggregations cost k group-sized joins + ONE shared candidate pass
   * (the max-step table is Caches-retained when aggregations exist — see
   * the body comment) instead of k full window stacks; the window plan
   * re-runs its whole sort+window stack per aggregation frame, which is
   * what the measured A/B punishes (BENCH.md §"Funnel with step/end
   * aggregations": 1.28× plain, 1.43× bucketed, 3.4× under a 30%-hot
   * group, all at 250M rows).
   *
   * LEADING NEGATED steps invert the join: a group with NO row matching
   * any step is ABSENT from the candidate table yet passes every step
   * before the first rowFound one (nothing witnesses against it) — for
   * those steps the survivors are everyone EXCEPT groups witnessed to
   * fail (present with maxStep < j), a left-ANTI join against the
   * equally group-sized failed set. Null-gid caveat: an anti-join's null
   * keys never MATCH, so this branch KEEPS null-gid rows unconditionally —
   * the opposite edge of the semi-join branch, which drops them (class
   * doc's divergence note). Unreachable through the serving surface: the
   * catalog rejects null gids at registration.
   */
  private def routedFunnel(rows: DataFrame, f: Funnel): (Option[DataFrame], Seq[(String, DataFrame)]) = {
    val n = f.steps.size
    val absentMs = f.steps.indexWhere(_.rowFound) - 1
    // Every output frame — counts + each step/end aggregation — derives
    // from the SAME max-step table, but frames are collected as separate
    // actions, so without a cache each would re-run the whole candidate
    // pass over the corpus (measured r14, bucketed 250M: 5 frames paid
    // ~13s each where the shared pass is ~6s once). With aggregations
    // present, persist the GROUP-SIZED table via Caches.retain — the
    // serving surfaces (ApiServer per request, Bench/Verify per query)
    // drain it; the cache sits BELOW each frame's semiJoinGids stage
    // boundary, so AQE still broadcasts from runtime stats per frame. A
    // counts-only funnel keeps the exact r13 plan: one frame, nothing to
    // share, no cache side-effect.
    val hasAggs = f.stepAggregations.nonEmpty || f.endAggregations.nonEmpty
    val msBase = graft.operators.SequenceMatch.maxStepTable(
      rows, gid, ts, f.steps, f.maxDuration)
    val ms = if (hasAggs) graft.util.Caches.retain(msBase) else msBase
    val funnelDf = graft.operators.SequenceMatch.funnelCounts(
      rows, gid, ts, f.steps, f.maxDuration,
      precomputedMaxStep = if (hasAggs) Some(ms) else None)
    def survivors(j: Int): DataFrame =
      if (j <= absentMs)
        semiJoinGids(rows, ms.where(col("__max_step") < j)
          .select(col("g").as("__fn_gid")), "__fn_gid", "left_anti")
      else
        semiJoinGids(rows, ms.where(col("__max_step") >= j)
          .select(col("g").as("__fn_gid")), "__fn_gid", "left_semi")
    val stepAggs: Seq[(String, DataFrame)] = for {
      j <- 0 until n
      a <- f.stepAggregations
    } yield s"step${j}_${aggName(a)}" -> runAggregation(survivors(j), a)
    val endAggs: Seq[(String, DataFrame)] = f.endAggregations.map { a =>
      s"end_${aggName(a)}" -> runAggregation(survivors(n - 1), a)
    }
    (Some(funnelDf), stepAggs ++ endAggs)
  }
}

object QueryEngine {
  /** Auto-routing size gate default: 32 MB of Catalyst-estimated input.
    * MEASURED crossover (r13, 6-step selective sequence, local[32],
    * back-to-back): at 8 MB / 1M rows the window plan wins 1.2×
    * (1.37s vs 1.63s — the typed aggregation's fixed overhead); at
    * 51 MB / 10M rows the aggregator already wins 1.25× (2.21s vs
    * 2.75s), growing to 1.5× at 50M and 1.9× at 250M rows. 32 MB sits
    * between the brackets; the asymmetry is deliberate — routing too
    * small costs a fixed ~0.3s, windowing too big costs a factor that
    * grows with the corpus. Unknown-size sources (in-memory frames)
    * estimate effectively infinite and route. */
  val DefaultRoutingMinBytes: Long = 32L << 20

  /** Survivor-sharing broadcast gate (routed sequence fold, r15; byte-
    * aware for string gids r16): the matched-gid set is at most the
    * dataset's registered group count, so a known count under these caps
    * makes the explicit broadcast hint safe by construction. Integral
    * gids: 64M × 8 B ≈ 512 MB worst-case broadcast — heavy but well
    * under Spark's 8 GB hard cap and sized for real executors. String
    * gids carry unbounded values: with the registration's max-id-bytes
    * stat the gate bounds numGroups × (gidMaxBytes +
    * [[BroadcastRowOverheadBytes]]) by the same 512 MB budget
    * ([[SurvivorShareMaxBytes]]); without it, an 8× tighter count cap
    * (~50-byte ids stay under ~400 MB — the documented assumption a
    * stat-less library caller accepts by passing numGroups for a string
    * gid). Over the gate (or numGroups unknown), the engine keeps the
    * r14 plan — per-frame AQE-converted semi-joins — which degrades
    * gracefully instead of failing on a giant broadcast. */
  val SurvivorShareMaxGroups: Long = 64L * 1000 * 1000
  val SurvivorShareMaxStringGroups: Long = 8L * 1000 * 1000
  val SurvivorShareMaxBytes: Long = 512L << 20
  /** Per-row overhead of a single-string-column UnsafeRow in a broadcast
    * hash relation: 8 B null bitmap + 8 B offset/size word + padding to
    * 8 B, rounded up. */
  val BroadcastRowOverheadBytes: Long = 24L

  /** Plan-routing policy (class doc §"Fast-path routing"). */
  sealed trait Routing
  object Routing {
    /** Route shape/type-compatible sequence conditions and counts-only
      * funnels to the [[graft.operators.SequenceMatch]] aggregator
      * (measured 2.2-2.8× at 250M rows, 10× under 30%-hot skew for the
      * funnel); the window plan remains the general fallback. Default. */
    case object Auto extends Routing
    /** Always plan the chained-window stack ([[QueryEngine.withWindowPlan]]). */
    case object WindowOnly extends Routing
  }
}
