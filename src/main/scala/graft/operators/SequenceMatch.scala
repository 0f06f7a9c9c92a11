package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.query.QueryAst.SequenceStep

/**
 * Single-pass sequence matching via a typed [[Aggregator]] — the SURVEY
 * §2.8 alternative to the engine's chained-window plan (QueryEngine
 * anchorChain). Identical semantics: step 0 anchor = min ts of step-0
 * rows; step i anchor = min ts of step-i rows STRICTLY after anchor i-1;
 * a group matches when the last anchor exists.
 *
 * Why an aggregator: the window plan shuffles and sorts EVERY row of every
 * group, then runs one window pass per step. This aggregator reduces each
 * partition to per-step sorted timestamp lists (only rows matching some
 * step survive the partial aggregation — highly selective funnels shuffle
 * a tiny fraction of the data and skip the sort entirely), then resolves
 * the anchor chain once per group at merge time. Rows matching no step
 * contribute nothing. Trade-off: buffer memory is O(matching rows per
 * group per step); for dense steps the window plan is the better choice —
 * both are exposed, benchmarked, and semantically interchangeable.
 *
 * WHEN TO USE WHICH (measured at 250M rows / 3.75M groups, 6 selective
 * steps, local[32] — BENCH.md §"Sequence at reference scale"): with the
 * flat-buffer shape below this aggregator wins on BOTH layouts — 13.5s
 * vs the window stack's 30.0s on plain parquet (2.2×), 8.0s vs 22.8s
 * bucketed (2.8×) — the window plan pays a per-partition SORT of all
 * 250M rows plus six window passes even when bucketing removes its
 * exchange, while this path sorts nothing and scans only the ~10%
 * candidate rows. The window plan stays the engine DEFAULT because it
 * covers all-negated sequences (which this path rejects — groups with
 * no matching rows satisfy them but never reach a candidate
 * aggregation; mixed negated steps ARE supported, one scalar max per
 * step), feeds per-row flags
 * to downstream aggregations, and wins at small inputs (sf0.1: typed
 * aggregation's fixed overhead makes this ~20% slower). Rule: reach for
 * SequenceMatch on selective multi-step funnels at scale, either
 * layout.
 *
 * STRING group ids (r12, measured at the same 250M probe): keyed
 * natively, identical results to the long-gid run, but string keys
 * cost this path ~65% (27.6s vs 16.7s — string hash/compare in the
 * candidate shuffle and aggregation map) while the window plan is
 * roughly gid-type-insensitive (32.6s) — the aggregator still wins on
 * string gids, at a ~1.18× margin instead of ~1.8×. Prefer integral
 * ids at scale when the dataset offers both.
 *
 * Hot-group resilience (measured, same probe at 30%-hot, r11 buffers):
 * because only candidate rows reach a group's merge, a bot group
 * holding 30% of the corpus degrades this path ~1.6× (15-16s → 25-26s)
 * where the window stack degrades 5.2× — the candidate filter is also
 * the skew guard, as long as the bot's rows mostly DON'T match the
 * steps.
 */
object SequenceMatch {

  /** Per-group buffer: ONE flat primitive long array of (ts, step) pairs
    * plus a fill count — 16 bytes per candidate element and a single
    * array header per GROUP, not per step. The previous shape (one array
    * per step + a sizes array + Kryo object-graph encoding) carried
    * ~600 B of fixed overhead per group, which at reference scale
    * (250M rows / 3.75M groups — BENCH.md §"Sequence at reference
    * scale") pushed the aggregation maps past the 8 GiB default heap and
    * demanded SPARK_DRIVER_MEM=48g; with the step-0 prune below, EVERY
    * 250M-row probe — including the 3-step uniform control whose 3.75M
    * small buffers are the worst per-entry-overhead case — runs in the
    * DEFAULT 8 GiB, 2.4× faster besides (r12 margin note: the 6-step
    * probe sits at the 8g execution-memory edge when shuffle
    * partitions == cores — one of three runs hit
    * UNABLE_TO_ACQUIRE_MEMORY and passed on rerun. The edge is a
    * groups-per-task artifact: at 4× partitions the default heap is
    * 3/3 clean (~24s vs 16.7s), and real clusters run partitions >>
    * cores anyway; on one fat box prefer 12g at partitions=cores). The flat pair layout + a product
    * (UnsafeRow) encoder instead of Kryo cuts per-group overhead to one
    * object + one array and serializes as a single primitive-array
    * column — no object graph, no Kryo copy buffers. Appends double
    * capacity (amortized O(1)), so a reduce-side partial's array carries
    * up to 2× slack when serialized (the product encoder ships the full
    * array — an Aggregator can't trim before emit); merge outputs concat
    * exactly, so only they are slack-free.
    *
    * Two scalar prunes keep whole step populations out of the array:
    * - FIRST-ROWFOUND prune: the first rowFound step's anchor is the
    *   PLAIN min of its timestamps (no preceding anchor to clear), so
    *   its rows fold into the scalar running min `s0Min` (`s0Has`
    *   guards the empty case; a sentinel would collide with a
    *   legitimate Long.MaxValue timestamp). The leading step is
    *   typically a funnel's LEAST selective ("view" before "click"
    *   before "purchase"), so this removes the largest population —
    *   later rowFound steps can't prune the same way because their
    *   anchors depend on which earlier timestamps exist at finish time.
    * - NEGATED-step prune: a rowFound:false step passes iff NO matching
    *   row exists strictly after the previous rowFound anchor, which
    *   only the MAX matching timestamp can witness — one scalar per
    *   negated step (`negMax`/`negHas`, empty arrays when the sequence
    *   has none), merged by elementwise max. Negated evidence rows
    *   never enter the pair array at all. */
  final case class Buf(var data: Array[Long], var n: Int,
                       var s0Min: Long, var s0Has: Boolean,
                       var negMax: Array[Long], var negHas: Array[Boolean])

  /** Output: the highest step index the group's greedy anchor chain
    * reaches (-1 when even step 0 fails), with the per-step
    * maxDuration cut applied as the chain extends. Sequence-boolean
    * callers test `== numSteps - 1` — identical to the old Boolean
    * output because rowFound anchors are monotone in the step index, so
    * a duration cut at the final anchor implies one at no earlier anchor
    * and vice versa. Funnel callers read the whole value: step j's
    * population is every group with maxStep >= j (reference F1 prefix
    * semantics — a failed step stops the group). Negated steps follow
    * QueryEngine.anchorChain exactly: no matching row strictly after the
    * previous ROWFOUND anchor (any matching row at all when no rowFound
    * step precedes), anchor unchanged, duration clock untouched. */
  private final class SeqAgg(rowFound: Array[Boolean], maxDuration: Option[Long])
      extends Aggregator[(Long, Array[Boolean]), Buf, Int] {
    private val numSteps = rowFound.length
    private val firstFound = rowFound.indexOf(true) // >= 0 (require in caller)
    private val hasNeg = rowFound.contains(false)

    override def zero: Buf = Buf(Array.emptyLongArray, 0, 0L, false,
      if (hasNeg) new Array[Long](numSteps) else Array.emptyLongArray,
      if (hasNeg) new Array[Boolean](numSteps) else Array.emptyBooleanArray)

    override def reduce(b: Buf, row: (Long, Array[Boolean])): Buf = {
      val (ts, matches) = row
      var s = 0
      while (s < numSteps) {
        if (matches(s)) {
          if (!rowFound(s)) {
            if (!b.negHas(s) || ts > b.negMax(s)) { b.negMax(s) = ts; b.negHas(s) = true }
          } else if (s == firstFound) {
            if (!b.s0Has || ts < b.s0Min) { b.s0Min = ts; b.s0Has = true }
          } else {
            if (b.n + 2 > b.data.length)
              b.data = java.util.Arrays.copyOf(b.data, math.max(8, b.data.length * 2))
            b.data(b.n) = ts
            b.data(b.n + 1) = s.toLong
            b.n += 2
          }
        }
        s += 1
      }
      b
    }

    override def merge(a: Buf, b: Buf): Buf = {
      val out = new Array[Long](a.n + b.n)
      System.arraycopy(a.data, 0, out, 0, a.n)
      System.arraycopy(b.data, 0, out, a.n, b.n)
      a.data = out
      a.n += b.n
      if (b.s0Has && (!a.s0Has || b.s0Min < a.s0Min)) { a.s0Min = b.s0Min; a.s0Has = true }
      if (hasNeg) {
        var s = 0
        while (s < numSteps) {
          if (b.negHas(s) && (!a.negHas(s) || b.negMax(s) > a.negMax(s))) {
            a.negMax(s) = b.negMax(s); a.negHas(s) = true
          }
          s += 1
        }
      }
      a
    }

    override def finish(b: Buf): Int = {
      // The first rowFound anchor is the pruned scalar min; later
      // rowFound steps run one linear min-scan each instead of a
      // per-step sort: anchor_s = min { ts tagged s : ts > anchor }.
      // O(numSteps · candidates) per group with no allocation — cheaper
      // than sorting for sparse groups and within a small factor of it
      // for dense ones. Negated steps compare one scalar.
      var anchor = 0L
      var anchorSet = false
      var first = 0L
      var firstSet = false
      var reached = -1
      var s = 0
      while (s < numSteps) {
        if (!rowFound(s)) {
          // Fails iff a matching row exists after the previous rowFound
          // anchor (any matching row at all when none precedes).
          if (b.negHas(s) && (!anchorSet || b.negMax(s) > anchor)) return reached
        } else if (s == firstFound) {
          if (!b.s0Has) return reached
          anchor = b.s0Min; anchorSet = true
          first = b.s0Min; firstSet = true
        } else {
          var best = 0L
          var found = false
          var i = 0
          while (i < b.n) {
            val ts = b.data(i)
            if (b.data(i + 1) == s.toLong && ts > anchor &&
                (!found || ts < best)) { best = ts; found = true }
            i += 2
          }
          if (!found) return reached
          anchor = best
          // Per-step duration cut on the greedy chain (anchorChain's
          // per-step cut, applied from the second rowFound anchor on);
          // anchors are monotone, so the first failure is final for
          // every later step too.
          if (firstSet && maxDuration.exists(d => anchor - first > d)) return reached
        }
        reached = s
        s += 1
      }
      reached
    }

    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[Int] = Encoders.scalaInt
  }

  /** Group ids (column `gid`) whose rows satisfy the step sequence. Rows
    * matching no step are filtered out BEFORE the aggregation, so the
    * shuffle carries only candidate rows.
    *
    * Column contract (enforced, fails loudly): the group id must be an
    * integral or string column — the reference's int-or-string gid
    * contract (frocket registration_task_runner.py:85-92) — and the
    * timestamp must be integral (a float/decimal ts would silently
    * truncate under this path's long buffers; the engine's window plan
    * handles float timestamps natively). Both must be non-null — the
    * catalog's registration validation enforces exactly that dataset
    * contract. */
  private[graft] def matchingGroups(df: DataFrame, gidCol: String, tsCol: String,
                     steps: Seq[SequenceStep],
                     maxDuration: Option[Long] = None): DataFrame = {
    val last = steps.size - 1
    maxStepTable(df, gidCol, tsCol, steps, maxDuration)
      .where(col("__max_step") === last)
      .select(col("g").as(gidCol))
  }

  /** The validated group-id key expression: integral gids key as long,
    * string gids key natively (the reference's int-or-string contract).
    * Anything else — notably a float/decimal gid, or a type whose
    * `cast("long")` would silently null out and collapse every group
    * into one — fails loudly here instead of returning wrong answers. */
  private def gidKey(df: DataFrame, gidCol: String) = {
    import org.apache.spark.sql.types._
    df.schema(df.schema.fieldIndex(gidCol)).dataType match {
      case ByteType | ShortType | IntegerType | LongType => col(gidCol).cast("long")
      case StringType      => col(gidCol)
      case other => throw new IllegalArgumentException(
        s"SequenceMatch group id column '$gidCol' must be integral or string " +
          s"(the reference's gid contract), is ${other.simpleString} — a lossy " +
          "long cast would silently merge groups; use the engine's window plan " +
          "or cast the column explicitly first")
    }
  }

  /** Per candidate group, the highest funnel step its greedy anchor chain
    * reaches: (g, __max_step). Groups with no row matching any step are
    * absent (they never survive the pre-shuffle candidate filter) — such
    * a group's implied max-step is `steps.indexWhere(_.rowFound) - 1`:
    * it passes every LEADING negated step (nothing to witness against)
    * and fails at the first rowFound one. `g` is the gidKey form of the
    * gid (long for integral gids, native for strings). The engine's
    * routed step/end-aggregation funnel consumes this table
    * directly — step j's survivors are the groups with max-step >= j,
    * recovered by a group-sized join instead of per-row window flags.
    * Requires non-null group ids and timestamps — the catalog's
    * registration validation enforces exactly that dataset contract.
    * Gid must be integral (keyed as long) or string (keyed natively);
    * ts must be integral — both checked up front so misuse errors
    * instead of silently collapsing groups / truncating timestamps. */
  private[graft] def maxStepTable(df: DataFrame, gidCol: String, tsCol: String,
                   steps: Seq[SequenceStep],
                   maxDuration: Option[Long]): DataFrame = {
    require(steps.exists(_.rowFound),
      "an all-negated sequence is satisfied by groups with NO matching rows, " +
        "which never reach this aggregation; use the window plan")
    import org.apache.spark.sql.types._
    val tsType = df.schema(df.schema.fieldIndex(tsCol)).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(tsType),
      s"SequenceMatch timestamp column '$tsCol' must be integral, is " +
        s"${tsType.simpleString} — the long buffer would truncate a float/" +
        "decimal ts; the engine's window plan handles those natively")
    val spark = df.sparkSession
    import spark.implicits._
    val engine = new graft.engine.QueryEngine(graft.engine.DatasetSpec(gidCol, tsCol))
    val preds = steps.map(s => s.filters.map(engine.compileFilter).reduce(_ && _))
    val agg = new SeqAgg(steps.map(_.rowFound).toArray, maxDuration)
    // Drop rows matching no step pre-shuffle. Rows matching only a
    // NEGATED step survive deliberately: they are the evidence that
    // fails the step.
    val projected = df.select(
      gidKey(df, gidCol).as("g"),
      col(tsCol).cast("long").as("t"),
      array(preds.map(p => coalesce(p, lit(false))): _*).as("m"))
      .where(expr("exists(m, x -> x)"))
    df.schema(df.schema.fieldIndex(gidCol)).dataType match {
      case StringType =>
        projected.as[(String, Long, Array[Boolean])]
          .groupByKey(_._1)
          .mapValues { case (_, t, m) => (t, m) }
          .agg(agg.toColumn.name("__max_step"))
          .toDF("g", "__max_step")
      case _ =>
        projected.as[(Long, Long, Array[Boolean])]
          .groupByKey(_._1)
          .mapValues { case (_, t, m) => (t, m) }
          .agg(agg.toColumn.name("__max_step"))
          .toDF("g", "__max_step")
    }
  }

  /** Counts-only funnel twin of the engine's window-stack funnel
    * (QueryEngine.planFunnel, reference F1): per step, the number of
    * groups whose greedy anchor chain reaches that step and the total
    * rows of those groups — output (step, step_groups, step_rows),
    * schema-identical to the engine's funnel result. Semantics notes:
    * step flags are group-constant in the window plan, so step_rows is
    * the full row count of every group passing the step — here one
    * ordinary per-group count aggregate joined to the candidate pass's
    * max-step (a group-sized join, never data-sized). maxDuration
    * applies per step on the greedy chain, exactly as the window plan's
    * withDuration cut.
    *
    * Scale shape vs the window plan: no per-group sort of the full
    * corpus — one partial-aggregated count of all rows + the candidate
    * pass over step-matching rows only. A routed funnel's counts come
    * from here, and its step/end aggregations read the same max-step
    * table (QueryEngine.routedFunnel). Negated steps are supported so
    * long as at least one step is rowFound (absent groups default to passing the leading
    * negated prefix, matching the window plan). Measured at 250M rows
    * (BENCH.md §"Counts-only funnel twin"): 2.3× on the bucketed
    * layout, parity on plain parquet — and FLAT under a 30%-hot bot
    * group (14.1s vs the window funnel's 142.1s, 10×: the bot's count
    * partials compress and only its candidate rows reach one merge),
    * making this the funnel-shaped skew escape hatch alongside
    * [[graft.operators.Skew.saltedSumCount]] for C1 summaries.
    *
    * Column contract (enforced, fails loudly — same as
    * [[matchingGroups]]): gid integral or string, ts integral, both
    * non-null. A float/decimal gid or ts throws up front rather than
    * silently collapsing groups under a lossy long cast. */
  private[graft] def funnelCounts(df: DataFrame, gidCol: String, tsCol: String,
                   steps: Seq[SequenceStep],
                   maxDuration: Option[Long] = None,
                   /** A caller-precomputed [[maxStepTable]] for the SAME
                     * (df, steps, maxDuration) — the engine's routedFunnel
                     * passes its cached table so the counts frame and every
                     * step-aggregation frame share one candidate pass
                     * instead of re-running it per collected frame. */
                   precomputedMaxStep: Option[DataFrame] = None): DataFrame = {
    val n = steps.size
    val maxStep = precomputedMaxStep.getOrElse(
      maxStepTable(df, gidCol, tsCol, steps, maxDuration))
    val counts = df.select(gidKey(df, gidCol).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("__cnt"))
    // A group absent from the candidate pass has NO row matching any
    // step, so it passes every LEADING negated step (nothing to witness
    // against) and fails at the first rowFound one — default max-step
    // firstFound - 1 (-1 when step 0 is rowFound).
    val absentMs = steps.indexWhere(_.rowFound) - 1
    val joined = counts.join(maxStep, Seq("g"), "left")
      .select(coalesce(col("__max_step"), lit(absentMs)).as("__ms"), col("__cnt"))
    // Empty-input semantics must mirror planFunnel's aggregates exactly
    // (fuzz-caught, twice): count over empty = 0 for step_groups (the
    // window plan's count_distinct); and since r16 BOTH plans coalesce
    // the row sum to 0 on an empty matched set — a funnel over zero rows
    // counts zero (the serving JSON reads step_rows as a long; the r15
    // NULL crashed ResultJson, ServingFuzzSpec seed=35260868).
    stepCounts(joined, n)(
      j => count(when(col("__ms") >= j, lit(1))),
      j => coalesce(sum(when(col("__ms") >= j, col("__cnt")).otherwise(0L)), lit(0L)))
  }

  /** The funnel result frame, (step, step_groups, step_rows) one row per
    * step: one aggregate over `df` computes every step's `groups(j)` and
    * `rows(j)` expressions, then the row is unpivoted. Both funnel plans
    * (QueryEngine.planFunnel and [[funnelCounts]]) pass their own per-step
    * expressions. */
  private[graft] def stepCounts(df: DataFrame, n: Int)(
      groups: Int => Column, rows: Int => Column): DataFrame = {
    val aggExprs = (0 until n).flatMap(j =>
      Seq(groups(j).as(s"__g$j"), rows(j).as(s"__r$j")))
    val one = df.agg(aggExprs.head, aggExprs.tail: _*)
    val stepStructs = (0 until n).map { j =>
      struct(lit(j).as("step"), col(s"__g$j").as("step_groups"),
        col(s"__r$j").as("step_rows"))
    }
    one.select(explode(array(stepStructs: _*)).as("s"))
      .select(col("s.step"), col("s.step_groups"), col("s.step_rows"))
  }
}
