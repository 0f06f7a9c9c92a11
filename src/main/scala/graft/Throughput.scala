package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{DatasetSpec, PlannedQuery, QueryEngine}
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
 * rows/s/core for a like-for-like comparison. The other shapes of [[Mode]]
 * run the engine's sequence and funnel plans at the same scale; every one
 * plans through `QueryEngine.runValidated`, as the server does.
 *
 * Args: replicas (default 500), mode (default `plain`), and for `skew`
 * the hot percent (default 10) and a comma-separated shape filter.
 */
object Throughput extends Probe.Body {

  /** A parsed mode, `<shape>[-routed][-stringgid][-bucketed]` (the bare
    * `bucketed` is `plain-bucketed`). Shapes: `plain` (the empty query —
    * the BASELINE.md comparison), `funnel` (fr_funnel's 3-step
    * value-filtered funnel), `funnel-agg` (the same funnel with one step
    * and one end aggregation), `sequence` (a 6-step selective sequence
    * condition), `sequence-agg` (that sequence with two aggregations) and
    * `skew` (a set of shapes under a degenerate hot group, see `run`).
    * `-routed` plans on the routed engine (threshold 0), else the window
    * plan is pinned; `-stringgid` keys the query by a derived
    * non-numeric string gid "u<id>"; `-bucketed` reads the corpus
    * bucketed by user id. `plain` and `skew` take neither `-routed` nor
    * `-stringgid` (the empty query has nothing to route, and the skew set
    * holds both plans), and `-stringgid` never goes with `-bucketed`: the
    * table is bucketed by the LONG id, so a string-gid query over it gains
    * nothing and the layout label would mislead. */
  private[graft] final case class Mode(shape: String, routed: Boolean,
                                       stringGid: Boolean, bucketed: Boolean)

  private val ModeRe =
    "(plain|funnel|funnel-agg|sequence|sequence-agg|skew)(-routed)?(-stringgid)?(-bucketed)?".r

  /** Unknown modes fail loudly (r13, the DedupScale flag fix's sibling):
    * a typo like "seqence" once fell through every prefix test and
    * silently ran the EMPTY-query probe under the intended label. */
  private[graft] def parseMode(mode: String): Mode = {
    val m = (if (mode == "bucketed") "plain-bucketed" else mode) match {
      case ModeRe(shape, r, sg, b) => Mode(shape, r != null, sg != null, b != null)
      case _ => throw new IllegalArgumentException(
        s"unknown mode '$mode' — expected <shape>[-routed][-stringgid][-bucketed], " +
          "shape one of plain, funnel, funnel-agg, sequence, sequence-agg, skew")
    }
    require(!(m.stringGid && m.bucketed),
      s"mode '$mode': -stringgid never goes with -bucketed (the table is bucketed by the long id)")
    require(!((m.routed || m.stringGid) && Set("plain", "skew")(m.shape)),
      s"mode '$mode': ${m.shape} takes neither -routed nor -stringgid")
    m
  }

  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val args = p.args
    val replicas = args.headOption.map(_.toInt).getOrElse(500)
    val mode = parseMode(if (args.length > 1) args(1) else "plain")
    val cpus = p.cpus
    // Every timed shape: one warm run, then the faster of two, each run's
    // per-request caches drained outside its measurement — without the
    // drain, Spark's plan-matching CacheManager would hand run N+1 the
    // candidate-pass cache run N materialized, and the timed runs would
    // measure a warm cross-request cache no serving path keeps.
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
    def seqQ(steps: Seq[SequenceStep], aggs: Seq[Aggregation]) =
      GraftQuery(None, Seq(Condition.Sequence(None, steps, None)), None, aggs, None)

    // Every shape plans through QueryEngine.runValidated, as the server
    // does: the window plan pinned, or the routed engine with the size
    // gate off (the probe measures the ROUTED plan at whatever replica
    // count the caller picked) and the registration stats ApiServer
    // passes — numGroups (the replicated corpus has ~1.5k distinct users
    // per replica of sf0.1 events), and for a string gid its max byte
    // length ("u" + up to 10 digits: ids reach ~1e9 at 1000 replicas),
    // which the survivor-sharing broadcast gate reads.
    def engine(routed: Boolean, gidCol: String = "user_id"): QueryEngine = {
      val spec = DatasetSpec(gidCol, "ts", numGroups = Some(1500L * replicas),
        gidMaxBytes = if (gidCol == "user_id") None else Some(11L))
      if (routed) new QueryEngine(spec).withRoutingThreshold(0)
      else new QueryEngine(spec).withWindowPlan
    }

    // The frames of a plan a probe collects, in sequence — a real query's
    // full result: the funnel (else the summary) and every aggregation.
    def outputs(pq: PlannedQuery): Seq[DataFrame] =
      pq.funnel.map(Seq(_)).getOrElse(Seq(pq.summary)) ++
        pq.aggregations.map(_._2) ++ pq.funnelAggregations.map(_._2)

    // Exchange count from the FINAL adaptive plan of executed frames (the
    // Initial Plan section would double-count).
    def exchanges(frames: Seq[DataFrame]): Int = frames.map { f =>
      "(?m)Exchange".r.findAllIn(
        f.queryExecution.executedPlan.toString.split("== Initial Plan ==").head).size
    }.sum

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

    // "-bucketed": the same corpus bucketed by group id — the
    // engine-native analog of the data invariant the reference REQUIRES
    // (each group lives in exactly one part, registration_job.py:252-272),
    // which is what lets its empty query sum per-part nunique with no
    // cross-worker exchange. On the bucketed table Catalyst knows the
    // scan's hash partitioning, so the distinct-groups aggregation and the
    // window stack plan with NO 250M-row shuffle either: like-for-like with
    // the reference's own layout assumption, while the plain-parquet layout
    // stays the honest no-assumptions comparison.
    val bucketed = mode.bucketed
    val skewMode = mode.shape == "skew"
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

    if (skewMode) {
      // The fr window stack under a degenerate hot group: remap a fraction
      // of all rows (3rd arg, percent, default 10) onto ONE user id —
      // Window.partitionBy(gid) necessarily lands the hot group in a single
      // task, and this measures that bound (BENCH.md §SkewScale) beside the
      // routed plans and the two skew operators.
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
      def frames(routed: Boolean, q: GraftQuery): () => Unit = () =>
        outputs(engine(routed).runValidated(skewed, q)).foreach(_.collect())
      val countTargetQ = GraftQuery(None,
        Seq(Condition.Filters(None,
          Seq(RowFilter("event_type", FilterOp.Eq, Scalar.Str("purchase")),
            RowFilter("value", FilterOp.Gt, Scalar.Num(100))),
          Target.Count(CmpOp.Gte, 3), includeZero = false)), None, Nil, None)
      val shapes: Seq[(String, () => Unit)] = Seq(
        // The window stack: the funnel and a C1 count target.
        "fr_funnel" -> frames(routed = false, funnelQ),
        "fr_count_target" -> frames(routed = false, countTargetQ),
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
        // that pays the full 5.2x serialization above. Planned by `run`:
        // the cap's row-id column is not a query column, so the
        // used-columns projection of runValidated would drop it.
        "fr_funnel_capped" -> (() => {
          engine(routed = false).capGroupRows(100000, "event_id")
            .run(skewed, funnelQ).funnel.get.collect()
          ()
        }),
        // The routed counts-only funnel (funnelCounts) under the hot
        // group: the window funnel serializes the bot's full share into
        // one task's sort; funnelCounts bounds the bot's single merge to
        // its CANDIDATE rows and counts the rest algebraically.
        "fr_funnel_routed" -> frames(routed = true, funnelQ),
        // r14 head-to-head: the 3-step funnel WITH one step aggregation
        // and one end aggregation — the shape that always paid the window
        // stack before routedFunnel. Wall is funnel counts + 3 step-agg
        // frames + 1 end-agg frame collected in sequence (a real query's
        // full result), window plan...
        "fr_funnel_agg" -> frames(routed = false, funnelAggQ),
        // ...vs the ROUTED plan: funnelCounts for the counts + per-step
        // survivor joins against the max-step table for each aggregation
        // frame.
        "fr_funnel_agg_routed" -> frames(routed = true, funnelAggQ),
        // The ROUTED sequence + 2 aggregations (3 frames over the shared
        // survivors: numGroups admits the broadcast gate) under the hot
        // group: the bot's 30% of the corpus matches, so the retained
        // survivor table is ~30% of all rows — the worst case for caching
        // the semi-join output instead of re-scanning per frame (r15).
        "fr_sequence_agg_routed" -> frames(routed = true,
          seqQ(Seq(step("signup"), step("view"), step("click")), seqAggs)),
        // The routed summary-only sequence under the hot group: only
        // step-matching rows (~7% here) reach the bot group's single
        // merge, so its sort is bounded by the bot's CANDIDATE rows — the
        // skew story the SequenceMatch scaladoc claims, measured.
        "fr_sequence_routed" -> frames(routed = true, seqQ(funnel3, Nil)))
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
    } else {
      // "-stringgid" derives the non-numeric "u<id>" (r12: the aggregator
      // keys strings natively). Results must equal the long-gid runs
      // exactly (representation invariance at 250M); the wall delta
      // prices string keys in the window sort / aggregation hash map.
      val (sdf, gidCol) =
        if (mode.stringGid)
          (df.withColumn("uid_s", concat(lit("u"), col("user_id").cast("string"))), "uid_s")
        else (df, "user_id")
      val eng = engine(mode.routed, gidCol)
      val (q, label) = mode.shape match {
        case "plain"        => (GraftQuery.empty, "empty")
        case "funnel"       => (funnelQ, "funnel3")
        case "funnel-agg"   => (funnelAggQ, "funnel3-agg")
        case "sequence"     => (seqQ(steps6, Nil), "sequence6")
        case "sequence-agg" => (seqQ(steps6, seqAggs), "sequence6-agg")
      }
      val rows = df.count()
      val ((fs, out), stats) = best {
        val fs = outputs(eng.runValidated(sdf, q))
        (fs, fs.map(_.collect().toSeq))
      }
      val plan = label +
        (if (mode.routed) "-routed" else if (mode.shape == "plain") "" else "-window") +
        (if (mode.stringGid) "-stringgid" else "")
      val shapeFields: Seq[(String, Any)] = mode.shape match {
        case "plain" => Seq("groups" -> out.head.head.getLong(0))
        case "funnel" => Seq("steps" -> out.head.sortBy(_.getInt(0))
          .map(r => Seq(r.getInt(0), r.getLong(1), r.getLong(2))))
        case "sequence" => Seq("matching_groups" -> out.head.head.getLong(0),
          "matching_group_rows" -> out.head.head.getLong(1))
        case _ => Nil
      }
      p.emit(plan, stats, Seq("rows" -> rows, "cores" -> cpus,
        "rows_per_sec_per_core" -> perCore(rows, stats),
        "exchanges" -> exchanges(fs), "layout" -> layout) ++ shapeFields: _*)
    }
  }
}
