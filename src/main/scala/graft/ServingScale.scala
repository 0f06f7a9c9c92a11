package graft

import graft.result.JobStats

/**
 * Execution-profile crossover probe:
 *
 *   ServingScale crossover [--reps N] <dir>...
 *
 * times uncached queries of nine dashboard shapes on the three layouts a
 * registration can be served from (`graft.catalog.Catalog.load`: codegen
 * over the part files, and the interpreted profile's resident copy hashed
 * by group id and in one partition) over each events directory, e.g. the
 * query-service benchmark's generator output at several row counts. Each
 * repetition draws fresh literals, so the codegen profile compiles as a
 * first-seen query does; every layout must give the same answer. Prints a
 * table, each copy's size in the block manager, and one JSON line per
 * shape and layout (BENCH.md §"Execution profile crossover", §"One
 * interpreted profile"). The served path's end-to-end latency is
 * `perfbench`'s to measure, with an oracle check on every answer.
 */
object ServingScale extends Probe.Body {
  // The battery's serving shape: one shuffle partition per core.
  override def confs(cpus: Int) = Map("spark.sql.shuffle.partitions" -> cpus.toString)

  def run(p: Probe.Run): Unit = {
    require(p.args.headOption.contains("crossover"), Usage)
    crossover(p, p.args.tail.toList)
  }

  private val Usage = "usage: ServingScale crossover [--reps N] <events dir>..."

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
    require(dirs.nonEmpty, Usage)
    val spark = p.spark
    // A recorded size that picks each layout: no size keeps codegen's file
    // scan, the others pick the interpreted profile's two copies.
    val layouts = Seq("codegen" -> None, "hashed" -> Some(ExecutionProfile.ResidentMaxBytes),
      "one-partition" -> Some(0L))
    val labels = layouts.map(_._1)
    dirs.zipWithIndex.foreach { case (dir, i) => try {
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
      // Untimed warm-up repetitions over every layout, on literals the
      // timed ones never draw: one per directory, and `reps` more before
      // the first directory, so the process's JIT warm-up is not timed.
      for (w <- 0 until (if (i == 0) reps + 1 else 1); (_, json) <- shapes(1000 + w))
        labels.foreach(run(_, json))
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
