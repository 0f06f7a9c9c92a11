package graft.catalog

import org.apache.spark.sql.SparkSession

/**
 * How a registered dataset's queries execute, chosen from the size of its
 * registered input (the summed length of its part files, recorded at
 * registration as `RegisteredDataset.totalBytes`).
 *
 *  - [[ExecutionProfile.Codegen]]: the host session unchanged — whole-stage
 *    code generation and adaptive query execution as configured there.
 *  - [[ExecutionProfile.Interpreted]]: a child session of the host
 *    (`newSession()`, same SparkContext, cache manager and listener bus)
 *    with AQE off, whole-stage codegen off, the expression factory mode
 *    `NO_CODEGEN` and one shuffle partition, so operators and expressions
 *    evaluate interpreted. Its datasets load as a resident copy laid out
 *    by group id (`Catalog.load`): queries open no Parquet file, and their
 *    windows and per-group aggregates plan no exchange. All of a query's
 *    output frames run in its one job (`graft.result.ResultJson`). The few
 *    exchanges a plan still needs (a global aggregate's final merge, a
 *    count per value of another column, the routed plan's repartition)
 *    run one task each.
 *
 * Why a small input wants an interpreted profile: Spark inlines numeric
 * literals into generated code, so every new literal is a new class, and
 * its compiled-class cache (`spark.sql.codegen.cache.maxEntries`, a static
 * conf, 100 entries) is smaller than a dashboard's mix of shapes — the
 * classes of one shape are evicted before the shape comes back. An
 * uncached query on a 10k-row dataset compiled 7-22 Janino classes, about
 * a third of its latency; below the crossover the interpreted evaluators
 * finish the scan before codegen would have finished compiling. The cache
 * size is the hosting process's static conf, not this engine's to raise,
 * and binding literals as non-inlined references does not help because
 * shape churn still evicts (both measured: BENCH.md §"Execution profile
 * crossover").
 *
 * Why a copy laid out by group id: the per-stage and per-task costs of a
 * file scan (scheduling, a Parquet open and footer read per file, the
 * hash shuffle by group id before every window) are most of a small
 * query's time. The copy pays the scan and the shuffle once; each query
 * then evaluates every group inside the one partition that holds it, as
 * the reference evaluates it inside its one part file. Under
 * [[ExecutionProfile.ResidentMaxBytes]] the copy is one partition, and
 * from there it is one partition per core, so the parallel work still
 * runs in parallel (BENCH.md §"One interpreted profile"). Folding each
 * query's output frames into one action pays off on every profile: one
 * job and one planner pass in place of one per frame (BENCH.md §"One job
 * per served query"). The cost of the copy is memory: one per live
 * interpreted registration, which Spark's storage LRU spills to disk
 * under pressure.
 *
 * Input without a recorded size (a registration persisted before the size
 * was recorded) keeps the codegen profile.
 */
sealed abstract class ExecutionProfile(val name: String)

object ExecutionProfile {
  case object Interpreted extends ExecutionProfile("interpreted")
  case object Codegen extends ExecutionProfile("codegen")

  /** Interpreted inputs whose part files add up to fewer bytes than this
    * are copied into one partition; larger ones into one partition per
    * core, hashed by group id. Measured with `graft.Probe ServingScale
    * crossover` (BENCH.md §"One interpreted profile"): the one-partition
    * copy answered the nine dashboard shapes in 0.94× the hashed copy's
    * time at 0.95 MB and 1.13× at 1.32 MB; the constant is the two sizes'
    * geometric mean, rounded down to a multiple of 256 KiB. */
  val ResidentMaxBytes: Long = 1L << 20

  /** Inputs whose part files add up to fewer bytes than this run in
    * [[Interpreted]]. Measured with `graft.Probe ServingScale crossover`
    * (BENCH.md §"Execution profile crossover"): the parallel interpreted
    * file scan answered the nine dashboard shapes in 0.60× codegen's time
    * at 1.9 MB and 1.17× at 17 MB; the constant is the two sizes'
    * geometric mean, rounded down to whole MiB. */
  val InterpretedMaxBytes: Long = 5L << 20

  def forInput(totalBytes: Option[Long]): ExecutionProfile = totalBytes match {
    case Some(b) if b < InterpretedMaxBytes => Interpreted
    case _                                  => Codegen
  }

  // Subexpression elimination off: an interpreted projection with it on
  // resets a cache of common subexpressions on every row, even when the
  // projection has none. Union output partitioning off: `ResultJson`
  // collects a query's output frames as branches of one union, and over
  // the one-partition copy every branch is one partition, which Spark
  // would otherwise zip into a single task that computes the branches one
  // after another. Each setting alone, turned back on, slowed the
  // dashboard queries (BENCH.md §"One job per served query").
  private val InterpretedConf = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.subexpressionElimination.enabled" -> "false",
    "spark.sql.unionOutputPartitioning" -> "false",
    "spark.sql.shuffle.partitions" -> "1")

  /** The interpreted child of each host session. Weak keys: a child holds
    * no reference back, so once nothing else holds a host (the catalog's
    * memoised handles do, until their registration is replaced or
    * unregistered), its child goes with it. */
  private val children = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** The session `profile` runs in for a caller holding `spark`. The
    * interpreted child starts from the host's runtime SQL conf as it is at
    * first use, then overrides the settings above. */
  def session(spark: SparkSession, profile: ExecutionProfile): SparkSession = profile match {
    case Codegen => spark
    case Interpreted => children.synchronized {
      children.computeIfAbsent(spark, _ => {
        val child = spark.newSession()
        spark.conf.getAll.foreach { case (k, v) =>
          if (spark.conf.isModifiable(k)) child.conf.set(k, v)
        }
        InterpretedConf.foreach { case (k, v) => child.conf.set(k, v) }
        child
      })
    }
  }
}
