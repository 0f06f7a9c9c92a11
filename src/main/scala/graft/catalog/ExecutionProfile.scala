package graft.catalog

import org.apache.spark.sql.SparkSession

/**
 * How a registered dataset's queries execute, chosen from the size of its
 * registered input (the summed length of its part files, recorded at
 * registration as `RegisteredDataset.totalBytes`).
 *
 *  - [[ExecutionProfile.Codegen]]: the host session unchanged — whole-stage
 *    code generation and adaptive query execution as configured there.
 *  - [[ExecutionProfile.InterpretedParallel]]: a child session of the host
 *    (`newSession()`, same SparkContext, cache manager and listener bus)
 *    with AQE off, whole-stage codegen off and the expression factory mode
 *    `NO_CODEGEN`, so operators and expressions evaluate interpreted. The
 *    dataset's queries read its part files in parallel tasks.
 *  - [[ExecutionProfile.Interpreted]]: a second such child that also uses
 *    one shuffle partition. Its datasets, unless day-partitioned, load as
 *    a resident copy (`Catalog.load`): one persisted partition, so queries
 *    plan no exchange and run one task per action. The few exchanges a
 *    plan still needs (the `Expand` behind multi-distinct counts, the
 *    routed plan's explicit repartition) run one task each instead of one
 *    per core.
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
 * Why one task on the smallest inputs: there the per-stage and per-task
 * costs (scheduling, a Parquet open and footer read per file, the hash
 * shuffle by group id) outweigh the parallel work, and serving the
 * registration from a single resident partition removes them. From about
 * a megabyte of Parquet up the parallel work wins again: the resident
 * copy answered the nine dashboard shapes in 1.07× the parallel file
 * scan's time at 1.3 MB and 1.14-1.49× at 1.9 MB, and one shuffle
 * partition over the part files lost as much. Measured alternatives on
 * the smallest inputs were one shuffle partition over the files (fewer
 * tasks, latency within the noise) and folding each query into one
 * action (no gain once the copy is resident). The cost is memory: one
 * copy per live registration under [[ExecutionProfile.ResidentMaxBytes]],
 * which Spark's storage LRU spills to disk under pressure (BENCH.md
 * §"Resident single-partition copy").
 *
 * Input without a recorded size (a registration persisted before the size
 * was recorded) keeps the codegen profile.
 */
sealed abstract class ExecutionProfile(val name: String)

object ExecutionProfile {
  case object Interpreted extends ExecutionProfile("interpreted")
  case object InterpretedParallel extends ExecutionProfile("interpreted-parallel")
  case object Codegen extends ExecutionProfile("codegen")

  /** Inputs whose part files add up to fewer bytes than this run in the
    * one-task [[Interpreted]] profile, from a resident copy. Measured with
    * `graft.Probe ServingScale crossover` (BENCH.md §"Execution profile
    * crossover"): the resident copy answered the nine dashboard shapes in
    * 0.93× the parallel file scan's time at 0.95 MB and 1.07× at 1.32 MB;
    * the constant is the two sizes' geometric mean, rounded down to a
    * multiple of 256 KiB. */
  val ResidentMaxBytes: Long = 1L << 20

  /** Inputs whose part files add up to fewer bytes than this (and at
    * least [[ResidentMaxBytes]]) run in [[InterpretedParallel]]. Measured
    * with `graft.Probe ServingScale crossover` (BENCH.md §"Execution profile
    * crossover"): the parallel interpreted profile answered the nine
    * dashboard shapes in 0.60× codegen's time at 1.9 MB and 1.17× at
    * 17 MB; the constant is the two sizes' geometric mean, rounded down
    * to whole MiB. */
  val InterpretedMaxBytes: Long = 5L << 20

  def forInput(totalBytes: Option[Long]): ExecutionProfile = totalBytes match {
    case Some(b) if b < ResidentMaxBytes    => Interpreted
    case Some(b) if b < InterpretedMaxBytes => InterpretedParallel
    case _                                  => Codegen
  }

  private val InterpretedConf = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** The interpreted children of each host session, one per profile. Weak
    * keys: a child holds no reference back, so once nothing else holds a
    * host (the catalog's memoised handles do, until their registration is
    * replaced or unregistered), its children go with it. */
  private val children =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[ExecutionProfile, SparkSession]]()

  /** The session `profile` runs in for a caller holding `spark`. An
    * interpreted child starts from the host's runtime SQL conf as it is at
    * first use, then overrides the settings above (and, for
    * [[Interpreted]], the shuffle partitions). */
  def session(spark: SparkSession, profile: ExecutionProfile): SparkSession = profile match {
    case Codegen => spark
    case _ => children.synchronized {
      val mine = children.computeIfAbsent(spark, _ => new java.util.HashMap())
      mine.computeIfAbsent(profile, _ => {
        val child = spark.newSession()
        spark.conf.getAll.foreach { case (k, v) =>
          if (spark.conf.isModifiable(k)) child.conf.set(k, v)
        }
        InterpretedConf.foreach { case (k, v) => child.conf.set(k, v) }
        if (profile == Interpreted) child.conf.set("spark.sql.shuffle.partitions", "1")
        child
      })
    }
  }
}
