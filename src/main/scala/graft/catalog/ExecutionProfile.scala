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
 *    with AQE off, whole-stage codegen off and the expression factory mode
 *    `NO_CODEGEN`, so operators and expressions evaluate interpreted.
 *
 * Why a small input wants the interpreted profile: Spark inlines numeric
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
 * Input without a recorded size (a registration persisted before the size
 * was recorded) keeps the codegen profile.
 */
sealed abstract class ExecutionProfile(val name: String)

object ExecutionProfile {
  case object Interpreted extends ExecutionProfile("interpreted")
  case object Codegen extends ExecutionProfile("codegen")

  /** Inputs whose part files add up to fewer bytes than this run
    * interpreted. Measured with `graft.ServingScale crossover` (BENCH.md
    * §"Execution profile crossover"): interpreted answered the nine
    * dashboard shapes in 0.60× codegen's time at 1.9 MB and 1.38× at
    * 17 MB; the constant is the two sizes' geometric mean, rounded down
    * to whole MiB. */
  val InterpretedMaxBytes: Long = 5L << 20

  def forInput(totalBytes: Option[Long]): ExecutionProfile = totalBytes match {
    case Some(b) if b < InterpretedMaxBytes => Interpreted
    case _                                  => Codegen
  }

  private val InterpretedConf = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** One interpreted child per host session; weak keys, so a stopped
    * host's child goes with it (the child holds no reference back). */
  private val children = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** The session `profile` runs in for a caller holding `spark`. The
    * interpreted child starts from the host's runtime SQL conf as it is at
    * first use, then overrides the three settings above. */
  def session(spark: SparkSession, profile: ExecutionProfile): SparkSession = profile match {
    case Codegen => spark
    case Interpreted => children.synchronized {
      Option(children.get(spark)).getOrElse {
        val child = spark.newSession()
        spark.conf.getAll.foreach { case (k, v) =>
          if (spark.conf.isModifiable(k)) child.conf.set(k, v)
        }
        InterpretedConf.foreach { case (k, v) => child.conf.set(k, v) }
        children.put(spark, child)
        child
      }
    }
  }
}
