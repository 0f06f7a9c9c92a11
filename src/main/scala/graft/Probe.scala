package graft

import org.apache.spark.sql.SparkSession

import graft.result.{JobStats, ResultJson}

/**
 * The one entry point for the scale probes:
 *
 *   runMain graft.Probe <Name> [args...]
 *
 * `<Name>` is a probe object's name (`Throughput`, `DedupScale`, …) and the
 * args are that probe's own. The harness owns everything the probes share:
 * one local session on `SPARK_GRAFT_CPUS` cores (default: the host's),
 * [[shuffleParts]] shuffle partitions, UTC, no UI; a
 * `newSession()` child per run carrying the probe's own runtime confs; a
 * [[graft.util.Caches.scoped]] bin that releases whatever the run retained;
 * one timer, [[JobStats.measure]]; and one JSON line per measurement —
 * `probe`, `label`, the probe's own fields, then the snapshot's fields
 * (`wallTimeMs`, `tasks`, `shuffleBytesWritten`, …). A probe holds only its
 * data generation, its measured body and its `require`s; it never stops
 * the session or clears the shared cache manager, so the harness can run
 * it inside a longer-lived session (ProbeSpec runs every probe in the
 * test JVM).
 */
object Probe {

  /** A scale probe. `confs` are the runtime SQL confs its child session
    * sets on top of the host's, given the host's core count. */
  trait Body {
    def name: String = getClass.getSimpleName.stripSuffix("$")
    def confs(cpus: Int): Map[String, String] = Map.empty
    def run(p: Run): Unit
  }

  /** One probe run: its child session, its args, and where it writes. */
  final class Run(val probe: String, val spark: SparkSession, val args: Seq[String],
      root: String) {
    /** The host's cores: probes size partitions and per-core rates by it. */
    val cpus: Int = spark.sparkContext.defaultParallelism
    /** `<root>/<sub>`, the probe's data directory. */
    def path(sub: String): String = s"$root/$sub"
    /** The `--` flags among the args. One outside `known` fails loudly: a
      * typo ('--narow') would otherwise run the default configuration
      * under the intended label. A known entry ending in `=` takes a
      * value (`--bands=` matches `--bands=16,8`). */
    def flags(known: String*): Seq[String] = {
      val given = args.filter(_.startsWith("--"))
      val unknown = given.filterNot(f =>
        known.exists(k => f == k || k.endsWith("=") && f.startsWith(k)))
      require(unknown.isEmpty,
        s"unknown flags: ${unknown.mkString(", ")} (known: ${known.mkString(", ")})")
      given
    }
    /** The args that are not flags, as sizes; `default` if there are none. */
    def sizes(default: Long*): Seq[Long] = {
      val given = args.filterNot(_.startsWith("--"))
      if (given.nonEmpty) given.map(_.toLong) else default
    }
    /** Delete `dir` and everything under it, if it exists. */
    def delete(dir: String): Unit =
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit
    def measure[T](body: => T): (T, JobStats.Snapshot) = JobStats.measure(spark)(body)
    /** Print one measurement's JSON line. */
    def emit(label: String, snap: JobStats.Snapshot, fields: (String, Any)*): Unit =
      println(((Seq("probe" -> probe, "label" -> label) ++ fields)
        .map { case (k, v) => s"${ResultJson.jsonValue(k)}: ${render(v)}" } ++
        snap.fields.map { case (k, v) => s"${ResultJson.jsonValue(k)}: $v" })
        .mkString("{", ", ", "}"))
  }

  private def render(v: Any): String = v match {
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case other => ResultJson.jsonValue(other)
  }

  val all: Seq[Body] = Seq(BloomScale, ComponentsScale, DedupScale, ExportScale,
    IncrementalScale, JaccardScale, JoinScale, LayoutScale, MixScale, PipelineScale,
    PqScale, ProfileScale, RecallScale, RelJoinScale, SelectionScale,
    SemanticScale, ServingScale, ShardScale, SkewScale, StreamScale, Throughput,
    TopkScale)

  /**
   * Shuffle partitions for the probes' session: 4× cores, overridable via
   * `SPARK_GRAFT_SHUFFLE`. NOT used by Bench/Verify: the battery runs at
   * partitions == cores deliberately — that shape is the committed,
   * round-over-round-comparable artifact.
   *
   * Why not partitions == cores (the pre-r13 default): per-task
   * aggregation/sort state scales with groups-per-partition, and the
   * 6-step 250M-row sequence probe measured a 1-in-3
   * UNABLE_TO_ACQUIRE_MEMORY flake at the default 8g heap with
   * partitions == cores that is 3/3 clean at 4× (BENCH.md §"Sequence at
   * reference scale", r12 margin note). Real clusters run partitions >>
   * cores for exactly this reason — the probes should default to the
   * shape whose memory story transfers to the 1000-executor target, not
   * the one that happens to minimize scheduling overhead on one box.
   */
  def shuffleParts(cpus: Int): Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt).getOrElse(4 * cpus)

  private def find(name: String): Body = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown probe '$name'; valid names: ${all.map(_.name).mkString(", ")}"))

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("")
    find(name) // an unknown name fails before a session starts
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, name, args.toSeq.drop(1), sys.props("java.io.tmpdir"))
    finally {
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      spark.stop()
    }
  }

  /** Run probe `name` with `args` in a child of `host`, writing its data
    * under `root`. */
  def run(host: SparkSession, name: String, args: Seq[String], root: String): Unit = {
    val body = find(name)
    val spark = host.newSession()
    body.confs(host.sparkContext.defaultParallelism).foreach { case (k, v) => spark.conf.set(k, v) }
    graft.util.Caches.scoped(body.run(new Run(body.name, spark, args, root)))
  }
}
