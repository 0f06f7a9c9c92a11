package graft

/** Dev tool (guide §1): run one or more SparkEntry queries and print every
  * Spark job's wall time + description and every stage's wall time, task
  * count and call site, so a multi-second query can be attributed to its
  * constituent jobs (k-means iterations, fixture writes, collects, the
  * final count) instead of guessing from the plan. The records are the
  * measurement's own ([[graft.result.JobStats.measure]]), plus the driver
  * gap: wall time minus the summed job wall. Usage:
  *   runMain graft.Probe ProfileJobs <sfDir> <name> [name...]
  * Runs at the battery's shape, one shuffle partition per core.
  */
object ProfileJobs extends Probe.Body {
  override def confs(cpus: Int) = Map("spark.sql.shuffle.partitions" -> cpus.toString)

  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val sfDir = p.args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (p.args.length > 1) p.args.drop(1) else Seq("ann_ivfpq_saved")

    // Streaming rows' micro-batch duration split: a listener HERE never
    // fires — every st_* query runs its stream on a CHILD session, and a
    // session's listener bus only sees its own queries. Set
    // SPARK_GRAFT_STREAM_DEBUG=1 instead: StreamingQueries.runToBatch
    // prints each batch's durationMs + state rows from inside the child.

    for (n <- names) {
      val fn = SparkEntry.queries(n)
      // warmup (codegen/caches), same as Bench
      System.gc()
      try fn(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(e) => println(s"warmup err: $e") }
      val (_, stats) = p.measure(fn(spark, sfDir).count())
      println(f"\n===== $n  total=${stats.wallTimeMs / 1e3}%.3fs =====")
      stats.stages.foreach { s =>
        println(f"    stage ${s.id}%3d  ${s.wallMs / 1e3}%6.3f s  tasks=${s.tasks}%3d  ${s.name.take(90)}")
      }
      stats.jobs.foreach { j =>
        println(f"  job ${j.id}%3d  ${j.wallMs / 1e3}%7.3f s  tasks=${j.tasks}%3d  ${j.description}")
      }
      println(f"  [${stats.jobs.size} jobs, sum=${stats.jobs.map(_.wallMs).sum / 1e3}%.3f s; " +
        f"gap=${stats.driverGapMs / 1e3}%.3f s driver-side]")
      p.emit(n, stats, "sf" -> sfDir, "jobs" -> stats.jobs.size,
        "job_wall_ms" -> stats.jobs.map(_.wallMs).sum, "driver_gap_ms" -> stats.driverGapMs)
      graft.util.Caches.drain()
    }
  }
}
