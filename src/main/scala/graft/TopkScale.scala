package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Scale probe for the Space-Saving windowed heavy hitters
 * ([[streaming.StreamingTopK]]): the claim under test is the state bound
 * — O(active windows × buckets × m) counters, INDEPENDENT of key
 * cardinality and stream length — vs the plain streaming
 * `groupBy(window, key).count()` whose state is O(active windows ×
 * distinct keys). Synthetic streams hold the EVENT-TIME span fixed (6 h
 * of hourly windows; watermark 30 min, so ≤ 2 windows are ever active)
 * while n and the key cardinality (n/20) grow; files feed time-ordered
 * through many micro-batches so the watermark advances and both
 * operators' eviction actually fires. Success = the Space-Saving
 * `max_state_rows` stays flat (near windows × buckets × m) while the
 * plain aggregation's grows with the key count.
 */
object TopkScale extends Probe.Body {
  override def confs(cpus: Int) = Map(
    "spark.sql.shuffle.partitions" -> "8", // state sizing, see st_attribution
    // Every trigger's progress, as in StreamScale.
    "spark.sql.streaming.numRecentProgressUpdates" -> "100000")

  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val sizes = if (p.args.nonEmpty) p.args.map(_.toLong) else Seq(2000000L, 10000000L)

    val spanSec = 6L * 3600L
    sizes.foreach { n =>
      val nKeys = n / 20
      val root = p.path(s"graft_topk_scale_$n")
      p.delete(root)
      // Time-ordered chunks (ascending mtime, one trigger per part file):
      // chunk i covers event seconds [i, i+1) * span/nFiles. Zipf-ish keys
      // so the heavy hitters are real; cardinality grows with n. Below 1M
      // events a run is a smoke run: 6 hourly chunks of one part each
      // (6 triggers) instead of 24 chunks of 4 parts (96 triggers).
      val small = n < 1000000L
      val nFiles = if (small) 6 else 24
      val chunk = n / nFiles
      (0 until nFiles).foreach { i =>
        val lo = i * chunk; val hi = if (i == nFiles - 1) n else (i + 1) * chunk
        spark.range(lo, hi)
          .select(
            concat(lit("k"), pmod(col("id") * col("id"), lit(nKeys))).as("key0"),
            timestamp_seconds(lit(1704067200L) +
              (col("id") * spanSec / n)).as("ts"))
          .coalesce(if (small) 1 else 4)
          .write.mode("append").parquet(s"$root/events")
      }
      val schema = spark.read.parquet(s"$root/events").schema
      def stream() = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$root/events")

      def runToNoop(label: String, df: org.apache.spark.sql.DataFrame, mode: String): Unit = {
        val (q, stats) = p.measure {
          val q = df.writeStream.format("noop").outputMode(mode)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          q
        }
        val progress = q.recentProgress.toSeq
        p.emit(label, stats, "n" -> n, "keys" -> nKeys, "batches" -> progress.size,
          "max_state_rows" ->
            progress.flatMap(_.stateOperators.map(_.numRowsTotal)).maxOption.getOrElse(0L))
      }

      runToNoop("space_saving", streaming.StreamingTopK.heavyHitters(
        stream(), "ts", "key0", "1 hour", "30 minutes", m = 64, buckets = 8).toDF(),
        "update")
      runToNoop("plain", stream().withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("key0")).count(),
        "append")
      p.delete(root)
    }
  }
}
