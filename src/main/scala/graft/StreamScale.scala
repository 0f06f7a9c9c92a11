package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Scale probe for the stream-stream interval join
 * ([[streaming.StreamIntervalJoin]]): the claim under test is the state
 * bound — two-sided join state is O(rate × (window + watermark delay)),
 * NOT O(stream length) — plus sustained throughput. The battery's
 * `st_attribution` runs one micro-batch over sf0.1 (no eviction ever
 * fires); here a synthetic click/purchase history spanning days of event
 * time streams through MANY micro-batches (maxFilesPerTrigger=1, files
 * time-ordered so the watermark advances between batches) and the state
 * store's `numRowsTotal` is read from query progress after each batch.
 * Success = max state rows ≪ total input rows, bounded near the rows
 * whose event time fits one (window + delay) horizon plus one batch's
 * input — while every in-window match is still emitted exactly once.
 *
 * Args: total click counts (default 2000000, 10000000); purchases are
 * 1/10 of clicks. Clicks arrive 1/second of event time; window 1 h,
 * watermark delay 30 min ⇒ horizon ≈ 5400 rows/side per key-partition
 * spread.
 */
object StreamScale extends Probe.Body {
  override def confs(cpus: Int) = Map(
    "spark.sql.shuffle.partitions" -> "8", // state sizing, see st_attribution
    // recentProgress is a ring buffer (default 100): ~100k-row batches at
    // the default sizes produce ~100+ triggers, and anything larger would
    // silently evict early progress entries — under-reporting `batches`
    // and possibly the true max_state_rows. Progress objects are small
    // metric maps; retaining every trigger is cheap at any size this
    // probe can reach.
    "spark.sql.streaming.numRecentProgressUpdates" -> "100000")

  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val sizes = if (p.args.nonEmpty) p.args.map(_.toLong) else Seq(2000000L, 10000000L)

    sizes.foreach { n =>
      // Fixed ~100k clicks per micro-batch at any stream length: state is
      // O(batch input + watermark horizon), so holding the batch constant
      // is what makes "state independent of stream length" observable.
      val nFiles = math.max(4, (n / 100000L).toInt)
      val root = p.path(s"graft_stream_scale_$n")
      p.delete(root) // fresh dirs per run
      // Time-ordered file chunks: file i covers event seconds
      // [i*n/nFiles, (i+1)*n/nFiles) — one file per trigger, so the
      // watermark (max event time - delay) advances between batches and
      // evicts the previous horizon's state.
      // Chunks APPEND into one flat directory; the file source orders by
      // modification time, and sequential writes give chunks ascending
      // mtimes, so triggers consume them in event-time order.
      val chunk = n / nFiles
      (0 until nFiles).foreach { i =>
        val lo = i * chunk; val hi = if (i == nFiles - 1) n else (i + 1) * chunk
        spark.range(lo, hi)
          .select(col("id"),
            (col("id") % 1000).as("user_id"),
            timestamp_seconds(lit(1704067200L) + col("id")).as("ts"))
          .coalesce(4)
          .write.mode("append").parquet(s"$root/clicks")
        spark.range(lo / 10, hi / 10)
          .select(col("id").as("p_id"),
            (col("id") % 1000).as("user_id"),
            timestamp_seconds(lit(1704067200L) + col("id") * 10).as("pts"))
          .coalesce(2)
          .write.mode("append").parquet(s"$root/purchases")
      }
      val clickSchema = spark.read.parquet(s"$root/clicks").schema
      val purchSchema = spark.read.parquet(s"$root/purchases").schema
      val clicks = spark.readStream.schema(clickSchema)
        .option("maxFilesPerTrigger", "4").parquet(s"$root/clicks")
        .select(col("user_id"), col("ts").as("cts"), col("id").as("c_id"))
      val purchases = spark.readStream.schema(purchSchema)
        .option("maxFilesPerTrigger", "2").parquet(s"$root/purchases")
      val joined = streaming.StreamIntervalJoin.join(
        purchases, clicks, Seq("user_id"), "pts", "cts",
        window = "1 hour", watermark = "30 minutes")

      val (q, stats) = p.measure {
        val q = joined.writeStream.format("noop")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
      val progress = q.recentProgress.toSeq
      val maxState = progress.flatMap(_.stateOperators.map(_.numRowsTotal)).maxOption.getOrElse(0L)
      val totalIn = n + n / 10
      p.emit("stream", stats, "clicks" -> n, "purchases" -> n / 10,
        "batches" -> progress.size,
        "rows_per_sec_core" -> totalIn * 1000.0 / stats.wallTimeMs / p.cpus,
        "max_state_rows" -> maxState, "state_over_input" -> maxState.toDouble / totalIn)
      p.delete(root)
    }
  }
}
