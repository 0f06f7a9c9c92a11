package graft

import org.apache.spark.sql.functions._

/**
 * Scale probe for corpus interleaving (Sampling.interleaveOrder vs
 * interleaveOrderApprox) under the regime the approx form exists for: a
 * HOT key holding most of the corpus. The exact form's per-key
 * `row_number` window funnels every hot-key row through one task's sort;
 * the approx form replaces the rank with `floor(u·n_k)+1` from one count
 * aggregate — count + broadcast join + map, nothing key-serial. The probe
 * measures both at growing sizes with 90% of rows on one key, and
 * reports the approx form's mix quality (max prefix deviation from the
 * weight share over 1%-granularity prefixes) so the documented
 * binomial-concentration trade is a number, not an adjective.
 */
object MixScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val sizes = if (p.args.nonEmpty) p.args.map(_.toLong) else Seq(2000000L, 10000000L)
    import graft.result.JobStats.minOf2

    // Warmup both plans at 200k, or at the smallest size below that.
    def corpusAt(n: Long): org.apache.spark.sql.DataFrame = graft.util.Caches.retain(spark.range(n).select(
      col("id"),
      // 90% hot key, 10 cold keys with 1% each; hot gets weight 4.
      when(pmod(col("id"), lit(100)) < 90, lit("hot"))
        .otherwise(concat(lit("k"), pmod(col("id"), lit(10)))).as("src"))
      .withColumn("w", when(col("src") === "hot", lit(4L)).otherwise(lit(1L))))
    locally { val w = corpusAt(math.min(200000L, sizes.min))
      operators.Sampling.interleaveOrder(w, "src", "id", "w", "mx")
        .agg(sum(col("mix_rank"))).head()
      operators.Sampling.interleaveOrderApprox(w, "src", "id", "w", "mx")
        .agg(sum(col("mix_rank"))).head()
      graft.util.Caches.drain() }

    sizes.foreach { n =>
      val corpus = corpusAt(n)
      corpus.count()
      val (exactSum, ex) = minOf2(p.measure {
        operators.Sampling.interleaveOrder(corpus, "src", "id", "w", "mx")
          .agg(sum(col("mix_rank"))).head().getLong(0)
      })
      val (approxSum, ap) = minOf2(p.measure {
        operators.Sampling.interleaveOrderApprox(corpus, "src", "id", "w", "mx")
          .agg(sum(col("mix_rank"))).head().getLong(0)
      })
      // Mix quality of the approx order: a stride schedule releases rows
      // at rate w PER KEY, so while every key is active the hot share is
      // 4/(4 + 10·1) = 2/7; the cold keys (1% of rows each, rate 1)
      // exhaust after the first ~14% of the output line, after which the
      // stream is rightly pure hot. Measure the max deviation from 2/7
      // over the 1%-granularity prefixes INSIDE the mixed region
      // (percentiles 1..12 — the binomial-concentration claim made
      // concrete). The ntile pass is probe-side analysis, not the
      // operator's plan.
      val hotShare = operators.Sampling
        .interleaveOrderApprox(corpus, "src", "id", "w", "mx")
        .select(col("src"), col("mix_key"))
        .withColumn("pct", ntile(100).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("mix_key"))))
        .where(col("pct") <= 12)
        .groupBy(col("pct"))
        .agg((sum(when(col("src") === "hot", 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("share"))
        .agg(max(abs(col("share") - lit(2.0 / 7.0)))).head().getDouble(0)
      graft.util.Caches.drain()
      p.emit("exact", ex, "n" -> n, "ranksum" -> exactSum)
      p.emit("approx", ap, "n" -> n, "ranksum" -> approxSum, "max_prefix_dev" -> hotShare)
    }
  }
}
