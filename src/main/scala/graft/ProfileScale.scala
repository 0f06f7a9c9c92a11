package graft

import org.apache.spark.sql.functions._

/**
 * Scale probe for the one-pass profiler (operators.Profile): measures the
 * documented distinct-counting trade — exact mode's multi-distinct Expand
 * replicates the scan once per profiled column before the partial
 * aggregate (data × cols intermediate volume), while `approxDistinct`
 * keeps ONE pass with fixed-size HLL++ state per column. The probe
 * reports both walls and the Expand's shuffle cost at growing row counts,
 * plus the HLL error actually observed at rsd 2% — the numbers behind
 * "approx is the 100 TB default, exact is the audit mode".
 */
object ProfileScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val sizes = if (p.args.nonEmpty) p.args.map(_.toLong) else Seq(2000000L, 10000000L)
    val cols = Seq("a", "b", "c", "d", "e", "f")

    def corpusAt(n: Long) = graft.util.Caches.retain(spark.range(n).select(
      col("id").as("a"),                                   // unique
      (col("id") % 97).as("b"),                            // tiny card.
      (col("id") % 1000003).as("c"),                       // ~1M card.
      concat(lit("u"), col("id") % 50000).as("d"),         // 50k strings
      (col("id") * 1.5).as("e"),                           // unique doubles
      when(col("id") % 10 === 0, lit(null).cast("string")) // 10% null
        .otherwise(concat(lit("x"), col("id") % 7)).as("f")))

    // Warmup (codegen + HLL paths) at 200k, or at the smallest size below.
    { val w = corpusAt(math.min(200000L, sizes.min))
      graft.operators.Profile.profile(w, cols).collect()
      graft.operators.Profile.profile(w, cols, approxDistinct = true, rsd = 0.02).collect()
      graft.util.Caches.drain() }

    sizes.foreach { n =>
      val corpus = corpusAt(n)
      corpus.count()
      import graft.result.JobStats.minOf2
      val (exactRows, ex) = minOf2(p.measure {
        graft.operators.Profile.profile(corpus, cols).collect()
      })
      val (approxRows, ap) = minOf2(p.measure {
        graft.operators.Profile.profile(corpus, cols,
          approxDistinct = true, rsd = 0.02).collect()
      })
      val exact = exactRows.map(r => r.getString(0) -> r.getLong(3)).toMap
      val approx = approxRows.map(r => r.getString(0) -> r.getLong(3)).toMap
      val worstErr = cols.map { c =>
        if (exact(c) == 0L) 0.0
        else math.abs(approx(c) - exact(c)).toDouble / exact(c)
      }.max
      graft.util.Caches.drain()
      p.emit("exact", ex, "n" -> n)
      p.emit("approx", ap, "n" -> n, "worst_hll_rel_err" -> worstErr)
    }
  }
}
