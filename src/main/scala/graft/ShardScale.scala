package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Scale probe for token-budget sharding (Sampling.shardByBudget): the
 * two-phase distributed prefix sum (range-partition → P-row driver offset
 * fold → within-slice window) vs the naive single global window cumsum —
 * the plan a straightforward `sum().over(Window.orderBy(line))` produces,
 * which funnels the whole corpus through ONE task. Both must assign
 * identical shards (checksum-compared); the probe measures wall clock at
 * growing corpus sizes to show the naive form's single-task bottleneck is
 * real, not theoretical, and that the two-phase form scales with cores.
 */
object ShardScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val sizes = if (p.args.nonEmpty) p.args.map(_.toLong) else Seq(2000000L, 10000000L)

    sizes.foreach { n =>
      // Synthetic corpus: token counts vary 1..512 so shard boundaries are
      // irregular; budget sized for ~n/1000 shards.
      val corpus = graft.util.Caches.retain(spark.range(n)
        .select(col("id").as("doc_id"), (pmod(col("id") * 2654435761L, lit(512)) + 1).as("tok")))
      corpus.count() // materialize outside the timings
      val budget = 256L * 1000L

      def checksum(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = df.agg(sum(col("shard") * col("doc_id")).as("cs"),
          max(col("shard")).as("mx")).head()
        (r.getLong(0), r.getLong(1))
      }

      val (twoPhase, tpStats) = p.measure {
        checksum(operators.Sampling.shardByBudget(
          corpus, "doc_id", col("tok"), budget, "ss"))
      }
      val (naive, nvStats) = p.measure {
        val line = operators.TextAnalysis.saltedMd5Public(col("doc_id"), "ss")
        val w = Window.orderBy(line, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        checksum(corpus
          .withColumn("__cum", coalesce(sum(col("tok").cast("long")).over(w), lit(0L)))
          .select(col("doc_id"), expr(s"__cum div ${budget}L").as("shard")))
      }
      require(twoPhase == naive, s"shard mismatch: $twoPhase vs $naive")
      graft.util.Caches.drain()
      p.emit("two_phase", tpStats, "n" -> n, "shards" -> (twoPhase._2 + 1))
      p.emit("naive_window", nvStats, "n" -> n, "shards" -> (naive._2 + 1))
    }
  }
}
