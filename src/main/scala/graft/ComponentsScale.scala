package graft

import org.apache.spark.sql.functions._

/**
 * Scale probe for the connected-components fixpoint (Dedup.components),
 * sibling of [[Throughput]]: the sf0.1 battery exercises it on ~2.3k
 * candidate pairs, far too small to validate the O(log diameter) round
 * bound or the flat-per-round plan shape at real size. This probe builds a
 * synthetic chain graph — the WORST case for label propagation, since a
 * chain of length L has diameter L-1 while near-dup clusters in practice
 * are stars of depth 1-2 — and reports edges, rounds, and wall time per
 * size. Rounds growing ~log2(chain length) while sec/round stays flat as
 * edges grow 10x is the pass criterion recorded in BENCH.md.
 *
 * Args: chain length (default 64), then edge counts (default 1M, 10M).
 */
object ComponentsScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val chainLen = p.args.headOption.map(_.toInt).getOrElse(64)
    require(chainLen >= 2, s"chain length must be >= 2, got $chainLen")
    val sizes =
      if (p.args.length > 1) p.args.drop(1).map(_.toLong)
      else Seq(1000000L, 10000000L)

    sizes.foreach { nEdges =>
      val chains = nEdges / (chainLen - 1)
      // Disjoint chains over consecutive ids: node chainId*L+p connects to
      // its successor; every component's canonical label is its chain head.
      val edges = spark.range(chains * chainLen)
        .where(col("id") % chainLen < chainLen - 1)
        .select(col("id").as("d1"), (col("id") + 1L).as("d2"))
        .repartition(p.cpus * 2)
      val ((nComponents, rounds), stats) = p.measure {
        // Threshold 0: this probe MEASURES the distributed fixpoint, so never
        // let small arg sizes route to the single-task short-circuit.
        val (labels, rounds) = operators.Dedup.componentsWithRounds(
          edges.toDF, localEdgeThreshold = 0)
        (labels.select("label").distinct().count(), rounds)
      }
      require(nComponents == chains,
        s"expected $chains components, got $nComponents")
      p.emit("components", stats, "edges" -> chains * (chainLen - 1),
        "chain_len" -> chainLen, "components" -> nComponents, "rounds" -> rounds,
        "ms_per_round" -> stats.wallTimeMs.toDouble / rounds)
      graft.util.Caches.drain()
    }
  }
}
