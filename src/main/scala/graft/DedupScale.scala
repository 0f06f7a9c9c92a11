package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Scale probe for the MinHash/LSH dedup pipeline, sibling of [[Throughput]]
 * (scan path) and [[ComponentsScale]] (fixpoint): the sf0.1 battery dedups
 * 5k documents, far too small to see the corpus-linear stages dominate.
 * This probe generates a synthetic corpus at real size and times each stage
 * separately — signature (shingle explode + minhash aggregation; the
 * corpus-linear cost that dominates at 100 TB), LSH candidate join, and
 * connected components over the resulting pairs.
 *
 * Corpus shape: 40 tokens per doc drawn from a 1024-word vocabulary by a
 * deterministic hash, so unrelated docs share almost no shingles (random
 * LSH collisions ~0 — candidate volume stays linear, like a real corpus
 * after the per-bucket skew cap). Ids ending in 1 duplicate their
 * predecessor exactly; ids ending in 2 near-duplicate it (one appended
 * token), so ~20% of docs form 3-doc clusters {k, k+1, k+2} — exact pairs
 * are guaranteed LSH candidates, near pairs probabilistically (that recall
 * is measured by the battery's oracle rows, not here).
 *
 * Args: doc counts (default 100000, 1000000); `--narrow` pins the
 * battery's (8,4) banding instead of the `suggestBanding` default
 * (r12 — the advisor is the production entry point); `--fast` switches the
 * signature/bucket hash family to codegen'd xxhash64 (the 100 TB
 * configuration — see minHashSignature's scaladoc; the md5 family stays on
 * every oracle-gated battery row).
 */
object DedupScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    // Unknown flags fail loudly (r13): silently filtering every '--' token
    // meant a typo ('--narow') ran the DEFAULT banding and labeled the
    // numbers as if the pin applied.
    val flags = p.flags("--fast", "--narrow")
    val fastHash = flags.contains("--fast")
    val narrowBands = flags.contains("--narrow")
    val sizes = p.sizes(100000L, 1000000L)

    val vocabSql = (0 until 1024).map(i => s"'w$i'").mkString(", ")

    sizes.foreach { n =>
      // Banding from the advisor by default (the production entry point —
      // PipelineScale adopted it in r11; `--narrow` pins the battery's
      // (8,4) to reproduce the background-collision collapse shapes).
      val (bandK, bandRows) =
        if (narrowBands) (8, 4) else operators.Dedup.suggestBanding(n, 0.97)
      val corpus = spark.range(n)
        .select(col("id").as("doc_id"), expr(
          "CASE WHEN id % 10 IN (1, 2) THEN id - id % 10 ELSE id END").as("__seed"),
          expr("CASE WHEN id % 10 = 2 THEN ' zz9' ELSE '' END").as("__suffix"))
        .select(col("doc_id"), expr(
          s"concat(concat_ws(' ', transform(sequence(1, 40), " +
          s"p -> element_at(array($vocabSql), " +
          s"CAST(pmod(hash(__seed, p), 1024) + 1 AS INT)))), __suffix)").as("text"))
        .repartition(p.cpus * 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
      corpus.count() // materialize generation outside the timed stages

      val (sig, sigStats) = p.measure {
        val s = operators.Dedup.minHashSignature(
          operators.Dedup.charShingles(corpus, "doc_id", "text", 5), k = bandK,
          fastHash = fastHash)
          .persist(StorageLevel.MEMORY_AND_DISK)
        s.count()
        s
      }
      val ((pairs, nPairs), candStats) = p.measure {
        val c = operators.Dedup.lshCandidates(
          operators.Dedup.lshBuckets(sig, k = bandK, rowsPerBand = bandRows,
            fastHash = fastHash))
          .persist(StorageLevel.MEMORY_AND_DISK)
        (c, c.count())
      }
      val ((nClusters, rounds), compStats) = p.measure {
        val (labels, r) = operators.Dedup.componentsWithRounds(pairs)
        (labels.select("label").distinct().count(), r)
      }
      val run = Seq("docs" -> n, "hash" -> (if (fastHash) "xxhash64" else "md5"),
        "bands" -> s"k=$bandK/rows=$bandRows")
      p.emit("signature", sigStats, run :+
        ("docs_per_sec_core" -> n * 1000.0 / sigStats.wallTimeMs / p.cpus): _*)
      p.emit("candidates", candStats, run :+ ("pairs" -> nPairs): _*)
      p.emit("components", compStats, run ++ Seq("clusters" -> nClusters, "rounds" -> rounds): _*)
      Seq(corpus, sig, pairs).foreach(_.unpersist(blocking = true))
      graft.util.Caches.drain()
    }
  }
}
