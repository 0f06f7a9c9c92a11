package graft

import org.apache.spark.sql.functions._

/**
 * Scale probe for SemDeDup-style semantic dedup (Dedup.semanticPairs),
 * sibling of [[DedupScale]]: the sf0.1 battery runs it on 2k embeddings —
 * too small to see whether cell-locality actually bounds the pair search.
 * This probe synthesizes a clustered corpus (hash-derived 16-dim vectors
 * around `nCells`-ish latent centers, ~5% near-duplicate pairs) and runs
 * the pair stage at two sizes with nCells grown proportionally — per the
 * operator's contract that candidates ≈ n²·nProbes²/nCells stay LINEAR in
 * n when nCells grows with n. Reported: wall time and pair counts; the
 * pass criterion recorded in BENCH.md is wall growing ~linearly (never
 * quadratically) with n at fixed n/nCells.
 */
object SemanticScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val sizes = if (p.args.nonEmpty) p.args.map(_.toLong) else Seq(50000L, 200000L)
    graft.functions.VectorFunctions.register(spark)

    val dim = 16
    sizes.foreach { n =>
      val nCells = math.max(8, (n / 6250).toInt) // fixed ~6.2k vectors/cell
      // Deterministic clustered vectors: base id -> latent center via
      // xxhash64; ~5% of ids are jittered near-copies of id-1 (the
      // near-duplicate pairs the operator exists to find).
      val latent = nCells * 4
      val emb = spark.range(n)
        .withColumn("src", when(pmod(col("id"), lit(20)) === 1, col("id") - 1)
          .otherwise(col("id")))
        .select(col("id").as("vec_id"), col("id"), col("src"),
          // center (±1, shared by the whole latent cluster) + per-doc noise
          // (±1, keyed by src so a copy replicates its source's noise) +
          // tiny per-id jitter. Same-center NON-copies land near cos ~0.5
          // (far below threshold); copies near cos ~1 — essentially only
          // the deliberate duplicates clear 0.9.
          expr(s"""transform(sequence(1, $dim), j ->
            CAST((pmod(xxhash64(pmod(src, $latent), j), 1000) / 500.0 - 1.0) +
                 (pmod(xxhash64(src, j + 100), 1000) / 500.0 - 1.0) +
                 (pmod(xxhash64(id, j + 200), 100) / 2500.0) AS FLOAT))""").as("embedding"))
        .drop("id", "src")

      val (pairs, stats) = p.measure {
        operators.Dedup.semanticPairs(
          emb, "vec_id", "embedding", threshold = 0.9,
          dim = dim, nCells = nCells, iters = 2, nProbes = 2).count()
      }
      graft.util.Caches.drain()
      p.emit("semantic", stats, "n" -> n, "nCells" -> nCells, "pairs" -> pairs,
        "vecs_per_sec_per_core" -> n * 1000.0 / stats.wallTimeMs / p.cpus)
    }
  }
}
