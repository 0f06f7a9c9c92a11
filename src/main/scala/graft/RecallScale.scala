package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Recall probe for the approximate ANN/semantic family on CLUSTERED
 * corpora, sibling of [[SemanticScale]] (which measures the pair stage's
 * cost, not its recall). The battery's recall gates (`ann_ivf_recall`,
 * `ann_lsh_recall`, `dd_semantic_recall`) run on near-uniform synthetic
 * vectors — the WORST case for cell-locality, since every cell boundary
 * cuts through uniformly dense neighborhoods. Real embedding corpora
 * cluster. This probe generates a mixture-of-Gaussians-shaped corpus
 * (hash-derived, deterministic: `latent` centers scaled by `sep`, unit
 * per-point noise, ~5% planted near-duplicate pairs) at two cluster
 * separations and records:
 *
 *  - IVF recall@10 vs nProbes (ground truth = [[operators.Ann.bruteForceTopK]]
 *    over ~200 corpus queries, both sides tie-broken identically);
 *  - [[operators.Dedup.semanticPairs]] planted-pair recall vs nProbes
 *    (truth = the planted pairs whose true cosine clears the threshold —
 *    recall against a fixed known subset is well-defined no matter what
 *    else the threshold sweeps in).
 *
 * `sep` is the center-spread : per-point-noise ratio. 0.5 ≈ heavily
 * overlapping clusters (near-uniform-like, the battery's regime); 2.0 =
 * well-separated (same-cluster non-copy cosine ≈ sep²/(sep²+1) ≈ 0.8,
 * still safely under the 0.9 dedup threshold, so planted truth stays
 * comparable across separations while the IVF cell structure changes
 * completely).
 *
 * Args: corpus size (default 100000).
 */
object RecallScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val n = if (p.args.nonEmpty) p.args(0).toLong else 100000L
    graft.functions.VectorFunctions.register(spark)

    val dim = 16
    val latent = 256
    val nCells = 64
    val k = 10
    val threshold = 0.9

    Seq(0.5, 2.0).foreach { sep =>
      // center (shared by the whole latent cluster, scaled by sep) +
      // per-doc noise (keyed by src so a planted copy replicates its
      // source's noise) + tiny per-id jitter keeping copies near cos ~1.
      val emb = spark.range(n)
        .withColumn("src", when(pmod(col("id"), lit(20)) === 1, col("id") - 1)
          .otherwise(col("id")))
        .select(col("id").as("vec_id"), col("id"), col("src"),
          expr(s"""transform(sequence(1, $dim), j ->
            CAST($sep * (pmod(xxhash64(pmod(src, $latent), j), 1000) / 500.0 - 1.0) +
                 (pmod(xxhash64(src, j + 100), 1000) / 500.0 - 1.0) +
                 (pmod(xxhash64(id, j + 200), 100) / 2500.0) AS FLOAT))""").as("embedding"))
        .drop("id", "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      emb.count()

      // ---- IVF recall@k vs nProbes ----
      val queries = emb.where(pmod(col("vec_id"), lit(n / 200)) === 0)
      val truth = operators.Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", k)
        .select("query_id", "neighbor_id").persist(StorageLevel.MEMORY_AND_DISK)
      val truthN = truth.count()
      Seq(1, 2, 4).foreach { nProbes =>
        val (hits, stats) = p.measure {
          operators.Ann.ivfTopK(emb, queries, "vec_id", "embedding",
              dim, nCells, iters = 2, k = k, nProbes = nProbes)
            .select("query_id", "neighbor_id")
            .join(truth, Seq("query_id", "neighbor_id")).count()
        }
        graft.util.Caches.drain()
        p.emit("ivf", stats, "sep" -> sep, "n" -> n, "nCells" -> nCells,
          "nProbes" -> nProbes, "recall" -> hits.toDouble / truthN)
      }

      // ---- semanticPairs planted-pair recall vs nProbes ----
      val planted = emb.where(pmod(col("vec_id"), lit(20)) === 1)
        .select((col("vec_id") - 1).as("v1"), col("vec_id").as("v2"))
        .join(emb.select(col("vec_id").as("v1"), col("embedding").as("va")), Seq("v1"))
        .join(emb.select(col("vec_id").as("v2"), col("embedding").as("vb")), Seq("v2"))
        .where(expr("vec_dot(va, vb)") /
          (expr("vec_norm(va)") * expr("vec_norm(vb)")) >= threshold)
        .select("v1", "v2").persist(StorageLevel.MEMORY_AND_DISK)
      val plantedN = planted.count()
      Seq(1, 2).foreach { nProbes =>
        val (found, stats) = p.measure {
          operators.Dedup.semanticPairs(emb, "vec_id", "embedding",
              threshold, dim = dim, nCells = nCells, iters = 2, nProbes = nProbes)
            .join(planted, Seq("v1", "v2")).count()
        }
        graft.util.Caches.drain()
        p.emit("semantic", stats, "sep" -> sep, "n" -> n, "nCells" -> nCells,
          "nProbes" -> nProbes, "planted" -> plantedN, "recall" -> found.toDouble / plantedN)
      }
      Seq(emb, truth, planted).foreach(_.unpersist(blocking = true))
    }
  }
}
