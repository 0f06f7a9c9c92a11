package graft

import org.apache.spark.sql.functions._

/**
 * Scale probe for PQ-ADC ANN (Ann.pqTrain/pqCodes/pqScoreTopK), sibling of
 * [[SemanticScale]]: the sf0.1 battery runs it on 2k embeddings — far too
 * small for the serving-cost claims to show. This probe synthesizes a
 * clustered corpus with PLANTED near-duplicates of each query (tiny jitter,
 * cos ≈ 0.999 vs ~0.86 for same-cluster bulk) and times the deployment's
 * phases separately:
 *
 *  - train:  codebook k-means (offline, once per corpus);
 *  - encode: code assignment + norm (offline, once per corpus at ingest —
 *            the persisted 8-bytes-per-vector PQ store);
 *  - adc:    LUT + ADC scan over the code table + exact re-rank of the
 *            shortlist (the per-query-batch serving cost);
 *  - brute:  exact cosine top-k over full float vectors (the baseline).
 *
 * Metric note: exact-top-k overlap is NOT the pass criterion on this
 * corpus — within a ~3k-member cluster every vector ties near cos 0.86
 * (differences in the 3rd decimal are pure noise ranking), which no
 * 8-byte quantizer can and no retrieval use-case needs to reproduce. The
 * criterion is dup_recall: the planted true matches, separated from the
 * bulk by construction like real retrieval targets, must ALL surface in
 * the re-ranked top-k. Recorded in BENCH.md: dup_recall = 1.0 and the adc
 * serving wall vs the brute scan at both sizes.
 */
object PqScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val sizes = if (p.args.nonEmpty) p.args.map(_.toLong) else Seq(200000L, 1000000L)
    graft.functions.VectorFunctions.register(spark)

    // The standard serving shape: 8-bit codebooks (nCodes = 256; the
    // battery's 16-code variant is sized for its 500-vector corpus).
    val dim = 64; val nSub = 16; val nCodes = 256; val iters = 2
    val k = 10; val rerank = 8; val nQueries = 32; val dupsPerQuery = 5
    sizes.foreach { n =>
      val latent = 64 // clustered corpus: 64 latent centers
      val nPlanted = nQueries * dupsPerQuery
      val emb = graft.util.Caches.retain(spark.range(n)
        // The last nPlanted ids are jittered copies of the queries
        // (ids 0..nQueries): the well-separated true matches.
        .withColumn("src", when(col("id") >= n - nPlanted,
          pmod(col("id"), lit(nQueries))).otherwise(col("id")))
        .select(col("id").as("vec_id"),
          // center (±1, shared per latent cluster, keyed by src so copies
          // replicate their source) + per-src noise (±0.4) + tiny per-id
          // jitter (±0.02) that separates a copy from its source without
          // leaving its neighborhood.
          expr(s"""transform(sequence(1, $dim), j ->
            CAST((pmod(xxhash64(pmod(src, $latent), j), 1000) / 500.0 - 1.0) +
                 (pmod(xxhash64(src, j + 100), 1000) / 1250.0 - 0.4) +
                 (pmod(xxhash64(vec_id, j + 200), 100) / 2500.0) AS FLOAT))""")
            .as("embedding"))
        .drop("src"))
      emb.count() // materialize so no phase pays generation cost
      val queries = emb.where(col("vec_id") < nQueries)

      val (books, train) = p.measure {
        operators.Ann.pqTrain(emb, "vec_id", "embedding", dim, nSub, nCodes, iters)
      }

      val (codes, encode) = p.measure {
        val c = graft.util.Caches.retain(
          operators.Ann.pqCodes(emb, "vec_id", "embedding", books))
        c.count()
        c
      }

      val pq = operators.Ann.pqScoreTopK(emb, queries, "vec_id", "embedding",
        books, k, rerank, precomputedCodes = Some(codes))
      val (_, adc) = p.measure(pq.count())

      val (_, adc0) = p.measure {
        operators.Ann.pqScoreTopK(emb, queries, "vec_id", "embedding",
          books, k, rerank = 1, precomputedCodes = Some(codes)).count()
      }

      // The at-scale claim is scan FOOTPRINT, not CPU: persist both stores
      // and compare bytes (the code table is what an out-of-memory corpus
      // scan actually reads).
      def dirBytes(path: String): Long = {
        val d = new java.io.File(path)
        if (!d.exists) 0L else d.listFiles.map(_.length).sum
      }
      val base = p.path(s"graft_pqscale/$n")
      codes.write.mode("overwrite").parquet(s"$base/codes")
      emb.write.mode("overwrite").parquet(s"$base/vectors")
      val codeBytes = dirBytes(s"$base/codes")
      val vecBytes = dirBytes(s"$base/vectors")

      val exact = operators.Ann.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k)
      val (exactRows, brute) = p.measure(exact.count())

      // IVFADC: coarse routing over the same corpus (64 cells, 4 probes) —
      // the sub-linear serving path. Index build = k-means + residual
      // codes (offline, per ingest); serve = LUT + cell-local ADC + exact
      // re-rank. cand_frac measures the fraction of the code table the ADC
      // scan actually touches (Σ probed-cell sizes / (n × queries)) — the
      // sub-linearity claim, measured rather than argued.
      val nCells = 64; val nProbes = 4
      val ((ivfCodes, cents, rbooks), ivfIndex) = p.measure {
        val (ivfCodes0, cents, rbooks) = operators.Ann.ivfPqIndex(emb,
          "vec_id", "embedding", dim, nCells, 2, nSub, nCodes, iters)
        val ivfCodes = graft.util.Caches.retain(ivfCodes0)
        ivfCodes.count()
        (ivfCodes, cents, rbooks)
      }
      val ivfpq = operators.Ann.ivfPqServe(emb, queries, "vec_id",
        "embedding", cents, rbooks, ivfCodes, k, nProbes, rerank)
      val (_, ivfServe) = p.measure(ivfpq.count())
      val candRows = queries.select(col("vec_id"),
          explode(operators.Ann.probeCellsCol("embedding", cents, nProbes)
            .getField("cell")).as("cell"))
        .join(ivfCodes.groupBy("cell").count(), "cell")
        .agg(sum("count")).collect()(0).getLong(0)
      val plantedIvf = ivfpq
        .where(col("neighbor_id") >= n - nPlanted &&
          pmod(col("neighbor_id"), lit(nQueries)) === col("query_id"))
        .count()
      val overlapIvf = ivfpq.select(col("query_id"), col("neighbor_id"))
        .join(exact.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .count().toDouble / exactRows

      // Planted-match recall: every (query, copy) pair must surface in the
      // re-ranked PQ top-k (k > dupsPerQuery, so room is not the binder).
      val planted = pq
        .where(col("neighbor_id") >= n - nPlanted &&
          pmod(col("neighbor_id"), lit(nQueries)) === col("query_id"))
        .count()
      val dupRecall = planted.toDouble / nPlanted
      val overlap = pq.select(col("query_id"), col("neighbor_id"))
        .join(exact.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"))
        .count().toDouble / exactRows
      graft.util.Caches.drain()
      val perCore = (s: graft.result.JobStats.Snapshot) =>
        n.toDouble * nQueries * 1000.0 / s.wallTimeMs / p.cpus
      p.emit("train", train, "n" -> n)
      p.emit("encode", encode, "n" -> n, "code_bytes" -> codeBytes, "vec_bytes" -> vecBytes,
        "store_ratio" -> vecBytes.toDouble / codeBytes)
      p.emit("adc", adc, "n" -> n, "dup_recall" -> dupRecall, "topk_overlap" -> overlap,
        "vecs_per_sec_per_core" -> perCore(adc))
      p.emit("adc_norerank", adc0, "n" -> n)
      p.emit("brute", brute, "n" -> n, "vecs_per_sec_per_core" -> perCore(brute))
      p.emit("ivf_index", ivfIndex, "n" -> n, "cells" -> nCells)
      p.emit("ivf_serve", ivfServe, "n" -> n, "cells" -> nCells, "probes" -> nProbes,
        "dup_recall" -> plantedIvf.toDouble / nPlanted, "topk_overlap" -> overlapIvf,
        "cand_frac" -> candRows.toDouble / (n.toDouble * nQueries))
    }
  }
}
