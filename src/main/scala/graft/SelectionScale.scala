package graft

import org.apache.spark.sql.functions._

/**
 * Scale probe for DSIR importance selection (operators.Dsir): verifies the
 * operator's 100 TB claims by measurement rather than plan shape —
 *
 *  1. the model stays `nBuckets` rows no matter the corpus size (train
 *     wall grows linearly with gram volume, the output does not);
 *  2. scoring is row-local — zero shuffle (the native `dsir_row_score`
 *     fold; each doc's ~23 grams never leave its row): the probe reports
 *     shuffle bytes per document, which is only the top-k's gather of k
 *     rows per partition and so falls toward 0 as the corpus grows;
 *  3. hard top-k (TakeOrderedAndProject) and the map-only threshold form
 *     cost the same scan — the threshold form is the path for selections
 *     too large for a driver-side k-row merge.
 *
 * Corpus is synthetic: 12 pseudo-random vocabulary words per doc drawn
 * from Zipf-ish pools, target slice = every 17th doc.
 */
object SelectionScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    // --fast switches the hash family to xxhash64 (the Dedup fast-family
    // precedent) for a like-for-like cost comparison against md5.
    val fast = p.flags("--fast").contains("--fast")
    val sizes = p.sizes(2000000L, 10000000L)
    val b = 10000

    // Untimed warmup at 1M docs (or the smallest size below that) with the
    // REAL text shape: whole-stage
    // codegen compilation, md5/agg JIT warm-in and the first parquet
    // writer init otherwise land inside the first size's timings (the
    // Bench warmup contract; measured: the first full-occupancy train run
    // in a cold JVM costs up to 3x its steady state).
    {
      val wWords = (0 until 12).map { j =>
        val pool = Seq(50000, 5000, 500, 50)(j % 4)
        concat(lit("w"), pmod(col("doc_id") * lit(2654435761L + j * 40503L), lit(pool)))
      }
      val w = spark.range(math.min(1000000L, sizes.min)).select(col("id").as("doc_id"))
        .select(col("doc_id"), concat_ws(" ", wWords: _*).as("text"))
      val fixW = p.path("graft_selscale_model/warmup")
      operators.Dsir.trainLogRatios(w.where(pmod(col("doc_id"), lit(17)) === 0),
        w, "doc_id", "text", b, "sc", fast)
        .coalesce(1).write.mode("overwrite").parquet(fixW)
      operators.Dsir.selectTopK(operators.Dsir.score(
        w, spark.read.parquet(fixW), "doc_id", "text", b, "sc", fast), 1000)
        .agg(sum(col("doc_id"))).head()
    }

    sizes.foreach { n =>
      // 12 words/doc from pools of shrinking cardinality (Zipf-ish mix).
      val words = (0 until 12).map { j =>
        val pool = Seq(50000, 5000, 500, 50)(j % 4)
        concat(lit("w"), pmod(col("doc_id") * lit(2654435761L + j * 40503L), lit(pool)))
      }
      val corpus = graft.util.Caches.retain(spark.range(n)
        .select(col("id").as("doc_id"), concat_ws(" ", words: _*).as("text")))
      corpus.count() // materialize outside the timings
      val target = corpus.where(pmod(col("doc_id"), lit(17)) === 0)
      val fix = p.path(s"graft_selscale_model/$n")

      import graft.result.JobStats.minOf2
      val (_, train) = minOf2(p.measure {
        operators.Dsir.trainLogRatios(target, corpus, "doc_id", "text", b, "sc", fast)
          .coalesce(1).write.mode("overwrite").parquet(fix)
      })
      // Built outside the timings: score collects the model and checks it
      // is exactly nBuckets rows, one per bucket.
      val scored = operators.Dsir.score(corpus, spark.read.parquet(fix),
        "doc_id", "text", b, "sc", fast)

      val (topSum, score) = minOf2(p.measure {
        operators.Dsir.selectTopK(scored, 1000)
          .agg(sum(col("doc_id"))).head().getLong(0)
      })
      val (thrCount, thr) = minOf2(p.measure {
        scored.where(col("logw_micro") > 0L).count()
      })
      graft.util.Caches.drain()
      p.emit("train", train, "fast" -> fast, "n" -> n)
      p.emit("score", score, "fast" -> fast, "n" -> n, "topk_check" -> topSum,
        "shuffle_b_per_doc" -> score.shuffleBytesWritten.toDouble / n,
        "docs_per_s_core" -> n / score.coreSecs)
      p.emit("threshold", thr, "fast" -> fast, "n" -> n, "kept" -> thrCount)
    }
  }
}
