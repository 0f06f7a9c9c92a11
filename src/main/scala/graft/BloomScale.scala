package graft

import org.apache.spark.sql.functions._

/**
 * Scale probe for the Bloom-routed blocklist scrub
 * (TextAnalysis.blocklistFilter) vs the plain left-anti join it is
 * semantically equal to. The battery runs it on 5k docs where AQE simply
 * broadcasts the blocklist; the operator exists for the regime where the
 * blocklist CANNOT broadcast (multi-GB hash lists), so the probe disables
 * auto-broadcast to put both plans in that regime and measures wall +
 * shuffle bytes at two corpus sizes. Expected shape: the plain anti-join
 * shuffles the ENTIRE corpus by key; the bloom route shuffles only the
 * maybe-rows (true hits + fpp·corpus), so its shuffle volume is ~constant
 * in corpus size at fixed hit count while the plain join's grows linearly.
 * Both paths must return identical kept counts (the routing is semantics-
 * free — that is the operator's contract, oracle-pinned in the battery).
 */
object BloomScale extends Probe.Body {
  // The regime the operator exists for: blocklist too big to broadcast.
  override def confs(cpus: Int) = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")

  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val sizes = if (p.args.nonEmpty) p.args.map(_.toLong) else Seq(2000000L, 10000000L)

    sizes.foreach { n =>
      // Corpus keys k<id>; every 200th doc is blocked (n/200 true hits);
      // the blocklist also carries n/200 keys absent from the corpus.
      val corpus = graft.util.Caches.retain(spark.range(n)
        .select(col("id").as("doc_id"), concat(lit("k"), col("id")).as("k")))
      val block = graft.util.Caches.retain(
        spark.range(n / 200).select(concat(lit("k"), col("id") * 200).as("bk"))
          .unionByName(spark.range(n / 200)
            .select(concat(lit("x"), col("id")).as("bk"))))
      corpus.count(); block.count() // materialize inputs outside the timings

      val (plainKept, plainStats) = p.measure {
        corpus.join(block, col("k") === col("bk"), "left_anti").count()
      }
      val (bloomKept, bloomStats) = p.measure {
        operators.TextAnalysis.blocklistFilter(corpus, "k", block, "bk",
          expectedItems = n / 100, fpp = 0.01).count()
      }
      require(plainKept == bloomKept,
        s"routing changed semantics: $plainKept vs $bloomKept")
      graft.util.Caches.drain()
      p.emit("plain", plainStats, "n" -> n, "blocked" -> (n - plainKept), "kept" -> plainKept)
      p.emit("bloom", bloomStats, "n" -> n, "blocked" -> (n - bloomKept), "kept" -> bloomKept)
    }
  }
}
