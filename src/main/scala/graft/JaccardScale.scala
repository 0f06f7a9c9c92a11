package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Scale probe for [[operators.Dedup.jaccardPairs]] (dev tool, sibling of
 * [[DedupScale]]/[[IncrementalScale]]): the sf0.1 battery row reuses its
 * warmup's cached df-filtered shingle table, so the pair-generation change
 * (r20: sorted-posting-list explode instead of the inverted-index
 * self-join) is invisible there. This probe times the operator end-to-end
 * on a corpus large enough that pair generation dominates, and prints the
 * pair count + jac checksum so an A/B across implementations can assert
 * bit-identical results.
 *
 * Corpus: the IncrementalScale text shape (deterministic 40-token docs,
 * 1024-word vocab) with every third doc duplicating seed id%7 — dense
 * near-dup structure so postings carry real multi-element lists.
 *
 * Args: doc counts (default 100000).
 */
object JaccardScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val sizes = if (p.args.nonEmpty) p.args.map(_.toLong) else Seq(100000L)

    val vocabSql = (0 until 1024).map(i => s"'w$i'").mkString(", ")
    def run(n: Long, warmup: Boolean): Unit = {
      val corpus = spark.range(n)
        .select(col("id").as("doc_id"),
          expr(s"CASE WHEN id % 3 = 0 THEN id % 7 ELSE id END").as("__seed"))
        .select(col("doc_id"),
          expr(s"concat_ws(' ', transform(sequence(1, 40), " +
            s"p -> element_at(array($vocabSql), " +
            s"CAST(pmod(hash(__seed, p), 1024) + 1 AS INT))))").as("text"))
        .repartition(p.cpus * 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
      corpus.count()
      System.gc()
      val (res, stats) = p.measure {
        operators.Dedup.jaccardPairs(
            operators.Dedup.charShingles(corpus, "doc_id", "text", 5),
            threshold = 0.25, maxDf = 100)
          .agg(count(lit(1)).as("pairs"),
            sum(expr("CAST(jac * 1000000 AS BIGINT)")).as("jac_sum"))
          .collect()(0)
      }
      if (!warmup)
        p.emit("jaccard", stats, "docs" -> n, "pairs" -> res.getLong(0),
          "jac_sum" -> res.getLong(1))
      graft.util.Caches.drain()
      corpus.unpersist(blocking = true)
    }
    run(math.min(20000L, sizes.min), warmup = true) // never above the smallest size
    sizes.foreach(run(_, warmup = false))
  }
}
