package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Scale probe for incremental dedup ([[operators.Dedup.incrementalCandidates]]
 * / [[operators.Dedup.incrementalKeep]]), sibling of [[DedupScale]]: the
 * claim under test is that per-BATCH cost is independent of CORPUS size —
 * the production property that lets a 100 TB corpus grow by daily
 * increments without ever re-pairing itself. The corpus bucket index is
 * built once (timed separately, amortized across every future batch); the
 * timed increment is batch signature + bucket join + survivor fixpoint.
 * For contrast, `full_sec` times what the non-incremental pipeline would
 * redo at each increment: LSH candidates + components over corpus ∪ batch.
 *
 * Corpus text generation matches [[DedupScale]] (deterministic 40-token
 * docs, 1024-word vocab — unrelated docs share ~no shingles). Batch docs
 * (ids above the corpus range): one third exact-duplicate a corpus doc
 * (seed = id % n), one third duplicate their batch predecessor (chains —
 * exercising transitivity through the survivor components), one third are
 * unique.
 *
 * Args: corpus sizes (default 200000, 1000000); batch is
 * `GRAFT_BATCH` docs (default 20000) at every corpus size.
 */
object IncrementalScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val sizes = p.sizes(200000L, 1000000L)
    val batchN = sys.env.getOrElse("GRAFT_BATCH", "20000").toLong

    val vocabSql = (0 until 1024).map(i => s"'w$i'").mkString(", ")
    def text(seedCol: String) =
      expr(s"concat_ws(' ', transform(sequence(1, 40), " +
        s"p -> element_at(array($vocabSql), " +
        s"CAST(pmod(hash($seedCol, p), 1024) + 1 AS INT))))").as("text")
    // GC before every timed stage (the Bench rule): a previous stage's
    // garbage — million-doc string frames — otherwise lands as a
    // multi-second pause inside the next stage's wall time.
    def timed[A](f: => A) = { System.gc(); p.measure(f) }
    // --fast: the xxhash64 family (the 100 TB configuration — see
    // minHashSignature's scaladoc); default stays md5 so recorded runs
    // remain comparable across rounds.
    val fastHash = p.flags("--fast").contains("--fast")
    def buckets(df: org.apache.spark.sql.DataFrame) = operators.Dedup.lshBuckets(
      operators.Dedup.minHashSignature(
        operators.Dedup.charShingles(df, "doc_id", "text", 5), k = 8,
        fastHash = fastHash),
      k = 8, rowsPerBand = 4, fastHash = fastHash)

    def run(n: Long, bN: Long, warmup: Boolean): Unit = {
      val corpus = spark.range(n)
        .select(col("id").as("doc_id"), text("id"))
        .repartition(p.cpus * 2)
        .persist(StorageLevel.MEMORY_AND_DISK)
      corpus.count()
      // Batch thirds: corpus dup (seed = id % n — exact text of a corpus
      // doc), dup of the batch predecessor's corpus doc (same effective
      // seed — chains batch↔batch↔corpus through the survivor components),
      // unique (raw id seed, disjoint from every corpus seed).
      val batch = spark.range(n, n + bN)
        .select(col("id").as("doc_id"),
          expr(s"CASE WHEN id % 3 = 0 THEN id % $n " +
            s"WHEN id % 3 = 1 THEN (id - 1) % $n ELSE id END").as("__seed"))
        .select(col("doc_id"), text("__seed"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      batch.count()

      // Index build: once per corpus lifetime, not per batch. The per-
      // bucket counts are stored with it (the corpusCounts contract).
      val (ix, indexStats) = timed {
        val b = buckets(corpus).persist(StorageLevel.MEMORY_AND_DISK)
        val c = b.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("n")).persist(StorageLevel.MEMORY_AND_DISK)
        c.count()
        (b, c)
      }
      val (index, counts) = ix
      // The increment: everything a new batch costs.
      val (nKept, incStats) = timed {
        val pairs = operators.Dedup.incrementalCandidates(index, buckets(batch),
          corpusCounts = Some(counts))
        operators.Dedup.incrementalKeep(batch, "doc_id", pairs,
          corpus.select(col("doc_id"))).count()
      }
      graft.util.Caches.drain()
      // What a full re-dedup of corpus ∪ batch would redo instead.
      val (nFullClusters, fullStats) = timed {
        val pairs = operators.Dedup.lshCandidates(buckets(corpus.union(batch)))
        operators.Dedup.components(pairs).select("label").distinct().count()
      }
      if (!warmup) {
        p.emit("index", indexStats, "corpus" -> n, "batch" -> bN)
        p.emit("increment", incStats, "corpus" -> n, "batch" -> bN, "kept" -> nKept)
        p.emit("full", fullStats, "corpus" -> n, "batch" -> bN, "full_clusters" -> nFullClusters)
      }
      Seq(corpus, batch, index, counts).foreach(_.unpersist(blocking = true))
      graft.util.Caches.drain()
    }

    // JIT/codegen warmup — untimed, and never larger than the smallest
    // measured corpus.
    val w = math.min(50000L, sizes.min)
    run(w, w / 10, warmup = true)
    sizes.foreach(n => run(n, batchN, warmup = false))
  }
}
