package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup, Dsir, LmScore, Multimodal, Sampling, TextAnalysis}

/**
 * Driver-contract queries for the training-data pipeline operators
 * (dedup / similarity search / text analysis / multimodal plumbing) over the
 * `documents` and `embeddings` tables, with DuckDB oracles.
 *
 * Engine-independence invariants the oracles rely on:
 *  - all content hashing is md5 (identical hex in any engine);
 *  - MinHash = lexicographic min of salted md5 strings (no hex→int);
 *  - ratios are single divisions of exact integer counts;
 *  - similarity thresholds sit far from any attainable value, so float-ulp
 *    differences in dot products can't flip membership;
 *  - integer outputs are cast to BIGINT on both sides (Spark's int32 size()/
 *    bit_count() vs DuckDB's int64 would otherwise mismatch schemas).
 */
object PipelineQueries {

  type QFn = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def emb(s: SparkSession, dir: String)  = Tables.embeddings(s, dir)

  /** LM-model fixture for tx_lm_score, keyed by SF-dir name (same contract
    * as RelationalQueries' CSV/ORC fixtures: runs at different SFs must not
    * clobber each other's model between dump and oracle compare). */
  private def lmFixturePath(dir: String): String =
    s"/tmp/graft_lm_fixture/${new java.io.File(dir).getName}/model"

  /** Oracle-side glob for the LM fixture (resolved from the SF-dir-name
    * property Verify records before dumping oracle_sql.json). */
  private def lmOracleGlob: String =
    s"/tmp/graft_lm_fixture/${sys.props.getOrElse("graft.sfdir.name", "sf0.01")}/model/*.parquet"

  /** The pipeline_zorder oracle's Morton interleave, one OR-term per
    * (dim, bit): dim i's bit b lands at output position b*2 + i — the same
    * placement ZOrder.interleave codegens. */
  private def mortonTermsSql: String =
    (0 until 8).map(k =>
      s"(((b0 >> $k) & 1) << ${2 * k}) | (((b1 >> $k) & 1) << ${2 * k + 1})")
      .mkString(" | ")

  /** DSIR importance-model fixture (same SF-keyed contract as the LM
    * fixture above). */
  private def dsirFixturePath(dir: String): String =
    s"/tmp/graft_dsir_fixture/${new java.io.File(dir).getName}/model"

  private def dsirOracleGlob: String =
    s"/tmp/graft_dsir_fixture/${sys.props.getOrElse("graft.sfdir.name", "sf0.01")}/model/*.parquet"

  /** Serve half of tx_lm_score: score every document against the model
    * fixture the contract row writes (built on first touch). */
  private val lmServe: QFn = (s, dir) => {
    val d = docs(s, dir)
    val fix = lmFixturePath(dir)
    if (!fixtureReady(fix)) buildFixtureAtomic(fix) { tmp =>
      LmScore.trainModel(d.where(col("doc_id") % 10 === 0), "doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    LmScore.score(d, s.read.parquet(fix), "doc_id", "text")
  }

  /** Serve half of pipeline_dsir: score every document against the model
    * fixture the contract row writes (built on first touch), then the
    * same top-100. */
  private val dsirServe: QFn = (s, dir) => {
    val d = docs(s, dir)
    val fix = dsirFixturePath(dir)
    if (!fixtureReady(fix)) buildFixtureAtomic(fix) { tmp =>
      Dsir.trainLogRatios(d.where(col("doc_id") % 5 === 0), d,
        "doc_id", "text", 256, "dsir")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    Dsir.selectTopK(
      Dsir.score(d, s.read.parquet(fix), "doc_id", "text", 256, "dsir"),
      k = 100)
  }

  /** Recall gate for an approximate ANN result vs the exact one: single
    * row `passed = 1` iff |approx ∩ exact| / |exact| >= floor, computed
    * entirely as one Spark aggregate (no driver-side collection). Both
    * inputs are deterministic (md5-seeded hyperplanes / lowest-id k-means
    * init), so the gate is reproducible — a regression in the approximate
    * plan flips the row to 0 and the driver's literal oracle goes red. */
  private def recallGate(approx: DataFrame, exact: DataFrame,
                         floor: Double): DataFrame = {
    val a = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("hit", lit(1))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(a, Seq("query_id", "neighbor_id"), "left")
      // empty ground truth ⇒ recall is vacuously 1 (sum over zero rows is
      // NULL, which would otherwise fail the gate as a false regression)
      .agg(coalesce(sum(coalesce(col("hit"), lit(0))) / count(lit(1)), lit(1.0))
        .as("recall"))
      .select(when(col("recall") >= floor, lit(1L)).otherwise(lit(0L)).as("passed"))
  }

  /** MinHash-LSH candidate pairs over documents (shared by dd_minhash_lsh
    * and dd_clusters). */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sh  = Dedup.charShingles(docs(s, dir), "doc_id", "text", 5)
    val sig = Dedup.minHashSignature(sh, k = 8)
    Dedup.lshCandidates(Dedup.lshBuckets(sig, k = 8, rowsPerBand = 4))
  }

  val queries: Map[String, QFn] = Map(
    "dd_exact" -> ((s, dir) => Dedup.exact(docs(s, dir), "doc_id", "text")),

    "dd_minhash_lsh" -> ((s, dir) => minhashPairs(s, dir)),

    // Pairs → connected components → one canonical doc per cluster: the
    // final step of a dedup pipeline. Min-label propagation, O(diameter)
    // iterations; the oracle recomputes components via a recursive CTE.
    "dd_clusters" -> ((s, dir) => Dedup.clusters(minhashPairs(s, dir))),

    // The pipeline's final materialization: the corpus with every
    // duplicate-cluster member dropped except its canonical min-id rep.
    // md5(text) stands in for the full payload in the compared output.
    "dd_keep_one" -> ((s, dir) =>
      Dedup.keepCanonical(docs(s, dir), "doc_id", minhashPairs(s, dir))
        .select(col("doc_id"), md5(col("text")).as("text_md5"))),

    // Incremental dedup: docs split into an existing corpus (doc_id%4!=0,
    // indexed once) and an incoming batch (doc_id%4==0); the batch's
    // survivors against corpus + itself, never self-joining the corpus.
    // The oracle recomputes the SAME pair CTEs as dd_minhash_lsh over the
    // full table, restricts to pairs touching the batch, and applies the
    // corpus-precedence survivor rule via recursive closure — green means
    // incremental processing equals the full-batch result.
    "dd_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val batch = d.where(pmod(col("doc_id"), lit(4)) === 0)
      val corpus = d.where(pmod(col("doc_id"), lit(4)) =!= 0)
      def buckets(df: DataFrame) = Dedup.lshBuckets(
        Dedup.minHashSignature(Dedup.charShingles(df, "doc_id", "text", 5), k = 8),
        k = 8, rowsPerBand = 4)
      val pairs = Dedup.incrementalCandidates(buckets(corpus), buckets(batch))
      Dedup.incrementalKeep(batch, "doc_id", pairs, corpus.select(col("doc_id")))
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
    }),

    // Full corpus (no sample): the df cap is what keeps the inverted-index
    // join linear-in-corpus, so the query exercises the scale guard itself.
    "dd_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(
        Dedup.charShingles(docs(s, dir), "doc_id", "text", 5),
        threshold = 0.25, maxDf = 100)),

    "dd_simhash" -> ((s, dir) =>
      Dedup.simHash(docs(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("fp"))),

    // Full corpus: banded candidate join (4 bands × 8 bits; pigeonhole
    // guarantees exact recall at ham<=3), so the brute-force oracle below
    // certifies the banded implementation reproduces all-pairs semantics.
    "dd_simhash_pairs" -> ((s, dir) =>
      Dedup.simHashPairs(
        Dedup.simHash(docs(s, dir), "doc_id", "text"), maxHamming = 3)
        .select(col("d1"), col("d2"), col("ham").cast("long").as("ham"))),

    // The production bit width: 64-bit fingerprints drop banded candidate
    // volume to ~n²/2^16 per band (16-bit bands at maxHamming=3). Same
    // pigeonhole-exact recall; the brute-force oracle certifies it across
    // the sign bit (bit 63 = BIGINT two's-complement −2^63 in both engines).
    "dd_simhash64_pairs" -> ((s, dir) =>
      Dedup.simHashPairs(
        Dedup.simHash(docs(s, dir), "doc_id", "text", nBits = 64),
        maxHamming = 3, nBits = 64)
        .select(col("d1"), col("d2"), col("ham").cast("long").as("ham"))),

    // Multi-table quantized sign-LSH candidates + exact cosine re-rank; the
    // oracle re-derives the same integer buckets, so the match is exact.
    "dd_embed_near" -> ((s, dir) =>
      Dedup.embeddingNearDups(emb(s, dir), "vec_id", "embedding", threshold = 0.4)),

    // SemDeDup-style semantic dedup: k-means cells (3-probe assignment) →
    // within-cell exact-cosine pairs → keep min-id canonical per component.
    // K-means cell boundaries aren't SQL-mirrorable → rows-only, paired
    // with the dd_semantic_recall gate below (same convention as ann_*).
    "dd_semantic" -> ((s, dir) =>
      Dedup.semanticDedup(emb(s, dir), "vec_id", "embedding", threshold = 0.4,
        dim = 64, nCells = 8, iters = 2, nProbes = 3)
        .select(col("vec_id")).orderBy(col("vec_id"))),

    // Pair-recall of the cell-local pairs vs the exact all-pairs ground
    // truth (the package's labeled small-n baseline). Measured recall at
    // nCells=8/nProbes=3: 0.985 (sf0.001) / 1.0 (sf0.01) / 0.953 (sf0.1) —
    // floor 0.85 flags a real regression without riding the noise edge.
    "dd_semantic_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      def asPairs(df: DataFrame) =
        df.select(col("v1").as("query_id"), col("v2").as("neighbor_id"))
      recallGate(
        asPairs(Dedup.semanticPairs(e, "vec_id", "embedding", threshold = 0.4,
          dim = 64, nCells = 8, iters = 2, nProbes = 3)),
        asPairs(Dedup.exactCosinePairs(e, "vec_id", "embedding", threshold = 0.4)),
        floor = 0.85)
    }),

    "ann_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Ann.bruteForceTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),

    // Scale path #2: IVF (k-means cells, 2-probe: each query searches its
    // two nearest cells — 0.92 recall vs brute at sf0.01). Approximate by
    // design, rows-only check.
    "ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Ann.ivfTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        dim = 64, nCells = 8, iters = 2, k = 5, nProbes = 2)
    }),

    // Scale path: multi-table multi-probe sign-LSH (4 tables × 8 bits, each
    // query probes 2^5 low-margin bit flips per table — 0.84 recall vs
    // brute at sf0.01, vs 0 single-probe on this near-uniform corpus).
    // Approximate by design, so rows-only check.
    "ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Ann.multiProbeLshTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        dim = 64, nBits = 8, k = 5, nFlipBits = 5, nTables = 4)
    }),

    // Driver-gated recall floors for the two approximate ANN paths (the
    // result sets above stay rows-only; these turn their quality into a
    // hard oracle row). Floors sit below the measured recalls (0.84 LSH,
    // 0.92 IVF at sf0.01) with margin for corpus growth across SFs.
    "ann_lsh_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 5)
      recallGate(
        Ann.multiProbeLshTopK(e, q, "vec_id", "embedding",
          dim = 64, nBits = 8, k = 5, nFlipBits = 5, nTables = 4),
        Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        floor = 0.75)
    }),

    "ann_ivf_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 5)
      recallGate(
        Ann.ivfTopK(e, q, "vec_id", "embedding",
          dim = 64, nCells = 8, iters = 2, k = 5, nProbes = 2),
        Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        floor = 0.8)
    }),

    // Embedding aggregation: per-LSH-bucket quantized centroid sums —
    // exact integers, so the oracle re-derives buckets AND sums bit-for-bit.
    "emb_centroids" -> ((s, dir) =>
      Ann.bucketCentroids(emb(s, dir), "vec_id", "embedding", dim = 64, nBits = 6)
        .select(col("bucket"), col("pos").cast("long").as("pos"),
          col("qsum"), col("n"))),

    // Scalar int8 quantization (4 bytes/dim → 1): flattened (vec_id, pos,
    // qmin, qmax, code) rows, all-integer arithmetic — the oracle
    // re-derives every code bit-for-bit.
    "emb_quantize" -> ((s, dir) =>
      Ann.quantizeInt8(emb(s, dir), "vec_id", "embedding")),

    // Dequantization-error gate: |q - dequant(code)| must stay within the
    // analytic worst case for every dimension of every vector.
    "emb_quantize_err" -> ((s, dir) =>
      Ann.quantizeInt8ErrGate(emb(s, dir), "vec_id", "embedding")),

    // PQ-compressed ANN (8 subspaces × 16 codes = 8 bytes/vector, 32×
    // smaller than float32): ADC scoring against the exact top-k, gated on
    // recall like the other approximate paths.
    "ann_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      Ann.pqTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        dim = 64, nSub = 8, nCodes = 16, iters = 2, k = 5, rerank = 8)
    }),

    "ann_pq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 5)
      recallGate(
        Ann.pqTopK(e, q, "vec_id", "embedding",
          dim = 64, nSub = 8, nCodes = 16, iters = 2, k = 5, rerank = 8),
        Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        floor = 0.5)
    }),

    // IVFADC (FAISS `IVF8,PQ8`-shaped): IVF cell routing + PQ residual
    // codes + exact-centroid-dot ADC + exact re-rank — the billion-scale
    // serving layout. Approximate by design, rows-only check + recall gate.
    "ann_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      Ann.ivfPqTopK(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        dim = 64, nCells = 8, ivfIters = 2, nSub = 8, nCodes = 16,
        pqIters = 2, k = 5, nProbes = 2, rerank = 8)
    }),

    // Index persistence round-trip (the deployment contract: build once,
    // persist, serve every query batch from the LOADED index): serving
    // from a saved+loaded IVFADC index must equal serving from the
    // in-memory build row-for-row — both deterministic, doubles
    // round-trip parquet bit-exactly, so the gate is exact equality, not
    // a recall floor.
    "ann_ivfpq_saved" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 5)
      val (codes, cents, books) = Ann.ivfPqIndex(e, "vec_id", "embedding",
        dim = 64, nCells = 8, ivfIters = 2, nSub = 8, nCodes = 16, pqIters = 2)
      val path = s"/tmp/graft_ivfpq_index/${new java.io.File(dir).getName}"
      Ann.saveIvfPqIndex(path, codes, cents, books)
      val (codes2, cents2, books2) = Ann.loadIvfPqIndex(s, path)
      def serve(cd: DataFrame, ct: Array[Array[Double]],
                bk: Array[Array[Array[Double]]]) =
        Ann.ivfPqServe(e, q, "vec_id", "embedding", ct, bk, cd,
          k = 5, nProbes = 2, rerank = 8)
      // Each serve result appears on BOTH sides of the symmetric
      // difference. r20: localCheckpoint each serve ONCE — each 25-row
      // result computes in a single job and the comparison runs over two
      // RDD leaves. (Persisting them was probed in r19 and REVERTED,
      // 2.86 → 3.65 s: persist left the 4-way plan intact and only added
      // cache-fill barriers; the checkpoint instead removes two of the
      // four serve evaluations AND the duplicated analysis.)
      val s1 = graft.util.Caches.track(serve(codes, cents, books).localCheckpoint(true))
      val s2 = graft.util.Caches.track(serve(codes2, cents2, books2).localCheckpoint(true))
      s1.exceptAll(s2).unionAll(s2.exceptAll(s1))
        .agg(count(lit(1)).as("n"))
        .select(when(col("n") === 0, lit(1L)).otherwise(lit(0L)).as("passed"))
    }),

    "ann_ivfpq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 5)
      recallGate(
        Ann.ivfPqTopK(e, q, "vec_id", "embedding",
          dim = 64, nCells = 8, ivfIters = 2, nSub = 8, nCodes = 16,
          pqIters = 2, k = 5, nProbes = 2, rerank = 8),
        Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        floor = 0.5)
    }),

    // Capstone: the full training-data cleaning pipeline composed from the
    // individual operators — marker language filter → token-count band →
    // mean-token-length sanity → exact dedup (keep min doc id) → token-
    // window chunking — as ONE oracle-checked query. This is the C4-style
    // clean+dedup+chunk flow a 100 TB corpus prep actually runs; every
    // stage is a map or a single hash shuffle.
    "pipeline_clean" -> ((s, dir) => {
      val lang = TextAnalysis.langIdMarkers(col("text"),
        Seq("customer" -> "es"), default = "en")
      val kept = docs(s, dir)
        .where(lang === "en" &&
          TextAnalysis.tokenCount(col("text")).between(30, 90) &&
          length(col("text")) / TextAnalysis.tokenCount(col("text")) <= 9)
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      TextAnalysis.chunks(kept, "doc_id", "text", chunkSize = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          md5(col("chunk")).as("chunk_hash"))
    }),

    "tx_tokens" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))),

    "tx_tokens_bpe" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_tokens"))),

    "tx_quality" -> ((s, dir) =>
      TextAnalysis.quality(docs(s, dir), "doc_id", "text", Seq("a", "the"))
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("avg_tok_len"), col("stop_ratio"),
          col("punct_ratio"), col("digit_ratio"))),

    "tx_langid" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.langIdMarkers(col("text"),
          Seq("stream" -> "zh", "merge" -> "de", "window" -> "fr", "customer" -> "es"),
          default = "en").as("lang_pred"))),

    // Trigram-profile language ID (the richer scorer next to the marker
    // CASE): profiles are char trigrams chosen at mid document-frequency so
    // the winner genuinely varies; highest overlap wins, ties to the
    // lexicographically smallest profile key (langIdTrigrams's fold rule).
    "tx_langid_tri" -> ((s, dir) =>
      TextAnalysis.langIdTrigrams(docs(s, dir), "doc_id", "text", Map(
        "de" -> Seq("e a", "y s", "g s"),
        "en" -> Seq("h s", "e c", "e v"),
        "fr" -> Seq("e b", "e f", "t s")))),

    "tx_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint("text", 8).as("fp"))),

    // Canonicalization: normalize a deterministically case/spacing-mangled
    // copy of each doc (leading blanks + UPPER + tab-spaced duplicate) —
    // both engines must lowercase, collapse whitespace, and trim to the
    // identical string, compared by md5 + length.
    "tx_normalize" -> ((s, dir) => {
      val mangled = concat(lit("  "), upper(col("text")), lit(" \t"), col("text"))
      docs(s, dir).select(col("doc_id"),
        md5(TextAnalysis.normalize(mangled)).as("norm_hash"),
        length(TextAnalysis.normalize(mangled)).cast("long").as("n_chars"))
    }),

    // PII-scrub redaction: email-ish tokens, long digit runs, and the
    // corpus's 'customer' marker (the pattern that actually fires on this
    // synthetic text) → placeholders, with per-pattern counts measured on
    // the original text. The compared clean text travels as its md5.
    "tx_redact" -> ((s, dir) =>
      TextAnalysis.redact(docs(s, dir), "doc_id", "text", Seq(
          "[a-z]+@[a-z]+" -> "<email>",
          "[0-9]{3,}" -> "<num>",
          "customer" -> "<pii>"))
        .select(col("doc_id"), md5(col("clean_text")).as("clean_hash"),
          col("n_redact_0"), col("n_redact_1"), col("n_redact_2"))),

    // Corpus length distribution via the t-digest-style GK sketch
    // (approx_percentile — the 100 TB path: mergeable, single pass, fixed
    // memory) gated against Spark's exact percentile in the same job, the
    // fr_agg_groups_approx_err pattern: the compared output is the single
    // gate bit, so sketch-merge-order noise can't flip the oracle as long
    // as the error floor (5%) holds. p50 + p90 over token counts.
    "tx_len_quantiles_err" -> ((s, dir) => {
      val lens = docs(s, dir)
        .select(TextAnalysis.tokenCount(col("text")).cast("double").as("n"))
      lens.agg(
          expr("percentile(n, array(0.5, 0.9))").as("exact"),
          expr("approx_percentile(n, array(0.5, 0.9), 1000)").as("approx"))
        .select(explode(arrays_zip(col("exact"), col("approx"))).as("z"))
        .select((abs(col("z.exact") - col("z.approx")) / col("z.exact")).as("err"))
        .agg(max(col("err")).as("max_err"))
        .select(when(col("max_err") <= 0.05, lit(1L)).otherwise(lit(0L)).as("passed"))
    }),

    // CMS heavy-hitter gate: Spark's count_min_sketch aggregate vs the
    // exact top-20 token counts — never-underestimate + eps·N bound.
    "tx_cms_err" -> ((s, dir) =>
      TextAnalysis.cmsHeavyHitterGate(docs(s, dir), "text",
        eps = 0.001, confidence = 0.99, seed = 42, topK = 20)),

    // Gopher-style repetition filters: duplicate-token / top-token /
    // top-bigram fractions per document.
    "tx_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(docs(s, dir), "doc_id", "text")),

    // Corpus-level bigram heavy hitters (hash agg + TakeOrdered; the
    // (count desc, bigram asc) tiebreak makes the top-50 set deterministic).
    "tx_ngram_topk" -> ((s, dir) =>
      TextAnalysis.ngramTopK(docs(s, dir), "doc_id", "text", k = 50)),

    // Benchmark-contamination scan: docs (id >= 20) sharing any 13-token
    // gram with the eval set (id < 20). Eval grams broadcast; the corpus
    // side never shuffles its grams.
    "tx_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.contamination(
        d.where(col("doc_id") >= 20), d.where(col("doc_id") < 20),
        "doc_id", "text", n = 13)
    }),

    // Blocklist scrub with a Bloom pre-probe (id < 50 docs' content hashes
    // are the blocklist): semantics are exactly the left-anti join — the
    // bloom only shrinks the corpus-side shuffle to hits + fpp — so the
    // oracle is the plain NOT IN, certifying the routing changes nothing.
    "pipeline_blocklist" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("__k", md5(col("text")))
      TextAnalysis.blocklistFilter(
          d, "__k",
          d.where(col("doc_id") < 50).select(md5(col("text")).as("bk")), "bk",
          expectedItems = 64, fpp = 0.01)
        .select(col("doc_id"))
    }),

    // CCNet-style LM quality scoring: train an add-one-smoothed char-trigram
    // model on the reference slice (doc_id % 10 == 0), materialize it as a
    // parquet fixture, score EVERY document by average log-likelihood.
    // The oracle reads the same fixture — scoring is integer sums + one
    // final IEEE division, exact in both engines.
    "tx_lm_score" -> ((s, dir) => {
      val d = docs(s, dir)
      LmScore.trainAndScore(s, d, d.where(col("doc_id") % 10 === 0),
        "doc_id", "text", lmFixturePath(dir))
    }),

    // Deterministic hash split (train/val/test) + per-split corpus stats:
    // the re-runnable split assignment every training pipeline needs.
    "pipeline_split" -> ((s, dir) =>
      docs(s, dir)
        .select(TextAnalysis.hashSplit(col("doc_id"), "split").as("split"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("__nt"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))),

    // Mixture rebalancing: downsample over-represented languages with a
    // deterministic per-doc uniform draw (en to 50%, zh to 25%, rest kept)
    // — the FineWeb/DoReMi-style corpus-mixing pass, map-only and exactly
    // re-runnable. Output: per-lang kept counts + doc_id checksum.
    "pipeline_sample" -> ((s, dir) => {
      val rate = when(col("lang") === "en", lit(0.5))
        .when(col("lang") === "zh", lit(0.25)).otherwise(lit(1.0))
      docs(s, dir)
        .where(TextAnalysis.hashUniform(col("doc_id"), "mix") < rate)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
    }),

    // Domain balancing: deterministic hash-ordered cap of 20 docs per
    // source (the per-domain cap step that keeps one crawl domain from
    // dominating a mixture). Verified via per-source kept counts + the
    // kept-set doc_id checksum, which pins the EXACT kept rows.
    "pipeline_cap_source" -> ((s, dir) =>
      TextAnalysis.capPerKey(docs(s, dir), "source", "doc_id", 20, "cap")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))),

    // The no-sort approximate cap (capPerKeyApprox) — the hot-key-safe
    // 100 TB variant: keep iff hashUniform < n/count. Deterministic like
    // every hash decision, so the kept set STILL hash-checks exactly
    // against the DuckDB mirror; only the per-key count is approximate.
    "pipeline_cap_approx" -> ((s, dir) =>
      TextAnalysis.capPerKeyApprox(docs(s, dir), "source", "doc_id", 10, "capx")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))),

    // Approximation-quality gate for capPerKeyApprox: every key's kept
    // count within 4*sqrt(n) of its target min(n, count) (Binomial sd is
    // sqrt(n(1-rate)) < sqrt(n); 4 sigma over 20 keys). A key keeping
    // ZERO rows vanishes from the kept side, so the stats side drives a
    // left join — a silent total-drop of a key must fail the gate, not
    // dodge it.
    "pipeline_cap_approx_err" -> ((s, dir) => {
      val n = 10
      val kept = TextAnalysis.capPerKeyApprox(docs(s, dir), "source", "doc_id", n, "capx")
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      val all = docs(s, dir).groupBy(col("source")).agg(count(lit(1)).as("n_all"))
      val bound = 4L * math.ceil(math.sqrt(n)).toLong // 4*ceil(sqrt(10)) = 16
      all.join(kept, Seq("source"), "left")
        .select(abs(coalesce(col("n_kept"), lit(0L)) -
          least(lit(n.toLong), col("n_all"))).as("dev"))
        .agg(max(col("dev")).as("max_abs_dev"))
        .select(col("max_abs_dev"),
          (col("max_abs_dev") <= lit(bound)).cast("long").as("passed"))
    }),

    // Lexical diversity per document: type-token ratio + Gini-Simpson
    // index — exact-integer-count arithmetic (see TextAnalysis.diversity
    // for why Simpson rather than Shannon: log() differs across engines
    // in the last ulp, single IEEE divisions don't).
    "tx_diversity" -> ((s, dir) =>
      TextAnalysis.diversity(docs(s, dir), "doc_id", "text")),

    // Sequence packing: 128-token training bins over 8 hash shards; the
    // salted-md5 pack order doubles as the deterministic corpus shuffle.
    // Output: per-(shard, bin) document/token counts.
    "pipeline_pack" -> ((s, dir) =>
      TextAnalysis.pack(docs(s, dir), "doc_id", "text",
        budget = 128, nShards = 8, salt = "pack")),

    // Weighted corpus mixing: rebalance three sources to 50/30/20 target
    // proportions without upsampling (largest feasible total; the binding
    // source keeps everything). Per-source kept counts + doc_id checksum
    // pin the exact kept set.
    "pipeline_mix" -> ((s, dir) =>
      TextAnalysis.mixWeighted(docs(s, dir), "source", "doc_id",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), "mixw")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))),

    // Span-level exact dedup (the C4-style sub-document pass): every
    // repeated 16-token span survives only at its first corpus site;
    // documents rebuilt from surviving spans ('' when fully duplicated).
    "dd_spans" -> ((s, dir) =>
      Dedup.dedupSpans(docs(s, dir), "doc_id", "text", n = 16)),

    // Boilerplate strip (CCNet/RefinedWeb line-level pre-dedup): every
    // 16-token span appearing in >= 2 distinct documents drops from ALL
    // of them; docs rebuilt from surviving spans. Complements dd_spans
    // (keep-first vs drop-everywhere): this is the stage that protects
    // MinHash banding from boilerplate at corpus scale.
    "dd_strip_boilerplate" -> ((s, dir) =>
      Dedup.stripBoilerplateUnits(
        TextAnalysis.chunks(docs(s, dir), "doc_id", "text",
            chunkSize = 16, overlap = 0)
          .select(col("doc_id"), col("chunk_idx").as("unit_idx"),
            col("chunk").as("unit")),
        minDf = 2, joinSep = " ")),

    // The same operator over whitespace "lines" (the corpus has no
    // newlines, so tokens stand in for lines): strip tokens present in
    // >= 400 distinct docs — the stop-token shape of the boilerplate
    // filter, exercising the lines() splitter path.
    "dd_strip_lines" -> ((s, dir) =>
      Dedup.stripBoilerplate(docs(s, dir), "doc_id", "text",
        minDf = 400, sep = " ")),

    // The broadcast-set fast path over the same parameters — shares
    // dd_strip_lines' oracle verbatim (identical results, map-side
    // rebuild instead of three exchanges; see stripBoilerplateFast).
    "dd_strip_lines_fast" -> ((s, dir) =>
      Dedup.stripBoilerplateFast(docs(s, dir), "doc_id", "text",
        minDf = 400, sep = " ")),

    // Token-window chunking (32-token chunks, 8-token overlap): one row per
    // chunk with its token count and content hash.
    "tx_chunks" -> ((s, dir) =>
      TextAnalysis.chunks(docs(s, dir), "doc_id", "text", chunkSize = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          size(split(col("chunk"), " ")).cast("long").as("n_tokens"),
          md5(col("chunk")).as("chunk_hash"))),

    // REAL codec round-trip: render a deterministic PNG per document, then
    // decode it with javax.imageio; the oracle recomputes the expected
    // dimensions + pixel statistics symbolically (no codec needed).
    "mm_features" -> ((s, dir) =>
      Multimodal.decodeFeatures(
        Multimodal.encodePayloads(docs(s, dir), "doc_id"), "doc_id", "payload").toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_px"), col("sum_gray"),
          col("f0").cast("long").as("f0"), col("f1").cast("long").as("f1"),
          col("f2").cast("long").as("f2"), col("f3").cast("long").as("f3"))),

    // Decode + nearest-neighbor resize to 8x6 (normalize-before-training):
    // real ImageIO decode, integer floor resample so the oracle can
    // recompute the resized raster from the closed-form pixel function.
    "mm_resize" -> ((s, dir) =>
      Multimodal.resizeFeatures(
        Multimodal.encodePayloads(docs(s, dir), "doc_id"),
        "doc_id", "payload", outW = 8, outH = 6).toDF()
        .select(col("doc_id"),
          col("src_w").cast("long").as("src_w"),
          col("src_h").cast("long").as("src_h"),
          col("out_w").cast("long").as("out_w"),
          col("out_h").cast("long").as("out_h"),
          col("sum_resized"),
          col("r0").cast("long").as("r0"), col("r1").cast("long").as("r1"),
          col("r2").cast("long").as("r2"), col("r3").cast("long").as("r3"))),

    // Keyframe extraction: every 4th frame of a 12-frame raw clip (header
    // + frame stack — the post-decode representation; geometry read from
    // the clip header, not the id), per-frame luma sums per partition.
    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.encodeClips(docs(s, dir), "doc_id", nFrames = 12),
        "doc_id", "clip", stride = 4).toDF()
        .select(col("doc_id"),
          col("frame_no").cast("long").as("frame_no"), col("sum_luma"))),

    // JPEG leg — what crawled corpora actually carry. Real ImageIO JPEG
    // encode (q=1.0) + decode; lossy coding means the gate is geometry
    // EXACT (headers survive bit-exact, symbolically oracled) plus a
    // bounded per-pixel error vs the closed-form raster (measured max 1
    // in OperatorsSpec across all 143 geometries; gated at <= 2).
    "mm_features_jpeg" -> ((s, dir) =>
      Multimodal.jpegRoundTrip(
        Multimodal.encodeJpegs(docs(s, dir), "doc_id"), "doc_id", "payload").toDF()
        .select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_px"),
          when(col("max_err") <= 2, lit(1L)).otherwise(lit(0L)).as("err_ok"))),

    // Audio leg of the multimodal plumbing: real RIFF/WAVE payloads decoded
    // by the JDK audio codec per partition; integer PCM stats keep the
    // oracle symbolic and exact.
    "mm_audio" -> ((s, dir) =>
      Multimodal.decodeAudioFeatures(
        Multimodal.encodeWavs(docs(s, dir), "doc_id"), "doc_id", "audio").toDF()
        .select(col("doc_id"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_channels").cast("long").as("n_channels"),
          col("n_samples"), col("sum_abs"),
          col("max_abs").cast("long").as("max_abs"),
          col("zero_crossings"))),

    // Quality-weighted corpus sample (Efraimidis–Spirakis, integer-weight
    // lottery form): 200 docs drawn without replacement, weight = length
    // band (1..8). The ticket is a max of salted md5 hex strings — pure
    // string comparison, so the oracle reproduces the exact sample set;
    // the plan is map-only + TakeOrderedAndProject (no global sort).
    "pipeline_weighted_sample" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("w", expr("1L + least(n_chars div 400, 7L)"))
      Sampling.weightedSample(d, "doc_id", "w", k = 200, salt = "ws1")
        .select(col("doc_id"), col("w"), col("ticket"))
    }),

    // Expected-size weighted sample (Poisson): keep each doc w.p.
    // k·w/W — the map-only large-k path (no ordering anywhere). The kept
    // set is a pure hash function, so per-band counts + id checksum
    // hash-check exactly; only the sample SIZE is probabilistic.
    "pipeline_weighted_keep" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("w", expr("1L + least(n_chars div 400, 7L)"))
      Sampling.weightedKeepExpected(d, "doc_id", "w", k = 150L, salt = "wk1")
        .groupBy(col("w"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
    }),

    // Quality-weighted per-domain cap: keep the 10 best lottery tickets
    // per source, weight = length band — the per-domain balancing pass
    // biased toward high-quality docs instead of uniform. Kept counts +
    // id checksum pin the exact kept set against the oracle's rank.
    "pipeline_weighted_cap" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("w", expr("1L + least(n_chars div 400, 7L)"))
      Sampling.weightedSamplePerKey(d, "source", "doc_id", "w", n = 10, salt = "wcap")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
    }),

    // Token-budget sharding (the export step): cut the md5-ordered corpus
    // line into contiguous ~2000-token shards via the distributed
    // prefix-sum (range-partition → P-row offset fold → within-slice
    // window). The oracle is the single-window cumsum — green certifies
    // the two-phase decomposition equals the global prefix exactly.
    "pipeline_shard" -> ((s, dir) =>
      Sampling.shardByBudget(docs(s, dir), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 2000L, salt = "shard1")),

    // Size-targeted export (sources.DatasetExporter): pilot-measured
    // compressed bytes/row → file count → deterministic md5-hash
    // distribution. The compared output is the lossless round-trip
    // (count + id checksum + text-length checksum of the re-read export);
    // file sizing itself is pinned by the OperatorsSpec assertions.
    "pipeline_export" -> ((s, dir) => {
      val out = s"/tmp/graft_export/${new java.io.File(dir).getName}/docs"
      graft.sources.DatasetExporter.export(docs(s, dir), "doc_id", out,
        targetFileBytes = 64L * 1024L, salt = "exp")
      s.read.parquet(out).agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(length(col("text"))).cast("long").as("text_len_sum"))
    }),

    // Shuffle-free compaction (sources.DatasetExporter.compact): fragment
    // the corpus into 32 tiny files, re-bin them via scan packing (zero
    // Exchange — pinned with shuffleBytesWritten == 0 in OperatorsSpec),
    // and verify the lossless round-trip against the source table. The
    // compared output is the re-read aggregate; file-count/size behavior
    // is pinned in OperatorsSpec.
    "pipeline_compact" -> ((s, dir) => {
      val base = s"/tmp/graft_compact/${new java.io.File(dir).getName}"
      docs(s, dir).repartition(32, col("doc_id"))
        .write.mode("overwrite").parquet(s"$base/frag")
      graft.sources.DatasetExporter.compact(s, s"$base/frag", s"$base/out",
        targetFileBytes = 128L * 1024L)
      s.read.parquet(s"$base/out").agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_sum"),
        sum(length(col("text"))).cast("long").as("text_len_sum"))
    }),

    // Epoch-seeded global permutation (the between-epochs corpus shuffle):
    // every doc's 0-based position on the md5 line for epoch 1 — the
    // two-phase prefix-count form of shardByBudget, so no global
    // single-partition window exists in the plan. The oracle is the naive
    // single-window row_number — green certifies the distributed rank
    // equals the global one exactly.
    "pipeline_order" -> ((s, dir) =>
      Sampling.globalOrder(docs(s, dir), "doc_id", salt = "ord", epoch = 1)),

    // Z-order layout key (sources.ZOrder): range-bucket doc_id × n_chars
    // to 8 bits each (integer div, engine-exact) and Morton-interleave —
    // the multi-dimensional clustering key behind zorderWrite. The write
    // itself is pinned in LayoutSpec (losslessness, one exchange, pruning
    // on both dims); this row pins the KEY bit-for-bit against the oracle.
    "pipeline_zorder" -> ((s, dir) =>
      graft.sources.ZOrder.withZKey(docs(s, dir), Seq("doc_id", "n_chars"),
          bits = 8)
        .select(col("doc_id"), col("zkey"))),

    // Span-level decontamination: remove only the 13-token windows shared
    // with the eval slice (doc_id < 20) and rebuild — clean_text is
    // byte-compared, so the split/scrub/rebuild round-trip is pinned
    // exactly, including untouched documents.
    "tx_scrub_spans" -> ((s, dir) => {
      val d = docs(s, dir)
      TextAnalysis.scrubSpans(
        d.where(col("doc_id") >= 20), d.where(col("doc_id") < 20),
        "doc_id", "text", n = 13)
    }),

    // Stride-scheduled corpus interleaving: language weights en:4 zh:2
    // rest:1 — reading in mix_key order delivers every training window at
    // the target mix (per-key prefix counts track weights within one
    // row). One window exchange by key; the stride is a single IEEE
    // division of exact integers.
    "pipeline_interleave" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("w",
        when(col("lang") === "en", lit(4L))
          .when(col("lang") === "zh", lit(2L)).otherwise(lit(1L)))
      Sampling.interleaveOrder(d, "lang", "doc_id", "w", salt = "mix1")
        .select(col("doc_id"), col("lang"), col("mix_rank"), col("mix_key"))
    }),

    // Map-only approximate interleave (the billion-row hot-key form): the
    // within-key rank is floor(u·n_k)+1 from one count aggregate — no
    // window, no per-key sort; the assignment still hash-checks exactly.
    "pipeline_interleave_approx" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("w",
        when(col("lang") === "en", lit(4L))
          .when(col("lang") === "zh", lit(2L)).otherwise(lit(1L)))
      Sampling.interleaveOrderApprox(d, "lang", "doc_id", "w", salt = "mixa")
        .select(col("doc_id"), col("lang"), col("mix_rank"), col("mix_key"))
    }),

    // DSIR importance selection (Xie et al. 2023): hashed unigram+bigram
    // models over a trusted target slice (every 5th doc) vs the raw pool,
    // per-doc integer log-weight from the materialized (bucket, lr_micro)
    // fixture, hard top-100 by weight. Integer sums + integer compares —
    // exact in any engine; the fixture read-back is what removes ln from
    // the cross-engine surface (LmScore's contract).
    "pipeline_dsir" -> ((s, dir) => {
      val d = docs(s, dir)
      Dsir.selectTopK(
        Dsir.trainAndScore(s, d, d.where(col("doc_id") % 5 === 0),
          "doc_id", "text", nBuckets = 256, salt = "dsir",
          dsirFixturePath(dir)), k = 100)
    }),

    // DSIR Gumbel resampling (the paper's main form): same scored frame.
    // Deliberately retrains the same fixture pipeline_dsir writes: battery
    // rows must be self-contained (graft.Bench can run any subset), and
    // the per-run materialization contract is the documented cost shape
    // (the tx_lm_score convention) — correctness never depends on row
    // ordering.
    // selection key = logw_micro + quantized Gumbel noise on the salted
    // md5 uniform — inclusion tilted by exp(logw), still integer-compared
    // (see Dsir scaladoc for the 1e-10/row quantization-boundary caveat).
    "pipeline_dsir_resample" -> ((s, dir) => {
      val d = docs(s, dir)
      Dsir.resampleGumbel(
        Dsir.trainAndScore(s, d, d.where(col("doc_id") % 5 === 0),
          "doc_id", "text", nBuckets = 256, salt = "dsir",
          dsirFixturePath(dir)), "doc_id", k = 100, salt = "dsirg")
    }),

    // Serve-only twins of the materialization-contract rows above: the
    // contract rows (tx_lm_score, pipeline_dsir, ann_ivfpq_saved) bundle
    // train + write + read + serve in one timed number, so a regression in
    // the sub-second serve path would hide inside the multi-second
    // contract. These rows time ONLY the serve half against the fixture
    // the contract row materialized (building it on first touch so the
    // row stays self-contained for restricted `graft.Bench <name>` runs —
    // the build happens in the untimed warmup, timed runs serve only).
    // Same oracles as their contract twins: both read identical fixtures.
    // Each model's `_serve` and `_native` rows run its one scorer, the
    // native row-local fold (LmScore.score, Dsir.score); both names stay so
    // the battery keeps its rows and their timing history.
    "tx_lm_score_serve" -> lmServe,
    "tx_lm_score_native" -> lmServe,
    "pipeline_dsir_serve" -> dsirServe,
    "pipeline_dsir_native" -> dsirServe,

    // Serve half of ann_ivfpq_saved: load the persisted index, serve the
    // query batch, gate recall vs brute force (the gate's brute-force leg
    // costs ~ann_topk, small next to the serve it guards).
    "ann_ivfpq_saved_serve" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.where(col("vec_id") < 5)
      val path = s"/tmp/graft_ivfpq_index/${new java.io.File(dir).getName}"
      if (!ivfPqIndexReady(path)) buildFixtureAtomic(path) { tmp =>
        val (codes, cents, books) = Ann.ivfPqIndex(e, "vec_id", "embedding",
          dim = 64, nCells = 8, ivfIters = 2, nSub = 8, nCodes = 16,
          pqIters = 2)
        Ann.saveIvfPqIndex(tmp, codes, cents, books)
      }
      val (codes, cents, books) = Ann.loadIvfPqIndex(s, path)
      recallGate(
        Ann.ivfPqServe(e, q, "vec_id", "embedding", cents, books, codes,
          k = 5, nProbes = 2, rerank = 8),
        Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
        floor = 0.5)
    })
  )

  /** A parquet fixture directory is complete iff its _SUCCESS marker
    * landed (a crash mid-write leaves the directory without it, and the
    * serve rows must then rebuild rather than read a torn fixture). */
  private def fixtureReady(path: String): Boolean =
    new java.io.File(path, "_SUCCESS").exists()

  /** The persisted IVF-PQ index is two parquet directories (codes + the
    * merged centroid/codebook model table, r20); it is ready only when
    * BOTH _SUCCESS markers landed — gating on one alone would encode an
    * undocumented write ordering in saveIvfPqIndex, and a reordered save
    * + crash would serve a torn index. */
  private def ivfPqIndexReady(path: String): Boolean =
    Seq("codes", "model").forall(d => fixtureReady(s"$path/$d"))

  /** Build a fixture atomically: `build` writes into a unique temp
    * sibling of `dest`, which is then renamed into place in one
    * filesystem operation. Two queries racing to build the same fixture
    * (e.g. a future parallel bench) each build a private temp dir; the
    * first rename wins and the loser discards its copy — no reader ever
    * observes a half-written `dest`. Same-filesystem rename (temp is a
    * sibling), so ATOMIC_MOVE holds on any POSIX fs. */
  private def buildFixtureAtomic(dest: String)(build: String => Unit): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val destPath = Paths.get(dest)
    Files.createDirectories(destPath.getParent)
    // A crash-torn dest (directory present, _SUCCESS missing) would block
    // the rename below — clear it so the rebuilt fixture can land.
    if (Files.exists(destPath)) deleteRecursively(destPath.toFile)
    val tmp = s"$dest.tmp-${ProcessHandle.current.pid}-${System.nanoTime()}"
    build(tmp)
    try Files.move(Paths.get(tmp), destPath, StandardCopyOption.ATOMIC_MOVE)
    catch { case scala.util.control.NonFatal(_) =>
      // Lost the race (dest now exists) — discard our copy and read theirs.
      deleteRecursively(new java.io.File(tmp))
    }
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Shingle CTE: distinct char-5-grams; bounded non-correlated range
    * (DuckDB can't lateral-join generate_series) — 4000 covers max doc len. */
  private def SH(src: String) =
    s"""sh AS (SELECT DISTINCT doc_id, substr(text, i, 5) AS sh
       |       FROM $src, generate_series(1, 4000) t(i)
       |       WHERE i <= greatest(len(text) - 4, 1))""".stripMargin

  /** SimHash fingerprint CTEs (`fps(doc_id, fp)`), parameterized by bit
    * width (md5 has 32 hex chars — up to 128 bits available). Bit 63 can't
    * be built as `1 << 63` in DuckDB (overflow error); it is the BIGINT
    * sign bit, added as the literal −2^63 — the same two's-complement
    * value Spark's `lit(1L << 63)` contributes. */
  private def SIMHASH(src: String, nBits: Int = 32) =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $src),
       |bits AS (SELECT doc_id, md5(tok) AS h, p FROM toks, generate_series(0, ${nBits - 1}) t(p)),
       |c AS (SELECT doc_id, p,
       |        sum((((strpos('0123456789abcdef', substr(h, (p // 4) + 1, 1)) - 1)
       |              >> (3 - (p % 4))) & 1) * 2 - 1) AS s
       |      FROM bits GROUP BY doc_id, p),
       |fps AS (SELECT doc_id,
       |          CAST(sum(CASE WHEN s <= 0 THEN 0
       |                        WHEN p = 63 THEN (-9223372036854775808)::BIGINT
       |                        ELSE (CAST(1 AS BIGINT) << p) END) AS BIGINT) AS fp
       |        FROM c GROUP BY doc_id)""".stripMargin

  /** MinHash-LSH candidate-pair CTEs ending in `pairs(d1, d2)`. Mirrors
    * Dedup.minHashSignature (h_i = min of the i-th 8-hex-char slice of
    * md5("<i/4>:" || shingle)); bc/bt mirror lshCandidates' maxBucket=1000
    * skew guard (a no-op on this data, but pinned so the gate stays green
    * on duplicate-heavy corpora where oversized buckets are dropped). */
  private val MINHASH_PAIR_CTES: String = {
    val mins = (0 until 8).map(i =>
      s"min(substr(md5('${i / 4}:' || sh), ${1 + 8 * (i % 4)}, 8)) AS h$i").mkString(", ")
    val bands = (0 until 2).map(b =>
      s"SELECT doc_id, $b AS band, md5(h${4 * b} || h${4 * b + 1} || h${4 * b + 2} || h${4 * b + 3}) AS bkt FROM sig")
      .mkString(" UNION ALL ")
    s"""${SH("documents")},
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |b AS ($bands),
       |bc AS (SELECT band, bkt, count(*) AS n FROM b GROUP BY band, bkt),
       |bt AS (SELECT b.* FROM b JOIN bc USING (band, bkt) WHERE bc.n <= 1000),
       |pairs AS (SELECT DISTINCT a.doc_id AS d1, b2.doc_id AS d2
       |          FROM bt a JOIN bt b2
       |            ON a.band = b2.band AND a.bkt = b2.bkt AND a.doc_id < b2.doc_id)""".stripMargin
  }

  private val EMB_UNNEST =
    """idx AS (SELECT i FROM generate_series(1, 64) t(i)),
      |u AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v FROM embeddings, idx),
      |nrm AS (SELECT vec_id, sqrt(sum(v * v)) AS n FROM u GROUP BY vec_id)""".stripMargin

  // def, not val: tx_lm_score's SQL embeds the SF-keyed model fixture path,
  // resolved from the property Verify sets before dumping oracle_sql.json
  // (same contract as RelationalQueries.oracleSql).
  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    // The serve-only rows read the exact fixtures their contract twins
    // wrote, so the twins' oracles apply verbatim.
    base ++ Map(
      "tx_lm_score_serve" -> base("tx_lm_score"),
      "tx_lm_score_native" -> base("tx_lm_score"),
      "pipeline_dsir_serve" -> base("pipeline_dsir"),
      "pipeline_dsir_native" -> base("pipeline_dsir"),
      "dd_strip_lines_fast" -> base("dd_strip_lines"),
      "ann_ivfpq_saved_serve" -> "SELECT CAST(1 AS BIGINT) AS passed")
  }

  private def oracleSqlBase: Map[String, String] = Map(
    "dd_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text",

    "dd_minhash_lsh" ->
      s"""WITH $MINHASH_PAIR_CTES
         |SELECT d1, d2 FROM pairs""".stripMargin,

    // Components via recursive transitive closure; label = min id reachable
    // (matches Dedup.components' min-label propagation exactly).
    "dd_clusters" ->
      s"""WITH RECURSIVE $MINHASH_PAIR_CTES,
         |e AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM e
         |                UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |lab AS (SELECT a AS id, least(a, min(b)) AS label FROM reach GROUP BY a)
         |SELECT label AS cluster_rep, count(*) AS n_members
         |FROM lab GROUP BY label""".stripMargin,

    // Same transitive closure; keep docs that are their cluster's min id
    // (or in no pair at all).
    "dd_keep_one" ->
      s"""WITH RECURSIVE $MINHASH_PAIR_CTES,
         |e AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
         |reach(a, b) AS (SELECT a, b FROM e
         |                UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |lab AS (SELECT a AS id, least(a, min(b)) AS label FROM reach GROUP BY a),
         |dups AS (SELECT id FROM lab WHERE id != label)
         |SELECT doc_id, md5(text) AS text_md5 FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM dups)""".stripMargin,

    // Pairs touching the batch (doc_id%4==0) from the SAME pair CTEs as
    // dd_minhash_lsh, then corpus-precedence survivors: a batch doc drops
    // if its component contains any corpus doc or a smaller batch id.
    "dd_incremental" ->
      s"""WITH RECURSIVE $MINHASH_PAIR_CTES,
         |rp AS (SELECT d1, d2 FROM pairs WHERE d1 % 4 = 0 OR d2 % 4 = 0),
         |e AS (SELECT d1 AS a, d2 AS b FROM rp UNION SELECT d2, d1 FROM rp),
         |reach(a, b) AS (SELECT a, b FROM e
         |                UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         |lab AS (SELECT a AS id, least(a, min(b)) AS label FROM reach GROUP BY a),
         |clab AS (SELECT DISTINCT label FROM lab WHERE id % 4 <> 0),
         |dropids AS (SELECT id FROM lab
         |            WHERE label IN (SELECT label FROM clab) OR id <> label)
         |SELECT doc_id, md5(text) AS text_md5 FROM documents
         |WHERE doc_id % 4 = 0 AND doc_id NOT IN (SELECT id FROM dropids)""".stripMargin,

    // Mirrors jaccardPairs' maxDf=100 cap: sizes AND intersections over the
    // df-capped shingle universe (see DIVERGENCES.md — near-universal
    // shingles are excluded from the similarity measure by design).
    "dd_jaccard" ->
      s"""WITH ${SH("documents")},
         |dfc AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 100),
         |rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfc USING (sh)),
         |sz AS (SELECT doc_id, count(*) AS n FROM rare GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
         |          FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY a.doc_id, b.doc_id)
         |SELECT d1, d2, CAST(i AS DOUBLE) / (x.n + y.n - i) AS jac
         |FROM inter JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
         |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.25""".stripMargin,

    "dd_simhash" ->
      s"""WITH ${SIMHASH("documents")}
         |SELECT doc_id, fp FROM fps""".stripMargin,

    // Deliberately brute-force (all-pairs) while the Spark side is banded:
    // a green hash certifies the pigeonhole-banded join reproduces exact
    // all-pairs Hamming semantics.
    "dd_simhash_pairs" ->
      s"""WITH ${SIMHASH("documents")}
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS ham
         |FROM fps a JOIN fps b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,

    "dd_simhash64_pairs" ->
      s"""WITH ${SIMHASH("documents", nBits = 64)}
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS ham
         |FROM fps a JOIN fps b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,

    // Re-derives Dedup.embeddingNearDups' integer LSH buckets: weight
    // w(t,b,i) = (value of first md5 hex char of "1000+t:b:i") - 8, dot on
    // floor(v*1024) — all-integer, so bucket assignment is engine-exact;
    // then the same equi-join candidates + exact cosine filter.
    "dd_embed_near" ->
      s"""WITH $EMB_UNNEST,
         |q AS (SELECT vec_id, i, CAST(floor(v * 1024) AS BIGINT) AS qv FROM u),
         |w AS (SELECT t AS tbl, b AS bit, i + 1 AS i,
         |        CAST(strpos('0123456789abcdef',
         |               substr(md5(CAST(1000 + t AS VARCHAR) || ':' || b || ':' || i), 1, 1))
         |             - 9 AS BIGINT) AS w
         |      FROM generate_series(0, 7) tt(t), generate_series(0, 5) bb(b),
         |           generate_series(0, 63) ii(i)),
         |dots AS (SELECT q.vec_id, w.tbl, w.bit, sum(q.qv * w.w) AS d
         |         FROM q JOIN w ON q.i = w.i GROUP BY q.vec_id, w.tbl, w.bit),
         |bk AS (SELECT vec_id, tbl,
         |         sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS bucket
         |       FROM dots GROUP BY vec_id, tbl),
         |cand AS (SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
         |         FROM bk a JOIN bk b
         |           ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |dot AS (SELECT c.v1, c.v2, sum(a.v * b.v) AS d
         |        FROM cand c JOIN u a ON a.vec_id = c.v1
         |                    JOIN u b ON b.vec_id = c.v2 AND a.i = b.i
         |        GROUP BY c.v1, c.v2)
         |SELECT v1, v2 FROM dot
         |JOIN nrm x ON v1 = x.vec_id JOIN nrm y ON v2 = y.vec_id
         |WHERE d / (x.n * y.n) >= 0.4""".stripMargin,

    "ann_topk" ->
      s"""WITH $EMB_UNNEST,
         |q AS (SELECT vec_id AS qid, i, v FROM u WHERE vec_id < 5),
         |dot AS (SELECT q.qid, u.vec_id AS nid, sum(q.v * u.v) AS d
         |        FROM q JOIN u ON q.i = u.i AND q.qid <> u.vec_id
         |        GROUP BY q.qid, u.vec_id),
         |scored AS (SELECT qid, nid, d / (x.n * y.n) AS cos
         |           FROM dot JOIN nrm x ON qid = x.vec_id JOIN nrm y ON nid = y.vec_id),
         |ranked AS (SELECT qid, nid,
         |             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rank
         |           FROM scored)
         |SELECT qid AS query_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank
         |FROM ranked WHERE rank <= 5""".stripMargin,

    // The recall gates assert the literal expectation: the Spark side
    // reduces the approximate-vs-exact comparison to `passed = 1`, so the
    // oracle is the constant — a recall regression flips the hash red.
    "ann_lsh_recall" -> "SELECT CAST(1 AS BIGINT) AS passed",
    "ann_ivf_recall" -> "SELECT CAST(1 AS BIGINT) AS passed",
    "ann_pq_recall" -> "SELECT CAST(1 AS BIGINT) AS passed",
    "ann_ivfpq_saved" -> "SELECT CAST(1 AS BIGINT) AS passed",
    "ann_ivfpq_recall" -> "SELECT CAST(1 AS BIGINT) AS passed",
    "dd_semantic_recall" -> "SELECT CAST(1 AS BIGINT) AS passed",
    "tx_cms_err" -> "SELECT CAST(1 AS BIGINT) AS passed",
    "emb_quantize_err" -> "SELECT CAST(1 AS BIGINT) AS passed",

    // Mirrors Ann.quantizeInt8 bit-for-bit: float→double cast then ×1024
    // (an exponent shift — no rounding) and floor land on the same integer
    // in any engine; the code divisions run on non-negative BIGINTs, where
    // truncation and floor agree.
    "emb_quantize" ->
      """WITH idx AS (SELECT i FROM generate_series(1, 64) t(i)),
        |u AS (SELECT vec_id, i,
        |        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1024) AS BIGINT) AS qv
        |      FROM embeddings, idx),
        |mm AS (SELECT vec_id, min(qv) AS qmin, max(qv) AS qmax
        |       FROM u GROUP BY vec_id)
        |SELECT u.vec_id, CAST(u.i - 1 AS BIGINT) AS pos, mm.qmin, mm.qmax,
        |  CASE WHEN mm.qmax > mm.qmin
        |       THEN ((u.qv - mm.qmin) * 254) // (mm.qmax - mm.qmin) - 127
        |       ELSE CAST(0 AS BIGINT) END AS code
        |FROM u JOIN mm USING (vec_id)""".stripMargin,

    // Single-table variant of the dd_embed_near bucket mirror (seed 1000),
    // then exact integer per-position sums per bucket.
    "emb_centroids" ->
      s"""WITH $EMB_UNNEST,
         |q AS (SELECT vec_id, i, CAST(floor(v * 1024) AS BIGINT) AS qv FROM u),
         |w AS (SELECT b AS bit, i + 1 AS i,
         |        CAST(strpos('0123456789abcdef',
         |               substr(md5('1000:' || b || ':' || i), 1, 1)) - 9 AS BIGINT) AS w
         |      FROM generate_series(0, 5) bb(b), generate_series(0, 63) ii(i)),
         |dots AS (SELECT q.vec_id, w.bit, sum(q.qv * w.w) AS d
         |         FROM q JOIN w ON q.i = w.i GROUP BY q.vec_id, w.bit),
         |bk AS (SELECT vec_id,
         |         CAST(sum(CASE WHEN d > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
         |              AS BIGINT) AS bucket
         |       FROM dots GROUP BY vec_id)
         |SELECT bk.bucket, CAST(q.i - 1 AS BIGINT) AS pos,
         |       CAST(sum(q.qv) AS BIGINT) AS qsum, count(*) AS n
         |FROM q JOIN bk USING (vec_id) GROUP BY bk.bucket, q.i""".stripMargin,

    "tx_tokens" ->
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents",

    "tx_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,

    // DuckDB regexp_replace replaces the FIRST match unless given the 'g'
    // flag (Spark replaces all by default).
    "tx_quality" ->
      """SELECT doc_id,
        |  CAST(len(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_tok_len,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t = 'a' OR t = 'the')) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stop_ratio,
        |  CAST(len(text) - len(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
        |    / len(text) AS punct_ratio,
        |  CAST(len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
        |    / len(text) AS digit_ratio
        |FROM documents""".stripMargin,

    "tx_langid" ->
      """SELECT doc_id,
        |  CASE WHEN contains(text, 'stream') THEN 'zh'
        |       WHEN contains(text, 'merge') THEN 'de'
        |       WHEN contains(text, 'window') THEN 'fr'
        |       WHEN contains(text, 'customer') THEN 'es'
        |       ELSE 'en' END AS lang_pred
        |FROM documents""".stripMargin,

    // Mirrors normalize over the same mangled input: lower → collapse \s+
    // ('g' flag!) → trim, in the identical order.
    "tx_normalize" ->
      """WITH m AS (SELECT doc_id,
        |    '  ' || upper(text) || ' ' || chr(9) || text AS mangled
        |  FROM documents)
        |SELECT doc_id,
        |  md5(trim(regexp_replace(lower(mangled), '\s+', ' ', 'g'))) AS norm_hash,
        |  CAST(len(trim(regexp_replace(lower(mangled), '\s+', ' ', 'g'))) AS BIGINT) AS n_chars
        |FROM m""".stripMargin,

    // Mirrors redact: serial regexp_replace with the 'g' flag (DuckDB
    // replaces only the FIRST match without it — the tx_quality gotcha);
    // counts via regexp_extract_all on the ORIGINAL text, like Spark's
    // regexp_count.
    "tx_redact" ->
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[a-z]+@[a-z]+', '<email>', 'g'),
        |      '[0-9]{3,}', '<num>', 'g'),
        |      'customer', '<pii>', 'g')) AS clean_hash,
        |  CAST(len(regexp_extract_all(text, '[a-z]+@[a-z]+')) AS BIGINT) AS n_redact_0,
        |  CAST(len(regexp_extract_all(text, '[0-9]{3,}')) AS BIGINT) AS n_redact_1,
        |  CAST(len(regexp_extract_all(text, 'customer')) AS BIGINT) AS n_redact_2
        |FROM documents""".stripMargin,

    // Mirrors langIdTrigrams's left fold over key-sorted profiles: the
    // accumulator is replaced only on STRICT score improvement, so ties keep
    // the lexicographically smaller key — the nested CASE spells that out.
    "tx_langid_tri" ->
      """WITH s AS (SELECT doc_id,
        |  len(list_filter(['e a','y s','g s'], t -> contains(text, t))) AS s_de,
        |  len(list_filter(['h s','e c','e v'], t -> contains(text, t))) AS s_en,
        |  len(list_filter(['e b','e f','t s'], t -> contains(text, t))) AS s_fr
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN s_en > s_de THEN (CASE WHEN s_fr > s_en THEN 'fr' ELSE 'en' END)
        |       ELSE (CASE WHEN s_fr > s_de THEN 'fr' ELSE 'de' END) END AS lang_pred
        |FROM s""".stripMargin,

    "pipeline_clean" ->
      """WITH f AS (SELECT doc_id, text FROM documents
        |           WHERE NOT contains(text, 'customer')
        |             AND len(string_split(text, ' ')) BETWEEN 30 AND 90
        |             AND len(text) / len(string_split(text, ' ')) <= 9),
        |k AS (SELECT min(doc_id) AS doc_id, text FROM f GROUP BY text),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM k),
        |t2 AS (SELECT doc_id, toks, greatest(1, (len(toks) - 8 + 24 - 1) // 24) AS nc FROM t),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |        array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk
        |      FROM t2, generate_series(0, 200) g(i) WHERE i < nc)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  md5(chunk) AS chunk_hash
        |FROM c""".stripMargin,

    // DuckDB list slicing is 1-based inclusive and clamps at the end, so
    // toks[s : s+31] mirrors Spark's slice(toks, s, 32).
    "tx_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |t2 AS (SELECT doc_id, toks, greatest(1, (len(toks) - 8 + 24 - 1) // 24) AS nc FROM t),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |        array_to_string(toks[i*24+1 : i*24+32], ' ') AS chunk
        |      FROM t2, generate_series(0, 200) g(i) WHERE i < nc)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens,
        |  md5(chunk) AS chunk_hash
        |FROM c""".stripMargin,

    "tx_fingerprint" ->
      """WITH g AS (SELECT doc_id, md5(substr(text, i, 8)) AS h
        |           FROM documents, generate_series(1, 4000) t(i)
        |           WHERE i <= greatest(len(text) - 7, 1))
        |SELECT doc_id, min(h) AS fp FROM g GROUP BY doc_id""".stripMargin,

    // The quantile gate asserts the literal expectation (see the ANN recall
    // gates above): an approx_percentile regression past the 5% floor flips
    // the row red.
    "tx_len_quantiles_err" -> "SELECT CAST(1 AS BIGINT) AS passed",

    // Mirrors TextAnalysis.repetition: token/bigram occurrence counts per
    // doc, ratios as single divisions of exact integer counts. toks[i] is
    // 1-based; i <= len-1 bounds the bigram index exactly as Spark's
    // sequence(1, size-1).
    "tx_repetition" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         count(*) AS n_distinct, max(c) AS top_tok
        |       FROM tc GROUP BY doc_id),
        |b AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
        |      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) x,
        |           generate_series(1, 200) s(i) WHERE i <= len(toks) - 1),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM b GROUP BY doc_id, bg),
        |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams, max(c) AS top_bigram
        |       FROM bc GROUP BY doc_id)
        |SELECT ts.doc_id, ts.n_tokens,
        |  CAST(ts.n_tokens - ts.n_distinct AS DOUBLE) / ts.n_tokens AS dup_tok_frac,
        |  CAST(ts.top_tok AS DOUBLE) / ts.n_tokens AS top_tok_frac,
        |  CAST(bs.top_bigram AS DOUBLE) / bs.n_bigrams AS top_bigram_frac
        |FROM ts LEFT JOIN bs USING (doc_id)""".stripMargin,

    "tx_ngram_topk" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT toks[i] || ' ' || toks[i+1] AS bigram
        |      FROM t, generate_series(1, 200) s(i) WHERE i <= len(toks) - 1)
        |SELECT bigram, count(*) AS n FROM b GROUP BY bigram
        |ORDER BY n DESC, bigram ASC LIMIT 50""".stripMargin,

    // Mirrors TextAnalysis.contamination: distinct md5'd 13-token grams,
    // eval = doc_id < 20, corpus = the rest. toks[i : i+12] is 1-based
    // INCLUSIVE — 13 elements, exactly Spark's slice(toks, i, 13).
    "tx_contamination" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT DISTINCT doc_id, md5(array_to_string(toks[i : i+12], ' ')) AS gh
        |      FROM t, generate_series(1, 200) s(i) WHERE i <= len(toks) - 12),
        |ev AS (SELECT DISTINCT gh FROM g WHERE doc_id < 20),
        |ng AS (SELECT doc_id, count(*) AS n_grams FROM g WHERE doc_id >= 20
        |       GROUP BY doc_id)
        |SELECT g.doc_id, ng.n_grams, count(*) AS n_hits
        |FROM g JOIN ev USING (gh) JOIN ng ON g.doc_id = ng.doc_id
        |WHERE g.doc_id >= 20
        |GROUP BY g.doc_id, ng.n_grams""".stripMargin,

    // The bloom pre-probe is routing only — the exact-semantics contract
    // makes the oracle the plain anti-join.
    "pipeline_blocklist" ->
      """SELECT doc_id FROM documents
        |WHERE md5(text) NOT IN
        |  (SELECT md5(text) FROM documents WHERE doc_id < 50)""".stripMargin,

    // Mirrors LmScore: canonicalize to [a-z ] single-spaced, slice char
    // trigrams (nt[i : i+2] is 1-based inclusive = substring(nt, i, 3)),
    // left-join the SAME on-disk model fixture the Spark side wrote, sum
    // the integer scores (OOV trigrams take the sentinel row's score) and
    // divide once. generate_series bound 800 > max text length (577).
    "tx_lm_score" ->
      s"""WITH t AS (SELECT doc_id,
         |    trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')),
         |                        ' +', ' ', 'g')) AS nt FROM documents),
         |g AS (SELECT doc_id, nt[i : i+2] AS tri
         |      FROM t, generate_series(1, 800) s(i)
         |      WHERE i <= len(nt) - 2),
         |m AS (SELECT tri, score_micro
         |      FROM read_parquet('${lmOracleGlob}') WHERE tri <> '__OOV__'),
         |o AS (SELECT score_micro AS oov
         |      FROM read_parquet('${lmOracleGlob}') WHERE tri = '__OOV__')
         |SELECT g.doc_id, count(*) AS n_tri,
         |       CAST(sum(coalesce(m.score_micro, o.oov)) AS DOUBLE) / count(*)
         |         AS avg_logp_micro
         |FROM g LEFT JOIN m USING (tri), o
         |GROUP BY g.doc_id""".stripMargin,

    // Mirrors TextAnalysis.hashSplit: first hex char of md5('split:' || id),
    // '0'..'b' train (12/16), 'c'..'d' val, 'e'..'f' test.
    "pipeline_split" ->
      """WITH d AS (SELECT CASE
        |    WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
        |    WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
        |    ELSE 'test' END AS split,
        |  len(string_split(text, ' ')) AS nt FROM documents)
        |SELECT split, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM d GROUP BY split""".stripMargin,

    // Mirrors Sampling.lotteryTicket: the ticket is the max of w salted md5
    // hex strings (Efraimidis–Spirakis u^(1/w) ≡ max of w uniforms for
    // integer w) — pure string comparison, no float in the decision.
    "pipeline_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + least(n_chars // 400, 7) AS w FROM documents
        |), t AS (
        |  SELECT doc_id, w,
        |    list_max(list_transform(range(w),
        |      j -> md5('ws1:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)))) AS ticket
        |  FROM d
        |)
        |SELECT doc_id, w, ticket FROM t
        |ORDER BY ticket DESC, doc_id LIMIT 200""".stripMargin,

    // Mirrors Sampling.weightedKeepExpected: u < k*w/W with the identical
    // multiply-then-divide order (one IEEE op sequence in both engines).
    "pipeline_weighted_keep" ->
      """WITH d AS (
        |  SELECT doc_id, 1 + least(n_chars // 400, 7) AS w FROM documents
        |), tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM d)
        |SELECT w, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM d, tot
        |WHERE ('0x' || substr(md5('wk1:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0 < 150.0 * CAST(w AS DOUBLE) / CAST(tw AS DOUBLE)
        |GROUP BY w""".stripMargin,

    // Mirrors Sampling.weightedSamplePerKey: same lottery tickets, ranked
    // within each source.
    "pipeline_weighted_cap" ->
      """WITH d AS (
        |  SELECT doc_id, source, 1 + least(n_chars // 400, 7) AS w FROM documents
        |), t AS (
        |  SELECT doc_id, source,
        |    list_max(list_transform(range(w),
        |      j -> md5('wcap:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)))) AS ticket
        |  FROM d
        |), r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY ticket DESC, doc_id) AS rk
        |  FROM t
        |)
        |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM r WHERE rk <= 10 GROUP BY source""".stripMargin,

    // Mirrors Sampling.shardByBudget as ONE window cumsum over the global
    // md5 line — green certifies the engine's two-phase range-partitioned
    // prefix sum equals the global exclusive prefix exactly.
    "pipeline_shard" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         md5('shard1:' || CAST(doc_id AS VARCHAR)) AS o
        |  FROM documents
        |)
        |SELECT doc_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY o, doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
        |       AS BIGINT) AS shard
        |FROM d""".stripMargin,

    // Mirrors Sampling.interleaveOrder: per-key md5 rank + the identical
    // (r - 0.5)/w stride division.
    "pipeline_interleave" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CASE WHEN lang = 'en' THEN 4 WHEN lang = 'zh' THEN 2 ELSE 1 END AS w
        |  FROM documents),
        |r AS (SELECT doc_id, lang, w, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5('mix1:' || CAST(doc_id AS VARCHAR)), doc_id) AS mix_rank
        |  FROM d)
        |SELECT doc_id, lang, CAST(mix_rank AS BIGINT) AS mix_rank,
        |  (CAST(mix_rank AS DOUBLE) - 0.5) / CAST(w AS DOUBLE) AS mix_key
        |FROM r""".stripMargin,

    // Mirrors Sampling.interleaveOrderApprox: per-key counts via a window
    // (so NULL keys count and match the operator's null-safe <=> join —
    // the pipeline_cap_approx convention) + the identical
    // divide-then-multiply-then-floor rank and stride.
    "pipeline_interleave_approx" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CASE WHEN lang = 'en' THEN 4 WHEN lang = 'zh' THEN 2 ELSE 1 END AS w,
        |    count(*) OVER (PARTITION BY lang) AS kn
        |  FROM documents),
        |r AS (SELECT doc_id, lang, w,
        |    CAST(floor((('0x' || substr(md5('mixa:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |         / 4294967296.0) * CAST(kn AS DOUBLE)) + 1 AS BIGINT) AS mix_rank
        |  FROM d)
        |SELECT doc_id, lang, mix_rank,
        |  (CAST(mix_rank AS DOUBLE) - 0.5) / CAST(w AS DOUBLE) AS mix_key
        |FROM r""".stripMargin,

    // Mirrors pipeline_export's round-trip checksums against the SOURCE
    // table — green certifies the export lost and altered nothing.
    "pipeline_export" ->
      """SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(len(text)) AS BIGINT) AS text_len_sum FROM documents""".stripMargin,

    // Compaction round-trip: fragment → compact → re-read must equal the
    // source table exactly (same lossless contract as pipeline_export).
    "pipeline_compact" ->
      """SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(len(text)) AS BIGINT) AS text_len_sum FROM documents""".stripMargin,

    // Mirrors TextAnalysis.scrubSpans: same 13-token window hashes, same
    // covered-position set, string_agg rebuild in position order.
    "tx_scrub_spans" ->
      """WITH ct AS (SELECT doc_id, string_split(text, ' ') AS ts
        |           FROM documents WHERE doc_id >= 20),
        |ev AS (SELECT DISTINCT md5(array_to_string(ts[i : i+12], ' ')) AS gh
        |       FROM (SELECT string_split(text, ' ') AS ts
        |             FROM documents WHERE doc_id < 20) e,
        |            generate_series(1, 4000) s(i)
        |       WHERE i <= len(ts) - 12),
        |st AS (SELECT doc_id, i AS s FROM ct, generate_series(1, 4000) q(i)
        |       WHERE i <= len(ts) - 12
        |         AND md5(array_to_string(ts[i : i+12], ' ')) IN (SELECT gh FROM ev)),
        |cov AS (SELECT DISTINCT doc_id, s + j AS p
        |        FROM st, generate_series(0, 12) r(j)),
        |tok AS (SELECT doc_id, i AS p, ts[i] AS tok
        |        FROM ct, generate_series(1, 4000) u(i) WHERE i <= len(ts)),
        |kept AS (SELECT t.doc_id, t.p, t.tok FROM tok t
        |         LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.p = c.p
        |         WHERE c.p IS NULL)
        |SELECT ct.doc_id, CAST(len(ct.ts) AS BIGINT) AS n_tokens,
        |  CAST(len(ct.ts) - count(k.p) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text
        |FROM ct LEFT JOIN kept k USING (doc_id)
        |GROUP BY ct.doc_id, len(ct.ts)""".stripMargin,

    // Mirrors Sampling.globalOrder as ONE window row_number over the
    // global md5 line.
    "pipeline_order" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY md5('ord:e1:' || CAST(doc_id AS VARCHAR)),
        |                          doc_id) - 1 AS BIGINT) AS pos
        |FROM documents""".stripMargin,

    // Mirrors ZOrder.withZKey: the identical integer range-bucket
    // (// is DuckDB's integer floor-div; both operands non-negative, so it
    // agrees with Spark's div) and the identical bit interleave, written
    // out term-by-term (generated below — 8 bits x 2 dims).
    "pipeline_zorder" ->
      s"""WITH s AS (SELECT min(doc_id) AS mn0, max(doc_id) AS mx0,
         |                  min(n_chars) AS mn1, max(n_chars) AS mx1
         |           FROM documents),
         |b AS (SELECT doc_id,
         |        ((doc_id - mn0) * 256) // (mx0 - mn0 + 1) AS b0,
         |        ((n_chars - mn1) * 256) // (mx1 - mn1 + 1) AS b1
         |      FROM documents, s)
         |SELECT doc_id, CAST($mortonTermsSql AS BIGINT) AS zkey FROM b""".stripMargin,

    // Mirrors Dsir.score + selectTopK: same unigram+bigram stream, same
    // md5 bucket, the SAME on-disk lr_micro integers — the decision is an
    // integer sum + integer compare with doc_id tie-break.
    "pipeline_dsir" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |uni AS (SELECT doc_id, unnest(ts) AS gram FROM t),
         |bi AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS gram
         |       FROM t, generate_series(1, 4000) s(i) WHERE i <= len(ts) - 1),
         |g AS (SELECT doc_id,
         |        ('0x' || substr(md5('dsir:' || gram), 1, 8))::BIGINT % 256 AS bucket
         |      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
         |m AS (SELECT bucket, lr_micro FROM read_parquet('${dsirOracleGlob}')),
         |sc AS (SELECT g.doc_id, count(*) AS n_grams,
         |         CAST(sum(m.lr_micro) AS BIGINT) AS logw_micro
         |       FROM g JOIN m USING (bucket) GROUP BY g.doc_id)
         |SELECT doc_id, n_grams, logw_micro FROM sc
         |ORDER BY logw_micro DESC, doc_id LIMIT 100""".stripMargin,

    // Mirrors Dsir.resampleGumbel: the identical scored frame plus
    // floor-quantized Gumbel micros on the (n+0.5)/2^32 open-interval
    // uniform — integer key compare, doc_id tie-break.
    "pipeline_dsir_resample" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         |uni AS (SELECT doc_id, unnest(ts) AS gram FROM t),
         |bi AS (SELECT doc_id, ts[i] || ' ' || ts[i+1] AS gram
         |       FROM t, generate_series(1, 4000) s(i) WHERE i <= len(ts) - 1),
         |g AS (SELECT doc_id,
         |        ('0x' || substr(md5('dsir:' || gram), 1, 8))::BIGINT % 256 AS bucket
         |      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
         |m AS (SELECT bucket, lr_micro FROM read_parquet('${dsirOracleGlob}')),
         |sc AS (SELECT g.doc_id, count(*) AS n_grams,
         |         CAST(sum(m.lr_micro) AS BIGINT) AS logw_micro
         |       FROM g JOIN m USING (bucket) GROUP BY g.doc_id)
         |SELECT doc_id, n_grams, logw_micro,
         |  logw_micro + CAST(floor(1e6 * -ln(-ln(
         |    ((('0x' || substr(md5('dsirg:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
         |     + 0.5) / 4294967296.0))) AS BIGINT) AS key_micro
         |FROM sc ORDER BY key_micro DESC, doc_id LIMIT 100""".stripMargin,

    // Single-division IEEE arithmetic over exact integer counts — the
    // reason diversity uses Gini-Simpson, not Shannon (log() ulps differ
    // across engines; one division doesn't).
    "tx_diversity" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |pc AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t),
        |d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_distinct,
        |        CAST(sum(c*c) AS BIGINT) AS ss FROM pc GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |  CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
        |  1.0 - CAST(ss AS DOUBLE) / CAST(n_tokens * n_tokens AS DOUBLE) AS simpson
        |FROM d""".stripMargin,

    // Mirrors TextAnalysis.pack: md5-prefix shard + salted-md5 pack order,
    // exclusive prefix-token-sum binned by the 128-token budget.
    "pipeline_pack" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS nt,
        |        md5('pack:' || CAST(doc_id AS VARCHAR)) AS h,
        |        ('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 8 AS shard
        |      FROM documents),
        |p AS (SELECT shard, nt,
        |        coalesce(sum(nt) OVER (PARTITION BY shard ORDER BY h, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
        |      FROM d)
        |SELECT shard, CAST(prefix // 128 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens
        |FROM p GROUP BY shard, bin""".stripMargin,

    // Mirrors TextAnalysis.mixWeighted: T = min(count/w), per-source rate
    // w*T/count in the same operation order, hashUniform threshold test.
    "pipeline_mix" ->
      """WITH c AS (SELECT source, count(*) AS c FROM documents
        |           WHERE source IN ('src0','src1','src2') GROUP BY source),
        |t AS (SELECT min(c / CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3 ELSE 0.2 END) AS t FROM c),
        |r AS (SELECT c.source,
        |        (CASE c.source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3 ELSE 0.2 END) * t.t / c.c AS rate
        |      FROM c, t),
        |kept AS (SELECT d.source, d.doc_id FROM documents d JOIN r ON d.source = r.source
        |         WHERE ('0x' || substr(md5('mixw:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        |               / 4294967296.0 < r.rate)
        |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM kept GROUP BY source""".stripMargin,

    // Mirrors Dedup.dedupSpans: 16-token zero-overlap chunks (bounded
    // non-correlated series — max 7 chunks/doc at every SF), first corpus
    // site per span text wins, docs rebuilt from survivors in order.
    "dd_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |nc AS (SELECT doc_id, tk, greatest(1, CAST(ceil(len(tk) / 16.0) AS BIGINT)) AS n FROM toks),
        |ch AS (SELECT doc_id, i AS chunk_idx,
        |         array_to_string(list_slice(tk, i*16 + 1, i*16 + 16), ' ') AS chunk
        |       FROM nc JOIN generate_series(0, 599) s(i) ON s.i < nc.n),
        |rk AS (SELECT doc_id, chunk_idx, chunk,
        |         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS r
        |       FROM ch)
        |SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN r = 1 THEN chunk END, ' ' ORDER BY chunk_idx), '') AS clean_text
        |FROM rk GROUP BY doc_id""".stripMargin,

    // Mirrors Dedup.stripBoilerplateUnits over 16-token chunks: per-span
    // distinct-doc frequency via md5 keys, spans with df >= 2 drop from
    // every document, docs rebuilt from survivors in order.
    "dd_strip_boilerplate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |nc AS (SELECT doc_id, tk, greatest(1, CAST(ceil(len(tk) / 16.0) AS BIGINT)) AS n FROM toks),
        |ch AS (SELECT doc_id, i AS unit_idx,
        |         array_to_string(list_slice(tk, i*16 + 1, i*16 + 16), ' ') AS unit
        |       FROM nc JOIN generate_series(0, 599) s(i) ON s.i < nc.n),
        |df AS (SELECT md5(unit) AS h, count(DISTINCT doc_id) AS df FROM ch GROUP BY 1),
        |j AS (SELECT ch.doc_id, ch.unit_idx, ch.unit, df.df
        |      FROM ch JOIN df ON md5(ch.unit) = df.h)
        |SELECT doc_id, count(*) AS n_units,
        |  CAST(sum(CASE WHEN df < 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN df < 2 THEN unit END, ' ' ORDER BY unit_idx), '') AS clean_text
        |FROM j GROUP BY doc_id""".stripMargin,

    // Mirrors Dedup.stripBoilerplate with sep=' ': whitespace tokens as
    // units (0-based idx like posexplode), strip df >= 400.
    "dd_strip_lines" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |u AS (SELECT doc_id, i - 1 AS unit_idx, tk[i] AS unit
        |      FROM toks JOIN generate_series(1, 4000) s(i) ON s.i <= len(tk)),
        |df AS (SELECT md5(unit) AS h, count(DISTINCT doc_id) AS df FROM u GROUP BY 1),
        |j AS (SELECT u.doc_id, u.unit_idx, u.unit, df.df
        |      FROM u JOIN df ON md5(u.unit) = df.h)
        |SELECT doc_id, count(*) AS n_units,
        |  CAST(sum(CASE WHEN df < 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(CASE WHEN df < 400 THEN unit END, ' ' ORDER BY unit_idx), '') AS clean_text
        |FROM j GROUP BY doc_id""".stripMargin,

    // Mirrors TextAnalysis.hashUniform: first 8 md5 hex chars as a 32-bit
    // int over 2^32. DuckDB parses '0x'-prefixed hex in a BIGINT cast;
    // Spark's conv(_,16,10) computes the identical value.
    "pipeline_sample" ->
      """WITH d AS (SELECT doc_id, lang,
        |    ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |      / 4294967296.0 AS u,
        |    CASE lang WHEN 'en' THEN 0.5 WHEN 'zh' THEN 0.25 ELSE 1.0 END AS rate
        |  FROM documents)
        |SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM d WHERE u < rate GROUP BY lang""".stripMargin,

    // Mirrors TextAnalysis.capPerKey: row_number per source in (md5, id)
    // order — md5 hex strings compare identically in any engine, and the
    // id tie-break makes the rank total even under hash collisions.
    "pipeline_cap_source" ->
      """WITH r AS (SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM r WHERE rk <= 20 GROUP BY source""".stripMargin,

    // Mirrors capPerKeyApprox: hashUniform (pipeline_sample's md5 contract,
    // salt 'capx') compared against the same single double division n/count.
    // The per-key count is a window (not a USING join) so null keys count
    // and match null-safely, mirroring the operator's <=> join.
    "pipeline_cap_approx" ->
      """WITH d AS (SELECT source, doc_id,
        |             count(*) OVER (PARTITION BY source) AS key_n
        |           FROM documents)
        |SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM d
        |WHERE ('0x' || substr(md5('capx:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |        / 4294967296.0
        |      < CAST(10 AS DOUBLE) / key_n
        |GROUP BY source""".stripMargin,

    "pipeline_cap_approx_err" ->
      """WITH d AS (SELECT source, doc_id,
        |             count(*) OVER (PARTITION BY source) AS n_all
        |           FROM documents),
        |k AS (SELECT source, max(n_all) AS n_all, count(*) FILTER (
        |        WHERE ('0x' || substr(md5('capx:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        |                / 4294967296.0
        |              < CAST(10 AS DOUBLE) / n_all) AS n_kept
        |      FROM d GROUP BY source)
        |SELECT max(abs(n_kept - least(10, n_all))) AS max_abs_dev,
        |       CAST(max(abs(n_kept - least(10, n_all))) <= 16 AS BIGINT) AS passed
        |FROM k""".stripMargin,

    // Symbolic mirror of the PNG round-trip: geometry 4+id%13 × 3+id%11,
    // pixel(idx) = (id*37 + idx*101) % 256 (Multimodal.pixel). The Spark
    // side runs a real ImageIO decode; equality certifies the codec path.
    "mm_features" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
        |           FROM documents),
        |px AS (SELECT doc_id, w, h, i, (doc_id * 37 + i * 101) % 256 AS p
        |       FROM d, generate_series(0, 250) t(i) WHERE i < w * h)
        |SELECT doc_id,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(w * h AS BIGINT) AS n_px, CAST(sum(p) AS BIGINT) AS sum_gray,
        |  CAST(max(CASE WHEN i = 0 THEN p END) AS BIGINT) AS f0,
        |  CAST(max(CASE WHEN i = 1 THEN p END) AS BIGINT) AS f1,
        |  CAST(max(CASE WHEN i = 2 THEN p END) AS BIGINT) AS f2,
        |  CAST(max(CASE WHEN i = 3 THEN p END) AS BIGINT) AS f3
        |FROM px GROUP BY doc_id, w, h""".stripMargin,

    // JPEG leg: geometry is symbolic-exact (lossy coding never touches the
    // header); the pixel-error bound is computed Spark-side against the
    // closed-form raster (DuckDB has no JPEG codec) and compared to the
    // literal verdict here — same pattern as the ANN recall gates.
    "mm_features_jpeg" ->
      """SELECT doc_id,
        |  CAST(4 + doc_id % 13 AS BIGINT) AS width,
        |  CAST(3 + doc_id % 11 AS BIGINT) AS height,
        |  CAST((4 + doc_id % 13) * (3 + doc_id % 11) AS BIGINT) AS n_px,
        |  CAST(1 AS BIGINT) AS err_ok
        |FROM documents""".stripMargin,

    // Nearest-neighbor 8x6 resample of the synthetic raster: out pixel
    // i = (oy, ox) samples source (oy*h//6)*w + ox*w//8 — integer floor
    // division on both engines.
    "mm_resize" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
        |           FROM documents),
        |px AS (SELECT doc_id, w, h, i,
        |         (doc_id * 37 +
        |          (((i // 8) * h // 6) * w + ((i % 8) * w // 8)) * 101) % 256 AS p
        |       FROM d, generate_series(0, 47) t(i))
        |SELECT doc_id,
        |  CAST(w AS BIGINT) AS src_w, CAST(h AS BIGINT) AS src_h,
        |  CAST(8 AS BIGINT) AS out_w, CAST(6 AS BIGINT) AS out_h,
        |  CAST(sum(p) AS BIGINT) AS sum_resized,
        |  CAST(max(CASE WHEN i = 0 THEN p END) AS BIGINT) AS r0,
        |  CAST(max(CASE WHEN i = 1 THEN p END) AS BIGINT) AS r1,
        |  CAST(max(CASE WHEN i = 2 THEN p END) AS BIGINT) AS r2,
        |  CAST(max(CASE WHEN i = 3 THEN p END) AS BIGINT) AS r3
        |FROM px GROUP BY doc_id, w, h""".stripMargin,

    // Symbolic WAV mirror: the sample function is closed-form, so the
    // oracle re-derives every PCM statistic without an audio codec.
    "mm_audio" ->
      """WITH d AS (SELECT doc_id, 400 + doc_id % 200 AS n FROM documents),
        |s AS (SELECT d.doc_id, t.i,
        |        ((d.doc_id * 31 + t.i * 7717) % 65536) - 32768 AS v
        |      FROM d, generate_series(0, 599) t(i) WHERE t.i < d.n),
        |w AS (SELECT doc_id, i, v,
        |        lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
        |SELECT doc_id,
        |  CAST(8000 AS BIGINT) AS sample_rate, CAST(1 AS BIGINT) AS n_channels,
        |  count(*) AS n_samples, CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
        |  CAST(max(abs(v)) AS BIGINT) AS max_abs,
        |  CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS zero_crossings
        |FROM w GROUP BY doc_id""".stripMargin,

    // Frames 0/4/8 of the 12-frame clip, luma(f, idx) =
    // (id*37 + f*7919 + idx*101) % 256 (Multimodal.clipLuma).
    "mm_frames" ->
      """WITH d AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
        |           FROM documents),
        |fr AS (SELECT doc_id, w, h, f
        |       FROM d, generate_series(0, 11) s(f) WHERE f % 4 = 0),
        |px AS (SELECT doc_id, f,
        |         (doc_id * 37 + f * 7919 + i * 101) % 256 AS p
        |       FROM fr, generate_series(0, 250) t(i) WHERE i < w * h)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
        |       CAST(sum(p) AS BIGINT) AS sum_luma
        |FROM px GROUP BY doc_id, f""".stripMargin
  )
}
