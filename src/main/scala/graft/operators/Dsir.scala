package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DsirFunctions

/**
 * DSIR-style importance resampling — "Data Selection for Language Models
 * via Importance Resampling" (Xie et al., NeurIPS 2023): fit two hashed
 * bag-of-n-grams unigram models — one over a small trusted TARGET slice,
 * one over the RAW pool — weight every raw document by its target/raw
 * log-likelihood ratio, and draw the training subset with probability
 * proportional to the importance weight (Gumbel top-k). The standard
 * "make 100 TB of crawl look like Wikipedia" selection pass; no reference
 * counterpart (the reference has no corpus-selection surface).
 *
 * Features are word unigrams + adjacent bigrams over the literal
 * whitespace split (the tx_tokens tokenization — no case folding, so no
 * Java-vs-ICU folding divergence can reach the hash), bucketed by
 * `md5("<salt>:" || gram)` into `nBuckets` hashed features (the paper's
 * 10k-bucket scheme; any engine computes the same bucket).
 *
 * Determinism contract (same scheme as [[LmScore]]):
 *  - the per-bucket log ratio is MATERIALIZED as a parquet fixture
 *    `(bucket, lr_micro)` with
 *    `lr_micro = floor(1e6 · ln( ((ct+1)·(Tr+B)) / ((cr+1)·(Tt+B)) ))`
 *    computed ONCE in the training job (add-one smoothing; Tt/Tr = total
 *    target/raw gram occurrences, B = nBuckets). Both engines read the
 *    same integers back, so no cross-engine `ln` ulp can diverge;
 *  - a document's log importance weight is then a pure INTEGER sum of
 *    fixture rows, and top-k selection compares integers with a doc-id
 *    tie-break — no float anywhere in the selection decision;
 *  - the resampling variant adds quantized Gumbel noise
 *    `floor(1e6 · g(u))`, `g(u) = −ln(−ln u)`, `u` the salted md5 uniform
 *    of [[TextAnalysis.hashUniform]] shifted to the open interval
 *    ((n+0.5)/2³²) so neither engine ever evaluates ln at 0. The
 *    comparison is again integer micros + id tie-break; the only
 *    cross-engine risk left is a true Gumbel value within one double ulp
 *    of a 1e-6 quantization boundary (~1e-10 per row, and a flip surfaces
 *    as a loud one-row hash mismatch, never silently).
 *
 * Shape at 100 TB: the model is `nBuckets` rows regardless of corpus size
 * — training is two map-side-partial gram aggregates (target slice + one
 * pass over the raw pool). Scoring is row-local: [[score]] collects the
 * model into the `Array[Long]` of the codegen'd `dsir_row_score`
 * expression ([[graft.functions.DsirRowScore]]) and weights each document
 * inside its own row — no explode, no join, no exchange, and the same
 * [[score]] serves a batch and a stream. Selection is TakeOrderedAndProject
 * (a per-partition top-k heap + single k-row merge — no global sort); for
 * k beyond ~10⁶ pre-filter on a score threshold from a quantile sketch
 * first (Skew.saltedTopN's two-phase trick), or use the threshold form
 * directly: `scored.where($"logw_micro" > t)` is map-only and shuffles
 * nothing.
 */
object Dsir {

  /** Hashed feature id in [0, nBuckets): first 8 md5 hex chars of the
    * salted gram read as an int (< 2³², so the mod is non-negative in
    * any engine). `fastHash` switches to `xxhash64(salt, gram)` — the
    * Dedup precedent: measured ~3× cheaper on the scoring paths and the
    * family a production deployment should run, but NOT cross-engine-
    * stable (DuckDB cannot reproduce Spark's xxhash64), so every
    * oracle-gated battery row keeps md5. The two families induce
    * different bucketings: a model must be trained and served with the
    * SAME family. */
  def hashBucket(gramCol: Column, nBuckets: Int, salt: String,
                 fastHash: Boolean = false): Column =
    if (fastHash) pmod(xxhash64(lit(salt), gramCol), lit(nBuckets.toLong))
    else pmod(conv(substring(md5(concat(lit(s"$salt:"), gramCol)), 1, 8), 16, 10)
      .cast("long"), lit(nBuckets.toLong))

  /** One row per gram occurrence: (doc_id, gram) — word unigrams plus
    * adjacent "a b" bigrams over the literal space split, as ONE explode
    * of their concatenation, so the input is read once (a union of a
    * unigram and a bigram explode read it once per branch). The CASE
    * guards `sequence` from descending through 0 on one-token docs under
    * InferFiltersFromGenerate (same guard as [[LmScore]]'s trigrams). */
  private def grams(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__ts"))
      .select(col("doc_id"), explode(expr(
        "concat(__ts, CASE WHEN size(__ts) >= 2 THEN transform(" +
        "sequence(1, size(__ts) - 1), i -> concat(__ts[i-1], ' ', __ts[i])) " +
        "ELSE array() END)")).as("gram"))

  /** One row per gram occurrence, already bucketed: (doc_id, bucket). The
    * md5 family runs through the native codegen'd
    * [[graft.functions.DsirGramBuckets]] — one O(len) call per document,
    * bit-identical to `grams() + hashBucket()` (r19: the interpreted bigram
    * lambda plus the per-gram md5/conv/substring/pmod expression chain was
    * the bulk of the DSIR train/score wall; GramFunctionsSpec pins
    * equality). The xxhash64 `fastHash` family stays on the Column path —
    * already codegen'd end to end. */
  private def gramBuckets(df: DataFrame, idCol: String, textCol: String,
                          nBuckets: Int, salt: String,
                          fastHash: Boolean): DataFrame =
    if (fastHash)
      grams(df, idCol, textCol).select(col("doc_id"),
        hashBucket(col("gram"), nBuckets, salt, fastHash = true).as("bucket"))
    else {
      graft.functions.GramFunctions.register(df.sparkSession)
      df.select(col(idCol).as("doc_id"),
        explode(call_function("dsir_gram_buckets",
          col(textCol), lit(nBuckets), lit(salt))).as("bucket"))
    }

  /** Fit the hashed importance model: per-bucket integer log ratio
    * `lr_micro` over ALL `nBuckets` buckets (zero-count buckets get the
    * smoothed default via the range left-joins, so scoring never misses).
    * Totals are sums over all `nBuckets` rows of the joined counts, taken
    * by a window with no partition key, so target and raw are each read
    * once; no driver collection, and `ln` runs exactly once per bucket. */
  def trainLogRatios(target: DataFrame, raw: DataFrame, idCol: String,
                     textCol: String, nBuckets: Int, salt: String,
                     fastHash: Boolean = false): DataFrame = {
    def bucketCounts(df: DataFrame): DataFrame =
      gramBuckets(df, idCol, textCol, nBuckets, salt, fastHash)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("c"))
    val spark = target.sparkSession
    val all = spark.range(nBuckets).select(col("id").as("bucket"))
    val ct = bucketCounts(target).withColumnRenamed("c", "ct")
    val cr = bucketCounts(raw).withColumnRenamed("c", "cr")
    val joined = all
      .join(ct, Seq("bucket"), "left").join(cr, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val every = org.apache.spark.sql.expressions.Window.partitionBy()
    // Factors cast to double BEFORE the multiply: at the operator's target
    // scale (raw pools of ~1e13 gram occurrences) the long product
    // (ct+1)·(Tr+B) exceeds 2^63 and would wrap silently under non-ANSI
    // semantics; double·double only rounds. At battery scale the products
    // are < 2^53, so both forms are bit-identical there.
    joined
      .select(col("bucket"), col("ct"), col("cr"),
        sum(col("ct")).over(every).as("__tt"), sum(col("cr")).over(every).as("__tr"))
      .select(col("bucket"),
        floor(lit(1e6) * log(
          ((col("ct") + lit(1)).cast("double") *
            (col("__tr") + lit(nBuckets.toLong)).cast("double")) /
          ((col("cr") + lit(1)).cast("double") *
            (col("__tt") + lit(nBuckets.toLong)).cast("double"))))
          .cast("long").as("lr_micro"))
  }

  /** Score every document against a materialized model (the integers on
    * disk): (doc_id, n_grams, logw_micro = Σ lr_micro over the doc's
    * grams). Null-text documents are omitted; every other document has at
    * least one gram (the split of "" is one empty token).
    *
    * One codegen'd `dsir_row_score` call per row
    * ([[graft.functions.DsirRowScore]]): the plan holds no explode, join
    * or exchange, and `docs` may be a stream. One output row per scored
    * input row — rows sharing an id are scored separately, not summed.
    *
    * Model size: the model is collected to the driver and ships inside the
    * expression as an `Array[Long](nBuckets)`, so inside every task — 8
    * bytes per bucket: 2 KB at the battery's 256 buckets, 80 KB at the 10k
    * of SelectionScale and PipelineScale, the largest callers. Models of
    * millions of buckets would want the array broadcast instead.
    *
    * The model must cover buckets 0..nBuckets-1 with a non-null lr_micro
    * exactly once, in exactly nBuckets rows: a missing bucket would fault
    * on lookup and a duplicated one would silently keep one of its values,
    * so either throws IllegalArgumentException. EAGER: the model is
    * collected (and checked) when the plan is built; build the plan outside
    * any timed section. */
  def score(docs: DataFrame, model: DataFrame, idCol: String,
            textCol: String, nBuckets: Int, salt: String,
            fastHash: Boolean = false): DataFrame = {
    val rows = model.select("bucket", "lr_micro").collect()
    // nBuckets rows holding nBuckets distinct valid buckets: every row is
    // valid and no bucket is missing or repeated.
    val valid = rows.collect {
      case r if !r.isNullAt(0) && !r.isNullAt(1) &&
        r.getLong(0) >= 0L && r.getLong(0) < nBuckets => r.getLong(0) -> r.getLong(1)
    }.toMap
    require(rows.length == nBuckets && valid.size == nBuckets,
      s"model must cover buckets 0..${nBuckets - 1} with non-null " +
        s"lr_micro exactly once (found ${rows.length} rows over " +
        s"${valid.size} distinct valid buckets, expected $nBuckets of each)")
    val lr = Array.tabulate(nBuckets)(b => valid(b.toLong))
    // The fold is null exactly for null text. Filtering on the text, not
    // on the fold's alias, keeps the fold out of the Filter: the optimizer
    // pushes a filter on an alias below the projection, inlining the fold
    // and running it twice per row.
    DsirFunctions.withRowScore(docs.sparkSession, lr, salt, fastHash,
      col(textCol)) { s =>
      docs.where(col(textCol).isNotNull)
        .select(col(idCol).as("doc_id"), s.as("__s"))
        .select(col("doc_id"), col("__s.n_grams").as("n_grams"),
          col("__s.logw_micro").as("logw_micro"))
    }
  }

  /** Hard top-k by importance weight (the paper's "top-k selection"
    * ablation): integer compare, id tie-break — exact in any engine.
    * Plans as TakeOrderedAndProject. */
  def selectTopK(scored: DataFrame, k: Int): DataFrame = {
    require(k > 0, "selection size must be positive")
    scored.orderBy(col("logw_micro").desc, col("doc_id")).limit(k)
  }

  /** Gumbel top-k importance RESAMPLING (the paper's main form): draw k
    * docs without replacement with inclusion tilted by exp(logw) — top-k
    * of `logw_micro + floor(1e6·g(u))`, `g(u) = −ln(−ln u)` on the salted
    * md5 uniform shifted into (0,1). Integer key + id tie-break (see the
    * class doc for the quantization-boundary caveat). Map-only +
    * TakeOrderedAndProject, same scale shape as [[selectTopK]]. */
  def resampleGumbel(scored: DataFrame, idCol: String, k: Int,
                     salt: String): DataFrame = {
    require(k > 0, "sample size must be positive")
    val u = (conv(substring(md5(concat(lit(s"$salt:"), col(idCol).cast("string"))),
      1, 8), 16, 10).cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
    scored
      .withColumn("key_micro",
        col("logw_micro") + floor(lit(1e6) * -log(-log(u))).cast("long"))
      .orderBy(col("key_micro").desc, col(idCol))
      .limit(k)
  }

  /** Train on (target, raw), persist the model under `fixturePath`, read
    * it back, and score `docs` with the on-disk integers (the read-back
    * makes the oracle compare exact — both engines consume the same
    * parquet). */
  def trainAndScore(spark: SparkSession, docs: DataFrame, target: DataFrame,
                    idCol: String, textCol: String, nBuckets: Int,
                    salt: String, fixturePath: String): DataFrame = {
    trainLogRatios(target, docs, idCol, textCol, nBuckets, salt)
      .coalesce(1).write.mode("overwrite").parquet(fixturePath)
    score(docs, spark.read.parquet(fixturePath), idCol, textCol, nBuckets, salt)
  }
}
