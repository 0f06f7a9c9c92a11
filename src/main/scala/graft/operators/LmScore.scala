package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.LmFunctions

/**
 * Character n-gram language-model quality scoring — the CCNet-style
 * "perplexity filter" every scraped-corpus pipeline runs: train a small LM
 * on a trusted reference slice, score every candidate document by its
 * average log-likelihood under that model, and threshold/bucket on the
 * score downstream. (CCNet uses KenLM 5-gram word models; the operator
 * keeps the same shape with an add-one-smoothed character-trigram model,
 * which needs no external artifacts and has a vocabulary bounded by
 * |charset|³.)
 *
 * Determinism contract (what makes the DuckDB oracle exact):
 *  - text is canonicalized to lowercase `[a-z ]` with single spaces — the
 *    regexes involved (`[^a-z ]`, ` +`) behave identically in Java and RE2,
 *    and on ASCII output Spark's UTF-16 `substring` and DuckDB's codepoint
 *    slicing agree;
 *  - the model is MATERIALIZED as a parquet fixture `(tri, score_micro)`:
 *    `score_micro = floor(1e6 · ln((c+1)/(T+V)))` is computed ONCE (in the
 *    training job) and both engines read the same integers back, so no
 *    cross-engine `ln` ulp can diverge — scoring is pure integer sums plus
 *    ONE final IEEE division, which is correctly rounded in any engine;
 *  - out-of-vocabulary mass is a sentinel model row (`__OOV__`, score
 *    `floor(1e6 · ln(1/(T+V)))`) — a length-7 key that can never collide
 *    with a length-3 trigram.
 *
 * Shape at 100 TB: the model is bounded by the trigram vocabulary
 * (≤ 27³ + 1 rows) regardless of reference-slice size — training is one
 * map-side-partial aggregate over the slice. Scoring is row-local: the
 * model is collected into the dense 27³ table of the codegen'd
 * `lm_row_score` expression ([[graft.functions.LmRowScore]]), and each
 * document is scored inside its own row — no explode, no join, no
 * exchange, so the same [[score]] serves a batch and a stream.
 */
object LmScore {

  /** Lowercase-`[a-z ]` canonical form: strip everything outside
    * `[A-Za-z ]` FIRST, then lowercase, collapse space runs, trim. The
    * strip-first order matters: `lower` only ever sees pure ASCII, so
    * Java vs ICU case-folding of exotic codepoints (Turkish İ → i +
    * combining dot, ß → ss, …) can never reach the trigram stream — the
    * cross-engine agreement holds by construction, not by charset luck.
    * Mirrors the SQL in [[graft.ops.PipelineQueries]]
    * (`regexp_replace(..., 'g')`). */
  def canonical(textCol: Column): Column =
    trim(regexp_replace(lower(regexp_replace(textCol, "[^A-Za-z ]", "")),
      " +", " "))

  /** One row per character trigram occurrence: (doc_id, tri). The trigram
    * array is the native codegen'd [[graft.functions.CharNgrams]] — ONE
    * O(len) pass per document, bit-identical to the interpreted
    * `transform(sequence(...), i -> substring(__nt, i, 3))` form it
    * replaced (r19: that HOF lambda was the whole tx_lm_score wall —
    * 2.0 s of the 2.9 s row at sf0.1; GramFunctionsSpec pins equality).
    * Short docs yield an empty array, so no sequence()-descends-through-0
    * CASE guard is needed under InferFiltersFromGenerate. */
  private def trigrams(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.GramFunctions.register(df.sparkSession)
    df.select(col(idCol).as("doc_id"), canonical(col(textCol)).as("__nt"))
      .where(length(col("__nt")) >= 3)
      .select(col("doc_id"),
        explode(call_function("char_ngrams", col("__nt"), lit(3))).as("tri"))
  }

  /** Train the add-one-smoothed trigram model over `ref` and return it as
    * `(tri STRING, score_micro LONG)` rows including the `__OOV__` sentinel.
    * T (total trigram occurrences) and V (distinct trigrams) enter via a
    * one-row totals frame joined in — no driver-side collection; `ln` runs
    * distributed exactly once per vocabulary entry. */
  def trainModel(ref: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = trigrams(ref, idCol, textCol)
      .groupBy(col("tri")).agg(count(lit(1)).as("c"))
    val totals = counts.agg(
      sum(col("c")).as("__t"), count(lit(1)).as("__v"))
    val scored = counts.crossJoin(broadcast(totals))
      .select(col("tri"),
        floor(lit(1e6) * log((col("c") + lit(1)).cast("double") /
          (col("__t") + col("__v")).cast("double"))).cast("long")
          .as("score_micro"))
    val oov = totals.select(lit("__OOV__").as("tri"),
      floor(lit(1e6) * log(lit(1.0) /
        (col("__t") + col("__v")).cast("double"))).cast("long")
        .as("score_micro"))
    scored.unionByName(oov)
  }

  /** Score every document in `docs` against a materialized `model` (read
    * back from the fixture the training job wrote — the scores used are
    * the exact integers on disk): (doc_id, n_tri, avg_logp_micro) where
    * `avg_logp_micro` = Σ score_micro / n_tri. Documents whose canonical
    * form is shorter than one trigram (null text included) carry no
    * signal and are omitted.
    *
    * One codegen'd `lm_row_score` call per row
    * ([[graft.functions.LmRowScore]]) over the dense table of
    * [[graft.functions.LmFunctions.denseScores]], then the one exact
    * division: the plan holds no explode, join or exchange, and `docs`
    * may be a stream. One output row per scored input row — rows sharing
    * an id are scored separately, not summed. The model ships inside the
    * expression, so inside every task: 27³ longs, 157 KB. EAGER: the
    * model is collected (and checked) when the plan is built. */
  def score(docs: DataFrame, model: DataFrame,
            idCol: String, textCol: String): DataFrame =
    LmFunctions.withRowScore(docs.sparkSession, LmFunctions.denseScores(model),
      col(textCol)) { s =>
      docs.select(col(idCol).as("doc_id"), s.as("__s"))
        .where(col("__s").isNotNull)
        .select(col("doc_id"), col("__s.n_tri").as("n_tri"),
          (col("__s.sum_micro").cast("double") / col("__s.n_tri").cast("double"))
            .as("avg_logp_micro"))
    }

  /** Train on `ref`, persist the model under `fixturePath`, read it back,
    * and score `docs` with the on-disk integers (the read-back is what
    * makes the oracle compare exact — both engines consume the same
    * parquet). */
  def trainAndScore(spark: SparkSession, docs: DataFrame, ref: DataFrame,
                    idCol: String, textCol: String,
                    fixturePath: String): DataFrame = {
    trainModel(ref, idCol, textCol)
      .coalesce(1).write.mode("overwrite").parquet(fixturePath)
    score(docs, spark.read.parquet(fixturePath), idCol, textCol)
  }
}
