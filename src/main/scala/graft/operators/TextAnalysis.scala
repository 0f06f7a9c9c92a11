package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for training-data pipelines: token counting,
 * quality scoring, language ID, and document fingerprinting. All pure
 * codegen'd column expressions — no UDFs, so Catalyst keeps them inside
 * whole-stage codegen and pushes the `text` column read straight to parquet.
 */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(textCol: Column): Column = size(split(textCol, " "))

  /** BPE-ish regex token count: letter runs, digit runs, and single
    * non-alphanumeric marks as separate tokens (the pre-tokenization split
    * BPE vocabularies build on). The alternatives match disjoint leading
    * characters, so Java and RE2 regex engines agree. */
  val BpeishPattern = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
  def bpeishTokenCount(textCol: Column): Column =
    size(regexp_extract_all(textCol, lit(BpeishPattern), lit(0)))

  /** Per-document quality features: char count, token count, mean token
    * length, stopword ratio, and Gopher-style symbol/digit ratios (the
    * rule-based signals corpus cleaning pipelines threshold on). Ratios are
    * single divisions of exact integer counts — deterministic across
    * engines. */
  def quality(docs: DataFrame, idCol: String, textCol: String,
              stopwords: Seq[String]): DataFrame = {
    val stopList = stopwords.map(w => s"'$w'").mkString(", ")
    def strippedLen(pattern: String) =
      length(regexp_replace(col(textCol), pattern, ""))
    docs.select(
      col(idCol),
      length(col(textCol)).as("n_chars"),
      tokenCount(col(textCol)).as("n_tokens"),
      ((length(col(textCol)) - (tokenCount(col(textCol)) - 1)).cast("double") /
        tokenCount(col(textCol))).as("avg_tok_len"),
      (expr(s"size(filter(split($textCol, ' '), t -> t IN ($stopList)))").cast("double") /
        tokenCount(col(textCol))).as("stop_ratio"),
      // chars removed by stripping the class = count of chars IN the class
      ((length(col(textCol)) - strippedLen("[^a-zA-Z0-9 ]")).cast("double") /
        length(col(textCol))).as("punct_ratio"),
      ((length(col(textCol)) - strippedLen("[0-9]")).cast("double") /
        length(col(textCol))).as("digit_ratio"))
  }

  /** Marker-based language ID: first matching marker wins. A deliberately
    * SQL-mirrorable heuristic (the trigram-profile scorer below is the
    * richer variant; this one is exactly expressible as a CASE in any
    * engine, which the correctness oracle requires). */
  def langIdMarkers(textCol: Column, markers: Seq[(String, String)],
                    default: String): Column =
    markers.foldRight(lit(default): Column) { case ((marker, lang), acc) =>
      when(textCol.contains(marker), lang).otherwise(acc)
    }

  /** Character-trigram profile scorer: returns the profile key whose trigram
    * set overlaps the document's trigrams most (ties → lexicographically
    * smallest key). Profiles are small and broadcast as literal arrays. */
  def langIdTrigrams(docs: DataFrame, idCol: String, textCol: String,
                     profiles: Map[String, Seq[String]]): DataFrame = {
    val scores: Seq[Column] = profiles.toSeq.sortBy(_._1).map { case (lang, tris) =>
      val triList = tris.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
      struct(
        expr(s"size(filter(array($triList), t -> contains($textCol, t)))").as("score"),
        lit(lang).as("lang"))
    }
    // Highest score wins; on ties the earlier (lexicographically smaller)
    // profile key is kept because `when` only replaces on strict >.
    docs.select(
      col(idCol),
      scores.reduceLeft[(Column)]((a, b) =>
        when(b.getField("score") > a.getField("score"), b).otherwise(a))
        .getField("lang").as("lang_pred"))
  }

  /** Document fingerprint: lexicographic min of md5 over all char n-gram
    * windows (winnowing-style rolling fingerprint, engine-independent). */
  def fingerprint(textCol: String, n: Int): Column =
    expr(s"array_min(transform(sequence(1, greatest(length($textCol)-${n - 1}, 1)), " +
         s"i -> md5(substring($textCol, i, $n))))")

  /** Gopher-style repetition signals per document: duplicate-token fraction,
    * most-frequent-token fraction, and most-frequent-bigram fraction — the
    * rule-based repetition filters corpus cleaning thresholds on (a doc whose
    * top bigram covers 20% of it is boilerplate, not prose). Ratios are
    * single divisions of exact integer counts — deterministic across engines.
    *
    * Shape at scale: explode + two groupBys keyed by doc id — all partial
    * aggregation is map-side (a document's tokens live in one row, hence one
    * partition), so the shuffle carries one row per (doc, distinct token),
    * not per token. Docs with fewer than 2 tokens get a NULL bigram fraction
    * (there is no bigram to measure). */
  def repetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
    val tokTop = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_tok"))
    val bgTop = bigrams(docs, idCol, textCol)
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram"))
    tokTop.join(bgTop, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        ((col("n_tokens") - col("n_distinct")).cast("double") / col("n_tokens"))
          .as("dup_tok_frac"),
        (col("top_tok").cast("double") / col("n_tokens")).as("top_tok_frac"),
        (col("top_bigram").cast("double") / col("n_bigrams")).as("top_bigram_frac"))
  }

  /** One row per (doc, bigram occurrence): (doc_id, bg). The CASE guard
    * must live INSIDE the expression, not only in a row filter: Spark's
    * sequence(1, n) DESCENDS when n < 1, and InferFiltersFromGenerate +
    * predicate pushdown can evaluate the array expression on rows the
    * `where` would have dropped (a pushed `size(<expr>) > 0` filter runs
    * below the size guard). CASE branches evaluate lazily, so short docs
    * never reach the descending-sequence path. */
  private def bigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
      .where(size(col("__toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(__toks) >= 2 THEN " +
        "transform(sequence(1, size(__toks) - 1), " +
        "i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1))) " +
        "ELSE array() END")).as("bg"))

  /** Corpus-level top-`k` bigram heavy hitters: (bigram, n), deterministic
    * under ties (count desc, then bigram asc). The plan is one hash
    * aggregation (map-side partials) + TakeOrdered — Spark computes per-
    * partition top-k and merges on the driver, so no global sort and no
    * single-partition shuffle even when the distinct-bigram set is huge. */
  def ngramTopK(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    bigrams(docs, idCol, textCol)
      .groupBy(col("bg").as("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(k)

  /** Benchmark-contamination check (the n-gram overlap scan run before
    * training on any scraped corpus, cf. the 13-gram dedup in the GPT-3
    * paper's data-prep appendix): for each corpus document sharing at least
    * one token `n`-gram with the eval set, the count of its distinct grams
    * (`n_grams`) and how many of them appear in the eval set (`n_hits`).
    * Grams are md5-hashed so the join key is fixed-width.
    *
    * Shape at scale: the eval set is small by definition — its distinct-gram
    * table is explicitly broadcast, so the corpus side is a map-only
    * explode + broadcast join + one groupBy(doc_id) whose partial
    * aggregation is map-side. The per-document gram dedup happens INSIDE
    * each row (`array_distinct` over the gram array) — the corpus gram set
    * itself is never shuffled; the only exchange carries one row per
    * contaminated (doc, partial-count).
    *
    * Precondition: one row per `idCol` value (the standard corpus-table
    * shape). A corpus that chunks one document across several rows under
    * the same id would count a gram once PER ROW; pre-aggregate the text
    * (or accept row-level granularity) before calling. */
  def contamination(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    // Gram strings are built + deduped per row by the native codegen'd
    // word_ngrams_distinct (one O(len) call — the interpreted per-window
    // slice+join transform lambda it replaced was the row's wall; a
    // sub-n-token doc yields an empty array, so no CASE guard is needed),
    // then exploded, then hashed with TOP-LEVEL (codegen'd) md5 — an md5
    // inside a lambda is interpreted per element and measured 3x slower
    // end-to-end. GramFunctionsSpec pins the array equality.
    graft.functions.GramFunctions.register(corpus.sparkSession)
    def grams(df: DataFrame) = df
      .select(col(idCol).as("doc_id"),
        explode(call_function("word_ngrams_distinct",
          col(textCol), lit(n))).as("__g"))
      .select(col("doc_id"), md5(col("__g")).as("gh"))
    val ev = grams(evalSet).select(col("gh"), lit(1).as("__hit")).distinct()
    // One pass over the corpus grams: count(*) = distinct grams per doc,
    // counted hits from the broadcast left join — no second execution of
    // the gram lineage for a separate n_grams aggregate.
    grams(corpus)
      .join(broadcast(ev), Seq("gh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hits"))
      .where(col("n_hits") > 0)
  }

  /** Span-level decontamination (the C4-style scrub): instead of DROPPING
    * every document that shares an `n`-token window with the eval set
    * ([[contamination]] + anti-join — wasteful when one boilerplate
    * sentence taints a long document), remove only the tokens covered by
    * a contaminated window and rebuild the text from the survivors.
    * Output: one row per corpus document — (doc_id, n_tokens, n_removed,
    * clean_text) — with `clean_text` byte-identical to the input when
    * nothing matched (the literal space split/join round-trips exactly,
    * including runs of spaces).
    *
    * Same hashing/codegen contract as [[contamination]]: window hashes
    * are top-level md5 over the joined token slice (engine-exact, and
    * outside any lambda so codegen applies); the eval set's distinct
    * window hashes broadcast. Shape at scale: window starts explode
    * map-side, candidates come from a broadcast semi-join, covered
    * positions explode from matched starts only (|matches|·n rows), and
    * the rebuild is one groupBy(doc) over kept tokens — the only
    * data-sized exchange carries the corpus token stream once, like
    * [[Dedup.dedupSpans]]. */
  def scrubSpans(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                 textCol: String, n: Int): DataFrame = {
    require(n > 0, "window width must be positive")
    // Null-text documents are OMITTED (the Dsir.score contract) —
    // without the filter the final select would emit a garbage
    // (doc_id, -1, -1, "") row the oracle lacks.
    def toks(df: DataFrame) =
      df.where(col(textCol).isNotNull)
        .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
    // (doc_id, start, window-hash); the CASE guards sequence() from
    // descending through 0 on short docs (contamination's guard).
    def starts(df: DataFrame) = toks(df)
      .where(size(col("__toks")) >= n)
      .select(col("doc_id"), col("__toks"), explode(expr(
        s"CASE WHEN size(__toks) >= $n THEN sequence(1, size(__toks) - ${n - 1}) " +
        "ELSE array() END")).as("s"))
      .select(col("doc_id"), col("s"),
        md5(expr(s"array_join(slice(__toks, s, $n), ' ')")).as("gh"))
    val ev = starts(evalSet).select(col("gh")).distinct()
    val covered = starts(corpus)
      .join(broadcast(ev), Seq("gh"), "leftsemi")
      .select(col("doc_id"),
        explode(expr(s"sequence(s, s + ${n - 1})")).as("p"))
      .distinct()
    val tokens = toks(corpus)
      .select(col("doc_id"), posexplode(col("__toks")).as(Seq("__p0", "tok")))
      .select(col("doc_id"), (col("__p0") + 1).as("p"), col("tok"))
    val rebuilt = tokens.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__n_kept"),
        array_join(expr(
          "transform(sort_array(collect_list(struct(p, tok))), s -> s.tok)"),
          " ").as("__clean"))
    toks(corpus)
      .select(col("doc_id"), size(col("__toks")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("__clean"), lit("")).as("clean_text"))
  }

  /** Blocklist filtering with a Bloom pre-probe — the URL/content-hash
    * scrub a corpus runs against blocklists too large to broadcast as an
    * exact set (abuse-domain lists, previously-served training hashes).
    * Semantics are EXACTLY the plain left-anti join — the Bloom filter
    * only routes: rows whose key definitely isn't in the blocklist (no
    * false negatives by construction) pass through a MAP-ONLY codegen'd
    * probe ([[graft.functions.BloomMightContain]]); only the "maybe" rows
    * (true hits + the fpp share of the corpus) reach the exact anti-join
    * for confirmation. At 100 TB that shrinks the corpus-side shuffle from
    * |corpus| to |blocked| + fpp·|corpus| while the result stays
    * bit-identical to the exact join — the explicit form of Spark's own
    * runtime-filter rewrite, with the filter sized by the caller instead
    * of guessed by the optimizer. Keys are standardized to `xxhash64`
    * longs on both sides; null keys are never blocked (anti-join
    * semantics). `expectedItems`/`fpp` size the filter: bits ≈
    * -n·ln(fpp)/ln²2 (~1.2 GB for 1B items at 1%), broadcast once. */
  def blocklistFilter(corpus: DataFrame, keyCol: String,
                      blocklist: DataFrame, blockKeyCol: String,
                      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val bloom = blocklist.stat.bloomFilter(
      xxhash64(col(blockKeyCol)), expectedItems, fpp)
    graft.functions.BloomFunctions.withMightContain(
      corpus.sparkSession, bloom, xxhash64(col(keyCol))) { might =>
      val clean = corpus.where(!coalesce(might, lit(false)))
      val maybe = corpus.where(coalesce(might, lit(false)))
      val confirmedClean = maybe.join(
        blocklist.select(col(blockKeyCol).as("__bk")).distinct(),
        col(keyCol) === col("__bk"), "left_anti")
      clean.unionByName(confirmedClean)
    }
  }

  /** Text normalization — the canonicalization pass that precedes every
    * dedup/tokenize stage (two docs differing only in case/spacing should
    * hash identically): ASCII-lowercase, collapse whitespace runs to one
    * space, trim. Deliberately locale-free — `lower` on ASCII and the
    * `\s+` class behave identically in any engine, where full Unicode
    * case-folding/NFKC would not (and DuckDB has no NFKC). Map-only
    * codegen'd expressions. */
  def normalize(textCol: Column): Column =
    trim(regexp_replace(lower(textCol), "\\s+", " "))

  /** Pattern redaction — the PII-scrub pass every training-data pipeline
    * runs before release (emails, phone numbers, ids → placeholder
    * tokens). Patterns apply IN ORDER to the text (`regexp_replace`
    * replaces all occurrences); per-pattern match counts are measured on
    * the ORIGINAL text, so they are order-independent and a downstream
    * filter can threshold on "how much PII did this doc contain" without
    * caring how patterns interact. Keep patterns in the RE2-compatible
    * subset (no backrefs/lookaround) so any engine — and the DuckDB
    * oracle — compiles them identically. Pure codegen'd expressions,
    * map-only: at 100 TB this preserves the input partitioning and
    * touches only the text column. */
  def redact(docs: DataFrame, idCol: String, textCol: String,
             patterns: Seq[(String, String)]): DataFrame = {
    require(patterns.nonEmpty, "at least one (pattern, replacement) required")
    val cleaned = patterns.foldLeft(col(textCol)) {
      case (c, (re, repl)) => regexp_replace(c, re, repl)
    }
    val counts = patterns.zipWithIndex.map { case ((re, _), i) =>
      regexp_count(col(textCol), lit(re)).cast("long").as(s"n_redact_$i")
    }
    docs.select(col(idCol) +: cleaned.as("clean_text") +: counts: _*)
  }

  /** md5("<salt>:<id>") — THE cross-engine determinism contract: every
    * hash-derived decision (split, sample, cap, pack order/shard) and its
    * DuckDB oracle mirror build exactly this string. Defined once so a
    * drift in any copy (separator, missing cast) cannot silently break a
    * single operator's engine parity. */
  private[operators] def saltedMd5(idCol: Column, salt: String): Column =
    md5(concat(lit(s"$salt:"), idCol.cast("string")))

  /** [[saltedMd5]] for callers outside the operators package (scale
    * probes mirroring an operator's line order). Same single definition —
    * not a copy. */
  def saltedMd5Public(idCol: Column, salt: String): Column = saltedMd5(idCol, salt)

  /** Deterministic hash-based train/val/test assignment: buckets on the
    * first hex char of md5("<salt>:<id>") — 12/16 train, 2/16 val, 2/16
    * test. A pure string comparison on the md5 hex digest ('0' < … < '9' <
    * 'a' < … < 'f'), so any engine assigns every row identically — the
    * property a split must have for a pipeline to be re-runnable. Map-only;
    * changing `salt` re-rolls the split without touching the data. */
  def hashSplit(idCol: Column, salt: String): Column = {
    val h = substring(saltedMd5(idCol, salt), 1, 1)
    when(h < "c", "train").when(h < "e", "val").otherwise("test")
  }

  /** Deterministic uniform draw in [0,1) per id: the first 8 hex chars of
    * md5("<salt>:<id>") read as a 32-bit integer, scaled by 2^-32. The
    * engine-portable substitute for rand(): any engine computing the same
    * md5 assigns every row the same u, so a mixture-rebalancing pass
    * (`u < rate`) is exactly re-runnable and composes with [[hashSplit]]
    * (different salts → independent draws). Map-only; the standard
    * FineWeb/DoReMi-style corpus-mixing primitive: downsample an
    * over-represented language/domain with `where(hashUniform(id, salt) <
    * targetRate)` — no shuffle, no state, works identically on 5k or 5B
    * docs. */
  def hashUniform(idCol: Column, salt: String): Column =
    conv(substring(saltedMd5(idCol, salt), 1, 8),
      16, 10).cast("long").cast("double") / 4294967296.0

  /** Deterministic per-key cap: keep at most `n` rows per `keyCol`,
    * chosen by hash order (md5 of salted id, id as tie-break) so the kept
    * set is a uniform-without-replacement sample that any engine
    * reproduces bit-for-bit. One window exchange partitioned by key —
    * fine when keys are domains/sources (many keys, bounded per-key
    * counts). For a 100 TB corpus with billion-row hot keys, use
    * [[capPerKeyApprox]] instead — no per-key sort at all. */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String, n: Int,
                salt: String): DataFrame = {
    require(n > 0, "cap must be positive")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(keyCol))
      .orderBy(saltedMd5(col(idCol), salt),
        col(idCol))
    df.withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= n).drop("__rk")
  }

  /** Approximate per-key cap without a per-key sort — the variant a 100 TB
    * corpus with billion-row hot keys needs: [[capPerKey]]'s window
    * serializes each key's rows through ONE task's sort, so a single
    * pathological key (bot user, default value) becomes the job's critical
    * path. Here a row is kept iff `hashUniform(id) < n / count(key)` — one
    * map-side-partial count per key + a broadcast-joined map-only filter;
    * nothing is ever sorted and a hot key costs the same per row as a cold
    * one. Keeps Binomial(count, n/count) rows per key: expected n, CV
    * 1/sqrt(n) (keys with count <= n keep everything exactly). Same
    * determinism contract as every hash decision: the kept SET is a pure
    * function of (id, salt), bit-reproducible in any engine.
    *
    * Null keys are capped like any other key — the count groups them
    * together and the join matches them null-safely — because the hot
    * "null-ish default" key is exactly the pathology this variant exists
    * for. Null IDS are null-safe too (r13): the hash input coalesces to
    * the empty string, so null-id rows in an under-cap key are kept
    * exactly (previously a null hash silently dropped them) and an
    * over-cap key keeps/drops its null-id rows as one correlated draw. Only keys EXCEEDING the cap join back: a key with count <= n
    * keeps every row exactly (`hashUniform < n/count >= 1` is always
    * true), so the join side is pre-filtered to the over-cap keys — at
    * most rows/n of them by pigeonhole, which is why the corpus side
    * stays map-only in practice (AQE broadcasts the filtered set while it
    * fits and degrades to a shuffle join only when rows/n is itself
    * extreme). Measured (BENCH.md §"fr window stack", 250M rows / 3.75M
    * keys): the unfiltered count join shuffled the full corpus a second
    * time and cost MORE than the hot-group sort it removed (154 s vs
    * 110 s at 30% hot); the filtered join carries one row. */
  def capPerKeyApprox(df: DataFrame, keyCol: String, idCol: String, n: Int,
                      salt: String): DataFrame = {
    require(n > 0, "cap must be positive")
    val clash = df.columns.toSet.intersect(Set("__key_k", "__key_n"))
    require(clash.isEmpty,
      s"columns collide with capPerKeyApprox internal names: ${clash.mkString(", ")}")
    val hot = df.groupBy(col(keyCol).as("__key_k"))
      .agg(count(lit(1)).as("__key_n"))
      .where(col("__key_n") > n)
    df.join(hot, col(keyCol) <=> col("__key_k"), "left")
      // Single double division, same operation order as the oracle mirror;
      // absent key (under cap) => keep probability 1 => row kept exactly.
      // The id hash input is null-coalesced (r13): a null id previously
      // made the whole predicate NULL and silently DROPPED the row even in
      // an under-cap key — now null ids draw one shared deterministic
      // value (hash of the bare salt), so under-cap keys keep them exactly
      // and an over-cap key keeps or drops its null-id rows together (a
      // correlated draw — acceptable for the approximate cap, and the only
      // option that stays loud-free AND bit-reproducible; non-null ids
      // hash exactly as before since saltedMd5 casts to string anyway).
      // KNOWN collision (r14, documented deliberately): the coalesce makes
      // a null id hash identically to a literal empty-STRING id, so null-id
      // and ""-id rows in the same over-cap key share one correlated draw.
      // Disambiguating would prefix EVERY id (length-tagging is the only
      // collision-free encoding), changing all non-null draws and every
      // oracle mirror, to fix a corner only reachable when one key holds
      // both null and "" ids — outside the id column's uniqueness contract
      // either way (two ""-id rows already draw together).
      .where(hashUniform(coalesce(col(idCol).cast("string"), lit("")), salt) <
        coalesce(lit(n).cast("double") / col("__key_n"), lit(1.0)))
      .drop("__key_k", "__key_n")
  }

  /** Lexical-diversity signals per document: type-token ratio and the
    * Gini-Simpson index (1 − Σc²/n² — the probability two tokens drawn
    * without replacement differ). Both are standard corpus-quality
    * signals (a diversity near 0 is boilerplate); both are single IEEE
    * operations over exact integer counts, so any engine computes them
    * bit-identically — the property the correctness oracle needs, and the
    * reason this uses Simpson rather than Shannon entropy (log()
    * implementations differ across engines in the last ulp).
    *
    * Shape at scale: explode + two groupBys keyed by doc id; a document's
    * tokens live in one row, so all partial aggregation is map-side and
    * the shuffle carries one row per (doc, distinct token). */
  def diversity(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("__ss"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_tokens")).as("ttr"),
        (lit(1.0) - col("__ss").cast("double") /
          (col("n_tokens") * col("n_tokens")).cast("double")).as("simpson"))

  /** Sequence packing: assign documents to fixed-token-budget training
    * bins. Documents are sharded by hash, ordered within each shard by a
    * salted md5 (so the pack order IS the deterministic global shuffle a
    * training run needs — one pass does both), and binned by
    * floor(exclusive-prefix-token-sum / budget). A bin may exceed the
    * budget by at most one document — the standard streaming-packing
    * tradeoff, taken because exact first-fit packing is a sequential
    * scan that cannot parallelize. Output: one row per (shard, bin) with
    * its document and token counts.
    *
    * Shape at scale: ONE window exchange partitioned by shard — shards
    * bound both the sort and the prefix-sum state, so 100 TB packs as
    * `nShards` independent streams; no global sort exists in the plan. */
  def pack(docs: DataFrame, idCol: String, textCol: String,
           budget: Int, nShards: Int, salt: String): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(nShards > 0, "nShards must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__shard"))
      .orderBy(col("__h"), col("doc_id"))
    docs
      .select(col(idCol).as("doc_id"),
        tokenCount(col(textCol)).cast("long").as("__nt"),
        (conv(substring(saltedMd5(col(idCol), salt), 1, 4), 16, 10)
          .cast("long") % nShards).as("__shard"),
        saltedMd5(col(idCol), salt).as("__h"))
      .withColumn("__prefix", coalesce(
        sum(col("__nt")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__shard").as("shard"),
        expr(s"CAST(__prefix DIV $budget AS BIGINT)").as("bin"),
        col("__nt"))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens"))
  }

  /** Weighted corpus mixing: downsample sources so the kept corpus hits
    * target proportions `weights` WITHOUT upsampling — the largest
    * feasible total is T = min_s(count_s / w_s), giving per-source keep
    * rate w_s·T/count_s (the binding source keeps everything). Rows are
    * kept by [[hashUniform]] draw, so the mixture is exactly re-runnable
    * and composable with [[hashSplit]]. Sources absent from `weights`
    * are dropped (rate 0). The per-source counts are collected to the
    * driver — one row per source, the same bounded shape as k-means
    * centroids; everything else is a map-only filter. */
  def mixWeighted(docs: DataFrame, keyCol: String, idCol: String,
                  weights: Map[String, Double], salt: String): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and positive")
    val counts = docs.where(col(keyCol).isin(weights.keys.toSeq: _*))
      .groupBy(col(keyCol)).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(weights.keySet.subsetOf(counts.keySet),
      s"sources missing from corpus: ${weights.keySet -- counts.keySet}")
    // T and the rates are plain IEEE doubles computed with the same
    // operation order the oracle SQL uses ((w * T) / count), so both
    // engines compare hashUniform against bit-identical thresholds.
    val t = weights.map { case (k, w) => counts(k).toDouble / w }.min
    val rate = weights.toSeq.sortBy(_._1)
      .foldRight(lit(0.0): Column) { case ((k, w), acc) =>
        when(col(keyCol) === k, lit(w * t / counts(k).toDouble)).otherwise(acc)
      }
    docs.where(hashUniform(col(idCol), salt) < rate)
  }

  /** Token-window chunking with overlap — the standard training-data prep
    * step that splits long documents into model-context-sized pieces.
    * Chunk i covers tokens [i·stride, i·stride + chunkSize) with stride =
    * chunkSize − overlap; the last chunk is short (never dropped), and a
    * doc shorter than chunkSize yields exactly one chunk. Output: one row
    * per chunk (doc_id, chunk_idx, chunk). Pure array expressions per
    * document row — chunk generation never shuffles; at 100 TB this is a
    * map-only stage that preserves the input partitioning. */
  def chunks(docs: DataFrame, idCol: String, textCol: String,
             chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "overlap must be < chunkSize")
    val stride = chunkSize - overlap
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
      .withColumn("__nc", greatest(lit(1),
        expr(s"CAST((size(__toks) - $overlap + $stride - 1) DIV $stride AS INT)")))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, __nc - 1), " +
        s"i -> array_join(slice(__toks, i * $stride + 1, $chunkSize), ' '))"))
        .as(Seq("chunk_idx", "chunk")))
  }

  /** Count-min-sketch heavy-hitter accuracy gate: builds a token-frequency
    * CMS with Spark's built-in `count_min_sketch` aggregate (mergeable
    * counter arrays — the fixed-memory single-pass 100 TB path for
    * frequency estimation over unbounded vocabularies, vs [[ngramTopK]]'s
    * exact hash agg), then checks the sketch's two guarantees against the
    * exact top-`topK` token counts: estimates never underestimate, and
    * over-estimation stays within eps·N. The sketch (~depth×2/eps counters,
    * ~100 KB here) and the k exact rows are the only driver-side data —
    * final result shaping, same footing as k-means centroids. Fixed seed +
    * order-independent counter merges make the gate deterministic. */
  def cmsHeavyHitterGate(docs: DataFrame, textCol: String, eps: Double,
                         confidence: Double, seed: Int, topK: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = graft.util.Caches.retain(
      docs.select(explode(split(col(textCol), "\\s+")).as("tok"))
        .where(length(col("tok")) > 0))
    val bytes = toks
      .agg(expr(s"count_min_sketch(tok, ${eps}d, ${confidence}d, $seed)"))
      .collect()(0).getAs[Array[Byte]](0)
    val sketch = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))
    val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok")).limit(topK).collect()
    val bound = math.ceil(eps * sketch.totalCount()).toLong
    val ok = exact.forall { r =>
      val est = sketch.estimateCount(r.getString(0))
      est >= r.getLong(1) && est - r.getLong(1) <= bound
    }
    Seq(if (ok) 1L else 0L).toDF("passed")
  }
}
