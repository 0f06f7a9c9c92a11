package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * End-to-end composition probe: the components of the training-data
 * pipeline are each measured in isolation (DedupScale, SelectionScale,
 * ShardScale, ExportScale) — this probe composes the REAL flow once at
 * corpus scale and times each stage in sequence, confirming that nothing
 * surprises at composition: no stage's driver state grows with the
 * corpus, no shuffle carries more than its own stage's documented volume,
 * and the stage outputs feed each other through materialized parquet the
 * way a production pipeline checkpoints between phases.
 *
 *   generate (untimed) → clean → strip boilerplate → MinHash/LSH dedup
 *                      → DSIR select → pack stats → size-targeted export
 *
 * Two distinct dedup-quality pathologies, each with its own fix — the
 * r11 matrix separated them (BENCH.md §PipelineScale):
 *  - BACKGROUND-COLLISION collapse: at fixed banding, the number of
 *    moderately-similar pairs a doc meets grows with n, so narrow bands
 *    glue unrelated docs at scale regardless of boilerplate (measured:
 *    (8,4) at 10M keeps 59% with OR without strip — the r10 attribution
 *    of this to the ' zz9' suffix was wrong). Fix: size bands with
 *    `Dedup.suggestBanding(n, 0.97)` ((8,4) at 5k, (16,8) at 10M —
 *    and its plateau held at 50M: 80.41% keep, r12).
 *  - BOILERPLATE RECALL LOSS: when shared chrome is a large share of
 *    each doc's shingle set (--heavyboiler: a 30-token footer on
 *    40-token docs, on every EVEN id), copies that differ only in
 *    chrome drop from J ≈ 0.97 to ≈ 0.55 and fall out of ANY banding
 *    tuned for near-dups — measured at 2M docs: keep rate 86.3% vs the
 *    planted 80.5%, i.e. ~6% of the corpus shipped as undetected
 *    duplicates (the OPPOSITE sign of the collision collapse; the
 *    gluing direction is largely absorbed by lshCandidates' degenerate-
 *    bucket cap, doing exactly its documented job). Fix:
 *    `stripBoilerplate` before shingling (the CCNet / RefinedWeb
 *    stage, 1%-of-corpus df threshold) — restores the planted rate
 *    exactly, and costs less than the recall it buys (strip+dedup 68 s
 *    vs 74 s dedup alone on the chrome corpus).
 * Flags: `--nostrip` skips the strip stage; `--narrow` forces the
 * battery's (8,4) at any size; `--bands=K,R` pins an arbitrary banding
 * (r12: used to test whether the advisor's (27,9) step past ~66M docs
 * is necessary, by running the pre-step (16,8) beyond it);
 * `--heavyboiler` plants the dominating footer.
 *
 * Corpus shape is DedupScale's cluster structure (40 tokens per doc, ~20%
 * of docs in 3-doc exact/near-dup clusters) plus ~3% two-token junk docs
 * for the clean stage to drop — but over a 262k-word vocabulary rather
 * than DedupScale's 1024: at 10M docs a 1024-word pool concentrates the
 * corpus-wide minhash distribution on the few smallest-hashed shingles,
 * and LSH bands glue unrelated docs into giant components (measured:
 * keep rate collapsed to 27%). Real text has this shingle diversity;
 * the wider pool restores it (keep rate ≈ the planted 80%+junk).
 * Hash family is xxhash64 (`--md5` reverts) — the 100 TB configuration;
 * the md5 family stays on every oracle-gated battery row.
 *
 * Args: doc counts (default 10000000).
 */
object PipelineScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    // Unknown flags fail loudly (r13, DedupScale's fix): a typo would
    // silently run the default configuration under the intended label.
    val flags = p.flags("--md5", "--nostrip", "--narrow", "--heavyboiler", "--bands=")
    val fastHash = !flags.contains("--md5")
    val doStrip = !flags.contains("--nostrip")
    val narrowBands = flags.contains("--narrow")
    val heavyBoiler = flags.contains("--heavyboiler")
    val sizes = p.sizes(10000000L)
    import graft.result.JobStats

    val pinnedBands = flags.collectFirst {
      case a if a.startsWith("--bands=") =>
        val Array(k, r) = a.stripPrefix("--bands=").split(",").map(_.trim.toInt)
        (k, r)
    }

    sizes.foreach { n =>
      val (bandK, bandRows) = pinnedBands.getOrElse(
        if (narrowBands) (8, 4) else operators.Dedup.suggestBanding(n, 0.97))
      val root = p.path(s"graft_pipescale/$n")
      // ---- generate (untimed): 40-token docs; ids %10 in (1,2) duplicate
      // /near-duplicate their decade head; ids %37 == 3 are 2-token junk.
      // --heavyboiler additionally appends a fixed 30-token footer to every
      // even doc id — the CCNet pathology where site chrome is a large
      // share of each doc's shingles, so copies differing only in chrome
      // (head even + copy odd) sink to J ≈ 0.55 and escape dedup; the
      // regime stripBoilerplate exists for. The light ' zz9' suffix (one
      // token of 40) measurably drives nothing (r11 matrix).
      val footer = (1 to 30).map(i => s"boiler$i").mkString(" ", " ", "")
      spark.range(n)
        .select(col("id").as("doc_id"), expr(
          "CASE WHEN id % 10 IN (1, 2) THEN id - id % 10 ELSE id END").as("__seed"),
          expr("CASE WHEN id % 10 = 2 THEN ' zz9' ELSE '' END" +
            (if (heavyBoiler) s" || CASE WHEN id % 2 = 0 THEN '$footer' ELSE '' END"
             else "")).as("__suffix"),
          expr("CAST(CASE WHEN id % 37 = 3 THEN 2 ELSE 40 END AS INT)").as("__len"))
        .select(col("doc_id"), expr(
          "concat(concat_ws(' ', transform(sequence(1, __len), " +
          "p -> concat('w', pmod(hash(__seed, p), 262144)))), __suffix)").as("text"))
        .repartition(p.cpus * 2)
        .write.mode("overwrite").parquet(s"$root/raw")
      val raw = spark.read.parquet(s"$root/raw")

      // Each stage carries its own INPUT row count (rather than re-deriving
      // it by name at report time — a name-match there would MatchError
      // after the full run if a stage is added without updating it).
      def stage(name: String, inRows: Long, outRows: => Long): (String, Long, Long, JobStats.Snapshot) = {
        val (rows, snap) = p.measure(outRows)
        (name, inRows, rows, snap)
      }
      def writeOut(df: DataFrame, path: String): Long = {
        df.write.mode("overwrite").parquet(path)
        spark.read.parquet(path).count()
      }

      // ---- 1. clean: language-shaped length/quality gate (map-only).
      val clean = stage("clean", n, writeOut(
        raw.where(operators.TextAnalysis.tokenCount(col("text")) >= 5),
        s"$root/clean"))
      val cleanDf = spark.read.parquet(s"$root/clean")

      // ---- 1.5. strip boilerplate (the CCNet/RefinedWeb pre-dedup
      // stage): any unit in >= 1% of the corpus is chrome, not content —
      // removes the ' zz9' suffix (1M docs) and the --heavyboiler footer
      // (5M docs) while every real vocab word (df ≈ 0.015%) survives.
      // This is the fix for boilerplate-DOMINATED similarity (the footer
      // corpus); it measurably does not rescue narrow bands from
      // background collisions (class doc).
      // stripBoilerplateFast: the 1% threshold bounds the broadcast set at
      // 100 × avgUnitsPerDoc entries no matter the corpus size, so the
      // rebuild is map-side (the unit path measured 281 s / 28 GB shuffle
      // here at 10M docs).
      val stripStage =
        if (!doStrip) None
        else Some(stage("strip_boilerplate", clean._3, writeOut(
          operators.Dedup.stripBoilerplateFast(cleanDf, "doc_id", "text",
              minDf = math.max(2L, clean._3 / 100), sep = " ")
            .select(col("doc_id"), col("clean_text").as("text")),
          s"$root/stripped")))
      val dedupIn = if (doStrip) spark.read.parquet(s"$root/stripped") else cleanDf
      val dedupInRows = stripStage.map(_._3).getOrElse(clean._3)

      // ---- 2. MinHash/LSH dedup, keep cluster canonicals, at the
      // banding the ADVISOR sizes for this corpus (--narrow pins the
      // battery's (8,4) to reproduce the r10 collapse).
      val dedup = stage("dedup_minhash", dedupInRows, {
        val sig = operators.Dedup.minHashSignature(
          operators.Dedup.charShingles(dedupIn, "doc_id", "text", 5),
          k = bandK, fastHash = fastHash)
        val pairs = operators.Dedup.lshCandidates(
          operators.Dedup.lshBuckets(sig, k = bandK, rowsPerBand = bandRows,
            fastHash = fastHash))
        writeOut(operators.Dedup.keepCanonical(dedupIn, "doc_id", pairs),
          s"$root/kept")
      })
      val keptDf = spark.read.parquet(s"$root/kept")

      // ---- 3. DSIR importance selection: train on the trusted slice
      // (every 17th kept doc), score everything, keep the positive-weight
      // half via the map-only threshold form (the beyond-driver-k path).
      val select = stage("dsir_select", dedup._3, {
        val fix = s"$root/dsir_model"
        operators.Dsir.trainLogRatios(
          keptDf.where(pmod(col("doc_id"), lit(17)) === 0), keptDf,
          "doc_id", "text", 10000, "ps", fastHash)
          .coalesce(1).write.mode("overwrite").parquet(fix)
        val scored = operators.Dsir.score(keptDf,
          spark.read.parquet(fix), "doc_id", "text", 10000, "ps", fastHash)
        writeOut(keptDf.join(
          scored.where(col("logw_micro") > 0L).select("doc_id"),
          Seq("doc_id"), "left_semi"), s"$root/selected")
      })
      val selectedDf = spark.read.parquet(s"$root/selected")

      // ---- 4. pack: token-budget bin statistics per shard (the layout
      // plan a sequence-packing writer consumes).
      val pack = stage("pack", select._3, writeOut(
        operators.TextAnalysis.pack(selectedDf, "doc_id", "text",
          budget = 2048, nShards = 64, salt = "ps"), s"$root/pack"))

      // ---- 5. export: size-targeted parquet layout (64 MiB files).
      var exportStats: sources.DatasetExporter.ExportStats = null
      val export = stage("export", select._3, {
        exportStats = sources.DatasetExporter.export(selectedDf, "doc_id",
          s"$root/export", targetFileBytes = 64L * 1024 * 1024)
        exportStats.rows
      })

      def report(stage: (String, Long, Long, JobStats.Snapshot), extra: (String, Any)*): Unit = {
        val (name, inRows, rows, snap) = stage
        p.emit(name, snap, Seq("docs" -> n, "hash" -> (if (fastHash) "xxhash64" else "md5"),
          "strip" -> doStrip, "heavy_boiler" -> heavyBoiler,
          "bands" -> s"k=$bandK/rows=$bandRows", "rows_out" -> rows,
          "rows_per_s_core" -> inRows / math.max(snap.coreSecs, 0.001)) ++ extra: _*)
      }
      (Seq(clean) ++ stripStage.toSeq ++ Seq(dedup, select, pack)).foreach(report(_))
      report(export, "files" -> exportStats.files, "mb" -> exportStats.bytes / 1048576.0)
    }
  }
}
