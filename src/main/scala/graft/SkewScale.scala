package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Hot-key skew probe for the window-partitioned operators — the one scale
 * hazard class the uniform-keyed probes (JoinScale's ~200 events/key) never
 * exercise: `AsOfJoin`, `Sessionize.groupSummary`, and `capPerKey` all
 * partition by key, so a single pathological key (bot user, null-ish
 * default) serializes that key's rows into ONE task's sort. The reference
 * never meets this case (its physical invariant caps a group at one file),
 * but a 100 TB corpus will.
 *
 * The probe builds two corpora of identical size: `uniform` (~200 rows per
 * key) and `skewed` (ONE key holding half of all rows, the rest uniform),
 * then times each operator on both, plus its mitigation where one exists:
 *  - as-of: plain mode vs `timeBucket` mode (per-(key, hour) windows + the
 *    carry join — see AsOfJoin's class doc);
 *  - per-key cap: exact window `capPerKey` vs the no-sort
 *    `capPerKeyApprox`;
 *  - sessionize: measured only — session islands are inherently sequential
 *    per key, so the honest answer is a documented bound (BENCH.md).
 *
 * Matched/kept counts are printed so a mitigation can't silently change
 * semantics. Results recorded in BENCH.md §SkewScale.
 *
 * Args: row count (default 10M).
 */
object SkewScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val n = if (p.args.nonEmpty) p.args(0).toLong else 10000000L

    val nKeys = math.max(1L, n / 200)
    val span = 86400L * 1000000L // one day of microseconds
    val hour = 3600L * 1000000L
    // Deterministic streams (xxhash64, no Random/now). In the skewed
    // variant the first half of the ids all land on key 0 — one key with
    // n/2 rows, the classic bot-user shape.
    def stream(salt: Int, skewed: Boolean, idName: String, tName: String): DataFrame = {
      val base = spark.range(n).select(
        pmod(xxhash64(col("id"), lit(salt)), lit(nKeys)).as("__k0"),
        pmod(xxhash64(col("id"), lit(salt + 7)), lit(span)).as(tName),
        col("id").as(idName))
      base.select(
        (if (skewed) when(col(idName) % 2 === 0, 0L).otherwise(col("__k0"))
         else col("__k0")).as("k"),
        col(tName), col(idName))
    }

    for (skewed <- Seq(false, true)) {
      val label = if (skewed) "skewed" else "uniform"
      val left = stream(1, skewed, "lid", "lt")
      val right = stream(2, skewed, "rid", "rt")
      // --- as-of backward: plain window vs timeBucket skew mode. On the
      // skewed corpus, also sweep the width DOWN to find the carry-join
      // crossover: at width span/100 a uniform key's ~200 rows spread over
      // ~100 buckets (carry table ≈ rows/2 — one row per populated
      // (key,bucket)); at span/1000 nearly every row is alone in its bucket
      // (carry table ≈ row count, the carry join degenerates to a second
      // full-size shuffle join). Recorded in BENCH.md §SkewScale; the
      // measured guidance lives in AsOfJoin's width-selection scaladoc. ---
      val widths = Seq("plain" -> None, "bucketed" -> Some(hour)) ++
        (if (skewed) Seq(
          "bucketed_w864s" -> Some(span / 100),
          "bucketed_w86s"  -> Some(span / 1000))
         else Nil)
      for ((mode, bucket) <- widths) {
        val (matched, stats) = p.measure {
          operators.AsOfJoin
            .backward(left, right, Seq("k"), "lt", "rt", rightVals = Seq("rt"),
              tieBreak = Seq("rid"), timeBucket = bucket)
            .agg(count(col("asof_rt"))).collect()(0).getLong(0)
        }
        p.emit("asof", stats, "dist" -> label, "mode" -> mode, "rows" -> n,
          "matched" -> matched)
      }
      // --- per-key cap at 1000: exact window vs no-sort approximate ---
      val docs = left.toDF("k", "t", "doc_id")
      for ((mode, capped) <- Seq(
          "exact" -> operators.TextAnalysis.capPerKey(docs, "k", "doc_id", 1000, "skew"),
          "approx" -> operators.TextAnalysis.capPerKeyApprox(docs, "k", "doc_id", 1000, "skew"))) {
        val (kept, stats) = p.measure(capped.count())
        p.emit("cap", stats, "dist" -> label, "mode" -> mode, "rows" -> n, "kept" -> kept)
      }
      // --- per-key top-1000: plain window vs salted two-phase ---
      val ord = Seq(desc("t"), asc("doc_id"))
      val plainW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("k")).orderBy(ord: _*)
      for ((mode, ranked) <- Seq(
          "plain" -> docs.withColumn("__rk", row_number().over(plainW))
            .where(col("__rk") <= 1000).drop("__rk"),
          "salted" -> operators.Skew.topNPerKey(
            docs, "k", "doc_id", ord, n = 1000, salts = 64))) {
        val (kept, stats) = p.measure(ranked.count())
        p.emit("topn", stats, "dist" -> label, "mode" -> mode, "rows" -> n, "kept" -> kept)
      }
      // --- sessionize (30-min gap): measured bound, no mitigation ---
      val (sessions, stats) = p.measure {
        operators.Sessionize
          .groupSummary(left.select(col("k"), col("lt")), "k", "lt",
            maxGap = 30L * 60L * 1000000L)
          .count()
      }
      p.emit("sessions", stats, "dist" -> label, "rows" -> n, "groups" -> sessions)
    }
  }
}
