package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.result.JobStats
import graft.sources.ZOrder

/**
 * Z-order layout probe at real scan sizes — does multi-dimensional
 * clustering actually buy wall-time on selective scans, and what does the
 * layout write cost over a plain one?
 *
 * Corpus: n rows (default 20M), two independent hash-uniform dims in
 * [0, 2^20), plus a ~64-byte payload so scan cost is real. Three layouts
 * at the same file count:
 *  - `hash`  — hash-repartitioned (no clustering; the control),
 *  - `byx`   — range-sorted by x alone (the single-column best case),
 *  - `z`     — ZOrder.zorderWrite on (x, y).
 *
 * Scans (each repeated, min-of-2, results cross-checked identical across
 * layouts): a 1% box on x alone, a 1% box on y alone, and a 10% x 10%
 * 2-D box. Row-group stats pushdown does the pruning — the probe measures
 * end-to-end wall, not candidate-file arithmetic (LayoutSpec pins that).
 * Expected shape: byx wins x-only and loses y-only entirely (full scan);
 * z is strong on BOTH axes and dominates the 2-D box vs the control.
 * Results recorded in BENCH.md §LayoutScale.
 *
 * Args: row count (default 20M).
 */
object LayoutScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val n = if (p.args.nonEmpty) p.args(0).toLong else 20000000L

    val dimSpan = 1L << 20
    val corpus = spark.range(n).toDF("id")
      .withColumn("x", pmod(xxhash64(col("id"), lit("zx")), lit(dimSpan)))
      .withColumn("y", pmod(xxhash64(col("id"), lit("zy")), lit(dimSpan)))
      .withColumn("payload", md5(concat(col("id"), lit("p"))))
      .withColumn("payload", concat(col("payload"), col("payload")))

    val base = Files.createTempDirectory(Paths.get(p.path("")), "graft_layoutscale").toString
    val nFiles = 64

    val writes: Seq[(String, () => Unit)] = Seq(
      "hash" -> (() => corpus.repartition(nFiles, col("id"))
        .write.mode("overwrite").parquet(s"$base/hash")),
      "byx" -> (() => corpus.repartitionByRange(nFiles, col("x")).sortWithinPartitions("x")
        .write.mode("overwrite").parquet(s"$base/byx")),
      "z" -> (() => ZOrder.zorderWrite(corpus, Seq("x", "y"), bits = 16,
        path = s"$base/z", nFiles = nFiles)))
    for ((layout, write) <- writes)
      p.emit("write", p.measure(write())._2, "n" -> n, "layout" -> layout)

    val layouts = writes.map { case (l, _) => l -> spark.read.parquet(s"$base/$l") }

    // Warm page cache + JIT on every layout BEFORE measuring: the first
    // full-scan aggregates of a session read 5x slower than steady state
    // (C2 hasn't compiled the codegen'd loops yet), which would otherwise
    // credit whatever layout happens to run last.
    for ((_, df) <- layouts; _ <- 1 to 2)
      df.agg(count(lit(1)), sum(col("x") + col("y")),
             sum(length(col("payload")))).head()
    // Mid-range boxes, deliberately NOT at the origin: a box at 0 aligns
    // with a Morton-curve corner and flatters the z layout.
    val pct1 = dimSpan / 100
    val pct10 = dimSpan / 10
    val lo = (dimSpan * 41) / 100
    val boxes = Seq(
      ("x-only 1%",  col("x") >= lo && col("x") < lo + pct1),
      ("y-only 1%",  col("y") >= lo && col("y") < lo + pct1),
      ("2d 10%x10%", col("x") >= lo && col("x") < lo + pct10 &&
                     col("y") >= lo && col("y") < lo + pct10))

    for ((bName, pred) <- boxes) {
      val results = for ((lName, df) <- layouts) yield {
        val (row, stats) = JobStats.minOf2(p.measure {
          df.where(pred)
            .agg(count(lit(1)), sum(col("x") + col("y")),
                 sum(length(col("payload")))).head()
        })
        p.emit("scan", stats, "n" -> n, "box" -> bName, "layout" -> lName)
        (lName, row.toSeq)
      }
      val distinct = results.map(_._2).distinct
      require(distinct.size == 1,
        s"layouts disagree on '$bName': $results")
    }
    // ~3 corpus-sized layouts under the data root — delete or repeated
    // probe runs fill the disk (30 GB per run at the 100M-row setting).
    p.delete(base)
  }
}
