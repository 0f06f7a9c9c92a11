package graft

import org.apache.spark.sql.functions._

/**
 * Scale probe for the size-targeted exporter (sources.DatasetExporter):
 * at battery scale (50k docs) the writer's claims are asserted loosely;
 * this probe measures them at 2M heterogeneous docs — how close the
 * pilot's compressed bytes/row estimate lands, how tightly file sizes
 * concentrate around the target under md5-hash distribution (the
 * skew-immunity claim), and what the export costs relative to a naive
 * `df.write` (one file per shuffle partition, whatever size falls out).
 *
 * The corpus is deliberately non-uniform: text length varies 30× across
 * docs AND drifts systematically with doc id (low ids short, high ids
 * long), the pattern that breaks naive "sample the first N rows"
 * estimators and order-based partitioning — the content-random pilot and
 * hash distribution must both shrug it off.
 */
object ExportScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val n = p.args.headOption.map(_.toLong).getOrElse(2000000L)
    val target = 32L * 1024L * 1024L // 32 MB files
    val base = p.path("graft_export_scale")

    // Length drifts with id (30..900 words) and varies per doc.
    val corpus = graft.util.Caches.retain(spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", (0 until 30).map(j =>
        when(lit(j) < (col("id") * 30L / n) + pmod(col("id") * 2654435761L, lit(10)) + lit(1),
          concat(lit(s"w$j"), pmod(col("id") * lit(48271L + j), lit(5000))))): _*)
        .as("text")))
    corpus.count()

    val out = s"$base/corpus"
    val (st, ex) = p.measure {
      graft.sources.DatasetExporter.export(corpus, "doc_id", out, target, "es")
    }
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetSizes(dir: String): Seq[Long] =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sorted.toSeq
    val sizes = parquetSizes(out)
    require(spark.read.parquet(out).count() == n, "round trip lost rows")
    p.emit("export", ex, "n" -> n, "files" -> st.files, "target_mb" -> target / 1e6,
      "median_mb" -> sizes(sizes.length / 2) / 1e6, "min_mb" -> sizes.head / 1e6,
      "max_mb" -> sizes.last / 1e6, "pilot_bpr" -> st.pilotBytesPerRow,
      "actual_bpr" -> sizes.map(_.toDouble).sum / n)

    val (_, naive) = p.measure {
      corpus.write.mode("overwrite").parquet(s"$base/naive")
    }
    val nfs = parquetSizes(s"$base/naive")
    graft.util.Caches.drain()
    p.emit("naive", naive, "n" -> n, "files" -> nfs.length,
      "max_mb" -> nfs.last / 1e6, "min_mb" -> nfs.head / 1e6)
    // Compaction leg: fragment the corpus into ~2000 tiny files (one per
    // 100 docs below 200k docs; the streaming-sink / incremental-append
    // failure mode), then re-bin with the shuffle-free compactor vs the
    // full-shuffle exporter, and measure what fragmentation costs a scan
    // before/after.
    val frag = s"$base/frag"
    corpus.repartition(math.min(2000L, math.max(1L, n / 100)).toInt, col("doc_id"))
      .write.mode("overwrite").parquet(frag)
    def scan(label: String, path: String): Unit = {
      def once = p.measure {
        spark.read.parquet(path).agg(count(lit(1)), sum(length(col("text")))).head()
      }
      // True min-of-2 over warmed runs: a GC pause in either run no
      // longer lands in the reported number.
      once
      p.emit(label, graft.result.JobStats.minOf2(once)._2, "n" -> n)
    }
    scan("scan_frag", frag)
    val (cst, cm) = p.measure {
      graft.sources.DatasetExporter.compact(spark, frag, s"$base/compacted", target)
    }
    require(cm.shuffleBytesWritten == 0L, "compaction shuffled")
    require(spark.read.parquet(s"$base/compacted").count() == n,
      "compaction lost rows")
    p.emit("compact", cm, "files_before" -> cst.filesBefore, "files_after" -> cst.filesAfter,
      "mb_before" -> cst.bytesBefore / 1e6, "mb_after" -> cst.bytesAfter / 1e6)
    val (_, em) = p.measure {
      graft.sources.DatasetExporter.export(
        spark.read.parquet(frag), "doc_id", s"$base/reexported", target, "es2")
    }
    p.emit("reexport", em, "n" -> n)
    scan("scan_compacted", s"$base/compacted")
    p.delete(base)
  }
}
