package graft

import org.apache.spark.sql.functions._

/**
 * Scale probe for the temporal join operators (operators.AsOfJoin,
 * operators.RangeJoin), sibling of [[Throughput]]/[[ComponentsScale]]: the
 * sf0.1 battery runs them on 100k events — too small to see the shuffle
 * and sort costs that dominate at real size. This probe synthesizes keyed
 * event streams with xxhash64-derived timestamps (deterministic, no
 * Date/Random) and reports wall time and matched-row counts per size.
 *
 * Pass criteria recorded in BENCH.md: as-of wall grows ~linearly with
 * rows (the plan is one Exchange + per-direction in-partition sorts — no
 * candidate blow-up), and range-join wall tracks the candidate count
 * (points + interval-replicas), never rows².
 *
 * Args: row counts for the left/point side (default 5M, 20M); the right/
 * interval side is the same size for as-of and 1/10th for range.
 */
object JoinScale extends Probe.Body {
  def run(p: Probe.Run): Unit = {
    val spark = p.spark
    val sizes =
      if (p.args.nonEmpty) p.args.map(_.toLong)
      else Seq(5000000L, 20000000L)

    sizes.foreach { n =>
      val nKeys = math.max(1L, n / 200) // ~200 events per key
      val span = 86400L * 1000000L     // one day of microseconds
      def stream(salt: Int, rows: Long, idName: String, tName: String) =
        spark.range(rows).select(
          pmod(xxhash64(col("id"), lit(salt)), lit(nKeys)).as("k"),
          pmod(xxhash64(col("id"), lit(salt + 7)), lit(span)).as(tName),
          col("id").as(idName))

      // --- as-of: n left rows pick up the latest prior right of n rows ---
      val left = stream(1, n, "lid", "lt")
      val right = stream(2, n, "rid", "rt")
      val (asofMatched, asof) = p.measure {
        operators.AsOfJoin
          .backward(left, right, Seq("k"), "lt", "rt", rightVals = Seq("rt"),
            tieBreak = Seq("rid"))
          .agg(count(col("asof_rt"))).collect()(0).getLong(0)
      }
      p.emit("asof", asof, "rows" -> n, "matched" -> asofMatched,
        "rows_per_sec_per_core" -> 2 * n * 1000.0 / asof.wallTimeMs / p.cpus)

      // --- range: n points against n/10 one-hour windows, 1h buckets ---
      val hour = 3600L * 1000000L
      val points = stream(3, n, "pid", "p")
      val intervals = stream(4, n / 10, "iid", "lo")
        .withColumn("hi", col("lo") + hour)
      val (pairs, range) = p.measure {
        operators.RangeJoin
          .join(points, intervals, Seq("k"), "p", "lo", "hi", bucketWidth = hour)
          .count()
      }
      p.emit("range", range, "points" -> n, "intervals" -> n / 10, "pairs" -> pairs)
    }
  }
}
