package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.operators.Ann

/** Pins the r20 bounded k-means partial merge (VERDICT r19 #2): the grouped
  * two-level merge the 100 TB regime takes must produce exactly what the
  * flat pid-order merge (the battery regime, bit-identical to r19) produces
  * on exactly representable sums, and the same up to rounding otherwise;
  * ivfAssign must keep the pre-r19 null-vector tolerance (r19 ADVICE). */
class AnnMergeSpec extends SparkSpec {

  test("mergeStatPartials: grouped two-level merge equals the flat pid-order merge") {
    val sumLen = 6
    val cntLen = 2
    // Integer-valued doubles: addition is exact below 2^53, so any merge
    // tree must land on identical bits — exact equality, not approximate.
    val partials = spark.sparkContext.parallelize(0 until 37, 37).map { pid =>
      (pid,
        Array.tabulate(sumLen)(j => ((pid * 31 + j * 7) % 13).toDouble),
        Array.tabulate(cntLen)(j => (pid + j).toLong))
    }
    val (fs, fc) = Ann.mergeStatPartials(partials, sumLen, cntLen)
    // A budget of 4 partials forces the grouped (scale-regime) path:
    // 37 partitions > 4 = maxDriverBytes / partialBytes.
    val tinyBudget = (sumLen + cntLen) * 8L * 4
    val (gs, gc) = Ann.mergeStatPartials(partials, sumLen, cntLen,
      maxDriverBytes = tinyBudget)
    assert(gs.toSeq == fs.toSeq, "grouped sums differ from flat merge")
    assert(gc.toSeq == fc.toSeq, "grouped counts differ from flat merge")
    // Determinism: re-running the grouped path yields the same bits.
    val (gs2, gc2) = Ann.mergeStatPartials(partials, sumLen, cntLen,
      maxDriverBytes = tinyBudget)
    assert(gs2.toSeq == gs.toSeq && gc2.toSeq == gc.toSeq)
  }

  test("mergeStatPartials: non-integer sums agree across regimes up to rounding") {
    val sumLen = 5
    val cntLen = 2
    // Non-integer doubles of mixed magnitude: the two regimes add in
    // different trees, so bits may differ; values must still agree closely.
    val partials = spark.sparkContext.parallelize(0 until 41, 41).map { pid =>
      (pid,
        Array.tabulate(sumLen)(j => math.sin(pid * 1.7 + j) * math.pow(10, j % 4) + 0.1),
        Array.tabulate(cntLen)(j => (pid * 3 + j).toLong))
    }
    val (fs, fc) = Ann.mergeStatPartials(partials, sumLen, cntLen)
    val tinyBudget = (sumLen + cntLen) * 8L * 5
    val (gs, gc) = Ann.mergeStatPartials(partials, sumLen, cntLen,
      maxDriverBytes = tinyBudget)
    assert(gc.toSeq == fc.toSeq, "counts are integers and must match exactly")
    val scale = partials.map(_._2.map(math.abs)).collect()
      .reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    fs.indices.foreach { j =>
      assert(math.abs(gs(j) - fs(j)) <= 1e-12 * math.max(1.0, scale(j)),
        s"sum $j: grouped ${gs(j)} vs flat ${fs(j)}")
    }
    // Each regime is still deterministic on its own.
    val (gs2, _) = Ann.mergeStatPartials(partials, sumLen, cntLen,
      maxDriverBytes = tinyBudget)
    assert(gs2.toSeq == gs.toSeq)
  }

  test("mergeStatPartials: grouped path with more groups than occupied partitions") {
    // Empty partitions must contribute nothing and not crash the group fold.
    val partials = spark.sparkContext.parallelize(Seq(
      (0, Array(1.0, 2.0), Array(1L)),
      (5, Array(10.0, 20.0), Array(2L))), 8)
    val (s, c) = Ann.mergeStatPartials(partials, 2, 1, maxDriverBytes = 3 * 8L)
    assert(s.toSeq == Seq(11.0, 22.0))
    assert(c.toSeq == Seq(3L))
  }

  test("ivfAssign: corpus smaller than nCells trains short centroids, no crash") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(FloatType))))
    val tiny = frame(schema, (0L until 3L).map(i =>
      Map[String, Any]("id" -> i, "v" -> Seq.tabulate(4)(j => (i * 2 + j).toFloat))))
    val (assigned, cents) = Ann.ivfAssign(tiny, "id", "v", dim = 4, nCells = 8, iters = 2)
    assert(cents.length == 3, s"expected 3 centroids, got ${cents.length}")
    // every row lands in a valid cell of the short centroid table
    val cells = assigned.select("cell").collect().map(_.getInt(0)).toSet
    assert(cells.forall(c => c >= 0 && c < 3), cells)
    graft.util.Caches.drain()
  }

  test("ivfAssign: null vectors are skipped, not NPE'd (r19 ADVICE)") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(FloatType), nullable = true)))
    def vec(seed: Long): Seq[Float] =
      Seq.tabulate(4)(j => ((seed * 7 + j * 3) % 11).toFloat)
    val clean = frame(schema,
      (0L until 10L).map(i => Map[String, Any]("id" -> i, "v" -> vec(i))))
    // Null lands AFTER the lowest-id init rows (init collect never sees it,
    // same as pre-r19); the Lloyd stats pass must skip it silently.
    val withNull = frame(schema,
      (0L until 10L).map(i => Map[String, Any]("id" -> i, "v" -> vec(i))) :+
        Map[String, Any]("id" -> 10L, "v" -> null))
    val (_, cCents) = Ann.ivfAssign(clean, "id", "v", dim = 4, nCells = 2, iters = 2)
    val (_, nCents) = Ann.ivfAssign(withNull, "id", "v", dim = 4, nCells = 2, iters = 2)
    assert(nCents.map(_.toSeq).toSeq == cCents.map(_.toSeq).toSeq,
      "a null vector changed the trained centroids")
    graft.util.Caches.drain()
  }
}
