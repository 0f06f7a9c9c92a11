package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VectorFunctions
import graft.operators.{Ann, Dedup, TextAnalysis}

/** Unit coverage for the training-data pipeline operators. */
class OperatorsSpec extends SparkSpec {

  private lazy val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def docs(rows: (Long, String)*) =
    frame(docSchema, rows.map { case (i, t) => Map[String, Any]("doc_id" -> i, "text" -> t) })

  test("vec_dot / vec_norm match the interpreted HOF computation") {
    VectorFunctions.register(spark)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(FloatType)),
      StructField("w", ArrayType(FloatType))))
    val df = frame(schema, Seq(
      Map("id" -> 1L, "v" -> Seq(1.0f, 2.0f, -3.5f), "w" -> Seq(0.5f, -1.0f, 2.0f)),
      Map("id" -> 2L, "v" -> Seq(0.0f, 0.0f, 0.0f), "w" -> Seq(1.0f, 1.0f, 1.0f)),
      Map("id" -> 3L, "v" -> null, "w" -> Seq(1.0f, 1.0f, 1.0f))))
    val got = df.select(col("id"), expr("vec_dot(v, w)").as("d"), expr("vec_norm(v)").as("n"))
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    val hof = df.select(col("id"),
      expr("aggregate(zip_with(v, w, (x, y) -> CAST(x AS DOUBLE) * y), CAST(0 AS DOUBLE), (s, x) -> s + x)").as("d"),
      expr("sqrt(aggregate(v, CAST(0 AS DOUBLE), (s, x) -> s + CAST(x AS DOUBLE) * x))").as("n"))
      .collect().map(r => r.getLong(0) -> ((Option(r.get(1)), Option(r.get(2))))).toMap
    assert(got == hof)
    assert(got(3) == ((None, None))) // null array → null result
  }

  test("exact dedup keeps min id and counts copies") {
    val d = docs((10L, "aaa"), (3L, "aaa"), (7L, "bbb"))
    val got = Dedup.exact(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 2L, 7L -> 1L))
  }

  test("boilerplate strip: frequent lines drop everywhere, order preserved, within-doc dups count once") {
    val d = docs(
      (1L, "header\nalpha beta\nfooter"),
      (2L, "header\ngamma delta\nfooter"),
      (3L, "header\nepsilon\nfooter"),
      (4L, "unique one\nunique two"))
    val got = Dedup.stripBoilerplate(d, "doc_id", "text", minDf = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // header/footer are in 3 docs -> stripped from ALL; content lines survive.
    assert(got(1L) == ((3L, 1L, "alpha beta")))
    assert(got(2L) == ((3L, 1L, "gamma delta")))
    assert(got(3L) == ((3L, 1L, "epsilon")))
    // Untouched doc: full rebuild preserves line order and separator.
    assert(got(4L) == ((2L, 2L, "unique one\nunique two")))

    // Distinct-DOC frequency: a line repeated twice inside one doc plus once
    // in another has df=2 (not 3) — kept at minDf=3, stripped at minDf=2
    // (both copies drop).
    val d2 = docs((5L, "dup\ndup\nx"), (6L, "dup\ny"))
    val keep3 = Dedup.stripBoilerplate(d2, "doc_id", "text", minDf = 3).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(keep3(5L) == "dup\ndup\nx" && keep3(6L) == "dup\ny")
    val keep2 = Dedup.stripBoilerplate(d2, "doc_id", "text", minDf = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(keep2(5L) == ((3L, 1L, "x")))
    assert(keep2(6L) == ((2L, 1L, "y")))

    // Fully-boilerplate doc rebuilds to '' (the downstream length filter's
    // contract).
    val d3 = docs((7L, "same"), (8L, "same"))
    val all = Dedup.stripBoilerplate(d3, "doc_id", "text", minDf = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(all(7L) == ((0L, "")) && all(8L) == ((0L, "")))

    // Span-unit form: 2-token chunks as units, shared chunk stripped.
    val d4 = docs((9L, "aa bb cc dd"), (10L, "aa bb ee ff"))
    val spanGot = Dedup.stripBoilerplateUnits(
      TextAnalysis.chunks(d4, "doc_id", "text", chunkSize = 2, overlap = 0)
        .select(col("doc_id"), col("chunk_idx").as("unit_idx"), col("chunk").as("unit")),
      minDf = 2, joinSep = " ").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(spanGot(9L) == ((2L, 1L, "cc dd")))
    assert(spanGot(10L) == ((2L, 1L, "ee ff")))
  }

  test("stripBoilerplateFast equals the unit path row-for-row; rebuild is map-side") {
    // Random docs with planted boilerplate, plus every edge the unit path
    // defines: empty text, fully-boilerplate doc, within-doc dup counted
    // once, untouched doc.
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "theta")
    val randomDocs = (1L to 40L).map { i =>
      val body = Seq.fill(2 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size)))
      val withBoiler =
        if (i % 3 == 0) ("HDR" +: body) :+ "FTR" else body
      i -> withBoiler.mkString("\n")
    }
    val d = docs(randomDocs ++ Seq(100L -> "", 101L -> "HDR\nFTR", 102L -> "solo\nsolo"): _*)
    for (minDf <- Seq(2L, 5L, 13L)) {
      val slow = Dedup.stripBoilerplate(d, "doc_id", "text", minDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sortBy(_._1)
      val fast = Dedup.stripBoilerplateFast(d, "doc_id", "text", minDf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sortBy(_._1)
      assert(fast.toSeq == slow.toSeq, s"fast/unit paths diverge at minDf=$minDf")
    }
    // The doc side of the fast plan never shuffles: its only exchanges
    // belong to the narrow unit-key aggregate that builds the broadcast
    // set (hash agg over the exploded unit column), and the rebuild side
    // joins it by broadcast.
    val plan = Dedup.stripBoilerplateFast(d, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected a broadcast LUT join in:\n$plan")
    assert(!plan.contains("SortAggregate"), s"rebuild must not sort-aggregate:\n$plan")

    // Runtime guard (r12): a boilerplate set above maxBroadcastUnits must
    // NOT be collected/broadcast — the call falls back to the unit path
    // (no broadcast LUT join in the plan) with identical results, so a
    // careless minDf can't OOM the driver.
    val guarded = Dedup.stripBoilerplateFast(d, "doc_id", "text", 2,
      maxBroadcastUnits = 0L)
    val gPlan = guarded.queryExecution.executedPlan.toString
    assert(!gPlan.contains("BroadcastNestedLoopJoin"),
      s"guard must route to the unit path, not the broadcast LUT:\n$gPlan")
    val gRows = guarded.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sortBy(_._1)
    val uRows = Dedup.stripBoilerplate(d, "doc_id", "text", 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).sortBy(_._1)
    assert(gRows.toSeq == uRows.toSeq)
  }

  test("banding advisor: pins the measured calibration points, scales monotonically, holds recall") {
    // The measured keep-rate points (BENCH.md §PipelineScale): the
    // battery's (8,4) at 5k docs, the (16,8) that restored 80.4% at 10M
    // where (8,4) collapsed, (16,8)'s plateau verified at 50M (80.41%),
    // and the first growth step probed from both sides at 70M (r12:
    // advisor's (27,9) keeps 80.30% — planted rate, higher near-dup
    // recall; pinned (16,8) keeps 80.42% — the step is measured
    // conservative, never a wrong answer).
    assert(Dedup.suggestBanding(5000L, 0.97) == ((8, 4)))
    assert(Dedup.suggestBanding(10000000L, 0.97) == ((16, 8)))
    assert(Dedup.suggestBanding(50000000L, 0.97) == ((16, 8)))
    assert(Dedup.suggestBanding(100000000L, 0.97) == ((27, 9)))
    // Rows per band never shrink as the corpus grows (false-positive
    // suppression is monotone in n).
    val sizes = Seq(1000L, 5000L, 50000L, 500000L, 5000000L, 50000000L, 500000000L)
    val rows = sizes.map(n => Dedup.suggestBanding(n, 0.97)._2)
    assert(rows == rows.sorted, s"rows per band not monotone: $rows")
    // Every suggestion satisfies the S-curve recall bound at the target J
    // and divides k into equal bands (lshBuckets' contract).
    for (n <- sizes; tj <- Seq(0.9, 0.95, 0.97)) {
      val (k, r) = Dedup.suggestBanding(n, tj)
      assert(k % r == 0 && k > 0 && r > 0)
      val b = k / r
      val recall = 1.0 - math.pow(1.0 - math.pow(tj, r), b)
      assert(recall >= 0.95, s"n=$n J=$tj -> (k=$k,r=$r) recall $recall < 0.95")
    }
    // Lower corpus sizes never suggest wider bands than the base point.
    assert(Dedup.suggestBanding(100L, 0.97) == ((8, 4)))
  }

  test("minhash LSH flags identical docs as candidates") {
    val d = docs((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumps"),
      (3L, "completely different content here"))
    val sig = Dedup.minHashSignature(Dedup.charShingles(d, "doc_id", "text", 5), 8)
    val cands = Dedup.lshCandidates(Dedup.lshBuckets(sig, 8, 4)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)))
  }

  test("minhash fastHash family: exact dups collide, unrelated docs don't") {
    // The xxhash64 family (the 100 TB configuration — DedupScale --fast) is
    // a different random family than md5, but the ALGORITHM guarantees hold
    // family-independently: identical texts share every shingle, hence every
    // signature minimum, hence every band bucket; and the signature schema
    // (h0..h{k-1}) feeds the same banding/candidate machinery.
    val d = docs((1L, "the quick brown fox jumps"), (2L, "the quick brown fox jumps"),
      (3L, "completely different content here"))
    val sig = Dedup.minHashSignature(Dedup.charShingles(d, "doc_id", "text", 5), 8,
      fastHash = true)
    assert(sig.schema.fields.count(_.name.startsWith("h")) == 8)
    val rows = sig.collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(rows(1L) == rows(2L))  // identical docs → identical signatures
    assert(rows(1L) != rows(3L))
    val cands = Dedup.lshCandidates(Dedup.lshBuckets(sig, 8, 4, fastHash = true))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands == Set((1L, 2L)), cands.toString)
    // Deterministic across runs (xxhash64 is seed-stable in Spark).
    val sig2 = Dedup.minHashSignature(Dedup.charShingles(d, "doc_id", "text", 5), 8,
      fastHash = true).collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    assert(sig2 == rows)
  }

  test("simhash fastHash family: identical texts collide, pairs machinery unchanged") {
    val d = docs((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta"))
    val fp = Dedup.simHash(d, "doc_id", "text", nBits = 64, fastHash = true)
    val m = fp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))   // identical token multisets → identical fingerprints
    assert(m(1L) != m(3L))
    val pairs = Dedup.simHashPairs(fp, maxHamming = 3, nBits = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    assert(pairs.contains((1L, 2L, 0L)), pairs.toString)
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    // Deterministic across runs.
    val m2 = Dedup.simHash(d, "doc_id", "text", nBits = 64, fastHash = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m2 == m)
  }

  test("xxhash64 family equals an independent XXH64: minhash, LSH bucket, simhash") {
    // The fast family has no cross-engine oracle, so pin its values against
    // lz4-java's XXH64 with Spark's conventions: seed 42, each further
    // column hashed with the previous hash as its seed, ints and longs as
    // little-endian bytes, strings as UTF-8.
    val xx = net.jpountz.xxhash.XXHashFactory.safeInstance().hash64()
    def h(b: Array[Byte], seed: Long) = xx.hash(b, 0, b.length, seed)
    def le(n: Int) = java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def hInt(v: Int, seed: Long) = h(le(4).putInt(v).array, seed)
    def hLong(v: Long, seed: Long) = h(le(8).putLong(v).array, seed)
    def hStr(v: String, seed: Long) = h(v.getBytes("UTF-8"), seed)
    val seed = 42L
    val texts = Map(1L -> "the quick brown fox jumps", 2L -> "lorem ipsum dolor sit amet",
      3L -> "the quick brown fox jumps over")
    val d = docs(texts.toSeq: _*)
    val (k, r) = (8, 4)
    val shingles = Dedup.charShingles(d, "doc_id", "text", 5)
    val sig = Dedup.minHashSignature(shingles, k, fastHash = true)
    val got = sig.collect().map(x => x.getLong(0) -> (1 to k).map(x.getLong)).toMap
    val want = shingles.collect().groupBy(_.getLong(0)).map { case (id, rows) =>
      id -> (0 until k).map(i => rows.map(x => hStr(x.getString(1), hInt(i, seed))).min)
    }
    assert(got == want)
    val buckets = Dedup.lshBuckets(sig, k, r, fastHash = true).collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getString(2))).toSet
    val wantBuckets = want.toSeq.flatMap { case (id, hs) => (0 until k / r).map(b =>
      (id, b, hs.slice(b * r, b * r + r).foldLeft(seed)((s, v) => hLong(v, s)).toString))
    }.toSet
    assert(buckets == wantBuckets)
    val fp = Dedup.simHash(d, "doc_id", "text", nBits = 64, fastHash = true).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val wantFp = texts.map { case (id, t) =>
      val hs = t.split(" ", -1).toSeq.map(hStr(_, seed))
      id -> (0 until 64).map { p =>
        if (2 * hs.count(x => (x >>> p & 1L) == 1L) > hs.size) 1L << p else 0L
      }.sum
    }
    assert(fp == wantFp)
  }

  test("incremental dedup: corpus precedence, batch-only min-id, transitivity") {
    def buckets(df: org.apache.spark.sql.DataFrame) = Dedup.lshBuckets(
      Dedup.minHashSignature(Dedup.charShingles(df, "doc_id", "text", 5), 8), 8, 4)
    val corpus = docs((10L, "the quick brown fox jumps"),
      (11L, "lorem ipsum dolor sit amet"), (12L, "unrelated corpus content"))
    val batch = docs(
      (1L, "the quick brown fox jumps"),          // dup of corpus 10 — smaller id,
                                                  // corpus must still win
      (5L, "evergreen terrace springfield usa"),  // batch-only cluster: min id keeps
      (6L, "evergreen terrace springfield usa"),
      (7L, "utterly unique batch snowflake"))     // no pairs at all
    val pairs = Dedup.incrementalCandidates(buckets(corpus), buckets(batch))
    val ps = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ps.contains((1L, 10L)) && ps.contains((5L, 6L)), ps)
    assert(ps.forall { case (a, b) => a < b }, s"unordered pair in $ps")
    val kept = Dedup.incrementalKeep(batch, "doc_id", pairs,
      corpus.select(org.apache.spark.sql.functions.col("doc_id")))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(5L, 7L), kept)

    // Candidate generation stays pure equi-join — no cartesian fallback
    // (the rule every pair generator in this package obeys). Asserted on
    // the UN-checkpointed plan (r20): incrementalCandidates' public frame
    // is a localCheckpoint leaf, whose plan would pass this vacuously.
    val plan = Dedup.incrementalCandidatesPlan(buckets(corpus), buckets(batch))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan)

    // Transitivity with hand-built pairs: batch 1 ~ batch 2 ~ corpus 100 —
    // BOTH batch docs drop (their component contains a corpus doc), while
    // an untouched batch doc survives.
    val batch2 = docs((1L, "a"), (2L, "b"), (3L, "c"))
    val handPairs = frame(
      StructType(Seq(StructField("d1", LongType), StructField("d2", LongType))),
      Seq(Map("d1" -> 1L, "d2" -> 2L), Map("d1" -> 2L, "d2" -> 100L)))
    val kept2 = Dedup.incrementalKeep(batch2, "doc_id", handPairs,
      docs((100L, "z")).select(org.apache.spark.sql.functions.col("doc_id")))
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(3L), kept2)
  }

  test("jaccard pairs: identical docs = 1.0, disjoint docs absent") {
    val d = docs((1L, "abcdefgh"), (2L, "abcdefgh"), (3L, "zzzzzzzz"))
    val got = Dedup.jaccardPairs(Dedup.charShingles(d, "doc_id", "text", 5), 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got == Map((1L, 2L) -> 1.0))
  }

  test("simhash: identical docs share fingerprints; pairs at hamming 0") {
    val d = docs((1L, "one two three"), (2L, "one two three"), (3L, "four five six"))
    val fps = Dedup.simHash(d, "doc_id", "text")
    val byId = fps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId(1L) == byId(2L))
    val pairs = Dedup.simHashPairs(fps, 0).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("brute-force ANN finds the planted nearest neighbor first") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val e = frame(schema, Seq(
      Map("vec_id" -> 0L, "embedding" -> Seq(1.0f, 0.0f, 0.0f)),
      Map("vec_id" -> 1L, "embedding" -> Seq(0.99f, 0.1f, 0.0f)), // closest to 0
      Map("vec_id" -> 2L, "embedding" -> Seq(0.0f, 1.0f, 0.0f)),
      Map("vec_id" -> 3L, "embedding" -> Seq(0.0f, 0.0f, 1.0f))))
    val got = Ann.bruteForceTopK(e, e.where(col("vec_id") === 0), "vec_id", "embedding", 2)
      .orderBy("rank").collect().map(r => (r.getLong(1), r.getInt(2)))
    assert(got.head == ((1L, 1)))
    assert(got.length == 2)

    // Id-type contract (r12, the SequenceMatch guard's sibling): the
    // brute path carries ids NATIVELY — string ids must just work...
    val es = e.withColumn("vec_id", concat(lit("v"), col("vec_id").cast("string")))
    val gotS = Ann.bruteForceTopK(es, es.where(col("vec_id") === "v0"),
      "vec_id", "embedding", 2)
      .orderBy("rank").collect().map(r => (r.getString(1), r.getInt(2)))
    assert(gotS.head == (("v1", 1)))
    // ...while the typed-row paths (PQ / multi-probe LSH), whose rows
    // force a long id, must reject strings loudly instead of nulling
    // every id onto one key.
    val e1 = intercept[IllegalArgumentException] {
      Ann.multiProbeLshTopK(es, es, "vec_id", "embedding", dim = 3, nBits = 4, k = 2)
    }
    assert(e1.getMessage.contains("integral id column"))
    val e2 = intercept[IllegalArgumentException] {
      Ann.pqCodes(es, "vec_id", "embedding",
        Array(Array(Array(0.0, 0.0, 0.0))))
    }
    assert(e2.getMessage.contains("integral id column"))
  }

  test("IVF top-k: clustered data keeps full recall within its cell") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    // two tight clusters far apart; ids 0-3 near e1, ids 4-7 near e2
    def v(base: Float, eps: Float) = Seq(base + eps, 1.0f - base, 0.1f * eps, 0.0f)
    val e = frame(schema, (0L until 8L).map { i =>
      val base = if (i < 4) 0.9f else 0.0f
      Map[String, Any]("vec_id" -> i, "embedding" -> v(base, 0.01f * i))
    })
    val got = graft.operators.Ann.ivfTopK(e, e.where(col("vec_id") === 0),
      "vec_id", "embedding", dim = 4, nCells = 2, iters = 2, k = 3)
      .collect().map(r => r.getLong(1)).toSet
    assert(got == Set(1L, 2L, 3L)) // same-cluster neighbors, not the far cluster
  }

  test("BPE-ish token count splits letter/digit/punct runs") {
    val d = docs((1L, "fast-scan row12 ok"))
    val n = d.select(graft.operators.TextAnalysis.bpeishTokenCount(col("text")).as("n"))
      .collect()(0).getInt(0)
    assert(n == 6) // fast, -, scan, row, 12, ok
  }

  test("sign-LSH buckets are deterministic and identical vectors collide") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val e = frame(schema, Seq(
      Map("vec_id" -> 0L, "embedding" -> Seq.fill(8)(0.5f)),
      Map("vec_id" -> 1L, "embedding" -> Seq.fill(8)(0.5f))))
    val b = Ann.signLshBuckets(e, "vec_id", "embedding", dim = 8, nBits = 4)
      .select("bucket").collect().map(_.getLong(0))
    assert(b(0) == b(1))
  }

  test("token chunking: stride, overlap, short tail, and tiny-doc cases") {
    val d = docs(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b"))                                    // shorter than a chunk
    // chunkSize 4, overlap 1 → stride 3; doc1 starts at 1,4,7,10 → ceil(9/3)=3 chunks
    val got = TextAnalysis.chunks(d, "doc_id", "text", chunkSize = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(got((1L, 0)) == "w1 w2 w3 w4")
    assert(got((1L, 1)) == "w4 w5 w6 w7") // overlap of 1 token
    assert(got((1L, 2)) == "w7 w8 w9 w10")
    assert(got((2L, 0)) == "a b") // tiny doc → one short chunk
    assert(got.size == 4)
    // every token appears in at least one chunk (no data loss)
    val covered = got.collect { case ((id, _), c) if id == 1L => c.split(" ") }.flatten.toSet
    assert(covered == (1 to 10).map(i => s"w$i").toSet)
  }

  test("text quality features on a crafted doc") {
    val d = docs((1L, "the cat sat"))
    val r = TextAnalysis.quality(d, "doc_id", "text", Seq("the", "a")).collect()(0)
    assert(r.getAs[Int]("n_chars") == 11)
    assert(r.getAs[Int]("n_tokens") == 3)
    assert(r.getAs[Double]("avg_tok_len") == 3.0)
    assert(math.abs(r.getAs[Double]("stop_ratio") - 1.0 / 3) < 1e-12)
  }

  test("language id: markers and trigram profiles") {
    val d = docs((1L, "der hund merge"), (2L, "plain english text"))
    val markers = TextAnalysis.langIdMarkers(col("text"), Seq("merge" -> "de"), "en")
    val got = d.select(col("doc_id"), markers.as("l")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "de", 2L -> "en"))
    val tri = TextAnalysis.langIdTrigrams(d, "doc_id", "text",
      Map("de" -> Seq("der", "und"), "en" -> Seq("ish", "tex", "the")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tri == Map(1L -> "de", 2L -> "en"))
  }

  test("fingerprint is stable and discriminates") {
    val d = docs((1L, "abcdefghijk"), (2L, "abcdefghijk"), (3L, "different text"))
    val got = d.select(col("doc_id"), TextAnalysis.fingerprint("text", 8).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == got(2L))
    assert(got(1L) != got(3L))
  }

  test("pandas null semantics: strings, sums, and all-null groups") {
    import graft.engine.{DatasetSpec, QueryEngine}
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("cat", StringType), StructField("v", DoubleType)))
    // uid 1: one null cat, one matching; uid 2: all-null v; uid 3: no match
    val df = frame(schema, Seq(
      Map[String, Any]("uid" -> 1L, "ts" -> 1L, "cat" -> "x", "v" -> 2.0),
      Map[String, Any]("uid" -> 1L, "ts" -> 2L, "v" -> 3.0),             // cat null
      Map[String, Any]("uid" -> 2L, "ts" -> 1L, "cat" -> "x"),           // v null
      Map[String, Any]("uid" -> 3L, "ts" -> 1L, "cat" -> "y", "v" -> 9.0)))
    val engine = new QueryEngine(DatasetSpec("uid", "ts"))

    // `!=` and `not contains` are TRUE for nulls (pandas ~contains(na=False))
    val neq = engine.runJson(df,
      """{"query":{"conditions":[{"filter":["cat","!=","y"],"target":["count",">=",2]}]}}""")
      .summary.collect()(0)
    assert(neq.getLong(0) == 1L) // only uid 1 has 2 rows != "y" (null counts)

    val ncontains = engine.runJson(df,
      """{"query":{"conditions":[{"filter":["cat","not contains","x"],"target":["count",">=",1]}]}}""")
      .summary.collect()(0).getLong(0)
    assert(ncontains == 2L) // uid 1 (null row) + uid 3 ("y")

    // sum target over an all-null matched group: pandas sum -> 0.0, so the
    // group participates and fails ">= 1" but passes "<= 0".
    val sumLe = engine.runJson(df,
      """{"query":{"conditions":[{"filter":["cat","==","x"],"target":{"type":"sum","column":"v","op":"<=","value":0}}]}}""")
      .summary.collect()(0).getLong(0)
    assert(sumLe == 1L) // uid 2: matching row exists, sum of nulls = 0
  }

  test("sequence aggregator matches the chained-window plan on random data") {
    import graft.engine.{DatasetSpec, QueryEngine}
    import graft.query.QueryAst._
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("etype", StringType)))
    val rnd = new scala.util.Random(7)
    val types = Seq("view", "click", "buy", "other")
    val rows = (0 until 2000).map { i =>
      Map[String, Any]("uid" -> (i % 97).toLong, "ts" -> rnd.nextInt(100000).toLong,
        "etype" -> types(rnd.nextInt(types.length)))
    }
    val df = frame(schema, rows)
    val steps = Seq(
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("view")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("click")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("buy")))))

    val viaAgg = graft.operators.SequenceMatch.matchingGroups(df, "uid", "ts", steps)
      .collect().map(_.getLong(0)).toSet
    val engine = new QueryEngine(DatasetSpec("uid", "ts")).withWindowPlan // the comparison's window side
    val viaWindow = engine.run(df,
      GraftQuery(None, Seq(Condition.Sequence(None, steps, None)), None, Nil, None))
      .matchedRows.select("uid").distinct().collect().map(_.getLong(0)).toSet
    assert(viaAgg == viaWindow)
    assert(viaAgg.nonEmpty)

    // maxDuration variant also agrees
    val d = 20000L
    val aggD = graft.operators.SequenceMatch.matchingGroups(df, "uid", "ts", steps, Some(d))
      .collect().map(_.getLong(0)).toSet
    val winD = engine.run(df,
      GraftQuery(None, Seq(Condition.Sequence(None, steps, Some(d))), None, Nil, None))
      .matchedRows.select("uid").distinct().collect().map(_.getLong(0)).toSet
    assert(aggD == winD)
    assert(aggD.subsetOf(viaAgg) && aggD != viaAgg) // duration actually restricts
  }

  test("funnelCounts matches the engine's window funnel on random data") {
    import graft.engine.{DatasetSpec, QueryEngine}
    import graft.query.QueryAst._
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("etype", StringType)))
    val rnd = new scala.util.Random(13)
    val types = Seq("view", "click", "buy", "other")
    val rows = (0 until 2000).map { i =>
      Map[String, Any]("uid" -> (i % 97).toLong, "ts" -> rnd.nextInt(100000).toLong,
        "etype" -> types(rnd.nextInt(types.length)))
    }
    val df = frame(schema, rows)
    val steps = Seq(
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("view")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("click")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("buy")))))
    val engine = new QueryEngine(DatasetSpec("uid", "ts")).withWindowPlan // the comparison's window side
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap

    val viaWindow = asMap(engine.run(df, GraftQuery(None, Nil, None, Nil,
      Some(Funnel(steps, None, Nil, Nil)))).funnel.get)
    val viaFast = asMap(
      graft.operators.SequenceMatch.funnelCounts(df, "uid", "ts", steps))
    assert(viaFast == viaWindow)
    assert(viaWindow(0)._1 > viaWindow(2)._1) // the funnel actually narrows

    // maxDuration: must agree including mid-chain cuts (a group reaching
    // step 1 within d but step 2 only outside d counts for steps 0-1).
    val d = 20000L
    val winD = asMap(engine.run(df, GraftQuery(None, Nil, None, Nil,
      Some(Funnel(steps, Some(d), Nil, Nil)))).funnel.get)
    val fastD = asMap(
      graft.operators.SequenceMatch.funnelCounts(df, "uid", "ts", steps, Some(d)))
    assert(fastD == winD)
    assert(winD(2)._1 < viaWindow(2)._1) // duration actually restricts
    assert(winD(1) != viaWindow(1) || winD(2) != viaWindow(2))

    // Empty input (no group passed the upstream condition): both plans
    // yield (step, 0, 0) — count_distinct over empty is 0, and since r16
    // the row sum coalesces to 0 too (a funnel over zero rows counts
    // zero; the former NULL crashed the serving JSON's long read —
    // ServingFuzzSpec seed=35260868). Twin must mirror cell-for-cell
    // (fuzz-caught r11: the first cut returned (step, NULL, 0)).
    val empty = df.where(col("uid") < 0)
    val winE = engine.run(empty, GraftQuery(None, Nil, None, Nil,
      Some(Funnel(steps, None, Nil, Nil)))).funnel.get.collect()
      .map(r => (r.getInt(0), r.get(1), r.get(2))).toSet
    val fastE = graft.operators.SequenceMatch.funnelCounts(empty, "uid", "ts", steps)
      .collect().map(r => (r.getInt(0), r.get(1), r.get(2))).toSet
    assert(fastE == winE)
    assert(winE == Set((0, 0L, 0L), (1, 0L, 0L), (2, 0L, 0L)))

    // Negated steps (r11: scalar-max evidence, no array entries). Middle
    // negated: view, then NO "other" afterwards, then buy.
    val negSteps = Seq(
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("view")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("other"))),
        rowFound = false),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("buy")))))
    val winNeg = asMap(engine.run(df, GraftQuery(None, Nil, None, Nil,
      Some(Funnel(negSteps, None, Nil, Nil)))).funnel.get)
    val fastNeg = asMap(
      graft.operators.SequenceMatch.funnelCounts(df, "uid", "ts", negSteps))
    assert(fastNeg == winNeg)
    assert(winNeg(1)._1 < winNeg(0)._1) // the negated step actually cuts
    val aggNeg = graft.operators.SequenceMatch.matchingGroups(df, "uid", "ts", negSteps)
      .collect().map(_.getLong(0)).toSet
    val winNegGroups = engine.run(df,
      GraftQuery(None, Seq(Condition.Sequence(None, negSteps, None)), None, Nil, None))
      .matchedRows.select("uid").distinct().collect().map(_.getLong(0)).toSet
    assert(aggNeg == winNegGroups && aggNeg.nonEmpty)

    // LEADING negated step: groups with no matching rows at all must pass
    // step 0 (nothing witnesses against it) — the absent-group default.
    val leadNeg = Seq(
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("other"))),
        rowFound = false),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("buy")))))
    val winLead = asMap(engine.run(df, GraftQuery(None, Nil, None, Nil,
      Some(Funnel(leadNeg, None, Nil, Nil)))).funnel.get)
    val fastLead = asMap(
      graft.operators.SequenceMatch.funnelCounts(df, "uid", "ts", leadNeg))
    assert(fastLead == winLead)
  }

  test("routedFunnel step/end aggregations equal the window plan's on random data (r14)") {
    import graft.engine.{DatasetSpec, QueryEngine}
    import graft.query.QueryAst._
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("etype", StringType)))
    val rnd = new scala.util.Random(14)
    val types = Seq("view", "click", "buy", "other")
    val rows = (0 until 2000).map { i =>
      Map[String, Any]("uid" -> (i % 97).toLong, "ts" -> rnd.nextInt(100000).toLong,
        "etype" -> types(rnd.nextInt(types.length)))
    }
    val df = frame(schema, rows)
    val window = new QueryEngine(DatasetSpec("uid", "ts")).withWindowPlan
    val routed = new QueryEngine(DatasetSpec("uid", "ts")).withRoutingThreshold(0)
    def collectAggs(p: graft.engine.PlannedQuery): Map[String, Set[Seq[Any]]] =
      p.funnelAggregations.map { case (name, d) =>
        name -> d.collect().map(_.toSeq).toSet
      }.toMap
    // Plain 3-step funnel AND a leading-negated variant (the anti-join
    // path), each with one per-step and one end aggregation — every
    // (step j, agg) frame must match the window plan's values exactly.
    // Each shape also runs with maxDuration (r15, advice): the per-step
    // duration cut is where the routed plan's "passed step j iff
    // maxStep >= j" monotonicity leans on anchors being increasing, so
    // the equivalence must hold with the cut biting too.
    val plainSteps = Seq(
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("view")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("click")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("buy")))))
    val leadNegSteps =
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("other"))),
        rowFound = false) +: plainSteps.take(2)
    for {
      steps <- Seq(plainSteps, leadNegSteps)
      maxDur <- Seq(None, Some(30000L))
    } {
      val q = GraftQuery(None, Nil, None, Nil, Some(Funnel(steps, maxDur,
        stepAggregations = Seq(Aggregation(None, "etype", AggType.CountPerValue, None)),
        endAggregations = Seq(
          Aggregation(None, "etype", AggType.GroupsPerValue, None),
          Aggregation(None, "ts", AggType.Count, None)))))
      val wPlan = window.run(df, q)
      val rPlan = routed.run(df, q)
      assert(rPlan.plan.contains("routed-funnel"),
        s"variant (steps=${steps.size}, maxDur=$maxDur) must actually route, got '${rPlan.plan}'")
      val w = collectAggs(wPlan)
      val r = collectAggs(rPlan)
      assert(w.keySet == r.keySet)
      for (k <- w.keySet)
        assert(w(k) == r(k),
          s"funnel agg '$k' diverged (steps=${steps.size}, maxDur=$maxDur)")
      // the duration cut must actually bite (plain shape only — the
      // leading-negated funnel already ends at 0 groups on this corpus,
      // so there is nothing left for the cut to remove there): with it,
      // strictly fewer groups finish than without (ts spans ~100k/group)
      if (maxDur.nonEmpty && (steps eq plainSteps)) {
        def endGroups(p: graft.engine.PlannedQuery): Long =
          p.funnel.get.collect().maxBy(_.getInt(0)).getLong(1)
        val qFree = q.copy(funnel = Some(q.funnel.get.copy(maxDuration = None)))
        val (cut, free) = (endGroups(rPlan), endGroups(routed.run(df, qFree)))
        assert(cut < free && cut > 0,
          s"maxDuration=$maxDur must cut some-but-not-all groups, got $cut vs $free")
      }
    }
  }

  test("survivor-sharing broadcast gate: identical results under and over the cap (r15)") {
    import graft.engine.{DatasetSpec, QueryEngine}
    import graft.query.QueryAst._
    // A multi-frame routed query (sequence condition + aggregations +
    // funnel) through three engines: the window plan, the r14 routed plan
    // (no numGroups → per-frame AQE semi-joins), and the r15
    // survivor-sharing plan (numGroups under the gate → broadcast-hinted
    // cached survivors). All frames must be identical; a numGroups OVER
    // the cap must fall back to the r14 plan, also identical.
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("etype", StringType)))
    val rnd = new scala.util.Random(15)
    val types = Seq("view", "click", "buy", "other")
    val rows = (0 until 2000).map { i =>
      Map[String, Any]("uid" -> (i % 97).toLong, "ts" -> rnd.nextInt(100000).toLong,
        "etype" -> types(rnd.nextInt(types.length)))
    }
    val df = frame(schema, rows)
    val q = GraftQuery(None,
      Seq(Condition.Sequence(None, Seq(
        SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("view")))),
        SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("click"))))), None)),
      None,
      Seq(Aggregation(None, "ts", AggType.Count, None),
        Aggregation(None, "etype", AggType.CountPerValue, None)),
      Some(Funnel(Seq(
        SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("view")))),
        SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("buy"))))), None,
        Nil, Seq(Aggregation(None, "etype", AggType.CountPerValue, None)))))
    def run(spec: DatasetSpec, window: Boolean) = {
      val eng =
        if (window) new QueryEngine(spec).withWindowPlan
        else new QueryEngine(spec).withRoutingThreshold(0)
      val p = eng.run(df, q)
      val frames =
        Seq("summary" -> p.summary) ++ p.aggregations ++
          p.funnel.map("funnel" -> _).toSeq ++ p.funnelAggregations
      (p.plan, frames.map { case (n, d) => n -> d.collect().map(_.toSeq).toSet }.toMap)
    }
    val base = DatasetSpec("uid", "ts")
    val (_, w) = run(base, window = true)
    val variants = Seq(
      "no numGroups (r14 plan)" -> base,
      "under the cap (hinted survivors)" -> base.copy(numGroups = Some(97L)),
      "over the cap (r14 fallback)" ->
        base.copy(numGroups = Some(QueryEngine.SurvivorShareMaxGroups + 1)))
    for ((label, spec) <- variants) {
      val (plan, r) = run(spec, window = false)
      assert(plan.contains("routed"), s"$label must route, got '$plan'")
      assert(r.keySet == w.keySet, label)
      for (k <- w.keySet)
        assert(r(k) == w(k), s"$label: frame '$k' diverged from the window plan")
    }
    graft.util.Caches.drain()
  }

  test("survivor-sharing byte gate: string gids hint only within the byte budget (r16)") {
    import graft.engine.{DatasetSpec, QueryEngine}
    import graft.query.QueryAst._
    // String-gid twin of the r15 gate test. The count cap alone can't
    // bound a string broadcast (ids have unbounded length), so the gate
    // is byte-aware when the registration recorded gidMaxBytes: under
    // the budget → hinted survivors; a byte estimate over the budget
    // (long ids) → the r14 fallback even though the COUNT is tiny; no
    // byte stat → the conservative 8M count cap. Every variant must
    // match the window plan bit-for-bit. A case-mismatched spec must
    // stay on the window plan (SequenceMatch resolves case-sensitively;
    // routing it would throw) and still answer correctly.
    val schema = StructType(Seq(
      StructField("uid_s", StringType), StructField("ts", LongType),
      StructField("etype", StringType)))
    val rnd = new scala.util.Random(16)
    val types = Seq("view", "click", "buy", "other")
    val rows = (0 until 2000).map { i =>
      Map[String, Any]("uid_s" -> s"user-${i % 97}", "ts" -> rnd.nextInt(100000).toLong,
        "etype" -> types(rnd.nextInt(types.length)))
    }
    val df = frame(schema, rows)
    val q = GraftQuery(None,
      Seq(Condition.Sequence(None, Seq(
        SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("view")))),
        SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("click"))))), None)),
      None,
      Seq(Aggregation(None, "ts", AggType.Count, None),
        Aggregation(None, "etype", AggType.CountPerValue, None)),
      Some(Funnel(Seq(
        SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("view")))),
        SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("buy"))))), None,
        Nil, Seq(Aggregation(None, "etype", AggType.CountPerValue, None)))))
    def run(spec: DatasetSpec, window: Boolean) = {
      val eng =
        if (window) new QueryEngine(spec).withWindowPlan
        else new QueryEngine(spec).withRoutingThreshold(0)
      val p = eng.run(df, q)
      val frames =
        Seq("summary" -> p.summary) ++ p.aggregations ++
          p.funnel.map("funnel" -> _).toSeq ++ p.funnelAggregations
      (p.plan, frames.map { case (n, d) => n -> d.collect().map(_.toSeq).toSet }.toMap)
    }
    val base = DatasetSpec("uid_s", "ts")
    val (_, w) = run(base, window = true)
    // "user-NN" ids: max 7+2=9 bytes. 97 × (9+24) ≪ 512 MB → hinted.
    // Long-id variant: gidMaxBytes such that even 97 groups bust the
    // budget (97 × (8 MB + 24) > 512 MB) → r14 fallback.
    val variants = Seq(
      "no byte stat, under the 8M count cap (hinted)" ->
        base.copy(numGroups = Some(97L)),
      "no byte stat, over the 8M count cap (r14 fallback)" ->
        base.copy(numGroups = Some(QueryEngine.SurvivorShareMaxStringGroups + 1)),
      "byte stat under the budget (hinted)" ->
        base.copy(numGroups = Some(97L), gidMaxBytes = Some(9L)),
      "byte stat over the budget despite tiny count (r14 fallback)" ->
        base.copy(numGroups = Some(97L), gidMaxBytes = Some(8L << 20)))
    for ((label, spec) <- variants) {
      val (plan, r) = run(spec, window = false)
      assert(plan.contains("routed"), s"$label must route, got '$plan'")
      assert(r.keySet == w.keySet, label)
      for (k <- w.keySet)
        assert(r(k) == w(k), s"$label: frame '$k' diverged from the window plan")
    }
    // Case-mismatched spec: never routes (SequenceMatch's case-sensitive
    // fieldIndex would throw mid-plan), answers via the window plan whose
    // col() lookups resolve case-insensitively.
    val (mPlan, m) = run(
      base.copy(groupIdColumn = "UID_S", numGroups = Some(97L), gidMaxBytes = Some(9L)),
      window = false)
    assert(mPlan == "window", s"case-mismatched gid must pin the window plan, got '$mPlan'")
    for (k <- w.keySet)
      assert(m(k) == w(k), s"case-mismatched spec: frame '$k' diverged")
    graft.util.Caches.drain()
  }

  test("routed sequence+funnel with an empty matched set answers like the window plan (r16 pinned fuzz)") {
    // Pinned from ServingFuzzSpec seed=35260868 q6 (r16): a sequence
    // condition whose first step matches NOTHING (matched set empty)
    // combined with a routed funnel crashed with ROW_VALUE_IS_NULL
    // instead of answering zero counts. Exact failing query, library
    // path, routed engine with the survivor-share gate on.
    val json = """{"query": {"conditions": [{"sequence": [
      |  {"filter": {"column": "event_type", "op": "==", "value": "absent"}},
      |  {"filters": [["props", "regex", "k\": [0-9]{2}"],
      |               {"column": "value_n", "op": "<=", "value": 100}],
      |   "rowFound": false}]}]},
      | "funnel": {"sequence": [
      |   {"filter": ["value_nan", ">", 250.5]},
      |   {"filters": [{"column": "value", "op": ">=", "value": 10},
      |                {"column": "event_type", "op": "==", "value": "signup"}]}]},
      | "timeframe": {"from": 1705500000000000000, "to": 1706500000000000000}}""".stripMargin
    import org.apache.spark.sql.functions._
    val df = graft.ops.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("value", col("value").cast("decimal(20,4)"))
      .withColumn("value_n",
        when(pmod(col("event_id"), lit(5)) === 0, lit(null).cast("decimal(20,4)"))
          .otherwise(col("value")))
      .withColumn("value_nan",
        when(pmod(col("event_id"), lit(11)) === 0, lit(Double.NaN))
          .otherwise(floor(col("value")).cast("double")))
    val q = graft.query.QueryParser.parse(json)
    def frames(p: graft.engine.PlannedQuery) =
      (Seq("summary" -> p.summary) ++ p.aggregations ++
        p.funnel.map("funnel" -> _).toSeq ++ p.funnelAggregations)
        .map { case (n, d) => n -> d.collect().map(_.toSeq).toSet }.toMap
    val spec = graft.engine.DatasetSpec("user_id", "ts", numGroups = Some(15L))
    val w = frames(new graft.engine.QueryEngine(spec).withWindowPlan.runValidated(df, q))
    val r = frames(new graft.engine.QueryEngine(spec).withRoutingThreshold(0).runValidated(df, q))
    assert(r.keySet == w.keySet)
    for (k <- w.keySet) assert(r(k) == w(k), s"frame '$k' diverged on the empty matched set")
    // The serving path additionally builds the reference-shaped JSON
    // (ResultJson collects each frame) — the original crash surfaced there.
    val body = graft.result.ResultJson.build(
      new graft.engine.QueryEngine(spec).withRoutingThreshold(0).runValidated(df, q))
    assert(body.contains("\"funnel\""), body)
    graft.util.Caches.drain()
  }

  test("maxStepTable: per-group greedy max step, candidate groups only (r14 public contract)") {
    import graft.query.QueryAst._
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("etype", StringType)))
    val df = frame(schema, Seq(
      // uid 1: view@1, click@2, buy@3 → reaches step 2
      Map("uid" -> 1L, "ts" -> 1L, "etype" -> "view"),
      Map("uid" -> 1L, "ts" -> 2L, "etype" -> "click"),
      Map("uid" -> 1L, "ts" -> 3L, "etype" -> "buy"),
      // uid 2: view@5 only → step 0
      Map("uid" -> 2L, "ts" -> 5L, "etype" -> "view"),
      // uid 3: click@1 then view@2 (wrong order) → step 0 (view anchors at 2,
      // no click strictly after)
      Map("uid" -> 3L, "ts" -> 1L, "etype" -> "click"),
      Map("uid" -> 3L, "ts" -> 2L, "etype" -> "view"),
      // uid 4: no step-matching rows → ABSENT from the table
      Map("uid" -> 4L, "ts" -> 9L, "etype" -> "other")))
    val steps = Seq(
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("view")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("click")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("buy")))))
    val got = graft.operators.SequenceMatch.maxStepTable(df, "uid", "ts", steps, None)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 2, 2L -> 0, 3L -> 0), got.toString)
  }

  test("sequence aggregator handles dense groups (10k matching rows per step)") {
    import graft.engine.{DatasetSpec, QueryEngine}
    import graft.query.QueryAst._
    // One group where EVERY row matches a step (the shape that made the
    // per-row array append quadratic), plus a group that must not match.
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("etype", StringType)))
    val types = Seq("view", "click", "buy")
    val dense = (0 until 30000).map { i =>
      Map[String, Any]("uid" -> 1L, "ts" -> i.toLong, "etype" -> types(i % 3))
    }
    val noBuy = (0 until 100).map { i =>
      Map[String, Any]("uid" -> 2L, "ts" -> i.toLong,
        "etype" -> (if (i % 2 == 0) "view" else "click"))
    }
    val df = frame(schema, dense ++ noBuy)
    val steps = Seq(
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("view")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("click")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("buy")))))
    val viaAgg = graft.operators.SequenceMatch.matchingGroups(df, "uid", "ts", steps)
      .collect().map(_.getLong(0)).toSet
    assert(viaAgg == Set(1L))
    // window-plan equivalence holds on the dense group too
    val engine = new QueryEngine(DatasetSpec("uid", "ts")).withWindowPlan // the comparison's window side
    val viaWindow = engine.run(df,
      GraftQuery(None, Seq(Condition.Sequence(None, steps, None)), None, Nil, None))
      .matchedRows.select("uid").distinct().collect().map(_.getLong(0)).toSet
    assert(viaAgg == viaWindow)
  }

  test("SequenceMatch gid/ts contract: string gids work natively, lossy types fail loudly") {
    import graft.query.QueryAst._
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType),
      StructField("etype", StringType)))
    val rnd = new scala.util.Random(29)
    val types = Seq("view", "click", "buy", "other")
    val rows = (0 until 1500).map { i =>
      Map[String, Any]("uid" -> (i % 61).toLong, "ts" -> rnd.nextInt(100000).toLong,
        "etype" -> types(rnd.nextInt(types.length)))
    }
    val df = frame(schema, rows)
    val steps = Seq(
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("view")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("click")))),
      SequenceStep(Seq(RowFilter("etype", FilterOp.Eq, Scalar.Str("buy")))))

    // String gid: non-numeric values ("u<i>") so any surviving long cast
    // would null ALL of them out (the r11 silent-collapse hazard). The
    // matched set must be exactly the long run's set, renamed.
    val sdf = df.withColumn("uid", concat(lit("u"), col("uid").cast("string")))
    val viaLong = graft.operators.SequenceMatch.matchingGroups(df, "uid", "ts", steps)
      .collect().map(_.getLong(0)).toSet
    val viaString = graft.operators.SequenceMatch.matchingGroups(sdf, "uid", "ts", steps)
      .collect().map(_.getString(0)).toSet
    assert(viaString == viaLong.map(g => s"u$g"))
    assert(viaString.nonEmpty && viaString.size < 61) // discriminates

    // funnelCounts over string gids: gid representation must not change
    // any count — compare cell-for-cell with the long-gid run.
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val fcLong = asMap(graft.operators.SequenceMatch.funnelCounts(df, "uid", "ts", steps))
    val fcString = asMap(graft.operators.SequenceMatch.funnelCounts(sdf, "uid", "ts", steps))
    assert(fcString == fcLong)

    // Lossy gid types fail loudly instead of silently collapsing groups.
    val dblGid = df.withColumn("uid", col("uid").cast("double"))
    val e1 = intercept[IllegalArgumentException] {
      graft.operators.SequenceMatch.matchingGroups(dblGid, "uid", "ts", steps)
    }
    assert(e1.getMessage.contains("must be integral or string"))
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.SequenceMatch.funnelCounts(dblGid, "uid", "ts", steps)
    }
    assert(e2.getMessage.contains("must be integral or string"))

    // Float timestamps would truncate under the long buffer: rejected.
    val dblTs = df.withColumn("ts", col("ts").cast("double"))
    val e3 = intercept[IllegalArgumentException] {
      graft.operators.SequenceMatch.matchingGroups(dblTs, "uid", "ts", steps)
    }
    assert(e3.getMessage.contains("must be integral"))
  }

  test("chunking invariants hold on random docs (reconstruction, bounds)") {
    val rnd = new scala.util.Random(19)
    val (size, overlap) = (7, 3)
    val stride = size - overlap
    val texts = (0L until 100L).map { i =>
      i -> (0 until (1 + rnd.nextInt(40))).map(j => s"t${i}_$j").mkString(" ")
    }
    val d = docs(texts: _*)
    val chunks = TextAnalysis.chunks(d, "doc_id", "text", size, overlap)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    for ((id, text) <- texts) {
      val toks = text.split(" ").toSeq
      val cs = chunks(id)
      // chunk sizes: all full except possibly the last; indices contiguous
      assert(cs.init.forall(_.split(" ").length == size) || toks.length < size)
      assert(cs.last.split(" ").length <= size)
      // reconstruction: dropping the overlap from every non-first chunk
      // yields exactly the original token stream
      val rebuilt = cs.head.split(" ").toSeq ++
        cs.tail.flatMap(_.split(" ").drop(overlap))
      assert(rebuilt == toks, s"doc $id: $rebuilt != $toks")
      // expected chunk count
      val expected = math.max(1, (toks.length - overlap + stride - 1) / stride)
      assert(cs.length == expected)
    }
  }

  test("sessionization invariants hold on random event streams") {
    import graft.operators.Sessionize
    val rnd = new scala.util.Random(23)
    val maxGap = 50L
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType)))
    val rows = (0L until 50L).flatMap { u =>
      var t = rnd.nextInt(100).toLong
      (0 until (1 + rnd.nextInt(30))).map { _ =>
        t += rnd.nextInt(150).toLong // gaps straddle maxGap both ways
        Map[String, Any]("uid" -> u, "ts" -> t)
      }
    }
    val ids = Sessionize.withSessionIds(frame(schema, rows), "uid", "ts", maxGap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for ((u, evts) <- ids.groupBy(_._1)) {
      val sorted = evts.sortBy(_._2)
      // session ids start at 0, are contiguous, and never decrease in time
      assert(sorted.head._3 == 0L)
      sorted.sliding(2).foreach { case Array((_, t1, s1), (_, t2, s2)) =>
        val gap = t2 - t1
        if (gap > maxGap) assert(s2 == s1 + 1, s"uid $u: gap $gap must split")
        else assert(s2 == s1, s"uid $u: gap $gap must not split")
      case _ => ()
      }
    }
  }

  test("sessionization splits at gaps, handles ties and single events") {
    import graft.operators.Sessionize
    val schema = StructType(Seq(
      StructField("uid", LongType), StructField("ts", LongType)))
    // u1: [10,15,15,30] gap>10 at 30 → sessions {10,15,15} and {30}
    // u2: single event → one session
    val df = frame(schema, Seq(
      Map[String, Any]("uid" -> 1L, "ts" -> 10L),
      Map[String, Any]("uid" -> 1L, "ts" -> 15L),
      Map[String, Any]("uid" -> 1L, "ts" -> 15L),
      Map[String, Any]("uid" -> 1L, "ts" -> 30L),
      Map[String, Any]("uid" -> 2L, "ts" -> 7L)))
    val ids = Sessionize.withSessionIds(df, "uid", "ts", maxGap = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ids((1L, 10L)) == 0 && ids((1L, 15L)) == 0 && ids((1L, 30L)) == 1)
    assert(ids((2L, 7L)) == 0)
    val summary = Sessionize.groupSummary(df, "uid", "ts", maxGap = 10L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(summary(1L) == ((2L, 3L, 5L))) // 2 sessions; biggest 3 events; span 15-10
    assert(summary(2L) == ((1L, 1L, 0L)))
  }

  test("skew utilities match their unsalted equivalents") {
    import graft.operators.Skew
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType)))
    // one hot key with 90% of rows + a long tail
    val rows = (0 until 900).map(i => Map[String, Any]("k" -> "hot", "v" -> i.toLong)) ++
      (0 until 100).map(i => Map[String, Any]("k" -> s"k$i", "v" -> i.toLong))
    val df = frame(schema, rows)

    val salted = Skew.saltedSumCount(df, "k", "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val plain = df.groupBy(col("k"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("c")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(salted == plain)

    val sd = Skew.skewSafeCountDistinct(df.withColumn("v", col("v") % 10), "k", "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sd("hot") == 10 && sd("k5") == 1)

    val dim = frame(StructType(Seq(StructField("k", StringType), StructField("d", LongType))),
      Seq(Map("k" -> "hot", "d" -> 1L), Map("k" -> "k5", "d" -> 2L)))
    val joined = Skew.saltedJoin(df, dim, "k")
    assert(joined.count() == 901) // 900 hot + 1 k5
    assert(joined.columns.toSet == Set("k", "v", "d"))
  }

  test("salted two-phase topNPerKey equals the plain window exactly") {
    import graft.operators.Skew
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("v", LongType),
      StructField("id", LongType)))
    // hot key with 90% of rows, heavy value ties (v % 7) so the id
    // tie-break is load-bearing; salts from degenerate 1 to > group sizes
    val rows = (0 until 900).map(i =>
      Map[String, Any]("k" -> "hot", "v" -> (i % 7).toLong, "id" -> i.toLong)) ++
      (0 until 100).map(i =>
        Map[String, Any]("k" -> s"k${i % 20}", "v" -> (i % 7).toLong, "id" -> (1000 + i).toLong))
    val df = frame(schema, rows)
    val ordering = Seq(desc("v"), asc("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(ordering: _*)
    for (n <- Seq(1, 3, 10); salts <- Seq(1, 8, 64)) {
      val plain = df.withColumn("rn", row_number().over(w))
        .where(col("rn") <= n)
        .collect().map(r => (r.getString(0), r.getLong(2), r.getInt(3))).toSet
      val salted = Skew.topNPerKey(df, "k", "id", ordering, n, salts,
          keepRank = Some("rn"))
        .collect().map(r => (r.getString(0), r.getLong(2), r.getInt(3))).toSet
      assert(salted == plain, s"n=$n salts=$salts")
    }
  }

  test("vec_qdot matches the interpreted quantized HOF computation") {
    VectorFunctions.register(spark)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", ArrayType(FloatType))))
    val rnd = new scala.util.Random(3)
    val df = frame(schema, (0L until 20L).map(i =>
      Map[String, Any]("id" -> i, "v" -> Seq.fill(8)(rnd.nextFloat() * 4 - 2))))
    val w = Seq(-8, 3, 0, 7, -2, 5, -1, 4)
    val got = df.select(col("id"),
      expr(s"vec_qdot(v, array(${w.mkString(", ")}))").as("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hof = df.select(col("id"),
      expr(s"aggregate(zip_with(v, array(${w.mkString(", ")}), " +
        "(x, y) -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT) * y), " +
        "CAST(0 AS BIGINT), (s, x) -> s + x)").as("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == hof)
  }

  test("banded simhash pairs equal brute force and avoid cartesian joins") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("fp", LongType)))
    val rnd = new scala.util.Random(11)
    // cluster fingerprints so some pairs fall at each hamming distance 0..6
    val base = Seq.fill(10)(rnd.nextLong() & 0xffffffffL)
    val fps = frame(schema, (0 until 60).map { i =>
      var f = base(i % 10)
      (0 until i % 7).foreach(_ => f ^= 1L << rnd.nextInt(32))
      Map[String, Any]("id" -> i.toLong, "fp" -> f)
    })
    val banded = Dedup.simHashPairs(fps, maxHamming = 3)
    val plan = banded.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"banded simhash plan must not contain a cartesian product:\n$plan")
    val got = banded.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = fps.select(col("id").as("d1"), col("fp").as("fa"))
      .crossJoin(fps.select(col("id").as("d2"), col("fp").as("fb")))
      .where(col("d1") < col("d2") && expr("bit_count(fa ^ fb)") <= 3)
      .select(col("d1"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute) // pigeonhole: recall is exact for ham <= bands-1
    assert(brute.nonEmpty)

    // 64-bit fingerprints (incl. set sign bits): same equivalence holds
    val base64 = Seq.fill(10)(rnd.nextLong())
    val fps64 = frame(schema, (0 until 60).map { i =>
      var f = base64(i % 10)
      (0 until i % 7).foreach(_ => f ^= 1L << rnd.nextInt(64))
      Map[String, Any]("id" -> i.toLong, "fp" -> f)
    })
    val got64 = Dedup.simHashPairs(fps64, maxHamming = 3, nBits = 64)
      .select(col("d1"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute64 = fps64.select(col("id").as("d1"), col("fp").as("fa"))
      .crossJoin(fps64.select(col("id").as("d2"), col("fp").as("fb")))
      .where(col("d1") < col("d2") && expr("bit_count(fa ^ fb)") <= 3)
      .select(col("d1"), col("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got64 == brute64)
    assert(brute64.nonEmpty)

    // 64-bit simHash itself: identical docs collide, fingerprints differ
    val d64 = Dedup.simHash(docs((1L, "x y z"), (2L, "x y z"), (3L, "p q r")),
      "doc_id", "text", nBits = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d64(1L) == d64(2L) && d64(1L) != d64(3L))
  }

  test("connected components: chains, separate clusters, canonical min rep") {
    val schema = StructType(Seq(
      StructField("d1", LongType), StructField("d2", LongType)))
    // chain 5-4-3-2-1 (worst case for propagation: diameter 4),
    // triangle {10,11,12}, isolated pair {20,21}
    val pairs = frame(schema, Seq(
      (5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)).map { case (a, b) => Map[String, Any]("d1" -> a, "d2" -> b) })
    val labels = Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(labels(_) == 1L)) // whole chain collapses to min
    assert(Seq(10L, 11L, 12L).forall(labels(_) == 10L))
    assert(labels(20L) == 20L && labels(21L) == 20L)
    val cl = Dedup.clusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 5L, 10L -> 3L, 20L -> 2L))
    graft.util.Caches.drain()
  }

  test("connected components agree with union-find on random graphs") {
    val schema = StructType(Seq(
      StructField("d1", LongType), StructField("d2", LongType)))
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      // sparse random graph: ~1.2 edges/node leaves a mix of large
      // components, small trees, chains, and cycles
      val n = 300
      val edges = Seq.fill(360)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> find(id.toInt).toLong).toMap
      // expected labels are the component MINIMUM among touched nodes:
      // union-by-min with path compression guarantees find() is the min
      // Both routing paths against the same reference: the default call
      // short-circuits to the single-task union-find at this size;
      // threshold 0 forces the distributed fixpoint. Identical labels is
      // the contract that makes the threshold a pure cost knob.
      val pairsDf = frame(schema, edges.map { case (a, b) =>
        Map[String, Any]("d1" -> a, "d2" -> b) })
      val gotLocal = Dedup.components(pairsDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotLocal == expected, s"seed $seed: local path diverges from union-find")
      val gotFix = Dedup.componentsWithRounds(pairsDf, localEdgeThreshold = 0)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotFix == expected, s"seed $seed: fixpoint diverges from union-find")
      graft.util.Caches.drain()
    }
  }

  test("connected components costs one action per iteration") {
    val schema = StructType(Seq(
      StructField("d1", LongType), StructField("d2", LongType)))
    val pairs = frame(schema, Seq(
      (5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L), (10L, 11L)).map {
      case (a, b) => Map[String, Any]("d1" -> a, "d2" -> b)
    })
    // Raw Spark-job counts include one job per AQE stage materialization,
    // so pin the number of ACTIONS instead (QueryExecutionListener fires
    // once per action): the round's convergence count must be its only
    // action — the old shape ran 3 eager checkpoints + a count per round.
    val actions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // Threshold 0: this test pins the FIXPOINT's per-round action shape,
      // which the small-edge short-circuit would otherwise bypass (0 also
      // skips the routing count, so the action budget is unchanged).
      val result = Dedup.componentsWithRounds(pairs, localEdgeThreshold = 0)._1
      val labels = result
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 5L).forall(labels(_) == 1L) && labels(11L) == 10L)
      // listener events post asynchronously — settle before reading
      var prev = -1; var settled = 0; var iters = 0
      while (settled < 2 && iters < 50) {
        val cur = actions.get()
        if (cur == prev) settled += 1 else settled = 0
        prev = cur; iters += 1; Thread.sleep(100)
      }
      // Chain of diameter 4 converges in 3 path-halved rounds; each round
      // fires exactly 3 listener events — eager hop checkpoint (a real
      // job), lazy next checkpoint (plan-only, no job), and the fused
      // convergence count — + the final collect = 10. A per-round shape
      // regression (an extra eager materialization: 4/round = 13) trips
      // this.
      assert(actions.get() <= 10,
        s"expected <= 10 actions, saw ${actions.get()}")
      // The round-4 regression (persist-only rounds) kept the action count
      // flat but let the logical plan double per round through the
      // path-halving self-join — 4-8x wall time in pure driver planning.
      // Pin plan flatness: the result must sit on a checkpoint boundary
      // (LogicalRDD + projection), with size independent of diameter.
      val planSize = result.queryExecution.analyzed.collect { case n => n }.size
      assert(planSize <= 6, s"components plan not flat: $planSize nodes")
    } finally {
      spark.listenerManager.unregister(listener)
      graft.util.Caches.drain()
    }
  }

  test("components plan stays flat as diameter (and round count) grows") {
    val schema = StructType(Seq(
      StructField("d1", LongType), StructField("d2", LongType)))
    def chain(n: Int) = frame(schema, (1 until n).map(i =>
      Map[String, Any]("d1" -> i.toLong, "d2" -> (i + 1).toLong)))
    // Twice the rounds must NOT mean a deeper plan: every round ends on a
    // localCheckpoint boundary, so the analyzed plan of the result is the
    // same handful of nodes for a 6-node chain and a 40-node chain.
    // (Threshold 0 forces the fixpoint — the property under test.)
    val small = Dedup.componentsWithRounds(chain(6), localEdgeThreshold = 0)._1
    val large = Dedup.componentsWithRounds(chain(40), localEdgeThreshold = 0)._1
    val sizeS = small.queryExecution.analyzed.collect { case n => n }.size
    val sizeL = large.queryExecution.analyzed.collect { case n => n }.size
    assert(sizeL == sizeS,
      s"plan grew with iteration count: $sizeS -> $sizeL nodes")
    val labels = large.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 40L).forall(labels(_) == 1L))
    graft.util.Caches.drain()
  }

  test("jaccard df cap excludes near-universal shingles from the measure") {
    // "XXXXX" appears in every doc; with maxDf=2 it can't contribute, so
    // docs sharing ONLY that shingle produce no pair.
    val d = docs((1L, "XXXXXabcde"), (2L, "XXXXXabcde"), (3L, "XXXXXzyxwv"))
    val sh = Dedup.charShingles(d, "doc_id", "text", 5)
    val capped = Dedup.jaccardPairs(sh, threshold = 0.01, maxDf = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(capped.keySet == Set((1L, 2L))) // 3 shares only the universal shingle
    assert(capped((1L, 2L)) == 1.0) // and the capped universe is consistent
    val uncapped = Dedup.jaccardPairs(sh, threshold = 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("embedding near-dup LSH: exact precision, equi-join plan, determinism") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val rnd = new scala.util.Random(5)
    def jitter(v: Seq[Float]) = v.map(x => x + rnd.nextFloat() * 0.01f)
    val anchor = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    val e = frame(schema, (0L until 30L).map { i =>
      val v = if (i < 6) jitter(anchor) else Seq.fill(16)(rnd.nextFloat() * 2 - 1)
      Map[String, Any]("vec_id" -> i, "embedding" -> v)
    })
    val nd = Dedup.embeddingNearDups(e, "vec_id", "embedding",
      threshold = 0.9, dim = 16, nBits = 4, nTables = 6)
    val plan = nd.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"LSH near-dup plan must not contain a cartesian product:\n$plan")
    val got = nd.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact: every reported pair truly clears the threshold
    val brute = Dedup.exactCosinePairs(e, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(brute))
    // jittered clones are bucketed together in at least one table
    assert(got.exists { case (a, b) => a < 6 && b < 6 })
    graft.util.Caches.drain()
  }

  test("semantic dedup: exact precision within cells, canonical keep, equi-join plan") {
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
    val rnd = new scala.util.Random(9)
    def jitter(v: Seq[Float]) = v.map(x => x + rnd.nextFloat() * 0.005f)
    val anchor = Seq.fill(16)(rnd.nextFloat() * 2 - 1)
    val e = frame(schema, (0L until 24L).map { i =>
      val v = if (i % 8 == 0) jitter(anchor) else Seq.fill(16)(rnd.nextFloat() * 2 - 1)
      Map[String, Any]("vec_id" -> i, "embedding" -> v)
    })
    val pairs = Dedup.semanticPairs(e, "vec_id", "embedding",
      threshold = 0.95, dim = 16, nCells = 3, iters = 2, nProbes = 2)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"semantic-pair plan must stay an equi-join on the cell key:\n$plan")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact: every emitted pair truly clears the threshold
    val brute = Dedup.exactCosinePairs(e, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(brute))
    // the three anchor clones (0, 8, 16) are found and collapse to min-id 0
    assert(got.contains((0L, 8L)) || got.contains((0L, 16L)) || got.contains((8L, 16L)))
    val kept = Dedup.semanticDedup(e, "vec_id", "embedding",
      threshold = 0.95, dim = 16, nCells = 3, iters = 2, nProbes = 2)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(kept.contains(0L))
    assert(Set(8L, 16L).exists(id => !kept.contains(id)))
    graft.util.Caches.drain()
  }

  test("multi-probe LSH and 2-probe IVF reach target recall at sf0.01") {
    val e = graft.ops.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val qs = e.where(col("vec_id") < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Ann.bruteForceTopK(e, qs, "vec_id", "embedding", 5))

    val single = pairs(Ann.lshTopK(e, qs, "vec_id", "embedding", dim = 64, nBits = 8, k = 5))
    val multi = pairs(Ann.multiProbeLshTopK(e, qs, "vec_id", "embedding",
      dim = 64, nBits = 8, k = 5, nFlipBits = 5, nTables = 4))
    val sRecall = (single & brute).size.toDouble / brute.size
    val mRecall = (multi & brute).size.toDouble / brute.size
    info(f"LSH recall: single-probe $sRecall%.2f, multi-probe $mRecall%.2f")
    assert(mRecall >= 0.8, f"multi-probe recall $mRecall%.2f < 0.8")
    assert(mRecall > sRecall, "multi-probe must beat single-probe")

    val ivf1 = pairs(Ann.ivfTopK(e, qs, "vec_id", "embedding", 64, 8, 2, 5))
    val ivf2 = pairs(Ann.ivfTopK(e, qs, "vec_id", "embedding", 64, 8, 2, 5, nProbes = 2))
    val i1 = (ivf1 & brute).size.toDouble / brute.size
    val i2 = (ivf2 & brute).size.toDouble / brute.size
    info(f"IVF recall: 1-probe $i1%.2f, 2-probe $i2%.2f")
    assert(i2 >= 0.9, f"2-probe IVF recall $i2%.2f < 0.9")
    assert(i2 >= i1)
  }

  test("multimodal: real PNG encode/decode round-trip recovers exact pixels") {
    import graft.operators.Multimodal
    // the payload is a genuine PNG (signature bytes 89 50 4E 47)
    val png = Multimodal.syntheticPng(7L)
    assert((png(0) & 0xff) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')

    val d = docs((7L, "unused"), (20L, "unused"))
    val got = Multimodal.decodeFeatures(
      Multimodal.encodePayloads(d, "doc_id"), "doc_id", "payload")
      .collect().map(m => m.doc_id -> m).toMap
    for (id <- Seq(7L, 20L)) {
      val (w, h) = Multimodal.dims(id)
      val m = got(id)
      assert(m.width == w && m.height == h && m.n_px == w.toLong * h)
      assert(m.sum_gray == (0 until w * h).map(Multimodal.pixel(id, _)).map(_.toLong).sum)
      assert(m.f0 == Multimodal.pixel(id, 0) && m.f3 == Multimodal.pixel(id, 3))
    }
  }

  test("multimodal: real JPEG round-trip — exact geometry, bounded pixel error") {
    import graft.operators.Multimodal
    // the payload is a genuine JFIF stream (SOI marker FF D8)
    val jpg = Multimodal.syntheticJpeg(7L)
    assert((jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8)

    // Measure the codec's actual error across a spread of ids (all 143
    // distinct dims(id) geometries repeat with period lcm(13,11)=143) —
    // the battery gate's tolerance is pinned from this measurement.
    val ids = (0L until 143L).toSeq
    val d = docs(ids.map(id => (id, "unused")): _*)
    val got = Multimodal.jpegRoundTrip(
      Multimodal.encodeJpegs(d, "doc_id"), "doc_id", "payload")
      .collect().map(m => m.doc_id -> m).toMap
    val worst = got.values.map(_.max_err).max
    info(s"max abs pixel error across ${ids.size} docs: $worst")
    for (id <- ids) {
      val (w, h) = Multimodal.dims(id)
      val m = got(id)
      assert(m.width == w && m.height == h && m.n_px == w.toLong * h,
        s"doc $id: lossy coding must not touch geometry")
    }
    // Measured: 1 (this JDK codec, q=1.0, all 143 geometries). The battery
    // row gates at <= 2; a codec change pushing past that should fail
    // HERE first with the measured number in the message.
    assert(worst <= 2, s"JPEG q=1.0 max pixel error $worst exceeds the gate bound")
  }

  test("multimodal: real WAV encode/decode round-trip recovers exact PCM stats") {
    import graft.operators.Multimodal
    // the payload is a genuine RIFF/WAVE container
    val wav = Multimodal.syntheticWav(7L)
    assert(new String(wav.take(4), "US-ASCII") == "RIFF" &&
      new String(wav.slice(8, 12), "US-ASCII") == "WAVE")

    val d = docs((7L, "unused"), (20L, "unused"))
    val got = Multimodal.decodeAudioFeatures(
      Multimodal.encodeWavs(d, "doc_id"), "doc_id", "audio")
      .collect().map(m => m.doc_id -> m).toMap
    for (id <- Seq(7L, 20L)) {
      val n = Multimodal.audioLen(id)
      val samples = (0 until n).map(Multimodal.audioSample(id, _))
      val m = got(id)
      assert(m.sample_rate == 8000 && m.n_channels == 1 && m.n_samples == n)
      assert(m.sum_abs == samples.map(v => math.abs(v).toLong).sum)
      assert(m.max_abs == samples.map(math.abs).max)
      assert(m.zero_crossings ==
        samples.sliding(2).count(p => p.head.toLong * p.last < 0))
    }
  }

  test("multimodal: nearest-neighbor resize matches floor-sampled source") {
    import graft.operators.Multimodal
    val d = docs((3L, "unused"), (11L, "unused"))
    val (outW, outH) = (8, 6)
    val got = Multimodal.resizeFeatures(
      Multimodal.encodePayloads(d, "doc_id"), "doc_id", "payload", outW, outH)
      .collect().map(m => m.doc_id -> m).toMap
    for (id <- Seq(3L, 11L)) {
      val (w, h) = Multimodal.dims(id)
      val m = got(id)
      assert(m.src_w == w && m.src_h == h && m.out_w == outW && m.out_h == outH)
      val expected = for (y <- 0 until outH; x <- 0 until outW)
        yield Multimodal.pixel(id, (y * h / outH) * w + (x * w / outW))
      assert(m.sum_resized == expected.map(_.toLong).sum)
      assert(m.r0 == expected(0) && m.r1 == expected(1) &&
        m.r2 == expected(2) && m.r3 == expected(3))
    }
  }

  test("multimodal: frame sampling reads geometry from the clip header") {
    import graft.operators.Multimodal
    val d = docs((5L, "unused"), (9L, "unused"))
    val rows = Multimodal.sampleFrames(
      Multimodal.encodeClips(d, "doc_id", nFrames = 12), "doc_id", "clip",
      stride = 4)
      .collect().map(m => (m.doc_id, m.frame_no) -> m.sum_luma).toMap
    // every 4th of 12 frames, per doc
    assert(rows.keySet == (for (id <- Seq(5L, 9L); f <- Seq(0, 4, 8))
      yield (id, f)).toSet)
    for (id <- Seq(5L, 9L); f <- Seq(0, 4, 8)) {
      val (w, h) = Multimodal.dims(id)
      val expected = (0 until w * h).map(Multimodal.clipLuma(id, f, _).toLong).sum
      assert(rows((id, f)) == expected, s"doc $id frame $f")
    }
    // truncated payload rejected (header intact, frames cut short)
    import org.apache.spark.sql.functions._
    val truncated = Multimodal.encodeClips(d, "doc_id", nFrames = 2)
      .withColumn("clip", expr("substring(clip, 1, 10)"))
    val e1 = intercept[org.apache.spark.SparkException] {
      Multimodal.sampleFrames(truncated, "doc_id", "clip", stride = 1).collect()
    }
    assert(e1.getMessage.contains("truncated clip"), e1.getMessage)
    // unknown header version rejected (byte 3 flipped to 2)
    val badVersion = Multimodal.encodeClips(d, "doc_id", nFrames = 2)
      .withColumn("clip", concat(expr("substring(clip, 1, 3)"),
        lit(Array[Byte](2.toByte)), expr("substring(clip, 5, 1000000)")))
    val e2 = intercept[org.apache.spark.SparkException] {
      Multimodal.sampleFrames(badVersion, "doc_id", "clip", stride = 1).collect()
    }
    assert(e2.getMessage.contains("not a v1 raw clip"), e2.getMessage)
  }

  test("repetition signals: known fractions, single-token doc gets null bigram frac") {
    val d = docs(
      (1L, "a a a b"),        // 4 toks, 2 distinct; top tok 3x; bigrams: "a a"x2, "a b" → top 2/3
      (2L, "x y z w"),        // no repetition at all
      (3L, "solo"))           // 1 token: no bigrams
    val got = TextAnalysis.repetition(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(got(1L) == ((4L, 0.5, 0.75, Some(2.0 / 3))))
    assert(got(2L) == ((4L, 0.0, 0.25, Some(1.0 / 3))))
    assert(got(3L) == ((1L, 0.0, 1.0, None)))
  }

  test("ngram top-k: counts, deterministic tie-break, limit") {
    val d = docs((1L, "p q p q"), (2L, "p q r"), (3L, "z z"))
    // bigrams: "p q"x3, "q p"x1, "q r"x1, "z z"x1
    val got = TextAnalysis.ngramTopK(d, "doc_id", "text", k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("p q", 3L), ("q p", 1L), ("q r", 1L))) // ties → asc bigram
  }

  test("contamination: gram overlap counts, short docs excluded, broadcast plan") {
    val mk = (s: String, n: Int) => Seq.fill(n)(s).mkString(" ")
    val shared = (1 to 13).map(i => s"t$i").mkString(" ")
    val d = docs(
      (1L, shared + " tail"),          // eval doc: grams of the shared window
      (30L, shared),                   // exactly the shared 13-gram → 1/1 hit
      (31L, mk("zz", 20)),             // no overlap → absent from result
      (32L, mk("w", 12)))              // < 13 tokens → excluded entirely
    val q = TextAnalysis.contamination(
      d.where(col("doc_id") >= 20), d.where(col("doc_id") < 20), "doc_id", "text", 13)
    val got = q.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(30L -> ((1L, 1L))))
    // the eval-gram side must be broadcast — no shuffle of corpus grams
    assert(q.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      q.queryExecution.executedPlan.toString)
  }

  test("repetition fractions agree with a direct computation on random docs") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d")
    val rows = (0 until 40).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = TextAnalysis.repetition(docs(rows: _*), "doc_id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
        Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    rows.foreach { case (id, text) =>
      val toks = text.split(" ").toSeq
      val n = toks.size
      val tokCounts = toks.groupBy(identity).map(_._2.size)
      val bgs = toks.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
      val expBg =
        if (n >= 2) Some(bgs.groupBy(identity).map(_._2.size).max.toDouble / bgs.size)
        else None
      val exp = (n.toLong, (n - tokCounts.size).toDouble / n,
        tokCounts.max.toDouble / n, expBg)
      assert(got(id) == exp, s"doc $id '$text'")
    }
  }

  test("contamination agrees with brute-force gram intersection on random docs") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("x", "y") // tiny vocab: real 3-gram collisions
    val rows = (0 until 40).map { i =>
      val n = 1 + rnd.nextInt(10)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(2))).mkString(" "))
    }
    def grams(text: String): Set[String] =
      text.split(" ").toSeq.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    val evalGrams = rows.filter(_._1 < 10).flatMap(r => grams(r._2)).toSet
    val expected = rows.filter(_._1 >= 10).flatMap { case (id, text) =>
      val g = grams(text)
      val hits = g.count(evalGrams.contains)
      if (hits > 0) Some(id -> ((g.size.toLong, hits.toLong))) else None
    }.toMap
    val d = docs(rows: _*)
    val got = TextAnalysis.contamination(
      d.where(col("doc_id") >= 10), d.where(col("doc_id") < 10),
      "doc_id", "text", n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    assert(expected.nonEmpty) // the fixture actually produced overlaps
  }

  test("hash split: total, deterministic, and salt-sensitive") {
    val d = docs((0 until 64).map(i => (i.toLong, s"doc $i")): _*)
    val a = d.select(col("doc_id"), TextAnalysis.hashSplit(col("doc_id"), "s1").as("sp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a.values.forall(Set("train", "val", "test")), a.values.toSet.toString)
    assert(a.values.toSet.size == 3) // 64 ids hit all three buckets w.h.p.
    val b = d.select(col("doc_id"), TextAnalysis.hashSplit(col("doc_id"), "s1").as("sp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b) // same salt → identical assignment
    val c = d.select(col("doc_id"), TextAnalysis.hashSplit(col("doc_id"), "s2").as("sp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a != c) // different salt re-rolls the split
  }

  test("hash uniform: in [0,1), deterministic, salt-sensitive, md5-exact") {
    val d = docs((0 until 256).map(i => (i.toLong, "t")): _*)
    def draw(salt: String) =
      d.select(col("doc_id"), TextAnalysis.hashUniform(col("doc_id"), salt).as("u"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a = draw("s1")
    assert(a.values.forall(u => u >= 0.0 && u < 1.0))
    assert(a == draw("s1"))
    assert(a != draw("s2"))
    // Spot-check one value against the definition (first 8 md5 hex chars
    // over 2^32) computed JVM-side — pins the cross-engine contract the
    // DuckDB oracle relies on.
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("s1:7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(a(7L) == java.lang.Long.parseLong(md.take(8), 16).toDouble / 4294967296.0)
    // Uniformity sanity at n=256: the mean of 256 uniform draws is within
    // 5 sigma (~0.09) of 0.5.
    assert(math.abs(a.values.sum / 256.0 - 0.5) < 0.09)
  }

  test("cap per key: at most n rows per key, a deterministic input subset") {
    val rows = (0 until 90).map(i => (i.toLong, s"k${i % 3}"))
    val d = spark.createDataFrame(rows).toDF("id", "k")
    val kept = TextAnalysis.capPerKey(d, "k", "id", 10, "c1")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.groupBy(_._2).forall(_._2.length == 10), kept.mkString(","))
    assert(kept.toSet.subsetOf(rows.toSet))
    val again = TextAnalysis.capPerKey(d, "k", "id", 10, "c1")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.sorted.toSeq == again.sorted.toSeq)
    // A cap above the group size keeps everything.
    assert(TextAnalysis.capPerKey(d, "k", "id", 100, "c1").count() == 90)
  }

  test("capPerKeyApprox plan: corpus side stays map-only (one count shuffle, broadcast join)") {
    val rows = (0 until 2000).map(i => (i.toLong, s"k${i % 5}"))
    val d = spark.createDataFrame(rows).toDF("id", "k")
    val capped = TextAnalysis.capPerKeyApprox(d, "k", "id", 10, "plan")
    capped.collect() // let AQE finalize join strategy from real sizes
    val plan = capped.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // The scaladoc's 100 TB claim, pinned: the only shuffle is the per-key
    // count aggregation (one row per key); the corpus side is joined by
    // broadcast and filtered in place — never sorted, never shuffled.
    val shuffles = "ShuffleExchange|Exchange hashpartitioning".r.findAllIn(plan).size
    assert(plan.contains("BroadcastHashJoin"),
      s"counts must attach by broadcast at this size:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("SortExec"),
      s"nothing may be sorted:\n$plan")
    assert(shuffles <= 1, s"only the count agg may shuffle, saw $shuffles:\n$plan")
  }

  test("capPerKeyApprox: null keys are counted and capped, not dropped") {
    // The operator exists FOR hot null-ish default keys — a null-unsafe
    // join would silently drop exactly that group. With n >= every
    // group's size the keep-rate is >= 1, so the result is exact: all 30
    // rows survive, including the 10 null-key rows, matching capPerKey.
    val rows = (0 until 30).map(i =>
      (i.toLong, if (i % 3 == 0) null else s"k${i % 3}"))
    val d = spark.createDataFrame(rows).toDF("id", "k")
    val kept = TextAnalysis.capPerKeyApprox(d, "k", "id", 50, "cx")
    assert(kept.count() == 30)
    assert(kept.where(col("k").isNull).count() == 10)
    assert(kept.columns.toSeq == Seq("id", "k"))
  }

  test("capPerKeyApprox: null IDS survive under-cap keys (r13 coalesced hash input)") {
    // The last silent-drop class (r12 verdict): a null ROW ID made the
    // keep predicate NULL and dropped the row even in a group under the
    // cap — breaking capGroupRows' "groups <= n rows are untouched"
    // bit-identical contract. Now the hash input coalesces: under-cap
    // keys keep every row, null-id or not.
    val schema = StructType(Seq(
      StructField("id", StringType), StructField("k", StringType)))
    val rows = (0 until 40).map(i => Map[String, Any](
      "id" -> (if (i % 4 == 0) null else s"id$i"), "k" -> s"k${i % 2}"))
    val d = frame(schema, rows)
    // Cap far above every group's size: the contract says EXACT identity.
    val kept = TextAnalysis.capPerKeyApprox(d, "k", "id", 100, "nid")
    assert(kept.count() == 40, "under-cap keys must keep all rows, null ids included")
    assert(kept.where(col("id").isNull).count() == 10)
    // Over-cap: null-id rows share ONE deterministic draw — they are kept
    // or dropped together, and the run is reproducible.
    val hot = frame(schema, (0 until 400).map(i => Map[String, Any](
      "id" -> (if (i % 4 == 0) null else s"id$i"), "k" -> "hot")))
    val k1 = TextAnalysis.capPerKeyApprox(hot, "k", "id", 50, "nid2")
    val nullKept = k1.where(col("id").isNull).count()
    assert(nullKept == 0L || nullKept == 100L,
      s"null-id rows must draw together, kept $nullKept of 100")
    val k2 = TextAnalysis.capPerKeyApprox(hot, "k", "id", 50, "nid2")
    assert(k1.count() == k2.count() && nullKept == k2.where(col("id").isNull).count())
  }

  test("int8 quantization matches a driver mirror; gate holds; constant vectors code to 0") {
    val vecs: Seq[(Long, Array[Float])] = Seq(
      1L -> Array(0.5f, -0.25f, 0.125f, 0.9f),
      2L -> Array(0.3f, 0.3f, 0.3f, 0.3f),          // degenerate: R = 0
      3L -> Array(-0.999f, 0.001f, 0.42f, -0.17f))
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val got = Ann.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val want = vecs.flatMap { case (id, v) =>
      val q = v.map(x => math.floor(x.toDouble * 1024).toLong)
      val (mn, mx) = (q.min, q.max)
      q.zipWithIndex.map { case (x, i) =>
        val code = if (mx > mn) (x - mn) * 254 / (mx - mn) - 127 else 0L
        (id, i.toLong) -> (mn, mx, code) }
    }.toMap
    assert(got == want)
    assert(got.filter(_._1._1 == 2L).values.forall(_._3 == 0L))
    val gate = Ann.quantizeInt8ErrGate(df, "vec_id", "embedding").collect()
    assert(gate.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("PQ ADC top-k recovers cluster neighbors on well-separated data") {
    // 4 well-separated clusters of 12 vectors in 16 dims: a query's true
    // top-k is its own cluster, and PQ codes preserve cluster identity
    // easily at this separation — recall@5 vs brute force must be ≥ 0.8.
    val rnd = new scala.util.Random(7)
    val vecs: Seq[(Long, Array[Float])] = (0 until 48).map { i =>
      val c = i % 4
      val base = Array.tabulate(16)(j => if (j % 4 == c) 5f else 0f)
      i.toLong -> base.map(x => x + rnd.nextFloat() * 0.2f)
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 4)
    val pq = Ann.pqTopK(df, q, "vec_id", "embedding",
      dim = 16, nSub = 4, nCodes = 8, iters = 2, k = 5)
    // PQ preserves COARSE geometry: within a cluster the codes collapse,
    // so exact top-5-of-11 overlap is tie-luck — the correct contract is
    // that every returned neighbor comes from the query's own cluster.
    val rows = pq.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(1) % 4 == r.getLong(0) % 4),
      s"PQ returned a cross-cluster neighbor:\n${rows.mkString("\n")}")
    // Shape contract: k rows per query, ranks 1..k, no self-matches.
    assert(rows.groupBy(_.getLong(0)).values.forall(_.length == 5))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    assert(rows.groupBy(_.getLong(0)).values
      .forall(_.map(_.getInt(2)).sorted.toSeq == (1 to 5)))
  }

  test("IVFADC: in-cluster neighbors; full-probe full-rerank equals brute force") {
    // Same 4-cluster geometry as the PQ test: IVF cells align with the
    // clusters, residual codes preserve within-cluster geometry.
    val rnd = new scala.util.Random(11)
    val vecs: Seq[(Long, Array[Float])] = (0 until 48).map { i =>
      val c = i % 4
      val base = Array.tabulate(16)(j => if (j % 4 == c) 5f else 0f)
      i.toLong -> base.map(x => x + rnd.nextFloat() * 0.2f)
    }
    val df = spark.createDataFrame(vecs).toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 4)
    val got = Ann.ivfPqTopK(df, q, "vec_id", "embedding",
      dim = 16, nCells = 4, ivfIters = 2, nSub = 4, nCodes = 8,
      pqIters = 2, k = 5, nProbes = 1)
    val rows = got.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(1) % 4 == r.getLong(0) % 4),
      s"IVFADC returned a cross-cluster neighbor:\n${rows.mkString("\n")}")
    assert(rows.groupBy(_.getLong(0)).values.forall(_.length == 5))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    assert(rows.groupBy(_.getLong(0)).values
      .forall(_.map(_.getInt(2)).sorted.toSeq == (1 to 5)))
    // Exactness at the limit: probing EVERY cell with a shortlist wider
    // than the corpus makes the exact re-rank see all candidates, so the
    // result must equal brute force row-for-row — pins the decomposition
    // dot(q,v) = dot(q,centroid) + dot(q,residual) end to end (a wrong
    // exact term or residual sign would reorder the shortlist's tail only
    // if ADC error exceeded the shortlist slack; here there IS no slack).
    val all = Ann.ivfPqTopK(df, q, "vec_id", "embedding",
      dim = 16, nCells = 4, ivfIters = 2, nSub = 4, nCodes = 8,
      pqIters = 2, k = 5, nProbes = 4, rerank = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = Ann.bruteForceTopK(df, q, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(all == brute, "full-probe full-rerank IVFADC diverged from brute force")
  }

  test("bloom blocklist filter equals the plain anti-join exactly, keeps null keys") {
    // 200 docs; blocklist = hashes of ids 0..19 plus a value absent from
    // the corpus; ids 100..119 duplicate the blocked texts (must also be
    // dropped); one null-key row (must be kept — anti-join semantics).
    val rows = (0 until 200).map { i =>
      val t = if (i >= 100 && i < 120) s"text_${i - 100}" else s"text_$i"
      (i.toLong, t)
    } :+ (999L, null.asInstanceOf[String])
    val d = spark.createDataFrame(rows).toDF("doc_id", "k")
    val block = spark.createDataFrame(
      (0 until 20).map(i => Tuple1(s"text_$i")) :+ Tuple1("absent")).toDF("bk")
    val kept = TextAnalysis.blocklistFilter(d, "k", block, "bk",
      expectedItems = 32, fpp = 0.05)
    val exact = d.join(block, col("k") === col("bk"), "left_anti")
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val exactIds = exact.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == exactIds, s"bloom-routed result diverged from anti-join")
    // Both dup ranges blocked, null-key row kept, clean rows kept.
    assert(!keptIds.exists(i => i < 20 || (i >= 100 && i < 120)))
    assert(keptIds.contains(999L) && keptIds.contains(50L))
    assert(keptIds.size == 161)
  }

  test("pqTrain: corpus smaller than nCodes trains short books, no crash") {
    import graft.operators.Ann
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", ArrayType(FloatType))))
    val d = frame(schema, (0L until 10L).map(i =>
      Map[String, Any]("id" -> i, "v" -> Seq.tabulate(8)(j => (i + j).toFloat))))
    // Review regression: iters >= 1 used to AIOOBE on the Lloyd rebuild
    // (accumulators sized to nCodes while books held only |corpus| codes).
    val books = Ann.pqTrain(d, "id", "v", dim = 8, nSub = 2, nCodes = 16, iters = 2)
    assert(books.length == 2 && books.forall(_.length == 10),
      "books must be sized to the actual corpus, not nCodes")
    graft.util.Caches.drain()
  }

  test("bloom might_contain: no false negatives; codegen and interpreted agree") {
    import org.apache.spark.util.sketch.BloomFilter
    val bloom = BloomFilter.create(100, 0.03)
    (0L until 100L).foreach(i => bloom.putLong(i * 7919L))
    val d = spark.range(200).select((col("id") * 7919L).as("h"))
    val probed = graft.functions.BloomFunctions.withMightContain(
      spark, bloom, col("h"))(c => d.select(col("h"), c.as("m")))
    // The registration is scoped: after the builder returns, the temp
    // function is gone from the registry (the leak the scoping prevents)
    // while the already-analyzed frame still executes.
    assert(!spark.sessionState.functionRegistry.listFunction()
      .exists(_.funcName.startsWith("graft_bloom_mc")))
    val got = probed.collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    // Every inserted value MUST probe true (bloom guarantee).
    (0L until 100L).foreach(i => assert(got(i * 7919L), s"false negative at $i"))
    // The filter must also say no somewhere (sanity: it's not degenerate).
    assert(got.values.count(_ == false) > 0)
  }

  // --- LM quality scoring ----------------------------------------------

  /** Driver mirror of LmScore's canonical form and trigram slicing. */
  private def lmTris(t: String): Seq[String] = {
    val nt = t.replaceAll("[^A-Za-z ]", "").toLowerCase.replaceAll(" +", " ").trim
    if (nt.length < 3) Seq.empty[String]
    else (0 to nt.length - 3).map(i => nt.substring(i, i + 3))
  }

  /** Driver mirror of LmScore.score over `model` (tri → score_micro) and
    * its `oov` sentinel: (n_tri, Σ score / n_tri) per doc with at least
    * one trigram. */
  private def lmMirrorScores(texts: Map[Long, String], model: Map[String, Long],
                             oov: Long): Map[Long, (Long, Double)] =
    texts.flatMap { case (id, t) =>
      val ts = lmTris(t)
      if (ts.isEmpty) None
      else Some(id -> (ts.size.toLong,
        ts.map(g => model.getOrElse(g, oov)).sum.toDouble / ts.size))
    }

  test("LM score matches a driver-side mirror fold exactly") {
    // Mixed charset (canonicalization), short docs (dropped), pure-OOV
    // docs, and reference docs (id % 10 == 0 is the training slice).
    val d = docs(
      0L  -> "The CAT sat on the mat, the cat sat!",
      10L -> "the mat sat on the cat  and   the rat",
      20L -> "a cat and a rat sat... 42 times",
      1L  -> "the cat sat QUICKLY on the mat",
      2L  -> "xyzzy qwfp jjjj zzzz",   // mostly out-of-vocabulary
      3L  -> "zz",                      // canonical length < 3: omitted
      4L  -> "!!! 123 ???")             // canonical empty: omitted
    val fixture = java.nio.file.Files.createTempDirectory("lm_fix").toString
    val got = operators.LmScore.trainAndScore(
        spark, d, d.where(col("doc_id") % 10 === 0), "doc_id", "text",
        s"$fixture/model")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap

    // Independent mirror: same canonicalization/trigram/smoothing contract,
    // folded in plain Scala. Same-JVM math.log ⇒ the model integers match
    // what Spark's log wrote to the fixture; sums and the single division
    // must then be bit-identical.
    val texts = Map(0L -> "The CAT sat on the mat, the cat sat!",
      10L -> "the mat sat on the cat  and   the rat",
      20L -> "a cat and a rat sat... 42 times",
      1L -> "the cat sat QUICKLY on the mat",
      2L -> "xyzzy qwfp jjjj zzzz", 3L -> "zz", 4L -> "!!! 123 ???")
    val refTris = Seq(0L, 10L, 20L).flatMap(i => lmTris(texts(i)))
    val counts  = refTris.groupBy(identity).map { case (k, v) => k -> v.size }
    val tv      = refTris.size + counts.size
    val model   = counts.map { case (k, c) =>
      k -> math.floor(1e6 * math.log((c + 1).toDouble / tv)).toLong }
    val oov     = math.floor(1e6 * math.log(1.0 / tv)).toLong
    assert(got == lmMirrorScores(texts, model, oov))
    // Reference docs must outscore the mostly-OOV doc by construction.
    assert(got(0L)._2 > got(2L)._2)
  }

  test("LM score plan: no exchange, no join, no generator") {
    val d = docs((0L until 40L).map(i =>
      i -> s"the cat sat on mat number $i and slept"): _*)
    val fixture = java.nio.file.Files.createTempDirectory("lm_fix2").toString
    val scored = operators.LmScore.trainAndScore(
      spark, d, d.where(col("doc_id") % 10 === 0), "doc_id", "text",
      s"$fixture/model")
    scored.collect()
    val plan = scored.queryExecution.executedPlan.toString
    // The 100 TB claim pinned: each document is scored inside its own row
    // by the native fold — its trigrams are never exploded, joined to the
    // model or moved between partitions.
    assert(plan.contains("lm_row_score"), s"scored by the native fold:\n$plan")
    Seq("Exchange", "Join", "Generate").foreach(op =>
      assert(!plan.contains(op), s"scoring plan holds a $op:\n$plan"))
  }

  test("IVFADC index save/load round-trips bit-exactly; serving is identical") {
    import org.apache.spark.sql.Row
    val rnd = new scala.util.Random(5)
    val dim = 16
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("v", ArrayType(FloatType))))
    val rows = (0L until 120L).map(i =>
      Row(i, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
    val e = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val (codes, cents, books) = Ann.ivfPqIndex(e, "vec_id", "v",
      dim, nCells = 4, ivfIters = 2, nSub = 4, nCodes = 8, pqIters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString
    Ann.saveIvfPqIndex(path, codes, cents, books)
    val (codes2, cents2, books2) = Ann.loadIvfPqIndex(spark, path)
    assert(cents2.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    assert(books2.map(_.map(_.toSeq).toSeq).toSeq == books.map(_.map(_.toSeq).toSeq).toSeq)
    assert(codes2.collect().map(_.toString).sorted.toSeq ==
      codes.collect().map(_.toString).sorted.toSeq)
    val q = e.where(col("vec_id") < 3)
    def served(cd: org.apache.spark.sql.DataFrame, ct: Array[Array[Double]],
               bk: Array[Array[Array[Double]]]) =
      Ann.ivfPqServe(e, q, "vec_id", "v", ct, bk, cd, k = 4, nProbes = 2, rerank = 4)
        .collect().map(_.toString).sorted.toSeq
    assert(served(codes2, cents2, books2) == served(codes, cents, books))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("weighted sample: equals the driver-side lottery; weight<1 never drawn") {
    val rows = (0L until 120L).map(i => (i, 1L + i % 5))
    val d = spark.createDataFrame(rows).toDF("id", "w")
      // id 7 gets weight 0: zero tickets, must never be sampled
      .withColumn("w", when(col("id") === 7L, lit(0L)).otherwise(col("w")))

    // Integer-weight contract (r12): a DOUBLE weight column (rates)
    // would truncate silently / sample nothing — rejected loudly, with
    // the error naming the rate-shaped alternative.
    val dblW = d.withColumn("w", col("w").cast("double") / 2)
    val wErr = intercept[IllegalArgumentException] {
      operators.Sampling.weightedSample(dblW, "id", "w", k = 5, salt = "t0")
    }
    assert(wErr.getMessage.contains("weightedKeepExpected"))
    val got = operators.Sampling.weightedSample(d, "id", "w", k = 30, salt = "t1")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    // Driver mirror: max of w salted md5 draws, top 30 by (ticket desc, id).
    val want = rows.map { case (i, w0) =>
      val w = if (i == 7L) 0L else w0
      val t = (0L until w).map(j => md5hex(s"t1:$i:$j")).sorted.lastOption.orNull
      (i, t)
    }.filter(_._2 != null).sortBy { case (i, t) => (t, i) }(
      Ordering.Tuple2(Ordering.String.reverse, Ordering.Long)).take(30)
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
    assert(!got.exists(_._1 == 7L))
    // Heavier weights are sampled more: mean weight of the sample must
    // exceed the population mean (deterministic given the fixed salt).
    val sampleMeanW = got.map(i => 1L + i._1 % 5).sum.toDouble / got.length
    val popMeanW = rows.map(_._2).sum.toDouble / rows.length
    assert(sampleMeanW > popMeanW, s"$sampleMeanW <= $popMeanW")
  }

  test("weighted sample plan: TakeOrdered, no global sort exchange") {
    val d = spark.createDataFrame((0L until 50L).map(i => (i, 1L + i % 3)))
      .toDF("id", "w")
    val q = operators.Sampling.weightedSample(d, "id", "w", k = 5, salt = "t2")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("rangepartitioning"),
      s"no global range-partitioned sort allowed:\n$plan")
  }

  test("weightedKeepExpected: kept set equals the driver mirror, size near k") {
    val rows = (0L until 1000L).map(i => (i, 1L + i % 8))
    val d = spark.createDataFrame(rows).toDF("id", "w")
    val k = 150L
    val got = operators.Sampling.weightedKeepExpected(d, "id", "w", k, "ke1")
      .collect().map(_.getLong(0)).toSet
    val total = rows.map(_._2).sum
    val want = rows.filter { case (i, w) =>
      val u = java.lang.Long.parseLong(md5hex(s"ke1:$i").take(8), 16).toDouble / 4294967296.0
      u < k.toDouble * w.toDouble / total.toDouble
    }.map(_._1).toSet
    assert(got == want)
    // Expected size k, sd < sqrt(k) ≈ 12; 5 sigma.
    assert(math.abs(got.size - k) < 62, s"sample size ${got.size} far from $k")
    // Keep rate rises with weight.
    val rateByW = rows.groupBy(_._2).view.mapValues { g =>
      g.count(r => got.contains(r._1)).toDouble / g.size
    }.toMap
    assert(rateByW(8L) > rateByW(1L))
  }

  test("weightedSamplePerKey: kept set equals the per-key driver mirror") {
    val rows = (0L until 150L).map(i => (i, s"k${i % 3}", 1L + i % 4))
    val d = spark.createDataFrame(rows).toDF("id", "k", "w")
    val n = 12
    val got = operators.Sampling.weightedSamplePerKey(d, "k", "id", "w", n, "wc1")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = rows.groupBy(_._2).flatMap { case (_, grp) =>
      grp.map { case (i, k, w) =>
        (i, k, (0L until w).map(j => md5hex(s"wc1:$i:$j")).max)
      }.sortBy { case (i, _, t) => (t, i) }(
        Ordering.Tuple2(Ordering.String.reverse, Ordering.Long)).take(n)
    }.map(e => (e._1, e._2)).toSet
    assert(got == want)
    assert(got.groupBy(_._2).values.forall(_.size == n))
    // A cap above the group size keeps everything.
    assert(operators.Sampling.weightedSamplePerKey(d, "k", "id", "w", 100, "wc1")
      .count() == 150)
  }

  test("shardByBudget equals the global-cumsum mirror; shards are contiguous") {
    val rows = (0L until 200L).map(i => (i, 1L + (i * 7) % 40)) // varied token counts
    val d = spark.createDataFrame(rows).toDF("id", "tok")
    val budget = 300L
    val got = operators.Sampling.shardByBudget(d, "id", col("tok"), budget, "sh1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // Driver mirror: exclusive prefix sum over the md5 line div budget.
    val line = rows.map { case (i, t) => (md5hex(s"sh1:$i"), i, t) }.sorted
    var cum = 0L
    val want = line.map { case (_, i, t) => val s = cum / budget; cum += t; (i, t, s) }
    assert(got.sortBy(_._1).toSeq == want.sortBy(_._1), "shard assignment mismatch")
    // Contiguity: along the md5 line, shard ids are non-decreasing, no
    // shard index is skipped, and the cumulative token total through each
    // shard k reaches past (k+1)*budget (the boundary rule; an individual
    // shard's own span may be shorter when a long row straddles its start).
    val byLine = want
    assert(byLine.map(_._3) == byLine.map(_._3).sorted)
    val last = byLine.map(_._3).max
    assert(byLine.map(_._3).distinct == (0L to last).toSeq)
    val cumThrough = byLine.scanLeft(0L)(_ + _._2).tail.zip(byLine.map(_._3))
    (0L until last).foreach { k =>
      val end = cumThrough.filter(_._2 == k).map(_._1).max
      assert(end >= (k + 1) * budget, s"shard $k ends at $end")
    }
  }

  test("space-saving foldCounts: exact under capacity, guarantees when bounded") {
    import graft.streaming.{HitterCounter, StreamingTopK}
    val rnd = new scala.util.Random(11)
    // Zipf-ish stream over 40 keys, summarized with m=8.
    val stream = (0 until 2000).map(_ => s"k${(math.pow(rnd.nextDouble(), 2.0) * 40).toInt}")
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // Fold in 7 arbitrary chunks (order within the summary is by key).
    var entries: Seq[HitterCounter] = Nil
    stream.grouped(300).foreach { chunk =>
      val adds = chunk.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      entries = StreamingTopK.foldCounts(entries, adds, m = 8)
    }
    assert(entries.size <= 8)
    val n = stream.size.toLong
    entries.foreach { e =>
      val t = truth.getOrElse(e.key, 0L)
      assert(e.count >= t, s"${e.key}: est ${e.count} < true $t")        // never under
      assert(e.count - e.err <= t, s"${e.key}: est-err > true")          // error bound
    }
    // Any key with true count > N/m must be resident.
    val resident = entries.map(_.key).toSet
    truth.filter(_._2 > n / 8).keys.foreach(k =>
      assert(resident.contains(k), s"heavy key $k evicted"))
    // Exact regime: capacity above cardinality reproduces true counts, err 0.
    var exact: Seq[HitterCounter] = Nil
    stream.grouped(117).foreach { chunk =>
      val adds = chunk.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      exact = StreamingTopK.foldCounts(exact, adds, m = 64)
    }
    assert(exact.map(e => e.key -> e.count).toMap == truth)
    assert(exact.forall(_.err == 0L))
  }

  // --- DSIR importance resampling ---------------------------------------

  private def dsirBucket(gram: String, nBuckets: Int, salt: String): Long =
    java.lang.Long.parseLong(md5hex(s"$salt:$gram").take(8), 16) % nBuckets

  private def dsirGrams(text: String): Seq[String] = {
    val ts = text.split(" ", -1).toSeq
    ts ++ ts.sliding(2).filter(_.size == 2).map(_.mkString(" "))
  }

  test("DSIR: model and scores equal the driver-side hashed-ngram mirror") {
    import graft.operators.Dsir
    val corpus = docs(
      1L -> "the cat sat on the mat",
      2L -> "stock prices rallied on tuesday",
      3L -> "the dog sat on the rug",
      4L -> "buy cheap pills online now",
      5L -> "a cat and a dog sat together",
      6L -> "click here to win money now")
    val target = corpus.where(col("doc_id") <= 3L) // the "trusted" slice
    val B = 64
    val model = Dsir.trainLogRatios(target, corpus, "doc_id", "text", B, "ds")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(model.size == B, "model must cover every bucket")

    // Driver mirror of the training formula.
    val tGrams = Seq(1L, 2L, 3L).flatMap(i =>
      dsirGrams(corpus.collect().find(_.getLong(0) == i).get.getString(1)))
    val rGrams = corpus.collect().toSeq.flatMap(r => dsirGrams(r.getString(1)))
    val ctM = tGrams.groupBy(g => dsirBucket(g, B, "ds")).view.mapValues(_.size.toLong).toMap
    val crM = rGrams.groupBy(g => dsirBucket(g, B, "ds")).view.mapValues(_.size.toLong).toMap
    val (tt, tr) = (tGrams.size.toLong, rGrams.size.toLong)
    (0L until B).foreach { b =>
      val want = math.floor(1e6 * math.log(
        ((ctM.getOrElse(b, 0L) + 1).toDouble * (tr + B).toDouble) /
        ((crM.getOrElse(b, 0L) + 1).toDouble * (tt + B).toDouble))).toLong
      assert(model(b) == want, s"bucket $b: ${model(b)} != $want")
    }

    // Scores: integer fold of the model over each doc's grams.
    val modelDf = spark.createDataFrame(model.toSeq).toDF("bucket", "lr_micro")
    val scored = Dsir.score(corpus, modelDf, "doc_id", "text", B, "ds")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    corpus.collect().foreach { r =>
      val gs = dsirGrams(r.getString(1))
      val want = (gs.size.toLong, gs.map(g => model(dsirBucket(g, B, "ds"))).sum)
      assert(scored(r.getLong(0)) == want, s"doc ${r.getLong(0)}")
    }
    // Target-like docs (cat/dog/sat vocabulary) must outscore spam.
    val avg = (ids: Seq[Long]) => ids.map(i => scored(i)._2.toDouble / scored(i)._1).sum / ids.size
    assert(avg(Seq(1L, 3L, 5L)) > avg(Seq(4L, 6L)),
      "target-vocabulary docs must carry higher importance weights")
  }

  test("DSIR selection: top-k integer-exact; resample reproducible and salt-sensitive") {
    import graft.operators.Dsir
    val corpus = docs((1L to 40L).map(i =>
      i -> (if (i % 4 == 0) "the cat sat on the mat" else s"junk spam text $i")): _*)
    val target = corpus.where(col("doc_id") % 4 === 0)
    val dir = java.nio.file.Files.createTempDirectory("dsir").toString
    val scored = Dsir.trainAndScore(spark, corpus, target, "doc_id", "text",
      nBuckets = 64, salt = "dk", fixturePath = s"$dir/model")
    val top = Dsir.selectTopK(scored, k = 10).collect().map(_.getLong(0))
    // All 10 slots go to the target-like docs (10 of them, max weight).
    assert(top.toSet == (1L to 40L).filter(_ % 4 == 0).toSet)
    // Plan: top-k must be TakeOrderedAndProject, no global sort exchange.
    val q = Dsir.selectTopK(scored, k = 10)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    assert(!plan.contains("rangepartitioning"), s"plan:\n$plan")

    // Resample: driver mirror of the quantized-Gumbel key.
    val sc = scored.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    def key(id: Long, salt: String): Long = {
      val u = (java.lang.Long.parseLong(md5hex(s"$salt:$id").take(8), 16) + 0.5) / 4294967296.0
      sc(id) + math.floor(1e6 * -math.log(-math.log(u))).toLong
    }
    val gotA = Dsir.resampleGumbel(scored, "doc_id", k = 12, salt = "g1")
      .collect().map(_.getLong(0)).toSeq
    val wantA = sc.keys.toSeq.sortBy(i => (-key(i, "g1"), i)).take(12)
    assert(gotA == wantA, s"got $gotA\nwant $wantA")
    // Reproducible under the same salt; re-rolled under another.
    val gotA2 = Dsir.resampleGumbel(scored, "doc_id", k = 12, salt = "g1")
      .collect().map(_.getLong(0)).toSeq
    assert(gotA2 == gotA)
    val gotB = Dsir.resampleGumbel(scored, "doc_id", k = 12, salt = "g2")
      .collect().map(_.getLong(0)).toSeq
    assert(gotB == sc.keys.toSeq.sortBy(i => (-key(i, "g2"), i)).take(12))
    assert(gotB != gotA, "independent salts should re-roll the draw")
  }

  /** Driver mirror of Dsir.score over `corpus` against a model trained on
    * its odd ids: (n_grams, Σ lr_micro) per non-null doc, each gram's bucket
    * from `dsirBucket` (md5) or, for the xxhash64 family, from Spark's
    * Column form `Dsir.hashBucket(lit(g), …, fastHash = true)` — an
    * implementation independent of DsirRowScore's seed chain. Returns
    * (score, mirror, model). */
  private def dsirScoreAndMirror(corpus: org.apache.spark.sql.DataFrame, b: Int,
                                 salt: String, fast: Boolean) = {
    import graft.operators.Dsir
    val dir = java.nio.file.Files.createTempDirectory("dsirmirror").toString
    Dsir.trainLogRatios(corpus.where(col("doc_id") % 2 === 1), corpus,
      "doc_id", "text", b, salt, fastHash = fast)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
    val modelDf = spark.read.parquet(s"$dir/model")
    val model = modelDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dsir.score(corpus, modelDf, "doc_id", "text", b, salt, fast)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val texts = corpus.collect().filter(!_.isNullAt(1))
      .map(r => r.getLong(0) -> dsirGrams(r.getString(1))).toMap
    val grams = texts.values.flatten.toSeq.distinct
    val bucket: Map[String, Long] =
      if (!fast) grams.map(g => g -> dsirBucket(g, b, salt)).toMap
      else grams.zip(spark.range(1).select(
        grams.map(g => Dsir.hashBucket(lit(g), b, salt, fastHash = true)): _*)
        .head().toSeq.map(_.asInstanceOf[Long])).toMap
    val want = texts.map { case (id, gs) =>
      id -> (gs.size.toLong, gs.map(g => model(bucket(g))).sum) }
    (got, want, model)
  }

  test("DSIR score equals the driver mirror on short docs, both families") {
    val corpus = docs(
      1L -> "the cat sat on the mat",
      2L -> "x",
      3L -> "stock prices rallied on tuesday while the cat slept",
      4L -> "buy cheap pills online now click here",
      5L -> "a")
    val (got, want, model) = dsirScoreAndMirror(corpus, 64, "rs", fast = false)
    assert(got == want, s"score $got\nmirror $want")
    // Single-token docs exercise the empty-bigram branch.
    assert(got(2L)._1 == 1L && got(5L)._1 == 1L)
    val (fGot, fWant, fModel) = dsirScoreAndMirror(corpus, 64, "rs", fast = true)
    assert(fGot == fWant, s"xxhash64 score $fGot\nmirror $fWant")
    assert(fModel != model, "families must induce different bucketings")
    // n_grams is family-independent.
    assert(fGot.view.mapValues(_._1).toMap == got.view.mapValues(_._1).toMap)
  }

  test("DSIR training reads a cached corpus once in both hash families") {
    import graft.operators.Dsir
    val corpus = docs((1L to 40L).map(i => i -> s"doc $i has words w$i and w${i % 7}"): _*)
      .cache()
    try {
      corpus.count()
      def scanned(fast: Boolean): Long = graft.result.JobStats.measure(spark) {
        Dsir.trainLogRatios(corpus.where(col("doc_id") % 2 === 1), corpus,
          "doc_id", "text", 64, "rs", fastHash = fast).collect()
      }._2.rowsScanned
      // One read of each input: a read of the cached corpus counts its two
      // cached batches (the target filters after the scan), and the bucket
      // range its 64 rows, so 2 + 2 + 64.
      val md5 = scanned(fast = false)
      assert(md5 == 68L, s"md5 training scanned $md5 rows")
      assert(scanned(fast = true) == md5, "xxhash64 training must scan what md5 does")
    } finally corpus.unpersist(blocking = true)
  }

  test("LM score equals the driver mirror fold on Unicode, OOV and sub-trigram docs") {
    import graft.operators.LmScore
    // Mixed charsets (canonicalization edge), sub-trigram docs (dropped),
    // pure-OOV docs, reference slice id % 10 == 0.
    val texts = Map(
      0L -> "The CAT sat on the mat, the cat sat!",
      1L -> "ZZZZ qqqq xxxx jjjj",
      2L -> "ab",
      3L -> "Íñtërnâtiônàl tëxt with æccents 123",
      4L -> "the mat the cat   the bat",
      10L -> "the cat and the bat sat")
    val d = docs(texts.toSeq: _*)
    val dir = java.nio.file.Files.createTempDirectory("lmnative").toString
    LmScore.trainModel(d.where(col("doc_id") % 10 === 0), "doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/model")
    val model = spark.read.parquet(s"$dir/model")
    val got = LmScore.score(d, model, "doc_id", "text")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // The mirror folds the same on-disk integers in plain Scala.
    val fixture = model.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = lmMirrorScores(texts, fixture - "__OOV__", fixture("__OOV__"))
    assert(got == want, s"score $got\nmirror $want")
    assert(!got.contains(2L), "sub-trigram docs must be omitted")
    assert(got.keySet == Set(0L, 1L, 3L, 4L, 10L))
  }

  test("DSIR score equals the driver mirror on empty, spaced, null text, both families") {
    val corpus = frame(docSchema, Seq(
      1L -> "the cat sat on the mat",
      2L -> "x",
      3L -> "",
      4L -> "stock  prices   rallied", // space runs → empty tokens
      5L -> "buy cheap pills online now click here",
      9L -> null).map { case (i, t) => Map[String, Any]("doc_id" -> i, "text" -> t) })
    for (fast <- Seq(false, true)) {
      val (got, want, _) = dsirScoreAndMirror(corpus, 64, "nv", fast)
      assert(got == want, s"fast=$fast\nscore $got\nmirror $want")
      // Null text is omitted; "" is one empty unigram.
      assert(!got.contains(9L) && got(3L)._1 == 1L, s"fast=$fast: $got")
    }
  }

  test("a model fixture with a duplicated row is rejected, both models") {
    import graft.functions.LmFunctions
    import graft.operators.{Dsir, LmScore}
    val d = docs(1L -> "the cat sat on the mat", 2L -> "a dog")
    // DSIR: nBuckets + 1 rows, bucket 1 twice with different weights.
    val dsir = spark.createDataFrame(Seq(0L -> 5L, 1L -> 7L, 2L -> 3L, 3L -> 1L, 1L -> 9L))
      .toDF("bucket", "lr_micro")
    intercept[IllegalArgumentException] {
      Dsir.score(d, dsir, "doc_id", "text", nBuckets = 4, salt = "x")
    }
    // LM: a trigram twice, and the __OOV__ sentinel twice.
    val lm = Seq("the" -> -5L, "cat" -> -6L, "__OOV__" -> -9L)
    for (dup <- Seq("the" -> -1L, "__OOV__" -> -2L)) {
      val model = spark.createDataFrame(lm :+ dup).toDF("tri", "score_micro")
      intercept[IllegalArgumentException](LmFunctions.denseScores(model))
      intercept[IllegalArgumentException](LmScore.score(d, model, "doc_id", "text"))
    }
  }

  // --- One-pass column profiler -----------------------------------------

  test("profile: metrics equal hand-computed values; nulls and types covered") {
    import graft.operators.Profile
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("x", DoubleType),
      StructField("s", StringType)))
    val d = frame(schema, Seq(
      Map("k" -> 1L, "x" -> 2.5, "s" -> "bb"),
      Map("k" -> 2L, "x" -> null, "s" -> "a"),
      Map("k" -> 3L, "x" -> 2.5, "s" -> null),
      Map("k" -> 3L, "x" -> -1.25, "s" -> "cccc")))
    val rows = Profile.profile(d, Seq("k", "x", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = rows("k")
    assert((k.getLong(1), k.getLong(2), k.getLong(3)) == ((4L, 0L, 3L)))
    assert((k.getDouble(6), k.getDouble(7), k.getDouble(8)) == ((1.0, 3.0, 9.0)))
    assert(k.isNullAt(4) && k.isNullAt(5) && k.isNullAt(9))
    val x = rows("x")
    assert((x.getLong(1), x.getLong(2), x.getLong(3)) == ((3L, 1L, 2L)))
    assert((x.getDouble(6), x.getDouble(7), x.getDouble(8)) == ((-1.25, 2.5, 3.75)))
    val s = rows("s")
    assert((s.getLong(1), s.getLong(2), s.getLong(3)) == ((3L, 1L, 3L)))
    assert((s.getString(4), s.getString(5), s.getLong(9)) == (("a", "cccc", 7L)))
    assert(s.isNullAt(6) && s.isNullAt(7) && s.isNullAt(8))
  }

  test("profile: exact mode pays Expand, approx mode does not; gate holds") {
    import graft.operators.Profile
    val d = spark.createDataFrame((0L until 500L).map(i => (i, i % 37, s"v${i % 11}")))
      .toDF("a", "b", "c")
    val exact = Profile.profile(d, Seq("a", "b", "c"))
    val approx = Profile.profile(d, Seq("a", "b", "c"), approxDistinct = true)
    exact.collect(); approx.collect()
    val pe = exact.queryExecution.executedPlan.toString
    val pa = approx.queryExecution.executedPlan.toString
    assert(pe.contains("Expand"), s"exact multi-distinct should Expand:\n$pe")
    assert(!pa.contains("Expand"), s"approx mode must not Expand:\n$pa")
    val nd = approx.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(math.abs(nd("a") - 500) <= math.max(3, 25), nd.toString)
    assert(math.abs(nd("b") - 37) <= math.max(3, 2), nd.toString)
    assert(math.abs(nd("c") - 11) <= 3, nd.toString)
  }

  test("profile drift: deltas, null-rate ppm, and range movement") {
    import graft.operators.Profile
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    val before = frame(schema, Seq(
      Map("k" -> 1L, "s" -> "a"), Map("k" -> 2L, "s" -> "b"),
      Map("k" -> 3L, "s" -> "c"), Map("k" -> 4L, "s" -> null)))
    val after = frame(schema, Seq(
      Map("k" -> 1L, "s" -> "a"), Map("k" -> 5L, "s" -> null),
      Map("k" -> null, "s" -> null)))
    val rows = Profile.drift(before, after, Seq("k", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val k = rows("k")
    // rows 4→3, distinct 4→2, nulls 0/4→1/3, max 4→5 (range moved)
    assert((k.getLong(1), k.getLong(2), k.getLong(3)) == ((4L, 3L, -1L)))
    assert((k.getLong(4), k.getLong(5), k.getLong(6)) == ((4L, 2L, -2L)))
    assert(k.getLong(7) == math.floor(1e6 / 3).toLong)
    assert(k.getLong(8) == 1L)
    val s = rows("s")
    // distinct 3→1, nulls 1/4→2/3, range [a,c]→[a,a] moved
    assert((s.getLong(4), s.getLong(5), s.getLong(6)) == ((3L, 1L, -2L)))
    assert(s.getLong(7) == math.floor(2e6 / 3).toLong - 250000L)
    assert(s.getLong(8) == 1L)
  }

  test("dataset export: pilot-sized files, lossless round-trip") {
    import graft.sources.DatasetExporter
    val n = 2000
    val d = docs((1L to n.toLong).map(i =>
      i -> (s"doc $i " + ("lorem ipsum dolor sit amet " * (5 + (i % 7).toInt)))): _*)
    val out = java.nio.file.Files.createTempDirectory("export").toString + "/ds"
    val target = 32L * 1024L
    val st = DatasetExporter.export(d, "doc_id", out, target, salt = "t")
    assert(st.rows == n.toLong)
    assert(st.files >= 2, s"expected multiple files, got ${st.files}")
    // Round trip is lossless.
    val back = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == want)
    // Every data file within loose bounds of the target (parquet footer /
    // dictionary noise dominates at this tiny scale, hence 4x / /8).
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val sizes = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen)
    assert(sizes.length.toLong == st.files)
    assert(sizes.forall(_ <= 4 * target), s"oversized: ${sizes.mkString(",")}")
    assert(sizes.forall(_ >= target / 8), s"undersized: ${sizes.mkString(",")}")
    // Determinism: same salt reproduces the same file count.
    val st2 = DatasetExporter.export(d, "doc_id", out, target, salt = "t")
    assert(st2.files == st.files)
  }

  test("compaction: shuffle-free re-binning, lossless, confs restored") {
    import graft.sources.DatasetExporter
    import graft.result.JobStats
    val n = 4000
    val d = docs((1L to n.toLong).map(i =>
      i -> (s"doc $i " + ("lorem ipsum dolor sit amet " * (5 + (i % 7).toInt)))): _*)
    val base = java.nio.file.Files.createTempDirectory("compact").toString
    d.repartition(64, org.apache.spark.sql.functions.col("doc_id"))
      .write.parquet(s"$base/frag")
    // Sentinel conf proves compact's cloned-session isolation: its
    // scan-packing overrides never touch the caller's session.
    spark.conf.set("spark.sql.files.openCostInBytes", "4194305")
    val (st, snap) = JobStats.measure(spark) {
      DatasetExporter.compact(spark, s"$base/frag", s"$base/out", 64L * 1024L)
    }
    assert(spark.conf.get("spark.sql.files.openCostInBytes") == "4194305")
    spark.conf.unset("spark.sql.files.openCostInBytes")
    // Fragmented in, few target-sized bins out, not one giant file.
    assert(st.filesBefore >= 32, st.toString)
    assert(st.filesAfter < st.filesBefore / 4, st.toString)
    assert(st.filesAfter >= 2, st.toString)
    // THE operator contract: compaction never shuffles.
    assert(snap.shuffleBytesWritten == 0L,
      s"compaction shuffled ${snap.shuffleBytesWritten} bytes")
    // Lossless round-trip.
    val back = spark.read.parquet(s"$base/out").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == want)
    // No output file beyond loose target bounds (inputs concatenate and
    // re-compress, so sizes land under the input-byte bins).
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val sizes = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/out"))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen)
    assert(sizes.forall(_ <= 4 * 64L * 1024L), sizes.mkString(","))
    // In-place compaction fails loud with the clear message (r19), before
    // Spark's Overwrite could delete the input mid-scan — including the
    // qualified-path spelling of the same location.
    val inPlace = intercept[IllegalArgumentException] {
      DatasetExporter.compact(spark, s"$base/frag", s"file:$base/frag", 64L * 1024L)
    }
    assert(inPlace.getMessage.contains("must differ"), inPlace.getMessage)
  }

  test("interleaveOrder: stride schedule keeps every prefix near the mix") {
    import graft.operators.Sampling
    // 3 sources, 120 docs each, weights 1/2/4.
    val rows = for (s <- 0 until 3; i <- 0 until 120)
      yield (s * 1000L + i, s"src$s", Seq(1L, 2L, 4L)(s))
    val d = spark.createDataFrame(rows).toDF("id", "src", "w")
    val out = Sampling.interleaveOrder(d, "src", "id", "w", "il")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getDouble(4)))
    // Formula: mix_key = (rank - 0.5)/w with rank = salted-md5 order.
    out.foreach { case (_, src, rank, key) =>
      val w = Seq(1L, 2L, 4L)(src.drop(3).toInt)
      assert(key == (rank - 0.5) / w)
    }
    // Prefix mix: at every prefix of the (mix_key, src, id) order, each
    // source's count stays within 1 of its stride allocation until it
    // saturates (floor(T*w + 0.5) rows released by threshold T).
    val ordered = out.sortBy { case (id, src, _, key) => (key, src, id) }
    val counts = collection.mutable.Map("src0" -> 0L, "src1" -> 0L, "src2" -> 0L)
    ordered.foreach { case (_, src, _, key) =>
      counts(src) += 1
      counts.foreach { case (s, c) =>
        val w = Seq(1L, 2L, 4L)(s.drop(3).toInt)
        val due = math.min(120L, math.floor(key * w + 0.5).toLong)
        assert(math.abs(c - due) <= 1, s"prefix@$key: $s has $c vs due $due")
      }
    }
    // Overall: first 70 rows ≈ 10/20/40.
    val head = ordered.take(70).groupBy(_._2).view.mapValues(_.length).toMap
    assert(math.abs(head("src0") - 10) <= 2 && math.abs(head("src1") - 20) <= 2 &&
      math.abs(head("src2") - 40) <= 2, head.toString)
  }

  test("scrubSpans: removes only covered windows, round-trips untouched text") {
    import graft.operators.TextAnalysis
    val evalSet = docs(100L -> "the quick brown fox")
    val corpus = docs(
      1L -> "intro words the quick brown fox outro words",  // middle hit
      2L -> "totally clean  document with   spaces",        // untouched (multi-space)
      3L -> "the quick brown fox",                          // fully scrubbed
      4L -> "the quick brown cat",                          // near miss
      5L -> "x the quick brown fox the quick brown fox y")  // overlapping hits
    val out = TextAnalysis.scrubSpans(corpus, evalSet, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((8L, 4L, "intro words outro words")))
    // 8 tokens: the space runs contribute empty tokens that must survive
    // the round-trip byte-for-byte.
    assert(out(2L) == ((8L, 0L, "totally clean  document with   spaces")))
    assert(out(3L) == ((4L, 4L, "")))
    assert(out(4L) == ((4L, 0L, "the quick brown cat")))
    assert(out(5L) == ((10L, 8L, "x y")))
  }

  test("native scrubber: byte-identical to batch scrubSpans incl. null text") {
    import graft.operators.TextAnalysis
    import graft.functions.ScrubFunctions
    val evalSet = docs(100L -> "the quick brown fox", 101L -> "lorem ipsum dolor sit")
    val corpus = frame(docSchema, Seq(
      Map[String, Any]("doc_id" -> 1L, "text" -> "intro words the quick brown fox outro words"),
      Map[String, Any]("doc_id" -> 2L, "text" -> "totally clean  document with   spaces"),
      Map[String, Any]("doc_id" -> 3L, "text" -> "the quick brown fox"),
      Map[String, Any]("doc_id" -> 4L, "text" -> null),
      Map[String, Any]("doc_id" -> 5L, "text" -> "x the quick brown fox lorem ipsum dolor sit y"),
      Map[String, Any]("doc_id" -> 6L, "text" -> "ab")))
    val batch = TextAnalysis.scrubSpans(corpus, evalSet, "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val hashes = ScrubFunctions.evalWindowHashes(evalSet, "text", n = 4)
    assert(hashes.length == 2 * 2, "two distinct eval windows expected")
    val native = ScrubFunctions.withScrub(spark, hashes, 4, col("text")) { c =>
      corpus.select(col("doc_id"), c.as("s")).where(col("s").isNotNull)
        .select(col("doc_id"), col("s.n_tokens"), col("s.n_removed"), col("s.clean_text"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    }
    assert(native == batch, s"native $native\nbatch $batch")
    assert(native(5L) == ((10L, 8L, "x y")) && !native.contains(4L))
  }

  test("schemaDrift: added/removed/type-changed columns; empty when identical") {
    import graft.operators.Profile
    val before = spark.createDataFrame(Seq((1L, "a", 2.0))).toDF("id", "s", "x")
    val after = spark.createDataFrame(Seq((1, "a", true))).toDF("id", "s", "b")
    val rows = Profile.schemaDrift(before, after).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(rows == Set(
      ("b", "added", null, "boolean"),
      ("x", "removed", "double", null),
      ("id", "type_changed", "bigint", "int")))
    assert(Profile.schemaDrift(before, before).count() == 0L)
  }

  test("selection/profiling operators reject bad inputs loudly") {
    import graft.operators.{Dsir, Profile, Sampling}
    import graft.sources.DatasetExporter
    val d = spark.createDataFrame(Seq((1L, "a"))).toDF("id", "text")
    intercept[IllegalArgumentException] {
      Profile.profile(d, Seq("id", "nope"))
    }
    intercept[IllegalArgumentException] { Profile.profile(d, Nil) }
    intercept[IllegalArgumentException] {
      Dsir.selectTopK(d.withColumnRenamed("text", "logw_micro"), 0)
    }
    intercept[IllegalArgumentException] {
      Dsir.score(d, spark.createDataFrame(Seq(0L -> 1L)).toDF("bucket", "lr_micro"),
        "id", "text", nBuckets = 2, salt = "x")
    }
    intercept[IllegalArgumentException] {
      Sampling.interleaveOrder(d.withColumn("mix_key", lit(1)),
        "text", "id", "id", "x")
    }
    intercept[IllegalArgumentException] {
      DatasetExporter.export(d.where(lit(false)), "id", "/tmp/never", 1024L)
    }
  }

  test("interleaveOrderApprox: map-only plan, driver-mirror ranks, concentration") {
    import graft.operators.Sampling
    val rows = for (s <- 0 until 3; i <- 0 until 400)
      yield (s * 10000L + i, s"k$s", Seq(1L, 2L, 4L)(s))
    val d = spark.createDataFrame(rows).toDF("id", "src", "w")
    val q = Sampling.interleaveOrderApprox(d, "src", "id", "w", "ia")
    val out = q.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getDouble(4)))
    // Driver mirror of floor(u*n)+1 and the stride.
    out.foreach { case (id, src, rank, key) =>
      val u = java.lang.Long.parseLong(md5hex(s"ia:$id").take(8), 16) / 4294967296.0
      val w = Seq(1L, 2L, 4L)(src.drop(1).toInt)
      assert(rank == math.floor(u * 400.0).toLong + 1, s"$id rank")
      assert(key == (rank - 0.5) / w, s"$id key")
    }
    // Plan: no Window and no per-key Sort anywhere (the hot-key claim) —
    // asserted on the plan TREE: node names print with "Exec" stripped,
    // so a string match on "SortExec" would pass vacuously.
    val exec = q.queryExecution.executedPlan
    def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] =
      p +: (p.children ++ p.subqueries).flatMap(nodes)
    val all = nodes(exec) ++ nodes(exec).collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
    }.flatMap(nodes)
    assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      s"plan must not window:\n$exec")
    assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      s"plan must not sort:\n$exec")
    // Concentration: a 350-row prefix tracks the 1/2/4 mix within O(sqrt).
    val prefix = out.sortBy { case (id, src, _, key) => (key, src, id) }.take(350)
      .groupBy(_._2).view.mapValues(_.length).toMap
    assert(math.abs(prefix("k0") - 50) <= 40 && math.abs(prefix("k1") - 100) <= 40 &&
      math.abs(prefix("k2") - 200) <= 40, prefix.toString)
  }

  // --- Epoch-seeded global permutation ----------------------------------

  test("globalOrder: exact md5-line permutation; epochs independent") {
    import graft.operators.Sampling
    val d = spark.createDataFrame((0L until 300L).map(i => Tuple1(i))).toDF("id")
    val got = Sampling.globalOrder(d, "id", salt = "ord", epoch = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (0L until 300L).sortBy(i => (md5hex(s"ord:e0:$i"), i))
      .zipWithIndex.map { case (i, p) => i -> p.toLong }.toMap
    assert(got == want)
    val e1 = Sampling.globalOrder(d, "id", salt = "ord", epoch = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e1 == (0L until 300L).sortBy(i => (md5hex(s"ord:e1:$i"), i))
      .zipWithIndex.map { case (i, p) => i -> p.toLong }.toMap)
    assert(e1 != got, "epoch bump must re-roll the permutation")
  }
}
