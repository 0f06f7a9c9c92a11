package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.operators.LmScore

/**
 * Differential fuzzer for the LM quality scorer. The battery pins ONE
 * configuration (full corpus, doc_id % 10 == 0 slice, raw ASCII text);
 * this sweeps random corpus subsets × reference-slice predicates × text
 * MUTATIONS that append mixed unicode/punctuation suffixes — the exact
 * surface the strip-before-lower canonicalization contract exists for
 * (Java vs ICU case-folding of İ/ß/combining marks must never reach the
 * trigram stream). Each case trains + materializes its own model fixture
 * at generation time (Spark side), then both engines score against the
 * SAME on-disk integers — any divergence is in canonicalization, trigram
 * slicing, the dense-table lookup, or the final division, which is the point.
 * Broken-mirror check: mutating the oracle's slice bound by one (tri =
 * nt[i : i+1]) makes every case diverge, so the mirror is load-bearing.
 */
object LmFuzzer {
  final case class Case(name: String, desc: String, sql: String,
                        spark: () => org.apache.spark.sql.DataFrame)

  private def sqlStr(s: String) = "'" + s.replace("'", "''") + "'"

  // Suffix alphabet deliberately spans ASCII letters/digits/punct and the
  // unicode troublemakers: Turkish dotted İ (lowercases to i + combining
  // dot in Java), eszett ß (uppercases to SS), CJK, accents, emoji.
  private val SuffixChars =
    "abz XYZ019!?.,;İıßÄöé漢字🎯Ω̇ ".toCharArray

  def gen(i: Int, rnd: Random, docsParquet: String, fixtureBase: String): Case = {
    val id0 = rnd.nextInt(500)          // anchor id: in subset AND slice
    val m = 1 + rnd.nextInt(3); val r = id0 % m
    val p = 2 + rnd.nextInt(3); val q = id0 % p
    val suffix = (0 until rnd.nextInt(12))
      .map(_ => SuffixChars(rnd.nextInt(SuffixChars.length))).mkString
    val desc = s"lm subset=%$m=$r slice=%$p=$q suffix=${suffix.length} chars"
    val fixture = s"$fixtureBase/case_$i"

    val s = SparkSpec.spark
    val base = s.read.parquet(docsParquet)
      .where(col("doc_id") % m === r)
      .withColumn("text", concat(col("text"), lit(suffix)))
    // Train + materialize NOW (before the oracle batch runs) so the SQL's
    // read_parquet sees the model; the case thunk then scores against the
    // read-back fixture — exercising score() on the same on-disk integers
    // the oracle consumes.
    LmScore.trainModel(base.where(col("doc_id") % p === q), "doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(fixture)

    val sql =
      s"""WITH base AS (SELECT doc_id, text || ${sqlStr(suffix)} AS text
         |  FROM read_parquet(${sqlStr(docsParquet)}) WHERE doc_id % $m = $r),
         |t AS (SELECT doc_id,
         |    trim(regexp_replace(lower(regexp_replace(text, '[^A-Za-z ]', '', 'g')),
         |                        ' +', ' ', 'g')) AS nt FROM base),
         |g AS (SELECT doc_id, nt[i : i+2] AS tri
         |      FROM t, generate_series(1, 1200) s(i)
         |      WHERE i <= len(nt) - 2),
         |mm AS (SELECT tri, score_micro
         |       FROM read_parquet(${sqlStr(s"$fixture/*.parquet")})
         |       WHERE tri <> '__OOV__'),
         |o AS (SELECT score_micro AS oov
         |      FROM read_parquet(${sqlStr(s"$fixture/*.parquet")})
         |      WHERE tri = '__OOV__')
         |SELECT g.doc_id, count(*) AS n_tri,
         |       CAST(sum(coalesce(mm.score_micro, o.oov)) AS DOUBLE) / count(*)
         |         AS avg_logp_micro
         |FROM g LEFT JOIN mm USING (tri), o
         |GROUP BY g.doc_id""".stripMargin

    Case(s"lm_$i", desc, sql,
      () => LmScore.score(base, s.read.parquet(fixture), "doc_id", "text"))
  }
}

class LmFuzzSpec extends SparkSpec {
  import LmFuzzer._

  private val sfDir = sys.env.getOrElse("GRAFT_FUZZ_SF", "/root/testdata/sf0.001")
  private val N = sys.env.get("GRAFT_FUZZ_N").map(_.toInt).getOrElse(10)
  private val Seed = sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(FuzzRound.seed + 7)

  test(s"$N fuzzed LM-score configs (subset × slice × unicode suffix) match DuckDB") {
    assume(DuckOracle.available, "python3 + duckdb unavailable — differential fuzz skipped")
    val parquet = s"$sfDir/documents.parquet"
    assume(new java.io.File(parquet).exists(), s"$parquet missing")
    val fixtureBase = java.nio.file.Files.createTempDirectory("lm_fuzz").toString

    val rnd = new Random(Seed)
    val cases = (0 until N).map(i => gen(i, rnd, parquet, fixtureBase))
    val duck = DuckOracle.run(cases.map(c => c.name -> c.sql).toMap)
    val failures = cases.flatMap(c =>
      DuckOracle.check(c.name, c.desc, c.sql, c.spark(), duck))
    assert(failures.isEmpty,
      s"${failures.size} of ${cases.size} fuzzed LM configs diverged (seed=$Seed):\n\n" +
        failures.take(8).mkString("\n\n"))
  }
}
