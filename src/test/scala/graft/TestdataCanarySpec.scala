package graft

import org.apache.spark.sql.types._

/**
 * Canary for driver-regenerated testdata (the round-8 failure class: the
 * driver re-wrote `events.ts` as µs TIMESTAMP_NTZ where the engine
 * assumed int64 nanos, and 18 queries silently vanished from the gate).
 * One fast test per table pins the invariants the ENGINE relies on after
 * `Tables` normalization — not the on-disk physical types, which the
 * driver may legitimately change again. A failure here names the broken
 * contract directly instead of surfacing as 18 cryptic analysis errors.
 */
class TestdataCanarySpec extends SparkSpec {

  private val sfDir = sys.env.getOrElse("GRAFT_FUZZ_SF", "/root/testdata/sf0.001")

  test("events: ts normalizes to epoch-nanos long; key columns present and usable") {
    val e = graft.ops.Tables.events(spark, sfDir)
    val bySpec = e.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(bySpec("ts") == LongType,
      s"events.ts must normalize to epoch-nanos LongType, got ${bySpec("ts")} — " +
        "if the driver changed the physical type, extend Tables.tsToNanos")
    for (c <- Seq("event_id", "user_id", "event_type", "value"))
      assert(bySpec.contains(c), s"events lost column $c")
    val r = e.selectExpr("count(*) AS n", "count(user_id) AS nu",
      "min(ts) AS mn", "max(ts) AS mx").head()
    assert(r.getLong(0) > 0 && r.getLong(1) == r.getLong(0), "null user ids appeared")
    // Nanos sanity: timestamps must land in [2000, 2100) as epoch nanos —
    // a µs/ms/s-scale value would be off by 10³⁺ and trip this instantly.
    assert(r.getLong(2) > 946684800L * 1000000000L &&
      r.getLong(3) < 4102444800L * 1000000000L,
      s"events.ts range [${r.getLong(2)}, ${r.getLong(3)}] is not epoch-NANOS")
  }

  test("documents: ids unique and non-null, text/lang/source present") {
    val d = graft.ops.Tables.documents(spark, sfDir)
    for (c <- Seq("doc_id", "text", "lang", "source", "n_chars"))
      assert(d.columns.contains(c), s"documents lost column $c")
    val r = d.selectExpr("count(*) AS n", "count(doc_id) AS nn",
      "count(DISTINCT doc_id) AS nd", "count(text) AS nt").head()
    assert(r.getLong(0) > 0 && r.getLong(1) == r.getLong(0), "null doc ids")
    assert(r.getLong(2) == r.getLong(0), "duplicate doc ids")
    assert(r.getLong(3) == r.getLong(0),
      "null texts appeared — audit the operators' null-text contracts " +
        "(score/scrubSpans document their behavior but the " +
        "battery oracles assume none)")
  }

  test("embeddings: a float-array vector column keyed by unique ids") {
    val e = graft.ops.Tables.embeddings(spark, sfDir)
    val vecCols = e.schema.fields.collect {
      case StructField(n, ArrayType(FloatType | DoubleType, _), _, _) => n
    }
    assert(vecCols.nonEmpty, s"embeddings has no array<float> column: ${e.schema}")
    assert(e.columns.contains("vec_id"), s"embeddings lost vec_id: ${e.schema}")
    val r = e.selectExpr("count(*) AS n", "count(DISTINCT vec_id) AS nd",
      s"min(size(${vecCols.head})) AS mn", s"max(size(${vecCols.head})) AS mx").head()
    assert(r.getLong(0) > 0 && r.getLong(1) == r.getLong(0), "duplicate/null ids")
    assert(r.getInt(2) == r.getInt(3) && r.getInt(2) > 0,
      s"ragged embedding dims [${r.getInt(2)}, ${r.getInt(3)}]")
  }

  test("documents: length bounds the DuckDB oracles assume still hold") {
    // Several battery oracles bound position enumeration with
    // generate_series: token/gram positions up to 4000 (tx_scrub_spans,
    // pipeline_dsir*, tx_* n-gram rows) and post-canonicalization char
    // length up to 800 (tx_lm_score / st_lm). The Spark side is unbounded,
    // so a regenerated testdata doc exceeding these would silently
    // diverge the oracle, not the engine — pin the invariant here where
    // the failure names itself.
    val d = graft.ops.Tables.documents(spark, sfDir)
    val r = d.selectExpr(
      "max(size(split(text, ' '))) AS max_tokens",
      "max(length(trim(regexp_replace(" +
        "lower(regexp_replace(text, '[^A-Za-z ]', '')), ' +', ' ')))) " +
        "AS max_canon_chars").head()
    assert(r.getInt(0) <= 4000,
      s"documents.text has ${r.getInt(0)} whitespace tokens — oracles " +
        "enumerate positions only to 4000; raise the generate_series " +
        "bounds in PipelineQueries")
    assert(r.getInt(1) <= 800,
      s"canonicalized text reaches ${r.getInt(1)} chars — tx_lm_score's " +
        "oracle enumerates trigram starts only to 800")
  }

  test("relational tables: the columns the battery queries name still exist") {
    val need = Map(
      "lineitem" -> Seq("l_orderkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag", "l_linestatus", "l_shipdate"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
      "customer" -> Seq("c_custkey", "c_mktsegment"),
      "nation" -> Seq("n_nationkey", "n_name"),
      "region" -> Seq("r_regionkey", "r_name"))
    need.foreach { case (t, cols) =>
      val have = graft.ops.Tables.load(spark, sfDir, t).columns.toSet
      val missing = cols.filterNot(have)
      assert(missing.isEmpty, s"$t lost columns: ${missing.mkString(", ")}")
    }
  }
}
