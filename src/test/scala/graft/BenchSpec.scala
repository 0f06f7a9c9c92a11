package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** `graft.Bench`'s row runner and its two outputs over a few sf0.001 rows:
  * the bounded stdout summary and the per-row artifact records. */
class BenchSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def parse(json: String): JValue =
    JsonMethods.parse(json, useBigDecimalForDouble = true)

  private def dec(v: JValue): BigDecimal = v match {
    case JDecimal(d) => d
    case JInt(i)     => BigDecimal(i)
    case other       => fail(s"not a number: $other")
  }

  test("every battery row belongs to one of the nine families") {
    assert(Bench.family("q1_pricing") == "q" && Bench.family("pipeline_dsir") == "pipeline")
    val outside = SparkEntry.queries.keys.filterNot(n => Bench.Families.contains(Bench.family(n)))
    assert(outside.isEmpty, outside.toString)
  }

  test("summary and records: err row out of the total, subtotals sum, jobs and batches") {
    val rows = Seq("fr_funnel", "st_dedup").map(n =>
      Bench.runRow(spark, n, () => SparkEntry.queries(n)(spark, sf))) :+
      Bench.runRow(spark, "fr_failing", () => throw new IllegalStateException("injected"))
    val line = Bench.summary(rows, sf, "/tmp/bench_full.json")
    assert(line.getBytes("UTF-8").length <= 1800, line)
    val s = parse(line)
    assert(s \ "metric" == JString("total") && s \ "unit" == JString("sec"))
    assert(s \ "errors" == JInt(1) && s \ "queries" == JInt(3))
    assert(s \ "sf" == JString(sf) && s \ "artifact" == JString("/tmp/bench_full.json"))

    // The failing row is marked and carries no snapshot; the total is the
    // two good rows' seconds, and the nine subtotals sum to it exactly.
    val JObject(fams) = s \ "families"
    assert(fams.map(_._1) == Bench.Families)
    val total = dec(s \ "value")
    assert(fams.map(f => dec(f._2)).sum == total)
    assert(total == rows.take(2).map(r => BigDecimal(r.ms.get) / 1000).sum)
    assert(total > 0 && dec(s \ "families" \ "fr") > 0 && dec(s \ "families" \ "st") > 0)

    val art = parse(Bench.artifact(line, rows))
    assert((art \ "summary") == s)
    val JArray(recs) = art \ "rows"
    assert(recs.map(r => (r \ "name").asInstanceOf[JString].s) ==
      Seq("fr_funnel", "st_dedup", "fr_failing"))
    val failed = recs(2)
    assert(failed \ "err" == JString("IllegalStateException") && failed \ "seconds" == JNull)
    for (r <- recs.take(2)) {
      assert(r \ "err" == JNull)
      assert(dec(r \ "seconds") * 1000 == dec(r \ "wallTimeMs"))
      val JArray(jobs) = r \ "jobs"
      assert(jobs.nonEmpty, r)
      assert(dec(r \ "jobWallMs") == jobs.map(j => dec(j \ "wallMs")).sum)
      assert(dec(r \ "driverGapMs") == dec(r \ "wallTimeMs") - dec(r \ "jobWallMs"))
    }
    // The stream's micro-batches carry their phase durations; the batch
    // row runs no stream.
    val JArray(batches) = recs(1) \ "batches"
    assert(batches.nonEmpty && batches.forall(b =>
      (b \ "durationMs" \ "triggerExecution").isInstanceOf[JInt]), recs(1))
    assert(recs(0) \ "batches" == JArray(Nil))
  }
}
