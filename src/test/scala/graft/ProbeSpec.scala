package graft

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.Files

import org.json4s._
import org.json4s.jackson.JsonMethods

/** Every registered scale probe runs at tiny args in a child of the shared
  * test session: it must pass its own `require`s and print at least one
  * measurement line — JSON with `probe`, `label` and `wallTimeMs`. Each
  * probe writes under its own temp directory. */
class ProbeSpec extends SparkSpec {

  private val testdata = "/root/testdata"
  private def sf(scale: String) = s"$testdata/$scale"

  /** Run probe `name`, returning its measurement lines. */
  private def runProbe(name: String, args: String*): Seq[JValue] = {
    val root = Files.createTempDirectory("probe-spec").toFile
    val buf = new ByteArrayOutputStream()
    try Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      Probe.run(spark, name, args, root.getPath)
    } finally deleteRecursively(root)
    val out = buf.toString("UTF-8")
    val lines = out.split("\n").toSeq.filter(_.startsWith("{\"probe\""))
    assert(lines.nonEmpty, s"$name printed no measurement line:\n$out")
    lines.map { line =>
      val j = JsonMethods.parse(line)
      assert(j \ "probe" == JString(name), line)
      assert((j \ "label").isInstanceOf[JString], line)
      assert((j \ "wallTimeMs").isInstanceOf[JInt], line)
      j
    }
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Tiny args per run; every registered probe appears at least once. */
  private val runs: Seq[(String, Seq[String])] = Seq(
    "BloomScale" -> Seq("20000"),
    "ComponentsScale" -> Seq("4", "3000"),
    "DedupScale" -> Seq("2000"),
    "ExportScale" -> Seq("3000"),
    "IncrementalScale" -> Seq("2000"),
    "JaccardScale" -> Seq("2000"),
    "JoinScale" -> Seq("20000"),
    "LayoutScale" -> Seq("20000"),
    "MixScale" -> Seq("20000"),
    "PipelineScale" -> Seq("3000"),
    "PqScale" -> Seq("3000"),
    "ProfileScale" -> Seq("20000"),
    "RecallScale" -> Seq("2000"),
    "RelJoinScale" -> Seq("5000"),
    "SelectionScale" -> Seq("20000"),
    "SemanticScale" -> Seq("5000"),
    "ServingScale" -> Seq("crossover", "--reps", "1", sf("sf0.001/events.parquet")),
    "ShardScale" -> Seq("20000"),
    "SkewScale" -> Seq("20000"),
    "StreamScale" -> Seq("20000"),
    "TopkScale" -> Seq("24000"),
    "Throughput" -> Seq("1"),
    "Throughput" -> Seq("1", "bucketed"),
    "Throughput" -> Seq("1", "funnel-agg-routed"),
    "Throughput" -> Seq("1", "sequence-agg-routed-stringgid"))

  test("the runs cover every registered probe") {
    assert(runs.map(_._1).toSet == Probe.all.map(_.name).toSet)
  }

  for ((name, args) <- runs)
    test(s"probe $name ${args.map(_.stripPrefix(testdata + "/")).mkString(" ")}") {
      runProbe(name, args: _*)
    }

  test("an unknown probe name fails and lists the valid names") {
    val e = intercept[IllegalArgumentException](Probe.run(spark, "NoSuchScale", Nil, "/nonexistent"))
    assert(e.getMessage.contains("NoSuchScale"))
    Probe.all.foreach(b => assert(e.getMessage.contains(b.name)))
  }

  test("a probe's unknown flag fails and lists the known ones") {
    val e = intercept[IllegalArgumentException](
      Probe.run(spark, "DedupScale", Seq("--narow", "1000"), "/nonexistent"))
    assert(e.getMessage.contains("--narow") && e.getMessage.contains("--narrow"))
  }

  test("Throughput modes: the shape grid parses, unknown and mixed-layout modes fail") {
    import Throughput.{Mode, parseMode}
    assert(parseMode("bucketed") == Mode("plain", false, false, true))
    assert(parseMode("funnel-agg-routed-bucketed") == Mode("funnel-agg", true, false, true))
    assert(parseMode("sequence-agg-routed-stringgid") == Mode("sequence-agg", true, true, false))
    assert(parseMode("sequence-stringgid") == Mode("sequence", false, true, false))
    for (bad <- Seq("seqence", "funnel-fast", "sequence-agg-shared", "sequence-bucketed-routed",
        "sequence-stringgid-bucketed", "plain-routed", "skew-stringgid"))
      intercept[IllegalArgumentException](parseMode(bad))
  }

  override def afterAll(): Unit = {
    // Throughput's bucketed mode saves a table under spark-warehouse/.
    spark.sql("DROP TABLE IF EXISTS throughput_events_x1")
    deleteRecursively(new File("spark-warehouse/throughput_events_x1"))
    super.afterAll()
  }
}
