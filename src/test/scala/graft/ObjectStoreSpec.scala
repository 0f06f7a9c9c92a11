package graft

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.types._

import graft.catalog.Catalog
import graft.engine.{DatasetSpec, QueryEngine}
import graft.sources.GroupedWriter

/** In-JVM object-store stand-in: a Hadoop FileSystem registered under the
  * `mock3://` scheme, backed by local disk (`mock3://bucket/<abs-path>` maps
  * to `<abs-path>`; the authority plays the bucket's role). The reference
  * exercises its S3 paths against MinIO (tests/utils/s3utils.py,
  * tests/test_registration_job.py); this sandbox has no object store, so
  * this is the closest equivalent: every graft code path that would touch
  * `s3a://` — `Path.getFileSystem` scheme resolution, recursive part
  * listing at registration, sampled leaf-file reads with `basePath`, the
  * parquet scan itself, and writer output commit — runs against a
  * NON-`file` scheme end-to-end, with call counters proving the traffic
  * actually went through this FileSystem rather than a local fallback.
  */
class MockObjectStoreFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "mock3"
  override def getUri: URI = URI.create("mock3://bucket/")
  override def listStatus(f: HPath): Array[FileStatus] = {
    MockObjectStoreFileSystem.listCalls.incrementAndGet()
    super.listStatus(f).map(materialize)
  }
  override def getFileStatus(f: HPath): FileStatus = materialize(super.getFileStatus(f))
  override def open(f: HPath, bufferSize: Int): FSDataInputStream = {
    MockObjectStoreFileSystem.openCalls.incrementAndGet()
    super.open(f, bufferSize)
  }
  /** RawLocal statuses load permissions lazily via `new java.io.File(uri)`,
    * which rejects non-`file` URIs; copy to a plain eager FileStatus (an
    * object store has no POSIX permissions anyway). */
  private def materialize(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime,
      if (s.isDirectory) FsPermission.getDirDefault else FsPermission.getFileDefault,
      "", "", s.getPath)
}

object MockObjectStoreFileSystem {
  val listCalls = new AtomicLong(0)
  val openCalls = new AtomicLong(0)
}

/** End-to-end coverage of SURVEY §2 S3/S4 (object-store file discovery +
  * reads) through the scheme-agnostic Hadoop FS abstraction. */
class ObjectStoreSpec extends SparkSpec {
  import graft.query.QueryAst._

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock3.impl", classOf[MockObjectStoreFileSystem].getName)
  }

  private def mockPath(prefix: String): (String, String) = {
    val local = Files.createTempDirectory(prefix).toString
    (s"mock3://bucket$local", local)
  }

  private val schema = StructType(Seq(
    StructField("uid", LongType), StructField("ts", LongType),
    StructField("etype", StringType), StructField("value", DoubleType)))

  private def events(n: Long) = frame(schema, (0L until n).map(i => Map[String, Any](
    "uid" -> i % 25, "ts" -> (1704067200000000000L + i * 1000000000L),
    "etype" -> Seq("view", "click", "buy")((i % 3).toInt), "value" -> i * 0.5)))

  private val query = GraftQuery(
    None,
    Seq(Condition.Filters(None, Seq(RowFilter("etype", FilterOp.Eq,
      Scalar.Str("buy"))), Target.Count(CmpOp.Gte, 3), includeZero = false)),
    None,
    Seq(Aggregation(None, "etype", AggType.CountPerValue, None)),
    None)

  test("write, discover, register and query through a non-file scheme") {
    val (bucket, local) = mockPath("mock3e2e")
    val ev = events(600)
    val (list0, open0) =
      (MockObjectStoreFileSystem.listCalls.get(), MockObjectStoreFileSystem.openCalls.get())

    // Writer commit (rename-based) through the scheme.
    GroupedWriter.repartitionByGroup(ev, "uid", nParts = 3, s"$bucket/events")
    assert(new java.io.File(s"$local/events").listFiles().nonEmpty,
      "mock3 write must land in the backing directory")

    // Discovery returns scheme-qualified URIs (what registration sorts and
    // the sampled modes later read by URI — a file:// fallback here would
    // invalidate the whole test).
    val fs = new HPath(bucket).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[MockObjectStoreFileSystem])
    val it = fs.listFiles(new HPath(s"$bucket/events"), true)
    var located = List.empty[Catalog.PartFile]
    while (it.hasNext) {
      val f = it.next()
      if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        located ::= Catalog.PartFile(f.getPath, f.getLen)
    }
    val parts = located.map(_.path.toString)
    assert(parts.nonEmpty && parts.forall(_.startsWith("mock3://bucket/")), parts)
    // The registration's listStatus walk lists the same files.
    assert(Catalog.partFiles(spark, s"$bucket/events") == located.sortBy(_.path.toString))

    // Registration: part listing, schema from one footer, full stats scan,
    // each through the scheme.
    val (listReg, openReg) =
      (MockObjectStoreFileSystem.listCalls.get(), MockObjectStoreFileSystem.openCalls.get())
    val ds = Catalog.register(spark, "mock3_events", s"$bucket/events", "uid", "ts")
    assert(ds.numRows == 600 && ds.numGroups == 25 && ds.totalParts == parts.size)
    assert(MockObjectStoreFileSystem.listCalls.get() > listReg, "registration listed elsewhere")
    assert(MockObjectStoreFileSystem.openCalls.get() > openReg, "registration read elsewhere")

    // Same files registered via the plain local path — stats must agree
    // exactly (same bytes, different scheme).
    val dsLocal = Catalog.register(spark, "local_events", s"$local/events", "uid", "ts")
    assert(ds.columns == dsLocal.columns && ds.columnAttrs == dsLocal.columnAttrs)
    assert(ds.minTimestamp == dsLocal.minTimestamp && ds.maxTimestamp == dsLocal.maxTimestamp)

    // Full query read path through the scheme vs the local path.
    val engine = new QueryEngine(DatasetSpec("uid", "ts"))
    def run(path: String) = {
      val p = engine.run(spark.read.parquet(path), query)
      (p.summary.collect().toSeq, p.aggregations.head._2.collect().toSeq.sortBy(_.toString))
    }
    assert(run(s"$bucket/events") == run(s"$local/events"))

    assert(MockObjectStoreFileSystem.listCalls.get() > list0, "listing never hit the mock FS")
    assert(MockObjectStoreFileSystem.openCalls.get() > open0, "reads never hit the mock FS")
  }

  test("sampled validation modes read leaf part files by object-store URI") {
    val (bucket, _) = mockPath("mock3sample")
    GroupedWriter.repartitionByGroup(events(400), "uid", nParts = 4, s"$bucket/ev")
    // FIRST_LAST reads individual part URIs (with basePath) rather than the
    // directory — the branch an s3a deployment takes for cheap registration.
    val ds = Catalog.register(spark, "mock3_fl", s"$bucket/ev", "uid", "ts",
      mode = Catalog.ValidationMode.FirstLast)
    assert(!ds.statsExact && ds.sampledParts == 2 && ds.totalParts == 4)
    assert(ds.columns("etype") == Catalog.ColType.Str)
  }

  test("day-partitioned layout and timeframe pruning work through the scheme") {
    val (bucket, _) = mockPath("mock3days")
    val day0 = 1704067200000000000L
    val dayNs = 86400000000000L
    val ev = frame(schema, (0L until 500L).map(i => Map[String, Any](
      "uid" -> i % 20, "ts" -> (day0 + (i % 10) * dayNs + i * 1000000L),
      "etype" -> Seq("view", "click", "buy")((i % 3).toInt), "value" -> 1.0)))
    GroupedWriter.partitionByDay(ev, "ts", "uid", nParts = 2, s"$bucket/days")

    val engine = new QueryEngine(DatasetSpec("uid", "ts", dayPartitionColumn = Some("dt")))
    val q = query.copy(timeframe = Some(Timeframe(Some(day0 + 2 * dayNs), Some(day0 + 5 * dayNs))))
    val part = engine.run(spark.read.parquet(s"$bucket/days"), q).summary
    val plan = part.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*dt".r.findFirstIn(plan).isDefined, plan)
    val flat = engine.run(ev, q).summary.collect()(0)
    assert(part.collect()(0) == flat)
  }
}
