package graft.catalog

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Dataset registration — the Spark-native replacement for the reference's
 * registration job (frocket/invoker/jobs/registration_job.py +
 * worker/runners/registration_task_runner.py).
 *
 * The reference samples files, infers per-file Pandas schemas, merges them,
 * and validates a physical invariant (each group's rows in exactly one
 * file). Here a single Spark job does the honest version of all of it:
 * schema comes from the parquet footer (no sampling risk), column
 * classification mirrors the reference's 4-type system
 * (frocket/common/dataset.py:102-107), unsupported types are recorded
 * rather than rejected wholesale (dataset.py:153-159), and the stats pass
 * (min/max timestamp, group count) is one distributed aggregate. The
 * one-group-one-file invariant is NOT required — Spark shuffles — so
 * registration validates only what still matters: group id non-null and of
 * int/string type, timestamp numeric and non-null
 * (registration_task_runner.py:79-101).
 *
 * Registration also records the summed part-file size, which picks the
 * dataset's [[ExecutionProfile]]: its stats pass and every later
 * [[load]] run in that profile's session. The catalog memoises the
 * handles [[load]] returns, and a registration in the one-task
 * interpreted profile without a declared day partition also gets a
 * resident copy (see [[load]]), which the catalog builds, serves and
 * releases.
 */
object Catalog {

  /** Mirror of the reference's DatasetColumnType (dataset.py:102-107). */
  sealed trait ColType
  object ColType {
    case object Int    extends ColType
    case object Float  extends ColType
    case object Bool   extends ColType
    case object Str    extends ColType
  }

  /** Per-column registration attributes, mirroring the reference's
    * DatasetColumnAttributes (frocket/common/dataset.py:110-131): numeric
    * min/max for numeric columns; for string columns the unique-values
    * ratio, categorical designation (ratio <= `categoricalRatio`) and the
    * top-N values with their normalized share (>= `categoricalTopMinPct`,
    * descending share — config keys dataset.categorical.* in the
    * reference's config.py:46-49). */
  final case class ColumnAttrs(
      numericMin: Option[Double] = None,
      numericMax: Option[Double] = None,
      categorical: Boolean = false,
      catUniqueRatio: Option[Double] = None,
      catTopValues: Seq[(String, Double)] = Nil)

  final case class RegisteredDataset(
      name: String,
      basepath: String,
      groupIdColumn: String,
      timestampColumn: String,
      columns: Map[String, ColType],
      unsupportedColumns: Seq[String],
      minTimestamp: Double,
      maxTimestamp: Double,
      numGroups: Long,
      numRows: Long,
      registeredAt: Long,
      columnAttrs: Map[String, ColumnAttrs] = Map.empty,
      dtypeNames: Map[String, String] = Map.empty,
      statsExact: Boolean = true,
      sampledParts: Int = 0,
      totalParts: Int = 0,
      /** Declared GroupedWriter.partitionByDay DATE column (day of the
        * epoch-NANOS timestamp column); validated against the data at
        * registration, consumed by the server's QueryEngine for timeframe
        * partition pruning. Never inferred from a column name. */
      dayPartitionColumn: Option[String] = None,
      /** Max UTF-8 byte length of the group id column, recorded by the
        * stats pass for STRING gids only (r16; None for integral gids and
        * for pre-r16 persisted registrations). Consumed by the engine's
        * survivor-sharing broadcast gate: numGroups alone can't bound a
        * string-gid broadcast (ids have unbounded length), so the gate
        * multiplies the two into an estimated broadcast size. Sampled
        * registrations may undercount — the server forwards it only when
        * statsExact, same as numGroups. Backfill note (r17): a pre-r16
        * registration reloaded from a persisted catalog store has None
        * here, so string-gid datasets take the conservative 8M-group cap
        * (SurvivorShareMaxStringGroups) instead of the byte-sized budget —
        * correct, just not byte-optimal. Re-registering the dataset
        * records the stat; no migration step is needed or provided. */
      gidMaxBytes: Option[Long] = None,
      /** Summed length of the part files listed at registration; picks
        * the [[ExecutionProfile]] the dataset's queries run under. None
        * for registrations persisted before it was recorded, which keep
        * the codegen profile until re-registered. */
      totalBytes: Option[Long] = None) {
    def profile: ExecutionProfile = ExecutionProfile.forInput(totalBytes)
  }

  /** One listed part file: its qualified path and length in bytes. */
  final case class PartFile(path: org.apache.hadoop.fs.Path, length: Long)

  final case class RegistrationException(msg: String) extends RuntimeException(msg)

  /** File-selection mode for the registration stats/validation scan
    * (reference DatasetValidationMode — registration_job.py:100-121,
    * docs/api.md:50-55). `Full` is this engine's default: stats are exact
    * because one distributed aggregate over all files is cheap for Spark
    * (deliberate divergence, DIVERGENCES.md #3). The sampled modes exist
    * for the reference's reason — registering a 100 TB dataset must not
    * cost a full scan — and mark the resulting stats approximate. Sampled
    * extras are evenly spaced rather than random (reference samples
    * randomly): registration must be reproducible run-to-run here. */
  sealed trait ValidationMode
  object ValidationMode {
    case object Full      extends ValidationMode
    case object Single    extends ValidationMode
    case object FirstLast extends ValidationMode
    final case class Sample(ratio: Double = 0.1, maxSamples: Int = 10) extends ValidationMode

    // Locale.ROOT: a Turkish default locale uppercases "single" to a
    // dotted-I form that would fail to match.
    def parse(s: String): ValidationMode =
      s.toUpperCase(java.util.Locale.ROOT) match {
      case "FULL"       => Full
      case "SINGLE"     => Single
      case "FIRST_LAST" => FirstLast
      case "SAMPLE"     => Sample()
      case other => throw RegistrationException(
        s"Unknown validationMode '$other' (expected FULL, SINGLE, FIRST_LAST or SAMPLE)")
    }
  }

  private val datasets = new ConcurrentHashMap[String, RegisteredDataset]()

  /** What [[load]] has built for the current registration under each
    * name. Guarded by itself, and so is publishing a registration under a
    * name (`datasets` writes), so only the current registration's handles
    * are memoised and a replaced registration's copy is released. */
  private val loaded = new java.util.HashMap[String, Loaded]()

  /** The handles loaded for one registration snapshot, one per host
    * session and profile, and for a resident registration the persisted
    * rows that all of its handles read. A handle holds its host's profile
    * session, so both live until the registration is replaced or
    * unregistered. */
  private final class Loaded(val registeredAt: Long) {
    var rows: Option[RDD[InternalRow]] = None
    val handles = new java.util.HashMap[(SparkSession, ExecutionProfile), DataFrame]()
    def release(): Unit = rows.foreach(_.unpersist(blocking = false))
  }

  /** Whether a registration is served from a resident copy: one in the
    * one-task interpreted profile (under `ExecutionProfile.ResidentMaxBytes`)
    * that declares no day-partition column. A declared day partition keeps
    * the file scan, whose queries prune whole day directories (the
    * declaration's purpose, pinned in LibrarySpec). */
  private def resident(profile: ExecutionProfile,
                       dayPartitionColumn: Option[String]): Boolean =
    profile == ExecutionProfile.Interpreted && dayPartitionColumn.isEmpty

  /** The rows of `scan` (coalesced to one partition) persisted
    * memory-and-disk, lazily: the first action that reads them fills the
    * blocks. `persist`, not `localCheckpoint`: lost blocks recompute from
    * lineage.
    *
    * The copy holds rows, scanned interpreted, rather than a CacheManager
    * entry (`Dataset.persist`): Spark's default cached-batch serializer
    * decodes string columns through `GenerateColumnAccessor`, generated
    * code the interpreted profile exists to avoid (two compiles on the
    * first query of a string-column dataset, measured). */
  private def residentRows(scan: DataFrame, name: String,
                           basepath: String): RDD[InternalRow] =
    org.apache.spark.sql.GraftResidentRows.persist(scan.coalesce(1),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      s"resident copy of '$name' ($basepath)")

  /** A handle over resident `rows` in `scan`'s session. Its plan reports
    * `SinglePartition`, so every window, group-by and final aggregate over
    * it needs no exchange. */
  private def residentFrame(rows: RDD[InternalRow], scan: DataFrame): DataFrame =
    org.apache.spark.sql.GraftResidentRows.frame(rows, scan.coalesce(1))

  /** Release what was loaded for `name`, if anything. Call holding
    * `loaded`. */
  private def release(name: String): Unit =
    Option(loaded.remove(name)).foreach(_.release())

  /** Publish `ds` under its name, releasing what was loaded for the
    * registration it replaces and memoising `first`: the registering host
    * session's handle over resident rows. */
  private def publish(ds: RegisteredDataset,
                      first: Option[(SparkSession, DataFrame, RDD[InternalRow])]): Unit =
    loaded.synchronized {
      datasets.put(ds.name, ds)
      release(ds.name)
      first.foreach { case (host, df, rows) =>
        val l = new Loaded(ds.registeredAt)
        l.rows = Some(rows)
        l.handles.put((host, ds.profile), df)
        loaded.put(ds.name, l)
      }
    }

  /** Classify a Spark type into the reference's 4-type system; None =
    * unsupported (datetimes, nested... recorded, not fatal). Decimals are
    * Float, matching SchemaValidator.colKind — registration and query-time
    * validation must agree on the supported column set. */
  def classify(dt: DataType): Option[ColType] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(ColType.Int)
    case FloatType | DoubleType | _: DecimalType       => Some(ColType.Float)
    case BooleanType                                   => Some(ColType.Bool)
    case StringType                                    => Some(ColType.Str)
    case _                                             => None
  }

  /** Parquet part files under `basepath` (or the file itself), sorted
    * lexicographically — the ordering the reference's SINGLE/FIRST_LAST
    * choices are defined over (registration_job.py:104-107). Hadoop FS, so
    * local paths and s3a list the same way. Names starting with `_` or `.`
    * (`_SUCCESS`, checksum files) are not parts. */
  def partFiles(spark: SparkSession, basepath: String): Seq[PartFile] = {
    val path = new org.apache.hadoop.fs.Path(basepath)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val files = scala.collection.mutable.ArrayBuffer.empty[PartFile]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      val base = f.getPath.getName
      if (!base.startsWith("_") && !base.startsWith(".")) files += PartFile(f.getPath, f.getLen)
    }
    files.toSeq.sortBy(_.path.toString)
  }

  /** The part files the stats/validation scan reads under `mode`: all of
    * them (Full), the first (Single), first+last (FirstLast), or
    * first+last plus up to `maxSamples` evenly-spaced extras (Sample). */
  private[catalog] def chooseParts(files: Seq[String],
                                   mode: ValidationMode): Seq[String] = {
    val n = files.size
    mode match {
      case ValidationMode.Full      => files
      case ValidationMode.Single    => files.take(1)
      case ValidationMode.FirstLast => (files.take(1) ++ files.takeRight(1)).distinct
      case ValidationMode.Sample(ratio, maxSamples) =>
        // First + last always included (like the reference), plus up to
        // `extras` evenly-spaced interior files.
        val extras = math.min(maxSamples, math.ceil(n * ratio).toInt)
        val interior =
          if (n > 2 && extras > 0)
            (1 until n - 1 by math.max(1, (n - 2) / extras)).take(extras)
          else Seq.empty
        (Seq(0, n - 1) ++ interior).distinct.sorted.map(files)
    }
  }

  def register(spark: SparkSession, name: String, basepath: String,
               groupIdColumn: String, timestampColumn: String,
               categoricalRatio: Double = 0.1,
               categoricalTopCount: Int = 20,
               categoricalTopMinPct: Double = 0.01,
               mode: ValidationMode = ValidationMode.Full,
               validateGroupLocality: Boolean = false,
               dayPartitionColumn: Option[String] = None): RegisteredDataset = {
    prepare(spark)
    // Schema always comes from the full basepath (parquet footers — no data
    // scan); only the stats/validation pass below is restricted to the
    // sampled files.
    val listed = partFiles(spark, basepath)
    if (listed.isEmpty)
      throw RegistrationException(s"No part files found under $basepath")
    val allParts = listed.map(_.path.toString)
    val totalBytes = listed.map(_.length).sum
    // The stats pass runs under the profile the dataset's queries will.
    val profile = ExecutionProfile.forInput(Some(totalBytes))
    val session = prepare(ExecutionProfile.session(spark, profile))
    val sampled = chooseParts(allParts, mode)
    // A Full-mode resident registration builds its copy here, and the
    // stats and top-K passes read it (their first action fills it): one
    // read of the part files serves registration and queries.
    val copy =
      if (mode == ValidationMode.Full && resident(profile, dayPartitionColumn)) {
        val scan = read(session, basepath)
        val rows = residentRows(scan, name, basepath)
        Some((spark, residentFrame(rows, scan), rows))
      } else None
    val ds = try {
      val df = copy.map(_._2).getOrElse(graft.ops.Tables.tsToNanos(
        if (mode == ValidationMode.Full) session.read.parquet(basepath)
        else {
          // basePath keeps hive-style partition columns visible when reading
          // leaf part files directly — without it a partitioned dataset's
          // stats scan would drop columns the schema (read from the full
          // basepath) still lists, and every agg on them would fail. Spark
          // requires basePath to be a directory, so skip it when the
          // registered basepath is a single parquet file (no partition
          // columns possible there anyway).
          val fs = new org.apache.hadoop.fs.Path(basepath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val rd = if (fs.getFileStatus(new org.apache.hadoop.fs.Path(basepath)).isDirectory)
            session.read.option("basePath", basepath) else session.read
          rd.parquet(sampled: _*)
        }))
      // Schema AFTER ts normalization: registration classifies the columns the
      // engine will actually see (a TIMESTAMP-typed ts registers as Int).
      val schema = (if (mode == ValidationMode.Full) df else read(session, basepath)).schema

      def field(c: String): StructField =
        schema.find(_.name == c).getOrElse(
          throw RegistrationException(s"Column '$c' not found in $basepath"))

      // Group id: int or string, no nulls (registration_task_runner.py:85-92).
      classify(field(groupIdColumn).dataType) match {
        case Some(ColType.Int) | Some(ColType.Str) => ()
        case other => throw RegistrationException(
          s"Group id column '$groupIdColumn' must be int or string, got $other")
      }
      // Timestamp: numeric, scale-agnostic (registration_task_runner.py:94-101).
      classify(field(timestampColumn).dataType) match {
        case Some(ColType.Int) | Some(ColType.Float) => ()
        case other => throw RegistrationException(
          s"Timestamp column '$timestampColumn' must be numeric, got $other")
      }

      val classified = schema.fields.map(f => f.name -> classify(f.dataType))
      val columns = classified.collect { case (n, Some(t)) => n -> t }.toMap
      val unsupported = classified.collect { case (n, None) => n }.toSeq

      // Pure-metadata gate for the day-partition declaration — BEFORE any
      // scan: a typo'd or non-DATE column must be a cheap rejection, not one
      // that surfaces after the full stats pass.
      dayPartitionColumn.foreach { dtCol =>
        if (!schema.exists(f => f.name == dtCol &&
            f.dataType == org.apache.spark.sql.types.DateType))
          throw RegistrationException(
            s"dayPartitionColumn '$dtCol' must be a DATE column of the dataset")
      }

      // One distributed pass for stats + null validation + per-column
      // attributes: numeric min/max and, for string columns, the approximate
      // distinct count for the unique-values ratio (HyperLogLog++ partials
      // merge map-side — exact count_distinct per column would add one
      // expand+shuffle each, which doesn't survive a wide schema at 100 TB;
      // the reference itself reads only a sample, so approx on FULL data is
      // strictly more faithful).
      val numericCols = columns.collect {
        case (n, t) if (t == ColType.Int || t == ColType.Float) && n != timestampColumn => n
      }.toSeq.sorted
      val stringCols = columns.collect { case (n, ColType.Str) => n }.toSeq.sorted
      // String gids also record their max UTF-8 byte length (one more
      // column in the same aggregate — free at any scale): the engine's
      // survivor-sharing broadcast gate needs byte-aware sizing for string
      // ids, whose length numGroups alone can't bound.
      val gidIsStr = classify(field(groupIdColumn).dataType).contains(ColType.Str)
      val baseAggs = Seq(
        min(col(timestampColumn).cast("double")).as("min_ts"),
        max(col(timestampColumn).cast("double")).as("max_ts"),
        count_distinct(col(groupIdColumn)).as("n_groups"),
        count(lit(1)).as("n_rows"),
        sum(when(col(groupIdColumn).isNull, 1L).otherwise(0L)).as("null_gids"),
        sum(when(col(timestampColumn).isNull ||
                 col(timestampColumn).cast("double").isNaN, 1L).otherwise(0L)).as("bad_ts")) ++
        (if (gidIsStr) Seq(max(octet_length(col(groupIdColumn))).as("gid_max_bytes"))
         else Nil)
      val colAggs =
        numericCols.flatMap(n => Seq(
          min(col(n).cast("double")).as(s"__min_$n"),
          max(col(n).cast("double")).as(s"__max_$n"))) ++
        stringCols.map(n => approx_count_distinct(col(n)).as(s"__acd_$n"))
      val allAggs = baseAggs ++ colAggs
      // Optional data-quality assertion for users migrating reference
      // datasets: the reference's execution model REQUIRES each group id to
      // live in exactly one part file and verifies it at registration
      // (frocket/invoker/jobs/registration_job.py:252-272). Spark doesn't
      // need the invariant (shuffles co-locate groups at query time), but a
      // GroupedWriter bucketed layout is supposed to satisfy it — so offer
      // the same check over the scanned (sampled or full) parts. This is a
      // SECOND scan+shuffle job on top of the stats pass (the per-gid
      // aggregation can't fuse into the global stats aggregate), which is
      // why it's opt-in: enabling it roughly doubles registration I/O.
      if (validateGroupLocality && allParts.size > 1) {
        // A single-part sample can never witness a cross-file split — an
        // explicitly requested check must not pass vacuously, so widen the
        // checked set to at least (first, last) parts when the stats sample
        // was narrower. It reads the part files even when a resident copy
        // exists: input_file_name() is empty over a cached relation, so the
        // check would pass vacuously on the copy.
        val checkDf =
          if (sampled.size <= 1) session.read.option("basePath", basepath)
            .parquet(Seq(allParts.head, allParts.last): _*)
          else if (copy.nonEmpty) session.read.parquet(basepath)
          else df
        // input_file_name() is nondeterministic, so project it before the
        // aggregate (it may not appear inside an aggregate function).
        val split = checkDf
          .select(col(groupIdColumn), input_file_name().as("__file"))
          .groupBy(col(groupIdColumn))
          .agg(count_distinct(col("__file")).as("__files"))
          .where(col("__files") > 1)
          .limit(5)
          .collect()
        if (split.nonEmpty)
          throw RegistrationException(
            s"Group locality violated: ${split.length}+ group ids span multiple " +
            s"part files (e.g. ${split.map(_.get(0)).mkString(", ")}) — " +
            "regroup with GroupedWriter or register with validateGroupLocality=false")
      }
      val stats = df.agg(allAggs.head, allAggs.tail: _*).collect()(0)
      if (stats.getAs[Long]("null_gids") > 0)
        throw RegistrationException(s"Group id column '$groupIdColumn' contains nulls")
      if (stats.getAs[Long]("bad_ts") > 0)
        throw RegistrationException(s"Timestamp column '$timestampColumn' contains nulls/NaNs")
      val nRows = stats.getAs[Long]("n_rows")

      val numericAttrs = numericCols.map { n =>
        n -> ColumnAttrs(
          numericMin = Option(stats.getAs[Double](s"__min_$n")),
          numericMax = Option(stats.getAs[Double](s"__max_$n")))
      }
      // String columns: categorical iff unique-ratio <= categoricalRatio
      // (registration_task_runner.py:176-203); top values as normalized
      // shares. ALL categorical columns share ONE top-K job: each row
      // explodes to its (column, value) pairs, one hash aggregation counts
      // them (map-side partials), and the salted two-phase top-N
      // (Skew.topNPerKey keyed by column name) takes the top K. A plain
      // per-column window would sort a column's ENTIRE distinct-value set —
      // up to categoricalRatio*nRows rows for a near-threshold column — in
      // one task; the salted form caps every task's sort at K*salts rows.
      // Job count stays independent of schema width, where a per-column
      // loop would run hundreds of scans on a wide registration.
      def uniqueRatio(n: String) =
        if (nRows == 0) 1.0
        else stats.getAs[Long](s"__acd_$n").toDouble / nRows
      val catCols = stringCols.filter(uniqueRatio(_) <= categoricalRatio)
      val topByCol: Map[String, Seq[(String, Double)]] =
        if (categoricalTopCount == 0 || catCols.isEmpty) Map.empty
        else {
          val counts = df.select(explode(array(catCols.map(n =>
              struct(lit(n).as("__col"), col(n).as("__val"))): _*)).as("kv"))
            .select(col("kv.__col").as("__col"), col("kv.__val").as("__val"))
            .where(col("__val").isNotNull)
            .groupBy(col("__col"), col("__val")).agg(count(lit(1)).as("__c"))
          graft.operators.Skew.topNPerKey(counts, "__col", "__val",
              Seq(desc("__c"), asc("__val")), categoricalTopCount)
            .collect()
            .toSeq
            .groupBy(_.getString(0))
            .map { case (c, rows) =>
              c -> rows.sortBy(r => (-r.getLong(2), r.getString(1)))
                .map(r => r.getString(1) -> r.getLong(2).toDouble / nRows)
                .filter(_._2 >= categoricalTopMinPct)
            }
        }
      val stringAttrs = stringCols.map { n =>
        val ratio = uniqueRatio(n)
        if (ratio <= categoricalRatio)
          n -> ColumnAttrs(categorical = true, catUniqueRatio = Some(ratio),
            catTopValues = topByCol.getOrElse(n, Nil))
        else n -> ColumnAttrs(categorical = false, catUniqueRatio = Some(ratio))
      }

      // A declared day-partition column is a correctness claim ("this DATE
      // column IS the day of the nanos timestamp") that the engine will turn
      // into partition-pruning filters — verify it against the FULL data
      // (not just the sampled parts: a mis-declared unsampled day directory
      // would be silently pruned away on every query). The scan reads only
      // (dt, ts) — column-pruned, far cheaper than the stats pass — and the
      // derivation is the same GroupedWriter.dayOfTsNanos the engine's
      // bounds use. The free schema-type gate already ran before any scan.
      dayPartitionColumn.foreach { dtCol =>
        val mismatches = session.read.option("basePath", basepath).parquet(basepath)
          .select(col(dtCol), col(timestampColumn))
          .where(col(dtCol).isNull || col(dtCol) =!=
            graft.sources.GroupedWriter.dayOfTsNanos(col(timestampColumn)))
          .limit(1).count()
        if (mismatches > 0)
          throw RegistrationException(
            s"dayPartitionColumn '$dtCol' does not equal the day of " +
            s"'$timestampColumn' (epoch nanos) — " +
            "declaring it would make timeframe pruning drop valid rows")
      }

      RegisteredDataset(name, basepath, groupIdColumn, timestampColumn,
        columns, unsupported,
        stats.getAs[Double]("min_ts"), stats.getAs[Double]("max_ts"),
        stats.getAs[Long]("n_groups"), nRows,
        System.currentTimeMillis(),
        columnAttrs = (numericAttrs ++ stringAttrs).toMap,
        dtypeNames = schema.fields.map(f => f.name -> f.dataType.simpleString).toMap,
        statsExact = mode == ValidationMode.Full,
        sampledParts = sampled.size, totalParts = allParts.size,
        dayPartitionColumn = dayPartitionColumn,
        // all-null-free by the validation above, but an empty dataset's max
        // is null — guard the unboxing.
        gidMaxBytes =
          if (gidIsStr && !stats.isNullAt(stats.fieldIndex("gid_max_bytes")))
            Some(stats.getAs[Int]("gid_max_bytes").toLong)
          else None,
        totalBytes = Some(totalBytes))
    } catch { case e: Throwable =>
      copy.foreach(_._3.unpersist(blocking = false))
      throw e
    }
    publish(ds, copy)
    saveStore()
    ds
  }

  private val lastUsedAt = new ConcurrentHashMap[String, java.lang.Long]()

  def get(name: String): Option[RegisteredDataset] = Option(datasets.get(name))

  /** Remove a dataset and release its resident copy; returns whether it
    * was registered. */
  def unregister(name: String): Boolean = {
    lastUsedAt.remove(name)
    val removed = loaded.synchronized {
      release(name)
      datasets.remove(name) != null
    }
    if (removed) saveStore()
    removed
  }

  /** Epoch-millis of the dataset's last query, if any (reference
    * datastore.last_used — feeds the unregister safety interval). */
  def lastUsed(name: String): Option[Long] =
    Option(lastUsedAt.get(name)).map(_.longValue)

  /** Mark a dataset used WITHOUT loading it — the serving result cache
    * answers repeats without touching the data, but a cached query is
    * still a use for the unregister safety interval. */
  def touch(name: String): Unit =
    if (datasets.containsKey(name))
      lastUsedAt.put(name, System.currentTimeMillis())

  def list(): Seq[RegisteredDataset] =
    { import scala.jdk.CollectionConverters._; datasets.values.asScala.toSeq }

  /** Load the CURRENT registration under `name` (marks it used). */
  def load(spark: SparkSession, name: String): DataFrame =
    load(spark, get(name).getOrElse(
      throw RegistrationException(s"Unknown dataset '$name'")))

  /** Load a specific registration SNAPSHOT (marks it used). Callers that
    * bound a `RegisteredDataset` at request entry must load through it,
    * not by name (r16, race fix): a re-registration landing between the
    * bind and the load would otherwise serve the NEW basepath under the
    * OLD registeredAt — a torn version that also poisons any
    * (name, registeredAt)-keyed cache above.
    *
    * The handle is memoised per (name, registeredAt, host session,
    * profile) for the current registration, checked before any footer is
    * read: the part files never change under a registration (updates
    * re-register, reference dataset.py:36-53), so a handle is the plan
    * over the listing captured at its first load. A replaced snapshot
    * gets an unmemoised scan. Re-registration, [[unregister]] and
    * [[clear]] drop the memo. The listing and footer reads of a first load
    * run outside the memo's lock; when two loads race, the later one's
    * copy is released and the memoised handle returned.
    *
    * A registration loads as a plain scan of its part files in its
    * profile's session, except in the one-task `ExecutionProfile.Interpreted`
    * profile (under `ExecutionProfile.ResidentMaxBytes`) without a declared
    * day partition: that one loads as its resident copy, the rows of the
    * normalized scan coalesced to one partition and persisted
    * memory-and-disk. Its queries open no Parquet file and, as the copy's
    * plan reports `SinglePartition`, shuffle nothing: the window stack,
    * every group-by and every final aggregate run in one task. Full-mode
    * registration builds the copy; a registration loaded from the store or
    * registered in a sampled mode gets it here, on its first load. Host
    * sessions share one copy's rows, each through a handle in its own
    * profile session.
    *
    * Memory: one copy per live resident registration, each the rows of an
    * input under `ResidentMaxBytes` of Parquet held deserialized (several
    * times the Parquet size). Spark's storage LRU spills it to disk under
    * pressure, and lost blocks recompute from the part files.
    * Re-registration, [[unregister]] and a failed registration release it.
    * Rejected alternatives, measured: one shuffle partition without the
    * copy (fewer tasks, latency inside the noise), and the copy up to
    * `InterpretedMaxBytes` (one task loses to the parallel file scan from
    * about a megabyte of Parquet up; BENCH.md §"Resident single-partition
    * copy"). */
  def load(spark: SparkSession, ds: RegisteredDataset): DataFrame = {
    lastUsedAt.put(ds.name, System.currentTimeMillis())
    val key = (spark, ds.profile)
    val isResident = resident(ds.profile, ds.dayPartitionColumn)
    def snapshot: Option[Loaded] =
      Option(loaded.get(ds.name)).filter(_.registeredAt == ds.registeredAt)
    val (memo, rows) = loaded.synchronized {
      (snapshot.flatMap(l => Option(l.handles.get(key))), snapshot.flatMap(_.rows))
    }
    memo.getOrElse {
      prepare(spark)
      val scan = read(prepare(ExecutionProfile.session(spark, ds.profile)), ds.basepath)
      val built =
        if (isResident && rows.isEmpty) Some(residentRows(scan, ds.name, ds.basepath))
        else None
      loaded.synchronized {
        if (!get(ds.name).exists(_.registeredAt == ds.registeredAt)) {
          built.foreach(_.unpersist(blocking = false))
          scan
        } else {
          val l = snapshot.getOrElse {
            val fresh = new Loaded(ds.registeredAt)
            loaded.put(ds.name, fresh)
            fresh
          }
          if (isResident && l.rows.isEmpty)
            l.rows = built.orElse(Some(residentRows(scan, ds.name, ds.basepath)))
          else built.foreach(_.unpersist(blocking = false)) // another load won
          Option(l.handles.get(key)).getOrElse {
            val df = if (isResident) residentFrame(l.rows.get, scan) else scan
            l.handles.put(key, df)
            df
          }
        }
      }
    }
  }

  /** Handles [[load]] holds memoised, over every registration and host
    * session. */
  def loadedHandles: Int = loaded.synchronized {
    var n = 0
    loaded.values.forEach(l => n += l.handles.size)
    n
  }

  /** The normalized scan of every part file under `basepath`. */
  private def read(session: SparkSession, basepath: String): DataFrame =
    graft.ops.Tables.tsToNanos(session.read.parquet(basepath))

  /** The runtime confs every registration read needs: TIMESTAMP(NANOS)
    * columns arrive as longs, and UTC pins tsToNanos' NTZ reading. */
  private def prepare(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  // ------------------------------------------------------------ persistence
  //
  // JSON-file dataset store — the durable-registration role the reference
  // gives Redis (frocket/datastore/redis_store.py:83-94): registrations
  // survive server restarts. The file is the driver's local (or mounted)
  // disk; at cluster scale the same JSON would live on shared storage —
  // the writer is a whole-file atomic replace either way.

  import org.json4s._
  import org.json4s.JsonDSL._
  import org.json4s.jackson.JsonMethods

  @volatile private var storePath: Option[java.nio.file.Path] = None

  /** Point the catalog at a JSON store file and load whatever it holds.
    * Registrations/unregistrations from now on rewrite the file.
    * The catalog is process-global, so at most one store per JVM:
    * re-attaching the same path is an idempotent no-op; a different path
    * is rejected (it would silently repoint every live server's
    * persistence and overlay stored datasets onto in-memory state) —
    * call [[disablePersistence]] first if the switch is intentional. */
  def enablePersistence(path: String): Unit = synchronized {
    val p = java.nio.file.Paths.get(path)
    storePath match {
      case Some(cur) if cur == p => () // idempotent re-attach
      case Some(cur) =>
        throw RegistrationException(
          s"Catalog already persists to $cur; detach (disablePersistence) " +
          s"before attaching $p")
      case None =>
        storePath = Some(p)
        if (java.nio.file.Files.exists(p)) {
          JsonMethods.parse(java.nio.file.Files.readString(p)) \ "datasets" match {
            case JArray(items) =>
              items.foreach(j => publish(dsFromJson(j), None))
            case _ => ()
          }
        }
    }
  }

  /** Detach from the store (test isolation); in-memory state is kept. */
  def disablePersistence(): Unit = storePath = None

  /** Drop every registration (and persist the empty state if attached). */
  def clear(): Unit = {
    loaded.synchronized {
      loaded.values.forEach(_.release())
      loaded.clear()
      datasets.clear()
    }
    lastUsedAt.clear()
    saveStore()
  }

  private def saveStore(): Unit = synchronized {
    storePath.foreach { p =>
      import scala.jdk.CollectionConverters._
      val json = JObject("datasets" ->
        JArray(datasets.values.asScala.toList.sortBy(_.name).map(dsToJson)))
      val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
      java.nio.file.Files.writeString(tmp, JsonMethods.pretty(JsonMethods.render(json)))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def dsToJson(d: RegisteredDataset): JValue =
    ("name" -> d.name) ~ ("basepath" -> d.basepath) ~
      ("groupIdColumn" -> d.groupIdColumn) ~
      ("timestampColumn" -> d.timestampColumn) ~
      ("columns" -> d.columns.map { case (k, v) => k -> v.toString }) ~
      ("unsupportedColumns" -> d.unsupportedColumns) ~
      ("minTimestamp" -> d.minTimestamp) ~ ("maxTimestamp" -> d.maxTimestamp) ~
      ("numGroups" -> d.numGroups) ~ ("numRows" -> d.numRows) ~
      ("registeredAt" -> d.registeredAt) ~ ("statsExact" -> d.statsExact) ~
      ("sampledParts" -> d.sampledParts) ~ ("totalParts" -> d.totalParts) ~
      ("dayPartitionColumn" -> d.dayPartitionColumn) ~
      ("gidMaxBytes" -> d.gidMaxBytes) ~
      ("totalBytes" -> d.totalBytes) ~
      ("dtypeNames" -> d.dtypeNames) ~
      ("columnAttrs" -> d.columnAttrs.map { case (k, a) =>
        k -> (("numericMin" -> a.numericMin) ~ ("numericMax" -> a.numericMax) ~
          ("categorical" -> a.categorical) ~
          ("catUniqueRatio" -> a.catUniqueRatio) ~
          ("catTopValues" -> a.catTopValues.map { case (v, s) =>
            ("value" -> v) ~ ("share" -> s)
          }))
      })

  private def dsFromJson(j: JValue): RegisteredDataset = {
    implicit val formats: Formats = DefaultFormats
    def colType(s: String): ColType = s match {
      case "Int" => ColType.Int
      case "Float" => ColType.Float
      case "Bool" => ColType.Bool
      case _ => ColType.Str
    }
    val attrs = j \ "columnAttrs" match {
      case JObject(fields) => fields.map { case (k, v) =>
        k -> ColumnAttrs(
          numericMin = (v \ "numericMin").extractOpt[Double],
          numericMax = (v \ "numericMax").extractOpt[Double],
          categorical = (v \ "categorical").extractOpt[Boolean].getOrElse(false),
          catUniqueRatio = (v \ "catUniqueRatio").extractOpt[Double],
          catTopValues = v \ "catTopValues" match {
            case JArray(xs) => xs.map(x =>
              ((x \ "value").extract[String], (x \ "share").extract[Double]))
            case _ => Nil
          })
      }.toMap
      case _ => Map.empty[String, ColumnAttrs]
    }
    RegisteredDataset(
      name = (j \ "name").extract[String],
      basepath = (j \ "basepath").extract[String],
      groupIdColumn = (j \ "groupIdColumn").extract[String],
      timestampColumn = (j \ "timestampColumn").extract[String],
      columns = (j \ "columns").extract[Map[String, String]]
        .map { case (k, v) => k -> colType(v) },
      unsupportedColumns = (j \ "unsupportedColumns").extract[Seq[String]],
      minTimestamp = (j \ "minTimestamp").extract[Double],
      maxTimestamp = (j \ "maxTimestamp").extract[Double],
      numGroups = (j \ "numGroups").extract[Long],
      numRows = (j \ "numRows").extract[Long],
      registeredAt = (j \ "registeredAt").extract[Long],
      columnAttrs = attrs,
      dtypeNames = (j \ "dtypeNames").extract[Map[String, String]],
      statsExact = (j \ "statsExact").extractOpt[Boolean].getOrElse(true),
      sampledParts = (j \ "sampledParts").extractOpt[Int].getOrElse(0),
      totalParts = (j \ "totalParts").extractOpt[Int].getOrElse(0),
      dayPartitionColumn = (j \ "dayPartitionColumn").extractOpt[String],
      gidMaxBytes = (j \ "gidMaxBytes").extractOpt[Long],
      totalBytes = (j \ "totalBytes").extractOpt[Long])
  }
}
