package graft.catalog

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, DataFrameReader, GraftCollect, GraftResidentRows,
  SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.GraftFooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Dataset registration — the Spark-native replacement for the reference's
 * registration job (frocket/invoker/jobs/registration_job.py +
 * worker/runners/registration_task_runner.py).
 *
 * The reference samples files, infers per-file Pandas schemas, merges them,
 * and validates a physical invariant (each group's rows in exactly one
 * file). Here two Spark jobs do the honest version of all of it: the
 * schema comes from the parquet footer of the first part file, read on
 * the driver (no job, no sampling of rows), column classification mirrors
 * the reference's 4-type system (frocket/common/dataset.py:102-107),
 * unsupported types are recorded rather than rejected wholesale
 * (dataset.py:153-159), the stats pass (min/max timestamp, group count) is
 * one distributed aggregate and the categorical top values are one more.
 * Every read a registration makes is given that schema. The
 * one-group-one-file invariant is NOT required — Spark shuffles — so
 * registration validates only what still matters: group id non-null and of
 * int/string type, timestamp numeric and non-null
 * (registration_task_runner.py:79-101).
 *
 * Registration also records the summed part-file size, which picks the
 * dataset's [[ExecutionProfile]]: its stats pass and every later
 * [[load]] run in that profile's session. The catalog memoises the
 * handles [[load]] returns, and every registration in the interpreted
 * profile is served from a resident copy laid out by group id (see
 * [[load]]), which the catalog builds, serves and releases.
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
  final case class PartFile(path: Path, length: Long)

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
    * are memoised and a replaced registration's copies are released. */
  private val loaded = new java.util.HashMap[String, Loaded]()

  /** The handles loaded for one registration snapshot, one per host
    * session and layout, and the resident copies they read, one per
    * partition count. A handle holds its host's profile session, so both
    * live until the registration is replaced or unregistered. */
  private final class Loaded(val registeredAt: Long) {
    val copies = new java.util.HashMap[Int, RDD[InternalRow]]()
    val handles = new java.util.HashMap[(SparkSession, Option[Int]), DataFrame]()
    def release(): Unit = copies.values.forEach(_.unpersist(blocking = false))
  }

  /** The partitions of the resident copy serving an input of `totalBytes`:
    * one under `ExecutionProfile.ResidentMaxBytes`, else one per core.
    * None in the codegen profile, which scans the part files. */
  private def copyPartitions(spark: SparkSession, totalBytes: Option[Long]): Option[Int] =
    ExecutionProfile.forInput(totalBytes) match {
      case ExecutionProfile.Codegen => None
      case ExecutionProfile.Interpreted =>
        Some(if (totalBytes.exists(_ < ExecutionProfile.ResidentMaxBytes)) 1
             else spark.sparkContext.defaultParallelism)
    }

  /** `scan` laid out by group id in `parts` partitions: one, reporting
    * `SinglePartition`, or hashed, reporting `HashPartitioning(gid, parts)`.
    * Either way no window or per-group aggregate over it needs an exchange. */
  private def layout(scan: DataFrame, parts: Int, gid: String): DataFrame =
    if (parts == 1) scan.coalesce(1) else scan.repartition(parts, col(gid))

  /** The rows of `laid`, a [[layout]] of a scan, persisted
    * memory-and-disk, lazily: the first action that reads them fills the
    * blocks. `persist`, not `localCheckpoint`: lost blocks recompute from
    * lineage. [[GraftResidentRows.frame]] over the rows and the same `laid`
    * frame serves them, so the layout is planned once.
    *
    * The copy holds rows, scanned interpreted, rather than a CacheManager
    * entry (`Dataset.persist`): Spark's default cached-batch serializer
    * decodes string columns through `GenerateColumnAccessor`, generated
    * code the interpreted profile exists to avoid (two compiles on the
    * first query of a string-column dataset, measured). */
  private def residentRows(laid: DataFrame, name: String, basepath: String): RDD[InternalRow] =
    GraftResidentRows.persist(laid, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      s"resident copy of '$name' ($basepath)")

  /** Release what was loaded for `name`, if anything. Call holding
    * `loaded`. */
  private def release(name: String): Unit =
    Option(loaded.remove(name)).foreach(_.release())

  /** Publish `ds` under its name, releasing what was loaded for the
    * registration it replaces and memoising `first`: the registering host
    * session's handle over a resident copy of the given partitions. */
  private def publish(ds: RegisteredDataset,
                      first: Option[(SparkSession, Int, DataFrame, RDD[InternalRow])]): Unit =
    loaded.synchronized {
      datasets.put(ds.name, ds)
      release(ds.name)
      first.foreach { case (host, parts, df, rows) =>
        val l = new Loaded(ds.registeredAt)
        l.copies.put(parts, rows)
        l.handles.put((host, Some(parts)), df)
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
    * (`_SUCCESS`, checksum files) are not parts; files under directories
    * so named are, as `FileSystem.listFiles(path, true)` lists them.
    *
    * The walk is `listStatus`, one call per directory, and reads no
    * file's permissions: `listFiles` builds a `LocatedFileStatus` per file,
    * which on a local file system without native Hadoop forks `ls -ld`
    * for each (BENCH.md §"Registration in two jobs"). */
  def partFiles(spark: SparkSession, basepath: String): Seq[PartFile] = {
    val path = new Path(basepath)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    def leaves(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s))
    leaves(path).collect {
      case f if !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".") =>
        PartFile(f.getPath, f.getLen)
    }.sortBy(_.path.toString)
  }

  /** The schema of `part`, read from its footer on the driver under
    * `session`'s SQLConf ([[GraftFooterSchema]]). It is the schema a read
    * of the part files infers when given none: Spark's inference reads the
    * footer of the first part file in path order too, but in a Spark job
    * of its own. */
  private def footerSchema(session: SparkSession, part: PartFile): StructType =
    GraftFooterSchema.read(session, new FileStatus(part.length, false, 0, 0, 0, part.path))
      .getOrElse(throw RegistrationException(s"No schema in the footer of ${part.path}"))

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
    // Schema always comes from the full basepath (the first part file's
    // footer, read on the driver — no data scan); only the stats/validation
    // pass below is restricted to the sampled files.
    val listed = partFiles(spark, basepath)
    if (listed.isEmpty)
      throw RegistrationException(s"No part files found under $basepath")
    val allParts = listed.map(_.path.toString)
    val totalBytes = listed.map(_.length).sum
    // The stats pass runs under the profile the dataset's queries will.
    val profile = ExecutionProfile.forInput(Some(totalBytes))
    val session = prepare(ExecutionProfile.session(spark, profile))
    val sampled = chooseParts(allParts, mode)
    // Every read below is given the footer's schema, so none runs a
    // schema-inference job; Spark still appends partition columns (`dt=`)
    // found in the paths.
    val footer = footerSchema(session, listed.head)
    def reader: DataFrameReader = session.read.schema(footer)
    // A Full-mode interpreted registration builds its copy once the group
    // id is known to exist; the stats and top-K passes read (and so fill)
    // it: one read of the part files serves registration and queries.
    var copy: Option[(SparkSession, Int, DataFrame, RDD[InternalRow])] = None
    val ds = try {
      val scan =
        if (mode == ValidationMode.Full) read(session, basepath, footer)
        else graft.ops.Tables.tsToNanos {
          // basePath keeps hive-style partition columns visible when reading
          // leaf part files directly — without it a partitioned dataset's
          // stats scan would drop columns the schema (read from the full
          // basepath) still lists, and every agg on them would fail. Spark
          // requires basePath to be a directory, so skip it when the
          // registered basepath is a single parquet file (no partition
          // columns possible there anyway).
          val fs = new Path(basepath).getFileSystem(spark.sparkContext.hadoopConfiguration)
          val rd = if (fs.getFileStatus(new Path(basepath)).isDirectory)
            reader.option("basePath", basepath) else reader
          rd.parquet(sampled: _*)
        }
      // Schema AFTER ts normalization: registration classifies the columns the
      // engine will actually see (a TIMESTAMP-typed ts registers as Int).
      val schema = (if (mode == ValidationMode.Full) scan else read(session, basepath, footer)).schema

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

      if (mode == ValidationMode.Full)
        copy = copyPartitions(spark, Some(totalBytes)).map { parts =>
          val laid = layout(scan, parts, groupIdColumn)
          val rows = residentRows(laid, name, basepath)
          (spark, parts, GraftResidentRows.frame(rows, laid), rows)
        }
      val df = copy.fold(scan)(_._3)

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
          if (sampled.size <= 1) reader.option("basePath", basepath)
            .parquet(Seq(allParts.head, allParts.last): _*)
          else if (copy.nonEmpty) reader.parquet(basepath)
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
      val stats = GraftCollect.collect(df.agg(allAggs.head, allAggs.tail: _*))(0)
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
          GraftCollect.collect(graft.operators.Skew.topNPerKey(counts, "__col", "__val",
              Seq(desc("__c"), asc("__val")), categoricalTopCount))
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
        val mismatches = reader.option("basePath", basepath).parquet(basepath)
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
      copy.foreach(_._4.unpersist(blocking = false))
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
    * layout) for the current registration, checked before the part files
    * are listed and the first one's footer read (the schema the load's
    * scan is given, so it runs no inference job): the part files never
    * change under a registration (updates
    * re-register, reference dataset.py:36-53), so a handle is the plan
    * over the listing captured at its first load. A replaced snapshot
    * gets an unmemoised scan of its part files in its profile's session.
    * Re-registration, [[unregister]] and [[clear]] drop the memo. The
    * listing and footer reads of a first load run outside the memo's
    * lock; when two loads race, the later one's copy is released and the
    * memoised handle returned.
    *
    * A registration in the codegen profile loads as a scan of its part
    * files in the host session; every one in `ExecutionProfile.Interpreted`,
    * day-partitioned or not, as its resident copy: the rows of the
    * normalized scan laid out by group id (see [[layout]]) and persisted
    * memory-and-disk. Its queries open no Parquet file, so a declared day
    * partition prunes nothing over it. Full-mode registration builds the
    * copy; a registration loaded from the store or registered in a sampled
    * mode gets it here, on its first load. Host sessions share one copy's
    * rows, each through a handle in its own profile session. A
    * `totalBytes` that picks another layout than the registered one (as
    * `graft.Probe ServingScale crossover` sets) gets its own copy.
    *
    * Memory: one copy per live interpreted registration, about 7 MB of
    * heap per MB of Parquet (BENCH.md §"One interpreted profile"). Spark's
    * storage LRU spills it to disk under pressure, and lost blocks
    * recompute from lineage. Re-registration, [[unregister]] and a failed
    * registration release it. */
  def load(spark: SparkSession, ds: RegisteredDataset): DataFrame = {
    lastUsedAt.put(ds.name, System.currentTimeMillis())
    val parts = copyPartitions(spark, ds.totalBytes)
    val key = (spark, parts)
    def snapshot: Option[Loaded] =
      Option(loaded.get(ds.name)).filter(_.registeredAt == ds.registeredAt)
    val (memo, copied) = loaded.synchronized {
      (snapshot.flatMap(l => Option(l.handles.get(key))),
       snapshot.exists(l => parts.exists(k => l.copies.containsKey(k))))
    }
    memo.getOrElse {
      prepare(spark)
      val session = prepare(ExecutionProfile.session(spark, ds.profile))
      val first = partFiles(spark, ds.basepath).headOption.getOrElse(
        throw RegistrationException(s"No part files found under ${ds.basepath}"))
      val scan = read(session, ds.basepath, footerSchema(session, first))
      val laid = parts.map(k => k -> layout(scan, k, ds.groupIdColumn))
      def build(f: DataFrame) = residentRows(f, ds.name, ds.basepath)
      val built = if (copied) None else laid.map(p => build(p._2))
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
          laid.foreach { case (k, f) =>
            if (!l.copies.containsKey(k)) l.copies.put(k, built.getOrElse(build(f)))
            else built.foreach(_.unpersist(blocking = false)) // another load won
          }
          Option(l.handles.get(key)).getOrElse {
            val df = laid.fold(scan) { case (k, f) => GraftResidentRows.frame(l.copies.get(k), f) }
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

  /** The normalized scan of every part file under `basepath`, given
    * their `schema` (see [[footerSchema]]). */
  private def read(session: SparkSession, basepath: String, schema: StructType): DataFrame =
    graft.ops.Tables.tsToNanos(session.read.schema(schema).parquet(basepath))

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
