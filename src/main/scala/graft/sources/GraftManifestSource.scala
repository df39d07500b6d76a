package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.ManifestTable

/** DataSource-V2 READ PATH for the manifest table — format
  * `graft-manifest` (the Delta/Iceberg "the format IS the entry point"
  * move, closing the round-14 correctness trap): every guarantee the
  * table format provides was previously reachable only through the Scala
  * API (`ManifestTable.read/readPruned/readVersion`), so the obvious
  * `spark.read.parquet(root)` silently bypassed the manifest — it saw
  * uncommitted and superseded files AND resurrected rows a pending
  * deferred delete had already masked. With this provider the scale-safe
  * path is the default path:
  *
  * {{{
  *   spark.read.format("graft-manifest").load(root)                  // current version
  *   spark.read.format("graft-manifest").option("versionAsOf", 3).load(root)
  * }}}
  *
  *  - the scan plans from ONE manifest read: only the committed
  *    version's live files are opened (crashed/superseded debris is
  *    invisible by construction);
  *  - filter PUSHDOWN reaches the manifest's zone maps (U6/ST18b: range
  *    predicates on registered stats columns prune whole files by their
  *    recorded [min, max]) and the U16 bloom sidecar (equality/IN keys
  *    drop files whose filter proves absence) — a proven SUPERSET of
  *    matching rows survives and Spark re-applies every filter row-level,
  *    the PushedFilters contract; equality on the partition column prunes
  *    by directory name;
  *  - the U18 deletion-vector mask applies INSIDE the scan (per-row,
  *    before any consumer sees the rows), including under time travel
  *    while a mask is pending — exactly [[ManifestTable.readVersion]]'s
  *    semantics;
  *  - the recorded schema drives the read: files written before a column
  *    existed null-fill it (U10's additive evolution), files written
  *    NARROW after a widening read widened (int32 files under a long
  *    column);
  *  - column pruning reaches the parquet reader (only requested + masked
  *    columns decode; a bare COUNT(*) reads footers only).
  *
  * Scale shape: planning is one small manifest read + (when predicates
  * push) a sidecar probe; work is then bounded by the surviving files,
  * bin-packed into input partitions of ~`maxPartitionBytes`. The reader
  * itself is parquet-mr over FLAT PRIMITIVE schemas (long/int/double/
  * float/boolean/string/binary/timestamp-micros/date) — the shapes this
  * table format writes; nested columns refuse loudly at plan time.
  *
  * Raw-read refusal: [[ManifestTable.commit]] drops a non-underscore
  * SENTINEL file in the table root, so `spark.read.parquet(root)` fails
  * partition discovery loudly instead of silently returning superseded +
  * mask-bypassing rows (spec-pinned; the engine's own reads address
  * explicit file lists and are unaffected).
  */
class GraftManifestSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  /** True (round 16): `CREATE TABLE t (...) USING graft-manifest
    * OPTIONS (path '...', partitionCol '...')` declares a NOT-YET-
    * committed table whose first `INSERT INTO` creates version 0 — the
    * whole lifecycle (create, write, read, maintain) is SQL-operable.
    * The declared schema is authoritative only until the first commit;
    * from then on the RECORDED schema drives reads (additive evolution —
    * a catalog-declared schema that drifts from the recorded one should
    * be re-declared with CREATE OR REPLACE).
    */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftManifestSource.tableOf(options).schema()

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // the FULL transform family parses here (ADVICE r19 — identity-only
    // collection silently dropped days()/bucket() for session-catalog
    // `USING graft-manifest` tables); round 17: PARTITIONED BY (a, b)
    // declares a multi-level layout, directory order = declaration order
    val declaredParts =
      PartitionTransforms.fromV2Transforms(partitioning.toSeq).map(_.render)
    GraftManifestSource.tableOf(
      opts, Option(schema).filter(_.nonEmpty), declaredParts)
  }
}

object GraftManifestSource {

  /** Timestamp OPTION parsing (ADVICE r18): epoch millis, else Spark's
    * own session-timezone-aware parser — `java.sql.Timestamp.valueOf`
    * read the JVM default zone (the same option string resolved to
    * different versions on drivers in different zones) and rejected
    * date-only strings Delta accepts ('2024-01-01' = local midnight).
    */
  private[sources] def parseTsMs(s: String): Long =
    scala.util.Try(s.toLong).getOrElse {
      import org.apache.spark.sql.catalyst.util.DateTimeUtils
      val zone = DateTimeUtils.getZoneId(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
      DateTimeUtils.stringToTimestamp(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), zone)
        .map(micros => Math.floorDiv(micros, 1000L))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot parse timestamp '$s' — pass epoch millis or a " +
            "timestamp/date string (the session time zone applies)"))
    }

  /** Path of `table` relative to `catalogRoot` — the member name the
    * catalog pointer pins it under (scheme-insensitive string path
    * containment; a table outside the root refuses).
    */
  private[sources] def relUnderCatalog(
      catalogRoot: String, table: String): String = {
    val cr = new Path(catalogRoot).toUri.getPath.stripSuffix("/")
    val tp = new Path(table).toUri.getPath.stripSuffix("/")
    require(tp.startsWith(cr + "/"),
      s"catalogRoot: table '$table' is not under '$catalogRoot'")
    tp.substring(cr.length + 1)
  }

  private[sources] def tableOf(
      options: CaseInsensitiveStringMap,
      declaredSchema: Option[StructType] = None,
      declaredParts: Seq[String] = Nil): Table = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-manifest needs a table root: spark.read.format(\"graft-manifest\").load(root)")
    // timestampAsOf (round 18): epoch millis, or any spark-parsable
    // timestamp string — resolved onto a version through the manifest
    // headers' commit metadata, then identical to versionAsOf
    val tsAsOf = Option(options.get("timestampAsOf")).map { s =>
      ManifestTable.versionAtTimestamp(
        org.apache.spark.sql.SparkSession.active, p, parseTsMs(s))
    }
    val explicitVersionAsOf = Option(options.get("versionAsOf")).map(_.toLong)
      .orElse(tsAsOf)
    require(tsAsOf.isEmpty || Option(options.get("versionAsOf")).isEmpty,
      "pass versionAsOf OR timestampAsOf, not both")
    // CATALOG-POINTER resolution (round 20 — cross-table transactions):
    // `catalogRoot` names the transaction group; the load path must be a
    // member table under it, and the POINTER's pinned manifest version
    // becomes this read's snapshot (`catalogVersionAsOf` addresses a
    // historical pointer — catalog-level time travel over a consistent
    // multi-table pair). A table the pointer does not pin reads latest
    // (not yet enrolled), except under time travel, which refuses.
    val catRoot = Option(options.get("catalogRoot"))
    val catVer = Option(options.get("catalogVersionAsOf")).map(_.toLong)
    require(catVer.isEmpty || catRoot.nonEmpty,
      "catalogVersionAsOf needs catalogRoot (the transaction group's root)")
    require(catRoot.isEmpty || explicitVersionAsOf.isEmpty,
      "catalogRoot resolves the snapshot through the catalog pointer — " +
        "drop versionAsOf/timestampAsOf")
    if (options.getBoolean("readChangeFeed", false)) {
      // refuse BEFORE any pointer IO (review, round 20): a CDF read
      // with catalogRoot must get THIS message, not a pointer-
      // resolution error from options it may not even satisfy
      require(catRoot.isEmpty,
        "readChangeFeed spans versions — catalogRoot addresses one " +
          "pinned snapshot; drop one of the two")
      val versionAsOf = explicitVersionAsOf
      // the CDF read is its own table shape (extra _change_type /
      // _commit_version columns); snapshot addressing stays with the
      // plain read
      require(versionAsOf.isEmpty,
        "readChangeFeed: versionAsOf addresses one snapshot — a change " +
          "feed spans versions; use startingVersion/endingVersion")
      // timestamp window addressing (round 18): startingTimestamp = the
      // EARLIEST version at or after t (Delta's "changes since t" rule),
      // endingTimestamp = the LATEST version at or before t
      def tsMs(s: String): Long = parseTsMs(s)
      val startTs = Option(options.get("startingTimestamp")).map(s =>
        ManifestTable.versionSinceTimestamp(
          org.apache.spark.sql.SparkSession.active, p, tsMs(s)))
      require(startTs.isEmpty ||
        Option(options.get("startingVersion")).isEmpty,
        "pass startingVersion OR startingTimestamp, not both")
      val endTs = Option(options.get("endingTimestamp")).map(s =>
        ManifestTable.versionAtTimestamp(
          org.apache.spark.sql.SparkSession.active, p, tsMs(s)))
      require(endTs.isEmpty ||
        Option(options.get("endingVersion")).isEmpty,
        "pass endingVersion OR endingTimestamp, not both")
      return new GraftChangeFeedTable(p,
        Option(options.get("startingVersion")).map(_.toLong)
          .orElse(startTs).getOrElse(0L),
        Option(options.get("endingVersion")).map(_.toLong).orElse(endTs),
        Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
        rowImages = options.getBoolean("rowImages", false))
    }
    val catPin: Option[Long] = catRoot.flatMap { cr =>
      graft.core.Transactions.pinnedVersion(
        org.apache.spark.sql.SparkSession.active, cr,
        relUnderCatalog(cr, p), catVer)
    }
    val versionAsOf = explicitVersionAsOf.orElse(catPin)
    val optParts =
      Option(options.get("partitionCols")).toSeq
        .flatMap(PartitionTransforms.splitSpecs) ++
        Option(options.get("partitionCol")).toSeq
    val optStats = Option(options.get("statsColumns")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    // a PATH-loaded handle of a catalog-managed table adopts the table's
    // own descriptor (round 19): declared schema, partition SPECS (incl.
    // hidden transforms) and zone-map registration — explicit
    // options/DDL still win when passed. (The schema alone doesn't
    // suppress this: the write road passes inferSchema's result back in
    // as `schema`, so a non-empty schema says nothing about the caller
    // having declared anything.)
    val desc =
      if (declaredParts.isEmpty && optParts.isEmpty)
        GraftCatalog.descriptorAt(
          org.apache.spark.sql.SparkSession.active, p)
      else None
    // time travel on a descriptor-backed path handle also reads the
    // version's OWN logical names (schema history, round 19)
    val hist = for {
      _ <- desc
      v <- versionAsOf
      h <- GraftCatalog.historicalOverride(
        org.apache.spark.sql.SparkSession.active, p, v)
    } yield h
    new GraftManifestTable(p, versionAsOf,
      declaredSchema.orElse(hist.map(_._1)).orElse(desc.map(_._1)),
      if (declaredParts.nonEmpty) declaredParts
      else if (optParts.nonEmpty) optParts
      else desc.map(_._2).getOrElse(Nil),
      if (optStats.nonEmpty) optStats
      else desc.map(_._3).getOrElse(Nil),
      columnMap = hist.map(_._2).orElse(desc.map(_._4))
        .getOrElse(Map.empty),
      droppedPhysical = hist.map(_._3).orElse(desc.map(_._5))
        .getOrElse(Nil))
  }

  /** Leading `name=value` directory segments of a manifest-relative data
    * file path — the partition LEVELS, outermost first. Single-level
    * tables (every pre-round-17 table) yield one segment; DDL
    * `PARTITIONED BY (a, b)` tables yield the declared order.
    */
  /** Type-aware partition-value keep test (shared by the plain scan and
    * the CDF read): integer/date-typed levels compare canonically so a
    * zero-padded directory spelling never diverges from the filter value.
    */
  private[sources] def partValueKept(
      dt: DataType, keep: Set[String], dirValue: String): Boolean =
    dt match {
      case IntegerType | LongType =>
        scala.util.Try(dirValue.trim.toLong).toOption
          .exists(dv => keep.exists(k =>
            scala.util.Try(k.trim.toLong).toOption.contains(dv)))
      case DateType =>
        // canonical comparison in days: the filter value renders as
        // java.sql.Date/LocalDate toString ("2024-01-01"), the directory
        // may spell components with or without zero padding
        scala.util.Try(dateDays(dirValue)).toOption
          .exists(dv => keep.exists(k =>
            scala.util.Try(dateDays(k)).toOption.contains(dv)))
      case _ => keep.contains(dirValue)
    }

  /** A directory partition value as the readers' row value of type `dt`
    * (dates as epoch days, non-numeric levels as UTF-8 strings).
    */
  private[sources] def typedPartValue(dt: DataType, dirValue: String): Any =
    dt match {
      case IntegerType => dirValue.trim.toInt
      case LongType => dirValue.trim.toLong
      case DateType => dateDays(dirValue)
      case _ => UTF8String.fromString(dirValue)
    }

  private[sources] def partSegments(rel: String): Seq[(String, String)] =
    rel.split('/').dropRight(1).toSeq.map { seg =>
      val i = seg.indexOf('=')
      require(i > 0, s"malformed partition directory '$seg' in '$rel'")
      (seg.substring(0, i), unescape(seg.substring(i + 1)))
    }

  /** The partition-column type [[ManifestTable.read]]'s basePath
    * inference would produce on the same directories (Spark's
    * partition-value inference precedence: int → long → decimal → double
    * → timestamp → date → string; any string-typed value makes the
    * RESOLVED column string), restricted to the shapes this format
    * supports: int, long, date and string columns read type-identically
    * to the Scala path (spec-pinned); values Spark would resolve as
    * DOUBLE / DECIMAL / TIMESTAMP refuse loudly at plan time — silently
    * reading them as string would contradict the value-and-type-identity
    * contract (ADVICE, round 15), and those partition-value shapes are
    * not ones the format's own write paths produce.
    */
  private[sources] def inferPartitionType(values: Seq[String]): DataType = {
    // one value's inferred type, mirroring Spark's per-value precedence
    // (Integer.parseInt / Long.parseLong semantics exactly — no trim:
    // Spark does not trim, so ' 1' is a string there and must be here)
    def inferOne(raw: String): DataType = {
      import scala.util.Try
      if (Try(Integer.parseInt(raw)).isSuccess) IntegerType
      else if (Try(java.lang.Long.parseLong(raw)).isSuccess) LongType
      else if (Try {
        val d = new java.math.BigDecimal(raw)
        require(d.scale <= 0 && d.precision <= 38)
      }.isSuccess) DecimalType(38, 0)
      else if (Try(java.lang.Double.parseDouble(raw)).isSuccess) DoubleType
      else {
        val un = unescape(raw)
        // timestamp shapes run BEFORE date in Spark's precedence; a
        // date-only string fails the timestamp formatter and lands DATE
        val ts = "^\\d{4}-\\d{1,2}-\\d{1,2}[ T]\\d{1,2}:\\d{2}(:\\d{2}(\\.\\d+)?)?$".r
        val dt = "^\\d{4}-\\d{1,2}-\\d{1,2}$".r
        if (ts.findFirstIn(un).isDefined &&
          Try(java.sql.Timestamp.valueOf(un.replace('T', ' '))).isSuccess)
          TimestampType
        else if (dt.findFirstIn(un).isDefined && Try {
          val p = un.split('-'); java.time.LocalDate.of(
            p(0).toInt, p(1).toInt, p(2).toInt)
        }.isSuccess) DateType
        else StringType
      }
    }
    val ts = values.map(inferOne).distinct
    val resolved =
      if (ts.isEmpty) StringType
      else if (ts.size == 1) ts.head
      else if (ts.contains(StringType)) StringType
      else if (ts.toSet == Set(IntegerType, LongType)) LongType
      else StringType // mixed exotic shapes resolve to string in Spark too
    resolved match {
      case IntegerType | LongType | StringType | DateType => resolved
      case other => throw new IllegalArgumentException(
        s"graft-manifest: partition values would infer as " +
          s"${other.simpleString} under Spark's partition-type inference " +
          "(e.g. '" + values.find(v => inferOne(v) == other).getOrElse("") +
          "') — the format supports int, long, date and string partition " +
          "values; read via ManifestTable.read or re-partition the table")
    }
  }

  /** Days-since-epoch for a date-typed partition directory value — the
    * internal representation [[org.apache.spark.sql.types.DateType]]
    * columns carry.
    */
  private[sources] def dateDays(dirValue: String): Int = {
    val p = dirValue.split('-')
    java.time.LocalDate.of(p(0).toInt, p(1).toInt, p(2).toInt)
      .toEpochDay.toInt
  }

  private[sources] def unescape(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(v)

  /** The V2 transform expression of a spec — the write-clustering
    * spelling (resolved through the catalog's FunctionCatalog for the
    * derived kinds). `nameOf` translates the spec's PHYSICAL source
    * spelling to the name the surrounding query speaks (round 20 —
    * partition-source renames: the descriptor and directories keep the
    * physical name exactly like data files do; Spark-facing expressions
    * must reference the LOGICAL column).
    */
  private[sources] def transformExpr(
      sp: PartSpec,
      nameOf: String => String = identity)
      : org.apache.spark.sql.connector.expressions.Expression = {
    import org.apache.spark.sql.connector.expressions.Expressions
    sp match {
      case IdentitySpec(c) => Expressions.identity(nameOf(c))
      case DaysSpec(c) => Expressions.days(nameOf(c))
      case MonthsSpec(c) => Expressions.months(nameOf(c))
      case YearsSpec(c) => Expressions.years(nameOf(c))
      case HoursSpec(c) => Expressions.hours(nameOf(c))
      case BucketSpec(n, c) => Expressions.bucket(n, nameOf(c))
      case TruncateSpec(w, c) => Expressions.apply("truncate",
        Expressions.literal(w), Expressions.column(nameOf(c)))
    }
  }

  /** Rewrite a V2 filter's column names (round 19 — column mapping:
    * pushed filters arrive under LOGICAL names; the narrowing, zone
    * maps and bloom sidecars key on PHYSICAL names). Unknown shapes
    * pass through untouched — they never narrow anyway.
    */
  private[sources] def renameFilterCols(
      f: Filter, m: String => String): Filter = f match {
    case And(a, b) => And(renameFilterCols(a, m), renameFilterCols(b, m))
    case Or(a, b) => Or(renameFilterCols(a, m), renameFilterCols(b, m))
    case Not(a) => Not(renameFilterCols(a, m))
    case EqualTo(c, v) => EqualTo(m(c), v)
    case EqualNullSafe(c, v) => EqualNullSafe(m(c), v)
    case In(c, vs) => In(m(c), vs)
    case GreaterThan(c, v) => GreaterThan(m(c), v)
    case GreaterThanOrEqual(c, v) => GreaterThanOrEqual(m(c), v)
    case LessThan(c, v) => LessThan(m(c), v)
    case LessThanOrEqual(c, v) => LessThanOrEqual(m(c), v)
    case IsNull(c) => IsNull(m(c))
    case IsNotNull(c) => IsNotNull(m(c))
    case StringStartsWith(c, v) => StringStartsWith(m(c), v)
    case StringEndsWith(c, v) => StringEndsWith(m(c), v)
    case StringContains(c, v) => StringContains(m(c), v)
    case other => other
  }

  /** Spark's own split-size law (FilePartition.maxSplitBytes): cap at
    * maxPartitionBytes, but DIVIDE small tables across the cluster's
    * default parallelism (plus an open-cost pad per file) — a plain
    * bin-pack to 128 MB put every file of a small table into ONE input
    * partition and serialized the whole scan (round-16 measurement:
    * 1.9x the native reader; with this law 1.0x). First-fit decreasing
    * to ~target per partition. Shared by the batch scan and the
    * streaming tail.
    */
  private[sources] def packFiles(
      spark: SparkSession,
      files: Seq[(String, Long)]): Array[InputPartition] = {
    if (files.isEmpty) return Array.empty
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val padded = files.map { case (r, len) => (r, len + openCost) }
    val totalBytes = padded.map(_._2).sum
    val target = math.max(openCost, math.min(
      math.max(1L, conf.filesMaxPartitionBytes),
      totalBytes / math.max(1, spark.sparkContext.defaultParallelism)))
    val sorted = padded.sortBy(-_._2)
    val bins = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[(String, Long)], Long)]
    sorted.foreach { f =>
      bins.indexWhere(_._2 + f._2 <= target) match {
        case -1 =>
          bins += ((scala.collection.mutable.ArrayBuffer(f), f._2))
        case i =>
          bins(i)._1 += f
          bins(i) = (bins(i)._1, bins(i)._2 + f._2)
      }
    }
    bins.map(b => GraftFilesPartition(b._1.toArray): InputPartition).toArray
  }

  /** Unsigned byte-wise UTF-8 ordering — the manifest's string zone-map
    * comparison convention (shared by the plan-time StringRange
    * construction and the runtime filter's).
    */
  private[sources] val utf8Ordering: Ordering[String] =
    (a: String, b: String) => {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      val n = math.min(x.length, y.length)
      var i = 0
      var d = 0
      while (i < n && d == 0) { d = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
      if (d != 0) d else x.length - y.length
    }

  private[sources] val SupportedTypes: Set[DataType] = Set(
    LongType, IntegerType, DoubleType, FloatType, BooleanType,
    StringType, BinaryType, TimestampType, TimestampNTZType, DateType)

  /** The `_file` METADATA column (round 17): the manifest-relative path
    * of the data file serving each row — provenance for operators
    * (`SELECT _file FROM t WHERE ...` finds the files holding bad rows)
    * and the anchor Spark's group-based row-level rewrites project
    * metadata through (its presence makes `ReplaceData` ship the
    * connector CLEAN data rows; without any metadata column Spark's
    * writing task falls through to raw rows carrying the internal
    * `__row_operation` marker). Served like a partition value: constant
    * per file, never decoded from a data page.
    */
  private[sources] val FileCol = "_file"

  /** The session's Hadoop configuration as serializable (key, value)
    * pairs — a bare `new Configuration()` on the executors would drop
    * every `spark.hadoop.*` setting (object-store credentials, custom
    * fs impls), so the scan would plan on the driver but fail on the
    * executors for any non-local table root (review finding, round 15).
    */
  private[sources] def confProps(spark: SparkSession): Array[(String, String)] = {
    val it = spark.sparkContext.hadoopConfiguration.iterator()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
    buf.toArray
  }

  private[sources] def confFrom(
      props: Array[(String, String)]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }
}

/** One committed version of a manifest table as a DSv2 [[Table]]. All
  * planning state (lines, stats registration, recorded schema, partition
  * column) is resolved ONCE here — driver-side, one manifest read.
  *
  * A DECLARED-but-uncommitted table (round 16: `CREATE TABLE ... USING
  * graft-manifest` before its first INSERT) carries the DDL schema and
  * partition column instead: scans answer empty, the first write
  * creates version 0 with the declared partitioning. Once committed the
  * recorded state is authoritative.
  */
class GraftManifestTable(
    val root: String,
    val versionAsOf: Option[Long],
    val declaredSchema: Option[StructType] = None,
    val declaredPartCols: Seq[String] = Nil,
    val declaredStatsColumns: Seq[String] = Nil,
    // true iff loaded through GraftCatalog: the write path may then
    // cluster on V2 transform functions (days/bucket), which only
    // resolve when the table's catalog is a FunctionCatalog
    private[sources] val viaCatalog: Boolean = false,
    // COLUMN MAPPING (round 19 — metadata-only rename/drop): logical
    // name -> PHYSICAL (as-written) name for renamed columns, and
    // dropped physical names whose data still lives in files. The
    // engine keeps PHYSICAL names internally (files, manifest schema,
    // zone-map suffixes) and translates at the table boundary — rows
    // are positional, so only schemas and filter names translate.
    private[sources] val columnMap: Map[String, String] = Map.empty,
    private[sources] val droppedPhysical: Seq[String] = Nil) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  private def spark = SparkSession.active

  private[sources] def tableExists: Boolean =
    ManifestTable.currentVersion(spark, root) >= 0

  private[sources] lazy val state: ManifestTable.Snapshot =
    if (tableExists || declaredSchema.isEmpty)
      ManifestTable.scanState(spark, root, versionAsOf)
    else {
      // declared, never committed: an empty snapshot under the DDL
      // schema (minus IDENTITY partition columns — they are
      // directory-derived; a transform's SOURCE column is data and stays)
      val ds = declaredSchema.get
      ManifestTable.Snapshot.empty(Some(StructType(
        ds.fields.filterNot(f =>
          identityDeclaredCols.contains(f.name)).toSeq)))
    }

  /** Declared partition SPECS (round 19 — hidden-partition transforms):
    * parsed from the descriptor's entries; a bare name is identity, so
    * every pre-round-19 table parses unchanged.
    */
  private[sources] lazy val declaredSpecs: Seq[PartSpec] =
    declaredPartCols.map(PartitionTransforms.parse)

  /** Identity-declared column names — the only declared "partition
    * columns" that are directory-only (absent from data files).
    */
  private[sources] lazy val identityDeclaredCols: Seq[String] =
    declaredSpecs.collect { case IdentitySpec(c) => c }

  /** Logical -> physical column name (identity when unmapped). */
  private[sources] def phys(c: String): String = columnMap.getOrElse(c, c)

  private lazy val toLogical: Map[String, String] = columnMap.map(_.swap)

  /** Physical -> logical column name (identity when unmapped). */
  private[sources] def logicalName(c: String): String =
    toLogical.getOrElse(c, c)

  /** Per live file: its partition-level value strings, outermost first
    * (one per level — every file of a table has the same level names).
    */
  private[sources] lazy val filePartValues: Map[String, Seq[String]] =
    state.paths.map { rel =>
      rel -> GraftManifestSource.partSegments(rel).map(_._2)
    }.toMap

  /** Partition LEVEL names, outermost first (round 17: one or more —
    * `PARTITIONED BY (date, source)` nests directories).
    */
  private[sources] lazy val partitionCols: Seq[String] =
    state.lines.headOption match {
      case Some(l) =>
        GraftManifestSource.partSegments(l.path).map(_._1)
      case None => declaredSpecs.map(_.levelName)
    }

  /** The resolved partition spec per LEVEL: declared specs when a
    * descriptor carries them; identity of the manifest-derived level
    * names otherwise (a descriptor-less transform table degrades to
    * identity-on-the-level — sound: the level column is then exposed
    * and writable directly, like any pre-round-19 table).
    */
  private[sources] lazy val partSpecs: Seq[PartSpec] =
    if (declaredSpecs.nonEmpty) declaredSpecs
    else partitionCols.map(IdentitySpec(_))

  private[sources] def specOfLevel(level: String): Option[PartSpec] =
    partSpecs.find(_.levelName == level)

  /** Resolved type per partition level: the DDL-DECLARED type when a
    * catalog declaration carries the column (the declared schema is the
    * contract Spark plans against — re-inferring `d STRING` dirs that
    * happen to spell dates as DATE would corrupt the row layout);
    * otherwise Spark's partition-value inference per level (the bare
    * `load(root)` path, type-identical to the Scala read, spec-pinned).
    */
  private[sources] lazy val partitionTypes: Seq[DataType] = {
    lazy val perFile = state.paths.map(rel =>
      GraftManifestSource.partSegments(rel).map(_._2))
    partitionCols.zipWithIndex.map { case (pc, i) =>
      // a DERIVED level (days/bucket) compares as its rendered STRING —
      // type inference would respell '2024-01-15' as DATE and diverge
      // from the translation machinery's renderings
      if (specOfLevel(pc).exists(!_.isIdentity)) StringType
      else declaredSchema.flatMap(_.fields.find(_.name == pc).map(_.dataType))
        .getOrElse {
          if (state.lines.nonEmpty)
            GraftManifestSource.inferPartitionType(perFile.map(_(i)))
          else StringType
        }
    }
  }

  private[sources] def partitionTypeOf(c: String): DataType =
    partitionTypes(partitionCols.indexOf(c))

  /** The PHYSICAL data schema (file/manifest names; dropped columns
    * filtered; declared extras appended under their physical spelling).
    */
  private[sources] lazy val dataSchema: StructType = {
    val rec0 = state.schema.getOrElse(new StructType())
    val rec = StructType(rec0.fields.filterNot(f =>
      droppedPhysical.contains(f.name)).toSeq)
    // ADDITIVE declared extras (round 17 — ALTER TABLE ADD COLUMN): a
    // catalog-declared column no file records yet reads as nulls through
    // the missing-column path immediately; for columns BOTH sides know,
    // the RECORDED shape stays authoritative (the u21 contract)
    val extras = declaredSchema.map(_.fields.filterNot(f =>
      rec.fieldNames.contains(phys(f.name)) ||
        identityDeclaredCols.contains(f.name))
      .map(f => f.copy(name = phys(f.name))))
      .getOrElse(Array.empty[StructField])
    val s = StructType(rec.fields.toSeq ++ extras)
    s.fields.foreach { f =>
      require(GraftManifestSource.SupportedTypes.contains(f.dataType),
        s"graft-manifest supports flat primitive schemas; column " +
          s"'${f.name}' is ${f.dataType.simpleString} — use " +
          "ManifestTable.read")
    }
    s
  }

  override def name(): String =
    s"graft-manifest `$root`" + versionAsOf.map(v => s"@v$v").getOrElse("")

  override def schema(): StructType =
    if (!tableExists && declaredSchema.isDefined) declaredSchema.get
    else StructType(
      dataSchema.fields.toSeq.map(f => f.copy(name = logicalName(f.name))) ++
      partitionCols.zip(partitionTypes).collect {
        // DERIVED levels stay HIDDEN (the Iceberg rule): the user filters
        // the source column; the layout is the engine's business
        case (pc, dt) if !dataSchema.fieldNames.contains(pc) &&
            specOfLevel(pc).forall(_.isIdentity) =>
          StructField(pc, dt, nullable = true)
      })

  /** Report the declared layout to Spark (DESCRIBE/SHOW surfaces it;
    * writes and SPJ read their shapes elsewhere).
    */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    // reported under LOGICAL source names (round 20 — a renamed source
    // column's layout shows as days(<new name>) in DESCRIBE and SPJ)
    partSpecs.map(sp =>
      GraftManifestSource.transformExpr(sp, logicalName)
        .asInstanceOf[org.apache.spark.sql.connector.expressions.Transform])
      .toArray

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  /** `_file` provenance (see [[GraftManifestSource.FileCol]]) — hidden
    * unless selected, like Iceberg's `_file`. Suppressed on the (never
    * format-written) chance a data or partition column already claims
    * the name.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    if (dataSchema.fieldNames.contains(GraftManifestSource.FileCol) ||
      partitionCols.contains(GraftManifestSource.FileCol)) Array.empty
    else Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftManifestSource.FileCol
      override def dataType(): DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String =
        "manifest-relative path of the data file serving this row"
    })

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftManifestScanBuilder(this,
      Option(options.get("startingVersion")).map(_.toLong),
      Option(options.get("maxVersionsPerTrigger")).map(_.toLong))

  /** WRITE path (round 15 — the format's other half): `df.write
    * .format("graft-manifest").mode("append"|"overwrite").save(root)`
    * against an EXISTING table (creation stays with
    * [[ManifestTable.commit]] — a create carries partitioning and
    * zone-map registration decisions a bare save() cannot express).
    * Executors write flat-primitive parquet per (task, partition-value)
    * into a commit-private staging dir; the driver publishes through
    * [[ManifestTable.appendStagedFiles]] — the same OCC loop, fence
    * (`option("batchId", n)` = exactly-once; absent = auto-increment),
    * footer-derived zone maps and additive schema contract as every
    * other verb. Overwrite = truncate (whole-table conflict semantics).
    * The frame must carry the table's partition column; null/empty
    * partition values refuse loudly (they do not round-trip).
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // a time-traveled handle resolves its partition column and stats from
    // the OLD snapshot but would publish against the current head — plan
    // state from one version, commit against another. Refuse.
    require(versionAsOf.isEmpty,
      s"graft-manifest write: cannot write through a time-traveled handle " +
        s"(versionAsOf=${versionAsOf.get}) — load the table without " +
        "versionAsOf to write")
    // the table must either exist or be DECLARED (DDL/options carrying
    // the partition columns) — partitioning is a creation-time decision a
    // bare save() cannot express
    require(tableExists || declaredPartCols.nonEmpty ||
      Option(info.options().get("partitionCol")).isDefined ||
      Option(info.options().get("partitionCols")).isDefined,
      s"graft-manifest write needs a committed table under $root, or " +
        "declared partition column(s) (CREATE TABLE ... PARTITIONED BY / " +
        "OPTIONS (partitionCol '...'), or .option(\"partitionCol\", ...) " +
        "on the write); zone maps register via statsColumns the same way")
    new GraftWriteBuilder(this, info)
  }

  /** Metadata-routed SQL DELETE (round 17, see
    * [[GraftDeleteMapping]]): `DELETE FROM t WHERE k IN (...)` plans
    * onto [[ManifestTable.deleteRows]] — zone/bloom-pruned detection,
    * copy-on-write of the touched partitions only, OCC — without ever
    * building the group-based rewrite. Conditions the mapping cannot
    * express take the [[GraftRowLevelOperation]] road instead.
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftDeleteMapping.map(this, filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit =
    GraftDeleteMapping.run(this,
      GraftDeleteMapping.map(this, filters).getOrElse(
        throw new IllegalStateException(
          s"graft-manifest DELETE under $root: deleteWhere called with " +
            s"filters the mapping refused (${filters.mkString(", ")}) — " +
            "canDeleteWhere should have routed this to the row-level " +
            "rewrite")))

  /** Group-based copy-on-write DELETE/UPDATE/MERGE (round 17, see
    * [[GraftRowLevelOperation]]). Refusal parity with the Scala verbs
    * holds at ANALYSIS time: pending deferred-delete masks, time
    * travel, and uncommitted tables refuse loudly before any rewrite
    * plans.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(versionAsOf.isEmpty,
      s"graft-manifest ${info.command()}: cannot modify a time-traveled " +
        s"handle (versionAsOf=${versionAsOf.get}) — load the table " +
        "without versionAsOf")
    require(tableExists,
      s"graft-manifest ${info.command()}: no committed version under " +
        s"$root — row-level SQL verbs need a committed table")
    require(!ManifestTable.hasPendingDv(spark, root),
      s"deferred deletes pending under $root — a copy-on-write " +
        s"${info.command()} would strand the mask's purge bookkeeping; " +
        "run optimize (the purge point) first")
    () => new GraftRowLevelOperation(this, info.command())
  }
}

/** Pushdown state: zone-map range predicates + bloom equality keys +
  * partition-value pruning accumulate here; every filter is ALSO
  * returned as a residual so Spark re-applies it row-level — file
  * skipping is a superset guarantee, never a row filter.
  */
/** Conjunctive FILTER NARROWING shared by the plain scan builder and the
  * change-feed read (round 18 — one absorption machine, so the two scans
  * can never drift on null-in-IN, intersection or typing discipline):
  * long zone ranges, string/long equality sets (the bloom probe keys),
  * and per-partition-level kept-value sets.
  */
private[sources] class GraftFilterNarrowing(
    statsType: Map[String, String], partSpecs: Seq[PartSpec]) {

  private val partitionCols: Seq[String] = partSpecs.map(_.levelName)
  // non-identity transforms by their SOURCE column: a data-column filter
  // on `ts` translates to pruning on the hidden `ts_day` level
  // (round 19 — hidden-partition transforms)
  private val bySource: Map[String, Seq[PartSpec]] =
    partSpecs.filterNot(_.isIdentity).groupBy(_.sourceCol)

  // per long column: conjunctive [lo, hi]
  private val longLo = scala.collection.mutable.Map[String, Long]()
  private val longHi = scala.collection.mutable.Map[String, Long]()
  // per string column: conjunctive equality/IN value sets
  private val stringEq = scala.collection.mutable.Map[String, Set[String]]()
  private val longEq = scala.collection.mutable.Map[String, Set[Long]]()
  // per partition LEVEL: conjunctive kept-value sets (round 17 —
  // multi-level layouts prune each level independently)
  val partKeep = scala.collection.mutable.Map[String, Set[String]]()
  // per ordered-transform LEVEL (calendar units, truncate-int):
  // conjunctive [lo, hi] unit range (a `ts >= A` filter is a half-open
  // window no kept-SET can spell)
  private val unitLo = scala.collection.mutable.Map[String, Long]()
  private val unitHi = scala.collection.mutable.Map[String, Long]()
  var provablyEmpty = false

  /** The conjunctive unit window per ordered-transform level. */
  def partRanges: Map[String, (Long, Long)] =
    unitLo.keySet.union(unitHi.keySet).map { c =>
      c -> (unitLo.getOrElse(c, Long.MinValue),
        unitHi.getOrElse(c, Long.MaxValue))
    }.toMap

  private def narrowLong(c: String, lo: Long, hi: Long): Unit = {
    longLo(c) = math.max(longLo.getOrElse(c, Long.MinValue), lo)
    longHi(c) = math.min(longHi.getOrElse(c, Long.MaxValue), hi)
    if (longLo(c) > longHi(c)) provablyEmpty = true
  }

  private def narrowEq(c: String, vs0: Set[Any]): Unit = {
    // null elements never match (SQL: x IN (..., NULL) is never TRUE for
    // a non-matching x and NULL for the rest) — drop them; an all-null
    // set provably matches nothing
    val vs = vs0.filter(_ != null)
    if (vs.isEmpty) { provablyEmpty = true; return }
    statsType.get(c) match {
      case Some("long") if vs.forall(_.isInstanceOf[Number]) =>
        val ls = vs.map(_.asInstanceOf[Number].longValue())
        narrowLong(c, ls.min, ls.max)
        longEq(c) = longEq.get(c).map(_.intersect(ls)).getOrElse(ls)
        if (longEq(c).isEmpty) provablyEmpty = true
      case Some("string") if vs.forall(_.isInstanceOf[String]) =>
        val ss = vs.map(_.asInstanceOf[String])
        stringEq(c) = stringEq.get(c).map(_.intersect(ss)).getOrElse(ss)
        if (stringEq(c).isEmpty) provablyEmpty = true
      case _ => ()
    }
  }

  private def narrowPart(c: String, vs: Set[Any]): Unit = {
    // null never matches a partition directory value (and .toString on it
    // would NPE a plan that is valid on every other source)
    val norm = vs.filter(_ != null).map(_.toString)
    partKeep(c) = partKeep.get(c).map(_.intersect(norm)).getOrElse(norm)
    if (partKeep(c).isEmpty) provablyEmpty = true
  }

  private def narrowUnit(level: String, lo: Long, hi: Long): Unit = {
    unitLo(level) = math.max(unitLo.getOrElse(level, Long.MinValue), lo)
    unitHi(level) = math.min(unitHi.getOrElse(level, Long.MaxValue), hi)
    if (unitLo(level) > unitHi(level)) provablyEmpty = true
  }

  /** TRANSFORM TRANSLATION (round 19): a filter on a transform's SOURCE
    * column prunes the DERIVED directory level the user never sees.
    * Calendar units (years/months/days/hours): equality/range → an
    * ordered unit window (truncation keeps every endpoint
    * unit-inclusive — sound superset; an EXACT boundary `<` excludes its
    * unit). Truncate-int: order-preserving, so ranges translate to
    * floored-multiple windows; truncate-string and bucket: equality/IN
    * only (prefix/hash). Unrecognized literal shapes simply don't narrow.
    */
  private def absorbTransform(f: Filter): Boolean = {
    import PartitionTransforms._
    def specsOf(c: String): Seq[PartSpec] = bySource.getOrElse(c, Nil)
    def isTimeUnit(sp: PartSpec): Boolean = sp match {
      case _: DaysSpec | _: MonthsSpec | _: YearsSpec | _: HoursSpec => true
      case _ => false
    }
    def longOf(v: Any): Option[Long] = v match {
      case n: Number => Some(n.longValue())
      case _ => None
    }
    // one bound of a range filter; `side` picks the window edge
    def range(c: String, v: Any, lo: Boolean, exclusive: Boolean): Boolean =
      specsOf(c).map {
        case sp if isTimeUnit(sp) =>
          val u = if (!lo && exclusive) filterUnitUpperExclusive(sp, v)
            else filterUnit(sp, v)
          u.exists { x =>
            if (lo) narrowUnit(sp.levelName, x, Long.MaxValue)
            else narrowUnit(sp.levelName, Long.MinValue, x)
            true
          }
        case t: TruncateSpec => longOf(v).map { x0 =>
          // ints: truncation is order-preserving; `< v` reaches at most
          // trunc(v - 1)
          val x = if (!lo && exclusive) x0 - 1 else x0
          val u = truncLong(x, t.w)
          if (lo) narrowUnit(t.levelName, u, Long.MaxValue)
          else narrowUnit(t.levelName, Long.MinValue, u)
          true
        }.getOrElse(false)
        case _ => false
      }.exists(identity)
    f match {
      case EqualTo(c, v) if specsOf(c).nonEmpty =>
        specsOf(c).map {
          case sp if isTimeUnit(sp) => filterUnit(sp, v).exists { u =>
            narrowUnit(sp.levelName, u, u); true
          }
          case b: BucketSpec => filterBucket(v, b.n).exists { bk =>
            narrowPart(b.levelName, Set[Any](bk.toString)); true
          }
          case t: TruncateSpec => v match {
            case s: String =>
              narrowPart(t.levelName, Set[Any](s.take(t.w))); true
            case _ => longOf(v).exists { x =>
              val u = truncLong(x, t.w)
              narrowUnit(t.levelName, u, u); true
            }
          }
          case _ => false
        }.exists(identity)
      case In(c, vs0) if specsOf(c).nonEmpty && vs0.nonEmpty =>
        val vs = vs0.filter(_ != null)
        if (vs.isEmpty) { provablyEmpty = true; return true }
        specsOf(c).map {
          case sp if isTimeUnit(sp) =>
            val us = vs.map(filterUnit(sp, _))
            // only a FULLY-parsed set prunes (a partial one could drop
            // a unit the unparsed literal lives in)
            us.forall(_.isDefined) && {
              narrowPart(sp.levelName,
                us.flatten.map(u => renderUnit(sp, u): Any).toSet)
              true
            }
          case b: BucketSpec =>
            val bks = vs.map(filterBucket(_, b.n))
            bks.forall(_.isDefined) && {
              narrowPart(b.levelName,
                bks.flatten.map(x => x.toString: Any).toSet)
              true
            }
          case t: TruncateSpec =>
            val ts = vs.map {
              case s: String => Some(s.take(t.w))
              case v => longOf(v).map(x => truncLong(x, t.w).toString)
            }
            ts.forall(_.isDefined) && {
              narrowPart(t.levelName, ts.flatten.map(x => x: Any).toSet)
              true
            }
          case _ => false
        }.exists(identity)
      case GreaterThan(c, v) if specsOf(c).nonEmpty =>
        range(c, v, lo = true, exclusive = false)
      case GreaterThanOrEqual(c, v) if specsOf(c).nonEmpty =>
        range(c, v, lo = true, exclusive = false)
      case LessThan(c, v) if specsOf(c).nonEmpty =>
        range(c, v, lo = false, exclusive = true)
      case LessThanOrEqual(c, v) if specsOf(c).nonEmpty =>
        range(c, v, lo = false, exclusive = false)
      case _ => false
    }
  }

  /** True iff the filter narrowed file selection (it is then REPORTED as
    * pushed; it is returned as a residual either way).
    */
  def absorb(f: Filter): Boolean = f match {
    case And(a, b) =>
      // both sides absorb (side effects); report pushed only when BOTH
      // narrowed — `ua || ub` would overstate pushdown in explain
      // (ADVICE r18; results were always safe: everything is residual)
      val ua = absorb(a); val ub = absorb(b); ua && ub
    case leaf =>
      // BOTH machines see every leaf: a column can be a zone-map column
      // AND a transform source (each narrowing is conjunctive-sound)
      val t = absorbTransform(leaf)
      val z = absorbLeaf(leaf)
      t || z
  }

  private def absorbLeaf(f: Filter): Boolean = f match {
    case EqualTo(c, v) if partitionCols.contains(c) =>
      narrowPart(c, Set(v)); true
    case In(c, vs) if partitionCols.contains(c) =>
      narrowPart(c, vs.toSet); true
    case EqualTo(c, v: Number) if statsType.get(c).contains("long") =>
      narrowEq(c, Set[Any](v)); true
    case EqualTo(c, v: String) if statsType.get(c).contains("string") =>
      narrowEq(c, Set[Any](v)); true
    case In(c, vs) if statsType.contains(c) && vs.nonEmpty =>
      narrowEq(c, vs.toSet); true
    case GreaterThan(c, v: Number) if statsType.get(c).contains("long") =>
      val l = v.longValue()
      if (l < Long.MaxValue) narrowLong(c, l + 1, Long.MaxValue)
      true
    case GreaterThanOrEqual(c, v: Number)
        if statsType.get(c).contains("long") =>
      narrowLong(c, v.longValue(), Long.MaxValue); true
    case LessThan(c, v: Number) if statsType.get(c).contains("long") =>
      val l = v.longValue()
      if (l > Long.MinValue) narrowLong(c, Long.MinValue, l - 1)
      true
    case LessThanOrEqual(c, v: Number)
        if statsType.get(c).contains("long") =>
      narrowLong(c, Long.MinValue, v.longValue()); true
    case _ => false
  }

  def zonePreds: Seq[ManifestTable.ZonePred] =
    longLo.keySet.union(longHi.keySet).toSeq.sorted.flatMap { c =>
      val lo = longLo.getOrElse(c, Long.MinValue)
      val hi = longHi.getOrElse(c, Long.MaxValue)
      if (lo == Long.MinValue && hi == Long.MaxValue) None
      else if (lo > hi) None // provablyEmpty already set
      else Some(ManifestTable.LongRange(c, lo, hi))
    } ++ stringEq.toSeq.sortBy(_._1).flatMap { case (c, vs) =>
      if (vs.isEmpty) None
      else {
        implicit val ord: Ordering[String] =
          (a: String, b: String) => {
            val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
            val n = math.min(x.length, y.length)
            var i = 0
            var d = 0
            while (i < n && d == 0) { d = (x(i) & 0xff) - (y(i) & 0xff); i += 1 }
            if (d != 0) d else x.length - y.length
          }
        Some(ManifestTable.StringRange(c, vs.min, vs.max))
      }
    }

  def bloomKeys: Map[String, Seq[Long]] =
    longEq.map { case (c, vs) => c -> vs.toSeq.sorted }.toMap ++
      stringEq.map { case (c, vs) =>
        c -> vs.toSeq.sorted.map(ManifestTable.xx64String)
      }
}

class GraftManifestScanBuilder(
    table: GraftManifestTable,
    startingVersion: Option[Long] = None,
    maxVersionsPerTrigger: Option[Long] = None,
    // row-level operations register their configured scan here — the
    // ReplaceData write replaces exactly the files that scan chose
    onBuildScan: Option[GraftManifestScan => Unit] = None)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = table.schema()
  private var pushed: Array[Filter] = Array.empty
  private val narrowing = new GraftFilterNarrowing(
    table.state.statsCols.toMap, table.partSpecs)
  private def partKeep = narrowing.partKeep
  private def provablyEmpty = narrowing.provablyEmpty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // filters arrive under LOGICAL names; narrowing keys on PHYSICAL
    // (column mapping, round 19) — the REPORTED pushed set stays logical
    pushed = filters.filter(f => narrowing.absorb(
      GraftManifestSource.renameFilterCols(f, table.phys)))
    filters // every filter stays a residual: skipping is file-level only
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** AGGREGATE pushdown (round 16 — the manifest IS the aggregate for
    * the shapes it can prove): an un-filtered, un-grouped COUNT(*) /
    * MIN / MAX over the table answers from ONE manifest read with zero
    * file IO at any table size — counts from the `%#` line meta, bounds
    * from the long-typed zone maps ([[ManifestTable.manifestLongBounds]]
    * explains why string columns never qualify: binary footer stats may
    * be truncation-adjusted BOUNDS, wrong as values). Refused whenever
    * exactness is unprovable: any filter (Spark only offers aggregates
    * once no residual filters remain, and every filter here is a
    * residual — the guard is defensive), a pending deferred-delete mask,
    * a group-by, a pre-meta line (count), a stats-less line (bounds).
    * COMPLETE pushdown: the scan serves the single final row.
    */
  private var aggResult: Option[(StructType, InternalRow)] = None

  // memoized per builder (round 17, VERDICT "what's wrong" #2): Spark
  // calls supportCompletePushDown AND pushAggregation with the same
  // Aggregation, and the pending-mask probe inside is a filesystem
  // listStatus — resolve once, probe once, per planned aggregate
  private lazy val pendingDv: Boolean =
    ManifestTable.hasPendingDv(SparkSession.active, table.root)
  private var aggCacheKey: AnyRef = null
  private var aggCacheVal: Option[(StructType, InternalRow)] = None

  private def resolveAggCached(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, InternalRow)] = {
    if (!(aggCacheKey eq agg)) {
      aggCacheKey = agg
      aggCacheVal = resolveAgg(agg)
    }
    aggCacheVal
  }

  private def resolveAgg(agg: org.apache.spark.sql.connector.expressions
      .aggregate.Aggregation): Option[(StructType, InternalRow)] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (agg.groupByExpressions.nonEmpty) return None
    if (pushed.nonEmpty || partKeep.nonEmpty || provablyEmpty) return None
    if (pendingDv) return None
    def colName(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    def fieldType(c: String): Option[DataType] =
      table.dataSchema.fields.find(_.name == table.phys(c))
        .map(_.dataType)
    val resolved: Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          ManifestTable.manifestRowCount(table.state).map(n =>
            (StructField("count(*)", LongType, nullable = false), n))
        case m: Min => colName(m.column).flatMap { c =>
          ManifestTable.manifestLongBounds(
            table.state, table.phys(c)).flatMap { b =>
            fieldType(c).collect {
              case IntegerType =>
                (StructField(s"min($c)", IntegerType, true), b._1.toInt)
              case LongType =>
                (StructField(s"min($c)", LongType, true), b._1)
            }
          }
        }
        case m: Max => colName(m.column).flatMap { c =>
          ManifestTable.manifestLongBounds(
            table.state, table.phys(c)).flatMap { b =>
            fieldType(c).collect {
              case IntegerType =>
                (StructField(s"max($c)", IntegerType, true), b._2.toInt)
              case LongType =>
                (StructField(s"max($c)", LongType, true), b._2)
            }
          }
        }
        case _ => None
      }
    if (resolved.exists(_.isEmpty)) None
    else {
      val rs = resolved.flatten
      Some((StructType(rs.map(_._1)),
        new GenericInternalRow(rs.map(_._2).toArray)))
    }
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = resolveAggCached(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggResult = resolveAggCached(agg)
    aggResult.isDefined
  }

  override def build(): Scan = {
    aggResult match {
      case Some((schema, row)) => return new GraftAggScan(table, schema, row)
      case None => ()
    }
    val scan = new GraftManifestScan(
      table, required, narrowing.zonePreds, narrowing.bloomKeys,
      partKeep.toMap, provablyEmpty, pushed.toSeq, startingVersion,
      maxVersionsPerTrigger, narrowing.partRanges)
    onBuildScan.foreach(_(scan))
    scan
  }
}

/** One InputPartition: a bin-packed group of live files (relative path,
  * length) — partition values ride the PATH (readers parse them).
  */
case class GraftFilesPartition(
    files: Array[(String, Long)]) extends InputPartition

/** A key-grouped input partition (storage-partitioned joins): all the
  * chosen files of ONE partition-value tuple, keyed by its typed values
  * (one per level).
  */
case class GraftKeyedFilesPartition(
    files: Array[(String, Long)],
    keyValues: Array[Any]) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(keyValues)
}

/** A fully-pushed aggregate: the single result row was computed at PLAN
  * time from the manifest alone — the scan opens no file.
  */
class GraftAggScan(
    table: GraftManifestTable,
    aggSchema: StructType,
    row: InternalRow) extends Scan with Batch {

  override def readSchema(): StructType = aggSchema

  override def toBatch: Batch = this

  override def description(): String =
    s"graft-manifest root=${table.root} version=${table.state.version} " +
      s"AGGREGATE from manifest (zero file IO): ${aggSchema.fieldNames.mkString(", ")}"

  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftFilesPartition(Array.empty))

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftAggReaderFactory(aggSchema.length,
      aggSchema.indices.map(i => row.get(i, aggSchema(i).dataType)).toArray)
}

class GraftAggReaderFactory(n: Int, values: Array[Any])
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean =
        if (emitted) false else { emitted = true; true }
      override def get(): InternalRow = new GenericInternalRow(values.clone())
      override def close(): Unit = ()
    }
}

class GraftManifestScan(
    table: GraftManifestTable,
    required: StructType,
    preds: Seq[ManifestTable.ZonePred],
    bloomKeys: Map[String, Seq[Long]],
    partKeep: Map[String, Set[String]],
    provablyEmpty: Boolean,
    pushedForDisplay: Seq[Filter],
    startingVersion: Option[Long] = None,
    maxVersionsPerTrigger: Option[Long] = None,
    // per days-transform LEVEL: conjunctive [lo, hi] epoch-day window
    // (round 19 — a `ts BETWEEN` filter prunes day leaves the user
    // never named)
    partRanges: Map[String, (Long, Long)] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning {

  private def spark = SparkSession.active

  /** The files this scan opens at PLAN time — zone + bloom + partition
    * pruned. Public to the spec: the pin is `chosenFiles.size <
    * totalFiles`. [[filter]] may narrow further at EXECUTION time.
    */
  val totalFiles: Int = table.state.lines.size
  val baseChosenFiles: Seq[String] = {
    if (provablyEmpty) Nil
    else {
      val zoneBloom = ManifestTable.pruneScanFiles(
        spark, table.root, table.state, preds, bloomKeys)
      if (partKeep.isEmpty && partRanges.isEmpty) zoneBloom
      else zoneBloom.filter(rel => partKept(partKeep, rel))
    }
  }

  /** True iff the file's partition values survive every level's kept
    * set AND every days-level epoch-day window (absent levels and
    * unparseable values keep conservatively — sound superset).
    */
  private def partKept(keep: Map[String, Set[String]], rel: String): Boolean =
    table.filePartValues.get(rel).forall { vals =>
      keep.forall { case (c, ks) =>
        val li = table.partitionCols.indexOf(c)
        li < 0 || li >= vals.size ||
          GraftManifestSource.partValueKept(
            table.partitionTypes(li), ks, vals(li))
      } && partRanges.forall { case (c, (lo, hi)) =>
        val li = table.partitionCols.indexOf(c)
        li < 0 || li >= vals.size ||
          table.specOfLevel(c).flatMap(sp =>
            PartitionTransforms.parseUnitValue(sp, vals(li)))
            .forall(u => u >= lo && u <= hi)
      }
    }

  /** RUNTIME file pruning (round 16 — DSv2 dynamic partition/file
    * pruning): Spark executes the build side of a join first and hands
    * this scan the observed key set as In/EqualTo filters on
    * [[filterAttributes]] (partition column + registered zone-map
    * columns); the file set re-prunes through the SAME zone/bloom/
    * partition machinery before any input partition is planned — a
    * dimension-filtered fact scan opens only the files the surviving
    * keys can touch. Unparseable or oversized (> 100k values) runtime
    * filters are ignored: pruning is always a sound superset.
    */
  private var runtimeChosen: Option[Seq[String]] = None

  def chosenFiles: Seq[String] = runtimeChosen.getOrElse(baseChosenFiles)

  /** (narrowed, from) when a runtime filter landed — the spec observable. */
  private[sources] def runtimeNarrowed: Option[(Int, Int)] =
    runtimeChosen.map(r => (r.size, baseChosenFiles.size))

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (table.partitionCols ++
      table.state.statsCols.map(s => table.logicalName(s._1))).distinct
      // only columns surviving column pruning: Spark resolves these
      // against the scan's (pruned) output and throws on absent names
      .filter(required.fieldNames.contains)
      .map(c => org.apache.spark.sql.connector.expressions.Expressions
        .column(c))
      .toArray

  override def filter(runtime: Array[Filter]): Unit = {
    val MaxRuntimeKeys = 100000
    var keep = baseChosenFiles
    runtime.foreach {
      case f @ (EqualTo(_, _) | In(_, _)) =>
        val (c, vs0) = f match {
          case EqualTo(c, v) => (c, Set[Any](v))
          case In(c, vs) => (c, vs.toSet)
          case _ => throw new MatchError(f) // unreachable
        }
        val vs = vs0.filter(_ != null)
        if (vs.isEmpty) {
          // an empty (or all-null) observed key set — routine when a DPP
          // join's build side yields zero rows — provably matches no row:
          // keep nothing. (ADVICE, round 16: the stats branch below
          // reached ls.min on the empty set and crashed a query that
          // should return zero rows.)
          keep = Nil
        } else if (vs.size <= MaxRuntimeKeys) {
          if (table.partitionCols.contains(c)) {
            val keepVals = Map(c -> vs.map(_.toString))
            keep = keep.filter(rel => partKept(keepVals, rel))
          } else table.state.statsCols.find(_._1 == table.phys(c)).foreach {
            case (pc0, "long") if vs.forall(_.isInstanceOf[Number]) =>
              val ls = vs.map(_.asInstanceOf[Number].longValue())
              val zoned = ManifestTable.pruneScanFiles(
                spark, table.root, table.state,
                Seq(ManifestTable.LongRange(pc0, ls.min, ls.max)),
                Map(pc0 -> ls.toSeq.sorted))
              keep = keep.filter(zoned.toSet)
            case (pc0, "string") if vs.forall(_.isInstanceOf[String]) =>
              val ss = vs.map(_.asInstanceOf[String])
              val zoned = ManifestTable.pruneScanFiles(
                spark, table.root, table.state,
                Seq(ManifestTable.StringRange(pc0,
                  ss.min(GraftManifestSource.utf8Ordering),
                  ss.max(GraftManifestSource.utf8Ordering))),
                Map(pc0 -> ss.toSeq.sorted.map(ManifestTable.xx64String)))
              keep = keep.filter(zoned.toSet)
            case _ => ()
          }
        }
      case _ => () // other runtime shapes: sound to ignore
    }
    runtimeChosen = Some(keep)
  }

  /** Per-file (bytes, rows) from the manifest's own `%#` line meta —
    * planning needs ZERO per-file filesystem calls on tables written
    * since the meta landed (round 16).
    */
  private lazy val lineMetaOf: Map[String, (Long, Long)] =
    table.state.lines.flatMap(l => l.meta.map(l.path -> _)).toMap

  /** Chosen files the manifest carries NO meta for (pre-meta lines) —
    * exactly the files [[fileLens]] must status-probe. The spec pins 0
    * on freshly-written tables.
    */
  private[sources] def planStatProbes: Int =
    chosenFiles.count(r => !lineMetaOf.contains(r))

  /** How many times [[fileLens]] materialized its map — the spec pin for
    * the O(N) planning discipline (ADVICE, round 16: a per-file
    * `fileLens(r)` call inside planInputPartitions' map rebuilt the
    * whole map per chosen file — O(N²) driver work, and on pre-meta
    * manifests O(N²) getFileStatus RPCs).
    */
  private[sources] var lensBuilds: Int = 0

  /** Per chosen file: its byte length, from the `%#` line meta (zero
    * filesystem calls) or a status probe on pre-meta legacy lines. A
    * `def` (not lazy val) because runtime filtering can narrow
    * [[chosenFiles]] after planning state was first touched — callers
    * MUST hoist the result (`val lens = fileLens`) instead of calling
    * per file.
    */
  private def fileLens: Map[String, Long] = {
    lensBuilds += 1
    val conf = spark.sparkContext.hadoopConfiguration
    chosenFiles.map { rel =>
      rel -> lineMetaOf.get(rel).map(_._1).getOrElse {
        val p = new Path(table.root, rel)
        p.getFileSystem(conf).getFileStatus(p).getLen
      }
    }.toMap
  }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String = {
    val pushedStr =
      if (pushedForDisplay.isEmpty) "[]"
      else pushedForDisplay.mkString("[", ", ", "]")
    s"graft-manifest root=${table.root} version=${table.state.version} " +
      s"prunedFiles=${chosenFiles.size}/$totalFiles pushed=$pushedStr"
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(math.max(1L, fileLens.values.sum))
    override def numRows(): util.OptionalLong =
      // exact when every chosen file records its row count and no
      // deferred-delete mask is pending (masked rows would overcount);
      // row-level residual filters may reduce further — numRows is the
      // standard pre-filter file estimate, same as the native source
      if (chosenFiles.nonEmpty && planStatProbes == 0 &&
        !ManifestTable.hasPendingDv(spark, table.root))
        util.OptionalLong.of(
          chosenFiles.map(r => lineMetaOf(r)._2).sum)
      else util.OptionalLong.empty()
  }

  /** STORAGE-PARTITIONED JOIN support (round 16 — the Iceberg SPJ move):
    * when `spark.sql.sources.v2.bucketing.enabled` is true, the scan
    * reports `KeyGroupedPartitioning(identity(partitionCol))` and plans
    * ONE input partition per partition VALUE, so a join between two
    * manifest tables co-partitioned on the same values needs NO shuffle
    * on either side — at 100 TB the exchange this removes IS the join's
    * cost. Off (the default), the scan bin-packs for maximum parallelism
    * instead; the conf is the explicit trade (key-grouped scan
    * parallelism = partition count). Runtime filters compose: narrowing
    * drops files within groups, never the groups themselves, so the
    * reported partition count stays stable across DPP.
    */
  private def clusteredScan: Boolean =
    table.partitionCols.nonEmpty &&
      // derived levels report the TRANSFORM itself (bucket(8, id),
      // days(ts) — round 19): it references the SOURCE column, which is
      // in the scan output, and resolves through the table catalog's own
      // V2 functions (the Iceberg SPJ move) — so two tables bucketed the
      // same way join with no shuffle on either side. Requires the
      // catalog road (a path handle has no FunctionCatalog to resolve
      // against) and every source column to survive column pruning.
      table.partSpecs.forall(sp => sp.isIdentity ||
        (table.viaCatalog && required.fieldNames.contains(
          table.logicalName(sp.sourceCol)))) &&
      spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
        .contains("true")

  private lazy val baseKeyGroups: Seq[(Seq[Any], Seq[String])] =
    baseChosenFiles.groupBy(r => table.filePartValues(r))
      .toSeq.sortBy(_._1.mkString("\u0000"))
      .map { case (vals, fs) =>
        (vals.zip(table.partSpecs).zip(table.partitionTypes).map {
          case ((v, sp), dt) => typedKeyOf(sp, dt, v)
        }, fs)
      }

  private def typedKey(dt: DataType, dirValue: String): Any = dt match {
    case IntegerType => dirValue.trim.toInt
    case LongType => dirValue.trim.toLong
    case DateType => GraftManifestSource.dateDays(dirValue)
    case _ => UTF8String.fromString(dirValue)
  }

  /** The partition-key value of one level: identity levels key by their
    * typed directory value; DERIVED levels key by the transform's
    * RESULT (the unit/bucket ordinal, typed like the V2 function's
    * resultType) so Spark can prove two transform-partitioned scans
    * co-partitioned (round 19 -- SPJ over hidden layouts).
    */
  private def typedKeyOf(sp: PartSpec, dt: DataType, dirValue: String): Any =
    sp match {
      case _: IdentitySpec => typedKey(dt, dirValue)
      case _: BucketSpec => dirValue.trim.toInt
      case t: TruncateSpec =>
        table.dataSchema.fields.find(_.name == t.sourceCol)
          .map(_.dataType) match {
          case Some(LongType) => dirValue.trim.toLong
          case Some(IntegerType) => dirValue.trim.toInt
          case _ => UTF8String.fromString(dirValue)
        }
      case u => PartitionTransforms.parseUnitValue(u, dirValue)
        .map(_.toInt: Any)
        .getOrElse(UTF8String.fromString(dirValue))
    }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (clusteredScan)
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          table.partSpecs.map(sp =>
            GraftManifestSource.transformExpr(sp, table.logicalName)
              .asInstanceOf[org.apache.spark.sql.connector.expressions
                .Transform]).toArray,
          baseKeyGroups.length)
    else new org.apache.spark.sql.connector.read.partitioning
      .UnknownPartitioning(0)

  override def planInputPartitions(): Array[InputPartition] = {
    // hoisted ONCE per call: fileLens materializes its whole map every
    // invocation (see its doc) — calling it inside the per-file map was
    // O(N²) driver work (ADVICE, round 16)
    val lens = fileLens
    if (clusteredScan) {
      val live = chosenFiles.toSet
      baseKeyGroups.map { case (key, fs) =>
        val kept = fs.filter(live)
        GraftKeyedFilesPartition(
          kept.map(r => (r, lens.getOrElse(r, 0L))).toArray,
          key.toArray): InputPartition
      }.toArray
    } else GraftManifestSource.packFiles(spark,
      chosenFiles.map(r => (r, lens(r))))
  }

  /** STREAMING tail of the table (round 16 — `spark.readStream
    * .format("graft-manifest")`, the Delta streaming-source shape):
    * offsets are manifest VERSIONS; each micro-batch serves the files a
    * version range ADDED, so an append-only ingest (the st18 lineage
    * shape, the DSv2 write path) streams exactly once per committed
    * version. A version that also REMOVED files (delete / optimize /
    * truncate) REFUSES loudly — removals are not representable in an
    * append stream; incremental consumers of rewriting tables belong on
    * [[graft.streaming.ChangeFeed]]. Batch contents follow the CDC
    * convention (RAW file contents, like `changes` — a pending deferred
    * mask surfaces at its purge, which this tail refuses on): rows
    * already emitted can never be retro-filtered anyway.
    * `option("startingVersion", n)` replays from version n (default 0 —
    * the whole retained history); zone/bloom pushdown prunes each
    * batch's added files like any batch scan.
    * `option("maxVersionsPerTrigger", k)` bounds ONE micro-batch's
    * version span (round 17, admission control — the Delta
    * `maxFilesPerTrigger` shape): without it, a first start against a
    * 10⁴-version table plans one unbounded batch whose catch-up does
    * 10⁴ driver manifest reads before anything executes; with it, the
    * history drains in ceil(span/k) bounded batches.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(table.versionAsOf.isEmpty,
      "graft-manifest streaming: versionAsOf pins one snapshot — a " +
        "stream tails versions; drop the option")
    maxVersionsPerTrigger.foreach(k => require(k >= 1L,
      s"graft-manifest streaming: maxVersionsPerTrigger must be >= 1, got $k"))
    new GraftMicroBatchStream(table, required, preds, bloomKeys,
      startingVersion.getOrElse(0L), maxVersionsPerTrigger,
      GraftManifestSource.confProps(spark),
      spark.conf.getOption("spark.sql.parquet.columnarReaderBatchSize")
        .map(_.toInt).getOrElse(4096),
      spark.sessionState.conf.sessionLocalTimeZone)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the U18 mask, collected ONCE at plan time (guarded by
    // keyBroadcastLimit — an over-limit mask refuses with the purge
    // instruction) and shipped inside the factory — applied per row in
    // the reader, so every consumer of this scan sees survivors only
    val masks: Array[(String, Boolean, Set[Any])] =
      ManifestTable.dvMaskKeySets(spark, table.root).toSeq.sortBy(_._1)
        .map { case (c, keys) =>
          val isString =
            table.dataSchema.fields.find(_.name == c)
              .exists(_.dataType == StringType)
          (c, isString, keys.toSet)
        }.toArray
    // the reader works in PHYSICAL names (file fields, dataSchema);
    // rows are positional, so renaming the projection is free and
    // readSchema() keeps reporting the LOGICAL `required`
    new GraftReaderFactory(
      table.root,
      StructType(required.fields.map(f =>
        f.copy(name = table.phys(f.name))).toSeq),
      table.dataSchema,
      table.partitionCols.zip(table.partitionTypes), masks,
      GraftManifestSource.confProps(spark),
      spark.conf.getOption("spark.sql.parquet.columnarReaderBatchSize")
        .map(_.toInt).getOrElse(4096),
      spark.sessionState.conf.sessionLocalTimeZone)
  }
}

class GraftReaderFactory(
    root: String,
    required: StructType,
    dataSchema: StructType,
    partCols: Seq[(String, DataType)],
    masks: Array[(String, Boolean, Set[Any])],
    confProps: Array[(String, String)],
    capacity: Int,
    sessionTz: String)
    extends PartitionReaderFactory {

  /** COLUMNAR is the default read shape (round 16 — the table-scan inner
    * loop is the whole game at 100 TB): per file the reader delegates to
    * Spark's own [[org.apache.spark.sql.execution.datasources.parquet
    * .VectorizedParquetRecordReader]] and hands its batches through,
    * falling back per FILE to the row decode bridged into on-heap
    * vectors for shapes the vectorized reader refuses (NANOS/INT96
    * timestamps, unannotated binary-as-string). Only a PENDING deferred-
    * delete mask forces the row path — the mask filters row-at-a-time.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    masks.isEmpty

  private def filesOf(p: InputPartition): Array[(String, Long)] =
    p match {
      case g: GraftFilesPartition => g.files
      case k: GraftKeyedFilesPartition => k.files
      case other => throw new IllegalStateException(
        s"unexpected input partition $other")
    }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftColumnarReader(
      root, filesOf(partition),
      required, dataSchema, partCols, confProps,
      capacity, sessionTz)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(
      root, filesOf(partition),
      required, dataSchema, partCols, masks, confProps)
}

/** Version-offset of the streaming tail: "consumed through manifest
  * version v".
  */
case class GraftStreamOffset(version: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = version.toString
}

class GraftMicroBatchStream(
    table: GraftManifestTable,
    required: StructType,
    preds: Seq[ManifestTable.ZonePred],
    bloomKeys: Map[String, Seq[Long]],
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long],
    confProps: Array[(String, String)],
    capacity: Int,
    sessionTz: String)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def spark = SparkSession.active

  override def initialOffset(): Offset =
    GraftStreamOffset(startingVersion - 1L)

  override def latestOffset(): Offset =
    GraftStreamOffset(ManifestTable.currentVersion(spark, table.root))

  /** Trigger.AvailableNow pins "available" HERE (the
    * SupportsTriggerAvailableNow contract — implementing it ourselves
    * keeps admission control effective under AvailableNow: Spark's
    * generic wrapper would otherwise capture ONE end offset and serve
    * the whole history as a single unbounded batch).
    */
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(ManifestTable.currentVersion(spark, table.root))

  /** ADMISSION CONTROL (round 17): one micro-batch consumes at most
    * `maxVersionsPerTrigger` manifest versions past the consumed offset —
    * catch-up on a long history becomes a sequence of bounded batches
    * instead of one unbounded plan (the version-diff in
    * [[planInputPartitions]] reads every manifest in the span on the
    * DRIVER — that cost must be admission-bounded, like Delta's
    * maxFilesPerTrigger). Unset = drain everything available (the
    * pre-round-17 behavior, still exactly-once).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = availableNowEnd
      .getOrElse(ManifestTable.currentVersion(spark, table.root))
    val from = start.asInstanceOf[GraftStreamOffset].version
    GraftStreamOffset(maxVersionsPerTrigger match {
      case Some(k) => math.min(cur, from + k)
      case None => cur
    })
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toLong)

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftStreamOffset].version
    val to = end.asInstanceOf[GraftStreamOffset].version
    if (to <= from) return Array.empty
    val added = scala.collection.mutable.ArrayBuffer[String]()
    var prevPaths =
      ManifestTable.snapshot(spark, table.root, from).paths.toSet
    for (v <- (from + 1) to to) {
      val lines = ManifestTable.snapshot(spark, table.root, v).lines
      val paths = lines.map(_.path).toSet
      val removed = prevPaths -- paths
      if (removed.nonEmpty) throw new IllegalStateException(
        s"graft-manifest streaming: version $v of ${table.root} REMOVED " +
          s"${removed.size} file(s) (a delete/optimize/overwrite) — " +
          "removals are not representable in an append stream; consume " +
          "rewriting tables through graft.streaming.ChangeFeed")
      // per-batch zone/bloom pruning over the ADDED lines only
      val addedLines = lines.filter(l => !prevPaths.contains(l.path))
      added ++= ManifestTable.pruneScanFiles(spark, table.root,
        table.state.copy(lines = addedLines), preds, bloomKeys)
      prevPaths = paths
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val metaOf: Map[String, Long] =
      ManifestTable.snapshot(spark, table.root, to).lines
        .flatMap(l => l.meta.map(m => l.path -> m._1)).toMap
    GraftManifestSource.packFiles(spark, added.toSeq.map { rel =>
      val len = metaOf.getOrElse(rel, {
        val p = new Path(table.root, rel)
        p.getFileSystem(conf).getFileStatus(p).getLen
      })
      (rel, len)
    })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftReaderFactory(
      table.root, required, table.dataSchema,
      table.partitionCols.zip(table.partitionTypes),
      Array.empty, // CDC convention: raw appended contents (see scan doc)
      confProps, capacity, sessionTz)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** Executor-side reader: parquet-mr example Groups → InternalRows over
  * the files of one partition. Reads ONLY the columns the query needs
  * plus any pending-mask columns (which must be decoded to apply the
  * mask even when pruned away); a projection that needs no parquet
  * column at all (bare COUNT(*), partition-only selects with no mask)
  * never decodes a data page — footer row counts drive emission.
  */
class GraftPartitionReader(
    root: String,
    files: Array[(String, Long)],
    required: StructType,
    dataSchema: StructType,
    partCols: Seq[(String, DataType)],
    masks: Array[(String, Boolean, Set[Any])],
    confProps: Array[(String, String)])
    extends PartitionReader[InternalRow] {

  import org.apache.parquet.example.data.Group
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.GroupReadSupport

  @transient private lazy val conf =
    GraftManifestSource.confFrom(confProps)

  // per required field: -1 = parquet data column, -2 = the `_file`
  // metadata column, >= 0 = that partition LEVEL — partition values and
  // file provenance are per-file constants parsed from the path, never
  // decoded from a data page
  private val constSrc: Array[Int] = required.fields.map { f =>
    if (f.name == GraftManifestSource.FileCol) -2
    else partCols.indexWhere(_._1 == f.name) match {
      case -1 => -1
      case li => li
    }
  }
  private val neededData: Seq[StructField] =
    required.fields.toSeq.zipWithIndex.collect {
      case (f, i) if constSrc(i) == -1 => f
    }
  private val maskCols: Seq[StructField] =
    masks.toSeq.flatMap { case (c, _, _) =>
      dataSchema.fields.find(_.name == c)
    }.filterNot(f => neededData.exists(_.name == f.name))
  private val parquetCols: Seq[StructField] = neededData ++ maskCols
  // mask hot-loop state, resolved ONCE (a per-row dataSchema.find would
  // allocate and linear-scan per mask per row — review finding, round 15)
  private val maskFields: Array[(StructField, Boolean, Set[Any])] =
    masks.flatMap { case (c, isString, keys) =>
      dataSchema.fields.find(_.name == c).map(f => (f, isString, keys))
    }

  private var fileIdx = -1
  private var reader: ParquetReader[Group] = _
  private var currentGroup: Group = _
  // footer-count emission path (no parquet columns needed)
  private var emitRemaining: Long = 0L
  private var countOnly = false
  private var partValues: Array[Any] = _ // typed, one per level
  private var fileValue: UTF8String = _
  private var row: InternalRow = _
  // per-FILE resolved ordinals + physical types for the projection the
  // current reader decodes (round 16 — the per-row getFieldIndex(name)
  // string lookup was a linear scan per column per row): reqOrd(i) is
  // required(i)'s index in the projected Group, -1 = absent/partition
  private var reqOrd: Array[Int] = _
  private var reqPrim: Array[org.apache.parquet.schema.PrimitiveType] = _
  private var maskOrd: Array[Int] = _
  private var maskPrim: Array[org.apache.parquet.schema.PrimitiveType] = _

  private def openNextFile(): Boolean = {
    if (reader != null) { reader.close(); reader = null }
    fileIdx += 1
    if (fileIdx >= files.length) return false
    val (rel, _) = files(fileIdx)
    val segVals = GraftManifestSource.partSegments(rel).map(_._2)
    partValues = partCols.zipWithIndex.map { case ((_, dt), li) =>
      if (li < segVals.size) GraftManifestSource.typedPartValue(dt, segVals(li))
      else null
    }.toArray
    fileValue = UTF8String.fromString(rel)
    val p = new Path(root, rel)
    // ONE footer read serves schema and row count both (a second open
    // per file doubles per-file latency on object stores — review
    // finding, round 15); ParquetReader's own internal footer read is
    // the only other one
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    // explicit read options: the no-options open constructs (and
    // XML-parses) a fresh Configuration per file (round 18)
    val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
      in, org.apache.parquet.HadoopReadOptions.builder(conf).build())
    val (fileSchema, rowCount) =
      try (fr.getFooter.getFileMetaData.getSchema,
        fr.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
      finally fr.close()
    val keep =
      if (parquetCols.isEmpty) Nil
      else parquetCols.map(_.name).filter(fileSchema.containsField)
    if (keep.isEmpty) {
      // no parquet column needed (bare COUNT / partition-only select), or
      // an old file that predates every needed column (all-null rows
      // either way): emit by footer count, no data page decodes
      countOnly = true
      emitRemaining = rowCount
    } else {
      countOnly = false
      // per-file projection: only columns the FILE has (older files
      // null-fill evolved columns), typed as the file declares them
      val readConf = new org.apache.hadoop.conf.Configuration(conf)
      val fields = keep.map(n =>
        fileSchema.getType(fileSchema.getFieldIndex(n)))
      val projection = new org.apache.parquet.schema.MessageType(
        fileSchema.getName, fields.asJava)
      val projIdx: Map[String, Int] = keep.zipWithIndex.toMap
      def primOf(name: String) = projIdx.get(name)
        .map(i => fields(i).asPrimitiveType()).orNull
      reqOrd = required.fields.map(f => projIdx.getOrElse(f.name, -1))
      reqPrim = required.fields.map(f => primOf(f.name))
      maskOrd = maskFields.map(m => projIdx.getOrElse(m._1.name, -1))
      maskPrim = maskFields.map(m => primOf(m._1.name))
      readConf.set(
        org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
        projection.toString)
      reader = ParquetReader.builder(new GroupReadSupport(), p)
        .withConf(readConf).build()
    }
    true
  }

  private def extract(
      g: Group, idx: Int,
      prim: org.apache.parquet.schema.PrimitiveType,
      dt: DataType, name: String): Any = {
    if (idx < 0) return null
    if (g.getFieldRepetitionCount(idx) == 0) return null
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    (dt, prim.getPrimitiveTypeName) match {
      case (LongType, INT64) => g.getLong(idx, 0)
      case (LongType, INT32) => g.getInteger(idx, 0).toLong
      case (IntegerType, INT32) => g.getInteger(idx, 0)
      case (DoubleType, DOUBLE) => g.getDouble(idx, 0)
      case (DoubleType, FLOAT) => g.getFloat(idx, 0).toDouble
      case (FloatType, FLOAT) => g.getFloat(idx, 0)
      case (BooleanType, BOOLEAN) => g.getBoolean(idx, 0)
      case (StringType, BINARY) =>
        UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
      case (BinaryType, BINARY) => g.getBinary(idx, 0).getBytes
      case (DateType, INT32) => g.getInteger(idx, 0)
      case (TimestampType, INT64) | (TimestampNTZType, INT64) =>
        import org.apache.parquet.schema.LogicalTypeAnnotation
        val v = g.getLong(idx, 0)
        prim.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => v
              case LogicalTypeAnnotation.TimeUnit.MILLIS => v * 1000L
              case LogicalTypeAnnotation.TimeUnit.NANOS => v / 1000L
            }
          case _ => v
        }
      case (et, pt) => throw new IllegalStateException(
        s"graft-manifest reader: column '$name' is $pt in " +
          s"${files(fileIdx)._1} but ${et.simpleString} in the recorded " +
          "schema — not a lossless widening (INT96 timestamps are not " +
          "supported; rewrite with spark.sql.parquet.outputTimestampType=" +
          "TIMESTAMP_MICROS)")
    }
  }

  private def maskedOut(g: Group): Boolean = {
    var i = 0
    while (i < maskFields.length) {
      val (field, isString, keys) = maskFields(i)
      val v = extract(g, maskOrd(i), maskPrim(i), field.dataType, field.name)
      if (v != null &&
        (if (isString) keys.contains(v.toString) else keys.contains(v)))
        return true
      i += 1
    }
    false
  }

  override def next(): Boolean = {
    while (true) {
      if (countOnly && emitRemaining > 0L) {
        emitRemaining -= 1L
        row = buildRow(null)
        return true
      }
      if (reader != null) {
        currentGroup = reader.read()
        if (currentGroup != null) {
          if (!maskedOut(currentGroup)) {
            row = buildRow(currentGroup)
            return true
          }
          // masked: loop to the next record
        } else {
          reader.close(); reader = null
          if (!openNextFile()) return false
        }
      } else if (!openNextFile()) return false
      else () // opened a new file: loop re-enters with its state
    }
    false
  }

  private def buildRow(g: Group): InternalRow = {
    val out = new GenericInternalRow(required.length)
    var i = 0
    while (i < required.length) {
      constSrc(i) match {
        case -2 => out.update(i, fileValue)
        case -1 => out.update(i, if (g == null) null
          else extract(g, reqOrd(i), reqPrim(i), required(i).dataType,
            required(i).name))
        case li => out.update(i, partValues(li))
      }
      i += 1
    }
    out
  }

  override def get(): InternalRow = row

  override def close(): Unit =
    if (reader != null) { reader.close(); reader = null }
}

/** Executor-side COLUMNAR reader (round 16): per file, either Spark's
  * vectorized parquet reader serves its [[ColumnarBatch]]es directly
  * (the common case — every file this format's own writers produce is
  * vectorizable), or the [[GraftPartitionReader]] row decode bridges
  * into on-heap vectors (NANOS/INT96 timestamps, unannotated binary
  * under a string column — shapes the vectorized reader refuses but the
  * row matrix tolerates). Spark's reader also owns missing-column
  * null-fill and the lossless widenings (int32 file under a long
  * column, float under double), so the per-file behavior matrix is
  * IDENTICAL to the row path — spec-pinned value identity.
  *
  * Batch columns come back in requested-data order with partition
  * columns appended; a thin permutation wrapper restores the scan's
  * `required` order without copying a single vector.
  */
class GraftColumnarReader(
    root: String,
    files: Array[(String, Long)],
    required: StructType,
    dataSchema: StructType,
    partCols: Seq[(String, DataType)],
    confProps: Array[(String, String)],
    capacity: Int,
    sessionTz: String)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetWriteSupport, VectorizedParquetRecordReader}
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  // per-file CONSTANT columns (partition values, `_file` provenance):
  // served as constant vectors, never decoded from a data page.
  // constSrc per required field: -1 = parquet data, -2 = _file,
  // >= 0 = that partition level
  private val constSrc: Array[Int] = required.fields.map { f =>
    if (f.name == GraftManifestSource.FileCol) -2
    else partCols.indexWhere(_._1 == f.name)
  }
  private def isConstIdx(i: Int): Boolean = constSrc(i) != -1
  private val neededData: Seq[StructField] =
    required.fields.toSeq.zipWithIndex.collect {
      case (f, i) if !isConstIdx(i) => f
    }
  // const columns in required order: (required index, field)
  private val constCols: Seq[(Int, StructField)] =
    required.fields.toSeq.zipWithIndex.collect {
      case (f, i) if isConstIdx(i) => (i, f)
    }
  // required index -> ordinal among the data columns (-1 = constant col)
  private val dataOrdinalOf: Array[Int] = {
    var j = -1
    required.fields.toSeq.zipWithIndex.map { case (_, i) =>
      if (isConstIdx(i)) -1 else { j += 1; j }
    }.toArray
  }
  // required index -> ordinal among the const columns (-1 = data col)
  private val constOrdinalOf: Array[Int] = {
    var j = -1
    required.fields.toSeq.zipWithIndex.map { case (_, i) =>
      if (isConstIdx(i)) { j += 1; j } else -1
    }.toArray
  }
  private val dataRequestedSchema = StructType(neededData)

  @transient private lazy val conf: org.apache.hadoop.conf.Configuration = {
    val c = GraftManifestSource.confFrom(confProps)
    // the standard incantation Spark's own parquet scan performs before
    // handing a task to the vectorized reader (ParquetFileFormat
    // .buildReaderWithPartitionValues, public source): the requested
    // catalyst schema rides the conf, plus the conversion flags the
    // schema converter consults
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
      dataRequestedSchema.json)
    ParquetWriteSupport.setSchema(dataRequestedSchema, c)
    c.setBoolean("spark.sql.parquet.binaryAsString", false)
    c.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    c.setBoolean("spark.sql.caseSensitive", false)
    c.set("spark.sql.session.timeZone", sessionTz)
    c.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    c.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    c.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    c
  }

  /** Can the vectorized reader serve this file for OUR needed columns?
    * Missing columns are fine (constant-null vectors); present ones must
    * be primitives whose (physical, logical) shape Spark's updater
    * factory accepts for the catalyst type, including the widening pairs
    * the recorded-schema contract allows. Conservative: anything else
    * takes the row bridge.
    */
  private def vectorizable(fileSchema: MessageType): Boolean =
    neededData.forall { f =>
      if (!fileSchema.containsField(f.name)) true
      else {
        val t = fileSchema.getType(fileSchema.getFieldIndex(f.name))
        if (!t.isPrimitive || t.isRepetition(
          org.apache.parquet.schema.Type.Repetition.REPEATED)) false
        else {
          val p = t.asPrimitiveType()
          val ann = p.getLogicalTypeAnnotation
          (f.dataType, p.getPrimitiveTypeName) match {
            case (LongType, INT64) => ann == null
            case (LongType, INT32) => ann == null
            case (IntegerType, INT32) => ann == null
            case (DoubleType, DOUBLE) | (DoubleType, FLOAT) => ann == null
            case (FloatType, FLOAT) => ann == null
            case (BooleanType, BOOLEAN) => ann == null
            case (StringType, BINARY) =>
              ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            case (BinaryType, BINARY) => ann == null
            case (DateType, INT32) =>
              ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation]
            case (TimestampType, INT64) => ann match {
              case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                ts.isAdjustedToUTC &&
                  (ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS ||
                    ts.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS)
              case _ => false
            }
            case (TimestampNTZType, INT64) => ann match {
              case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                !ts.isAdjustedToUTC &&
                  (ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS ||
                    ts.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS)
              case _ => false
            }
            case _ => false
          }
        }
      }
    }

  private var fileIdx = -1
  // vectorized mode state
  private var vec: VectorizedParquetRecordReader = _
  private var outBatch: ColumnarBatch = _
  private var innerBatch: ColumnarBatch = _
  // bridge mode state
  private var bridge: GraftPartitionReader = _
  private var bridgeVectors: Array[OnHeapColumnVector] = _
  private var bridgeBatch: ColumnarBatch = _
  // footer-count mode state (no parquet column needed at all)
  private var emitRemaining: Long = 0L
  private var constVectors: Array[OnHeapColumnVector] = _
  private var constBatch: ColumnarBatch = _
  private var constValues: Array[Any] = _ // per const col, current file

  private def closeCurrent(): Unit = {
    if (vec != null) { vec.close(); vec = null }
    innerBatch = null; outBatch = null
    if (bridge != null) { bridge.close(); bridge = null }
    if (bridgeVectors != null) {
      bridgeVectors.foreach(_.close()); bridgeVectors = null; bridgeBatch = null
    }
    if (constVectors != null) {
      constVectors.foreach(_.close()); constVectors = null; constBatch = null
    }
    emitRemaining = 0L
  }

  private def openNextFile(): Boolean = {
    closeCurrent()
    fileIdx += 1
    if (fileIdx >= files.length) return false
    val (rel, _) = files(fileIdx)
    val p = new Path(root, rel)
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
      in, org.apache.parquet.HadoopReadOptions.builder(conf).build())
    val (footer, fileSchema, rowCount) =
      try (fr.getFooter, fr.getFooter.getFileMetaData.getSchema,
        fr.getFooter.getBlocks.asScala.map(_.getRowCount).sum)
      finally fr.close()
    val segVals = GraftManifestSource.partSegments(rel).map(_._2)
    def constValueFor(i: Int): Any = constSrc(i) match {
      case -2 => UTF8String.fromString(rel)
      case li if li < segVals.size =>
        GraftManifestSource.typedPartValue(partCols(li)._2, segVals(li))
      case _ => null
    }
    val present = neededData.map(_.name).filter(fileSchema.containsField)
    if (neededData.isEmpty || present.isEmpty) {
      // bare COUNT(*) / partition-only select / a file predating every
      // needed column: constant batches from the footer row count, no
      // data page ever decoded
      constValues = constCols.map { case (i, _) => constValueFor(i) }.toArray
      emitRemaining = rowCount
      constVectors = OnHeapColumnVector.allocateColumns(capacity, required)
      constBatch = new ColumnarBatch(
        constVectors.asInstanceOf[Array[ColumnVector]])
    } else if (vectorizable(fileSchema)) {
      // the OLD-API split class: Spark's reader base downcasts to
      // mapred.FileSplit (which extends the mapreduce one)
      val split = new org.apache.hadoop.mapred.FileSplit(
        p, 0, in.getLength, Array.empty[String])
      val attemptId = new org.apache.hadoop.mapreduce.TaskAttemptID(
        new org.apache.hadoop.mapreduce.TaskID(
          new org.apache.hadoop.mapreduce.JobID("graft", 0),
          org.apache.hadoop.mapreduce.TaskType.MAP, 0), 0)
      val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
        conf, attemptId)
      // files this format writes carry no legacy hybrid-calendar rebase,
      // so CORRECTED matches the row path (which applies no rebase)
      vec = new VectorizedParquetRecordReader(
        null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, capacity)
      var ok = false
      try {
        vec.initialize(split, ctx, Some(in), None, Some(footer))
        // the per-file constants (partition value, _file) ride the
        // vectorized reader's own partition-column slot — constant
        // vectors appended after the data columns
        val partSchema = StructType(constCols.map(_._2))
        val partRow = new GenericInternalRow(
          constCols.map { case (i, _) => constValueFor(i) }.toArray)
        vec.initBatch(partSchema, partRow)
        vec.enableReturningBatches()
        innerBatch = vec.resultBatch()
        // permute (data..., consts...) back to the scan's required order
        val cols: Array[ColumnVector] = required.indices.map { i =>
          if (isConstIdx(i))
            innerBatch.column(neededData.length + constOrdinalOf(i))
          else innerBatch.column(dataOrdinalOf(i))
        }.toArray
        outBatch = new ColumnarBatch(cols)
        ok = true
      } finally if (!ok) { vec.close(); vec = null }
    } else {
      // row bridge: the Group decode (NANOS/INT96/unannotated shapes),
      // poured into on-heap vectors batch by batch
      bridge = new GraftPartitionReader(
        root, Array(files(fileIdx)), required, dataSchema, partCols,
        Array.empty, confProps)
      bridgeVectors = OnHeapColumnVector.allocateColumns(capacity, required)
      bridgeBatch = new ColumnarBatch(
        bridgeVectors.asInstanceOf[Array[ColumnVector]])
    }
    true
  }

  private def putValue(
      v: OnHeapColumnVector, dt: DataType, row: InternalRow, i: Int,
      out: Int): Unit =
    if (row.isNullAt(i)) v.putNull(out)
    else dt match {
      case LongType | TimestampType | TimestampNTZType =>
        v.putLong(out, row.getLong(i))
      case IntegerType | DateType => v.putInt(out, row.getInt(i))
      case DoubleType => v.putDouble(out, row.getDouble(i))
      case FloatType => v.putFloat(out, row.getFloat(i))
      case BooleanType => v.putBoolean(out, row.getBoolean(i))
      case StringType =>
        val b = row.getUTF8String(i).getBytes
        v.putByteArray(out, b, 0, b.length); ()
      case BinaryType =>
        val b = row.getBinary(i)
        v.putByteArray(out, b, 0, b.length); ()
      case other => throw new IllegalStateException(
        s"unreachable bridge type $other")
    }

  private def fillConst(
      vs: Array[OnHeapColumnVector], n: Int, values: Array[Any]): Unit = {
    var i = 0
    while (i < required.length) {
      val v = vs(i)
      v.reset()
      if (isConstIdx(i)) values(constOrdinalOf(i)) match {
        case x: Int => v.putInts(0, n, x)
        case x: Long => v.putLongs(0, n, x)
        case x: UTF8String =>
          val b = x.getBytes
          var r = 0
          while (r < n) { v.putByteArray(r, b, 0, b.length); r += 1 }
        case null => v.putNulls(0, n)
        case other => throw new IllegalStateException(
          s"unreachable const vector type $other")
      }
      else v.putNulls(0, n)
      i += 1
    }
  }

  override def next(): Boolean = {
    while (true) {
      if (vec != null) {
        if (vec.nextBatch()) {
          outBatch.setNumRows(innerBatch.numRows()); return true
        } else if (!openNextFile()) return false
      } else if (bridge != null) {
        var n = 0
        bridgeVectors.foreach(_.reset())
        var more = true
        while (n < capacity && more) {
          if (bridge.next()) {
            val r = bridge.get()
            var i = 0
            while (i < required.length) {
              putValue(bridgeVectors(i), required(i).dataType, r, i, n)
              i += 1
            }
            n += 1
          } else more = false
        }
        if (n > 0) { bridgeBatch.setNumRows(n); return true }
        else if (!openNextFile()) return false
      } else if (emitRemaining > 0L) {
        val n = math.min(capacity.toLong, emitRemaining).toInt
        emitRemaining -= n
        fillConst(constVectors, n, constValues)
        constBatch.setNumRows(n)
        return true
      } else if (!openNextFile()) return false
    }
    false
  }

  override def get(): ColumnarBatch =
    if (vec != null) outBatch
    else if (bridge != null) bridgeBatch
    else constBatch

  override def close(): Unit = closeCurrent()
}

/** Write-side of the format (see [[GraftManifestTable.newWriteBuilder]]):
  * append by default, truncate under mode("overwrite").
  */
class GraftWriteBuilder(
    table: GraftManifestTable,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var truncateMode = false

  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
    truncateMode = true; this
  }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new GraftWrite(table, info, truncateMode)
}

class GraftWrite(
    table: GraftManifestTable,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo,
    truncate: Boolean)
    extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  private def spark = SparkSession.active

  /** CLUSTER + SORT the incoming rows by the partition columns (round 18
    * — found by the sf1 anchor of the 100-leaf u28 table): an UNSORTED
    * row stream over more live partition values than `maxOpenWriters`
    * thrashes the executor's LRU writer cap — every eviction+revisit
    * opens a FRESH file, and a 50k-row insert degenerated to 50k
    * one-row files (then 50k driver footer reads at commit). Requesting
    * a clustered distribution (NOT strictly required — under AQE that
    * compiles to a rebalance, which also splits skewed leaves) plus a
    * per-task sort makes each task see its leaves contiguously: one
    * writer at a time, one file per (task, leaf), the LRU never evicts
    * a writer that will be revisited — Spark's own file-source insert
    * discipline, DSv2-native.
    */
  /** Transform-aware clustering (round 19): a days/bucket layout
    * clusters on the DERIVED value, spelled as the V2 transform itself —
    * resolvable exactly when the table came through [[GraftCatalog]]
    * (which is a FunctionCatalog serving matching `days`/`bucket`
    * scalar functions — the Iceberg move). A PATH-loaded handle has no
    * function catalog to resolve against, so a derived layout then
    * requests no distribution and relies on the source-column sort
    * below (correct, contiguous per task; just fewer merged files).
    */
  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    if (specs.forall(_.isIdentity) || table.viaCatalog)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        // spelled under LOGICAL names — the incoming frame's columns
        specs.map(sp =>
          GraftManifestSource.transformExpr(sp, table.logicalName)).toArray)
    else
      org.apache.spark.sql.connector.distributions.Distributions
        .unspecified()
  }

  override def distributionStrictlyRequired(): Boolean = false

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    specs.map { sp =>
      val expr =
        if (sp.isIdentity || !table.viaCatalog)
          // identity level, or a derived level without a function
          // catalog: sort by the (source) column — calendar units stay
          // contiguous per task; bucket streams interleave but stay
          // ≤ n writers
          Expressions.column(table.logicalName(sp.sourceCol))
            : org.apache.spark.sql.connector.expressions.Expression
        else GraftManifestSource.transformExpr(sp, table.logicalName)
      Expressions.sort(expr,
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)
    }.toArray
  }

  private[sources] val specs: Seq[PartSpec] = {
    val fromOpts =
      Option(info.options().get("partitionCols")).toSeq
        .flatMap(PartitionTransforms.splitSpecs) ++
        Option(info.options().get("partitionCol")).toSeq
    val resolved =
      if (table.partSpecs.nonEmpty) table.partSpecs
      else fromOpts.map(PartitionTransforms.parse)
    require(resolved.nonEmpty,
      s"graft-manifest write: the table under ${table.root} has no live " +
        "partition and no declared partition column(s) — declare via " +
        "CREATE TABLE ... PARTITIONED BY / OPTIONS (partitionCol ...) or " +
        ".option(\"partitionCol\", ...)")
    resolved
  }

  private val writeSchema: StructType = info.schema()
  specs.foreach { sp =>
    // the spec spells the PHYSICAL source; the frame speaks LOGICAL
    val src = table.logicalName(sp.sourceCol)
    require(writeSchema.fieldNames.contains(src),
      s"graft-manifest write: the frame must carry " +
        (if (sp.isIdentity) s"the table's partition column '$src'"
         else s"'$src', the source of partition transform ${sp.render}"))
    val dt = writeSchema.fields(writeSchema.fieldNames.indexOf(src)).dataType
    require(PartitionTransforms.validSourceType(sp, dt),
      s"graft-manifest write: partition ${sp.render}: source column " +
        s"'$src' has unsupported type ${dt.simpleString}")
  }
  // column mapping: files carry PHYSICAL names (positions unchanged —
  // the writer indexes rows positionally)
  private val writeSchemaPhys: StructType = StructType(
    writeSchema.fields.map(f => f.copy(name = table.phys(f.name))).toSeq)
  // identity partition columns live in the DIRECTORY only; a transform's
  // source column is DATA and stays in the files
  private val dataFields: Array[StructField] =
    writeSchemaPhys.fields.filterNot(f =>
      specs.exists(sp => sp.isIdentity && sp.sourceCol == f.name))
  dataFields.foreach { f =>
    require(GraftManifestSource.SupportedTypes.contains(f.dataType),
      s"graft-manifest write supports flat primitive schemas; column " +
        s"'${f.name}' is ${f.dataType.simpleString}")
  }

  private val batchId: Option[Long] =
    Option(info.options().get("batchId")).map(_.toLong)

  /** PARTITION OVERWRITE (round 19 — VERDICT r18 missing #3, the Delta
    * `replaceWhere` / dynamic-overwrite slot): with `mode("overwrite")`,
    * `.option("replaceWhere", "<predicate over partition levels>")`
    * replaces exactly the matched leaves in ONE atomic version, and
    * `.option("partitionOverwriteMode", "dynamic")` replaces exactly the
    * leaves the write produced rows for — the routine backfill, no
    * longer a two-step dropPartitions+append. Static replaceWhere
    * enforces containment (a written row outside the declared region
    * refuses, Delta parity). The predicate is any Spark boolean
    * expression over the partition LEVEL names (`lang`, `ts_day`, …),
    * evaluated driver-side over the distinct leaf tuples — O(leaves),
    * zero data IO.
    */
  private val replaceWhere: Option[String] =
    Option(info.options().get("replaceWhere")).map(_.trim).filter(_.nonEmpty)
  private val dynamicOverwrite: Boolean =
    Option(info.options().get("partitionOverwriteMode"))
      .exists(_.equalsIgnoreCase("dynamic"))
  require(!(replaceWhere.isDefined && dynamicOverwrite),
    "graft-manifest write: pass replaceWhere OR " +
      "partitionOverwriteMode=dynamic, not both")
  require((replaceWhere.isEmpty && !dynamicOverwrite) || truncate,
    "graft-manifest write: replaceWhere/partitionOverwriteMode=dynamic " +
      "scope an OVERWRITE — use mode(\"overwrite\")")

  /** The leaf names (of `leaves`) matching the replaceWhere predicate:
    * one driver-local filter over the distinct leaf tuples, typed per
    * level, so any Spark-parsable predicate works and an unknown column
    * refuses loudly at analysis.
    */
  private def leavesMatching(pred: String, leaves: Seq[String]): Set[String] = {
    if (leaves.isEmpty) return Set.empty
    val levels = specs.map(_.levelName)
    val types = levels.map(l => table.partitionTypeOf(l))
    val rows = leaves.map { l =>
      val vals = GraftManifestSource.partSegments(l + "/f").map(_._2)
      require(vals.size == levels.size,
        s"leaf '$l' does not match the table's ${levels.size}-level layout")
      org.apache.spark.sql.Row.fromSeq(l +: vals)
    }
    val raw = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava),
      StructType(StructField("__graft_leaf", StringType) +:
        levels.map(StructField(_, StringType))))
    val typed = levels.zip(types).foldLeft(raw) { case (d, (n, t)) =>
      d.withColumn(n, org.apache.spark.sql.functions.col(n).cast(t))
    }
    typed.filter(org.apache.spark.sql.functions.expr(pred))
      .select("__graft_leaf").collect().map(_.getString(0)).toSet
  }
  private val statsColumns: Seq[String] = {
    val fromWrite = Option(info.options().get("statsColumns")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    // zone-map registration is recorded under PHYSICAL names
    (if (fromWrite.nonEmpty) fromWrite else table.declaredStatsColumns)
      .map(table.phys)
  }

  private val stagingDir = s"${table.root}/_stage-dsv2-${info.queryId()}"

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = this

  override def createBatchWriterFactory(
      physInfo: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    new GraftWriterFactory(stagingDir, writeSchemaPhys, specs,
      GraftManifestSource.confProps(spark),
      Option(info.options().get("maxOpenWriters")).map(_.toInt)
        .getOrElse(16))

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val staged = stagedOf(messages)
    if (replaceWhere.isDefined || dynamicOverwrite) {
      val stagedLeaves = staged.map(_._1).toSet
      val matchedOf: Seq[String] => Set[String] = replaceWhere match {
        case Some(pred) =>
          // Delta-parity containment: every written row must fall in the
          // declared region (checked against the STAGED leaves, so a
          // backfill into not-yet-existing leaves still validates)
          val stagedMatched = leavesMatching(pred, stagedLeaves.toSeq)
          val outside = stagedLeaves.diff(stagedMatched)
          require(outside.isEmpty,
            s"replaceWhere '$pred': written rows land in partition(s) " +
              s"${outside.take(3).mkString(", ")} OUTSIDE the replaced " +
              "region — widen the predicate or filter the frame")
          live => leavesMatching(pred, live)
        case None => _ => stagedLeaves // dynamic: replace what was written
      }
      ManifestTable.appendStagedFiles(
        spark, table.root, staged, batchId, statsColumns,
        StructType(dataFields.toSeq), truncate = false,
        replaceLeavesOf = Some(matchedOf))
    } else {
      ManifestTable.appendStagedFiles(
        spark, table.root, staged, batchId, statsColumns,
        StructType(dataFields.toSeq), truncate)
    }
    cleanup(stagingDir)
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = cleanup(stagingDir)

  private def stagedOf(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Seq[(String, Path)] =
    messages.toSeq.flatMap {
      case m: GraftCommitMessage => m.files.toSeq.map {
        case (partName, p) => (partName, new Path(p))
      }
      case null => Nil // a task that never launched (empty epoch)
      case other => throw new IllegalStateException(
        s"unexpected commit message $other")
    }

  private def cleanup(dir: String): Unit = {
    val sd = new Path(dir)
    val f = sd.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(sd, true)
    ()
  }

  /** NATIVE STREAMING SINK (round 17 — the write half of the u24
    * streaming read): `df.writeStream.format("graft-manifest")
    * .option("path", root)` commits each micro-batch through
    * [[ManifestTable.appendStagedFiles]] with the EPOCH id as the ingest
    * fence — the exactly-once contract every foreachBatch ingest loop in
    * this engine hand-rolled (st8/st14/st18), now provided by the
    * format itself: a replayed epoch (restart after a commit, before the
    * checkpoint advanced) re-stages its files and no-ops on the fence,
    * its files falling to vacuum. Staging is EPOCH-SCOPED
    * (`_stage-dsv2-<query>/e<epoch>`) so a commit's cleanup can never
    * race the next epoch's writers. Append-only: complete-mode truncate
    * refuses (a streaming overwrite-per-epoch is a different table
    * lifecycle — use foreachBatch + commit(truncate) deliberately).
    * The fence also means ONE streaming query owns a table's ingest;
    * seeding commits must carry batch ids below the stream's first
    * epoch (epoch numbering starts at 0 per checkpoint).
    */
  override def toStreaming
      : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!truncate,
      "graft-manifest streaming sink is append-only — complete/truncate " +
        "output modes would overwrite the table every epoch; use " +
        "outputMode(\"append\")")
    require(replaceWhere.isEmpty && !dynamicOverwrite,
      "graft-manifest streaming sink is append-only — partition " +
        "overwrite (replaceWhere/dynamic) is a batch write mode")
    new GraftStreamingWrite(this)
  }

  private[sources] def commitEpoch(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    ManifestTable.appendStagedFiles(
      spark, table.root, stagedOf(messages), Some(epochId), statsColumns,
      StructType(dataFields.toSeq), truncate = false)
    cleanup(s"$stagingDir/e$epochId")
  }

  private[sources] def abortEpoch(epochId: Long): Unit =
    cleanup(s"$stagingDir/e$epochId")

  private[sources] def epochWriterFactory
      : (String, StructType, Seq[PartSpec], Array[(String, String)], Int) =
    (stagingDir, writeSchemaPhys, specs,
      GraftManifestSource.confProps(spark),
      Option(info.options().get("maxOpenWriters")).map(_.toInt)
        .getOrElse(16))
}

/** The streaming half of [[GraftWrite]]: per-epoch staging, epoch id as
  * the ingest fence.
  */
class GraftStreamingWrite(w: GraftWrite)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  override def createStreamingWriterFactory(
      physInfo: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    val (stagingDir, schema, specs, confProps, maxOpen) =
      w.epochWriterFactory
    new GraftStreamingWriterFactory(
      stagingDir, schema, specs, confProps, maxOpen)
  }

  override def commit(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = w.commitEpoch(epochId, messages)

  override def abort(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = w.abortEpoch(epochId)
}

class GraftStreamingWriterFactory(
    stagingDir: String,
    schema: StructType,
    partSpecs: Seq[PartSpec],
    confProps: Array[(String, String)],
    maxOpenWriters: Int)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftDataWriter(s"$stagingDir/e$epochId", schema, partSpecs,
      partitionId, taskId, confProps, maxOpenWriters)
}

case class GraftCommitMessage(files: Array[(String, String)])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class GraftWriterFactory(
    stagingDir: String,
    schema: StructType,
    partSpecs: Seq[PartSpec],
    confProps: Array[(String, String)],
    maxOpenWriters: Int)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftDataWriter(stagingDir, schema, partSpecs,
      partitionId, taskId, confProps, maxOpenWriters)
}

/** Executor-side writer: one parquet file per (task, partition-value)
  * pair, flat primitives via parquet-mr example Groups — the write twin
  * of [[GraftPartitionReader]]. Files land in the commit-private staging
  * dir; the driver's publish moves them live.
  */
class GraftDataWriter(
    stagingDir: String,
    schema: StructType,
    partSpecs: Seq[PartSpec],
    partitionId: Int,
    taskId: Long,
    confProps: Array[(String, String)],
    maxOpenWriters: Int = 16)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.ParquetWriter
  import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

  @transient private lazy val conf =
    GraftManifestSource.confFrom(confProps)

  // identity partition columns are directory-only; transform SOURCE
  // columns are data and stay in the files (round 19)
  private val dataFields: Array[StructField] =
    schema.fields.filterNot(f =>
      partSpecs.exists(sp => sp.isIdentity && sp.sourceCol == f.name))
  private val dataIdx: Array[Int] =
    dataFields.map(f => schema.fieldNames.indexOf(f.name))
  // per partition level: (spec, source row ordinal, source type)
  private val partLevels: Seq[(PartSpec, Int, DataType)] =
    partSpecs.map { sp =>
      val i = schema.fieldNames.indexOf(sp.sourceCol)
      (sp, i, schema.fields(i).dataType)
    }

  private lazy val msgType: MessageType = {
    val b = Types.buildMessage()
    dataFields.foreach { f =>
      val p = f.dataType match {
        case LongType => Types.optional(INT64)
        case IntegerType => Types.optional(INT32)
        case DoubleType => Types.optional(DOUBLE)
        case FloatType => Types.optional(FLOAT)
        case BooleanType => Types.optional(BOOLEAN)
        case StringType =>
          Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case BinaryType => Types.optional(BINARY)
        case TimestampType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(
            true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case TimestampNTZType => Types.optional(INT64)
          .as(LogicalTypeAnnotation.timestampType(
            false, LogicalTypeAnnotation.TimeUnit.MICROS))
        case DateType =>
          Types.optional(INT32).as(LogicalTypeAnnotation.dateType())
        case other => throw new IllegalArgumentException(
          s"unsupported write type ${other.simpleString} for '${f.name}'")
      }
      b.addField(p.named(f.name))
    }
    b.named("spark_schema")
  }

  private lazy val factory = new SimpleGroupFactory(msgType)
  // open writers, LRU order (head = least recently used): a task sees at
  // most `maxOpenWriters` concurrent parquet writers — each holds a row
  // group's worth of buffer, so an unbounded map under a
  // high-cardinality partition column exhausts executor memory where
  // Spark's native path would sort first (round 16). Overflow closes the
  // coldest writer; a revisited partition value simply opens a FRESH
  // uniquely-named file (more files, same rows — the manifest does not
  // care).
  private val openWriters =
    scala.collection.mutable.LinkedHashMap[String, (ParquetWriter[Group], String)]()
  private val closedFiles =
    scala.collection.mutable.ArrayBuffer[(String, String)]()
  private var fileCounter = 0

  private def partNameOf(row: InternalRow): String =
    partLevels.map { case (sp, idx, dt) =>
      require(!row.isNullAt(idx),
        s"graft-manifest write: null partition value for '${sp.render}' " +
          "— the default partition does not round-trip; write it " +
          "explicitly via ManifestTable.commit")
      val v = sp match {
        case _: IdentitySpec => dt match {
          case StringType => row.getUTF8String(idx).toString
          case IntegerType => row.getInt(idx).toString
          case _ => row.getLong(idx).toString
        }
        case u @ (_: DaysSpec | _: MonthsSpec | _: YearsSpec |
            _: HoursSpec) =>
          // TimestampType micros are a UTC instant; NTZ micros and DATE
          // days are literal calendar values — all truncate with the
          // same unit arithmetic
          val micros = dt match {
            case DateType => row.getInt(idx).toLong * 86400000000L
            case _ => row.getLong(idx)
          }
          PartitionTransforms.renderUnit(u,
            PartitionTransforms.unitOfMicros(u, micros))
        case b: BucketSpec => (dt match {
          case StringType => PartitionTransforms.bucketOfString(
            row.getUTF8String(idx).toString, b.n)
          case IntegerType => PartitionTransforms.bucketOfLong(
            row.getInt(idx), b.n)
          case _ => PartitionTransforms.bucketOfLong(row.getLong(idx), b.n)
        }).toString
        case t: TruncateSpec => dt match {
          case StringType => row.getUTF8String(idx).toString.take(t.w)
          case IntegerType =>
            PartitionTransforms.truncLong(row.getInt(idx), t.w).toString
          case _ =>
            PartitionTransforms.truncLong(row.getLong(idx), t.w).toString
        }
      }
      require(v.nonEmpty && !v.contains('|'),
        s"graft-manifest write: partition value '$v' is empty or contains " +
          "'|' (the manifest stats delimiter)")
      s"${sp.levelName}=" + org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(v)
    }.mkString("/")

  private def writerFor(partName: String): ParquetWriter[Group] =
    openWriters.remove(partName) match {
      case Some(entry) =>
        openWriters.put(partName, entry) // back to the hot end
        entry._1
      case None =>
        if (openWriters.size >= math.max(1, maxOpenWriters)) {
          val (coldPart, (cw, cf)) = openWriters.head
          cw.close()
          closedFiles += ((coldPart, cf))
          openWriters.remove(coldPart)
          ()
        }
        val file = s"$stagingDir/w-$partitionId-$taskId-" +
          s"$fileCounter-${partName.hashCode.toHexString}.parquet"
        fileCounter += 1
        val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
          .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
            .fromPath(new Path(file), conf))
          .withType(msgType)
          .withConf(conf)
          .build()
        openWriters.put(partName, (w, file))
        w
    }

  /** Metadata-accompanied rows (group-based row-level rewrites project
    * carried-over rows with their `_file` provenance): the metadata is
    * lineage Spark offers, not content — write the data row.
    */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def write(row: InternalRow): Unit = {
    val g: Group = factory.newGroup()
    var i = 0
    while (i < dataFields.length) {
      val src = dataIdx(i)
      if (!row.isNullAt(src)) {
        val f = dataFields(i)
        f.dataType match {
          case LongType => g.append(f.name, row.getLong(src))
          case IntegerType => g.append(f.name, row.getInt(src))
          case DoubleType => g.append(f.name, row.getDouble(src))
          case FloatType => g.append(f.name, row.getFloat(src))
          case BooleanType => g.append(f.name, row.getBoolean(src))
          case StringType =>
            g.append(f.name, row.getUTF8String(src).toString)
          case BinaryType => g.append(f.name,
            org.apache.parquet.io.api.Binary
              .fromConstantByteArray(row.getBinary(src)))
          case TimestampType | TimestampNTZType =>
            g.append(f.name, row.getLong(src))
          case DateType => g.append(f.name, row.getInt(src))
          case other => throw new IllegalStateException(
            s"unreachable write type $other")
        }
      }
      i += 1
    }
    writerFor(partNameOf(row)).write(g)
  }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    openWriters.values.foreach(_._1.close())
    GraftCommitMessage((closedFiles ++
      openWriters.toArray.map { case (partName, (_, file)) =>
        (partName, file)
      }).toArray)
  }

  override def abort(): Unit = {
    openWriters.values.foreach { case (w, _) =>
      try w.close() catch { case _: Exception => () }
    }
    (closedFiles.map(_._2) ++ openWriters.values.map(_._2)).foreach { file =>
      try {
        val p = new Path(file)
        p.getFileSystem(conf).delete(p, false)
        ()
      } catch { case _: Exception => () }
    }
  }

  override def close(): Unit = ()
}
