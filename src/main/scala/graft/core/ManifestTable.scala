package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, call_function, col, collect_set, count, countDistinct, exists, expr, first, input_file_name, lit, max, min, regexp_extract, sum, typedlit, when}

/** Minimal manifest-file commit protocol — cross-partition ATOMICITY for
  * multi-partition state rewrites, the property plain `partitionBy(...)
  * .mode("overwrite")` with dynamic partition overwrite cannot give: that
  * path swaps each partition directory independently, so a crash between
  * two bucket swaps exposes readers to MIXED batch versions until the
  * at-least-once replay heals them ([[graft.streaming.EventsStream]]'s
  * st8 doc names this exact gap and defers to "a merge-capable table
  * format at 100 TB" — this is that table format's core move, reduced to
  * its minimum).
  *
  * The protocol (the heart of every log-structured table format, stripped
  * to one file):
  *  - data files are IMMUTABLE and uniquely named; a writer only ever adds
  *    new files, never rewrites one in place;
  *  - `_manifest/v<N>.json` enumerates the COMPLETE set of data files that
  *    make up version N (one absolute-relative path per line, plus the
  *    batch id that produced it);
  *  - a commit writes its data files, writes the next manifest to a `.tmp`
  *    name, then publishes with ONE no-overwrite `rename` — the atomic
  *    commit point (atomic rename-if-absent on HDFS; object stores plug
  *    their conditional put into the same slot). The rename doubles as
  *    the MULTI-WRITER arbiter: a writer that loses the version slot
  *    re-reads the winner, re-derives its lines and retries — optimistic
  *    concurrency, the Delta/Iceberg commit loop (see [[commit]]);
  *  - readers list `_manifest`, pick the highest version, and read exactly
  *    the files it names. A crash anywhere before the rename leaves the
  *    previous version fully intact and the half-written files INVISIBLE —
  *    not mixed state, just dead bytes for [[vacuum]] to sweep.
  *
  * Scale shape: the manifest holds one line per live data file — for a
  * bucketed state table that is O(buckets), a few KB at any data volume;
  * the commit's extra cost over the non-atomic path is one small file
  * write + one rename. Readers pay one small-file read to plan the scan.
  */
object ManifestTable {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Default (no-op) value of the `beforePublish` hook every publisher
    * takes — a deterministic interleaving point for the two-writer specs:
    * it fires exactly once, after the publisher has derived its manifest
    * from the snapshot it read and staged its data files, immediately
    * before the first publish attempt. A spec injects a competing writer
    * here to force the optimistic-concurrency retry (or conflict abort)
    * deterministically; production callers never pass it.
    */
  val NoHook: () => Unit = () => ()

  /** A declared partition value rendered exactly as Spark's partitioned
    * write renders it in the DIRECTORY name — Hive path escaping (a value
    * `a=b` writes dir `part=a%3Db`): matching manifest lines against the
    * RAW value would silently miss the escaped value's files and carry
    * stale lines forward next to the rewrite. Values that stay unsafe even
    * escaped refuse loudly: '|' (the manifest stats delimiter, which Spark
    * does not escape) and the empty string (Spark renders it as the
    * default-partition sentinel — declare that rendering explicitly if it
    * is really meant).
    */
  private def escapedPartValue(v: String): String = {
    require(v.nonEmpty,
      "declared partition value must be non-empty (Spark renders empty " +
        "values as the __HIVE_DEFAULT_PARTITION__ sentinel directory — " +
        "declare that rendering explicitly if it is really meant)")
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .escapePathName(v)
    require(!esc.contains('|'),
      s"declared partition value '$v' contains '|' (the manifest stats " +
        "delimiter) — choose a '|'-free partition value")
    esc
  }

  /** The partitions among `parts` whose live lines differ between `base`
    * (the snapshot a publisher derived from) and `cur` (the head it is
    * about to publish over) — the touched-partition conflict witness of
    * [[commit]], [[merge]], [[deleteRows]] and [[dropPartitions]]: any
    * difference means the publisher's replacement rows (or its drop) were
    * computed from superseded inputs (a lost update), which no
    * manifest-level retry can repair.
    */
  private def changedPartitions(
      base: Snapshot, cur: Snapshot, parts: Seq[String]): Seq[String] = {
    def linesUnder(s: Snapshot, p: String) = s.lines.filter(_.under(p)).toSet
    if (cur eq base) Nil
    else parts.filter(p => linesUnder(base, p) != linesUnder(cur, p))
  }

  /** True iff `s` already carries ingest batch `b` or a later one — the
    * exactly-once fence; a never-committed table fences nothing.
    */
  private def fenced(s: Snapshot, b: Long): Boolean =
    s.version >= 0 && b <= s.batch

  /** The LEAF partition directory of a manifest-relative file path —
    * `a=x/b=y` for `a=x/b=y/file`, `part=b0` for `part=b0/file`: the
    * rewrite unit on every layout (round 18 — the maintenance verbs
    * handle multi-level layouts by grouping/rewriting leaf dirs, so a
    * nested table compacts and takes row-level verbs exactly like a
    * single-level one).
    */
  private def leafDirOf(rel: String): String =
    rel.substring(0, rel.lastIndexOf('/'))

  /** The table's partition COLUMN names in directory order, from one
    * live line's path segments (`a=x/b=y/file` → Seq(a, b)). Layouts are
    * uniform by construction — every writer lands every level for every
    * row — so one line fixes the table's.
    */
  private def partColsOf(rel: String): Seq[String] =
    rel.split('/').dropRight(1).toSeq.map(_.takeWhile(_ != '='))

  /** A leaf partition directory name from its columns' RAW values, each
    * level rendered through the same Hive escaping Spark's partitioned
    * write uses (`a=x%2Fy/b=z` round-trips exactly).
    */
  private def leafNameOf(cols: Seq[String], vals: Seq[String]): String =
    cols.zip(vals).map { case (c, v0) =>
      s"$c=${escapedPartValue(v0)}"
    }.mkString("/")

  /** Every data file under the root's partition directories at ANY
    * depth (round 17 — multi-level layouts nest `a=x/b=y/`), as
    * (manifest-relative path, status): the shared walker behind
    * [[vacuum]]'s sweep and [[fsck]]'s orphan report, so nested-layout
    * debris is reclaimed and reported exactly like single-level.
    */
  private def walkPartitionFiles(
      f: FileSystem, rootPath: Path)
      : Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    def walk(dir: Path, prefix: String)
        : Seq[(String, org.apache.hadoop.fs.FileStatus)] =
      f.listStatus(dir).toSeq.flatMap { s =>
        if (s.isDirectory && s.getPath.getName.contains("="))
          walk(s.getPath, s"$prefix${s.getPath.getName}/")
        else if (s.isFile) Seq((s"$prefix${s.getPath.getName}", s))
        else Nil
      }
    if (!f.exists(rootPath)) Nil
    else f.listStatus(rootPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .flatMap(s => walk(s.getPath, s.getPath.getName + "/"))
  }

  private def manifestDir(root: String) = new Path(root, "_manifest")

  /** Latest committed version under `root`, or -1 if never committed. */
  def currentVersion(spark: SparkSession, root: String): Long = {
    val dir = manifestDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) -1L
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case VersionRe(v) => v.toLong }
      .foldLeft(-1L)(math.max)
  }

  private val VersionRe = "v(\\d+)\\.json".r

  /** The (relative data-file paths, producing batch id) of a version.
    * Zone-map suffixes (`path|min|max` — see [[commit]]'s `statsCol`) are
    * stripped: callers that plan a full scan see paths only.
    */
  def readManifest(
      spark: SparkSession, root: String, version: Long): (Seq[String], Long) = {
    val st = readSnapshot(spark, root, version)
    (st.paths, st.batch)
  }

  /** The manifest HEADER — line 1 of `v<N>.json` — and its one codec:
    * [[render]] writes every header, [[Header.parse]] reads every one.
    * Fields beyond `version`/`batch` are additive, so every older header
    * still parses: round 18's commit metadata (`op`, publish time `ts`)
    * and operation metrics (`nf` live files, `nr` live rows), round 19's
    * `opKey` (the keyed verbs' key columns — the CDF row-image pairing
    * key), round 20's `restoredFrom`. The zone-map registration is
    * (name, type) pairs, type ∈ {long, string}: a single long column
    * renders as the original `"statsCol":"c"` (the U5 format pin), any
    * other registration as `"statsCols":"a:long,b:string"`. The data
    * schema rides as `schemaB64` (base64 of `StructType.json` — schema
    * JSON holds quotes and arbitrary names, so it cannot ride inline) and
    * stays encoded in the header; [[readSnapshot]] decodes it.
    */
  private[graft] final case class Header(
      version: Long,
      batch: Long,
      op: Option[String] = None,
      opKey: Seq[String] = Nil,
      ts: Option[Long] = None,
      statsCols: Seq[(String, String)] = Nil,
      schemaB64: Option[String] = None,
      restoredFrom: Option[Long] = None,
      nf: Option[Int] = None,
      nr: Option[Long] = None) {
    def render: String = Seq(
      Some(s""""version":$version"""),
      Some(s""""batch":$batch"""),
      op.map(o => s""""op":"$o""""),
      Some(opKey).filter(_.nonEmpty)
        .map(k => s""""opKey":"${k.mkString(",")}""""),
      ts.map(t => s""""ts":$t"""),
      statsCols match {
        case Nil => None
        case Seq((c, "long")) => Some(s""""statsCol":"$c"""")
        case cols => Some(s""""statsCols":"${
          cols.map(x => x._1 + ":" + x._2).mkString(",")}"""")
      },
      schemaB64.map(s => s""""schemaB64":"$s""""),
      restoredFrom.map(v => s""""restoredFrom":$v"""),
      nf.map(n => s""""nf":$n"""),
      nr.map(n => s""""nr":$n""")).flatten.mkString("{", ",", "}")
  }

  private[graft] object Header {
    // the header is one flat JSON object of string and integer values
    private val Field = """"(\w+)":(?:"([^"]+)"|(-?\d+))""".r

    def parse(line: String): Header = {
      val f = Field.findAllMatchIn(line)
        .map(m => m.group(1) -> Option(m.group(2)).getOrElse(m.group(3)))
        .toMap
      def num(k: String) = f.get(k).map(_.toLong)
      def required(k: String) = num(k).getOrElse(throw new IllegalStateException(
        s"malformed manifest header (no $k): $line"))
      Header(
        version = required("version"),
        batch = required("batch"),
        op = f.get("op"),
        opKey = f.get("opKey").map(_.split(',').toSeq).getOrElse(Nil),
        ts = num("ts"),
        statsCols = f.get("statsCols") match {
          case Some(cols) => cols.split(',').toSeq.map { e =>
            e.split(':') match {
              case Array(n, t) if t == "long" || t == "string" => (n, t)
              case _ => throw new IllegalStateException(
                s"malformed statsCols entry '$e' in manifest header: $line")
            }
          }
          case None => f.get("statsCol").map(c => Seq((c, "long"))).getOrElse(Nil)
        },
        schemaB64 = f.get("schemaB64"),
        restoredFrom = num("restoredFrom"),
        nf = num("nf").map(_.toInt),
        nr = num("nr"))
    }

    def encodeSchema(s: org.apache.spark.sql.types.StructType): String =
      java.util.Base64.getEncoder.encodeToString(s.json.getBytes("UTF-8"))

    def decodeSchema(b64: String): org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.DataType.fromJson(new String(
        java.util.Base64.getDecoder.decode(b64), "UTF-8"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  /** One manifest FILE LINE, parsed once when its manifest is read:
    * `path[|%#bytes:rows][|min|max…]`. Round 16: freshly-written lines
    * carry a self-describing `%#<bytes>:<rows>` FILE-META field right
    * after the path, so scan planning (DSv2 `estimateStatistics`, bin
    * packing) and maintenance sizing ([[optimize]]/
    * [[optimizeRewritePartitions]], bloom tiers) need ZERO per-file
    * filesystem calls beyond the one manifest read — at 10⁵ files on an
    * object store the per-file `getFileStatus` probe was minutes of plan
    * time. Carried pre-round-16 lines have no meta (readers fall back to
    * the status probe), so mixed manifests parse uniformly. The `%#` tag
    * is UNAMBIGUOUS against every legal stats field: [[encStat]] output
    * never has a non-hex character after '%', and long stats are decimal
    * — neither can begin `%#`.
    *
    * `raw` is the line verbatim: the entry's identity (equality, the
    * conflict witnesses' sets) and what a carried line re-publishes, so
    * carried lines stay byte-identical. [[dataFileLine]] writes new ones.
    */
  private[graft] final case class FileLine(raw: String) {
    private val fields = raw.split('|')
    val path: String = fields(0)
    /** The file's (bytes, rows), on lines new enough to carry them. */
    val meta: Option[(Long, Long)] =
      if (fields.length >= 2 && fields(1).startsWith("%#"))
        fields(1).drop(2).split(':') match {
          case Array(b, r) => scala.util.Try((b.toLong, r.toLong)).toOption
          case _ => None
        }
      else None
    /** The zone-map fields, a (min, max) pair per registered column in
      * registration order. split drops TRAILING empty fields and
      * pre-migration lines cover a PREFIX of the registration, so a pair
      * past the end reads as empty (no stats).
      */
    val stats: IndexedSeq[String] = scala.collection.immutable.ArraySeq
      .unsafeWrapArray(fields).drop(if (meta.isDefined) 2 else 1)
    /** The recorded (min, max) of registered column `i` — ("", "") when
      * the line carries none.
      */
    def bounds(i: Int): (String, String) =
      (stats.lift(2 * i).getOrElse(""), stats.lift(2 * i + 1).getOrElse(""))
    /** True iff the file lives under partition directory `dir`. */
    def under(dir: String): Boolean = path.startsWith(dir + "/")
  }

  /** One committed version: its header, its live file lines and its data
    * schema — the recorded one (None on tables committed before schema
    * versioning — those keep the original infer-from-files read), or the
    * inferred one in a [[scanState]].
    */
  private[graft] final case class Snapshot(
      version: Long,
      header: Header,
      lines: Seq[FileLine],
      schema: Option[org.apache.spark.sql.types.StructType]) {
    def batch: Long = header.batch
    def statsCols: Seq[(String, String)] = header.statsCols
    def paths: Seq[String] = lines.map(_.path)
  }

  private[graft] object Snapshot {
    /** The never-committed table (version -1, batch -1, no files) — and
      * the empty snapshot a DECLARED-but-uncommitted DSv2 table scans
      * under its DDL schema (round 16's SQL creation lifecycle).
      */
    def empty(schema: Option[org.apache.spark.sql.types.StructType]): Snapshot =
      Snapshot(-1L, Header(-1L, -1L), Nil, schema)
  }

  /** Version `version`'s snapshot, read and parsed once. Throws if its
    * manifest is missing (never committed, or vacuumed away) or its header
    * is malformed — a corrupt `schemaB64` included.
    */
  private def readSnapshot(
      spark: SparkSession, root: String, version: Long): Snapshot = {
    val p = new Path(manifestDir(root), s"v$version.json")
    val in = fs(spark, p).open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val all = text.linesIterator.toList
    val header = Header.parse(all.head)
    Snapshot(version, header, all.tail.filter(_.nonEmpty).map(FileLine(_)),
      header.schemaB64.map(Header.decodeSchema))
  }

  /** [[readSnapshot]], except that version -1 — the head of a
    * never-committed table — is the empty snapshot.
    */
  private[graft] def snapshot(
      spark: SparkSession, root: String, version: Long): Snapshot =
    if (version < 0) Snapshot.empty(None) else readSnapshot(spark, root, version)

  private def head(spark: SparkSession, root: String): Snapshot =
    snapshot(spark, root, currentVersion(spark, root))

  /** Read the latest committed version as a DataFrame (partition columns
    * like `bucket=` recovered via basePath), or None if never committed.
    * Only manifest-listed files are read — debris from a crashed commit is
    * invisible by construction.
    */
  def read(spark: SparkSession, root: String): Option[DataFrame] = {
    val v = currentVersion(spark, root)
    if (v < 0) None else Some(readVersion(spark, root, v))
  }

  /** TIME TRAVEL: read a specific committed version — every manifest is a
    * complete snapshot and data files are immutable, so any version still
    * inside [[vacuum]]'s retention reads back exactly as committed ("what
    * did the profile table say before yesterday's batch"). Throws if the
    * version's manifest is missing (never committed, or vacuumed away).
    */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    applyDvMask(spark, root, readVersionRaw(spark, root, version))

  /** [[readVersion]] WITHOUT the deferred-delete mask — the CDC
    * snapshot-diff base: [[changes]] reads raw file contents (a deferred
    * delete surfaces in the feed at its purging OPTIMIZE version, never
    * before), so an incremental consumer's INITIAL load must share that
    * convention — a masked initial load would drop the masked rows once,
    * then the purge version's removed side would subtract them a second
    * time and the maintained state would go wrong/negative. Not a user
    * read path: user snapshots go through [[read]]/[[readVersion]], which
    * mask.
    */
  def readVersionRaw(
      spark: SparkSession, root: String, version: Long): DataFrame = {
    val st = readSnapshot(spark, root, version)
    readSnapshotFiles(spark, root, st, st.paths)
  }

  /** `files` (relative paths of `st`'s lines) read under `st`'s schema.
    * The recorded data schema (when present) drives the read: files
    * written before a column was added lack it physically, and parquet
    * null-fills missing columns under an explicit schema — S8's
    * mergeSchema semantics without paying schema inference (a Spark job)
    * over the files. Partition columns stay directory-derived via basePath.
    */
  private def readSnapshotFiles(
      spark: SparkSession, root: String, st: Snapshot,
      files: Seq[String]): DataFrame = {
    val reader = st.schema match {
      case Some(sch) => spark.read.schema(sch)
      case None => spark.read
    }
    if (files.isEmpty)
      // the sentinel-safe empty read: glob-filter to data files only (the
      // table root also holds the raw-read guard file — see [[commit]])
      reader.option("basePath", root).option("pathGlobFilter", "*.parquet")
        .parquet(root).limit(0)
    else reader.option("basePath", root)
      .parquet(files.map(f => s"$root/$f"): _*)
  }

  /** CHANGE-DATA FEED between two committed versions (the Delta CDF /
    * Iceberg incremental-read slot, manifest-native): what a downstream
    * incremental consumer processes to catch up from `fromVersion` to
    * `toVersion` without re-reading the table. Manifests are complete
    * snapshots of immutable files, so the diff is exact at FILE level:
    *
    *  - `added`   = rows of files in `to` but not `from`;
    *  - `removed` = rows of files in `from` but not `to`.
    *
    * For APPEND commits (the st18 lineage shape) `removed` is empty and
    * `added` IS the appended rows — the incremental-consumption fast
    * path. For REWRITE commits (deleteRows / OPTIMIZE / declared-touched
    * rewrites) rewritten survivors appear on both sides; the NET row
    * change is the value-level difference — `added EXCEPT ALL removed`
    * for net inserts, `removed EXCEPT ALL added` for net deletes (an
    * OPTIMIZE-only version nets to zero both ways, spec-pinned). Both
    * sides read under `toVersion`'s recorded schema (additive evolution:
    * the later schema null-fills older files — S8 semantics), so the two
    * frames are always union/except-compatible.
    *
    * Scale shape: one manifest read per endpoint (driver-side set diff of
    * path lists), then scans restricted to exactly the changed files —
    * cost tracks the delta, never the table. Versions must both be within
    * [[vacuum]] retention.
    */
  def changes(
      spark: SparkSession, root: String,
      fromVersion: Long, toVersion: Long): (DataFrame, DataFrame) = {
    require(fromVersion <= toVersion,
      s"changes($fromVersion, $toVersion): versions must ascend")
    val fromFiles = readSnapshot(spark, root, fromVersion).paths.toSet
    val toSt = readSnapshot(spark, root, toVersion)
    val toFiles = toSt.paths.toSet
    val addedFiles = (toFiles -- fromFiles).toSeq.sorted
    val removedFiles = (fromFiles -- toFiles).toSeq.sorted
    def readSubset(files: Seq[String]): DataFrame = {
      val reader = toSt.schema match {
        case Some(sch) => spark.read.schema(sch)
        case None => spark.read
      }
      // an empty side borrows the other side's frame (limit 0) so neither
      // ever lists or schema-infers the whole table; both empty = the
      // versions are identical and a root-scoped empty read is vacuous
      val src =
        if (files.nonEmpty) files
        else if (addedFiles.nonEmpty) addedFiles
        else removedFiles
      val df =
        if (src.isEmpty) reader.option("basePath", root)
          .option("pathGlobFilter", "*.parquet").parquet(root)
        else reader.option("basePath", root)
          .parquet(src.map(f => s"$root/$f"): _*)
      if (files.isEmpty) df.limit(0) else df
    }
    (readSubset(addedFiles), readSubset(removedFiles))
  }

  /** Batch id that produced the latest version, or -1 — the exactly-once
    * fence for foreachBatch writers: a redelivered batch id ≤ this is a
    * no-op re-commit.
    */
  def lastBatch(spark: SparkSession, root: String): Long = {
    val v = currentVersion(spark, root)
    if (v < 0) -1L else readManifest(spark, root, v)._2
  }

  final case class HistoryEntry(
      version: Long, operation: String, timestampMs: Option[Long],
      batch: Long,
      numFiles: Option[Int] = None, numRows: Option[Long] = None,
      // the keyed verbs' recorded key columns (round 19 — the CDF
      // row-image pairing key); empty on unkeyed/older versions
      opKey: Seq[String] = Nil)

  /** One version's manifest HEADER line only — the [[history]] unit read:
    * a history over 10⁴ versions must not re-read 10⁴ full file lists
    * (the U31 plan-probe law applied to the audit surface); headers are
    * one line each.
    */
  private def readHeaderLine(
      spark: SparkSession, root: String, version: Long): String = {
    val p = new Path(manifestDir(root), s"v$version.json")
    val in = fs(spark, p).open(p)
    val rd = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, "UTF-8"))
    try {
      val l = rd.readLine()
      require(l != null, s"empty manifest at $p")
      l
    } finally rd.close()
  }

  /** TABLE HISTORY (the Delta `DESCRIBE HISTORY` / Iceberg snapshot-
    * summary slot): every RETAINED version with the operation that
    * produced it and its publish wall-clock time, newest first. Versions
    * committed before commit metadata landed (round 18) report
    * operation "unknown" with no timestamp — the fields are additive.
    * Cost: one single-line header read per retained version, no file
    * lists, no data IO.
    */
  def history(spark: SparkSession, root: String): Seq[HistoryEntry] = {
    val dir = manifestDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Nil
    val versions = f.listStatus(dir).map(_.getPath.getName)
      .collect { case VersionRe(v) => v.toLong }.sorted
    versions.reverse.map { v =>
      val h = Header.parse(readHeaderLine(spark, root, v))
      HistoryEntry(v, h.op.getOrElse("unknown"), h.ts, h.batch,
        numFiles = h.nf, numRows = h.nr, opKey = h.opKey)
    }.toSeq
  }

  /** `TIMESTAMP AS OF` resolution: the LATEST version whose recorded
    * publish time is ≤ `tsMs` — Delta's timestamp-addressing rule.
    * Refuses loudly when the table predates commit timestamps entirely
    * or when every timestamped version is later than the ask (addressing
    * before the table existed is a question with no honest answer).
    */
  def versionAtTimestamp(
      spark: SparkSession, root: String, tsMs: Long): Long = {
    val h = history(spark, root)
    require(h.nonEmpty, s"no committed version under $root")
    val stamped = h.filter(_.timestampMs.isDefined)
    require(stamped.nonEmpty,
      s"no version under $root carries a commit timestamp (all predate " +
        "commit metadata) — address by VERSION AS OF instead")
    val eligible = stamped.filter(_.timestampMs.get <= tsMs)
    require(eligible.nonEmpty,
      s"no committed version at or before timestamp $tsMs under $root " +
        s"(earliest recorded: ${stamped.map(_.timestampMs.get).min})")
    // Delta's rule both ways (ADVICE r18): a timestamp LATER than the
    // last commit refuses too — "the table as of tomorrow" would pin a
    // snapshot the very next commit falsifies, and under clock skew the
    // max-eligible pick could silently resolve to the wrong writer's
    // version. (Publish stamps are monotonic per table — see
    // [[publishManifest]]'s clamp — so the latest stamp is the newest.)
    val latest = stamped.map(_.timestampMs.get).max
    require(tsMs <= latest,
      s"timestamp $tsMs is after the last commit ($latest) under $root " +
        "— address the head by omitting the timestamp (or VERSION AS OF)")
    eligible.map(_.version).max
  }

  /** The EARLIEST version published at or after `tsMs` — the change
    * feed's `startingTimestamp` rule (Delta semantics: "changes since t"
    * begins at the first commit not before t). Loud refusal when every
    * stamped version predates the ask — an empty feed would silently
    * read as "nothing changed since t", which is only true until the
    * next commit.
    */
  def versionSinceTimestamp(
      spark: SparkSession, root: String, tsMs: Long): Long = {
    val h = history(spark, root)
    require(h.nonEmpty, s"no committed version under $root")
    val stamped = h.filter(_.timestampMs.isDefined)
    require(stamped.nonEmpty,
      s"no version under $root carries a commit timestamp (all predate " +
        "commit metadata) — address by startingVersion instead")
    val eligible = stamped.filter(_.timestampMs.get >= tsMs)
    require(eligible.nonEmpty,
      s"no committed version at or after timestamp $tsMs under $root " +
        s"(latest recorded: ${stamped.map(_.timestampMs.get).max}) — " +
        "an empty feed here would silently mean 'nothing changed', " +
        "which the next commit falsifies; pass startingVersion " +
        "explicitly if that is really meant")
    eligible.map(_.version).min
  }

  /** TIMESTAMP-addressed snapshot read — [[readVersion]] at
    * [[versionAtTimestamp]]'s resolution (the Scala face of
    * `TIMESTAMP AS OF`).
    */
  def readAtTimestamp(
      spark: SparkSession, root: String, tsMs: Long): DataFrame =
    readVersion(spark, root, versionAtTimestamp(spark, root, tsMs))

  /** Commit `touched` (the REPLACEMENT rows for every partition value in
    * its `partitionCol`) against the current version: untouched partitions
    * carry their existing files forward; touched partitions' old files are
    * dropped from the manifest (not deleted — [[vacuum]] owns physical
    * deletion) and replaced by the newly-written ones. Returns the new
    * version.
    *
    * `touchedValues` DECLARES partition values as touched regardless of
    * whether any replacement row lands in them — required whenever a
    * rewrite can EMPTY a partition (a bucketed state table whose rows
    * migrate buckets, a row-level delete): deriving touched-ness from the
    * written data alone would treat an emptied partition as untouched and
    * carry its stale lines forward. A declared partition with no output
    * rows simply drops its lines from the new manifest.
    *
    * Idempotent per batch: if `batchId` is not greater than the committed
    * [[lastBatch]], the write is skipped entirely (the caller re-delivered
    * a batch that already committed — at-least-once replay).
    *
    * MULTI-WRITER safe (optimistic concurrency, the Delta/Iceberg commit
    * loop): the publish is a no-overwrite rename into the version slot; a
    * writer that loses the race re-reads the WINNING state, re-checks the
    * fence, re-validates its zone-map registration and schema merge, and
    * re-derives its carried lines against the winner — its own staged
    * files are already live under their final (never-colliding) names, so
    * only the manifest derivation re-runs. Two outcomes end the loop
    * early: the winner committed this (or a later) batch id → idempotent
    * skip (the loser's staged files are unreferenced debris for
    * [[vacuum]]); the winner modified one of THIS commit's touched
    * partitions → `ConcurrentModificationException` (a lost update — the
    * replacement rows were derived from a superseded snapshot and must be
    * recomputed; staged files again fall to vacuum). Maintenance rewrites
    * ([[optimize]], [[optimizeRewritePartitions]], [[deleteRows]]) carry
    * the same loop, so they may safely race the ingest.
    */
  def commit(
      spark: SparkSession,
      root: String,
      touched: DataFrame,
      partitionCol: String,
      batchId: Long,
      statsCol: Option[String] = None,
      statsColumns: Seq[String] = Nil,
      touchedValues: Seq[String] = Nil,
      beforePublish: () => Unit = NoHook): Long = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    // validate DECLARED partition values before any data write — a refusal
    // must cost nothing and leave no orphan files. Declared values render
    // into directory names exactly as Spark's partitioned write renders
    // them (Hive path escaping), so the carried-line match can never miss
    // an escaped value's files.
    val declaredParts =
      touchedValues.map(v => s"$partitionCol=${escapedPartValue(v)}")
    val start = head(spark, root)
    if (fenced(start, batchId)) return start.version
    // the table's zone-map columns are a property of the TABLE, not of one
    // commit: a second writer registering different columns would leave
    // the manifest with suffixes meaning two different things. Validate
    // BEFORE the data write — a refusal must cost nothing and leave no
    // orphan files in live partition dirs. Types come from the committed
    // frame's schema (integer → long stats, string → byte-ordered string
    // stats; anything else refuses loudly — per-column refusal preserved).
    // ADDITIVE zone-map migration: a commit may register a SUPERSET of the
    // table's columns as long as the existing ones keep their order and
    // types — appended columns extend the line suffix on the right, so
    // pre-migration lines (padded with empty fields on read) still align
    // positionally and simply prune conservatively on the new column until
    // their files are rewritten. Reordering / retyping / dropping stays a
    // loud refusal.
    def effStatsFor(prevStats: Seq[(String, String)]): Seq[(String, String)] = {
      val asked: Seq[(String, String)] =
        (statsCol.toSeq ++ statsColumns).distinct.map { c =>
          val field = touched.schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"zone-map column '$c' absent from the committed frame"))
          field.dataType match {
            case org.apache.spark.sql.types.LongType |
                 org.apache.spark.sql.types.IntegerType => (c, "long")
            case org.apache.spark.sql.types.StringType => (c, "string")
            case other => throw new IllegalArgumentException(
              s"zone-map column '$c' has unsupported type $other — only " +
                "integer and string columns carry manifest stats")
          }
        }
      (asked, prevStats) match {
        case (Nil, p) => p
        case (a, Nil) => a
        case (a, p) =>
          require(a.startsWith(p),
            s"zone-map column mismatch: table has '${p.map(x => x._1 + ":" + x._2).mkString(",")}', " +
              s"commit passed '${a.map(x => x._1 + ":" + x._2).mkString(",")}' — " +
              "only appending new columns is allowed (additive migration)")
          a
      }
    }
    // the table's recorded DATA schema evolves additively with every
    // commit (the partition column is directory-derived, never stored);
    // legacy tables without a recorded schema first INFER their base
    // schema from the carried files — see [[recordedOrInferredSchema]]
    val dataSchema = org.apache.spark.sql.types.StructType(
      touched.schema.fields.filterNot(_.name == partitionCol).toSeq)
    def mergedSchemaFor(s: Snapshot) = evolveSchema(
      recordedOrInferredSchema(spark, root, s), dataSchema)
    val effStats = effStatsFor(start.statsCols)
    mergedSchemaFor(start) // schema-conflict refusal BEFORE any file stages
    // 1. data files: write the touched partitions into a commit-private
    //    staging dir (unique names by construction), then move each file
    //    under its partition dir with a version-prefixed name. Files are
    //    never overwritten — versions share a dir but not files.
    val (stagedParts, newFiles) = stageDataFiles(
      f, rootPath, touched, Seq(partitionCol), start.version + 1)
    val touchedParts = (declaredParts ++ stagedParts).distinct
    val myLines = newFiles.map(dataFileLine(spark, rootPath, _, effStats))
    publishRetrying(spark, root, start, beforePublish) { s =>
      // the winner carried this (or a later) batch — idempotent skip; my
      // staged files are unreferenced and fall to vacuum
      if (fenced(s, batchId)) Done(s.version)
      else {
        val conflicted = changedPartitions(start, s, touchedParts)
        if (conflicted.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"commit of batch $batchId under $root lost its publish race to " +
              s"a writer that modified touched partition(s) " +
              s"${conflicted.mkString(", ")} — the replacement rows were " +
              "derived from a superseded snapshot; recompute against the " +
              "current snapshot and retry (staged files are unreferenced " +
              "and vacuum-swept)")
        // 2. the new manifest: carry forward every untouched partition's
        //    LINES (zone-map suffixes ride along — data files are
        //    immutable, so a file's stats can never go stale)
        val carried = s.lines.filterNot(l => touchedParts.exists(l.under))
        Publish("commit", batchId, effStatsFor(s.statsCols),
          Some(Header.encodeSchema(mergedSchemaFor(s))),
          carried ++ myLines, v => v)
      }
    }
  }

  /** The widened type of a (recorded, committed) column pair, when the
    * pair is a LEGAL widening — the promotions Spark's parquet readers
    * apply losslessly under an explicit wider read schema (probed and
    * spec-pinned: an int32 file column reads as long, a float as double).
    * Either side may be the wide one: a commit may WIDEN the table
    * (int → long records long; old int files read fine), and a NARROW
    * late producer may keep writing int into a long table (its files
    * read widened). None = not a widening — the caller refuses.
    */
  private def widened(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (x, y) if x == y => Some(x)
      case (IntegerType, LongType) | (LongType, IntegerType) => Some(LongType)
      case (FloatType, DoubleType) | (DoubleType, FloatType) => Some(DoubleType)
      case _ => None
    }
  }

  /** ADDITIVE schema evolution: a previously-recorded column may keep its
    * type or legally WIDEN ([[widened]] — int→long, float→double, in
    * either commit order; the recorded type is the wider of the two);
    * any other type change refuses loudly (silent coercion is how a
    * reader discovers drift three jobs downstream); columns the new
    * commit drops stay in the table schema (its files simply null-fill
    * them — a column delete is a rewrite job, not a commit); brand-new
    * columns append in commit order. All merged fields are nullable:
    * null fill is the whole point.
    */
  private def evolveSchema(
      prev: Option[org.apache.spark.sql.types.StructType],
      next: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    prev match {
      case None => StructType(next.fields.map(_.copy(nullable = true)).toSeq)
      case Some(p) =>
        val byName = next.fields.map(f => f.name -> f).toMap
        val mergedPrev = p.fields.map { pf =>
          byName.get(pf.name) match {
            case None => pf.copy(nullable = true)
            case Some(nf) =>
              val w = widened(pf.dataType, nf.dataType).getOrElse(
                throw new IllegalArgumentException(
                  s"schema evolution conflict on column '${pf.name}': table has " +
                    s"${pf.dataType.simpleString}, commit has " +
                    s"${nf.dataType.simpleString} — only additive columns and " +
                    "lossless widenings (int->long, float->double) evolve"))
              StructField(pf.name, w, nullable = true, pf.metadata)
          }
        }
        val known = p.fieldNames.toSet
        StructType((mergedPrev ++
          next.fields.filterNot(f => known(f.name))
            .map(_.copy(nullable = true))).toSeq)
    }
  }

  /** The table's base data schema for additive evolution: the recorded one
    * when present; for LEGACY tables (committed before schema versioning)
    * the mergeSchema-inferred union over the carried files — so a narrow
    * first post-upgrade commit cannot hide older files' extra columns
    * behind a too-small recorded schema (and a later OPTIMIZE cannot then
    * rewrite them away — the silent-column-loss migration hazard). The
    * inference is paid once: the merged schema is recorded from this
    * commit on.
    */
  private def recordedOrInferredSchema(
      spark: SparkSession, root: String,
      st: Snapshot): Option[org.apache.spark.sql.types.StructType] =
    st.schema.orElse {
      if (st.lines.isEmpty) None
      else Some(spark.read.option("mergeSchema", "true")
        .parquet(st.paths.map(r => s"$root/$r"): _*).schema)
    }

  /** Stage `touched` as partition-dir data files of version `next`: write
    * to a commit-private staging dir (uniquely named — concurrent writers
    * must never share one: an overwrite-mode stage write would destroy the
    * other's files mid-flight), then move each file under its live
    * partition dir with a version-prefixed (never-colliding) name. Returns
    * (LEAF partition names staged — `a=x/b=y` on nested layouts —
    * relative paths of the new files). Shared by [[commit]],
    * [[deleteRows]] and [[merge]].
    */
  /** Run `body` with parquet timestamps written as MICROS (round 19):
    * the format's reader refuses INT96 (Spark's default physical
    * timestamp), so every REWRITE the engine performs on a
    * timestamp-carrying table must hold the physical layout steady —
    * `outputTimestampType` is a session conf, not a write option, hence
    * the save/restore guard.
    */
  private[graft] def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    val k = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "TIMESTAMP_MICROS")
    try body finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  private def stageDataFiles(
      f: FileSystem,
      rootPath: Path,
      touched: DataFrame,
      partitionCols: Seq[String],
      next: Long): (Seq[String], Seq[String]) = {
    val stage = new Path(rootPath,
      s"_stage-v$next-${java.util.UUID.randomUUID().toString.take(8)}")
    withMicrosTimestamps(touched.sparkSession) {
      // HASH-DISTRIBUTE the staged write by the partition columns (the
      // Iceberg `write.distribution-mode=hash` discipline, guide §6): a
      // plain partitionBy over an arbitrarily-partitioned frame writes one
      // file per (task × partition value) — a 32-task commit into 32
      // buckets lands up to 1024 tiny files, and every later read pays
      // listing + footer opens per file (measured: the d17 pyramid
      // artifact carried 980 files; its listing alone cost whole seconds
      // per search). The REBALANCE hint routes each partition value to one
      // task under AQE, which also SPLITS an oversized value by the
      // advisory partition size — so small commits write one right-sized
      // file per leaf and a skewed leaf still fans out at ~advisory-sized
      // files at 100 TB.
      touched.hint("rebalance", partitionCols.map(col): _*)
        .write.partitionBy(partitionCols: _*).mode("overwrite")
        .parquet(stage.toString)
    }
    val parts = scala.collection.mutable.ListBuffer[String]()
    val newFiles = scala.collection.mutable.ListBuffer[String]()
    def moveLeaf(leafDir: Path, partName: String): Unit = {
      parts += partName
      val dest = new Path(rootPath, partName)
      f.mkdirs(dest)
      for (df0 <- f.listStatus(leafDir)
           if df0.isFile && !df0.getPath.getName.startsWith("_")
             && !df0.getPath.getName.startsWith(".")) {
        val name = s"v$next-${df0.getPath.getName}"
        if (!f.rename(df0.getPath, new Path(dest, name)))
          throw new IllegalStateException(
            s"could not stage data file ${df0.getPath} -> $dest/$name")
        newFiles += s"$partName/$name"
      }
    }
    def walk(dir: Path, prefix: String, depth: Int): Unit =
      for (d <- f.listStatus(dir)
           if d.isDirectory && d.getPath.getName.contains("=")) {
        val seg = d.getPath.getName // e.g. bucket=3
        // '|' is the manifest's stats delimiter (U6): a partition VALUE
        // containing it (Spark does not escape '|' in partition dir
        // names) would truncate to a nonexistent path on read and make
        // vacuum treat the real file as dead. Refuse before any moves.
        require(!seg.contains('|'),
          s"partition value '$seg' contains '|' (the manifest stats " +
            "delimiter) — choose a '|'-free partition value")
        val partName = if (prefix.isEmpty) seg else s"$prefix/$seg"
        if (depth == partitionCols.size) moveLeaf(d.getPath, partName)
        else walk(d.getPath, partName, depth + 1)
      }
    walk(stage, "", 1)
    f.delete(stage, true)
    (parts.toList, newFiles.toList)
  }

  /** One attempt of [[publishRetrying]]'s loop: end without publishing, or
    * publish. A conflict is neither — the attempt throws it.
    */
  private sealed trait Attempt[+R]

  /** End without publishing: fenced (the head already carries the batch)
    * or nothing left to do.
    */
  private final case class Done[R](result: R) extends Attempt[R]

  /** Publish `lines` under a header of these fields at the next version
    * slot; `onWin` maps the version won to the verb's result.
    */
  private final case class Publish[R](
      op: String, batch: Long, statsCols: Seq[(String, String)],
      schemaB64: Option[String], lines: Seq[FileLine], onWin: Long => R,
      opKey: Seq[String] = Nil) extends Attempt[R]

  /** THE publish loop — the optimistic-concurrency commit (the
    * Delta/Iceberg loop) behind every write verb. `beforePublish` fires
    * once; then `attempt` derives the manifest from the snapshot it is
    * handed — `start` (the head the verb planned against) first, the
    * winning head after a lost race — and ends early ([[Done]]), refuses
    * (`ConcurrentModificationException`: the winner changed what the verb
    * depends on; its staged files are unreferenced and fall to [[vacuum]])
    * or asks to [[Publish]] at head + 1. A publish that loses the version
    * slot re-reads the head and retries: the verb's staged data files are
    * already live under never-colliding names, so only the manifest
    * derivation re-runs. Each verb's conflict rule lives in its attempt;
    * this is the one place the commit protocol steps run in order.
    */
  private def publishRetrying[R](
      spark: SparkSession, root: String, start: Snapshot,
      beforePublish: () => Unit)(attempt: Snapshot => Attempt[R]): R = {
    @scala.annotation.tailrec
    def loop(s: Snapshot): R = attempt(s) match {
      case Done(r) => r
      case Publish(op, batch, statsCols, schemaB64, lines, onWin, opKey) =>
        val next = s.version + 1
        if (publishManifest(spark, root,
          Header(next, batch, Some(op), opKey, statsCols = statsCols,
            schemaB64 = schemaB64), lines)) onWin(next)
        else loop(head(spark, root))
    }
    beforePublish()
    loop(start)
  }

  /** Raw-read GUARD: a non-underscore, non-parquet file in the table
    * root, planted on every publish win. A user's obvious-but-wrong
    * `spark.read.parquet(root)` then fails partition discovery LOUDLY
    * (mixed root-level file + partition dirs) instead of silently
    * returning superseded/uncommitted files and rows a pending deferred
    * delete already masked. The engine's own reads address explicit
    * manifest file lists (or glob-filter `*.parquet`) and never see it;
    * the supported entry points are [[read]]/[[readVersion]]/
    * [[readPruned]] and `spark.read.format("graft-manifest")`.
    */
  val SentinelFile = "GRAFT-MANIFEST-TABLE"

  private def ensureSentinel(f: FileSystem, root: String): Unit = {
    val s = new Path(root, SentinelFile)
    if (!f.exists(s)) {
      val out = f.create(s, true)
      try out.write(
        ("this directory is a graft-manifest table: read it with\n" +
          "  spark.read.format(\"graft-manifest\").load(<root>)\n" +
          "or graft.core.ManifestTable.read — a raw parquet read of the\n" +
          "root would see superseded/uncommitted files and bypass pending\n" +
          "deletion masks (this file exists to make that read fail).\n")
          .getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Atomic no-overwrite publish of `body` into `dir/fileName` — the
    * arbiter the manifest publish always used, extracted (round 20) so
    * the CATALOG-LEVEL transaction pointer ([[Transactions]]) rides the
    * exact same commit primitive. Returns true iff THIS call created the
    * slot. On `file:` schemes the arbiter is POSIX link(2) (atomic
    * no-overwrite — RawLocal's Rename.NONE is check-then-rename and
    * would lose a commit under true concurrency); elsewhere it is
    * [[org.apache.hadoop.fs.FileContext]] with default `Rename.NONE`
    * semantics: atomic rename-if-absent on HDFS — the slot where an
    * object-store deployment plugs its conditional put.
    */
  private[graft] def publishSlot(
      spark: SparkSession, dir: Path, fileName: String,
      body: String): Boolean = {
    val f = fs(spark, dir)
    f.mkdirs(dir)
    val target = new Path(dir, fileName)
    if (f.exists(target)) return false // fast loser path: no tmp written
    val tmp = new Path(dir,
      s".$fileName-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    // the FileContext arbiter: atomic rename-if-absent on HDFS
    def renameArbiter(): Boolean = {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        f.getUri, spark.sparkContext.hadoopConfiguration)
      try {
        fc.rename(f.makeQualified(tmp), f.makeQualified(target))
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
          f.delete(tmp, false); false
        case e: java.io.IOException if f.exists(target) =>
          // some AbstractFileSystems surface the occupied slot as a
          // generic IOException — existence of the target is the
          // authoritative signal
          f.delete(tmp, false); false
      }
    }
    if (Option(f.getUri.getScheme).forall(_ == "file")) {
      // local FS: FileContext's rename is check-then-rename (RawLocal
      // implements Rename.NONE non-atomically), so two truly concurrent
      // writers could both observe the slot free and one published
      // manifest would be silently overwritten — a lost commit. POSIX
      // link(2) IS atomic no-overwrite: hard-link the tmp into the slot
      // (EEXIST ⇒ loser), then drop the tmp name — the same arbiter
      // contract HDFS gives the FileContext path.
      val tgt = java.nio.file.Paths.get(f.makeQualified(target).toUri)
      val src = java.nio.file.Paths.get(f.makeQualified(tmp).toUri)
      try {
        java.nio.file.Files.createLink(tgt, src)
        f.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false); false
        case _: java.nio.file.FileSystemException if f.exists(target) =>
          // the slot is occupied however the FS spelled it: a loss
          f.delete(tmp, false); false
        case _: UnsupportedOperationException |
             _: java.nio.file.FileSystemException =>
          // a file:-mounted FS without hard links (FAT/exFAT media,
          // some FUSE/bind mounts): fall back to the rename arbiter —
          // its narrower atomicity beats refusing every commit
          renameArbiter()
      }
    } else renameArbiter()
  }

  /** Publish `header`'s version with `lines`: attempt-private tmp write +
    * ONE no-overwrite rename ([[publishSlot]]) — the atomic commit point
    * AND the optimistic-concurrency arbiter. Returns true iff THIS call
    * created `v<version>.json`; false iff another writer already owns the
    * slot (the loser re-reads the winning state and retries at the next
    * slot — see [[publishRetrying]]). Stamps the header's publish time
    * (`ts`, now unless the header carries one) and operation metrics.
    */
  private def publishManifest(
      spark: SparkSession, root: String, header: Header,
      lines: Seq[FileLine]): Boolean = {
    val f = fs(spark, new Path(root))
    // MONOTONIC publish stamps (round 19, ADVICE r18): ts clamps to
    // max(wallclock, previous version's ts + 1) so TIMESTAMP AS OF and
    // the feed's timestamp windows stay skew-proof — a writer with a
    // backdated clock still publishes a stamp that sorts after every
    // earlier version (one extra single-line header read per publish;
    // a vacuumed/pre-metadata predecessor clamps against nothing).
    val prevTs: Option[Long] =
      if (header.version > 0)
        scala.util.Try(Header.parse(readHeaderLine(spark, root,
          header.version - 1))).toOption.flatMap(_.ts)
      else None
    val ts = header.ts.getOrElse(System.currentTimeMillis())
    // OPERATION METRICS ride the header for free (round 18 — Delta's
    // operationMetrics slot): the live file count is the line count, and
    // when every line carries `%#` meta the live ROW count sums from
    // them — both known at publish time, zero extra IO. Stamped here so
    // every publisher records them without threading parameters.
    val metas = lines.map(_.meta)
    val stamped = header.copy(
      ts = Some(prevTs.fold(ts)(p => math.max(ts, p + 1L))),
      nf = Some(lines.size),
      nr = if (metas.nonEmpty && metas.forall(_.isDefined))
        Some(metas.flatten.map(_._2).sum) else None)
    val body = (stamped.render +: lines.map(_.raw).sorted).mkString("\n")
    val won = publishSlot(spark, manifestDir(root),
      s"v${header.version}.json", body)
    // the sentinel is best-effort bookkeeping and must NEVER influence
    // the win/lose verdict: planting it inside the arbiter's try turned
    // a transient post-publish IOException into a reported LOSS, and an
    // unfenced caller would then re-publish its lines on top of its own
    // committed version — duplicated rows (review finding, round 15)
    if (won) {
      try ensureSentinel(f, root)
      catch { case _: java.io.IOException => () }
    }
    won
  }

  final case class OptimizeStats(
      partition: String, inputFiles: Int, outputFiles: Int)

  /** OPTIMIZE the manifest table itself — the Delta/Iceberg small-file
    * compaction move, manifest-native: a streamed ingest commits one file
    * per partition per micro-batch, so after 10⁴ batches a scan opens 10⁴
    * files. This rewrites every partition holding more than one live file
    * into ~`targetBytes` files and publishes the result as a NEW manifest
    * version in one atomic rename:
    *
    *  - readers are snapshot-isolated throughout (old files are immutable
    *    and the old manifest stays; time travel to pre-optimize versions
    *    keeps working until [[vacuum]] retires them);
    *  - zone maps REGENERATE from the new files' footers, so pruning
    *    keeps working across the rewrite (spec-pinned);
    *  - the ingest fence is PRESERVED: the new manifest carries the same
    *    batch id as the current version — compaction is not an ingest,
    *    and a redelivered ingest batch must still no-op after it.
    *
    * MULTI-WRITER safe like [[commit]]: compaction owns only the exact
    * input LINES it read, so a concurrent commit that lands NEW partitions
    * (the lineage-append ingest shape) or replaces partitions the fold
    * didn't touch composes — the retry carries the winner's lines next to
    * the compacted output. A writer that REMOVED one of the input lines (a
    * partition replacement, a delete, another optimize) invalidates the
    * rewrite: `ConcurrentModificationException`, staged output falls to
    * [[vacuum]].
    */
  def optimize(
      spark: SparkSession,
      root: String,
      targetBytes: Long = Compaction.DefaultTargetBytes,
      beforePublish: () => Unit = NoHook,
      scope: Option[String] = None): Seq[OptimizeStats] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    val st = head(spark, root)
    require(st.version >= 0, s"no committed version under $root")
    val statsCols = st.statsCols
    // SCOPED compaction (round 18 — the Delta `OPTIMIZE t WHERE ...`
    // slot): `scope` names a partition directory PREFIX ("d=2024-01-01",
    // or a full leaf "d=2024-01-01/source=web") and only its leaves fold
    // — the routine daily job on a 10⁵-leaf table, where an unscoped
    // pass would rewrite everything and its OCC loop would contend with
    // every concurrent writer. A scoped pass is NOT a purge point: it
    // refuses while deferred-delete masks are pending (clearing a mask
    // requires scanning every leaf that could hold masked rows — run the
    // unscoped optimize, which owns the purge).
    // dvState reads ONCE (ADVICE r18, medium): the value the scope guard
    // checks IS the value the pass later purges and clears — a second
    // read would let a deleteRowsDeferred landing between the two reads
    // make a scoped pass clear a mask it never purged outside the scope
    // (a silently resurrected takedown).
    val dv = dvState(spark, root)
    def inScope(leaf: String): Boolean = scope.forall(sc =>
      leaf == sc || leaf.startsWith(sc + "/"))
    scope.foreach { sc =>
      require(dv.isEmpty,
        s"deferred deletes pending under $root — a scoped optimize " +
          "cannot purge (masked rows may live outside the scope); run " +
          "the unscoped optimize (the purge point) first")
      require(st.lines.exists(l => inScope(leafDirOf(l.path))),
        s"optimize scope '$sc' matches no live partition under $root")
    }
    // the compaction unit is the LEAF partition directory (= the whole
    // partition name on single-level layouts; `a=x/b=y` on nested ones —
    // round 18: multi-level tables compact like any other)
    val byPart = st.lines.groupBy(l => leafDirOf(l.path))
      .filter { case (leaf, _) => inScope(leaf) }
    // DEFERRED-DELETE purge (see [[deleteRowsDeferred]]): partitions
    // holding masked rows are FORCED into the rewrite even when
    // single-file, the rewrite applies the mask, and exactly the delete
    // batches seen HERE clear after publish (a takedown recorded
    // mid-optimize survives to the next purge). Detection per masked
    // column is zone-envelope + bloom pruned, like deleteRows'.
    val masks: Seq[(String, DataFrame)] = dv.map { case (c, _) =>
      c -> spark.read.parquet(dvDir(root, c).toString)
        .select("key").distinct().localCheckpoint(true)
    }
    val maskCounts: Map[String, Long] =
      masks.map { case (c, df) => c -> df.count() }.toMap
    val forced: Set[String] = masks.flatMap { case (c, keys0) =>
      val keysDf = keys0.select(col("key").as(c))
      // the SAME detection front end deleteRows/merge use — and the same
      // two disciplines their rewrites carry: the partition column reads
      // as a STRING (type inference would respell '007' as '7' and the
      // forced set would miss the real directory — a silently lost
      // takedown), and default-partition matches refuse loudly (that
      // value does not round-trip through a rewrite)
      val cands = keyCandidateFiles(spark, root, st, keysDf, c)
      if (cands.isEmpty) Nil
      else {
        val dataSchema = recordedOrInferredSchema(spark, root, st).get
        val pcs = partColsOf(cands.head)
        val readSchema = org.apache.spark.sql.types.StructType(
          dataSchema.fields.toSeq ++ pcs.map(pc =>
            org.apache.spark.sql.types.StructField(pc,
              org.apache.spark.sql.types.StringType, nullable = true)))
        val matched = spark.read.schema(readSchema).option("basePath", root)
          .parquet(cands.map(r => s"$root/$r"): _*)
          .join(hintedKeys(spark, keysDf, maskCounts(c)), Seq(c), "left_semi")
          .select(pcs.map(col): _*).distinct()
          .collect()
        matched.toSeq.map { r =>
          require(!pcs.indices.exists(r.isNullAt),
            s"deferred-delete purge under $root matched rows in the " +
              "default partition (__HIVE_DEFAULT_PARTITION__) — its value " +
              "does not round-trip through a rewrite; rewrite that " +
              "partition explicitly")
          leafNameOf(pcs, pcs.indices.map(r.getString))
        }
      }
    }.toSet
    def maskRows(d: DataFrame): DataFrame =
      masks.foldLeft(d) { case (x, (c, keys)) =>
        if (!x.columns.contains(c)) x
        else x.join(hintedKeys(spark, keys, maskCounts(c)),
          x(c) === keys("key"), "left_anti")
      }
    val toCompact =
      byPart.filter { case (p, ls) => ls.size > 1 || forced.contains(p) }
    // lines a concurrent winner landed while this pass ran: their rows
    // were never purge-scanned, so they may keep a mask pending
    val baseLines = st.lines.toSet
    def winnerRisky(s: Snapshot): Boolean = winnerAddedRisky(
      spark, root, s.lines.filterNot(baseLines), s.statsCols, masks)
    if (toCompact.isEmpty) {
      if (dv.isEmpty) return Nil
      // masks are pending but matched no physical row in THIS snapshot —
      // redundant ONLY if no concurrent writer lands masked-key rows
      // before the clear. Clearing straight off the detection snapshot
      // would race an ingest (even on atomic-rename filesystems) and
      // silently lose the takedown, so the no-op purge publishes an empty
      // FENCE version first: once the publish wins, every later commit is
      // a later version (post-takedown by version order), and a winner
      // that slipped in ahead is re-checked — if its added files could
      // hold a masked key the mask simply stays pending for the next
      // purge (never cleared from a superseded snapshot).
      return publishRetrying(spark, root, st, beforePublish) { s =>
        if (winnerRisky(s)) Done(Nil) // the next purge owns the mask
        else Publish("purge", s.batch, s.statsCols, s.header.schemaB64,
          s.lines, _ => { clearDvBatches(spark, root, dv); Nil })
      }
    }
    val next = st.version + 1
    val stage = new Path(rootPath,
      s"_stage-v$next-${java.util.UUID.randomUUID().toString.take(8)}")
    // per compacted partition: the exact input line set this pass owns and
    // the replacement lines it produced — the optimistic-retry merge unit
    val myOutput = scala.collection.mutable.Map[String, Seq[FileLine]]()
    val stats = toCompact.toSeq.sortBy(_._1).map { case (partName, ls) =>
      val rels = ls.map(_.path)
      val bytes = ls.map(fileBytes(f, rootPath, _)).sum
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      // read the live files DIRECTLY (no basePath: data columns only —
      // the partition value lives in the directory name, as commit wrote
      // it), rewrite evenly, stage beside the table
      val leafRows = maskRows((st.schema match {
        // evolved tables null-fill older files' columns
        case Some(sch) => spark.read.schema(sch)
        case None => spark.read
      }).parquet(rels.map(r => s"$root/$r"): _*))
      // RANGE-CLUSTER the rewrite on the primary zone-map column (round
      // 18, the fold's discipline applied to plain compaction): a
      // round-robin repartition smears every output file across the full
      // value range, so the regenerated zone maps cover everything and
      // file skipping DEGRADES at exactly the moment the table gets
      // healthier — with range clustering the compacted files' [min, max]
      // stay near-disjoint and pruning survives the fold (spec-pinned).
      // Single-output leaves and stats-less tables keep the plain path.
      val clusteredLeaf = statsCols.headOption match {
        case Some((c, _)) if nOut > 1 &&
            leafRows.columns.contains(c) =>
          leafRows.repartitionByRange(nOut, col(c))
        case _ => leafRows.repartition(nOut)
      }
      withMicrosTimestamps(clusteredLeaf.sparkSession) {
        clusteredLeaf
          .write.mode("overwrite")
          .parquet(new Path(stage, partName).toString)
      }
      val dest = new Path(rootPath, partName)
      val outLines = scala.collection.mutable.ListBuffer[FileLine]()
      for (df0 <- f.listStatus(new Path(stage, partName))
           if df0.isFile && !df0.getPath.getName.startsWith("_")
             && !df0.getPath.getName.startsWith(".")) {
        // a purge can empty a partition (or a whole output split): a
        // zero-row file earns no manifest line — footer check only when
        // a mask actually ran
        if (masks.nonEmpty && footerRowCount(spark, df0.getPath) == 0L) {
          f.delete(df0.getPath, false)
        } else {
        val name = s"v$next-${df0.getPath.getName}"
        if (!f.rename(df0.getPath, new Path(dest, name)))
          throw new IllegalStateException(
            s"could not stage compacted file ${df0.getPath} -> $dest/$name")
        val rel = s"$partName/$name"
        outLines += dataFileLine(spark, rootPath, rel, statsCols)
        }
      }
      myOutput(partName) = outLines.toList
      OptimizeStats(partName, ls.size, outLines.size)
    }
    f.delete(stage, true)
    val myInput: Map[String, Set[FileLine]] =
      toCompact.map { case (p, ls) => p -> ls.toSet }.toMap
    publishRetrying(spark, root, st, beforePublish) { s =>
      // a compacted partition's new line set = its CURRENT lines minus the
      // exact inputs this pass folded, plus the folded output — lines a
      // concurrent writer landed elsewhere carry; a writer that removed
      // one of our inputs aborts (the output would resurrect rows the
      // other writer deleted or replaced)
      val curByPart = s.lines.groupBy(l => leafDirOf(l.path))
      val gone = myInput.collect { case (p, ins)
        if !ins.subsetOf(curByPart.getOrElse(p, Nil).toSet) => p }
      if (gone.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"optimize under $root lost its publish race to a writer that " +
            s"removed input file(s) of partition(s) ${gone.mkString(", ")} " +
            "— the compacted output would resurrect superseded rows; " +
            "re-run optimize against the current snapshot (staged output " +
            "is unreferenced and vacuum-swept)")
      val merged = s.lines.filterNot(l =>
        myInput.getOrElse(leafDirOf(l.path), Set.empty)
          .contains(l)) ++ myOutput.values.flatten
      // SAME batch id as the winning state: compaction must neither
      // advance nor regress the ingest fence
      Publish("optimize", s.batch, s.statsCols, s.header.schemaB64, merged,
        _ => {
          // purge complete: clear exactly the delete batches this pass
          // saw (a crash before this line leaves a redundant mask — the
          // next read filters rows that no longer exist, the next
          // optimize clears). Clearing is ONLY legal when no concurrent
          // winner carried files that could hold masked keys: such files
          // composed into the published manifest un-purged (the retry
          // only aborts on REMOVED inputs — additions legitimately
          // merge), so the mask must outlive this purge and the next one
          // owns them.
          if (dv.nonEmpty && !winnerRisky(s))
            clearDvBatches(spark, root, dv)
          stats
        })
    }
  }

  /** Drop exactly the given deferred-delete batch directories (the purge
    * epilogue — batches recorded AFTER the purging pass snapshotted its
    * state survive to the next one). ONLY the named batch dirs are
    * deleted — a check-then-delete of the parent would race a concurrent
    * [[deleteRowsDeferred]] landing a new batch between the emptiness
    * check and the recursive delete, wiping a never-purged takedown.
    * Emptied `col=`/`_dv` dirs stay as harmless debris ([[dvState]]
    * ignores batch-less dirs).
    */
  private def clearDvBatches(
      spark: SparkSession, root: String,
      dv: Seq[(String, Seq[Path])]): Unit = {
    val f = fs(spark, dvBase(root))
    dv.foreach { case (_, batches) =>
      batches.foreach(b => f.delete(b, true))
    }
    spark.catalog.refreshByPath(dvBase(root).toString)
  }

  /** Unsigned lexicographic byte comparison — parquet's binary-stats
    * order, so string zone maps compare EXACTLY as the footer ordered
    * them (Java String order differs outside ASCII; comparing the raw
    * UTF-8 bytes sidesteps that divergence entirely).
    */
  private def cmpUnsigned(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  private val byteOrdering: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => cmpUnsigned(a, b)

  /** Manifest-safe encoding of a string-stat value: '%', '|', control and
    * non-ASCII bytes percent-escaped, so a value can never collide with
    * the line delimiter and the manifest stays a line-oriented text file.
    */
  private def encStat(bytes: Array[Byte]): String = {
    val sb = new StringBuilder
    bytes.foreach { x =>
      val u = x & 0xff
      if (u == '%'.toInt || u == '|'.toInt || u < 0x20 || u >= 0x7f)
        sb.append(f"%%$u%02X")
      else sb.append(u.toChar)
    }
    sb.toString
  }

  private def decStat(s: String): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%') {
        out += Integer.parseInt(s.substring(i + 1, i + 3), 16).toByte
        i += 3
      } else { out += s.charAt(i).toByte; i += 1 }
    }
    out.toArray
  }

  /** One data-file manifest line: path, the `%#bytes:rows` file meta
    * (straight from the footer open this call performs anyway), and the
    * registered columns' zone-map stats. The SINGLE line producer — every
    * verb that lands files ([[commit]], [[appendStagedFiles]], the
    * optimize folds) derives its lines here, so the format cannot drift
    * between writers.
    */
  private def dataFileLine(
      spark: SparkSession, rootPath: Path, rel: String,
      cols: Seq[(String, String)]): FileLine = {
    val (len, rows, stats) =
      footerLineInfo(spark, new Path(rootPath, rel), cols)
    val meta = s"|%#$len:$rows"
    FileLine(
      if (stats.forall(_.isEmpty)) rel + meta
      else rel + meta + stats.map {
        case Some((mn, mx)) => s"|$mn|$mx"
        case None => "||"
      }.mkString)
  }

  /** A line's file size: its `%#` meta, or a status probe for pre-meta
    * carried lines.
    */
  private def fileBytes(f: FileSystem, rootPath: Path, l: FileLine): Long =
    l.meta.map(_._1).getOrElse(f.getFileStatus(new Path(rootPath, l.path)).getLen)

  /** Exact per-column (min, max) of the registered zone-map columns from
    * one parquet FOOTER — metadata-only, one footer read for all columns.
    * A column is None when absent, mistyped, or any row group lacks stats
    * (readers must then keep the file conservatively — pruning may only
    * ever drop files PROVEN row-free for the predicate). Long stats encode
    * as decimal; string stats as percent-escaped UTF-8 bytes.
    */
  private def footerStatsAll(
      spark: SparkSession, file: Path,
      cols: Seq[(String, String)]): Seq[Option[(String, String)]] =
    footerLineInfo(spark, file, cols)._3

  /** [[footerStatsAll]] plus the file's byte length and row count — one
    * footer open serves all three (the length rides the `HadoopInputFile`
    * status the open performs anyway).
    */
  private def footerLineInfo(
      spark: SparkSession, file: Path,
      cols: Seq[(String, String)])
      : (Long, Long, Seq[Option[(String, String)]]) = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(file, spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      in, footerReadOptions(spark))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toList
      val rows = blocks.map(_.getRowCount).sum
      val stats = cols.map { case (name, typ) =>
        val perBlock: List[Option[Either[(Long, Long), (Array[Byte], Array[Byte])]]] =
          blocks.map { b =>
            b.getColumns.asScala
              .find(_.getPath.toDotString == name)
              .flatMap { c =>
                (typ, c.getStatistics) match {
                  case ("long", s: org.apache.parquet.column.statistics.LongStatistics)
                      if !s.isEmpty && s.hasNonNullValue =>
                    Some(Left((s.getMin, s.getMax)))
                  case ("long", s: org.apache.parquet.column.statistics.IntStatistics)
                      if !s.isEmpty && s.hasNonNullValue =>
                    Some(Left((s.getMin.toLong, s.getMax.toLong)))
                  case ("string", s: org.apache.parquet.column.statistics.BinaryStatistics)
                      if !s.isEmpty && s.hasNonNullValue =>
                    Some(Right((s.genericGetMin.getBytes, s.genericGetMax.getBytes)))
                  case _ => None
                }
              }
          }
        if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
        else {
          val longs = perBlock.flatten.collect { case Left(x) => x }
          val bins = perBlock.flatten.collect { case Right(x) => x }
          if (longs.nonEmpty)
            Some((longs.map(_._1).min.toString, longs.map(_._2).max.toString))
          else
            Some((encStat(bins.map(_._1).min(byteOrdering)),
              encStat(bins.map(_._2).max(byteOrdering))))
        }
      }
      (in.getLength, rows, stats)
    } finally reader.close()
  }

  /** A zone-map range predicate for [[prunedFilesMulti]] — typed to the
    * registered column (a long predicate on a string column, or vice
    * versa, refuses loudly).
    */
  sealed trait ZonePred { def column: String }
  final case class LongRange(column: String, lo: Long, hi: Long)
      extends ZonePred {
    require(lo <= hi, s"empty predicate interval [$lo, $hi] on $column")
  }
  final case class StringRange(column: String, lo: String, hi: String)
      extends ZonePred {
    require(cmpUnsigned(
      lo.getBytes("UTF-8"), hi.getBytes("UTF-8")) <= 0,
      s"empty predicate interval ['$lo', '$hi'] on $column")
  }

  /** Multi-column zone-map pruning: files whose recorded [min, max]
    * intersects EVERY predicate's interval (mixed predicates take the
    * intersection — a file provably empty for ANY conjunct is provably
    * empty for the conjunction), plus the version's total file count.
    * Per-column refusal semantics: every predicate column must be
    * registered with the matching type. Files (or individual columns)
    * without recorded stats are kept conservatively.
    */
  def prunedFilesMulti(
      spark: SparkSession,
      root: String,
      preds: Seq[ZonePred]): (Seq[String], Int) = {
    val st = head(spark, root)
    (prunedPaths(root, st, preds), st.lines.length)
  }

  /** [[prunedFilesMulti]]'s paths, over an already-read snapshot. */
  private def prunedPaths(
      root: String, st: Snapshot, preds: Seq[ZonePred]): Seq[String] = {
    require(preds.nonEmpty, "need at least one zone-map predicate")
    require(st.version >= 0, s"no committed version under $root")
    val statsCols = st.statsCols
    preds.foreach { pr =>
      val reg = statsCols.find(_._1 == pr.column)
      require(reg.isDefined,
        s"zone maps under $root are for " +
          s"${if (statsCols.isEmpty) "<none>" else statsCols.map(_._1).mkString(",")}, " +
          s"not '${pr.column}' — prune on a registered column or re-commit with it")
      val want = pr match {
        case _: LongRange => "long"
        case _: StringRange => "string"
      }
      require(reg.get._2 == want,
        s"zone-map column '${pr.column}' is ${reg.get._2}-typed; the " +
          s"predicate is $want-typed — match the registered type")
    }
    pruneLines(st.lines, statsCols, preds)
  }

  /** The line-level core of [[prunedFilesMulti]]: paths of the lines whose
    * recorded [min, max] intersects every predicate's interval. A line
    * without usable stats — or a predicate on a column the given
    * registration doesn't carry — keeps the line conservatively; the
    * PUBLIC entry point validates registration loudly, while internal
    * callers (e.g. [[merge]]'s concurrent-overlap check against a winner
    * whose registration may have additively grown) want the conservative
    * read.
    */
  private def pruneLines(
      lines: Seq[FileLine],
      statsCols: Seq[(String, String)],
      preds: Seq[ZonePred]): Seq[String] = {
    val idx = statsCols.map(_._1).zipWithIndex.toMap
    lines.filter { l =>
      l.stats.isEmpty || preds.forall { pr =>
        idx.get(pr.column) match {
          case None => true // unregistered here: conservative keep
          case Some(i) =>
            val (mnS, mxS) = l.bounds(i)
            if (mnS.isEmpty || mxS.isEmpty) true // no stats: conservative keep
            else pr match {
              case LongRange(_, lo, hi) => mxS.toLong >= lo && mnS.toLong <= hi
              case StringRange(_, lo, hi) =>
                cmpUnsigned(decStat(mxS), lo.getBytes("UTF-8")) >= 0 &&
                  cmpUnsigned(decStat(mnS), hi.getBytes("UTF-8")) <= 0
            }
        }
      }
    }.map(_.path)
  }

  /** Read the latest version restricted to files that can contain rows
    * matching ALL the zone predicates — a SUPERSET of the matching rows
    * (the PushedFilters contract: callers still apply the row filter).
    * One head read serves both the pruning and the read, which takes the
    * head's recorded schema: the columns are [[read]]'s, not those of
    * whichever pruned file comes first, and no schema inference job runs.
    */
  def readPrunedMulti(
      spark: SparkSession,
      root: String,
      preds: Seq[ZonePred]): DataFrame = {
    val st = head(spark, root)
    val files = prunedPaths(root, st, preds)
    // no candidate file: the head's frame, emptied
    if (files.isEmpty)
      applyDvMask(spark, root, readSnapshotFiles(spark, root, st, st.paths)).limit(0)
    else applyDvMask(spark, root, readSnapshotFiles(spark, root, st, files))
  }

  /** ZONE-MAP file pruning (U6 — the manifest-resident data-skipping move
    * of every log-structured table format): the relative paths of the
    * latest version's files whose recorded [min, max] for the registered
    * `statsCol` INTERSECTS [lo, hi], plus the version's total file count.
    * Files without recorded stats are kept (conservative); a column other
    * than the registered one refuses loudly rather than pruning on
    * meaningless bounds. At 100 TB this is the difference between
    * planning a scan from one small manifest read and listing/opening
    * every file: the manifest already knows which files can matter.
    */
  def prunedFiles(
      spark: SparkSession,
      root: String,
      column: String,
      lo: Long,
      hi: Long): (Seq[String], Int) =
    prunedFilesMulti(spark, root, Seq(LongRange(column, lo, hi)))

  /** Read the latest version restricted to files that can contain rows
    * with `column` in [lo, hi] — a SUPERSET of the matching rows (the
    * PushedFilters contract: the caller still applies the row filter; the
    * zone maps only bound which FILES are opened).
    */
  def readPruned(
      spark: SparkSession,
      root: String,
      column: String,
      lo: Long,
      hi: Long): DataFrame =
    readPrunedMulti(spark, root, Seq(LongRange(column, lo, hi)))

  /** Cross-partition OPTIMIZE for LINEAGE-partitioned append tables (the
    * st18 shape: one `part=b<id>` partition per micro-batch forever —
    * [[optimize]] cannot help because each partition holds one file; the
    * growth is partition COUNT). Rewrites ALL live files into ONE
    * partition `<col>=<newValue>`, range-clustered on the table's primary
    * zone-map column so per-file (min, max) stay near-disjoint and file
    * skipping SURVIVES the rewrite (a round-robin rewrite would smear
    * every file across the full value range and kill pruning — the
    * clustering is the point, the OPTIMIZE-ZORDER-lite move).
    *
    * ONLY for tables whose partition column is pure lineage (the caller
    * asserts it by invoking — the partition VALUE of every row changes to
    * `newValue`). Fence, snapshot isolation and time travel behave as in
    * [[optimize]]; idempotent under a fixed `newValue` (version-prefixed
    * file names never collide). Returns None when the table already has
    * ≤ 1 partition. Like [[optimize]], the fold is a PURGE point for
    * [[deleteRowsDeferred]] masks — it consumes every live file anyway,
    * so the rewrite drops masked rows physically and clears exactly the
    * delete batches it snapshotted.
    */
  def optimizeRewritePartitions(
      spark: SparkSession,
      root: String,
      newValue: String,
      targetBytes: Long = Compaction.DefaultTargetBytes,
      beforePublish: () => Unit = NoHook,
      zOrderCols: Option[(String, String)] = None): Option[OptimizeStats] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    val st = head(spark, root)
    require(st.version >= 0, s"no committed version under $root")
    val (lines, statsCols) = (st.lines, st.statsCols)
    // Z-ORDER fold (round 15, closing the r14 "secondary pruning decays"
    // finding): the default rewrite range-clusters on the PRIMARY
    // zone-map column only, so after a fold every file spans the full
    // secondary range and ST18b-style non-primary pruning degrades to
    // ~all files. With `zOrderCols = Some((x, y))` the rewrite clusters
    // on the MORTON interleave of the two columns instead ([[ZOrder]]
    // reused): every output file covers a RECTANGLE of the 2-d space, so
    // predicates on EITHER column keep skipping files after the fold
    // (spec-pinned). Both columns must be registered LONG zone-map
    // columns; values bucket to 16 bits each by integer width division
    // (order-preserving), null dims sort first.
    zOrderCols.foreach { case (xc, yc) =>
      require(xc != yc, "zOrder fold needs two distinct columns")
      Seq(xc, yc).foreach { c =>
        require(statsCols.exists(p => p._1 == c && p._2 == "long"),
          s"zOrder fold requires '$c' to be a registered long zone-map " +
            s"column (registered: ${
              if (statsCols.isEmpty) "<none>"
              else statsCols.map(x => x._1 + ":" + x._2).mkString(",")})")
      }
    }
    // the fold collapses the FIRST (lineage) level; deeper levels of a
    // multi-level layout are PRESERVED (round 18): rows from
    // `part=b1/source=s/…` and `part=b2/source=s/…` fold into
    // `part=<newValue>/source=s/…` — the lineage axis disappears, the
    // semantic axes survive with their pruning
    val rels = st.paths
    val parts = rels.map(_.takeWhile(_ != '/')).distinct
    if (parts.size <= 1) return None
    val partitionCol = parts.head.takeWhile(_ != '=')
    val newPartName = s"$partitionCol=${escapedPartValue(newValue)}"
    val pcsAll = partColsOf(rels.head)
    val restCols = pcsAll.drop(1)
    val bytes = lines.map(fileBytes(f, rootPath, _)).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val next = st.version + 1
    val stage = new Path(rootPath,
      s"_stage-v$next-${java.util.UUID.randomUUID().toString.take(8)}")
    // the fold consumes EVERY live file, so it is a natural TOTAL purge
    // point for deferred deletes (see [[deleteRowsDeferred]]): the
    // rewrite applies the mask and the batches snapshotted here clear
    // after publish — same crash contract as [[optimize]]'s purge
    val dv = dvState(spark, root)
    val df = applyDvMask(spark, root,
      if (restCols.isEmpty)
        (st.schema match { // evolved tables null-fill older files
          case Some(sch) => spark.read.schema(sch)
          case None => spark.read
        }).parquet(rels.map(r => s"$root/$r"): _*)
      else {
        // nested layout: recover the preserved levels as STRING directory
        // values (the deleteRows round-trip discipline) and drop the
        // folded lineage level
        val base = recordedOrInferredSchema(spark, root, st).get
        val readSchema = org.apache.spark.sql.types.StructType(
          base.fields.toSeq ++ pcsAll.map(pc =>
            org.apache.spark.sql.types.StructField(pc,
              org.apache.spark.sql.types.StringType, nullable = true)))
        spark.read.schema(readSchema).option("basePath", root)
          .parquet(rels.map(r => s"$root/$r"): _*)
          .drop(pcsAll.head)
      })
    // global [min, max] of a zOrder column — free from the manifest's own
    // zone maps when every line carries them; one column-pruned aggregate
    // otherwise (a fold rewrites everything anyway)
    def colBounds(c: String): (Long, Long) = {
      val i = statsCols.map(_._1).indexOf(c)
      val vals = lines.map(_.bounds(i))
      if (vals.nonEmpty && vals.forall(x => x._1.nonEmpty && x._2.nonEmpty))
        (vals.map(_._1.toLong).min, vals.map(_._2.toLong).max)
      else {
        val r = df.agg(min(col(c)).cast("long"), max(col(c)).cast("long")).head
        require(!r.isNullAt(0),
          s"zOrder column '$c' holds no non-null value — cannot cluster")
        (r.getLong(0), r.getLong(1))
      }
    }
    val clustered = (zOrderCols, statsCols.headOption) match {
      case (Some((xc, yc)), _) =>
        val bits = 16
        val lim = 1L << bits
        def width(mn: Long, mx: Long): Long =
          ((BigInt(mx) - BigInt(mn) + lim) / lim).max(1).toLong
        val (xmn, xmx) = colBounds(xc)
        val (ymn, ymx) = colBounds(yc)
        val (wx, wy) = (width(xmn, xmx), width(ymn, ymx))
        val withZ = df
          .withColumn("__graft_zx", expr(s"(`$xc` - ${xmn}L) div ${wx}L"))
          .withColumn("__graft_zy", expr(s"(`$yc` - ${ymn}L) div ${wy}L"))
          .withColumn("__graft_z",
            when(col("__graft_zx").isNotNull && col("__graft_zy").isNotNull,
              ZOrder.zValue("__graft_zx", "__graft_zy", bits)))
        withZ.repartitionByRange(nOut, col("__graft_z"))
          .sortWithinPartitions(col("__graft_z"))
          .drop("__graft_zx", "__graft_zy", "__graft_z")
      case (None, Some((c, _))) => df.repartitionByRange(nOut,
        org.apache.spark.sql.functions.col(c))
      case (None, None) => df.repartition(nOut)
    }
    val writer = clustered.write.mode("overwrite")
    withMicrosTimestamps(clustered.sparkSession) {
      (if (restCols.isEmpty) writer else writer.partitionBy(restCols: _*))
        .parquet(new Path(stage, newPartName).toString)
    }
    val newLines = scala.collection.mutable.ListBuffer[FileLine]()
    def moveOut(dir: Path, prefix: String, depth: Int): Unit =
      if (depth == restCols.size) {
        val dest = new Path(rootPath, prefix)
        f.mkdirs(dest)
        for (df0 <- f.listStatus(dir)
             if df0.isFile && !df0.getPath.getName.startsWith("_")
               && !df0.getPath.getName.startsWith(".")) {
          if (dv.nonEmpty && footerRowCount(spark, df0.getPath) == 0L) {
            // a purge can empty an output split: no manifest line for it
            f.delete(df0.getPath, false)
          } else {
            val name = s"v$next-${df0.getPath.getName}"
            if (!f.rename(df0.getPath, new Path(dest, name)))
              throw new IllegalStateException(
                s"could not stage compacted file ${df0.getPath} -> " +
                  s"$dest/$name")
            newLines += dataFileLine(spark, rootPath, s"$prefix/$name",
              statsCols)
          }
        }
      } else
        for (d <- f.listStatus(dir)
             if d.isDirectory && d.getPath.getName.contains("=")) {
          require(!d.getPath.getName.contains('|'),
            s"partition value '${d.getPath.getName}' contains '|' (the " +
              "manifest stats delimiter)")
          moveOut(d.getPath, s"$prefix/${d.getPath.getName}", depth + 1)
        }
    moveOut(new Path(stage, newPartName), newPartName, 0)
    f.delete(stage, true)
    // whole-table rewrite: every live line is an input, so ANY concurrent
    // change (append, delete, another fold) invalidates it — unlike
    // [[optimize]] there is no disjoint slice to merge around
    val baseLines = lines.toSet
    publishRetrying(spark, root, st, beforePublish) { s =>
      if (s.lines.toSet != baseLines)
        throw new java.util.ConcurrentModificationException(
          s"optimizeRewritePartitions under $root lost its publish race " +
            "to a writer that changed the table — the fold consumed every " +
            "live file, so it must re-run against the current snapshot " +
            "(staged output is unreferenced and vacuum-swept)")
      // SAME batch id as the winning state: the fold must neither advance
      // nor regress the ingest fence
      Publish("rewrite-partitions", s.batch, statsCols, s.header.schemaB64,
        newLines.toList, _ => {
          if (dv.nonEmpty) clearDvBatches(spark, root, dv)
          Some(OptimizeStats(newPartName, rels.size, newLines.size))
        })
    }
  }

  /** RESTORE the table to an earlier committed version (the Delta RESTORE
    * move, manifest-native) — the UNDO for a bad ingest, delete or fold:
    * publishes a NEW version whose file list is exactly `toVersion`'s.
    * Contrast [[restoreVersion]] (round 20, the TRANSACTIONAL-rollback
    * primitive): that one restores the ENTIRE state verbatim — fence
    * included — because a rolled-back transaction's batch must RE-APPLY
    * on retry; this user-facing undo keeps the CURRENT fence because a
    * redelivered pre-restore batch must still no-op.
    * History stays linear — the versions being undone remain
    * time-travelable until [[vacuum]] retires them, and the restored
    * files become referenced by the new CURRENT manifest, so a
    * subsequent vacuum keeps them (live = union of retained versions).
    *
    *  - Manifest-only: data files are immutable and shared across
    *    manifests, so restore costs one manifest read + one publish —
    *    zero data IO at any table size.
    *  - The ingest FENCE is PRESERVED: the new manifest carries the
    *    CURRENT fence, not `toVersion`'s — a restore is not an ingest,
    *    and a redelivered batch from before the restore must still no-op
    *    after it (replaying it would double-apply what the restore
    *    deliberately reinstated).
    *  - Schema: the CURRENT recorded schema carries (additive evolution
    *    means it is a superset of `toVersion`'s — restored files
    *    null-fill columns added since, exactly as any old file does).
    *    Same for the zone-map registration: old lines' shorter stats
    *    suffixes pad conservatively under the current column list.
    *  - `toVersion` must still be inside vacuum retention (its manifest
    *    must exist); restoring to the current version is a no-op.
    *
    * MULTI-WRITER safe like [[commit]]; whole-table semantics like
    * [[optimizeRewritePartitions]] — the restore declares the ENTIRE
    * state, so any concurrent change aborts loudly rather than being
    * silently undone by the retry.
    */
  def restore(
      spark: SparkSession,
      root: String,
      toVersion: Long,
      beforePublish: () => Unit = NoHook): Long = {
    val cur0 = head(spark, root)
    val v = cur0.version
    require(v >= 0, s"no committed version under $root")
    if (toVersion == v) return v
    require(toVersion >= 0 && toVersion < v,
      s"restore($toVersion): target must be an earlier committed version " +
        s"(current is $v)")
    val target = readSnapshot(spark, root, toVersion) // throws if vacuumed
    val baseLines = cur0.lines.toSet
    publishRetrying(spark, root, cur0, beforePublish) { s =>
      if (s.lines.toSet != baseLines)
        throw new java.util.ConcurrentModificationException(
          s"restore under $root lost its publish race to a writer that " +
            "changed the table — a restore declares the entire state, so " +
            "retrying would silently undo the concurrent write; re-issue " +
            "the restore against the current snapshot")
      // CURRENT fence + schema + stats registration; toVersion's LINES
      Publish("restore", s.batch, s.statsCols, s.header.schemaB64,
        target.lines, v => v)
    }
  }

  /** METADATA-ONLY partition drop — the retention fast path for
    * partition-aligned deletes (TTL on lineage or date partitions —
    * routine at 100 TB, where expiring a day must never rewrite the
    * surviving years): publishes a new version WITHOUT the named
    * partitions' lines. ZERO data IO at any size — one manifest read +
    * one publish; the bytes leave disk at [[vacuum]] once no retained
    * version references them, and every retained pre-drop version still
    * time-travels until then. This is to [[deleteRows]] what directory
    * TTL is to a row filter: when the delete predicate IS the partition
    * value, the row-rewrite machinery is pure waste.
    *
    * `values` are RAW partition values, rendered through the same Hive
    * escaping as everywhere else. The ingest FENCE is preserved (a drop
    * is not an ingest). Returns the number of manifest lines dropped, or
    * None when no named partition has any line (nothing to do — no empty
    * version is published).
    *
    * MULTI-WRITER safe like [[commit]]: a concurrent writer that touched
    * one of the DROPPED partitions aborts the drop loudly (it replaced
    * content this drop never saw — silently deleting it would be a lost
    * update); writers on other partitions compose through the retry.
    */
  def dropPartitions(
      spark: SparkSession,
      root: String,
      values: Seq[String],
      beforePublish: () => Unit = NoHook): Option[Long] = {
    require(values.nonEmpty, "dropPartitions needs at least one value")
    val st = head(spark, root)
    require(st.version >= 0, s"no committed version under $root")
    // on multi-level layouts the drop unit is the FIRST level — the TTL
    // axis (`d=2024-01-01/**` goes in one metadata publish; round 18):
    // the prefix match below covers every nested line under it
    val partitionCol = st.lines.headOption
      .map(_.path.takeWhile(_ != '='))
      .getOrElse(return None)
    val dropNames = values.map(x => s"$partitionCol=${escapedPartValue(x)}")
    def dropping(l: FileLine) = dropNames.exists(l.under)
    val dropped = st.lines.count(dropping).toLong
    if (dropped == 0L) return None
    publishRetrying(spark, root, st, beforePublish) { s =>
      val conflicted = changedPartitions(st, s, dropNames)
      if (conflicted.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"dropPartitions under $root lost its publish race to a writer " +
            s"that modified dropped partition(s) ${conflicted.mkString(", ")} " +
            "— dropping them now would silently delete content this call " +
            "never saw; re-issue against the current snapshot")
      // SAME batch id as the winning state: a drop is not an ingest
      Publish("drop-partitions", s.batch, s.statsCols, s.header.schemaB64,
        s.lines.filterNot(dropping), _ => Some(dropped))
    }
  }

  /** Key-count ceiling under which a verb's key set is broadcast into
    * its detection/rewrite joins. Above it the hint is dropped and the
    * join SHUFFLES (the d2/d2b discipline applied to the table verbs):
    * a backfill-sized merge or delete must not OOM the driver on a
    * broadcast the "delta-sized by contract" assumption no longer
    * covers. Runtime-tunable; specs force the shuffle twin with 0.
    */
  private def keyBroadcastLimit(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.manifest.keyBroadcastLimit")
      .map(_.toLong).getOrElse(500000L)

  /** Key-count ceiling under which the bloom probe inlines the hashed
    * keys as a plan literal (cheap, zero joins). Above it the probe
    * becomes a JOIN against the sidecar — keys stay a DataFrame end to
    * end, nothing materializes on the driver.
    */
  private def bloomLiteralLimit(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.manifest.bloomLiteralLimit")
      .map(_.toLong).getOrElse(1000L)

  /** The key side of a detection/rewrite join: broadcast under the
    * delta-size contract, shuffle above it (value-identical — the spec
    * runs both twins through one oracle).
    */
  private def hintedKeys(
      spark: SparkSession, ks: DataFrame, nKeys: Long): DataFrame =
    if (nKeys <= keyBroadcastLimit(spark)) broadcast(ks) else ks

  private def bloomDir(root: String, keyCol: String) =
    new Path(root, s"_bloom/col=${escapedPartValue(keyCol)}")

  /** One ParquetReadOptions per Hadoop Configuration (identity-keyed —
    * the session conf is a stable object), shared by every footer open
    * (round 18 — found by the sf1 anchor: the no-options
    * `ParquetFileReader.open(in)` constructs a FRESH `Configuration`
    * per call, and each one lazily re-parses the Hadoop XML resources;
    * on a 50k-file commit that is 50k XML parses of pure driver time).
    */
  // SINGLE-SLOT, identity-keyed (ADVICE r19: the WeakHashMap variant
  // was ineffective — HadoopReadOptions retains the Configuration it was
  // built from, so the map value strongly referenced its key and entries
  // never collected). One slot bounds retention to at most ONE retired
  // Configuration (replaced the moment a different conf shows up). One
  // slot cannot thrash here: the key is sparkContext.hadoopConfiguration
  // — ONE object per SparkContext, shared by every SparkSession of the
  // JVM's single context — and a rebuild on the rare miss (a new
  // context) only re-reads ~a dozen conf keys.
  // Known tradeoff (documented, same as before): later MUTATIONS of a
  // live session conf don't invalidate its cached options.
  private val footerOptionsSlot = new java.util.concurrent.atomic.AtomicReference[
    (org.apache.hadoop.conf.Configuration,
      org.apache.parquet.ParquetReadOptions)]()

  private[graft] def footerReadOptions(
      spark: SparkSession): org.apache.parquet.ParquetReadOptions = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cached = footerOptionsSlot.get()
    if (cached != null && (cached._1 eq conf)) cached._2
    else {
      val opts = org.apache.parquet.HadoopReadOptions.builder(conf).build()
      footerOptionsSlot.set((conf, opts))
      opts
    }
  }

  private def openFooter(
      spark: SparkSession,
      file: Path): org.apache.parquet.hadoop.ParquetFileReader =
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        file, spark.sparkContext.hadoopConfiguration),
      footerReadOptions(spark))

  /** Total row count of one parquet file, straight from the FOOTER —
    * metadata-only (the a22/a25 footer discipline), no data scan.
    */
  private def footerRowCount(spark: SparkSession, file: Path): Long = {
    import scala.jdk.CollectionConverters._
    val reader = openFooter(spark, file)
    try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally reader.close()
  }

  final case class BloomIndexStats(
      filesIndexed: Int, filesCarried: Int, staleDropped: Int)

  /** Per-file BLOOM-FILTER index for a bigint key column — the POINT-SET
    * counterpart of the U6 zone maps (the Delta bloom-filter-index /
    * Iceberg puffin slot). Zone maps prune RANGE predicates; a takedown
    * or merge key list is the opposite shape — keys SCATTERED across the
    * key space, whose [min, max] envelope covers nearly every file while
    * each key actually lives in very few. At 100 TB that is the
    * difference between a detection scan opening the whole table and
    * opening a handful of files.
    *
    * Layout: a parquet sidecar under `_bloom/col=<key>/` with one row
    * (file, bloom) per indexed data file; the filter is the engine's own
    * [[graft.functions.BloomAggregate]] wire format (self-describing
    * header, so builds with different sizings coexist). Blooms are too
    * big for manifest lines (~`bitsPerKey`/8 bytes per ROW of data —
    * megabytes per large file), hence the sidecar.
    *
    * INCREMENTAL: only live files without a sidecar row are scanned
    * (one column-pruned pass over exactly those files, map-side bloom
    * aggregation, one tiny shuffle of partial filters) — cost tracks the
    * ingest delta, never the table. Rows for files no current-snapshot
    * line references are dropped on the same call (sidecar debris stays
    * bounded by the live file count). The index is ADVISORY and
    * rebuildable: a file without a row is kept conservatively by every
    * probe, so a crashed build (the swap is delete-then-rename, not
    * atomic) costs pruning power, never correctness; concurrent builds
    * at worst duplicate rows (deterministic content — probes first() per
    * file).
    *
    * Sizing: `bitsPerKey` bits per row of the LARGEST un-indexed file
    * (~10 bits/key at numHashes=7 ≈ 1% false positives; an FP means one
    * needlessly opened file). Integer/long keys index directly; STRING
    * keys (URLs, content hashes — the usual takedown-list currency)
    * through xxhash64 on both the build scan and the probe, identical by
    * construction; other types refuse loudly.
    */
  def buildBloomIndex(
      spark: SparkSession,
      root: String,
      keyCol: String,
      bitsPerKey: Int = 10,
      numHashes: Int = 7): BloomIndexStats = {
    require(bitsPerKey >= 1 && bitsPerKey <= 64,
      s"bitsPerKey must be in [1, 64], got $bitsPerKey")
    require(numHashes >= 1 && numHashes <= 16,
      s"numHashes must be in [1, 16], got $numHashes")
    val rootPath = new Path(root)
    val st = head(spark, root)
    require(st.version >= 0, s"no committed version under $root")
    val live = st.paths
    val kf = recordedOrInferredSchema(spark, root, st)
      .flatMap(_.fields.find(_.name == keyCol)).getOrElse(
        throw new IllegalArgumentException(
          s"bloom index column '$keyCol' absent from the table schema " +
            s"under $root"))
    // integer keys go in directly; string keys through xxhash64 (both
    // sides of the probe hash identically, so membership stays sound —
    // a hash collision is just one more way to get a false positive)
    val keyExpr = kf.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType =>
        col(keyCol).cast("long")
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.sql.functions.xxhash64(col(keyCol))
      case other => throw new IllegalArgumentException(
        s"bloom index requires an integer or string key column; " +
          s"'$keyCol' is ${other.simpleString}")
    }
    val dir = bloomDir(root, keyCol)
    val f = fs(spark, dir)
    val existing: Option[DataFrame] =
      if (f.exists(dir)) Some(spark.read.parquet(dir.toString)) else None
    val indexed: Set[String] = existing.map(_.select("file").distinct()
      .collect().map(_.getString(0)).toSet).getOrElse(Set.empty)
    val liveSet = live.toSet
    val missing = live.filterNot(indexed)
    val stale = indexed.diff(liveSet)
    if (missing.isEmpty && stale.isEmpty)
      return BloomIndexStats(0, indexed.size, 0)
    val fresh: Option[DataFrame] = if (missing.isEmpty) None else {
      graft.functions.GraftFunctions.register(spark)
      // PER-FILE sizing (round 15; r14 sized every filter in a build by
      // the LARGEST file's row count — 2x+ sidecar bloat on mixed
      // layouts): each file's numBits comes from ITS OWN footer row
      // count, rounded up to a power of two so files group into a
      // log-bounded number of sizing TIERS — one aggregate pass per tier
      // (the aggregate's width is plan-time), the scan set still exactly
      // the missing files, and the self-describing wire format lets the
      // mixed sizings coexist in one sidecar (every probe reads the
      // row's own header).
      def bitsFor(rows: Long): Int = {
        val want = math.max(64L, bitsPerKey.toLong * math.max(1L, rows))
        var b = 64L
        while (b < want && b < (1L << 30)) b <<= 1
        b.toInt
      }
      // row counts from the manifest's own file meta; footer fallback for
      // pre-meta carried lines only. Files group by (sizing tier, path
      // DEPTH): the sidecar keys rows by the full manifest-relative path
      // — `partDir/file` on single-level layouts, `a=x/b=y/file` on
      // nested ones (round 18) — and the extraction regex needs the
      // segment count, so each depth gets its own scan (depth is uniform
      // per table in practice; the grouping just never assumes it)
      val rowsOf: Map[String, Long] =
        st.lines.flatMap(l => l.meta.map(m => l.path -> m._2)).toMap
      val byTier: Seq[((Int, Int), Seq[String])] = missing
        .map(r => ((bitsFor(rowsOf.getOrElse(r,
          footerRowCount(spark, new Path(rootPath, r)))),
          r.count(_ == '/')), r))
        .groupBy(_._1).map { case (b, fs) => (b, fs.map(_._2)) }
        .toSeq.sortBy(_._1)
      val keySchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(keyCol, kf.dataType, true)))
      Some(byTier.map { case ((numBits, depth), files) =>
        spark.read.schema(keySchema).option("basePath", root)
          .parquet(files.map(r => s"$root/$r"): _*)
          .select(
            // rel path = the manifest's spelling: `depth` partition
            // segments + the file name
            regexp_extract(input_file_name(),
              s"((?:[^/]+/){$depth}[^/]+)$$", 1).as("file"),
            keyExpr.as("__k"))
          .groupBy("file")
          .agg(expr(s"graft_bloom(__k, $numBits, $numHashes)").as("bloom"))
      }.reduce(_ unionByName _))
    }
    val keptOld: Option[DataFrame] =
      if (stale.isEmpty) existing
      else existing.map { e =>
        import org.apache.spark.sql.Encoders
        val liveDf = spark.createDataset(live)(Encoders.STRING).toDF("file")
        e.join(broadcast(liveDf), Seq("file"), "left_semi")
      }
    if (stale.isEmpty && existing.isDefined) {
      // fast path: append only the new rows
      fresh.foreach(_.write.mode("append").parquet(dir.toString))
    } else {
      // rewrite (drops stale rows): stage then delete-and-rename. The
      // window between delete and rename is loss-of-index, not
      // loss-of-correctness — absence = conservative keep everywhere.
      val combined = (keptOld, fresh) match {
        case (Some(a), Some(b)) => a.unionByName(b)
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case (None, None) => return BloomIndexStats(0, 0, stale.size)
      }
      val tmp = new Path(rootPath,
        s"_bloom_tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      combined.write.parquet(tmp.toString)
      if (f.exists(dir)) f.delete(dir, true)
      f.mkdirs(dir.getParent)
      if (!f.rename(tmp, dir))
        throw new IllegalStateException(
          s"could not publish bloom sidecar $tmp -> $dir")
    }
    BloomIndexStats(missing.size, (indexed -- stale).size, stale.size)
  }

  /** BLOOM probe of a candidate file list (see [[buildBloomIndex]]):
    * keeps a candidate iff it has no sidecar row (conservative) or ANY
    * key might be in its filter. No sidecar → candidates unchanged and
    * `keysHashed` never forced. False positives keep a file needlessly;
    * false negatives are impossible — the probe is sound for the same
    * reason zone pruning is.
    *
    * Two physical twins, one value (spec-pinned): up to
    * [[bloomLiteralLimit]] keys the hashed key set inlines as a plan
    * LITERAL (one pass over the sidecar, no join); above it the probe is
    * a JOIN — each bloom row streams once against the (broadcast when
    * small, shuffled when not) key frame, so the keys never materialize
    * on the driver and a backfill-sized list cannot OOM the plan.
    */
  private def bloomPrunedCandidates(
      spark: SparkSession,
      root: String,
      keyCol: String,
      keysHashed: DataFrame,
      nKeys: Long,
      candidates: Seq[String]): Seq[String] = {
    val dir = bloomDir(root, keyCol)
    val f = fs(spark, dir)
    if (candidates.isEmpty || nKeys == 0L || !f.exists(dir))
      return candidates
    graft.functions.GraftFunctions.register(spark)
    import org.apache.spark.sql.Encoders
    val cand = spark.createDataset(candidates)(Encoders.STRING).toDF("file")
    val side = spark.read.parquet(dir.toString)
      .groupBy("file").agg(first(col("bloom")).as("bloom"))
    if (nKeys <= bloomLiteralLimit(spark)) {
      val kv = keysHashed.collect().map(_.getLong(0)).toSeq
      cand.join(side, Seq("file"), "left_outer")
        .filter(col("bloom").isNull ||
          exists(typedlit(kv),
            k => call_function("graft_bloom_contains", col("bloom"), k)))
        .select("file").collect().map(_.getString(0)).toSeq
    } else {
      // join twin: every key must probe every bloom (a bloom is a bitset,
      // not a joinable key). Round 17 (VERDICT r16 "what's wrong" #1):
      // the all-pairs meet is a BUCKET-EXPLODED EQUI-JOIN, never a
      // cartesian — keys hash to ONE of K buckets, each bloom row fans
      // out to ALL K, and the hash join meets each (bloom, key) pair
      // exactly once. K = ceil(nKeys / 1M) capped at 64, so the sidecar
      // replicates at most K× through ONE shuffle materialization —
      // never re-READ per key partition like the old crossJoin plan
      // (≈6 TB of sidecar re-reads at 10⁵ files × 64 partitions in
      // exactly the backfill regime this twin serves). Under
      // [[keyBroadcastLimit]] the bucketed key frame broadcasts
      // (BroadcastHashJoin); above it both sides shuffle on the bucket.
      // No CartesianProduct/BroadcastNestedLoopJoin at ANY key count —
      // spec-pinned. A file with any possibly-present key survives;
      // files without a sidecar row keep conservatively.
      val k = math.max(1L, math.min(64L, nKeys / 1000000L + 1L)).toInt
      val keysBucketed = keysHashed.withColumn(
        "__bucket",
        org.apache.spark.sql.functions.pmod(col("__bk"), lit(k.toLong))
          .cast("int"))
      val keysSide =
        if (nKeys <= keyBroadcastLimit(spark)) broadcast(keysBucketed)
        else keysBucketed
      val sideFanned = side.withColumn(
        "__bucket",
        org.apache.spark.sql.functions.explode(
          typedlit((0 until k).toArray)))
      val probed = sideFanned.join(keysSide, Seq("__bucket"))
        .filter(call_function(
          "graft_bloom_contains", col("bloom"), col("__bk")))
        .select("file").distinct()
      cand.join(side.select("file").distinct(), Seq("file"), "left_anti")
        .unionByName(cand.join(probed, Seq("file"), "left_semi"))
        .select("file").collect().map(_.getString(0)).toSeq
    }
  }

  /** The join-twin probe plan for ONE (keys, sidecar) shape — exposed to
    * the spec so it can assert the no-cartesian law on the EXECUTED plan
    * (the public verbs collect eagerly, leaving nothing to inspect).
    */
  private[graft] def bloomProbePlanForSpec(
      spark: SparkSession,
      root: String,
      keyCol: String,
      keys: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val keysHashed = bloomKeysHashed(keys, keyCol).get
    val nKeys = keysHashed.count()
    val side = spark.read.parquet(bloomDir(root, keyCol).toString)
      .groupBy("file").agg(first(col("bloom")).as("bloom"))
    val k = math.max(1L, math.min(64L, nKeys / 1000000L + 1L)).toInt
    val keysBucketed = keysHashed.withColumn(
      "__bucket",
      org.apache.spark.sql.functions.pmod(col("__bk"), lit(k.toLong))
        .cast("int"))
    val keysSide =
      if (nKeys <= keyBroadcastLimit(spark)) broadcast(keysBucketed)
      else keysBucketed
    side.withColumn("__bucket",
      org.apache.spark.sql.functions.explode(typedlit((0 until k).toArray)))
      .join(keysSide, Seq("__bucket"))
      .filter(call_function(
        "graft_bloom_contains", col("bloom"), col("__bk")))
      .select("file").distinct()
  }

  /** xxhash64 of one string, driver-side — BIT-IDENTICAL to the
    * `xxhash64(col)` the build scan applies (same Catalyst expression,
    * same default seed), which is what makes the string-key probe sound.
    */
  private def xx64(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)),
      42L /* xxhash64's fixed SQL-function seed */).eval(null)
      .asInstanceOf[Long]

  /** The takedown/merge key frame as bloom probe values — a single-column
    * `__bk: long` frame (integer keys direct, strings through xxhash64,
    * bit-identical to [[buildBloomIndex]]'s build-side hashing). None for
    * other key types (the probe is skipped; [[buildBloomIndex]] refuses
    * those columns anyway, so a sidecar over them cannot exist). Stays a
    * DataFrame: the literal-vs-join decision is [[bloomPrunedCandidates]]'s.
    */
  private def bloomKeysHashed(
      ks: DataFrame, keyCol: String): Option[DataFrame] =
    ks.schema.fields.find(_.name == keyCol).map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) |
           Some(org.apache.spark.sql.types.IntegerType) =>
        Some(ks.filter(col(keyCol).isNotNull)
          .select(col(keyCol).cast("long").as("__bk")).distinct())
      case Some(org.apache.spark.sql.types.StringType) =>
        Some(ks.filter(col(keyCol).isNotNull)
          .select(org.apache.spark.sql.functions.xxhash64(col(keyCol))
            .as("__bk")).distinct())
      case _ => None
    }

  private def dvBase(root: String) = new Path(root, "_dv")
  private def dvDir(root: String, keyCol: String) =
    new Path(dvBase(root), s"col=${escapedPartValue(keyCol)}")

  /** The deferred-delete columns currently pending, with their recorded
    * batch directories (the clear unit — see [[optimize]]'s purge).
    */
  private def dvState(
      spark: SparkSession, root: String): Seq[(String, Seq[Path])] = {
    val base = dvBase(root)
    val f = fs(spark, base)
    if (!f.exists(base)) Nil
    else f.listStatus(base).filter(_.isDirectory).toSeq
      .filter(_.getPath.getName.startsWith("col="))
      .map { d =>
        val colName = org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(d.getPath.getName.drop(4))
        val batches = f.listStatus(d.getPath).filter(_.isDirectory).toSeq
          .filter(_.getPath.getName.startsWith("batch=")).map(_.getPath)
        colName -> batches
      }
      .filter(_._2.nonEmpty)
      .sortBy(_._1)
  }

  /** `df` minus every pending deferred-delete key — the merge-on-read
    * mask [[readVersion]] / [[readPruned]] / [[readPrunedMulti]] apply.
    * Anti-join per pending column under the [[keyBroadcastLimit]]
    * discipline (round 16): takedown lists broadcast while delta-sized,
    * but a backfill-sized mask SHUFFLES instead of OOMing the driver —
    * the same twin rule the table verbs follow, value-identical. A
    * pass-through when nothing is pending. A frame that lacks a masked
    * column (a time-travel read older than the column) keeps its rows —
    * the mask filters where the key is readable.
    */
  private def applyDvMask(
      spark: SparkSession, root: String, df: DataFrame): DataFrame =
    dvState(spark, root).foldLeft(df) { case (d, (c, _)) =>
      if (!d.columns.contains(c)) d
      else {
        val keys = spark.read.parquet(dvDir(root, c).toString)
          .select("key").distinct()
        val hk = hintedKeys(spark, keys, keys.count())
        d.join(hk, d(c) === hk("key"), "left_anti")
      }
    }

  /** True iff any of `winnerAdded` (manifest lines a concurrent winner
    * landed while a purging pass ran) could hold one of the pending
    * masked keys — zone/bloom-pruned, conservative (an unregistered mask
    * column makes every added line risky). A purge must NOT clear the
    * mask while this holds: the winner's rows were never purge-scanned,
    * so clearing would silently resurrect their masked-key rows. The
    * mask instead stays pending and the NEXT purge owns those files.
    */
  private def winnerAddedRisky(
      spark: SparkSession, root: String,
      winnerAdded: Seq[FileLine], statsCols: Seq[(String, String)],
      masks: Seq[(String, DataFrame)]): Boolean =
    winnerAdded.nonEmpty && masks.exists { case (c, keys0) =>
      keyCandidateLines(spark, root, winnerAdded, statsCols,
        keys0.select(col("key").as(c)), c).nonEmpty
    }

  /** Zone-envelope + bloom-pruned candidate FILES for a key set — the
    * shared detection front end of [[deleteRows]], [[merge]] and the
    * [[optimize]] purge (one implementation so the three can never drift
    * on escaping/typing discipline). Nil when the key set is empty or
    * all-null. A registered zone column's type must match the key
    * frame's — loud refusal otherwise.
    */
  private def keyCandidateFiles(
      spark: SparkSession, root: String, st: Snapshot,
      ks: DataFrame, keyCol: String): Seq[String] =
    keyCandidateLines(spark, root, st.lines, st.statsCols, ks, keyCol)

  /** Line-set overload of [[keyCandidateFiles]] — the purge's post-publish
    * winner-added re-check prunes an arbitrary line subset (the lines a
    * concurrent winner landed while this pass ran) against the masked
    * keys, under the WINNER's stats registration.
    */
  private def keyCandidateLines(
      spark: SparkSession, root: String,
      lines: Seq[FileLine], statsCols: Seq[(String, String)],
      ks: DataFrame, keyCol: String): Seq[String] = {
    val allRels = lines.map(_.path)
    if (allRels.isEmpty) return Nil
    val kf = ks.schema.fields.find(_.name == keyCol).getOrElse(
      throw new IllegalArgumentException(
        s"key column '$keyCol' absent from the key frame"))
    // one pass computes the zone envelope AND the non-null key count (the
    // bloom probe's literal-vs-join switch)
    var nKeys = 0L
    val envelope: Option[ZonePred] = statsCols.find(_._1 == keyCol) match {
      case Some((_, "long")) =>
        require(kf.dataType == org.apache.spark.sql.types.LongType ||
          kf.dataType == org.apache.spark.sql.types.IntegerType,
          s"zone-map column '$keyCol' is long-typed but the key frame " +
            s"holds ${kf.dataType.simpleString} values")
        val r = ks.agg(min(col(keyCol)).cast("long"),
          max(col(keyCol)).cast("long"), count(col(keyCol))).head
        if (r.isNullAt(0)) return Nil // no non-null key
        nKeys = r.getLong(2)
        Some(LongRange(keyCol, r.getLong(0), r.getLong(1)))
      case Some(_) =>
        require(kf.dataType == org.apache.spark.sql.types.StringType,
          s"zone-map column '$keyCol' is string-typed but the key frame " +
            s"holds ${kf.dataType.simpleString} values")
        val r = ks.agg(min(col(keyCol)), max(col(keyCol)),
          count(col(keyCol))).head
        if (r.isNullAt(0)) return Nil
        nKeys = r.getLong(2)
        Some(StringRange(keyCol, r.getString(0), r.getString(1)))
      case None =>
        nKeys = ks.agg(count(col(keyCol))).head.getLong(0)
        if (nKeys == 0L) return Nil
        None
    }
    val env = envelope match {
      case Some(e) => pruneLines(lines, statsCols, Seq(e))
      case None => allRels
    }
    bloomKeysHashed(ks, keyCol) match {
      case Some(kh) =>
        bloomPrunedCandidates(spark, root, keyCol, kh, nKeys, env)
      case None => env
    }
  }

  /** The recorded data schema of one committed version, as schema JSON —
    * the CDC coalescing boundary test ([[graft.streaming.ChangeFeed]]):
    * consecutive producer versions whose recorded schemas are identical
    * may batch into one net delta. None on legacy pre-schema manifests
    * (every such version is its own run — conservative).
    */
  private[graft] def recordedSchemaJson(
      spark: SparkSession, root: String, version: Long): Option[String] =
    readSnapshot(spark, root, version).schema.map(_.json)

  /** Publish side of the DSv2 WRITE path
    * ([[graft.sources.GraftManifestSource]]): executors have already
    * written `staged` parquet files (one per (task, partition-value)
    * pair, commit-private names); this moves each under its partition
    * dir with a version+commit-UUID-prefixed never-colliding name (the
    * UUID makes names unique across concurrent APPLICATIONS, not just
    * tasks of one), records zone-map
    * stats from the new FOOTERS, evolves the recorded schema additively,
    * and publishes through the same OCC loop every verb uses.
    *
    *  - APPEND (`truncate = false`): carried = every current line — a
    *    pure file addition composes with ANY concurrent writer (a racing
    *    merge protects itself via its own ConcurrentAppend witness; a
    *    racing fold aborts itself on the table change), so the retry
    *    never conflicts;
    *  - TRUNCATE (`truncate = true`, the DSv2 overwrite): the new files
    *    REPLACE the whole table — whole-table conflict semantics like
    *    [[restore]] (any concurrent change aborts loudly);
    *  - `batchId` None = auto (current fence + 1 — plain df.write has no
    *    replay identity); Some(id) = the exactly-once fence (a
    *    redelivered id ≤ the committed fence no-ops and the staged files
    *    fall to [[vacuum]], standard loser semantics).
    *
    * Returns the committed (or fence-skipped) version.
    */
  /** `replaceLeavesOf` (round 19 — the Delta `replaceWhere` / dynamic
    * partition overwrite slot): when set, the write REPLACES a declared
    * leaf region in ONE atomic version — the function receives the
    * current live LEAF names and returns the matched subset; matched
    * leaves' lines drop, staged lines append, everything else carries.
    * OCC: a concurrent writer that changed a MATCHED leaf's lines aborts
    * loudly (the staged rows were derived against a superseded region);
    * changes to unmatched leaves compose — the routine backfill no
    * longer contends with the whole table the way truncate does.
    */
  private[graft] def appendStagedFiles(
      spark: SparkSession,
      root: String,
      staged: Seq[(String, Path)],
      batchId: Option[Long],
      statsColumns: Seq[String],
      dataSchema: org.apache.spark.sql.types.StructType,
      truncate: Boolean,
      replaceLeavesOf: Option[Seq[String] => Set[String]] = None): Long = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    require(!(truncate && replaceLeavesOf.isDefined),
      "replaceWhere/dynamic overwrite and whole-table truncate are " +
        "different write modes — pass one")
    replaceLeavesOf.foreach { _ =>
      require(dvState(spark, root).isEmpty,
        s"deferred deletes pending under $root — a partition overwrite " +
          "could drop leaves the mask's purge bookkeeping still needs; " +
          "run optimize (the purge point) first")
    }
    // matched-leaf LINE sets of a state — the replace mode's conflict
    // witness (the deleteRows touched-partition rule)
    def matchedLines(s: Snapshot): Map[String, Set[FileLine]] =
      replaceLeavesOf match {
        case None => Map.empty
        case Some(m) =>
          val byLeaf = s.lines.groupBy(l => leafDirOf(l.path))
          val matched = m(byLeaf.keys.toSeq.sorted)
          byLeaf.view.filterKeys(matched).mapValues(_.toSet).toMap
      }
    val start = head(spark, root)
    val baseMatched = matchedLines(start)
    def batchFenced(s: Snapshot) = batchId.exists(fenced(s, _))
    if (batchFenced(start)) return start.version // staged files are vacuum debris
    def effStatsFor(prevStats: Seq[(String, String)]): Seq[(String, String)] = {
      val asked = statsColumns.distinct.map { c =>
        val field = dataSchema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"zone-map column '$c' absent from the written frame"))
        field.dataType match {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType => (c, "long")
          case org.apache.spark.sql.types.StringType => (c, "string")
          case other => throw new IllegalArgumentException(
            s"zone-map column '$c' has unsupported type $other")
        }
      }
      (asked, prevStats) match {
        case (Nil, p) => p
        case (a, Nil) => a
        case (a, p) if p.startsWith(a) =>
          // the caller asked for a PREFIX of the table's registration
          // (e.g. it predates a column another writer registered): the
          // registration is a TABLE property — record stats for all of
          // it (footers cover whatever columns the files hold; absent
          // ones get conservative empty fields)
          p
        case (a, p) =>
          require(a.startsWith(p),
            s"zone-map column mismatch: table has " +
              s"'${p.map(x => x._1 + ":" + x._2).mkString(",")}', write " +
              s"passed '${a.map(x => x._1 + ":" + x._2).mkString(",")}' — " +
              "only appending new columns is allowed")
          a
      }
    }
    val effStats0 = effStatsFor(start.statsCols)
    // truncate keeps the ADDITIVE schema contract too: replaced rows may
    // narrow, the recorded schema never does (a column delete is a
    // rewrite job, not a write mode — the commit() rule, unchanged here)
    def mergedSchemaFor(s: Snapshot) = evolveSchema(
      recordedOrInferredSchema(spark, root, s), dataSchema)
    mergedSchemaFor(start) // schema-conflict refusal BEFORE any file moves
    // a per-commit UUID in the destination names: v$next + (partitionId,
    // taskId) is unique only WITHIN one Spark application — two concurrent
    // applications appending can compute the same next and identical
    // task-local names, and the second rename would throw after some files
    // already moved, breaking the "pure file addition composes with ANY
    // concurrent writer" contract (ADVICE, round 15)
    val commitTag = java.util.UUID.randomUUID().toString.take(8)
    val newFiles = staged.map { case (partName, src) =>
      require(!partName.contains('|'),
        s"partition value '$partName' contains '|' (the manifest stats " +
          "delimiter)")
      val dest = new Path(rootPath, partName)
      f.mkdirs(dest)
      val name = s"v${start.version + 1}-$commitTag-${src.getName}"
      if (!f.rename(src, new Path(dest, name)))
        throw new IllegalStateException(
          s"could not stage written file $src -> $dest/$name")
      s"$partName/$name"
    }
    // the lines are a function of the CURRENT stats registration — a
    // retry that adopts a winner's additively-extended registration must
    // re-derive them (footers are still there), or the new files would
    // permanently lack the new column's zone maps (review finding,
    // round 15)
    def linesFor(stats: Seq[(String, String)]) =
      (stats, newFiles.map(dataFileLine(spark, rootPath, _, stats)))
    var myLines = linesFor(effStats0)
    val baseLines = start.lines.toSet
    val op =
      if (truncate) "overwrite"
      else if (replaceLeavesOf.isDefined) "replace" else "append"
    publishRetrying(spark, root, start, NoHook) { s =>
      if (batchFenced(s)) Done(s.version) // idempotent skip
      else {
        if (truncate && s.lines.toSet != baseLines)
          throw new java.util.ConcurrentModificationException(
            s"overwrite-write under $root lost its publish race to a " +
              "writer that changed the table — an overwrite declares the " +
              "entire state; re-run against the current snapshot (staged " +
              "files are unreferenced and vacuum-swept)")
        val matched = matchedLines(s)
        if (matched != baseMatched)
          throw new java.util.ConcurrentModificationException(
            s"partition overwrite under $root lost its publish race to a " +
              "writer that changed a REPLACED leaf — the staged rows were " +
              "derived against a superseded region; re-run (staged files " +
              "are unreferenced and vacuum-swept). Changes to leaves " +
              "outside the region compose and never hit this.")
        val effStats = effStatsFor(s.statsCols)
        if (effStats != myLines._1) myLines = linesFor(effStats)
        val carried =
          if (truncate) Nil
          else s.lines.filterNot(l => matched.contains(leafDirOf(l.path)))
        Publish(op, batchId.getOrElse(s.batch + 1), effStats,
          Some(Header.encodeSchema(mergedSchemaFor(s))),
          carried ++ myLines._2, v => v)
      }
    }
  }

  /** COPY-ON-WRITE file replacement — the publish half of the SQL
    * row-level verbs (round 17, [[graft.sources.GraftRowLevelOperation]]):
    * atomically swap `removedRels` (the files a ReplaceData scan READ,
    * runtime narrowing included) for `staged` (the replacement rows that
    * scan's query produced — survivors + updates + inserts), carrying
    * every other line forward.
    *
    * OCC is SNAPSHOT EQUALITY on the whole table: the replacement rows
    * were derived from `baseLines`' files under an arbitrary SQL
    * condition this layer cannot re-evaluate, so ANY concurrent change —
    * even a key-disjoint append — could hold rows the verb should have
    * seen (a MERGE's no-match evidence, a DELETE's matched set). A loser
    * whose snapshot drifted aborts loudly
    * (`ConcurrentModificationException`; staged files fall to vacuum);
    * the narrower per-partition and envelope rules stay with the Scala
    * verbs ([[deleteRows]]/[[merge]]) which know their keys.
    *
    * The ingest FENCE is preserved (winner's batch id, the [[deleteRows]]
    * convention): a SQL rewrite has no replay identity — a redelivered
    * ingest batch must still no-op after it. Stats lines for the new
    * files derive from the snapshot's registration; the recorded schema
    * is carried unchanged (SQL UPDATE/MERGE cannot add columns).
    */
  /** RESTORE (round 20 — the transactional-rollback primitive;
    * contrast the user-facing [[restore]], which keeps the CURRENT
    * fence/schema/stats and restores only the file lines): publish a
    * NEW version whose complete state — file lines (zone maps, `%#`
    * meta), batch fence, stats registration, recorded schema — is
    * `toVersion`'s, VERBATIM. Data files are immutable and carried by path, so this is
    * metadata-only: one manifest read + one publish, zero data IO at any
    * scale. The versions above `toVersion` stay time-travelable (and
    * vacuum-sweepable) — history is append-only, a restore never erases
    * it.
    *
    * The batch FENCE restores too (deliberately): the undone versions
    * never committed transactionally, so a re-run of the same ingest
    * batch must re-apply, not no-op against a fence the rollback erased
    * the data of.
    *
    * Refuses while deferred-delete masks are pending (the mask is
    * table-level pending state that would silently apply to the restored
    * snapshot — run optimize, the purge point, first) and on a lost
    * publish race (ConcurrentModificationException — the restore was
    * planned against a head someone else advanced).
    */
  private[graft] def restoreVersion(
      spark: SparkSession, root: String, toVersion: Long,
      beforePublish: () => Unit = NoHook): Long = {
    val head = currentVersion(spark, root)
    require(head >= 0, s"restoreVersion needs a committed table under $root")
    require(toVersion >= 0 && toVersion <= head,
      s"restoreVersion: v$toVersion is outside [0, $head] under $root")
    if (toVersion == head) return head
    require(dvState(spark, root).isEmpty,
      s"deferred deletes pending under $root — the mask would silently " +
        "apply to the restored snapshot; run optimize (the purge point) " +
        "first")
    val src = readSnapshot(spark, root, toVersion)
    val next = head + 1
    beforePublish()
    // the source header verbatim but for the version, the op and the
    // restoredFrom breadcrumb (a restore-of-a-restore names its own
    // target); the restore is UNKEYED (no pre/post pairing — its CDF
    // delta is the honest file-level net change back to the old state);
    // publishManifest re-stamps the live nf/nr
    if (!publishManifest(spark, root,
        src.header.copy(version = next, op = Some("restore"), opKey = Nil,
          restoredFrom = Some(toVersion)), src.lines))
      throw new java.util.ConcurrentModificationException(
        s"restoreVersion under $root: lost the v$next slot to a " +
          "concurrent writer — re-plan against the new head")
    next
  }

  private[graft] def replaceFiles(
      spark: SparkSession,
      root: String,
      baseVersion: Long,
      baseLines: Seq[FileLine],
      removedRels: Seq[String],
      staged: Seq[(String, Path)],
      beforePublish: () => Unit = NoHook): Long = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    require(baseVersion >= 0,
      s"replaceFiles needs a committed table under $root")
    require(dvState(spark, root).isEmpty,
      s"deferred deletes pending under $root — a copy-on-write rewrite " +
        "would strand the mask's purge bookkeeping; run optimize (the " +
        "purge point) first")
    val st = readSnapshot(spark, root, baseVersion)
    val baseSet = baseLines.toSet
    require(st.lines.toSet == baseSet,
      s"replaceFiles under $root: the planning snapshot (v$baseVersion) " +
        "no longer matches its own manifest — stale handle")
    val removedSet = removedRels.toSet
    val basePaths = baseLines.map(_.path).toSet
    require(removedSet.subsetOf(basePaths),
      s"replaceFiles under $root: removed file(s) " +
        s"${removedSet.diff(basePaths).take(3).mkString(", ")} are not in " +
        "the planning snapshot")
    // stage the replacement files live (same naming discipline as
    // appendStagedFiles: version + commit UUID + task-local name)
    val cur = currentVersion(spark, root)
    val commitTag = java.util.UUID.randomUUID().toString.take(8)
    val newFiles = staged.map { case (partName, src) =>
      require(!partName.contains('|'),
        s"partition value '$partName' contains '|' (the manifest stats " +
          "delimiter)")
      val dest = new Path(rootPath, partName)
      f.mkdirs(dest)
      val name = s"v${cur + 1}-$commitTag-${src.getName}"
      if (!f.rename(src, new Path(dest, name)))
        throw new IllegalStateException(
          s"could not stage replacement file $src -> $dest/$name")
      s"$partName/$name"
    }
    val myLines = newFiles.map(dataFileLine(spark, rootPath, _, st.statsCols))
    val carried = baseLines.filterNot(l => removedSet.contains(l.path))
    // the conflict witness is the CURRENT head, never the base itself —
    // a writer that committed between planning and this publish must
    // abort the verb even before the first rename race
    val start = if (cur == baseVersion) st else readSnapshot(spark, root, cur)
    publishRetrying(spark, root, start, beforePublish) { s =>
      if (s.lines.toSet != baseSet)
        throw new java.util.ConcurrentModificationException(
          s"row-level rewrite under $root lost its publish race to a " +
            "writer that changed the table — the replacement rows were " +
            "derived from a superseded snapshot (the SQL condition cannot " +
            "be re-checked against the winner's files); re-run the " +
            "statement (staged files are unreferenced and vacuum-swept)")
      Publish("replace", s.batch, s.statsCols, s.header.schemaB64,
        carried ++ myLines, v => v)
    }
  }

  /** Planning surface for the DSv2 `graft-manifest` scan
    * ([[graft.sources.GraftManifestSource]]): one committed version's
    * snapshot, its schema resolved for reading (legacy tables fall back
    * to the mergeSchema inference, paid once at plan time).
    */
  private[graft] def scanState(
      spark: SparkSession, root: String,
      versionAsOf: Option[Long]): Snapshot = {
    val v = versionAsOf.getOrElse {
      val cur = currentVersion(spark, root)
      require(cur >= 0, s"no committed version under $root — not a " +
        "graft-manifest table (or never committed)")
      cur
    }
    val st = readSnapshot(spark, root, v)
    st.copy(schema = recordedOrInferredSchema(spark, root, st))
  }

  /** Zone-map + bloom file pruning for the DSv2 scan: `preds` intersect
    * the recorded per-file intervals ([[pruneLines]] — conservative on
    * missing stats), then per-column equality key sets probe the bloom
    * sidecar when one exists. Returns the relative paths a scan must
    * open — a proven SUPERSET of the matching rows' files.
    */
  private[graft] def pruneScanFiles(
      spark: SparkSession, root: String, st: Snapshot,
      preds: Seq[ZonePred],
      bloomEqKeys: Map[String, Seq[Long]]): Seq[String] = {
    val zoned =
      if (preds.isEmpty) st.paths
      else pruneLines(st.lines, st.statsCols, preds)
    bloomEqKeys.foldLeft(zoned) { case (cands, (c, ks)) =>
      if (ks.isEmpty) cands
      else {
        // filter-literal keys: tiny by construction (they came out of a
        // pushed EqualTo/In), so the literal probe path always applies
        val kh = spark.createDataset(ks)(
          org.apache.spark.sql.Encoders.scalaLong).toDF("__bk")
        bloomPrunedCandidates(spark, root, c, kh, ks.size.toLong, cands)
      }
    }
  }

  /** Pending deferred-delete key sets, collected driver-side for the
    * DSv2 scan's in-reader mask. GUARDED by [[keyBroadcastLimit]] (round
    * 16 — the last broadcast ceiling): an in-reader mask ships the key
    * set into every task closure, so above the limit this REFUSES with
    * the purge instruction instead of OOMing the driver — the Scala read
    * path ([[applyDvMask]]) handles the same mask as a shuffled
    * anti-join, so a reader is never stuck. Values are the recorded key
    * type (long or string).
    */
  private[graft] def dvMaskKeySets(
      spark: SparkSession, root: String): Map[String, Array[Any]] =
    dvState(spark, root).map { case (c, _) =>
      val keys = spark.read.parquet(dvDir(root, c).toString)
        .select("key").distinct()
      val n = keys.count()
      val lim = keyBroadcastLimit(spark)
      if (n > lim) throw new IllegalStateException(
        s"deferred-delete mask on '$c' under $root holds $n pending keys " +
          s"> keyBroadcastLimit=$lim — too large to ship into the DSv2 " +
          s"scan's task closures; run ManifestTable.optimize to purge the " +
          "mask first, or read via ManifestTable.read (its anti-join " +
          "shuffles above the limit)")
      c -> keys.collect().map(_.get(0))
    }.toMap

  /** Driver-side xxhash64 of a string — the bloom sidecar's string-key
    * convention, exposed for the DSv2 scan's filter translation.
    */
  private[graft] def xx64String(s: String): Long = xx64(s)

  /** How many [[hasPendingDv]] probes ran — the spec pin for plan-time
    * probe discipline (round 17: the aggregate-pushdown resolution ran
    * the probe once per `supportCompletePushDown` AND once per
    * `pushAggregation`; on an object store that is metadata RPCs per
    * planned aggregate, so the builder now memoizes it).
    */
  private[graft] val dvProbeCount = new java.util.concurrent.atomic.AtomicLong

  /** True iff any deferred-delete mask is pending — a cheap listStatus
    * probe (the DSv2 scan's honesty guard: row-count estimates and
    * columnar fast paths are only valid mask-free).
    */
  private[graft] def hasPendingDv(spark: SparkSession, root: String): Boolean = {
    dvProbeCount.incrementAndGet()
    dvState(spark, root).nonEmpty
  }

  /** EXACT row count of a version from the manifest alone (the `%#` line
    * meta), or None when any line predates the meta — the aggregate-
    * pushdown source: COUNT(*) of a 100 TB table from one manifest read,
    * zero file IO. Exactness holds because commits record counts from
    * the footers of the immutable files they land.
    */
  private[graft] def manifestRowCount(st: Snapshot): Option[Long] =
    if (st.lines.exists(_.meta.isEmpty)) None
    else Some(st.lines.flatMap(_.meta).map(_._2).sum)

  /** EXACT global [min, max] of a LONG-registered zone-map column from
    * the manifest alone, or None when any line lacks the column's stats
    * (an all-null or stats-less file makes the global bound unprovable —
    * conservative refusal, the pruning discipline applied to
    * aggregation). LONG columns only: parquet footer stats for numeric
    * types are exact values, while BINARY stats may be TRUNCATION-
    * ADJUSTED bounds (a legal upper bound is fine for pruning but WRONG
    * as a MAX value), so string columns never serve aggregates.
    */
  private[graft] def manifestLongBounds(
      st: Snapshot, column: String): Option[(Long, Long)] = {
    val idx = st.statsCols.map(_._1).indexOf(column)
    if (idx < 0 || st.statsCols(idx)._2 != "long" || st.lines.isEmpty)
      return None
    val vals = st.lines.map(_.bounds(idx))
    if (vals.exists(v => v._1.isEmpty || v._2.isEmpty)) None
    else Some((vals.map(_._1.toLong).min, vals.map(_._2.toLong).max))
  }

  final case class DeferredDeleteStats(keysRecorded: Long, keysPending: Long)

  /** MERGE-ON-READ row delete — the deletion-vector slot (Delta DVs /
    * Iceberg positional deletes / Lucene soft-deletes, manifest-native),
    * and the missing half of the takedown story: [[deleteRows]] is
    * copy-on-write (the right call when rewrite cost is acceptable), but
    * a 100-key takedown against a petabyte table must take effect NOW at
    * O(list) cost — rewriting partitions at delete time is pure waste
    * when OPTIMIZE will rewrite them anyway.
    *
    *  - recording is O(list): the key set lands under
    *    `_dv/col=<key>/batch=<contentHash>` (scoped-overwrite per list —
    *    IDEMPOTENT under at-least-once retry, ACCUMULATING across
    *    distinct takedowns: a silent replace would resurface the first
    *    list, the corruption direction the index tombstones already
    *    guard against);
    *  - every table read ([[read]] / [[readVersion]] / [[readPruned]] /
    *    [[readPrunedMulti]]) applies the mask by broadcast anti-join —
    *    results equal a table holding only survivors, effective
    *    immediately and, WHILE THE MASK IS PENDING, on every time-travel
    *    read too; after the purge clears the mask, pre-purge versions
    *    time-travel their committed content like any retained version
    *    until [[vacuum]] retires them — the same retention story as
    *    [[deleteRows]] (purge + vacuum = bytes gone; a compliance
    *    takedown follows the purge with a vacuum);
    *  - [[optimize]] is the PURGE point: it force-rewrites the
    *    partitions holding masked rows (zone/bloom-pruned detection),
    *    drops the rows physically, and clears exactly the delete batches
    *    it saw — a takedown recorded mid-optimize survives to the next
    *    purge; crash orderings are safe because a cleared-late mask
    *    filters rows that no longer exist;
    *  - while a mask is pending, the copy-on-write rewrites
    *    ([[deleteRows]], [[merge]]) REFUSE loudly — their survivor
    *    rewrites read raw files and would resurrect masked rows
    *    physically into fresh files; OPTIMIZE first, then rewrite.
    *
    * The change feed surfaces deferred deletes at the purging OPTIMIZE
    * (a mask is not a version; the purge is — its net change IS the
    * deletion, which is exactly when a CDC consumer should see it).
    * Returns (keys recorded by this call, total keys now pending).
    */
  def deleteRowsDeferred(
      spark: SparkSession,
      root: String,
      keys: DataFrame,
      keyCol: String): DeferredDeleteStats = {
    val st = head(spark, root)
    require(st.version >= 0, s"no committed version under $root")
    val kf = recordedOrInferredSchema(spark, root, st)
      .flatMap(_.fields.find(_.name == keyCol)).getOrElse(
        throw new IllegalArgumentException(
          s"deferred-delete key column '$keyCol' absent from the table " +
            s"schema under $root"))
    val dedup = keys.select(col(keyCol).cast(kf.dataType).as("key"))
      .filter(col("key").isNotNull).distinct().localCheckpoint(true)
    // order-independent content digest of the list — XOR of two
    // INDEPENDENT per-key xxhash64 streams plus the count: the batch-dir
    // name is the accumulate-vs-replace decision, and a crc32-sum
    // collision between two DISTINCT takedown lists would silently
    // overwrite one of them (the exact resurrection the scoped-overwrite
    // exists to prevent). XOR over distinct avalanche hashes makes an
    // accidental collision ~2^-128 across both streams (and stays inside
    // ANSI arithmetic — a 64-bit SUM would overflow loudly).
    val h = dedup.agg(
      expr("bit_xor(xxhash64(key))").as("h1"),
      expr("bit_xor(xxhash64(key, 1))").as("h2"),
      count(lit(1)).as("n")).head
    val n = h.getLong(2)
    if (n > 0) {
      val tag = java.lang.Long.toHexString(h.getLong(0)) +
        "h" + java.lang.Long.toHexString(h.getLong(1)) + "x" + n
      dedup.write.mode("overwrite")
        .parquet(new Path(dvDir(root, keyCol), s"batch=$tag").toString)
      spark.catalog.refreshByPath(dvDir(root, keyCol).toString)
    }
    val pending = spark.read.parquet(dvDir(root, keyCol).toString)
      .select("key").distinct().count()
    DeferredDeleteStats(n, pending)
  }

  /** Pending deferred-delete key counts per column — the operational
    * "how much is masked but not yet purged" signal ([[fsck]] reports
    * it too).
    */
  def pendingDeferredDeletes(
      spark: SparkSession, root: String): Map[String, Long] =
    dvState(spark, root).map { case (c, _) =>
      c -> spark.read.parquet(dvDir(root, c).toString)
        .select("key").distinct().count()
    }.toMap

  final case class MergeStats(
      rowsUpdated: Long, rowsInserted: Long,
      partitionsRewritten: Int, partitionsAppended: Int,
      filesScanned: Int, filesTotal: Int)

  /** MERGE / upsert — the Delta `MERGE INTO … WHEN MATCHED THEN UPDATE *
    * WHEN NOT MATCHED THEN INSERT *` slot, and the one lifecycle verb the
    * commit/delete/restore/TTL family lacked (every CDC apply, entity
    * refresh, or late-correction pipeline runs it): each update row
    * REPLACES every table row sharing its `keyCol` value — wherever that
    * row lives, including a DIFFERENT partition than the update targets,
    * so an update legally moves a row across partitions — or INSERTS if
    * no row matches. One new manifest version, atomic rename.
    *
    * Work tracks the DELTA, never the table:
    *  - detection is ONE broadcast semi-join over the zone-map-pruned
    *    candidate files (when `keyCol` is a registered stats column, only
    *    files whose [min, max] intersects the update keys' envelope are
    *    opened — `MergeStats.filesScanned < filesTotal`, spec-pinned);
    *  - only partitions holding MATCHED rows rewrite (survivors by
    *    broadcast anti-join); partitions that merely RECEIVE rows get new
    *    files APPENDED next to their carried ones — an insert-mostly merge
    *    rewrites nothing;
    *  - untouched partitions carry files and zone maps forward.
    *
    * The update batch's KEY SET broadcasts only under
    * [[keyBroadcastLimit]] — above it detection and the survivor rewrite
    * switch to SHUFFLE joins and the bloom probe becomes a sidecar join
    * (the d2/d2b twin discipline: a backfill-sized merge must not OOM
    * the driver; both paths are value-identical, spec-pinned).
    * Duplicate or null keys in one batch refuse loudly
    * (two updates for one key in one batch is an ordering ambiguity no
    * engine should resolve silently).
    *
    * A merge IS an ingest: `batchId` advances the fence, so a redelivered
    * merge no-ops (returns None — at-least-once replay safe). The table's
    * recorded schema evolves additively through the update frame exactly
    * as [[commit]] evolves it (new columns null-fill old rows; widenings
    * per [[widened]]; conflicts refuse).
    *
    * MULTI-WRITER: rewritten partitions and append targets are
    * conflict-witnessed like [[commit]]; additionally a winner that ADDED
    * files which could hold one of this merge's keys aborts the retry
    * loudly — an insert derived from "no match" in a superseded snapshot
    * would silently duplicate the key (the Delta ConcurrentAppend
    * hazard). "Could hold" is decided by the winner's own zone maps when
    * `keyCol` is registered — DISJOINT-key ingests then compose through
    * the retry; with no registered stats on the key, any concurrent
    * file addition aborts (register the merge key to let merges race the
    * ingest).
    */
  def merge(
      spark: SparkSession,
      root: String,
      updates: DataFrame,
      keyCol: String,
      batchId: Long,
      beforePublish: () => Unit = NoHook): Option[MergeStats] =
    merge(spark, root, updates, Seq(keyCol), batchId, beforePublish)

  /** COMPOSITE-KEY merge (round 18 — SURVEY §9 gap #2): each update row
    * replaces every table row sharing its FULL `keyCols` tuple, so a
    * business key like (tenant, doc_id) merges without a caller-side
    * concat. Detection stays zone/bloom-pruned through the LEADING key
    * column's envelope/sidecar (a sound superset — register the leading
    * key for pruning); the match joins and the duplicate/null refusals
    * run on the whole tuple. The SQL `MERGE INTO ... ON a AND b` road
    * supports arbitrary conditions already (Spark's COW rewrite); this
    * closes the Scala verb.
    */
  def merge(
      spark: SparkSession,
      root: String,
      updates: DataFrame,
      keyCols: Seq[String],
      batchId: Long,
      beforePublish: () => Unit): Option[MergeStats] = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val keyCol = keyCols.head // the pruning/envelope anchor
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    val st = head(spark, root)
    require(st.version >= 0, s"no committed version under $root — merge " +
      "needs a committed table; use commit for the first batch")
    if (fenced(st, batchId)) return None // redelivered batch: fence no-op
    require(st.lines.nonEmpty, s"the current snapshot under $root is " +
      "empty — merge derives the partition column from it; use commit")
    require(dvState(spark, root).isEmpty,
      s"deferred deletes pending under $root — the merge's survivor " +
        "rewrite reads raw files and would resurrect masked rows into " +
        "fresh files; run optimize (the purge point) first")
    val allRels = st.paths
    val pcs = partColsOf(allRels.head) // every level of the layout
    keyCols.foreach(kc => require(updates.schema.fieldNames.contains(kc),
      s"merge key column '$kc' absent from the update frame"))
    pcs.foreach(pc => require(updates.schema.fieldNames.contains(pc),
      s"the table's partition column '$pc' is absent from the " +
        "update frame — every update row must name its target partition"))
    // partition values round-trip as strings (the directory spelling);
    // casting here keeps a typed caller column on the same Hive-escaped
    // rendering as the survivors read back from their dirs
    val upd = pcs.foldLeft(updates)((d, pc) =>
      d.withColumn(pc, col(pc).cast("string")))
      .localCheckpoint(true)
    val nUpd = upd.count()
    require(nUpd > 0, "merge needs at least one update row")
    val ks = upd.select(keyCols.map(col): _*).distinct()
      .localCheckpoint(true)
    require(ks.filter(keyCols.map(col(_).isNull).reduce(_ || _)).isEmpty,
      "null merge key in the update batch — a null key can match nothing")
    val nKeys = ks.count()
    require(nKeys == nUpd,
      s"duplicate merge keys in the update batch ($nUpd rows, $nKeys " +
        "distinct keys) — two updates for one key in one batch is an " +
        "ordering ambiguity; pre-aggregate to one row per key")
    val targetRows = upd.select(pcs.map(col): _*).distinct().collect()
    val targetNames = targetRows.toSeq.map { r =>
      require(!pcs.indices.exists(r.isNullAt),
        "null partition value in the update batch — name the default " +
          "partition rendering explicitly if it is really meant")
      leafNameOf(pcs, pcs.indices.map(r.getString))
    }
    // zone-envelope + bloom pruned detection, shared with deleteRows and
    // the optimize purge (keyCandidateFiles also validates the key type
    // against the registration)
    val candidates =
      keyCandidateFiles(spark, root, st, ks.select(col(keyCol)), keyCol)
    // the envelope again, for the retry loop's concurrent-overlap check
    val envelope: Option[ZonePred] = st.statsCols.find(_._1 == keyCol).map {
      case (_, "long") =>
        val r = ks.agg(min(col(keyCol)).cast("long"),
          max(col(keyCol)).cast("long")).head
        LongRange(keyCol, r.getLong(0), r.getLong(1))
      case (_, _) =>
        val r = ks.agg(min(col(keyCol)), max(col(keyCol))).head
        StringRange(keyCol, r.getString(0), r.getString(1))
    }
    val dataSchema = recordedOrInferredSchema(spark, root, st).get
    val readSchema = org.apache.spark.sql.types.StructType(
      dataSchema.fields.toSeq ++ pcs.map(pc =>
        org.apache.spark.sql.types.StructField(pc,
          org.apache.spark.sql.types.StringType, nullable = true)))
    def readFiles(rels: Seq[String]): DataFrame =
      spark.read.schema(readSchema).option("basePath", root)
        .parquet(rels.map(r => s"$root/$r"): _*)
    // DETECTION: matched row count, matched key count, and the LEAF
    // partitions holding matches — one aggregate over the pruned
    // candidate files (levels collected as a struct on nested layouts)
    val (rowsUpdated, matchedKeys, matchedVals) =
      if (candidates.isEmpty)
        (0L, 0L, Seq.empty[org.apache.spark.sql.Row])
      else {
        val anyNull = pcs.map(col(_).isNull).reduce(_ || _)
        val d = readFiles(candidates)
          .join(hintedKeys(spark, ks, nKeys), keyCols, "left_semi")
          .agg(count(lit(1)).as("nrows"),
            countDistinct(col(keyCols.head),
              keyCols.tail.map(col): _*).as("nkeys"),
            sum(when(anyNull, 1L).otherwise(0L)).as("nulls"),
            collect_set(org.apache.spark.sql.functions.struct(
              pcs.map(col): _*)).as("parts")).head
        require(d.getLong(0) == 0L || d.getLong(2) == 0L,
          s"merge keys matched rows in the default partition " +
            s"(__HIVE_DEFAULT_PARTITION__) under $root — its value does " +
            "not round-trip through a rewrite; rewrite that partition " +
            "explicitly")
        (d.getLong(0), d.getLong(1),
          d.getSeq[org.apache.spark.sql.Row](3))
      }
    val rowsInserted = nUpd - matchedKeys
    val touchedRewriteNames = matchedVals
      .map(r => leafNameOf(pcs, pcs.indices.map(r.getString)))
      .distinct.sorted
    val touchedRels = allRels.filter(r =>
      touchedRewriteNames.contains(leafDirOf(r)))
    // survivors of the rewritten partitions ∪ the full update batch, one
    // partitioned write; unionByName null-fills asymmetric columns (the
    // additive-evolution read semantics, applied at write time)
    val toWrite =
      if (touchedRels.isEmpty) upd
      else readFiles(touchedRels)
        .join(hintedKeys(spark, ks, nKeys), keyCols, "left_anti")
        .unionByName(upd, allowMissingColumns = true)
    val updSchema = org.apache.spark.sql.types.StructType(
      upd.schema.fields.filterNot(fd => pcs.contains(fd.name)).toSeq)
    def mergedSchemaFor(s: Snapshot) = evolveSchema(
      recordedOrInferredSchema(spark, root, s), updSchema)
    mergedSchemaFor(st) // schema-conflict refusal BEFORE any file stages
    val (stagedParts, newFiles) =
      stageDataFiles(f, rootPath, toWrite, pcs, st.version + 1)
    val myLines = newFiles.map(dataFileLine(spark, rootPath, _, st.statsCols))
    val witnessNames = (touchedRewriteNames ++ targetNames).distinct
    val baseLines = st.lines.toSet
    val stats = MergeStats(
      rowsUpdated = rowsUpdated,
      rowsInserted = rowsInserted,
      partitionsRewritten = touchedRewriteNames.size,
      partitionsAppended = stagedParts.count(!touchedRewriteNames.contains(_)),
      filesScanned = candidates.size,
      filesTotal = allRels.size)
    publishRetrying[Option[MergeStats]](spark, root, st, beforePublish) { s =>
      // the winner carried this (or a later) batch — idempotent skip;
      // staged files fall to vacuum
      if (fenced(s, batchId)) Done(None)
      else {
        val conflicted = changedPartitions(st, s, witnessNames)
        if (conflicted.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"merge of batch $batchId under $root lost its publish race to " +
              s"a writer that modified touched partition(s) " +
              s"${conflicted.mkString(", ")} — the replacement rows were " +
              "derived from a superseded snapshot; re-run the merge against " +
              "the current snapshot (staged files are unreferenced and " +
              "vacuum-swept)")
        // the ConcurrentAppend hazard: a winner-added file that could hold
        // one of this merge's keys invalidates the no-match evidence behind
        // every insert (and could hide a row a matched update should have
        // replaced). The winner's own zone maps decide "could hold".
        val winnerAdded = s.lines.filterNot(baseLines)
        val risky = envelope match {
          case Some(env) => pruneLines(winnerAdded, s.statsCols, Seq(env))
          case None => winnerAdded.map(_.path)
        }
        if (risky.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"merge of batch $batchId under $root lost its publish race to " +
              s"a writer that added file(s) which may hold merge keys " +
              s"(${risky.take(3).mkString(", ")}${if (risky.size > 3) ", …" else ""}) " +
              "— the match/no-match split was derived from a superseded " +
              "snapshot; re-run the merge (register the merge key as a " +
              "zone-map column to let key-disjoint ingests compose)")
        val carried =
          s.lines.filterNot(l => touchedRewriteNames.exists(l.under))
        Publish("merge", batchId, s.statsCols,
          Some(Header.encodeSchema(mergedSchemaFor(s))), carried ++ myLines,
          _ => Some(stats), opKey = keyCols)
      }
    }
  }

  final case class DeleteStats(
      partitionsRewritten: Int, partitionsEmptied: Int, rowsDeleted: Long,
      filesScanned: Int, filesTotal: Int)


  /** ROW-LEVEL DELETE — the takedown path (DMCA, GDPR, opt-out lists:
    * routine in corpus curation, and the one rewrite shape U1–U8 lacked):
    * remove every row whose `keyCol` appears in `keys`, publishing the
    * result as a new manifest version in one atomic rename.
    *
    *  - Only partitions that actually CONTAIN matching rows are rewritten
    *    (detected by one broadcast semi-join over the current snapshot);
    *    untouched partitions carry their files — and zone maps — forward.
    *  - A partition whose every row is deleted is DECLARED touched, so its
    *    stale lines drop even though no replacement file lands (the same
    *    machinery bucketed-state commits use).
    *  - Snapshot isolation + time travel: pre-delete versions read back
    *    exactly as committed until [[vacuum]] retires them — which is also
    *    the REAL deletion point for the bytes; a takedown that must purge
    *    physically is deleteRows + vacuum(keepVersions = 1).
    *  - The ingest FENCE is preserved (same batch id, like [[optimize]]):
    *    a delete is not an ingest, and a redelivered ingest batch must
    *    still no-op after it. Re-running the same delete is a no-op by
    *    value (no matching rows remain → None).
    *
    * `keys` broadcasts only under [[keyBroadcastLimit]] — a delete list
    * that outgrows the takedown contract switches detection and the
    * survivor rewrite to shuffle joins (value-identical, spec-pinned)
    * instead of OOMing the driver. Returns None when no row matches.
    *
    * Detection is TWO-STAGE and path-faithful:
    *  - when `keyCol` is a registered zone-map column, only files whose
    *    recorded [min, max] intersects the takedown keys' envelope are
    *    scanned at all ([[prunedFilesMulti]] — the detection scan opens a
    *    fraction of the snapshot, spec-pinned via `filesScanned`);
    *  - touched partitions are read as STRING-typed directory values and
    *    re-escaped with the same Hive path escaping Spark's partitioned
    *    write uses — an exact round-trip for every partitionBy-written
    *    directory (this table format writes no other kind), so a value
    *    like `a=b` (dir `part=a%3Db`) or `007` can never diverge from the
    *    manifest's own spelling (partition-type inference would rewrite
    *    `part=007` as `part=7` and orphan the original lines; matching on
    *    raw values would miss every escaped directory).
    *
    * MULTI-WRITER safe like [[commit]]: the loser of the publish race
    * re-derives its carried lines against the winner unless the winner
    * modified one of the TOUCHED partitions (the delete rewrote all their
    * rows, so any change is a lost update → loud
    * `ConcurrentModificationException`).
    */
  def deleteRows(
      spark: SparkSession,
      root: String,
      keys: DataFrame,
      keyCol: String,
      beforePublish: () => Unit = NoHook): Option[DeleteStats] = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    val st = head(spark, root)
    require(st.version >= 0, s"no committed version under $root")
    if (st.lines.isEmpty) return None // zero-file snapshot: nothing to delete
    require(dvState(spark, root).isEmpty,
      s"deferred deletes pending under $root — the copy-on-write rewrite " +
        "reads raw files and would resurrect masked rows into fresh " +
        "files; run optimize (the purge point) first")
    val allRels = st.paths
    val pcs = partColsOf(allRels.head) // every level of the layout
    val ks = keys.select(col(keyCol)).distinct().localCheckpoint(true)
    val nKeys = ks.count()
    // zone-envelope + bloom pruned detection (shared with merge and the
    // optimize purge): the key ENVELOPE bounds every file that can hold
    // a matching row; the per-file bloom (U16) narrows the scatter case
    val cands = keyCandidateFiles(spark, root, st, ks, keyCol)
    if (cands.isEmpty) return None
    // the rewrite-faithful read schema: recorded (or legacy-inferred) data
    // columns plus every partition level as a STRING
    val dataSchema = recordedOrInferredSchema(spark, root, st).get
    val readSchema = org.apache.spark.sql.types.StructType(
      dataSchema.fields.toSeq ++ pcs.map(pc =>
        org.apache.spark.sql.types.StructField(pc,
          org.apache.spark.sql.types.StringType, nullable = true)))
    def readFiles(rels: Seq[String]): DataFrame =
      spark.read.schema(readSchema).option("basePath", root)
        .parquet(rels.map(r => s"$root/$r"): _*)
    // DETECTION: LEAF partitions holding matching rows, re-rendered into
    // their canonical directory spelling (see scaladoc)
    val matchedRows = readFiles(cands)
      .join(hintedKeys(spark, ks, nKeys), Seq(keyCol), "left_semi")
      .select(pcs.map(col): _*).distinct()
      .collect()
    if (matchedRows.isEmpty) return None
    val touchedNames = matchedRows.toSeq.map { r =>
      require(!pcs.indices.exists(r.isNullAt),
        s"takedown keys matched rows in the default partition " +
          s"(__HIVE_DEFAULT_PARTITION__) under $root — its value does not " +
          "round-trip through a rewrite; rewrite that partition explicitly")
      leafNameOf(pcs, pcs.indices.map(r.getString))
    }.distinct.sorted
    val touchedRels = allRels.filter(r => touchedNames.contains(leafDirOf(r)))
    // rows in the touched partitions BEFORE the rewrite, from the
    // manifest's own file meta (footer read only for pre-meta carried
    // lines). An Observation on the survivor write is NOT reliable here:
    // when the anti-join empties the rewrite, AQE's empty-relation
    // propagation elides the CollectMetrics node below the staged write's
    // rebalance exchange and the metric never fires (reproduced — a
    // takedown emptying all touched partitions crashed on `obs.get`).
    val nIn = st.lines
      .filter(l => touchedNames.contains(leafDirOf(l.path)))
      .map(l => l.meta.map(_._2).getOrElse(
        footerRowCount(spark, new Path(rootPath, l.path))))
      .sum
    // survivors of the touched partitions only (anti-join); the write
    // re-derives the partition dirs it came from
    val survivors = readFiles(touchedRels)
      .join(hintedKeys(spark, ks, nKeys), Seq(keyCol), "left_anti")
    val (stagedParts, newFiles) =
      stageDataFiles(f, rootPath, survivors, pcs, st.version + 1)
    val myLines = newFiles.map(dataFileLine(spark, rootPath, _, st.statsCols))
    publishRetrying(spark, root, st, beforePublish) { s =>
      val conflicted = changedPartitions(st, s, touchedNames)
      if (conflicted.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"deleteRows under $root lost its publish race to a writer that " +
            s"modified touched partition(s) ${conflicted.mkString(", ")} — " +
            "the survivor rewrite was derived from a superseded snapshot; " +
            "re-run the delete against the current snapshot (staged files " +
            "are unreferenced and vacuum-swept)")
      val carried = s.lines.filterNot(l => touchedNames.exists(l.under))
      // SAME batch id as the winning state: a delete must neither advance
      // nor regress the ingest fence
      Publish("delete", s.batch, s.statsCols, s.header.schemaB64,
        carried ++ myLines, _ => {
          // the survivors' rows, from the `%#bytes:rows` meta that
          // dataFileLine read off the new files' footers
          val nKept = myLines.map(_.meta.get._2).sum
          Some(DeleteStats(
            partitionsRewritten = stagedParts.size,
            partitionsEmptied = touchedNames.diff(stagedParts).size,
            rowsDeleted = nIn - nKept,
            filesScanned = cands.size,
            filesTotal = allRels.size))
        }, opKey = Seq(keyCol))
    }
  }

  final case class FsckReport(
      version: Long,
      filesLive: Int,
      missingFiles: Seq[String],
      orphanDataFiles: Seq[String],
      badStatLines: Seq[String],
      statViolations: Seq[String],
      schemaUnreadable: Boolean,
      bloomCoverage: Map[String, (Int, Int)],
      deferredDeleteKeys: Map[String, Long]) {
    /** True iff no CORRUPTION was found. Orphan data files are vacuum
      * debris (normal after a crashed or lost-race writer), and partial
      * bloom coverage is advisory — neither fails the check.
      */
    def ok: Boolean = missingFiles.isEmpty && badStatLines.isEmpty &&
      statViolations.isEmpty && !schemaUnreadable
  }

  /** Table INTEGRITY CHECK — the `fsck` every table format ships, for
    * the operational question "can I trust this table?" after a crash,
    * a migration, or a by-hand intervention. Verifies, against the
    * CURRENT version:
    *
    *  - every manifest line's data file physically exists
    *    (`missingFiles` — a reader would throw mid-scan);
    *  - every zone-map suffix parses under the registered columns and
    *    holds min ≤ max (`badStatLines`);
    *  - every recorded [min, max] CONTAINS the file's parquet-footer
    *    interval (`statViolations` — the dangerous corruption: a
    *    too-narrow recorded interval makes pruning skip a file that
    *    holds matching rows, i.e. silently wrong answers);
    *  - the recorded schema deserializes (`schemaUnreadable`);
    *  - per bloom-sidecar column, how many live files are indexed
    *    (`bloomCoverage`: indexed → live; advisory — unindexed files
    *    are kept conservatively by probes);
    *  - pending deferred-delete key counts per column
    *    (`deferredDeleteKeys` — masked but not yet purged; the next
    *    [[optimize]] is the purge).
    *
    * `orphanDataFiles` lists physical parquet under partition dirs that
    * no RETAINED manifest references — vacuum debris, reported so an
    * operator can see reclaimable bytes, never a failure.
    *
    * Cost: one manifest read per retained version (driver-side), one
    * partition-dir listing, and one FOOTER read per live stats-bearing
    * file (metadata-only — no data scan anywhere).
    */
  def fsck(spark: SparkSession, root: String): FsckReport = {
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    val v = currentVersion(spark, root)
    require(v >= 0, s"no committed version under $root")
    val st = try readSnapshot(spark, root, v) catch {
      case _: Exception =>
        // the current header itself doesn't parse (schemaB64 / statsCols
        // corruption): nothing below it can be trusted — report and stop
        return FsckReport(v, 0, Nil, Nil, Nil, Nil,
          schemaUnreadable = true, Map.empty, Map.empty)
    }
    val schemaUnreadable = false
    val live = st.paths
    val missing = live.filterNot(r => f.exists(new Path(rootPath, r)))
    val badStats = scala.collection.mutable.ListBuffer[String]()
    // every file ANY retained manifest references (time travel must keep
    // working, so only files outside all of them are orphans). A corrupt
    // RETAINED header is reported (its files then surface as orphans —
    // advisory), never thrown.
    val retained: Set[String] = (0L to v).flatMap { rv =>
      if (!f.exists(new Path(manifestDir(root), s"v$rv.json"))) Nil
      else try readManifest(spark, root, rv)._1 catch {
        case _: Exception => badStats += s"_manifest/v$rv.json"; Nil
      }
    }.toSet
    val orphans = scala.collection.mutable.ListBuffer[String]()
    for ((rel, df0) <- walkPartitionFiles(f, rootPath)
         if df0.getPath.getName.endsWith(".parquet") &&
           !retained.contains(rel))
      orphans += rel
    val statViol = scala.collection.mutable.ListBuffer[String]()
    // recorded file meta must match the physical file exactly — a drifted
    // byte length or row count would corrupt scan planning (bin packing,
    // estimateStatistics, bloom tiers) silently
    for (l <- st.lines; (len, rows) <- l.meta) {
      val rel = l.path
      if (!missing.contains(rel)) {
        val p = new Path(rootPath, rel)
        if (f.getFileStatus(p).getLen != len) statViol += s"$rel[%#bytes]"
        else if (footerRowCount(spark, p) != rows) statViol += s"$rel[%#rows]"
      }
    }
    if (st.statsCols.nonEmpty) for (l <- st.lines if l.stats.nonEmpty) {
      // the writers' legal shapes: the line parse drops TRAILING empty
      // fields ('rel|mn|mx||' reads back one pair) and pre-migration
      // lines carry stats for a PREFIX of the registered columns — both
      // read as empty pairs exactly as pruneLines reads them. Malformed =
      // longer than the registration allows, or a dangling half pair.
      val rel = l.path
      if (l.stats.length > 2 * st.statsCols.length ||
        l.stats.length % 2 == 1) badStats += rel
      else {
        val recorded = st.statsCols.zipWithIndex.map { case ((c, t), i) =>
          val (mn, mx) = l.bounds(i)
          (c, t, mn, mx)
        }
        val parseOk = recorded.forall { case (_, t, mn, mx) =>
          (mn.isEmpty && mx.isEmpty) || ((mn.nonEmpty && mx.nonEmpty) &&
            (try {
              t match {
                case "long" => mn.toLong <= mx.toLong
                case _ => cmpUnsigned(decStat(mn), decStat(mx)) <= 0
              }
            } catch { case _: Exception => false }))
        }
        if (!parseOk) badStats += rel
        else if (!missing.contains(rel)) {
          // the recorded interval must CONTAIN the footer's
          val actual =
            footerStatsAll(spark, new Path(rootPath, rel), st.statsCols)
          recorded.zip(actual).foreach {
            case ((c, t, mn, mx), Some((amn, amx))) if mn.nonEmpty =>
              val contained = t match {
                case "long" =>
                  mn.toLong <= amn.toLong && amx.toLong <= mx.toLong
                case _ =>
                  cmpUnsigned(decStat(mn), decStat(amn)) <= 0 &&
                    cmpUnsigned(decStat(amx), decStat(mx)) <= 0
              }
              if (!contained) statViol += s"$rel[$c]"
            case _ => () // no footer stats or no recorded stats: nothing to cross-check
          }
        }
      }
    }
    val bloomBase = new Path(root, "_bloom")
    val coverage: Map[String, (Int, Int)] =
      if (!f.exists(bloomBase)) Map.empty
      else f.listStatus(bloomBase).filter(_.isDirectory)
        .flatMap { d =>
          val name = d.getPath.getName
          if (!name.startsWith("col=")) None
          else {
            val colName = org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.unescapePathName(name.drop(4))
            val indexed = spark.read.parquet(d.getPath.toString)
              .select("file").distinct().collect().map(_.getString(0)).toSet
            Some(colName -> (live.count(indexed.contains), live.size))
          }
        }.toMap
    FsckReport(v, live.size, missing, orphans.toList, badStats.toList,
      statViol.toList, schemaUnreadable, coverage,
      pendingDeferredDeletes(spark, root))
  }

  /** Physical deletion of data files no RETAINED version needs: "live" is
    * the UNION of the file lists of every manifest inside the retention
    * window (versions > v - keepVersions), not just the newest one — time
    * travel back to any retained version must keep working after a vacuum,
    * so a file is only dead once no retained snapshot references it.
    * Also sweeps crashed-commit `_stage-v*` staging dirs (a crash between
    * the staged write and its cleanup strands one; nothing else deletes
    * it) plus manifests older than the latest `keepVersions`. Grace-gated
    * like [[Vacuum]] — a file younger than `graceMs` may belong to an
    * in-flight commit.
    */
  def vacuum(
      spark: SparkSession,
      root: String,
      keepVersions: Int = 1,
      graceMs: Long = 0L): Long = {
    require(keepVersions >= 1, "must keep at least the current version")
    val rootPath = new Path(root)
    val f = fs(spark, rootPath)
    val v = currentVersion(spark, root)
    if (v < 0) return 0L
    val retainedVersions = (math.max(0L, v - keepVersions + 1) to v)
      .filter(rv => f.exists(new Path(manifestDir(root), s"v$rv.json")))
    val live: Set[String] =
      retainedVersions.flatMap(rv => readManifest(spark, root, rv)._1).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    var deleted = 0L
    for ((rel, df0) <- walkPartitionFiles(f, rootPath)
         if !live.contains(rel) && df0.getModificationTime <= cutoff) {
      f.delete(df0.getPath, false); deleted += 1
    }
    // crashed-commit staging debris: `_stage-v<N>` survives only if the
    // writer died between its parquet write and the post-move cleanup —
    // by then every file the commit published has been renamed OUT of it,
    // so an age-gated recursive delete can never touch live data
    for (d <- f.listStatus(rootPath)
         if d.isDirectory && (d.getPath.getName.startsWith("_stage-") ||
           d.getPath.getName.startsWith("_bloom_tmp-")) &&
           d.getModificationTime <= cutoff) {
      f.delete(d.getPath, true); deleted += 1
    }
    // expired manifests (never the newest keepVersions), plus tmp files a
    // publisher left behind by crashing between its tmp write and the
    // rename (a LOST race deletes its own tmp; only a crash strands one)
    val mDir = manifestDir(root)
    for (m <- f.listStatus(mDir)) m.getPath.getName match {
      case VersionRe(n) if n.toLong <= v - keepVersions &&
        m.getModificationTime <= cutoff =>
        f.delete(m.getPath, false); deleted += 1
      case tmpName if tmpName.startsWith(".v") && tmpName.endsWith(".tmp") &&
        m.getModificationTime <= cutoff =>
        f.delete(m.getPath, false); deleted += 1
      case _ => ()
    }
    deleted
  }
}
