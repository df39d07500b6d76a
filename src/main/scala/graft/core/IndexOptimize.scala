package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.{Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** OPTIMIZE for the streamed index artifacts — the operational companion of
  * the `batch=<id>` absorb fence ([[graft.operators.VectorIndex.absorb]],
  * [[graft.operators.Dedup.appendToIndex]],
  * [[graft.operators.Retrieval.absorbTextIndex]],
  * [[graft.operators.TextAnalysis.absorbHeavyHitters]]).
  *
  * Each absorb lands one hive partition per ingest micro-batch, which is
  * exactly right for exactly-once retries but accumulates UNBOUNDEDLY: after
  * 10⁴ micro-batches every search lists 10⁴ directories and schedules 10⁴
  * footer reads before a byte of useful work — the small-file death every
  * streamed table format (Delta/Iceberg OPTIMIZE, Hudi compaction) exists to
  * prevent. All four artifacts' relations are row-level append-only (search
  * semantics depend only on the UNION of rows, never on which batch a row
  * arrived in — spec-pinned per artifact), so compaction is pure physical
  * re-layout: fold every `batch=*` partition of a relation into one
  * consolidated `batch=__opt__` partition at ~targetBytes per file.
  *
  * Retry contract across the fold: a batch id whose rows were folded no
  * longer has its own partition, so a late retried absorb (crash between
  * absorb and the stream checkpoint commit) would RE-ADD its rows as a fresh
  * partition and silently duplicate the index. The marker file
  * `_folded_batches` at the artifact root (one id per line, written
  * atomically BEFORE any partition is rewritten) closes that hole: absorb
  * implementations run under [[absorbBatch]] and no-op on a folded id — correct
  * in every crash ordering, because the marker is written only when the
  * batch's rows are durably present (either still in their own partition or
  * already consolidated).
  *
  * Crash windows, argued in write order:
  *  - after marker, before rewrite: batch dirs intact, marker says folded —
  *    absorb no-ops are still correct (rows present); the next optimize
  *    finishes the fold.
  *  - between the two directory renames of the swap: the relation dir is
  *    briefly absent — a concurrent reader fails LOUDLY (no silent partial
  *    result) and the complete consolidated data sits in `<rel>__optnext`
  *    for manual recovery. On a cluster this window is closed by a manifest
  *    commit ([[ManifestTable]]); for the directory-swap artifact layout two
  *    atomic renames with loud failure is the honest equivalent.
  *
  * Every filesystem operation goes through the Hadoop FileSystem API, so
  * the artifacts may live on any Hadoop filesystem (HDFS, object stores
  * with rename support) — a `java.io.File` listing would silently return
  * nothing there and report "already compact" forever, the silent-
  * degradation failure mode the engine's Hadoop-FS rule exists to prevent
  * ([[graft.operators.ClusterIndex]]'s index probe documents the same
  * rule one layer up).
  *
  * MUST run from the same maintenance loop that runs absorbs (e.g. after
  * the absorb inside `foreachBatch`) or at a quiet point — folding a
  * PARTIALLY-written batch of an in-flight absorb would mark it folded and
  * lose its retry. The streamed replay paths in [[graft.streaming
  * .EventsStream]] satisfy this by construction (one writer, serial
  * micro-batches).
  */
object IndexOptimize {

  final case class RelOptStats(
      rel: String,
      inputBatches: Int,
      inputFiles: Int,
      outputFiles: Int,
      rows: Long)

  /** Partition value of the consolidated batch. Reserved: absorb callers
    * must never use it as an ingest batch id.
    */
  val FoldedPartition = "__opt__"

  private val MarkerName = "_folded_batches"

  /** Hadoop configuration for artifact roots addressed by plain string
    * path (the absorb-fence probes have no SparkSession parameter): the
    * active/default session's configuration, falling back to defaults —
    * every engine entry point runs inside a session, so the fallback only
    * serves bare unit contexts.
    */
  private def hconf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def fsFor(p: Path): FileSystem = p.getFileSystem(hconf)

  /** Batch ids whose rows have been folded into the consolidated partition
    * (empty set when the artifact has never been optimized). Underscore
    * prefix keeps the marker invisible to Spark's file listing.
    */
  def foldedBatches(root: String): Set[String] = {
    val p = new Path(root, MarkerName)
    val f = fsFor(p)
    if (!f.exists(p) || !f.getFileStatus(p).isFile) Set.empty
    else {
      val in = f.open(p)
      val text =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSet
    }
  }

  /** The absorb-side fence: true iff `batchId`'s rows are already present
    * in the consolidated partition, so a retried absorb must no-op.
    */
  def isFolded(root: String, batchId: String): Boolean =
    foldedBatches(root).contains(batchId)

  /** The absorb fence every streamed artifact runs its batch write under:
    * refuses an empty or reserved `batchId`; no-ops (one stderr line) on a
    * batch a fold has taken in — its rows live in the consolidated
    * partition, and re-absorbing would duplicate them (or, for heavy
    * hitters, re-grow the layout the fold just collapsed); otherwise runs
    * `write` (one `batch=<id>` partition per relation, mode Overwrite) and
    * drops the session's cached listing of each `root/rel`, so a retried
    * absorb's replaced part files are what same-session readers see.
    */
  def absorbBatch(spark: SparkSession, root: String, batchId: String,
      rels: Seq[String])(write: => Unit): Unit = {
    require(batchId.nonEmpty, "batchId must be a non-empty ingest-batch name")
    require(batchId != FoldedPartition,
      s"batch id '$batchId' is reserved for the consolidated OPTIMIZE partition")
    if (isFolded(root, batchId)) {
      System.err.println(s"[index-optimize] batch=$batchId already folded " +
        s"into $root — absorb is a no-op")
    } else {
      write
      rels.foreach(rel => spark.catalog.refreshByPath(s"$root/$rel"))
    }
  }

  private def writeMarker(root: String, ids: Set[String]): Unit = {
    val rootPath = new Path(root)
    val f = fsFor(rootPath)
    require(f.exists(rootPath) && f.getFileStatus(rootPath).isDirectory,
      s"artifact root $root is not a directory")
    val tmp = new Path(rootPath,
      s".$MarkerName-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    try out.write(
      ids.toSeq.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // atomic replace: the marker may already exist (second fold) — the
    // OVERWRITE rename is posix-atomic locally and atomic on HDFS
    val fc = FileContext.getFileContext(f.getUri, hconf)
    fc.rename(f.makeQualified(tmp),
      f.makeQualified(new Path(rootPath, MarkerName)),
      Options.Rename.OVERWRITE)
  }

  private def listDir(f: FileSystem, dir: Path): Seq[FileStatus] =
    if (!f.exists(dir)) Seq.empty else f.listStatus(dir).toSeq

  private def batchDirs(f: FileSystem, relDir: Path): Seq[FileStatus] =
    listDir(f, relDir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))

  private def partFiles(f: FileSystem, dir: Path): Seq[FileStatus] =
    listDir(f, dir)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))

  private def rename(f: FileSystem, src: Path, dst: Path): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"could not rename $src -> $dst")

  /** Recovery for the documented mid-swap crash window: a crash between
    * the two renames leaves the relation directory ABSENT while its
    * complete consolidated data sits in `<rel>__optnext` (and possibly the
    * superseded tree in `<rel>__optold`). Readers fail loudly in that
    * state; this call finishes the swap — promote `__optnext` to the live
    * name, drop `__optold` — and is a no-op for healthy relations.
    * Returns the relations it repaired. Run it before serving an artifact
    * whose optimize may have crashed; [[optimize]] itself also calls it,
    * so the next maintenance cycle self-heals.
    */
  def recover(spark: SparkSession, root: String, rels: Seq[String]): Seq[String] = {
    val rootPath = new Path(root)
    val f = fsFor(rootPath)
    rels.flatMap { rel =>
      val live = new Path(rootPath, rel)
      val next = new Path(rootPath, rel + "__optnext")
      val old = new Path(rootPath, rel + "__optold")
      val liveDir = f.exists(live) && f.getFileStatus(live).isDirectory
      val nextDir = f.exists(next) && f.getFileStatus(next).isDirectory
      if (!liveDir && nextDir) {
        rename(f, next, live)
        f.delete(old, true)
        spark.catalog.refreshByPath(live.toString)
        Some(rel)
      } else {
        // healthy live dir: a stale __optold is a crashed cleanup — sweep
        if (liveDir) f.delete(old, true)
        None
      }
    }
  }

  /** Fold every multi-partition relation of the artifact at `root` into one
    * consolidated `batch=__opt__` partition per relation, sized at
    * ~`targetBytes` per output file ([[Compaction]]'s sizing). Relations
    * with ≤ 1 batch partition are already compact and skipped; returns one
    * [[RelOptStats]] per relation actually rewritten (empty = no-op).
    * Value-identity (search over folded ≡ search over unfolded) is pinned
    * per artifact in IndexOptimizeSpec; row counts are verified from the
    * same execution via Observation.
    *
    * DELETE ABSORB: when `tombstoneIdCol` is set and the artifact carries
    * [[Tombstones]], the fold's consolidation pass drops tombstoned rows
    * (anti-join on that column inside the same distributed read) and the
    * tombstone list is cleared once EVERY relation has been rewritten —
    * so deleted rows leave disk at the same moment their mask becomes
    * redundant. With pending tombstones even single-partition relations
    * fold (skipping one would resurrect its deleted rows the moment the
    * list cleared). A crash between the rewrites and the clear is safe:
    * the mask stays, reads stay filtered, the next fold clears it.
    * Artifacts whose delete pairs the mask with a FENCED rewrite must
    * check redemption before passing `tombstoneIdCol`
    * ([[graft.operators.HierarchicalIndex.optimize]]'s fence check).
    */
  def optimize(
      spark: SparkSession,
      root: String,
      rels: Seq[String],
      targetBytes: Long = Compaction.DefaultTargetBytes,
      tombstoneIdCol: Option[String] = None): Seq[RelOptStats] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val rootPath = new Path(root)
    val f = fsFor(rootPath)
    recover(spark, root, rels) // self-heal a crashed prior swap first
    val tomb = tombstoneIdCol.flatMap(c =>
      Tombstones.read(spark, root).map(ts => (c, ts.localCheckpoint(true))))
    val toFold = rels
      .map(r => r -> batchDirs(f, new Path(rootPath, r)))
      .filter { case (_, dirs) =>
        if (tomb.isDefined) dirs.nonEmpty else dirs.size > 1
      }
    if (toFold.isEmpty) {
      // nothing on disk at all: a pending tombstone list masks nothing
      if (tomb.isDefined) Tombstones.clear(spark, root)
      return Nil
    }
    // marker FIRST (see the crash-ordering argument in the object doc):
    // the ids about to lose their partitions, folded into the running set
    val ids = toFold.flatMap(_._2)
      .map(_.getPath.getName.stripPrefix("batch="))
      .filter(_ != FoldedPartition).toSet
    writeMarker(root, foldedBatches(root) ++ ids)
    val stats = toFold.map { case (rel, dirs) =>
      val relDir = new Path(rootPath, rel)
      val files = dirs.flatMap(d => partFiles(f, d.getPath))
      val bytes = files.map(_.getLen).sum
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val next = new Path(rootPath, rel + "__optnext")
      f.delete(next, true) // stale leftovers of a crashed prior run
      val obs = Observation()
      // one distributed pass: read the union, drop tombstoned rows (the
      // delete absorb — same pass, no extra scan), round-robin to the
      // sized file count (the Compaction rationale — even layout is the
      // point), write under the consolidated partition of a SIBLING
      // staging dir so in-flight readers of the live relation never see a
      // half layout
      val union = spark.read.parquet(relDir.toString).drop("batch")
      val live = tomb match {
        case Some((c, ts)) =>
          require(union.columns.contains(c),
            s"tombstone id column '$c' absent from relation '$rel' — " +
              "every folded relation must carry it")
          union.join(
            org.apache.spark.sql.functions.broadcast(ts),
            union(c) === ts("id"), "left_anti")
        case None => union
      }
      live
        .observe(obs, count(lit(1)).as("rows"))
        .repartition(nOut)
        .write.mode(SaveMode.Overwrite)
        .parquet(new Path(next, s"batch=$FoldedPartition").toString)
      val old = new Path(rootPath, rel + "__optold")
      f.delete(old, true)
      rename(f, relDir, old)
      rename(f, next, relDir)
      f.delete(old, true)
      spark.catalog.refreshByPath(relDir.toString)
      RelOptStats(
        rel = rel,
        inputBatches = dirs.size,
        inputFiles = files.size,
        outputFiles =
          partFiles(f, new Path(relDir, s"batch=$FoldedPartition")).size,
        rows = obs.get("rows").asInstanceOf[Long])
    }
    // every relation rewritten without the tombstoned rows — the mask is
    // redundant now; clearing LAST keeps every crash ordering correct
    if (tomb.isDefined) Tombstones.clear(spark, root)
    stats
  }
}
