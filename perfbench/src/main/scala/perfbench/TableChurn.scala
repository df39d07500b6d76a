package perfbench

import graft.core.ManifestTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** One long-lived `ManifestTable` under a stream of small mutations with
  * reads in between: appends (`commit` of a new partition), keyed `merge`
  * upserts of the two latest appends' keys (their new keys land in an
  * inbox partition that only grows by appended files), `deleteRows`
  * takedowns over four base partitions, periodic
  * `optimize`, `readPruned` point ranges and full-snapshot aggregates over
  * `read`. Every answer is checked against the benchmark's own key → value
  * model, and the final snapshot must equal the model exactly.
  *
  * Size: a 20k-row base in 16 key-range partitions with a zone map on the
  * key. The data stays small on purpose: the commit protocol, manifest
  * replay and zone-map pruning dominate, and the version count grows by one
  * per write, so costs that scale with table age show within a run. A merge
  * costs about 1.1-1.4 s warm on 4 cores whatever its size; one 12-operation
  * cycle takes about 5 s, and an 8 s run makes two cycles (200 operations
  * per run would take about 80 s).
  */
final class TableChurn(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  private val BaseRows = 20000
  private val BaseParts = 16
  private val AppendRows = 500
  private val MergeRows = 300
  private val DeleteRows = 40
  private val RangeWidth = 1000L
  private val PartRows = BaseRows / BaseParts
  private val DeleteParts = 4
  /** Late-arriving rows a merge inserts land here; merges only append to
    * it, so its small files pile up until optimize folds them.
    */
  private val Inbox = "inbox"
  private val opsPerRun = math.max(12, math.round(seconds * 3.0).toInt)

  /** The fixed cycle of operation kinds; the seed only picks keys and values. */
  private val Cycle = Vector(
    "merge", "pruned", "append", "pruned", "full", "delete",
    "pruned", "merge", "pruned", "append", "optimize", "full")

  private val root = dir.resolve("table")

  private final case class Row(key: Long, value: Long, pad: String, part: String)

  // the model: key -> row, and a sorted key index for range answers
  private val model = mutable.HashMap.empty[Long, Row]
  private val sorted = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
  private var rnd: scala.util.Random = _
  private var nextKey = 0L
  private var batch = 0L
  private var appends = 0
  /** The two partitions written last by an append (base ones at first). */
  private var recentParts = List(f"p${BaseParts - 1}%02d", f"p${BaseParts - 2}%02d")

  private val scanRatios = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var filesIn = 0L
  private var filesOut = 0L
  private var writtenMb = 0.0

  private def pad(r: scala.util.Random): String =
    Iterator.continually(('a' + r.nextInt(26)).toChar).take(24).mkString

  private def put(r: Row): Unit = { model(r.key) = r; sorted.put(r.key, r.value) }
  private def drop(k: Long): Unit = { model.remove(k); sorted.remove(k) }

  private def frame(rows: Seq[Row]): DataFrame =
    rows.map(r => (r.key, r.value, r.pad, r.part)).toDF("key", "value", "pad", "part")

  private def baseRows(): Seq[Row] = {
    val r = new scala.util.Random(seed)
    (0 until BaseRows).map { i =>
      Row(i.toLong, r.nextInt(1000000).toLong, pad(r), f"p${i * BaseParts / BaseRows}%02d")
    }
  }

  def generate(): String = {
    val dg = new Digest
    baseRows().foreach(r => dg.add(s"${r.key},${r.value},${r.pad},${r.part}\n"))
    // the mutations are drawn while the pass runs, from a generator seeded
    // by this seed and the model's state, so the seed stands for them here
    dg.add(seed)
    dg.hex
  }

  def prepare(): Unit = {
    Util.deleteTree(root)
    model.clear()
    sorted.clear()
    val base = baseRows()
    base.foreach(put)
    ManifestTable.commit(spark, root.toString, frame(base), "part", batchId = 1L,
      statsCol = Some("key"))
    rnd = new scala.util.Random(seed * 31 + 7)
    nextKey = BaseRows.toLong
    batch = 1L
    appends = 0
    recentParts = List(f"p${BaseParts - 1}%02d", f"p${BaseParts - 2}%02d")
    scanRatios.clear()
    filesIn = 0L
    filesOut = 0L
    writtenMb = 0.0
  }

  /** `n` distinct live keys of the given partitions, drawn by the seed.
    * Every operation of a kind touches the same number of partitions
    * whatever the seed, so seeds change the content of the work, not its
    * shape.
    */
  private def keysIn(parts: Set[String], n: Int): Seq[Long] =
    rnd.shuffle(model.valuesIterator.filter(r => parts(r.part)).map(_.key).toVector.sorted).take(n)

  private def trackWrite(before: Long): Unit =
    if (tracer.enabled) writtenMb += math.max(0L, Util.dirBytes(root) - before) / 1048576.0

  private def ratio(name: String, scanned: Int, total: Int): Unit =
    if (tracer.enabled && total > 0)
      scanRatios.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += scanned.toDouble / total

  private def step(rec: Recorder, kind: String, i: Int): Unit = {
    val r = root.toString
    val before = if (tracer.enabled) Util.dirBytes(root) else 0L
    kind match {
      case "append" =>
        appends += 1
        val part = f"a$appends%04d"
        recentParts = List(part, recentParts.head)
        val rows = (0 until AppendRows).map(j =>
          Row(nextKey + j, rnd.nextInt(1000000).toLong, pad(rnd), part))
        val df = frame(rows)
        batch += 1
        val b = batch
        rec.op("write", kind)(tracer.span("core.commit", i)(
          ManifestTable.commit(spark, r, df, "part", batchId = b, statsCol = Some("key"))))
          .foreach { _ => rows.foreach(put); nextKey += AppendRows }
        trackWrite(before)

      case "merge" =>
        // corrections hit the freshest data: the two latest appends
        val keys = keysIn(recentParts.toSet, MergeRows * 9 / 10)
        val updates = keys.map(k => model(k).copy(value = rnd.nextInt(1000000).toLong,
          pad = pad(rnd))) ++
          (0 until MergeRows / 10).map(j => Row(nextKey + j, rnd.nextInt(1000000).toLong,
            pad(rnd), Inbox))
        val df = frame(updates)
        batch += 1
        val b = batch
        rec.op("write", kind)(tracer.span("core.merge", i)(
          ManifestTable.merge(spark, r, df, "key", batchId = b))).foreach { st =>
          rec.check(st.isDefined, "merge was fenced off")
          st.foreach { s =>
            rec.check(s.rowsUpdated == keys.size && s.rowsInserted == MergeRows / 10,
              s"merge updated ${s.rowsUpdated}/${keys.size}, inserted ${s.rowsInserted}")
            ratio("core.merge.files_scanned_ratio", s.filesScanned, s.filesTotal)
          }
          updates.foreach(put)
          nextKey += MergeRows / 10
        }
        trackWrite(before)

      case "delete" =>
        // a takedown list spread over a few base partitions
        val parts = rnd.shuffle((0 until BaseParts).toVector).take(DeleteParts).map(j => f"p$j%02d")
        val keys = parts.flatMap(p => keysIn(Set(p), DeleteRows / DeleteParts))
        val df = keys.toSeq.toDF("key")
        rec.op("write", kind)(tracer.span("core.deleteRows", i)(
          ManifestTable.deleteRows(spark, r, df, "key"))).foreach { st =>
          rec.check(st.exists(_.rowsDeleted == DeleteRows),
            s"deleteRows removed ${st.map(_.rowsDeleted)} rows, expected $DeleteRows")
          st.foreach(s => ratio("core.deleteRows.files_scanned_ratio", s.filesScanned, s.filesTotal))
          keys.foreach(drop)
        }
        trackWrite(before)

      case "optimize" =>
        rec.op("write", kind)(tracer.span("core.optimize", i)(
          ManifestTable.optimize(spark, r))).foreach { st =>
          filesIn += st.map(_.inputFiles).sum
          filesOut += st.map(_.outputFiles).sum
        }
        trackWrite(before)

      case "pruned" =>
        // a key range inside one base partition: pruning leaves one file
        val lo = rnd.nextInt(BaseParts) * PartRows + rnd.nextLong(PartRows - RangeWidth + 1)
        val hi = lo + RangeWidth - 1
        rec.op("read", kind)(tracer.span("core.readPruned", i)(
          ManifestTable.readPruned(spark, r, "key", lo, hi)
            .filter(col("key").between(lo, hi))
            .agg(count(lit(1)), sum("value")).head())).foreach { row =>
          val live = sorted.subMap(lo, true, hi, true).values()
          val n = live.size.toLong
          var s = 0L
          live.forEach(v => s += v)
          rec.check(row.getLong(0) == n && (n == 0 || row.getLong(1) == s),
            s"readPruned [$lo, $hi]: (${row.getLong(0)}, ${row.get(1)}) != ($n, $s)")
        }

      case "full" =>
        rec.op("read", kind)(tracer.span("core.read", i)(
          ManifestTable.read(spark, r).get.agg(count(lit(1)), sum("value")).head()))
          .foreach { row =>
            var s = 0L
            sorted.values().forEach(v => s += v)
            rec.check(row.getLong(0) == model.size && row.getLong(1) == s,
              s"read: (${row.getLong(0)}, ${row.getLong(1)}) != (${model.size}, $s)")
          }
    }
  }

  /** One full cycle: first calls run up to 3x slower, and the second call
    * of a kind is still slower than later ones.
    */
  def warmUp(rec: Recorder): Unit = Cycle.foreach(k => step(rec, k, -1))

  def run(rec: Recorder): Unit =
    (0 until opsPerRun).foreach(i => step(rec, Cycle(i % Cycle.size), i))

  def verify(rec: Recorder): Unit = {
    val got = ManifestTable.read(spark, root.toString).get
      .select("key", "value", "pad", "part").collect()
    val same = got.length == model.size && got.forall { g =>
      model.get(g.getLong(0)).contains(Row(g.getLong(0), g.getLong(1), g.getString(2), g.getString(3)))
    }
    rec.check(same, s"final snapshot (${got.length} rows) differs from the model (${model.size} rows)")
    val fsck = ManifestTable.fsck(spark, root.toString)
    rec.check(fsck.ok, s"fsck: $fsck")
  }

  def detail(rec: Recorder): Seq[(String, Double, String)] = {
    def q(k: String, p: Double) = { val xs = rec.latencies(k); if (xs.isEmpty) 0.0 else Util.quantile(xs, p) }
    // the final snapshot written once as plain parquet is the space baseline
    val plain = dir.resolve("plain")
    ManifestTable.read(spark, root.toString).get.write.parquet(plain.toString)
    val amp = Util.dirBytes(root).toDouble / Util.dirBytes(plain)
    Util.deleteTree(plain)
    Seq(("table_churn.write_p50_ms", q("write", 0.5), "ms"),
      ("table_churn.write_p90_ms", q("write", 0.9), "ms"),
      ("table_churn.read_p50_ms", q("read", 0.5), "ms"),
      ("table_churn.read_p90_ms", q("read", 0.9), "ms"),
      ("table_churn.space_amp", amp, "ratio"))
  }

  override def layerCounts(): Seq[(String, Double, String)] = {
    val v = ManifestTable.currentVersion(spark, root.toString)
    val manifest = root.resolve("_manifest").resolve(s"v$v.json")
    scanRatios.toSeq.map { case (n, xs) => (n, xs.sum / xs.size, "ratio") } ++ Seq(
      ("core.optimize.files_in", filesIn.toDouble, "count"),
      ("core.optimize.files_out", filesOut.toDouble, "count"),
      ("core.live_files", ManifestTable.readManifest(spark, root.toString, v)._1.size.toDouble, "count"),
      ("core.manifest_kb", Files.size(manifest) / 1024.0, "KB"),
      ("core.bytes_written_mb", writtenMb, "MB"))
  }
}
